package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted inverted-index lake ([[IndexLake]]). Pinned: the index
  * search is BIT-exact against the corpus-scan operator
  * ([[Retrieval.bm25TopK]]) — after the build, after a vintage append,
  * and after a takedown (the mutations keep N/avgdl/df/tf exact because
  * postings and doc-length rows commit atomically together); the
  * search reads only the query terms' buckets plus the doc-length
  * region (driver-side manifest skip); guards are loud.
  */
class IndexLakeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** small corpus with real term overlap: docs share words from a
    * closed vocabulary, so df/idf and tie-breaks are exercised.
    */
  private def corpus(lo: Long, hi: Long) = {
    val vocab = Vector("hash", "join", "scan", "sort", "dup", "agg",
      "window", "stream", "row", "col")
    (lo until hi).map { i =>
      val words = (0 until 8).map(j => vocab(((i * 3 + j * 5 + j * j) %
        vocab.size).toInt))
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private val qset = Seq(1L -> Seq("hash", "join"), 2L -> Seq("scan",
    "dup", "agg"))

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq

  test("index search == corpus scan through build, append, takedown") {
    val dir = Files.createTempDirectory("indexlake_").toString + "/index"
    val base = corpus(0, 40)
    IndexLake.writeIndexLake(base, "doc_id", "text", dir,
      nBuckets = 8): Unit
    assert(ranked(IndexLake.bm25TopKOverIndex(spark, dir, qset, 5)) ===
      ranked(Retrieval.bm25TopK(base, "doc_id", "text", qset, 5)))
    // vintage append: one atomic commit of postings + doc-lengths
    IndexLake.appendToIndexLake(corpus(40, 60), "doc_id", "text",
      dir): Unit
    assert(ranked(IndexLake.bm25TopKOverIndex(spark, dir, qset, 5)) ===
      ranked(Retrieval.bm25TopK(corpus(0, 60), "doc_id", "text",
        qset, 5)))
    // takedown: postings and doc-length rows leave together
    val (_, _, nRemoved) = IndexLake.deleteFromIndexLake(spark, dir,
      (0L until 60L by 3L).toDF("doc_id"))
    assert(nRemoved > 0L)
    val survivors = corpus(0, 60).filter(col("doc_id") % 3 =!= 0)
    assert(ranked(IndexLake.bm25TopKOverIndex(spark, dir, qset, 5)) ===
      ranked(Retrieval.bm25TopK(survivors, "doc_id", "text", qset, 5)))
    // and the doc-length region agrees with the surviving corpus
    val v = graft.sinks.VersionedLake.currentVersion(spark, dir)
    val doclens = graft.sinks.VersionedLake
      .readAsOfRange(spark, dir, v, -1L, -1L)
    assert(doclens.count() === survivors.count())
  }

  test("a many-postings takedown reports the rows and files it removed") {
    val dir = Files.createTempDirectory("indexlake_takedown_").toString +
      "/index"
    IndexLake.writeIndexLake(corpus(0, 300), "doc_id", "text", dir,
      nBuckets = 8): Unit
    IndexLake.appendToIndexLake(corpus(300, 400), "doc_id", "text",
      dir): Unit
    val erased = graft.sinks.VersionedLake.read(spark, dir)
      .where(col("doc_id") % 5 === 2)
      .select(col("_metadata.file_path").as("file"))
    val (rows, files) = (erased.count(), erased.distinct().count())
    assert(rows > 80L, s"only $rows rows for 80 documents")
    val (_, nf, nr) = IndexLake.deleteFromIndexLake(spark, dir,
      (0L until 400L by 5L).map(_ + 2L).toDF("doc_id"))
    assert((nf, nr) === ((files, rows)))
    assert(graft.sinks.VersionedLake.read(spark, dir)
      .where(col("doc_id") % 5 === 2).isEmpty)
  }

  test("search reads only the query terms' buckets + the doc-length region") {
    val dir = Files.createTempDirectory("indexlake_prune_").toString +
      "/index"
    IndexLake.writeIndexLake(corpus(0, 40), "doc_id", "text", dir,
      nBuckets = 8): Unit
    import graft.sinks.VersionedLake
    val v = VersionedLake.currentVersion(spark, dir)
    val total = VersionedLake.filesOf(spark, dir, v).size
    // one term hashes to one bucket: its range admits a strict subset
    val oneBucket = spark.range(1).select(
      pmod(hash(lit("hash")), lit(8)).cast("long")).collect()(0).getLong(0)
    val (kept, _) = VersionedLake.rangeFiles(spark, dir, v,
      oneBucket, oneBucket)
    assert(kept.nonEmpty && kept.size < total,
      s"bucket $oneBucket admitted ${kept.size}/$total files — no pruning")
    // the doc-length region is its own admitted subset too
    val (dlKept, _) = VersionedLake.rangeFiles(spark, dir, v, -1L, -1L)
    assert(dlKept.nonEmpty && dlKept.size < total)
  }

  test("guards: bad meta and empty queries are loud; absent terms score " +
      "nothing; double-build refused") {
    val dir = Files.createTempDirectory("indexlake_g_").toString + "/index"
    IndexLake.writeIndexLake(corpus(0, 10), "doc_id", "text", dir,
      nBuckets = 4): Unit
    intercept[IllegalArgumentException] {
      IndexLake.bm25TopKOverIndex(spark, dir, Seq.empty, 5)
    }
    // a query of only absent terms returns an empty ranking, not a crash
    assert(IndexLake.bm25TopKOverIndex(spark, dir,
      Seq(9L -> Seq("zzz_absent")), 5).count() === 0L)
    // building over an existing index would silently double every df/tf
    val ex = intercept[IllegalArgumentException] {
      IndexLake.writeIndexLake(corpus(0, 10), "doc_id", "text", dir,
        nBuckets = 4)
    }
    assert(ex.getMessage.contains("already exists"))
  }

  test("compactIndexLake: after 8 vintage appends a one-term query " +
      "admits <= 2 files, search bit-identical across the pass") {
    val dir = Files.createTempDirectory("indexlake_c_").toString + "/index"
    IndexLake.writeIndexLake(corpus(0, 20), "doc_id", "text", dir,
      nBuckets = 8): Unit
    // fragment with EIGHT vintage appends: each adds a file set per
    // bucket, so a one-term read now opens one file per vintage
    (0 until 8).foreach { i =>
      IndexLake.appendToIndexLake(corpus(20 + i * 10, 30 + i * 10),
        "doc_id", "text", dir): Unit
    }
    import graft.sinks.VersionedLake
    val before = ranked(IndexLake.bm25TopKOverIndex(spark, dir, qset, 5))
    val pre = VersionedLake.currentVersion(spark, dir)
    val nFilesPre = VersionedLake.filesOf(spark, dir, pre).size
    val b = spark.range(1).select(
      pmod(hash(lit("hash")), lit(8)).cast("long")).collect()(0).getLong(0)
    val (keptPre, _) = VersionedLake.rangeFiles(spark, dir, pre, b, b)
    assert(keptPre.size >= 8,
      s"8 vintages must fragment the bucket read (admitted ${keptPre.size})")
    // bucket-clustered compaction re-establishes the file-skip layout
    val post = IndexLake.compactIndexLake(spark, dir)
    assert(VersionedLake.filesOf(spark, dir, post).size < nFilesPre)
    assert(ranked(IndexLake.bm25TopKOverIndex(spark, dir, qset, 5)) ===
      before, "compaction changed search results")
    // the verdict-grade bound: a one-term query admits at most 2 files
    // after the pass, REGARDLESS of how many vintages preceded it
    val (kept, total) = VersionedLake.rangeFiles(spark, dir, post, b, b)
    assert(kept.nonEmpty && kept.size <= 2,
      s"one-term query admits ${kept.size}/$total files post-compaction")
  }

  test("null-text docs: index == scan stays bit-exact (avgdl divides " +
      "by the non-null doc count on both paths)") {
    val dir = Files.createTempDirectory("indexlake_n_").toString + "/index"
    // two null-text docs: they count into N (one doc-length row each,
    // dl NULL) but not into avgdl's denominator — the corpus scan's
    // avg(size(w)) semantics
    val base = corpus(0, 30).unionByName(
      Seq[(Long, String)]((100L, null), (101L, null)).toDF("doc_id", "text"))
    IndexLake.writeIndexLake(base, "doc_id", "text", dir,
      nBuckets = 8): Unit
    assert(ranked(IndexLake.bm25TopKOverIndex(spark, dir, qset, 5)) ===
      ranked(Retrieval.bm25TopK(base, "doc_id", "text", qset, 5)))
    // the doc-length region still carries one row per doc (N exact)
    import graft.sinks.VersionedLake
    val v = VersionedLake.currentVersion(spark, dir)
    assert(VersionedLake.readAsOfRange(spark, dir, v, -1L, -1L)
      .count() === base.count())
  }

  test("driver-side bucketOfTerm == Spark's pmod(hash(term), nb) for " +
      "every term shape (ASCII, unicode, empty, long)") {
    import spark.implicits._
    val terms = Seq("hash", "join", "dup", "window", "stream", "agg",
      "vector", "scan", "filter", "sort", "", "é中😀", "ÿ" * 100,
      "a b\tc", "%", "naïve", "Ωmega", "z" * 3000)
    for (nb <- Seq(1, 7, 16, 32, 1024)) {
      val sparkSide = terms.toDF("term")
        .select(col("term"),
          pmod(hash(col("term")), lit(nb)).cast("long").as("b"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      terms.foreach { t =>
        assert(IndexLake.bucketOfTerm(t, nb) === sparkSide(t),
          s"bucket mismatch for term '$t' nb=$nb")
      }
    }
  }

  test("missing meta dir: search and append fail with Spark's missing-path error") {
    val dir = Files.createTempDirectory("indexlake_nometa_").toString + "/index"
    IndexLake.writeIndexLake(corpus(0, 10), "doc_id", "text", dir,
      nBuckets = 4): Unit
    val meta = new java.io.File(dir, "_index_meta")
    org.apache.commons.io.FileUtils.deleteDirectory(meta)
    assert(!meta.exists())
    val onSearch = intercept[org.apache.spark.sql.AnalysisException] {
      IndexLake.bm25TopKOverIndex(spark, dir, qset, 5)
    }
    assert(onSearch.getCondition === "PATH_NOT_FOUND")
    assert(onSearch.getMessage.contains("_index_meta"))
    val onAppend = intercept[org.apache.spark.sql.AnalysisException] {
      IndexLake.appendToIndexLake(corpus(10, 12), "doc_id", "text", dir)
    }
    assert(onAppend.getCondition === "PATH_NOT_FOUND")
  }
}
