package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.functions.Text
import graft.sinks.VersionedLake

/** A PERSISTED inverted index as a versioned lake — the 100 TB form of
  * [[Retrieval.bm25TopK]]: the corpus-scan operator re-tokenizes the
  * whole corpus for every query batch, which at scale is the same
  * infeasibility the decontamination sketch (q173) exists to remove.
  * Here the corpus scans ONCE into term-bucketed postings, and every
  * later query batch reads only the buckets its terms hash to.
  *
  * Layout — ONE [[VersionedLake]] whose rows are either
  * {{{
  *   postings:  (bucket = hash(term) % nBuckets, term, doc_id, tf, dl)
  *   doc-length:(bucket = -1,       term = NULL, doc_id, 0,  dl)
  * }}}
  * with the lake's manifest statistics on `bucket` (rows are
  * bucket-clustered at write, so per-file (min, max) admit one or few
  * buckets) — a query's file pruning is the q178 driver-side skip, no
  * footer read. The doc-length region (`bucket = -1`) carries exactly
  * one row per document, so the global (N, avgdl) BM25 scalars are one
  * column-pruned scan of that region — never of the postings, never of
  * the corpus.
  *
  * Why one lake instead of postings + a stats sidecar: every mutation
  * is then ONE atomic commit. A vintage append commits its postings
  * AND its doc-length rows behind a single manifest rename; a takedown
  * is [[VersionedLake.commitDelete]] on `doc_id`, which removes a
  * document's postings and its doc-length row together (file-scoped,
  * prior versions intact). There is no crash window in which the
  * scoring scalars disagree with the postings — the failure mode a
  * separate stats file would reintroduce.
  *
  * Exactness: tf/dl/df are exact counts, N/avgdl derive from the
  * doc-length region (a long sum and count — no float accumulation),
  * and the scoring tail is [[Retrieval.scoreAndRank]] — the SAME
  * micro-rounded integer arithmetic as the corpus-scan operator, so
  * index search == corpus scan BIT-exactly through any append/takedown
  * history (q186 pins it under the driver oracle; the spec pins it
  * against [[Retrieval.bm25TopK]] directly).
  *
  * Contracts: documents are id-keyed and each vintage is applied once
  * (a re-appended doc would double its postings — same rule as every
  * incremental state here). Writer concurrency follows the lake
  * beneath: vintage APPENDS inherit [[VersionedLake.commitAppend]]'s
  * optimistic rebase-retry (two racing vintages both land), while
  * takedowns and compactions keep the loud single-writer rule.
  */
object IndexLake {

  private val MetaName = "_index_meta"
  private val DoclenBucket = -1L

  /** The lake's row schema — also the schemaHint for empty-region
    * reads.
    */
  private val rowSchema = StructType(Seq(
    StructField("bucket", LongType),
    StructField("term", StringType),
    StructField("doc_id", LongType),
    StructField("tf", LongType),
    StructField("dl", LongType)))

  /** Per-document (term, tf) pairs computed MAP-SIDE in one pass over
    * the token array — a document's tokens all sit in its own row, so
    * term frequencies need no shuffle at all. Replaces the previous
    * explode → groupBy(doc, dl, term) shape, whose aggregation was a
    * full shuffle of every (doc, term) occurrence (guide §2.4: one of
    * the build's two exchanges removed outright; the remaining one is
    * the bucket-clustering repartition the layout genuinely needs).
    * UTF8Strings are cloned out of the (possibly buffer-reused) input
    * before they outlive the call.
    */
  def termCounts(w: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = w.numElements()
    val m = new java.util.LinkedHashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
    var nullTf = 0L
    var i = 0
    while (i < n) {
      if (w.isNullAt(i)) nullTf += 1
      else {
        val t = w.getUTF8String(i)
        val c = m.get(t)
        if (c == null) m.put(t.clone(), Array(1L)): Unit
        else c(0) += 1L
      }
      i += 1
    }
    val out = new Array[Any](m.size + (if (nullTf > 0) 1 else 0))
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey, e.getValue()(0))
      j += 1
    }
    if (nullTf > 0)
      out(j) = org.apache.spark.sql.catalyst.InternalRow(null, nullTf)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val termCountType = org.apache.spark.sql.types.ArrayType(
    StructType(Seq(
      StructField("term", StringType),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)

  private def termCountsCol(w: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.CatalystBridge.column(
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        IndexLake.getClass,
        termCountType,
        "termCounts",
        Seq(graft.CatalystBridge.expression(w)),
        Seq(org.apache.spark.sql.types.ArrayType(StringType)),
        returnNullable = false))

  private def rows(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      Text.tokens(col(textCol)).as("w"))
    val postings = base
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(termCountsCol(col("w"))).as("tc"))
      .select(pmod(hash(col("tc.term")), lit(nBuckets)).cast("long")
          .as("bucket"),
        col("tc.term").as("term"), col("doc_id"),
        col("tc.tf").as("tf"), col("dl"))
    val doclens = base.select(lit(DoclenBucket).as("bucket"),
      lit(null).cast("string").as("term"), col("doc_id"),
      lit(0L).as("tf"), size(col("w")).cast("long").as("dl"))
    // bucket-clustered files: the manifest (min, max) on `bucket` then
    // admit one/few buckets per file — the q178 skip with no footer read
    postings.unionByName(doclens)
      .repartition(nBuckets + 1, col("bucket"))
  }

  /** Build the index lake from `docs` (the one-time corpus scan).
    * Returns the committed lake version.
    */
  def writeIndexLake(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int = 32): Long = {
    require(nBuckets >= 1, s"writeIndexLake needs nBuckets >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // building "over" an existing index would stack a second full
    // posting set as version 2 — every df/tf silently doubled. Extend
    // with appendToIndexLake; rebuild into a fresh dir.
    require(VersionedLake.currentVersion(spark, dir) == 0,
      s"index lake at $dir already exists — appendToIndexLake extends " +
        "it; a rebuild needs a fresh dir")
    // the bucket count is the hash contract every append/search must
    // share — persisted once, outside the data dir (vacuum never
    // touches it)
    Seq(nBuckets.toLong).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$MetaName")
    VersionedLake.commitAppend(spark, dir,
      rows(docs, idCol, textCol, nBuckets), statsCol = Some("bucket"))
  }

  // the bucket count is write-once per index dir (writeIndexLake refuses
  // to re-init an existing lake), but a dir REMOVED and rebuilt at the
  // same path within a session escapes that guard — so the memo is keyed
  // by the meta file's CONTENT identity (part paths + mtime + length,
  // the centroidCache pattern), not the dir path alone: a same-path
  // rebuild with a different nBuckets changes the key and the stale
  // count can never route a search to the wrong buckets. One driver-side
  // listStatus per lookup replaces the 2-job Spark parquet read.
  // Bounded: cleared when it could outgrow a long session.
  private val nBucketsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  // Residual: the identity resolves mtimes only to the file system's
  // granularity (a second on some stores), so a rebuild that wrote part
  // files of the same names and lengths within one tick would alias the
  // stale count. Spark names part files after the writing job's UUID,
  // so only a writer that reuses part names could reach it.
  private def metaIdentity(spark: SparkSession, dir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$MetaName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try Some(fs.listStatus(p).iterator
      .filter(_.getPath.getName.startsWith("part-"))
      .map(s => s"${s.getPath}@${s.getModificationTime}:${s.getLen}")
      .toSeq.sorted.mkString("|"))
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def nBucketsOf(spark: SparkSession, dir: String): Int = {
    // no meta dir, no identity: the uncached read below then fails with
    // Spark's descriptive missing-path error
    val key = metaIdentity(spark, dir)
    val cached = key.map(nBucketsCache.get).orNull
    if (cached != null) return cached.toInt
    val r = spark.read.parquet(s"$dir/$MetaName").collect()
    require(r.length == 1, s"$dir/$MetaName must hold exactly one row")
    val n = r(0).getLong(0).toInt
    if (nBucketsCache.size > 512) nBucketsCache.clear()
    key.foreach(nBucketsCache.put(_, n))
    n
  }

  /** `pmod(hash(term), nb)` computed driver-side — the exact Murmur3
    * (seed 42) Spark's `hash()` evaluates, so the probed-bucket set
    * needs no Spark job. Pinned against the SQL expression in
    * IndexLakeSpec.
    */
  private[graft] def bucketOfTerm(term: String, nb: Int): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(term)
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes(), 42)
    val m = h % nb
    (if (m < 0) m + nb else m).toLong
  }

  /** Append a vintage: its postings and doc-length rows land as ONE
    * atomic lake commit. Returns the committed version.
    */
  def appendToIndexLake(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Long = {
    val spark = docs.sparkSession
    VersionedLake.commitAppend(spark, dir,
      rows(docs, idCol, textCol, nBucketsOf(spark, dir)))
  }

  /** Re-cluster the index lake to few files per bucket — the
    * maintenance pass that pairs with [[appendToIndexLake]]: every
    * vintage append adds one file set per bucket, so after many
    * vintages a one-term query's bucket read opens one file PER
    * VINTAGE (and per-file open cost dominates an object-store read
    * long before the bytes do), while hash skew from stopword-heavy
    * terms leaves some buckets far fatter than others. This is
    * [[VersionedLake.compact]] with `sortCol = "bucket"` (q181's
    * clustered-compaction machinery): the current content is
    * range-partitioned and sorted on the bucket column, so per-file
    * manifest (min, max) become near-disjoint again and a one-term
    * query's driver-side skip admits one or two files REGARDLESS of
    * how many vintages preceded the pass — search results are
    * bit-identical across it (same rows, new layout; q192 pins the
    * equality under the driver oracle, IndexLakeSpec pins the
    * admitted-file bound). Prior versions stay readable; fragmented
    * history ages out through [[VersionedLake.vacuum]]. `nFiles`
    * defaults to nBuckets + 1 — about one file per bucket plus the
    * doc-length region. Returns the new lake version.
    */
  def compactIndexLake(spark: SparkSession, dir: String,
      nFiles: Int = 0): Long = {
    val n = if (nFiles > 0) nFiles else nBucketsOf(spark, dir) + 1
    VersionedLake.compact(spark, dir, nFiles = n, sortCol = Some("bucket"))
  }

  /** Takedown: one [[VersionedLake.commitDelete]] on `doc_id` removes a
    * document's postings AND its doc-length row behind a single rename
    * — the scoring scalars can never disagree with the postings.
    * Returns (version, nFilesRewritten, nRowsRemoved).
    */
  def deleteFromIndexLake(spark: SparkSession, dir: String,
      ids: DataFrame): (Long, Long, Long) =
    VersionedLake.commitDelete(spark, dir, "doc_id", ids)

  /** BM25 top-k over the persisted index — reads ONLY the doc-length
    * region plus the buckets the query terms hash to (driver-side
    * manifest skip per bucket), then runs the exact corpus-scan scoring
    * tail. Same result contract as [[Retrieval.bm25TopK]]:
    * (query_id, rank, doc_id, score_micro).
    */
  def bm25TopKOverIndex(spark: SparkSession, dir: String,
      queries: Seq[(Long, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && k > 0,
      "bm25TopKOverIndex needs queries and k > 0")
    import spark.implicits._
    val nb = nBucketsOf(spark, dir)
    val v = VersionedLake.currentVersion(spark, dir)
    val qdf = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    // the global scalars: one scan of the doc-length region only.
    // avgdl divides by count(dl) — NOT count(*) — to match the corpus
    // scan's avg(size(w)) exactly: a null-text doc carries a NULL dl
    // (size of a null token array), which avg excludes from the
    // DENOMINATOR while still counting the doc in N; a count(*) divisor
    // here would silently shift every score on a corpus with null text
    // and break the bit-exact index == scan contract (IndexLakeSpec
    // pins it with a null-text doc).
    // query-term buckets (bounded by the query term count — computed
    // driver-side with the exact hash Spark's hash() evaluates, so no
    // Spark job runs before the search itself)
    val terms = queries.flatMap(_._2).distinct
    val buckets = terms.map(bucketOfTerm(_, nb)).distinct.sorted
    // ONE manifest resolution admits the doc-length region AND every
    // probed bucket (rangeFilesMulti), and ONE pruned scan reads the
    // union of the probed buckets' admitted files (deduped — a
    // pre-compaction file can hold several buckets), exact bucket
    // membership re-filtered. Equivalent to the previous
    // one-read-per-bucket union: a file holding rows of probed bucket b
    // is always in b's admitted list (manifest stats are true min/max),
    // and the isin filter drops any unprobed-bucket rows a shared file
    // carries — but each admitted file opens once, and the manifest
    // chain resolves once instead of once per probed range.
    val (adm, _) = VersionedLake.rangeFilesMulti(spark, dir, v,
      (DoclenBucket, DoclenBucket) +: buckets.map(b => (b, b)))
    def readFiles(files: Seq[String]): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rowSchema)
      else spark.read.schema(rowSchema)
        .parquet(VersionedLake.qualifiedFiles(spark, dir, files): _*)
    val doclens = readFiles(adm.head)
      .filter(col("bucket") === DoclenBucket)
      .filter(col("term").isNull)
    val stats = doclens.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(col("dl"))).as("avgdl"))
    val keptAll = adm.tail.flatten.distinct
    // materialized ONCE (eager localCheckpoint; bounded by queried-term
    // posting volume — the corpus-scan path's exact argument): tf feeds
    // BOTH the df count and the scoring join inside scoreAndRank, and
    // lazily each consumer re-opened and re-filtered the admitted
    // bucket files (two pruned scans per search instead of one)
    val tf = readFiles(keptAll)
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(qdf.select("term").distinct()), "term")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
      .localCheckpoint(true)
    Retrieval.scoreAndRank(tf, qdf, stats, k, k1, b)
  }
}
