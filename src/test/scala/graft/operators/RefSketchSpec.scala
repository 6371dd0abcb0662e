package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted reference-gram sketch: score-vs-inline equality through a
  * build, an append, and a takedown; the counting bloom's exact shrink
  * on delete; per-opId idempotence; the crash windows (bloom decrement
  * roll-forward, stale-superset soundness); loud failure modes; and
  * bucket-scoped rewrite evidence (unaffected leaves byte-stable).
  */
class RefSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_sketch_$tag").toString

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def scores(df: DataFrame): Map[Long, (Long, Long, Double)] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

  private val corpus = Seq(
    (1L, "a b c d e"),
    (2L, "c d e f g"),
    (3L, "x y z w q"),
    (4L, "a b c x y z"),
    (5L, "unique1 unique2 unique3 unique4"),
    (6L, "c d e c d e")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    (100L, "a b c d q w"),          // mixes seen + unseen grams
    (101L, "unique1 unique2 unique3"),
    (102L, "totally novel words here"),
    (103L, "c d e f g")             // fully seen
  ).toDF("doc_id", "text")

  test("sketch scoring equals inline noveltyScores after build") {
    val dir = tmpDir("build")
    Decontaminate.writeReferenceSketch(spark, dir, corpus, "text",
      n = 3, nBuckets = 4)
    val got = scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text"))
    val want = scores(Decontaminate.noveltyScores(
      batch, "doc_id", "text", corpus, "text", n = 3))
    assert(got === want)
  }

  test("append folds new docs in; scoring equals inline over the union") {
    val dir = tmpDir("append")
    val base = corpus.filter(col("doc_id") <= 3)
    val added = corpus.filter(col("doc_id") > 3)
    Decontaminate.writeReferenceSketch(spark, dir, base, "text",
      n = 3, nBuckets = 4)
    val nNew = Decontaminate.appendToReferenceSketch(
      spark, dir, added, "text", opId = "b1")
    assert(nNew > 0)
    val got = scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text"))
    val want = scores(Decontaminate.noveltyScores(
      batch, "doc_id", "text", corpus, "text", n = 3))
    assert(got === want)
    // retrying the same opId is an exact no-op with the same answer
    val again = Decontaminate.appendToReferenceSketch(
      spark, dir, added, "text", opId = "b1")
    assert(again === nNew)
    assert(scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text")) === want)
  }

  private def bloomCounts(dir: String): Map[Int, Long] =
    spark.read.parquet(s"$dir/_bloom")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("takedown: scoring equals inline over survivors; bloom shrinks " +
      "to exactly the fresh-build bloom") {
    val dir = tmpDir("delete")
    Decontaminate.writeReferenceSketch(spark, dir, corpus, "text",
      n = 3, nBuckets = 4)
    val deleted = corpus.filter(col("doc_id").isin(1L, 5L))
    val survivors = corpus.filter(!col("doc_id").isin(1L, 5L))
    val nRemoved = Decontaminate.deleteFromReferenceSketch(
      spark, dir, deleted, "text", opId = "td1")
    assert(nRemoved > 0) // doc 5's grams exist nowhere else
    val got = scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text"))
    val want = scores(Decontaminate.noveltyScores(
      batch, "doc_id", "text", survivors, "text", n = 3))
    assert(got === want)
    // the counting bloom must now BE the bloom of the surviving grams —
    // count for count, not merely a sound superset
    val fresh = tmpDir("delete_fresh")
    Decontaminate.writeReferenceSketch(spark, fresh, survivors, "text",
      n = 3, nBuckets = 4)
    assert(bloomCounts(dir) === bloomCounts(fresh))
    // pending sidecar cleaned up; retry of the opId is a no-op
    assert(!fs(dir).exists(new Path(dir, "_pending_bloom_td1")))
    assert(Decontaminate.deleteFromReferenceSketch(
      spark, dir, deleted, "text", opId = "td1") === nRemoved)
    assert(scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text")) === want)
  }

  test("takedown of docs the sketch never ingested fails loudly") {
    val dir = tmpDir("neg")
    Decontaminate.writeReferenceSketch(spark, dir,
      corpus.filter(col("doc_id") <= 3), "text", n = 3, nBuckets = 4)
    val stranger = Seq((99L, "a b c d e a b c d e")).toDF("doc_id", "text")
    // doc 99 over-claims gram multiplicity doc 1 contributed once
    val e = intercept[Exception] {
      Decontaminate.deleteFromReferenceSketch(
        spark, dir, stranger.unionAll(stranger), "text", opId = "bad")
    }
    assert(e.getMessage != null)
  }

  test("scoring without a meta sidecar fails loudly; empty delta no-ops") {
    val dir = tmpDir("nometa")
    val e = intercept[IllegalArgumentException] {
      Decontaminate.noveltyScoresAgainstSketch(
        spark, dir, batch, "doc_id", "text")
    }
    assert(e.getMessage.contains("sketch"))
    val built = tmpDir("emptydelta")
    Decontaminate.writeReferenceSketch(spark, built, corpus, "text",
      n = 3, nBuckets = 4)
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Decontaminate.appendToReferenceSketch(
      spark, built, none, "text", "e1") === 0L)
    assert(Decontaminate.deleteFromReferenceSketch(
      spark, built, none, "text", "e2") === 0L)
  }

  test("a stale SUPERSET bloom cannot change scores (crash-window " +
      "soundness: verify join stays exact)") {
    val dir = tmpDir("superset")
    Decontaminate.writeReferenceSketch(spark, dir, corpus, "text",
      n = 3, nBuckets = 4)
    val want = scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text"))
    // saturate every position — the worst sound bloom possible
    val m = Decontaminate.readMeta(spark, dir)
    val sat = (0 until m.mBits).map(p => (p, 1L)).toDF("pos", "cnt")
    val f = fs(dir)
    f.delete(new Path(dir, "_bloom"), true)
    sat.write.parquet(s"$dir/_bloom")
    assert(scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text")) === want)
  }

  test("crashed takedown (grams committed, bloom pending) rolls " +
      "forward on retry") {
    val a = tmpDir("crash_a")
    val b = tmpDir("crash_b")
    Decontaminate.writeReferenceSketch(spark, a, corpus, "text",
      n = 3, nBuckets = 4)
    Decontaminate.writeReferenceSketch(spark, b, corpus, "text",
      n = 3, nBuckets = 4)
    val deleted = corpus.filter(col("doc_id").isin(1L, 5L))
    Decontaminate.deleteFromReferenceSketch(
      spark, b, deleted, "text", opId = "cr1")
    // manufacture the window on A: B's post-delete grams (with the
    // phase-1 marker) + A's PRE-delete bloom + the parked removed grams
    val fa = fs(a)
    val removed = spark.read.parquet(s"$a/grams").select("g")
      .exceptAll(spark.read.parquet(s"$b/grams").select("g"))
    removed.write.parquet(s"$a/_pending_bloom_cr1")
    fa.delete(new Path(a, "grams"), true)
    org.apache.hadoop.fs.FileUtil.copy(fs(b), new Path(b, "grams"),
      fa, new Path(a, "grams"), false,
      spark.sparkContext.hadoopConfiguration)
    // retry completes the bloom decrement (docs arg unused: phase 1 done)
    Decontaminate.deleteFromReferenceSketch(
      spark, a, deleted, "text", opId = "cr1")
    assert(bloomCounts(a) === bloomCounts(b))
    assert(!fa.exists(new Path(a, "_pending_bloom_cr1")))
  }

  test("rebuild clears a crashed previous-generation mutation's tmp commit") {
    val dir = tmpDir("regen")
    Decontaminate.writeReferenceSketch(spark, dir,
      corpus.filter(col("doc_id") <= 3), "text", n = 3, nBuckets = 4)
    // gen-1 takedown crashed AFTER its name manifest committed but
    // BEFORE promotion: a poisoned bucket leaf waits in grams.mut_tmp.
    // Without the rebuild cleanup, gen-2's first mutation would
    // "recover" it — dead refcounts resurrected into the fresh lake.
    val f = fs(dir)
    val tmp = new Path(dir, "grams.mut_tmp")
    Seq((123456789L, 999L)).toDF("g", "n_docs")
      .write.parquet(s"$dir/grams.mut_tmp/bucket=0")
    graft.sinks.Lake.writeNameManifest(f, tmp, Seq("bucket=0"))
    Decontaminate.writeReferenceSketch(spark, dir, corpus, "text",
      n = 3, nBuckets = 4) // generation 2
    val doc8 = Seq((8L, "h i j k")).toDF("doc_id", "text")
    Decontaminate.appendToReferenceSketch(spark, dir, doc8, "text", "g2a")
    assert(!f.exists(tmp), "gen-1 debris survived the rebuild")
    assert(spark.read.parquet(s"$dir/grams")
      .filter(col("n_docs") === 999L).count() === 0L,
      "the poisoned leaf was promoted into generation 2")
    val got = scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text"))
    val want = scores(Decontaminate.noveltyScores(
      batch, "doc_id", "text", corpus.unionAll(doc8), "text", n = 3))
    assert(got === want)
  }

  test("the _applied_ ledger stays bounded across many ops") {
    val dir = tmpDir("ledger")
    Decontaminate.writeReferenceSketch(spark, dir, corpus, "text",
      n = 3, nBuckets = 4)
    var last = 0L
    (0 until 10).foreach { i =>
      last = Decontaminate.appendToReferenceSketch(spark, dir,
        Seq((200L + i, s"fresh gram number $i extra pad"))
          .toDF("doc_id", "text"), "text", s"op$i")
    }
    def markers(sub: String) = fs(dir)
      .listStatus(new Path(dir, sub)).iterator
      .map(_.getPath.getName).filter(_.startsWith("_applied_")).toSeq
    assert(markers("grams").size <= 8, s"gram ledger: ${markers("grams")}")
    assert(markers("_bloom").size <= 8, s"bloom ledger: ${markers("_bloom")}")
    assert(markers("grams").contains("_applied_op9"))
    // the newest op keeps exact idempotence through the pruning
    assert(Decontaminate.appendToReferenceSketch(spark, dir,
      Seq((209L, "fresh gram number 9 extra pad")).toDF("doc_id", "text"),
      "text", "op9") === last)
  }

  test("a missing bloom (mid-swap crash) fails scoring loudly, and the " +
      "retried mutation restores it") {
    val dir = tmpDir("midswap")
    Decontaminate.writeReferenceSketch(spark, dir, corpus, "text",
      n = 3, nBuckets = 4)
    val want = scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text"))
    // manufacture the swapDirs crash window: live parked at backup
    val f = fs(dir)
    assert(f.rename(new Path(dir, "_bloom"), new Path(dir, "_bloom.mut_backup")))
    // a reader must NOT see an all-zero bloom (that would silently score
    // every gram as an unverified MISS — novel); it must fail loudly
    val e = intercept[IllegalArgumentException] {
      Decontaminate.noveltyScoresAgainstSketch(
        spark, dir, batch, "doc_id", "text")
    }
    assert(e.getMessage.contains("crashed mid-swap"))
    // the writer's next mutation recovers the bloom before acting
    val doc9 = Seq((9L, "m n o p")).toDF("doc_id", "text")
    Decontaminate.appendToReferenceSketch(spark, dir, doc9, "text", "rec1")
    val got = scores(Decontaminate.noveltyScoresAgainstSketch(
      spark, dir, batch, "doc_id", "text"))
    assert(got === want, "doc 9 shares no gram with the batch — scores " +
      "must be exactly the pre-crash ones")
  }

  test("takedown rewrites only the affected buckets") {
    val dir = tmpDir("scoped")
    Decontaminate.writeReferenceSketch(spark, dir, corpus, "text",
      n = 3, nBuckets = 64)
    // one doc with exactly one 3-gram → exactly one affected bucket
    val one = Seq((7L, "only one gram")).toDF("doc_id", "text")
    Decontaminate.appendToReferenceSketch(spark, dir, one, "text", "s1")
    val f = fs(dir)
    val before = f.listStatus(new Path(dir, "grams")).iterator
      .filter(_.isDirectory)
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    Thread.sleep(5)
    Decontaminate.deleteFromReferenceSketch(spark, dir, one, "text", "s2")
    val after = f.listStatus(new Path(dir, "grams")).iterator
      .filter(_.isDirectory)
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val touched = after.keySet.filter(k =>
      !before.contains(k) || before(k) != after(k))
    assert(touched.size === 1, s"expected 1 rewritten bucket, got $touched")
  }

  test("append and takedown leave no persisted or checkpointed RDD behind") {
    val dir = tmpDir("release")
    Decontaminate.writeReferenceSketch(spark, dir,
      corpus.filter(col("doc_id") <= 3), "text", n = 3, nBuckets = 4)
    val sc = spark.sparkContext
    // relative: other suites sharing this JVM may hold their own persists
    val before = sc.getPersistentRDDs.keySet
    Decontaminate.appendToReferenceSketch(spark, dir,
      corpus.filter(col("doc_id") > 3), "text", "r1")
    assert(sc.getPersistentRDDs.keySet === before)
    Decontaminate.deleteFromReferenceSketch(spark, dir,
      corpus.filter(col("doc_id") === 5L), "text", "r2")
    assert(sc.getPersistentRDDs.keySet === before)
    // two words, no 3-gram: no bucket is affected (the early return)
    assert(Decontaminate.appendToReferenceSketch(spark, dir,
      Seq((8L, "too short")).toDF("doc_id", "text"), "text", "r3") === 0L)
    assert(sc.getPersistentRDDs.keySet === before)
  }
}
