package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Versioned-lake time travel ([[VersionedLake]]). Pinned: every
  * committed version stays readable exactly as committed; a delete
  * rewrites ONLY the files holding deleted ids (survivor files carry
  * into the new manifest byte-stable, by name); a crashed commit (data
  * files, no manifest) is invisible to readers and replaced wholesale
  * by the retry; racing writers on one version fail loudly; vacuum
  * drops exactly the versions below the floor and sweeps orphans while
  * kept versions stay byte-identical.
  */
class VersionedLakeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"text of doc $i")).toDF("doc_id", "text")
      .repartition(1) // one data file per commit — file-level assertions

  private def fresh(tag: String): String =
    Files.createTempDirectory(tag).toString + "/lake"

  private def idSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def dataFiles(dir: String): Map[String, Long] = {
    val base = new java.io.File(s"$dir/data")
    Option(base.listFiles()).getOrElse(Array.empty).flatMap { cd =>
      Option(cd.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => s"${cd.getName}/${f.getName}" -> f.lastModified())
    }.toMap
  }

  /** The data files a version ADDED (manifest diff against its
    * predecessor), keyed like [[dataFiles]] — appends land under
    * unique `a<token>` dirs, so "which files are commit N's" is a
    * manifest question, not a dir-name one.
    */
  private def filesAddedBy(dir: String, v: Long): Set[String] = {
    val prev = if (v <= 1) Set.empty[String]
      else VersionedLake.filesOf(spark, dir, v - 1).toSet
    (VersionedLake.filesOf(spark, dir, v).toSet -- prev)
      .map(_.stripPrefix("data/"))
  }

  test("append/delete/append: every version reads exactly as committed") {
    val dir = fresh("vlake_hist_")
    assert(VersionedLake.commitAppend(spark, dir, docs(0, 20)) === 1L)
    assert(VersionedLake.commitAppend(spark, dir, docs(20, 30)) === 2L)
    val (v3, nFiles, nRows) = VersionedLake.commitDelete(
      spark, dir, "doc_id", Seq(3L, 7L, 25L, 999L).toDF("doc_id"))
    assert(v3 === 3L && nRows === 3L)
    assert(nFiles === 2L, "both commits hold deleted ids here")
    assert(VersionedLake.commitAppend(spark, dir, docs(30, 35)) === 4L)
    assert(idSet(VersionedLake.readAsOf(spark, dir, 1)) ===
      (0L until 20L).toSet)
    assert(idSet(VersionedLake.readAsOf(spark, dir, 2)) ===
      (0L until 30L).toSet)
    assert(idSet(VersionedLake.readAsOf(spark, dir, 3)) ===
      (0L until 30L).toSet -- Set(3L, 7L, 25L))
    assert(idSet(VersionedLake.readAsOf(spark, dir, 4)) ===
      ((0L until 35L).toSet -- Set(3L, 7L, 25L)))
    assert(idSet(VersionedLake.read(spark, dir)) ===
      idSet(VersionedLake.readAsOf(spark, dir, 4)))
    // rewritten rows keep full content
    val row = VersionedLake.read(spark, dir)
      .filter(col("doc_id") === 9L).collect()(0)
    assert(row.getAs[String]("text") === "text of doc 9")
    assert(VersionedLake.versions(spark, dir) === Seq(1L, 2L, 3L, 4L))
  }

  test("delete rewrites only the files holding deleted ids") {
    val dir = fresh("vlake_scope_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 20)): Unit
    val before = dataFiles(dir)
    // ids live only in commit 1's file
    val (v, nFiles, nRows) = VersionedLake.commitDelete(
      spark, dir, "doc_id", Seq(2L, 4L).toDF("doc_id"))
    assert(v === 3L && nFiles === 1L && nRows === 2L)
    val after = dataFiles(dir)
    val c2 = filesAddedBy(dir, 2L)
    assert(c2.nonEmpty && c2.forall(k => after(k) === before(k)),
      "commit-2 file was rewritten though it holds no deleted id")
    assert(c2.subsetOf(VersionedLake.filesOf(spark, dir, 3L)
        .map(_.stripPrefix("data/")).toSet),
      "the untouched file must carry into the new manifest by name")
    assert(filesAddedBy(dir, 1L).forall(after.contains),
      "old files must SURVIVE a delete — time travel depends on them")
    assert(idSet(VersionedLake.readAsOf(spark, dir, 2)) ===
      (0L until 20L).toSet, "prior version changed by a delete")
  }

  test("delete of absent ids commits nothing") {
    val dir = fresh("vlake_noop_")
    VersionedLake.commitAppend(spark, dir, docs(0, 5)): Unit
    assert(VersionedLake.commitDelete(spark, dir, "doc_id",
      Seq(100L).toDF("doc_id")) === ((0L, 0L, 0L)))
    assert(VersionedLake.currentVersion(spark, dir) === 1L)
  }

  test("crashed commit (data, no manifest) is invisible; retry replaces it") {
    val dir = fresh("vlake_crash_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    // simulate: a dead writer got its c2 data down but never published v2
    docs(90, 99).write.mode("overwrite").parquet(s"$dir/data/c2")
    assert(VersionedLake.currentVersion(spark, dir) === 1L)
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 10L).toSet)
    // the retry recomputes version 2 and replaces the orphans wholesale
    assert(VersionedLake.commitAppend(spark, dir, docs(10, 15)) === 2L)
    assert(idSet(VersionedLake.readAsOf(spark, dir, 2)) ===
      (0L until 15L).toSet)
  }

  test("racing writers on one version fail loudly, history never forks") {
    val dir = fresh("vlake_race_")
    VersionedLake.commitAppend(spark, dir, docs(0, 5)): Unit
    // a second writer that computed the same next version (its probe ran
    // before the first writer's publish) must fail at its OWN publish —
    // the manifest-exists guard is the commit point's last line of
    // defense, driven here directly since the probe/publish interleaving
    // itself cannot be scheduled from a test
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.writeManifest(fs, base, 1L, Seq("data/c1/forged.parquet"))
    }
    assert(ex.getMessage.contains("already committed"))
    // the loser's attempt changed nothing
    assert(idSet(VersionedLake.readAsOf(spark, dir, 1)) ===
      (0L until 5L).toSet)
  }

  test("vacuum drops old versions, keeps the rest byte-identical, sweeps orphans") {
    val dir = fresh("vlake_vac_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 20)): Unit
    VersionedLake.commitDelete(spark, dir, "doc_id",
      Seq(1L).toDF("doc_id")): Unit
    // plus an orphan from a crashed commit
    docs(90, 95).write.mode("overwrite").parquet(s"$dir/data/c9")
    val keptBefore = idSet(VersionedLake.readAsOf(spark, dir, 3))
    val filesBefore = dataFiles(dir)
    val (dropped, deleted) = VersionedLake.vacuum(spark, dir, keepFrom = 3, force = true)
    assert(dropped === 2L)
    assert(deleted >= 1L, "the c9 orphan (and v1's dead file) must go")
    assert(VersionedLake.versions(spark, dir) === Seq(3L))
    assert(idSet(VersionedLake.readAsOf(spark, dir, 3)) === keptBefore)
    // surviving files untouched (same mtime)
    val after = dataFiles(dir)
    after.keys.foreach(k => assert(after(k) === filesBefore(k),
      s"vacuum rewrote surviving file $k"))
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.readAsOf(spark, dir, 1)
    }
    assert(ex.getMessage.contains("no version 1"))
    // refusing to drop everything
    val ex2 = intercept[IllegalArgumentException] {
      VersionedLake.vacuum(spark, dir, keepFrom = 99, force = true)
    }
    assert(ex2.getMessage.contains("EVERY version"))
  }

  test("exactly-once batch commits: replay is a no-op, interleaved " +
      "maintenance cannot blind the check, older batches fail loudly") {
    val dir = fresh("vlake_eos_")
    assert(VersionedLake.commitAppendForBatch(spark, dir, docs(0, 5), 0L) === 1L)
    assert(VersionedLake.commitAppendForBatch(spark, dir, docs(5, 10), 1L) === 2L)
    // replay of the last committed batch: recognized, nothing written
    assert(VersionedLake.commitAppendForBatch(spark, dir, docs(5, 10), 1L) === 2L)
    assert(VersionedLake.currentVersion(spark, dir) === 2L)
    // a maintenance delete interleaves WITHOUT a batch header
    val (v3, _, _) = VersionedLake.commitDelete(spark, dir, "doc_id",
      Seq(3L).toDF("doc_id"))
    assert(v3 === 3L)
    // the replay check scans back PAST the headerless delete commit
    assert(VersionedLake.commitAppendForBatch(spark, dir, docs(5, 10), 1L) === 2L)
    assert(VersionedLake.currentVersion(spark, dir) === 3L)
    // the next real batch commits as v4
    assert(VersionedLake.commitAppendForBatch(spark, dir, docs(10, 12), 2L) === 4L)
    assert(idSet(VersionedLake.read(spark, dir)) ===
      ((0L until 12L).toSet - 3L))
    // an OLDER batch id = a foreign checkpoint — loud
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.commitAppendForBatch(spark, dir, docs(0, 1), 1L)
    }
    assert(ex.getMessage.contains("does not belong"))
  }

  test("appendStream drains a stream one version per micro-batch, " +
      "exactly once across a restart") {
    val dir = fresh("vlake_stream_")
    val srcDir = fresh("vlake_src_")
    val ckpt = fresh("vlake_ckpt_")
    docs(0, 30).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(docs(0, 1).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    VersionedLake.appendStream(stream, dir, ckpt)
    val nv = VersionedLake.currentVersion(spark, dir)
    assert(nv >= 1L)
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 30L).toSet)
    // restart on the SAME checkpoint: nothing new to process, no new
    // version, membership unchanged
    val stream2 = spark.readStream
      .schema(docs(0, 1).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    VersionedLake.appendStream(stream2, dir, ckpt)
    assert(VersionedLake.currentVersion(spark, dir) === nv)
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 30L).toSet)
  }

  test("compact: content-identical new version, prior versions intact, " +
      "history attributes commits") {
    val dir = fresh("vlake_cmp_")
    VersionedLake.commitAppendForBatch(spark, dir,
      docs(0, 10).repartition(3), 0L): Unit
    VersionedLake.commitAppendForBatch(spark, dir,
      docs(10, 20).repartition(3), 1L): Unit
    VersionedLake.commitDelete(spark, dir, "doc_id",
      Seq(4L).toDF("doc_id")): Unit
    val pre = VersionedLake.currentVersion(spark, dir)
    val preFiles = VersionedLake.filesOf(spark, dir, pre)
    val v = VersionedLake.compact(spark, dir, nFiles = 1)
    assert(v === pre + 1)
    assert(VersionedLake.filesOf(spark, dir, v).size === 1)
    assert(idSet(VersionedLake.readAsOf(spark, dir, v)) ===
      idSet(VersionedLake.readAsOf(spark, dir, pre)))
    // the compacted-away version still reads through ITS OWN files
    assert(VersionedLake.filesOf(spark, dir, pre) === preFiles)
    assert(idSet(VersionedLake.readAsOf(spark, dir, 2)) ===
      (0L until 20L).toSet)
    // history: stream commits carry their batch, maintenance rows NULL
    val h = VersionedLake.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(h.map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(h.map(_._3) === Seq(Some(0L), Some(1L), None, None))
    assert(h.last._2 === 1L, "compacted version must list 1 file")
  }

  test("AS-OF read under the #schema= header: later-commit columns NULL " +
      "in older rows") {
    val dir = fresh("vlake_schema_")
    VersionedLake.commitAppend(spark, dir, docs(0, 3)): Unit
    VersionedLake.commitAppend(spark, dir,
      docs(3, 5).withColumn("lang", lit("en"))): Unit
    val full = VersionedLake.readAsOf(spark, dir, 2)
    assert(full.columns.toSeq === Seq("doc_id", "text", "lang"))
    assert(full.filter(col("lang").isNull).count() === 3L)
    assert(full.filter(col("lang") === "en").count() === 2L)
    // v1 AS-OF keeps its own narrower schema
    assert(VersionedLake.readAsOf(spark, dir, 1).columns.toSeq ===
      Seq("doc_id", "text"))
  }

  test("read().collect() on a 4-file lake starts exactly one job") {
    val dir = fresh("vlake_onejob_")
    (0 until 4).foreach { i =>
      VersionedLake.commitAppend(spark, dir, docs(i * 5L, i * 5L + 5L)): Unit
    }
    assert(VersionedLake.filesOf(spark, dir, 4L).size === 4)
    val (rows, jobs) =
      graft.JobsStarted(spark)(VersionedLake.read(spark, dir).collect())
    assert(rows.map(_.getLong(0)).toSet === (0L until 20L).toSet)
    assert(jobs === 1, "the #schema= header replaces schema inference")
  }

  test("manifest stats: file skipping from the manifest alone, " +
      "propagation through every commit kind, pre-stats files never pruned") {
    val dir = fresh("vlake_stats_")
    // commit 1 BEFORE stats: its file must never be pruned
    VersionedLake.commitAppend(spark, dir, docs(1000, 1005)): Unit
    // enabling commit + two more contiguous-range commits
    VersionedLake.commitAppend(spark, dir, docs(0, 10),
      statsCol = Some("doc_id")): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 20)): Unit // propagates
    assert(VersionedLake.statsColOf(spark, dir, 3L) === Some("doc_id"))
    // range fully inside commit 3's ids: admit c3's file + the bare
    // pre-stats file, skip c2's
    val (kept, total) = VersionedLake.rangeFiles(spark, dir, 3L, 12L, 17L)
    assert(total === 3L && kept.size === 2)
    val keptSet = kept.map(_.stripPrefix("data/")).toSet
    assert(filesAddedBy(dir, 3L).subsetOf(keptSet),
      "commit 3 holds the range — its file must be admitted")
    assert(filesAddedBy(dir, 1L).subsetOf(keptSet),
      "the pre-stats file has no stats and must never be pruned")
    assert(idSet(VersionedLake.readAsOfRange(spark, dir, 3L, 12L, 17L)) ===
      (12L to 17L).toSet)
    // a delete rewrite refreshes stats for its new file, keeps the rest
    VersionedLake.commitDelete(spark, dir, "doc_id",
      Seq(15L).toDF("doc_id")): Unit
    assert(VersionedLake.statsColOf(spark, dir, 4L) === Some("doc_id"))
    assert(idSet(VersionedLake.readAsOfRange(spark, dir, 4L, 12L, 17L)) ===
      ((12L to 17L).toSet - 15L))
    // compaction re-lays everything into one file with fresh stats
    val v5 = VersionedLake.compact(spark, dir, nFiles = 1)
    assert(VersionedLake.statsColOf(spark, dir, v5) === Some("doc_id"))
    val (kept5, total5) = VersionedLake.rangeFiles(spark, dir, v5, 3L, 4L)
    assert(total5 === 1L && kept5.size === 1)
    assert(idSet(VersionedLake.readAsOfRange(spark, dir, v5, 3L, 4L)) ===
      Set(3L, 4L))
    // an admitting-nothing range reads as a typed empty frame
    val schema = docs(0, 1).schema
    assert(VersionedLake.readAsOfRange(spark, dir, v5, 5000L, 6000L,
      Some(schema)).count() === 0L)
    // switching the stats column mid-lake fails loudly
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.commitAppend(spark, dir, docs(20, 22),
        statsCol = Some("other"))
    }
    assert(ex.getMessage.contains("ONE stats column"))
    // a stats-free lake refuses the range read
    val bare = fresh("vlake_nostats_")
    VersionedLake.commitAppend(spark, bare, docs(0, 5)): Unit
    val ex2 = intercept[IllegalArgumentException] {
      VersionedLake.readAsOfRange(spark, bare, 1L, 0L, 10L)
    }
    assert(ex2.getMessage.contains("no manifest statistics"))
  }

  test("upsert: matched rows replaced, unmatched inserted, rewrite scoped " +
      "to the files holding matched ids, prior version intact") {
    val dir = fresh("vlake_ups_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 20)): Unit
    val before = dataFiles(dir)
    // matched ids live only in commit 1's file; 100/101 are inserts
    val updates = Seq((2L, "patched 2"), (4L, "patched 4"),
      (100L, "new 100"), (101L, "new 101")).toDF("doc_id", "text")
    val (v, nFiles, nUpd) = VersionedLake.commitUpsert(
      spark, dir, "doc_id", updates)
    assert(v === 3L && nFiles === 1L && nUpd === 2L)
    val now = VersionedLake.read(spark, dir)
    assert(idSet(now) === ((0L until 20L).toSet ++ Set(100L, 101L)))
    assert(now.filter(col("doc_id") === 2L).collect()(0)
      .getAs[String]("text") === "patched 2")
    assert(now.filter(col("doc_id") === 9L).collect()(0)
      .getAs[String]("text") === "text of doc 9")
    // commit 2's file was never rewritten; old files survive
    val after = dataFiles(dir)
    val c2 = filesAddedBy(dir, 2L)
    assert(c2.nonEmpty && c2.forall(k => after(k) === before(k)),
      "commit-2 file was rewritten though it holds no matched id")
    assert(before.keys.forall(after.contains),
      "old files must SURVIVE an upsert — time travel depends on them")
    assert(idSet(VersionedLake.readAsOf(spark, dir, 2)) ===
      (0L until 20L).toSet, "prior version changed by an upsert")
    assert(VersionedLake.readAsOf(spark, dir, 2)
      .filter(col("doc_id") === 2L).collect()(0)
      .getAs[String]("text") === "text of doc 2")
  }

  test("upsert guards: duplicate update ids, wrong columns, empty lake " +
      "all fail loudly; all-insert upsert commits like an append; stats " +
      "propagate") {
    val dir = fresh("vlake_upsg_")
    VersionedLake.commitAppend(spark, dir, docs(0, 5),
      statsCol = Some("doc_id")): Unit
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.commitUpsert(spark, dir, "doc_id",
        Seq((1L, "a"), (1L, "b")).toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("more than once"))
    val ex2 = intercept[IllegalArgumentException] {
      VersionedLake.commitUpsert(spark, dir, "doc_id",
        Seq((1L, "a")).toDF("doc_id", "body"))
    }
    assert(ex2.getMessage.contains("columns"))
    val ex3 = intercept[IllegalArgumentException] {
      VersionedLake.commitUpsert(spark, fresh("vlake_upse_"), "doc_id",
        Seq((1L, "a")).toDF("doc_id", "text"))
    }
    assert(ex3.getMessage.contains("empty lake"))
    // failed attempts committed nothing
    assert(VersionedLake.currentVersion(spark, dir) === 1L)
    // pure insert: no file rewritten, and the new file gets stats
    val (v, nFiles, nUpd) = VersionedLake.commitUpsert(spark, dir,
      "doc_id", docs(50, 55))
    assert(v === 2L && nFiles === 0L && nUpd === 0L)
    assert(idSet(VersionedLake.read(spark, dir)) ===
      ((0L until 5L) ++ (50L until 55L)).toSet)
    assert(VersionedLake.statsColOf(spark, dir, v) === Some("doc_id"))
    val (kept, total) = VersionedLake.rangeFiles(spark, dir, v, 50L, 54L)
    assert(total === 2L && kept.size === 1,
      "the insert commit's file must carry prunable stats")
  }

  test("changesBetween: typed insert/delete/update changes from the " +
      "manifest diff; compaction and no-op spans diff to zero") {
    val dir = fresh("vlake_cdf_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    VersionedLake.commitUpsert(spark, dir, "doc_id",
      Seq((3L, "patched 3"), (50L, "new 50")).toDF("doc_id", "text")): Unit
    VersionedLake.commitDelete(spark, dir, "doc_id",
      Seq(4L).toDF("doc_id")): Unit
    val c12 = VersionedLake.changesBetween(spark, dir, 1, 2, "doc_id")
      .collect().map(r => (r.getAs[String]("change_type"),
        r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(c12 === Set(
      ("update_preimage", 3L, "text of doc 3"),
      ("update_postimage", 3L, "patched 3"),
      ("insert", 50L, "new 50")))
    val c23 = VersionedLake.changesBetween(spark, dir, 2, 3, "doc_id")
      .collect().map(r => (r.getAs[String]("change_type"),
        r.getAs[Long]("doc_id"))).toSet
    assert(c23 === Set(("delete", 4L)))
    // the net feed across the whole span composes both commits
    val c13 = VersionedLake.changesBetween(spark, dir, 1, 3, "doc_id")
      .collect().map(r => (r.getAs[String]("change_type"),
        r.getAs[Long]("doc_id"))).toSet
    assert(c13 === Set(("update_preimage", 3L), ("update_postimage", 3L),
      ("insert", 50L), ("delete", 4L)))
    // compaction rewrites every file name but changes no membership
    val pre = VersionedLake.currentVersion(spark, dir)
    val post = VersionedLake.compact(spark, dir, nFiles = 1)
    assert(VersionedLake.changesBetween(spark, dir, pre, post, "doc_id")
      .count() === 0L)
    // equal endpoints share every file: an empty feed under the header
    // (or under a schemaHint, when given)
    val hint = docs(0, 1).schema
    assert(VersionedLake.changesBetween(spark, dir, post, post, "doc_id",
      Some(hint)).count() === 0L)
    val same = VersionedLake.changesBetween(spark, dir, post, post, "doc_id")
    assert(same.count() === 0L)
    assert(same.columns.toSeq ===
      VersionedLake.schemaOf(spark, dir, post).fieldNames.toSeq :+ "change_type")
    intercept[IllegalArgumentException] {
      VersionedLake.changesBetween(spark, dir, 3, 1, "doc_id")
    }
  }

  test("changesBetween reads only the files the versions do not share") {
    val dir = fresh("vlake_cdfscope_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 20)): Unit
    VersionedLake.commitDelete(spark, dir, "doc_id",
      Seq(12L).toDF("doc_id")): Unit
    // corrupt commit 1's file AFTER the fact: a feed over 2->3 must not
    // even open it (only commit 2's file left, and v3's rewrite arrived)
    filesAddedBy(dir, 1L).foreach { rel =>
      val f = new java.io.File(s"$dir/data/$rel")
      val out = new java.io.FileOutputStream(f)
      out.write(Array.fill(16)(0x5a.toByte)); out.close()
    }
    val c23 = VersionedLake.changesBetween(spark, dir, 2, 3, "doc_id")
      .collect().map(r => (r.getAs[String]("change_type"),
        r.getAs[Long]("doc_id"))).toSet
    assert(c23 === Set(("delete", 12L)))
  }

  test("streaming MERGE: batch 0 creates the lake, replay is a no-op, " +
      "interleaved maintenance cannot blind the check, last writer wins") {
    val dir = fresh("vlake_smerge_")
    assert(VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
      docs(0, 10), 0L) === 1L)
    // batch 1 updates 2/4 and inserts 50
    val b1 = Seq((2L, "b1 two"), (4L, "b1 four"), (50L, "b1 fifty"))
      .toDF("doc_id", "text")
    assert(VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
      b1, 1L) === 2L)
    // replay batch 1 with garbage: recognized, nothing written
    assert(VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
      Seq((2L, "GARBAGE")).toDF("doc_id", "text"), 1L) === 2L)
    // headerless maintenance delete interleaves
    VersionedLake.commitDelete(spark, dir, "doc_id",
      Seq(3L).toDF("doc_id")): Unit
    assert(VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
      Seq((2L, "GARBAGE")).toDF("doc_id", "text"), 1L) === 2L)
    // batch 2 re-updates 2: across batches, last writer wins
    assert(VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
      Seq((2L, "b2 two")).toDF("doc_id", "text"), 2L) === 4L)
    val now = VersionedLake.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now(2L) === "b2 two" && now(4L) === "b1 four" &&
      now(50L) === "b1 fifty" && !now.contains(3L) &&
      now(9L) === "text of doc 9")
    // an OLDER batch id = a foreign checkpoint — loud
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
        docs(0, 1), 1L)
    }
    assert(ex.getMessage.contains("does not belong"))
  }

  test("upsertStream drains a CDC stream one MERGE version per batch, " +
      "exactly once across a restart") {
    val dir = fresh("vlake_ustream_")
    val srcDir = fresh("vlake_usrc_")
    val ckpt = fresh("vlake_uckpt_")
    // sequential drains pin the cross-batch order: base, then updates
    docs(0, 20).write.mode("overwrite").parquet(srcDir)
    def drain(): Unit = {
      val st = spark.readStream.schema(docs(0, 1).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      VersionedLake.upsertStream(st, dir, "doc_id", ckpt)
    }
    drain()
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 20L).toSet)
    Seq((5L, "patched"), (90L, "new")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    drain()
    val now = VersionedLake.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now(5L) === "patched" && now(90L) === "new" &&
      now.size === 21)
    // restart on the same checkpoint: nothing new, no new version
    val v = VersionedLake.currentVersion(spark, dir)
    drain()
    assert(VersionedLake.currentVersion(spark, dir) === v)
  }

  test("clustered compaction: interleaved ingest admits every file, " +
      "the sorted rewrite prunes, content identical") {
    val dir = fresh("vlake_clus_")
    // two interleaved commits, each spanning the whole id domain
    val all = (0L until 100L)
    VersionedLake.commitAppend(spark, dir,
      all.filter(_ % 2 == 0).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartition(2), statsCol = Some("doc_id")): Unit
    VersionedLake.commitAppend(spark, dir,
      all.filter(_ % 2 == 1).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartition(2)): Unit
    val pre = VersionedLake.currentVersion(spark, dir)
    val (keptPre, totalPre) = VersionedLake.rangeFiles(spark, dir, pre,
      25L, 49L)
    assert(totalPre === 4L && keptPre.size === 4,
      "interleaved files all span the range — nothing can prune")
    val post = VersionedLake.compact(spark, dir, nFiles = 4,
      sortCol = Some("doc_id"))
    val (keptPost, totalPost) = VersionedLake.rangeFiles(spark, dir, post,
      25L, 49L)
    assert(totalPost >= 2L && keptPost.size < totalPost.toInt,
      s"clustered stats must prune (kept ${keptPost.size}/$totalPost)")
    assert(idSet(VersionedLake.readAsOfRange(spark, dir, post, 25L, 49L))
      === (25L to 49L).toSet)
    assert(idSet(VersionedLake.readAsOf(spark, dir, post)) ===
      idSet(VersionedLake.readAsOf(spark, dir, pre)))
  }

  test("range delete: fully-covered files drop manifest-only (never " +
      "read), straddlers rewrite, nulls survive, accounting exact") {
    val dir = fresh("vlake_ttl_")
    // 3 disjoint single-file ranges + one file with a NULL stats row
    VersionedLake.commitAppend(spark, dir, docs(0, 10),
      statsCol = Some("doc_id")): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 20)): Unit
    VersionedLake.commitAppend(spark, dir, docs(20, 30)): Unit
    VersionedLake.commitAppend(spark, dir,
      Seq[(java.lang.Long, String)]((12L, "t12"), (null, "tnull"))
        .toDF("doc_id", "text").repartition(1)): Unit
    val before = dataFiles(dir)
    // range covers commit 2 whole, straddles commit 3's lower half,
    // and fully covers the null-bearing file's non-null value (12)
    val (v, nDropped, nRewritten, nRemoved) =
      VersionedLake.commitDeleteRange(spark, dir, 10L, 24L)
    assert(v === 5L && nDropped === 1L && nRemoved === 16L)
    // the null-bearing file records (12, 12, nulls=1): fully inside the
    // range but NOT provably null-free, so it must REWRITE (its null
    // row survives) — a whole-file drop would delete the null row the
    // contract protects
    assert(nRewritten === 2L,
      "commit 3's straddler + the null-bearing file must rewrite")
    val now = VersionedLake.read(spark, dir)
    assert(idSet(now.filter(col("doc_id").isNotNull)) ===
      ((0L until 10L) ++ (25L until 30L)).toSet)
    assert(now.filter(col("doc_id").isNull).count() === 1L,
      "null rows never match a range — they must survive")
    // the dropped file was never read OR deleted: byte-stable on disk
    // (time travel), just absent from the new manifest
    val after = dataFiles(dir)
    assert(before.keys.forall(k => after(k) === before(k)),
      "range delete must not touch any existing data file")
    assert(idSet(VersionedLake.readAsOf(spark, dir, 2)) ===
      (0L until 20L).toSet, "prior version changed by a range delete")
    // empty intersection commits nothing
    assert(VersionedLake.commitDeleteRange(spark, dir, 500L, 600L) ===
      ((0L, 0L, 0L, 0L)))
    // a stats-free lake refuses the range delete
    val bare = fresh("vlake_ttlbare_")
    VersionedLake.commitAppend(spark, bare, docs(0, 5)): Unit
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.commitDeleteRange(spark, bare, 0L, 10L)
    }
    assert(ex.getMessage.contains("no manifest statistics"))
  }

  test("cluster-then-TTL composition: after sorted compaction a " +
      "retention range drops whole files manifest-only") {
    val dir = fresh("vlake_clttl_")
    // interleaved ingest: every file spans the whole domain, so a TTL
    // delete would have to rewrite everything
    val all = (0L until 100L)
    VersionedLake.commitAppend(spark, dir,
      all.filter(_ % 2 == 0).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartition(2), statsCol = Some("doc_id")): Unit
    VersionedLake.commitAppend(spark, dir,
      all.filter(_ % 2 == 1).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartition(2)): Unit
    VersionedLake.compact(spark, dir, nFiles = 4,
      sortCol = Some("doc_id")): Unit
    // the clustered layout turns the retention sweep metadata-only for
    // the fully-aged files: [0, 49] must whole-drop at least one file
    val (_, nDropped, nRewritten, nRemoved) =
      VersionedLake.commitDeleteRange(spark, dir, 0L, 49L)
    assert(nRemoved === 50L)
    assert(nDropped >= 1L,
      s"clustered files inside [0,49] must drop manifest-only " +
        s"(dropped=$nDropped rewritten=$nRewritten)")
    assert(idSet(VersionedLake.read(spark, dir)) === (50L until 100L).toSet)
  }

  test("restore: rollback as a new manifest-only commit, history " +
      "linear, bad commit inspectable, vacuum keeps restored files") {
    val dir = fresh("vlake_rst_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10),
      statsCol = Some("doc_id")): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 20)): Unit
    VersionedLake.commitDelete(spark, dir, "doc_id",
      (0L until 15L).toDF("doc_id")): Unit // the fat-finger delete
    val before = dataFiles(dir)
    val v = VersionedLake.restore(spark, dir, 2L)
    assert(v === 4L)
    // restore touched NO data file (manifest-only commit)
    val after = dataFiles(dir)
    assert(after === before, "restore must not write or rewrite data")
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 20L).toSet)
    // history stays linear and the bad commit stays inspectable
    assert(VersionedLake.versions(spark, dir) === Seq(1L, 2L, 3L, 4L))
    assert(idSet(VersionedLake.readAsOf(spark, dir, 3)) ===
      (15L until 20L).toSet)
    // the restored state carries the restored version's stats contract
    assert(VersionedLake.statsColOf(spark, dir, v) === Some("doc_id"))
    // the lake keeps committing on top of the restored state
    VersionedLake.commitAppend(spark, dir, docs(20, 25)): Unit
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 25L).toSet)
    // vacuum to the restore keeps every file it references
    VersionedLake.vacuum(spark, dir, keepFrom = 4L, force = true): Unit
    assert(idSet(VersionedLake.readAsOf(spark, dir, 4)) ===
      (0L until 20L).toSet)
    // guards: restoring the current version, or a vacuumed one, is loud
    intercept[IllegalArgumentException] {
      VersionedLake.restore(spark, dir, VersionedLake.currentVersion(spark, dir))
    }
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.restore(spark, dir, 1L)
    }
    assert(ex.getMessage.contains("no version 1"))
  }

  test("timestamp time travel: versionAsOf from manifest mtimes") {
    val dir = fresh("vlake_ts_")
    VersionedLake.commitAppend(spark, dir, docs(0, 5)): Unit
    Thread.sleep(15) // distinct manifest mtimes
    VersionedLake.commitAppend(spark, dir, docs(5, 10)): Unit
    val times = VersionedLake.commitTimes(spark, dir)
    assert(times.map(_._1) === Seq(1L, 2L))
    assert(times(0)._2 < times(1)._2, "commit times must be monotone")
    assert(VersionedLake.versionAsOf(spark, dir, times(0)._2) === 1L)
    assert(VersionedLake.versionAsOf(spark, dir, times(1)._2 - 1) === 1L)
    assert(VersionedLake.versionAsOf(spark, dir, times(1)._2) === 2L)
    assert(idSet(VersionedLake.readAsOfTimestamp(spark, dir,
      times(0)._2)) === (0L until 5L).toSet)
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.versionAsOf(spark, dir, times(0)._2 - 1)
    }
    assert(ex.getMessage.contains("predates"))
  }

  test("empty v1 append reads back as a typed empty frame via schemaHint") {
    val dir = fresh("vlake_empty_")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    VersionedLake.commitAppend(spark, dir, empty): Unit
    val back = VersionedLake.readAsOf(spark, dir, 1, Some(schema))
    assert(back.schema === schema && back.count() === 0L)
  }
}
