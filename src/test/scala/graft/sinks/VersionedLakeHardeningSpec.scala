package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 lake hardening ([[VersionedLake]]). Pinned:
  *  - optimistic append concurrency: a racing writer landing the probed
  *    version forces a rebase-retry, and BOTH appends land (versions n
  *    and n+1, union membership) — deterministically via the
  *    `beforePublish` seam and end-to-end with real racing threads;
  *  - commit timestamps ride the manifest (`#ts=` header), so time
  *    travel survives an mtime scramble (the cp/rsync lake-copy shape);
  *  - multi-column manifest statistics prune independently per column,
  *    and the range delete works on a named non-first column;
  *  - schema evolution: an append may widen the schema, an upsert may
  *    carry new columns, changesBetween reads old preimages' missing
  *    columns as NULL, and a TYPE-mismatched upsert fails loudly
  *    instead of silently coercing the lake;
  *  - restore rewinds the streaming batch cursor with the state, so
  *    re-delivered batches re-apply instead of being silently skipped.
  */
class VersionedLakeHardeningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"text of doc $i")).toDF("doc_id", "text")
      .repartition(1)

  private def fresh(tag: String): String =
    Files.createTempDirectory(tag).toString + "/lake"

  private def idSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("optimistic append: a racing writer landing first forces a " +
      "rebase — both appends land, stats carried through the rebase") {
    val dir = fresh("vlake_opt_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10),
      statsCol = Some("doc_id")): Unit
    // writer B lands version 2 INSIDE writer A's publish window (after
    // A computed its entries for version 2, before A's rename) — the
    // deterministic interleave the beforePublish seam exists for
    var raced = false
    val vA = VersionedLake.commitAppend(spark, dir, docs(10, 20),
      beforePublish = () => if (!raced) {
        raced = true
        assert(VersionedLake.commitAppend(spark, dir, docs(20, 30)) === 2L)
      })
    assert(vA === 3L, "loser must rebase onto the winner and land next")
    assert(idSet(VersionedLake.readAsOf(spark, dir, 2)) ===
      ((0L until 10L) ++ (20L until 30L)).toSet)
    assert(idSet(VersionedLake.readAsOf(spark, dir, 3)) ===
      (0L until 30L).toSet, "union membership after the race")
    // the rebased commit still carries prunable stats for ITS files
    val (kept, total) = VersionedLake.rangeFiles(spark, dir, 3L, 10L, 19L)
    assert(total === 3L && kept.size === 1,
      s"rebased append's stats must prune (kept ${kept.size}/$total)")
    // mutations stay single-writer: racing one against an append is the
    // caller's bug and the manifest-exists guard still fires (driven
    // directly — the loser's shape, whoever it is)
    val (fs, base) = (new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(dir))
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.writeManifest(fs, base, 3L, Seq("data/c3/forged.parquet"))
    }
    assert(ex.getMessage.contains("already committed"))
  }

  test("optimistic append: four real racing threads all land, versions " +
      "contiguous, membership the union") {
    val dir = fresh("vlake_race4_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    val errs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    val landed = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        try landed.add(VersionedLake.commitAppend(spark, dir,
          docs(10 + t * 10, 20 + t * 10))): Unit
        catch { case e: Throwable => errs.add(e): Unit })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"racing append failed: ${errs}")
    import scala.jdk.CollectionConverters._
    assert(landed.asScala.toSet === Set(2L, 3L, 4L, 5L),
      s"every racer must land its own version (got $landed)")
    assert(VersionedLake.currentVersion(spark, dir) === 5L)
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 50L).toSet,
      "no racer's rows may be lost")
  }

  test("commit timestamps ride the manifest: time travel survives an " +
      "mtime scramble (lake copy)") {
    val dir = fresh("vlake_tscopy_")
    VersionedLake.commitAppend(spark, dir, docs(0, 5)): Unit
    Thread.sleep(15)
    VersionedLake.commitAppend(spark, dir, docs(5, 10)): Unit
    val times = VersionedLake.commitTimes(spark, dir)
    assert(times(0)._2 < times(1)._2)
    // simulate cp/rsync/object-store migration: every manifest gets a
    // fresh mtime far in the future
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scrambled = System.currentTimeMillis() + 3600000L
    VersionedLake.versions(spark, dir).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(base,
        f"_versions/v$v%06d.txt"), scrambled, -1)
    }
    assert(VersionedLake.commitTimes(spark, dir) === times,
      "#ts headers must win over the scrambled mtimes")
    assert(VersionedLake.versionAsOf(spark, dir, times(0)._2) === 1L)
    assert(idSet(VersionedLake.readAsOfTimestamp(spark, dir,
      times(0)._2)) === (0L until 5L).toSet)
  }

  test("multi-column stats: both dimensions prune independently; range " +
      "delete works on the named second column") {
    val dir = fresh("vlake_mcol_")
    // 4 commits over a (doc_id, shard) grid: doc_id quartiles x shards,
    // so doc_id stats prune one axis and shard stats the other
    (0 until 4).foreach { m =>
      VersionedLake.commitAppend(spark, dir,
        (0L until 25L).map(i => (m * 25L + i, (m % 2).toLong, s"t$m-$i"))
          .toDF("doc_id", "shard", "text").repartition(1),
        statsCol = if (m == 0) Some("doc_id,shard") else None): Unit
    }
    val v = VersionedLake.currentVersion(spark, dir)
    assert(VersionedLake.statsColsOf(spark, dir, v) ===
      Seq("doc_id", "shard"))
    // first column (positional API unchanged): one quartile admits 1/4
    val (k1, t1) = VersionedLake.rangeFiles(spark, dir, v, 25L, 49L)
    assert(t1 === 4L && k1.size === 1)
    // second column by name: shard 1 lives in commits 2 and 4
    val (k2, t2) = VersionedLake.rangeFiles(spark, dir, v, "shard", 1L, 1L)
    assert(t2 === 4L && k2.size === 2,
      s"shard stats must prune the other axis (kept ${k2.size}/$t2)")
    assert(idSet(VersionedLake.readAsOfRange(spark, dir, v, "shard",
      1L, 1L, None)) ===
      ((25L until 50L) ++ (75L until 100L)).toSet)
    // range delete on the SECOND column drops shard-1 files whole
    val (dv, nDropped, nRewritten, nRemoved) =
      VersionedLake.commitDeleteRange(spark, dir, "shard", 1L, 1L)
    assert(dv === v + 1 && nDropped === 2L && nRewritten === 0L &&
      nRemoved === 50L)
    assert(idSet(VersionedLake.read(spark, dir)) ===
      ((0L until 25L) ++ (50L until 75L)).toSet)
    // an unknown stats column is loud
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.commitDeleteRange(spark, dir, "nope", 0L, 1L)
    }
    assert(ex.getMessage.contains("no manifest statistics on 'nope'"))
  }

  test("Z-order compaction: both axes prune after the pass, membership " +
      "identical, unequal ranges normalized, nulls survive") {
    val dir = fresh("vlake_zord_")
    // (x, y) grid where interleaved commits span BOTH domains: x 0..99,
    // y = a decorrelated permutation-ish spread (x * 37 mod 100)
    val rows = (0L until 100L).map(x => (x, (x * 37L) % 100L, s"t$x"))
    (0 until 4).foreach { m =>
      VersionedLake.commitAppend(spark, dir,
        rows.filter(_._1 % 4 == m).toDF("x", "y", "text").repartition(2),
        statsCol = if (m == 0) Some("x,y") else None): Unit
    }
    val pre = VersionedLake.currentVersion(spark, dir)
    val (preX, totalPre) = VersionedLake.rangeFiles(spark, dir, pre,
      "x", 0L, 24L)
    val (preY, _) = VersionedLake.rangeFiles(spark, dir, pre,
      "y", 0L, 49L)
    assert(totalPre === 8L && preX.size === 8 && preY.size === 8,
      "interleaved ingest must admit everything on both axes")
    val post = VersionedLake.compactZOrder(spark, dir, "x", "y",
      nFiles = 8, bits = 8)
    val (postX, totalPost) = VersionedLake.rangeFiles(spark, dir, post,
      "x", 0L, 24L)
    val (postY, _) = VersionedLake.rangeFiles(spark, dir, post,
      "y", 0L, 49L)
    assert(postX.size < totalPost.toInt,
      s"x-axis must prune post-zorder (${postX.size}/$totalPost)")
    assert(postY.size < totalPost.toInt,
      s"y-axis must prune post-zorder (${postY.size}/$totalPost)")
    // membership identical across the pass; the 2-dim read is exact
    assert(idSet(VersionedLake.readAsOf(spark, dir, post)
      .withColumnRenamed("x", "doc_id")) ===
      idSet(VersionedLake.readAsOf(spark, dir, pre)
        .withColumnRenamed("x", "doc_id")))
    assert(idSet(VersionedLake.readAsOfRange(spark, dir, post, "x",
      0L, 24L, None).filter(col("y") <= 49L)
      .withColumnRenamed("x", "doc_id")) ===
      rows.filter(r => r._1 <= 24L && r._2 <= 49L).map(_._1).toSet)
    // UNEQUAL ranges: a wide x (0..99k) against a narrow y (0..99) —
    // raw interleaving would hand every top z bit to x and y would
    // never prune (the failure the sf0.1 sweep caught); normalization
    // must make BOTH axes prune
    val dir2 = fresh("vlake_zwide_")
    val wide = (0L until 100L).map(i =>
      (i * 1000L, (i * 37L) % 100L, s"w$i"))
    (0 until 2).foreach { m =>
      VersionedLake.commitAppend(spark, dir2,
        wide.filter(_._1 / 1000L % 2 == m).toDF("x", "y", "text")
          .repartition(2), statsCol = if (m == 0) Some("x,y") else None)
        : Unit
    }
    val post2 = VersionedLake.compactZOrder(spark, dir2, "x", "y",
      nFiles = 8, bits = 16)
    val (wx, wt) = VersionedLake.rangeFiles(spark, dir2, post2, "x",
      0L, 24000L)
    val (wy, _) = VersionedLake.rangeFiles(spark, dir2, post2, "y",
      0L, 49L)
    assert(wx.size < wt.toInt, s"wide x must prune (${wx.size}/$wt)")
    assert(wy.size < wt.toInt,
      s"NARROW y must prune after normalization (${wy.size}/$wt)")
    // nulls in a z column sort into the leading file and survive
    val dir3 = fresh("vlake_znull_")
    VersionedLake.commitAppend(spark, dir3,
      (Seq[(java.lang.Long, java.lang.Long, String)]((null, 5L, "nx")) ++
        (0L until 20L).map(i =>
          (java.lang.Long.valueOf(i), java.lang.Long.valueOf(i), s"n$i")))
        .toDF("x", "y", "text"),
      statsCol = Some("x,y")): Unit
    val post3 = VersionedLake.compactZOrder(spark, dir3, "x", "y",
      nFiles = 2, bits = 8)
    val now = VersionedLake.readAsOf(spark, dir3, post3)
    assert(now.count() === 21L)
    assert(now.filter(col("x").isNull).count() === 1L,
      "a null z-column row must survive the rewrite")
  }

  test("schema evolution: appends widen, upserts carry new columns, " +
      "changesBetween reads old preimages as NULL, type drift is loud") {
    val dir = fresh("vlake_evo_")
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    // vintage 2 ADDS a column
    VersionedLake.commitAppend(spark, dir,
      docs(10, 15).withColumn("lang", lit("en"))): Unit
    // vintage 3: an upsert carrying the evolved schema touches a
    // vintage-1 row (whose file predates the column) and inserts
    val updates = Seq((3L, "patched 3", "de"), (50L, "new 50", "fr"))
      .toDF("doc_id", "text", "lang")
    val (v3, nFiles, nUpd) = VersionedLake.commitUpsert(
      spark, dir, "doc_id", updates)
    assert(v3 === 3L && nFiles === 1L && nUpd === 1L)
    val full = VersionedLake.readAsOf(spark, dir, v3)
    assert(full.columns.toSet === Set("doc_id", "text", "lang"))
    assert(full.filter(col("lang").isNull).count() === 9L,
      "un-upserted vintage-1 rows read the new column as NULL")
    assert(full.filter(col("doc_id") === 3L).collect()(0)
      .getAs[String]("lang") === "de")
    // the change feed across the evolution boundary: vintage-1
    // preimages carry lang = NULL, postimages the updated value
    val feed = VersionedLake.changesBetween(spark, dir, 1L, 3L, "doc_id")
    val rows = feed.collect().map(r => (r.getAs[String]("change_type"),
      r.getAs[Long]("doc_id"), r.getAs[String]("lang"))).toSet
    assert(rows.contains(("update_preimage", 3L, null)))
    assert(rows.contains(("update_postimage", 3L, "de")))
    assert(rows.contains(("insert", 50L, "fr")))
    assert(rows.contains(("insert", 10L, "en")))
    // TYPE drift fails loudly — no silent union coercion
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.commitUpsert(spark, dir, "doc_id",
        Seq(("7", "oops", "en")).toDF("doc_id", "text", "lang"))
    }
    assert(ex.getMessage.contains("cast explicitly"))
    // dropping a lake column is refused (evolution only ADDS)
    val ex2 = intercept[IllegalArgumentException] {
      VersionedLake.commitUpsert(spark, dir, "doc_id",
        Seq((7L, "oops")).toDF("doc_id", "text"))
    }
    assert(ex2.getMessage.contains("lack lake column"))
  }

  test("time-based retention: vacuumBefore drops exactly the commits " +
      "older than the cutoff, keeps the newest regardless, and the " +
      "history frame carries header-driven commit times") {
    val dir = fresh("vlake_ret_")
    VersionedLake.commitAppend(spark, dir, docs(0, 5)): Unit
    Thread.sleep(15)
    VersionedLake.commitAppend(spark, dir, docs(5, 10)): Unit
    Thread.sleep(15)
    VersionedLake.commitAppend(spark, dir, docs(10, 15)): Unit
    val times = VersionedLake.commitTimes(spark, dir)
    // history exposes the same header-driven instants
    val h = VersionedLake.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(times.forall { case (v, t) => h(v) == t })
    // a cutoff older than everything is a no-op
    assert(VersionedLake.vacuumBefore(spark, dir, times.head._2) ===
      ((0L, 0L)))
    // cutoff at v2's instant: v1 drops, v2/v3 survive and read exactly
    val (dropped, _) = VersionedLake.vacuumBefore(spark, dir, times(1)._2,
      force = true)
    assert(dropped === 1L)
    assert(VersionedLake.versions(spark, dir) === Seq(2L, 3L))
    assert(idSet(VersionedLake.readAsOf(spark, dir, 2L)) ===
      (0L until 10L).toSet)
    // a cutoff NEWER than every commit keeps the newest version anyway
    val (dropped2, _) = VersionedLake.vacuumBefore(spark, dir,
      times(2)._2 + 3600000L, force = true)
    assert(dropped2 === 1L, "only v2 drops — the newest always survives")
    assert(VersionedLake.versions(spark, dir) === Seq(3L))
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 15L).toSet)
  }

  test("restore rewinds the streaming batch cursor: rolled-back " +
      "batches re-apply, pre-stream restores reset to -1") {
    val dir = fresh("vlake_cursor_")
    assert(VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
      docs(0, 10), 0L) === 1L)
    assert(VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
      Seq((2L, "U1")).toDF("doc_id", "text"), 1L) === 2L)
    // roll batch 1 back; without the cursor stamp a re-delivered batch
    // 1 would be read as already-committed and silently dropped
    val v3 = VersionedLake.restore(spark, dir, 1L)
    assert(v3 === 3L)
    assert(VersionedLake.read(spark, dir)
      .filter(col("doc_id") === 2L).collect()(0)
      .getAs[String]("text") === "text of doc 2")
    val v4 = VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
      Seq((2L, "U1-redelivered")).toDF("doc_id", "text"), 1L)
    assert(v4 === 4L, "re-delivered batch must RE-APPLY after the restore")
    assert(VersionedLake.read(spark, dir)
      .filter(col("doc_id") === 2L).collect()(0)
      .getAs[String]("text") === "U1-redelivered")
    // batch 0 (still reflected in the restored state) still dedupes
    assert(VersionedLake.commitUpsertForBatch(spark, dir, "doc_id",
      docs(0, 1), 1L) === 4L, "replay of the newest batch is a no-op")
    // a restore BEHIND every batch resets the cursor to -1: batch 0
    // re-applies
    val dir2 = fresh("vlake_cursor0_")
    VersionedLake.commitAppend(spark, dir2, docs(0, 5)): Unit
    assert(VersionedLake.commitUpsertForBatch(spark, dir2, "doc_id",
      Seq((1L, "B0")).toDF("doc_id", "text"), 0L) === 2L)
    VersionedLake.restore(spark, dir2, 1L): Unit
    val v4b = VersionedLake.commitUpsertForBatch(spark, dir2, "doc_id",
      Seq((1L, "B0-redelivered")).toDF("doc_id", "text"), 0L)
    assert(v4b === 4L, "pre-stream restore must reset the cursor")
    assert(VersionedLake.read(spark, dir2)
      .filter(col("doc_id") === 1L).collect()(0)
      .getAs[String]("text") === "B0-redelivered")
  }
}
