package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Scale evidence for the round-13 maintenance/streaming surface — the
  * two scaladoc claims that deserve measurement rather than assertion:
  *
  *  1. [[Similarity.compactIvfLake]] costs append CHURN, not the lake:
  *     an append clustered into a few cells (one topic's batch) leaves
  *     most cells single-file, and compaction rewrites only the fat
  *     ones — measured against a spread append that fattens every
  *     cell, same corpus, same lake size.
  *  2. [[graft.streaming.NearDupStream]]'s per-batch match is a SCAN
  *     of the persisted state (never a shuffle of it): wall grows
  *     about linearly in corpus size while the candidate and verify
  *     work stays delta-sized — and the streamed result equals the
  *     one-shot batch operator at every scale.
  *
  * Run: `sbt "runMain graft.tools.MaintScaleProfile"` (SPARK_GRAFT_CPUS
  * to size the session; scales 10⁵ and 10⁶ like the sibling profiles).
  */
object MaintScaleProfile {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional arg: run one section only (fast re-measure after a fix)
    val only = args.headOption
    def want(s: String) = only.forall(_ == s)
    if (want("compaction")) compaction(spark)
    if (want("neardup")) nearDupStream(spark)
    if (want("heavydup")) heavyDupGate(spark)
    if (want("refsketch")) refSketch(spark)
    if (want("vlake")) versionedLake(spark)
    if (want("vcdc")) versionedLakeCdc(spark)
    if (want("indexlake")) indexLake(spark)
    if (want("ixcompact")) indexLakeCompaction(spark)
    if (want("zorder")) zOrderLake(spark)
    if (want("zorder3")) zOrder3Lake(spark)
    if (want("meta")) metaLake(spark)
    if (want("metascale")) metaScale(spark)
    if (want("upsertskip")) upsertSkip(spark)
    spark.stop()
  }

  /** Round-18: the manifest-stats MERGE/delete candidate skip at a
    * scale where it shows (the sf0.1 fixtures' update ids span every
    * file, so the bench cannot). A 10⁶-row lake lands as 50 id-ranged
    * commits (each commit owns a disjoint 20k-id slice — the CDC/
    * time-ordered ingest shape where ids correlate with arrival);
    * the SAME narrow-churn MERGE and delete then run against (a) a
    * stats-carrying twin, where the id-range probe admits only the
    * intersecting files, and (b) a stats-free twin, where discovery
    * must scan the id column of every file. Same rows, same churn,
    * same session — the wall/job delta IS the skip.
    */
  private def upsertSkip(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.sinks.VersionedLake
    println("== round-18: MERGE/delete candidate skip (10^6 rows) ==")
    val base = java.nio.file.Files
      .createTempDirectory("graft_upsertskip_").toString
    val nCommits = 50
    val perCommit = 20000
    def build(dir: String, stats: Boolean): Unit =
      (0 until nCommits).foreach { k =>
        val lo = k.toLong * perCommit
        val rows = spark.range(lo, lo + perCommit)
          .select(col("id"), concat(lit("payload-"), col("id")).as("text"),
            (col("id") % 97).as("score"))
        VersionedLake.commitAppend(spark, dir, rows.repartition(1),
          statsCol = if (stats && k == 0) Some("id") else None): Unit
      }
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"  $label%-44s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    val warm = s"$base/warmup"
    // throwaway warmup lake: pays codegen/JVM warmup so neither twin
    // below carries it (the first measured variant is otherwise ~2x)
    (0 until 5).foreach { k =>
      VersionedLake.commitAppend(spark, warm,
        spark.range(k * 100L, k * 100L + 100)
          .select(col("id"), concat(lit("w"), col("id")).as("text"),
            (col("id") % 7).as("score")).repartition(1),
        statsCol = if (k == 0) Some("id") else None): Unit
    }
    VersionedLake.commitUpsert(spark, warm, "id",
      spark.range(50L, 60L).select(col("id"),
        lit("u").as("text"), lit(0L).as("score"))): Unit
    VersionedLake.commitDelete(spark, warm, "id",
      spark.range(10L, 20L).select(col("id"))): Unit
    val withStats = s"$base/with_stats"
    val noStats = s"$base/no_stats"
    t("build 50-commit lake (stats on id)")(build(withStats, true))
    t("build 50-commit lake (no stats)")(build(noStats, false))
    // per-round FRESH narrow churn (disjoint ranges per round, so every
    // round's update set hits exactly two base commits' id slices and
    // every delete range is live) — and the variant ORDER alternates so
    // host drift cancels
    for (round <- 1 to 4) {
      println(s"-- round $round --")
      val uLo = 300000L + round * 40000L
      val dLo = 800000L + round * 20000L
      def updates = spark.range(uLo, uLo + 200)
        .union(spark.range(uLo + 100000L, uLo + 100100L))
        .union(spark.range(2000000L + round * 1000L,
          2000000L + round * 1000L + 50)) // pure inserts
        .select(col("id"), concat(lit("UPDATED-"), col("id")).as("text"),
          (col("id") % 89).as("score"))
      def dels = spark.range(dLo, dLo + 300).select(col("id"))
      val order =
        if (round % 2 == 1) Seq(withStats -> "WITH id stats",
          noStats -> "NO stats")
        else Seq(noStats -> "NO stats", withStats -> "WITH id stats")
      val up = order.map { case (dir, tag) =>
        t(s"commitUpsert $tag") {
          VersionedLake.commitUpsert(spark, dir, "id", updates)
        }
      }
      require(up(0)._2 == up(1)._2 && up(0)._3 == up(1)._3,
        s"skip changed the outcome: $up")
      val dl = order.map { case (dir, tag) =>
        t(s"commitDelete $tag") {
          VersionedLake.commitDelete(spark, dir, "id", dels)
        }
      }
      require(dl(0)._2 == dl(1)._2 && dl(0)._3 == dl(1)._3,
        s"skip changed the outcome: $dl")
      println(s"  outcomes identical: upsert rw=${up(0)._2} " +
        s"up=${up(0)._3}, delete files=${dl(0)._2} removed=${dl(0)._3}")
    }
  }

  /** Round-17: the metadata asymptotics at the scale the claims speak
    * to — 10^3 commits / 10^4 files (the r16 evidence topped out at 60
    * commits / 180 files). Measures, with the engine's own counters:
    * per-commit manifest bytes (delta vs region-anchor index + fresh
    * regions), currentVersion's checkpoint forward probe (ZERO
    * `_versions/` listings, O(commits-since-checkpoint) opens),
    * commitTimes/history walls and opens, and a MERGE's footer sweeps
    * (zero) on the 10^4-file lake.
    */
  private def metaScale(spark: SparkSession): Unit = {
    import graft.sinks.VersionedLake
    val root = java.nio.file.Files
      .createTempDirectory("maint_metascale_").toString
    val dir = s"$root/lake"
    val nCommits = 1000
    val docs = spark.range(100000L).select(col("id"),
      concat(lit("payload "), col("id")).as("text"))
    val tb0 = System.nanoTime()
    (0 until nCommits).foreach { m =>
      VersionedLake.commitAppend(spark, dir,
        docs.filter(pmod(col("id"), lit(1000L)) === m)
          .repartition(10)): Unit
      if ((m + 1) % 200 == 0)
        println(s"[metascale] ${m + 1}/$nCommits commits, " +
          f"${(System.nanoTime() - tb0) / 1e9}%.0f s")
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = VersionedLake
      .filesOf(spark, dir, nCommits.toLong).size
    def mBytes(v: Long): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(dir, f"_versions/v$v%06d.txt")).getLen
    def refs(v: Long): Set[String] = {
      val in = fs.open(
        new org.apache.hadoop.fs.Path(dir, f"_versions/v$v%06d.txt"))
      val text = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      text.split("\n").iterator.map(_.trim)
        .filter(_.startsWith("@")).map(_.drop(1).split('\t')(0)).toSet
    }
    def regionBytes(rels: Set[String]): Long = rels.toSeq.map(r =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, r)).getLen).sum
    val (rPrev, rLast) = (refs(990L), refs(1000L))
    println(s"[metascale] files=$nFiles commits=$nCommits  " +
      s"delta v999=${mBytes(999)} B  anchor v1000 (churn=100 files): " +
      s"index=${mBytes(1000)} B + fresh regions=" +
      s"${regionBytes(rLast -- rPrev)} B (reused " +
      s"${(rLast & rPrev).size}/${rLast.size} regions = " +
      s"${regionBytes(rLast & rPrev)} B not rewritten; full entry " +
      s"bytes=${regionBytes(rLast)})")
    // the TYPICAL ingest cadence — one file per commit — across the
    // next anchor interval: v1010's anchor rewrite is bounded by the
    // 10-file churn, not the 10^4-file lake
    (0 until 10).foreach { m =>
      VersionedLake.commitAppend(spark, dir,
        docs.filter(col("id") === (99000L + m)).repartition(1)): Unit
    }
    val (r1000b, r1010) = (refs(1000L), refs(1010L))
    println(s"[metascale] anchor v1010 (churn=10 single-file appends): " +
      s"index=${mBytes(1010)} B + fresh regions=" +
      s"${regionBytes(r1010 -- r1000b)} B (reused " +
      s"${(r1010 & r1000b).size}/${r1010.size} regions = " +
      s"${regionBytes(r1010 & r1000b)} B not rewritten; full entry " +
      s"bytes=${regionBytes(r1010)})")
    // currentVersion: checkpoint forward probe — zero listings
    val l0 = VersionedLake.versionListings.get()
    val o0 = VersionedLake.manifestOpens.get()
    val t0 = System.nanoTime()
    val cur = VersionedLake.currentVersion(spark, dir)
    println(f"[metascale] currentVersion=$cur in " +
      f"${(System.nanoTime() - t0) / 1e6}%.1f ms, listings=" +
      s"${VersionedLake.versionListings.get() - l0}, opens=" +
      s"${VersionedLake.manifestOpens.get() - o0}")
    // commitTimes / history: one listing (the answer is O(n)), opens
    // bounded by commits since the checkpoint
    val o1 = VersionedLake.manifestOpens.get()
    val t1 = System.nanoTime()
    VersionedLake.commitTimes(spark, dir): Unit
    println(f"[metascale] commitTimes(1000) in " +
      f"${(System.nanoTime() - t1) / 1e9}%.2f s, opens=" +
      s"${VersionedLake.manifestOpens.get() - o1}")
    val t2 = System.nanoTime()
    VersionedLake.history(spark, dir).count(): Unit
    println(f"[metascale] history(1000) in " +
      f"${(System.nanoTime() - t2) / 1e9}%.2f s")
    // MERGE on the 10^4-file lake: churn-bounded
    val t3 = System.nanoTime()
    val (_, nf, _) = VersionedLake.commitUpsert(spark, dir, "id",
      docs.filter(col("id") < 10)
        .select(col("id"), concat(lit("UPD:"), col("text")).as("text")))
    println(f"[metascale] MERGE over $nFiles files in " +
      f"${(System.nanoTime() - t3) / 1e9}%.2f s: filesRewritten=$nf")
    // time travel deep into history: checkpoint + bounded chain
    val o2 = VersionedLake.manifestOpens.get()
    val t4 = System.nanoTime()
    val n500 = VersionedLake.readAsOf(spark, dir, 500L).count()
    println(f"[metascale] readAsOf(500)=$n500 rows in " +
      f"${(System.nanoTime() - t4) / 1e9}%.2f s, opens=" +
      s"${VersionedLake.manifestOpens.get() - o2}")
    graft.Tables.deleteRecursively(java.nio.file.Paths.get(root))
  }

  /** Round-15: index-lake compaction's claim — after V vintage appends a
    * one-term query's bucket read opens ~V file sets, and the
    * bucket-clustered rewrite collapses it back to one or two files per
    * bucket with search bit-identical. Measured: admitted-file counts
    * from the manifest (the driver-side skip — per-file OPEN cost is
    * what object-store reads pay) and the search wall pre/post, at 10⁵
    * and 10⁶ docs with 8 vintages each.
    */
  private def indexLakeCompaction(spark: SparkSession): Unit = {
    import graft.operators.IndexLake
    import graft.sinks.VersionedLake
    val qset = Seq(1L -> Seq("w11", "w23"), 2L -> Seq("w5", "w17", "w40"))
    for (n <- Seq(100000L, 1000000L)) {
      val root = java.nio.file.Files
        .createTempDirectory("maint_ixcompact_").toString
      val dir = s"$root/index"
      def slice(m: Long) = spark.range(n).filter(pmod(col("id"), lit(9L)) === m)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(t =>
            concat(lit("w"), pmod(hash(col("id"), lit(t)), lit(64)))): _*)
            .as("text"))
      def timed[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[ixcompact] n=$n%7d  $label%-14s " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%6.1f s")
        r
      }
      timed("build")(IndexLake.writeIndexLake(
        slice(0), "doc_id", "text", dir, nBuckets = 32))
      timed("8 vintages")((1L to 8L).foreach(m =>
        IndexLake.appendToIndexLake(slice(m), "doc_id", "text", dir): Unit))
      val pre = VersionedLake.currentVersion(spark, dir)
      val bkt = spark.range(1).select(
        pmod(hash(lit("w11")), lit(32)).cast("long")).collect()(0).getLong(0)
      val (keptPre, totalPre) = VersionedLake.rangeFiles(spark, dir, pre,
        bkt, bkt)
      val before = timed("search_pre")(
        IndexLake.bm25TopKOverIndex(spark, dir, qset, k = 10).collect())
      timed("compact")(IndexLake.compactIndexLake(spark, dir))
      val post = VersionedLake.currentVersion(spark, dir)
      val (keptPost, totalPost) = VersionedLake.rangeFiles(spark, dir,
        post, bkt, bkt)
      val after = timed("search_post")(
        IndexLake.bm25TopKOverIndex(spark, dir, qset, k = 10).collect())
      println(s"[ixcompact] n=$n  one-term admits " +
        s"${keptPre.size}/$totalPre -> ${keptPost.size}/$totalPost  " +
        s"search==: ${before.map(_.toString).sorted.toSeq ==
          after.map(_.toString).sorted.toSeq}")
      graft.Tables.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  /** Round-15: Z-order clustered compaction's claim — after interleaved
    * ingest NEITHER axis can prune; after the Morton rewrite BOTH do,
    * and the 2-dim range read's wall drops with the admitted files.
    * (x = id, y = a decorrelated derived key; probes take the low
    * quartile of x and the low half of y.)
    */
  private def zOrderLake(spark: SparkSession): Unit = {
    import graft.sinks.VersionedLake
    for (n <- Seq(100000L, 1000000L)) {
      val root = java.nio.file.Files
        .createTempDirectory("maint_zorder_").toString
      val dir = s"$root/lake"
      val docs = spark.range(n).select(col("id").as("x"),
        pmod(col("id") * 2654435761L, lit(n)).as("y"),
        concat(lit("payload "), col("id")).as("text"))
      (0 until 4).foreach { m =>
        VersionedLake.commitAppend(spark, dir,
          docs.filter(pmod(col("x"), lit(4L)) === m).repartition(4),
          statsCol = if (m == 0) Some("x,y") else None): Unit
      }
      val pre = VersionedLake.currentVersion(spark, dir)
      def admits(v: Long): (Int, Int, Long) = {
        val (kx, t) = VersionedLake.rangeFiles(spark, dir, v, "x",
          0L, n / 4 - 1)
        val (ky, _) = VersionedLake.rangeFiles(spark, dir, v, "y",
          0L, n / 2 - 1)
        (kx.size, ky.size, t)
      }
      def timedRead(v: Long, label: String): Long = {
        val t0 = System.nanoTime()
        val c = VersionedLake.readAsOfRange(spark, dir, v, "x",
            0L, n / 4 - 1, None)
          .filter(col("y") < n / 2).count()
        println(f"[zorder] n=$n%7d  $label%-10s rows=$c%7d  " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%6.2f s")
        c
      }
      val (preX, preY, totalPre) = admits(pre)
      val rowsPre = timedRead(pre, "read_pre")
      val t0 = System.nanoTime()
      val post = VersionedLake.compactZOrder(spark, dir, "x", "y",
        nFiles = 16, bits = 21)
      println(f"[zorder] n=$n%7d  compact        " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%6.2f s")
      val (postX, postY, totalPost) = admits(post)
      val rowsPost = timedRead(post, "read_post")
      println(s"[zorder] n=$n  admits x: $preX/$totalPre -> " +
        s"$postX/$totalPost  y: $preY/$totalPre -> $postY/$totalPost  " +
        s"rows==: ${rowsPre == rowsPost}")
      graft.Tables.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  /** Round-16: the metadata-layer scalability claims, measured with
    * the engine's own counters. (a) CHECKPOINT: `commitTimes` on a
    * 60-commit lake opens <= commits-since-checkpoint manifest files
    * instead of all 60 — the access cost that would otherwise grow
    * with every commit of a long-lived lake. (b) SCHEMA HEADER: an
    * evolved MERGE against a 180-file lake performs ZERO parquet
    * footer sweeps (the pre-r16 shape swept every live file's footer
    * per upsert — O(files) metadata cost on the hottest write path).
    */
  private def metaLake(spark: SparkSession): Unit = {
    import graft.sinks.VersionedLake
    val root = java.nio.file.Files
      .createTempDirectory("maint_meta_").toString
    val dir = s"$root/lake"
    val n = 120000L
    val docs = spark.range(n).select(col("id"),
      concat(lit("payload "), col("id")).as("text"))
    (0 until 60).foreach { m =>
      VersionedLake.commitAppend(spark, dir,
        docs.filter(pmod(col("id"), lit(60L)) === m).repartition(3)): Unit
    }
    val nFiles = VersionedLake
      .filesOf(spark, dir, VersionedLake.currentVersion(spark, dir)).size
    val o0 = VersionedLake.manifestOpens.get()
    val t0 = System.nanoTime()
    VersionedLake.commitTimes(spark, dir): Unit
    val withCk = VersionedLake.manifestOpens.get() - o0
    val wCk = (System.nanoTime() - t0) / 1e9
    val ckpt = new org.apache.hadoop.fs.Path(dir, "_versions/_checkpoint")
    val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(ckpt, false))
    val o1 = VersionedLake.manifestOpens.get()
    val t1 = System.nanoTime()
    VersionedLake.commitTimes(spark, dir): Unit
    val noCk = VersionedLake.manifestOpens.get() - o1
    val wNo = (System.nanoTime() - t1) / 1e9
    println(f"[meta] commits=60 files=$nFiles  commitTimes opens: " +
      f"ckpt=$withCk no_ckpt=$noCk  wall: $wCk%5.3f s vs $wNo%5.3f s")
    // delta manifests + region anchors: per-commit metadata bytes —
    // deltas pay their churn, and an anchor pays a 16-line ref index
    // plus only the region files its churn since the previous anchor
    // touched (reused refs cost zero bytes)
    def mBytes(v: Long): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(dir, f"_versions/v$v%06d.txt")).getLen
    def refs(v: Long): Set[String] = {
      val in = fs.open(
        new org.apache.hadoop.fs.Path(dir, f"_versions/v$v%06d.txt"))
      val text = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      text.split("\n").iterator.map(_.trim)
        .filter(_.startsWith("@")).map(_.drop(1).split('\t')(0)).toSet
    }
    def regionBytes(rels: Set[String]): Long = rels.toSeq.map(r =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, r)).getLen).sum
    val (r50, r60) = (refs(50), refs(60))
    println(s"[meta] manifest bytes: anchor v60 index=${mBytes(60)} + " +
      s"fresh regions=${regionBytes(r60 -- r50)} " +
      s"(reused regions from v50: ${(r60 & r50).size}/${r60.size}, " +
      s"${regionBytes(r60 & r50)} B NOT rewritten; full lake entry " +
      s"bytes=${regionBytes(r60)})  delta v59=${mBytes(59)} " +
      s"delta v41=${mBytes(41)} (deltas list their 3 adds)")
    graft.Tables.deleteRecursively(java.nio.file.Paths.get(root))
  }

  /** Round-16: THREE-dimension Z-order (`compactZOrder(Seq(x,y,w))`,
    * MortonNCode) — after the rewrite EVERY axis prunes independently
    * (x, y AND w admit fewer than all files), the 3-dim range read's
    * wall drops with the admitted files, and membership is invariant.
    * The three keys are pairwise-decorrelated multiplicative hashes so
    * no axis can free-ride on another's clustering.
    */
  private def zOrder3Lake(spark: SparkSession): Unit = {
    import graft.sinks.VersionedLake
    for (n <- Seq(100000L, 1000000L)) {
      val root = java.nio.file.Files
        .createTempDirectory("maint_zorder3_").toString
      val dir = s"$root/lake"
      val docs = spark.range(n).select(col("id").as("x"),
        pmod(col("id") * 2654435761L, lit(n)).as("y"),
        pmod(col("id") * 1099511627791L, lit(n)).as("w"),
        concat(lit("payload "), col("id")).as("text"))
      (0 until 4).foreach { m =>
        VersionedLake.commitAppend(spark, dir,
          docs.filter(pmod(col("x"), lit(4L)) === m).repartition(4),
          statsCol = if (m == 0) Some("x,y,w") else None): Unit
      }
      val pre = VersionedLake.currentVersion(spark, dir)
      def admits(v: Long): (Int, Int, Int, Long) = {
        val (kx, t) = VersionedLake.rangeFiles(spark, dir, v, "x",
          0L, n / 4 - 1)
        val (ky, _) = VersionedLake.rangeFiles(spark, dir, v, "y",
          0L, n / 2 - 1)
        val (kw, _) = VersionedLake.rangeFiles(spark, dir, v, "w",
          0L, n / 2 - 1)
        (kx.size, ky.size, kw.size, t)
      }
      def timedRead(v: Long, label: String): Long = {
        val t0 = System.nanoTime()
        val c = VersionedLake.readAsOfRange(spark, dir, v, "x",
            0L, n / 4 - 1, None)
          .filter(col("y") < n / 2 && col("w") < n / 2).count()
        println(f"[zorder3] n=$n%7d  $label%-10s rows=$c%7d  " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%6.2f s")
        c
      }
      val (preX, preY, preW, totalPre) = admits(pre)
      val rowsPre = timedRead(pre, "read_pre")
      val t0 = System.nanoTime()
      val post = VersionedLake.compactZOrder(spark, dir,
        Seq("x", "y", "w"), nFiles = 16, bits = 0)
      println(f"[zorder3] n=$n%7d  compact        " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%6.2f s")
      val (postX, postY, postW, totalPost) = admits(post)
      val rowsPost = timedRead(post, "read_post")
      println(s"[zorder3] n=$n  admits x: $preX/$totalPre -> " +
        s"$postX/$totalPost  y: $preY/$totalPre -> $postY/$totalPost  " +
        s"w: $preW/$totalPre -> $postW/$totalPost  " +
        s"rows==: ${rowsPre == rowsPost}")
      graft.Tables.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  /** Round-14 continuation: the inverted-index lake's claim — a query
    * batch never re-tokenizes the corpus. The corpus-scan operator's
    * wall tracks corpus size (it tokenizes everything per batch); the
    * index search reads only the query terms' buckets + the doc-length
    * region, both via the driver-side manifest skip. Equality of the
    * two results is asserted in-run (the bit-exactness gate at scale).
    */
  private def indexLake(spark: SparkSession): Unit = {
    import graft.operators.{IndexLake, Retrieval}
    val qset = Seq(1L -> Seq("w11", "w23"), 2L -> Seq("w5", "w17", "w40"))
    for (n <- Seq(100000L, 1000000L)) {
      val root = java.nio.file.Files
        .createTempDirectory("maint_ixlake_").toString
      val dir = s"$root/index"
      // closed 64-word vocabulary, 12 tokens per doc — every query term
      // has corpus-proportional postings (the worst case for the index)
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(t =>
          concat(lit("w"), pmod(hash(col("id"), lit(t)), lit(64)))): _*)
          .as("text"))
      def timed[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[ixlake] n=$n%7d  $label%-12s " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%6.1f s")
        r
      }
      timed("build")(IndexLake.writeIndexLake(
        docs, "doc_id", "text", dir, nBuckets = 32))
      val viaIndex = timed("search_index")(
        IndexLake.bm25TopKOverIndex(spark, dir, qset, k = 10).collect())
      val viaScan = timed("search_scan")(
        Retrieval.bm25TopK(docs, "doc_id", "text", qset, k = 10).collect())
      println(s"[ixlake] n=$n  index==scan: " +
        s"${viaIndex.map(_.toString).sorted.toSeq ==
          viaScan.map(_.toString).sorted.toSeq}")
      graft.Tables.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  /** Round-14 continuation: the CDC surface's claims, measured.
    *
    *  1. commitUpsert rewrites only the files HOLDING matched ids — 64
    *     matched ids inside one file's range vs the same 64 spread over
    *     all 16 files; nFilesRewritten comes from the operator's own
    *     return (1 vs 16), and the one-file wall must not track the
    *     lake.
    *  2. changesBetween's cost tracks the CHURN between the versions,
    *     not the lake: the feed over the one-file upsert reads one
    *     removed file + the commit's new files, so its wall at n=10⁶
    *     must stay close to n=10⁵'s (the touched file grows 10×, the
    *     lake's other 15 files are never opened).
    */
  private def versionedLakeCdc(spark: SparkSession): Unit = {
    import graft.sinks.VersionedLake
    for (n <- Seq(100000L, 1000000L)) {
      val files = 16
      val per = n / files
      val root = java.nio.file.Files
        .createTempDirectory("maint_vcdc_").toString
      val dir = s"$root/lake"
      (0 until files).foreach { k =>
        VersionedLake.commitAppend(spark, dir,
          spark.range(k * per, (k + 1) * per)
            .select(col("id").as("doc_id"),
              concat(lit("payload "), col("id")).as("text"))
            .repartition(1)): Unit
      }
      def upd(ids: org.apache.spark.sql.DataFrame) =
        ids.select(col("doc_id"),
          concat(lit("updated "), col("doc_id")).as("text"))
      def timedUpsert(ids: org.apache.spark.sql.DataFrame,
          label: String): Long = {
        val t0 = System.nanoTime()
        val (v, nf, nr) = VersionedLake.commitUpsert(
          spark, dir, "doc_id", upd(ids))
        println(f"[vcdc] n=$n%7d  $label%-12s files_rewritten=$nf%3d  " +
          f"rows=$nr%5d  wall=${(System.nanoTime() - t0) / 1e9}%6.1f s")
        v
      }
      // 64 matched ids inside ONE file's range, then 64 spread (4 per
      // file; the +id offset keeps them unique and inside each file's
      // range — NOT `id / files`, which is fp division in Spark SQL and
      // would make fractional ids that match nothing)
      val vOne = timedUpsert(
        spark.range(64).select(col("id").as("doc_id")), "one_file")
      timedUpsert(spark.range(64).select(
        ((col("id") % files) * per + 200 + col("id"))
          .as("doc_id")), "spread"): Unit
      val t0 = System.nanoTime()
      val feed = VersionedLake.changesBetween(
        spark, dir, vOne - 1, vOne, "doc_id").count()
      println(f"[vcdc] n=$n%7d  feed_one_file rows=$feed%5d  " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%6.1f s " +
        "(reads 1 removed file + the commit's new files, never the lake)")
      graft.Tables.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  /** Round-14: the persisted reference sketch's claims, measured.
    *
    *  1. SCORING against the persisted sketch beats the inline operator
    *     — the inline [[graft.operators.Decontaminate.noveltyScores]]
    *     re-scans the reference corpus and rebuilds the bloom on EVERY
    *     batch; the sketch path loads the counting-bloom sidecar and
    *     semi-joins the gram lake. At 100 TB a per-crawl-batch corpus
    *     scan is the difference between feasible and not; the gap is
    *     already visible at 10⁶ docs. (Zipf caveat: this synthetic
    *     corpus is gram-unique, so the gram lake is corpus-sized —
    *     real text repeats grams and shrinks the lake further in the
    *     sketch's favor.)
    *  2. An appended/taken-down sketch scores IDENTICALLY to one built
    *     fresh from the equivalent corpus — the correctness gate on the
    *     whole incremental protocol, at both scales. (The mutation wall
    *     at these toy scales is overhead-dominated and NOT the win —
    *     the win is never paying the corpus scan per batch; rebuild
    *     walls here bound what a mutation avoids only once the corpus
    *     dwarfs the gram lake.)
    */
  private def refSketch(spark: SparkSession): Unit = {
    import graft.operators.Decontaminate
    def text(idc: org.apache.spark.sql.Column) = concat_ws(" ",
      (0 until 12).map(t =>
        concat(lit("w"), pmod(hash(idc, lit(t)), lit(1000000)))): _*)
    def docs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("doc_id"), text(col("id")).as("text"))
    val batch = docs(9000000L, 9000200L) // 200 scoring docs, disjoint ids
    def scores(dir: String): Map[Long, Long] =
      Decontaminate.noveltyScoresAgainstSketch(
        spark, dir, batch, "doc_id", "text")
        .select("doc_id", "n_novel").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (n <- Seq(100000L, 1000000L)) {
      val root = java.nio.file.Files
        .createTempDirectory("maint_sketch_").toString
      def timed[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[refsketch] n=$n%7d  $label%-18s " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%6.1f s")
        r
      }
      timed("build")(Decontaminate.writeReferenceSketch(
        spark, s"$root/a", docs(0, n), "text"))
      val viaSketch = timed("score_sketch")(scores(s"$root/a"))
      val viaInline = timed("score_inline")(
        Decontaminate.noveltyScores(batch, "doc_id", "text",
            docs(0, n), "text")
          .select("doc_id", "n_novel").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
      println(s"[refsketch] n=$n  sketch==inline scores: " +
        s"${viaSketch == viaInline}")
      timed("append_1k")(Decontaminate.appendToReferenceSketch(
        spark, s"$root/a", docs(n, n + 1000), "text", "ap"))
      timed("rebuild_n+1k")(Decontaminate.writeReferenceSketch(
        spark, s"$root/b", docs(0, n + 1000), "text"))
      println(s"[refsketch] n=$n  append==rebuild scores: " +
        s"${scores(s"$root/a") == scores(s"$root/b")}")
      timed("takedown_1k")(Decontaminate.deleteFromReferenceSketch(
        spark, s"$root/a", docs(n, n + 1000), "text", "td"))
      timed("fresh_n")(Decontaminate.writeReferenceSketch(
        spark, s"$root/c", docs(0, n), "text"))
      println(s"[refsketch] n=$n  takedown==fresh scores: " +
        s"${scores(s"$root/a") == scores(s"$root/c")}")
      graft.Tables.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  /** Round-14: the versioned lake's delete claim — cost tracks the
    * files HOLDING deleted ids, not the lake. 16 single-file commits
    * with disjoint id ranges; a delete hitting one file vs a same-size
    * delete spread across all 16. nFilesRewritten comes from the
    * operator's own return; both versions stay readable.
    */
  private def versionedLake(spark: SparkSession): Unit = {
    import graft.sinks.VersionedLake
    val n = 100000L
    val files = 16
    val per = n / files
    val root = java.nio.file.Files
      .createTempDirectory("maint_vlake_").toString
    val dir = s"$root/lake"
    (0 until files).foreach { k =>
      VersionedLake.commitAppend(spark, dir,
        spark.range(k * per, (k + 1) * per)
          .select(col("id").as("doc_id"),
            concat(lit("payload "), col("id")).as("text"))
          .repartition(1)): Unit
    }
    def timedDelete(ids: org.apache.spark.sql.DataFrame,
        label: String): Unit = {
      val t0 = System.nanoTime()
      val (_, nf, nr) = VersionedLake.commitDelete(spark, dir, "doc_id", ids)
      println(f"[vlake] n=$n%7d  $label%-12s files_rewritten=$nf%3d  " +
        f"rows=$nr%5d  wall=${(System.nanoTime() - t0) / 1e9}%6.1f s")
    }
    // 64 ids inside ONE file's range vs 64 ids spread over all 16 files
    timedDelete(spark.range(64).select(col("id").as("doc_id")), "one_file")
    timedDelete(spark.range(64).select(
      ((col("id") % files) * per + 100 + col("id")).as("doc_id")), "spread")
    val v16 = VersionedLake.readAsOf(spark, dir, files.toLong).count()
    val cur = VersionedLake.read(spark, dir).count()
    println(s"[vlake] v$files intact=${v16 == n}  " +
      s"final=${cur == n - 128}")
    graft.Tables.deleteRecursively(java.nio.file.Paths.get(root))
  }

  /** The round-13 size-gate fix under adversarial load: a corpus where
    * HALF the docs have verbatim twins (candidates = n/2, the regime
    * the old mandatory broadcast died in). Both winnowedRunPairs
    * strategies must return the same pair count; the shuffle fallback's
    * wall backs the "degrades to linear shuffles" claim.
    */
  private def heavyDupGate(spark: SparkSession): Unit = {
    for (n <- Seq(20000L, 100000L)) {
      val half = n / 2
      def text(idc: org.apache.spark.sql.Column) = concat_ws(" ",
        (0 until 12).map(t =>
          concat(lit("w"), pmod(hash(idc, lit(t)), lit(1000000)))): _*)
      val docs = spark.range(half)
        .select(col("id").as("doc_id"), text(col("id")).as("text"))
        .unionByName(spark.range(half).select(
          (col("id") + half).as("doc_id"), text(col("id")).as("text")))
      def run(limit: Long, label: String): Long = {
        val t0 = System.nanoTime()
        val c = graft.operators.Dedup.winnowedRunPairs(docs, "doc_id",
          "text", broadcastCandLimit = limit).count()
        println(f"[heavydup] n=$n%7d  $label%-9s  pairs=$c%7d  " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%6.1f s")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        c
      }
      val b = run(Long.MaxValue, "broadcast")
      val s = run(1L, "shuffle")
      println(s"[heavydup] n=$n  match=${b == s}")
    }
  }

  /** 8-cluster synthetic embeddings; `clusterOf` pins a row's cluster so
    * an append can be drawn from one topic (few cells) or all topics.
    */
  private def vectors(spark: SparkSession, n: Long, dim: Int,
      clusters: Int, onlyCluster: Int = -1) = {
    val base = spark.range(n)
    val src = if (onlyCluster >= 0)
      base.withColumn("c", lit(onlyCluster))
    else base.withColumn("c", pmod(col("id"), lit(clusters)))
    src.select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        cos(col("c") * 0.9 + j * 0.3) +
          (pmod(hash(col("vec_id"), j), lit(1000)).cast("double") -
            500.0) / 5000.0).cast("array<float>").as("embedding"))
  }

  private def dataFileCount(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.listFiles().count(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith(".")).toLong)
      .sum

  private def compaction(spark: SparkSession): Unit = {
    val dim = 32
    for (n <- Seq(100000L, 1000000L)) {
      for ((label, only) <- Seq("spread-append" -> -1, "one-topic" -> 3)) {
        val dir = graft.Tables
          .freshScratchDir("graft_ivflake_prof_", s"$n$label").toString
        val corpus = vectors(spark, n, dim, 8)
        Similarity.writeIvfLake(corpus, dir, "vec_id", "embedding",
          dim, nCells = 64): Unit
        // 3 appends of 2% each — churn shape is what varies
        (0 until 3).foreach { i =>
          Similarity.appendToIvfLake(
            vectors(spark, n / 50, dim, 8, onlyCluster = only)
              .select((col("vec_id") + n + i * n).as("vec_id"),
                col("embedding")),
            dir, "vec_id", "embedding", dim)
        }
        val fatCells = Option(new java.io.File(dir).listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("cell="))
          .count(d => d.listFiles().count(f => f.isFile &&
            !f.getName.startsWith("_") && !f.getName.startsWith(".")) > 1)
        val t0 = System.nanoTime()
        val (nb, na) = Similarity.compactIvfLake(spark, dir)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[compact] n=$n%8d  $label%-13s  files $nb%4d -> $na%3d" +
          f"  fatCells=$fatCells%3d  wall=$sec%6.2f s")
        graft.Tables.deleteRecursively(java.nio.file.Paths.get(dir))
      }
    }
  }

  private def nearDupStream(spark: SparkSession): Unit = {
    for (n <- Seq(100000L, 1000000L)) {
      // ~14-token docs; every 200th delta doc is a near-copy of a
      // corpus doc (same 13 leading tokens, one swapped)
      def text(idc: org.apache.spark.sql.Column) = concat_ws(" ",
        (0 until 14).map(t =>
          concat(lit("w"), pmod(hash(idc, lit(t)), lit(50000)))): _*)
      val corpus = spark.range(n)
        .select(col("id").as("doc_id"), text(col("id")).as("text"))
      val delta = spark.range(500).select(
        (col("id") + n).as("doc_id"),
        when(col("id") % 200 === 0,
          concat(substring_index(text(col("id")), " ", 13),
            lit(" swapped")))
          .otherwise(text(col("id") + 7000000L)).as("text"))
      val scratch = graft.Tables
        .freshScratchDir("graft_neardup_prof_", n.toString).toString
      var t0 = System.nanoTime()
      graft.streaming.NearDupStream.writeCorpusState(
        corpus, "doc_id", "text", s"$scratch/state")
      val statSec = (System.nanoTime() - t0) / 1e9
      delta.repartition(4).write.parquet(s"$scratch/delta")
      val stream = spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$scratch/delta")
      t0 = System.nanoTime()
      val streamed = graft.streaming.NearDupStream.nearDupPairs(spark,
        stream, "doc_id", "text", s"$scratch/state", s"$scratch/pairs",
        checkpointDir = s"$scratch/ckpt", threshold = 0.5)
      val nStream = streamed.count()
      val streamSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val nBatch = Dedup.incrementalNearDups(corpus, delta, "doc_id",
        "text", threshold = 0.5).count()
      val batchSec = (System.nanoTime() - t0) / 1e9
      println(f"[neardup] n=$n%8d  state=$statSec%6.1f s  " +
        f"stream(4 batches)=$streamSec%6.1f s  batch=$batchSec%6.1f s  " +
        f"pairs stream/batch=$nStream/$nBatch  match=${nStream == nBatch}")
      graft.Tables.deleteRecursively(java.nio.file.Paths.get(scratch))
    }
  }
}
