package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall-clock over the
  * SPARK_GRAFT_SF_DIR tables, plus the reference workload's own unit of
  * work — documents/second flattened to ~5,000 columns (BASELINE.md: the
  * reference sustains ~8 docs/s single-threaded at 1,000 docs; our target
  * is matching that per core, distributed).
  */
object Bench {

  /** Best-effort removal of prior-run scratch dirs (flatten-bench inputs,
    * pre-fix random-suffix lake exports, old verify dumps) so repeated
    * bench/verify runs don't accumulate tens of GB in /tmp. Only paths
    * with our own prefixes are touched; `keep` protects the active run,
    * and only entries untouched for `maxAgeMs` (default 1 h) are deleted
    * so a CONCURRENT run's scratch — e.g. a verify dump the driver has
    * not read yet — can never be destroyed by a racing bench.
    */
  def cleanStaleTmp(keep: Set[String] = Set.empty,
      maxAgeMs: Long = 3600000L): Unit =
    try {
      val cutoff = System.currentTimeMillis() - maxAgeMs
      val tmp = new java.io.File("/tmp")
      val stale = Option(tmp.listFiles()).getOrElse(Array.empty).filter { f =>
        val n = f.getName
        (n.startsWith("flatbench") || n.startsWith("graft_lake_") ||
          n.startsWith("graft_bucketed_") || n.startsWith("graft_formats_") ||
          n.startsWith("graft_media_") || n.startsWith("graft_esv2_") ||
          n.startsWith("graft_eshttp_") || n.startsWith("graft_annlake_") ||
          n.startsWith("graft_partials_") || n.startsWith("graft_qscore_") ||
          n.startsWith("graft_esbulk_") || n.startsWith("graft_ivflake_") ||
          n.startsWith("graft_streamprof_") ||
          n.startsWith("graft_neardup_") ||
          n.startsWith("graft_takedown_") ||
          n.startsWith("graft_refsketch_") ||
          n.startsWith("graft_vlake_") ||
          n.startsWith("graft_vstream_") ||
          n.startsWith("graft_vcompact_") ||
          n.startsWith("graft_vrange_") ||
          n.startsWith("graft_vupsert_") ||
          n.startsWith("graft_vchanges_") ||
          n.startsWith("graft_vcluster_") ||
          n.startsWith("graft_statesync_") ||
          n.startsWith("graft_vmerge_") ||
          n.startsWith("graft_ivfsync_") ||
          n.startsWith("graft_vrestore_") ||
          n.startsWith("graft_indexlake_") ||
          n.startsWith("graft_hybridstack_") ||
          n.startsWith("graft_esvlake_") ||
          n.startsWith("graft_vttl_") ||
          n.startsWith("graft_cursorsync_") ||
          n.startsWith("graft_vrace_") ||
          n.startsWith("graft_ixcompact_") ||
          n.startsWith("graft_vevolve_") ||
          n.startsWith("graft_vmcol_") ||
          n.startsWith("graft_vzorder_") ||
          n.startsWith("graft_vckpt_") ||
          n.startsWith("graft_vcmut_") ||
          n.startsWith("graft_vprobe_") ||
          n.startsWith("graft_vtyped_") ||
          n.startsWith("graft_vregion_") ||
          n.startsWith("graft_vz3_") ||
          n.startsWith("graft_vhdr_") ||
          n.startsWith("graft_vdelta_") ||
          n.startsWith("verify_r")) && !keep.contains(f.getAbsolutePath) &&
          f.lastModified() < cutoff
      }
      stale.foreach(deleteRec)
    } catch { case _: Throwable => () }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    cleanStaleTmp()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // All of the engine's TypedImperativeAggregates (TopKPairs heaps,
      // Misra-Gries/CMS/HLL sketches) carry small BOUNDED buffers, so the
      // ObjectHashAggregate sort-based fallback — designed to cap memory
      // when buffers can grow without bound, e.g. collect_list — only
      // hurts: at the default 128 in-memory groups every partial-agg task
      // over ~1,000 suppliers falls back and re-sorts its whole input
      // (measured on q119: 0.99 s → 0.46 s with the threshold raised;
      // tools/TopKProfile.scala). 2^20 groups × ~100-byte heap ≈ 100 MB
      // per task worst-case — safe at executor scale.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        1 << 20)
      // The default 100-entry codegen class cache evicts completely
      // across a 152-query session, so every deferred re-run (and any
      // repeated subplan) recompiles from scratch — measured ~2.5 s of
      // pure Janino time on the 5,028-column flatten plan (q67 cold
      // 10.3 s vs warm 2.4 s) and similar on the iterative graph
      // queries. A long-lived session on a real driver keeps the
      // compiled classes; 10k entries bounds metaspace while making
      // the cache effectively session-lifetime here.
      .config("spark.sql.codegen.cache.maxEntries", 10000)
      .config("spark.ui.enabled", "false")
      // the engine's own extension surface (custom SQL functions + the
      // levenshtein length-prefilter optimizer rule) is part of the
      // product — benchmarks run with it on, like a user would
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: initialize codegen compiler, parquet reader paths, broadcast
    // and shuffle machinery once, so per-query timings measure the queries.
    try SparkEntry.queries("q04_star_join")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // HOST-CONTENTION CALIBRATION (r15 verdict item 7): a fixed-cost,
    // data-independent CPU probe (sum over a constant range — no I/O,
    // no shuffle) timed at the start AND end of the sweep. Its wall on
    // a quiet host is a constant of the machine, so cross-round
    // comparisons divide the scoreboard by the probe to separate "the
    // code got slower" from "the host was contended" — the 40%
    // driver-vs-internal disagreement of r14/r15 becomes measurable.
    def calibrate(): (Double, Double) = {
      // one unmeasured run first: the probe prices the HOST, not the
      // JIT state of its own codegen (the first execution compiles)
      spark.range(1L << 26).selectExpr("sum(id * 3 % 7) AS s").collect()
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(1L << 28)
          .selectExpr("sum(id * 3 % 7) AS s").collect()
        (System.nanoTime() - t0) / 1e9
      }
      (samples.min, median(samples))
    }
    val (calStartBest, calStartMed) = calibrate()
    // A failing query must fail the bench LOUDLY: its error goes to stderr,
    // the JSON carries a nonzero "failed" count + per-query error text, and
    // the process exits 1 — a broken query can never hide behind a -1.
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: $e")
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)
              .takeWhile(_ != '\n').take(200))
        }
      val sec = (System.nanoTime() - t0) / 1e9
      dropCaches(spark) // queries must not inherit (or starve on) each
      (sec, err)        // other's persisted intermediates
    }
    // Heap/disk/RDD census, sampled across the sweep and published in the
    // bench tail: the r11 verdict could not tell session pollution
    // (accumulating scratch lakes, localCheckpoint residue, GC pressure)
    // from host contention because neither was measured in the scored
    // session. A flat census closes the pollution hypothesis; a rising
    // one names the leak.
    val census = scala.collection.mutable.ArrayBuffer.empty[String]
    def takeCensus(at: String): Unit = try {
      System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      def du(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
      val tmpMb = Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_") ||
          f.getName.startsWith("flatbench"))
        .map(du).sum / (1 << 20)
      val rdds = spark.sparkContext.getPersistentRDDs.size
      census += s"""{"at":"$at","heap_mb":$heapMb,"tmp_mb":$tmpMb,"rdds":$rdds}"""
    } catch { case _: Throwable => () }

    takeCensus("start")
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val firstPass = sorted.zipWithIndex.map { case ((name, fn), i) =>
      val r = timeOne(name, fn)
      // label with the actual query name: the sweep is LEXICOGRAPHIC
      // (q100 sorts before q13), so a position label like "q025" would
      // point a census reader at the wrong queries
      if ((i + 1) % 25 == 0) takeCensus(s"after#${i + 1}:$name")
      (name, fn, r._1, r._2)
    }
    takeCensus("after_sweep")
    // This host's timings swing several-fold under VM contention; a
    // single slow sample is not evidence (BENCH_r02 recorded q50 at
    // 22.3 s; it re-measures at ~2 s; bar at 1.5 s — contention swings
    // 2–3 s samples by 2× or more). Queries over the bar get a second,
    // independent measurement and report the min — taken AFTER the full
    // sweep, not back-to-back: r11's q117/q121/q122 "regressions"
    // survived the immediate re-run because one contention window
    // covered both consecutive samples (r12 bisect: the same queries
    // measured 2.3–5.1 s fresh AND after a prefix replay in a quiet
    // window). Minutes of separation decorrelates the samples. Only a
    // SUCCESSFUL re-run may replace the first time (a flaky second run
    // must not report its fast failure as the measurement), but a
    // failed re-run must reach the JSON, not just stderr — a ~50%-flaky
    // query would otherwise always report green with its one good
    // timing.
    val runs = firstPass.map { case (name, fn, sec1, err) =>
      val (sec, rerunFailed) =
        if (err.isEmpty && sec1 > 1.5) {
          val (sec2, err2) = timeOne(name, fn)
          if (err2.isEmpty) (math.min(sec1, sec2), false) else (sec1, true)
        } else (sec1, false)
      (name, sec, err, rerunFailed)
    }
    takeCensus("after_reruns")
    // Per-path timings inside the composite lake-ANN audits (q122/q137):
    // the scoreboard number for each conflates a lake write plus several
    // independent search paths, so a regression there cannot be
    // attributed from the artifact alone. One timed count() per path.
    // Building the thunk list itself touches the embeddings table; a
    // failure there (missing/unreadable parquet) must degrade to an
    // empty `paths` object, never abort the bench after the sweep has
    // run and before the scoreboard JSON is printed.
    val pathThunks =
      try graft.queries.TrainingData.annLakePaths(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"BENCH paths setup failed: $e"); Seq.empty }
    val pathTimes = pathThunks.map { case (label, thunk) =>
      val t0 = System.nanoTime()
      val sec = try { thunk().count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"BENCH path $label: $e"); -1.0 }
      dropCaches(spark) // AFTER the clock stops — cache teardown time
      label -> sec      // must not pollute sub-second path attribution
    }
    // Fixture-vs-operator attribution for the composite audit queries:
    // their scored wall conflates test-scaffolding (building the lake /
    // state being audited, frozen-twin and equality audits) with the
    // operator work a 100 TB user actually pays for (the maintenance
    // pass + the search). The split is derived from the per-path
    // timings above — presentation of existing measurements, not a new
    // one — so "slowest query" readings attribute to the right bucket.
    val fixtureSplit: Seq[(String, Set[String], Set[String])] = Seq(
      ("q152",
        Set("q152_base_write", "q152_frozen_search", "q152_brute_audit"),
        Set("q152_append", "q152_lake_search")),
      ("q162", Set("q162_build"),
        Set("q162_search_pre", "q162_compact", "q162_search_post")),
      ("q164", Set("q164_frozen_search"),
        Set("q164_write", "q164_lake_search")),
      ("q171",
        Set("q171_build", "q171_frozen_twin", "q171_audit_doclake",
          "q171_audit_state"),
        Set("q171_delete", "q171_search_post")),
      ("q172", Set("q172_state_write"), Set("q172_append", "q172_match")),
      ("q173", Set("q173_build"),
        Set("q173_append", "q173_takedown", "q173_score")),
      ("q174", Set("q174_commits"), Set("q174_reads")),
      ("q175", Set("q175_stage"),
        Set("q175_stream", "q175_replay+delete", "q175_read")),
      ("q177", Set("q177_fragment"), Set("q177_compact", "q177_read")),
      ("q178", Set("q178_commits"), Set("q178_range_read")),
      ("q179", Set("q179_build"), Set("q179_upsert", "q179_read")),
      ("q180", Set("q180_history"), Set("q180_changes")),
      ("q181", Set("q181_build"), Set("q181_cluster", "q181_range_read")),
      ("q182", Set("q182_build"), Set("q182_sync", "q182_match")),
      ("q183", Set.empty[String],
        Set("q183_batches", "q183_replay+read")),
      ("q184", Set("q184_build", "q184_frozen_twin"),
        Set("q184_sync", "q184_search")),
      ("q185", Set("q185_history"),
        Set("q185_restore+audit", "q185_read")),
      ("q186", Set("q186_build", "q186_scan_twin"),
        Set("q186_append+takedown", "q186_search")),
      ("q187", Set("q187_build+takedown"), Set("q187_fuse")),
      ("q188", Set.empty[String],
        Set("q188_drain", "q188_restart+takedown", "q188_read")),
      ("q189", Set("q189_build"),
        Set("q189_range_delete", "q189_read")),
      ("q190", Set("q190_build"),
        Set("q190_sync", "q190_match")),
      ("q191", Set("q191_base"), Set("q191_raced_appends")),
      ("q192", Set("q192_build"),
        Set("q192_vintages", "q192_compact", "q192_search")),
      ("q193", Set("q193_build"),
        Set("q193_merge", "q193_changes+read")),
      ("q194", Set("q194_build"),
        Set("q194_range_delete", "q194_read")),
      ("q195", Set("q195_build"),
        Set("q195_zorder", "q195_read2d")),
      ("q196", Set("q196_commits"), Set("q196_meta+travel")),
      ("q197", Set("q197_base"), Set("q197_raced_mutations")),
      ("q198", Set("q198_build"),
        Set("q198_zorder3", "q198_read3d")),
      ("q199", Set("q199_build"), Set("q199_merge+read")),
      ("q200", Set("q200_commits"), Set("q200_mutations+read")),
      ("q201", Set("q201_commits"), Set("q201_vacuum+probe+read")),
      ("q202", Set("q202_commits"), Set("q202_pruned_read")),
      ("q203", Set("q203_commits"), Set("q203_mutations+read")))
    // Build/mutate/search/audit attribution one level below the
    // fixture/operator split, for the heaviest lake composites: their
    // "operator" bucket by construction blends mutation history into
    // the search path, so a SEARCH regression could hide behind
    // fixture noise (r14 verdict item 8). Presentation of the same
    // per-path timings — no new measurement.
    val phaseSplit: Seq[(String, Seq[(String, Set[String])])] = Seq(
      ("q173", Seq(
        "build" -> Set("q173_build"),
        "mutate" -> Set("q173_append", "q173_takedown"),
        "search" -> Set("q173_score"))),
      ("q183", Seq(
        "mutate" -> Set("q183_batches", "q183_replay+read"))),
      ("q184", Seq(
        "build" -> Set("q184_build"),
        "mutate" -> Set("q184_sync"),
        "search" -> Set("q184_search"),
        "audit" -> Set("q184_frozen_twin"))),
      ("q186", Seq(
        "build" -> Set("q186_build"),
        "mutate" -> Set("q186_append+takedown"),
        "search" -> Set("q186_search"),
        "audit" -> Set("q186_scan_twin"))),
      ("q192", Seq(
        "build" -> Set("q192_build"),
        "mutate" -> Set("q192_vintages", "q192_compact"),
        "search" -> Set("q192_search"))))
    val pathMap = pathTimes.toMap
    def sumPaths(labels: Set[String]): Double =
      labels.toSeq.flatMap(pathMap.get).filter(_ >= 0).sum
    val qs = runs.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = runs.filter(_._3.isDefined)
    val errs = failed.map { case (k, _, e, _) =>
      "\"" + k + "\":\"" + e.get.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    val rerunFails = runs.filter(_._4).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val total = runs.filter(_._3.isEmpty).map(_._2).sum
    val flat = flattenBench(spark)
    val (calEndBest, calEndMed) = calibrate()
    takeCensus("end")
    def r3d(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val pathsJson = pathTimes.map { case (k, v) =>
      "\"" + k + "\":" + r3d(v)
    }.mkString("{", ",", "}")
    val splitJson = fixtureSplit.map { case (q, fix, op) =>
      "\"" + q + "\":{\"fixture\":" + r3d(sumPaths(fix)) +
        ",\"operator\":" + r3d(sumPaths(op)) + "}"
    }.mkString("{", ",", "}")
    val phaseJson = phaseSplit.map { case (q, phases) =>
      "\"" + q + "\":" + phases.map { case (p, labels) =>
        "\"" + p + "\":" + r3d(sumPaths(labels))
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val censusJson = census.mkString("[", ",", "]")
    val calJson = s"""{"start_best":${r3d(calStartBest)},""" +
      s""""start_median":${r3d(calStartMed)},""" +
      s""""end_best":${r3d(calEndBest)},"end_median":${r3d(calEndMed)}}"""
    def flatJson: String =
      s""""flatten_docs":${flat.docs},"flatten_samples":${flat.samples},""" +
        s""""flatten_sec":${r3d(flat.coldSecBest)},"flatten_sec_median":${r3d(flat.coldSecMedian)},""" +
        s""""flatten_docs_per_s":${r3d(flat.coldRateBest)},"flatten_docs_per_s_median":${r3d(flat.coldRateMedian)},""" +
        s""""flatten_docs_per_s_warm":${r3d(flat.warmRateBest)},"flatten_docs_per_s_warm_median":${r3d(flat.warmRateMedian)},""" +
        s""""flatten_sec_schema_reuse":${r3d(flat.reuseSecBest)},"flatten_sec_schema_reuse_median":${r3d(flat.reuseSecMedian)},""" +
        s""""flatten_docs_per_s_schema_reuse":${r3d(flat.reuseRateBest)},"flatten_docs_per_s_schema_reuse_median":${r3d(flat.reuseRateMedian)}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":${failed.length},"errors":$errs,"rerun_failed":$rerunFails,"sf":"$sfDir","paths":$pathsJson,"fixture_split":$splitJson,"phase_split":$phaseJson,"census":$censusJson,"calibration":$calJson,$flatJson}""")
    // The driver records the TAIL of stdout, which truncated the verbose
    // line above from the front in r3 (q01-q12 timings lost, parsed:null).
    // Re-emit everything as a COMPACT single line — short query keys
    // (unique qNN prefix), millisecond-rounded seconds — as the very LAST
    // stdout line so a bounded tail capture always contains valid,
    // complete JSON.
    val qsShort = runs.map { case (k, v, _, _) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + r3d(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3d(total)},"unit":"sec","queries":$qsShort,"failed":${failed.length},"rerun_failed":$rerunFails,"sf":"$sfDir","paths":$pathsJson,"fixture_split":$splitJson,"phase_split":$phaseJson,"census":$censusJson,"calibration":$calJson,$flatJson}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Per-mode flatten timings: best AND median of `n` samples, so one
    * contended sample (r4 recorded warm 27 docs/s vs cold 643 on this
    * noisy host) reads as spread, not regression.
    *
    * KEY SEMANTICS (restored in r12, per the r11 advisory): the
    * unsuffixed keys (`flatten_sec`, `flatten_docs_per_s`,
    * `flatten_docs_per_s_warm`, `*_schema_reuse`) are BEST-of-3 — the
    * statistic every round before r11 published — and every mode also
    * publishes an explicit `*_median` twin. r11 silently switched the
    * unsuffixed rate keys to median-of-3, which made cross-round
    * comparison read a semantic change as a 2.7× throughput regression.
    * Both series are now always present, so a metric preference change
    * can never again masquerade as a performance trend.
    */
  final case class FlattenBench(docs: Int, samples: Int,
      coldSecBest: Double, coldSecMedian: Double,
      warmSecBest: Double, warmSecMedian: Double,
      reuseSecBest: Double, reuseSecMedian: Double) {
    private def rate(sec: Double): Double = if (sec > 0) docs / sec else 0.0
    def coldRateBest: Double = rate(coldSecBest)
    def coldRateMedian: Double = rate(coldSecMedian)
    def warmRateBest: Double = rate(warmSecBest)
    def warmRateMedian: Double = rate(warmSecMedian)
    def reuseRateBest: Double = rate(reuseSecBest)
    def reuseRateMedian: Double = rate(reuseSecMedian)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Release every cached/persisted dataset AND directly-persisted RDDs
    * (operator-internal persists + iterative-loop caches) so measurements
    * are independent.
    */
  private def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Flatten N copies of the reference's golden document (claim ids varied
    * so rows are distinct) through the full pipeline including the TSV
    * write — the workload BASELINE.md prices at ~2 min for 1,000 docs.
    * Cold = includes schema inference and the one-time Janino compilation
    * of the ~5k-column projection; warm = steady-state rate once compiled
    * (what a long-running 100 TB job actually sustains); schemaReuse =
    * a fresh end-to-end run over a fresh file with the schema passed in
    * (the ExportStream batch-N-plus-1 shape: parse + flatten + write, no
    * inference pass).
    */
  private def flattenBench(spark: SparkSession,
      n: Int = 1000): FlattenBench = {
    // this run's own scratch (~60 MB per sample) — tracked explicitly and
    // deleted in the finally; cleanStaleTmp's 1 h age threshold means it
    // would no longer catch dirs this fresh (by design: a racing run's
    // fresh scratch must survive)
    val scratch = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tmpDir(prefix: String): java.nio.file.Path = {
      val d = Files.createTempDirectory(prefix)
      scratch += d
      d
    }
    try {
      val golden = graft.queries.FlattenQueries.GoldenDoc
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(new java.io.File(golden))
      val src = root.get("hits").get("hits").get(0).get("_source")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val sb = new StringBuilder
      (0 until n).foreach { i =>
        src.put("claimRequestId", 3590021L + i)
        sb.append(mapper.writeValueAsString(src)).append('\n')
      }
      // one big JSONL file + default 128m maxPartitionBytes = 1-2 parse
      // tasks; small splits let every core parse/infer
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
      // ALL modes take 5 samples (r15 verdict item 7: more samples make
      // the spread statistic robust on this contended host) and report
      // BEST + MEDIAN: this host's
      // wall-clock swings several-fold under VM contention (BENCH_r01 cold
      // 17.5 s vs BENCH_r02 197 s for identical code; BENCH_r04 warm 24×
      // slower than cold), so a single sample is noise, and best-without-
      // spread can misread contention as regression. Each cold run gets a
      // FRESH directory + file so neither the file cache key nor the
      // inferred-schema cache can serve it.
      var lastDf: org.apache.spark.sql.DataFrame = null
      val cold = (1 to 5).map { _ =>
        val in = tmpDir("flatbench")
        Files.writeString(in.resolve("docs.jsonl"), sb.toString)
        val t0 = System.nanoTime()
        val df = spark.read.json(in.resolve("docs.jsonl").toString)
        graft.flatten.Flattener.flattenToTsv(df, in.resolve("tsv").toString)
        lastDf = df
        (System.nanoTime() - t0) / 1e9
      }
      // warm rate: same parsed df re-flattened (steady-state of a long
      // job). The CACHE is bench-managed: flattenToTsv releases any
      // cache it takes out itself (so repeated samples can't accumulate
      // pinned RDDs), which means steady-state semantics — input parsed
      // once, re-rendered per sample — need the bench to hold the
      // persist across the loop, materialized outside the clock.
      val warmIn = tmpDir("flatbenchw")
      lastDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      lastDf.count(): Unit // materialize outside the timed samples
      val warm = (1 to 5).map { i =>
        val t1 = System.nanoTime()
        graft.flatten.Flattener.flattenToTsv(lastDf,
          warmIn.resolve(s"tsv$i").toString)
        (System.nanoTime() - t1) / 1e9
      }
      lastDf.unpersist(blocking = false): Unit
      // schema-reuse: a SEPARATE copy of the input (distinct path, so the
      // cached first read cannot serve it) parsed with the known schema —
      // no inference pass, everything else end-to-end
      val schema = lastDf.schema
      val reuse = (1 to 5).map { _ =>
        val in2 = tmpDir("flatbench2")
        Files.writeString(in2.resolve("docs.jsonl"), sb.toString)
        val t2 = System.nanoTime()
        val df2 = spark.read.schema(schema)
          .json(in2.resolve("docs.jsonl").toString)
        graft.flatten.Flattener.flattenToTsv(df2, in2.resolve("tsv").toString)
        (System.nanoTime() - t2) / 1e9
      }
      FlattenBench(n, 5,
        cold.min, median(cold), warm.min, median(warm),
        reuse.min, median(reuse))
    } catch {
      case e: Throwable =>
        System.err.println(s"BENCH FAIL flatten: $e")
        FlattenBench(0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    } finally scratch.foreach(p => deleteRec(p.toFile))
  }
}
