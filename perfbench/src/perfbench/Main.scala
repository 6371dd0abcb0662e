package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.sql.SparkSession

import graft.sources.EsHttp

/** One op's outcome; the wall time is the [[Clock]]'s. */
final case class OpOut(kind: String, items: Long, error: Option[String],
    counts: Map[String, Double], fetch: Fetch = Fetch(0L, 0L, 0.0))

/** A workload drives one engine call per op. */
trait Workload {
  /** Ops per cycle of the op sequence; runs end on a cycle boundary. */
  def cycle: Int
  /** Untimed ops after the cold one, so the window starts warm. */
  def warmOps: Int
  /** Ops a run has done (the cold op included) when heap is measured. */
  def heapOps: Int
  /** The engine's own work before the first op (inside `setup_s`). */
  def setup(): Unit
  /** Runs op `i`, timing only its engine call through `clock`. */
  def op(i: Int, clock: Clock): OpOut
  /** Feeds the output checks corrupted inputs; a message if one passes. */
  def selfCheck(): Option[String]
  /** End-of-run per-layer values; drops the workload's references. */
  def finish(): Map[String, Double]
}

/** Times the one engine call of an op and tags the Spark jobs it runs
  * with the op's index.
  */
final class Clock(sc: SparkContext) {
  var op = -1
  var startNs, endNs, startMs, endMs = 0L
  def apply[A](f: => A): A = {
    sc.setLocalProperty(Recorder.OpProperty, op.toString)
    startMs = System.currentTimeMillis()
    startNs = System.nanoTime()
    try f
    finally {
      endNs = System.nanoTime()
      endMs = System.currentTimeMillis()
      sc.setLocalProperty(Recorder.OpProperty, null)
    }
  }
  def wallS: Double = (endNs - startNs) / 1e9
}

/** One op of the timed window. */
final case class Done(i: Int, out: OpOut, wallS: Double, traced: Boolean,
    trace: Option[OpTrace], gcS: Double, jitS: Double)

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR`
  *
  * Set-up (timed as `setup_s`): SparkSession start, the workload's engine
  * set-up, then the first, cold op. After the workload's untimed warm-up
  * ops comes the timed window: ops until their summed wall reaches
  * `--seconds`, ending on a cycle boundary.
  * Untraced runs print the end-to-end metrics; traced runs alternate
  * traced and untraced ops and print the per-layer metrics. The last
  * stdout line is the JSON result.
  */
object Main {
  /** Task slots: one fewer than the 4-core host has, so the driver thread,
    * the JIT compiler threads and the ES stub do not preempt tasks
    * (local[4] measured 77-107 docs/s on etl_http, local[3] 126-141).
    */
  val Slots = 3
  val EtlLiveDocs = 300
  val EtlLivePage = 25
  val EtlVintageDocs = 100

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("--workload")
    val seed = a("--seed").toLong
    val seconds = a("--seconds").toDouble
    val traced = a("--trace") == "1"
    val work = Paths.get(a("--work")).toAbsolutePath
    require(Set("etl_http", "etl_vintage", "lake_mixed")(workload),
      s"unknown workload $workload")
    sys.exit(run(workload, seed, seconds, traced, work))
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: Path): Int = {
    val problems = mutable.ArrayBuffer.empty[String]

    // inputs, outside setup_s
    val etl = workload.startsWith("etl_")
    val live = workload == "etl_http"
    val docs = if (live) EtlLiveDocs else EtlVintageDocs
    // the vintage is exported at EsHttp's default page size
    val pageSize = if (live) EtlLivePage else EsHttp.Config("", "").pageSize
    var corpus = if (etl) Claims.generate(seed, docs) else null
    if (etl) Claims.selfCheck(corpus, Claims.generate(seed + 1, docs),
      EtlLivePage).foreach(problems += _)
    var stub = if (etl) new EsStub(corpus, "claims", pageSize) else null

    val probeBefore = if (traced) probe() else 0.0
    val t0 = System.nanoTime()
    val spark = session(work)
    val sc = spark.sparkContext
    val clock = new Clock(sc)
    var w: Workload = workload match {
      case "etl_http" => new EtlWorkload(spark, corpus, stub,
        work.resolve("etl"), live = true, pageSize, heapOps = 7)
      case "etl_vintage" => new EtlWorkload(spark, corpus, stub,
        work.resolve("etl"), live = false, pageSize, heapOps = 11)
      case _ => new LakeMixed(spark, seed, work)
    }
    w.setup()
    var attempted = 0
    var failed = 0
    def attempt(i: Int): Option[OpOut] = {
      attempted += 1
      clock.op = i
      try {
        val out = w.op(i, clock)
        out.error.foreach { e => failed += 1; problems += s"op $i: $e" }
        Some(out)
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"op $i threw ${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }
    attempt(0)
    // set-up ends when the cold op's engine call returns, before its checks
    val setupS = ((if (clock.endNs > t0) clock.endNs else System.nanoTime()) - t0) / 1e9
    w.selfCheck().foreach(problems += _)
    (1 to w.warmOps).foreach(attempt(_): Unit)

    // timed window
    val rec = new Recorder
    var listening = false
    def listen(on: Boolean): Unit = if (on != listening) {
      if (on) sc.addSparkListener(rec)
      else { PerfbenchBus.drain(sc); sc.removeSparkListener(rec) }
      listening = on
    }
    val spans = mutable.ArrayBuffer.empty[Span]
    val done = mutable.ArrayBuffer.empty[Done]
    var sumWall = 0.0
    val first = 1 + w.warmOps
    var i = first
    var stop = false
    while (!stop) {
      // traced runs alternate traced and untraced ops; over two cycles of
      // odd length every position of the cycle is traced once
      val tracedOp = traced && (i - first) % 2 == 0
      listen(tracedOp)
      val (gc0, jit0) = (gcMs(), jitMs())
      val out = attempt(i)
      val (gc1, jit1) = (gcMs(), jitMs())
      out match {
        case Some(o) =>
          val tr = if (tracedOp) {
            PerfbenchBus.drain(sc)
            val t = rec.take(i)
            spans += Span(s"op:${o.kind}", i, clock.startMs, clock.endMs, "")
            if (o.fetch.requests > 0) spans += Span("EsHttp.fetch", i,
              clock.startMs, clock.startMs + (o.fetch.seconds * 1e3).toLong,
              s"op:${o.kind}")
            t.jobs.foreach(j => spans += Span(s"job:${j.module}", i, j.startMs,
              j.endMs, s"op:${o.kind}", j.callSite))
            Some(t)
          } else None
          done += Done(i, o, clock.wallS, tracedOp, tr,
            (gc1 - gc0) / 1e3, (jit1 - jit0) / 1e3)
          sumWall += clock.wallS
        case None => stop = true // the workload's state is unknown now
      }
      i += 1
      val cyclesDone = (i - first) / w.cycle
      if (sumWall >= seconds && (i - first) % w.cycle == 0 &&
          (!traced || cyclesDone >= 2)) stop = true
    }
    listen(false)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      // pad to the same op count in every run before measuring heap
      while (attempted < w.heapOps && failed == 0) { attempt(i); i += 1 }
      if (attempted > w.heapOps)
        System.err.println(s"heap_live_mb taken after $attempted ops, " +
          s"not ${w.heapOps}")
      w.finish()
      w = null
      corpus = null
      if (stub != null) { stub.stop(); stub = null }
      val heapMb = liveHeapMb()
      val walls = done.map(_.wallS).toSeq
      val items = done.map(_.out.items).sum
      println(f"# op_p50_ms over ${walls.size} ops; heap after $attempted ops")
      metrics("setup_s") = (setupS, "s")
      metrics("items_per_s") = (items / sumWall, "1/s")
      metrics("op_p50_ms") = (median(walls) * 1e3, "ms")
      metrics("ok_ratio") = ((attempted - failed).toDouble / attempted, "ratio")
      metrics("heap_live_mb") = (heapMb, "MB")
    } else {
      val end = w.finish()
      if (stub != null) { stub.stop(); stub = null }
      layerMetrics(done.toSeq, first + 2 * w.cycle, end, probeBefore, probe())
        .foreach { case (k, v) => metrics(k) = v }
      writeSpans(work.getParent.resolve(s"trace-$workload-$seed.json"), spans.toSeq)
    }
    spark.stop()
    problems.take(20).foreach(p => System.err.println(s"problem: $p"))

    val correct = problems.isEmpty
    val m = metrics.map { case (k, (v, u)) =>
      s"${q(k)}:{${q("value")}:${num(v)},${q("unit")}:${q(u)}}"
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$m}}""")
    0
  }

  private val LakeKinds = Seq("append", "upsert", "delete", "delete_range",
    "range_read", "compact")

  /** Per-layer metrics of a traced run. Counts (jobs, requests, files,
    * bytes) come from the traced ops of the first two window cycles,
    * which every traced run of a seed runs alike; times are medians over
    * every traced op.
    */
  def layerMetrics(done: Seq[Done], countEnd: Int, end: Map[String, Double],
      probeBefore: Double, probeAfter: Double): Seq[(String, (Double, String))] = {
    val tr = done.filter(_.traced)
    val first = tr.takeWhile(_.i < countEnd)
    def t(d: Done) = d.trace.get
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def medT(f: OpTrace => Double) = med(tr.map(d => f(t(d))))
    val etl = tr.exists(_.out.kind == "etl")
    def etlOnly(v: => Double) = if (etl) v else 0.0
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, u: String) = out += k -> (v, u)

    put("EsHttp.fetch_s", etlOnly(med(tr.map(_.out.fetch.seconds))), "s")
    put("EsHttp.requests", etlOnly(first.map(_.out.fetch.requests.toDouble).sum / first.size), "count")
    put("EsHttp.bytes", etlOnly(first.map(_.out.fetch.bytes.toDouble).sum / first.size), "B")
    put("EsJson.jobs", etlOnly(first.map(d => t(d).jobsOf("EsJson").size.toDouble).sum / first.size), "count")
    put("EsJson.task_s", etlOnly(medT(_.taskS.getOrElse("EsJson", 0.0))), "s")
    put("EsJson.wall_s", etlOnly(medT(_.wallS("EsJson"))), "s")
    put("EtlJob.count_wall_s", etlOnly(medT(_.wallS("EtlJob.count"))), "s")
    put("EtlJob.count_task_s", etlOnly(medT(_.taskS.getOrElse("EtlJob.count", 0.0))), "s")
    put("EtlJob.audit_wall_s", etlOnly(medT(_.wallS("EtlJob.audit"))), "s")
    put("StatsPass.wall_s", etlOnly(medT(_.wallS("StatsPass"))), "s")
    put("StatsPass.task_s", etlOnly(medT(_.taskS.getOrElse("StatsPass", 0.0))), "s")
    put("RenderPass.wall_s", etlOnly(medT(_.wallS("RenderPass"))), "s")
    put("RenderPass.task_s", etlOnly(medT(_.taskS.getOrElse("RenderPass", 0.0))), "s")
    put("RenderPass.output_bytes", etlOnly(first.map(d =>
      t(d).bytesWritten.getOrElse("RenderPass", 0L).toDouble).sum / first.size), "B")
    put("spark.slot_busy_ratio", medT(x =>
      if (x.totalJobWallS == 0) 0.0 else x.totalTaskS / (Slots * x.totalJobWallS)), "ratio")
    put("spark.spill_bytes", first.map(d => t(d).spillBytes.toDouble).sum, "B")
    put("spark.cache_peak_mb", medT(_.cachePeakMb), "MB")
    put("unattributed.task_s", medT(_.taskS.getOrElse("unattributed", 0.0)), "s")
    put("driver.only_s", etlOnly(med(tr.map(d =>
      math.max(0.0, d.wallS - d.out.fetch.seconds - t(d).jobUnionS)))), "s")

    LakeKinds.foreach { k =>
      val all = tr.filter(_.out.kind == k)
      val firstK = first.filter(_.out.kind == k)
      put(s"VersionedLake.$k.wall_ms", med(all.map(_.wallS * 1e3)), "ms")
      put(s"VersionedLake.$k.jobs", med(firstK.map(d => t(d).jobs.size.toDouble)), "count")
      put(s"VersionedLake.$k.task_s", med(all.map(d => t(d).totalTaskS)), "s")
      put(s"VersionedLake.$k.driver_s", med(all.map(d =>
        math.max(0.0, d.wallS - t(d).jobUnionS))), "s")
    }
    def sumFirst(kind: String, c: String) =
      first.filter(_.out.kind == kind).map(_.out.counts.getOrElse(c, 0.0)).sum
    put("VersionedLake.upsert.files_rewritten", sumFirst("upsert", "files_rewritten"), "count")
    put("VersionedLake.delete.files_rewritten", sumFirst("delete", "files_rewritten"), "count")
    put("VersionedLake.delete_range.files_dropped", sumFirst("delete_range", "files_dropped"), "count")
    val mutations = first.filter(d => d.out.counts.contains("user_bytes"))
    val userBytes = mutations.map(_.out.counts("user_bytes")).sum
    put("VersionedLake.write_amp", if (userBytes == 0) 0.0 else
      mutations.map(d => t(d).bytesWritten.values.sum.toDouble).sum / userBytes, "ratio")
    val total = sumFirst("range_read", "files_total")
    put("VersionedLake.range_read.files_admitted_ratio",
      if (total == 0) 0.0 else sumFirst("range_read", "files_admitted") / total, "ratio")
    put("VersionedLake.files_live", end.getOrElse("VersionedLake.files_live", 0.0), "count")
    put("VersionedLake.versions", end.getOrElse("VersionedLake.versions", 0.0), "count")

    put("jvm.gc_s", tr.map(_.gcS).sum / tr.size, "s")
    put("jvm.jit_s", tr.map(_.jitS).sum / tr.size, "s")
    put("host.probe_s.before", probeBefore, "s")
    put("host.probe_s.after", probeAfter, "s")
    // traced ÷ untraced median wall, per op kind, then the median kind
    val ratios = done.groupBy(_.out.kind).values.flatMap { ds =>
      val (t1, t0) = ds.partition(_.traced)
      if (t1.isEmpty || t0.isEmpty) None
      else Some(median(t1.map(_.wallS)) / median(t0.map(_.wallS)))
    }.toSeq
    put("trace.overhead", med(ratios), "ratio")
    out.toSeq
  }

  def session(work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$Slots]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", Slots.toLong)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // Spark's own status store keeps recent jobs and SQL plans (5k-column
    // ones here); bounding it keeps heap_live_mb about what the engine
    // retains, not how many ops the window fitted.
    .config("spark.sql.ui.retainedExecutions", 20L)
    .config("spark.ui.retainedJobs", 100L)
    .config("spark.ui.retainedStages", 100L)
    .withExtensions(new graft.GraftExtensions)
    .getOrCreate()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Used heap after full collections, once nothing of ours is live. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** A fixed, data-independent CPU loop; its time is the host's speed. */
  private def probe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x2545f4914f6cdd1dL
    var k = 0
    while (k < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      k += 1
    }
    if (x == 42) println("#")
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def q(s: String) = "\"" + s + "\""
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    val body = spans.map(s => s"""{"name":${q(s.name)},"op":${s.op},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"parent":${q(s.parent)},""" +
      s""""detail":${q(s.detail)}}""")
      .mkString("[\n", ",\n", "\n]\n")
    Files.write(p, body.getBytes("UTF-8")): Unit
  }
}
