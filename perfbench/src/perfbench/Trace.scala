package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Engine module of a stage, from the source file its call site names
  * (`StageInfo.name`, e.g. `count at EtlJob.scala:113`). A stage whose
  * file is not listed is `unattributed`, so a refactor that moves a job
  * into another file shows up there instead of being counted against the
  * wrong module.
  */
object Modules {
  def of(stageName: String): String = {
    val method = stageName.takeWhile(_ != ' ')
    val file = stageName.indexOf(" at ") match {
      case -1 => ""
      case i => stageName.substring(i + 4).takeWhile(_ != ':')
    }
    file match {
      case "EsJson.scala" | "EmptyShapes.scala" => "EsJson"
      case "EtlJob.scala" =>
        if (method == "count") "EtlJob.count" else "EtlJob.audit"
      case "StatsPass.scala" => "StatsPass"
      case "Flattener.scala" | "RenderPass.scala" => "RenderPass"
      // LakeMixed.scala collects the frame a range read returns
      case "VersionedLake.scala" | "LakeMixed.scala" => "VersionedLake"
      case _ => "unattributed"
    }
  }
}

final case class Span(name: String, op: Int, startMs: Long, endMs: Long,
    parent: String, detail: String = "")

final case class JobRec(id: Int, op: Int, module: String, callSite: String,
    startMs: Long, endMs: Long)

/** What the engine did during one op, as the listener saw it. */
final case class OpTrace(jobs: Seq[JobRec], taskS: Map[String, Double],
    bytesWritten: Map[String, Long], spillBytes: Long, cachePeakMb: Double) {
  def jobsOf(m: String): Seq[JobRec] = jobs.filter(_.module == m)
  def wallS(m: String): Double =
    jobsOf(m).map(j => j.endMs - j.startMs).sum / 1e3
  def totalTaskS: Double = taskS.values.sum
  def totalJobWallS: Double = jobs.map(j => j.endMs - j.startMs).sum / 1e3
  /** Time with at least one job running. */
  def jobUnionS: Double = {
    var covered = 0L
    var reach = Long.MinValue
    jobs.sortBy(_.startMs).foreach { j =>
      val s = math.max(j.startMs, reach)
      if (j.endMs > s) covered += j.endMs - s
      reach = math.max(reach, j.endMs)
    }
    covered / 1e3
  }
}

/** SparkListener that files every job, task and cached block of the
  * traced ops under the op that ran it (the `OpProperty` local
  * property) and the module its call site names: the stage's own, else
  * the job's.
  */
final class Recorder extends SparkListener {
  private final class StageAcc(val op: Int, val module: String) {
    var taskMs = 0L
    var bytesWritten = 0L
    var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val executions = mutable.HashMap.empty[Long, String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var peakOp = -1
  private val peak = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Recorder.OpProperty))).foreach { o =>
      val op = o.toInt
      val result = e.stageInfos.maxBy(_.stageId).name
      // a job an adaptive query runs from a pool thread names a JDK frame;
      // its SQL execution still carries the engine's call site
      val site = if (Modules.of(result) != "unattributed") result
        else props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(x => executions.get(x.toLong)).getOrElse(result)
      val module = Modules.of(site)
      jobs(e.jobId) = JobRec(e.jobId, op, module, site, e.time, -1L)
      e.stageInfos.foreach { s =>
        val m = Modules.of(s.name)
        stages(s.stageId) = new StageAcc(op, if (m == "unattributed") module else m)
      }
      if (peakOp != op) { peakOp = op; peak(op) = cached }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case x: SparkListenerSQLExecutionStart => executions(x.executionId) = x.description
      case x: SparkListenerSQLExecutionEnd => executions.remove(x.executionId): Unit
      case _ =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.bytesWritten += m.outputMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cached += now - blocks.getOrElse(b.blockId.name, 0L)
        if (now == 0) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = now
        if (peakOp >= 0) peak(peakOp) = math.max(peak.getOrElse(peakOp, 0L), cached)
      }
    }

  /** Removes and returns everything recorded for `op`. Call after the
    * listener bus has drained.
    */
  def take(op: Int): OpTrace = synchronized {
    val js = jobs.values.filter(_.op == op).toVector
    js.foreach(j => jobs.remove(j.id))
    val ss = stages.filter(_._2.op == op)
    ss.keys.foreach(stages.remove)
    val acc = ss.values.toSeq
    OpTrace(js,
      acc.groupBy(_.module).map { case (m, xs) => m -> xs.map(_.taskMs).sum / 1e3 },
      acc.groupBy(_.module).map { case (m, xs) => m -> xs.map(_.bytesWritten).sum },
      acc.map(_.spill).sum,
      peak.remove(op).getOrElse(0L) / 1048576.0)
  }
}

object Recorder {
  val OpProperty = "perfbench.op"
}
