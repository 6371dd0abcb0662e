package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.api.EtlJob
import graft.sources.EsHttp

/** The paper's job, one op per call of the engine's public ETL entry.
  *
  *  - `live` (`etl_http`): each op is `EtlJob.runHttp` against the stub at
  *    `pageSize` documents a page: `_count`, the `search_after` loop,
  *    schema inference + EmptyShapes, the sidecar, count, StatsPass,
  *    render, TSV write and the audit row, every time.
  *  - vintage (`etl_vintage`): set-up exports the claims once through
  *    `EsHttp.read` at its default 1,000-document page (one page file,
  *    fewer than the task slots) and pins `_schema.json`; each op is
  *    `EtlJob.run` over that directory, so fetch and inference do no work
  *    and every pass runs one task per page file.
  */
final class EtlWorkload(spark: SparkSession, corpus: Claims.Corpus,
    stub: EsStub, work: Path, live: Boolean, pageSize: Int,
    val heapOps: Int) extends Workload {

  val cycle = 1
  val warmOps = 1
  private val n = corpus.docs.size.toLong
  private val ids = corpus.docs.map(_.id).toSet
  private val vintage = work.resolve("vintage").toString
  private val cfg = EsHttp.Config(stub.baseUrl, stub.index, pageSize = pageSize)
  private var coldParts: Seq[Vector[String]] = Nil

  def setup(): Unit = if (!live) EsHttp.read(spark, cfg, vintage): Unit

  def op(i: Int, clock: Clock): OpOut = {
    val dir = work.resolve(s"op-$i")
    val (tsv, audit) = (dir.resolve("tsv"), dir.resolve("audit").toString)
    stub.reset()
    val res = clock {
      if (live) EtlJob.runHttp(spark, cfg, dir.resolve("pages").toString,
        tsv.toString, audit)
      else EtlJob.run(spark, vintage, tsv.toString, audit)
    }
    val fetch = stub.snapshot()
    val parts = Check.readParts(tsv)
    if (i == 0) coldParts = parts
    val err =
      (if (res.records != n) Some(s"job reported ${res.records} records, expected $n")
       else if (res.columns != corpus.columns.size)
         Some(s"job reported ${res.columns} columns, expected ${corpus.columns.size}")
       else None)
        .orElse(Check.tsv(parts, corpus.columns, ids))
        .orElse(auditError(audit))
    Check.deleteTree(dir)
    OpOut("etl", n, err, Map.empty, fetch)
  }

  /** One SUCCESS audit row carrying the loaded record count. */
  private def auditError(path: String): Option[String] = {
    val rows = spark.read.parquet(path).collect()
    if (rows.length != 1) Some(s"${rows.length} audit rows, expected 1")
    else if (rows(0).getAs[String]("job_status") != "SUCCESS")
      Some(s"audit status ${rows(0).getAs[String]("job_status")}")
    else if (rows(0).getAs[Long]("record_count_loaded") != n)
      Some(s"audit record_count_loaded ${rows(0).getAs[Long]("record_count_loaded")}, expected $n")
    else None
  }

  def selfCheck(): Option[String] =
    Check.tsvSelfCheck(coldParts, corpus.columns, ids)

  def finish(): Map[String, Double] = { coldParts = Nil; Map.empty }
}
