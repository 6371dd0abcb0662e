package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.flatten.Flattener
import graft.sources.EsJson

/** The reference's end-to-end job surface, Spark-native
  * ([`ElasticSearch ETL.py:201-317`]): read exported ES responses (or bare
  * documents) → flatten completely → TSV out → one job-audit row carrying
  * the record count, SUCCESS and FAILED paths both audited.
  *
  * The reference's sequential `search_after` page loop becomes a single
  * distributed read: every response file is an input split, the flatten
  * projection runs on executors, and the TSV write is one distributed job
  * (per-batch output files fall out of partitioning rather than a driver
  * loop). Client-held pagination state disappears — offline exports are
  * complete by construction, and a live connector would map shards to
  * partitions the same way.
  */
object EtlJob {

  /** Audit record per run — the fields `utils.log_to_sql_db` receives at
    * [`ElasticSearch ETL.py:271-282`].
    */
  final case class AuditRecord(
      job_name: String, job_id: Long, start_ts: Timestamp, end_ts: Timestamp,
      job_status: String, executable_cmd: String, error_desc: String,
      batch_id: String, table_name: String, record_count_loaded: Long)

  final case class Result(records: Long, columns: Int, outputDir: String)

  /** Append one audit row. The reference targets a SQL DB; offline we
    * append to a parquet audit table (`df.write.jdbc` is the one-line swap
    * for a live database).
    */
  def logAudit(spark: SparkSession, auditPath: String,
      rec: AuditRecord): Unit = {
    import spark.implicits._
    Seq(rec).toDF().write.mode(SaveMode.Append).parquet(auditPath)
  }

  /** JDBC form of the audit append — the reference's actual sink
    * (`utils.log_to_sql_db`, [`ElasticSearch ETL.py:271-299`]). Identical
    * record shape to [[logAudit]]; `url` is any JDBC database (the audit
    * table is created on first append). One row per run — driver-side
    * size by construction, so a single-partition JDBC write is correct.
    */
  def logAuditJdbc(spark: SparkSession, url: String, table: String,
      rec: AuditRecord,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    import spark.implicits._
    Seq(rec).toDF().coalesce(1)
      .write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** Full job: flatten every document under `inputPath` to TSV part-files
    * in `outputDir`, audit to `auditPath`. Mirrors the reference's
    * try/success/except/failure audit contract.
    */
  def run(spark: SparkSession, inputPath: String, outputDir: String,
      auditPath: String, jobName: String = "Initial_load_from_export",
      tableName: String = "documents", maxDepth: Int = 20): Result =
    runDocs(spark, EsJson.read(spark, inputPath), outputDir, auditPath,
      jobName, tableName, maxDepth)

  /** The same full job against a LIVE Elasticsearch index through
    * [[graft.sources.EsLive]] — the end-to-end shape of the reference's
    * `fetch_and_export_documents` [`ElasticSearch ETL.py:201-267`] with
    * the connector replacing the client-side page loop. Failure (e.g. no
    * connector on the classpath, unreachable cluster) writes the same
    * FAILED audit row the reference's except-path does.
    */
  def runLive(spark: SparkSession, cfg: graft.sources.EsLive.EsConfig,
      outputDir: String, auditPath: String,
      jobName: String = "Initial_load_from_live",
      tableName: String = "documents", maxDepth: Int = 20): Result =
    runDocs(spark, graft.sources.EsLive.read(spark, cfg), outputDir,
      auditPath, jobName, tableName, maxDepth)

  /** The reference's OWN live loop, end to end: `_count` + `search_after`
    * REST pagination ([[graft.sources.EsHttp]] — the faithful twin of
    * `fetch_and_export_documents`, `ElasticSearch ETL.py:201-267`) pulls
    * pages into `pageDir`, then the standard distributed
    * flatten→TSV→audit job runs over them. A fetch failure (bad
    * endpoint, wedged cursor) is audited on the FAILED path exactly like
    * a flatten failure — the reference's except-branch contract.
    * Integration-tested against an embedded HTTP stub (`EtlJobSpec`).
    */
  def runHttp(spark: SparkSession, cfg: graft.sources.EsHttp.Config,
      pageDir: String, outputDir: String, auditPath: String,
      jobName: String = "Initial_load_from_live",
      tableName: String = "documents", maxDepth: Int = 20): Result =
    runDocs(spark, graft.sources.EsHttp.read(spark, cfg, pageDir),
      outputDir, auditPath, jobName, tableName, maxDepth)

  /** Source-agnostic core: any document DataFrame (offline export, live
    * index, test fixture) → flatten → TSV → audit. `docs` is
    * by-name so source-construction failures are audited too.
    */
  def runDocs(spark: SparkSession, docs: => DataFrame, outputDir: String,
      auditPath: String, jobName: String = "Initial_load_from_export",
      tableName: String = "documents", maxDepth: Int = 20): Result = {
    val start = new Timestamp(System.currentTimeMillis())
    val batchId = new java.text.SimpleDateFormat("yyyyMMddHHmmss")
      .format(start)
    try {
      // the record count (the reference's ES.count sizing step) comes
      // from the flatten's own stats pass, not an extra read of the input
      val out = Flattener.flattenToTsv(docs, outputDir, maxDepth)
      logAudit(spark, auditPath, AuditRecord(
        jobName, 8L, start, new Timestamp(System.currentTimeMillis()),
        "SUCCESS", "spark_etl_export", null, batchId, tableName, out.rows))
      Result(out.rows, out.columns.length, outputDir)
    } catch {
      case e: Throwable =>
        logAudit(spark, auditPath, AuditRecord(
          jobName, 8L, start, new Timestamp(System.currentTimeMillis()),
          "FAILED", "spark_etl_export", String.valueOf(e.getMessage),
          batchId, tableName, 0L))
        throw e
    }
  }

  /** Interactive surface [`README.md:121-135`]: project the columns whose
    * name contains `substring`.
    */
  def searchColumns(flat: DataFrame, substring: String): DataFrame = {
    val hit = flat.columns.filter(_.contains(substring))
    if (hit.isEmpty) flat.limit(0).select()
    else flat.select(hit.map(c => col(s"`$c`")): _*)
  }

  /** Interactive surface [`README.md:128-130`]: transpose-preview of the
    * first row — (column, value) pairs for eyeballing 5000-column rows.
    * Driver-side by design: preview of a bounded number of rows.
    */
  def transposePreview(flat: DataFrame, maxCols: Int = 50): DataFrame = {
    val spark = flat.sparkSession
    import spark.implicits._
    val row = flat.limit(1).collect().headOption
    val cols = flat.columns.take(maxCols)
    row match {
      case Some(r) =>
        cols.zipWithIndex.map { case (c, i) =>
          (c, String.valueOf(r.get(i)))
        }.toSeq.toDF("column", "value")
      case None => Seq.empty[(String, String)].toDF("column", "value")
    }
  }
}
