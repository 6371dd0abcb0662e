package graft.api

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType,
  TimestampType}

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

  /** The audit table's schema, derived once from [[AuditRecord]]. */
  private val AuditSchema: StructType = Encoders.product[AuditRecord].schema

  /** `rec` as a one-row frame, built from [[AuditSchema]]: no encoder is
    * derived by reflection on each call, as `Seq(rec).toDF()` does.
    */
  private def auditFrame(spark: SparkSession, rec: AuditRecord): DataFrame =
    spark.createDataFrame(java.util.List.of(Row.fromTuple(rec)), AuditSchema)

  /** [[AuditSchema]] as a parquet message: strings, longs and
    * microsecond UTC timestamps, required where the field is not nullable
    * — the layout Spark writes for it with `TIMESTAMP_MICROS` output.
    */
  private val AuditParquet = MessageTypeParser.parseMessageType(
    AuditSchema.fields.map { f =>
      val rep = if (f.nullable) "optional" else "required"
      val tpe = f.dataType match {
        case StringType => "binary %s (STRING)"
        case LongType => "int64 %s"
        case TimestampType => "int64 %s (TIMESTAMP(MICROS,true))"
        case other => sys.error(s"no audit column type for $other")
      }
      s"$rep ${tpe.format(f.name)};"
    }.mkString("message spark_schema { ", " ", " }"))

  /** Append one audit row. The reference targets a SQL DB; offline we
    * append to a parquet audit table (`df.write.jdbc` is the one-line swap
    * for a live database). The row is written on the driver, no Spark job:
    * one parquet file carrying Spark's row metadata (so a read of the
    * table gives [[AuditSchema]]), written under a hidden name and
    * published as `part-<job_id>.parquet` with one rename. Each run has
    * its own `job_id`, so concurrent runs append side by side and readers
    * see whole files only; a second row under one `job_id` is refused.
    */
  def logAudit(spark: SparkSession, auditPath: String,
      rec: AuditRecord): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(auditPath)
    val fs = dir.getFileSystem(conf)
    val dst = new Path(dir, s"part-${rec.job_id}.parquet")
    val tmp = new Path(dir, s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(AuditParquet)
        .withExtraMetaData(Map(
          ParquetReadSupport.SPARK_METADATA_KEY -> AuditSchema.json,
          // Spark's SPARK_VERSION_METADATA_KEY, which it keeps private
          "org.apache.spark.version" -> org.apache.spark.SPARK_VERSION_SHORT)
          .asJava)
        .build()
      try {
        val g = new SimpleGroup(AuditParquet)
        AuditSchema.fields.zip(rec.productIterator).foreach {
          case (_, null) =>
          case (f, v: String) => g.add(f.name, v)
          case (f, v: Long) => g.add(f.name, v)
          case (f, v: Timestamp) =>
            g.add(f.name, org.apache.spark.sql.catalyst.util.DateTimeUtils
              .fromJavaTimestamp(v))
          case (f, v) => sys.error(s"audit column ${f.name}: unexpected $v")
        }
        w.write(g)
      } finally w.close()
      require(!fs.exists(dst), s"logAudit: $dst already holds job ${rec.job_id}")
      require(fs.rename(tmp, dst), s"logAudit: publish $tmp -> $dst failed")
    } finally fs.delete(tmp, false): Unit
  }

  /** JDBC form of the audit append — the reference's actual sink
    * (`utils.log_to_sql_db`, [`ElasticSearch ETL.py:271-299`]). Identical
    * record shape to [[logAudit]]; `url` is any JDBC database (the audit
    * table is created on first append). One row per run — driver-side
    * size by construction, so a single-partition JDBC write is correct.
    */
  def logAuditJdbc(spark: SparkSession, url: String, table: String,
      rec: AuditRecord,
      props: java.util.Properties = new java.util.Properties()): Unit =
    auditFrame(spark, rec).coalesce(1)
      .write.mode(SaveMode.Append).jdbc(url, table, props)

  /** Full job: flatten every document under `inputPath` to TSV part-files
    * in `outputDir`, audit to `auditPath`. Mirrors the reference's
    * try/success/except/failure audit contract. The export's schema and
    * stats come from its sidecar, or, when it carries none, from one
    * Spark job folding its files ([[EsJson.sidecar]]; nothing is written
    * into the input). A directory of ES responses then flattens as a
    * vintage ([[EsJson.vintage]]): the render, which writes the TSV, is
    * the job's only other Spark job, the audit row is written on the
    * driver, and nothing is cached.
    */
  def run(spark: SparkSession, inputPath: String, outputDir: String,
      auditPath: String, jobName: String = "Initial_load_from_export",
      tableName: String = "documents", maxDepth: Int = 20): Result =
    audited(spark, outputDir, auditPath, jobName, tableName)(
      flattenExport(spark, inputPath, EsJson.sidecar(spark, inputPath),
        outputDir, maxDepth))

  /** Flattens the export under `dir`, described by `side`: as a vintage
    * when `side` carries the stats of ES responses, else through
    * [[EsJson.read]]'s document frame and the stats pass.
    */
  private def flattenExport(spark: SparkSession, dir: String,
      side: EsJson.Sidecar, outputDir: String,
      maxDepth: Int): Flattener.Written =
    EsJson.vintage(spark, dir, side) match {
      case Some(v) => Flattener.flattenToTsv(v, outputDir, maxDepth)
      case None =>
        Flattener.flattenToTsv(EsJson.read(spark, dir, side, multiLine = true),
          outputDir, maxDepth)
    }

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
    * flatten→TSV→audit job runs over them, as a vintage with the schema
    * and stats the export folded: one Spark job, the render, which writes
    * the TSV; the audit row is written on the driver. A fetch failure
    * (bad endpoint, wedged cursor) is audited on the FAILED path exactly
    * like a flatten failure — the reference's except-branch contract.
    * Integration-tested against an embedded HTTP stub (`EtlJobSpec`).
    */
  def runHttp(spark: SparkSession, cfg: graft.sources.EsHttp.Config,
      pageDir: String, outputDir: String, auditPath: String,
      jobName: String = "Initial_load_from_live",
      tableName: String = "documents", maxDepth: Int = 20): Result =
    audited(spark, outputDir, auditPath, jobName, tableName)(
      flattenExport(spark, pageDir,
        graft.sources.EsHttp.exportVintage(spark, cfg, pageDir),
        outputDir, maxDepth))

  /** Source-agnostic core: any document DataFrame (offline export, live
    * index, test fixture) → flatten → TSV → audit. `docs` is
    * by-name so source-construction failures are audited too.
    */
  def runDocs(spark: SparkSession, docs: => DataFrame, outputDir: String,
      auditPath: String, jobName: String = "Initial_load_from_export",
      tableName: String = "documents", maxDepth: Int = 20): Result =
    audited(spark, outputDir, auditPath, jobName, tableName)(
      Flattener.flattenToTsv(docs, outputDir, maxDepth))

  private val runIds = new java.security.SecureRandom

  /** Runs `flatten` under the audit contract: one SUCCESS row carrying
    * the record count, or one FAILED row and the failure rethrown. The
    * row's `job_id` is a random 63-bit id of this run.
    */
  private def audited(spark: SparkSession, outputDir: String,
      auditPath: String, jobName: String, tableName: String)(
      flatten: => Flattener.Written): Result = {
    val runId = runIds.nextLong() & Long.MaxValue
    val start = new Timestamp(System.currentTimeMillis())
    val batchId = new java.text.SimpleDateFormat("yyyyMMddHHmmss")
      .format(start)
    try {
      // the record count (the reference's ES.count sizing step) comes
      // from the flatten itself, not an extra read of the input
      val out = flatten
      logAudit(spark, auditPath, AuditRecord(
        jobName, runId, start, new Timestamp(System.currentTimeMillis()),
        "SUCCESS", "spark_etl_export", null, batchId, tableName, out.rows))
      Result(out.rows, out.columns.length, outputDir)
    } catch {
      case e: Throwable =>
        logAudit(spark, auditPath, AuditRecord(
          jobName, runId, start, new Timestamp(System.currentTimeMillis()),
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
