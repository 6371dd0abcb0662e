package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.flatten.Flattener
import graft.sources.EsJson

/** Streaming form of the export job with PER-BATCH schema semantics
  * (SURVEY.md §2.3 Q6): the reference computes the column union per
  * fetched page [`ElasticSearch ETL.py:238-240`], so TSV files from one
  * run may have different column sets. The batch `EtlJob` deliberately
  * uses ONE global schema (the better default); this job reproduces the
  * faithful per-batch behavior by treating each exported response file as
  * one micro-batch: file stream source → `foreachBatch` → flatten THAT
  * batch → one TSV named `{prefix}_{lastClaimId}_{utc}.tsv`
  * (the reference's file-naming shape [`ETL.py:247-257`]: the tag is the
  * page's last — i.e. max, under the reference's claim-id sort — claim
  * id; falls back to the batch id when the page has no claim-id column).
  *
  * `maxFilesPerTrigger=1` maps one export file to one batch, mirroring
  * one `search_after` page per loop iteration; checkpointing gives the
  * exactly-once restart semantics the reference's client-held
  * `search_after` state approximates.
  */
object ExportStream {

  final case class BatchResult(batchId: Long, rows: Long, columns: Int,
      file: String)

  /** @param checkpointDir source-progress checkpoint. Reusing the same
    *   directory across invocations gives exactly-once file processing:
    *   a restarted job skips every export file already committed — the
    *   durable version of the reference's client-held `search_after`
    *   cursor. Default: a fresh temp dir (process everything).
    * @param docSchema optional known document schema. When set, the
    *   per-batch schema fold (one Spark job per page) is skipped and every
    *   batch parses with this schema — the high-throughput mode for runs
    *   whose pages share one layout. Default null keeps the reference's
    *   faithful per-batch schema-union semantics (quirk Q6).
    */
  def run(spark: SparkSession, inputDir: String, outputDir: String,
      filePrefix: String = "rta_claim_headers",
      maxDepth: Int = 20, checkpointDir: String = null,
      claimIdCol: String = "claimRequestId",
      docSchema: org.apache.spark.sql.types.StructType = null): Seq[BatchResult] = {
    // output-dir creation and the per-batch single-file promote resolve
    // through the Hadoop FileSystem API so the export can target HDFS/S3
    // paths, not just the local filesystem (the StreamFs rationale)
    val outFs = StreamFs.fs(spark, outputDir)
    outFs.mkdirs(new org.apache.hadoop.fs.Path(outputDir)): Unit
    val checkpoint =
      if (checkpointDir != null) checkpointDir
      else Files.createTempDirectory("export_ckpt").toString
    val results = collection.mutable.ArrayBuffer.empty[BatchResult]

    // schema-of-strings source: each line is one exported response/doc;
    // the schema fold and the parse happen per batch so each batch gets
    // ITS OWN schema union, exactly like the reference's per-page pass 1.
    val raw = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(inputDir)

    val q = raw.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val lines = batch.select("value").as(
          org.apache.spark.sql.Encoders.STRING)
        if (!lines.isEmpty) {
          val schema = Option(docSchema)
            .getOrElse(EsJson.ParseSchemaFold.lines(spark, lines).schema)
          val docs = EsJson.unwrap(spark.read.schema(schema).json(lines))
          val ts = java.time.format.DateTimeFormatter
            .ofPattern("yyyyMMdd_HHmmss")
            .withZone(java.time.ZoneOffset.UTC)
            .format(java.time.Instant.now())
          // reference tag: the page's last claim id (ETL.py:247-257);
          // pages arrive sorted by claim id, so last = max
          val tag = docs.columns
            .find(_.equalsIgnoreCase(claimIdCol))
            .flatMap { c =>
              Option(docs.agg(org.apache.spark.sql.functions
                .max(org.apache.spark.sql.functions.col(s"`$c`"))).head.get(0))
            }
            .map(_.toString)
            .getOrElse(batchId.toString)
          val file = s"$outputDir/${filePrefix}_${tag}_$ts.tsv"
          val tmp = file + ".dir"
          val out = Flattener.flattenToTsv(docs, tmp, maxDepth,
            singleFile = true)
          val part = outFs.listStatus(new org.apache.hadoop.fs.Path(tmp))
            .map(_.getPath).find(_.getName.startsWith("part-")).get
          val dest = new org.apache.hadoop.fs.Path(file)
          outFs.delete(dest, false) // REPLACE_EXISTING semantics
          require(outFs.rename(part, dest),
            s"ExportStream: rename $part -> $dest failed; the batch's " +
              "TSV is intact in the scratch dir — re-run the batch")
          outFs.delete(new org.apache.hadoop.fs.Path(tmp), true): Unit
          results.synchronized {
            results += BatchResult(batchId, out.rows, out.columns.length,
              file)
          }
        }
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    results.toSeq.sortBy(_.batchId)
  }
}
