package graft.sources

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.json.{InferSchemaAccess, JSONOptionsInRead,
  JsonInferSchema}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.flatten.EmptyShapes

/** Elasticsearch search-response JSON source (SURVEY.md §2.1 #1/#3).
  *
  * The reference detects the `{hits: {hits: [{_source: …}]}}` envelope and
  * keeps only `_source` payloads, discarding all ES metadata
  * [`ElasticSearch ETL.py:157-163`]; bare documents pass through as-is.
  *
  * Live-cluster pagination (`search_after` loop, [`ETL.py:220-267`]) is a
  * connector concern out of scope offline (SURVEY.md §7.5); exported
  * response files are the modeled input. One exploded row per hit — at
  * scale, responses across many files parallelize by file split, and the
  * explode is narrow (no shuffle).
  */
object EsJson {

  /** The JSON reader options of every export read, and of the schema
    * fold of a fresh export ([[ParseSchemaFold]]). `multiLine` because
    * exported responses are pretty-printed single documents, not JSONL.
    * ISO-8601-looking strings must stay strings — the reference never
    * parses dates (SURVEY.md §1.2); the inference flags are explicit even
    * though they default to false.
    */
  private def readerOptions(multiLine: Boolean): Map[String, String] = Map(
    "multiLine" -> multiLine.toString,
    "inferTimestamp" -> "false",
    "inferDate" -> "false",
    "prefersDecimal" -> "false")

  private def reader(spark: SparkSession, multiLine: Boolean)
      : DataFrameReader =
    spark.read.options(readerOptions(multiLine))

  /** True if the inferred schema carries the ES response envelope. */
  def isEnvelope(schema: StructType): Boolean =
    schema.fields.find(_.name == "hits").map(_.dataType).exists {
      case s: StructType =>
        s.fields.find(_.name == "hits").map(_.dataType).exists {
          case ArrayType(h: StructType, _) => h.fieldNames.contains("_source")
          case _ => false
        }
      case _ => false
    }

  /** Unwrap an envelope DataFrame to one row per `_source` document. */
  def unwrap(df: DataFrame): DataFrame =
    if (isEnvelope(df.schema))
      df.select(explode(col("hits.hits")).as("hit")).select("hit._source.*")
    else df

  /** Name of the per-vintage schema sidecar an export directory may
    * carry: the PARSE schema (pre-unwrap, post-[[graft.flatten.EmptyShapes]]
    * graft) as Spark schema JSON. Underscore-prefixed, so the JSON
    * datasource never reads it as data.
    */
  val SchemaSidecar = "_schema.json"

  /** Persist `parseSchema` as the vintage sidecar of `dir` (side name +
    * atomic rename, the manifest-commit discipline). An exported vintage
    * is immutable once written, so its grafted schema is discovered ONCE
    * at export time — by [[EsHttp.read]], as its fetch loop receives the
    * pages ([[ParseSchemaFold]]); every later read of the vintage then
    * skips both the inference scan and the EmptyShapes discovery pass —
    * zero Spark jobs before the parse itself.
    */
  def writeSchemaSidecar(spark: SparkSession, dir: String,
      parseSchema: StructType): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val side = new Path(base, SchemaSidecar + ".writing")
    val out = fs.create(side, true)
    try out.write(parseSchema.json.getBytes("UTF-8")) finally out.close()
    val dst = new Path(base, SchemaSidecar)
    fs.delete(dst, false)
    require(fs.rename(side, dst),
      s"writeSchemaSidecar: commit $side -> $dst failed")
  }

  /** The vintage's persisted parse schema, when `path` is a directory
    * carrying one. A CORRUPT sidecar fails loudly — silently falling
    * back to inference could give a different schema than every other
    * reader of the vintage saw.
    */
  def readSchemaSidecar(spark: SparkSession,
      path: String): Option[StructType] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path, SchemaSidecar)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isFile) None
    else {
      val in = fs.open(p)
      val text =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      Some(DataType.fromJson(text).asInstanceOf[StructType])
    }
  }

  /** Read one-or-many exported ES response files (or bare document files)
    * as one row per document. `multiLine` because exported responses are
    * pretty-printed single documents, not JSONL.
    *
    * If the path is a vintage directory carrying a [[SchemaSidecar]],
    * the persisted parse schema is used directly — no inference scan, no
    * EmptyShapes discovery, no Spark job until the parse itself.
    */
  def read(spark: SparkSession, path: String,
      multiLine: Boolean = true): DataFrame =
    readSchemaSidecar(spark, path) match {
      case Some(ps) => unwrap(reader(spark, multiLine).schema(ps).json(path))
      case None => readFiles(spark, Seq(path), multiLine)
    }

  /** Multi-path variant of [[read]] — the bounded schema-inference
    * prefix of the es-export connector reads an explicit file list.
    * Parses with [[inferParseSchema]]'s schema over the same paths.
    */
  def readFiles(spark: SparkSession, paths: Seq[String],
      multiLine: Boolean = true): DataFrame =
    unwrap(reader(spark, multiLine)
      .schema(inferParseSchema(spark, paths, multiLine)).json(paths: _*))

  /** The PARSE schema of the documents under `paths`: Spark's JSON
    * inference AUGMENTED with [[graft.flatten.EmptyShapes]]. Keys whose
    * value is an empty object in every document are dropped by Spark's
    * schema inference, which would silently erase them from
    * JSON-rendered subtree cells where the reference's json.dumps keeps
    * them; the shape pass reuses the same paths as inference. Spark
    * passes over the data: one for inference, and one for the shape
    * discovery unless the input is small enough to read on the driver.
    *
    * A fresh [[EsHttp]] export does not come here: its fetch loop folds
    * the same schema page by page ([[ParseSchemaFold]]). This is the
    * path of a directory without a [[SchemaSidecar]], and the oracle the
    * fold is tested against.
    */
  def inferParseSchema(spark: SparkSession, paths: Seq[String],
      multiLine: Boolean = true): StructType =
    EmptyShapes.augment(spark, reader(spark, multiLine).json(paths: _*).schema,
      paths, wholeFile = multiLine)

  /** [[inferParseSchema]] for whole-file documents the driver already
    * holds, folded in one document at a time with no Spark job: Spark's
    * own per-document inference (`JsonInferSchema.inferField` over a
    * parser from `JSONOptions.buildJsonFactory()`) merged with
    * `compatibleRootType`, then finished with Spark's `canonicalizeType`
    * and the EmptyShapes graft, whose shapes an [[EmptyShapes.Fold]]
    * absorbs in place. The options are the ones `spark.read.json` builds
    * from [[readerOptions]] (multiLine), the session time zone and the
    * corrupt-record column name.
    *
    * Not thread-safe: one thread adds at a time. [[EsHttp.read]] feeds
    * it from one fold worker beside its fetch loop, in page order, and
    * reads [[result]] after that worker has ended.
    */
  final class ParseSchemaFold(spark: SparkSession) {
    private val conf = spark.sessionState.conf
    private val options = SQLConf.withExistingConf(conf) {
      new JSONOptionsInRead(readerOptions(multiLine = true),
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    }
    private val inference =
      SQLConf.withExistingConf(conf)(new JsonInferSchema(options))
    private val factory = options.buildJsonFactory()
    private val mergeRoot = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)
    private val shapes = new EmptyShapes.Fold
    private var root: DataType = StructType(Nil)

    /** Folds in one document: its serialized `bytes` (UTF-8) and the
      * tree the caller parsed from them.
      */
    def add(bytes: Array[Byte], tree: JsonNode): Unit =
      SQLConf.withExistingConf(conf) {
        val parser = factory.createParser(bytes)
        val tpe =
          try { parser.nextToken(); inference.inferField(parser) }
          finally parser.close()
        root = mergeRoot(root, tpe)
        shapes.add(new String(bytes, StandardCharsets.ISO_8859_1), tree)
      }

    /** The parse schema of every document folded in so far; the empty
      * schema when there was none.
      */
    def result: StructType = SQLConf.withExistingConf(conf) {
      val inferred =
        InferSchemaAccess.canonicalizeType(inference, root, options) match {
          case Some(st: StructType) => st
          case _ => StructType(Nil)
        }
      EmptyShapes.graftOnto(inferred, shapes.result)
    }
  }
}
