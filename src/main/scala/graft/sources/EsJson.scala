package graft.sources

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.json.{InferSchemaAccess, JSONOptionsInRead,
  JsonInferSchema}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.flatten.{EmptyShapes, Flattener, StatsPass}

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

  /** Name of the per-vintage sidecar an export directory may carry: the
    * PARSE schema (pre-unwrap, post-[[graft.flatten.EmptyShapes]] graft)
    * as Spark schema JSON and, for a vintage [[EsHttp.read]] exported,
    * the documents' batch stats folded with it ([[Sidecar]]).
    * Underscore-prefixed, so the JSON datasource never reads it as data.
    */
  val SchemaSidecar = "_schema.json"

  /** What a vintage's sidecar holds: its parse schema and, when the
    * export folded them, the batch stats of its documents (the rows
    * [[read]] gives), which let the vintage flatten without a stats pass
    * ([[vintage]]).
    */
  final case class Sidecar(schema: StructType,
      stats: Option[StatsPass.Batch])

  private val sidecarMapper = new ObjectMapper

  /** The sidecar file's text: the schema JSON alone when there are no
    * stats (the layout every earlier sidecar has), else
    * `{"schema": …, "stats": {"rows": n, "present": [path…],
    * "arrays": [[path, maxLen, hasEmpty]…]}}`, paths sorted so equal
    * sidecars are equal bytes.
    */
  private def sidecarJson(side: Sidecar): String = side.stats match {
    case None => side.schema.json
    case Some(b) =>
      val root = sidecarMapper.createObjectNode()
      root.set[JsonNode]("schema", sidecarMapper.readTree(side.schema.json))
      val stats = root.putObject("stats")
      stats.put("rows", b.rows)
      val present = stats.putArray("present")
      b.present.toSeq.sorted.foreach(present.add)
      val arrays = stats.putArray("arrays")
      b.arrays.toSeq.sortBy(_._1).foreach { case (p, a) =>
        arrays.addArray().add(p).add(a.maxLen).add(a.hasEmpty)
      }
      sidecarMapper.writeValueAsString(root)
  }

  private def parseSidecar(text: String): Sidecar = {
    val root = sidecarMapper.readTree(text)
    if (!root.has("stats"))
      Sidecar(DataType.fromJson(text).asInstanceOf[StructType], None)
    else {
      import scala.jdk.CollectionConverters._
      val stats = root.get("stats")
      Sidecar(DataType.fromJson(root.get("schema").toString)
          .asInstanceOf[StructType],
        Some(StatsPass.Batch(
          stats.get("rows").asLong(),
          stats.get("arrays").elements().asScala.map { a =>
            a.get(0).asText() ->
              StatsPass.Stats(a.get(1).asInt(), a.get(2).asBoolean())
          }.toMap,
          stats.get("present").elements().asScala.map(_.asText()).toSet)))
    }
  }

  /** Persist `side` as the vintage sidecar of `dir` (side name + atomic
    * rename, the manifest-commit discipline): schema and stats publish
    * together. An exported vintage is immutable once written, so its
    * grafted schema and its stats are discovered ONCE, at export time —
    * by [[EsHttp.read]], as its fetch loop receives the pages
    * ([[ParseSchemaFold]]); every later read of the vintage then skips
    * both the inference scan and the EmptyShapes discovery pass, and its
    * flatten skips the stats pass: zero Spark jobs before the render.
    */
  def writeSidecar(spark: SparkSession, dir: String, side: Sidecar): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(base, SchemaSidecar + ".writing")
    val out = fs.create(tmp, true)
    try out.write(sidecarJson(side).getBytes("UTF-8")) finally out.close()
    val dst = new Path(base, SchemaSidecar)
    fs.delete(dst, false)
    require(fs.rename(tmp, dst),
      s"writeSidecar: commit $tmp -> $dst failed")
  }

  /** The vintage's sidecar, when `path` is a directory carrying one. A
    * CORRUPT sidecar fails loudly — silently falling back to inference
    * could give a different schema than every other reader of the
    * vintage saw.
    */
  def readSidecar(spark: SparkSession, path: String): Option[Sidecar] = {
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
      Some(parseSidecar(text))
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
    read(spark, path, readSidecar(spark, path), multiLine)

  /** [[read]] of `path` with the sidecar the caller already holds. */
  private[graft] def read(spark: SparkSession, path: String,
      side: Option[Sidecar], multiLine: Boolean): DataFrame =
    side match {
      case Some(s) =>
        unwrap(reader(spark, multiLine).schema(s.schema).json(path))
      case None => readFiles(spark, Seq(path), multiLine)
    }

  /** The document schema inside a parse schema: `_source`'s struct when
    * the schema is an envelope; None for bare documents, whose rows are
    * not hits.
    */
  private def sourceSchema(parse: StructType): Option[StructType] =
    if (!isEnvelope(parse)) None
    else parse("hits").dataType.asInstanceOf[StructType]("hits").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]("_source")
      .dataType match {
        case st: StructType => Some(st)
        case _ => None
      }

  /** The vintage under `dir` as [[Flattener.flattenToTsv]] takes it, when
    * `side` carries stats: its pages read with only the hits' `_source`
    * in the schema (the empty schema for a vintage of zero documents).
    * None when there are no stats, or when the pages hold no envelope to
    * walk. The pages are taken to be the ones the stats were folded from;
    * a changed document count fails the flatten, other changes that keep
    * the count are not detected ([[Flattener.Vintage]]).
    */
  def vintage(spark: SparkSession, dir: String,
      side: Sidecar): Option[Flattener.Vintage] =
    for {
      stats <- side.stats
      source <-
        if (side.schema.isEmpty && stats.rows == 0) Some(side.schema)
        else sourceSchema(side.schema)
    } yield Flattener.Vintage(
      reader(spark, multiLine = true)
        .schema(Flattener.Vintage.envelopeSchema(source)).json(dir),
      source, stats)

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
    * The same walk feeds the documents' batch stats: each hit's `_source`
    * tree is absorbed into one [[StatsPass.Tree]], read against the final
    * `_source` schema in [[result]], so the stats equal what
    * [[StatsPass.collect]] gives over the rows [[read]] parses, without
    * that Spark job.
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
    private val docs = new StatsPass.Tree
    private var pages = 0L
    private var root: DataType = StructType(Nil)

    /** Folds in one response page: its serialized `bytes` (UTF-8) and the
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
        pages += 1
        // one row per hit, as explode(hits.hits) gives
        val hits = tree.path("hits").path("hits")
        if (hits.isArray) hits.elements().forEachRemaining(h =>
          docs.add(h.path("_source")))
      }

    /** The parse schema of every page folded in so far (the empty schema
      * when there was none) and, when the pages are ES responses (or
      * there were none), the batch stats of their documents.
      */
    def result: Sidecar = SQLConf.withExistingConf(conf) {
      val inferred =
        InferSchemaAccess.canonicalizeType(inference, root, options) match {
          case Some(st: StructType) => st
          case _ => StructType(Nil)
        }
      val schema = EmptyShapes.graftOnto(inferred, shapes.result)
      val source =
        if (pages == 0) Some(schema) else sourceSchema(schema)
      Sidecar(schema, source.map(docs.batch))
    }
  }
}
