package graft.sources

import java.io.{ByteArrayInputStream, CharConversionException, InputStreamReader}
import java.nio.charset.{MalformedInputException, StandardCharsets}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonParser, JsonProcessingException}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import org.apache.spark.sql.{DataFrame, DataFrameReader, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{InferSchemaAccess, JSONOptions,
  JSONOptionsInRead, JsonInferSchema}
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
  * The input is a directory of exported response files: [[EsHttp]] writes
  * one per page of the reference's `search_after` loop
  * [`ETL.py:220-267`], and any other export in that layout reads the same
  * way. One exploded row per hit — at scale, responses across many files
  * parallelize by file split, and the explode is narrow (no shuffle).
  */
object EsJson {

  /** The JSON reader options of every export read, and of the schema
    * fold ([[ParseSchemaFold]]). `multiLine` because exported responses
    * are pretty-printed single documents, not JSONL.
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

  /** [[readerOptions]] as the JSON reader parses with them: under the
    * session time zone and corrupt-record column name.
    */
  private def jsonOptions(spark: SparkSession, multiLine: Boolean)
      : JSONOptionsInRead = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      new JSONOptionsInRead(readerOptions(multiLine),
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    }
  }

  /** The files under `paths` one row each, holding the file's text: the
    * `wholetext` text source, which lists, decompresses and packs files
    * into partitions exactly as the multiLine JSON source does.
    */
  private def wholeFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("wholetext", "true").text(paths: _*)

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

  /** What a vintage's sidecar holds, and what [[ParseSchemaFold]] gives:
    * its parse schema and, when they are known, the batch stats of its
    * documents (the rows [[read]] gives), which let the vintage flatten
    * without a stats pass ([[vintage]]).
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

  /** Persist `side` as the vintage sidecar of `dir`: written under a
    * unique hidden name, then published with one rename over the previous
    * sidecar, so schema and stats publish together and a reader sees the
    * old sidecar or the new one, never none. A store whose rename refuses
    * an existing destination takes the delete first. An exported vintage
    * is immutable once written, so its grafted schema and its stats are
    * discovered ONCE, at export time —
    * by [[EsHttp.read]], as its fetch loop receives the pages
    * ([[ParseSchemaFold]]); every later read of the vintage then skips
    * the fold, and its flatten skips the stats pass: zero Spark jobs
    * before the render.
    */
  def writeSidecar(spark: SparkSession, dir: String, side: Sidecar): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(base,
      s"$SchemaSidecar.${java.util.UUID.randomUUID()}.writing")
    val out = fs.create(tmp, false)
    try out.write(sidecarJson(side).getBytes("UTF-8")) finally out.close()
    val dst = new Path(base, SchemaSidecar)
    try {
      if (!fs.rename(tmp, dst)) {
        fs.delete(dst, false): Unit
        require(fs.rename(tmp, dst), s"writeSidecar: commit $tmp -> $dst failed")
      }
    } finally fs.delete(tmp, false): Unit
  }

  /** The vintage's sidecar, when `path` is a directory carrying one. A
    * CORRUPT sidecar fails loudly — silently falling back to the fold
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

  /** The sidecar of the export under `path`: the one it carries, else
    * the one [[ParseSchemaFold.files]] folds from its files (one Spark
    * job; nothing is written into the input).
    */
  def sidecar(spark: SparkSession, path: String,
      multiLine: Boolean = true): Sidecar =
    readSidecar(spark, path).getOrElse(
      ParseSchemaFold.files(spark, Seq(path), multiLine))

  /** Read one-or-many exported ES response files (or bare document files)
    * as one row per document, parsed with the export's [[sidecar]]: the
    * persisted parse schema when the path is a vintage directory carrying
    * one (no Spark job until the parse itself), else the folded one (one
    * Spark job).
    */
  def read(spark: SparkSession, path: String,
      multiLine: Boolean = true): DataFrame =
    read(spark, path, sidecar(spark, path, multiLine), multiLine)

  /** [[read]] of `path` with the sidecar the caller already holds. */
  private[graft] def read(spark: SparkSession, path: String,
      side: Sidecar, multiLine: Boolean): DataFrame =
    unwrap(reader(spark, multiLine).schema(side.schema).json(path))

  /** Multi-path variant of [[read]] — the bounded schema-inference
    * prefix of the es-export connector reads an explicit file list. The
    * paths are folded together ([[ParseSchemaFold.files]]); no sidecar
    * is consulted.
    */
  def readFiles(spark: SparkSession, paths: Seq[String],
      multiLine: Boolean = true): DataFrame =
    unwrap(reader(spark, multiLine)
      .schema(ParseSchemaFold.files(spark, paths, multiLine).schema)
      .json(paths: _*))

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
    * `side` carries stats: its page files' text, the reader options its
    * schema was folded under and the hits' `_source` schema (the empty
    * schema for a vintage of zero documents). Nothing is parsed here and
    * the source schema is never analyzed, so keys that differ only in
    * case need no case-sensitive session.
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
    } yield Flattener.Vintage(wholeFiles(spark, Seq(dir)),
      jsonOptions(spark, multiLine = true), source, stats)

  /** Spark's inference of one record keeps a key repeated in one object
    * as two fields of one name, a schema no reader can analyze
    * (COLUMN_ALREADY_EXISTS). This is `tpe` with those fields merged into
    * one of their compatible type, which a reader fills from the key's
    * last occurrence, as it reads any repeated key; `tpe` itself when no
    * key repeats.
    */
  private def mergeRepeatedKeys(tpe: DataType): DataType = {
    def repeats(t: DataType): Boolean = t match {
      case st: StructType =>
        // inferField sorts a struct's fields by name: repeats are adjacent
        (1 until st.length).exists(i => st(i).name == st(i - 1).name) ||
          st.fields.exists(f => repeats(f.dataType))
      case ArrayType(et, _) => repeats(et)
      case _ => false
    }
    def merge(t: DataType): DataType = t match {
      case st: StructType =>
        StructType(st.fields.foldLeft(List.empty[StructField]) { (acc, f0) =>
          val f = f0.copy(dataType = merge(f0.dataType))
          acc match {
            case prev :: rest if prev.name == f.name =>
              prev.copy(dataType = InferSchemaAccess.compatibleType(
                prev.dataType, f.dataType)) :: rest
            case _ => f :: acc
          }
        }.reverse)
      case ArrayType(et, n) => ArrayType(merge(et), n)
      case other => other
    }
    if (repeats(tpe)) merge(tpe) else tpe
  }

  /** The rows [[read]] gives of the records folded so far, absorbed for
    * their batch stats. A record is one row when it is an object, one per
    * element when it is an array of objects, and otherwise (a malformed
    * record, a bare scalar) one row holding only the corrupt-record
    * column, as Spark's PERMISSIVE parse gives it. A row carrying an
    * `hits.hits` array is an ES response: its hits' `_source` trees go
    * into `hits`; every other row goes into `docs`. Which tree the stats
    * come from is settled only by the final schema ([[batch]]).
    */
  private final class Rows(corruptColumn: String) extends Serializable {
    private val hits = new StatsPass.Tree
    private val docs = new StatsPass.Tree
    private var responses = false

    def add(record: JsonNode): Unit =
      if (record.isObject) row(record)
      else if (record.isArray && record.asScala.forall(_.isObject))
        record.asScala.foreach(row)
      else corrupt()

    private def row(r: JsonNode): Unit = {
      // one row per hit, as explode(hits.hits) gives
      val hs = r.path("hits").path("hits")
      if (hs.isArray) {
        responses = true
        hs.asScala.foreach(h => hits.add(h.path("_source")))
      } else docs.add(r)
    }

    def corrupt(): Unit =
      docs.add(JsonNodeFactory.instance.objectNode().put(corruptColumn, ""))

    def merge(o: Rows): Unit = {
      hits.merge(o.hits); docs.merge(o.docs); responses |= o.responses
    }

    /** The stats of the rows [[read]] parses with `schema`: the hits' when
      * it is an envelope, the rows' own when it is not and no row was a
      * response; unknown otherwise.
      */
    def batch(schema: StructType): Option[StatsPass.Batch] =
      if (isEnvelope(schema)) sourceSchema(schema).map(hits.batch)
      else if (responses) None
      else Some(docs.batch(schema))
  }

  /** The parse schema of JSON records and the batch stats of the rows
    * they parse to, folded one record at a time: Spark's own per-record
    * inference (`JsonInferSchema.inferField` over a parser from
    * `JSONOptions.buildJsonFactory()`, a key repeated in one object merged
    * into one field: [[mergeRepeatedKeys]]) merged with `compatibleRootType`,
    * finished with Spark's `canonicalizeType` and the EmptyShapes graft
    * (an [[EmptyShapes.Fold]] absorbs each record's shape in place), and
    * each record's rows absorbed into [[StatsPass.Tree]]s read against
    * the final schema in [[result]], so the stats equal what
    * [[StatsPass.collect]] gives over the rows [[read]] parses. The
    * options are the ones `spark.read.json` builds from [[readerOptions]],
    * the session time zone and the corrupt-record column name.
    *
    * This is the only way an export's parse schema is found. It has two
    * forms. On the driver, [[add]] takes one response page at a time with
    * the tree the caller parsed: [[EsHttp.read]] feeds it from one fold
    * worker beside its fetch loop, in page order, and reads [[result]]
    * after that worker has ended (not thread-safe: one thread adds at a
    * time). Everything else folds in one Spark job ([[ParseSchemaFold.files]],
    * [[ParseSchemaFold.lines]]): each partition folds its records, and the
    * driver absorbs the partial root types, shapes and rows.
    */
  final class ParseSchemaFold private (spark: SparkSession,
      multiLine: Boolean) {
    def this(spark: SparkSession) = this(spark, multiLine = true)

    private val conf = spark.sessionState.conf
    private val options = jsonOptions(spark, multiLine)
    private val inference =
      SQLConf.withExistingConf(conf)(new JsonInferSchema(options))
    private val factory = options.buildJsonFactory()
    private val mergeRoot = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)
    private val shapes = new EmptyShapes.Fold
    private val rows = new Rows(options.columnNameOfCorruptRecord)
    private var root: DataType = StructType(Nil)

    /** Folds in one response page: its serialized `bytes` (UTF-8) and the
      * tree the caller parsed from them.
      */
    def add(bytes: Array[Byte], tree: JsonNode): Unit =
      SQLConf.withExistingConf(conf) {
        val parser = factory.createParser(bytes)
        val tpe =
          try {
            parser.nextToken()
            mergeRepeatedKeys(inference.inferField(parser))
          } finally parser.close()
        root = mergeRoot(root, tpe)
        shapes.add(new String(bytes, StandardCharsets.ISO_8859_1), tree)
        rows.add(tree)
      }

    /** Folds every record of `records` (a one-string-column frame: whole
      * files when `multiLine`, else lines) in one Spark job.
      */
    private def foldAll(records: Dataset[_]): Sidecar = {
      // locals, so the task closure does not capture the fold itself
      val (inference, options, wholeFile) = (this.inference, this.options,
        multiLine)
      val partials = records.queryExecution.toRdd.mapPartitions(it =>
        Iterator.single(ParseSchemaFold.partial(it, inference, options,
          wholeFile))).collect()
      SQLConf.withExistingConf(conf)(partials.foreach { case (t, shape, rs) =>
        root = mergeRoot(root, t)
        shape.foreach(shapes.add)
        rows.merge(rs)
      })
      result
    }

    /** The parse schema of every record folded in so far (the empty schema
      * when there was none) and, when [[Rows.batch]] knows them, the batch
      * stats of their rows.
      */
    def result: Sidecar = SQLConf.withExistingConf(conf) {
      val inferred =
        InferSchemaAccess.canonicalizeType(inference, root, options) match {
          case Some(st: StructType) => st
          case _ => StructType(Nil)
        }
      val schema = EmptyShapes.graftOnto(inferred, shapes.result)
      Sidecar(schema, rows.batch(schema))
    }
  }

  object ParseSchemaFold {

    /** The fold of the files under `paths`, listed and decompressed as
      * `spark.read.json` lists and decompresses them (the text source, one
      * record per whole file when `multiLine`, else per line): one Spark
      * job. Zero files fold to the empty schema.
      */
    def files(spark: SparkSession, paths: Seq[String],
        multiLine: Boolean): Sidecar = {
      val text =
        if (multiLine) wholeFiles(spark, paths) else spark.read.text(paths: _*)
      new ParseSchemaFold(spark, multiLine).foldAll(text)
    }

    /** The fold of JSONL `lines`: one Spark job. */
    def lines(spark: SparkSession, lines: Dataset[String]): Sidecar =
      new ParseSchemaFold(spark, multiLine = false).foldAll(lines)

    /** One partition's records folded as `JsonInferSchema.infer` folds
      * them: its root type, EmptyShapes shape and rows. A record inference
      * fails on (malformed JSON, a character the parser cannot decode,
      * and, for lines, any runtime failure) counts as Spark counts it
      * under PERMISSIVE, the reader's mode: a string corrupt-record column
      * in the schema and, in the rows, a row holding only that column. A
      * blank record counts for nothing.
      */
    private def partial(it: Iterator[InternalRow], inference: JsonInferSchema,
        options: JSONOptions, wholeFile: Boolean)
        : (DataType, Option[EmptyShapes.Raw], Rows) = {
      val factory = options.buildJsonFactory()
      val mapper = new ObjectMapper
      val corrupt = options.columnNameOfCorruptRecord
      val mergeRoot = JsonInferSchema.compatibleRootType(corrupt,
        options.parseMode)
      val shapes = new EmptyShapes.Fold
      val rows = new Rows(corrupt)
      var root: DataType = StructType(Nil)
      it.foreach { record =>
        val bytes = record.getUTF8String(0).getBytes
        // the parsers Spark's JSON reader makes: from the file's bytes, or
        // through a UTF-8 reader from a line
        def parser(): JsonParser =
          if (wholeFile) factory.createParser(bytes)
          else factory.createParser(new InputStreamReader(
            new ByteArrayInputStream(bytes), StandardCharsets.UTF_8))
        val tpe =
          try {
            val p = parser()
            try {
              p.nextToken()
              Some(mergeRepeatedKeys(inference.inferField(p)))
            } finally p.close()
          } catch {
            case _: RuntimeException if !wholeFile => None
            case _: JsonProcessingException | _: MalformedInputException |
                _: CharConversionException => None
          }
        root = mergeRoot(root,
          tpe.getOrElse(StructType(Seq(StructField(corrupt, StringType)))))
        if (tpe.isEmpty) rows.corrupt()
        else {
          val p = parser()
          val tree = try mapper.readTree[JsonNode](p) finally p.close()
          if (tree != null) { // null: a blank record
            shapes.add(new String(bytes, StandardCharsets.ISO_8859_1), tree)
            rows.add(tree)
          }
        }
      }
      (root, shapes.result, rows)
    }
  }
}
