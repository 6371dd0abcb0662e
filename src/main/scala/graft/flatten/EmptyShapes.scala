package graft.flatten

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Recovers object keys that Spark's JSON schema inference DROPS: a key
  * whose value canonicalizes to an empty struct in EVERY document —
  * `{}`, `{"a": {}}`, `[{}]`, and nestings thereof — simply vanishes
  * from the inferred schema (JsonInferSchema.canonicalizeType removes
  * empty StructTypes), so a JSON-rendered subtree cell loses the key
  * where the reference (json.dumps of the source dict,
  * `ElasticSearch ETL.py` flatten) keeps it: ref `"innerA": {}` vs our
  * cell omitting `innerA` entirely. Surfaced by the seed-51 flatten
  * differential in round 13; every earlier seed happened to give such
  * keys at least one real field somewhere in the corpus, which keeps
  * them in the schema (an all-null struct instance then renders `{}`
  * correctly on both paths).
  *
  * Mechanics: a pass over the RAW text merges a structural tree of
  * object keys (size bounded by distinct key paths — the same bound
  * inference itself carries); [[graft]] then adds the missing nodes as
  * empty-struct / array-of-struct fields. The pass takes one of three
  * routes: a [[Fold]] on the driver fed by the caller (a fresh
  * `EsHttp` export, whose fetch loop already holds every page and its
  * parsed tree), a driver-local read of a small input ([[discover]]),
  * or one distributed job ([[discoverLines]]). Spark's
  * JSON parser handles the grafted schema exactly right: a present
  * `{}` parses to a NON-NULL empty row (both renderers emit `{}`), an
  * absent key parses to NULL (omitted) — probed and spec-pinned.
  * Grafted nodes carry no leaves, so the flatten's COLUMN set is
  * unchanged (the reference's recursive flatten of `{}` also yields no
  * columns); only JSON-cell rendering of parent subtrees changes.
  *
  * Scalar shapes are never grafted: a key with any scalar/real-typed
  * occurrence is already in the inferred schema (mixed-type corpora
  * are outside the differential's type-stable contract).
  */
object EmptyShapes {

  /** Merged structural shape of the raw documents. */
  sealed trait Raw extends Serializable
  final case class RObj(children: Map[String, Raw]) extends Raw
  final case class RArr(elem: Option[Raw]) extends Raw
  case object RScalar extends Raw

  private[flatten] def merge(a: Raw, b: Raw): Raw = (a, b) match {
    case (RObj(x), RObj(y)) =>
      RObj((x.keySet ++ y.keySet).iterator.map { k =>
        k -> ((x.get(k), y.get(k)) match {
          case (Some(p), Some(q)) => merge(p, q)
          case (Some(p), None)    => p
          case (None, Some(q))    => q
          case _                  => RScalar // unreachable
        })
      }.toMap)
    case (RArr(x), RArr(y)) => (x, y) match {
      case (Some(p), Some(q)) => RArr(Some(merge(p, q)))
      case (Some(p), None)    => RArr(Some(p))
      case (None, Some(q))    => RArr(Some(q))
      case _                  => RArr(None)
    }
    // mixed shapes: inference keeps a real type for the key, so the
    // graft never fires there — collapse to the never-grafted scalar
    case _ => RScalar
  }

  private[flatten] def ofJson(n: JsonNode): Raw =
    if (n.isObject) {
      val it = n.fields()
      val m = Map.newBuilder[String, Raw]
      while (it.hasNext) { val e = it.next(); m += e.getKey -> ofJson(e.getValue) }
      RObj(m.result())
    } else if (n.isArray) {
      var acc: Option[Raw] = None
      val it = n.elements()
      while (it.hasNext) {
        val r = ofJson(it.next())
        acc = Some(acc.fold(r)(merge(_, r)))
      }
      RArr(acc)
    } else RScalar

  /** Distributed raw-shape discovery: JSONL when `wholeFile` is false,
    * one-pretty-printed-document-per-file when true (the exported-ES
    * layout). Unparseable/blank records are skipped — inference
    * already surfaces them its own way. Returns None on empty input.
    */
  def discover(spark: SparkSession, paths: Seq[String],
      wholeFile: Boolean): Option[Raw] = {
    if (paths.isEmpty) return None
    localDocs(spark, paths, wholeFile) match {
      case Some(docs) =>
        // bounded input: the whole discovery runs on the driver — no
        // Spark job at all. Inference itself already read these same
        // bytes, so the extra pass is pure job-scheduling overhead for
        // a golden-doc-sized input (~0.3 s of it, q67's r13 residual).
        val mapper = new ObjectMapper()
        val fold = new Fold
        docs.foreach { line =>
          if (line != null && line.trim.nonEmpty)
            try fold.add(line, mapper.readTree(line))
            catch { case _: Exception => () }
        }
        fold.result
      case None =>
        val reader = spark.read
        val text =
          (if (wholeFile) reader.option("wholetext", "true") else reader)
            .text(paths: _*)
        discoverLines(text.select("value")
          .as[String](org.apache.spark.sql.Encoders.STRING))
    }
  }

  /** The empty-object prefilter: an object literal can only appear in
    * serialized JSON after `:` (member value), `[` (first element), or
    * `,` (later element) — a root-level bare `{}` document carries no
    * keys and is irrelevant to the graft — so requiring that prefix
    * keeps every droppable shape while skipping the bare `{}` that
    * code-bearing STRING VALUES are full of (`function f() {}`), the
    * r13-noted false-positive class. Compiled here for the driver-local
    * path; [[discoverLines]] runs the same pattern as an `rlike`.
    */
  private[flatten] val EmptyObjPattern = "[:\\[,]\\s*\\{\\s*\\}"
  private val EmptyObjRx = java.util.regex.Pattern.compile(EmptyObjPattern)

  /** Driver-side shape accumulator, one whole document at a time: the
    * driver-local route of [[discover]], and the fetch loop of a fresh
    * export, which hands over each page with the tree it already parsed.
    */
  final class Fold {
    private var acc: Option[Raw] = None

    /** Merges the shape of `doc` when its serialized `text` passes the
      * empty-object prefilter; `doc` is evaluated only then. The pattern
      * is ASCII and no byte of a multi-byte UTF-8 sequence is ASCII, so
      * `text` may be the raw UTF-8 bytes read as ISO-8859-1.
      */
    def add(text: CharSequence, doc: => JsonNode): Unit =
      if (EmptyObjRx.matcher(text).find()) {
        val r = ofJson(doc)
        acc = Some(acc.fold(r)(merge(_, r)))
      }

    def result: Option[Raw] = acc
  }

  /** How much raw input the driver-local discovery path will take on;
    * bigger inputs go through the distributed scan.
    */
  private[flatten] val LocalBytesMax = 8L * 1024 * 1024

  private val CompressedSuffixes =
    Seq(".gz", ".bz2", ".zst", ".snappy", ".deflate", ".lz4", ".br")

  /** The documents under `paths` as driver-local strings — Some only
    * when the input is provably small (≤ [[LocalBytesMax]] of plain,
    * uncompressed visible files; listing aborts early the moment the
    * running total exceeds the bound, so a 100 TB directory costs a few
    * file stats, not a census). Hidden files (`_`/`.` prefixes) are
    * skipped to match `spark.read`'s path filter.
    */
  private def localDocs(spark: SparkSession, paths: Seq[String],
      wholeFile: Boolean): Option[Seq[String]] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val files = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.FileStatus]
      var bytes = 0L
      var tooBig = false
      val pIt = paths.iterator
      while (pIt.hasNext && !tooBig) {
        val raw = new org.apache.hadoop.fs.Path(pIt.next())
        val fs = raw.getFileSystem(conf)
        // listed files come back fully qualified (file:/…); qualify the
        // root the same way or the hidden-walk's termination test never
        // fires and components ABOVE the root get inspected too
        val path = fs.makeQualified(raw)
        val it = fs.listFiles(path, true)
        while (it.hasNext && !tooBig) {
          val f = it.next()
          val name = f.getPath.getName
          val hidden = {
            // any hidden component STRICTLY BELOW the listed root
            // disqualifies the file (spark.read's path filter; an
            // explicitly listed root is exempt, also like Spark)
            var cur = f.getPath
            var h = false
            while (cur != null && cur != path) {
              val n = cur.getName
              if (n.startsWith("_") || n.startsWith(".")) h = true
              cur = cur.getParent
            }
            h
          }
          if (!hidden) {
            bytes += f.getLen
            if (bytes > LocalBytesMax ||
                CompressedSuffixes.exists(name.endsWith(_)))
              tooBig = true
            else files += f
          }
        }
      }
      if (tooBig) None
      else {
        val docs = files.toSeq.flatMap { f =>
          val fs = f.getPath.getFileSystem(conf)
          val in = fs.open(f.getPath)
          val text =
            try new String(
              org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
            finally in.close()
          if (wholeFile) Seq(text) else text.split("\n").toSeq
        }
        Some(docs)
      }
    } catch { case _: Exception => None } // stat/read hiccup → distributed

  /** [[discover]] over an in-memory line Dataset — the per-batch
    * inference shape ([[graft.streaming.ExportStream]] parses each
    * micro-batch from its text lines, not from a path).
    *
    * Cost control: a key can only have been DROPPED if its every
    * occurrence is an empty-object shape, so every document carrying
    * it contains a literal `{ }` (whatever the whitespace) — documents
    * without one are irrelevant to the graft and are filtered out with
    * a cheap regex BEFORE the Jackson parse. On the common corpus with
    * no empty objects anywhere the "discovery pass" is a substring
    * scan that parses nothing (measured ~0.1 s where the full parse of
    * the 5,028-column golden sample costs ~1 s); partial trees from
    * only-matching docs are sound because graft() never modifies a key
    * the inferred schema already carries.
    *
    * Residual cost caveat (soundness unaffected): the key-context
    * prefix can still match inside a STRING VALUE that itself contains
    * JSON-looking text (`"snippet": "a: {}"`), so a JSON-quoting corpus
    * parses more documents than carry droppable keys — the graft still
    * never touches keys inference kept, it just pays parse time at
    * inference. Known-vintage reads skip this pass entirely via the
    * `_schema.json` sidecar
    * ([[graft.sources.EsJson.writeSchemaSidecar]]).
    *
    * One Spark job: each partition yields at most one partial shape, and
    * the partials are merged on the driver.
    */
  def discoverLines(
      lines: org.apache.spark.sql.Dataset[String]): Option[Raw] = {
    val shapes = lines
      .filter(org.apache.spark.sql.functions.col("value")
        .rlike(EmptyObjPattern))
      .rdd.mapPartitions { it =>
        val mapper = new ObjectMapper()
        var acc: Option[Raw] = None
        it.foreach { line =>
          if (line != null && line.trim.nonEmpty) {
            try {
              val r = ofJson(mapper.readTree(line))
              acc = Some(acc.fold(r)(merge(_, r)))
            } catch { case _: Exception => () }
          }
        }
        acc.iterator
      }
    shapes.collect().reduceOption(merge)
  }

  /** [[augment]] for the line-Dataset shape. */
  def augmentLines(inferred: StructType,
      lines: org.apache.spark.sql.Dataset[String]): StructType =
    graftOnto(inferred, discoverLines(lines))

  /** [[graft]] of a discovered shape onto an inferred root; returns the
    * inferred schema itself when nothing was dropped (the overwhelmingly
    * common case — callers can skip a re-read on eq).
    */
  def graftOnto(inferred: StructType, raw: Option[Raw]): StructType =
    raw match {
      case Some(r) => graft(inferred, r) match {
        case st: StructType if st != inferred => st
        case _ => inferred
      }
      case None => inferred
    }

  /** The inferred type with inference-dropped object keys grafted back.
    * Keys already inferred keep their type (recursing so a KEPT
    * array-of-struct can regain a DROPPED nested key — the seed-51
    * case); keys absent from the schema are added as the empty-shape
    * type they carry ([[build]]), in name order for determinism.
    */
  def graft(inferred: DataType, raw: Raw): DataType = (inferred, raw) match {
    case (st: StructType, RObj(ch)) =>
      val kept = st.fields.map { f =>
        ch.get(f.name) match {
          case Some(r) => f.copy(dataType = graft(f.dataType, r))
          case None    => f
        }
      }
      val added = (ch.keySet -- st.fieldNames).toSeq.sorted
        .flatMap(k => build(ch(k)).map(dt => StructField(k, dt)))
      StructType(kept ++ added)
    case (ArrayType(et, n), RArr(Some(r))) => ArrayType(graft(et, r), n)
    case (dt, _) => dt
  }

  /** Type for a wholly-dropped node. Only object shapes materialize —
    * an always-empty array grafts as array<string> (parses to a
    * non-null empty array, renders `[]` like json.dumps); scalars are
    * never added (inference would have kept them).
    */
  private def build(r: Raw): Option[DataType] = r match {
    case RObj(ch) => Some(StructType(ch.toSeq.sortBy(_._1).flatMap {
      case (k, v) => build(v).map(StructField(k, _))
    }))
    case RArr(Some(x)) => build(x).map(ArrayType(_))
    case RArr(None)    => Some(ArrayType(StringType))
    case RScalar       => None
  }

  /** [[graftOnto]] over a fresh [[discover]] pass. */
  def augment(spark: SparkSession, inferred: StructType,
      paths: Seq[String], wholeFile: Boolean): StructType =
    graftOnto(inferred, discover(spark, paths, wholeFile))
}
