package graft.flatten

import com.fasterxml.jackson.databind.JsonNode

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
  * Mechanics: a pass over the RAW text absorbs every document in place
  * into one mutable tree of object keys ([[Shape]]; size bounded by
  * distinct key paths — the same bound inference itself carries),
  * converted to a [[Raw]] once at the end; [[graft]] then adds the
  * missing nodes as empty-struct / array-of-struct fields. The pass is
  * part of the one schema fold every export read runs
  * (`graft.sources.EsJson.ParseSchemaFold`): a [[Fold]] absorbs each
  * record beside Spark's per-record inference, on the driver for a fresh
  * `EsHttp` export, or per partition in one Spark job for everything
  * else, whose partial shapes the driver absorbs into its own. Spark's
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

  /** In-place accumulator of the merged [[Raw]] shape of many documents:
    * one mutable node tree that absorbs each document as it comes, where
    * building a `Raw` per document and merging it in would rebuild every
    * map level on the way down. A node is an object with a child map, an
    * array with one element node, or a scalar. A node first takes the
    * kind of what it absorbs; a later value of another kind collapses it
    * to scalar, which absorbs everything after — mixed shapes keep a real
    * inferred type, so the graft never fires there. Elements of an array
    * merge into its one element node, and an empty array leaves none.
    * Converted to `Raw` once, in [[result]]; `None` when nothing was
    * absorbed.
    */
  final class Shape {
    private var kind = Shape.Unset
    private var children: java.util.HashMap[String, Shape] = _
    private var elem: Shape = _

    /** Takes on `k`; true when the node is (still) an object or array
      * whose contents the caller must absorb next.
      */
    private def become(k: Int): Boolean =
      if (kind == Shape.Unset) {
        kind = k
        if (k == Shape.Obj) children = new java.util.HashMap[String, Shape]
        k != Shape.Scalar
      } else if (kind == k) k != Shape.Scalar
      else { kind = Shape.Scalar; children = null; elem = null; false }

    private def child(key: String): Shape =
      children.computeIfAbsent(key, _ => new Shape)

    private def element: Shape = { if (elem == null) elem = new Shape; elem }

    def add(n: JsonNode): Unit =
      if (n.isObject) {
        if (become(Shape.Obj)) {
          val it = n.fields()
          while (it.hasNext) { val e = it.next(); child(e.getKey).add(e.getValue) }
        }
      } else if (n.isArray) {
        if (become(Shape.Arr)) {
          val it = n.elements()
          while (it.hasNext) element.add(it.next())
        }
      } else become(Shape.Scalar): Unit

    /** Absorbs an already-merged shape: a partial from another partition. */
    def add(r: Raw): Unit = r match {
      case RObj(ch) =>
        if (become(Shape.Obj)) ch.foreach { case (k, v) => child(k).add(v) }
      case RArr(e) => if (become(Shape.Arr)) e.foreach(x => element.add(x))
      case RScalar => become(Shape.Scalar): Unit
    }

    def result: Option[Raw] =
      if (kind == Shape.Unset) None else Some(toRaw)

    private def toRaw: Raw = kind match {
      case Shape.Obj =>
        val m = Map.newBuilder[String, Raw]
        children.forEach((k, v) => m += k -> v.toRaw)
        RObj(m.result())
      case Shape.Arr => RArr(Option(elem).map(_.toRaw))
      case _ => RScalar
    }
  }

  private object Shape {
    final val Unset = 0
    final val Obj = 1
    final val Arr = 2
    final val Scalar = 3
  }

  /** The empty-object prefilter: an object literal can only appear in
    * serialized JSON after `:` (member value), `[` (first element), or
    * `,` (later element) — a root-level bare `{}` document carries no
    * keys and is irrelevant to the graft — so requiring that prefix
    * keeps every droppable shape while skipping the bare `{}` that
    * code-bearing STRING VALUES are full of (`function f() {}`), the
    * r13-noted false-positive class.
    *
    * Residual cost caveat (soundness unaffected): the key-context prefix
    * can still match inside a STRING VALUE that itself contains
    * JSON-looking text (`"snippet": "a: {}"`), so a JSON-quoting corpus
    * builds the shape of more documents than carry droppable keys — the
    * graft never touches keys inference kept, it just pays the walk.
    */
  private[flatten] val EmptyObjPattern = "[:\\[,]\\s*\\{\\s*\\}"
  private val EmptyObjRx = java.util.regex.Pattern.compile(EmptyObjPattern)

  /** Shape accumulator of the schema fold, one whole document at a time,
    * with the tree the fold already parsed from it: documents that pass
    * the prefilter are absorbed into one [[Shape]], and so are the
    * partial shapes of other partitions.
    */
  final class Fold {
    private val shape = new Shape

    /** Absorbs the shape of `doc` when its serialized `text` passes the
      * empty-object prefilter; `doc` is evaluated only then. The pattern
      * is ASCII and no byte of a multi-byte UTF-8 sequence is ASCII, so
      * `text` may be the raw UTF-8 bytes read as ISO-8859-1.
      */
    def add(text: CharSequence, doc: => JsonNode): Unit =
      if (EmptyObjRx.matcher(text).find()) shape.add(doc)

    /** Absorbs the shape another fold gave ([[result]]). */
    def add(partial: Raw): Unit = shape.add(partial)

    def result: Option[Raw] = shape.result
  }

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
}
