package graft.flatten

import java.io.StringWriter

import scala.collection.mutable

import com.fasterxml.jackson.core.JsonFactory

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** The flatten renderer behind [[Flattener.flatten]] and
  * [[Flattener.flattenToTsv]]: one walk over the batch schema compiles a
  * render plan AND the output column list, then each document's Tungsten
  * row is walked ONCE (`queryExecution.toRdd`; external-Row conversion
  * alone costs seconds per pass at 5k columns), depth-first, filling the
  * output slots directly — O(nodes) per row with no code generation, so a
  * wide dynamic schema pays no Janino compilation of a giant projection.
  * A vintage's documents are walked where they lie inside the ES response
  * rows ([[renderHitTsvLines]]), so no projection unwraps them first.
  *
  * Cell semantics: '' for missing/null, Python `str()` scalars
  * (`True`/`False`, [[PyFormat.pyRepr]] doubles), json.dumps arrays
  * (`", "` separators, lowercase JSON literals, pyRepr doubles), and
  * Spark-`to_json`-compatible struct cells (compact separators, schema
  * field order, null fields dropped — via the same Jackson generator Spark
  * uses).
  */
object RenderPass {

  // ---- render plan ----------------------------------------------------------

  private sealed trait Node extends Serializable
  /** Walk a struct value with `numFields` fields: (field ordinal, child). */
  private final case class StructWalk(numFields: Int,
      fields: Array[(Int, Node)]) extends Node
  /** Positionally-expanded array of structs; `whole` is the unindexed
    * JSON cell of the full array (quirk Q4) or [[Skip]].
    */
  private final case class ArrayWalk(whole: Node, elems: Array[Node])
    extends Node
  /** Terminal output cell: Python `str()` of a scalar (`json = false`), or
    * one json.dumps cell (primitive/nested array, unindexed array of
    * structs, depth-truncated subtree). `slot` is the column's position,
    * set once the column list is sorted.
    */
  private final class Cell(val dt: DataType, val json: Boolean) extends Node {
    var slot: Int = -1
  }
  private case object Skip extends Node

  /** A compiled render plan and its output columns (reference order). */
  final class Plan private[RenderPass] (
      private[RenderPass] val root: StructWalk,
      val columns: Array[String]) extends Serializable

  /** The first type inside `dt` whose internal value does not print the
    * way `cast(string)` does. JSON sources never infer these.
    */
  private def nonJson(dt: DataType): Option[DataType] = dt match {
    case ArrayType(et, _) => nonJson(et)
    case st: StructType =>
      st.fields.iterator.flatMap(f => nonJson(f.dataType)).nextOption()
    case DateType | TimestampType | TimestampNTZType | BinaryType |
        CalendarIntervalType | _: MapType | _: DayTimeIntervalType |
        _: YearMonthIntervalType => Some(dt)
    case _ => None
  }

  /** Compile the render plan for `schema` in one traversal. Candidate
    * columns follow the reference's rules (SURVEY.md §2.3): Pascal paths
    * joined by `_`, arrays of structs expanded to their batch-max width per
    * indexed path, an unindexed whole-array JSON cell iff some document has
    * the array empty (Q4), sibling keys colliding on one Pascal name
    * resolved camelCase-first (Q3), subtrees past `maxDepth` as one JSON
    * cell. A candidate becomes a column only when its raw path is present
    * in the batch, and each column has exactly one owner: the first present
    * candidate of that name in schema order (depth-first). Columns come
    * out in plain lexicographic order (Q9).
    *
    * @throws IllegalArgumentException for a leaf of a non-JSON type
    *   (date, timestamp, binary, map, interval), naming its path and type.
    */
  def compile(schema: StructType, batch: StatsPass.Batch,
      maxDepth: Int): Plan = {
    val owners = mutable.HashMap.empty[String, Cell]

    def cell(pPath: String, rPath: String, dt: DataType,
        json: Boolean): Node = {
      nonJson(dt).foreach { bad =>
        throw new IllegalArgumentException(
          s"flatten: `$rPath` has type ${dt.simpleString}; " +
            s"${bad.simpleString} values have no JSON text rendering " +
            "(read JSON with inferTimestamp/inferDate off, or cast the " +
            "column to string)")
      }
      if (!batch.present(rPath) || owners.contains(pPath)) Skip
      else {
        val c = new Cell(dt, json)
        owners(pPath) = c
        c
      }
    }

    /** A struct value `depth` levels down: walked, or past `maxDepth` one
      * JSON cell.
      */
    def nested(st: StructType, pPath: String, rPath: String,
        depth: Int): Node =
      if (depth > maxDepth) cell(pPath, rPath, st, json = true)
      else {
        val sw = struct(st, pPath, rPath, depth)
        if (sw.fields.isEmpty) Skip else sw
      }

    def struct(st: StructType, pascalParent: String, rawParent: String,
        depth: Int): StructWalk = {
      // groups in schema order, so a column's owner never depends on
      // hash order
      val children = st.fields.zipWithIndex.groupBy {
        case (f, _) => PathNaming.toPascal(f.name)
      }.toSeq.sortBy(_._2.head._2).flatMap { case (pascal, group) =>
        val (winner, ord) =
          if (group.length == 1) group(0)
          else {
            val w = PathNaming.collisionWinner(pascal,
              group.map(_._1.name).toSeq)
            group.find(_._1.name == w).getOrElse(group(0))
          }
        val pPath = PathNaming.join(pascalParent, pascal)
        val rPath =
          if (rawParent.isEmpty) winner.name
          else s"$rawParent.${winner.name}"
        emit(winner.dataType, pPath, rPath, depth) match {
          case Skip => None
          case n => Some((ord, n))
        }
      }
      StructWalk(st.length, children.toArray)
    }

    def emit(dt: DataType, pPath: String, rPath: String,
        depth: Int): Node = dt match {
      case st: StructType => nested(st, pPath, rPath, depth + 1)
      case ArrayType(et: StructType, _) =>
        val s = batch.arrays.getOrElse(rPath,
          StatsPass.Stats(0, hasEmpty = false))
        val whole =
          if (s.hasEmpty || s.maxLen == 0) cell(pPath, rPath, dt, json = true)
          else Skip
        val elems = Array.tabulate[Node](s.maxLen) { i =>
          nested(et, PathNaming.indexed(pPath, i), s"$rPath.$i", depth + 1)
        }
        if (whole == Skip && elems.forall(_ == Skip)) Skip
        else ArrayWalk(whole, elems)
      case _: ArrayType => cell(pPath, rPath, dt, json = true)
      case other => cell(pPath, rPath, other, json = false)
    }

    val root = struct(schema, "", "", 0)
    val columns = owners.keys.toArray.sorted
    columns.iterator.zipWithIndex.foreach { case (c, i) => owners(c).slot = i }
    new Plan(root, columns)
  }

  // ---- row evaluation ---------------------------------------------------------

  /** Evaluate the field `ord` of container `c` (InternalRow or ArrayData —
    * both are SpecializedGetters with a positional API).
    */
  private def evalField(node: Node, c: SpecializedGetters, ord: Int,
      out: Array[String]): Unit = {
    if (node == Skip || c.isNullAt(ord)) return
    node match {
      case StructWalk(numFields, fields) =>
        val r = c.getStruct(ord, numFields)
        var i = 0
        while (i < fields.length) {
          evalField(fields(i)._2, r, fields(i)._1, out)
          i += 1
        }
      case ArrayWalk(whole, elems) =>
        evalField(whole, c, ord, out)
        val xs = c.getArray(ord)
        var i = 0
        val n = math.min(xs.numElements(), elems.length)
        while (i < n) {
          evalField(elems(i), xs, i, out)
          i += 1
        }
      case cell: Cell =>
        out(cell.slot) =
          if (cell.json) pyJson(c, ord, cell.dt) else pyScalar(c, ord, cell.dt)
      case Skip => ()
    }
  }

  /** Python `str(v)` of a scalar. */
  private def pyScalar(c: SpecializedGetters, ord: Int, dt: DataType): String =
    dt match {
      case BooleanType => if (c.getBoolean(ord)) "True" else "False"
      case DoubleType => PyFormat.pyRepr(c.getDouble(ord))
      case FloatType => PyFormat.pyRepr(c.getFloat(ord).toDouble)
      case LongType => java.lang.Long.toString(c.getLong(ord))
      case IntegerType => java.lang.Integer.toString(c.getInt(ord))
      case StringType => c.getUTF8String(ord).toString
      case other => String.valueOf(c.get(ord, other))
    }

  /** json.dumps-style cell: arrays with ", " separators and lowercase
    * literals; structs via a Jackson generator exactly like Spark's to_json
    * (compact, schema order, nulls dropped).
    */
  private def pyJson(c: SpecializedGetters, ord: Int, dt: DataType): String =
    dt match {
      case ArrayType(et, _) =>
        val xs = c.getArray(ord)
        val sb = new java.lang.StringBuilder("[")
        var i = 0
        while (i < xs.numElements()) {
          if (i > 0) sb.append(", ")
          if (xs.isNullAt(i)) sb.append("null")
          else sb.append(pyJson(xs, i, et))
          i += 1
        }
        sb.append("]").toString
      case st: StructType => jacksonStruct(c.getStruct(ord, st.length), st)
      case BooleanType => if (c.getBoolean(ord)) "true" else "false"
      case DoubleType => PyFormat.pyRepr(c.getDouble(ord))
      case FloatType => PyFormat.pyRepr(c.getFloat(ord).toDouble)
      case LongType => java.lang.Long.toString(c.getLong(ord))
      case IntegerType => java.lang.Integer.toString(c.getInt(ord))
      case StringType =>
        // json.dumps escapes (backslash, quote, \n \r \t)
        val s = c.getUTF8String(ord).toString
          .replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
        "\"" + s + "\""
      case other => String.valueOf(c.get(ord, other))
    }

  private val jsonFactory = new JsonFactory()

  private def jacksonStruct(row: InternalRow, st: StructType): String = {
    val w = new StringWriter()
    val g = jsonFactory.createGenerator(w)
    writeStruct(g, row, st)
    g.close()
    w.toString
  }

  private def writeStruct(g: com.fasterxml.jackson.core.JsonGenerator,
      row: InternalRow, st: StructType): Unit = {
    g.writeStartObject()
    var i = 0
    while (i < st.fields.length) {
      if (!row.isNullAt(i)) { // to_json drops null fields (ignoreNullFields)
        g.writeFieldName(st.fields(i).name)
        writeValue(g, row, i, st.fields(i).dataType)
      }
      i += 1
    }
    g.writeEndObject()
  }

  private def writeValue(g: com.fasterxml.jackson.core.JsonGenerator,
      c: SpecializedGetters, ord: Int, dt: DataType): Unit = dt match {
    case st: StructType => writeStruct(g, c.getStruct(ord, st.length), st)
    case ArrayType(et, _) =>
      g.writeStartArray()
      val xs = c.getArray(ord)
      var i = 0
      while (i < xs.numElements()) {
        if (xs.isNullAt(i)) g.writeNull() else writeValue(g, xs, i, et)
        i += 1
      }
      g.writeEndArray()
    case BooleanType => g.writeBoolean(c.getBoolean(ord))
    case DoubleType => g.writeNumber(c.getDouble(ord))
    case FloatType => g.writeNumber(c.getFloat(ord))
    case LongType => g.writeNumber(c.getLong(ord))
    case IntegerType => g.writeNumber(c.getInt(ord))
    case StringType => g.writeString(c.getUTF8String(ord).toString)
    case other => g.writeString(String.valueOf(c.get(ord, other)))
  }

  // ---- public entry -------------------------------------------------------------

  /** A blank output row: every cell `''`. */
  private def blank(n: Int): Array[String] = {
    val out = new Array[String](n)
    java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], "")
    out
  }

  /** Fills `out` from one document row. */
  private def fill(root: StructWalk, doc: InternalRow, out: Array[String]): Unit = {
    var i = 0
    while (i < root.fields.length) {
      evalField(root.fields(i)._2, doc, root.fields(i)._1, out)
      i += 1
    }
  }

  private def renderedRows(df: DataFrame, plan: Plan): RDD[Array[String]] = {
    val root = plan.root
    val n = plan.columns.length
    df.queryExecution.toRdd.mapPartitions { it =>
      it.map { row =>
        val out = blank(n)
        fill(root, row, out)
        out
      }
    }
  }

  /** Render straight to TSV lines (reference sink conventions: minimal
    * quoting, doubled quotes, empty cells unquoted). Skips the
    * DataFrame/Row round-trip entirely — `createDataFrame` over a
    * 5k-string schema costs another multi-second RowEncoder compilation
    * that a sink-bound job never needs.
    */
  def renderTsvLines(df: DataFrame, plan: Plan): RDD[String] =
    renderedRows(df, plan).map(tsvLine)

  /** [[renderTsvLines]] of the documents inside ES response rows in the
    * layout `hits: {hits: [{_source: doc}]}` and nothing else (what
    * [[Flattener.Vintage.envelopeSchema]] reads): each hit's `_source` is
    * walked where it lies, with no `explode` and no projection of the
    * documents out of the envelope. One line per hit, in page and hit
    * order, exactly the rows `explode(hits.hits)` + `hit._source.*`
    * gives: a null hit or a missing `_source` renders an all-`''` line, a
    * page without hits none. `rows` counts the lines rendered.
    */
  def renderHitTsvLines(envelope: DataFrame, plan: Plan,
      rows: LongAccumulator): RDD[String] = {
    val root = plan.root
    val n = plan.columns.length
    envelope.queryExecution.toRdd.mapPartitions { it =>
      it.flatMap { page =>
        val hits = if (page.isNullAt(0)) null else {
          val outer = page.getStruct(0, 1)
          if (outer.isNullAt(0)) null else outer.getArray(0)
        }
        Iterator.tabulate(if (hits == null) 0 else hits.numElements()) { i =>
          val out = blank(n)
          if (!hits.isNullAt(i)) {
            val hit = hits.getStruct(i, 1)
            if (!hit.isNullAt(0)) fill(root, hit.getStruct(0, root.numFields), out)
          }
          rows.add(1L)
          tsvLine(out)
        }
      }
    }
  }

  /** One TSV line with pandas/Spark-CSV minimal quoting: quote only when a
    * cell contains tab/quote/newline; inner quotes double.
    */
  def tsvLine(vals: Array[String]): String = {
    val sb = new java.lang.StringBuilder(vals.length * 8)
    var i = 0
    while (i < vals.length) {
      if (i > 0) sb.append('\t')
      val v = vals(i)
      if (v.indexOf('\t') >= 0 || v.indexOf('"') >= 0 ||
          v.indexOf('\n') >= 0 || v.indexOf('\r') >= 0) {
        sb.append('"').append(v.replace("\"", "\"\"")).append('"')
      } else sb.append(v)
      i += 1
    }
    sb.toString
  }

  /** Render `df` as the flattened all-string frame of `plan`. */
  def render(df: DataFrame, plan: Plan): DataFrame = {
    val rdd = renderedRows(df, plan).map(a => Row.fromSeq(a.toIndexedSeq))
    df.sparkSession.createDataFrame(rdd, StructType(plan.columns.map(c =>
      StructField(c, StringType, nullable = false))))
  }
}
