package graft.flatten

import java.io.{CharConversionException, StringWriter}
import java.nio.charset.MalformedInputException

import scala.collection.mutable

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException,
  JsonToken}
import com.fasterxml.jackson.core.JsonToken._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The flatten renderer behind [[Flattener.flatten]] and
  * [[Flattener.flattenToTsv]]: one walk over the batch schema compiles a
  * render plan AND the output column list, then each document is walked
  * ONCE, depth-first, filling the output slots directly — O(nodes) per
  * document with no code generation, so a wide dynamic schema pays no
  * Janino compilation of a giant projection.
  *
  * A document frame's rows are walked as Tungsten rows
  * (`queryExecution.toRdd`; external-Row conversion alone costs seconds
  * per pass at 5k columns). A vintage's documents are walked as Jackson
  * tokens inside the response pages' bytes ([[renderPageTsvLines]]): no
  * row is built for a document, and each token converts as Spark's JSON
  * reader converts it under the plan's type.
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
  /** Walk a struct value with `numFields` fields: (field ordinal, child),
    * and the JSON key of each child (`names`, with a lookup from key to
    * child for the byte walk). `base` is where its children's entries
    * start in a byte walk's repeated-key stamps ([[PageRenderer]]).
    */
  private final class StructWalk(val numFields: Int,
      val fields: Array[(Int, Node)], names: Array[String], val base: Int)
      extends Node {
    private val index = new java.util.HashMap[String, Integer]
    names.indices.foreach(i => index.put(names(i), i))

    /** The position in `fields` of the child keyed `name`, or -1. */
    def indexOf(name: String): Int = {
      val i = index.get(name)
      if (i == null) -1 else i
    }
  }
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

  /** A compiled render plan and its output columns (reference order).
    * `keys` counts the children of all its struct walks.
    */
  final class Plan private[RenderPass] (
      private[RenderPass] val root: StructWalk,
      val columns: Array[String],
      private[RenderPass] val keys: Int) extends Serializable

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
    var keys = 0

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
          case n => Some((winner.name, (ord, n)))
        }
      }
      keys += children.length
      new StructWalk(st.length, children.map(_._2).toArray,
        children.map(_._1).toArray, keys - children.length)
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
    new Plan(root, columns, keys)
  }

  // ---- row evaluation ---------------------------------------------------------

  /** Evaluate the field `ord` of container `c` (InternalRow or ArrayData —
    * both are SpecializedGetters with a positional API).
    */
  private def evalField(node: Node, c: SpecializedGetters, ord: Int,
      out: Array[String]): Unit = {
    if (node == Skip || c.isNullAt(ord)) return
    node match {
      case sw: StructWalk =>
        val r = c.getStruct(ord, sw.numFields)
        var i = 0
        while (i < sw.fields.length) {
          evalField(sw.fields(i)._2, r, sw.fields(i)._1, out)
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

  /** Python `str(b)`. */
  private def pyBool(b: Boolean): String = if (b) "True" else "False"

  /** Python `str(v)` of a scalar. */
  private def pyScalar(c: SpecializedGetters, ord: Int, dt: DataType): String =
    dt match {
      case BooleanType => pyBool(c.getBoolean(ord))
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

  /** Sets every cell of `out` to `''`. */
  private def clear(out: Array[String]): Unit =
    java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], "")

  /** A blank output row: every cell `''`. */
  private def blank(n: Int): Array[String] = {
    val out = new Array[String](n)
    clear(out)
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

  /** [[renderTsvLines]] of the documents inside ES response `pages` (a
    * one-string-column frame, a whole page file a row: the `wholetext`
    * text source), walked as Jackson tokens by a parser from `options`:
    * one line per hit, in page and hit order, exactly the rows Spark's
    * JSON reader (multiLine, PERMISSIVE, `options`) and `explode(hits.hits)`
    * + `hit._source.*` give, byte for byte. A null hit or a missing or null
    * `_source` renders an all-`''` line; a page without hits, or one that
    * does not parse, none. A page whose tokens do not fit the plan's types
    * (its pages changed after the plan's schema was folded) also renders
    * none. No count is kept here: the TSV writer's tasks count the lines
    * they write, and the vintage's row-count check reads that sum.
    */
  def renderPageTsvLines(pages: DataFrame, options: JSONOptions,
      plan: Plan): RDD[String] =
    pages.queryExecution.toRdd.mapPartitions { it =>
      val r = new PageRenderer(plan, options)
      it.flatMap(page => r.render(page.getUTF8String(0)))
    }

  /** A page's tokens do not fit the render plan: the page renders nothing. */
  private object Unparsable extends Exception(null, null, false, false)

  /** The byte walk of one task: response pages in, TSV lines out. Each
    * document fills one reused cell array. Its values convert as Spark's
    * `JacksonParser` converts them under the plan's types: a token of the
    * plan's own type directly (a string's text, a long, a double through
    * `pyRepr`, a boolean), any other (a number, boolean, object or array
    * under a string type; a decimal; a JSON cell's array or struct)
    * through the converter Spark's reader uses for that type, whose value
    * the frame path's formatters render. The parser reads the page's own
    * byte array, as the multiLine reader's does, so a non-string token
    * under a string type becomes its exact source text (`1.50`, `1e2`,
    * `[1, 2]` with its spacing) there and here alike.
    *
    * A key repeated in one object is read as Spark reads it: the last
    * occurrence wins, so the cells an earlier one filled are blanked
    * first. `stamps` holds, per struct-walk child, the object it was last
    * seen in.
    */
  private final class PageRenderer(plan: Plan, options: JSONOptions) {
    private val factory = options.buildJsonFactory()
    private lazy val sparkParser = new JacksonParser(StructType(Nil), options,
      allowArrayAsStructs = true)
    private val converters = new Array[JsonParser => AnyRef](plan.columns.length)
    private val one = new GenericInternalRow(1)
    private val out = new Array[String](plan.columns.length)
    private val stamps = new Array[Long](plan.keys)
    private var stamp = 0L

    /** The lines of one page (all of them, or none). */
    def render(page: UTF8String): mutable.ArrayBuffer[String] = {
      val lines = mutable.ArrayBuffer.empty[String]
      val p = factory.createParser(page.getBytes)
      try {
        p.nextToken() match {
          case null => // a blank page
          case START_OBJECT => envelope(p, lines)
          case START_ARRAY => // one response per element
            var t = p.nextToken()
            while (t != END_ARRAY) {
              if (t != START_OBJECT) throw Unparsable
              envelope(p, lines)
              t = p.nextToken()
            }
          case _ => throw Unparsable
        }
        lines
      } catch {
        case Unparsable | _: JsonProcessingException |
            _: CharConversionException | _: MalformedInputException =>
          mutable.ArrayBuffer.empty
      } finally p.close()
    }

    /** Calls `f` with each key of the object the parser is at, the parser
      * at the key's value.
      */
    private def fields(p: JsonParser)(f: String => Unit): Unit = {
      var t = p.nextToken()
      while (t == FIELD_NAME) {
        val name = p.currentName
        p.nextToken()
        f(name)
        t = p.nextToken()
      }
    }

    /** A response: the lines of its last `hits` replace any earlier. */
    private def envelope(p: JsonParser,
        lines: mutable.ArrayBuffer[String]): Unit = {
      val start = lines.length
      fields(p) {
        case "hits" =>
          lines.dropRightInPlace(lines.length - start)
          p.currentToken match {
            case START_OBJECT => fields(p) {
              case "hits" =>
                lines.dropRightInPlace(lines.length - start)
                p.currentToken match {
                  case START_ARRAY =>
                    var t = p.nextToken()
                    while (t != END_ARRAY) { lines += hit(p, t); t = p.nextToken() }
                  case VALUE_NULL =>
                  case _ => throw Unparsable
                }
              case _ => p.skipChildren(): Unit
            }
            case VALUE_NULL =>
            case _ => throw Unparsable
          }
        case _ => p.skipChildren(): Unit
      }
    }

    /** The line of the hit at token `t`. */
    private def hit(p: JsonParser, t: JsonToken)
        : String = {
      clear(out)
      t match {
        case VALUE_NULL =>
        case START_OBJECT =>
          var seen = false
          fields(p) {
            case "_source" =>
              if (seen) clear(out)
              seen = true
              value(plan.root, p, p.currentToken)
            case _ => p.skipChildren(): Unit
          }
        case _ => throw Unparsable
      }
      tsvLine(out)
    }

    /** Walks the object the parser is at against `sw`. */
    private def struct(sw: StructWalk, p: JsonParser): Unit = {
      stamp += 1
      val here = stamp
      var t = p.nextToken()
      while (t == FIELD_NAME) {
        val i = sw.indexOf(p.currentName)
        t = p.nextToken()
        if (i < 0) p.skipChildren()
        else {
          val node = sw.fields(i)._2
          if (stamps(sw.base + i) == here) blankUnder(node)
          stamps(sw.base + i) = here
          value(node, p, t)
        }
        t = p.nextToken()
      }
    }

    /** Renders the value at token `t` into `node`'s cells. */
    private def value(node: Node, p: JsonParser,
        t: JsonToken): Unit =
      if (t == VALUE_NULL) ()
      else node match {
        case sw: StructWalk =>
          if (t == START_OBJECT) struct(sw, p) else throw Unparsable
        case ArrayWalk(whole, elems) =>
          if (t != START_ARRAY) throw Unparsable
          whole match {
            case c: Cell => // the whole array is needed: convert it once
              val xs = convert(c, p).asInstanceOf[ArrayData]
              one.update(0, xs)
              out(c.slot) = pyJson(one, 0, c.dt)
              var i = 0
              val n = math.min(xs.numElements(), elems.length)
              while (i < n) {
                evalField(elems(i), xs, i, out)
                i += 1
              }
            case _ =>
              var i = 0
              var e = p.nextToken()
              while (e != END_ARRAY) {
                if (i < elems.length) value(elems(i), p, e) else p.skipChildren()
                i += 1
                e = p.nextToken()
              }
          }
        case c: Cell => out(c.slot) = cell(c, p, t)
        case Skip => p.skipChildren(): Unit
      }

    /** The text of the cell `c` at token `t` (not null). */
    private def cell(c: Cell, p: JsonParser,
        t: JsonToken): String = c.dt match {
      case StringType if t == VALUE_STRING => p.getText
      case LongType if t == VALUE_NUMBER_INT =>
        java.lang.Long.toString(p.getLongValue)
      case DoubleType if t == VALUE_NUMBER_INT || t == VALUE_NUMBER_FLOAT =>
        PyFormat.pyRepr(p.getDoubleValue)
      case BooleanType if t == VALUE_TRUE || t == VALUE_FALSE =>
        pyBool(t == VALUE_TRUE)
      case dt =>
        val v = convert(c, p)
        if (v == null) ""
        else {
          one.update(0, v)
          if (c.json) pyJson(one, 0, dt) else pyScalar(one, 0, dt)
        }
    }

    /** The value at the parser's token as Spark's reader converts it
      * under `c`'s type.
      */
    private def convert(c: Cell, p: JsonParser): AnyRef = {
      if (converters(c.slot) == null) converters(c.slot) = sparkParser.makeConverter(c.dt)
      try converters(c.slot)(p)
      catch { case _: RuntimeException => throw Unparsable }
    }

    /** Blanks every cell under `node`. */
    private def blankUnder(node: Node): Unit = node match {
      case sw: StructWalk => sw.fields.foreach(f => blankUnder(f._2))
      case ArrayWalk(whole, elems) => blankUnder(whole); elems.foreach(blankUnder)
      case c: Cell => out(c.slot) = ""
      case Skip =>
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
      appendCell(sb, vals(i))
      i += 1
    }
    sb.toString
  }

  private def needsQuote(c: Char): Boolean =
    c == '\t' || c == '"' || c == '\n' || c == '\r'

  /** Appends one cell in a single scan: up to its first tab, quote, CR
    * or LF it is copied as is; from there on it is quoted, each `"`
    * closing a segment that is appended with the quote doubled.
    */
  private def appendCell(sb: java.lang.StringBuilder, v: String): Unit = {
    val n = v.length
    var j = 0
    while (j < n && !needsQuote(v.charAt(j))) j += 1
    if (j == n) sb.append(v)
    else {
      sb.append('"')
      var from = 0
      while (j < n) {
        if (v.charAt(j) == '"') {
          sb.append(v, from, j + 1).append('"')
          from = j + 1
        }
        j += 1
      }
      sb.append(v, from, n).append('"')
    }
  }

  /** Render `df` as the flattened all-string frame of `plan`. */
  def render(df: DataFrame, plan: Plan): DataFrame = {
    val rdd = renderedRows(df, plan).map(a => Row.fromSeq(a.toIndexedSeq))
    df.sparkSession.createDataFrame(rdd, StructType(plan.columns.map(c =>
      StructField(c, StringType, nullable = false))))
  }
}
