package graft.flatten

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

import graft.CatalystBridge

/** Reference implementation of the flatten contract that the specs check
  * [[Flattener.flatten]] against: the same candidate columns built as ONE
  * Catalyst `select` of aliased string expressions (Python-format cells
  * composed from `when`/`concat`/`array_join`/`to_json` plus a
  * `StaticInvoke` of [[PyFormat.pyRepr]]), with no code shared with the
  * row walk beyond [[PathNaming]], [[PyFormat.pyRepr]] and the
  * [[StatsPass]] batch statistics.
  *
  * One known difference: a column whose first candidate in schema order
  * is absent from the batch while a later candidate of the same name is
  * present (a nested `a.B` never non-null next to a present `a_B`) is
  * dropped here, because duplicates are removed before presence pruning;
  * the row walk gives it to the present path.
  */
object ExpressionOracle {

  def flatten(df: DataFrame,
      maxDepth: Int = Flattener.DefaultMaxDepth): DataFrame = {
    // Sibling keys differing only in case (quirk Q3) are legal JSON; the
    // generated select addresses fields by their exact schema names, which
    // requires case-sensitive resolution. Dataset analysis is eager, so the
    // conf only needs to hold across the select()/agg() calls.
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val input =
        if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else df
      val batch = StatsPass.collect(input)
      val cand = candidates(input.schema, batch.arrays, maxDepth)
      if (cand.isEmpty) return spark.emptyDataFrame
      input.select(cand.collect {
        case (name, rawPath, rendered) if batch.present(rawPath) =>
          rendered.as(name)
      }: _*)
    } finally spark.conf.set("spark.sql.caseSensitive", prev)
  }

  /** All candidate leaf columns as (pascalPath, rawDotPath, renderedString),
    * sorted lexicographically. The raw dotted path (numeric segments for
    * bound array indices) is the presence-lookup key into
    * [[StatsPass.Batch.present]].
    */
  def candidates(schema: StructType, stats: Map[String, StatsPass.Stats],
      maxDepth: Int = Flattener.DefaultMaxDepth): Seq[(String, String, Column)] = {
    val buf = mutable.ArrayBuffer.empty[(String, String, Column)]

    // A whole terminal cell (dict/list/truncated subtree): '' for a
    // missing/null value [`ETL.py:132-133`], json.dumps otherwise.
    def jsonCell(c: Column, dt: DataType): Column =
      when(c.isNull, "").otherwise(pyJson(c, dt))

    def emit(c: Column, dt: DataType, pPath: String, rPath: String,
        depth: Int): Unit = dt match {
      case st: StructType =>
        if (depth + 1 > maxDepth) buf += ((pPath, rPath, jsonCell(c, st)))
        else walkStruct(st.fields, n => c.getField(n), pPath, rPath, depth + 1)
      case ArrayType(et: StructType, _) =>
        val s = stats.getOrElse(rPath, StatsPass.Stats(0, hasEmpty = false))
        // quirk Q4: a document with `path: []` adds the unindexed column to
        // the batch schema; every document then renders its full array there.
        if (s.hasEmpty || s.maxLen == 0) buf += ((pPath, rPath, jsonCell(c, dt)))
        var i = 0
        while (i < s.maxLen) {
          // functions.get, not getItem: out-of-range positional access must
          // yield null ('' downstream) under ANSI mode, matching the
          // reference's default-on-miss [`ETL.py:99-102`].
          val elem = get(c, lit(i))
          val ip = PathNaming.indexed(pPath, i)
          if (depth + 1 > maxDepth) buf += ((ip, s"$rPath.$i", jsonCell(elem, et)))
          else walkStruct(et.fields, n => elem.getField(n), ip, s"$rPath.$i",
            depth + 1)
          i += 1
        }
      case at: ArrayType => // primitives / nested arrays: one JSON cell
        buf += ((pPath, rPath, jsonCell(c, at)))
      case other =>
        buf += ((pPath, rPath, pyStr(c, other)))
    }

    def walkStruct(fields: Array[StructField], get: String => Column,
        pascalParent: String, rawParent: String, depth: Int): Unit = {
      // quirk Q3: sibling keys colliding on one Pascal name — reference
      // extraction probes [camel, lower, exact, capitalize]; first wins.
      // groups in schema order (as the row walk), so the dedupe below keeps
      // the same candidate on a cross-branch collision
      fields.groupBy(f => PathNaming.toPascal(f.name)).toSeq
        .sortBy { case (_, group) => fields.indexOf(group(0)) }.foreach {
        case (pascal, group) =>
          val winner =
            if (group.length == 1) group(0)
            else {
              val w = PathNaming.collisionWinner(pascal,
                group.map(_.name).toSeq)
              group.find(_.name == w).getOrElse(group(0))
            }
          val pPath = PathNaming.join(pascalParent, pascal)
          val rPath =
            if (rawParent.isEmpty) winner.name
            else s"$rawParent.${winner.name}"
          emit(get(winner.name), winner.dataType, pPath, rPath, depth)
      }
    }

    walkStruct(schema.fields, n => col(s"`$n`"), "", "", depth = 0)

    // final order: reference's plain lexicographic sort of the full path
    // [`ETL.py:180`]; dedupe pathological cross-branch collisions.
    val seen = mutable.HashSet.empty[String]
    buf.sortBy(_._1).filter { case (name, _, _) => seen.add(name) }.toSeq
  }

  // ---- Python-format cells as Columns -----------------------------------------

  def pyReprUtf8(d: Double): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(PyFormat.pyRepr(d))

  /** `pyRepr` as a Column (codegen'd static call). */
  def pyDoubleStr(c: Column): Column = CatalystBridge.column(
    StaticInvoke(
      ExpressionOracle.getClass, StringType, "pyReprUtf8",
      Seq(CatalystBridge.expression(c)), Seq(DoubleType),
      returnNullable = false))

  /** Python `str(v)` for a scalar column: '' for null, True/False for
    * booleans, pyRepr for doubles, plain cast otherwise.
    */
  def pyStr(c: Column, dt: DataType): Column = dt match {
    case BooleanType =>
      when(c.isNull, "").when(c, "True").otherwise("False")
    case DoubleType | FloatType =>
      coalesce(when(c.isNotNull, pyDoubleStr(c.cast(DoubleType))), lit(""))
    case StringType => coalesce(c, lit(""))
    case _          => coalesce(c.cast(StringType), lit(""))
  }

  /** JSON string escaping per Python `json.dumps` defaults (ensure_ascii
    * escapes are omitted — inputs here are the reference's ASCII corpora;
    * quotes/backslashes/control chars are the observable cases).
    */
  private def jsonEscape(c: Column): Column = {
    val esc = regexp_replace(
      regexp_replace(c, "\\\\", "\\\\\\\\"),
      "\"", "\\\\\"")
    val ctl = regexp_replace(
      regexp_replace(regexp_replace(esc, "\n", "\\\\n"), "\r", "\\\\r"),
      "\t", "\\\\t")
    ctl
  }

  /** Python `json.dumps(scalar)` rendering INSIDE a JSON document:
    * lowercase true/false/null, quoted+escaped strings, pyRepr doubles.
    */
  def pyJsonScalar(c: Column, dt: DataType): Column = dt match {
    case BooleanType =>
      when(c.isNull, "null").when(c, "true").otherwise("false")
    case DoubleType | FloatType =>
      coalesce(when(c.isNotNull, pyDoubleStr(c.cast(DoubleType))), lit("null"))
    case StringType =>
      when(c.isNull, "null")
        .otherwise(concat(lit("\""), jsonEscape(c), lit("\"")))
    case _ => coalesce(c.cast(StringType), lit("null"))
  }

  /** Python `json.dumps(value)` for arbitrarily nested arrays/scalars —
    * `[1000.0]`, `["S9290", "M4833"]`, `[]` — with json.dumps' default
    * `", "` item separator [`ElasticSearch ETL.py:134-135` renders arrays of
    * primitives this way]. Structs fall back to Spark `to_json` (null fields
    * dropped, compact separators) — only reachable via max_depth truncation.
    */
  def pyJson(c: Column, dt: DataType): Column = dt match {
    case ArrayType(et, _) =>
      when(c.isNull, "null").otherwise(
        concat(lit("["),
          array_join(transform(c, x => pyJson(x, et)), ", ", "null"),
          lit("]")))
    case _: StructType => when(c.isNull, "null").otherwise(to_json(c))
    case _             => pyJsonScalar(c, dt)
  }
}
