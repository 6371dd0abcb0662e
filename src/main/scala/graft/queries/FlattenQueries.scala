package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.flatten.Flattener

/** The flatten operator exposed on the driver's test tables: parse the
  * semi-structured `events.props` JSON into a nested column, then run the
  * full flattening pipeline (StatsPass array widths + presence, RenderPass
  * Python-format rendering). The DuckDB oracle reproduces the exact same
  * cells with string functions — Event_id/Event_type pass through
  * PascalCase renaming, `k` becomes `Props_K` with the stringified integer.
  */
object FlattenQueries {

  private def q19(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_id"), col("event_type"),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).as("props"))
    Flattener.flatten(ev)
  }

  private val q19Sql =
    """SELECT CAST(event_id AS VARCHAR) AS Event_id,
       event_type AS Event_type,
       regexp_extract(props, '"k": ([0-9]+)', 1) AS Props_K
       FROM events"""

  // --- q67: golden-document flatten, pinned byte-for-byte in the driver ----
  // The reference's own sample document (hits envelope, 5,028 leaf paths)
  // through the REAL pipeline (envelope unwrap -> schema discovery ->
  // flatten -> Python-exact stringification), emitted as (path, value)
  // rows for ALL 5,028 cells — every boolean ('True'/'False'), empty
  // string, float repr, json.dumps array, lexicographic-order and quirk
  // column (Q1 ValueCodes_45, Q4 unindexed empty-array paths) the
  // reference produces. The oracle is a VALUES literal generated AT
  // RUNTIME from the EXECUTED reference's output (classpath resource
  // golden_flatten_expected.json — a 5,028-row literal exceeds the JVM's
  // 64 KB string-constant limit, and regenerating keeps it in lockstep
  // with the fixture), so the driver's hash check compares our cells
  // against the reference's actual bytes, not against a SQL
  // re-derivation. Reference behavior: ElasticSearch ETL.py:131-151
  // (stringification), :157-163 (envelope).
  /** Path of the reference's sample document, read by q67, Bench and the
    * golden-document specs: `SPARK_GRAFT_GOLDEN_DOC`, else the default
    * install location.
    */
  private[graft] val GoldenDoc = sys.env.getOrElse("SPARK_GRAFT_GOLDEN_DOC",
    "/root/reference/ElasticSearch_Document.json")

  /** The executed reference's own 5,028 (path, value) cells, patched with
    * the ONE documented divergence (SURVEY.md §2.3 Q1): digit map keys —
    * the reference's pass 2 treats any digit path segment as a list index,
    * so `ValueCodes_45` always extracts '' from the dict; we extract the
    * real value. Same patch as FlattenSpec's `fixedByUs`.
    */
  private lazy val goldenExpected: Seq[(String, String)] = {
    val fixedByUs = Map("ValueCodes_45" -> "[2250.0]")
    val in = getClass.getResourceAsStream("/golden_flatten_expected.json")
    require(in != null,
      "golden_flatten_expected.json missing from the classpath (ships in " +
        "src/main/resources — the executed-reference golden cells)")
    try {
      val row = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(in).get("row")
      require(row != null, "golden_flatten_expected.json lacks a 'row' object")
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val it = row.fields()
      while (it.hasNext) {
        val e = it.next()
        buf += e.getKey -> fixedByUs.getOrElse(e.getKey, e.getValue.asText)
      }
      buf.sortBy(_._1).toSeq
    } finally in.close()
  }

  private def q67(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val flat = Flattener.flatten(graft.sources.EsJson.read(s, GoldenDoc))
    // exactly one golden document: a single bounded row crosses the
    // driver, never the corpus (the distributed path is flattenToTsv)
    val r = flat.first()
    val pairs = flat.schema.fieldNames.toSeq.zipWithIndex.map {
      case (p, i) => (p, Option(r.getString(i)).getOrElse(""))
    }
    pairs.toDF("path", "value")
  }

  /** Standard-SQL single-quoted literal (quote doubling; no backslash
    * escapes, matching DuckDB's default literal semantics).
    */
  private def sqlLit(v: String): String = "'" + v.replace("'", "''") + "'"

  private lazy val q67Sql: String =
    goldenExpected.map { case (p, v) => s"(${sqlLit(p)}, ${sqlLit(v)})" }
      .mkString("SELECT path, value FROM (VALUES\n",
        ",\n", ") AS t(path, value)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q19_flatten_json" -> q19 _,
    "q67_flatten_golden" -> q67 _)

  val oracle: Map[String, String] = Map(
    "q19_flatten_json" -> q19Sql,
    "q67_flatten_golden" -> q67Sql)
}
