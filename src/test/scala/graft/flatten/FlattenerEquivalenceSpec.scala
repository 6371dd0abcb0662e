package graft.flatten

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EsJson

/** The production row walk ([[Flattener.flatten]]) must be byte-identical
  * to the expression-path reference ([[ExpressionOracle.flatten]]) on every
  * cell, on the golden document and on generated batches covering every
  * cell class (scalars, ragged arrays, primitive arrays, truncation,
  * special characters, colliding paths). The generated batches' cells are
  * also pinned as literals, so a change to both paths at once still shows.
  */
class FlattenerEquivalenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rowsOf(df: DataFrame): (Seq[String], Set[Seq[String]]) =
    (df.columns.toSeq,
      df.collect().map(_.toSeq.map(_.asInstanceOf[String]).toIndexedSeq: Seq[String])
        .toSet)

  /** Asserts row walk == oracle; returns the row walk's columns and rows. */
  private def assertSame(df: DataFrame,
      maxDepth: Int = 20): (Seq[String], Set[Seq[String]]) = {
    val slow = rowsOf(ExpressionOracle.flatten(df, maxDepth))
    val fast = rowsOf(Flattener.flatten(df, maxDepth))
    assert(slow._1 == fast._1, "column lists differ")
    val onlySlow = slow._2 -- fast._2
    val onlyFast = fast._2 -- slow._2
    assert(onlySlow.isEmpty && onlyFast.isEmpty, {
      val s = onlySlow.headOption.getOrElse(Seq())
      val f = onlyFast.headOption.getOrElse(Seq())
      val diffs = slow._1.indices.filter(i =>
        s.lift(i) != f.lift(i)).take(5)
        .map(i => s"${slow._1(i)}: slow=${s.lift(i)} fast=${f.lift(i)}")
      s"row mismatch; first diffs: $diffs"
    })
    fast
  }

  test("golden document: row walk == expression oracle on all 5028 cells") {
    assertSame(EsJson.read(spark, graft.queries.FlattenQueries.GoldenDoc))
  }

  test("generated batches: ragged arrays, specials, truncation") {
    import spark.implicits._
    val docs = Seq(
      """{"id":1,"h":[],"arr":["a","b"],"nums":[1.5,2.0],"deep":{"x":{"y":{"z":7}}},"t":true,"s":"quote\"in and\ttab"}""",
      """{"id":2,"h":[{"a":1,"m":[{"k":"v"}]},{"a":2}],"nums":[],"n":null}""",
      """{"id":3,"h":[{"a":3,"m":[{"k":"w"},{"k":"u"}]}],"s":"back\\slash end "}""")
    val df = spark.read.json(docs.toDS)
    // pinned cells, so a change to both implementations at once still shows
    def expected(deep: String, deepCell: String) = (
      Seq("Arr", deep, "H", "H_0_A", "H_0_M_0_K", "H_0_M_1_K", "H_1_A",
        "Id", "Nums", "S", "T"),
      Set(
        Seq("[\"a\", \"b\"]", deepCell, "[]", "", "", "", "", "1",
          "[1.5, 2.0]", "quote\"in and\ttab", "True"),
        Seq("", "", "[{\"a\":1,\"m\":[{\"k\":\"v\"}]}, {\"a\":2}]", "1", "v",
          "", "2", "2", "[]", "", ""),
        Seq("", "", "[{\"a\":3,\"m\":[{\"k\":\"w\"},{\"k\":\"u\"}]}]", "3", "w",
          "u", "", "3", "", "back\\slash end ", "")))
    assert(assertSame(df) == expected("Deep_X_Y_Z", "7"))
    assert(assertSame(df, maxDepth = 2) == expected("Deep_X_Y", "{\"z\":7}"))
  }

  test("colliding paths: a column is rendered only from the path that owns it") {
    import spark.implicits._
    // `a_B` and `a.B` are both A_B; `a` comes first in the schema and owns it
    val df = spark.read.json(Seq(
      """{"a_B":1,"a":{"B":2}}""", """{"a":{"B":3}}""", """{"a_B":4}""").toDS)
    assert(assertSame(df) == (Seq("A_B"), Set(Seq("2"), Seq("3"), Seq(""))))
  }
}
