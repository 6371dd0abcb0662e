package graft.flatten

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EsJson

/** Codegen-regime conformance of the golden 5,028-column flatten
  * (SURVEY.md §7.5 risk #1; reference analogue: the column-explosion
  * guardrail `README.md:243-247`).
  *
  * `Flattener.flatten` renders with a row walk that generates no code,
  * but the plan under it — the JSON scan and the envelope-unwrap
  * projection over a ~5k-leaf schema — is exactly the shape where
  * Janino's 64 KB method limit forces whole-stage codegen to split or
  * bail out. The OUTPUT must be byte-identical under every codegen regime
  * Spark can land in at scale:
  *
  *  - `spark.sql.codegen.wholeStage=false` — per-expression codegen
  *    only (the regime Spark falls back to when a generated method
  *    exceeds `spark.sql.codegen.hugeMethodLimit`);
  *  - `spark.sql.codegen.maxFields=10` — whole-stage refuses wide
  *    plans, the planner wraps them in the fallback path (how a 5k-wide
  *    schema is actually planned on a real cluster);
  *  - `spark.sql.codegen.factoryMode=NO_CODEGEN` — fully interpreted
  *    expression evaluation, the last-resort regime after repeated
  *    Janino compilation failures.
  *
  * Each run is compared cell-for-cell against the executed reference's
  * own 5,028 golden cells (`golden_flatten_expected.json`, same fixture
  * and Q1 divergence patch as FlattenSpec's golden test).
  */
class FlattenCodegenFallbackSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val expected: Map[String, String] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      getClass.getResourceAsStream("/golden_flatten_expected.json"))
    assert(tree.get("n_cols").asInt == 5028)
    val fixedByUs = Map("ValueCodes_45" -> "[2250.0]") // SURVEY §2.3 Q1
    val it = tree.get("row").fields()
    val buf = collection.mutable.Map.empty[String, String]
    while (it.hasNext) {
      val e = it.next()
      buf += e.getKey -> fixedByUs.getOrElse(e.getKey, e.getValue.asText)
    }
    buf.toMap
  }

  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def assertGoldenCells(label: String): Unit = {
    val df = EsJson.read(spark, "/root/reference/ElasticSearch_Document.json")
    val flat = Flattener.flatten(df)
    val rows = flat.collect()
    assert(rows.length == 1, s"[$label] golden doc must flatten to one row")
    val got = flat.columns.zip(rows(0).toSeq.map(_.asInstanceOf[String])).toMap
    assert(got.keySet == expected.keySet,
      s"[$label] column set: missing=${(expected.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).take(5)}")
    val bad = expected.iterator
      .filterNot { case (k, v) => got(k) == v }.take(10).toSeq
    assert(bad.isEmpty, s"[$label] " + bad.map {
      case (k, v) => s"$k: expected=$v got=${got(k)}"
    }.mkString("\n"))
  }

  test("wholeStage=false: all 5028 golden cells byte-equal") {
    withConfs("spark.sql.codegen.wholeStage" -> "false") {
      assertGoldenCells("wholeStage=false")
    }
  }

  test("codegen.maxFields=10: all 5028 golden cells byte-equal") {
    withConfs("spark.sql.codegen.maxFields" -> "10") {
      assertGoldenCells("maxFields=10")
    }
  }

  test("factoryMode=NO_CODEGEN (interpreted): all 5028 golden cells byte-equal") {
    withConfs("spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertGoldenCells("NO_CODEGEN")
    }
  }
}
