package graft.flatten

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EsJson

/** Golden + quirk tests for the flattener (SURVEY.md §5.2, FIXTURES.md).
  *
  * The expected values in golden_flatten_expected.json were produced by
  * executing the reference implementation itself on its own sample document
  * (`/root/reference/ElasticSearch_Document.json`) — a behavioral oracle,
  * not copied code.
  */
class FlattenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def flattenJsonDocs(docs: Seq[String]): Map[String, String] = {
    import spark.implicits._
    val df = spark.read.json(docs.toDS)
    val flat = Flattener.flatten(df)
    flat.columns.zip(flat.collect()(0).toSeq.map(_.asInstanceOf[String])).toMap
  }

  private def flattenAll(docs: Seq[String]): Seq[Map[String, String]] = {
    import spark.implicits._
    val df = spark.read.json(docs.toDS)
    val flat = Flattener.flatten(df)
    flat.collect().toSeq.map(r =>
      flat.columns.zip(r.toSeq.map(_.asInstanceOf[String])).toMap)
  }

  test("pyRepr matches Python str(float) across format regimes") {
    val cases = Seq(
      0.0 -> "0.0", -0.0 -> "-0.0", 1.0 -> "1.0", 33934.0 -> "33934.0",
      1000.0 -> "1000.0", 0.1 -> "0.1", 12345678.9 -> "12345678.9",
      1e7 -> "10000000.0", 123456789.123 -> "123456789.123",
      1e15 -> "1000000000000000.0", 1e16 -> "1e+16", 1.23e17 -> "1.23e+17",
      1e-4 -> "0.0001", 0.000123 -> "0.000123", 1e-5 -> "1e-05",
      -2.5 -> "-2.5", 3.14159 -> "3.14159", 2250.0 -> "2250.0",
      1e100 -> "1e+100", -1e-100 -> "-1e-100",
      7.006492321624085e-46 -> "7.006492321624085e-46")
    cases.foreach { case (d, expected) =>
      assert(PyFormat.pyRepr(d) == expected, s"pyRepr($d)")
    }
  }

  test("golden ES document flattens to the reference's exact 5028-column row") {
    val df = EsJson.read(spark, "/root/reference/ElasticSearch_Document.json")
    val flat = Flattener.flatten(df)
    val rows = flat.collect()
    assert(rows.length == 1)
    val got = flat.columns.zip(rows(0).toSeq.map(_.asInstanceOf[String])).toMap

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(
      getClass.getResourceAsStream("/golden_flatten_expected.json"))
    assert(tree.get("n_cols").asInt == 5028)
    val expIt = tree.get("row").fields()
    val expected = collection.mutable.LinkedHashMap.empty[String, String]
    while (expIt.hasNext) {
      val e = expIt.next(); expected += e.getKey -> e.getValue.asText
    }

    // deliberate divergence set (SURVEY.md §2.3): Q1 digit map keys — the
    // reference always yields '' there; we extract the real value.
    val fixedByUs = Map("ValueCodes_45" -> "[2250.0]")

    assert(got.keySet == expected.keySet,
      s"column set: missing=${(expected.keySet -- got.keySet).take(10)} " +
      s"extra=${(got.keySet -- expected.keySet).take(10)}")

    val mismatches = expected.iterator.filterNot { case (k, v) =>
      got(k) == fixedByUs.getOrElse(k, v)
    }.take(20).toSeq
    assert(mismatches.isEmpty,
      mismatches.map { case (k, v) => s"$k: expected=$v got=${got(k)}" }
        .mkString("\n"))
  }

  test("F3: README array-expansion fixture") {
    val got = flattenJsonDocs(Seq(
      """{"claimRequestId": 123,
          "lines": [{"lineNumber": 1, "charge": 100.0},
                    {"lineNumber": 2, "charge": 200.0}]}"""))
    assert(got == Map(
      "ClaimRequestId" -> "123",
      "Lines_0_Charge" -> "100.0", "Lines_0_LineNumber" -> "1",
      "Lines_1_Charge" -> "200.0", "Lines_1_LineNumber" -> "2"))
  }

  test("Q3: case-colliding sibling keys resolve camelCase-first") {
    val got = flattenJsonDocs(Seq("""{"editId": "a", "EditId": "b"}"""))
    assert(got == Map("EditId" -> "a"))
  }

  test("Q4: ragged arrays — unindexed column iff some doc has empty array") {
    val rows = flattenAll(Seq(
      """{"id": 1, "h": []}""",
      """{"id": 2, "h": [{"x": 1}]}"""))
    val byId = rows.map(r => r("Id") -> r).toMap
    assert(rows.head.keySet == Set("Id", "H", "H_0_X"))
    assert(byId("1")("H") == "[]")
    assert(byId("1")("H_0_X") == "")
    assert(byId("2")("H") == """[{"x":1}]""") // struct JSON via to_json
    assert(byId("2")("H_0_X") == "1")
  }

  test("Q5 + rendering: booleans, null, empty list, primitive arrays") {
    val got = flattenJsonDocs(Seq(
      """{"t": true, "f": false, "n": null, "e": [],
          "arr": ["S9290", "M4833"], "nums": [1000.0],
          "strs": ["", ""]}"""))
    assert(got("T") == "True")
    assert(got("F") == "False")
    // documented divergence: a key that is explicitly-null in EVERY document
    // is indistinguishable from an absent key after JSON parsing, so no
    // column is emitted (the reference would emit '': Flattener scaladoc).
    assert(!got.contains("N"))
    assert(got("E") == "[]")
    assert(got("Arr") == """["S9290", "M4833"]""")
    assert(got("Nums") == "[1000.0]")
    assert(got("Strs") == """["", ""]""")
  }

  test("Q9: lexicographic column ordering sorts _10_ before _2_") {
    import spark.implicits._
    val items = (0 until 12).map(i => s"""{"v": $i}""").mkString(",")
    val df = spark.read.json(Seq(s"""{"a": [$items]}""").toDS)
    val flat = Flattener.flatten(df)
    val order = flat.columns.toSeq
    assert(order == order.sorted)
    assert(order.indexOf("A_10_V") < order.indexOf("A_2_V"))
  }

  test("max_depth truncation serializes the subtree as JSON") {
    val doc = """{"a": {"b": {"c": {"d": 1}}}}"""
    val shallow = flattenJsonDocs(Seq(doc)) // default depth: no truncation
    assert(shallow == Map("A_B_C_D" -> "1"))
    import spark.implicits._
    val df = spark.read.json(Seq(doc).toDS)
    val flat = Flattener.flatten(df, maxDepth = 2)
    val got = flat.columns.zip(
      flat.collect()(0).toSeq.map(_.asInstanceOf[String])).toMap
    assert(got == Map("A_B_C" -> """{"d":1}"""))
  }

  /** The lines of `flattenToTsv(singleFile = true)`'s one part-file. */
  private def tsvLines(docs: Seq[String]): List[String] = {
    import spark.implicits._
    val df = spark.read.json(docs.toDS)
    val out = java.nio.file.Files.createTempDirectory("tsv").toString + "/out"
    Flattener.flattenToTsv(df, out, singleFile = true)
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(out)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    assert(parts.length == 1)
    scala.io.Source.fromFile(parts(0).toFile).getLines().toList
  }

  test("flatten caches nothing: persisted RDDs unchanged after three calls") {
    import spark.implicits._
    // relative snapshot: other suites sharing this JVM's session may
    // hold their own persists
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (i <- 1 to 3) {
      val df = spark.read.json(Seq(s"""{"a": $i, "b": {"c": [1, 2]}}""").toDS)
      val flat = Flattener.flatten(df)
      assert(flat.collect().map(_.getString(0)).toSeq === Seq(i.toString))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "flatten left a persisted input behind")
  }

  test("TSV sink: header row + tab separation + empty cells") {
    val lines = tsvLines(Seq("""{"b": "x", "a": 1}""", """{"b": null, "a": 2}"""))
    assert(lines.head == "A\tB")
    assert(lines.tail.toSet == Set("1\tx", "2\t"))
  }

  test("colliding paths: only the owning path renders into the column") {
    // `a.B` and the underscore key `a_B` both name A_B; `a` precedes `a_B`
    // in the inferred (name-sorted) schema, so the nested path owns it
    val docs = Seq("""{"id": 1, "a_B": 1, "a": {"B": 2}}""",
      """{"id": 2, "a": {"B": 3}}""", """{"id": 3, "a_B": 4}""")
    val byId = flattenAll(docs).map(r => r("Id") -> r("A_B")).toMap
    assert(byId == Map("1" -> "2", "2" -> "3", "3" -> ""))
    val lines = tsvLines(docs)
    assert(lines.head == "A_B\tId")
    assert(lines.tail.toSet == Set("2\t1", "3\t2", "\t3"))
    // an owner never present leaves the column to the next present path
    val late = flattenAll(Seq("""{"id": 1, "a": {"B": null}}""",
      """{"id": 2, "a_B": 4}"""))
    assert(late.map(r => r("Id") -> r("A_B")).toMap == Map("1" -> "", "2" -> "4"))
  }

  test("non-JSON leaf types fail fast, naming the path and the type") {
    val df = spark.sql("""SELECT 1 AS id, DATE'2024-03-01' AS d,
      named_struct('at', TIMESTAMP'2024-03-01 10:00:00') AS s,
      array(DATE'2024-03-01') AS ds""")
    Seq("d" -> "`d` has type date", "s" -> "`s.at` has type timestamp",
        "ds" -> "`ds` has type array<date>").foreach { case (c, msg) =>
      val e = intercept[IllegalArgumentException](
        Flattener.flatten(df.select("id", c)))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("EsJson reads a directory of envelope files as one document set") {
    val dir = java.nio.file.Files.createTempDirectory("envs")
    val env1 = """{"took":1,"hits":{"total":{"value":1},"hits":[
        {"_id":"a","_source":{"claimRequestId":1,"x":"one"}}]}}"""
    val env2 = """{"took":2,"hits":{"total":{"value":1},"hits":[
        {"_id":"b","_source":{"claimRequestId":2,"y":7}}]}}"""
    java.nio.file.Files.writeString(dir.resolve("r1.json"), env1)
    java.nio.file.Files.writeString(dir.resolve("r2.json"), env2)
    val docs = graft.sources.EsJson.read(spark, dir.toString)
    assert(docs.count() == 2)
    val flat = Flattener.flatten(docs)
    assert(flat.columns.toSeq == Seq("ClaimRequestId", "X", "Y"))
    val rows = flat.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("1") == ("one", "") && rows("2") == ("", "7"))
  }

  test("schema-union across documents: missing fields default to ''") {
    val rows = flattenAll(Seq(
      """{"id": 1, "x": "only-in-1"}""",
      """{"id": 2, "y": 42}"""))
    val byId = rows.map(r => r("Id") -> r).toMap
    assert(byId("1")("X") == "only-in-1" && byId("1")("Y") == "")
    assert(byId("2")("X") == "" && byId("2")("Y") == "42")
  }
}
