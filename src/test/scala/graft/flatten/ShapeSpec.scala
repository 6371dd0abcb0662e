package graft.flatten

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import EmptyShapes.{RArr, RObj, RScalar}

/** [[EmptyShapes.Shape]], the in-place accumulator behind the schema
  * fold's EmptyShapes graft, gives the same merged shape as the reference
  * fold [[ShapeOracle]] (one `Raw` per document, merged pairwise):
  * absorbing documents one by one, absorbing per-partition partials on
  * the driver, behind the [[EmptyShapes.Fold]] prefilter, and through the
  * distributed fold (`EsJson.ParseSchemaFold.lines`).
  */
class ShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val mapper = new ObjectMapper

  private def trees(docs: Seq[String]): Seq[JsonNode] = docs.map(mapper.readTree)

  private val prefilter =
    java.util.regex.Pattern.compile(EmptyShapes.EmptyObjPattern)

  private def passes(doc: String): Boolean = prefilter.matcher(doc).find()

  private def accumulated(docs: Seq[String]) = {
    val shape = new EmptyShapes.Shape
    trees(docs).foreach(shape.add)
    shape.result
  }

  /** Checks every route against the oracle; returns the merged shape. */
  private def assertSameAsOracle(docs: Seq[String]) = {
    val oracle = ShapeOracle.fold(trees(docs))
    assert(accumulated(docs) === oracle, docs.mkString("\n"))
    // partials of uneven chunks, absorbed as the driver absorbs them
    val driver = new EmptyShapes.Shape
    docs.grouped(3).flatMap(accumulated).foreach(driver.add)
    assert(driver.result === oracle)
    // behind the prefilter: only documents carrying an empty object count
    val fold = new EmptyShapes.Fold
    docs.foreach(d => fold.add(d, mapper.readTree(d)))
    assert(fold.result === ShapeOracle.fold(trees(docs.filter(passes))))
    oracle
  }

  test("generated documents: accumulator == oracle fold") {
    val rnd = new scala.util.Random(11)
    def value(depth: Int): String = rnd.nextInt(if (depth > 3) 5 else 9) match {
      case 0 => rnd.nextInt(100).toString
      case 1 => "null"
      case 2 => s""""s${rnd.nextInt(5)}""""
      case 3 => "{}"
      case 4 => "[]"
      case 5 | 6 => obj(depth + 1)
      case _ => Seq.fill(rnd.nextInt(4))(value(depth + 1)).mkString("[", ",", "]")
    }
    def obj(depth: Int): String =
      rnd.shuffle(Seq("a", "b", "c", "d")).take(rnd.nextInt(4))
        .map(k => s""""$k":${value(depth)}""").mkString("{", ",", "}")
    for (_ <- 1 to 40)
      assertSameAsOracle(Seq.fill(1 + rnd.nextInt(8))(obj(0)))
  }

  test("mixed shapes: one key an object, a scalar or an array across documents") {
    assert(assertSameAsOracle(Seq(
      """{"k":{"a":{}},"j":[{}],"m":{}}""",
      """{"k":5,"j":{"x":{}},"m":[]}""",
      """{"k":{"b":{}},"j":[{"y":1}],"m":{}}""")) ===
      Some(RObj(Map("k" -> RScalar, "j" -> RScalar, "m" -> RScalar))))
    // a scalar first: everything after folds into it
    assertSameAsOracle(Seq("""{"k":null}""", """{"k":{"a":{}}}""",
      """{"k":[{}]}"""))
    // kinds of the root itself
    assertSameAsOracle(Seq("""{"a":{}}""", """[{}]""", "1"))
  }

  test("an array whose elements mix objects and scalars") {
    assert(assertSameAsOracle(Seq("""{"a":[{"x":{}},1,{"y":2}]}""")) ===
      Some(RObj(Map("a" -> RArr(Some(RScalar))))))
    assertSameAsOracle(Seq("""{"a":[[],[{}],3]}""", """{"a":[[{"z":{}}]]}"""))
    assertSameAsOracle(Seq("""{"a":[{"x":{}},{"y":[1,{}]}]}""",
      """{"a":["s",{"x":{}}]}"""))
  }

  test("always-empty objects and arrays, nested empties") {
    assert(assertSameAsOracle(Seq(
      """{"e":{},"a":[],"n":{"m":{},"l":[[]],"o":[{}]}}""",
      """{"e":{},"a":[],"n":{"m":{},"l":[],"o":[]}}""")) ===
      Some(RObj(Map("e" -> RObj(Map.empty), "a" -> RArr(None),
        "n" -> RObj(Map("m" -> RObj(Map.empty),
          "l" -> RArr(Some(RArr(None))),
          "o" -> RArr(Some(RObj(Map.empty)))))))))
    assertSameAsOracle(Seq("{}", "[]", """{"a":{"b":{"c":{}}}}"""))
  }

  test("the EsHttp and sidecar stub pages") {
    // the envelope EsHttpSpec's stub serves, over two pages
    def hit(ts: String, id: Long) =
      s"""{"_index":"claims","_id":"$id","sort":["$ts",$id],"_source":{"auditProcessedDateTimeUtc":"$ts","claimRequestId":$id,"payload":"p$id"}}"""
    def page(hits: Seq[String]) =
      s"""{"took":1,"timed_out":false,"hits":{"total":{"value":25,"relation":"eq"},"max_score":null,"hits":[${hits.mkString(",")}]}}"""
    assertSameAsOracle(Seq(
      page((1 to 10).map(i => hit(f"2025-06-01T11:30:$i%02d.0000000Z", 3590000L + i))),
      page(Seq(hit("2025-06-01T11:31:00.0000000Z", 3590011L))),
      page(Nil)))
    // SchemaSidecarSpec's one-document page and its empty follow-up
    assertSameAsOracle(Seq(
      """{"hits":{"total":{"value":1},"hits":[{"_source":{"doc_id": 1, "t": "x", "e": {}}}]}}""",
      """{"hits":{"total":{"value":0},"hits":[]}}"""))
  }

  test("distributed discovery: per-partition partials absorbed on the driver == oracle") {
    val lines = Seq(
      """{"k":1,"e":{},"arr":[{"z":{}}]}""",
      """{"k":2,"e":{"f":{}},"arr":[1]}""",
      """{"k":3,"arr":[]}""",
      """{"k":{},"arr":[{"w":{}}]}""")
    val ds = spark.createDataset(spark.sparkContext.parallelize(lines, 3))(
      Encoders.STRING)
    // the fold's schema is the oracle shape grafted onto inference
    assert(graft.sources.EsJson.ParseSchemaFold.lines(spark, ds).schema ===
      EmptyShapes.graftOnto(spark.read.json(ds).schema,
        ShapeOracle.fold(trees(lines.filter(passes)))))
  }
}
