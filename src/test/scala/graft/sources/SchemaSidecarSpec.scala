package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Per-vintage schema sidecar ([[EsJson.SchemaSidecar]]): an exported
  * vintage persists its grafted parse schema once, and every later read
  * skips inference AND the EmptyShapes discovery pass. Pinned: the
  * sidecar is authoritative (a read with one present never consults the
  * data for schema), byte-identical output vs the inference path,
  * producer wiring in [[EsHttp.read]] (fresh export writes it, re-export
  * replaces it), and the driver-local EmptyShapes discovery equals the
  * distributed pass on the same documents.
  */
class SchemaSidecarSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def vintage(): String = {
    val dir = Files.createTempDirectory("sidecar_vintage_")
    Files.writeString(dir.resolve("d1.json"),
      """{"a": 1, "b": {"x": "u", "inner": {}}, "c": [1, 2]}""")
    Files.writeString(dir.resolve("d2.json"),
      """{"a": 2, "b": {"x": "v", "inner": {}}}""")
    dir.toString
  }

  test("sidecar round-trip: persisted schema read back; output byte-identical") {
    val dir = vintage()
    val inferredRead = EsJson.readFiles(spark, Seq(dir))
    val parseSchema = EsJson.inferParseSchema(spark, Seq(dir))
    // the graft kept the inference-dropped empty object
    assert(parseSchema("b").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("inner"))
    EsJson.writeSchemaSidecar(spark, dir, parseSchema)
    assert(EsJson.readSchemaSidecar(spark, dir) === Some(parseSchema))
    val sidecarRead = EsJson.read(spark, dir)
    assert(sidecarRead.schema === inferredRead.schema)
    assert(sidecarRead.exceptAll(inferredRead).count() === 0L &&
      inferredRead.exceptAll(sidecarRead).count() === 0L)
  }

  test("sidecar is authoritative: the data is never consulted for schema") {
    val dir = vintage()
    // a deliberately NARROWER schema than the data: if inference (or
    // the discovery pass) ran, column 'b'/'c' would reappear
    val narrow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.LongType)))
    EsJson.writeSchemaSidecar(spark, dir, narrow)
    val got = EsJson.read(spark, dir)
    assert(got.schema.fieldNames.toSeq === Seq("a"),
      "a present sidecar must fully replace inference")
    assert(got.count() === 2L)
  }

  test("EsHttp vintage wiring: fresh export persists the sidecar, re-export replaces it") {
    // minimal one-page stub: _count then one search page, then empty
    val doc = """{"doc_id": 1, "t": "x", "e": {}}"""
    val page =
      s"""{"hits":{"total":{"value":1},"hits":[{"_source":$doc}]}}"""
    def respond(x: com.sun.net.httpserver.HttpExchange,
        body: String): Unit = {
      val b = body.getBytes("UTF-8")
      x.sendResponseHeaders(200, b.length)
      x.getResponseBody.write(b)
      x.close()
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/idx/_count",
      (x: com.sun.net.httpserver.HttpExchange) =>
        respond(x, """{"count":1}"""))
    server.createContext("/idx/_search",
      (x: com.sun.net.httpserver.HttpExchange) => {
        val req = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(x.getRequestBody)
        respond(x,
          if (req.path("search_after").isMissingNode) page
          else """{"hits":{"total":{"value":0},"hits":[]}}""")
      })
    server.start()
    try {
      val pageDir = Files.createTempDirectory("sidecar_pages_").toString
      val cfg = EsHttp.Config(
        s"http://localhost:${server.getAddress.getPort}", "idx",
        pageSize = 10, sortFields = Seq("doc_id"))
      val docs = EsHttp.read(spark, cfg, pageDir)
      assert(docs.count() === 1L)
      val side = EsJson.readSchemaSidecar(spark, pageDir)
      assert(side.isDefined, "a fresh export must persist its vintage schema")
      // the persisted schema is the PARSE schema (envelope) and carries
      // the EmptyShapes graft for the always-empty key 'e'
      assert(side.get.fieldNames.contains("hits"))
      // the schema folded inside the fetch loop is the one inference +
      // graft derives from the same pages
      assert(side.get === EsJson.inferParseSchema(spark, Seq(pageDir)))
      assert(docs.columns.contains("e"))
      // a later read of the vintage goes through the sidecar and equals
      val again = EsJson.read(spark, pageDir)
      assert(again.columns.toSeq === docs.columns.toSeq)
      assert(again.exceptAll(docs).count() === 0L)
      // re-export = new vintage: stale sidecar dies with stale pages
      EsJson.writeSchemaSidecar(spark, pageDir,
        org.apache.spark.sql.types.StructType(Nil))
      EsHttp.export(cfg, pageDir): Unit
      assert(!Files.exists(Paths.get(pageDir, EsJson.SchemaSidecar)),
        "export must clear the previous vintage's sidecar")
    } finally server.stop(0)
  }

  test("local discovery: a hidden-named ANCESTOR of the listed root does not hide the files") {
    import graft.flatten.EmptyShapes
    // the listed root lives under a dot-prefixed parent — components
    // ABOVE the root must not trip the hidden filter (spark.read reads
    // this layout fine; a mis-qualified walk would silently discover
    // nothing and the graft would never fire)
    val parent = Files.createTempDirectory(".sidecar_hidden_")
    val dir = parent.resolve("docs")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("d.jsonl"), """{"k": 1, "e": {}}""")
    val got = EmptyShapes.discover(spark, Seq(dir.toString),
      wholeFile = false)
    assert(got.isDefined, "files under a hidden-named ancestor were skipped")
    // while a hidden component BELOW the root still filters, like Spark
    val dir2 = Files.createTempDirectory("sidecar_below_")
    Files.createDirectories(dir2.resolve("_meta"))
    Files.writeString(dir2.resolve("_meta").resolve("d.jsonl"),
      """{"e": {}}""")
    assert(EmptyShapes.discover(spark, Seq(dir2.toString),
      wholeFile = false).isEmpty)
  }

  test("driver-local EmptyShapes discovery equals the distributed pass") {
    import graft.flatten.EmptyShapes
    val dir = Files.createTempDirectory("sidecar_local_")
    val lines = Seq(
      """{"k": 1, "e": {}, "arr": [{"z": {}}]}""",
      """{"k": 2, "e": {}}""")
    Files.writeString(dir.resolve("docs.jsonl"), lines.mkString("\n"))
    // the path form picks the driver-local route (2 tiny lines); the
    // Dataset form is the distributed scan — same merged shape
    val local = EmptyShapes.discover(spark, Seq(dir.toString),
      wholeFile = false)
    val distributed = EmptyShapes.discoverLines(
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
    assert(local === distributed)
    assert(local.isDefined)
    // and the graft sees the nested always-empty keys either way
    val inferred = spark.read.json(dir.resolve("docs.jsonl").toString).schema
    val viaPath = EmptyShapes.augment(spark, inferred,
      Seq(dir.toString), wholeFile = false)
    assert(viaPath.fieldNames.contains("e"))
  }

  test("distributed EmptyShapes discovery runs one Spark job") {
    import graft.flatten.EmptyShapes
    val lines = Seq(
      """{"k": 1, "e": {}, "arr": [{"z": {}}]}""",
      """{"k": 2, "e": {}}""",
      """{"k": 3}""")
    // three partitions, one of them without a prefilter match
    val ds = spark.createDataset(spark.sparkContext.parallelize(lines, 3))(
      org.apache.spark.sql.Encoders.STRING)
    val (shape, jobs) = graft.JobsStarted(spark)(EmptyShapes.discoverLines(ds))
    assert(jobs === 1)
    assert(shape.isDefined)
    // no document passes the prefilter: still one job, no shape
    val plain = spark.createDataset(Seq("""{"k": 1}""", """{"k": 2}"""))(
      org.apache.spark.sql.Encoders.STRING)
    val (none, jobs2) = graft.JobsStarted(spark)(EmptyShapes.discoverLines(plain))
    assert(jobs2 === 1)
    assert(none.isEmpty)
  }
}
