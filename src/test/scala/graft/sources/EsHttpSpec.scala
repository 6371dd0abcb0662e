package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Live-ES integration smoke: [[EsHttp]]'s count + `search_after` loop
  * driven end-to-end against an embedded JDK HTTP server that speaks
  * the two calls the reference makes (`_count`, `_search`). Pinned:
  * the request contract (query body forwarded to `_count`, sort spec
  * and page size on `_search`, the cursor taken from the LAST HIT'S
  * `_source` fields exactly as `ElasticSearch ETL.py:263-267` does),
  * page-file layout compatibility with the offline readers, the
  * empty-page break (quirk Q7's live twin), and the loud failure on a
  * missing cursor field.
  */
class EsHttpSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val mapper = new ObjectMapper

  /** In-memory "index": docs sorted by (ts, id); serves _count and
    * search_after-paginated _search like a real cluster, recording every
    * request body for contract assertions.
    */
  private class StubEs(docs: Seq[(String, Long)]) {
    val countBodies = collection.mutable.ArrayBuffer.empty[String]
    val searchBodies = collection.mutable.ArrayBuffer.empty[String]

    private def sourceJson(d: (String, Long)): String =
      s"""{"auditProcessedDateTimeUtc":"${d._1}","claimRequestId":${d._2},"payload":"p${d._2}"}"""

    private def respond(x: HttpExchange, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      x.sendResponseHeaders(200, b.length)
      x.getResponseBody.write(b)
      x.close()
    }

    val server: HttpServer = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/claims/_count", (x: HttpExchange) => {
      countBodies += new String(x.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      respond(x, s"""{"count":${docs.size}}""")
    })
    server.createContext("/claims/_search", (x: HttpExchange) => {
      val body = new String(x.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      searchBodies += body
      val req = mapper.readTree(body)
      val size = req.path("size").asInt()
      val after = req.path("search_after")
      val remaining =
        if (after.isMissingNode) docs
        else {
          val ts = after.get(0).asText(); val id = after.get(1).asLong()
          docs.dropWhile(d => (d._1 < ts) || (d._1 == ts && d._2 <= id))
        }
      val page = remaining.take(size)
      val hits = page.map(d =>
        s"""{"_index":"claims","_id":"${d._2}","sort":["${d._1}",${d._2}],"_source":${sourceJson(d)}}""")
        .mkString(",")
      respond(x,
        s"""{"took":1,"timed_out":false,"hits":{"total":{"value":${docs.size},"relation":"eq"},"max_score":null,"hits":[$hits]}}""")
    })
    server.start()
    def baseUrl: String =
      s"http://localhost:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  private val docs = (1 to 25).map(i =>
    (f"2025-06-01T11:30:${i % 60}%02d.0000000Z", 3590000L + i))
    .sortBy(d => (d._1, d._2))

  test("search_after loop: pages, cursor from _source, layout readable offline") {
    val es = new StubEs(docs)
    try {
      val dir = Files.createTempDirectory("eshttp").toString
      val cfg = EsHttp.Config(es.baseUrl, "claims",
        queryJson = """{"term":{"status":"ACTIVE"}}""", pageSize = 10)
      val res = EsHttp.export(cfg, dir)
      assert(res === EsHttp.ExportResult(pages = 3, documents = 25,
        totalCount = 25))

      // _count got the SAME query body the search pages use (ETL.py:215)
      assert(es.countBodies.size === 1)
      assert(mapper.readTree(es.countBodies.head).path("query")
        .path("term").path("status").asText() === "ACTIVE")

      // every _search carries query+size+sort; page 2+ carry the cursor
      assert(es.searchBodies.size === 3)
      val first = mapper.readTree(es.searchBodies.head)
      assert(first.path("size").asInt() === 10)
      assert(first.path("sort").get(0)
        .path("auditProcessedDateTimeUtc").asText() === "asc")
      assert(first.path("search_after").isMissingNode)
      val second = mapper.readTree(es.searchBodies(1))
      val page1Last = docs(9) // cursor = last hit of page 1, from _source
      assert(second.path("search_after").get(0).asText() === page1Last._1)
      assert(second.path("search_after").get(1).asLong() === page1Last._2)

      // the raw pages ARE the offline layout: EsJson unwraps them to one
      // row per document, all 25 present exactly once
      val df = EsJson.read(spark, dir)
      assert(df.count() === 25)
      assert(df.select("claimRequestId").collect().map(_.getLong(0)).sorted
        === docs.map(_._2).toArray)
    } finally es.stop()
  }

  test("re-export into the same dir clears stale pages first") {
    val es = new StubEs(docs) // 25 docs → 3 pages at size 10
    try {
      val dir = Files.createTempDirectory("eshttp_stale").toString
      EsHttp.export(EsHttp.Config(es.baseUrl, "claims", pageSize = 10), dir)
      assert(new java.io.File(dir).listFiles().length === 3)
      es.stop()
      // narrower second run: 5 docs → 1 page; pages 2 and 3 must go
      val es2 = new StubEs(docs.take(5))
      try {
        val res = EsHttp.export(
          EsHttp.Config(es2.baseUrl, "claims", pageSize = 10), dir)
        assert(res.pages === 1)
        assert(new java.io.File(dir).listFiles()
          .map(_.getName).toSeq === Seq("page-00000.json"))
        assert(EsJson.read(spark, dir).count() === 5)
      } finally es2.stop()
    } finally { try es.stop() catch { case _: Throwable => () } }
  }

  test("empty page breaks the loop (live Q7) instead of spinning") {
    // stub claims 100 docs but only serves 5 — the count snapshot lies;
    // the empty second page must end the loop, not wedge it
    val short = docs.take(5)
    val es = new StubEs(short) {
      server.removeContext("/claims/_count")
      server.createContext("/claims/_count", (x: HttpExchange) => {
        val b = """{"count":100}""".getBytes(StandardCharsets.UTF_8)
        x.sendResponseHeaders(200, b.length)
        x.getResponseBody.write(b)
        x.close()
      })
    }
    try {
      val dir = Files.createTempDirectory("eshttp2").toString
      val res = EsHttp.export(EsHttp.Config(es.baseUrl, "claims",
        pageSize = 10), dir)
      assert(res.pages === 1)
      // documents reports what was ACTUALLY fetched, not the lying count
      assert(res.documents === 5L && res.totalCount === 100L)
    } finally es.stop()
  }

  test("missing cursor field fails loudly, not an infinite loop") {
    val es = new StubEs(docs.take(3))
    try {
      val dir = Files.createTempDirectory("eshttp3").toString
      val e = intercept[IllegalStateException] {
        EsHttp.export(EsHttp.Config(es.baseUrl, "claims", pageSize = 2,
          sortFields = Seq("auditProcessedDateTimeUtc", "noSuchField")), dir)
      }
      assert(e.getMessage.contains("noSuchField"))
    } finally es.stop()
  }

  test("read: the loop's schema equals inference + graft over its pages") {
    val es = new StubEs(docs)
    try {
      val dir = Files.createTempDirectory("eshttp_read").toString
      val cfg = EsHttp.Config(es.baseUrl, "claims", pageSize = 10)
      val df = EsHttp.read(spark, cfg, dir)
      assert(EsJson.readSchemaSidecar(spark, dir) ===
        Some(EsJson.inferParseSchema(spark, Seq(dir))))
      assert(df.count() === 25)
      assert(es.searchBodies.size === 3)
    } finally es.stop()
  }
}
