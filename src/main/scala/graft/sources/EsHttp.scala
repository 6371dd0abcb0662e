package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The reference's LIVE fetch loop, faithfully: a client-held
  * `search_after` pagination against the Elasticsearch REST API
  * (`ElasticSearch ETL.py:214-267`), exporting each raw search response
  * as one page file in the layout every offline path here already reads
  * ([[EsJson.read]], the `es-export` DataSourceV2 batch + streaming
  * source). This closes the gap between "live-ES modeled offline" and
  * an integration-tested contract: the loop runs against any HTTP
  * endpoint speaking the two calls the reference makes, which is what
  * `EsHttpSpec` pins with an embedded JDK HTTP stub.
  *
  * Reference semantics preserved exactly:
  *  - `_count` FIRST with the same query; the loop is bounded by that
  *    snapshot count (`records_fetched < total_docs`) — late-arriving
  *    documents are not chased (`ETL.py:215-220`).
  *  - the cursor is `[last._source.<sortField1>, last._source.<sortField2>]`
  *    — taken from the document body, NOT the hit's `sort` array
  *    (`ETL.py:263-267`); a document missing the sort field fails the
  *    export loudly rather than looping forever on a stuck cursor.
  *  - an empty page breaks the loop even if the count says more
  *    (`ETL.py:230-231`) — the live twin of quirk Q7.
  *
  * Scale note: the page LOOP is inherently sequential (each request
  * depends on the previous cursor — the reference's own shape; this is
  * an export tool, not a distributed scan). The distributed story
  * starts one directory later: the exported pages are read by the
  * DSv2 connector with pushdown/pruning across the cluster, and at
  * real scale a live index is scanned shard-parallel via the
  * elasticsearch-hadoop connector ([[EsLive]]) instead.
  */
object EsHttp {

  /** @param baseUrl   e.g. `http://localhost:9200`
    * @param index     index (pattern) — the reference's `INDEX_PATTERN`
    * @param queryJson the query-DSL body value of `"query"` — the
    *                  reference's `BASE_QUERY["query"]`
    * @param pageSize  the reference's `"size"`
    * @param sortFields the `search_after` sort key, in order; the
    *                  reference's `[auditProcessedDateTimeUtc,
    *                  claimRequestId]`
    */
  final case class Config(
      baseUrl: String,
      index: String,
      queryJson: String = """{"match_all":{}}""",
      pageSize: Int = 1000,
      sortFields: Seq[String] = Seq("auditProcessedDateTimeUtc",
        "claimRequestId"))

  private val mapper = new ObjectMapper

  final case class ExportResult(pages: Int, documents: Long,
      totalCount: Long)

  /** The response body's raw bytes: the loop writes and parses the same
    * bytes, never a decoded copy.
    */
  private def post(client: HttpClient, url: String,
      body: String): Array[Byte] = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(
        s"ES request to $url failed: HTTP ${resp.statusCode()} " +
          new String(resp.body(), StandardCharsets.UTF_8).take(200))
    resp.body()
  }

  private def searchBody(cfg: Config, searchAfter: Option[Seq[JsonNode]])
      : String = {
    val root = mapper.createObjectNode()
    root.set[JsonNode]("query", mapper.readTree(cfg.queryJson))
    root.put("size", cfg.pageSize)
    val sort = root.putArray("sort")
    cfg.sortFields.foreach { f =>
      val o = mapper.createObjectNode(); o.put(f, "asc")
      sort.add(o)
    }
    searchAfter.foreach { sa =>
      val arr = root.putArray("search_after")
      sa.foreach(arr.add)
    }
    mapper.writeValueAsString(root)
  }

  /** Runs the reference's count + `search_after` loop, writing each RAW
    * response body to `pageDir/page-NNNNN.json`. Returns page/document
    * counts. The page files are byte-for-byte what the endpoint served —
    * parsing fidelity stays downstream where it is already tested.
    */
  def export(cfg: Config, pageDir: String): ExportResult =
    fetch(cfg, pageDir, (_, _) => ())

  /** [[export]], handing each written page's bytes and parsed tree to
    * `onPage` as it arrives.
    */
  private def fetch(cfg: Config, pageDir: String,
      onPage: (Array[Byte], JsonNode) => Unit): ExportResult = {
    Files.createDirectories(Paths.get(pageDir))
    // a narrower re-run writes fewer pages than its predecessor; stale
    // page files would silently rejoin the read — clear OUR page
    // pattern up front so the directory always reflects THIS export
    val old = Files.list(Paths.get(pageDir))
    try {
      import scala.jdk.CollectionConverters._
      old.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          // a stale schema sidecar describes the PREVIOUS vintage —
          // it must die with the stale pages
          n.matches("page-\\d+\\.json") || n == EsJson.SchemaSidecar
        }
        .foreach(Files.delete(_))
    } finally old.close()
    val client = HttpClient.newHttpClient()
    val countBody =
      s"""{"query":${cfg.queryJson}}"""
    val total = mapper
      .readTree(post(client, s"${cfg.baseUrl}/${cfg.index}/_count", countBody))
      .path("count").asLong()

    var fetched = 0L
    var page = 0
    var done = false
    var cursor: Option[Seq[JsonNode]] = None
    while (!done && fetched < total) {
      val body = post(client, s"${cfg.baseUrl}/${cfg.index}/_search",
        searchBody(cfg, cursor))
      val tree = mapper.readTree(body)
      val hits = tree.path("hits").path("hits")
      if (!hits.isArray || hits.size() == 0) {
        // reference `if not hits: break` — under-count beats a spin
        done = true
      } else {
        Files.write(Paths.get(pageDir, f"page-$page%05d.json"), body)
        onPage(body, tree)
        page += 1
        fetched += hits.size()
        val lastSource = hits.get(hits.size() - 1).path("_source")
        cursor = Some(cfg.sortFields.map { f =>
          val v = lastSource.path(f)
          if (v.isMissingNode || v.isNull)
            throw new IllegalStateException(
              s"cursor field '$f' missing/null in last hit's _source — " +
                "the search_after loop would wedge (reference ETL.py:263-267)")
          v
        })
      }
    }
    ExportResult(page, fetched, total)
  }

  /** Live fetch → DataFrame of `_source` documents: export to a page
    * directory, then read through the standard offline envelope path
    * ([[EsJson.read]] — same unwrap contract as every other input).
    *
    * A fresh export is a new VINTAGE. Its grafted parse schema is folded
    * together on the driver as the loop receives each page
    * ([[EsJson.ParseSchemaFold]]) and persisted as the sidecar, so this
    * read and every later read of the vintage take the sidecar path: no
    * Spark job runs before the parse. The export deleted any stale
    * sidecar, and the schema describes exactly the pages it wrote; an
    * export of zero documents gets the empty schema and reads as an
    * empty frame.
    */
  def read(spark: org.apache.spark.sql.SparkSession, cfg: Config,
      pageDir: String): org.apache.spark.sql.DataFrame = {
    val schema = new EsJson.ParseSchemaFold(spark)
    fetch(cfg, pageDir, schema.add): Unit
    EsJson.writeSchemaSidecar(spark, pageDir, schema.result)
    EsJson.read(spark, pageDir)
  }
}
