package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for the Elasticsearch REST endpoint the ETL job
  * pulls from: `_count`, and `_search` paged by `search_after` on
  * ([[Claims.SortFields]]). It serves on ONE thread, like a single
  * coordinating node, and every page body is rendered up front, so the
  * server's own cost inside an op is a map lookup and a socket write.
  *
  * The server side records what the `EsHttp.*` per-layer metrics report:
  * requests, response bytes, and the fetch window (first request in to
  * last response out).
  */
/** What the stub served during one op; `seconds` is the fetch window. */
final case class Fetch(requests: Long, bytes: Long, seconds: Double)

final class EsStub(corpus: Claims.Corpus, val index: String, pageSize: Int) {

  private val mapper = new ObjectMapper
  private def key(ts: String, id: String) = s"$ts\u0000$id"

  private def render(hits: Seq[Claims.Doc]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(hits.map(_.json.length + 200).sum + 256)
    sb.append("{\"took\":3,\"timed_out\":false,\"_shards\":{\"total\":18,")
      .append("\"successful\":18,\"skipped\":0,\"failed\":0},\"hits\":{")
      .append("\"total\":{\"value\":").append(corpus.docs.size)
      .append(",\"relation\":\"eq\"},\"max_score\":null,\"hits\":[")
    hits.zipWithIndex.foreach { case (d, i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"_index\":\"").append(index).append("-2025.06\",\"_id\":")
      Claims.quote(d.id, sb)
      sb.append(",\"_score\":null,\"_source\":").append(d.json)
        .append(",\"sort\":[")
      Claims.quote(d.ts, sb); sb.append(','); Claims.quote(d.id, sb)
      sb.append("]}")
    }
    sb.append("]}}").toString.getBytes(UTF_8)
  }

  /** cursor -> response body; the first page's cursor is "". */
  private val pages: Map[String, Array[Byte]] = {
    val groups = corpus.docs.grouped(pageSize).toVector
    val cursors = "" +: groups.map(g => key(g.last.ts, g.last.id))
    cursors.zip(groups.map(render) :+ render(Nil)).toMap
  }

  private var requests = 0L
  private var bytes = 0L
  private var firstIn = 0L
  private var lastOut = 0L

  /** Server-side counters since the last [[reset]]. */
  def snapshot(): Fetch = synchronized {
    Fetch(requests, bytes, if (requests == 0) 0.0 else (lastOut - firstIn) / 1e9)
  }
  def reset(): Unit = synchronized { requests = 0; bytes = 0 }

  private def respond(x: HttpExchange, t0: Long, status: Int,
      body: Array[Byte]): Unit = {
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(status, body.length.toLong)
    val out = x.getResponseBody
    out.write(body)
    out.close()
    val t1 = System.nanoTime()
    synchronized {
      if (requests == 0) firstIn = t0
      requests += 1
      bytes += body.length
      lastOut = t1
    }
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "es-stub"); t.setDaemon(true); t
  }
  server.setExecutor(pool)
  server.createContext(s"/$index/_count", (x: HttpExchange) => {
    val t0 = System.nanoTime()
    x.getRequestBody.readAllBytes(): Unit
    respond(x, t0, 200, s"""{"count":${corpus.docs.size}}""".getBytes(UTF_8))
  })
  server.createContext(s"/$index/_search", (x: HttpExchange) => {
    val t0 = System.nanoTime()
    val req = mapper.readTree(x.getRequestBody)
    val sort = req.path("sort")
    val sortOk = sort.size() == Claims.SortFields.size &&
      Claims.SortFields.indices.forall(i => sort.get(i).has(Claims.SortFields(i)))
    val after = req.path("search_after")
    val cursor =
      if (after.isMissingNode) ""
      else key(after.get(0).asText(), after.get(1).asText())
    pages.get(cursor) match {
      case Some(body) if sortOk && req.path("size").asInt() == pageSize =>
        respond(x, t0, 200, body)
      case _ => respond(x, t0, 400,
        """{"error":"unknown page size, sort or cursor"}""".getBytes(UTF_8))
    }
  })
  server.start()

  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS): Unit
  }
}
