package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** ES response pages for the schema-fold specs: the response body of a
  * page of `_source` documents, a stub endpoint serving pages to
  * [[EsHttp]], the pages written as an export lays them out, and a
  * generator of page sets.
  */
object EsPages {

  /** The search response carrying `docs` as its hits' `_source`s. */
  def response(docs: Seq[String]): String =
    s"""{"took":1,"hits":{"total":{"value":${docs.size}},"hits":[${
      docs.map(d => s"""{"_index":"idx","_source":$d}""").mkString(",")}]}}"""

  /** Serves `pages` (each a list of `_source` JSON documents carrying an
    * `id`) in order, one per `_search`, then an empty page.
    */
  def withStub[T](pages: Seq[Seq[String]])(f: EsHttp.Config => T): T = {
    def respond(x: HttpExchange, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      x.sendResponseHeaders(200, b.length)
      x.getResponseBody.write(b)
      x.close()
    }
    var served = 0
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/idx/_count",
      (x: HttpExchange) => respond(x, s"""{"count":${pages.map(_.size).sum}}"""))
    server.createContext("/idx/_search", (x: HttpExchange) => {
      x.getRequestBody.readAllBytes(): Unit
      val page = if (served < pages.size) pages(served) else Nil
      served += 1
      respond(x, response(page))
    })
    server.start()
    try f(EsHttp.Config(s"http://localhost:${server.getAddress.getPort}",
      "idx", pageSize = 100, sortFields = Seq("id")))
    finally server.stop(0)
  }

  /** A new directory holding `pages` as `page-NNNNN.json` files. */
  def write(pages: Seq[Seq[String]]): String = {
    val dir = Files.createTempDirectory("es_pages_")
    pages.zipWithIndex.foreach { case (p, i) =>
      Files.writeString(dir.resolve(f"page-$i%05d.json"), response(p))
    }
    dir.toString
  }

  /** Runs `body` with every file read in a partition of its own. */
  def filePerPartition[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "1")
    try body finally spark.conf.unset(key)
  }

  /** Page sets of generated documents: ids counted up across sets, up to
    * five keys per object, numbers, strings, booleans, nulls, empty
    * objects and arrays, nested objects and arrays of objects.
    */
  final class Generator(seed: Int) {
    private val rnd = new scala.util.Random(seed)
    private var id = 0

    private def value(depth: Int): String =
      rnd.nextInt(if (depth > 2) 5 else 8) match {
        case 0 => rnd.nextInt(1000).toString
        case 1 => f"${rnd.nextDouble() * 100}%.3f"
        case 2 => s""""s${rnd.nextInt(9)}""""
        case 3 => "null"
        case 4 => if (rnd.nextBoolean()) "{}" else "[]"
        case 5 => if (rnd.nextBoolean()) "true" else "false"
        case 6 => obj(depth + 1)
        case _ => Seq.fill(rnd.nextInt(3))(obj(depth + 1)).mkString("[", ",", "]")
      }

    private def fields(depth: Int): Seq[String] =
      rnd.shuffle(Seq("k0", "k1", "k2", "k3", "k4")).take(rnd.nextInt(4))
        .map(k => s""""$k":${value(depth)}""")

    private def obj(depth: Int): String = fields(depth).mkString("{", ",", "}")

    /** `minPages` to `minPages + 2` pages of one to three documents. */
    def pageSet(minPages: Int): Seq[Seq[String]] =
      Seq.fill(minPages + rnd.nextInt(3))(
        Seq.fill(1 + rnd.nextInt(3)) {
          id += 1
          (s""""id":$id""" +: fields(0)).mkString("{", ",", "}")
        })
  }
}
