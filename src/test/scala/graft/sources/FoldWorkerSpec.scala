package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[EsHttp.read]] folds the parse schema on one worker thread beside its
  * `search_after` loop. Pinned: the sidecar it writes is byte-identical
  * to a sequential fold of the same pages in page order, a failure of the
  * loop surfaces as the loop's own exception, and no fold worker thread
  * is alive after the read returns or throws.
  */
class FoldWorkerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Serves `pages` (each a list of `_source` documents), one per
    * `_search`; the page at index `failAt` answers HTTP 500 instead.
    */
  private def withStub[T](pages: Seq[Seq[String]], failAt: Int = -1)(
      f: EsHttp.Config => T): T = {
    def respond(x: HttpExchange, status: Int, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      x.sendResponseHeaders(status, b.length)
      x.getResponseBody.write(b)
      x.close()
    }
    var served = 0
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/idx/_count", (x: HttpExchange) =>
      respond(x, 200, s"""{"count":${pages.map(_.size).sum}}"""))
    server.createContext("/idx/_search", (x: HttpExchange) => {
      x.getRequestBody.readAllBytes(): Unit
      val page = if (served < pages.size) pages(served) else Nil
      val status = if (served == failAt) 500 else 200
      served += 1
      respond(x, status, s"""{"took":1,"hits":{"total":{"value":${page.size}},"hits":[${
        page.map(d => s"""{"_index":"idx","_source":$d}""").mkString(",")}]}}""")
    })
    server.start()
    try f(EsHttp.Config(s"http://localhost:${server.getAddress.getPort}",
      "idx", pageSize = 100, sortFields = Seq("id")))
    finally server.stop(0)
  }

  private def foldWorkerAlive: Boolean =
    Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName == EsHttp.FoldWorker && t.isAlive)

  /** Ten pages, more than the hand-off holds, with shapes that widen,
    * collide and stay empty across pages.
    */
  private val pages: Seq[Seq[String]] = (0 until 10).map { p =>
    (0 until 3).map { i =>
      val id = p * 3 + i
      p % 4 match {
        case 0 => s"""{"id":$id,"v":$i,"e":{},"arr":[{"x":$i}]}"""
        case 1 => s"""{"id":$id,"v":${i + 0.5},"arr":[{"y":"s$i","z":{}}],"o":{"k":{}}}"""
        case 2 => s"""{"id":$id,"v":"t$i","arr":[],"o":{"k":{},"n":[]}}"""
        case _ => s"""{"id":$id,"e":{},"w":[1,{"q":{}}]}"""
      }
    }
  }

  test("the sidecar of a multi-page read is byte-identical to a sequential fold's") {
    // a last page that takes the worker a while: a sidecar written before
    // the worker finished would miss its keys
    val last = (0 until 400).map(i =>
      s"""{"id":${100 + i},"tail${i % 50}":{"x$i":$i,"e":{}}}""")
    withStub(pages :+ last) { cfg =>
      val dir = Files.createTempDirectory("fold_worker_").toString
      assert(EsHttp.read(spark, cfg, dir).count() === 430L)
      assert(!foldWorkerAlive)
      val mapper = new ObjectMapper
      val sequential = new EsJson.ParseSchemaFold(spark)
      Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("page-"))
        .toSeq.sortBy(_.getFileName.toString).foreach { p =>
          val bytes = Files.readAllBytes(p)
          sequential.add(bytes, mapper.readTree(bytes))
        }
      val seqDir = Files.createTempDirectory("fold_sequential_").toString
      EsJson.writeSidecar(spark, seqDir, sequential.result)
      assert(Files.readAllBytes(Paths.get(dir, EsJson.SchemaSidecar)).toSeq ===
        Files.readAllBytes(Paths.get(seqDir, EsJson.SchemaSidecar)).toSeq)
    }
  }

  test("HTTP 500 on page 3: the loop's own exception, no worker left") {
    withStub(pages, failAt = 2) { cfg =>
      val dir = Files.createTempDirectory("fold_http500_").toString
      val e = intercept[RuntimeException](EsHttp.read(spark, cfg, dir))
      assert(e.getClass === classOf[RuntimeException])
      assert(e.getMessage.startsWith("ES request to ") &&
        e.getMessage.contains("failed: HTTP 500"))
      assert(!foldWorkerAlive)
      assert(!Files.exists(Paths.get(dir, EsJson.SchemaSidecar)))
    }
  }

  test("last hit without the cursor field: the loop's own exception, no worker left") {
    val noCursor = Seq(pages(0), pages(1) :+ """{"v":9,"e":{}}""", pages(2))
    withStub(noCursor) { cfg =>
      val dir = Files.createTempDirectory("fold_nocursor_").toString
      val e = intercept[IllegalStateException](EsHttp.read(spark, cfg, dir))
      assert(e.getMessage.startsWith("cursor field 'id' missing/null"))
      assert(!foldWorkerAlive)
    }
  }
}
