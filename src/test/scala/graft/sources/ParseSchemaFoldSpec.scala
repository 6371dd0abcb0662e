package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.JobsStarted

/** The parse schema [[EsHttp.read]] folds together inside its
  * `search_after` loop ([[EsJson.ParseSchemaFold]]) equals what
  * [[EsJson.inferParseSchema]] — Spark's inference over the page
  * directory plus the EmptyShapes graft — derives from the same pages,
  * and the read starts no Spark job before its frame is used.
  */
class ParseSchemaFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Serves `pages` (each a list of `_source` JSON documents carrying an
    * `id`) in order, one per `_search`, then an empty page.
    */
  private def withStub[T](pages: Seq[Seq[String]])(f: EsHttp.Config => T): T = {
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
      respond(x, s"""{"took":1,"hits":{"total":{"value":${page.size}},"hits":[${
        page.map(d => s"""{"_index":"idx","_source":$d}""").mkString(",")}]}}""")
    })
    server.start()
    try f(EsHttp.Config(s"http://localhost:${server.getAddress.getPort}",
      "idx", pageSize = 100, sortFields = Seq("id")))
    finally server.stop(0)
  }

  /** The sidecar a fresh read persisted, and the oracle over its pages. */
  private def foldAndOracle(pages: Seq[Seq[String]]): (StructType, StructType) =
    withStub(pages) { cfg =>
      val dir = Files.createTempDirectory("fold_pages_").toString
      EsHttp.read(spark, cfg, dir): Unit
      (EsJson.readSchemaSidecar(spark, dir).get,
        EsJson.inferParseSchema(spark, Seq(dir)))
    }

  private def assertFoldEqualsOracle(pages: Seq[Seq[String]]): StructType = {
    val (folded, oracle) = foldAndOracle(pages)
    assert(folded === oracle)
    folded
  }

  private def sourceType(schema: StructType, field: String) = {
    val hits = schema("hits").dataType.asInstanceOf[StructType]
    val src = hits("hits").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[StructType]("_source").dataType.asInstanceOf[StructType]
    src(field).dataType
  }

  test("type widening across pages: long with double, number with string") {
    import org.apache.spark.sql.types.{DoubleType, StringType}
    val s = assertFoldEqualsOracle(Seq(
      Seq("""{"id":1,"v":1,"w":5}""", """{"id":2,"v":2,"w":6}"""),
      Seq("""{"id":3,"v":1.5,"w":"five"}""")))
    assert(sourceType(s, "v") === DoubleType)
    assert(sourceType(s, "w") === StringType)
  }

  test("a key null in every document") {
    val s = assertFoldEqualsOracle(Seq(
      Seq("""{"id":1,"n":null}"""), Seq("""{"id":2,"n":null}""")))
    assert(sourceType(s, "n") === org.apache.spark.sql.types.StringType)
  }

  test("an always-empty object and an always-empty array") {
    val s = assertFoldEqualsOracle(Seq(
      Seq("""{"id":1,"e":{},"a":[]}"""), Seq("""{"id":2,"e":{},"a":[]}""")))
    assert(sourceType(s, "e") === StructType(Nil))
  }

  test("an array of structs whose keys differ across pages") {
    assertFoldEqualsOracle(Seq(
      Seq("""{"id":1,"arr":[{"x":1},{"x":2,"z":{}}]}"""),
      Seq("""{"id":2,"arr":[{"y":"s"}]}""", """{"id":3,"arr":[]}""")))
  }

  test("a string value containing ': {}' (the prefilter's false positive)") {
    assertFoldEqualsOracle(Seq(
      Seq("""{"id":1,"snippet":"a: {}","f":"function f() {}"}"""),
      Seq("""{"id":2,"snippet":"[ { } ]"}""")))
  }

  test("generated page sets: fold == inference + graft") {
    val rnd = new scala.util.Random(7)
    def value(depth: Int): String = rnd.nextInt(if (depth > 2) 5 else 8) match {
      case 0 => rnd.nextInt(1000).toString
      case 1 => f"${rnd.nextDouble() * 100}%.3f"
      case 2 => s""""s${rnd.nextInt(9)}""""
      case 3 => "null"
      case 4 => if (rnd.nextBoolean()) "{}" else "[]"
      case 5 => if (rnd.nextBoolean()) "true" else "false"
      case 6 => obj(depth + 1)
      case _ => Seq.fill(rnd.nextInt(3))(obj(depth + 1)).mkString("[", ",", "]")
    }
    def fields(depth: Int): Seq[String] =
      rnd.shuffle(Seq("k0", "k1", "k2", "k3", "k4")).take(rnd.nextInt(4))
        .map(k => s""""$k":${value(depth)}""")
    def obj(depth: Int): String = fields(depth).mkString("{", ",", "}")
    var id = 0
    for (_ <- 1 to 4) {
      assertFoldEqualsOracle(Seq.fill(1 + rnd.nextInt(3))(
        Seq.fill(1 + rnd.nextInt(3)) {
          id += 1
          (s""""id":$id""" +: fields(0)).mkString("{", ",", "}")
        }))
    }
  }

  test("EsHttp.read starts no Spark job before the frame is used") {
    withStub(Seq(
      Seq("""{"id":1,"v":1,"e":{}}""", """{"id":2,"v":2.5}"""),
      Seq("""{"id":3,"t":"x"}"""))) { cfg =>
      val dir = Files.createTempDirectory("fold_jobs_").toString
      val (docs, jobs) = JobsStarted(spark)(EsHttp.read(spark, cfg, dir))
      assert(jobs === 0)
      assert(docs.count() === 3L)
      assert(docs.columns.toSet === Set("id", "v", "e", "t"))
    }
  }
}
