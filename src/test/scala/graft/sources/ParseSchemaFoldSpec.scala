package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.JobsStarted

/** The parse schema [[EsHttp.read]] folds together inside its
  * `search_after` loop ([[EsJson.ParseSchemaFold]]) equals what
  * [[ParseSchemaOracle]] — Spark's inference over the page directory plus
  * the EmptyShapes graft — derives from the same pages, and the read
  * starts no Spark job before its frame is used.
  */
class ParseSchemaFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The sidecar a fresh read persisted, and the oracle over its pages. */
  private def foldAndOracle(pages: Seq[Seq[String]]): (StructType, StructType) =
    EsPages.withStub(pages) { cfg =>
      val dir = Files.createTempDirectory("fold_pages_").toString
      EsHttp.read(spark, cfg, dir): Unit
      (EsJson.readSidecar(spark, dir).get.schema,
        ParseSchemaOracle(spark, Seq(dir)))
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
    val gen = new EsPages.Generator(7)
    for (_ <- 1 to 4) assertFoldEqualsOracle(gen.pageSet(minPages = 1))
  }

  test("EsHttp.read starts no Spark job before the frame is used") {
    EsPages.withStub(Seq(
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
