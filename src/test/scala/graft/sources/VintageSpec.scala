package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.flatten.{Flattener, StatsPass}

/** A vintage flattens with the batch stats its export folded
  * ([[EsJson.ParseSchemaFold]], [[Flattener.flattenToTsv]] of a
  * [[Flattener.Vintage]]). Pinned: the folded stats equal
  * [[StatsPass.collect]] over the rows [[EsJson.read]] parses from the same
  * pages, and the vintage's TSV is byte-identical to the one the
  * document-frame path writes, on generated page sets and on the shapes
  * where "present in the JSON tree" and "non-null in the parsed row" could
  * part.
  */
class VintageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val mapper = new ObjectMapper

  private def page(hits: Seq[String]): String =
    s"""{"took":1,"hits":{"total":{"value":${hits.size}},"hits":[${hits.mkString(",")}]}}"""

  private def hit(source: String): String =
    s"""{"_index":"idx","_id":"x","_source":$source}"""

  /** The pages written as an export lays them out, and the sidecar a
    * sequential fold of them in page order gives.
    */
  private def export(pages: Seq[String]): (String, EsJson.Sidecar) = {
    val dir = Files.createTempDirectory("vintage_")
    val fold = new EsJson.ParseSchemaFold(spark)
    pages.zipWithIndex.foreach { case (p, i) =>
      val bytes = p.getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(f"page-$i%05d.json"), bytes)
      fold.add(bytes, mapper.readTree(bytes))
    }
    val side = fold.result
    EsJson.writeSidecar(spark, dir.toString, side)
    (dir.toString, side)
  }

  /** The TSV part files under `dir`, in part order. */
  private def parts(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.startsWith("part-")).sorted
      .map(n => new String(Files.readAllBytes(Paths.get(dir, n)),
        StandardCharsets.UTF_8))

  /** Folded stats == the oracle, and both flatten paths write the same
    * bytes; returns the folded stats.
    */
  private def assertVintage(pages: Seq[String],
      maxDepth: Int = Flattener.DefaultMaxDepth): StatsPass.Batch = {
    val (dir, side) = export(pages)
    val docs = EsJson.read(spark, dir)
    val folded = side.stats.getOrElse(fail("the fold carried no stats"))
    assert(folded === StatsPass.collect(docs), pages.mkString("\n"))
    assert(EsJson.readSidecar(spark, dir) === Some(side))
    val v = EsJson.vintage(spark, dir, side).getOrElse(fail("no vintage"))
    val out = Files.createTempDirectory("vintage_tsv_")
    val viaVintage = Flattener.flattenToTsv(v, s"$out/vintage", maxDepth)
    val viaFrame = Flattener.flattenToTsv(docs, s"$out/frame", maxDepth)
    assert(viaVintage === viaFrame)
    assert(parts(s"$out/vintage") === parts(s"$out/frame"))
    folded
  }

  test("generated page sets: folded stats == StatsPass, same TSV") {
    val rnd = new scala.util.Random(17)
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
      assertVintage(Seq.fill(1 + rnd.nextInt(3))(
        page(Seq.fill(1 + rnd.nextInt(4))(hit(obj(0))))))
  }

  test("explicit nulls and [null]") {
    val b = assertVintage(Seq(page(Seq(
      hit("""{"n":null,"arr":[null],"o":{"x":null},"s":[null,1]}"""),
      hit("""{"n":null,"arr":[null,{"y":1}],"o":null}""")))))
    assert(!b.present("n"))
    assert(b.present("arr") && !b.present("arr.0") && b.present("arr.1"))
    assert(b.arrays("arr") === StatsPass.Stats(2, hasEmpty = false))
  }

  test("{} and []") {
    val b = assertVintage(Seq(
      page(Seq(hit("""{"e":{},"a":[],"arr":[{"x":1}],"n":{"m":{}}}"""))),
      page(Seq(hit("""{"e":{},"a":[],"arr":[],"n":{"m":{},"l":[]}}""")))))
    assert(b.present("e") && b.present("n.m"))
    assert(b.arrays("arr") === StatsPass.Stats(1, hasEmpty = true))
  }

  test("number/number and number/string widening") {
    assertVintage(Seq(
      page(Seq(hit("""{"v":1,"w":5,"o":{"k":2}}"""))),
      page(Seq(hit("""{"v":1.5,"w":"five","o":{"k":"two"}}""")))))
  }

  test("arrays that mix objects and scalars") {
    val b = assertVintage(Seq(page(Seq(
      hit("""{"m":[{"x":1},2,{"y":3}],"k":[{"z":{}}]}"""),
      hit("""{"m":["s",{"x":4}],"k":[1]}""")))))
    // a widened array is a cell: no index paths inside it
    assert(!b.present("m.0") && !b.arrays.contains("m"))
  }

  test("sibling keys that differ only in case") {
    // case-insensitive analysis (the default) refuses to read such pages
    // on either path: COLUMN_ALREADY_EXISTS
    val prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val b = assertVintage(Seq(page(Seq(
        hit("""{"inner":{"aB":1,"ab":2,"AB":{"x":3}}}"""),
        hit("""{"inner":{"ab":5}}""")))))
      assert(b.present("inner.AB.x") && b.present("inner.aB"))
    } finally spark.conf.set("spark.sql.caseSensitive", prev)
  }

  test("a hit without _source, and a null hit") {
    val b = assertVintage(Seq(
      page(Seq(hit("""{"id":1,"v":{"x":1}}"""), """{"_id":"no-source"}""",
        "null", hit("null"))),
      page(Seq(hit("""{"id":2}""")))))
    assert(b.rows === 5L)
  }

  test("zero documents") {
    val b = assertVintage(Nil)
    assert(b === StatsPass.Batch(0L, Map.empty, Set.empty))
  }

  test("maxDepth 2") {
    assertVintage(Seq(page(Seq(
      hit("""{"a":{"b":{"c":{"d":1},"e":[{"f":{"g":2}}]}},"h":[{"i":{"j":{"k":3}}}]}"""),
      hit("""{"a":{"b":{"c":{"d":2}}},"h":[]}""")))), maxDepth = 2)
  }

  test("a sidecar with the schema alone reads as no stats") {
    val (dir, side) = export(Seq(page(Seq(hit("""{"id":1}""")))))
    EsJson.writeSidecar(spark, dir, EsJson.Sidecar(side.schema, None))
    val back = EsJson.readSidecar(spark, dir)
    assert(back === Some(EsJson.Sidecar(side.schema, None)))
    assert(EsJson.vintage(spark, dir, back.get).isEmpty)
  }
}
