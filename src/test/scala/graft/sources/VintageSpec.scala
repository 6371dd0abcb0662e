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
  * [[Flattener.Vintage]]), rendering its documents from the page bytes.
  * Pinned: the folded stats equal [[StatsPass.collect]] over the rows
  * [[EsJson.read]] parses from the same pages, and the vintage's TSV is
  * byte-identical to the one the document-frame path writes, on generated
  * page sets, on the shapes where "present in the JSON tree" and
  * "non-null in the parsed row" could part, and on the tokens whose
  * conversion under a widened type Spark's JSON reader decides.
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
    * sequential fold of them in page order gives, or, with `foldFiles`
    * (pages the driver fold cannot take: ones that do not parse), the
    * one the Spark job folding the files gives.
    */
  private def export(pages: Seq[String],
      foldFiles: Boolean = false): (String, EsJson.Sidecar) = {
    val dir = Files.createTempDirectory("vintage_")
    val bytes = pages.map(_.getBytes(StandardCharsets.UTF_8))
    bytes.zipWithIndex.foreach { case (b, i) =>
      Files.write(dir.resolve(f"page-$i%05d.json"), b)
    }
    val side =
      if (foldFiles) EsJson.sidecar(spark, dir.toString)
      else {
        val fold = new EsJson.ParseSchemaFold(spark)
        bytes.foreach(b => fold.add(b, mapper.readTree(b)))
        fold.result
      }
    EsJson.writeSidecar(spark, dir.toString, side)
    (dir.toString, side)
  }

  /** The TSV part files under `dir`, in part order. */
  private def parts(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.startsWith("part-")).sorted
      .map(n => new String(Files.readAllBytes(Paths.get(dir, n)),
        StandardCharsets.UTF_8))

  /** Runs `body` with `spark.sql.caseSensitive` set to `on`. */
  private def caseSensitive[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.caseSensitive"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Folded stats == the oracle, and both flatten paths write the same
    * bytes, the frame path under `frameCaseSensitive`; returns the folded
    * stats and the vintage's TSV parts.
    */
  private def vintageTsv(pages: Seq[String],
      maxDepth: Int = Flattener.DefaultMaxDepth,
      frameCaseSensitive: Boolean = false,
      foldFiles: Boolean = false): (StatsPass.Batch, Seq[String]) = {
    val (dir, side) = export(pages, foldFiles)
    val folded = side.stats.getOrElse(fail("the fold carried no stats"))
    assert(EsJson.readSidecar(spark, dir) === Some(side))
    val v = EsJson.vintage(spark, dir, side).getOrElse(fail("no vintage"))
    val out = Files.createTempDirectory("vintage_tsv_")
    val viaVintage = Flattener.flattenToTsv(v, s"$out/vintage", maxDepth)
    caseSensitive(frameCaseSensitive) {
      val docs = EsJson.read(spark, dir)
      assert(folded === StatsPass.collect(docs), pages.mkString("\n"))
      val viaFrame = Flattener.flattenToTsv(docs, s"$out/frame", maxDepth)
      assert(viaVintage === viaFrame)
    }
    assert(parts(s"$out/vintage") === parts(s"$out/frame"),
      pages.mkString("\n"))
    (folded, parts(s"$out/vintage"))
  }

  private def assertVintage(pages: Seq[String],
      maxDepth: Int = Flattener.DefaultMaxDepth): StatsPass.Batch =
    vintageTsv(pages, maxDepth)._1

  /** The data lines of `parts`, headers dropped. */
  private def rows(parts: Seq[String]): Seq[String] =
    parts.flatMap(_.split("\n").toSeq.drop(1))

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
    // the vintage renders under the default case-insensitive session: its
    // schema is never analyzed. The frame path's analysis refuses such a
    // schema there (COLUMN_ALREADY_EXISTS), so it runs case-sensitive.
    val (b, tsv) = vintageTsv(Seq(page(Seq(
      hit("""{"aB":1,"ab":2,"AB":{"x":3}}"""),
      hit("""{"inner":{"aB":1,"ab":2,"AB":{"x":3}}}"""),
      hit("""{"ab":4,"inner":{"ab":5}}""")))), frameCaseSensitive = true)
    assert(b.present("AB.x") && b.present("inner.AB.x") && b.present("inner.aB"))
    assert(rows(tsv).size === 3)
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

  // ---- tokens whose conversion Spark's JSON reader decides

  test("numbers under a widened string type") {
    val (_, tsv) = vintageTsv(Seq(page(Seq(
      hit("""{"v":1.50,"w":1e2,"z":-0,"i":7}"""),
      hit("""{"v":"x","w":"y","z":"s","i":-0}""")))))
    // columns I V W Z: a number under a string type keeps its source text
    assert(rows(tsv).head.split("\t").toSeq === Seq("7", "1.50", "1e2", "-0"))
  }

  test("doubles, and integers under a double type") {
    assertVintage(Seq(page(Seq(
      hit("""{"d":1e300,"n":-0.0,"t":0.1,"e":1E2,"m":3}"""),
      hit("""{"d":-1.5e-7,"n":0,"t":12345678901234567.0,"e":-0,"m":2.5}""")))))
  }

  test("integers beyond Long") {
    assertVintage(Seq(page(Seq(
      hit("""{"big":123456789012345678901234,"mix":5,"arr":[1,99999999999999999999]}"""),
      hit("""{"big":-1,"mix":99999999999999999999,"huge":1234567890123456789012345678901234567890}""")))))
  }

  test("objects and arrays under a string type") {
    assertVintage(Seq(page(Seq(
      hit("""{"s":{"a":1,"b":[1,2.50,"x",null,{}],"c":{"d":true}}}"""),
      hit("""{"s":[1, {"x" : "y"}, [true, null]]}"""),
      hit("""{"s":"plain","a":[{"k":1},"e",[2]]}""")))))
  }

  test("booleans under a string type") {
    assertVintage(Seq(page(Seq(
      hit("""{"b":true,"c":[true,false],"d":false}"""),
      hit("""{"b":"no","c":["x"],"d":true}""")))))
  }

  test("unicode escapes and surrogate pairs") {
    // JSON escapes, spelled in plain literals: é, a surrogate pair, A, and
    // two control characters
    val esc = "\\u00e9 \\ud83d\\ude00 \\u0041 \\u0000\\u001f"
    val key = "k\\u00e9"
    assertVintage(Seq(page(Seq(
      hit(s"""{"u":"$esc","r":"café 😀","a":["$esc"],"o":{"$key":"$esc"}}"""),
      hit(s"""{"u":"x","o":{"ké":"y","$key":"z"}}""")))))
  }

  test("strings holding tab, quote, CR or LF") {
    val (_, tsv) = vintageTsv(Seq(page(Seq(
      hit("""{"t":"a\tb","q":"say \"hi\"","r":"x\ry","n":"l1\nl2","a":["a\tb","\""],"o":{"s":"\n"}}"""),
      hit("""{"t":"plain","o":{"s":1}}""")))))
    assert(tsv.head.contains("\"a\tb\"") && tsv.head.contains("\"say \"\"hi\"\"\""))
  }

  test("duplicate keys in one object: the last occurrence wins") {
    val b = assertVintage(Seq(
      page(Seq(
        hit("""{"a":1,"a":2,"o":{"x":1,"y":2},"o":{"x":3},"p":{"x":1},"p":null}"""),
        hit("""{"arr":[{"x":1},{"x":2}],"arr":[{"x":3}],"s":"one","s":null}"""),
        """{"_source":{"a":9,"o":{"y":8}},"_source":{"a":7}}""",
        hit("""{"a":5,"o":{"x":4,"y":5,"x":6}}"""))),
      """{"hits":{"hits":[{"_source":{"a":100}}]},"hits":{"hits":[{"_source":{"a":101}}]}}""",
      """{"hits":{"hits":[{"_source":{"a":200}}],"hits":[{"_source":{"a":201}},null]}}"""))
    assert(b.rows === 7L)
  }

  test("a top-level array of two responses") {
    val b = assertVintage(Seq(
      s"[${page(Seq(hit("""{"a":1}"""), hit("""{"b":[1]}""")))},${
        page(Seq(hit("""{"a":2,"c":{"d":1}}""")))}]",
      page(Seq(hit("""{"a":3}""")))))
    assert(b.rows === 4L)
  }

  test("a page that does not parse renders no lines") {
    val (b, tsv) = vintageTsv(Seq(
      page(Seq(hit("""{"a":1}"""))),
      """{"hits":{"hits":[{"_source":{"a":2}},{"_source":{"a":""",
      "not json",
      page(Seq(hit("""{"a":3,"b":"x"}""")))), foldFiles = true)
    assert(b.rows === 2L && rows(tsv).size === 2)
  }
}
