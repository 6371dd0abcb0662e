package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.JobsStarted
import graft.flatten.StatsPass

/** The distributed form of [[EsJson.ParseSchemaFold]]
  * ([[EsJson.ParseSchemaFold.files]]) gives the sidecar of its input:
  * [[ParseSchemaOracle]]'s parse schema and [[StatsPass.collect]] over
  * the rows [[EsJson.read]] parses. Pinned on generated page sets split
  * over several partitions, JSONL with a blank line read from one file,
  * records Spark's inference fails on, compressed and malformed pages,
  * zero files, and the pages of a `runHttp` export, whose sidecar the
  * fold gives again byte for byte. Its one Spark job is the only job
  * [[EsJson.read]] of a directory without a sidecar starts before the
  * frame is used, and the only one an `ExportStream` batch without a
  * known schema adds.
  */
class DistributedFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The fold of `path` == (oracle schema, stats of the read frame). */
  private def assertFold(path: String, multiLine: Boolean): EsJson.Sidecar = {
    val side = EsJson.ParseSchemaFold.files(spark, Seq(path), multiLine)
    assert(side.schema === ParseSchemaOracle(spark, Seq(path), multiLine))
    assert(side.stats ===
      Some(StatsPass.collect(EsJson.read(spark, path, multiLine))))
    side
  }

  test("generated page sets split over at least 3 partitions") {
    val gen = new EsPages.Generator(7)
    EsPages.filePerPartition(spark) {
      for (_ <- 1 to 8) {
        val dir = EsPages.write(gen.pageSet(minPages = 3))
        assert(spark.read.option("wholetext", "true").text(dir)
          .rdd.getNumPartitions >= 3)
        assertFold(dir, multiLine = true)
      }
    }
  }

  test("JSONL with a blank line, read from a single-file path") {
    val file = Files.createTempDirectory("fold_jsonl_").resolve("docs.jsonl")
    Files.writeString(file, Seq(
      """{"id":1,"e":{},"arr":[{"x":1},{"x":2,"z":{}}]}""",
      "",
      """{"id":2,"arr":[],"v":1.5}""",
      """{"id":3,"v":"s","n":null}""").mkString("\n"))
    val side = assertFold(file.toString, multiLine = false)
    assert(side.schema.fieldNames.contains("e"))
    assert(side.stats.map(_.rows) === Some(3L))
  }

  test("records inference fails on: malformed lines and bare scalars") {
    val file = Files.createTempDirectory("fold_corrupt_").resolve("docs.jsonl")
    Files.writeString(file, Seq(
      """{"id":1,"a":[{"x":1}]}""",
      """{"id":2,""",
      """[{"id":3},{"id":4,"a":[]}]""",
      "5",
      """"s"""",
      """{"id":5,"e":{}}""").mkString("\n"))
    val side = assertFold(file.toString, multiLine = false)
    assert(side.schema.fieldNames.contains("_corrupt_record"))
  }

  test("a .gz page and a malformed page") {
    val dir = Files.createTempDirectory("fold_gz_")
    val gz = new GZIPOutputStream(
      Files.newOutputStream(dir.resolve("page-00000.json.gz")))
    try gz.write(EsPages.response(Seq("""{"id":1,"e":{},"arr":[{"x":1}]}""",
      """{"id":2,"arr":[]}""")).getBytes(StandardCharsets.UTF_8))
    finally gz.close()
    Files.writeString(dir.resolve("page-00001.json"),
      """{"took":1,"hits":{"hits":[{"_source":{"id":9}}""")
    Files.writeString(dir.resolve("page-00002.json"),
      EsPages.response(Seq("""{"id":3,"v":"s"}""")))
    val side = assertFold(dir.toString, multiLine = true)
    assert(side.schema.fieldNames.contains("_corrupt_record"))
    assert(side.stats.map(_.rows) === Some(3L))
  }

  test("zero files") {
    val dir = Files.createTempDirectory("fold_empty_").toString
    assert(assertFold(dir, multiLine = true) ===
      EsJson.Sidecar(StructType(Nil), Some(StatsPass.Batch(0, Map(), Set()))))
  }

  test("the pages of a runHttp export fold to the sidecar it wrote, byte for byte") {
    val pages = new EsPages.Generator(11).pageSet(minPages = 3)
    EsPages.withStub(pages) { cfg =>
      val out = Files.createTempDirectory("fold_runhttp_")
      val pageDir = out.resolve("pages").toString
      graft.api.EtlJob.runHttp(spark, cfg, pageDir, s"$out/tsv",
        s"$out/audit"): Unit
      val written = Paths.get(pageDir, EsJson.SchemaSidecar)
      val bytes = Files.readAllBytes(written)
      Files.delete(written)
      val side = assertFold(pageDir, multiLine = true)
      val again = Files.createTempDirectory("fold_again_").toString
      EsJson.writeSidecar(spark, again, side)
      assert(Files.readAllBytes(Paths.get(again, EsJson.SchemaSidecar)) === bytes)
    }
  }

  test("EsJson.read of a directory without a sidecar starts one Spark job") {
    val dir = EsPages.write(Seq(
      Seq("""{"id":1,"v":1,"e":{}}""", """{"id":2,"v":2.5}"""),
      Seq("""{"id":3,"t":"x"}""")))
    val (docs, sites) = JobsStarted.callSites(spark)(EsJson.read(spark, dir))
    assert(sites.size === 1)
    // perfbench attributes a job to the module of its call-site file
    assert(sites.head.startsWith("collect at EsJson.scala:"), sites)
    assert(docs.count() === 3L)
    assert(docs.columns.toSet === Set("id", "v", "e", "t"))
    assert(!Files.exists(Paths.get(dir, EsJson.SchemaSidecar)))
  }

  test("an ExportStream batch without a known schema starts one job more, the fold") {
    val in = Files.createTempDirectory("fold_stream_").toString
    Files.writeString(Paths.get(in, "page1.jsonl"),
      """{"claimRequestId": 1, "alpha": "x", "e": {}}
        |{"claimRequestId": 2, "alpha": "y", "beta": 5}
        |""".stripMargin)
    val schema = EsJson.ParseSchemaFold.files(spark, Seq(in),
      multiLine = false).schema
    def run(docSchema: StructType) = JobsStarted(spark)(
      graft.streaming.ExportStream.run(spark, in,
        Files.createTempDirectory("fold_stream_out_").toString,
        docSchema = docSchema))
    val (known, knownJobs) = run(schema)
    val (folded, foldedJobs) = run(null)
    assert(foldedJobs === knownJobs + 1)
    assert(folded.map(r => (r.rows, r.columns)) ===
      known.map(r => (r.rows, r.columns)))
    assert(Files.readString(Paths.get(folded.head.file)) ===
      Files.readString(Paths.get(known.head.file)))
  }
}
