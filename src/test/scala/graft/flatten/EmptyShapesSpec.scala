package graft.flatten

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EsJson

/** [[EmptyShapes]] — the inference-repair pass behind the seed-51
  * differential fix: Spark's JSON schema inference drops keys whose
  * value is an empty object in every document, which silently erased
  * them from JSON-rendered subtree cells (the reference's json.dumps
  * keeps them). Pinned, through the schema fold every export read runs
  * (`EsJson.ParseSchemaFold`): the graft recovers exactly the dropped
  * keys (including nested inside a KEPT array-of-struct — the observed
  * case), leaves everything else untouched (schema `eq` when nothing
  * was dropped), and the repaired read renders `{}` for present
  * instances while still omitting the key for absent ones.
  */
class EmptyShapesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val mapper = new ObjectMapper

  /** The parse schema the fold gives for the JSONL file `path`. */
  private def folded(path: String): StructType =
    EsJson.ParseSchemaFold.files(spark, Seq(path), multiLine = false).schema

  private def jsonl(lines: String*): String = {
    val d = Files.createTempDirectory("emptyshapes_")
    Files.writeString(d.resolve("docs.jsonl"), lines.mkString("\n"))
    d.resolve("docs.jsonl").toString
  }

  test("graft recovers corpus-wide-empty keys, nested included; kept keys untouched") {
    val path = jsonl(
      """{"id":1,"items":[{"e":1,"inner":{}}],"top":{},"emptyArr":[]}""",
      """{"id":2,"items":[{"e":2,"inner":{}},{"e":3}],"top":{"deep":{}}}""")
    val inferred = spark.read.json(path).schema
    // sanity: inference drops empty-OBJECT keys (an always-[] key it
    // keeps as array<string> — only objects vanish)
    assert(!inferred.fieldNames.contains("top"))
    assert(inferred.fieldNames.contains("emptyArr"))
    val itemsEt0 = inferred("items").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(!itemsEt0.fieldNames.contains("inner"))

    val schema = folded(path)
    val itemsEt = schema("items").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(itemsEt("inner").dataType === StructType(Nil))
    assert(itemsEt("e").dataType === itemsEt0("e").dataType,
      "kept keys must not change")
    // a dropped subtree regains its whole nested shape
    assert(schema("top").dataType ===
      StructType(Seq(StructField("deep", StructType(Nil)))))
    assert(schema("emptyArr").dataType === inferred("emptyArr").dataType)
  }

  test("prefilter soundness: every JSON position an empty object can " +
      "occupy survives the key-context regex") {
    // an object literal appears only after ':', '[' or ','; the r14
    // tightened prefilter must keep all three forms (whitespace-mangled
    // included) while skipping bare '{}' in code-bearing string values
    val path = jsonl(
      """{"id":1,"arrFirst":[{}],"spaced" :   { } }""",
      """{"id":2,"arrLater":[{"e":1},{}],"snippet":"function f() {}"}""")
    val inferred = spark.read.json(path).schema
    assert(!inferred.fieldNames.contains("arrFirst"))
    assert(!inferred.fieldNames.contains("spaced"))
    val schema = folded(path)
    assert(schema("arrFirst").dataType ===
      ArrayType(StructType(Nil), containsNull = true))
    assert(schema("spaced").dataType === StructType(Nil))
    val laterEt = schema("arrLater").dataType.asInstanceOf[ArrayType]
      .elementType
    assert(laterEt.isInstanceOf[StructType],
      "comma-borne empty element merges into the kept element struct")
    // a code-only corpus (bare {} in string values, no real empty
    // shapes) must graft nothing: the prefilter passes no document, and
    // the fold's schema is inference's
    val code = Seq(
      """{"id":1,"snippet":"function f() {}"}""",
      """{"id":2,"snippet":"while (true) {}"}""")
    val codePath = jsonl(code: _*)
    val shapes = new EmptyShapes.Fold
    code.foreach(d => shapes.add(d, mapper.readTree(d)))
    assert(shapes.result.isEmpty)
    assert(folded(codePath) === spark.read.json(codePath).schema)
  }

  test("nothing dropped -> the exact same schema instance (re-read skipped)") {
    val doc = """{"a":{"x":1},"b":[{"y":2}]}"""
    val path = jsonl(doc)
    val inferred = spark.read.json(path).schema
    assert(folded(path) === inferred)
    // a shape whose every key inference kept grafts nothing: the same
    // instance comes back
    val shape = ShapeOracle.fold(Seq(mapper.readTree(doc)))
    assert(shape.isDefined)
    assert(EmptyShapes.graftOnto(inferred, shape) eq inferred)
  }

  test("end-to-end: a JSON cell keeps inner:{} when present and omits it when absent") {
    // the seed-51 shape: inner only ever {}, inside an array-of-struct
    // rendered as a whole-array JSON cell (quirk Q4: one doc's [] makes
    // the unindexed column carry the full array as json.dumps)
    val path = jsonl(
      """{"docId":1,"outer":{"items":[{"e":1,"inner":{}}]}}""",
      """{"docId":2,"outer":{"items":[]}}""",
      """{"docId":3,"outer":{"items":[{"e":2}]}}""")
    val df = graft.sources.EsJson.read(spark, path, multiLine = false)
    val out = Files.createTempDirectory("emptyshapes_tsv_").toString + "/t"
    Flattener.flattenToTsv(df, out, singleFile = true)
    val part = Files.list(java.nio.file.Paths.get(out)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-")).get
    val lines = Files.readAllLines(part)
    val rows = (1 until lines.size).map(lines.get(_)).sorted
    // TSV escaping doubles quotes inside a quoted cell
    assert(rows(0).contains("\"\"inner\"\":{}"),
      s"present empty object lost: ${rows(0)}")
    assert(rows(1).contains("[]"), s"empty array cell lost: ${rows(1)}")
    assert(!rows(2).contains("inner"),
      s"absent key must stay absent: ${rows(2)}")
  }
}
