package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The DataSourceV2 connector contract: envelope navigation, partition
  * planning (one task per page file), token-level column pruning, and
  * exact filter pushdown with Spark null semantics.
  */
class EsExportV2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("n_chars", LongType),
    StructField("meta", StructType(Seq(
      StructField("author", StringType),
      StructField("tags", ArrayType(StringType))))),
    StructField("scores", ArrayType(DoubleType))))

  /** Three exported pages in the reference's response shape, including
    * the ES metadata the reader must skip and trailing envelope fields
    * after the hits array (the drain path).
    */
  private def mkPages(dir: Path): Unit = {
    def hit(id: Long, src: String): String =
      s"""{"_index":"docs","_id":"$id","_score":null,"sort":[$id],"_source":$src}"""
    def page(n: Int, hits: Seq[String], trailer: String = ""): Unit =
      Files.writeString(dir.resolve(f"page-$n%04d.json"),
        s"""{
           |  "took": $n,
           |  "timed_out": false,
           |  "_shards": {"total": 5, "successful": 5, "failed": 0},
           |  "hits": {
           |    "total": {"value": ${hits.size}, "relation": "eq"},
           |    "max_score": null,
           |    "hits": [${hits.mkString(",\n")}]$trailer
           |  },
           |  "terminated_early": false
           |}""".stripMargin)
    page(1, Seq(
      hit(1, """{"doc_id":1,"text":"hello world","lang":"en","n_chars":11,
               |"meta":{"author":"ada","tags":["a","b"]},"scores":[0.5,1.5],
               |"extra_ignored":{"deep":{"x":1}}}""".stripMargin),
      hit(2, """{"doc_id":2,"text":"bonjour","lang":"fr","n_chars":7}""")),
      trailer = ",\n    \"after_hits_junk\": {\"k\": [1,2,3]}")
    page(2, Seq(
      hit(3, """{"doc_id":3,"text":"hola","lang":"es","n_chars":4,
               |"meta":{"author":null,"tags":[]},"scores":[]}""".stripMargin),
      hit(4, """{"doc_id":4,"text":"ciao","lang":"it"}"""))) // n_chars missing
    page(3, Seq(
      hit(5, """{"doc_id":5,"text":"servus","lang":"de","n_chars":6,
               |"meta":{"author":"eva","tags":["x"]},"scores":[2.0]}"""
        .stripMargin)))
  }

  private lazy val pagesDir: String = {
    val dir = Files.createTempDirectory("es_export_v2_")
    mkPages(dir)
    dir.toString
  }

  private def readV2() = spark.read.format("es-export")
    .schema(docSchema).load(pagesDir)

  test("envelope docs roundtrip with nested values; one partition per page") {
    val rows = readV2().orderBy("doc_id").collect()
    assert(rows.length === 5)
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    val r1 = rows(0)
    assert(r1.getString(1) === "hello world")
    assert(r1.getStruct(4).getString(0) === "ada")
    assert(r1.getStruct(4).getSeq[String](1) === Seq("a", "b"))
    assert(r1.getSeq[Double](5) === Seq(0.5, 1.5))
    val r4 = rows(3) // doc 4: n_chars/meta/scores absent → null
    assert(r4.isNullAt(3) && r4.isNullAt(4) && r4.isNullAt(5))
    assert(readV2().rdd.getNumPartitions === 3)
  }

  test("matches the DataFrame-level EsJson twin, schema inference included") {
    val v2 = spark.read.format("es-export").load(pagesDir)
    val v1 = EsJson.read(spark, pagesDir)
    assert(v2.schema === v1.schema)
    val key = v1.schema.fieldNames.filter(_ != "extra_ignored")
    assert(v2.select(key.map(col).toIndexedSeq: _*).collect().toSet ===
      v1.select(key.map(col).toIndexedSeq: _*).collect().toSet)
  }

  test("column pruning reaches the scan (token-level ReadSchema)") {
    val df = readV2().select("lang", "doc_id")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.length === 1)
    val d = scans.head.scan.description()
    assert(d.contains("lang:string") && d.contains("doc_id:bigint"), d)
    assert(!d.contains("text"), s"text not pruned: $d")
    assert(df.collect().length === 5)
  }

  test("filters are fully pushed (no residual) and evaluated exactly") {
    val df = readV2()
      .filter(col("n_chars") > 5L && col("lang") =!= "fr")
      .select("doc_id")
    val exec = df.queryExecution.executedPlan
    val scans = exec.collect { case b: BatchScanExec => b }
    val d = scans.head.scan.description()
    assert(d.contains("GreaterThan(n_chars,5)"), d)
    // n_chars is a filter-only column: pruned from output, still parsed
    assert(d.contains("ReadSchema: struct<doc_id:bigint>"), d)
    assert(!d.contains("n_chars:"), d)
    assert(df.collect().map(_.getLong(0)).toSet === Set(1L, 5L))
    // doc 4 has NO n_chars: a pushed comparison on null must drop it
    val le = readV2().filter(col("n_chars") <= 1000L).count()
    assert(le === 4) // docs 1,2,3,5 — never doc 4
    val isNull = readV2().filter(col("n_chars").isNull).count()
    assert(isNull === 1)
  }

  test("IN / startsWith / OR push and evaluate") {
    val df = readV2().filter(
      col("lang").isin("en", "de") || col("text").startsWith("hol"))
    assert(df.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L, 5L))
    val d = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.description()
    assert(d.contains("Or("), d)
  }

  test("pushed NOT has exact Kleene semantics (NULL operands)") {
    // doc 2 is the only lang='fr'; docs 1,3,5 have lang∈{en,es,de};
    // NOT(lang IN ('en','es','de','it', NULL)) is FALSE for matches and
    // NULL (→ drop) for 'fr' — zero rows, not one. (Catalyst may prove
    // the bare form unsatisfiable and skip the scan; the OR form below
    // forces it through the reader.)
    assert(readV2()
      .filter(!col("lang").isin("en", "es", "de", "it", null))
      .count() === 0)
    // under an OR the NOT(IN … NULL) branch must still contribute
    // nothing: only the doc_id=3 branch keeps a row (Catalyst happens
    // to fold the branch away today; FilterEval.eval3 gives the same
    // answer if the shape ever reaches the reader — pinned directly in
    // the FilterEval unit test below)
    val notInWithNull = readV2().filter(col("doc_id") === 3L ||
      !col("lang").isin("en", "es", "de", "it", null))
    assert(notInWithNull.select("doc_id").collect()
      .map(_.getLong(0)).toSeq === Seq(3L))
    // sanity: same IN list without the NULL keeps exactly the 'fr' doc
    assert(readV2().filter(!col("lang").isin("en", "es", "de", "it"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(2L))

    // doc 4 has lang='it' and NO n_chars: NOT('it'='en' AND NULL>5) =
    // NOT(false AND NULL) = NOT(false) = TRUE — the row must survive
    // (a "whole subtree defined" guard would drop it).
    val notAnd = readV2()
      .filter(!(col("lang") === "en" && col("n_chars") > 5L))
    assert(notAnd.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(2L, 3L, 4L, 5L))
    // the NOT(AND) shape stays fully pushed (no residual above the scan)
    val d = notAnd.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.description()
    assert(d.contains("Not("), d)

    // FilterEval directly, for the shapes Catalyst folds away before
    // they can reach the reader: NOT(In) with a NULL in the list
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.{sources => sf}
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(StructField("lang", StringType)))
    def rowOf(v: String) = new GenericInternalRow(
      Array[Any](if (v == null) null else UTF8String.fromString(v)))
    val notInNull = sf.Not(sf.In("lang", Array[Any]("en", null)))
    // 'fr' NOT IN ('en', NULL) → NULL → drop
    assert(!FilterEval.eval(notInNull, rowOf("fr"), schema))
    // 'en' NOT IN ('en', NULL) → NOT TRUE → FALSE → drop
    assert(!FilterEval.eval(notInNull, rowOf("en"), schema))
    // and without the NULL the non-match must be kept
    assert(FilterEval.eval(
      sf.Not(sf.In("lang", Array[Any]("en"))), rowOf("fr"), schema))
  }

  test("schemaSampleFiles bounds inference to a listing prefix") {
    val dir = Files.createTempDirectory("es_export_sample_")
    def page(n: Int, src: String): Unit =
      Files.writeString(dir.resolve(f"page-$n%04d.json"),
        s"""{"hits":{"hits":[{"_id":"$n","_source":$src}]}}""")
    page(1, """{"doc_id":1,"lang":"en"}""")
    page(2, """{"doc_id":2,"lang":"fr","late_field":7}""")
    // a deliberately malformed LAST page: full-path inference would have
    // to read it (and fail); the bounded prefix must never touch it
    Files.writeString(dir.resolve("page-0003.json"), """{"hits": {"hi""")

    val inferred = spark.read.format("es-export")
      .option("schemaSampleFiles", 2).load(dir.toString).schema
    assert(inferred.fieldNames.toSet === Set("doc_id", "lang", "late_field"))

    val prefix1 = spark.read.format("es-export")
      .option("schemaSampleFiles", 1).load(dir.toString).schema
    assert(prefix1.fieldNames.toSet === Set("doc_id", "lang"),
      "a 1-file prefix must not see page 2's late_field")

    // explicit schema: no inference pass at all — planning succeeds on a
    // dir whose tail page is unreadable, proving nothing was scanned
    val explicit = spark.read.format("es-export")
      .schema(StructType(Seq(StructField("doc_id", LongType))))
      .load(dir.toString)
    assert(explicit.schema.fieldNames.toSeq === Seq("doc_id"))
  }

  test("truncated page: permissive keeps the parsed prefix, failfast names the file") {
    val dir = Files.createTempDirectory("es_export_trunc_")
    Files.writeString(dir.resolve("page-0001.json"),
      """{"hits":{"hits":[
        |{"_id":"1","_source":{"doc_id":1,"text":"ok","lang":"en","n_chars":2}}
        |]}}""".stripMargin)
    // an interrupted export: valid first hit, then the stream dies
    Files.writeString(dir.resolve("page-0002.json"),
      """{"hits":{"hits":[
        |{"_id":"2","_source":{"doc_id":2,"text":"ok","lang":"en","n_chars":2}},
        |{"_id":"3","_source":{"doc_id":3,"text":"tru""".stripMargin)
    def read(mode: String) = spark.read.format("es-export")
      .schema(docSchema).option("mode", mode).load(dir.toString)
    // permissive: docs 1 and 2 survive; the torn doc 3 is dropped
    assert(read("permissive").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // failfast (the default): the task error names the corrupt file
    val e = intercept[org.apache.spark.SparkException] {
      read("failfast").count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("page-0002.json")), messages(e))
  }

  test("bare documents, concatenated responses, and top-level arrays") {
    val dir = Files.createTempDirectory("es_export_shapes_")
    // JSONL of bare docs
    Files.writeString(dir.resolve("bare.json"),
      """{"doc_id":10,"text":"a","lang":"en","n_chars":1}
        |{"doc_id":11,"text":"b","lang":"en","n_chars":1}
        |""".stripMargin)
    // two concatenated envelopes in ONE file
    def env(id: Long): String =
      s"""{"took":1,"hits":{"total":{"value":1},"hits":[
         |{"_id":"$id","_source":{"doc_id":$id,"text":"c","lang":"de","n_chars":1}}
         |]}}""".stripMargin
    Files.writeString(dir.resolve("concat.json"), env(12) + "\n" + env(13))
    // top-level array of docs
    Files.writeString(dir.resolve("array.json"),
      """[{"doc_id":14,"text":"d","lang":"fr","n_chars":1},
        | {"doc_id":15,"text":"e","lang":"fr","n_chars":1}]""".stripMargin)
    val df = spark.read.format("es-export").schema(docSchema)
      .load(dir.toString)
    assert(df.select("doc_id").collect().map(_.getLong(0)).toSet ===
      (10L to 15L).toSet)
  }

  // --- aggregate pushdown ---------------------------------------------------

  private def pushedAggOf(df: org.apache.spark.sql.DataFrame): String = {
    // aggregate plans sit under AdaptiveSparkPlanExec, which hides the
    // scan from executedPlan.collect — read the optimizer's output
    // (V2ScanRelationPushDown has already run there) instead
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    assert(scans.length === 1)
    scans.head.description()
  }

  test("ungrouped count/min/max/sum push into the scan as partials") {
    val df = readV2().agg(
      count(lit(1)).as("n"), count(col("n_chars")).as("n_chars_n"),
      min(col("doc_id")).as("min_id"), max(col("lang")).as("max_lang"),
      sum(col("n_chars")).as("sum_chars"))
    val d = pushedAggOf(df)
    assert(d.contains("PushedAggregation"), d)
    assert(d.contains("count_star") && d.contains("min(doc_id)") &&
      d.contains("max(lang)") && d.contains("sum(n_chars)"), d)
    // the scan emits partial rows, not documents
    assert(d.contains("ReadSchema: struct<pushed_"), d)
    val r = df.collect().head
    // doc 4 has no n_chars: count(col) skips it, sum ignores it
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
      r.getLong(4)) === ((5L, 4L, 1L, "it", 28L)))
  }

  test("grouped aggregation pushes; empty-after-filter group is absent") {
    val df = readV2()
      .filter(col("n_chars") >= 5L) // pushed filter gates the fold
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
    val d = pushedAggOf(df)
    assert(d.contains("PushedAggregation: [group:lang"), d)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // n_chars: en=11, fr=7, es=4, it=null, de=6 → the filter keeps
    // en/fr/de; es and it produce NO partial row, so their groups are
    // absent (not zero) — exactly the unpushed semantics
    assert(got === Set(("en", 1L, 11L), ("fr", 1L, 7L), ("de", 1L, 6L)))
  }

  test("pushed aggregate equals the unpushed plan on every shape") {
    val unpushed = readV2().cache() // cached scan → no pushdown path
    try {
      def both(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
        val a = f(readV2()).collect().map(_.toSeq).toSet
        val b = f(unpushed).collect().map(_.toSeq).toSet
        assert(a === b)
      }
      both(_.groupBy("lang").agg(min("n_chars"), max("n_chars")))
      both(_.agg(sum("n_chars"), count(lit(1))))
      both(_.filter(col("lang") =!= "en").groupBy("lang")
        .agg(count(col("n_chars"))))
    } finally { unpushed.unpersist(); () }
  }

  test("listing-derived statistics let the planner broadcast a small export") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // a 3-page export joined to a big-ish frame: with real sizeInBytes
    // the export side must be broadcast (V2 default stats would forbid it)
    val big = spark.range(100000).selectExpr("id AS doc_id", "id % 7 AS k")
    val joined = big.join(readV2().select("doc_id", "lang"), "doc_id")
    val exec = joined.queryExecution.executedPlan
    def findBroadcast(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.exists {
        case _: BroadcastExchangeExec => true
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          findBroadcast(a.executedPlan)
        case _ => false
      }
    assert(joined.count() === 5)
    assert(findBroadcast(exec) ||
      findBroadcast(joined.queryExecution.executedPlan))
  }

  test("limit pushes partially: per-page parse stops, global Limit stays") {
    val df = readV2().select("doc_id").limit(2)
    val d = pushedAggOf(df)
    assert(d.contains("PushedLimit: 2"), d)
    assert(df.collect().length === 2)
    // limit composes with a pushed filter (prefix of the FILTERED docs)
    val f = readV2().filter(col("lang") =!= "fr").select("doc_id").limit(3)
    val rows = f.collect().map(_.getLong(0))
    assert(rows.length === 3 && !rows.contains(2L))
    // limit larger than the data: everything, exactly once
    assert(readV2().limit(100).count() === 5)
  }

  test("ungrouped pushed count over an EMPTY export dir returns 0, not NULL") {
    val empty = Files.createTempDirectory("es_export_empty_")
    val df = spark.read.format("es-export").schema(docSchema)
      .load(empty.toString)
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
    assert(pushedAggOf(df).contains("PushedAggregation"))
    val r = df.collect().head
    // the synthetic empty partition carries the unconditional partial:
    // count = 0 (not NULL after the Sum-of-counts rewrite), sum = NULL
    assert(!r.isNullAt(0) && r.getLong(0) === 0L)
    assert(r.isNullAt(1))
    // grouped aggregation over an empty listing stays zero-row
    val g = spark.read.format("es-export").schema(docSchema)
      .load(empty.toString)
      .groupBy("lang").agg(count(lit(1)).as("n"))
    assert(g.collect().isEmpty)
  }

  test("distinct and non-atomic aggregates do NOT push (graceful fallback)") {
    val d1 = pushedAggOf(readV2().agg(count_distinct(col("lang")).as("n")))
    assert(!d1.contains("PushedAggregation"), d1)
    // AVG pushes as sum+count: partial-mode pushdown makes Catalyst's
    // V2ScanRelationPushDown rewrite avg(c) to sum(c)/count(c) BEFORE
    // translation, both of which this connector accepts — so avg is
    // accelerated without an Avg case of its own
    val d2 = pushedAggOf(readV2().agg(avg(col("n_chars")).as("a")))
    assert(d2.contains("PushedAggregation: [sum(n_chars), count(n_chars)]"),
      d2)
    val a = readV2().agg(avg(col("n_chars"))).collect().head.getDouble(0)
    assert(math.abs(a - 28.0 / 4) < 1e-9, s"$d2 -> $a")
    val d3 = pushedAggOf(readV2().groupBy("meta").agg(count(lit(1))))
    assert(!d3.contains("PushedAggregation"), d3) // struct group key
  }

  test("es-export stream offsets: the JSON form round-trips, a bare " +
      "integer is refused as malformed") {
    val o = EsFileIndexOffset(7, "/x/page-\"q\"\\0007.json")
    assert(EsFileIndexOffset.parse(o.json()) === o)
    assert(EsFileIndexOffset.parse("  " + EsFileIndexOffset(0, "").json()) ===
      EsFileIndexOffset(0, ""))
    val ex = intercept[IllegalArgumentException](EsFileIndexOffset.parse("7"))
    assert(ex.getMessage.contains("malformed es-export offset"))
  }
}
