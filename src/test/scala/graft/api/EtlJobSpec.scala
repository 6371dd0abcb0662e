package graft.api

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class EtlJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("etljob").toString

  test("end-to-end job: golden doc -> TSV + SUCCESS audit row") {
    val out = tmp()
    val res = EtlJob.run(spark, graft.queries.FlattenQueries.GoldenDoc,
      s"$out/tsv", s"$out/audit")
    assert(res.records == 1L)
    assert(res.columns == 5028)
    val tsvFiles = new java.io.File(s"$out/tsv").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(tsvFiles.nonEmpty)
    val header = scala.io.Source.fromFile(tsvFiles.head).getLines().next()
    assert(header.split("\t").length == 5028)
    assert(header.startsWith("AdmissionDate\tAge\t"))
    val audit = spark.read.parquet(s"$out/audit").collect()
    assert(audit.length == 1)
    assert(audit(0).getAs[String]("job_status") == "SUCCESS")
    assert(audit(0).getAs[Long]("record_count_loaded") == 1L)
  }

  test("failure path writes a FAILED audit row and rethrows") {
    val out = tmp()
    intercept[Throwable] {
      EtlJob.run(spark, s"$out/does-not-exist.json", s"$out/tsv",
        s"$out/audit")
    }
    val audit = spark.read.parquet(s"$out/audit").collect()
    assert(audit.length == 1)
    assert(audit(0).getAs[String]("job_status") == "FAILED")
    assert(audit(0).getAs[String]("error_desc") != null)
  }

  test("runDocs: any document DataFrame flows through the same pipeline") {
    import spark.implicits._
    val out = tmp()
    val docs = Seq((1L, "x"), (2L, "y")).toDF("claimRequestId", "alpha")
    val res = EtlJob.runDocs(spark, docs, s"$out/tsv", s"$out/audit")
    assert(res.records == 2L)
    val header = scala.io.Source.fromFile(
      new java.io.File(s"$out/tsv").listFiles()
        .filter(_.getName.startsWith("part-")).head)
      .getLines().next()
    assert(header.split("\t").toSet == Set("ClaimRequestId", "Alpha"))
  }

  test("runHttp: the full live loop against an embedded stub, audited") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val docs = (1 to 7).map(i =>
      s"""{"auditProcessedDateTimeUtc":"2025-06-01T00:00:0$i","claimRequestId":$i,"nested":{"v":$i}}""")
    def respond(x: HttpExchange, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      x.sendResponseHeaders(200, b.length)
      x.getResponseBody.write(b); x.close()
    }
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/claims/_count",
      (x: HttpExchange) => respond(x, s"""{"count":${docs.size}}"""))
    server.createContext("/claims/_search", (x: HttpExchange) => {
      val req = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(x.getRequestBody)
      val after = req.path("search_after")
      val from = if (after.isMissingNode) 0 else after.get(1).asInt()
      val page = docs.slice(from, from + 3)
      respond(x, s"""{"hits":{"total":{"value":${docs.size}},"hits":[${
        page.map(d => s"""{"_id":"x","_source":$d}""").mkString(",")}]}}""")
    })
    server.start()
    try {
      val out = tmp()
      val cfg = graft.sources.EsHttp.Config(
        s"http://localhost:${server.getAddress.getPort}", "claims",
        pageSize = 3)
      val res = EtlJob.runHttp(spark, cfg, s"$out/pages", s"$out/tsv",
        s"$out/audit", jobName = "live_http")
      assert(res.records === 7L)
      // 3 pages fetched (3+3+1), flattened columns include the nested path
      assert(new java.io.File(s"$out/pages").listFiles().count(
        _.getName.startsWith("page-")) === 3)
      val tsv = new java.io.File(s"$out/tsv").listFiles()
        .filter(_.getName.startsWith("part-"))
      val header = scala.io.Source.fromFile(tsv.head).getLines().next()
      assert(header.split("\t").contains("Nested_V"))
      val audit = spark.read.parquet(s"$out/audit").collect()
      assert(audit.map(_.getAs[String]("job_status")).toSeq === Seq("SUCCESS"))
      assert(audit.head.getAs[Long]("record_count_loaded") === 7L)

      // failure path: unreachable endpoint → FAILED audit row + rethrow
      val bad = cfg.copy(baseUrl = "http://localhost:1")
      intercept[Throwable] {
        EtlJob.runHttp(spark, bad, s"$out/pages2", s"$out/tsv2",
          s"$out/audit", jobName = "live_http_bad")
      }
      val after = spark.read.parquet(s"$out/audit").collect()
        .map(r => (r.getAs[String]("job_name"), r.getAs[String]("job_status")))
      assert(after.toSet.contains(("live_http_bad", "FAILED")))
    } finally server.stop(0)
  }

  test("runHttp: an empty index is a SUCCESS with 0 records") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    def respond(x: HttpExchange, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      x.sendResponseHeaders(200, b.length)
      x.getResponseBody.write(b); x.close()
    }
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/claims/_count",
      (x: HttpExchange) => respond(x, """{"count":0}"""))
    server.createContext("/claims/_search", (x: HttpExchange) =>
      respond(x, """{"hits":{"total":{"value":0},"hits":[]}}"""))
    server.start()
    try {
      val out = tmp()
      val cfg = graft.sources.EsHttp.Config(
        s"http://localhost:${server.getAddress.getPort}", "claims")
      // the reference's loop does not run at all: nothing to fetch
      val res = EtlJob.runHttp(spark, cfg, s"$out/pages", s"$out/tsv",
        s"$out/audit", jobName = "live_http_empty")
      assert(res.records === 0L)
      assert(new java.io.File(s"$out/pages").listFiles()
        .count(_.getName.startsWith("page-")) === 0)
      val audit = spark.read.parquet(s"$out/audit").collect()
      assert(audit.length === 1)
      assert(audit.head.getAs[String]("job_status") === "SUCCESS")
      assert(audit.head.getAs[Long]("record_count_loaded") === 0L)
    } finally server.stop(0)
  }

  /** An ES stub serving `docs` as `_source`s, `pageSize` a page, cursor =
    * the `claimRequestId` (1-based position) of the last hit.
    */
  private def withClaims[T](docs: Seq[String], pageSize: Int)(
      f: graft.sources.EsHttp.Config => T): T = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    def respond(x: HttpExchange, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      x.sendResponseHeaders(200, b.length)
      x.getResponseBody.write(b); x.close()
    }
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/claims/_count",
      (x: HttpExchange) => respond(x, s"""{"count":${docs.size}}"""))
    server.createContext("/claims/_search", (x: HttpExchange) => {
      val req = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(x.getRequestBody)
      val after = req.path("search_after")
      val from = if (after.isMissingNode) 0 else after.get(0).asInt()
      val page = docs.slice(from, from + pageSize)
      respond(x, s"""{"hits":{"total":{"value":${docs.size}},"hits":[${
        page.map(d => s"""{"_id":"x","_source":$d}""").mkString(",")}]}}""")
    })
    server.start()
    try f(graft.sources.EsHttp.Config(
      s"http://localhost:${server.getAddress.getPort}", "claims",
      pageSize = pageSize, sortFields = Seq("claimRequestId")))
    finally server.stop(0)
  }

  private val claims = (1 to 7).map(i =>
    s"""{"claimRequestId":$i,"lines":[${Seq.fill(i % 3)(s"""{"v":$i}""").mkString(",")}],"e":{}}""")

  private def tsvParts(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).sorted.toSeq
      .map(n => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, n)), "UTF-8"))

  test("runHttp, and run over its vintage: one Spark job each, nothing cached") {
    withClaims(claims, pageSize = 3) { cfg =>
      val out = tmp()
      val sc = spark.sparkContext
      val cached = sc.getPersistentRDDs.keySet
      val (live, liveJobs) = graft.JobsStarted.callSites(spark)(
        EtlJob.runHttp(spark, cfg, s"$out/pages", s"$out/tsv", s"$out/audit"))
      // the render, which writes the TSV; the audit row is the driver's
      assert(liveJobs.size === 1 && liveJobs.head.contains("Flattener.scala"),
        liveJobs)
      assert(sc.getPersistentRDDs.keySet === cached)
      val (again, againJobs) = graft.JobsStarted(spark)(
        EtlJob.run(spark, s"$out/pages", s"$out/tsv2", s"$out/audit"))
      assert(againJobs === 1)
      assert(sc.getPersistentRDDs.keySet === cached)
      assert(live.records === 7L && again === live.copy(outputDir = s"$out/tsv2"))
      assert(tsvParts(s"$out/tsv2") === tsvParts(s"$out/tsv"))
      // the same pages through the document frame and the stats pass
      EtlJob.runDocs(spark, graft.sources.EsJson.read(spark, s"$out/pages"),
        s"$out/tsv3", s"$out/audit")
      assert(tsvParts(s"$out/tsv3") === tsvParts(s"$out/tsv"))
      val audit = spark.read.parquet(s"$out/audit").collect()
      assert(audit.map(_.getAs[Long]("record_count_loaded")).toSeq === Seq(7L, 7L, 7L))
    }
  }

  test("run over ES responses without a sidecar: two Spark jobs, nothing cached") {
    withClaims(claims, pageSize = 3) { cfg =>
      val out = tmp()
      EtlJob.runHttp(spark, cfg, s"$out/pages", s"$out/tsv", s"$out/audit"): Unit
      val sidecar = java.nio.file.Paths.get(s"$out/pages",
        graft.sources.EsJson.SchemaSidecar)
      java.nio.file.Files.delete(sidecar)
      val sc = spark.sparkContext
      val cached = sc.getPersistentRDDs.keySet
      val (res, jobs) = graft.JobsStarted(spark)(
        EtlJob.run(spark, s"$out/pages", s"$out/tsv2", s"$out/audit"))
      assert(jobs === 2) // the fold and the render
      assert(sc.getPersistentRDDs.keySet === cached)
      assert(res.records === 7L)
      assert(tsvParts(s"$out/tsv2") === tsvParts(s"$out/tsv"))
      assert(!java.nio.file.Files.exists(sidecar), "the run wrote into its input")
      val audit = spark.read.parquet(s"$out/audit").collect()
      assert(audit.map(_.getAs[Long]("record_count_loaded")).toSeq === Seq(7L, 7L))
    }
  }

  test("a vintage changed under its sidecar fails onto the FAILED audit path") {
    withClaims(claims, pageSize = 3) { cfg =>
      val out = tmp()
      EtlJob.runHttp(spark, cfg, s"$out/pages", s"$out/tsv", s"$out/audit"): Unit
      val before = tsvParts(s"$out/tsv")
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$out/pages", "page-00001.json"))
      val e = intercept[IllegalStateException](
        EtlJob.run(spark, s"$out/pages", s"$out/tsv", s"$out/audit"))
      assert(e.getMessage.startsWith("vintage changed under its sidecar"))
      // the output still holds the last good flatten, and nothing staged
      // is left beside it
      assert(tsvParts(s"$out/tsv") === before)
      assert(new java.io.File(out).list().toSet === Set("pages", "tsv", "audit"))
      val audit = spark.read.parquet(s"$out/audit").orderBy("job_status")
        .collect()
      assert(audit.map(_.getAs[String]("job_status")).toSeq ===
        Seq("FAILED", "SUCCESS"))
      assert(audit(0).getAs[String]("error_desc") === e.getMessage)
      assert(audit(0).getAs[Long]("record_count_loaded") === 0L)
    }
  }

  test("two runs append to one audit path: both rows read back, distinct run ids") {
    withClaims(claims, pageSize = 3) { cfg =>
      val out = tmp()
      val audit = s"$out/audit"
      EtlJob.runHttp(spark, cfg, s"$out/pages", s"$out/tsv", audit): Unit
      EtlJob.run(spark, s"$out/pages", s"$out/tsv2", audit): Unit
      val back = spark.read.parquet(audit)
      // a file read makes every column nullable: the table reads as one
      // Spark's own writer wrote, and its footer carries the record's
      // schema, nullability included
      val t = new java.sql.Timestamp(0L)
      spark.createDataFrame(Seq(EtlJob.AuditRecord("j", 1L, t, t, "SUCCESS",
        "c", null, "b", "t", 0L))).write.parquet(s"$out/spark_written")
      assert(back.schema === spark.read.parquet(s"$out/spark_written").schema)
      val part = new java.io.File(audit).listFiles()
        .find(_.getName.startsWith("part-")).get
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.toURI),
          spark.sparkContext.hadoopConfiguration))
      val meta = try footer.getFooter.getFileMetaData.getKeyValueMetaData
        finally footer.close()
      assert(org.apache.spark.sql.types.DataType.fromJson(
        meta.get("org.apache.spark.sql.parquet.row.metadata")) ===
        org.apache.spark.sql.Encoders.product[EtlJob.AuditRecord].schema)
      val rows = back.collect()
      assert(rows.map(_.getAs[String]("job_status")).toSeq === Seq("SUCCESS", "SUCCESS"))
      assert(rows.map(_.getAs[Long]("record_count_loaded")).toSeq === Seq(7L, 7L))
      assert(rows.forall(r => r.getAs[java.sql.Timestamp]("start_ts") != null &&
        !r.getAs[java.sql.Timestamp]("end_ts").before(r.getAs[java.sql.Timestamp]("start_ts"))))
      assert(rows.forall(_.isNullAt(rows(0).fieldIndex("error_desc"))))
      val ids = rows.map(_.getAs[Long]("job_id")).toSet
      assert(ids.size === 2 && ids.forall(_ >= 0L))
      // each row is its own file, named by its run id
      assert(new java.io.File(audit).list().filter(_.startsWith("part-")).toSet ===
        ids.map(id => s"part-$id.parquet"))
    }
  }

  test("runLive without a connector fails fast AND audits the failure") {
    val out = tmp()
    intercept[Throwable] {
      EtlJob.runLive(spark,
        graft.sources.EsLive.EsConfig("localhost:9200", "idx"),
        s"$out/tsv", s"$out/audit")
    }
    val audit = spark.read.parquet(s"$out/audit").collect()
    assert(audit.length == 1)
    assert(audit(0).getAs[String]("job_status") == "FAILED")
    assert(audit(0).getAs[String]("job_name") == "Initial_load_from_live")
  }

  test("jdbc audit sink round-trips the reference's column set (Derby)") {
    // embedded in-memory Derby: the same df.write.jdbc path a live SQL DB
    // target uses (ElasticSearch ETL.py:271-299), no network needed
    val url = "jdbc:derby:memory:auditdb;create=true"
    val t0 = new java.sql.Timestamp(1700000000000L)
    val t1 = new java.sql.Timestamp(1700000060000L)
    val rec = EtlJob.AuditRecord("Initial_load_from_export", 8L, t0, t1,
      "SUCCESS", "spark_etl_export", null, "20240101120000", "documents", 42L)
    EtlJob.logAuditJdbc(spark, url, "job_audit", rec)
    val back = spark.read.jdbc(url, "job_audit", new java.util.Properties())
    assert(back.columns.toSet == Set("job_name", "job_id", "start_ts",
      "end_ts", "job_status", "executable_cmd", "error_desc", "batch_id",
      "table_name", "record_count_loaded"))
    val row = back.collect()(0)
    assert(row.getAs[String]("job_status") == "SUCCESS")
    assert(row.getAs[Long]("record_count_loaded") == 42L)
    assert(row.getAs[java.sql.Timestamp]("start_ts") == t0)
    // append semantics: a second run adds a row, never truncates
    EtlJob.logAuditJdbc(spark, url, "job_audit",
      rec.copy(job_status = "FAILED", error_desc = "boom",
        record_count_loaded = 0L))
    assert(back.count() == 2)
  }

  test("interactive column search and transpose preview") {
    val flat = graft.flatten.Flattener.flatten(
      graft.sources.EsJson.read(spark, graft.queries.FlattenQueries.GoldenDoc))
    val price = EtlJob.searchColumns(flat, "Price")
    assert(price.columns.nonEmpty)
    assert(price.columns.forall(_.contains("Price")))
    val prev = EtlJob.transposePreview(flat, maxCols = 40).collect()
    assert(prev.length == 40)
    assert(prev.map(_.getString(0)).toSeq ==
      flat.columns.take(40).toSeq)
  }
}
