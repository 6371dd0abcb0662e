package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The live adapter and the offline exported-response path must share one
  * envelope contract ([[EsJson.unwrap]]): whatever shape rows arrive in,
  * downstream sees one row per `_source` document with identical columns.
  */
class EsLiveSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("config maps to the connector's es.* option surface") {
    val cfg = EsLive.EsConfig(
      nodes = "es-node-1:9200,es-node-2:9200",
      resource = "rta_claims",
      query = """{"query": {"match_all": {}}}""",
      user = "etl", password = "secret", pageSize = 500,
      extra = Map("es.read.field.as.array.include" -> "tags"))
    val o = EsLive.options(cfg)
    assert(o("es.nodes") == "es-node-1:9200,es-node-2:9200")
    assert(o("es.resource") == "rta_claims")
    assert(o("es.scroll.size") == "500")
    assert(o("es.query").contains("match_all"))
    assert(o("es.net.http.auth.user") == "etl")
    assert(o("es.net.http.auth.pass") == "secret")
    assert(o("es.read.field.as.array.include") == "tags")
    // no credentials -> no auth keys at all
    val anon = EsLive.options(EsLive.EsConfig("n:9200", "idx"))
    assert(!anon.contains("es.net.http.auth.user"))
    assert(!anon.contains("es.query"))
  }

  test("offline path and live adapter share the unwrap contract") {
    // connector rows arrive already at _source level: unwrap must be the
    // identity on them, and must reduce an exported envelope to the SAME
    // shape — one row per document, same columns
    val envelope = EsJson.read(spark, graft.queries.FlattenQueries.GoldenDoc)
    assert(!EsJson.isEnvelope(envelope.schema)) // already unwrapped
    val passthrough = EsJson.unwrap(envelope)
    assert(passthrough.schema == envelope.schema)
    assert(passthrough.count() == envelope.count())
    assert(envelope.columns.contains("claimRequestId"))
  }

  test("read without the connector jar fails fast, not mysteriously") {
    val e = intercept[Throwable] {
      EsLive.read(spark, EsLive.EsConfig("localhost:9200", "idx"))
    }
    // Spark's DataSource lookup names the missing format
    val msg = String.valueOf(e.getMessage) + e.getClass.getName
    assert(msg.contains("org.elasticsearch.spark.sql") ||
      msg.contains("Failed to find") || msg.contains("DATA_SOURCE"),
      s"unexpected error: $e")
  }
}
