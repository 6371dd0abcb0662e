package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.JobsStarted

/** How [[VersionedLake]]'s id mutations and range reads plan. Pinned:
  *  - where matching an id set differs from an anti-join: a lake row with a
  *    NULL id survives a delete and an upsert that rewrite its file; a
  *    delete set holding NULL plus real ids removes exactly the real
  *    ids; `Int` delete ids match a `Long` id column; the duplicate-id
  *    refusal groups ids as Spark does (0.0 with -0.0, NaN with NaN);
  *    a 30,000-id set is matched exactly;
  *  - the Spark jobs per call on a stats-carrying lake: upsert 3 (the
  *    id collect that fills the persisted updates, the hit scan, the
  *    write), delete 2 (hit scan, write — a local id frame collects
  *    without a job), delete_range 1 (the straddler rewrite; row counts
  *    come from footers) and 0 for a manifest-only drop, a range read 1
  *    (no schema inference); no call leaves an RDD persisted;
  *  - a range delete whose straddler rewrite removes no row commits
  *    nothing and leaves no `data/m<token>` dir;
  *  - a range read without a schema hint reads under the version's
  *    `#schema=` header.
  */
class LakeMutationPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(tag).toString + "/lake"

  private def rows(lo: Long, hi: Long): DataFrame =
    (lo until hi).map(i => (i, s"v$i")).toDF("id", "v").repartition(1)

  /** Four one-file commits of 25 consecutive ids each, stats on `id`. */
  private def statsLake(tag: String): String = {
    val dir = fresh(tag)
    (0 until 4).foreach { k =>
      VersionedLake.commitAppend(spark, dir, rows(k * 25L, k * 25L + 25),
        statsCol = Some("id")): Unit
    }
    dir
  }

  /** One file holding ids 1..4 and one NULL id. */
  private def nullIdLake(tag: String, statsCol: Option[String]): String = {
    val dir = fresh(tag)
    VersionedLake.commitAppend(spark, dir,
      Seq[(Option[Long], String)]((Some(1L), "a"), (Some(2L), "b"),
        (None, "nul"), (Some(3L), "c"), (Some(4L), "d"))
        .toDF("id", "v").repartition(1), statsCol = statsCol): Unit
    dir
  }

  private def current(dir: String): Map[Option[Long], String] =
    VersionedLake.read(spark, dir).collect().map(r =>
      Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(1)).toMap

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `body`'s job count, checking it leaves no RDD persisted. */
  private def jobs[T](label: String)(body: => T): (T, Int) = {
    val before = persisted
    val (res, sites) = JobsStarted.callSites(spark)(body)
    assert(persisted === before, s"$label left an RDD persisted")
    (res, sites.size)
  }

  for (stats <- Seq(Some("id"), None))
    test(s"a NULL lake id survives a delete and an upsert that rewrite " +
        s"its file (stats ${stats.getOrElse("none")})") {
      val dir = nullIdLake("vplan_null_", stats)
      val (_, nf, nr) = VersionedLake.commitDelete(spark, dir, "id",
        Seq(2L).toDF("id"))
      assert(nf === 1L && nr === 1L)
      assert(current(dir) === Map(Some(1L) -> "a", None -> "nul",
        Some(3L) -> "c", Some(4L) -> "d"))
      val (_, uf, un) = VersionedLake.commitUpsert(spark, dir, "id",
        Seq((3L, "C"), (9L, "new")).toDF("id", "v"))
      assert(uf === 1L && un === 1L)
      assert(current(dir) === Map(Some(1L) -> "a", None -> "nul",
        Some(3L) -> "C", Some(4L) -> "d", Some(9L) -> "new"))
    }

  test("a delete set holding NULL plus real ids removes exactly the " +
      "real ids") {
    val dir = nullIdLake("vplan_nullset_", Some("id"))
    val (v, nf, nr) = VersionedLake.commitDelete(spark, dir, "id",
      Seq[Option[Long]](Some(1L), None, Some(4L)).toDF("id"))
    assert(v === 2L && nf === 1L && nr === 2L)
    assert(current(dir) === Map(None -> "nul", Some(2L) -> "b",
      Some(3L) -> "c"))
    // a set of NULLs alone deletes nothing and commits nothing
    assert(VersionedLake.commitDelete(spark, dir, "id",
      Seq[Option[Long]](None).toDF("id")) === ((0L, 0L, 0L)))
  }

  test("the duplicate-id refusal groups ids as Spark does: 0.0 with " +
      "-0.0, NaN with NaN") {
    val dir = fresh("vplan_dbl_")
    VersionedLake.commitAppend(spark, dir,
      Seq((1.5, "a"), (2.5, "b")).toDF("id", "v").repartition(1)): Unit
    for (pair <- Seq(Seq(0.0, -0.0), Seq(Double.NaN, Double.NaN))) {
      val ex = intercept[IllegalArgumentException] {
        VersionedLake.commitUpsert(spark, dir, "id",
          pair.zip(Seq("x", "y")).toDF("id", "v"))
      }
      assert(ex.getMessage.contains("more than once"), pair)
    }
    val (_, nf, nu) = VersionedLake.commitUpsert(spark, dir, "id",
      Seq((2.5, "B"), (Double.NaN, "nan")).toDF("id", "v"))
    assert(nf === 1L && nu === 1L)
  }

  test("Int delete ids against a Long id column") {
    val dir = statsLake("vplan_int_")
    val (v, nf, nr) = VersionedLake.commitDelete(spark, dir, "id",
      Seq(3, 30, 31).toDF("id"))
    assert(v === 5L && nf === 2L && nr === 3L)
    val ids = VersionedLake.read(spark, dir).select("id").as[Long]
      .collect().toSet
    assert(ids === (0L until 100L).toSet -- Set(3L, 30L, 31L))
  }

  test("a 30,000-id set from a distributed frame deletes and upserts " +
      "exactly") {
    val dir = fresh("vplan_wide_")
    VersionedLake.commitAppend(spark, dir, spark.range(0L, 60000L)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
      .repartition(4), statsCol = Some("id")): Unit
    val (_, nf, nr) = VersionedLake.commitDelete(spark, dir, "id",
      spark.range(0L, 60000L, 2L).toDF("id"))
    assert(nf === 4L && nr === 30000L)
    val (_, _, nu) = VersionedLake.commitUpsert(spark, dir, "id",
      spark.range(1L, 60000L, 4L).select(col("id"), lit("u").as("v")))
    assert(nu === 15000L)
    val got = VersionedLake.read(spark, dir)
    assert(got.count() === 30000L)
    assert(got.where(col("id") % 2 === 0).isEmpty)
    assert(got.where(col("v") === "u").select(col("id") % 4 === 1)
      .as[Boolean].collect().toSeq === Seq.fill(15000)(true))
  }

  test("jobs per call on a stats lake: upsert 3, delete 2, delete_range " +
      "1 (0 for a manifest-only drop), range read 1; nothing persisted") {
    val dir = statsLake("vplan_jobs_")
    // files hold 0..24, 25..49, 50..74 and 75..99; the insert id -1
    // keeps the upsert's new files clear of both ranges deleted below
    val ((_, uf, un), upsertJobs) = jobs("upsert") {
      VersionedLake.commitUpsert(spark, dir, "id",
        Seq((10L, "ten"), (11L, "eleven"), (-1L, "new")).toDF("id", "v"))
    }
    assert(uf === 1L && un === 2L)
    assert(upsertJobs === 3)
    val ((_, nf, nr), deleteJobs) = jobs("delete") {
      VersionedLake.commitDelete(spark, dir, "id", Seq(40L, 41L).toDF("id"))
    }
    assert(nf === 1L && nr === 2L)
    assert(deleteJobs === 2)
    // [60, 80] straddles the files holding 50..74 and 75..99
    val ((_, dropped, rewritten, removed), rangeJobs) = jobs("delete_range") {
      VersionedLake.commitDeleteRange(spark, dir, 60L, 80L)
    }
    assert(dropped === 0L && rewritten === 2L && removed === 21L)
    assert(rangeJobs === 1)
    // [25, 49] holds the delete's rewrite of 25..49 whole: a manifest-only
    // drop, its row count from the footer
    val ((_, dropped2, rewritten2, removed2), dropJobs) = jobs("drop") {
      VersionedLake.commitDeleteRange(spark, dir, 25L, 49L)
    }
    assert(dropped2 === 1L && rewritten2 === 0L && removed2 === 23L)
    assert(dropJobs === 0)
    val v = VersionedLake.currentVersion(spark, dir)
    val (got, readJobs) = jobs("range read") {
      VersionedLake.readAsOfRange(spark, dir, v, 81L, 90L)
        .select("id").as[Long].collect().toSet
    }
    assert(got === (81L to 90L).toSet)
    assert(readJobs === 1)
  }

  test("a range delete whose straddler rewrite removes no row commits " +
      "nothing and leaves no data/m dir") {
    val dir = fresh("vplan_nomatch_")
    VersionedLake.commitAppend(spark, dir,
      Seq((0L, "lo"), (100L, "hi")).toDF("id", "v").repartition(1),
      statsCol = Some("id")): Unit
    assert(VersionedLake.commitDeleteRange(spark, dir, 40L, 60L) ===
      ((0L, 0L, 0L, 0L)))
    assert(VersionedLake.currentVersion(spark, dir) === 1L)
    val data = Paths.get(dir, "data")
    val mutationDirs = Files.list(data).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.startsWith("m"))
    assert(mutationDirs.isEmpty, s"orphan rewrite dirs: $mutationDirs")
  }

  test("readAsOfRange without a hint: the #schema= header, empty or not") {
    val dir = fresh("vplan_evolved_")
    VersionedLake.commitAppend(spark, dir, rows(0, 10),
      statsCol = Some("id")): Unit
    VersionedLake.commitAppend(spark, dir,
      rows(10, 20).withColumn("lang", concat(lit("l"), col("id") % 3))): Unit
    val got = VersionedLake.readAsOfRange(spark, dir, 2L, 5L, 14L)
    assert(got.columns.toSeq === Seq("id", "v", "lang"))
    val lang = got.collect().map(r => r.getLong(0) -> Option(r.getString(2)))
      .toMap
    assert(lang.keySet === (5L to 14L).toSet)
    assert((5L to 9L).forall(lang(_).isEmpty), "v1 rows predate lang")
    assert((10L to 14L).forall(i => lang(i) === Some(s"l${i % 3}")))
    val none = VersionedLake.readAsOfRange(spark, dir, 2L, 1000L, 2000L)
    assert(none.columns.toSeq === Seq("id", "v", "lang"))
    assert(none.count() === 0L)
  }
}
