package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level conflict detection for racing MUTATIONS
  * ([[VersionedLake.publishMutation]]) — the round-16 extension of
  * q191's optimistic appends to the read-modify-write commits. Pinned:
  *  - two deletes touching DISJOINT files both land (the loser rebases
  *    over the winner's commit; final membership = both applied);
  *  - a delete racing an APPEND rebases: the appended rows survive
  *    (delete-before-append serialization, the documented
  *    WriteSerializable shape) and the delete's targets are gone;
  *  - two mutations rewriting the SAME file abort the loser loudly
  *    with [[VersionedLake.ConcurrentMutationException]], committing
  *    nothing — history never silently drops the winner's change;
  *  - a MERGE racing an append that adds one of its INSERT ids aborts
  *    (a rebase would break the one-row-per-id contract);
  *  - a MERGE racing a schema-evolving commit aborts (its projection
  *    was planned against the old schema);
  *  - a compaction racing an append rebases — both land, content
  *    identical to append-then-compact minus the relayout.
  * All races are DETERMINISTIC via the beforePublish seam: the rival
  * commits inside the loser's publish window.
  */
class ConcurrentMutationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"text of doc $i")).toDF("doc_id", "text")
      .repartition(1)

  private def fresh(tag: String): String =
    Files.createTempDirectory(tag).toString + "/lake"

  private def idSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** Two appends → two files; each delete targets ids of ONE file. */
  private def twoFileLake(tag: String): String = {
    val dir = fresh(tag)
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 20)): Unit
    dir
  }

  test("racing DISJOINT deletes both land: the loser rebases over the " +
      "winner and final membership has both applied") {
    val dir = twoFileLake("cmut_disj_")
    var raced = false
    var vWinner = 0L
    val (vLoser, nf, nr) = VersionedLake.commitDelete(spark, dir,
      "doc_id", Seq(3L, 4L).toDF("doc_id"),
      beforePublish = () => if (!raced) {
        raced = true
        // the winner deletes from the OTHER file, inside the loser's
        // publish window
        vWinner = VersionedLake.commitDelete(spark, dir, "doc_id",
          Seq(15L).toDF("doc_id"))._1
      })
    assert(vWinner === 3L && vLoser === 4L, "both landed, linear history")
    assert(nf === 1L && nr === 2L)
    assert(idSet(VersionedLake.read(spark, dir)) ===
      ((0L until 20L).toSet -- Set(3L, 4L, 15L)))
    // the intermediate version is exactly the winner's state
    assert(idSet(VersionedLake.readAsOf(spark, dir, 3L)) ===
      ((0L until 20L).toSet - 15L))
  }

  test("delete racing an APPEND rebases: appended rows survive, the " +
      "delete's snapshot targets are gone") {
    val dir = twoFileLake("cmut_app_")
    var raced = false
    val (v, _, nr) = VersionedLake.commitDelete(spark, dir, "doc_id",
      Seq(7L).toDF("doc_id"),
      beforePublish = () => if (!raced) {
        raced = true
        VersionedLake.commitAppend(spark, dir, docs(20, 25)): Unit
      })
    assert(v === 4L && nr === 1L)
    assert(idSet(VersionedLake.read(spark, dir)) ===
      ((0L until 25L).toSet - 7L))
  }

  test("mutations rewriting the SAME file: the loser aborts loudly " +
      "and commits nothing") {
    val dir = twoFileLake("cmut_clash_")
    var raced = false
    val ex = intercept[VersionedLake.ConcurrentMutationException] {
      VersionedLake.commitDelete(spark, dir, "doc_id",
        Seq(3L).toDF("doc_id"),
        beforePublish = () => if (!raced) {
          raced = true
          // the winner deletes a DIFFERENT id in the SAME file
          VersionedLake.commitDelete(spark, dir, "doc_id",
            Seq(5L).toDF("doc_id")): Unit
        })
    }
    assert(ex.getMessage.contains("conflicts with concurrent"))
    assert(VersionedLake.currentVersion(spark, dir) === 3L,
      "only the winner committed")
    assert(idSet(VersionedLake.read(spark, dir)) ===
      ((0L until 20L).toSet - 5L),
      "the loser's delete must NOT be applied (3 still present)")
  }

  test("MERGE racing an append that adds one of its INSERT ids aborts " +
      "— the one-row-per-id contract survives") {
    val dir = twoFileLake("cmut_ins_")
    var raced = false
    val ex = intercept[VersionedLake.ConcurrentMutationException] {
      VersionedLake.commitUpsert(spark, dir, "doc_id",
        Seq((100L, "inserted")).toDF("doc_id", "text"),
        beforePublish = () => if (!raced) {
          raced = true
          VersionedLake.commitAppend(spark, dir,
            docs(100, 101)): Unit // the same id 100
        })
    }
    assert(ex.getMessage.contains("duplicate"))
    assert(VersionedLake.read(spark, dir)
      .where(col("doc_id") === 100L).count() === 1L)
  }

  test("MERGE racing an UNRELATED append rebases cleanly") {
    val dir = twoFileLake("cmut_okins_")
    var raced = false
    val (v, _, nUpd) = VersionedLake.commitUpsert(spark, dir, "doc_id",
      Seq((5L, "updated 5"), (100L, "inserted")).toDF("doc_id", "text"),
      beforePublish = () => if (!raced) {
        raced = true
        VersionedLake.commitAppend(spark, dir, docs(200, 205)): Unit
      })
    assert(v === 4L && nUpd === 1L)
    val fin = VersionedLake.read(spark, dir)
    assert(fin.count() === 26L) // 20 + 5 appended + 1 inserted
    assert(fin.where(col("doc_id") === 5L).select("text")
      .collect()(0).getString(0) === "updated 5")
  }

  test("MERGE racing a schema-evolving commit aborts loudly") {
    val dir = twoFileLake("cmut_schema_")
    var raced = false
    val ex = intercept[VersionedLake.ConcurrentMutationException] {
      VersionedLake.commitUpsert(spark, dir, "doc_id",
        Seq((5L, "updated 5")).toDF("doc_id", "text"),
        beforePublish = () => if (!raced) {
          raced = true
          // the winner EVOLVES the schema (adds lang) via an append
          VersionedLake.commitAppend(spark, dir,
            docs(300, 305).withColumn("lang", lit("x"))): Unit
        })
    }
    assert(ex.getMessage.contains("schema changed"))
    assert(VersionedLake.read(spark, dir)
      .where(col("doc_id") === 5L && col("text") === "updated 5")
      .count() === 0L, "the losing MERGE committed nothing")
  }

  test("compaction racing an append rebases: both land, appended " +
      "files carry over the relaid ones") {
    val dir = twoFileLake("cmut_cmpct_")
    var raced = false
    val v = VersionedLake.compact(spark, dir, nFiles = 1,
      beforePublish = () => if (!raced) {
        raced = true
        VersionedLake.commitAppend(spark, dir, docs(20, 30)): Unit
      })
    assert(v === 4L)
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 30L).toSet)
    // the compacted snapshot is 1 file; the racing append's file rides
    // on top → 2 files total
    assert(VersionedLake.filesOf(spark, dir, v).size === 2)
  }

  test("compaction racing a DELETE that rewrote a snapshot file " +
      "aborts — its output would resurrect the deleted rows") {
    val dir = twoFileLake("cmut_cmpdel_")
    var raced = false
    intercept[VersionedLake.ConcurrentMutationException] {
      VersionedLake.compact(spark, dir, nFiles = 1,
        beforePublish = () => if (!raced) {
          raced = true
          VersionedLake.commitDelete(spark, dir, "doc_id",
            Seq(5L).toDF("doc_id")): Unit
        })
    }
    assert(idSet(VersionedLake.read(spark, dir)) ===
      ((0L until 20L).toSet - 5L), "the winner's delete holds")
  }

  test("a MERGE racing an append whose files LACK the id column " +
      "rebases cleanly (non-colliding by definition) instead of dying " +
      "on the collision probe") {
    val dir = twoFileLake("cmut_noid_")
    var raced = false
    val (v, _, nUpd) = VersionedLake.commitUpsert(spark, dir, "doc_id",
      Seq((3L, "updated 3")).toDF("doc_id", "text"),
      beforePublish = () => if (!raced) {
        raced = true
        // heterogeneous racing append: text-only rows, no doc_id — the
        // lake schema is unchanged (doc_id reads NULL in its file), and
        // the rows are by definition free of id clashes
        VersionedLake.commitAppend(spark, dir,
          Seq("stray a", "stray b").toDF("text").repartition(1)): Unit
      })
    assert(v === 4L && nUpd === 1L, "the MERGE rebased and landed")
    val read = VersionedLake.readAsOf(spark, dir, v)
    assert(read.where(col("doc_id") === 3L).select("text")
      .collect()(0).getString(0) === "updated 3")
    assert(read.where(col("doc_id").isNull).count() === 2L,
      "the racer's id-less rows survive the rebase")
  }

  test("EMPTY append losing its publish race never claims the rival's " +
      "version as its own (the vacuous self-win)") {
    val dir = twoFileLake("cmut_empty_")
    var raced = false
    var vRival = 0L
    val vMine = VersionedLake.commitAppend(spark, dir, docs(0, 0),
      beforePublish = () => if (!raced) {
        raced = true
        vRival = VersionedLake.commitAppend(spark, dir, docs(30, 35))
      })
    assert(vRival === 3L)
    assert(vMine !== vRival,
      "an empty append has no entry to prove self-win by — it must " +
        "rebase, never report the rival's commit as its own")
    assert(idSet(VersionedLake.read(spark, dir)) ===
      ((0L until 20L) ++ (30L until 35L)).toSet)
  }
}
