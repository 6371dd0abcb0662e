package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sinks.VersionedLake

final case class LakeRow(id: Long, claimId: String, grp: String,
    amount: Double, flag: Boolean, rev: Int, payload: String)

/** A VersionedLake with manifest id stats, driven by a seeded cycle of
  * public calls that is the same in every run: appends of new ids,
  * MERGE upserts and id deletes on narrow id bands, a retention
  * `commitDeleteRange` on the oldest ids, `readAsOfRange` on a narrow
  * range of the current and an older version, and a clustered `compact`
  * closing each cycle. Appends and the retention sweep move the same
  * number of ids, and the compaction resets the file layout, so live
  * rows and file count stay level across a run.
  *
  * An in-memory model (one immutable map per version) replays the same
  * sequence; every returned count and every range-read row is checked
  * against it.
  */
final class LakeMixed(spark: SparkSession, seed: Long, work: Path)
    extends Workload {

  private val BaseRows = 20000
  // ~1,000 ids a file after each compaction and a 2,000-id retention
  // sweep a cycle: the sweep drops whole files and rewrites straddlers
  private val FileCount = 20
  private val AppendRows = 2000
  private val BandRows = 50
  private val RangeWidth = 200
  private val Kinds = Vector("append", "range_read", "upsert", "delete",
    "range_read_old", "delete_range", "compact")
  val cycle: Int = Kinds.size
  // the first call of each kind is cold: warm up one whole cycle
  val warmOps: Int = cycle
  val heapOps = 36
  private val dir = work.resolve("lake").toString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("claimId", StringType), StructField("grp", StringType),
    StructField("amount", DoubleType, nullable = false),
    StructField("flag", BooleanType, nullable = false),
    StructField("rev", IntegerType, nullable = false),
    StructField("payload", StringType)))

  private var models = Map.empty[Long, TreeMap[Long, LakeRow]]
  private var version = 0L
  private var nextId = BaseRows.toLong
  private var retainFrom = 0L
  private var bytesPerRow = 0.0

  private def model = models(version)

  private def row(id: Long, rev: Int): LakeRow = {
    val r = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + id * 1000003L + rev)
    val payload = new StringBuilder(48)
    while (payload.length < 48) payload += ('a' + r.nextInt(26)).toChar
    LakeRow(id, f"CL$id%012d", f"G${r.nextInt(16)}%02d",
      r.nextInt(10000000) / 100.0, r.nextBoolean(), rev, payload.result())
  }

  private def frame(rows: Seq[LakeRow], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(r =>
      Row(r.id, r.claimId, r.grp, r.amount, r.flag, r.rev, r.payload)), parts),
      schema)

  private def commit(v: Long, m: TreeMap[Long, LakeRow]): Unit = {
    version = v
    models += v -> m
  }

  def setup(): Unit = {
    val base = (0L until BaseRows).map(row(_, 0))
    val v = VersionedLake.commitAppend(spark, dir, frame(base, FileCount),
      statsCol = Some("id"))
    commit(v, TreeMap(base.map(r => r.id -> r): _*))
    bytesPerRow = VersionedLake.filesOf(spark, dir, v)
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(dir, f)))
      .sum.toDouble / BaseRows
  }

  /** `n` live ids, consecutive from a seeded point of `[from, until)`. */
  private def band(r: SplittableRandom, from: Long, until: Long,
      n: Int): Seq[Long] = {
    val start = from + r.nextLong(math.max(1L, until - from - 4L * n))
    model.keysIteratorFrom(start).take(n).toVector
  }

  private def randomKey(m: TreeMap[Long, LakeRow], r: SplittableRandom): Long =
    m.keysIterator.drop(r.nextInt(m.size)).next()

  def op(i: Int, clock: Clock): OpOut = {
    val kind = Kinds(i % cycle)
    val r = new SplittableRandom(seed * 31L + i)
    def expectV(got: Long, want: Long): Option[String] =
      Option.when(got != want)(s"$kind committed version $got, expected $want")
    // user bytes a mutation asked for: rows changed x stored bytes a row
    def user(rows: Long) = "user_bytes" -> rows * bytesPerRow
    kind match {
      case "append" =>
        val rows = (nextId until nextId + AppendRows).map(row(_, 0))
        val df = frame(rows, 1)
        val v = clock { VersionedLake.commitAppend(spark, dir, df) }
        nextId += AppendRows
        val err = expectV(v, version + 1)
        commit(v, model ++ rows.map(x => x.id -> x))
        OpOut(kind, 1, err, Map(user(AppendRows)))
      case "upsert" =>
        val ids = band(r, nextId - 3000, nextId, BandRows)
        val rows = ids.map(id => row(id, model(id).rev + 1))
        val df = frame(rows, 1)
        val (v, rewritten, updated) =
          clock { VersionedLake.commitUpsert(spark, dir, "id", df) }
        val err = expectV(v, version + 1).orElse(Option.when(updated != ids.size)(
          s"upsert updated $updated rows, expected ${ids.size}"))
        commit(v, model ++ rows.map(x => x.id -> x))
        OpOut(kind, 1, err, Map("files_rewritten" -> rewritten.toDouble,
          user(ids.size)))
      case "delete" =>
        val ids = band(r, retainFrom, nextId, BandRows)
        import spark.implicits._
        val df = spark.createDataset(ids).toDF("id")
        val (v, rewritten, removed) =
          clock { VersionedLake.commitDelete(spark, dir, "id", df) }
        val err = expectV(v, version + 1).orElse(Option.when(removed != ids.size)(
          s"delete removed $removed rows, expected ${ids.size}"))
        commit(v, model -- ids)
        OpOut(kind, 1, err, Map("files_rewritten" -> rewritten.toDouble,
          user(ids.size)))
      case "delete_range" =>
        val (lo, hi) = (retainFrom, retainFrom + AppendRows - 1L)
        val gone = model.range(lo, hi + 1).keys.toVector
        val (v, dropped, _, removed) =
          clock { VersionedLake.commitDeleteRange(spark, dir, lo, hi) }
        retainFrom = hi + 1
        val want = if (gone.isEmpty) 0L else version + 1
        val err = expectV(v, want).orElse(Option.when(removed != gone.size)(
          s"delete_range removed $removed rows, expected ${gone.size}"))
        if (v != 0) commit(v, model -- gone)
        OpOut(kind, 1, err, Map("files_dropped" -> dropped.toDouble,
          user(gone.size)))
      case "range_read" | "range_read_old" =>
        val v = if (kind == "range_read") version else math.max(1L, version - 3)
        val m = models(v)
        val lo = randomKey(m, r)
        val hi = lo + RangeWidth - 1
        val got = clock {
          VersionedLake.readAsOfRange(spark, dir, v, lo, hi).collect()
        }.map(x => LakeRow(x.getAs[Long]("id"), x.getAs[String]("claimId"),
          x.getAs[String]("grp"), x.getAs[Double]("amount"),
          x.getAs[Boolean]("flag"), x.getAs[Int]("rev"),
          x.getAs[String]("payload"))).toVector
        val want = m.range(lo, hi + 1).values.toVector
        val (admitted, total) = VersionedLake.rangeFiles(spark, dir, v, lo, hi)
        OpOut("range_read", 1, Check.rows(got, want),
          Map("files_admitted" -> admitted.size.toDouble,
            "files_total" -> total.toDouble))
      case "compact" =>
        val v = clock {
          VersionedLake.compact(spark, dir, FileCount, sortCol = Some("id"))
        }
        val err = expectV(v, version + 1).orElse {
          val n = VersionedLake.readAsOf(spark, dir, v).count()
          Option.when(n != model.size)(s"compacted version has $n rows, " +
            s"expected ${model.size}")
        }
        commit(v, model)
        OpOut(kind, 1, err, Map.empty)
    }
  }

  def selfCheck(): Option[String] =
    Check.rowsSelfCheck(model.values.take(RangeWidth).toVector)

  def finish(): Map[String, Double] = {
    val files = VersionedLake.filesOf(spark, dir, version).size.toDouble
    models = Map.empty
    Map("VersionedLake.files_live" -> files,
      "VersionedLake.versions" -> version.toDouble)
  }
}
