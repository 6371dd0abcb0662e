package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 metadata-layer scalability + rewrite-schema hardening
  * ([[VersionedLake]]). Pinned:
  *  - the `#schema=` manifest header: every public commit kind stamps
  *    it (and `#ts=`); an upsert and an evolved read against the lake
  *    start no schema-inference job and still NULL-fill old files; a
  *    hand-stripped manifest fails loudly by version; a type-divergent
  *    append is refused and commits nothing;
  *  - rewrite paths read under the LAKE schema: compact, compactZOrder,
  *    commitDelete and commitDeleteRange on an EVOLVED lake keep
  *    evolution-added columns (a bare first-footer-wins read could
  *    silently and nondeterministically drop them);
  *  - the metadata checkpoint: commitTimes/history answer identically
  *    with and without it, manifest OPENS are bounded by
  *    commits-since-checkpoint, the streaming replay cursor resolves
  *    through it, and vacuum (which the checkpoint may lag) never
  *    resurrects dropped versions;
  *  - the vacuum retention floor: dropping a version younger than
  *    [[VersionedLake.DefaultRetentionMillis]] refuses without
  *    `force = true`, and the forced path still keeps newer versions
  *    readable;
  *  - the atomic no-replace publish (hard link on local FS): a second
  *    publish of the same version fails loudly, and vacuum sweeps
  *    STALE `.writing` side files while protecting fresh ones.
  */
class VersionedLakeMetaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def jobs[T](body: => T): (T, Int) = graft.JobsStarted(spark)(body)

  private def docs(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"text of doc $i")).toDF("doc_id", "text")
      .repartition(1)

  private def fresh(tag: String): String =
    Files.createTempDirectory(tag).toString + "/lake"

  private def idSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** Strip `#schema=` headers from every manifest — a lake this writer
    * never produces.
    */
  private def stripSchemaHeaders(dir: String): Unit = {
    val vd = java.nio.file.Paths.get(dir, "_versions")
    Files.list(vd).forEach { p =>
      if (p.getFileName.toString.endsWith(".txt")) {
        val kept = Files.readAllLines(p).stream()
          .filter(l => !l.startsWith("#schema=")).toArray.toSeq
          .map(_.toString)
        Files.writeString(p, kept.mkString("\n") + "\n")
        val crc = p.getParent.resolve("." + p.getFileName + ".crc")
        Files.deleteIfExists(crc): Unit // bytes changed: stale checksum
      }
    }
  }

  private def evolvedLake(tag: String): String = {
    val dir = fresh(tag)
    VersionedLake.commitAppend(spark, dir, docs(0, 10)): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 20)
      .withColumn("lang", concat(lit("l"), col("doc_id") % 3))): Unit
    dir
  }

  test("#schema= header: upsert against a header-bearing lake does " +
      "ZERO footer schema sweeps; evolved read NULL-fills old files") {
    val dir = evolvedLake("vmeta_hdr_")
    assert(VersionedLake.schemaOf(spark, dir, 2L).fieldNames.toSeq ===
      Seq("doc_id", "text", "lang"))
    val upd = Seq((5L, "updated 5", "l9"), (100L, "fresh 100", "l9"))
      .toDF("doc_id", "text", "lang")
    // id collect, hit scan, write: a footer sweep would be a 4th job
    val ((v3, nFiles, nUpd), upsertJobs) =
      jobs(VersionedLake.commitUpsert(spark, dir, "doc_id", upd))
    assert(upsertJobs === 3, "a MERGE must not sweep footers")
    assert(v3 === 3L && nFiles === 1L && nUpd === 1L)
    val (rowsRead, readJobs) = jobs(VersionedLake.readAsOf(spark, dir, v3)
      .collect())
    assert(readJobs === 1, "an evolved READ must start no inference job")
    assert(VersionedLake.readAsOf(spark, dir, v3).columns.toSeq ===
      Seq("doc_id", "text", "lang"))
    val rows = rowsRead.map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(rows(0L).isEmpty, "v1 files predate lang: NULL-filled")
    assert(rows(11L) === Some("l2"))
    assert(rows(5L) === Some("l9") && rows(100L) === Some("l9"))
  }

  test("every public commit kind publishes #schema= and #ts=; a " +
      "vacuum shadow keeps both") {
    val dir = fresh("vmeta_inv_")
    val vd = java.nio.file.Paths.get(dir, "_versions")
    def headers(name: String): Seq[String] =
      Files.readAllLines(vd.resolve(name)).toArray.toSeq.map(_.toString)
        .filter(_.startsWith("#"))
    def withN(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("n", col("doc_id") % 7)
    def row(id: Long) =
      Seq((id, s"updated $id", id % 7)).toDF("doc_id", "text", "n")
    val kinds = Seq[(String, () => Long)](
      "append" -> (() => VersionedLake.commitAppend(spark, dir,
        withN(docs(0, 10)), statsCol = Some("doc_id"))),
      "commitAppendForBatch" -> (() => VersionedLake.commitAppendForBatch(
        spark, dir, withN(docs(10, 20)), 0L)),
      "upsert" -> (() =>
        VersionedLake.commitUpsert(spark, dir, "doc_id", row(1L))._1),
      "commitUpsertForBatch" -> (() => VersionedLake.commitUpsertForBatch(
        spark, dir, "doc_id", row(2L), 1L)),
      "delete" -> (() => VersionedLake.commitDelete(spark, dir, "doc_id",
        Seq(3L).toDF("doc_id"))._1),
      "delete_range" -> (() =>
        VersionedLake.commitDeleteRange(spark, dir, 15L, 16L)._1),
      "compact" -> (() => VersionedLake.compact(spark, dir, nFiles = 2)),
      "compactZOrder" -> (() => VersionedLake.compactZOrder(spark, dir,
        "doc_id", "n", nFiles = 2)),
      "restore" -> (() => VersionedLake.restore(spark, dir, 7L)),
      "anchor append" -> (() =>
        VersionedLake.commitAppend(spark, dir, withN(docs(20, 25)))))
    kinds.zipWithIndex.foreach { case ((kind, commit), i) =>
      assert(commit() === i + 1L, s"$kind commits the next version")
      val hs = headers(f"v${i + 1}%06d.txt")
      assert(hs.exists(_.startsWith("#schema=")) &&
        hs.exists(_.startsWith("#ts=")), s"$kind: $hs")
    }
    VersionedLake.commitAppend(spark, dir, withN(docs(25, 30))): Unit
    // v3 is a delta: dropping v1..v2 materializes its .full shadow
    VersionedLake.vacuum(spark, dir, keepFrom = 3L, force = true): Unit
    val shadow = headers("v000003.full")
    assert(shadow.exists(_.startsWith("#schema=")) &&
      shadow.exists(_.startsWith("#ts=")), s"shadow: $shadow")
    assert(VersionedLake.schemaOf(spark, dir, 3L).fieldNames.toSeq ===
      Seq("doc_id", "text", "n"))
    assert(idSet(VersionedLake.read(spark, dir)) ===
      ((0L until 30L).toSet -- Set(3L, 15L, 16L)))
  }

  test("a manifest without #schema= fails loudly, naming the version") {
    val dir = evolvedLake("vmeta_stripped_")
    stripSchemaHeaders(dir)
    val ex = intercept[IllegalStateException](
      VersionedLake.read(spark, dir))
    assert(ex.getMessage.contains("version 2") &&
      ex.getMessage.contains("#schema="), ex.getMessage)
    val exU = intercept[IllegalStateException](
      VersionedLake.commitUpsert(spark, dir, "doc_id",
        Seq((5L, "u", "l9")).toDF("doc_id", "text", "lang")))
    assert(exU.getMessage.contains("version 2"), exU.getMessage)
    assert(VersionedLake.currentVersion(spark, dir) === 2L)
  }

  test("a type-divergent append is refused and commits nothing") {
    val dir = fresh("vmeta_drift_")
    VersionedLake.commitAppend(spark, dir, docs(0, 5)): Unit
    val dataDirs = Files.list(java.nio.file.Paths.get(dir, "data")).count()
    val ex = intercept[IllegalArgumentException](
      VersionedLake.commitAppend(spark, dir,
        Seq(("7", "doc 7")).toDF("doc_id", "text")))
    assert(ex.getMessage.contains("'doc_id' is string") &&
      ex.getMessage.contains("bigint") &&
      ex.getMessage.contains("cast explicitly"), ex.getMessage)
    assert(intercept[IllegalArgumentException](
      VersionedLake.commitAppendForBatch(spark, dir,
        Seq(("7", "doc 7")).toDF("doc_id", "text"), 0L))
      .getMessage.contains("cast explicitly"))
    assert(VersionedLake.currentVersion(spark, dir) === 1L)
    assert(Files.list(java.nio.file.Paths.get(dir, "data")).count() ===
      dataDirs, "the refusal writes no data file")
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 5L).toSet)
  }

  private def emptyUnderHeader(df: org.apache.spark.sql.DataFrame,
      dir: String, v: Long): Unit = {
    assert(df.schema === VersionedLake.schemaOf(spark, dir, v))
    assert(df.count() === 0L)
  }

  test("an empty version reads as an empty frame of its #schema= header") {
    val dir = fresh("vmeta_emptyver_")
    VersionedLake.commitAppend(spark, dir, docs(0, 4),
      statsCol = Some("doc_id")): Unit
    // a range covering every file drops them all by name
    val (v, _, _, _) = VersionedLake.commitDeleteRange(spark, dir, 0L, 100L)
    assert(VersionedLake.filesOf(spark, dir, v).isEmpty)
    emptyUnderHeader(VersionedLake.readAsOf(spark, dir, v), dir, v)
  }

  test("a range read admitting no file is an empty frame of the header") {
    val dir = fresh("vmeta_emptyrange_")
    val v = VersionedLake.commitAppend(spark, dir, docs(0, 4),
      statsCol = Some("doc_id"))
    val (kept, _) = VersionedLake.rangeFiles(spark, dir, v, 100L, 200L)
    assert(kept.isEmpty)
    emptyUnderHeader(
      VersionedLake.readAsOfRange(spark, dir, v, 100L, 200L), dir, v)
  }

  test("changesBetween two versions sharing every file: empty, header union") {
    val dir = fresh("vmeta_emptycdf_")
    VersionedLake.commitAppend(spark, dir, docs(0, 4)): Unit
    val v = VersionedLake.commitAppend(spark, dir,
      Seq((9L, "t", "en")).toDF("doc_id", "text", "lang"))
    val same = VersionedLake.changesBetween(spark, dir, v, v, "doc_id")
    assert(same.columns.toSeq === Seq("doc_id", "text", "lang", "change_type"))
    assert(same.count() === 0L)
    // the non-empty branch reads under the same union
    assert(VersionedLake.changesBetween(spark, dir, v - 1, v, "doc_id")
      .columns.toSeq === same.columns.toSeq)
  }

  test("rewrites on an EVOLVED lake keep evolution-added columns: " +
      "compact, compactZOrder, commitDelete, commitDeleteRange") {
    // compact
    val d1 = evolvedLake("vmeta_evc_")
    val vc = VersionedLake.compact(spark, d1, nFiles = 2)
    val c1 = VersionedLake.readAsOf(spark, d1, vc)
    assert(c1.columns.contains("lang"))
    assert(c1.where(col("lang").isNotNull).count() === 10L,
      "compacting an evolved lake must not drop the evolved column")
    // compactZOrder
    val d2 = fresh("vmeta_evz_")
    VersionedLake.commitAppend(spark, d2,
      docs(0, 10).withColumn("n", col("doc_id") * 7 % 13),
      statsCol = Some("doc_id,n")): Unit
    VersionedLake.commitAppend(spark, d2,
      docs(10, 20).withColumn("n", col("doc_id") * 7 % 13)
        .withColumn("lang", lit("x"))): Unit
    val vz = VersionedLake.compactZOrder(spark, d2, "doc_id", "n",
      nFiles = 2)
    val c2 = VersionedLake.readAsOf(spark, d2, vz)
    assert(c2.where(col("lang").isNotNull).count() === 10L)
    // commitDelete rewriting a PRE-evolution file (ids 0..9 live in the
    // v1 file, which predates lang) — survivors of that file must still
    // read under the evolved schema, and post-evolution rows keep theirs
    val d3 = evolvedLake("vmeta_evd_")
    val (vd, _, nRem) = VersionedLake.commitDelete(spark, d3, "doc_id",
      Seq(3L, 12L).toDF("doc_id"))
    assert(nRem === 2L)
    val c3 = VersionedLake.readAsOf(spark, d3, vd)
    assert(c3.count() === 18L)
    assert(c3.where(col("lang").isNotNull).count() === 9L,
      "a delete rewrite must keep the evolved column on surviving rows")
    // commitDeleteRange with a straddling EVOLVED file
    val d4 = fresh("vmeta_evr_")
    VersionedLake.commitAppend(spark, d4, docs(0, 10),
      statsCol = Some("doc_id")): Unit
    VersionedLake.commitAppend(spark, d4, docs(10, 20)
      .withColumn("lang", lit("y"))): Unit
    val (vr, _, nRw, _) =
      VersionedLake.commitDeleteRange(spark, d4, 15L, 30L)
    assert(nRw === 1L, "the evolved file straddles the range: rewritten")
    val c4 = VersionedLake.readAsOf(spark, d4, vr)
    assert(c4.where(col("lang") === "y").count() === 5L,
      "survivors of the straddler keep their evolved column")
  }

  test("metadata checkpoint: bounded manifest opens, identical " +
      "answers, vacuum-safe, replay cursor resolves through it") {
    val dir = fresh("vmeta_ckpt_")
    // one streaming batch FIRST, then 24 maintenance appends on top —
    // the worst case for the old newest-first cursor scan (every
    // manifest opened before finding the lone #batch header)
    VersionedLake.commitAppendForBatch(spark, dir, docs(0, 5), 0L): Unit
    (1 until 25).foreach { i =>
      VersionedLake.commitAppend(spark, dir,
        docs(i * 5L, i * 5L + 5L)): Unit
    }
    val ckpt = java.nio.file.Paths.get(dir, "_versions", "_checkpoint")
    assert(Files.exists(ckpt), "interval-10 checkpoint after 25 commits")
    // answers identical with and without the checkpoint
    val withCkpt = VersionedLake.commitTimes(spark, dir)
    val histWith = VersionedLake.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3))).toSeq
    val ckptBytes = Files.readAllBytes(ckpt)
    Files.delete(ckpt)
    assert(VersionedLake.commitTimes(spark, dir) === withCkpt)
    val histWithout = VersionedLake.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3))).toSeq
    assert(histWith === histWithout)
    Files.write(ckpt, ckptBytes): Unit
    // manifest OPENS bounded by commits since the checkpoint (at v20):
    // versions 21..25 open, 1..20 answer from the checkpoint's one read
    val o0 = VersionedLake.manifestOpens.get()
    VersionedLake.commitTimes(spark, dir): Unit
    assert(VersionedLake.manifestOpens.get() - o0 <= 5L,
      "commitTimes on a 25-commit lake must open only the 5 manifests " +
        "younger than the v20 checkpoint")
    // the streaming replay cursor (batch 0 at v1, far below the
    // checkpoint) resolves without opening the 20 checkpointed
    // manifests: a REPLAY of batch 0 is recognized
    val o1 = VersionedLake.manifestOpens.get()
    val li = VersionedLake.versionListings.get()
    assert(VersionedLake.commitAppendForBatch(
      spark, dir, docs(0, 5), 0L) === 1L)
    assert(VersionedLake.manifestOpens.get() - o1 <= 5L)
    assert(VersionedLake.versionListings.get() === li,
      "the exactly-once replay check must never LIST _versions/ on a " +
        "checkpointed lake — it runs once per micro-batch")
    // vacuum drops a prefix the checkpoint still lists: live listing
    // wins — dropped versions never resurface
    VersionedLake.vacuum(spark, dir, keepFrom = 23L, force = true): Unit
    assert(VersionedLake.versions(spark, dir) === Seq(23L, 24L, 25L))
    assert(VersionedLake.commitTimes(spark, dir).map(_._1) ===
      Seq(23L, 24L, 25L))
    assert(idSet(VersionedLake.read(spark, dir)) === (0L until 125L).toSet)
  }

  test("vacuum retention floor: fresh versions refuse to drop without " +
      "force; the forced drop keeps newer versions readable") {
    val dir = fresh("vmeta_floor_")
    VersionedLake.commitAppend(spark, dir, docs(0, 5)): Unit
    VersionedLake.commitAppend(spark, dir, docs(5, 10)): Unit
    VersionedLake.commitAppend(spark, dir, docs(10, 15)): Unit
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.vacuum(spark, dir, keepFrom = 2L)
    }
    assert(ex.getMessage.contains("retention floor"))
    assert(VersionedLake.versions(spark, dir) === Seq(1L, 2L, 3L),
      "the refusal must commit nothing")
    val exB = intercept[IllegalArgumentException] {
      VersionedLake.vacuumBefore(spark, dir,
        VersionedLake.commitTimes(spark, dir)(1)._2)
    }
    assert(exB.getMessage.contains("retention floor"))
    val (dropped, _) = VersionedLake.vacuum(spark, dir, keepFrom = 2L,
      force = true)
    assert(dropped === 1L)
    assert(idSet(VersionedLake.readAsOf(spark, dir, 2L)) ===
      (0L until 10L).toSet, "retained versions read exactly after the " +
        "forced vacuum")
  }

  test("atomic publish + side-file hygiene: double-publish of a " +
      "version refuses loudly; vacuum sweeps stale .writing files " +
      "but protects fresh ones") {
    val dir = fresh("vmeta_pub_")
    VersionedLake.commitAppend(spark, dir, docs(0, 5)): Unit
    VersionedLake.commitAppend(spark, dir, docs(5, 10)): Unit
    val vd = java.nio.file.Paths.get(dir, "_versions")
    // a crashed publish's orphan, 2 h stale vs a fresh in-flight one
    val stale = vd.resolve("v000009.txt.deadbeef.writing")
    val freshSide = vd.resolve("v000010.txt.cafebabe.writing")
    Files.writeString(stale, "#ts=1\n")
    Files.writeString(freshSide, "#ts=1\n")
    Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 7200000L)): Unit
    VersionedLake.vacuum(spark, dir, keepFrom = 2L, force = true): Unit
    assert(!Files.exists(stale), "stale .writing orphan swept")
    assert(Files.exists(freshSide), "fresh side file protected by grace")
    Files.delete(freshSide)
    // double publish of an existing version: loud refusal at the probe
    // / atomic no-replace link — never a silent replace of committed
    // bytes (the 4-thread race in VersionedLakeHardeningSpec drives the
    // probe-passed, link-refused interleaving end-to-end)
    val basePath = new org.apache.hadoop.fs.Path(dir)
    val hfs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = Files.readAllBytes(vd.resolve("v000002.txt"))
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.writeManifest(hfs, basePath, 2L,
        Seq("data/ghost/part-0.parquet"))
    }
    assert(ex.getMessage.contains("already committed"))
    assert(Files.readAllBytes(vd.resolve("v000002.txt")) === before,
      "published manifests are never rewritten")
  }

  test("currentVersion probes FORWARD from the checkpoint: zero " +
      "directory listings on a checkpointed lake, vacuum refreshes the " +
      "anchor, stale/missing checkpoints fall back to the listing") {
    val dir = fresh("vmeta_probe_")
    (0 until 25).foreach { i =>
      VersionedLake.commitAppend(spark, dir,
        docs(i * 5L, i * 5L + 5L)): Unit
    }
    val ckpt = java.nio.file.Paths.get(dir, "_versions", "_checkpoint")
    val ckptAtV20 = Files.readAllBytes(ckpt) // ckpt_v=20 snapshot
    val l0 = VersionedLake.versionListings.get()
    assert(VersionedLake.currentVersion(spark, dir) === 25L)
    assert(VersionedLake.versionListings.get() === l0,
      "a checkpointed lake's currentVersion must never list _versions/ " +
        "— one checkpoint read + O(commits since checkpoint) probes")
    // vacuum refreshes the checkpoint to the newest survivor: the probe
    // stays listing-free even though versions below keepFrom are gone
    VersionedLake.vacuum(spark, dir, keepFrom = 23L, force = true): Unit
    val l1 = VersionedLake.versionListings.get()
    assert(VersionedLake.currentVersion(spark, dir) === 25L)
    assert(VersionedLake.versionListings.get() === l1,
      "the post-vacuum checkpoint must keep the probe listing-free")
    // commits keep working off the probe
    assert(VersionedLake.commitAppend(spark, dir, docs(200, 205)) === 26L)
    // STALE checkpoint (crash between vacuum's drop and its refresh):
    // the anchor manifest v20 is vacuumed — probe falls back to the
    // full listing, same answer
    Files.write(ckpt, ckptAtV20): Unit
    val l2 = VersionedLake.versionListings.get()
    assert(VersionedLake.currentVersion(spark, dir) === 26L)
    assert(VersionedLake.versionListings.get() > l2,
      "a stale checkpoint below the vacuumed prefix must demote to the " +
        "listing, never answer wrong")
    // NO checkpoint at all: fallback listing, same answer
    Files.delete(ckpt)
    assert(VersionedLake.currentVersion(spark, dir) === 26L)
  }
}
