package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Similarity.writeIvfLake]] / [[Similarity.ivfTopKOverLake]]: the
  * cell-partitioned IVF lake. Pinned: exact result equality with the
  * in-memory [[Similarity.ivfTopK]] at the same parameters (the lake
  * changes where bytes come from, never what is computed), partition
  * PRUNING evidence (the probe filter becomes a PartitionFilters entry
  * and unprobed cells are never listed into the scan), and sidecar
  * round-tripping (centroid geometry identical between writer and
  * reader).
  */
class IvfLakeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dim = 8

  private def corpus(n: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    // 8 loose clusters so cells have real structure
    (0 until n).map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(dim)(j =>
        (math.cos(c * 0.7 + j) + rnd.nextGaussian() * 0.15).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def topk(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq

  test("lake search equals in-memory ivfTopK exactly (same params)") {
    val emb = corpus(200)
    val qs = emb.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("ivflake").toString +
      "/lake"
    val cells = Similarity.writeIvfLake(emb, dir, "vec_id", "embedding",
      dim, nCells = 16)
    assert(cells === 16)
    val lake = topk(Similarity.ivfTopKOverLake(spark, dir, qs,
      "vec_id", "embedding", dim, k = 5, nProbe = 6))
    val mem = topk(Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
      dim, k = 5, nCells = 16, nProbe = 6))
    assert(lake === mem)
    assert(lake.map(_._1).distinct.size === 5)
  }

  test("probe filter is a partition filter: unprobed cells never scanned") {
    val emb = corpus(200)
    val qs = emb.filter(col("vec_id") === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivflake2").toString +
      "/lake"
    Similarity.writeIvfLake(emb, dir, "vec_id", "embedding", dim,
      nCells = 16)
    val res = Similarity.ivfTopKOverLake(spark, dir, qs,
      "vec_id", "embedding", dim, k = 3, nProbe = 2)
    val p = res.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters: [cell"),
      s"probe filter did not become a partition filter:\n$p")
    // 1 query × 2 probes → the static partition filter lists at most 2
    // of the 16 cell directories into the scan
    val inList = "PartitionFilters: \\[cell#\\d+L? IN \\(([^)]*)\\)".r
      .findFirstMatchIn(p).map(_.group(1).split(",").length)
    assert(inList.exists(_ <= 2),
      s"expected <= 2 probed cells in the partition filter, got $inList:\n$p")
  }

  test("sidecar geometry: reader cells match writer cells, rewrite-safe") {
    val emb = corpus(120)
    val dir = java.nio.file.Files.createTempDirectory("ivflake3").toString +
      "/lake"
    Similarity.writeIvfLake(emb, dir, "vec_id", "embedding", dim,
      nCells = 8)
    // rewrite with different cell count: sidecar must follow the layout
    Similarity.writeIvfLake(emb, dir, "vec_id", "embedding", dim,
      nCells = 4)
    val cents = spark.read.parquet(dir + "/_ivf_centroids").collect()
    assert(cents.length === 4)
    // and the partitioned read sees only the 4-cell layout
    val layout = spark.read.parquet(dir)
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(layout.forall(_ < 4), s"stale cells in layout: ${layout.toSeq}")
    // auto nProbe path runs green over the lake
    val qs = emb.filter(col("vec_id") < 3)
    val res = Similarity.ivfTopKOverLake(spark, dir, qs,
      "vec_id", "embedding", dim, k = 4)
    assert(res.count() > 0)
  }

  test("incremental append: frozen-centroid assignment, search = frozen twin") {
    val emb = corpus(96)
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val inc = emb.filter(col("vec_id") % 4 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_append_spec_").toString + "/lake"
    Similarity.writeIvfLake(base, dir, "vec_id", "embedding", dim,
      nCells = 8): Unit
    val centsBefore = spark.read.parquet(dir + "/_ivf_centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    Similarity.appendToIvfLake(inc, dir, "vec_id", "embedding", dim)
    // every id present exactly once; sidecar untouched by the append
    val ids = spark.read.parquet(dir).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until 96L), s"ids after append: ${ids.length}")
    val centsAfter = spark.read.parquet(dir + "/_ivf_centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(centsAfter === centsBefore, "append must not retrain")
    // appended rows sit in the cell the FROZEN centroids assign — the
    // lake search must equal the in-memory frozen twin exactly
    val qs = emb.filter(col("vec_id") < 5)
    val lake = topk(Similarity.ivfTopKOverLake(spark, dir, qs,
      "vec_id", "embedding", dim, k = 4, nProbe = 4))
    val mem = topk(Similarity.ivfTopKFrozen(emb, qs, "vec_id",
      "embedding", dim, k = 4, lakeDir = dir, nProbe = 4))
    assert(lake === mem)
    // and appended vectors are actually findable: a DISTINCT query id
    // carrying an appended vector's exact embedding must retrieve THAT
    // id as its top hit (ivfScore excludes q_id == id self-matches, so
    // the probe must not reuse vec_id 8 — and checking the rank column
    // alone would be vacuous: a k=1 result always has rank 1)
    import spark.implicits._
    val v8 = inc.filter(col("vec_id") === 8)
      .collect()(0).getSeq[Float](1)
    val probe = Seq((1008L, v8)).toDF("vec_id", "embedding")
    val hit = Similarity.ivfTopKOverLake(spark, dir, probe,
      "vec_id", "embedding", dim, k = 1, nProbe = 4).collect()
    assert(hit.nonEmpty && hit(0).getLong(1) === 8L,
      s"appended vector not retrieved: ${hit.toSeq}")
  }

  test("change-feed sync: synced lake searches exactly like the frozen " +
      "twin over the new membership; departures gone, arrivals findable") {
    import spark.implicits._
    import graft.sinks.VersionedLake
    val emb = corpus(96)
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val scratch = java.nio.file.Files
      .createTempDirectory("ivf_sync_spec_").toString
    val lakeDir = s"$scratch/lake"
    val ivfDir = s"$scratch/ivf"
    VersionedLake.commitAppend(spark, lakeDir, base): Unit
    Similarity.writeIvfLake(base, ivfDir, "vec_id", "embedding", dim,
      nCells = 8): Unit
    // MERGE: re-embed vec 1 with vec 2's vector, insert the held-out
    // %4==0 rows; then take down vecs 5 and 9
    val v2 = emb.filter(col("vec_id") === 2).collect()(0).getSeq[Float](1)
    val updates = Seq((1L, v2)).toDF("vec_id", "embedding")
      .unionByName(emb.filter(col("vec_id") % 4 === 0))
    VersionedLake.commitUpsert(spark, lakeDir, "vec_id", updates): Unit
    VersionedLake.commitDelete(spark, lakeDir, "vec_id",
      Seq(5L, 9L).toDF("vec_id")): Unit
    val feed = VersionedLake.changesBetween(spark, lakeDir, 1L, 3L, "vec_id")
    val (nDep, nArr) = Similarity.applyChangesToIvfLake(
      spark, ivfDir, feed, "vec_id", "embedding", dim)
    assert(nDep === 3L, "vec 1's preimage + vecs 5/9 depart")
    assert(nArr === 25L, "vec 1's postimage + 24 held-out arrivals")
    // membership: every id exactly once, 5/9 gone, %4==0 present
    val ids = spark.read.parquet(ivfDir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 96L).filterNot(i => i == 5L || i == 9L))
    // search == frozen twin over the source lake's final membership
    val qs = emb.filter(col("vec_id") < 5)
    val lake = topk(Similarity.ivfTopKOverLake(spark, ivfDir, qs,
      "vec_id", "embedding", dim, k = 4, nProbe = 4))
    val mem = topk(Similarity.ivfTopKFrozen(
      VersionedLake.read(spark, lakeDir), qs, "vec_id", "embedding",
      dim, k = 4, lakeDir = ivfDir, nProbe = 4))
    assert(lake === mem)
    // the re-embedded vec 1 now answers a probe carrying vec 2's vector
    val probe = Seq((1002L, v2)).toDF("vec_id", "embedding")
    val hits = Similarity.ivfTopKOverLake(spark, ivfDir, probe,
      "vec_id", "embedding", dim, k = 2, nProbe = 8).collect()
      .map(_.getLong(1)).toSet
    assert(hits === Set(1L, 2L),
      s"re-embedded vector must tie its source: $hits")
  }

  // --- compaction ---------------------------------------------------------

  private def dataFiles(dir: String): Map[Long, Seq[java.io.File]] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map { d =>
        d.getName.stripPrefix("cell=").toLong ->
          d.listFiles().filter(f => f.isFile &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))
            .toSeq.sortBy(_.getName)
      }.toMap

  /** base write + 3 appends over a fresh temp lake. */
  private def appendedLake(tag: String): (String,
      org.apache.spark.sql.DataFrame) = {
    val emb = corpus(120)
    val dir = java.nio.file.Files.createTempDirectory(tag).toString + "/lake"
    Similarity.writeIvfLake(emb.filter(col("vec_id") % 4 =!= 0), dir,
      "vec_id", "embedding", dim, nCells = 8): Unit
    (0 until 3).foreach { s =>
      Similarity.appendToIvfLake(
        emb.filter(col("vec_id") % 4 === 0 &&
          pmod(col("vec_id") / 4, lit(3)) === s),
        dir, "vec_id", "embedding", dim)
    }
    (dir, emb)
  }

  test("compaction: one file per fat cell after, rows and search invariant, sidecar intact") {
    val (dir, emb) = appendedLake("ivf_cmp_")
    val before = dataFiles(dir)
    assert(before.values.exists(_.size > 1), "fixture grew no fat cells")
    val qs = emb.filter(col("vec_id") < 5)
    val pre = topk(Similarity.ivfTopKOverLake(spark, dir, qs,
      "vec_id", "embedding", dim, k = 4, nProbe = 4))
    val centsBefore = spark.read.parquet(dir + "/_ivf_centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val (nb, na) = Similarity.compactIvfLake(spark, dir)
    assert(nb === before.values.map(_.size).sum.toLong)
    val after = dataFiles(dir)
    assert(na === after.values.map(_.size).sum.toLong)
    assert(after.values.forall(_.size == 1),
      s"cells not compacted to one file: ${after.view.mapValues(_.size).toMap}")
    assert(na < nb)
    // row multiset invariant (ids are unique here, so a sorted id list
    // catches loss AND duplication); search results identical
    val ids = spark.read.parquet(dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 120L))
    val post = topk(Similarity.ivfTopKOverLake(spark, dir, qs,
      "vec_id", "embedding", dim, k = 4, nProbe = 4))
    assert(post === pre, "compaction changed search results")
    val centsAfter = spark.read.parquet(dir + "/_ivf_centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(centsAfter === centsBefore, "compaction touched the sidecar")
    // untouched (single-file) cells were not rewritten: same file name
    before.filter(_._2.size == 1).foreach { case (c, fs) =>
      assert(after(c).map(_.getName) === fs.map(_.getName),
        s"single-file cell $c was rewritten")
    }
    // idempotent: a second pass is a no-op
    assert(Similarity.compactIvfLake(spark, dir) === ((na, na)))
  }

  test("compaction crash recovery: uncommitted tmp discarded, committed tmp completes") {
    val (dir, emb) = appendedLake("ivf_cmp_crash_")
    val qs = emb.filter(col("vec_id") < 5)
    val pre = topk(Similarity.ivfTopKOverLake(spark, dir, qs,
      "vec_id", "embedding", dim, k = 4, nProbe = 4))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // window 1: tmp exists, NO manifest — a mid-write corpse. Recovery
    // must discard it and the pass must still compact correctly.
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact_tmp")
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp, "cell=0"))
    val (nb1, na1) = Similarity.compactIvfLake(spark, dir)
    assert(na1 < nb1 && !fs.exists(tmp))
    assert(topk(Similarity.ivfTopKOverLake(spark, dir, qs,
      "vec_id", "embedding", dim, k = 4, nProbe = 4)) === pre)
    // window 2: a COMMITTED pass that died before promoting — rebuild
    // the fat state with fresh appends, run a real rewrite into tmp by
    // hand (reusing the operator's own write shape), commit the
    // manifest, then "crash": the next pass must finish it exactly.
    (0 until 2).foreach { s =>
      Similarity.appendToIvfLake(
        emb.filter(col("vec_id") % 4 === 0 &&
          pmod(col("vec_id") / 4, lit(2)) === s),
        dir, "vec_id", "embedding", dim)
    }
    // duplicate ids now exist (re-appended slice) — compaction must
    // preserve the multiset, so count rows per id before/after
    val rowsBefore = spark.read.parquet(dir).groupBy("id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fat = dataFiles(dir).filter(_._2.size > 1).keys.toSeq.sorted
    assert(fat.nonEmpty)
    spark.read.parquet(dir)
      .filter(col("cell").isin(fat.map(_.asInstanceOf[Any]): _*))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    graft.streaming.PartialAggs.writeManifest(fs, tmp, fat)
    val (nb2, na2) = Similarity.compactIvfLake(spark, dir)
    assert(!fs.exists(tmp), "committed tmp must be promoted and removed")
    assert(na2 <= nb2)
    val rowsAfter = spark.read.parquet(dir).groupBy("id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rowsAfter === rowsBefore, "recovery lost or duplicated rows")
    assert(dataFiles(dir).values.forall(_.size == 1))
  }

  // --- drift + recluster ----------------------------------------------------

  /** A SHIFTED distribution: same generator family, orthogonal phase —
    * vectors the base-trained centroids explain poorly.
    */
  private def shifted(lo: Int, hi: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(23L)
    (lo until hi).map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(dim)(j =>
        (math.sin(c * 1.9 + j * 2.3) + rnd.nextGaussian() * 0.15).toFloat)
        .toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** recall@k of `got` against the brute-force oracle over `corpus`. */
  private def recallAt(corpus: org.apache.spark.sql.DataFrame,
      qs: org.apache.spark.sql.DataFrame, k: Int,
      got: org.apache.spark.sql.DataFrame): Double = {
    val truth = Similarity.bruteForceTopK(corpus, qs, "vec_id",
      "embedding", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ours = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (truth & ours).size.toDouble / truth.size
  }

  test("drift probe fires on shifted arrivals; recluster restores the " +
      "residual, the recall floor, and the frozen-twin equality") {
    val base = corpus(200)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_drift_").toString + "/lake"
    Similarity.writeIvfLake(base, dir, "vec_id", "embedding", dim,
      nCells = 16): Unit
    // in-distribution: the probe must stay quiet
    val (b0, c0, r0, d0) = Similarity.ivfDriftProbe(spark, dir, dim)
    assert(!d0, s"probe fired with no drift (base=$b0 cur=$c0 ratio=$r0)")
    // a shifted vintage arrives retrain-free
    val inc = shifted(1000, 1100)
    Similarity.appendToIvfLake(inc, dir, "vec_id", "embedding", dim)
    val (_, c1, r1, d1) = Similarity.ivfDriftProbe(spark, dir, dim)
    assert(d1, s"probe must fire after the shifted vintage " +
      s"(base=$b0 cur=$c1 ratio=$r1)")
    val all = base.unionByName(inc)
    val qs = shifted(1000, 1100).filter(col("vec_id") < 1005)
    val preRecall = recallAt(all, qs,
      k = 5, Similarity.ivfTopKOverLake(spark, dir, qs, "vec_id",
        "embedding", dim, k = 5, nProbe = 4))
    // retrain-and-swap on the current membership
    val cells = Similarity.reclusterIvfLake(spark, dir, "vec_id",
      "embedding", dim, nCells = 16)
    assert(cells === 16)
    // the probe is quiet again: the new baseline PRICED the mixture
    val (_, _, r2, d2) = Similarity.ivfDriftProbe(spark, dir, dim)
    assert(!d2, s"probe still fires after recluster (ratio=$r2)")
    // membership identical across the swap (resolved via the
    // generation pointer — the lake root now holds _gen_* subdirs)
    assert(spark.read.parquet(Similarity.ivfDataDir(spark, dir))
      .select("id")
      .collect().map(_.getLong(0)).sorted.toSeq ===
      ((0L until 200L) ++ (1000L until 1100L)))
    // recall restored to the spec floor (and never worse than pre)
    val postRecall = recallAt(all, qs,
      k = 5, Similarity.ivfTopKOverLake(spark, dir, qs, "vec_id",
        "embedding", dim, k = 5, nProbe = 4))
    assert(postRecall >= 0.9,
      s"recall floor after recluster: $postRecall (pre was $preRecall)")
    assert(postRecall >= preRecall - 1e-9,
      s"recluster degraded recall: $preRecall -> $postRecall")
    // the q152/q184 contract holds across the swap: lake search equals
    // the frozen twin reading the NEW sidecar geometry
    assert(topk(Similarity.ivfTopKOverLake(spark, dir, qs, "vec_id",
      "embedding", dim, k = 4, nProbe = 4)) ===
      topk(Similarity.ivfTopKFrozen(all, qs, "vec_id", "embedding",
        dim, k = 4, lakeDir = dir, nProbe = 4)))
  }

  test("reader-safe recluster publish: crashed builds sweep, the " +
      "previous generation is retained for in-flight readers, a " +
      "concurrent reader across the swap never hits a missing path, " +
      "PQ codebooks carry") {
    import org.apache.hadoop.fs.Path
    val emb = corpus(160)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_reclus_rec_").toString + "/lake"
    Similarity.writeIvfPqLake(emb, dir, "vec_id", "embedding", dim,
      nCells = 8, m = 4, ksub = 8): Unit
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed prior build: an orphan generation no pointer names —
    // invisible to readers, swept by the next recluster
    fs.mkdirs(new Path(dir + "/_gen_deadbeef0000/garbage"))
    Similarity.reclusterIvfLake(spark, dir, "vec_id", "embedding", dim,
      nCells = 8): Unit
    assert(!fs.exists(new Path(dir + "/_gen_deadbeef0000")),
      "orphan generation swept")
    // legacy flat layout migrated: root cell dirs gone, pointer present
    assert(!fs.listStatus(new Path(dir))
      .exists(_.getPath.getName.startsWith("cell=")))
    val gen1 = Similarity.ivfDataDir(spark, dir)
    assert(gen1 != dir, "resolver follows the generation pointer")
    // PQ codebooks carried verbatim: the composed lake still searches
    // exactly like its frozen twin under the NEW cell geometry
    val qs = emb.filter(col("vec_id") < 5)
    assert(topk(Similarity.ivfPqTopKOverLake(spark, dir, qs, "vec_id",
      "embedding", dim, k = 4, nProbe = 4, refine = 4)) ===
      topk(Similarity.ivfPqTopKFrozen(emb, qs, "vec_id", "embedding",
        dim, k = 4, lakeDir = dir, nProbe = 4, refine = 4)))
    // SECOND recluster with a CONCURRENT reader hammering the lake:
    // the reader must see old-or-new results, never a missing path —
    // the old directory-rename protocol had exactly that outage window
    @volatile var readerError: Option[Throwable] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      try {
        while (!stop) {
          val n = spark.read
            .parquet(Similarity.ivfDataDir(spark, dir)).count()
          assert(n === 160L, s"reader saw a partial lake: $n rows")
        }
      } catch { case t: Throwable => readerError = Some(t) }
    })
    reader.start()
    try {
      Similarity.reclusterIvfLake(spark, dir, "vec_id", "embedding",
        dim, nCells = 8): Unit
    } finally { stop = true; reader.join(30000) }
    assert(readerError.isEmpty,
      s"concurrent reader failed across the swap: $readerError")
    val gen2 = Similarity.ivfDataDir(spark, dir)
    assert(gen2 != gen1, "the pointer moved to the new generation")
    assert(fs.exists(new Path(gen1)),
      "the PREVIOUS generation is retained for in-flight readers")
    // third recluster retires gen1 (two swaps old)
    Similarity.reclusterIvfLake(spark, dir, "vec_id", "embedding", dim,
      nCells = 8): Unit
    assert(!fs.exists(new Path(gen1)),
      "a generation two swaps old is swept")
    assert(spark.read.parquet(Similarity.ivfDataDir(spark, dir))
      .count() === 160L)
  }

  test("legacy flat-layout leftovers of a recluster that CRASHED after " +
      "its pointer publish are swept by the NEXT recluster, not leaked " +
      "forever") {
    import org.apache.hadoop.fs.Path
    val emb = corpus(80)
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_legacy_sweep_").toString + "/lake"
    Similarity.writeIvfLake(emb, dir, "vec_id", "embedding", dim,
      nCells = 8): Unit
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // first recluster migrates the flat layout to generation dirs
    Similarity.reclusterIvfLake(spark, dir, "vec_id", "embedding", dim,
      nCells = 8): Unit
    assert(Similarity.ivfDataDir(spark, dir) != dir)
    // simulate the CRASH WINDOW of that migration: pointer published,
    // cleanup never ran — stale flat copy back at the root (dead data
    // a direct parquet read of the root would still see)
    fs.mkdirs(new Path(dir + "/cell=0"))
    fs.createNewFile(new Path(dir + "/cell=0/part-dead.parquet")): Unit
    fs.mkdirs(new Path(dir + "/_ivf_stats"))
    // a later pass resolves dataDir != lakeDir — the old dataDir-gated
    // sweep skipped the leftovers forever; the unconditional sweep
    // reclaims them
    Similarity.reclusterIvfLake(spark, dir, "vec_id", "embedding", dim,
      nCells = 8): Unit
    assert(!fs.listStatus(new Path(dir))
      .exists(_.getPath.getName.startsWith("cell=")),
      "stale root-level cell dirs swept")
    assert(!fs.exists(new Path(dir + "/_ivf_stats")),
      "stale root-level sidecars swept")
    assert(spark.read.parquet(Similarity.ivfDataDir(spark, dir))
      .count() === 80L, "the live generation is untouched")
  }

  test("_ivf_stats publishes by rename: a crashed writer's temp file " +
      "never changes the baseline, the next write leaves one part file") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_stats_tmp_").toString + "/lake"
    Similarity.writeIvfLake(corpus(80), dir, "vec_id", "embedding", dim,
      nCells = 4): Unit
    val (b0, _, _, _) = Similarity.ivfDriftProbe(spark, dir, dim)
    val stats = new Path(dir + "/_ivf_stats")
    val fs = stats.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // what a writer that died mid-file leaves: a torn hidden temp file
    val torn = fs.create(new Path(stats, ".part-00000.parquet.dead.tmp"))
    try torn.write("PAR1 torn".getBytes("UTF-8")) finally torn.close()
    val (b1, _, _, _) = Similarity.ivfDriftProbe(spark, dir, dim)
    assert(b1 === b0, "the temp file is never read as the sidecar")
    Similarity.writeIvfStats(spark, dir, 0.5, 10)
    val names = fs.listStatus(stats).map(_.getPath.getName).toSeq
    assert(names.count(_.startsWith("part-")) === 1, names)
    assert(!names.exists(_.endsWith(".tmp")), names)
    val (b2, _, _, _) = Similarity.ivfDriftProbe(spark, dir, dim)
    assert(b2 === 0.5)
  }

  test("a failed lake write cancels the drift sample and rethrows its own exception") {
    import scala.jdk.CollectionConverters._
    // the vectors come slowly, but only to the drift-sample job: its two
    // tasks (two partitions) would take 5 s, while the write's tasks take
    // the two other slots and fail long before
    val slowInSample = udf { (v: Seq[Float]) =>
      val group = org.apache.spark.TaskContext.get()
        .getLocalProperty("spark.jobGroup.id")
      if (group != null && group.startsWith(Similarity.DriftSampleTask)) {
        Thread.sleep(50)
        IvfLakeSpec.sampleRowsDone.incrementAndGet(): Unit
      }
      v
    }
    // repartitioned so the UDF runs in tasks, not folded into a local relation
    val emb = corpus(200).repartition(2)
      .withColumn("embedding", slowInSample(col("embedding")))
    val sampleJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .filter(g => g != null && g.startsWith(Similarity.DriftSampleTask))
          .foreach(_ => sampleJobs.put(e.jobId, "running"))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        sampleJobs.computeIfPresent(e.jobId, (_, _) => e.jobResult.toString): Unit
    }
    // a regular file where the lake's parent directory should be
    val blocked = java.nio.file.Files.createTempFile("ivflake_blocked", "")
    val expected = intercept[Exception] {
      spark.range(4).withColumn("cell", col("id") % 2).repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$blocked/probe")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IvfLakeSpec.sampleRowsDone.set(0)
      val e = intercept[Exception] {
        Similarity.writeIvfLake(emb, s"$blocked/lake", "vec_id", "embedding",
          dim, nCells = 4)
      }
      assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
      assert(e.getClass === expected.getClass, e.getMessage)
      assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
        t.getName == Similarity.DriftSampleTask && t.isAlive))
      // every sample job that started has ended (listener events lag the
      // scheduler), and the slow one was stopped before its last row
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sampleJobs.containsValue("running") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(!sampleJobs.containsValue("running"), s"sample jobs: $sampleJobs")
      assert(IvfLakeSpec.sampleRowsDone.get() < 200)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object IvfLakeSpec {
  /** Rows the drift-sample job of the cancellation test has finished. */
  val sampleRowsDone = new java.util.concurrent.atomic.AtomicInteger
}

