package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

import graft.functions.Text

/** Benchmark decontamination — the n-gram-overlap hygiene pass every
  * pre-training pipeline runs before training: any corpus document that
  * shares a long word n-gram with an evaluation/benchmark document is
  * flagged (and usually dropped), so downstream eval scores measure
  * generalization rather than memorization of leaked test items.
  *
  * Scale shape (the part that matters at 100 TB): benchmark sets are
  * eval suites, not corpora — thousands of documents, not billions — so
  * their distinct n-gram set is BROADCAST-sized by nature. The corpus
  * side explodes its (per-doc distinct) n-grams map-side, the overlap
  * test is a BroadcastHashJoin left-semi (no corpus shuffle), and only
  * the HITS — bounded by the contamination rate, which is tiny for any
  * honest corpus — flow into the per-doc count aggregation and the
  * broadcast flag-join back onto the corpus. The whole operator
  * shuffles O(contaminated n-grams), never O(corpus).
  */
object Decontaminate {

  /** The shared hit aggregate: (idCol, n_hit_grams) for the CONTAMINATED
    * documents only — one corpus gram scan, one O(hits) count shuffle.
    * Every public entry point builds on this so none pays a corpus-wide
    * flag join it then filters back down (the report/removal forms only
    * ever need the hit set, which is bounded by the contamination rate).
    */
  private def hitGramCounts(corpus: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchTextCol: String,
      n: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(Text.shingles(Text.tokens(col(benchTextCol)), n))
        .as("gram"))
      .distinct()
    val docGrams = corpus.select(col(idCol),
      explode(array_distinct(Text.shingles(Text.tokens(col(textCol)), n)))
        .as("gram"))
    // left-semi against the broadcast benchmark set keeps only hit
    // pairs; the count shuffle then carries O(hits) rows
    docGrams
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Per-document contamination flags: (idCol, n_hit_grams,
    * contaminated) for EVERY corpus document. `n_hit_grams` counts the
    * doc's DISTINCT word n-grams that appear anywhere in the benchmark
    * set; `contaminated` is `n_hit_grams > 0`. Documents shorter than
    * `n` tokens have no n-grams and are never contaminated.
    */
  def flagContaminated(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    val hits = hitGramCounts(corpus, idCol, textCol, bench, benchTextCol, n)
    // hits is bounded by the contamination rate; broadcast it back so
    // flagging the full corpus stays map-side. (If a pathological run
    // contaminates a large fraction of the corpus, drop the hint and
    // let AQE choose — correctness is unchanged.)
    corpus.select(col(idCol))
      .join(broadcast(hits), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        coalesce(col("n_hit_grams") > 0, lit(false)).as("contaminated"))
  }

  /** The removal form: corpus rows whose document shares no word
    * n-gram with the benchmark set — a broadcast left-anti against the
    * contaminated-id set (same bounds as [[flagContaminated]], minus
    * the corpus-wide flag join the anti-join never needed).
    */
  def removeContaminated(corpus: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchTextCol: String,
      n: Int = 8): DataFrame = {
    val contaminatedIds = hitGramCounts(corpus, idCol, textCol,
      bench, benchTextCol, n).select(col(idCol))
    corpus.join(broadcast(contaminatedIds), Seq(idCol), "left_anti")
  }

  /** Per-group contamination governance report — the number every
    * data-sourcing decision actually consumes: for each group (source,
    * domain, crawl snapshot, …), how many documents are contaminated
    * and at what rate. Output: (groupCol, n_docs, n_contaminated,
    * contamination_rate) for EVERY group (zero-hit groups report 0).
    * A NULL group is itself a reported population — unattributed
    * documents are exactly what a governance report must not lose — so
    * the rollup join is NULL-SAFE (`<=>`).
    *
    * Scale shape: group totals are one map-side-combined aggregate over
    * the corpus (no joins); the contaminated side starts from the HIT
    * set (bounded by the contamination rate), resolves each hit id to
    * its group with a broadcast join against the corpus scan, and
    * aggregates — so the report costs the gram scan + one corpus scan
    * per side plus O(contaminated) join work, never a corpus-sized
    * shuffle.
    */
  def contaminationReport(corpus: DataFrame, idCol: String,
      textCol: String, groupCol: String, bench: DataFrame,
      benchTextCol: String, n: Int = 8): DataFrame = {
    val hits = hitGramCounts(corpus, idCol, textCol, bench,
      benchTextCol, n).select(col(idCol))
    val totals = corpus.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"))
    // distinct alias on the contaminated side so the null-safe join
    // condition can't collapse into a same-exprId self-join ambiguity
    val contaminated = corpus.select(col(idCol), col(groupCol).as("__grp"))
      .join(broadcast(hits), Seq(idCol), "left_semi")
      .groupBy(col("__grp"))
      .agg(count(lit(1)).as("n_contaminated"))
    totals.join(contaminated, col(groupCol) <=> col("__grp"), "left")
      .select(col(groupCol), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L))
          .cast("double") / col("n_docs"), 6).as("contamination_rate"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * "how much new information does this batch add" score behind crawl
    * triage and incremental-ingest prioritization: for each batch
    * document, the fraction of its distinct word n-grams that appear
    * nowhere in the reference corpus. Output: (idCol, n_grams, n_novel,
    * novelty_rate) for every batch document with at least one n-gram.
    *
    * Scale shape — the reference side is a CORPUS, not an eval suite,
    * so (unlike [[flagContaminated]]) its gram set cannot broadcast.
    * The operator therefore runs q71's Bloom discipline inverted: a
    * bounded Bloom sketch of the reference grams is built once
    * (constant-size broadcast regardless of corpus size) and batch
    * grams that MISS the filter are definitively novel — a Bloom has no
    * false negatives — so they never enter the join at all. Only the
    * bloom-HIT candidates (true matches + the engineered false-positive
    * sliver) are exactly verified against the reference gram set with a
    * shuffle semi-join, making the expensive exact path proportional to
    * the OVERLAP, which is the small side by definition when scoring
    * novelty of fresh data. The bloom itself is an invisible plan
    * optimization — the output equals the same join run without it.
    * Gram identity defaults to the 64-bit `ngramHashes` kernel (the
    * q27/q43/q64 convention), NOT exact gram strings as in
    * [[flagContaminated]]: a 2^-64-per-pair hash collision between a
    * novel batch gram and any reference gram would count it as seen.
    * When the report is LOAD-BEARING, run with `exactGrams = true`:
    * gram identity becomes the exact n-gram string — the bloom still
    * prefilters on the string's 64-bit hash (a bloom MISS is
    * definitively novel either way), but bloom hits are verified with
    * an exact string join, so a hash collision can only cost one wasted
    * verification row, never a wrong count. The exact mode's join keys
    * are strings (wider shuffle rows on the overlap), which is the
    * price of the identity guarantee; the plan shape is identical.
    */
  def noveltyScores(batch: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String, n: Int = 3,
      exactGrams: Boolean = false): DataFrame = {
    import graft.functions.{ArrayOps, Bloom}
    def grams(c: org.apache.spark.sql.Column) =
      if (exactGrams) array_distinct(Text.shingles(Text.tokens(c), n))
      else ArrayOps.ngramHashes(Text.tokens(c), n)
    def bloomKey(g: org.apache.spark.sql.Column) =
      if (exactGrams) xxhash64(g) else g
    val rawRefGrams = reference
      .select(explode(grams(col(refTextCol))).as("g"))
    // the bloom builds from the RAW gram stream — bit_or is idempotent,
    // so paying a distinct shuffle before it would be a wasted full
    // reference pass; the distinct set exists only for the verify join
    val bloom = Bloom.build(
      rawRefGrams.select(bloomKey(col("g")).as("g")), "g")
    val refGrams = rawRefGrams.distinct()
    val batchGrams = batch.select(col(idCol),
      explode(grams(col(textCol))).as("g"))
    val totals = batchGrams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    val seen = batchGrams
      .filter(Bloom.mightContain(bloom, bloomKey(col("g"))))
      .join(refGrams, Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_seen"))
    noveltyFromCounts(totals, seen, idCol)
  }

  private def noveltyFromCounts(totals: DataFrame, seen: DataFrame,
      idCol: String): DataFrame =
    totals.join(seen, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        (col("n_grams") - coalesce(col("n_seen"), lit(0L)))
          .as("n_novel"),
        round((col("n_grams") - coalesce(col("n_seen"), lit(0L)))
          .cast("double") / col("n_grams"), 6).as("novelty_rate"))

  // ------------------------------------------------------------------
  // Persisted reference sketch — the 100 TB form of [[noveltyScores]]'s
  // reference side. Scoring every crawl batch cannot re-scan the full
  // reference corpus (the bloom + distinct-gram build above IS a corpus
  // scan), so the sketch persists once and mutates incrementally:
  //
  //   dir/grams/bucket=N/          gram refcount lake: (g, n_docs),
  //                                hash-bucketed so append/takedown
  //                                rewrite only AFFECTED buckets
  //   dir/_bloom/                  COUNTING bloom (pos, cnt): the
  //                                prefilter bit array plus the per-
  //                                position counts that make DELETION
  //                                an O(deleted grams) decrement — a
  //                                plain bloom would force a full gram-
  //                                lake rescan to rebuild its bits
  //   dir/_sketch_meta.json        (n, exactGrams, mBits, bloomK,
  //                                nBuckets) — the build's commit point
  //                                and every later call's parameter
  //                                source, so a caller can never band-
  //                                slice the sketch with mismatched
  //                                gram parameters
  //
  // Refcounts are DOC counts per gram (per-doc-distinct grams), so a
  // takedown of documents decrements exactly what their ingest once
  // contributed; a gram reaching zero leaves the lake and its k bloom
  // positions decrement (a position reaching zero clears the bit).
  // The bloom therefore stays exactly the bloom of the surviving gram
  // set — no false negatives ever, which is the property novelty
  // correctness rides on (a bloom MISS is counted novel WITHOUT
  // verification).
  //
  // Crash safety: gram buckets rewrite under the
  // [[graft.sinks.Lake.deleteIds]] manifest protocol (tmp leaves →
  // name manifest → idempotent renames); the bloom swaps whole
  // (rename-only [[graft.sinks.Lake.swapDirs]] — it is O(mBits), not
  // O(corpus)). Ordering keeps the bloom a SUPERSET of the gram lake
  // through every crash window: append commits bloom increments BEFORE
  // gram buckets; delete commits gram buckets first and parks the
  // removed grams in a `_pending_bloom_<opId>` sidecar so a crashed
  // run's decrement completes on retry. Each phase publishes an
  // `_applied_<opId>` marker ATOMICALLY with its data (the marker
  // rides inside the renamed directory / manifest), so retrying a
  // completed opId is an exact no-op — refcounts cannot double-apply.
  // Contract: one mutation at a time, and a failed op is retried (same
  // opId) before the next op starts — the single-writer discipline
  // every manifest-protocol lake in this engine assumes.
  // ------------------------------------------------------------------

  /** Sketch geometry + gram identity, persisted at build time. */
  final case class SketchMeta(n: Int, exactGrams: Boolean, mBits: Int,
    bloomK: Int, nBuckets: Int)

  private val MetaName = "_sketch_meta.json"
  private val GramsName = "grams"
  private val BloomName = "_bloom"

  private def gramsOf(c: Column, m: SketchMeta): Column =
    if (m.exactGrams) array_distinct(Text.shingles(Text.tokens(c), m.n))
    else graft.functions.ArrayOps.ngramHashes(Text.tokens(c), m.n)

  private def bloomKeyOf(g: Column, m: SketchMeta): Column =
    if (m.exactGrams) xxhash64(g) else g

  private def bucketOf(g: Column, m: SketchMeta): Column =
    pmod(xxhash64(g), lit(m.nBuckets.toLong)).cast("int")

  private def gramSchema(m: SketchMeta): StructType = StructType(Seq(
    StructField("g", if (m.exactGrams) StringType else LongType),
    StructField("n_docs", LongType),
    StructField("bucket", IntegerType)))

  private val BloomSchema = StructType(Seq(
    StructField("pos", IntegerType), StructField("cnt", LongType)))

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The gram refcount lake with its EXPLICIT schema — a sketch whose
    * grams were fully deleted has only empty bucket dirs, which schema
    * inference cannot read.
    */
  private def readGrams(spark: SparkSession, dir: String,
      m: SketchMeta): DataFrame =
    spark.read.schema(gramSchema(m)).parquet(s"$dir/$GramsName")

  /** The counting-bloom lake, read via concrete part-file paths: naming
    * the `_bloom` underscore dir as a read root trips DataSource's "All
    * paths were ignored" WARN ([error]-tagged noise in scored logs), and
    * the dir also carries non-parquet `_applied_*` markers.
    *
    * A MISSING bloom dir must fail loudly, never read as empty: it is
    * the mid-swap crash window (live parked at the backup name), and an
    * all-zero bloom would silently score every gram as an unverified
    * MISS — i.e. novel. Readers don't run recovery themselves (a reader
    * racing the writer's retry on the rename would be worse); the
    * retried mutation restores the bloom. A dir that EXISTS with zero
    * part files is a legitimately empty bloom (every gram deleted).
    */
  private def readBloomCounts(spark: SparkSession, dir: String): DataFrame = {
    val (fs, _) = fsOf(spark, dir)
    require(fs.exists(new Path(s"$dir/$BloomName")),
      s"no counting bloom at $dir — a mutation crashed mid-swap; retry " +
        "the mutation (its recovery pass restores the bloom from backup)")
    val files =
      graft.sinks.Lake.sidecarParquetFiles(spark, s"$dir/$BloomName")
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], BloomSchema)
    else spark.read.schema(BloomSchema).parquet(files: _*)
  }

  /** The counting bloom collapsed to [[graft.functions.Bloom]]'s word
    * array (bit set iff the position count is positive).
    */
  private def bloomWords(spark: SparkSession, dir: String,
      m: SketchMeta): Array[Long] = {
    val words = new Array[Long](m.mBits / 64)
    readBloomCounts(spark, dir).filter(col("cnt") > 0).collect().foreach {
      r =>
        val pos = r.getInt(0)
        words(pos / 64) |= (1L << (pos % 64))
    }
    words
  }

  /** Persist the sketch meta LAST — it is the build's commit point. */
  private def writeMeta(fs: FileSystem, base: Path, m: SketchMeta): Unit = {
    val side = new Path(base, MetaName + ".writing")
    val json = s"""{"version":1,"n":${m.n},"exactGrams":${m.exactGrams},""" +
      s""""mBits":${m.mBits},"bloomK":${m.bloomK},"nBuckets":${m.nBuckets}}"""
    val out = fs.create(side, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val dst = new Path(base, MetaName)
    fs.delete(dst, false)
    require(fs.rename(side, dst), s"sketch meta commit $side -> $dst failed")
  }

  /** A sketch without a readable meta is not a sketch — fail loudly
    * rather than guess gram parameters.
    */
  def readMeta(spark: SparkSession, dir: String): SketchMeta = {
    val (fs, base) = fsOf(spark, dir)
    val p = new Path(base, MetaName)
    require(fs.exists(p), s"no reference sketch at $dir (missing $MetaName)")
    val in = fs.open(p)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    def i(f: String) = {
      require(node.hasNonNull(f), s"sketch meta $p missing field '$f'")
      node.get(f).asInt
    }
    SketchMeta(i("n"), node.get("exactGrams").asBoolean, i("mBits"),
      i("bloomK"), i("nBuckets"))
  }

  /** Build the persisted sketch from the reference corpus — the ONE
    * full corpus scan of the sketch's lifetime; every later append,
    * takedown, and batch scoring works from the persisted state.
    */
  def writeReferenceSketch(spark: SparkSession, dir: String,
      reference: DataFrame, refTextCol: String, n: Int = 3,
      exactGrams: Boolean = false,
      mBits: Int = graft.functions.Bloom.DefaultBits,
      bloomK: Int = graft.functions.Bloom.DefaultHashes,
      nBuckets: Int = 64): Unit = {
    require(mBits % 64 == 0, s"mBits must be a multiple of 64, got $mBits")
    require(bloomK >= 1 && nBuckets >= 1 && n >= 1,
      s"bad sketch geometry: bloomK=$bloomK nBuckets=$nBuckets n=$n")
    val m = SketchMeta(n, exactGrams, mBits, bloomK, nBuckets)
    val (fs, base) = fsOf(spark, dir)
    fs.delete(new Path(base, MetaName), false) // stale meta ≠ this build
    reference
      .select(explode(gramsOf(col(refTextCol), m)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n_docs"))
      .withColumn("bucket", bucketOf(col("g"), m))
      .repartition(math.min(nBuckets, 1 << 10), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/$GramsName")
    // bloom counts from the WRITTEN lake — no second corpus scan
    readGrams(spark, dir, m)
      .select(explode(graft.functions.Bloom.positions(
        bloomKeyOf(col("g"), m), mBits, bloomK)).as("pos"))
      .groupBy("pos").agg(count(lit(1)).as("cnt"))
      .select(col("pos").cast("int").as("pos"), col("cnt"))
      .write.mode("overwrite").parquet(s"$dir/$BloomName")
    // discard debris from any previous sketch generation at this path
    // (the grams/bloom overwrites already cleared their own markers —
    // opIds are scoped to a sketch generation). The *.mut_tmp dirs
    // matter most: a previous generation's takedown that crashed AFTER
    // its name manifest committed but BEFORE promotion would otherwise
    // be "recovered" by the next mutation's recoverLeafCommit — dead
    // refcounts resurrected into the fresh lake.
    Option(fs.globStatus(new Path(base, "_pending_bloom_*")))
      .getOrElse(Array.empty).foreach(s => fs.delete(s.getPath, true))
    fs.delete(new Path(s"$dir/$BloomName.mut_backup"), true)
    fs.delete(new Path(s"$dir/$BloomName.mut_tmp"), true)
    fs.delete(new Path(s"$dir/$GramsName.mut_tmp"), true)
    writeMeta(fs, base, m)
  }

  private def appliedMarker(opId: String): String = {
    require(opId != null && opId.nonEmpty && !opId.contains("/"),
      s"opId must be a non-empty path-safe token, got '$opId'")
    s"_applied_$opId"
  }

  /** How many `_applied_*` markers each store retains. The contract is
    * "retry a failed opId before the next op starts", so idempotence
    * only ever consults the NEWEST marker — but keeping one would make
    * a mildly-bent contract silently double-apply, so a few stay. The
    * cap is what keeps a long-lived sketch's mutation cost flat: the
    * bloom swap copies its markers forward on every commit, and an
    * unbounded ledger would make op N pay O(N) extra file writes.
    */
  private val MaxApplied = 8

  /** The newest `retain` markers in `dir` (by FS modification time —
    * markers are written strictly one mutation at a time under the
    * single-writer contract, so mtime order IS op order).
    */
  private def newestMarkers(fs: FileSystem, dir: Path,
      retain: Int): Seq[Path] =
    fs.listStatus(dir).iterator
      .filter(_.getPath.getName.startsWith("_applied_"))
      .toSeq.sortBy(-_.getModificationTime)
      .take(retain).map(_.getPath)

  /** Drop every marker in `dir` beyond the newest `retain`. */
  private def pruneMarkers(fs: FileSystem, dir: Path, retain: Int): Unit = {
    val keep = newestMarkers(fs, dir, retain).map(_.getName).toSet
    fs.listStatus(dir).iterator
      .filter(s => s.getPath.getName.startsWith("_applied_") &&
        !keep.contains(s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, false))
  }

  private def markerFile(fs: FileSystem, dir: Path, name: String,
      content: String): Unit = {
    val out = fs.create(new Path(dir, name), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readMarker(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  /** [[graft.sinks.Lake.swapDirs]] can die between its two renames,
    * leaving the live bloom parked at the backup name — restore it
    * before any mutation touches the sketch.
    */
  private def recoverBloom(fs: FileSystem, dir: String): Unit =
    graft.sinks.Lake.recoverSwap(fs, new Path(s"$dir/$BloomName"),
      new Path(s"$dir/$BloomName.mut_backup"))

  /** Rewrite the bloom-count lake by `delta` (pos, dcnt) and swap it in,
    * carrying forward every `_applied_*` marker plus `newMarker` — the
    * swap is what publishes the marker, so "bloom updated" and "opId
    * applied" are one rename.
    */
  private def commitBloomDelta(spark: SparkSession, dir: String,
      delta: DataFrame, newMarker: String, markerContent: String): Unit = {
    val (fs, _) = fsOf(spark, dir)
    val live = new Path(s"$dir/$BloomName")
    val tmp = new Path(s"$dir/$BloomName.mut_tmp")
    val merged = readBloomCounts(spark, dir)
      .unionAll(delta.select(col("pos").cast("int").as("pos"),
        col("dcnt").cast("long").as("cnt")))
      .groupBy("pos").agg(sum("cnt").as("cnt"))
      .select(col("pos"),
        when(col("cnt") < 0, raise_error(concat(
          lit("reference sketch bloom count below zero at position "),
          col("pos").cast("string"),
          lit(" — a takedown removed grams the sketch never held")))
          .cast("bigint"))
        .otherwise(col("cnt")).as("cnt"))
      .filter(col("cnt") > 0)
    merged.write.mode("overwrite").parquet(tmp.toString)
    // markers ride inside the directory being renamed in; only the
    // newest few carry forward (see [[MaxApplied]])
    newestMarkers(fs, live, MaxApplied - 1)
      .foreach(p => markerFile(fs, tmp, p.getName, readMarker(fs, p)))
    markerFile(fs, tmp, newMarker, markerContent)
    graft.sinks.Lake.swapDirs(fs, live, tmp,
      new Path(s"$dir/$BloomName.mut_backup"))
  }

  /** Merge `docs`' per-doc-distinct grams into the refcount lake at
    * `sign` (+1 append / −1 takedown). Returns (mergedBuckets frame —
    * every surviving (g, n_docs, from_delta) row of the AFFECTED
    * buckets plus the n_docs==0 rows so callers can split crossers,
    * affected bucket values, the materialized delta behind the frame).
    * The caller persists/acts and, once done with the frame, releases
    * the delta ([[releaseCheckpoint]]); nothing is committed here. When
    * no bucket is affected the delta is released here and the frame and
    * delta are null.
    */
  private def mergedDelta(spark: SparkSession, dir: String, m: SketchMeta,
      docs: DataFrame, textCol: String, sign: Int)
      : (DataFrame, Seq[Int], DataFrame) = {
    // materialized ONCE (eager localCheckpoint; bounded by this batch's
    // distinct gram count — churn-sized): the frame feeds BOTH the
    // affected-bucket collect and the merge union below, and lazily it
    // re-ran the full doc-scan + explode + gram aggregation for each
    // (guide §1.2 — the dominant fixed cost of every sketch mutation)
    val delta = docs
      .select(explode(gramsOf(col(textCol), m)).as("g"))
      .groupBy("g").agg((count(lit(1)) * sign).as("d"))
      .withColumn("bucket", bucketOf(col("g"), m))
      .localCheckpoint(true)
    val affected = delta.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted // bounded by nBuckets
    if (affected.isEmpty) { releaseCheckpoint(delta); return (null, Nil, null) }
    val live = readGrams(spark, dir, m)
      .filter(col("bucket").isin(affected: _*))
    val merged = live
      .select(col("bucket"), col("g"), col("n_docs").as("c"),
        lit(0L).as("dc"))
      .unionAll(delta.select(col("bucket"), col("g"), col("d").as("c"),
        col("d").as("dc")))
      .groupBy("bucket", "g")
      .agg(sum("c").as("n_docs"), sum("dc").as("from_delta"))
      .select(col("bucket"), col("g"),
        when(col("n_docs") < 0, raise_error(concat(
          lit("deleteFromReferenceSketch: gram refcount below zero — " +
            "the deleted documents were not all sketch members (gram "),
          col("g").cast("string"), lit(")"))).cast("bigint"))
          .otherwise(col("n_docs")).as("n_docs"),
        col("from_delta"))
    (merged, affected, delta)
  }

  /** Drops the blocks of `ds`'s eager localCheckpoint, which would
    * otherwise stay on the executors until the ContextCleaner collects
    * the RDD.
    */
  private def releaseCheckpoint(ds: DataFrame): Unit =
    ds.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  /** Commit the surviving rows of the affected buckets (manifest
    * protocol), publishing `marker` with the same rename.
    */
  private def commitGramBuckets(spark: SparkSession, dir: String,
      merged: DataFrame, affected: Seq[Int], marker: String,
      markerContent: String): Unit = {
    val (fs, _) = fsOf(spark, dir)
    val base = new Path(s"$dir/$GramsName")
    val tmp = new Path(s"$dir/$GramsName.mut_tmp")
    merged.filter(col("n_docs") > 0)
      .select(col("g"), col("n_docs"), col("bucket"))
      .repartition(math.min(affected.size, 1 << 10), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
    val leafNames = affected.map(b => s"bucket=$b")
    leafNames.foreach { name => // fully-emptied buckets still need a leaf
      val leaf = new Path(tmp, name)
      if (!fs.exists(leaf)) require(fs.mkdirs(leaf),
        s"sketch commit: could not create empty replacement $leaf")
    }
    markerFile(fs, tmp, marker, markerContent)
    graft.sinks.Lake.writeNameManifest(fs, tmp, leafNames :+ marker)
    graft.sinks.Lake.promoteLeaves(fs, base, tmp, leafNames :+ marker)
    pruneMarkers(fs, base, MaxApplied) // ledger stays bounded (see above)
  }

  /** Add accepted documents to the sketch WITHOUT a rebuild: refcounts
    * merge into the affected gram buckets, first-occurrence grams
    * increment their bloom positions. Retrying a completed `opId` is a
    * no-op; retrying a crashed one completes it. Returns the number of
    * grams new to the sketch.
    */
  def appendToReferenceSketch(spark: SparkSession, dir: String,
      docs: DataFrame, textCol: String, opId: String): Long = {
    val m = readMeta(spark, dir)
    val marker = appliedMarker(opId)
    val (fs, base) = fsOf(spark, dir)
    val gramsBase = new Path(base, GramsName)
    graft.sinks.Lake.recoverLeafCommit(fs, gramsBase,
      new Path(s"$dir/$GramsName.mut_tmp"))
    recoverBloom(fs, dir)
    val done = new Path(gramsBase, marker)
    if (fs.exists(done)) return readMarker(fs, done).trim.toLong
    val (merged, affected, grams) =
      mergedDelta(spark, dir, m, docs, textCol, sign = 1)
    if (affected.isEmpty) return 0L
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    merged.persist(lvl)
    try {
      // grams first observed by this append: their live count equals
      // the delta's contribution
      val crossers = merged
        .filter(col("from_delta") > 0 && col("n_docs") === col("from_delta"))
        .select("g")
      val nNew = crossers.count()
      // bloom increments commit FIRST: through every crash window the
      // bloom stays a superset of the gram lake (no false negatives)
      if (!fs.exists(new Path(s"$dir/$BloomName/$marker"))) {
        val delta = crossers
          .select(explode(graft.functions.Bloom.positions(
            bloomKeyOf(col("g"), m), m.mBits, m.bloomK)).as("pos"))
          .groupBy("pos").agg(count(lit(1)).as("dcnt"))
        commitBloomDelta(spark, dir, delta, marker, nNew.toString)
      }
      commitGramBuckets(spark, dir, merged, affected, marker,
        nNew.toString)
      nNew
    } finally { merged.unpersist(); releaseCheckpoint(grams) }
  }

  /** The parked removed-gram set of a takedown in flight, read via
    * concrete part-file paths (the `_pending_bloom_*` underscore dir
    * would otherwise trip the "All paths were ignored" WARN).
    */
  private def readPending(spark: SparkSession, pendingDir: String,
      m: SketchMeta): DataFrame = {
    val (fs, _) = fsOf(spark, pendingDir)
    require(fs.exists(new Path(pendingDir)),
      s"takedown state corrupted: parked removed-gram set $pendingDir is " +
        "missing but the op's bloom decrement has not committed")
    val schema = StructType(gramSchema(m).fields.take(1))
    val files = graft.sinks.Lake.sidecarParquetFiles(spark, pendingDir)
    if (files.isEmpty) // a takedown that removed no gram outright parks
      spark.createDataFrame( // an empty set — decrement of nothing
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files: _*)
  }

  /** Takedown: remove deleted reference documents' gram contributions.
    * `docs` are the documents being erased (id+text retrieved BEFORE
    * the doc-lake delete — the same flow as
    * [[graft.sinks.Lake.deleteIds]]'s callers). Refcounts decrement in
    * the affected buckets only; grams reaching zero leave the lake and
    * decrement their bloom positions, so the bloom IS the bloom of the
    * surviving gram set — nothing is ever rebuilt from the corpus.
    * Deleting documents the sketch never ingested fails loudly (the
    * refcount would go negative). Retrying a completed `opId` is a
    * no-op. Returns the number of grams fully removed.
    */
  def deleteFromReferenceSketch(spark: SparkSession, dir: String,
      docs: DataFrame, textCol: String, opId: String): Long = {
    val m = readMeta(spark, dir)
    val marker = appliedMarker(opId)
    val (fs, base) = fsOf(spark, dir)
    val gramsBase = new Path(base, GramsName)
    graft.sinks.Lake.recoverLeafCommit(fs, gramsBase,
      new Path(s"$dir/$GramsName.mut_tmp"))
    recoverBloom(fs, dir)
    val pending = new Path(base, s"_pending_bloom_$opId")
    val gramsDone = new Path(gramsBase, marker)
    val bloomDone = new Path(s"$dir/$BloomName/$marker")
    if (!fs.exists(gramsDone)) {
      val (merged, affected, grams) =
        mergedDelta(spark, dir, m, docs, textCol, sign = -1)
      if (affected.isEmpty) return 0L
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      merged.persist(lvl)
      try {
        val removed = merged.filter(col("n_docs") === 0).select("g")
        // park the removed grams BEFORE the gram commit: once the lake
        // no longer holds them, a crashed run could not recompute which
        // bloom positions still owe a decrement
        removed.write.mode("overwrite").parquet(pending.toString)
        // count from the persisted merged frame — the same rows the
        // park just wrote; the previous read-back of the just-written
        // parquet was a pure extra job (the crash-recovery path below
        // still reads the park, where it is the only source)
        val nRemoved = removed.count()
        commitGramBuckets(spark, dir, merged, affected, marker,
          nRemoved.toString)
      } finally { merged.unpersist(); releaseCheckpoint(grams) }
    }
    val nRemoved = readMarker(fs, gramsDone).trim.toLong
    if (!fs.exists(bloomDone)) {
      val removed = readPending(spark, pending.toString, m)
      val delta = removed
        .select(explode(graft.functions.Bloom.positions(
          bloomKeyOf(col("g"), m), m.mBits, m.bloomK)).as("pos"))
        .groupBy("pos").agg((-count(lit(1))).as("dcnt"))
      commitBloomDelta(spark, dir, delta, marker, nRemoved.toString)
    }
    fs.delete(pending, true)
    nRemoved
  }

  /** [[noveltyScores]] against the PERSISTED sketch: same output,
    * column for column, as running [[noveltyScores]] with the sketch's
    * parameters against the reference corpus the sketch currently
    * represents (q173 pins the equality through an append AND a
    * takedown) — but the reference corpus is never scanned: the bloom
    * prefilter loads from the counting sidecar and the exact verify
    * joins the gram lake.
    */
  def noveltyScoresAgainstSketch(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val m = readMeta(spark, dir)
    val words = bloomWords(spark, dir, m)
    val refGrams = readGrams(spark, dir, m).select("g")
    val batchGrams = batch.select(col(idCol),
      explode(gramsOf(col(textCol), m)).as("g"))
    val totals = batchGrams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    val seen = batchGrams
      .filter(graft.functions.Bloom.mightContain(words,
        bloomKeyOf(col("g"), m), m.mBits, m.bloomK))
      .join(refGrams, Seq("g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_seen"))
    noveltyFromCounts(totals, seen, idCol)
  }
}
