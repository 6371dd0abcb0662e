package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{ArrayOps, TopK, Vectors}
import graft.streaming.PartialAggs

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three members:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The (small) query set is broadcast against the corpus, so the corpus
  *    is scanned once with no shuffle of the embedding column; ranking
  *    shuffles only (q_id, id, sim) triples.
  *  - [[lshTopK]]: data-independent scale path — random-hyperplane
  *    bucketing on both sides; candidates are scored only within a
  *    bucket. At 1000× the corpus this turns O(|Q|·|C|) scoring into
  *    O(|Q|·|C|/2^planes·ε) with a recall knob (`nPlanes`); buckets are
  *    deterministic so the result is stable run to run.
  *  - [[ivfTopK]]: data-ADAPTIVE scale path — spherical-k-means cells
  *    trained on a bounded sample, corpus assigned once, queries probe
  *    their `nProbe` closest cells. Adapts cell shapes to the embedding
  *    distribution (clustered corpora defeat fixed hyperplanes), at the
  *    cost of a small training step.
  */
object Similarity {

  /** Per-query top-k of a scored (q_id, id, sim) frame through the
    * native bounded-heap aggregate ([[TopK.TopKPairs]]) instead of
    * `row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id ASC)`.
    * Identical output to the window form (the heap's (ord DESC, key ASC)
    * order IS row_number's, with sim riding as its order-preserving
    * long image — [[ArrayOps.sortableDoubleBits]]), but the execution
    * shape is the one that survives 100×: map-side partial aggregation
    * keeps one k-heap per query per task, the shuffle carries at most
    * k pairs per (query, mapper) instead of EVERY scored candidate,
    * and no task ever sorts a query's full candidate list. For the
    * compressed full-scan paths (int8/PQ) the candidate set per query
    * is the whole corpus — the window plan funnels |corpus| rows into
    * one task per query; this funnels k. Requires integral ids (cast
    * to long — exact for the int/long id columns all call sites use).
    * Output: (q_id, id, rank 1..k, sim) with sim bit-exact.
    */
  private def heapTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(TopK.topKPairs(ArrayOps.sortableDoubleBitsF(col("sim")),
        col("id").cast("long"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.key").as("id"),
        (col("pos") + 1).cast("long").as("rank"),
        ArrayOps.bitsToDoubleF(col("col.ord")).as("sim"))

  /** The exact-scan shape [[bruteForceTopK]] and [[hardNegatives]]
    * share: broadcast the (q_id, q_vec, …) query frame against the
    * (id, vec, …) corpus frame under `joinCond`, cosine-score every
    * surviving pair once, heap-rank per query. One corpus scan, no
    * shuffle of the embedding column — candidate filtering belongs in
    * `joinCond` so excluded pairs never reach the scoring kernel.
    */
  private def broadcastScoredTopK(c: DataFrame, q: DataFrame,
      joinCond: org.apache.spark.sql.Column, k: Int): DataFrame =
    heapTopK(
      c.join(broadcast(q), joinCond)
        .select(col("q_id"), col("id"),
          ArrayOps.cosineF(col("q_vec"), col("vec")).as("sim")), k)
      .select("q_id", "id", "rank")

  /** Exact top-k cosine neighbors for each row of `queries` (excluding
    * self-matches on id). Output: (q_id, id, rank).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    broadcastScoredTopK(c, q, col("q_id") =!= col("id"), k)
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query, the exact top-k most-similar corpus vectors whose `labelCol`
    * DIFFERS from the query's — the semantically-close-but-wrong
    * examples a contrastive loss learns the most from (easy random
    * negatives contribute ~zero gradient). Same broadcast-the-queries /
    * scan-the-corpus-once shape as [[bruteForceTopK]], with the label
    * mismatch applied IN the join condition so same-label pairs never
    * reach the scoring kernel or the heap. Output: (q_id, id, rank).
    *
    * At corpus scales where the exact scan is too expensive, mine from
    * an ANN shortlist instead (e.g. [[ivfTopK]] with k ≫ target, then
    * filter the label and re-rank) — the standard recall-for-cost trade
    * with the same output contract.
    *
    * NULL-label policy (deliberate): rows with a NULL label are
    * EXCLUDED on both sides — a NULL-label corpus row is never mined
    * (its class is unknown, so it could be a same-class false negative,
    * the one contamination a contrastive loss cannot tolerate), and a
    * NULL-label query yields zero rows (no label to differ from). The
    * null-rejecting `=!=` in the join condition implements exactly
    * this; callers who want NULL treated as its own class should
    * `coalesce` the label to a sentinel before calling.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      col(labelCol).as("label"))
    broadcastScoredTopK(c, q,
      col("q_label") =!= col("label") && col("q_id") =!= col("id"), k)
  }

  /** LSH-bucketed ANN with multi-probe: the corpus is bucketed once by
    * hyperplane signs; each QUERY probes its own bucket plus every bucket
    * at Hamming distance 1 (flip one sign bit). Only the tiny query side
    * fans out (×(nPlanes+1)·nTables), the corpus is still scanned exactly
    * once and shuffled only by candidate pair — the property that matters
    * at 100 TB.
    *
    * Two recall/cost knobs, both measured in `tools/RecallSweep` (table
    * in COVERAGE.md): `nPlanes` (more planes → smaller buckets → lower
    * per-table recall) and `nTables` — the classic multi-table LSH
    * design: L independent hyperplane sets, a candidate is scored if ANY
    * table co-buckets it with the query, so misses must happen in every
    * table at once. A true neighbor lands near a cut hyperplane with
    * probability proportional to its angle, and the tables' hyperplanes
    * are independent, so recall compounds roughly as 1-(1-r)^L while the
    * scanned fraction grows sub-linearly (tables overlap on exactly the
    * pairs most likely to be neighbors). Candidates found by several
    * (table, probe) routes collapse in the per-(q_id, id) max() before
    * ranking, so output is route-independent.
    *
    * Default 4 planes × 3 tables is the measured multi-table knee:
    * recall@5 0.872–0.884 (50-query curve) and 0.84–0.90 (the q29
    * 10-query audit) across sf0.001/0.01/0.1 at a ~67% scan fraction —
    * on this corpus no single-table point reaches 0.87 below a 75%
    * scan. The q29 floor is 0.8.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int = 5, nPlanes: Int = 4,
      nTables: Int = 3): DataFrame = {
    require(nTables >= 1, s"nTables=$nTables must be >= 1")
    // per-table plane seeds far enough apart that no plane is shared
    // between tables (planes within a table step the seed by 1000003)
    def seed(t: Int): Long = 42L + t.toLong * 1000003369L
    // corpus side: one (table, bucket) assignment per table — computed
    // map-side (the join against the broadcast query side never
    // shuffles the corpus), so nTables multiplies probe work, not I/O
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("tb", explode(array((0 until nTables).map(t =>
        struct(lit(t).as("tbl"),
          ArrayOps.hyperplaneBucketF(col("vec"), nPlanes, seed(t))
            .as("bucket"))): _*)))
      .select(col("id"), col("vec"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // query side: per table, the home bucket plus every Hamming-1 probe
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("tb", explode(array((0 until nTables).map { t =>
        val b0 = ArrayOps.hyperplaneBucketF(col("q_vec"), nPlanes, seed(t))
        struct(lit(t).as("tbl"), b0.as("bucket0"))
      }: _*)))
      .select(col("q_id"), col("q_vec"),
        col("tb.tbl").as("tbl"), col("tb.bucket0").as("bucket0"))
      .withColumn("bucket", explode(array(
        (col("bucket0") +: (0 until nPlanes).map(p =>
          col("bucket0").bitwiseXOR(lit(1L << p)))): _*)))
      .drop("bucket0")
    val scored = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        ArrayOps.cosineF(col("q_vec"), col("vec")).as("sim"))
      .groupBy(col("q_id"), col("id")).agg(max(col("sim")).as("sim"))
    heapTopK(scored, k).select("q_id", "id", "rank")
  }

  /** IVF (inverted-file) ANN: spherical k-means cells + nProbe search.
    *
    * Training collects only a bounded, deterministic sample (`sampleN`
    * lowest-id vectors — sampleN×dim floats on the driver, independent of
    * corpus size; the exact pattern faiss uses for IVF training). The
    * corpus is then assigned to cells in ONE distributed pass via a
    * codegen'd static ([[ArrayOps.nearestCentroidF]]) with the centroid
    * matrix inlined as a literal (broadcast-equivalent); only the tiny
    * query side fans out ×nProbe. Scoring happens strictly in-cell, and
    * the corpus embedding column is shuffled nowhere.
    * Defaults are SCALE-AWARE (nCells/nProbe = 0 → auto): faiss-style
    * 4·√n cells (clamped [16, 2048] so the driver training sample
    * always affords ≥8 points/centroid — see the body note; one
    * corpus count when auto is
    * requested) probed at 8% — on the 10⁶-vector structured-geometry
    * profile (`tools/IvfScaleSweep`: 1,024 generator clusters + noise,
    * the shape real embedding corpora have) that point measures
    * recall@5 = 1.000 at a 5–10% scan fraction; even 2.5% (1,024
    * cells / 26 probes) holds 1.000. The r9 defaults' 44% scan was
    * priced on the testdata embeddings, whose vectors are UNSTRUCTURED
    * random — there recall tracks the raw scanned fraction and no cell
    * count escapes it (64-dim concentration of measure; the same
    * cliff AnnScaleProfile documents for compressed scans on uniform
    * geometry). Callers on such corpora should pin explicit
    * (nCells, nProbe) to their measured floor — q50 pins 64/28 ≈ 44%
    * scan for its 0.8-floor audit on exactly that geometry
    * (`tools/RecallSweep` tables in COVERAGE.md, re-measured round 10
    * with √n-scaled cells: at 25% scan the testdata curve tops out at
    * 0.75–0.87 regardless of cell count).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int = 5, nCells: Int = 0,
      nProbe: Int = 0, sampleN: Int = 0, iters: Int = 10,
      seed: Long = 42L): DataFrame = {
    // auto cells capped at 2,048 so the DRIVER-side training sample can
    // always afford ≥8 points per centroid under the 16,384-sample cap
    // (4·√n alone reaches 65k cells at 1e8 vectors — more centroids
    // than samples, which just duplicates sampled points as centroids).
    // Past ~2.6e5 vectors the auto path therefore trades cell count
    // for trainability; callers wanting faiss-scale cell counts should
    // train centroids distributed (fixedPointKMeans) and pass nCells
    // explicitly with a matching sampleN.
    val (cells, centroids, _) =
      trainCentroids(corpus, idCol, vecCol, dim, nCells, sampleN, iters, seed)
    val probes =
      if (nProbe > 0) nProbe
      else math.min(cells, math.max(4, cells * 8 / 100))
    // packed UnsafeArrayData literal: primitive getFloat in the per-row
    // assignment loop (typedLit would box every element read)
    val centLit = ArrayOps.packedFloatLit(centroids)

    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell",
        graft.functions.ArrayOps.nearestCentroidF(col("vec"), centLit, dim))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("cell", explode(
        graft.functions.ArrayOps.topCentroidsF(col("q_vec"), centLit, dim,
          probes)))
    ivfScore(c, q, k)
  }

  /** The centroid-training head shared by [[ivfTopK]] and
    * [[writeIvfLake]]: auto cell count (4·√n clamped to 16..2048 so the
    * driver-side sample can always afford ≥8 points per centroid under
    * the 16,384-sample cap), auto sample size, the deterministic
    * `orderBy(id).limit` sample collect, and spherical k-means — ONE
    * copy, so the lake writer's partitioning geometry can never drift
    * from the in-memory path (q137's equals-in-memory contract depends
    * on both computing byte-identical centroids). Returns
    * (cells, flat row-major centroid matrix, the training sample) —
    * the sample rides along so the lake writers can price the
    * training-time residual ([[ivfDriftProbe]]'s baseline) without a
    * second collect.
    */
  private def trainCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, nCells: Int, sampleN: Int,
      iters: Int, seed: Long): (Int, Array[Float], Array[Array[Float]]) = {
    val cells =
      if (nCells > 0) nCells
      else {
        // the auto cell count clamp(4·√n, 16, 2048) SATURATES at
        // n = (2048/4)² = 262144, so a bounded limit-probe is provably
        // equal to the full corpus count: for n ≤ 262144 the probe
        // returns n exactly; for n > 262144 both clamp to 2048. The
        // previous corpus.count() was a full pass over every file at
        // 100 TB for a number whose value stops changing after the
        // first 262k rows (guide §1.2: don't compute what you throw
        // away). The probe shuffles at most 262k empty rows.
        val probed = corpus.select(lit(1).as("one"))
          .limit(262144).count()
        math.min(2048L,
          math.max(16L, 4L * math.sqrt(probed.toDouble).toLong)).toInt
      }
    val sampN =
      if (sampleN > 0) sampleN
      else math.min(16384, math.max(2048, 8 * cells))
    val sample = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(sampN)
      .collect().map(_.getSeq[Float](1).toArray)
    (cells, trainSphericalKMeans(sample, cells, dim, iters, seed), sample)
  }

  /** Mean assigned-cell residual of `points` against a flat centroid
    * matrix: 1 − cos(v, nearest centroid), averaged — the spherical
    * k-means objective the training minimized, so comparing the SAME
    * statistic on fresh data against the training-time value is the
    * drift signal ([[ivfDriftProbe]]). Driver-side over a bounded
    * sample (the IVF training budget); zero vectors contribute residual
    * 1 (no direction — maximally unexplained by any centroid).
    */
  private[graft] def meanResidual(points: Array[Array[Float]],
      flat: Array[Float], dim: Int): Double = {
    require(points.nonEmpty, "meanResidual over an empty sample")
    val k = flat.length / dim
    // per-point residuals are independent pure computation — parallel
    // (each point writes its own slot); the SUM stays sequential in
    // point order so the persisted baseline keeps its exact bits
    val res = new Array[Double](points.length)
    java.util.stream.IntStream.range(0, points.length).parallel()
      .forEach { pi =>
        val p = points(pi)
        var n2 = 0.0
        var i = 0
        while (i < dim) { n2 += p(i).toDouble * p(i); i += 1 }
        val inv = if (n2 == 0.0) 0.0 else 1.0 / math.sqrt(n2)
        var best = -1.0
        var c = 0
        while (c < k) {
          var dot = 0.0
          var cn2 = 0.0
          var j = 0
          while (j < dim) {
            val cv = flat(c * dim + j).toDouble
            dot += p(j) * inv * cv
            cn2 += cv * cv
            j += 1
          }
          val cos = if (cn2 == 0.0) 0.0 else dot / math.sqrt(cn2)
          if (cos > best) best = cos
          c += 1
        }
        res(pi) = 1.0 - math.max(best, 0.0)
      }
    var acc = 0.0
    var pi = 0
    while (pi < points.length) { acc += res(pi); pi += 1 }
    acc / points.length
  }

  /** Persist the `_ivf_stats` sidecar: the training-time mean residual
    * [[ivfDriftProbe]] compares against, plus the sample size that
    * priced it. Written DRIVER-SIDE through parquet-mr (one row, two
    * primitive columns) — the Spark write path cost ~0.2 s of
    * plan+job+commit per lake write for a single-row file
    * (tools/IvfWriteProfile, r18). Field order matches the previous
    * Spark write (readers fetch by position). The file is written under
    * a hidden temp name and published as `part-00000.parquet` by one
    * rename after close: [[sidecarFiles]] lists only `part-*`, so a
    * reader sees the previous sidecar or the new one, and a crashed
    * writer's temp file is never read.
    */
  private[operators] def writeIvfStats(
      spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, trainResidual: Double, nSample: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val dirPath = new Path(lakeDir + "/_ivf_stats")
    val conf = spark.sessionState.newHadoopConf()
    val fs = dirPath.getFileSystem(conf)
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message ivf_stats { " +
        "required double train_residual; required int64 n_sample; }")
    org.apache.parquet.hadoop.example.GroupWriteSupport
      .setSchema(schema, conf)
    val dst = new Path(dirPath, "part-00000.parquet")
    val tmp = new Path(dirPath,
      s".part-00000.parquet.${java.util.UUID.randomUUID()}.tmp")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(tmp, conf))
      .withConf(conf).build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(
        schema)
      g.add("train_residual", trainResidual)
      g.add("n_sample", nSample.toLong)
      w.write(g)
    } finally w.close()
    // a crashed writer's temp files are never read; reclaim them here
    fs.listStatus(dirPath).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".part-") && n.endsWith(".tmp") && n != tmp.getName)
        fs.delete(st.getPath, false): Unit
    }
    // POSIX rename replaces; stores whose rename refuses an existing
    // destination (HDFS) take the delete first
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false): Unit
      require(fs.rename(tmp, dst), s"publishing $dst failed")
    }
  }

  /** Compute and persist the drift baseline the SAME way
    * [[ivfDriftProbe]] measures the current state: mean assigned-cell
    * residual of a hash-spread TakeOrdered sample over the WRITTEN
    * lake. An in-sample baseline (the residual of the very sample the
    * centroids trained on, selected by a different scheme) is biased
    * LOW, which biases the probe's ratio above 1 with zero drift and
    * muddies the threshold's meaning — baseline and probe now share
    * both the population (the lake) and the selection scheme.
    */
  private def writeDriftBaseline(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, centroids: Array[Float], dim: Int,
      sampleN: Int = 2048): Unit =
    writeDriftBaselineFrom(spark, dataDir,
      spark.read.parquet(dataDir)
        .select(col("id").cast("long").as("id"),
          col("vec").cast("array<float>").as("vec")),
      centroids, dim, sampleN)

  /** [[writeDriftBaseline]] over a caller-supplied (id, vec) frame —
    * the write path hands its own source frame here (row-identical to
    * the lake it just wrote) so the baseline costs one TakeOrdered over
    * data already flowing, not a full read-back of the fresh lake.
    *
    * CONTRACT: `data` must be a DETERMINISTIC plan (a storage scan or a
    * pure projection of one — everything the write paths here pass),
    * because this re-executes the frame rather than reading the written
    * lake back. A non-deterministic corpus (rand() sampling, an
    * unstable upstream shuffle with ties) could yield a sample that is
    * not drawn from the persisted rows; callers with such a frame must
    * materialize it (localCheckpoint) BEFORE the lake write and pass
    * the materialized frame to both. The selection itself is
    * deterministic given the row set — TakeOrdered on (hash(id), id),
    * a total order on distinct ids.
    */
  private def writeDriftBaselineFrom(
      spark: org.apache.spark.sql.SparkSession,
      dataDir: String, data: DataFrame, centroids: Array[Float], dim: Int,
      sampleN: Int = 2048): Unit =
    writeDriftBaselineFromSample(spark, dataDir,
      collectDriftSampleAsync(data, sampleN).await(), centroids, dim)

  /** Kick off the baseline sample collect on a driver side-thread so it
    * OVERLAPS the lake write job that follows (guide §2.6 — the sample
    * reads the same immutable source frame the write reads, so the two
    * jobs are independent; Spark schedules concurrent driver-thread
    * actions FIFO and the sample's tasks back-fill the write's tail).
    * Sequential cost was one full extra pass latency per lake write.
    * Callers run the write through [[graft.SideTask.alongside]], so a
    * failed write cancels the sample's jobs and surfaces as itself.
    */
  private def collectDriftSampleAsync(data: DataFrame,
      sampleN: Int = 2048): graft.SideTask[Array[Array[Float]]] =
    graft.SideTask.spark(data.sparkSession.sparkContext, DriftSampleTask) {
      data.orderBy(hash(col("id")), col("id")).limit(sampleN)
        .collect().map(_.getSeq[Float](1).toArray) // sampleN×dim
    }

  /** Name of the drift-sample side thread and of its Spark job group. */
  private[operators] val DriftSampleTask = "ivf-drift-sample"

  private def writeDriftBaselineFromSample(
      spark: org.apache.spark.sql.SparkSession,
      dataDir: String, held: Array[Array[Float]], centroids: Array[Float],
      dim: Int): Unit =
    writeIvfStats(spark, dataDir,
      meanResidual(held, centroids, dim), held.length)

  /** The in-cell scoring tail shared by [[ivfTopK]] and
    * [[ivfTopKOverLake]]: broadcast the ×nProbe-fanned query side into
    * each corpus cell, score strictly in-cell, heap the top k. The two
    * paths differ ONLY in where the (id, vec, cell) rows come from.
    */
  private def ivfScore(c: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        ArrayOps.cosineF(col("q_vec"), col("vec")).as("sim"))
      .groupBy(col("q_id"), col("id")).agg(max(col("sim")).as("sim"))
    heapTopK(scored, k).select("q_id", "id", "rank")
  }

  /** The IVF lake schema: ids normalized to long, vectors to float —
    * the ANN stack's id/vector convention — and the cell id as a LONG
    * partition column (an explicit read schema, so layout never depends
    * on partition-value type inference).
    */
  private val IvfLakeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType)))

  /** Write the corpus as a CELL-PARTITIONED parquet lake — the IVF
    * storage layout for 100 TB: one hive partition (`cell=N/`) per
    * inverted-file cell, so a probed search reads ONLY its probe
    * cells' directories via partition pruning at file-listing time —
    * the q122 shortlist pattern with the pruning moved from row-group
    * bloom lookups to the directory structure, which is the right
    * granule when the unit of access is "a whole cell", not "these
    * ids". Centroids are trained exactly as [[ivfTopK]] trains them
    * (same bounded deterministic sample, same seed ⇒ same cells) and
    * persisted as an `_ivf_centroids` sidecar inside the lake
    * (underscore-prefixed ⇒ invisible to the partitioned read), so
    * readers probe with the SAME geometry the writer partitioned by.
    * Returns the cell count.
    */
  def writeIvfLake(corpus: DataFrame, lakeDir: String, idCol: String,
      vecCol: String, dim: Int, nCells: Int = 0, sampleN: Int = 0,
      iters: Int = 10, seed: Long = 42L): Int = {
    val spark = corpus.sparkSession
    val (cells, centroids, _) =
      trainCentroids(corpus, idCol, vecCol, dim, nCells, sampleN, iters, seed)
    val centLit = ArrayOps.packedFloatLit(centroids)
    // ONE shuffle keyed by cell before the partitioned write: without
    // it every task writes a fragment into every cell directory —
    // tasks×cells files (195 for 64 cells at sf0.1; at 1,000 executors
    // × 4,096 cells that is millions of files, the classic partitioned-
    // write small-files failure). Hash-clustering on cell makes each
    // cell's rows land in exactly one task → one file per cell; widen
    // with repartition(N, cell) if single cells outgrow a file.
    val data = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    // the drift baseline sample (same source frame the write persists —
    // identical (id, vec) row set, so the selected rows are identical
    // to a lake read-back; see writeDriftBaselineFrom's determinism
    // contract) collects CONCURRENTLY with the write below: the two
    // jobs read the same immutable source, and sequentially the sample
    // was one full extra pass of latency per lake write
    val sample = collectDriftSampleAsync(data)
    import spark.implicits._
    sample.alongside {
      data
        .withColumn("cell",
          graft.functions.ArrayOps.nearestCentroidF(col("vec"), centLit, dim))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(lakeDir)
      // sidecar AFTER the main write (whose overwrite clears the dir)
      centroids.grouped(dim).zipWithIndex
        .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
        .toDF("cell_id", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(lakeDir + "/_ivf_centroids")
    }
    writeDriftBaselineFromSample(spark, lakeDir, sample.await(),
      centroids, dim)
    cells
  }

  /** See [[graft.sinks.Lake.sidecarParquetFiles]] — concrete part-file
    * paths keep underscore-dir sidecar reads out of the scored logs.
    */
  private def sidecarFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] =
    graft.sinks.Lake.sidecarParquetFiles(spark, dir)

  /** The ACTIVE data directory of an IVF (or IVF+PQ) lake. Legacy
    * lakes ([[writeIvfLake]]'s flat layout) are their own data dir; a
    * lake that has been RECLUSTERED carries generation subdirs
    * (`_gen_<token>/`) plus empty POINTER files (`_ptr_<seq>_<token>`)
    * whose highest sequence names the live generation. Publishing a
    * new generation is ONE atomic file CREATE (no rename, no replace,
    * no missing-path window): a reader resolving during a swap gets
    * the old generation or the new one, never a dangling path — the
    * reader-outage window of the old directory-rename protocol is
    * gone. Resolution is idempotent (a generation dir carries no
    * pointers, so resolving it returns itself). One directory listing
    * per query — the same cost class as the partition listing the
    * probe already pays.
    */
  def ivfDataDir(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String): String = {
    import org.apache.hadoop.fs.Path
    val base = new Path(lakeDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return lakeDir
    val ptrs = fs.listStatus(base).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_ptr_")).toSeq
    if (ptrs.isEmpty) lakeDir
    else {
      // _ptr_<seq>_<token> → split('_') = ("", "ptr", seq, token)
      val best = ptrs.maxBy(_.split('_')(2).toLong)
      s"$lakeDir/_gen_${best.split('_')(3)}"
    }
  }

  // centroid sidecars keyed by CONTENT identity (concrete part files +
  // (mtime, length)): a search/append/delete sequence over one lake
  // re-reads identical frozen centroids several times per operation —
  // memoize the collect. A rewritten sidecar (fresh lake in a reused
  // dir, recluster generation swap) changes the key, so staleness is
  // impossible; bounded.
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()

  /** The `_ivf_centroids` sidecar as the flat cell-major float array
    * every IVF reader/writer indexes by `cell_id * dim`.
    */
  private def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, dim: Int): Array[Float] = {
    val files = sidecarFiles(spark,
      ivfDataDir(spark, lakeDir) + "/_ivf_centroids")
    require(files.nonEmpty, s"no _ivf_centroids sidecar under $lakeDir")
    val conf = spark.sparkContext.hadoopConfiguration
    val key = files.sorted.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f@${st.getModificationTime}:${st.getLen}"
    }.mkString("|") + s"#$dim"
    val hit = centroidCache.get(key)
    if (hit != null) return hit
    val cents = spark.read.parquet(files: _*).collect()
    val flat = new Array[Float](cents.length * dim)
    cents.foreach { r =>
      val c = r.getLong(0).toInt
      val v = r.getSeq[Float](1)
      // fail FAST on a caller/lake dim mismatch: truncated centroids
      // would silently change the probe geometry — and through
      // appendToIvfLake would persist wrong-cell assignments into the
      // lake with no error anywhere downstream
      require(v.length == dim,
        s"$lakeDir centroids are ${v.length}-dim, caller said $dim")
      var i = 0
      while (i < dim) { flat(c * dim + i) = v(i); i += 1 }
    }
    if (centroidCache.size > 64) centroidCache.clear()
    centroidCache.put(key, flat): Unit
    flat
  }

  /** Probe fan-out against a frozen centroid set: each query row
    * expanded to its `nProbe` nearest cells. The ×nProbe-fanned query
    * side is ivfScore's BROADCAST side, so it fits the driver by the
    * same budget — collect it ONCE (running the O(|Q|·cells·dim)
    * centroid scoring a single time), derive the probed-cell set from
    * the collected rows, and re-wrap them as a local relation for the
    * join. (A lazy shape executes the scoring plan twice: once for the
    * probed-cells distinct() and again inside the broadcast.) Returns
    * (fanned query frame, distinct probed cells).
    */
  private def ivfProbe(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String, vecCol: String, dim: Int,
      nProbe: Int, flat: Array[Float]): (DataFrame, Array[Long]) = {
    val cells = flat.length / dim
    val probes =
      if (nProbe > 0) nProbe
      else math.min(cells, math.max(4, cells * 8 / 100))
    val centLit = ArrayOps.packedFloatLit(flat)
    val qRows = queries.select(col(idCol).cast("long").as("q_id"),
        col(vecCol).cast("array<float>").as("q_vec"))
      .withColumn("cell", explode(
        graft.functions.ArrayOps.topCentroidsF(col("q_vec"), centLit, dim,
          probes)))
      .collect()
    val probed = qRows.map(_.getAs[Long]("cell")).distinct
    val q = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("q_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("q_vec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType))))
    (q, probed)
  }

  /** IVF search over a [[writeIvfLake]] lake — the 100-TB shape of
    * [[ivfTopK]]: the centroid sidecar is collected (cells×dim floats,
    * the same driver budget as IVF training), each query fans out to
    * its `nProbe` nearest cells, and the corpus scan is FILTERED to
    * the union of probed cells — a partition-pruning directory
    * listing, so unprobed cells' files are never opened, let alone
    * read (PlanSpec pins the PartitionFilters/PartitionCount
    * evidence). Scoring is [[ivfScore]], shared verbatim with the
    * in-memory path — results are IDENTICAL to [[ivfTopK]] with the
    * same (nCells, nProbe) on the same corpus (q137 pins it): the
    * lake changes where bytes come from, never what is computed.
    */
  def ivfTopKOverLake(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int = 5, nProbe: Int = 0): DataFrame = {
    val dataDir = ivfDataDir(spark, lakeDir)
    val flat = readIvfCentroids(spark, lakeDir, dim)
    val (q, probed) = ivfProbe(spark, queries, idCol, vecCol, dim,
      nProbe, flat)
    val c = spark.read.schema(IvfLakeSchema).parquet(dataDir)
      .filter(col("cell").isin(probed.map(_.asInstanceOf[Any]): _*))
    ivfScore(c, q, k)
  }

  /** Append a new batch to an existing IVF lake WITHOUT retraining —
    * the incremental-ingest maintenance op: new vectors are assigned
    * to the lake's FROZEN centroids (read from the sidecar, so the
    * append uses exactly the geometry the lake was partitioned by) and
    * appended into their cell directories, clustered by cell like the
    * initial write (one new file per touched cell per batch, not one
    * per task — compaction of many small batches is [[graft.sinks.Lake]]
    * territory, same as the partials lake). Readers see the lake grow
    * with no churn to existing files and no change to probe geometry;
    * recall on the appended vectors matches what a full rebuild AT THE
    * SAME centroids would give (periodic retraining, when drift
    * warrants it, is a rebuild — the explicit, rarer operation).
    */
  def appendToIvfLake(batch: DataFrame, lakeDir: String, idCol: String,
      vecCol: String, dim: Int): Unit = {
    val dataDir = ivfDataDir(batch.sparkSession, lakeDir)
    val flat = readIvfCentroids(batch.sparkSession, lakeDir, dim)
    val centLit = ArrayOps.packedFloatLit(flat)
    batch.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .withColumn("cell",
        graft.functions.ArrayOps.nearestCentroidF(col("vec"), centLit, dim))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(dataDir)
  }

  /** Takedown from an IVF (or IVF+PQ) lake — [[graft.sinks.Lake.deleteIds]]
    * on the `cell=` layout: removal requests must disappear from the ANN
    * index, not just the document lake, or a similarity search keeps
    * resurfacing deleted content. Only cells that actually hold a
    * deleted vector are rewritten (manifest-committed, crash-safe); the
    * `_ivf_centroids`/`_pq_codebooks` sidecars — and with them the probe
    * geometry — are untouched, so a post-delete search EXACTLY equals
    * searching the surviving corpus assigned to the same frozen
    * centroids ([[ivfTopKFrozen]] is the audit twin; q171 pins the
    * multiset equality). The id→cell mapping is a column-pruned scan of
    * (id, cell) — float vectors and PQ codes are never read to find the
    * affected cells. Returns (cells rewritten, vectors removed).
    */
  def deleteFromIvfLake(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, ids: DataFrame): (Long, Long) =
    graft.sinks.Lake.deleteIds(spark, ivfDataDir(spark, lakeDir),
      "cell", "id", ids)

  /** Synchronize an IVF lake from a versioned document lake's CHANGE
    * FEED ([[graft.sinks.VersionedLake.changesBetween]]'s typed rows) —
    * the ANN twin of
    * [[graft.streaming.NearDupStream.applyChangesToCorpusState]]:
    * departures (`delete` + `update_preimage`) leave through
    * [[deleteFromIvfLake]]'s cell-scoped rewrite, then arrivals
    * (`insert` + `update_postimage`) join through [[appendToIvfLake]]'s
    * retrain-free assignment against the frozen centroids. Cost is the
    * churn — only cells holding departed ids rewrite, only arrival
    * vectors are assigned — never the lake, and the synced index
    * searches exactly like one built over the source lake's new
    * membership under the same geometry ([[ivfTopKFrozen]] is the
    * audit twin; q184 pins the multiset equality). Departures-first
    * ordering means an updated vector's stale copy can never survive
    * next to its replacement; apply each feed span exactly once (a
    * replay would duplicate arrival rows). Returns
    * (nVectorsRemoved, nVectorsArrived).
    */
  def applyChangesToIvfLake(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, changes: DataFrame, idCol: String, vecCol: String,
      dim: Int): (Long, Long) = {
    val c = changes.persist() // churn-sized; feeds two actions
    try {
      val departures = c
        .filter(col("change_type").isin("delete", "update_preimage"))
        .select(col(idCol))
      val arrivals = c
        .filter(col("change_type").isin("insert", "update_postimage"))
        .select(col(idCol), col(vecCol))
      val (_, removed) = deleteFromIvfLake(spark, lakeDir, departures)
      val arrived = arrivals.count()
      if (arrived > 0L)
        appendToIvfLake(arrivals, lakeDir, idCol, vecCol, dim)
      (removed, arrived)
    } finally { c.unpersist(blocking = false): Unit }
  }

  /** Drift measurement for an IVF (or IVF+PQ) lake: the mean
    * assigned-cell residual of a bounded, deterministic sample of the
    * CURRENT membership against the frozen centroids, compared to the
    * training-time residual persisted in the `_ivf_stats` sidecar.
    * Retrain-free appends ([[appendToIvfLake]]) assign against frozen
    * geometry forever; when the arrival distribution drifts, vectors
    * land ever farther from their assigned centroids, recall decays
    * with no error anywhere — THIS is the measured trigger that says
    * "recluster now" instead of guessing.
    *
    * The sample is hash-spread across the whole lake (TakeOrdered on
    * hash(id) — covers every vintage, no full sort, deterministic), and
    * the residual is the same statistic training minimized, so
    * `current / baseline` is dimension- and corpus-free. Cost: one
    * column-pruned scan + a sampleN×dim driver collect — the IVF
    * training budget. Returns (baseline, current, ratio,
    * drifted = current > baseline × threshold).
    */
  def ivfDriftProbe(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, dim: Int, sampleN: Int = 2048,
      threshold: Double = 1.25): (Double, Double, Double, Boolean) = {
    require(sampleN > 0 && threshold > 0.0,
      "ivfDriftProbe needs sampleN > 0 and threshold > 0")
    val flat = readIvfCentroids(spark, lakeDir, dim)
    val statsFiles = sidecarFiles(spark,
      ivfDataDir(spark, lakeDir) + "/_ivf_stats")
    require(statsFiles.nonEmpty,
      s"no _ivf_stats sidecar under $lakeDir — lakes written before the " +
        "drift probe existed carry no baseline; recluster (or rebuild) " +
        "writes it")
    val st = spark.read.parquet(statsFiles: _*).collect()
    require(st.length == 1, s"bad _ivf_stats sidecar under $lakeDir")
    val baseline = st(0).getDouble(0)
    // bounded deterministic sample across every vintage: TakeOrdered on
    // hash(id) is a per-partition heap + driver merge, never a full sort
    val sample = spark.read.schema(IvfLakeSchema)
      .parquet(ivfDataDir(spark, lakeDir))
      .select(col("id"), col("vec"))
      .orderBy(hash(col("id")), col("id")).limit(sampleN)
      .collect().map(_.getSeq[Float](1).toArray)
    val current = meanResidual(sample, flat, dim)
    val ratio = if (baseline > 0.0) current / baseline
      else if (current > 0.0) Double.PositiveInfinity else 1.0
    (baseline, current, ratio, current > baseline * threshold)
  }

  /** Retrain-and-swap for a drifted IVF (or IVF+PQ) lake: retrains
    * centroids on the CURRENT membership, rewrites the lake
    * cell-partitioned under the new geometry into a fresh GENERATION
    * subdir — data, `_ivf_centroids`, a fresh `_ivf_stats` baseline,
    * and the `_pq_codebooks` sidecar carried verbatim when present
    * (PQ codes encode raw vectors, by_residual = false, so they stay
    * valid under ANY cell geometry — only the probe/partition layout
    * retrains) — then publishes it READER-SAFELY with one atomic
    * pointer-file create (see [[ivfDataDir]]). The old
    * directory-rename protocol had a window (between the
    * rename-aside and the rename-in) where the live path did not
    * exist and a concurrent query FAILED; the pointer publish has no
    * such window — a reader resolving during the swap sees the old
    * generation or the new one, and the PREVIOUS generation is
    * retained until the NEXT recluster so even a query that resolved
    * just before the publish finishes its scan against intact files.
    *
    * Crash safety: a crashed build leaves an orphan `_gen_*` dir no
    * pointer names — invisible to every reader, swept by the next
    * recluster. The publish is one atomic no-replace create; there is
    * no multi-step swap to recover. Single MAINTENANCE writer, like
    * every lake mutation here (concurrent appends during a recluster
    * would land in the superseded generation).
    *
    * MIGRATION: the first recluster of a legacy FLAT lake moves it to
    * the generational layout and removes the root-level cell dirs
    * after publishing — a reader mid-scan on the legacy layout at
    * that instant can fail (one-time caveat); every later swap is
    * fully reader-safe. Returns the new cell count.
    */
  def reclusterIvfLake(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, idCol: String, vecCol: String, dim: Int,
      nCells: Int = 0, sampleN: Int = 0, iters: Int = 10,
      seed: Long = 42L): Int = {
    import org.apache.hadoop.fs.Path
    val base = new Path(lakeDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(base), s"no IVF lake at $lakeDir")
    val ptrs = fs.listStatus(base).iterator.map(_.getPath.getName)
      .filter(_.startsWith("_ptr_")).toSeq.sortBy(_.split('_')(2).toLong)
    val dataDir = ivfDataDir(spark, lakeDir)
    // sweep CRASHED builds: generations NO pointer names. Exact-name
    // match only — a compaction's `_gen_<token>.compact_tmp` sibling
    // has its own recovery protocol and must never be swept here.
    // (Retiring superseded-but-pointed generations happens AFTER the
    // publish below, so the previous generation is always retained for
    // in-flight readers.)
    val pointed = ptrs.map(_.split('_')(3)).toSet
    fs.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.matches("_gen_[0-9a-f]{12}") &&
          !pointed.contains(n.stripPrefix("_gen_")))
        require(fs.delete(st.getPath, true),
          s"reclusterIvfLake: could not sweep dead generation $n")
    }

    val lake = spark.read.parquet(dataDir) // inferred: carries PQ codes
    val (cells, centroids, _) = trainCentroids(
      lake, "id", "vec", dim, nCells, sampleN, iters, seed)
    val centLit = ArrayOps.packedFloatLit(centroids)
    val token = java.util.UUID.randomUUID().toString
      .replace("-", "").take(12)
    val newGen = s"$lakeDir/_gen_$token"
    // baseline from the membership frame already in hand (row-identical
    // to the generation just written), not a read-back of it — sampled
    // CONCURRENTLY with the generation write (both read the OLD
    // generation's immutable files; guide §2.6)
    val sample = collectDriftSampleAsync(
      lake.select(col("id"), col("vec")))
    import spark.implicits._
    sample.alongside {
      lake.drop("cell")
        .withColumn("cell",
          graft.functions.ArrayOps.nearestCentroidF(col("vec"), centLit, dim))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(newGen)
      centroids.grouped(dim).zipWithIndex
        .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
        .toDF("cell_id", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(newGen + "/_ivf_centroids")
    }
    writeDriftBaselineFromSample(spark, newGen, sample.await(),
      centroids, dim)
    val cb = sidecarFiles(spark, dataDir + "/_pq_codebooks")
    if (cb.nonEmpty)
      spark.read.parquet(cb: _*).coalesce(1)
        .write.mode("overwrite").parquet(newGen + "/_pq_codebooks")
    // PUBLISH: one atomic no-replace create of the next pointer — the
    // generation is complete before it becomes resolvable
    val seq = ptrs.lastOption.map(_.split('_')(2).toLong + 1).getOrElse(1L)
    val ptr = new Path(base, f"_ptr_$seq%06d_$token")
    val out = fs.create(ptr, false) // loud on a racing recluster
    out.close()
    // retire: keep the new generation and the PREVIOUS one (in-flight
    // readers that resolved just before the publish finish their scan
    // against intact files); everything older goes now
    val allPtrs = (ptrs :+ ptr.getName).sortBy(_.split('_')(2).toLong)
    allPtrs.dropRight(2).foreach { n =>
      val tok = n.split('_')(3)
      fs.delete(new Path(base, s"_gen_$tok"), true): Unit
      fs.delete(new Path(base, n), false): Unit
    }
    // legacy flat layout superseded: remove the root-level cell dirs
    // and sidecars. Runs UNCONDITIONALLY (not only on the pass that
    // performed the migration): a prior recluster that crashed after
    // its pointer publish but before this cleanup leaves the stale flat
    // copy behind — later passes resolve dataDir != lakeDir, and a
    // dataDir-gated sweep would then skip it forever, leaking storage
    // and leaving stale rows visible to any direct parquet read of the
    // root. After the publish above a pointer always exists, so any
    // root-level cell= dir here is by definition the dead legacy copy.
    fs.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && (n.startsWith("cell=") ||
          n == "_ivf_centroids" || n == "_ivf_stats" ||
          n == "_pq_codebooks"))
        require(fs.delete(st.getPath, true),
          s"reclusterIvfLake: could not remove legacy $n")
    }
    cells
  }

  /** Cell-scoped file compaction for an IVF lake — the maintenance op
    * that pairs with [[appendToIvfLake]]: each append adds one file per
    * touched cell, so after thousands of daily batches every cell
    * directory holds thousands of small files and probe-time listing +
    * per-file open costs dominate the read long before the bytes do.
    * This pass rewrites ONLY the cells holding more than
    * `maxFilesPerCell` data files back to one file each (well, one per
    * final shuffle task that owns the cell — the hash-clustered write
    * discipline of the initial [[writeIvfLake]]); untouched cells and
    * the `_ivf_centroids` sidecar are never rewritten, renamed, or even
    * listed into the rewrite plan, so the pass's cost is proportional
    * to the APPEND CHURN, not the lake (contrast
    * [[graft.sinks.Lake.compact]], which rewrites a whole lake and
    * would also drop the sidecar through its directory swap).
    *
    * Search results are INVARIANT across the pass — rows move between
    * files within their own cell directory, nothing else changes — and
    * q162 pins that equality under the driver oracle.
    *
    * Crash safety is the partials-lake manifest protocol
    * ([[graft.streaming.PartialAggs.compactPartials]]), cell-granular:
    *  1. fat cells' rows are rewritten (cell-clustered) into a sibling
    *     `.compact_tmp`, partition-pruned to exactly those cells;
    *  2. the absorbed cell ids are committed atomically as the tmp's
    *     `_ABSORBED` manifest — the commit point;
    *  3. each listed cell dir is deleted and its tmp replacement
    *     renamed into place (idempotent per cell: a replacement already
    *     promoted is no longer in tmp and is skipped);
    *  4. tmp is deleted.
    * Recovery (run first by every pass): tmp without a manifest is a
    * mid-write corpse — every source cell is intact, delete tmp; tmp
    * WITH a manifest holds complete replacements for the listed cells —
    * finish steps 3–4 exactly.
    *
    * Returns (data files before, data files after), counted over cell
    * directories after recovery.
    */
  def compactIvfLake(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, maxFilesPerCell: Int = 1): (Long, Long) = {
    require(maxFilesPerCell >= 1,
      s"maxFilesPerCell=$maxFilesPerCell must be >= 1")
    import org.apache.hadoop.fs.Path
    val dataDir = ivfDataDir(spark, lakeDir)
    val base = new Path(dataDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def isData(name: String): Boolean =
      !name.startsWith("_") && !name.startsWith(".")
    def cellFiles(): Map[Long, Long] =
      (if (fs.exists(base)) fs.listStatus(base).toSeq else Nil)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        .flatMap { s =>
          s.getPath.getName.stripPrefix("cell=").toLongOption.map { c =>
            c -> fs.listStatus(s.getPath)
              .count(f => f.isFile && isData(f.getPath.getName)).toLong
          }
        }.toMap
    val tmp = new Path(dataDir + ".compact_tmp")
    val manifest = new Path(tmp, PartialAggs.ManifestName)
    def promote(cells: Seq[Long]): Unit = {
      cells.foreach { c =>
        val src = new Path(tmp, s"cell=$c")
        if (fs.exists(src)) { // already-promoted cells are gone from tmp
          fs.delete(new Path(s"$dataDir/cell=$c"), true)
          require(fs.rename(src, new Path(s"$dataDir/cell=$c")),
            s"compactIvfLake: rename $src failed; the rewritten cell is " +
              "intact in the tmp dir — re-run the pass")
        }
      }
      require(fs.delete(tmp, true),
        s"compactIvfLake: could not remove committed tmp $tmp")
    }
    if (fs.exists(tmp)) {
      if (fs.exists(manifest))
        promote(PartialAggs.readManifest(fs, manifest))
      else require(fs.delete(tmp, true),
        s"compactIvfLake: could not discard uncommitted tmp $tmp")
    }
    val before = cellFiles()
    val fat = before.filter(_._2 > maxFilesPerCell).keys.toSeq.sorted
    val nBefore = before.values.sum
    if (fat.isEmpty) return (nBefore, nBefore)
    // INFERRED schema, not IvfLakeSchema: the rewrite must carry every
    // stored column — an IVF+PQ lake ([[writeIvfPqLake]]) also holds
    // the code column, and a fixed 3-column read would silently drop
    // it from every compacted cell (IvfLakeSpec pins code survival)
    spark.read.parquet(dataDir)
      .filter(col("cell").isin(fat.map(_.asInstanceOf[Any]): _*))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    PartialAggs.writeManifest(fs, tmp, fat) // the commit point
    promote(fat)
    (nBefore, cellFiles().values.sum)
  }

  /** IVF search over an in-memory corpus ASSIGNED TO A LAKE'S FROZEN
    * centroids — the audit twin of [[appendToIvfLake]]: searching a
    * base+appended lake must EXACTLY equal searching base∪batch
    * assigned in memory to the same sidecar centroids (q152 pins the
    * multiset equality). Differs from [[ivfTopK]] only in where the
    * geometry comes from: ivfTopK trains on its input, this freezes on
    * the lake's.
    */
  def ivfTopKFrozen(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, lakeDir: String,
      nProbe: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val flat = readIvfCentroids(spark, lakeDir, dim)
    val centLit = ArrayOps.packedFloatLit(flat)
    val (q, probed) = ivfProbe(spark, queries, idCol, vecCol, dim,
      nProbe, flat)
    val c = corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .withColumn("cell",
        graft.functions.ArrayOps.nearestCentroidF(col("vec"), centLit, dim))
      .filter(col("cell").isin(probed.map(_.asInstanceOf[Any]): _*))
    ivfScore(c, q, k)
  }

  /** The IVF+PQ composed lake (the FAISS IVFPQ layout, cf. Jégou et
    * al. 2011, "Product Quantization for Nearest Neighbor Search",
    * with by_residual=false — codes quantize the raw vectors, the
    * established q110/q122 convention): the [[writeIvfLake]] cell
    * partitioning for file-listing-time pruning PLUS a precomputed PQ
    * code column for cheap in-cell scoring, with BOTH geometries
    * frozen as sidecars (`_ivf_centroids`, `_pq_codebooks`). This is
    * the 100-TB search shape the two separate lakes only approximate:
    * q137's IVF lake prunes cells but then scores full float vectors;
    * q122's PQ lake scores cheap codes but must scan every row's
    * code. Here a probe reads ONLY the probed cells' directories and
    * ONLY the (id, code) columns inside them — the float column stays
    * unread until the final ≤ |Q|·k·refine-row exact re-rank.
    * Centroids and codebooks train exactly as [[writeIvfLake]] /
    * [[pqTopK]] train them (same bounded deterministic samples, same
    * seeds). Returns the cell count.
    */
  def writeIvfPqLake(corpus: DataFrame, lakeDir: String, idCol: String,
      vecCol: String, dim: Int, nCells: Int = 0, m: Int = 8,
      ksub: Int = 16, sampleN: Int = 0, iters: Int = 10,
      seed: Long = 42L): Int = {
    require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(ksub > 0 && ksub <= 128, s"ksub=$ksub must fit a signed byte")
    val spark = corpus.sparkSession
    val (cells, centroids, _) =
      trainCentroids(corpus, idCol, vecCol, dim, nCells, sampleN, iters, seed)
    val centLit = ArrayOps.packedFloatLit(centroids)
    val subDim = dim / m
    val pqSample = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
      .orderBy(col("id")).limit(if (sampleN > 0) sampleN else 2048)
      .collect().map(_.getSeq[Float](1).toArray)
    val codebooks = trainPqCodebooks(pqSample, m, ksub, subDim, iters, seed)
    val cbLit = ArrayOps.packedFloatLit(codebooks)
    // baseline from the source frame, not a full read-back (see
    // writeIvfLake) — collected concurrently with the write below
    val sample = collectDriftSampleAsync(
      corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec")))
    import spark.implicits._
    sample.alongside {
      corpus.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<float>").as("vec"))
        .withColumn("code",
          ArrayOps.pqEncodeF(col("vec"), cbLit, m, ksub, subDim))
        .withColumn("cell",
          graft.functions.ArrayOps.nearestCentroidF(col("vec"), centLit, dim))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(lakeDir)
      centroids.grouped(dim).zipWithIndex
        .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
        .toDF("cell_id", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(lakeDir + "/_ivf_centroids")
      Seq((m, ksub, codebooks.toSeq)).toDF("m", "ksub", "codebooks")
        .coalesce(1)
        .write.mode("overwrite").parquet(lakeDir + "/_pq_codebooks")
    }
    writeDriftBaselineFromSample(spark, lakeDir, sample.await(),
      centroids, dim)
    cells
  }

  /** The `_pq_codebooks` sidecar: (m, ksub, flat codebook matrix in
    * [[ArrayOps.pqEncode]]'s layout). Fails fast on a dim mismatch —
    * wrong-geometry codes would silently rank garbage.
    */
  private def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, dim: Int): (Int, Int, Array[Float]) = {
    val files = sidecarFiles(spark,
      ivfDataDir(spark, lakeDir) + "/_pq_codebooks")
    require(files.nonEmpty, s"no _pq_codebooks sidecar under $lakeDir")
    val rows = spark.read.parquet(files: _*).collect()
    require(rows.length == 1, s"bad _pq_codebooks sidecar under $lakeDir")
    val m = rows(0).getInt(0)
    val ksub = rows(0).getInt(1)
    val cb = rows(0).getSeq[Float](2).toArray
    require(cb.length == ksub * dim,
      s"$lakeDir codebooks cover ${cb.length / ksub} dims, caller said $dim")
    (m, ksub, cb)
  }

  private val IvfPqLakeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      IvfLakeSchema.fields.patch(2, Seq(
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.ByteType))), 0))

  /** Search a [[writeIvfPqLake]] lake: probe `nProbe` cells against the
    * frozen centroid sidecar (partition pruning at file-listing time),
    * ADC-score ONLY the probed cells' (id, code) columns against each
    * query's LUT (the float column is pruned out of the scan —
    * PlanSpec-class evidence in the q164 audit), then exact-re-rank
    * the ≤ |Q|·k·refine shortlist from a second scan pruned BOTH by
    * cell and by the collected shortlist ids. Results equal
    * [[ivfPqTopKFrozen]] (same sidecars, in-memory corpus) exactly —
    * the lake changes where bytes come from, never what is computed.
    */
  def ivfPqTopKOverLake(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int = 5, nProbe: Int = 0, refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine=$refine must be >= 1")
    val flat = readIvfCentroids(spark, lakeDir, dim)
    val (m, ksub, cb) = readPqCodebooks(spark, lakeDir, dim)
    val (q, probed) = ivfProbe(spark, queries, idCol, vecCol, dim,
      nProbe, flat)
    val qLut = q.withColumn("lut",
      ArrayOps.pqLutF(col("q_vec"), ArrayOps.packedFloatLit(cb), m, ksub,
        dim / m))
    val dataDir = ivfDataDir(spark, lakeDir)
    val codes = spark.read.schema(IvfPqLakeSchema).parquet(dataDir)
      .filter(col("cell").isin(probed.map(_.asInstanceOf[Any]): _*))
      .select(col("id"), col("code"), col("cell"))
    val shortlist = ivfPqShortlist(codes, qLut, k, refine, ksub)
    if (refine == 1) shortlist.select("q_id", "id", "rank")
    else {
      // bounded collect (≤ |Q|·k·refine longs): the re-rank scan's read
      // set becomes a driver-known constant pushed into parquet pruning
      // (materialized under a raised in-filter threshold — see
      // [[withInFilterThreshold]]; the cell half prunes at the
      // partition level regardless)
      val ids = shortlist.select(col("id")).distinct()
        .collect().map(_.getLong(0)).sorted
      val pruned = withInFilterThreshold(spark, ids.length) {
        spark.read.schema(IvfPqLakeSchema).parquet(dataDir)
          .filter(col("cell").isin(probed.map(_.asInstanceOf[Any]): _*) &&
            col("id").isin(ids.map(_.asInstanceOf[Any]): _*))
          .select(col("id"), col("vec"))
          .localCheckpoint(true)
      }
      collectAndRelease(spark,
        pqRefine(pruned, queries, idCol, vecCol, shortlist, k), pruned)
    }
  }

  /** [[ivfPqTopKOverLake]]'s audit twin: the same search over an
    * IN-MEMORY corpus assigned and encoded with the LAKE's frozen
    * sidecars — cell assignment via `_ivf_centroids`, codes via
    * `_pq_codebooks` (deterministic encode ⇒ byte-identical codes).
    * Must equal the lake search exactly (q164 pins the multiset
    * equality); differs only in where bytes come from.
    */
  def ivfPqTopKFrozen(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, lakeDir: String, nProbe: Int = 0,
      refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine=$refine must be >= 1")
    val spark = corpus.sparkSession
    val flat = readIvfCentroids(spark, lakeDir, dim)
    val (m, ksub, cb) = readPqCodebooks(spark, lakeDir, dim)
    val cbLit = ArrayOps.packedFloatLit(cb)
    val (q, probed) = ivfProbe(spark, queries, idCol, vecCol, dim,
      nProbe, flat)
    val qLut = q.withColumn("lut",
      ArrayOps.pqLutF(col("q_vec"), cbLit, m, ksub, dim / m))
    val c = corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .withColumn("cell", graft.functions.ArrayOps.nearestCentroidF(
        col("vec"), ArrayOps.packedFloatLit(flat), dim))
      .filter(col("cell").isin(probed.map(_.asInstanceOf[Any]): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codes = c.withColumn("code",
        ArrayOps.pqEncodeF(col("vec"), cbLit, m, ksub, dim / m))
      .select(col("id"), col("code"), col("cell"))
    val shortlist = ivfPqShortlist(codes, qLut, k, refine, ksub)
    if (refine == 1) shortlist.select("q_id", "id", "rank")
    else collectAndRelease(spark,
      pqRefine(c.select(col("id"), col("vec")), queries, idCol, vecCol,
        shortlist, k), c)
  }

  /** The shared ADC stage of the two IVFPQ paths: probed-cell codes
    * joined to the broadcast fanned queries ON THE CELL (each corpus
    * row lives in exactly one cell, so a (q, id) pair scores once),
    * ranked by the bounded heap to k·refine.
    */
  private def ivfPqShortlist(codes: DataFrame, qLut: DataFrame, k: Int,
      refine: Int, ksub: Int): DataFrame = {
    val scored = codes
      .join(broadcast(qLut.select(col("q_id"), col("lut"), col("cell"))),
        Seq("cell"))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        ArrayOps.pqAdcF(col("lut"), col("code"), ksub).as("sim"))
    heapTopK(scored, k * refine)
  }

  /** Exact top-k over INT8-QUANTIZED codes ([[Quantization.int8]]) —
    * the compressed-scan path: rank candidates on the integer cosine
    * kernel (`ArrayOps.cosineInt8`, 8× less memory traffic per pair
    * than float32; symmetric quantization means the scales cancel in
    * cosine and are never consulted). Same broadcast-the-queries /
    * scan-the-corpus-once shape as [[bruteForceTopK]]; at 100 TB this
    * is what you run over the stored int8 codes instead of re-reading
    * the float vectors, optionally float-re-ranking the short list
    * afterwards. Output: (q_id, id, sim6, rank). All-zero vectors
    * (the only source of zero codes → NaN cosine) are excluded on
    * both sides.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 5): DataFrame = {
    def codes(df: DataFrame, pfx: String) =
      Quantization.int8(df, vecCol)
        .filter(col("q_scale") > 0d)
        .select(col(idCol).as(pfx + "id"), col("q_vec").as(pfx + "codes"))
    val c = codes(corpus, "")
    val q = codes(queries, "q_")
    val scored = c.join(broadcast(q), col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        ArrayOps.cosineInt8(col("q_codes"), col("codes")).as("sim"))
    heapTopK(scored, k)
      .select(col("q_id"), col("id"), round(col("sim"), 6).as("sim6"),
        col("rank"))
  }

  /** Deterministic spherical k-means (Lloyd's on the unit sphere) over an
    * in-memory sample; returns the flat row-major centroid matrix.
    * Empty cells keep their previous centroid.
    */
  private[graft] def trainSphericalKMeans(points: Array[Array[Float]],
      k: Int, dim: Int, iters: Int, seed: Long): Array[Float] = {
    require(points.nonEmpty, "IVF training sample is empty")
    def normalize(v: Array[Float]): Array[Float] = {
      var n = 0.0
      var i = 0
      while (i < dim) { n += v(i).toDouble * v(i); i += 1 }
      val s = math.sqrt(n)
      if (s == 0.0) v.clone()
      else Array.tabulate(dim)(i => (v(i) / s).toFloat)
    }
    val pts = points.map(normalize)
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(pts.indices.toVector).take(math.min(k, pts.length))
    var cent = Array.tabulate(k)(i =>
      if (i < init.length) pts(init(i)).clone() else pts(i % pts.length).clone())
    var it = 0
    val assign = new Array[Int](pts.length)
    while (it < iters) {
      // PHASE 1 — assignment: the O(pts·k·dim) dot-product scoring is
      // pure reads against the frozen `cent`, and each point writes only
      // its own slot, so it parallelizes with BITWISE-IDENTICAL results
      // under any thread schedule. This was the entire driver-side
      // training cost (one serial core while local[32] sat idle).
      val centLocal = cent
      java.util.stream.IntStream.range(0, pts.length).parallel()
        .forEach { p =>
          val pv = pts(p)
          var best = 0
          var bestDot = Double.MinValue
          var c = 0
          while (c < k) {
            var dot = 0.0
            var i = 0
            while (i < dim) { dot += pv(i).toDouble * centLocal(c)(i); i += 1 }
            if (dot > bestDot) { bestDot = dot; best = c }
            c += 1
          }
          assign(p) = best
        }
      // PHASE 2 — accumulation, SEQUENTIAL in point order: float sums
      // are order-sensitive, and the centroids feed persisted lake
      // geometry and oracle-pinned recall floors — the addition order
      // (and therefore every output bit) must stay exactly what the
      // sequential loop produced.
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var p = 0
      while (p < pts.length) {
        val pv = pts(p)
        val best = assign(p)
        var i = 0
        while (i < dim) { sums(best)(i) += pv(i); i += 1 }
        counts(best) += 1
        p += 1
      }
      cent = Array.tabulate(k) { c =>
        if (counts(c) == 0) cent(c)
        else normalize(Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat))
      }
      it += 1
    }
    cent.flatten
  }

  /** Product-quantization ADC top-k — the compressed-scan ANN tier past
    * int8 ([[quantizedTopK]]): the corpus is encoded to `m` byte codes
    * per vector (m=8 on 64-dim = 32× less than float32), each query
    * precomputes an m×ksub inner-product lookup table against the
    * codebooks, and candidate scoring is `m` table adds — no float
    * vector is ever read again after encoding. This is the faiss
    * IndexPQ search shape re-expressed as a Spark plan: bounded
    * deterministic driver-side training (sampleN×dim floats, like
    * [[ivfTopK]]), ONE distributed encode pass with the codebooks
    * inlined as a packed literal, queries broadcast, corpus never
    * shuffled; the only shuffle carries the ≤ k·refine heap survivors
    * per (query, mapper) into [[heapTopK]]. Cosine metric: vectors are
    * L2-normalized inside the kernels, codebooks are trained on
    * normalized subvectors, so ADC sums approximate cosine directly.
    *
    * `refine` is the faiss IndexRefineFlat pattern: the ADC pass keeps
    * a shortlist of `refine·k` candidates per query, which is then
    * re-ranked EXACTLY on the float vectors. The shortlist is tiny
    * (|Q|·refine·k ids), so the re-rank is a broadcast semi-join
    * against the corpus — at 100 TB a parquet lake sorted/bloom-indexed
    * on id prunes that second scan to the touched row groups, while
    * the full scan happened once over m-byte codes. Quantization error
    * then only costs candidates dropped from the shortlist, not final
    * ordering. `refine = 1` disables re-ranking (pure ADC).
    * Output: (q_id, id, rank) — approximate, audited by recall against
    * [[bruteForceTopK]] (q110).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int = 5, m: Int = 8, ksub: Int = 16,
      refine: Int = 4, sampleN: Int = 2048, iters: Int = 10,
      seed: Long = 42L): DataFrame = {
    val shortlist = pqShortlist(corpus, queries, idCol, vecCol, dim, k,
      m, ksub, refine, sampleN, iters, seed)
    if (refine == 1)
      shortlist.select("q_id", "id", "rank")
    else
      pqRefine(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
        queries, idCol, vecCol, shortlist, k)
  }

  /** The ADC stage of [[pqTopK]]: train, encode, score, keep the
    * k·refine shortlist per query. Shared verbatim by the in-memory
    * refine path and [[pqTopKOverLake]], so the two paths differ ONLY
    * in where the refine scan reads its float vectors.
    */
  private def pqShortlist(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int, m: Int, ksub: Int,
      refine: Int, sampleN: Int, iters: Int, seed: Long): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(ksub > 0 && ksub <= 128, s"ksub=$ksub must fit a signed byte")
    require(refine >= 1, s"refine=$refine must be >= 1")
    val subDim = dim / m
    val sample = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(col("id")).limit(sampleN)
      .collect().map(_.getSeq[Float](1).toArray)
    val codebooks = trainPqCodebooks(sample, m, ksub, subDim, iters, seed)
    val cbLit = ArrayOps.packedFloatLit(codebooks)

    val c = corpus.select(col(idCol).as("id"),
      ArrayOps.pqEncodeF(col(vecCol), cbLit, m, ksub, subDim).as("codes"))
    val q = queries.select(col(idCol).as("q_id"),
      ArrayOps.pqLutF(col(vecCol), cbLit, m, ksub, subDim).as("lut"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        ArrayOps.pqAdcF(col("lut"), col("codes"), ksub).as("sim"))
    heapTopK(scored, k * refine)
  }

  /** Materialize a BOUNDED result frame (top-k per query — ≤ |Q|·k
    * rows by construction) as a local relation, then release the
    * persisted/checkpointed `backing` dataset its plan reads from.
    * Returning the lazy plan instead would pin the checkpointed blocks
    * in executor storage until session end — repeated pq/ivf topK
    * calls accumulated exactly that before r16.
    */
  private def collectAndRelease(
      spark: org.apache.spark.sql.SparkSession, result: DataFrame,
      backing: org.apache.spark.sql.Dataset[_]): DataFrame = {
    val rows = result.collect() // bounded: ≤ |Q|·k rows
    backing.unpersist(blocking = false): Unit
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** Run `body` (which must MATERIALIZE its scan — the conf is read at
    * execution time, so a lazily returned plan would escape the window)
    * with `spark.sql.parquet.pushdown.inFilterThreshold` raised past
    * `nIds`, restoring the session value after. The refine scans push a
    * shortlist-sized IN-list into parquet row-group pruning; at the
    * default threshold (10) any shortlist beyond 10 ids silently stops
    * pushing and the "re-read only the shortlist row groups" promise
    * quietly becomes a full scan — the operator owns the knob.
    * CONCURRENCY CAVEAT: the threshold is a SESSION conf (Spark
    * exposes no per-read knob for it), so a concurrent query on the
    * same SparkSession can observe the raised value for the duration
    * of this read — harmless for correctness (the threshold only
    * WIDENS pushdown; results are unchanged either way) but visible;
    * callers needing strict conf isolation should run refine scans on
    * their own session.
    */
  private def withInFilterThreshold[T](
      spark: org.apache.spark.sql.SparkSession, nIds: Int)(body: => T): T = {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, math.max(nIds + 1, 10).toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Exact float re-rank of a (q_id, id) shortlist against a vector
    * source. `vecSource` must expose (id, vec).
    */
  private def pqRefine(vecSource: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, shortlist: DataFrame,
      k: Int): DataFrame = {
    val qf = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val reranked = vecSource
      .join(broadcast(shortlist.select(col("q_id"), col("id"))), Seq("id"))
      .join(broadcast(qf), Seq("q_id"))
      .select(col("q_id"), col("id"),
        ArrayOps.cosineF(col("q_vec"), col("vec")).as("sim"))
    heapTopK(reranked, k).select("q_id", "id", "rank")
  }

  /** "ANN over the lake" — [[pqTopK]]'s refine scan wired to an
    * id-sorted, bloom-indexed parquet lake ([[graft.sinks.Lake
    * .writeAnnLake]]): the 100-TB shape the refine pattern promises.
    * The ADC pass scans the lake ONCE (codes are cheap to carry;
    * at real scale they'd be a stored column); the exact re-rank then
    * RE-READS only the shortlist rows — the id list is collected
    * (bounded: ≤ |Q|·k·refine longs, the same driver-side budget as
    * the IVF training sample) and pushed into the second parquet scan
    * as a filter, so row groups outside the shortlist are pruned by
    * the parquet column index (the lake is sorted by id → tight
    * min/max per row group) and bloom filters instead of re-scanned.
    * The two scans are the whole story: full scan of m-byte codes +
    * shortlist-pruned scan of floats, never a second full float scan.
    *
    * Results are IDENTICAL to [[pqTopK]] with the same parameters on
    * the same data (pinned by spec): the lake changes where bytes
    * come from, never what is computed.
    *
    * In-filter pushdown to parquet is capped by
    * `spark.sql.parquet.pushdown.inFilterThreshold` (default 10, well
    * under any real shortlist) — the refine scan therefore runs under
    * a PER-READ raised threshold ([[withInFilterThreshold]]: set,
    * materialize, restore), so the pruning holds at any session
    * config instead of silently degrading to a full second scan.
    */
  def pqTopKOverLake(spark: org.apache.spark.sql.SparkSession,
      lakeDir: String, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int = 5, m: Int = 8, ksub: Int = 16, refine: Int = 4,
      sampleN: Int = 2048, iters: Int = 10, seed: Long = 42L): DataFrame = {
    require(refine >= 1, s"refine=$refine must be >= 1")
    val corpus = spark.read.parquet(lakeDir)
    val shortlist = pqShortlist(corpus, queries, idCol, vecCol, dim, k,
      m, ksub, refine, sampleN, iters, seed)
    if (refine == 1) shortlist.select("q_id", "id", "rank")
    else {
      // bounded collect: ≤ |Q|·k·refine ids — this IS the point where
      // the second scan's read set becomes a driver-known constant.
      // The scan materializes (localCheckpoint, shortlist-sized) under
      // a raised in-filter threshold so the IN-list actually reaches
      // the parquet reader at ANY session config — then the session
      // conf is restored.
      val ids = shortlist.select(col("id")).distinct()
        .collect().map(_.getLong(0)).sorted
      val pruned = withInFilterThreshold(spark, ids.length) {
        spark.read.parquet(lakeDir)
          .filter(col(idCol).isin(ids.map(_.asInstanceOf[Any]): _*))
          .select(col(idCol).as("id"), col(vecCol).as("vec"))
          .localCheckpoint(true)
      }
      collectAndRelease(spark,
        pqRefine(pruned, queries, idCol, vecCol, shortlist, k), pruned)
    }
  }

  /** Per-subspace Lloyd's k-means (L2) over the L2-NORMALIZED sample —
    * standard PQ training. Deterministic: seeded init (same shuffle
    * pattern as [[trainSphericalKMeans]]), fixed iteration order, empty
    * cells keep their previous centroid. Returns the flat codebook
    * matrix in [[ArrayOps.pqEncode]]'s layout:
    * `(j*ksub + c)*subDim + t`.
    */
  private[graft] def trainPqCodebooks(points: Array[Array[Float]], m: Int,
      ksub: Int, subDim: Int, iters: Int, seed: Long): Array[Float] = {
    require(points.nonEmpty, "PQ training sample is empty")
    val dim = m * subDim
    val normed = points.map { v =>
      var n2 = 0.0
      var i = 0
      while (i < dim) { n2 += v(i).toDouble * v(i); i += 1 }
      val inv = if (n2 == 0.0) 0.0 else 1.0 / math.sqrt(n2)
      Array.tabulate(dim)(i => (v(i) * inv).toFloat)
    }
    val out = new Array[Float](m * ksub * subDim)
    // subspaces are fully independent (own seed, own input slice,
    // disjoint output range) and each stays sequential inside — the
    // parallel outer loop is bitwise-identical to the serial one
    java.util.stream.IntStream.range(0, m).parallel().forEach { j =>
      val sub = normed.map(v => java.util.Arrays.copyOfRange(v,
        j * subDim, (j + 1) * subDim))
      val rnd = new scala.util.Random(seed + j)
      val init = rnd.shuffle(sub.indices.toVector)
        .take(math.min(ksub, sub.length))
      var cent = Array.tabulate(ksub)(c =>
        if (c < init.length) sub(init(c)).clone() else sub(c % sub.length).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](subDim))
        val counts = new Array[Int](ksub)
        sub.foreach { p =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0
            var t = 0
            while (t < subDim) {
              val e = p(t).toDouble - cent(c)(t); d += e * e; t += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var t = 0
          while (t < subDim) { sums(best)(t) += p(t); t += 1 }
          counts(best) += 1
        }
        cent = Array.tabulate(ksub)(c =>
          if (counts(c) == 0) cent(c)
          else Array.tabulate(subDim)(t => (sums(c)(t) / counts(c)).toFloat))
        it += 1
      }
      var c = 0
      while (c < ksub) {
        System.arraycopy(cent(c), 0, out, (j * ksub + c) * subDim, subDim)
        c += 1
      }
    }
    out
  }
}
