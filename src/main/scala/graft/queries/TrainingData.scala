package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text
import graft.operators.{Bpe, Clustering, Curation, Decontaminate, Dedup, Layout, LmScore, Multimodal, QualityModel, Quantization, Retrieval, Similarity, SubstringDedup}
import graft.streaming.EventsStream

/** Training-data-pipeline operator surface: deduplication (exact / MinHash
  * LSH / SimHash / n-gram Jaccard / embedding-cosine + clustering),
  * similarity search (brute-force / LSH / IVF ANN), text analysis
  * (quality, language-ID, tokenization, fingerprints, TF-IDF, OOV,
  * repetition), curation (decontamination, stratified + temperature
  * sampling, lake export), multimodal plumbing, and the
  * Structured-Streaming members.
  *
  * EVERY query has an `oracle` entry the driver runs in DuckDB. Exact ops
  * replicate the computation SQL-for-SQL; the sketch/ANN ops, whose
  * internals are not SQL-expressible, instead emit driver-checkable
  * INVARIANTS as their output — full set equality where the sketch is
  * provably exact on this data (q25, q43, q45), planted-clone audits
  * (q26, q37, q38), and recall/bound audits against SQL-proved ground
  * truth (q29, q50, and q39/q62 in their modules). ScalaTest adds the
  * data-independent guarantees (planted duplicates, recall floors,
  * determinism).
  */
object TrainingData {

  // --- q20: exact deduplication ---------------------------------------------
  private def q20(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")

  private val q20Sql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
       count(*) AS n_copies FROM documents GROUP BY 1"""

  // --- q21: text quality scoring ---------------------------------------------
  private def q21(s: SparkSession, d: String): DataFrame = {
    val t = Text.tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      // integer-ratio columns carry NO round(): int/int division is
      // IEEE-exact and identical across engines, while round() itself
      // differs at representation boundaries (the q18 lesson)
      Text.meanTokenLen(t).as("mean_token_len"),
      Text.stopwordRatio(t).as("stopword_ratio"),
      Text.qualityScore(col("text")).as("quality"))
  }

  private val q21Sql =
    """SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)
         AS mean_token_len,
       len(list_filter(w, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
         / len(w) AS stopword_ratio,
       CAST(round(
         (CASE WHEN len(w) BETWEEN 20 AND 1000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END) +
         (CASE WHEN len(list_filter(w, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
               / len(w) > 0.01 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END) +
         (CASE WHEN list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)
               BETWEEN 2.0 AND 12.0 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END), 6) AS DOUBLE) AS quality
       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t"""

  // --- q22: language identification (marker heuristic) -----------------------
  private def q22(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), Text.langId(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  private val q22Sql =
    """SELECT lang, predicted, count(*) AS n FROM (
         SELECT lang,
           CASE
             WHEN s_en > 0 AND s_en = best THEN 'en'
             WHEN s_es > 0 AND s_es = best THEN 'es'
             WHEN s_de > 0 AND s_de = best THEN 'de'
             WHEN s_fr > 0 AND s_fr = best THEN 'fr'
             WHEN s_zh > 0 AND s_zh = best THEN 'zh'
             ELSE 'und' END AS predicted
         FROM (
           SELECT lang, s_en, s_es, s_de, s_fr, s_zh,
             greatest(s_en, s_es, s_de, s_fr, s_zh) AS best
           FROM (
             SELECT lang,
               len(list_filter(w, x -> x IN ('the','a','of'))) AS s_en,
               len(list_filter(w, x -> x IN ('la','el','de'))) AS s_es,
               len(list_filter(w, x -> x IN ('der','die','und'))) AS s_de,
               len(list_filter(w, x -> x IN ('le','la','et'))) AS s_fr,
               len(list_filter(w, x -> x IN ('de5','shi4','le5'))) AS s_zh
             FROM (SELECT lang, string_split(text, ' ') AS w FROM documents) a
           ) b) c) e GROUP BY lang, predicted"""

  // --- q23: regex (BPE-ish) tokenization statistics ---------------------------
  private def q23(s: SparkSession, d: String): DataFrame = {
    val rt = Text.regexTokens(col("text"))
    Tables.documents(s, d)
      .select(col("lang"), size(rt).cast("long").as("n_tok"),
        size(array_distinct(rt)).cast("long").as("n_uniq"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tok")).as("total_tokens"),
        sum(col("n_uniq")).as("total_unique"),
        // avg over integers is an exact sum + one IEEE-exact division —
        // deterministic without round() (round is the divergence surface)
        avg(col("n_tok")).as("avg_tokens"))
  }

  private val q23Sql =
    """SELECT lang, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(n_uniq) AS BIGINT) AS total_unique,
       avg(n_tok) AS avg_tokens FROM (
         SELECT lang,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tok,
           len(list_distinct(
             regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS n_uniq
         FROM documents) t GROUP BY lang"""

  // --- q24: positional document fingerprint -----------------------------------
  private def q24(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      Text.positionalFingerprint(Text.tokens(col("text"))).as("fingerprint"))

  private val q24Sql =
    """SELECT doc_id,
       CAST(list_sum(list_transform(string_split(text, ' '),
         (x, i) -> i * (31 * length(x) + ascii(x)))) AS BIGINT) % 1000000007
         AS fingerprint
       FROM documents"""

  // --- q25: MinHash + LSH near-duplicate candidates — FULL oracle -------------
  // The corpus's pair-similarity distribution is bimodal: planted near-dups
  // at jaccard >= 0.8, coincidental overlaps <= 0.14, nothing between
  // (measured at sf0.01 AND sf0.1). With threshold 0.5 and 16 two-row
  // bands, a >= 0.8 pair band-collides with probability 1-(1-s^2)^16 >=
  // 1-1e-7 — so the verified LSH output EQUALS the exact all-pairs
  // jaccard >= 0.5 set by design, not by luck, and the oracle computes
  // that set: a hard end-to-end check of shingle → signature → band →
  // verify. (Both sides filter on round(j, 6) >= threshold so the
  // boundary agrees; extra low-jaccard candidates from the narrower bands
  // are discarded by the same exact verification.)
  private def q25(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
      shingleN = 3, k = 32, bands = 16, threshold = 0.5)

  private val q25Sql =
    """WITH sh AS (
         SELECT doc_id,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
         WHERE len(w) >= 3)
       SELECT id_a, id_b, jaccard FROM (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE /
             len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
       WHERE jaccard >= 0.5"""

  // --- q26: SimHash near-duplicate pairs — planted-pair audit oracle ----------
  // SimHash itself is not SQL-expressible, but two of its guarantees are:
  // identical text MUST produce identical sketches (hamming 0), and the
  // 16-bit-band blocking MUST surface every hamming-0 pair. Run over the
  // augmented corpus and project the reported pairs onto the 20 planted
  // clones: a missing row = broken determinism or blocking; a hamming != 0
  // = broken sketch. (Soundness — reported hamming <= maxDist — holds by
  // construction: the operator filters on the exactly recomputed distance.
  // The full pair surface stays pinned in TrainingOpsSpec.)
  private def q26(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(clonedDocs(s, d), "doc_id", "text",
      maxDist = 8)
      .filter(col("id_a") < 20 && col("id_b") === col("id_a") + 1000000L)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))

  private val q26Sql =
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
       CAST(0 AS BIGINT) AS hamming
       FROM documents WHERE doc_id < 20"""

  // --- q27: exact n-gram Jaccard within source blocks -------------------------
  private def q27(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      blockCol = "source", n = 3, minJaccard = 0.05)

  private val q27Sql =
    """SELECT id_a, id_b, jaccard FROM (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         FROM
           (SELECT source, doc_id,
              list_distinct(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
            FROM (SELECT source, doc_id, string_split(text, ' ') AS w
                  FROM documents) t0
            WHERE len(w) >= 3) a
         JOIN
           (SELECT source, doc_id,
              list_distinct(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
            FROM (SELECT source, doc_id, string_split(text, ' ') AS w
                  FROM documents) t1
            WHERE len(w) >= 3) b
         ON a.source = b.source AND a.doc_id < b.doc_id) p
       WHERE jaccard >= 0.05"""

  // --- q28: brute-force cosine top-k (the ANN correctness baseline) ----------
  private def q28(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
  }

  private val q28Sql =
    """SELECT q_id, id, rank FROM (
         SELECT q.vec_id AS q_id, c.vec_id AS id,
           CAST(row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                             c.embedding::DOUBLE[]) DESC,
                      c.vec_id ASC) AS BIGINT) AS rank
         FROM embeddings q, embeddings c
         WHERE q.vec_id < 10 AND q.vec_id != c.vec_id) t
       WHERE rank <= 5"""

  // --- q29: LSH-bucketed ANN — recall-invariant oracle -------------------------
  // An ANN result set is approximate by design, so the driver-visible
  // contract is its RECALL against the exact top-k (q28 proves the exact
  // side equals SQL). One audit row: every query answered, a full top-5
  // per query, and aggregate recall@5 over the brute-force ground truth
  // above the pinned floor. Defaults chosen from the measured
  // trade-off sweep (`tools/RecallSweep`): 4 planes × 3 tables
  // (multi-table LSH) measures 0.88 / 0.90 / 0.84 recall@5 at
  // sf0.001/0.01/0.1 over these 10 audit queries — floor 0.8 holds at
  // every scale with margin (deterministic seeded hyperplanes, so the
  // measurement is exact, not statistical). Any regression in
  // bucketing, probing, or ranking flips a value and fails the hash.
  private def q29(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    annRecallAudit(
      Similarity.lshTopK(emb, qs, "vec_id", "embedding",
        dim = 64, k = 5, nPlanes = 4, nTables = 3),
      Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5),
      floor = 0.8)
  }

  // --- q50: IVF ANN — same recall-invariant oracle. EXPLICIT 64 cells /
  // 28 probes (a ~44% scan fraction — the honest price of this corpus's
  // iid-random geometry; the operator's auto defaults target structured
  // corpora, see the round-10 sweep) measures recall@5 0.92 / 0.88 /
  // 0.94 at sf0.001/0.01/0.1 over THESE 10 audit queries
  // (`tools/RecallSweep` with nQueries=10; the 50-query curve is in
  // COVERAGE.md) — floor 0.8 holds at every scale; deterministic
  // seeded training makes the boolean exact. The operator stays the
  // approximate path the bench prices; only the audit joins it
  // against brute force.
  private def q50(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    annRecallAudit(
      Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
        dim = 64, k = 5, nCells = 64, nProbe = 28),
      Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5),
      floor = 0.8)
  }

  /** One-row ANN audit: (n_queries, n_results, recall_ge_floor) of an
    * approximate top-k result against the exact one. SQL-checkable because
    * n_queries/n_results are data-derivable and the floor test is pinned
    * true for the deterministic seeded operators.
    */
  private def annRecallAudit(approx: DataFrame, exact: DataFrame,
      floor: Double): DataFrame = {
    val stats = approx.agg(
      count_distinct(col("q_id")).as("n_queries"),
      count(lit(1)).as("n_results"))
    val hits = approx.join(exact, Seq("q_id", "id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    stats.crossJoin(hits).crossJoin(nExact)
      .select(col("n_queries"), col("n_results"),
        (col("n_hit").cast("double") / col("n_exact") >= floor)
          .as("recall_ge_floor"))
  }

  private val annAuditSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_results,
       true AS recall_ge_floor
       FROM embeddings WHERE vec_id < 10"""

  // --- q30: multimodal binary plumbing ----------------------------------------
  private def q30(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.mediaTable(Tables.documents(s, d))
    val feats = Multimodal.extractFeatures(media).toDF()
    media.join(feats, "id").select(
      col("id"), col("n_bytes"),
      substring(hex(col("media")), 1, 16).as("hex_prefix"),
      col("meta.mime").as("mime"),
      col("meta.width").cast("long").as("width"),
      col("meta.height").cast("long").as("height"))
  }

  private val q30Sql =
    """SELECT doc_id AS id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       hex(encode(text))[1:16] AS hex_prefix,
       'image/png' AS mime,
       doc_id % 640 + 32 AS width,
       doc_id % 480 + 32 AS height
       FROM documents"""

  // --- q31: Structured Streaming windowed aggregation -------------------------
  private def q31(s: SparkSession, d: String): DataFrame =
    EventsStream.windowedAgg(s, d)

  private val q31Sql =
    """SELECT strftime(time_bucket(INTERVAL '15 minutes', ts),
         '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
         AS total_value_cents
       FROM events GROUP BY 1, 2"""

  // --- q32: stateful streaming sessionization (flatMapGroupsWithState) --------
  private def q32(s: SparkSession, d: String): DataFrame =
    graft.streaming.SessionStream.sessions(s, d, gapMinutes = 30)

  // Session gaps compared on the MILLISECOND grid in both engines (see
  // q18/q46/q56: events.ts is TIMESTAMP(NANOS); Spark truncates to micros,
  // DuckDB keeps nanos, so ms is the shared precision). Strict `>` gap.
  // Integer-exact contract: session value leaves as cents (BIGINT) — a
  // DECIMAL→DOUBLE cast here differs by 1 ulp across DuckDB versions on
  // non-terminating binary fractions (driver hash-red r1-r3).
  // Oracle TYPE contract: `sum(new_sess) OVER` is HUGEINT in DuckDB, so
  // the projected sess_id must be CAST AS BIGINT to match Spark's int64
  // under a type-sensitive result hash (the r1-r4 q32 driver redness).
  private val q32Sql =
    """SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(14,2)) * 100) AS BIGINT) AS sess_cents
       FROM (
         SELECT user_id, value,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         FROM (
           SELECT user_id, ms, event_id, value,
             CASE WHEN lag(ms, 1) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) IS NULL
                  OR ms - lag(ms, 1) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) > 1800000
                  THEN 1 ELSE 0 END AS new_sess
           FROM (SELECT user_id, event_id, value, epoch_ms(ts) AS ms
                 FROM events) e0) a) b
       GROUP BY user_id, sess_id"""

  // --- q55: stream-static enrichment join (broadcast dim into the stream) ----
  private def q55(s: SparkSession, d: String): DataFrame =
    graft.streaming.EnrichStream.enrichedCounts(s, d)

  private val q55Sql =
    """SELECT c_mktsegment, event_type, count(*) AS n,
       CAST(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
         AS total_value_cents
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY c_mktsegment, event_type"""

  // --- q56: native session_window sessionization (the built-in member of
  // the session family: q18 = gaps-and-islands windows, q32 = custom
  // streaming state, q56 = Spark's session_window operator). Timestamps
  // are truncated to ms on both engines; session_window splits at gap >=
  // 30 min (merge condition is strictly-less-than the session end).
  private def q56(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("tsm", timestamp_millis(expr("unix_micros(ts) div 1000")))
    ev.groupBy(col("user_id"),
        session_window(col("tsm"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        // integer-exact: cents summed as longs, never divided back to a
        // double (q18/q32's three-round driver-red lesson)
        sum((col("value").cast("decimal(14,2)") * lit(100).cast("decimal(3,0)"))
          .cast("long")).as("sess_cents"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("sess_start_ms"),
        col("n_events"), col("sess_cents"))
  }

  private val q56Sql =
    """SELECT user_id, min(ms) AS sess_start_ms, count(*) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
         AS sess_cents
       FROM (
         SELECT user_id, ms, value,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM (
           SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
             CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                    ORDER BY epoch_ms(ts), event_id) IS NULL
                  OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY
                    user_id ORDER BY epoch_ms(ts), event_id) >= 1800000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events) a) b
       GROUP BY user_id, sid"""

  // --- q37: embedding-cosine near-duplicates — planted-pair audit oracle ------
  // Hyperplane blocking is probabilistic for mid-similarity pairs but
  // DETERMINISTIC for exact duplicates: identical vectors share every sign
  // bit, land in the same bucket, and verify at cosine 1.0. Augment the
  // embeddings with 20 cloned vectors and project the reported pairs onto
  // them — the oracle recomputes each planted pair's cosine with DuckDB's
  // list_cosine_similarity. (Soundness of the full output holds by
  // construction — pairs are kept only after the exact in-bucket cosine
  // test; q44 is the unblocked exact twin over a bounded id range.)
  private def q37(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cloned = emb.unionByName(emb.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 1000000L))
    Dedup.embeddingNearDups(cloned, "vec_id", "embedding",
      dim = 64, threshold = 0.2, nPlanes = 6)
      .filter(col("id_a") < 20 && col("id_b") === col("id_a") + 1000000L)
  }

  private val q37Sql =
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
       round(list_cosine_similarity(embedding::DOUBLE[],
                                    embedding::DOUBLE[]), 6) AS cosine
       FROM embeddings WHERE vec_id < 20"""

  // --- q38: full dedup pipeline — invariant-audit oracle ----------------------
  // MinHash-LSH pairs at threshold 0.8 feed connected-components
  // clustering; which mid-similarity docs collapse is sketch-dependent,
  // but two outcomes are provable and SQL-checkable: (1) every planted
  // exact clone is collapsed away (identical sigs always band-collide,
  // jaccard 1.0 >= 0.8, and the clone can never be its cluster's min id),
  // and (2) the output carries no two documents with identical text. The
  // query emits those two counters; the oracle pins them to zero. The
  // full collapsed-corpus surface has its exact-dup twin in q45 and its
  // behavior spec in TrainingOpsSpec.
  private def q38(s: SparkSession, d: String): DataFrame = {
    val docs = clonedDocs(s, d)
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.8)
    val cl = Dedup.clusters(pairs)
    val out = Dedup.dedupedCorpus(docs, "doc_id", cl)
      .select(col("doc_id"), col("text"))
      .persist()
    val planted = out.filter(col("doc_id") >= 1000000L)
      .agg(count(lit(1)).as("planted_surviving"))
    val dups = out.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(count(lit(1)).as("exact_dup_groups_in_output"))
    planted.crossJoin(dups)
  }

  private val q38Sql =
    """SELECT CAST(0 AS BIGINT) AS planted_surviving,
       CAST(0 AS BIGINT) AS exact_dup_groups_in_output"""

  // The documents table ships with no exact duplicates, which would make
  // the threshold-1.0 oracles vacuously-empty checks. Both engines
  // therefore run over the same AUGMENTED corpus: documents plus clones
  // of doc_id < 20 re-keyed to doc_id + 1000000 — 20 planted exact-dup
  // pairs with known ids.
  private def clonedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.unionByName(docs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 1000000L))
  }

  private val clonedDocsSql =
    """(SELECT * FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
        FROM documents WHERE doc_id < 20)"""

  // --- q43: MinHash-LSH at threshold 1.0 — the FULL-oracle member of the
  // sketch family. Identical shingle sets produce identical signatures, so
  // every band collides and LSH recall is exactly 100%; verification keeps
  // jaccard == 1.0 only for identical sets. The result is therefore
  // SQL-expressible: pairs of documents with set-equal 3-gram shingles —
  // a hard driver check that the shingle → signature → band → verify
  // pipeline is sound end to end (nonempty by construction: 20 planted
  // clone pairs).
  private def q43(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLsh(clonedDocs(s, d), "doc_id", "text",
      shingleN = 3, k = 32, bands = 8, threshold = 1.0)
      .select(col("id_a"), col("id_b"))

  private val q43Sql =
    s"""WITH sh AS (
         SELECT doc_id,
           list_sort(list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS w
               FROM $clonedDocsSql docs) t
         WHERE len(w) >= 3)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b
       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id"""

  // --- q44: exact embedding near-dup pairs on a bounded id range — the
  // full-oracle baseline for q37's LSH-blocked variant (same cosine
  // kernel, no blocking), DuckDB list_cosine_similarity parity.
  private def q44(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ArrayOps
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    emb.as("x").join(emb.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(ArrayOps.cosineF(col("x.vec"), col("y.vec")), 6).as("cosine"))
      .filter(col("cosine") >= 0.2)
  }

  private val q44Sql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cosine
       FROM embeddings a JOIN embeddings b
         ON a.vec_id < b.vec_id AND b.vec_id < 300
       WHERE a.vec_id < 300
         AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) >= 0.2"""

  // --- q45: exact-dup dedup PIPELINE with a full oracle: LSH pairs at
  // threshold 1.0 (100% recall, see q43) → distributed connected
  // components → collapsed corpus. SQL twin: keep each doc iff it has the
  // min doc_id of its identical-shingle-set group (docs with no shingles
  // are never paired, so they all survive). Runs over the augmented
  // corpus, so the 20 planted clones MUST be collapsed away.
  private def q45(s: SparkSession, d: String): DataFrame = {
    val docs = clonedDocs(s, d)
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 1.0)
    val cl = Dedup.clusters(pairs)
    Dedup.dedupedCorpus(docs, "doc_id", cl)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  private val q45Sql =
    s"""WITH docs AS (SELECT * FROM $clonedDocsSql t0),
       sh AS (
         SELECT doc_id,
           list_sort(list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s,
           len(w) AS nw
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs) t),
       keep AS (
         SELECT doc_id,
           CASE WHEN nw >= 3 THEN min(doc_id) OVER (PARTITION BY s)
                ELSE doc_id END AS k
         FROM sh)
       SELECT d.doc_id, d.lang, d.source, d.n_chars
       FROM docs d JOIN keep ON d.doc_id = keep.doc_id
       WHERE d.doc_id = keep.k"""

  // --- q49: corpus token-frequency top-k (the vocabulary-head / BPE-seed
  // shape: explode regex tokens → partial-agg counts → TakeOrdered top-50,
  // total tie-break on the token string so both engines agree exactly).
  private def q49(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(Text.regexTokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(50)

  private val q49Sql =
    """SELECT token, freq FROM (
         SELECT token, count(*) AS freq FROM (
           SELECT unnest(regexp_extract_all(text,
             '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS token
           FROM documents) t
         GROUP BY token)
       ORDER BY freq DESC, token ASC LIMIT 50"""

  // --- q51: deterministic stratified quota sample (balanced training mix) -----
  // Exactly 50 docs per language, chosen by the engine-portable
  // pseudo-random order md5(doc_id) — the reproducible mixture cut.
  private def q51(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.stratifiedQuota(
      Tables.documents(s, d).select(col("doc_id"), col("lang")),
      "lang", "doc_id", quota = 50)

  private val q51Sql =
    """SELECT doc_id, lang FROM (
         SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
         FROM documents) t
       WHERE rn <= 50"""

  // --- q52: canonical text normalization (lowercase / strip / collapse) -------
  private def q52(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      Text.normalize(col("text")).as("norm_text"),
      length(Text.normalize(col("text"))).cast("long").as("norm_len"))

  private val q52Sql =
    """SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
       FROM documents"""

  // --- q53: PII scrubbing (emails + long digit runs masked) -------------------
  // The corpus carries no PII, so each engine plants an identical
  // synthetic email + account number per doc, then masks it — the check
  // is that masking transforms the text identically.
  private def q53(s: SparkSession, d: String): DataFrame = {
    val withPii = concat(col("text"), lit(" contact u"),
      col("doc_id").cast("string"), lit("@example.com call "),
      lpad(col("doc_id").cast("string"), 8, "0"))
    Tables.documents(s, d).select(
      col("doc_id"), Text.scrubPii(withPii).as("scrubbed"))
  }

  private val q53Sql =
    """SELECT doc_id,
       regexp_replace(regexp_replace(
         text || ' contact u' || CAST(doc_id AS VARCHAR) ||
           '@example.com call ' || lpad(CAST(doc_id AS VARCHAR), 8, '0'),
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
       FROM documents"""

  // --- q54: Misra-Gries heavy hitters over corpus tokens ----------------------
  // The sketch survivors intersected with an exact `freq*k > n` filter:
  // by the MG guarantee every true heavy hitter survives the sketch, so
  // this equals the plain-SQL heavy-hitter set — a full oracle that
  // FAILS (missing rows) if the sketch or its merge ever drops a true
  // heavy hitter.
  private def q54(s: SparkSession, d: String): DataFrame = {
    val k = 16
    // skewed token stream: every event_type (5 values, each far above the
    // n/k bar) plus a long tail of unique event-id tokens (10% of events)
    // that forces constant counter eviction in the sketch
    val ev = Tables.events(s, d)
    val toks = ev.select(col("event_type").as("token"))
      .unionByName(ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id").cast("string").as("token")))
    val sketch = toks
      .agg(graft.functions.HeavyHitters.misraGries(k)(col("token")).as("mg"))
      .select(explode(map_keys(col("mg"))).as("token"))
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val tot = toks.agg(count(lit(1)).as("n_total"))
    exact.join(sketch, "token")
      .crossJoin(tot)
      .filter(col("freq") * k > col("n_total"))
      .select(col("token"), col("freq"))
  }

  private val q54Sql =
    """WITH toks AS (
         SELECT event_type AS token FROM events
         UNION ALL
         SELECT CAST(event_id AS VARCHAR) AS token FROM events
         WHERE event_id % 10 = 0)
       SELECT token, freq FROM (
         SELECT token, count(*) AS freq FROM toks GROUP BY token) c
       WHERE freq * 16 > (SELECT count(*) FROM toks)"""

  // --- q35: salted two-phase aggregation over a heavy-hitter key --------------
  // events has only 5 event_type values — the pathological skew shape for a
  // plain groupBy at scale. Result must equal the naive GROUP BY exactly
  // (decimal sum → order-independent).
  private def q35(s: SparkSession, d: String): DataFrame =
    graft.operators.Skew.saltedCountSum(
      Tables.events(s, d), col("event_type"), "event_type",
      col("value").cast("decimal(14,2)"), salts = 16)
      .select(col("event_type"), col("n"),
        // decimal sum is exact; ×100 → BIGINT cents so no decimal→double
        // cast can 1-ulp-diverge between engine versions
        (col("total") * lit(100).cast("decimal(3,0)")).cast("long")
          .as("total_cents"))

  private val q35Sql =
    """SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(14,2))) * 100 AS BIGINT) AS total_cents
       FROM events GROUP BY event_type"""

  // --- q36: exact interpolated percentiles ------------------------------------
  private def q36(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("med"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"))

  private val q36Sql =
    """SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 6) AS med,
       round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 6) AS p99
       FROM orders GROUP BY o_orderstatus"""

  // --- q59: TF-IDF top-terms per document -------------------------------------
  // The classic retrieval/quality-weighting primitive: tf = in-doc term
  // count, idf = ln(N/df), top-3 terms per doc ranked on the ROUNDED score
  // (both engines rank the same 6-decimal value, so cross-libm ulp noise
  // in ln cannot flip a rank) with the term as total tie-break. Scale
  // shape: explode → two partial-agged groupBys; the (term, df) side is
  // vocabulary-sized and joins back on term; the doc-count scalar is a
  // broadcast cross join, not a driver collect.
  private def q59(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("term"))
    // tf feeds BOTH the score and the document-frequency rollup; Catalyst
    // does not CSE across a self-referencing join, so without the persist
    // the corpus would be exploded and shuffled twice
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("score"),
        col("rank").cast("long").as("rank"))
  }

  // score is the suite's other ACCEPTED ln residual (with q42 log_price):
  // libm ln may skew <=1 ulp between engines; round(_,6) masks it except
  // on a measure-zero boundary set, and both engines rank on the rounded
  // value so top-k membership cannot split from cells. Documented in
  // COVERAGE.md's portability audit — do not re-derive.
  private val q59Sql =
    """WITH toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
       tf AS (
         SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dfreq AS (
         SELECT term, count(*) AS df FROM tf GROUP BY 1),
       n AS (SELECT count(*) AS n_docs FROM documents)
       SELECT doc_id, term, score, rank FROM (
         SELECT tf.doc_id, tf.term,
           round(tf.tf * ln(n.n_docs::DOUBLE / dfreq.df), 6) AS score,
           CAST(row_number() OVER (PARTITION BY tf.doc_id
             ORDER BY round(tf.tf * ln(n.n_docs::DOUBLE / dfreq.df), 6) DESC,
                      tf.term ASC) AS BIGINT) AS rank
         FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n) t
       WHERE rank <= 3"""

  // --- q60: per-user training sequences (ordered event-type paths) ------------
  // The sequence-modeling export shape: each user's first 10 events (ms
  // grid + event_id total order, see q18) joined into one "a->b->c" path
  // string. One shuffle on user_id; the collect_list is bounded by the
  // rank filter so no group materializes unbounded history.
  private def q60(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("ms", expr("unix_micros(ts) div 1000"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
            e => e.getField("event_type")),
          "->").as("path"))
  }

  private val q60Sql =
    """SELECT user_id, count(*) AS n_events,
       string_agg(event_type, '->' ORDER BY ms, event_id) AS path
       FROM (
         SELECT user_id, event_type, ms, event_id,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ms, event_id) AS rn
         FROM (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
               FROM events) e0) t
       WHERE rn <= 10
       GROUP BY user_id"""

  // --- q61: out-of-vocabulary rate against the corpus vocabulary head ---------
  // Tokenizer-coverage audit: vocab = top-1000 tokens by corpus frequency
  // (token-asc tie-break makes the cut deterministic), per-language OOV
  // occurrence rate. Scale shape: the vocabulary head is tiny and
  // BROADCAST back against the exploded token stream — the corpus tokens
  // are never shuffled for the membership test; only (token, count)
  // partial aggregates move for the vocab build.
  private def q61(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("lang"),
      explode(Text.tokens(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc).limit(1000)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        // exact int/int division, no round(): deterministic across engines
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  private val q61Sql =
    """WITH toks AS (
         SELECT lang, unnest(string_split(text, ' ')) AS token
         FROM documents),
       vocab AS (
         SELECT token FROM (
           SELECT token, count(*) AS freq FROM toks GROUP BY 1)
         ORDER BY freq DESC, token ASC LIMIT 1000)
       SELECT lang, count(*) AS n_tokens,
         CAST(count(*) FILTER (WHERE token NOT IN (SELECT token FROM vocab))
           AS BIGINT) AS n_oov,
         count(*) FILTER (WHERE token NOT IN (SELECT token FROM vocab))
           ::DOUBLE / count(*) AS oov_rate
       FROM toks GROUP BY lang"""

  // --- q62: approximate quantiles (mergeable rank sketch) ---------------------
  // The third mergeable-sketch family member (q39 HLL distinct, q54
  // Misra-Gries frequency, q62 rank/quantile): approx_percentile's
  // Greenwald-Khanna summary with rank error eps = 1/accuracy = 0.01.
  // The audit emits the exact interpolated percentiles (DuckDB recomputes
  // them — the q36 parity machinery) plus booleans pinning each sketch
  // estimate inside the exact [p-2eps, p+2eps] value bracket. At 100 TB
  // the sketch is what you can afford (fixed-size partial per partition);
  // the exact twin exists only inside this audit.
  private def q62(s: SparkSession, d: String): DataFrame = {
    val eps2 = 0.02
    def bracket(p: Double): (Column, Column) = (
      expr(s"percentile(o_totalprice, ${math.max(p - eps2, 0.0)})"),
      expr(s"percentile(o_totalprice, ${math.min(p + eps2, 1.0)})"))
    val (lo50, hi50) = bracket(0.5)
    val (lo90, hi90) = bracket(0.9)
    val (lo99, hi99) = bracket(0.99)
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 100)").as("a50"),
        expr("approx_percentile(o_totalprice, 0.9, 100)").as("a90"),
        expr("approx_percentile(o_totalprice, 0.99, 100)").as("a99"),
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("med"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"),
        lo50.as("lo50"), hi50.as("hi50"), lo90.as("lo90"), hi90.as("hi90"),
        lo99.as("lo99"), hi99.as("hi99"))
      .select(col("o_orderstatus"), col("med"), col("p90"), col("p99"),
        col("a50").between(col("lo50"), col("hi50")).as("a50_in_bracket"),
        col("a90").between(col("lo90"), col("hi90")).as("a90_in_bracket"),
        col("a99").between(col("lo99"), col("hi99")).as("a99_in_bracket"))
  }

  private val q62Sql =
    """SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 6) AS med,
       round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 6) AS p99,
       true AS a50_in_bracket, true AS a90_in_bracket,
       true AS a99_in_bracket
       FROM orders GROUP BY o_orderstatus"""

  // --- q63: hive-partitioned lake export round-trip ---------------------------
  // The training-corpus delivery format: write documents partitioned by
  // language (sinks/Lake), read the lake back, and aggregate per
  // partition. The oracle recomputes the per-language stats from the
  // source table, so a lost row, a partition-value corruption, or a
  // mis-typed recovered partition column all fail the hash compare.
  // PlanSpec separately pins that a lang filter on the read side becomes
  // a PartitionFilter (pruning, not scanning).
  private def q63(s: SparkSession, d: String): DataFrame = {
    // fixed per-sfDir location + overwrite mode: repeated bench/verify
    // invocations rewrite the same lake instead of leaking a fresh corpus
    // copy into /tmp per run
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_lake_" + Tables.scratchKey(d),
      "documents_by_lang").toString
    graft.sinks.Lake.writePartitioned(
      Tables.documents(s, d), dir, "lang")
    graft.sinks.Lake.read(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        count_distinct(col("source")).as("n_sources"))
  }

  private val q63Sql =
    """SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT source) AS n_sources
       FROM documents GROUP BY lang"""

  // --- q64: benchmark decontamination (train/eval n-gram overlap) -------------
  // The pretraining hygiene step: flag every corpus document sharing at
  // least one word-8-gram with the (modeled) evaluation set — here the
  // doc_id < 50 documents stand in for a benchmark. Scale shape: the
  // corpus side is a shuffle-free flatMap (doc_id, gramHash) explode
  // semi-joined against the BROADCAST benchmark gram set (eval sets are
  // small by nature); only matching (doc, gram) rows reach the final
  // per-doc count. Gram hashing reuses the FNV shingle kernel — equal to
  // string 8-grams up to negligible collision probability (the q27/q43
  // precedent).
  private def q64(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ArrayOps
    val docs = Tables.documents(s, d)
    val n = 8
    val benchGrams = docs.filter(col("doc_id") < 50)
      .select(explode(
        ArrayOps.ngramHashes(Text.tokens(col("text")), n)).as("g"))
      .distinct()
    val corpusGrams = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"), explode(
        ArrayOps.ngramHashes(Text.tokens(col("text")), n)).as("g"))
    corpusGrams.join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_8grams"))
  }

  private val q64Sql =
    """WITH bg AS (
         SELECT DISTINCT unnest(list_transform(range(1, len(w) - 6),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] ||
                ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
                w[i+7])) AS g
         FROM (SELECT string_split(text, ' ') AS w FROM documents
               WHERE doc_id < 50) t),
       cg AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 6),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] ||
                ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
                w[i+7]))) AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE doc_id >= 50) t)
       SELECT doc_id, count(*) AS n_shared_8grams
       FROM cg JOIN bg USING (g) GROUP BY doc_id"""

  // --- q65: intra-document repetition filter (Gopher-style quality rule) ------
  // Per-document duplicate-3-gram mass: 1 - distinct/total word 3-grams.
  // Boilerplate and crawler loops show up as high repetition; the flag at
  // > 0.2 is the drop rule a curation pipeline applies. Pure column
  // expressions per row — no shuffle at all (the cheapest kind of 100 TB
  // pass: read, score, write).
  private def q65(s: SparkSession, d: String): DataFrame = {
    val w = Text.tokens(col("text"))
    val grams = expr(
      "transform(sequence(0, size(tokens) - 3), " +
      "i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))")
    Tables.documents(s, d)
      .select(col("doc_id"), w.as("tokens"))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), grams.as("g"))
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_uniq"))
      .select(col("doc_id"), col("n_grams"), col("n_uniq"),
        // 1.0 - exact-division is deterministic both engines; no round()
        (lit(1.0) - col("n_uniq").cast("double") / col("n_grams"))
          .as("rep_frac"),
        (lit(1.0) - col("n_uniq").cast("double") / col("n_grams") > 0.2)
          .as("flagged"))
  }

  private val q65Sql =
    """SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(g)) AS BIGINT) AS n_uniq,
       1.0 - len(list_distinct(g))::DOUBLE / len(g) AS rep_frac,
       (1.0 - len(list_distinct(g))::DOUBLE / len(g)) > 0.2 AS flagged
       FROM (
         SELECT doc_id, list_transform(range(1, len(w) - 1),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
         WHERE len(w) >= 3) s"""

  // --- q66: temperature-weighted mixture sampling (training-mix cut) ----------
  // Data mixing: per-language sampling quotas proportional to n^alpha
  // (alpha = 0.5 — upweight low-resource languages), selection by the
  // engine-portable md5 order q51 established. Quotas are derived from a
  // 5-row aggregate (broadcast), the corpus pays one window shuffle on
  // lang. Shares are rounded to 6 decimals BEFORE flooring so cross-engine
  // summation-order ulp noise cannot flip a quota boundary.
  private def q66(s: SparkSession, d: String): DataFrame = {
    val m = 200
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val sq = docs.groupBy(col("lang")).agg(sqrt(count(lit(1))).as("sq"))
    val tot = sq.agg(sum(col("sq")).as("sq_total"))
    val q = sq.crossJoin(broadcast(tot))
      .select(col("lang"),
        greatest(lit(1L),
          floor(round(lit(m) * col("sq") / col("sq_total"), 6)).cast("long"))
          .as("quota"))
    val rn = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    docs.withColumn("rn", row_number().over(rn))
      .join(broadcast(q), "lang")
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"))
  }

  private val q66Sql =
    """WITH sq AS (
         SELECT lang, sqrt(count(*)) AS sq FROM documents GROUP BY lang),
       q AS (
         SELECT lang, greatest(1, CAST(floor(round(
           200 * sq / (SELECT sum(sq) FROM sq), 6)) AS BIGINT)) AS quota
         FROM sq)
       SELECT doc_id, lang FROM (
         SELECT d.doc_id, d.lang, q.quota,
           row_number() OVER (PARTITION BY d.lang
             ORDER BY md5(CAST(d.doc_id AS VARCHAR)) ASC, d.doc_id ASC) AS rn
         FROM documents d JOIN q ON d.lang = q.lang) t
       WHERE rn <= quota"""

  // --- q68: token-budget sequence packing -------------------------------------
  // The pre-training export shape: documents laid out per language in
  // doc_id order, each assigned to the 2048-token pack its first token
  // falls in (cumulative-quotient packing — pure integer window math, so
  // both engines agree exactly). Oracle TYPE note: the window sum is
  // HUGEINT in DuckDB — cast BEFORE the integer division.
  private def q68(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.packByBudget(
      Tables.documents(s, d), "doc_id", "text", "lang", budget = 2048L)

  private val q68Sql =
    """SELECT doc_id, lang, n_tokens,
       COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY lang
         ORDER BY doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         // 2048 AS pack_id
       FROM (SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             FROM documents) t"""

  // --- q144: pack boundary offsets (loader attention-mask table) --------------
  // Packing.packOffsets: q68's layout plus each document's token START
  // OFFSET within its pack — the table a training loader consumes to
  // reset attention/loss masks at document boundaries inside a
  // concatenated pack. One extra window over the (lang, pack_id) key
  // the packing already shuffled by — no additional exchange. The
  // oracle chains q68's replay through the second window.
  private def q144(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.packOffsets(
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
      "doc_id", "lang", "n_tokens", budget = 2048L)

  private val q144Sql =
    """WITH t AS (SELECT doc_id, lang,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |      FROM documents),
       |p AS (SELECT doc_id, lang, n_tokens,
       |        COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY lang
       |          ORDER BY doc_id ASC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |          AS BIGINT), 0) // 2048 AS pack_id
       |      FROM t)
       |SELECT doc_id, lang, n_tokens, pack_id,
       |  COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY lang, pack_id
       |    ORDER BY doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS BIGINT), 0) AS start_offset
       |FROM p""".stripMargin

  // --- q69: incremental ingestion dedup (delta vs corpus) ---------------------
  // New-batch-vs-corpus near-dup detection: doc_id % 20 == 0 models the
  // freshly crawled delta, the rest the standing corpus. The corpus side
  // streams against BROADCAST delta bands — scanned, never shuffled. The
  // oracle is the exact cross-set all-pairs Jaccard (same full-recall
  // argument as q25: 8 bands × 4 rows at threshold 0.5).
  private def q69(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.operators.Dedup.incrementalNearDups(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", threshold = 0.5)
  }

  private val q69Sql =
    """WITH sh AS (
         SELECT doc_id,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
         WHERE len(w) >= 3)
       SELECT corpus_id, delta_id, jaccard FROM (
         SELECT c.doc_id AS corpus_id, d.doc_id AS delta_id,
           round(len(list_intersect(c.s, d.s))::DOUBLE /
             len(list_distinct(list_concat(c.s, d.s))), 6) AS jaccard
         FROM sh c JOIN sh d
           ON c.doc_id % 20 <> 0 AND d.doc_id % 20 = 0) p
       WHERE jaccard >= 0.5"""

  // --- q70: Count-Min sketch point frequencies --------------------------------
  // Token frequency estimates from a d×w counter sketch (functions/
  // CountMin) probed for four corpus-hot tokens plus one absent control.
  // The md5-prefix bucket hash is bit-identical in DuckDB, so the oracle
  // reproduces the ESTIMATES exactly — the sketch is hash-verified, not
  // tolerance-verified. Scale: the corpus shuffles ≤ d·w counter rows per
  // partition (map-side combined); probing broadcasts the ≤1,024-row
  // sketch.
  private def q70(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CountMin
    val toks = Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("token"))
    val sketch = CountMin.sketch(toks, "token")
    val probes = s.range(1).select(explode(array(
      lit("join"), lit("hash"), lit("row"), lit("scan"),
      lit("zzz_absent"))).as("token"))
    CountMin.estimate(sketch, probes, "token")
  }

  private val q70Sql =
    """WITH tok AS (
         SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       sk AS (
         SELECT r, substr(md5(r::VARCHAR || ':' || token), 1, 2) AS b,
                CAST(count(*) AS BIGINT) AS cnt
         FROM tok CROSS JOIN range(4) t(r) GROUP BY 1, 2),
       probes(token) AS (VALUES ('join'), ('hash'), ('row'), ('scan'),
         ('zzz_absent')),
       pb AS (
         SELECT token, r,
                substr(md5(r::VARCHAR || ':' || token), 1, 2) AS b
         FROM probes CROSS JOIN range(4) t(r))
       SELECT token, CAST(min(COALESCE(sk.cnt, 0)) AS BIGINT) AS est
       FROM pb LEFT JOIN sk USING (r, b) GROUP BY token"""

  // --- q71: Bloom-prefiltered decontamination ---------------------------------
  // q64's semantics on q64's data, through the SCALE path: the benchmark
  // gram set is compressed to a 64 Kbit Bloom broadcast (functions/Bloom
  // — ~10 bits/gram vs 8+ bytes exact, the only option when the eval set
  // has 10⁹ grams), corpus grams stream through the codegen'd membership
  // test, and only the tiny surviving candidate set is exact-verified, so
  // false positives are removed and the OUTPUT equals the exact join
  // byte-for-byte. The oracle is therefore the exact SQL — the bloom is
  // an invisible plan optimization, which is the point.
  private def q71(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{ArrayOps, Bloom}
    val docs = Tables.documents(s, d)
    val n = 8
    val benchGrams = docs.filter(col("doc_id") < 50)
      .select(explode(
        ArrayOps.ngramHashes(Text.tokens(col("text")), n)).as("g"))
      .distinct()
    val bloom = Bloom.build(benchGrams, "g")
    val candidates = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"), explode(
        ArrayOps.ngramHashes(Text.tokens(col("text")), n)).as("g"))
      .filter(Bloom.mightContain(bloom, col("g")))
    candidates.join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_8grams"))
  }

  private val q71Sql = q64Sql

  // --- q72: CDC changelog application (SCD-1 upsert/delete merge) -------------
  // events replayed as a changelog onto the customer snapshot: per key the
  // LATEST event wins ('error' ⇒ delete, anything else ⇒ upsert of the
  // event's payload); keys are shifted (+1450) so the delta exercises
  // update, delete, AND insert-new-key paths. operators/Cdc compacts the
  // delta with one max_by aggregation, then touches the snapshot with a
  // single anti-join — the snapshot is never shuffled when the compacted
  // delta broadcasts. Ordering ties break on event_id; money goes through
  // the suite's DECIMAL cents contract.
  private def q72(s: SparkSession, d: String): DataFrame = {
    val snap = Tables.customer(s, d).select(
      col("c_custkey").as("cust_id"),
      (col("c_acctbal").cast("decimal(14,2)") * 100).cast("long")
        .as("acctbal_cents"),
      col("c_mktsegment").as("segment"))
    val changes = Tables.events(s, d).select(
      (col("user_id") + 1450).as("cust_id"),
      col("ts"), col("event_id"),
      when(col("event_type") === "error", lit("delete"))
        .otherwise(lit("upsert")).as("op"),
      (col("value").cast("decimal(14,2)") * 100).cast("long")
        .as("acctbal_cents"),
      lit("EVENT").as("segment"))
    graft.operators.Cdc.applyChangelog(
      snap, changes, "cust_id", Seq("ts", "event_id"), "op")
  }

  // DuckDB orders the raw nanosecond ts; Spark's events table is
  // microsecond-truncated (Tables.events) — the oracle truncates too so
  // the within-key "latest" is decided on the same grid both sides.
  private val q72Sql =
    """WITH snap AS (
         SELECT c_custkey AS cust_id,
           CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT)
             AS acctbal_cents,
           c_mktsegment AS segment
         FROM customer),
       latest AS (
         SELECT * FROM (
           SELECT user_id + 1450 AS cust_id,
             CASE WHEN event_type = 'error' THEN 'delete'
                  ELSE 'upsert' END AS op,
             CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS acctbal_cents,
             'EVENT' AS segment,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
           FROM events) t
         WHERE rn = 1)
       SELECT cust_id, acctbal_cents, segment FROM snap
       WHERE cust_id NOT IN (SELECT cust_id FROM latest)
       UNION ALL
       SELECT cust_id, acctbal_cents, segment FROM latest
       WHERE op <> 'delete'"""

  // --- q73: funnel analysis (ordered-subsequence pattern match) ---------------
  // Which users did view → click → purchase, in order, with arbitrary
  // interleaving? operators/Funnel: one shuffle of (user, ts, event_id,
  // type) tuples, per-key order restored by a LOCAL array_sort after the
  // unordered collect_list aggregation (no window sort), subsequence
  // tested by one regex over the joined step string.
  private def q73(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.converted(
      Tables.events(s, d), "user_id", "event_type",
      orderCols = Seq("ts", "event_id"),
      steps = Seq("view", "click", "purchase"))

  private val q73Sql =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       regexp_matches(
         string_agg(event_type, ' '
           ORDER BY epoch_ns(ts) // 1000, event_id),
         'view.*click.*purchase') AS converted
       FROM events GROUP BY user_id"""

  // --- q74: Z-order (Morton) clustering for lake layout -----------------------
  // operators/Layout interleaves (user_id, event_id mod 2¹⁶) bit-by-bit —
  // the data-skipping layout that lets footer min/max pruning serve
  // filters on EITHER column. The query pins the z arithmetic itself
  // (top-100 by z; the oracle is the same 16-term shift/mask sum in SQL);
  // the file-layout effect (disjoint per-file z ranges, both-column
  // pruning) is pinned by LayoutSpec on real written files.
  private def q74(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Layout
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        Layout.zValue(col("user_id"), pmod(col("event_id"), lit(65536L)),
          bits = 16).cast("long").as("z"))
      .orderBy(col("z").asc, col("event_id").asc)
      .limit(100)
  }

  private val q74Sql = {
    val z = graft.operators.Layout.zValueSql("user_id", "(event_id % 65536)")
    s"""SELECT event_id, user_id, CAST($z AS BIGINT) AS z
       FROM events ORDER BY z ASC, event_id ASC LIMIT 100"""
  }

  // --- q77: context-window chunking (overlapping token windows) ---------------
  // operators/Chunking: every document fanned out into size-32/stride-16
  // token windows — the retrieval-index/training-loader export shape.
  // Zero shuffles (row-local tokenize → integer chunk grid → explode);
  // the chunk count arithmetic is pure integer math shared with the
  // oracle, so the grids agree exactly, including the one-chunk floor
  // for short documents.
  private def q77(s: SparkSession, d: String): DataFrame =
    graft.operators.Chunking.chunkByTokens(
      Tables.documents(s, d), "doc_id", "text",
      chunkSize = 32, stride = 16)

  private val q77Sql =
    """WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       n AS (
         SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM t),
       c AS (
         SELECT doc_id, w, n,
           unnest(range(0, greatest(1, (n - 32 + 16 - 1) // 16 + 1)))
             AS chunk_id
         FROM n)
       SELECT doc_id, chunk_id,
         CAST(least(32, n - chunk_id * 16) AS BIGINT) AS n_chunk_tokens,
         array_to_string(w[chunk_id * 16 + 1 : chunk_id * 16 + 32], ' ')
           AS chunk
       FROM c"""

  // --- q76: watermarked stream-stream join (view→purchase attribution) --------
  private def q76(s: SparkSession, d: String): DataFrame =
    graft.streaming.JoinStream.viewPurchase(s, d, windowMinutes = 30)

  // Batch self-join oracle on the same microsecond grid the stream uses.
  private val q76Sql =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
       FROM events v JOIN events p ON v.user_id = p.user_id
       WHERE v.event_type = 'view' AND p.event_type = 'purchase'
         AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
         AND epoch_ns(p.ts) // 1000 <= epoch_ns(v.ts) // 1000 + 1800000000"""

  // --- q82: inverted index (term → posting list) -------------------------------
  // The retrieval-side export: per bigram term, document frequency plus
  // the doc_id posting list (sorted, comma-joined — the engine-portable
  // string shape q60 established). Bigrams, not unigrams: the synthetic
  // corpus has a ~31-word vocabulary where every unigram is a stopword;
  // word pairs are the discriminative unit (df 11–50 here). Per-document
  // term dedup is ROW-LOCAL (array_distinct before explode — no distinct
  // shuffle); document frequency is computed FIRST and only qualifying
  // terms (2 ≤ df ≤ 100) reach the collect, so a stopword-pair's
  // corpus-wide posting list is never materialized — the guard that
  // matters at 100 TB, where "of the" has a billion postings. Real
  // indexes chunk posting lists; the df cap is that rule's query-shaped
  // stand-in.
  private def q82(s: SparkSession, d: String): DataFrame = {
    val bigrams = expr(
      "transform(sequence(0, size(w) - 2), " +
      "i -> concat_ws(' ', w[i], w[i+1]))")
    val postings = Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(array_distinct(bigrams)).as("token"))
    val qualifying = postings.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 100))
    postings.join(qualifying, "token")
      .groupBy(col("token"), col("df"))
      .agg(array_join(
        transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("postings"))
      .select(col("token"), col("df"), col("postings"))
  }

  private val q82Sql =
    """WITH tok AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS token
         FROM (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents) t
         WHERE len(w) >= 2),
       q AS (
         SELECT token, CAST(count(*) AS BIGINT) AS df
         FROM tok GROUP BY 1 HAVING count(*) BETWEEN 2 AND 100)
       SELECT token, df,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
           AS postings
       FROM tok JOIN q USING (token)
       GROUP BY token, df"""

  // --- q84: exact-substring span dedup (shared 8-gram runs, self-join) --------
  // The span-level complement to document-level MinHash: doc pairs that
  // share ≥ 3 distinct word-8-gram spans — near-verbatim partial copies
  // (quote farms, mirrored paragraphs) that whole-document Jaccard can
  // miss. Spans shared by > 50 docs are dropped FIRST (boilerplate taglines
  // carry no copy signal and would fan out quadratically — the df cap is
  // the dedup-literature "ubiquitous shingle" rule and the scale guard in
  // one); the surviving rare-span self-join is bounded by df² per span.
  // Gram hashing reuses the FNV shingle kernel (q27/q43/q64 precedent:
  // equal to string 8-grams up to negligible collision probability).
  private def q84(s: SparkSession, d: String): DataFrame =
    Dedup.sharedSpanPairs(Tables.documents(s, d), "doc_id", "text",
      n = 8, maxDf = 50, minShared = 3)

  private val q84Sql =
    """WITH sp AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 6),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] ||
                ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
                w[i+7]))) AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
         WHERE len(w) >= 8),
       rare AS (
         SELECT g FROM sp GROUP BY g HAVING count(*) <= 50),
       k AS (SELECT doc_id, g FROM sp JOIN rare USING (g))
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared_spans
       FROM k a JOIN k b ON a.g = b.g AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= 3"""

  // --- q85: multi-format round-trip (ORC / CSV / JSON sinks + sources) --------
  // The format surface beyond parquet/TSV: orders written to ORC, CSV,
  // and JSON, read back (CSV/JSON with the writer's explicit schema — a
  // lake contract, not re-inference), and aggregated per format. The
  // oracle computes the same aggregate 3× from the source of truth, so a
  // row lost, a value mangled, or a type coerced by ANY of the three
  // round trips fails the hash. Money crosses the text formats as integer
  // cents — the suite's portability contract applied to sinks.
  private def q85(s: SparkSession, d: String): DataFrame = {
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_formats_" + Tables.scratchKey(d)).toString
    val o = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
        .as("cents"))
    val perFormat = Seq("orc", "csv", "json").map { f =>
      val path = s"$base/$f"
      val w = o.write.mode("overwrite").format(f)
      (if (f == "csv") w.option("header", "true") else w).save(path)
      val r = s.read.format(f).schema(o.schema)
      (if (f == "csv") r.option("header", "true") else r).load(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .select(lit(f).as("format"), col("o_orderstatus"), col("n"),
          col("total_cents"))
    }
    perFormat.reduce(_.unionAll(_))
  }

  private val q85Sql =
    """SELECT f.format, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
         AS BIGINT) AS total_cents
       FROM orders CROSS JOIN (VALUES ('orc'), ('csv'), ('json'))
         f(format)
       GROUP BY f.format, o_orderstatus"""

  // --- q87: audio decode / feature extraction (WAV PCM energy stats) ----------
  // The audio leg of the multimodal family: per document a REAL mono
  // 8 kHz int16 WAV payload (RIFF encode → chunk-walking decode — q30's
  // plumbing argument, but through an actual byte-level codec), reduced
  // to exact integer energy statistics (Σx², peak) that a SQL oracle
  // replays bit-for-bit from the synthesis recurrence. Decode is
  // partition-local (mapPartitions) — the same batch shape a JNI/ffmpeg
  // binding would plug into; no floats anywhere, so no summation-order
  // sensitivity.
  private def q87(s: SparkSession, d: String): DataFrame =
    Multimodal.audioFeatures(
      Multimodal.audioTable(Tables.documents(s, d))).toDF()

  private val q87Sql =
    """WITH s AS (
         SELECT doc_id AS id, 800 + doc_id % 100 AS n FROM documents),
       v AS (
         SELECT id, n, ((id * 31 + i * 7) % 65536) - 32768 AS x
         FROM (SELECT id, n, unnest(range(0, n)) AS i FROM s) t)
       SELECT id, CAST(8000 AS BIGINT) AS sample_rate,
         CAST(1 AS BIGINT) AS n_channels, CAST(n AS BIGINT) AS n_samples,
         CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
         CAST(sum(x * x) AS BIGINT) AS sum_sq,
         CAST(max(abs(x)) AS BIGINT) AS peak
       FROM v GROUP BY id, n"""

  // --- q93: unigram-LM quality proxy (exact log2-frequency buckets) -----------
  // The perplexity-flavored quality signal without a model: per document,
  // the mean corpus-frequency BUCKET of its tokens (rare-token-heavy docs
  // score low, boilerplate scores high). The bucket is floor(log2 cnt)+1
  // computed as length(bin(cnt)) — pure integer bit math, so unlike a
  // sum of libm ln() calls (whose summation-order ulp drift is exactly
  // what the float-portability audit forbids) every intermediate is
  // engine-exact; the single double division at the end is the q86/q92
  // one-op argument. Scale: the frequency table is vocabulary-sized and
  // BROADCAST — the token stream pays the one frequency-agg shuffle and
  // is never shuffled for the lookup.
  private def q93(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val buckets = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("token"),
        length(bin(col("cnt"))).cast("long").as("bucket"))
    tok.join(broadcast(buckets), "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bucket")).as("sum_bucket"))
      .select(col("doc_id"), col("n_tokens"), col("sum_bucket"),
        round(col("sum_bucket").cast("double") /
          col("n_tokens").cast("double"), 6).as("avg_bucket"))
  }

  private val q93Sql =
    """WITH tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS token
         FROM documents),
       b AS (
         SELECT token, CAST(length(bin(count(*))) AS BIGINT) AS bucket
         FROM tok GROUP BY token)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(bucket) AS BIGINT) AS sum_bucket,
         round(CAST(sum(bucket) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           AS avg_bucket
       FROM tok JOIN b USING (token) GROUP BY doc_id"""

  // --- q97: array higher-order functions (transform/filter/aggregate) ---------
  // The lambda surface over token arrays, all row-local (zero shuffles,
  // whole output stays per-document): filter (long tokens),
  // transform+aggregate (total characters via a fold — integer
  // accumulator, fold order irrelevant), exists (any numeric token,
  // mirrored in DuckDB as a non-empty regex filter).
  private def q97(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(expr("filter(w, x -> length(x) > 4)")).cast("long")
          .as("n_long_tokens"),
        expr("aggregate(w, 0L, (acc, x) -> acc + length(x))")
          .as("total_chars"),
        expr("exists(w, x -> x rlike '^[0-9]+$')").as("has_numeric"))

  private val q97Sql =
    """SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(w, x -> length(x) > 4)) AS BIGINT)
         AS n_long_tokens,
       CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
         AS total_chars,
       len(list_filter(w, x -> regexp_matches(x, '^[0-9]+$'))) > 0
         AS has_numeric
       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t"""

  // --- q99: map-typed columns (map build / values / filter) -------------------
  // MapType surface: per doc a token→count map built row-locally
  // (map_from_arrays over the distinct tokens), consumed by size /
  // map_values / map_filter. Every output is ORDER-FREE (map iteration
  // order differs between engines by design, so nothing positional may
  // leak): distinct count, max multiplicity, hapax count (tokens
  // appearing exactly once — map_filter on the value). The DuckDB
  // oracle recomputes the same values from list ops — the map is the
  // Spark-side representation under test, not the exchange format.
  private def q99(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("w"))
      .select(col("doc_id"), expr(
        "map_from_arrays(array_distinct(w), " +
        "transform(array_distinct(w), t -> size(filter(w, x -> x = t))))")
        .as("m"))
      .select(col("doc_id"),
        size(col("m")).cast("long").as("n_distinct_tokens"),
        expr("array_max(map_values(m))").cast("long")
          .as("max_token_count"),
        expr("size(map_filter(m, (k, v) -> v = 1))").cast("long")
          .as("n_hapax"))

  private val q99Sql =
    """SELECT doc_id,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
       CAST(list_max(list_transform(list_distinct(w),
         t -> len(list_filter(w, x -> x = t)))) AS BIGINT)
         AS max_token_count,
       CAST(len(list_filter(list_distinct(w),
         t -> len(list_filter(w, x -> x = t)) = 1)) AS BIGINT) AS n_hapax
       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t"""

  // --- q101: XML source/sink round-trip (built-in Spark 4 XML) ----------------
  // q85's lossless-round-trip contract for the XML format Spark 4 folded
  // into core: orders written as <order> rows, read back with the
  // writer's explicit schema, aggregate hashed against the source of
  // truth. Money crosses XML as integer cents (the text-format
  // portability contract).
  private def q101(s: SparkSession, d: String): DataFrame = {
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_formats_" + Tables.scratchKey(d), "xml").toString
    val o = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
        .as("cents"))
    o.write.mode("overwrite").format("xml")
      .option("rootTag", "orders").option("rowTag", "order").save(path)
    s.read.format("xml").option("rowTag", "order").schema(o.schema)
      .load(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
  }

  private val q101Sql =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
         AS BIGINT) AS total_cents
       FROM orders GROUP BY o_orderstatus"""

  // --- q102: media-lake ingestion (binaryFile source → partition decode) ------
  // The real multimodal input path at 100 TB: opaque media FILES on a
  // lake, read through Spark's `binaryFile` source (path, length,
  // content), ids recovered from file names, payloads decoded
  // partition-locally. Files are the q87 WAVs (deterministic recurrence)
  // for doc_id < 200, so the oracle replays the identical integer
  // synthesis — a lost file, a truncated payload, or a path-parse slip
  // all fail the hash. File WRITE is executor-side (mapPartitions +
  // java.nio on the shared FS — the lake-writer shape), bounded to 200
  // files per sfDir.
  private def q102(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // overwrite semantics: clear, then executor-side write
    val dir = Tables.freshScratchDir("graft_media_", d)
    java.nio.file.Files.createDirectories(dir)
    val dirStr = dir.toString
    Multimodal.audioTable(
        Tables.documents(s, d).filter(col("doc_id") < 200))
      .mapPartitions { it =>
        it.map { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dirStr, f"audio_${r.id}%05d.wav"),
            r.media)
          r.id
        }
      }.count(): Unit
    val files = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.wav").load(dirStr)
    val decoded = files.select(
        regexp_extract(col("path"), "audio_(\\d+)\\.wav$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        Multimodal.wavDecode(id, bytes)
      })
    decoded.toDF()
  }

  private val q102Sql =
    """WITH s AS (
         SELECT doc_id AS id, 800 + doc_id % 100 AS n FROM documents
         WHERE doc_id < 200),
       v AS (
         SELECT id, n, ((id * 31 + i * 7) % 65536) - 32768 AS x
         FROM (SELECT id, n, unnest(range(0, n)) AS i FROM s) t)
       SELECT id, CAST(8000 AS BIGINT) AS sample_rate,
         CAST(1 AS BIGINT) AS n_channels, CAST(n AS BIGINT) AS n_samples,
         CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
         CAST(sum(x * x) AS BIGINT) AS sum_sq,
         CAST(max(abs(x)) AS BIGINT) AS peak
       FROM v GROUP BY id, n"""

  // --- q105: the COMPOSITE curation pipeline, end to end ----------------------
  // Every operator above is individually oracled; this is the query that
  // proves they COMPOSE — the shape a real training-data user actually
  // runs as one job: normalize (q52 kernel) → exact dedup on the
  // normalized body (q20) → MinHash dedup at threshold 1.0 + distributed
  // cluster collapse (q43/q45) → repetition/length quality filter (q65
  // rule) → token-budget packing (q68) → hive-partitioned lake write +
  // read-back aggregate (q63). The oracle replays the identical pipeline
  // in SQL over the same parquet, so a slip at ANY stage boundary —
  // survivor identity, filter edge, pack assignment, a row lost in the
  // lake round trip — fails the hash. Scale: each stage keeps its own
  // audited shape (losers broadcast-anti-joined, ONE window shuffle for
  // packing, partition-pruned lake); composing them adds no new shuffle
  // beyond the stages' own.
  private def q105(s: SparkSession, d: String): DataFrame = {
    // stages 1-4 are the public operator (operators/Curation); the input
    // is the sf corpus AUGMENTED with planted duplicate families (see
    // curationCorpus) so the dedup stages do VISIBLE, driver-hashed work
    // in this oracle — not just in CurationSpec's local planted corpus
    val packed = graft.operators.Curation.curateAndPack(
      curationCorpus(s, d), "doc_id", "text", "lang", budget = 2048L)
    // stage 5: partitioned lake write + read-back aggregate — the export
    // round trip is part of the pipeline, so a row lost or retyped in
    // the lake fails the oracle hash
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_lake_" + Tables.scratchKey(d), "pipeline_packs").toString
    graft.sinks.Lake.writePartitioned(packed, dir, "lang")
    graft.sinks.Lake.read(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("pack_id")).as("n_packs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        max(col("pack_id")).cast("long").as("max_pack"))
  }

  /** q105's corpus: sf documents plus two planted duplicate families,
    * so both dedup stages have work the driver oracle can SEE.
    *
    *  - EXACT clones: `doc_id < 30` re-keyed to `+2000000` with
    *    byte-identical text. The exact stage collapses each to the
    *    original; if the whole dedup layer were disabled, 60 extra rows
    *    would survive into every lang's counts. (At threshold 1.0 the
    *    shingle stage strictly subsumes the exact stage on >= 3-token
    *    docs — identical text ⇒ equal gram sets — so disabling the
    *    exact stage ALONE is output-invariant by construction; its
    *    distinct contribution in the pipeline is cost, and its own
    *    correctness is oracled by q20/q45.)
    *  - SHINGLE-SET twins (lang 'xx'): pairs whose normalized texts
    *    DIFFER — exact dedup cannot pair them — but whose 3-gram
    *    shingle SETS are equal: two Eulerian traversals of the same
    *    gram graph, "a b C a b D a b end" vs "a b D a b C a b end"
    *    (same 7 grams, different order). ONLY the shingle stage can
    *    collapse these, every gram is distinct so the survivors pass
    *    the repetition filter, and the 'xx' output group's counts
    *    change if that stage is disabled.
    */
  private def curationCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
    val clones = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    def twin(i: Int, loop1: String, loop2: String): String =
      s"alpha$i beta$i $loop1$i alpha$i beta$i $loop2$i alpha$i beta$i end$i"
    val twins = (0 until 4).flatMap { i =>
      Seq((3000000L + i, "xx", twin(i, "cycle", "delta")),
        (3500000L + i, "xx", twin(i, "delta", "cycle")))
    }.toDF("doc_id", "lang", "text")
    docs.unionByName(clones).unionByName(twins)
  }

  private val q105Sql =
    """WITH aug AS (
         SELECT doc_id, lang, text FROM documents
         UNION ALL
         SELECT doc_id + 2000000 AS doc_id, lang, text
         FROM documents WHERE doc_id < 30
         UNION ALL
         SELECT 3000000 + i AS doc_id, 'xx' AS lang,
           concat_ws(' ', 'alpha'||i::VARCHAR, 'beta'||i::VARCHAR,
             'cycle'||i::VARCHAR, 'alpha'||i::VARCHAR, 'beta'||i::VARCHAR,
             'delta'||i::VARCHAR, 'alpha'||i::VARCHAR, 'beta'||i::VARCHAR,
             'end'||i::VARCHAR) AS text
         FROM range(4) t(i)
         UNION ALL
         SELECT 3500000 + i AS doc_id, 'xx' AS lang,
           concat_ws(' ', 'alpha'||i::VARCHAR, 'beta'||i::VARCHAR,
             'delta'||i::VARCHAR, 'alpha'||i::VARCHAR, 'beta'||i::VARCHAR,
             'cycle'||i::VARCHAR, 'alpha'||i::VARCHAR, 'beta'||i::VARCHAR,
             'end'||i::VARCHAR) AS text
         FROM range(4) t(i)),
       n AS (
         SELECT doc_id, lang,
           trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
         FROM aug),
       ex AS (
         SELECT *, min(doc_id) OVER (PARTITION BY nt) AS ka FROM n),
       s1 AS (SELECT doc_id, lang, nt FROM ex WHERE doc_id = ka),
       sh AS (
         SELECT doc_id, lang, nt, string_split(nt, ' ') AS w FROM s1),
       g AS (
         SELECT doc_id, lang, nt, len(w) AS nw,
           list_sort(list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s,
           list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
         FROM sh),
       k AS (
         SELECT doc_id, lang, nt, nw, grams,
           CASE WHEN nw >= 3 THEN min(doc_id) OVER (PARTITION BY s)
                ELSE doc_id END AS kb
         FROM g),
       f AS (
         SELECT doc_id, lang, CAST(nw AS BIGINT) AS n_tokens
         FROM k
         WHERE doc_id = kb AND nw >= 5
           AND NOT (1.0 - len(list_distinct(grams))::DOUBLE / len(grams)
                    > 0.2)),
       p AS (
         SELECT doc_id, lang, n_tokens,
           COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY lang
             ORDER BY doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
             // 2048 AS pack_id
         FROM f)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(max(pack_id) AS BIGINT) AS max_pack
       FROM p GROUP BY lang"""

  // --- q106: lake small-file compaction (content-invariance oracle) ----------
  // The lake-maintenance pass incremental ingestion makes necessary:
  // a deliberately fragmented partitioned export (16 shuffle slices ×
  // every lang directory) is compacted to its byte-derived target file
  // count, then read back and aggregated. The oracle replays the same
  // aggregate from the SOURCE table, so a row lost, duplicated, or
  // retyped anywhere in fragment → compact → swap → read fails the
  // hash; LakeCompactionSpec separately pins that the file census
  // actually shrinks and the swap is all-or-nothing.
  private def q106(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_lake_" + Tables.scratchKey(d), "frag_docs").toString
    graft.sinks.Lake.writePartitioned(
      Tables.documents(s, d).repartition(16), dir, "lang")
    graft.sinks.Lake.compact(s, dir, "lang")
    graft.sinks.Lake.read(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        count_distinct(col("doc_id")).as("n_distinct_ids"))
  }

  private val q106Sql =
    """SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT doc_id) AS n_distinct_ids
       FROM documents GROUP BY lang"""

  // --- q107: lake schema evolution (mergeSchema across writer versions) -------
  // The long-lived-corpus reality: batches written by different pipeline
  // versions carry different columns (v2 adds a quality score). The
  // reader must union the schemas — old rows surface the new column as
  // NULL — and aggregates must see every row of both vintages. The
  // oracle replays both vintages from the source table (old batch:
  // quality NULL; new batch: the same deterministic integer expression),
  // so a dropped vintage, a misaligned column, or a non-null default
  // fails the hash.
  private def q107(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_lake_" + Tables.scratchKey(d), "evolving_docs").toString
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$root/batch_v1")
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        (col("n_chars") % 100).cast("long").as("quality"))
      .write.mode("overwrite").parquet(s"$root/batch_v2")
    s.read
      .option("recursiveFileLookup", "true")
      .option("mergeSchema", "true")
      .parquet(root)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        count(col("quality")).as("n_with_quality"),
        sum(col("quality")).cast("long").as("sum_quality"))
  }

  private val q107Sql =
    """WITH u AS (
         SELECT lang, n_chars, CAST(NULL AS BIGINT) AS quality
         FROM documents
         UNION ALL
         SELECT lang, n_chars, CAST(n_chars % 100 AS BIGINT) AS quality
         FROM documents)
       SELECT lang, count(*) AS n_rows,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         count(quality) AS n_with_quality,
         CAST(sum(quality) AS BIGINT) AS sum_quality
       FROM u GROUP BY lang"""

  // --- q108: int8 embedding quantization audit -------------------------------
  // Symmetric per-vector int8 (scale = maxabs/127, clamp ±127) over the
  // embeddings table; emits exact integer invariants of the quantized
  // vector (sum_q, n_zero — any rounding divergence between engines
  // flips them) plus the max/mean dequantization error at 6 decimals.
  // Both engines compute the identical double-precision quotient chain
  // (float→double cast, maxabs/127, x/scale), and both round halves
  // away from zero, so the int8 codes are bit-equal cross-engine.
  private def q108(s: SparkSession, d: String): DataFrame =
    Quantization.int8Stats(
      Tables.embeddings(s, d), "vec_id", "embedding")

  private val q108Sql =
    """WITH s AS (
         SELECT vec_id, embedding::DOUBLE[] AS e,
           list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
             / 127.0 AS scale
         FROM embeddings),
       q AS (
         SELECT vec_id, scale, e,
           list_transform(e, x ->
             greatest(least(round(x / scale), 127.0), -127.0)) AS qv
         FROM s WHERE scale > 0)
       SELECT vec_id,
         round(scale, 6) AS scale6,
         CAST(list_sum(qv) AS BIGINT) AS sum_q,
         CAST(len(list_filter(qv, x -> x = 0)) AS BIGINT) AS n_zero,
         round(list_max(list_transform(range(1, len(e) + 1),
           i -> abs(e[i] - qv[i] * scale))), 6) AS max_err6,
         round(list_sum(list_transform(range(1, len(e) + 1),
           i -> abs(e[i] - qv[i] * scale))) / len(e), 6) AS mean_err6
       FROM q"""

  // --- q109: top-k over the int8 codes — the compressed-scan ANN path --------
  // Unlike q29/q50 (recall audits), this has an EXACT oracle: the
  // integer dot/norms are exact in both engines (≤ 64·127² per vector,
  // far below 2^53), sqrt/division are correctly-rounded IEEE on
  // bit-identical inputs, so sims — and the (sim DESC, id ASC) ranking
  // — replay exactly in SQL. Measures sim agreement with the float
  // ranking implicitly: rank flips vs q28 are the quantization cost.
  private def q109(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
  }

  private val q109Sql =
    """WITH s AS (
         SELECT vec_id, embedding::DOUBLE[] AS e,
           list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
             / 127.0 AS scale
         FROM embeddings),
       q AS (
         SELECT vec_id,
           list_transform(e, x ->
             greatest(least(round(x / scale), 127.0), -127.0)) AS qv
         FROM s WHERE scale > 0),
       p AS (
         SELECT a.vec_id AS q_id, b.vec_id AS id,
           list_sum(list_transform(range(1, len(a.qv) + 1),
             i -> a.qv[i] * b.qv[i]))
           / (sqrt(list_sum(list_transform(a.qv, x -> x * x))) *
              sqrt(list_sum(list_transform(b.qv, x -> x * x)))) AS sim
         FROM q a, q b
         WHERE a.vec_id < 10 AND a.vec_id != b.vec_id)
       SELECT q_id, id, sim6, rank FROM (
         SELECT q_id, id, round(sim, 6) AS sim6,
           CAST(row_number() OVER (PARTITION BY q_id
             ORDER BY sim DESC, id ASC) AS BIGINT) AS rank
         FROM p) t
       WHERE rank <= 5"""

  // --- q110: PQ-ADC ANN — same recall-invariant oracle as q29/q50 ------------
  // Product quantization completes the compression ladder (float →
  // int8 → m-byte PQ codes, 16× at m=16/dim=64): the full scan reads
  // only m code bytes per vector and scores them with m lookup-table
  // adds; a refine·k shortlist is then re-ranked exactly on floats
  // (the faiss refine pattern — the second, shortlist-pruned scan).
  // Approximate by design → the driver-visible contract is recall@5
  // against exact brute force. Measured at sf0.01 (synthetic near-
  // random embeddings, the PQ-hostile case — no cluster structure):
  // pure ADC 0.46, with refine=4 exact re-rank 0.86; floor 0.5 leaves
  // seeded-training slack.
  private def q110(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    annRecallAudit(
      Similarity.pqTopK(emb, qs, "vec_id", "embedding",
        dim = 64, k = 5, m = 16, ksub = 16, refine = 4),
      Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5),
      floor = 0.5)
  }

  // --- q122: ANN over the lake ------------------------------------------------
  // `Similarity.pqTopKOverLake` against an id-sorted, bloom-indexed
  // parquet lake (`Lake.writeAnnLake`): the ADC pass scans the lake
  // once, the exact refine re-rank re-reads ONLY the shortlist rows
  // through an id-list filter the sorted layout answers with row-group
  // column-index + bloom pruning — the 100-TB refine shape q110's
  // in-memory path only promises. The audit pins BOTH contracts:
  // equals_in_memory — the lake-refined top-k EXACTLY equals pqTopK
  // with the same parameters (the lake changes where bytes come from,
  // never what is computed; multiset equality via pair-counting) —
  // and q110's recall floor against brute force. n_queries/n_results
  // are data-derivable in SQL; the booleans replay as pinned TRUE.
  /** Shared geometry and scratch paths for the lake-ANN audit queries
    * (q122 PQ, q137 IVF) AND the bench's per-path attribution
    * ([[annLakePaths]]) — ONE definition, so tuning a query parameter
    * or scratch key can never make the bench silently time a different
    * computation than the scoreboard query it attributes.
    */
  private object AnnLake {
    val Dim = 64; val K = 5
    val M = 16; val Ksub = 16; val Refine = 4 // PQ (q122)
    val NCells = 64; val NProbe = 28          // IVF (q137)
    def pqDir(d: String): String = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_annlake_" + Tables.scratchKey(d)).toString
    def ivfDir(d: String): String = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_ivflake_" + Tables.scratchKey(d)).toString
  }

  /** The lake-ANN audit tail shared by q122/q137/q152 — pinned counts,
    * the equals-in-memory MULTISET equality (every (q_id, id, rank) must
    * appear exactly twice in lake ∪ mem), and the brute-force recall
    * floor, as one 4-column row. One definition so the three lake
    * audits can never drift.
    */
  private def annLakeAudit(lake0: DataFrame, mem: DataFrame,
      exact0: DataFrame, floor: Double): DataFrame = {
    // the audit tree references `lake` three times (stats, the twin
    // diff, the recall semi-join) and `exact` twice — materialize each
    // ONCE (≤ |Q|·k rows) so the expensive searches behind them run a
    // single time instead of re-executing per reference (guide §1.2:
    // don't recompute what you already have)
    val lake = lake0.localCheckpoint(true)
    val exact = exact0.localCheckpoint(true)
    val stats = lake.agg(
      count_distinct(col("q_id")).as("n_queries"),
      count(lit(1)).as("n_results"))
    val diffs = lake.unionAll(mem)
      .groupBy("q_id", "id", "rank").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).agg(count(lit(1)).as("n_diff"))
    val hits = lake.join(exact, Seq("q_id", "id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    stats.crossJoin(diffs).crossJoin(hits).crossJoin(nExact)
      .select(col("n_queries"), col("n_results"),
        (col("n_diff") === 0).as("equals_in_memory"),
        (col("n_hit").cast("double") / col("n_exact") >= floor)
          .as("recall_ge_floor"))
  }

  private def q122(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    val lakeDir = AnnLake.pqDir(d)
    graft.sinks.Lake.writeAnnLake(emb, lakeDir, "vec_id")
    val lake = Similarity.pqTopKOverLake(s, lakeDir, qs, "vec_id",
      "embedding", dim = AnnLake.Dim, k = AnnLake.K, m = AnnLake.M,
      ksub = AnnLake.Ksub, refine = AnnLake.Refine)
    val mem = Similarity.pqTopK(emb, qs, "vec_id", "embedding",
      dim = AnnLake.Dim, k = AnnLake.K, m = AnnLake.M,
      ksub = AnnLake.Ksub, refine = AnnLake.Refine)
    val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
      k = 5)
    annLakeAudit(lake, mem, exact, floor = 0.5)
  }

  private val q122Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_results,
       true AS equals_in_memory,
       true AS recall_ge_floor
       FROM embeddings WHERE vec_id < 10"""

  // --- q137: IVF over the LAKE -------------------------------------------------
  // Similarity.writeIvfLake + ivfTopKOverLake: the missing lake variant
  // of IVF (PQ got q122's bloom-indexed shortlist re-read; IVF's unit
  // of access is "a whole cell", so its lake wants cell-partitioned
  // directories and PARTITION PRUNING instead of id lookups — the
  // probed-cell filter becomes a directory listing, IvfLakeSpec pins
  // the PartitionFilters evidence). Same audit as q122:
  // equals_in_memory — lake search EXACTLY equals ivfTopK with the same
  // (nCells=64, nProbe=28), the q50 parameters honest for this corpus's
  // iid geometry — plus q50's 0.8 recall floor vs brute force.
  private def q137(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    val lakeDir = AnnLake.ivfDir(d)
    Tables.deleteRecursively(java.nio.file.Paths.get(lakeDir))
    Similarity.writeIvfLake(emb, lakeDir, "vec_id", "embedding",
      dim = AnnLake.Dim, nCells = AnnLake.NCells): Unit
    val lake = Similarity.ivfTopKOverLake(s, lakeDir, qs, "vec_id",
      "embedding", dim = AnnLake.Dim, k = AnnLake.K,
      nProbe = AnnLake.NProbe)
    val mem = Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
      dim = AnnLake.Dim, k = AnnLake.K, nCells = AnnLake.NCells,
      nProbe = AnnLake.NProbe)
    val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
      k = 5)
    annLakeAudit(lake, mem, exact, floor = 0.8)
  }

  private val q137Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_results,
       true AS equals_in_memory,
       true AS recall_ge_floor
       FROM embeddings WHERE vec_id < 10"""

  // --- q112: deterministic training shuffle — FULL per-row oracle ------------
  // The lake layout that IS the training order: shard and in-shard
  // position derive from doc_id via an engine-portable
  // affine→square→affine mixer mod 1e9+7 (Layout.shuffleHash — the
  // squaring round breaks the consecutive-id stride an affine chain
  // leaks), so the whole permutation — every (doc_id, shard, pos)
  // row — replays exactly in DuckDB. Reproducible across reruns,
  // cluster sizes, and input order; ONE window shuffle, no global
  // sort, no RNG state.
  private def q112(s: SparkSession, d: String): DataFrame =
    Layout.trainingShuffle(
      Tables.documents(s, d).select(col("doc_id")), "doc_id", 16, 2026L)
      .select(col("doc_id"), col("shard"), col("pos"))

  private val q112Sql =
    """WITH h AS (
         SELECT doc_id,
           ((doc_id % 1000000007) * 2654435761 + 2026) % 1000000007 AS h1
         FROM documents),
       hq AS (
         SELECT doc_id, (h1 * h1) % 1000000007 AS h2 FROM h),
       hh AS (
         SELECT doc_id,
           (h2 * 2246822519 + 40503) % 1000000007 AS h3
         FROM hq)
       SELECT doc_id, CAST(h3 % 16 AS BIGINT) AS shard,
         CAST(row_number() OVER (PARTITION BY h3 % 16
           ORDER BY h3, doc_id) AS BIGINT) AS pos
       FROM hh"""

  // --- q113: streaming CDC ingestion — cross-paradigm equality oracle --------
  // The foreachBatch maintenance loop: the event stream is folded
  // batch-by-batch into a versioned lake snapshot via the seq-aware,
  // tombstone-retaining Cdc.mergeVersioned, so the result is
  // independent of batch boundaries and idempotent under redelivery.
  // The final snapshot must equal the BATCH CDC merge — the oracle is
  // q72's SQL verbatim (CdcStreamSpec forces multi-batch splits and
  // out-of-order arrival; the driver query proves stream == batch ==
  // DuckDB end-to-end).
  private def q113(s: SparkSession, d: String): DataFrame =
    graft.streaming.CdcStream.mergedSnapshot(s, d)

  // --- q114: sliding-window streaming aggregation ----------------------------
  // The overlapping-window form q31's tumbling matrix lacks: 15-min
  // width sliding by 5 min, every event in exactly 3 windows. The
  // DuckDB replay expands each event to its 3 candidate window starts
  // (cross join k in {0,1,2}) — window membership, counts, and exact
  // cent sums must all agree.
  private def q114(s: SparkSession, d: String): DataFrame =
    EventsStream.slidingAgg(s, d)

  private val q114Sql =
    """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts)
           - k * INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
         AS total_value_cents
       FROM events CROSS JOIN (VALUES (0), (1), (2)) g(k)
       GROUP BY 1, 2"""

  // --- q115: deterministic fixed-point k-means -------------------------------
  // Distributed k-means whose every arithmetic step is exact 64-bit
  // integer math (quantize → integer L2² → integer-sum centroids with
  // truncating division), so centroids and assignments are bit-identical
  // under any partitioning AND exactly replayable in SQL: the oracle
  // unrolls both Lloyd rounds (init = 8 smallest vec_ids, argmin with
  // (dist, cluster) tie-break, element-wise integer mean) and the final
  // (vec_id, cluster, dist) must hash-match end to end.
  private def q115(s: SparkSession, d: String): DataFrame =
    Clustering.fixedPointKMeans(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 8, iters = 2)
      .select(col("id").as("vec_id"), col("cluster"), col("dist"))

  private val q115Sql =
    """WITH q AS (
         SELECT vec_id, list_transform(embedding::DOUBLE[],
           x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
         FROM embeddings),
       c0 AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
           qv AS c
         FROM q ORDER BY vec_id LIMIT 8),
       a1 AS (
         SELECT vec_id, qv, cl FROM (
           SELECT q.vec_id, q.qv, c0.cl,
             list_sum(list_transform(range(1, len(q.qv) + 1),
               i -> (q.qv[i] - c0.c[i]) * (q.qv[i] - c0.c[i]))) AS d,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY d, c0.cl) AS rn
           FROM q CROSS JOIN c0) t WHERE rn = 1),
       c1 AS (
         SELECT cl, list(s ORDER BY i) AS c FROM (
           SELECT cl, i, CAST(sum(v) AS BIGINT) // count(*) AS s
           FROM (SELECT cl, generate_subscripts(qv, 1) AS i,
                   unnest(qv) AS v FROM a1) e
           GROUP BY cl, i) u
         GROUP BY cl),
       a2 AS (
         SELECT vec_id, cl, d FROM (
           SELECT q.vec_id, c1.cl,
             list_sum(list_transform(range(1, len(q.qv) + 1),
               i -> (q.qv[i] - c1.c[i]) * (q.qv[i] - c1.c[i]))) AS d,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY d, c1.cl) AS rn
           FROM q CROSS JOIN c1) t WHERE rn = 1)
       SELECT vec_id, CAST(cl AS BIGINT) AS cluster,
         CAST(d AS BIGINT) AS dist
       FROM a2"""

  // --- q116: SemDeDup semantic dedup over the k-means clusters ---------------
  // Plants 20 near-clones (each coordinate shifted by 5e-7, i.e. at most
  // ±1 fixed-point unit after quantization) into the corpus, re-runs the
  // deterministic k-means over the union, then drops every row that has
  // a smaller-id in-cluster neighbor within integer L2² 256. The oracle
  // replays the whole pipeline — clones must land beside their
  // originals and be the rows dropped; every natural row survives.
  private def q116(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("embedding"))
    val clones = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x + lit(5.0e-7)).as("embedding"))
    val assigned = Clustering.fixedPointKMeans(base.unionByName(clones),
      "vec_id", "embedding", k = 8, iters = 2)
    Clustering.semanticDedup(assigned, threshold = 256L)
      .select(col("id").as("vec_id"), col("cluster"), col("kept"))
  }

  private val q116Sql =
    """WITH base AS (
         SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       src AS (
         SELECT vec_id, e FROM base
         UNION ALL
         SELECT vec_id + 100000, list_transform(e, x -> x + 0.0000005)
         FROM base WHERE vec_id < 20),
       q AS (
         SELECT vec_id, list_transform(e,
           x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
         FROM src),
       c0 AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
           qv AS c
         FROM q ORDER BY vec_id LIMIT 8),
       a1 AS (
         SELECT vec_id, qv, cl FROM (
           SELECT q.vec_id, q.qv, c0.cl,
             list_sum(list_transform(range(1, len(q.qv) + 1),
               i -> (q.qv[i] - c0.c[i]) * (q.qv[i] - c0.c[i]))) AS d,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY d, c0.cl) AS rn
           FROM q CROSS JOIN c0) t WHERE rn = 1),
       c1 AS (
         SELECT cl, list(s ORDER BY i) AS c FROM (
           SELECT cl, i, CAST(sum(v) AS BIGINT) // count(*) AS s
           FROM (SELECT cl, generate_subscripts(qv, 1) AS i,
                   unnest(qv) AS v FROM a1) e
           GROUP BY cl, i) u
         GROUP BY cl),
       a2 AS (
         SELECT vec_id, qv, cl FROM (
           SELECT q.vec_id, q.qv, c1.cl,
             list_sum(list_transform(range(1, len(q.qv) + 1),
               i -> (q.qv[i] - c1.c[i]) * (q.qv[i] - c1.c[i]))) AS d,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY d, c1.cl) AS rn
           FROM q CROSS JOIN c1) t WHERE rn = 1),
       dups AS (
         SELECT a.vec_id AS id
         FROM a2 a JOIN a2 b
           ON a.cl = b.cl AND b.vec_id < a.vec_id
         WHERE list_sum(list_transform(range(1, len(a.qv) + 1),
           i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) <= 256
         GROUP BY a.vec_id)
       SELECT a.vec_id, CAST(a.cl AS BIGINT) AS cluster,
         p.id IS NULL AS kept
       FROM a2 a LEFT JOIN dups p ON p.id = a.vec_id"""

  // --- q117: integer-mass PageRank over the customer↔supplier graph ----------
  // Graph centrality via join iteration: the symmetric trade graph
  // (customer→supplier and back, node ids disambiguated even/odd) is
  // ranked with 3 exact integer PageRank rounds — every shipped share
  // is `(pr·85 div 100) div outdeg`, so the oracle can unroll the same
  // three rounds in SQL and the final (node, pr) must hash-match bit
  // for bit. The web-crawl curation prior, made reproducible.
  private def q117(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    // no .distinct() here: the operators dedup (src, dst) INSIDE their
    // one-shuffle src layout, so a query-side distinct is a pure extra
    // shuffle of the pair set
    val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
    val edges = pairs
      .select((col("ck") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      .unionByName(pairs
        .select((col("sk") * 2 + 1).as("src"), (col("ck") * 2).as("dst")))
    graft.operators.Graph.pageRank(edges, iters = 3)
  }

  private val q117Sql =
    """WITH pairs AS (
         SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       edges AS (
         SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
         UNION ALL
         SELECT sk * 2 + 1, ck * 2 FROM pairs),
       deg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
       r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM deg),
       r1 AS (
         SELECT e.dst AS node,
           CAST(150000000 + sum((r.pr * 85 // 100) // d.od) AS BIGINT) AS pr
         FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON d.src = e.src
         GROUP BY e.dst),
       r2 AS (
         SELECT e.dst AS node,
           CAST(150000000 + sum((r.pr * 85 // 100) // d.od) AS BIGINT) AS pr
         FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON d.src = e.src
         GROUP BY e.dst),
       r3 AS (
         SELECT e.dst AS node,
           CAST(150000000 + sum((r.pr * 85 // 100) // d.od) AS BIGINT) AS pr
         FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON d.src = e.src
         GROUP BY e.dst)
       SELECT node, pr FROM r3"""

  // --- q118: bounded-round min-label propagation -----------------------------
  // The public building block of distributed connected components: 3
  // rounds of label = min(own, in-neighbors) over the symmetric trade
  // graph. The output is defined as the exactly-3-round labels (the
  // smallest id within 3 hops), so the oracle unrolls the same three
  // rounds in SQL and must match bit for bit — converged or not.
  private def q118(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    // no .distinct() here: the operators dedup (src, dst) INSIDE their
    // one-shuffle src layout, so a query-side distinct is a pure extra
    // shuffle of the pair set
    val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
    val edges = pairs
      .select((col("ck") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      .unionByName(pairs
        .select((col("sk") * 2 + 1).as("src"), (col("ck") * 2).as("dst")))
    graft.operators.Graph.minLabelPropagation(edges, rounds = 3)
  }

  private val q118Sql =
    """WITH pairs AS (
         SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       edges AS (
         SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
         UNION ALL
         SELECT sk * 2 + 1, ck * 2 FROM pairs),
       l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       l1 AS (
         SELECT n.node, min(least(n.label, coalesce(l.label, n.label))) AS label
         FROM l0 n LEFT JOIN edges e ON e.dst = n.node
           LEFT JOIN l0 l ON l.node = e.src
         GROUP BY n.node),
       l2 AS (
         SELECT n.node, min(least(n.label, coalesce(l.label, n.label))) AS label
         FROM l1 n LEFT JOIN edges e ON e.dst = n.node
           LEFT JOIN l1 l ON l.node = e.src
         GROUP BY n.node),
       l3 AS (
         SELECT n.node, min(least(n.label, coalesce(l.label, n.label))) AS label
         FROM l2 n LEFT JOIN edges e ON e.dst = n.node
           LEFT JOIN l2 l ON l.node = e.src
         GROUP BY n.node)
       SELECT node, label FROM l3"""

  // --- q119: per-group top-k via a native heap aggregate ---------------------
  // graft.functions.TopK.TopKPairs (TypedImperativeAggregate): the k
  // best (ord DESC, key ASC) pairs per group through map-side-combined
  // bounded heaps — O(n log k), at most k pairs per group per mapper in
  // the shuffle — where the window form sorts every group's full row
  // set. The oracle IS that window form: top-3 lineitems by exact cent
  // price per supplier, `row_number` replayed in SQL; any heap
  // ordering, merge, or tie-break slip breaks the hash.
  private def q119(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    l.select(col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(14,2)") *
          lit(100).cast("decimal(3,0)")).cast("long").as("cents"),
        col("l_orderkey"))
      .groupBy("l_suppkey")
      .agg(graft.functions.TopK.topKPairs(
        col("cents"), col("l_orderkey"), 3).as("top"))
      .select(col("l_suppkey"), posexplode(col("top")))
      .select(col("l_suppkey"), (col("pos") + 1).cast("long").as("rank"),
        col("col.key").as("l_orderkey"), col("col.ord").as("cents"))
  }

  private val q119Sql =
    """SELECT l_suppkey, CAST(rn AS BIGINT) AS rank, l_orderkey, cents
       FROM (
         SELECT l_suppkey, l_orderkey,
           CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
             AS cents,
           row_number() OVER (PARTITION BY l_suppkey
             ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
               AS BIGINT) DESC, l_orderkey ASC) AS rn
         FROM lineitem) t
       WHERE rn <= 3"""

  // --- q120: DataSourceV2 connector scan (es-export) -------------------------
  // The full connector loop on real data: documents materialized as
  // exported ES search-response pages (one envelope file per 100 docs,
  // executor-side writes — the reference's export shape,
  // `ElasticSearch ETL.py:220-267`), then read back through the
  // DataSourceV2 source (`sources/EsExportV2`) with a projection + two
  // filters that must push INTO the token-level reader (In on lang,
  // GreaterThanOrEqual on n_chars — no residual Filter node), and
  // aggregated. The oracle replays the identical predicate over the
  // original parquet, so a lost page, an envelope-navigation slip, a
  // mis-evaluated pushed filter, or a pruning bug that drops a parsed
  // column all fail the hash.
  /** Export the documents table as deterministic ES response pages
    * (the q120/q123 shared fixture). Returns (pageDir, docSchema).
    */
  private def esPageExport(s: SparkSession,
      d: String): (String, org.apache.spark.sql.types.StructType) = {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_esv2_" + Tables.scratchKey(d))
    // SEVEN queries share this fixture per run (q120/q123/q126/q127/
    // q129/q132/q135); a completion marker makes rebuilds once-per-
    // scale instead of once-per-query. The marker is written LAST and
    // carries the source row count + max doc_id — reuse validates it
    // against the live documents table (one cheap metadata-backed agg),
    // so a regenerated testdata set or a truncated build can never be
    // served stale. The leading underscore keeps it out of the
    // es-export listing (and q129's stub filters it explicitly).
    val marker = dir.resolve("_fixture_complete_v1")
    val sig = Tables.documents(s, d)
      .agg(count(lit(1)), max(col("doc_id"))).collect()(0)
    val sigStr = s"${sig.getLong(0)}:${sig.getLong(1)}"
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == sigStr)
      return (dir.toString, esPageDocSchema)
    if (java.nio.file.Files.exists(dir)) {
      // the marker goes FIRST — a kill mid-cleanup must never leave a
      // completion claim next to a partial page set
      java.nio.file.Files.deleteIfExists(marker)
      Tables.deleteRecursively(dir)
    }
    java.nio.file.Files.createDirectories(dir)
    val dirStr = dir.toString
    import s.implicits._
    // page = doc_id div 100; docs sorted within the page (collect_list
    // order is nondeterministic; sort_array on array<struct> orders by
    // doc_id, the leading field) so page bytes are deterministic
    Tables.documents(s, d)
      .groupBy((col("doc_id") / 100).cast("long").as("page"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars")))).as("docs"))
      .select(col("page"), expr(
        """to_json(named_struct(
             'took', 1, 'timed_out', false,
             'hits', named_struct(
               'total', named_struct('value', size(docs), 'relation', 'eq'),
               'max_score', cast(null as double),
               'hits', transform(docs, x -> named_struct(
                 '_index', 'documents',
                 '_id', cast(x.doc_id as string),
                 '_source', x)))))""").as("body"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (page, body) =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dirStr, f"page-$page%05d.json"),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        page
      }).count(): Unit
    java.nio.file.Files.writeString(marker, sigStr)
    (dirStr, esPageDocSchema)
  }

  private val esPageDocSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))

  private def q120(s: SparkSession, d: String): DataFrame = {
    val (dirStr, docSchema) = esPageExport(s, d)
    s.read.format("es-export").schema(docSchema).load(dirStr)
      .filter(col("lang").isin("en", "de") && col("n_chars") >= 50L)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
  }

  private val q120Sql =
    """SELECT lang, source, count(*) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(doc_id) AS min_doc
       FROM documents
       WHERE lang IN ('en', 'de') AND n_chars >= 50
       GROUP BY lang, source"""

  // --- q123: es-export connector, STREAMING path ------------------------------
  // The connector's MICRO_BATCH_READ rung gets the same oracle as its
  // batch twin: the exported pages are pulled through
  // `readStream.format("es-export")` (file-index offsets — the durable
  // `search_after` cursor; pruning + pushdown ride the same token
  // reader), folded per-batch via foreachBatch into partial
  // aggregates, and re-aggregated — count/sum/min are all mergeable,
  // so stream-of-batches == one batch == DuckDB, whatever the page-to-
  // batch assignment. Shares q120's page fixture AND q120's oracle SQL.
  // NOTE: the driver-side ArrayBuffer below is the ORACLE HARNESS (a
  // deliberately tiny sink that makes the per-batch partials visible
  // to the correctness gate), not the production shape — that is q126 /
  // streaming/PartialAggs, where partials land in a parquet lake and
  // the driver holds nothing.
  private def q123(s: SparkSession, d: String): DataFrame = {
    val (dirStr, docSchema) = esPageExport(s, d)
    val partials =
      collection.mutable.ArrayBuffer.empty[(String, String, Long, Long, Long)]
    val stream = s.readStream.format("es-export")
      .schema(docSchema).load(dirStr)
      .filter(col("lang").isin("en", "de") && col("n_chars") >= 50L)
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val rows = batch.groupBy(col("lang"), col("source"))
            .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
              min(col("doc_id")).as("min_doc"))
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2),
              r.getLong(3), r.getLong(4)))
          partials.synchronized { partials ++= rows }
          ()
      }
      .start()
    try q.awaitTermination() finally q.stop()
    import s.implicits._
    partials.toSeq.toDF("lang", "source", "n", "sum_chars", "min_doc")
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n")).as("n"), sum(col("sum_chars")).as("sum_chars"),
        min(col("min_doc")).as("min_doc"))
  }

  // --- q126: streaming partials LAKE (the production q123) --------------------
  // streaming/PartialAggs: the same es-export stream, but each batch's
  // partial aggregates land in a parquet lake (`batch_id=` leaf per
  // batch, replay-idempotent overwrite) instead of a driver buffer, and
  // the read side re-merges with the dual aggregate. Stream-of-batches
  // == one batch == DuckDB for the mergeable algebras, so it shares
  // q120's oracle — and proves the driver holds NOTHING: state is the
  // lake, the merge is an ordinary distributed aggregation.
  private def q126(s: SparkSession, d: String): DataFrame = {
    val (dirStr, docSchema) = esPageExport(s, d)
    val lakeDir = Tables.freshScratchDir("graft_partials_", d)
    val lake = lakeDir.toString
    val stream = s.readStream.format("es-export")
      .schema(docSchema).load(dirStr)
      .filter(col("lang").isin("en", "de") && col("n_chars") >= 50L)
    val spec = graft.streaming.PartialAggs.Spec(
      keys = Seq("lang", "source"), countAs = Some("n"),
      sums = Seq("n_chars" -> "sum_chars"),
      mins = Seq("doc_id" -> "min_doc"))
    graft.streaming.PartialAggs.writePartials(stream, spec, lake): Unit
    graft.streaming.PartialAggs.readMerged(s, spec, lake)
  }

  // --- q127: es-export connector, AGGREGATE pushdown --------------------------
  // sources/EsExportV2's SupportsPushDownAggregates (partial mode): the
  // grouped count/sum/min fold happens INSIDE each page reader at the
  // token level (documents never surface as rows; the scan's output is
  // one partial row per (page, group)), and Spark's final aggregation
  // merges the partials — the distributed generalization of the
  // reference's server-side ES.count (ETL.py:215). Composes with the
  // pushed n_chars/lang filters. Same fixture and data semantics as
  // q120, so any fold/merge slip against the row-path plan (or DuckDB)
  // fails the hash; EsExportV2Spec pins that the plan really carries
  // PushedAggregation and partial-row ReadSchema.
  private def q127(s: SparkSession, d: String): DataFrame = {
    val (dirStr, docSchema) = esPageExport(s, d)
    s.read.format("es-export").schema(docSchema).load(dirStr)
      .filter(col("lang").isin("en", "de") && col("n_chars") >= 50L)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
  }

  // --- q128: BPE tokenizer training -------------------------------------------
  // operators/Bpe.trainMerges: the published word-level merge loop with
  // a deterministic (count DESC, lhs ASC, rhs ASC) argmax, exact
  // integer pair counts, and sentinel-string segmentations whose merge
  // step is one left-to-right `replace` — identical semantics in Spark
  // and ANSI SQL, so the oracle unrolls all four training rounds as
  // CTEs and the learned rule table must hash-match rule for rule
  // (a wrong tie-break, an overlap slip, or one miscounted pair
  // changes a row). The corpus is scanned once; every round runs over
  // the distinct-word table.
  private def q128(s: SparkSession, d: String): DataFrame =
    Bpe.trainMerges(Tables.documents(s, d), "text", rounds = 4)

  private val q128Sql: String = {
    def round(k: Int): String = {
      val j = k - 1
      s"""p$k AS (
         |  SELECT s[i] AS lhs, s[i+1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(seg[2:-2], chr(1)||chr(1)) AS s,
         |      unnest(generate_series(1,
         |        len(string_split(seg[2:-2], chr(1)||chr(1))) - 1)) AS i
         |    FROM seg$j) t
         |  GROUP BY 1, 2),
         |b$k AS (SELECT lhs, rhs, cnt FROM p$k
         |        ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
         |seg$k AS (
         |  SELECT COALESCE(replace(seg,
         |      chr(1)||b.lhs||chr(1)||chr(1)||b.rhs||chr(1),
         |      chr(1)||b.lhs||b.rhs||chr(1)), seg) AS seg, freq
         |  FROM seg$j LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    val rounds = 4
    s"""WITH tok AS (
       |  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
       |  FROM documents),
       |w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tok
       |      WHERE len(word) > 0 AND NOT contains(word, chr(1))
       |      GROUP BY word),
       |seg0 AS (SELECT chr(1) || array_to_string(
       |    list_transform(range(1, len(word)+1), i -> word[i]),
       |    chr(1)||chr(1)) || chr(1) AS seg, freq FROM w),
       |${(1 to rounds).map(round).mkString(",\n")}
       |SELECT * FROM (${(1 to rounds).map(k =>
           s"SELECT CAST($k AS BIGINT) AS round, lhs, rhs, " +
             s"cnt AS pair_count FROM b$k")
           .mkString(" UNION ALL ")})
       |ORDER BY round""".stripMargin
  }

  // --- q129: LIVE fetch loop, driver-oracled -----------------------------------
  // sources/EsHttp against an EMBEDDED HTTP stub serving q120's page
  // fixture through the reference's two REST calls (_count, then
  // search_after-paginated _search): the count-bounded client loop runs
  // for real — cursor extracted from each page's last _source, pages
  // re-fetched over HTTP, re-exported, read back through the standard
  // envelope path WITH schema inference — and the result must equal the
  // same aggregation over the parquet source (q120's oracle). A cursor
  // slip, page skip/duplicate, early break, or inference drift all
  // change the hash. The stub serves strictly BY CURSOR (not a call
  // counter), so the loop's pagination contract is what is under test.
  private def q129(s: SparkSession, d: String): DataFrame = {
    val (pagesDir, _) = esPageExport(s, d)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    val pageFiles = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(pagesDir))
      try l.iterator().asScala.toSeq
        .filterNot(_.getFileName.toString.startsWith("_")) // fixture marker
        .sortBy(_.getFileName.toString)
      finally l.close()
    }
    // (bytes, lastDocId, nHits) per page — pages are doc_id-ranged and
    // sorted, so "first page whose last id exceeds the cursor" is the
    // correct search_after continuation
    val pages = pageFiles.map { p =>
      val bytes = java.nio.file.Files.readAllBytes(p)
      val hits = mapper.readTree(bytes).path("hits").path("hits")
      (bytes, hits.get(hits.size() - 1).path("_source").path("doc_id")
        .asLong(), hits.size())
    }
    val total = pages.map(_._3.toLong).sum
    def respond(x: com.sun.net.httpserver.HttpExchange,
        body: Array[Byte]): Unit = {
      x.sendResponseHeaders(200, body.length)
      x.getResponseBody.write(body)
      x.close()
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/documents/_count",
      (x: com.sun.net.httpserver.HttpExchange) =>
        respond(x, s"""{"count":$total}""".getBytes("UTF-8")))
    server.createContext("/documents/_search",
      (x: com.sun.net.httpserver.HttpExchange) => {
        val req = mapper.readTree(x.getRequestBody)
        val after = req.path("search_after")
        val nextPage =
          if (after.isMissingNode) pages.headOption
          else pages.find(_._2 > after.get(0).asLong())
        respond(x, nextPage.map(_._1).getOrElse(
          """{"hits":{"total":{"value":0},"hits":[]}}""".getBytes("UTF-8")))
      })
    server.start()
    val docs =
      try {
        val fetchDir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          "graft_eshttp_" + Tables.scratchKey(d)).toString
        graft.sources.EsHttp.read(s, graft.sources.EsHttp.Config(
          s"http://localhost:${server.getAddress.getPort}", "documents",
          pageSize = 100, sortFields = Seq("doc_id")), fetchDir)
      } finally server.stop(0)
    docs.filter(col("lang").isin("en", "de") && col("n_chars") >= 50L)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
  }

  // --- q130: token counts under the LEARNED tokenizer -------------------------
  // Bpe.tokenCounts: the token-budget number pipelines size mixtures
  // and packing by — per-document token counts under a BPE tokenizer
  // trained on the same corpus. The vocabulary is encoded once and
  // joined back to the word stream; the oracle re-learns the identical
  // 4 merges (q128's unrolled CTEs, word carried through the seg
  // chain) and replays the per-word token length + per-doc sum, so a
  // drift in training, encoding, OR accounting fails the hash.
  private def q130(s: SparkSession, d: String): DataFrame =
    Bpe.tokenCounts(Tables.documents(s, d), "doc_id", "text", rounds = 4)

  /** The q130 CTE chain up to `counted` (train 4 merges with the word
    * carried through the seg chain, encode the vocabulary, per-doc
    * word/token counts) — shared verbatim by q130 and q133 so both
    * oracles replay the identical training+accounting pipeline.
    */
  private val bpeCountedCtes: String = {
    def round(k: Int): String = {
      val j = k - 1
      s"""p$k AS (
         |  SELECT s[i] AS lhs, s[i+1] AS rhs, sum(freq) AS cnt
         |  FROM (SELECT freq, string_split(seg[2:-2], chr(1)||chr(1)) AS s,
         |      unnest(generate_series(1,
         |        len(string_split(seg[2:-2], chr(1)||chr(1))) - 1)) AS i
         |    FROM seg$j) t
         |  GROUP BY 1, 2),
         |b$k AS (SELECT lhs, rhs FROM p$k
         |        ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
         |seg$k AS (
         |  SELECT word, COALESCE(replace(seg,
         |      chr(1)||b.lhs||chr(1)||chr(1)||b.rhs||chr(1),
         |      chr(1)||b.lhs||b.rhs||chr(1)), seg) AS seg, freq
         |  FROM seg$j LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    s"""WITH tokdoc AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word
       |  FROM documents),
       |valid AS (SELECT doc_id, word FROM tokdoc
       |          WHERE len(word) > 0 AND NOT contains(word, chr(1))),
       |w AS (SELECT word, count(*) AS freq FROM valid GROUP BY word),
       |seg0 AS (SELECT word, chr(1) || array_to_string(
       |    list_transform(range(1, len(word)+1), i -> word[i]),
       |    chr(1)||chr(1)) || chr(1) AS seg, freq FROM w),
       |${(1 to 4).map(round).mkString(",\n")},
       |vocab AS (SELECT word, CAST(len(string_split(seg[2:-2],
       |    chr(1)||chr(1))) AS BIGINT) AS n_tok FROM seg4),
       |counted AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM valid JOIN vocab USING (word) GROUP BY doc_id)""".stripMargin
  }

  private val q130Sql: String =
    s"""$bpeCountedCtes
       |SELECT d.doc_id, COALESCE(c.n_words, 0) AS n_words,
       |  COALESCE(c.n_tokens, 0) AS n_tokens
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN counted c USING (doc_id)""".stripMargin

  // --- q131: BATCHED BPE training, driver-oracled ------------------------------
  // Bpe.trainMergesBatched is the scale path (O(merges/maxBatch) Spark
  // rounds); with maxBatch=1 its contract is EXACT equality with the
  // sequential loop — so it gets q128's DuckDB oracle verbatim, making
  // the batched code path driver-oracled rule for rule, not just
  // spec-compared. (Multi-merge batches are pinned by BpeSpec and
  // profiled at 1,024 merges in tools/BpeProfile; their greedy
  // disjoint selection is driver logic with no natural SQL replay.)
  private def q131(s: SparkSession, d: String): DataFrame =
    Bpe.trainMergesBatched(Tables.documents(s, d), "text",
      merges = 4, maxBatch = 1)

  // --- q136: MULTI-merge batched BPE, greedy selection driver-oracled ----------
  // q131 oracles trainMergesBatched only at maxBatch=1 (where it must
  // equal the sequential loop); the code path that actually differs —
  // the greedy SYMBOL-DISJOINT batch selection over the 4·want ranked
  // candidates (Bpe.scala) — never met DuckDB. This closes that gap:
  // merges=8, maxBatch=4, and the oracle replays the WHOLE algorithm
  // independently — per-round pair counts, the (cnt DESC, lhs, rhs)
  // ranking capped at 4·want, the greedy scan with its used∪produced
  // blocking (a recursive CTE folding the ranked list through a
  // blocked-symbol set), and the in-order chained replace application
  // (a second recursive CTE) — so a slip in ranking, blocking, batch
  // sizing, OR application order changes a learned rule and fails the
  // hash. On this corpus the blocking genuinely bites: (o,r) is
  // deferred out of round 1 because (e,r) consumed `r`. Eight rounds
  // are unrolled with a data-dependent `want` (= min(maxBatch,
  // merges − learned so far)), matching however many rounds the greedy
  // actually needs: a round with want=0 ranks nothing and picks
  // nothing, so surplus rounds are exact no-ops — the unroll count is
  // an upper bound (each non-exhausted round picks ≥1), not an
  // assumption.
  private def q136(s: SparkSession, d: String): DataFrame =
    Bpe.trainMergesBatched(Tables.documents(s, d), "text",
      merges = 8, maxBatch = 4)

  private val q136Sql: String = {
    val merges = 8
    val maxB = 4
    val unroll = merges // ≥1 pick per non-exhausted round ⇒ always enough
    def round(k: Int): String = {
      val j = k - 1
      val prior =
        if (k == 1) "0"
        else (1 until k).map(i => s"(SELECT count(*) FROM picks$i)")
          .mkString(" + ")
      // seg/p/picks are MATERIALIZED: each round references seg(k-1)
      // twice and want(k) references every prior picks, so inlined CTEs
      // would expand the scan tree exponentially in the round count
      s"""want$k AS (SELECT least($maxB, $merges - ($prior)) AS w),
         |p$k AS MATERIALIZED (
         |  SELECT s[i] AS lhs, s[i+1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(seg[2:-2], chr(1)||chr(1)) AS s,
         |      unnest(generate_series(1,
         |        len(string_split(seg[2:-2], chr(1)||chr(1))) - 1)) AS i
         |    FROM seg$j) t
         |  GROUP BY 1, 2),
         |rk$k AS (
         |  SELECT lhs, rhs, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, lhs ASC, rhs ASC) AS rk
         |  FROM p$k
         |  QUALIFY rk <= 4 * (SELECT w FROM want$k)),
         |sel$k AS (
         |  SELECT 0 AS rk, CAST([] AS VARCHAR[]) AS blocked,
         |         CAST([] AS STRUCT(lhs VARCHAR, rhs VARCHAR, cnt BIGINT)[]) AS picks
         |  UNION ALL
         |  SELECT r.rk,
         |    CASE WHEN len(s.picks) < ww.w AND NOT list_contains(s.blocked, r.lhs)
         |              AND NOT list_contains(s.blocked, r.rhs)
         |      THEN s.blocked || [r.lhs, r.rhs, r.lhs || r.rhs] ELSE s.blocked END,
         |    CASE WHEN len(s.picks) < ww.w AND NOT list_contains(s.blocked, r.lhs)
         |              AND NOT list_contains(s.blocked, r.rhs)
         |      THEN list_append(s.picks, {'lhs': r.lhs, 'rhs': r.rhs, 'cnt': r.cnt})
         |      ELSE s.picks END
         |  FROM sel$k s JOIN rk$k r ON r.rk = s.rk + 1 CROSS JOIN want$k ww),
         |picks$k AS MATERIALIZED (
         |  SELECT idx, picks[idx].lhs AS lhs, picks[idx].rhs AS rhs,
         |         picks[idx].cnt AS cnt
         |  FROM (SELECT picks, unnest(generate_series(1, len(picks))) AS idx
         |        FROM (SELECT picks FROM sel$k ORDER BY rk DESC LIMIT 1))),
         |app$k AS (
         |  SELECT seg, freq, 0 AS j FROM seg$j
         |  UNION ALL
         |  SELECT replace(a.seg, chr(1)||p.lhs||chr(1)||chr(1)||p.rhs||chr(1),
         |                 chr(1)||p.lhs||p.rhs||chr(1)) AS seg, a.freq, a.j + 1 AS j
         |  FROM app$k a JOIN picks$k p ON p.idx = a.j + 1),
         |seg$k AS MATERIALIZED (
         |  SELECT seg, freq FROM app$k
         |  WHERE j = (SELECT count(*) FROM picks$k))""".stripMargin
    }
    val union = (1 to unroll)
      .map(k => s"SELECT $k AS rnd, idx, lhs, rhs, cnt FROM picks$k")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE tok AS (
       |  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
       |  FROM documents),
       |w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tok
       |      WHERE len(word) > 0 AND NOT contains(word, chr(1))
       |      GROUP BY word),
       |seg0 AS MATERIALIZED (SELECT chr(1) || array_to_string(
       |    list_transform(range(1, len(word)+1), i -> word[i]),
       |    chr(1)||chr(1)) || chr(1) AS seg, freq FROM w),
       |${(1 to unroll).map(round).mkString(",\n")}
       |SELECT CAST(row_number() OVER (ORDER BY rnd, idx) AS BIGINT) AS round,
       |  lhs, rhs, CAST(cnt AS BIGINT) AS pair_count
       |FROM ($union)
       |ORDER BY round""".stripMargin
  }

  // --- q138/q139: EXACT substring dedup (Lee et al. 2022) ----------------------
  // operators/SubstringDedup: the dedup modality the MinHash family
  // can't provide — every maximal character region covered by
  // length-30 windows occurring ≥ 2 times corpus-wide, exactly. The
  // Spark side prunes through an 8-byte window-hash count and verifies
  // candidates on the window TEXT (hashing can only prune, never
  // decide); the oracle skips the pruning entirely and groups the raw
  // windows — so the two sides share no shortcut, and a hash-decided
  // false positive, a miscounted multiplicity, or a region-merge slip
  // (positions < L apart must merge into ONE region) fails the hash.
  // On this corpus the result is non-trivial: whole-document duplicates
  // (~500-char spans) AND short cross-document boilerplate both occur.
  private val SubL = 30

  private def q138(s: SparkSession, d: String): DataFrame =
    SubstringDedup.duplicateSpans(Tables.documents(s, d),
      "doc_id", "text", minLen = SubL)

  /** The span CTE chain (anchor windows → duplicated windows → region
    * decomposition) — shared verbatim by q138 and q139 so the removal
    * oracle replays the identical span set it cuts.
    */
  private val substringSpanCtes: String =
    s"""WITH pos AS MATERIALIZED (
       |  SELECT doc_id, unnest(generate_series(1, len(text) - $SubL + 1)) AS i,
       |         text
       |  FROM documents WHERE len(text) >= $SubL),
       |g AS MATERIALIZED (
       |  SELECT doc_id, i, substr(text, i, $SubL) AS gram FROM pos),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       |d AS (SELECT doc_id, i FROM g JOIN dup USING (gram)),
       |brk AS (SELECT doc_id, i,
       |  CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= $SubL
       |       THEN 0 ELSE 1 END AS b FROM d),
       |grps AS (SELECT doc_id, i,
       |  sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM brk),
       |spans AS MATERIALIZED (
       |  SELECT doc_id, min(i) AS s, max(i) + $SubL - 1 AS e
       |  FROM grps GROUP BY doc_id, grp)""".stripMargin

  private val q138Sql: String =
    s"""$substringSpanCtes
       |SELECT doc_id, CAST(s AS BIGINT) AS span_start,
       |  CAST(e AS BIGINT) AS span_end,
       |  CAST(e - s + 1 AS BIGINT) AS span_len
       |FROM spans""".stripMargin

  private def q139(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    SubstringDedup.removeSpans(docs,
      SubstringDedup.duplicateSpans(docs, "doc_id", "text", minLen = SubL),
      "doc_id", "text")
  }

  private val q139Sql: String =
    s"""$substringSpanCtes,
       |sp AS (SELECT doc_id, s, e,
       |  lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS pe FROM spans),
       |pieces AS (
       |  SELECT doc_id, s AS ord,
       |    substr(text, CAST(pe + 1 AS INT), CAST(s - pe - 1 AS INT)) AS piece
       |  FROM sp JOIN documents USING (doc_id)
       |  UNION ALL
       |  SELECT sp.doc_id, 2147483647 AS ord,
       |    substr(doc.text, CAST(max(sp.e) + 1 AS INT)) AS piece
       |  FROM sp JOIN documents doc USING (doc_id)
       |  GROUP BY sp.doc_id, doc.text),
       |agg AS (SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text
       |        FROM pieces GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(a.clean_text, d.text) AS clean_text
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  // --- q140: EXACT-gram decontamination (the q64 hash path, verified) ----------
  // operators/Decontaminate.flagContaminated: q64/q71 decontaminate on
  // FNV gram HASHES — the right scale shape, but hashing can only
  // approximate membership. This is the exact-TEXT-gram twin (the same
  // relationship q43 exact-dup bears to q25's MinHash): grams compared
  // as strings, every corpus row flagged including zero-hit docs and
  // benchmark self-hits, plus a removal API (`removeContaminated`). A
  // different benchmark cut than q64 (doc_id ≡ 0 mod 29 vs < 50) so the
  // two oracles cannot share a cached intermediate. The corpus contains
  // planted near/exact duplicates, so contamination reaches BEYOND the
  // benchmark docs themselves — their duplicates hit too (23 flagged vs
  // 18 benchmark docs at sf0.01). Scale shape unchanged from q64:
  // benchmark grams broadcast, corpus grams explode map-side through a
  // broadcast left-semi, only hits shuffle.
  private val DecontN = 8

  private def q140(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontaminate.flagContaminated(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 29 === 0), "text", n = DecontN)
  }

  private val q140Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT DISTINCT array_to_string(w[i:i+${DecontN - 1}], ' ') AS gram
       |       FROM (SELECT w, unnest(generate_series(1, len(w) - ${DecontN - 1})) AS i
       |             FROM w WHERE doc_id % 29 = 0 AND len(w) >= $DecontN) t),
       |dg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+${DecontN - 1}], ' ') AS gram
       |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${DecontN - 1})) AS i
       |             FROM w WHERE len(w) >= $DecontN) t),
       |hits AS (SELECT doc_id, count(*) AS n FROM dg
       |         WHERE gram IN (SELECT gram FROM bg) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit_grams,
       |       COALESCE(h.n, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin

  // --- q141: Gopher repetition filters (published char-coverage form) ----------
  // functions/Repetition.ngramCoverStats: q65 measures repetition as the
  // duplicate-3-gram COUNT ratio; Gopher's published rules (Rae et al.
  // 2021 §A1.1) are CHARACTER-coverage fractions — of the modal n-gram
  // (n = 2,3,4) and of positions covered by any duplicated n-gram
  // (n = 2,3,5) — which weight long repeated tokens correctly and bound
  // overlapping windows at 1. Emitted in integer micro-units (division
  // LAST), plus the keep flag at Gopher's thresholds (top-2/3/4 ≤
  // 0.20/0.18/0.16, dup-5 ≤ 0.15; dup-5 never trips on this corpus —
  // the top-n rules do the dropping, 69/500 at sf0.01). The Spark side
  // is ONE projection — four codegen'd static calls per row, no shuffle
  // (the oracle's explode-and-count replay is the shape a 100 TB run
  // must avoid, which is the point of the kernel). Tie-break for the
  // modal gram is count-desc then lexicographic-asc, pinned identically
  // on both sides.
  private def q141(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{Repetition, Text}
    val toks = Text.tokens(col("text"))
    def stats(n: Int) = Repetition.ngramCoverStatsF(toks, n)
    Tables.documents(s, d).select(
      col("doc_id"),
      element_at(stats(2), 1).as("top2_micro"),
      element_at(stats(3), 1).as("top3_micro"),
      element_at(stats(4), 1).as("top4_micro"),
      element_at(stats(2), 2).as("dup2_micro"),
      element_at(stats(3), 2).as("dup3_micro"),
      element_at(stats(5), 2).as("dup5_micro"),
      (element_at(stats(2), 1) <= 200000L &&
        element_at(stats(3), 1) <= 180000L &&
        element_at(stats(4), 1) <= 160000L &&
        element_at(stats(5), 2) <= 150000L).as("keep"))
  }

  private val q141Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |tot AS (SELECT doc_id, list_sum(list_transform(w, x -> length(x))) AS tc
       |        FROM w),
       |ns AS (SELECT unnest([2, 3, 4, 5]) AS n),
       |g AS (SELECT doc_id, n, i, array_to_string(w[i:i+n-1], ' ') AS gram
       |      FROM (SELECT doc_id, n, w,
       |              unnest(generate_series(1, len(w) - n + 1)) AS i
       |            FROM w CROSS JOIN ns WHERE len(w) >= n) t),
       |cnt AS (SELECT doc_id, n, gram, count(*) AS c
       |        FROM g GROUP BY doc_id, n, gram),
       |top AS (SELECT doc_id, n, gram FROM (
       |          SELECT doc_id, n, gram,
       |                 row_number() OVER (PARTITION BY doc_id, n
       |                                    ORDER BY c DESC, gram ASC) AS rn
       |          FROM cnt) t WHERE rn = 1),
       |topcov AS (SELECT DISTINCT g.doc_id, g.n, g.i + u.o AS p
       |           FROM g JOIN top USING (doc_id, n, gram)
       |           CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS o) u
       |           WHERE u.o < g.n),
       |dupcov AS (SELECT DISTINCT g.doc_id, g.n, g.i + u.o AS p
       |           FROM g JOIN cnt USING (doc_id, n, gram)
       |           CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS o) u
       |           WHERE cnt.c >= 2 AND u.o < g.n),
       |topchars AS (SELECT t.doc_id, t.n, sum(length(w.w[t.p])) AS ch
       |             FROM topcov t JOIN w ON t.doc_id = w.doc_id
       |             GROUP BY t.doc_id, t.n),
       |dupchars AS (SELECT t.doc_id, t.n, sum(length(w.w[t.p])) AS ch
       |             FROM dupcov t JOIN w ON t.doc_id = w.doc_id
       |             GROUP BY t.doc_id, t.n),
       |stats AS (SELECT t.doc_id, n.n,
       |            COALESCE(tc2.ch, 0) * 1000000 // t2.tc AS topm,
       |            COALESCE(dc.ch, 0) * 1000000 // t2.tc AS dupm
       |          FROM (SELECT DISTINCT doc_id FROM w) t CROSS JOIN ns n
       |          JOIN tot t2 ON t.doc_id = t2.doc_id
       |          LEFT JOIN topchars tc2
       |            ON t.doc_id = tc2.doc_id AND n.n = tc2.n
       |          LEFT JOIN dupchars dc
       |            ON t.doc_id = dc.doc_id AND n.n = dc.n)
       |SELECT doc_id,
       |  CAST(max(CASE WHEN n = 2 THEN topm END) AS BIGINT) AS top2_micro,
       |  CAST(max(CASE WHEN n = 3 THEN topm END) AS BIGINT) AS top3_micro,
       |  CAST(max(CASE WHEN n = 4 THEN topm END) AS BIGINT) AS top4_micro,
       |  CAST(max(CASE WHEN n = 2 THEN dupm END) AS BIGINT) AS dup2_micro,
       |  CAST(max(CASE WHEN n = 3 THEN dupm END) AS BIGINT) AS dup3_micro,
       |  CAST(max(CASE WHEN n = 5 THEN dupm END) AS BIGINT) AS dup5_micro,
       |  (max(CASE WHEN n = 2 THEN topm END) <= 200000 AND
       |   max(CASE WHEN n = 3 THEN topm END) <= 180000 AND
       |   max(CASE WHEN n = 4 THEN topm END) <= 160000 AND
       |   max(CASE WHEN n = 5 THEN dupm END) <= 150000) AS keep
       |FROM stats GROUP BY doc_id""".stripMargin

  // --- q132: partials lake COMPACTION, result-invariant ------------------------
  // streaming/PartialAggs.compactPartials over q126's lake shape: old
  // batch_id= leaves collapse into one merged leaf (the dual aggregate
  // of partials is itself a valid partial), and readMerged afterwards
  // must STILL equal the one-batch aggregate — q120's oracle again.
  // The leaf-count arithmetic and replay-safety are spec-pinned
  // (PartialAggsSpec); the driver pins that maintenance never changes
  // the answer.
  private def q132(s: SparkSession, d: String): DataFrame = {
    val (dirStr, docSchema) = esPageExport(s, d)
    val lakeDir = Tables.freshScratchDir("graft_partials_c_", d)
    val lake = lakeDir.toString
    val stream = s.readStream.format("es-export")
      .schema(docSchema).load(dirStr)
      .filter(col("lang").isin("en", "de") && col("n_chars") >= 50L)
    val spec = graft.streaming.PartialAggs.Spec(
      keys = Seq("lang", "source"), countAs = Some("n"),
      sums = Seq("n_chars" -> "sum_chars"),
      mins = Seq("doc_id" -> "min_doc"))
    graft.streaming.PartialAggs.writePartials(stream, spec, lake): Unit
    graft.streaming.PartialAggs.compactPartials(s, spec, lake): Unit
    graft.streaming.PartialAggs.readMerged(s, spec, lake)
  }

  // --- q133: pack under the LEARNED tokenizer's budget -------------------------
  // The two halves joined into the shape a pre-training export actually
  // runs: price every document with Bpe.tokenCounts (the corpus-learned
  // 4-merge tokenizer — q130's pipeline) and lay packs out by THAT
  // count (Packing.packByCounts, q68's integer window math). Whitespace
  // packing mis-sizes every pack by the tokenizer's fertility; this is
  // the budget the loader will actually consume. Oracle: q130's
  // unrolled training+encoding CTEs feeding q68's cumulative-quotient
  // window — one hash over (doc, lang, n_tokens, pack) so a slip in
  // training, encoding, accounting, OR layout fails.
  private def q133(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val priced = Bpe.tokenCounts(docs, "doc_id", "text", rounds = 4)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    graft.operators.Packing.packByCounts(priced, "doc_id", "lang",
      "n_tokens", budget = 512L)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"))
  }

  private val q133Sql: String =
    // q130's training + per-doc accounting CTEs, verbatim, feeding the
    // q68 packing window (HUGEINT cast BEFORE the integer division)
    s"""$bpeCountedCtes,
       |priced AS (
       |  SELECT d.doc_id, CAST(COALESCE(c.n_tokens, 0) AS BIGINT)
       |    AS n_tokens
       |  FROM (SELECT DISTINCT doc_id FROM documents) d
       |  LEFT JOIN counted c USING (doc_id))
       |SELECT p.doc_id, doc.lang, p.n_tokens,
       |  COALESCE(CAST(sum(p.n_tokens) OVER (PARTITION BY doc.lang
       |    ORDER BY p.doc_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |    // 512 AS pack_id
       |FROM priced p JOIN documents doc ON p.doc_id = doc.doc_id"""
      .stripMargin

  // --- q134: distilled quality classifier (hashed log-odds NB) -----------------
  // operators/QualityModel.distill: the fasttext pattern — distill a
  // rule-based weak label (the q21 quality heuristic, restated in pure
  // integer arithmetic so both engines agree exactly) into a linear
  // model over md5-bucketed bag-of-token presence features. Training is
  // one closed-form pass: per-bucket Laplace-smoothed log-odds in
  // BIGINT micro-units (the q124 round-each-term-before-summing rule,
  // so margins are summation-order-independent and bit-identical in
  // SQL). The oracle replays bucketing, the count table, every weight,
  // the prior, and the per-document margin — a slip anywhere fails the
  // 500-row hash.
  /** q21's quality==1.0 band in INTEGER form — length band + stopword
    * ratio > 1% + mean token length in [2,12], no float anywhere. ONE
    * definition shared by q134 (training) and q135 (streamed scoring):
    * the label is the contract both oracles replay, so a divergence
    * between the two queries' models is impossible by construction.
    */
  private def weakQualityLabel(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import graft.functions.Text
    val w = Text.tokens(text)
    val n = size(w).cast("long")
    val stops = size(filter(w, x =>
      array_contains(array(Text.StopWords.map(lit): _*), x))).cast("long")
    val chars = aggregate(w, lit(0L), (acc, x) => acc + length(x).cast("long"))
    n.between(20L, 1000L) && stops * 100L > n &&
      chars >= n * 2L && chars <= n * 12L
  }

  private def q134(s: SparkSession, d: String): DataFrame =
    QualityModel.distill(Tables.documents(s, d), "doc_id", "text",
      weakQualityLabel(col("text")))

  private val q134Sql: String =
    """WITH feat AS (
       |  SELECT DISTINCT doc_id, substr(md5('f:' || word), 1, 4) AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents) t
       |  WHERE len(word) > 0),
       |lab AS (
       |  SELECT doc_id,
       |    len(w) BETWEEN 20 AND 1000
       |    AND len(list_filter(w, x ->
       |      x IN ('the','a','of','and','to','in'))) * 100 > len(w)
       |    AND list_sum(list_transform(w, x -> length(x))) >= 2 * len(w)
       |    AND list_sum(list_transform(w, x -> length(x))) <= 12 * len(w)
       |    AS y
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM documents) t),
       |tot AS (
       |  SELECT CAST(count(*) FILTER (WHERE y) AS BIGINT) AS pos,
       |         CAST(count(*) FILTER (WHERE NOT y) AS BIGINT) AS neg
       |  FROM lab),
       |cnt AS (
       |  SELECT f.b,
       |    CAST(count(*) FILTER (WHERE l.y) AS BIGINT) AS pb,
       |    CAST(count(*) FILTER (WHERE NOT l.y) AS BIGINT) AS nb
       |  FROM feat f JOIN lab l USING (doc_id) GROUP BY f.b),
       |wts AS (
       |  SELECT b,
       |    CAST(round(ln(
       |      ((pb + 1.0) * (neg - nb + 1.0)) /
       |      ((nb + 1.0) * (pos - pb + 1.0))) * 1e6) AS BIGINT) AS w,
       |    CAST(round(ln(
       |      ((pos - pb + 1.0) * (neg + 2.0)) /
       |      ((neg - nb + 1.0) * (pos + 2.0))) * 1e6) AS BIGINT) AS a
       |  FROM cnt CROSS JOIN tot),
       |prior AS (
       |  SELECT CAST(round(ln((pos + 1.0) / (neg + 1.0)) * 1e6)
       |    + (SELECT sum(a) FROM wts) AS BIGINT) AS p
       |  FROM tot)
       |SELECT l.doc_id, l.y AS label,
       |  CAST(prior.p + COALESCE(sum(wts.w), 0) AS BIGINT) AS margin,
       |  prior.p + COALESCE(sum(wts.w), 0) > 0 AS predicted
       |FROM lab l CROSS JOIN prior
       |LEFT JOIN feat f ON l.doc_id = f.doc_id
       |LEFT JOIN wts ON f.b = wts.b
       |GROUP BY l.doc_id, l.y, prior.p""".stripMargin

  // --- q135: STREAMED quality scoring through the partials lake ----------------
  // The deployment shape end to end: the model trains OFFLINE on the
  // batch corpus (q134's pipeline), then the es-export STREAM is scored
  // ONLINE — the weight map rides as a literal, the margin is a
  // map-side projection inside each micro-batch — and per-batch partial
  // counts land in the q126 partials lake, merged at read. The oracle
  // wraps q134's full replay as a CTE and re-aggregates by (lang,
  // predicted), so training, bucketing, the streamed margins, the
  // batch-boundary placement, AND the lake merge are all under one
  // hash.
  private def q135(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val f = QualityModel.featurize(docs, "doc_id", "text",
      weakQualityLabel(col("text"))).persist()
    f.count(): Unit
    val (wts, prior) = QualityModel.trainBernoulliNb(f)
    f.unpersist(blocking = false)

    val (dirStr, docSchema) = esPageExport(s, d)
    val lakeDir = Tables.freshScratchDir("graft_qscore_", d)
    val scored = s.readStream.format("es-export")
      .schema(docSchema).load(dirStr)
      .select(col("lang"),
        QualityModel.marginCol(QualityModel.featsCol(col("text")),
          wts, prior).as("margin"))
      .withColumn("predicted", col("margin") > 0)
    val spec = graft.streaming.PartialAggs.Spec(
      keys = Seq("lang", "predicted"), countAs = Some("n"),
      sums = Seq("margin" -> "sum_margin"))
    graft.streaming.PartialAggs.writePartials(scored, spec,
      lakeDir.toString): Unit
    graft.streaming.PartialAggs.readMerged(s, spec, lakeDir.toString)
  }

  private val q135Sql: String =
    s"""WITH q AS ($q134Sql)
       |SELECT d.lang, q.predicted, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(q.margin) AS BIGINT) AS sum_margin
       |FROM q JOIN documents d USING (doc_id)
       |GROUP BY d.lang, q.predicted""".stripMargin

  // --- q142: CCNet perplexity bucketing ----------------------------------------
  // operators/Curation.perplexityBuckets (Wenzek et al. 2020): the
  // curation step between scoring and mixing — every language split into
  // equal-depth head/middle/tail bands by per-bigram average LM score
  // (q124's integer-portable model; average = score×1000 div n, both
  // engines truncating toward zero; ties on doc_id). The oracle wraps
  // q124's full replay as a CTE and re-runs the normalize + ntile
  // window, so the LM, the division pin, the ordering, AND the bucket
  // boundaries all sit under one hash. One window shuffle on lang
  // beyond the audited scoring shape.
  private def q142(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation
      .perplexityBuckets(Tables.documents(s, d), "doc_id", "text", "lang")
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("avg_logp_nano"), col("bucket"),
        when(col("bucket") === 1L, "head")
          .when(col("bucket") === 2L, "middle")
          .otherwise("tail").as("band"))

  private lazy val q142Sql: String =
    s"""WITH q AS ($q124Sql),
       |j AS (SELECT d.doc_id, d.lang, q.n_bigrams,
       |        (q.score_micro * 1000) // greatest(q.n_bigrams, 1)
       |          AS avg_logp_nano
       |      FROM q JOIN documents d USING (doc_id)),
       |b AS (SELECT doc_id, lang, n_bigrams, avg_logp_nano,
       |        CAST(ntile(3) OVER (PARTITION BY lang
       |          ORDER BY avg_logp_nano DESC, doc_id ASC) AS BIGINT)
       |          AS bucket
       |      FROM j)
       |SELECT doc_id, lang, n_bigrams, avg_logp_nano, bucket,
       |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 2 THEN 'middle'
       |       ELSE 'tail' END AS band
       |FROM b""".stripMargin

  // --- q143: ES _bulk sink round trip ------------------------------------------
  // sinks/EsBulk: the WRITE half of the connector — every corpus row
  // rendered as the two-line _bulk action/source pair, one file per
  // partition (the natural bulk-request granularity), read back through
  // the union-schema JSON path (action lines = rows with a non-null
  // `index` struct) and re-aggregated. The oracle recomputes from the
  // source table (q63's lake-round-trip precedent): any row lost,
  // doubled (an action line surviving the filter), or retyped by the
  // JSON round trip fails the hash.
  private def q143(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = Tables.freshScratchDir("graft_esbulk_", d).toString
    graft.sinks.EsBulk.write(docs, dir, "docs", "doc_id")
    graft.sinks.EsBulk.read(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(length(col("text"))).cast("long").as("text_chars"))
  }

  private val q143Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(length(text)) AS BIGINT) AS text_chars
      |FROM documents GROUP BY lang""".stripMargin

  // --- q124: n-gram LM quality scoring ----------------------------------------
  // operators/LmScore.bigramScore: the CCNet-style perplexity-proxy
  // curation filter — add-one-smoothed word-bigram LM trained on the
  // corpus, every document scored as the sum of its bigrams'
  // conditional log-probs. Integer-portable by the q105/q121 rule
  // (per-bigram micro-rounding BEFORE the per-document sum), so the
  // oracle rebuilds the identical counts and expression tree and the
  // whole score column must hash-match.
  private def q124(s: SparkSession, d: String): DataFrame =
    LmScore.bigramScore(Tables.documents(s, d), "doc_id", "text")

  private val q124Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       tok AS (SELECT unnest(w) AS t FROM w),
       uni AS (SELECT t, count(*) AS c1 FROM tok GROUP BY t),
       v AS (SELECT count(*) AS v FROM uni),
       g AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
             FROM w),
       pairs AS (SELECT doc_id, w[i] AS t, w[i + 1] AS nxt FROM g),
       big AS (SELECT t, nxt, count(*) AS c2 FROM pairs GROUP BY t, nxt),
       scored AS (SELECT p.doc_id,
             CAST(round(ln((b.c2 + 1.0) / (u.c1 + v.v)) * 1e6) AS BIGINT) AS m
           FROM pairs p
           JOIN big b ON p.t = b.t AND p.nxt = b.nxt
           JOIN uni u ON p.t = u.t
           CROSS JOIN v),
       agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(m) AS score_micro
               FROM scored GROUP BY doc_id)
       SELECT d.doc_id,
         COALESCE(a.n_bigrams, 0) AS n_bigrams,
         CAST(COALESCE(a.score_micro, 0) AS BIGINT) AS score_micro
       FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id"""

  // --- q121: BM25 top-k retrieval ---------------------------------------------
  // operators/Retrieval.bm25TopK: Okapi BM25 (Lucene non-negative idf)
  // over whitespace tokens, three fixed queries (one includes the rare
  // term 'dup', df≈26 — high idf, so it dominates its query's ranking),
  // top-10 per query through the native bounded-heap aggregate (q119's
  // TopKPairs). Integer-portable by the per-term micro-rounding rule:
  // contributions round to BIGINT micro-units BEFORE the per-(query,doc)
  // sum, so the score is summation-order-independent and the oracle
  // replays the identical expression tree term-by-term in SQL.
  private def q121(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
      queries = Seq(
        1L -> Seq("hash", "join", "dup"),
        2L -> Seq("window", "stream", "agg"),
        3L -> Seq("vector", "scan", "filter", "sort")),
      k = 10)

  private val q121Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w),
       tf AS (SELECT doc_id, dl, term, count(*) AS tf
              FROM tok GROUP BY 1, 2, 3),
       q(query_id, term) AS (VALUES
         (1, 'hash'), (1, 'join'), (1, 'dup'),
         (2, 'window'), (2, 'stream'), (2, 'agg'),
         (3, 'vector'), (3, 'scan'), (3, 'filter'), (3, 'sort')),
       stats AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM w),
       dfx AS (SELECT term, count(*) AS df FROM tf
               WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
       sc AS (SELECT q.query_id, tf.doc_id,
           CAST(sum(CAST(round(
             ln(1 + (n - df + 0.5) / (df + 0.5)) *
             (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6)
             AS BIGINT)) AS BIGINT) AS score_micro
         FROM tf JOIN q USING (term) JOIN dfx USING (term)
         CROSS JOIN stats
         GROUP BY 1, 2),
       r AS (SELECT query_id, doc_id, score_micro,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score_micro DESC, doc_id) AS rn
         FROM sc)
       SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(rn AS BIGINT) AS rank, doc_id, score_micro
       FROM r WHERE rn <= 10"""

  // --- q145: fractional-epoch domain resampling --------------------------------
  // operators/Mixing.epochMix: the published-mix step — per-source
  // target weights in MILLI-epochs (2300 = 2 copies + a deterministic
  // 30% third), the fractional keep decided by q112's engine-portable
  // mixer, copies emitted via sequence-explode. Zero shuffles (the mix
  // table broadcasts); the mixture exercises >2 epochs, sub-epoch
  // down-sampling, an exact 1.0, a hard 0, a 1-milli corner, and an
  // absent domain (src9 → dropped). The oracle replays the mixer CTEs,
  // the threshold compare, and generate_series per copy — every copy
  // row of every document under one hash.
  private val Q145Mix: Seq[(String, Long)] = Seq(
    "src0" -> 2300L, "src1" -> 700L, "src2" -> 1500L, "src3" -> 0L,
    "src4" -> 1000L, "src5" -> 3000L, "src6" -> 250L, "src7" -> 1999L,
    "src8" -> 1L)

  private def q145(s: SparkSession, d: String): DataFrame =
    graft.operators.Mixing.epochMix(Tables.documents(s, d), "doc_id",
        "source", Q145Mix.toMap, seed = 2026L)
      .select(col("doc_id"), col("source"), col("copy"), col("n_copies"))

  private lazy val q145Sql: String = {
    val values = Q145Mix
      .map { case (src, em) => s"('$src', $em)" }.mkString(", ")
    s"""WITH e AS (SELECT * FROM (VALUES $values) AS t(source, em)),
       |h1 AS (SELECT doc_id, source,
       |         ((doc_id % 1000000007) * 2654435761 + 2026) % 1000000007
       |           AS h1 FROM documents),
       |h3 AS (SELECT doc_id, source,
       |         ((h1 * h1) % 1000000007 * 2246822519 + 40503) % 1000000007
       |           AS h3 FROM h1),
       |j AS (SELECT h3.doc_id, h3.source,
       |        e.em // 1000 +
       |          CASE WHEN h3.h3 % 1000 < e.em % 1000 THEN 1 ELSE 0 END
       |          AS n_copies
       |      FROM h3 JOIN e USING (source))
       |SELECT doc_id, source,
       |  CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy,
       |  CAST(n_copies AS BIGINT) AS n_copies
       |FROM j""".stripMargin
  }

  // --- q146: data-quality expectations gate ------------------------------------
  // operators/Expectations: the validation report in front of a 100 TB
  // ingest — row-count floor, null ceilings, integer-exact value
  // ranges (centi-units), cardinality bounds, all as ONE aggregate
  // pass over lineitem, plus a referential-integrity row (orphan
  // lineitem orderkeys vs orders) from one anti-join. The oracle
  // recomputes every measured value AND every pass flag.
  private def q146(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Expectations
    import graft.operators.Expectations.Check
    val li = Tables.lineitem(s, d)
    Expectations.report(li, Seq(
      Check("row_count", count(lit(1)), lo = Some(1L)),
      Check("orderkey_nulls", count(when(col("l_orderkey").isNull, 1)),
        lo = Some(0L), hi = Some(0L)),
      Check("quantity_min_centi",
        min(round(col("l_quantity") * 100).cast("long")), lo = Some(100L)),
      Check("quantity_max_centi",
        max(round(col("l_quantity") * 100).cast("long")), hi = Some(5000L)),
      Check("discount_max_centi",
        max(round(col("l_discount") * 100).cast("long")), hi = Some(10L)),
      Check("returnflag_card", countDistinct(col("l_returnflag")),
        lo = Some(1L), hi = Some(3L)),
      Check("shipdate_nulls", count(when(col("l_shipdate").isNull, 1)),
        lo = Some(0L), hi = Some(0L))))
      .unionByName(Expectations.refIntegrity("orphan_lineitems",
        li, "l_orderkey", Tables.orders(s, d), "o_orderkey"))
  }

  private val q146Sql: String =
    """WITH a AS (SELECT
      |    CAST(count(*) AS BIGINT) AS row_count,
      |    CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT)
      |      AS orderkey_nulls,
      |    CAST(min(round(l_quantity * 100)) AS BIGINT) AS quantity_min_centi,
      |    CAST(max(round(l_quantity * 100)) AS BIGINT) AS quantity_max_centi,
      |    CAST(max(round(l_discount * 100)) AS BIGINT) AS discount_max_centi,
      |    CAST(count(DISTINCT l_returnflag) AS BIGINT) AS returnflag_card,
      |    CAST(count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT)
      |      AS shipdate_nulls
      |  FROM lineitem),
      |o AS (SELECT CAST(count(*) AS BIGINT) AS v
      |      FROM lineitem l LEFT JOIN orders ord
      |        ON l.l_orderkey = ord.o_orderkey
      |      WHERE ord.o_orderkey IS NULL)
      |SELECT 'row_count' AS check_name, row_count AS value,
      |  CAST(1 AS BIGINT) AS lo, CAST(NULL AS BIGINT) AS hi,
      |  row_count IS NOT NULL AND row_count >= 1 AS pass FROM a
      |UNION ALL SELECT 'orderkey_nulls', orderkey_nulls, 0, 0,
      |  orderkey_nulls IS NOT NULL AND orderkey_nulls = 0 FROM a
      |UNION ALL SELECT 'quantity_min_centi', quantity_min_centi, 100, NULL,
      |  quantity_min_centi IS NOT NULL AND quantity_min_centi >= 100 FROM a
      |UNION ALL SELECT 'quantity_max_centi', quantity_max_centi, NULL, 5000,
      |  quantity_max_centi IS NOT NULL AND quantity_max_centi <= 5000 FROM a
      |UNION ALL SELECT 'discount_max_centi', discount_max_centi, NULL, 10,
      |  discount_max_centi IS NOT NULL AND discount_max_centi <= 10 FROM a
      |UNION ALL SELECT 'returnflag_card', returnflag_card, 1, 3,
      |  returnflag_card IS NOT NULL
      |    AND returnflag_card BETWEEN 1 AND 3 FROM a
      |UNION ALL SELECT 'shipdate_nulls', shipdate_nulls, 0, 0,
      |  shipdate_nulls IS NOT NULL AND shipdate_nulls = 0 FROM a
      |UNION ALL SELECT 'orphan_lineitems', v, 0, 0, v = 0 FROM o""".stripMargin

  // --- q147: hard-negative mining ----------------------------------------------
  // operators/Similarity.hardNegatives: for each audit query, the exact
  // top-5 most-cosine-similar embeddings with a DIFFERENT label — the
  // contrastive-training negatives. Label mismatch sits in the join
  // condition (same-label pairs never reach the kernel); otherwise the
  // q28 broadcast/scan-once/heap shape, and the oracle is q28's with
  // the label predicate.
  private def q147(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", "label", k = 5)
  }

  private val q147Sql: String =
    """SELECT q_id, id, rank FROM (
         SELECT q.vec_id AS q_id, c.vec_id AS id,
           CAST(row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                             c.embedding::DOUBLE[]) DESC,
                      c.vec_id ASC) AS BIGINT) AS rank
         FROM embeddings q, embeddings c
         WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
           AND q.label != c.label) t
       WHERE rank <= 5"""

  // --- q148: corpus snapshot diff ----------------------------------------------
  // operators/Snapshot.diff: two id-keyed corpus versions, no
  // changelog — recover the delta (added/removed/modified/unchanged)
  // via ONE full-outer join with null-safe column compare. v2 is built
  // deterministically from the source table (drop %17, modify text of
  // %13, add shifted %19 ids), so the oracle replays both the
  // construction and the diff; every per-document verdict is hashed.
  private def q148(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
    val kept = docs.filter(col("doc_id") % 17 =!= 0)
    val v2 = kept
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [v2]")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          col("text"), col("lang")))
    graft.operators.Snapshot.diff(docs, v2, "doc_id", Seq("text", "lang"))
  }

  private val q148Sql: String =
    """WITH v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0 THEN text || ' [v2]' ELSE text END
      |      AS text, lang
      |  FROM documents WHERE doc_id % 17 != 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang FROM documents
      |  WHERE doc_id % 19 = 0)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN o.text IS NOT DISTINCT FROM n.text
      |        AND o.lang IS NOT DISTINCT FROM n.lang THEN 'unchanged'
      |       ELSE 'modified' END AS change
      |FROM documents o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id""".stripMargin

  // --- q149: length-bucketed inference batching --------------------------------
  // operators/Packing.lengthBucketedBatches: batches of near-equal
  // lengths so per-batch padding (n·max − sum) collapses — the
  // inference-side twin of packing. Distributed WITHOUT a global sort:
  // bucket = len div width is a projection, batches form per-bucket by
  // the (len, id) window order — one shuffle, deterministic
  // membership. The oracle replays bucket, rank, batch, and the
  // padding arithmetic per batch.
  private def q149(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.lengthBucketedBatches(
      Tables.documents(s, d), "doc_id", "n_chars",
      batchSize = 8, bucketWidth = 64L)

  private val q149Sql: String =
    """WITH b AS (SELECT doc_id, n_chars, n_chars // 64 AS bucket
      |           FROM documents),
      |r AS (SELECT doc_id, n_chars, bucket,
      |        row_number() OVER (PARTITION BY bucket
      |          ORDER BY n_chars, doc_id) AS rn
      |      FROM b),
      |g AS (SELECT bucket, (rn - 1) // 8 AS batch, count(*) AS n_docs,
      |        max(n_chars) AS max_len, sum(n_chars) AS sum_len
      |      FROM r GROUP BY 1, 2)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(batch AS BIGINT) AS batch,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(max_len AS BIGINT) AS max_len,
      |  CAST(sum_len AS BIGINT) AS sum_len,
      |  CAST(n_docs * max_len - sum_len AS BIGINT) AS padding
      |FROM g""".stripMargin

  /** Named thunks for the individual paths inside the composite lake-ANN
    * audit queries (q122 PQ-over-lake, q137 IVF-over-lake), so the bench
    * can time each path SEPARATELY: the r11 verdict's q122 5.6× "regression"
    * was unattributable because the scoreboard number conflates a lake
    * write + three search paths in one wall-clock. Each thunk builds its
    * own plan from scratch; the two `*_write+search` thunks pay their lake
    * write, the others assume the lake exists (call in order). Timings are
    * published in the bench tail as `paths`.
    */
  def annLakePaths(s: SparkSession, d: String)
      : Seq[(String, () => DataFrame)] = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    val annDir = AnnLake.pqDir(d)
    val ivfDir = AnnLake.ivfDir(d)
    Seq(
      "q122_write+search" -> (() => {
        graft.sinks.Lake.writeAnnLake(emb, annDir, "vec_id")
        Similarity.pqTopKOverLake(s, annDir, qs, "vec_id", "embedding",
          dim = AnnLake.Dim, k = AnnLake.K, m = AnnLake.M,
          ksub = AnnLake.Ksub, refine = AnnLake.Refine)
      }),
      "q122_lake_search" -> (() =>
        Similarity.pqTopKOverLake(s, annDir, qs, "vec_id", "embedding",
          dim = AnnLake.Dim, k = AnnLake.K, m = AnnLake.M,
          ksub = AnnLake.Ksub, refine = AnnLake.Refine)),
      "q122_mem_search" -> (() =>
        Similarity.pqTopK(emb, qs, "vec_id", "embedding",
          dim = AnnLake.Dim, k = AnnLake.K, m = AnnLake.M,
          ksub = AnnLake.Ksub, refine = AnnLake.Refine)),
      "q122_brute_audit" -> (() =>
        Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
          k = AnnLake.K)),
      "q137_write+search" -> (() => {
        Tables.deleteRecursively(java.nio.file.Paths.get(ivfDir))
        Similarity.writeIvfLake(emb, ivfDir, "vec_id", "embedding",
          dim = AnnLake.Dim, nCells = AnnLake.NCells): Unit
        Similarity.ivfTopKOverLake(s, ivfDir, qs, "vec_id", "embedding",
          dim = AnnLake.Dim, k = AnnLake.K, nProbe = AnnLake.NProbe)
      }),
      "q137_lake_search" -> (() =>
        Similarity.ivfTopKOverLake(s, ivfDir, qs, "vec_id", "embedding",
          dim = AnnLake.Dim, k = AnnLake.K, nProbe = AnnLake.NProbe)),
      "q137_mem_search" -> (() =>
        Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
          dim = AnnLake.Dim, k = AnnLake.K, nCells = AnnLake.NCells,
          nProbe = AnnLake.NProbe))) ++ {
      // q152 (incremental IVF append) is the scoreboard's most
      // composite query — two lake writes + three search paths + the
      // brute audit in one wall-clock — and the r12 verdict flagged it
      // as unattributable from the artifact alone (the defect class
      // q122 had in r11). Same discipline: one thunk per path, called
      // in order; the two write thunks return a 1-row frame so their
      // timing measures the WRITE, not a re-read.
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val inc = emb.filter(col("vec_id") % 5 === 0)
      val incDir = AnnLake.ivfDir(d) + "_inc"
      Seq(
        "q152_base_write" -> (() => {
          Tables.deleteRecursively(java.nio.file.Paths.get(incDir))
          Similarity.writeIvfLake(base, incDir, "vec_id", "embedding",
            dim = AnnLake.Dim, nCells = AnnLake.NCells): Unit
          s.range(1).toDF()
        }),
        "q152_append" -> (() => {
          Similarity.appendToIvfLake(inc, incDir, "vec_id", "embedding",
            dim = AnnLake.Dim)
          s.range(1).toDF()
        }),
        "q152_lake_search" -> (() =>
          Similarity.ivfTopKOverLake(s, incDir, qs, "vec_id", "embedding",
            dim = AnnLake.Dim, k = AnnLake.K, nProbe = AnnLake.NProbe)),
        "q152_frozen_search" -> (() =>
          Similarity.ivfTopKFrozen(emb, qs, "vec_id", "embedding",
            dim = AnnLake.Dim, k = AnnLake.K, lakeDir = incDir,
            nProbe = AnnLake.NProbe)),
        "q152_brute_audit" -> (() =>
          Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
            k = AnnLake.K)))
    } ++ {
      // q162 (IVF-lake compaction, the most composite maintenance
      // audit): build = base write + 3 cell-clustered appends;
      // compact = the manifest-committed rewrite of fat cells; the two
      // searches bracket it. Called in order, like the rest.
      val cmpDir = AnnLake.ivfDir(d) + "_cmp"
      def cmpSearch() = Similarity.ivfTopKOverLake(s, cmpDir, qs,
        "vec_id", "embedding", dim = AnnLake.Dim, k = AnnLake.K,
        nProbe = AnnLake.NProbe)
      Seq(
        "q162_build" -> (() => {
          Tables.deleteRecursively(java.nio.file.Paths.get(cmpDir))
          Similarity.writeIvfLake(emb.filter(col("vec_id") % 5 =!= 0),
            cmpDir, "vec_id", "embedding", dim = AnnLake.Dim,
            nCells = AnnLake.NCells): Unit
          (0 until 3).foreach { slice =>
            Similarity.appendToIvfLake(
              emb.filter(col("vec_id") % 5 === 0 &&
                pmod(col("vec_id") / 5, lit(3)) === slice),
              cmpDir, "vec_id", "embedding", dim = AnnLake.Dim)
          }
          s.range(1).toDF()
        }),
        "q162_search_pre" -> (() => cmpSearch()),
        "q162_compact" -> (() => {
          Similarity.compactIvfLake(s, cmpDir): Unit
          s.range(1).toDF()
        }),
        "q162_search_post" -> (() => cmpSearch()))
    } ++ {
      // q164 (IVF+PQ composed lake): same per-path discipline from day 1
      val pqLakeDir = AnnLake.ivfDir(d) + "_pq"
      Seq(
        "q164_write" -> (() => {
          Tables.deleteRecursively(java.nio.file.Paths.get(pqLakeDir))
          Similarity.writeIvfPqLake(emb, pqLakeDir, "vec_id", "embedding",
            dim = AnnLake.Dim, nCells = AnnLake.NCells, m = AnnLake.M,
            ksub = AnnLake.Ksub): Unit
          s.range(1).toDF()
        }),
        "q164_lake_search" -> (() =>
          Similarity.ivfPqTopKOverLake(s, pqLakeDir, qs, "vec_id",
            "embedding", dim = AnnLake.Dim, k = AnnLake.K,
            nProbe = AnnLake.NProbe, refine = AnnLake.Refine)),
        "q164_frozen_search" -> (() =>
          Similarity.ivfPqTopKFrozen(emb, qs, "vec_id", "embedding",
            dim = AnnLake.Dim, k = AnnLake.K, lakeDir = pqLakeDir,
            nProbe = AnnLake.NProbe, refine = AnnLake.Refine)))
    } ++ {
      // q171 (takedown): fixture = the three state builds + the audit
      // twins; operator = the three propagated deletes + the
      // post-delete search a user actually runs
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      val scratch = Tables.freshScratchDir("graft_takedown_b_", d)
      val tIvf = s"$scratch/ivf"
      val tDocs = s"$scratch/docs"
      val tState = s"$scratch/state"
      val delVecs = emb.filter(col("vec_id") % 17 === 3).select("vec_id")
      val delDocs = docs.filter(col("doc_id") % 13 === 2).select("doc_id")
      def survivors = docs.join(delDocs, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("text"))
      Seq(
        "q171_build" -> (() => {
          Similarity.writeIvfLake(emb, tIvf, "vec_id", "embedding",
            dim = AnnLake.Dim, nCells = AnnLake.NCells): Unit
          docs.write.mode("overwrite").partitionBy("source").parquet(tDocs)
          graft.streaming.NearDupStream.writeCorpusState(
            docs, "doc_id", "text", tState)
          s.range(1).toDF()
        }),
        "q171_delete" -> (() => {
          Similarity.deleteFromIvfLake(s, tIvf, delVecs): Unit
          graft.sinks.Lake.deleteIds(s, tDocs, "source", "doc_id",
            delDocs): Unit
          graft.operators.Dedup.deleteFromNearDupState(
            s, tState, delDocs): Unit
          s.range(1).toDF()
        }),
        "q171_search_post" -> (() =>
          Similarity.ivfTopKOverLake(s, tIvf, qs, "vec_id", "embedding",
            dim = AnnLake.Dim, k = AnnLake.K, nProbe = AnnLake.NProbe)),
        "q171_frozen_twin" -> (() =>
          Similarity.ivfTopKFrozen(
            emb.join(delVecs, Seq("vec_id"), "left_anti"), qs, "vec_id",
            "embedding", dim = AnnLake.Dim, k = AnnLake.K, lakeDir = tIvf,
            nProbe = AnnLake.NProbe)),
        "q171_audit_doclake" -> (() => {
          val back = s.read.parquet(tDocs)
            .select(col("doc_id"), col("source"), col("text"))
          back.exceptAll(survivors).unionAll(survivors.exceptAll(back))
        }),
        "q171_audit_state" -> (() => {
          val back = s.read.parquet(tState)
          val rebuilt = graft.operators.Dedup.nearDupState(
            survivors, "doc_id", "text")
          back.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(back))
        }))
    } ++ {
      // q172 (incremental state append): fixture = the base-state
      // write; operator = the retrain-free append + the delta match
      val docs = Tables.documents(s, d)
      val scratch = Tables.freshScratchDir("graft_neardup_b_", d)
      val st = s"$scratch/state"
      val base = docs.filter(col("doc_id") % 20 =!= 0 &&
        col("doc_id") % 2 === 1)
      val accepted = docs.filter(col("doc_id") % 20 =!= 0 &&
        col("doc_id") % 2 === 0)
      val delta = docs.filter(col("doc_id") % 20 === 0)
      Seq(
        "q172_state_write" -> (() => {
          graft.streaming.NearDupStream.writeCorpusState(
            base, "doc_id", "text", st)
          s.range(1).toDF()
        }),
        "q172_append" -> (() => {
          graft.streaming.NearDupStream.appendToCorpusState(
            accepted, "doc_id", "text", st)
          s.range(1).toDF()
        }),
        "q172_match" -> (() =>
          graft.operators.Dedup.nearDupsAgainstState(
            s.read.parquet(st), delta, "doc_id", "text", threshold = 0.5)))
    } ++ {
      // q173 (persisted reference sketch): fixture = the one-time
      // corpus-scan build; operator = the incremental append/takedown
      // and the per-batch scoring a production pipeline actually pays
      val docs = Tables.documents(s, d)
      val ref = docs.filter(col("doc_id") % 5 =!= 0)
      val initial = ref.filter(col("doc_id") % 3 =!= 1)
      val appended = ref.filter(col("doc_id") % 3 === 1)
      val erased = initial.filter(col("doc_id") % 7 === 2)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val skDir = Tables.freshScratchDir("graft_refsketch_b_", d)
        .toString + "/sketch"
      Seq(
        "q173_build" -> (() => {
          graft.operators.Decontaminate.writeReferenceSketch(
            s, skDir, initial, "text", n = 3, exactGrams = true,
            nBuckets = 32)
          s.range(1).toDF()
        }),
        "q173_append" -> (() => {
          graft.operators.Decontaminate.appendToReferenceSketch(
            s, skDir, appended, "text", opId = "vintage1"): Unit
          s.range(1).toDF()
        }),
        "q173_takedown" -> (() => {
          graft.operators.Decontaminate.deleteFromReferenceSketch(
            s, skDir, erased, "text", opId = "erasure1"): Unit
          s.range(1).toDF()
        }),
        "q173_score" -> (() =>
          graft.operators.Decontaminate.noveltyScoresAgainstSketch(
            s, skDir, batch, "doc_id", "text")))
    } ++ {
      // q174 (versioned lake): fixture = replaying the 4-commit history;
      // operator = the manifest-driven as-of reads a user actually pays
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val vDir = Tables.freshScratchDir("graft_vlake_b_", d)
        .toString + "/lake"
      Seq(
        "q174_commits" -> (() => {
          VersionedLake.commitAppend(
            s, vDir, docs.filter(col("doc_id") % 3 === 0)): Unit
          VersionedLake.commitAppend(
            s, vDir, docs.filter(col("doc_id") % 3 === 1)): Unit
          VersionedLake.commitDelete(s, vDir, "doc_id",
            docs.filter(col("doc_id") % 5 === 0).select("doc_id")): Unit
          VersionedLake.commitAppend(
            s, vDir, docs.filter(col("doc_id") % 3 === 2)): Unit
          s.range(1).toDF()
        }),
        "q174_reads" -> (() =>
          (1L to 4L).map { v =>
            VersionedLake.readAsOf(s, vDir, v)
              .select(lit(v).as("version"), col("doc_id"), col("text"))
          }.reduce(_ unionAll _)))
    } ++ {
      // q175 (exactly-once stream ingest): fixture = staging the source
      // files; operator = the drain, replay probe, delete, final read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val streamed = docs.filter(col("doc_id") % 4 =!= 3)
      val scratch = Tables.freshScratchDir("graft_vstream_b_", d)
      val lakeDir = s"$scratch/lake"
      val srcDir = s"$scratch/src"
      Seq(
        "q175_stage" -> (() => {
          streamed.repartition(3).write.mode("overwrite").parquet(srcDir)
          s.range(1).toDF()
        }),
        "q175_stream" -> (() => {
          val stream = s.readStream.schema(streamed.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir)
          VersionedLake.appendStream(stream, lakeDir, s"$scratch/ckpt")
          s.range(1).toDF()
        }),
        "q175_replay+delete" -> (() => {
          val n = VersionedLake.currentVersion(s, lakeDir)
          VersionedLake.commitAppendForBatch(s, lakeDir,
            streamed.limit(1), batchId = n - 1): Unit
          VersionedLake.commitDelete(s, lakeDir, "doc_id",
            docs.filter(col("doc_id") % 10 === 1).select("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q175_read" -> (() => VersionedLake.read(s, lakeDir)))
    } ++ {
      // q177 (versioned-lake compaction): fixture = fragmenting the
      // lake; operator = the compaction itself + the post read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val cDir = Tables.freshScratchDir("graft_vcompact_b_", d)
        .toString + "/lake"
      Seq(
        "q177_fragment" -> (() => {
          (0 to 2).foreach { m =>
            VersionedLake.commitAppend(s, cDir,
              docs.filter(col("doc_id") % 3 === m).repartition(4)): Unit
          }
          VersionedLake.commitDelete(s, cDir, "doc_id",
            docs.filter(col("doc_id") % 7 === 2).select("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q177_compact" -> (() => {
          VersionedLake.compact(s, cDir, nFiles = 2): Unit
          s.range(1).toDF()
        }),
        "q177_read" -> (() => VersionedLake.read(s, cDir)))
    } ++ {
      // q178 (manifest-stats range read): fixture = the quartile commit
      // history; operator = the pruned range read a user actually runs
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val q = docs.count() / 4
      val rDir = Tables.freshScratchDir("graft_vrange_b_", d)
        .toString + "/lake"
      Seq(
        "q178_commits" -> (() => {
          (0 until 4).foreach { m =>
            VersionedLake.commitAppend(s, rDir,
              docs.filter(col("doc_id") >= m * q &&
                col("doc_id") < (m + 1) * q).repartition(2),
              statsCol = if (m == 0) Some("doc_id") else None): Unit
          }
          s.range(1).toDF()
        }),
        "q178_range_read" -> (() =>
          VersionedLake.readAsOfRange(s, rDir,
            VersionedLake.currentVersion(s, rDir), q, 3 * q - 1)))
    } ++ {
      // q179 (versioned-lake upsert): fixture = the quartile lake +
      // the prior-version audit; operator = the MERGE commit itself
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val q = docs.count() / 4
      val uDir = Tables.freshScratchDir("graft_vupsert_b_", d)
        .toString + "/lake"
      val updates = docs
        .filter(col("doc_id") >= q && col("doc_id") < 2 * q &&
          col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(lit("UPD:"), col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 4 * q).as("doc_id"), col("text")))
      Seq(
        "q179_build" -> (() => {
          (0 until 4).foreach { m =>
            VersionedLake.commitAppend(s, uDir,
              docs.filter(col("doc_id") >= m * q &&
                col("doc_id") < (m + 1) * q).repartition(2),
              statsCol = if (m == 0) Some("doc_id") else None): Unit
          }
          s.range(1).toDF()
        }),
        "q179_upsert" -> (() => {
          VersionedLake.commitUpsert(s, uDir, "doc_id", updates): Unit
          s.range(1).toDF()
        }),
        "q179_read" -> (() => VersionedLake.read(s, uDir)))
    } ++ {
      // q180 (change-data feed): fixture = the 3-commit history;
      // operator = the two manifest-diff change reads a consumer runs
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val cdDir = Tables.freshScratchDir("graft_vchanges_b_", d)
        .toString + "/lake"
      Seq(
        "q180_history" -> (() => {
          VersionedLake.commitAppend(s, cdDir,
            docs.filter(col("doc_id") % 2 === 0).repartition(3)): Unit
          val updates = docs.filter(col("doc_id") % 6 === 0)
            .select(col("doc_id"),
              concat(lit("UPD:"), col("text")).as("text"))
            .unionByName(docs.filter(col("doc_id") % 10 === 1))
          VersionedLake.commitUpsert(s, cdDir, "doc_id", updates): Unit
          VersionedLake.commitDelete(s, cdDir, "doc_id",
            docs.filter(col("doc_id") % 10 === 2).select("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q180_changes" -> (() =>
          Seq((1L, 2L), (2L, 3L)).map { case (f, t) =>
            VersionedLake.changesBetween(s, cdDir, f, t, "doc_id")
              .select(lit(f).as("from_v"), lit(t).as("to_v"),
                col("change_type"), col("doc_id"), col("text"))
          }.reduce(_ unionByName _)))
    } ++ {
      // q181 (clustered compaction): fixture = the interleaved ingest;
      // operator = the clustering rewrite + the pruned range read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val n = docs.count()
      val clDir = Tables.freshScratchDir("graft_vcluster_b_", d)
        .toString + "/lake"
      Seq(
        "q181_build" -> (() => {
          (0 until 4).foreach { m =>
            VersionedLake.commitAppend(s, clDir,
              docs.filter(col("doc_id") % 4 === m).repartition(2),
              statsCol = if (m == 0) Some("doc_id") else None): Unit
          }
          s.range(1).toDF()
        }),
        "q181_cluster" -> (() => {
          VersionedLake.compact(s, clDir, nFiles = 8,
            sortCol = Some("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q181_range_read" -> (() =>
          VersionedLake.readAsOfRange(s, clDir,
            VersionedLake.currentVersion(s, clDir),
            n / 4, 3 * (n / 4) - 1)))
    } ++ {
      // q182 (change-feed state sync): fixture = lake + state build +
      // the mutating commits; operator = the feed read + sync + match
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val scratch = Tables.freshScratchDir("graft_statesync_b_", d)
      val lakeDir = s"$scratch/lake"
      val stDir = s"$scratch/state"
      val delta = docs.filter(col("doc_id") % 20 === 0)
      Seq(
        "q182_build" -> (() => {
          VersionedLake.commitAppend(s, lakeDir,
            docs.filter(col("doc_id") % 20 =!= 0)): Unit
          graft.streaming.NearDupStream.writeCorpusState(
            VersionedLake.read(s, lakeDir), "doc_id", "text", stDir)
          val updates = docs.as("a")
            .join(docs.as("b"), col("a.doc_id") - 3 === col("b.doc_id"))
            .filter(col("a.doc_id") % 6 === 3)
            .select(col("a.doc_id").as("doc_id"), col("b.text").as("text"))
            .unionByName(docs.filter(col("doc_id") % 10 === 9)
              .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
          VersionedLake.commitUpsert(s, lakeDir, "doc_id", updates): Unit
          VersionedLake.commitDelete(s, lakeDir, "doc_id",
            docs.filter(col("doc_id") % 14 === 7).select("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q182_sync" -> (() => {
          val feed = VersionedLake.changesBetween(s, lakeDir, 1L,
            VersionedLake.currentVersion(s, lakeDir), "doc_id")
          graft.streaming.NearDupStream.applyChangesToCorpusState(
            feed, "doc_id", "text", stDir): Unit
          s.range(1).toDF()
        }),
        "q182_match" -> (() =>
          graft.operators.Dedup.nearDupsAgainstState(
            s.read.parquet(stDir), delta, "doc_id", "text",
            threshold = 0.5)))
    } ++ {
      // q183 (streaming MERGE): fixture = none (the batches ARE the
      // operator); split anyway: ingest vs the replay probe + read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val mDir = Tables.freshScratchDir("graft_vmerge_b_", d)
        .toString + "/lake"
      Seq(
        "q183_batches" -> (() => {
          VersionedLake.commitUpsertForBatch(s, mDir, "doc_id",
            docs.filter(col("doc_id") % 2 === 0), batchId = 0L): Unit
          val b1 = docs.filter(col("doc_id") % 6 === 0)
            .select(col("doc_id"),
              concat(lit("U1:"), col("text")).as("text"))
            .unionByName(docs.filter(col("doc_id") % 10 === 1))
          VersionedLake.commitUpsertForBatch(s, mDir, "doc_id", b1,
            batchId = 1L): Unit
          VersionedLake.commitDelete(s, mDir, "doc_id",
            docs.filter(col("doc_id") % 20 === 8).select("doc_id")): Unit
          VersionedLake.commitUpsertForBatch(s, mDir, "doc_id",
            docs.filter(col("doc_id") % 10 === 4)
              .select(col("doc_id"),
                concat(lit("U2:"), col("text")).as("text")),
            batchId = 2L): Unit
          s.range(1).toDF()
        }),
        "q183_replay+read" -> (() => {
          VersionedLake.commitUpsertForBatch(s, mDir, "doc_id",
            docs.limit(1), batchId = 2L): Unit
          VersionedLake.read(s, mDir)
        }))
    } ++ {
      // q184 (IVF feed sync): fixture = lake + index build + the
      // mutating commits; operator = the feed read + sync + search
      import graft.sinks.VersionedLake
      val emb2 = Tables.embeddings(s, d)
      val qs2 = emb2.filter(col("vec_id") < 10)
      val scratch = Tables.freshScratchDir("graft_ivfsync_b_", d)
      val lakeDir = s"$scratch/lake"
      val ivfDir2 = s"$scratch/ivf"
      Seq(
        "q184_build" -> (() => {
          VersionedLake.commitAppend(s, lakeDir,
            emb2.filter(col("vec_id") % 7 =!= 6)
              .select(col("vec_id"), col("embedding"))): Unit
          Similarity.writeIvfLake(VersionedLake.read(s, lakeDir), ivfDir2,
            "vec_id", "embedding", dim = AnnLake.Dim,
            nCells = AnnLake.NCells): Unit
          val updates = emb2.as("a")
            .join(emb2.as("b"), col("a.vec_id") - 1 === col("b.vec_id"))
            .filter(col("a.vec_id") % 9 === 5 && col("a.vec_id") % 7 =!= 6)
            .select(col("a.vec_id").as("vec_id"),
              col("b.embedding").as("embedding"))
            .unionByName(emb2.filter(col("vec_id") % 7 === 6)
              .select(col("vec_id"), col("embedding")))
          VersionedLake.commitUpsert(s, lakeDir, "vec_id", updates): Unit
          VersionedLake.commitDelete(s, lakeDir, "vec_id",
            emb2.filter(col("vec_id") % 11 === 3).select("vec_id")): Unit
          s.range(1).toDF()
        }),
        "q184_sync" -> (() => {
          val feed = VersionedLake.changesBetween(s, lakeDir, 1L,
            VersionedLake.currentVersion(s, lakeDir), "vec_id")
          Similarity.applyChangesToIvfLake(s, ivfDir2, feed, "vec_id",
            "embedding", dim = AnnLake.Dim): Unit
          s.range(1).toDF()
        }),
        "q184_search" -> (() =>
          Similarity.ivfTopKOverLake(s, ivfDir2, qs2, "vec_id",
            "embedding", dim = AnnLake.Dim, k = AnnLake.K,
            nProbe = AnnLake.NProbe)),
        "q184_frozen_twin" -> (() =>
          Similarity.ivfTopKFrozen(VersionedLake.read(s, lakeDir), qs2,
            "vec_id", "embedding", dim = AnnLake.Dim, k = AnnLake.K,
            lakeDir = ivfDir2, nProbe = AnnLake.NProbe)))
    } ++ {
      // q185 (restore): fixture = the history incl. the bad delete;
      // operator = the restore (a manifest write — no data touched),
      // the CDC inverse audit, and the final read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val rsDir = Tables.freshScratchDir("graft_vrestore_b_", d)
        .toString + "/lake"
      Seq(
        "q185_history" -> (() => {
          VersionedLake.commitAppend(s, rsDir,
            docs.filter(col("doc_id") % 3 === 0)): Unit
          VersionedLake.commitAppend(s, rsDir,
            docs.filter(col("doc_id") % 3 === 1)): Unit
          VersionedLake.commitDelete(s, rsDir, "doc_id",
            docs.filter(col("doc_id") % 4 =!= 3).select("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q185_restore+audit" -> (() => {
          val v = VersionedLake.restore(s, rsDir, 2L)
          val del23 = VersionedLake
            .changesBetween(s, rsDir, 2L, 3L, "doc_id")
            .filter(col("change_type") === "delete")
            .select(col("doc_id"), col("text"))
          val ins34 = VersionedLake
            .changesBetween(s, rsDir, 3L, v, "doc_id")
            .filter(col("change_type") === "insert")
            .select(col("doc_id"), col("text"))
          del23.exceptAll(ins34).unionAll(ins34.exceptAll(del23))
        }),
        "q185_read" -> (() => VersionedLake.read(s, rsDir)))
    } ++ {
      // q186 (index lake): fixture = the one-time corpus scan into the
      // postings lake; operator = the incremental mutations + the
      // bucket-pruned search a query batch actually pays
      val docs = Tables.documents(s, d)
      val ixDir = Tables.freshScratchDir("graft_indexlake_b_", d)
        .toString + "/index"
      val qset = Seq(
        1L -> Seq("hash", "join", "dup"),
        2L -> Seq("window", "stream", "agg"),
        3L -> Seq("vector", "scan", "filter", "sort"))
      Seq(
        "q186_build" -> (() => {
          graft.operators.IndexLake.writeIndexLake(
            docs.filter(col("doc_id") % 3 =!= 1), "doc_id", "text",
            ixDir, nBuckets = 16): Unit
          s.range(1).toDF()
        }),
        "q186_append+takedown" -> (() => {
          graft.operators.IndexLake.appendToIndexLake(
            docs.filter(col("doc_id") % 3 === 1), "doc_id", "text",
            ixDir): Unit
          graft.operators.IndexLake.deleteFromIndexLake(s, ixDir,
            docs.filter(col("doc_id") % 5 === 2).select("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q186_search" -> (() =>
          graft.operators.IndexLake.bm25TopKOverIndex(
            s, ixDir, qset, k = 10)),
        "q186_scan_twin" -> (() =>
          graft.operators.Retrieval.bm25TopK(
            docs.filter(col("doc_id") % 5 =!= 2), "doc_id", "text",
            qset, k = 10)))
    } ++ {
      // q187 (hybrid stack): fixture = both persisted stores + their
      // mutations; operator = the two persisted-leg searches + fusion
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d)
      val emb3 = Tables.embeddings(s, d)
      val scratch = Tables.freshScratchDir("graft_hybridstack_b_", d)
      val ixDir3 = s"$scratch/index"
      val embDir3 = s"$scratch/emb"
      val qset3 = Seq(
        1L -> Seq("hash", "join", "dup"),
        2L -> Seq("window", "stream", "agg"),
        3L -> Seq("vector", "scan", "filter", "sort"))
      Seq(
        "q187_build+takedown" -> (() => {
          val erased = docs.filter(col("doc_id") % 5 === 2)
            .select("doc_id")
          graft.operators.IndexLake.writeIndexLake(
            docs.filter(col("doc_id") % 3 =!= 1), "doc_id", "text",
            ixDir3, nBuckets = 16): Unit
          graft.operators.IndexLake.appendToIndexLake(
            docs.filter(col("doc_id") % 3 === 1), "doc_id", "text",
            ixDir3): Unit
          graft.operators.IndexLake.deleteFromIndexLake(
            s, ixDir3, erased): Unit
          VersionedLake.commitAppend(s, embDir3,
            emb3.filter(col("vec_id") % 3 =!= 1)
              .select(col("vec_id"), col("embedding"))): Unit
          VersionedLake.commitAppend(s, embDir3,
            emb3.filter(col("vec_id") % 3 === 1)
              .select(col("vec_id"), col("embedding"))): Unit
          VersionedLake.commitDelete(s, embDir3, "vec_id",
            erased.select(col("doc_id").as("vec_id"))): Unit
          s.range(1).toDF()
        }),
        "q187_fuse" -> (() => {
          val lex = graft.operators.IndexLake.bm25TopKOverIndex(
            s, ixDir3, qset3, k = 20)
          val vec = graft.operators.Retrieval.quantizedDotTopK(
            VersionedLake.read(s, embDir3), "vec_id", "embedding",
            emb3.filter(col("vec_id").isin(1L, 2L, 3L)), "vec_id",
            "embedding", k = 20)
          graft.operators.Retrieval.rrfFuse(Seq(lex, vec), k = 10)
        }))
    } ++ {
      // q188 (ES stream → versioned lake): fixture = none beyond the
      // shared page export; operator = the exactly-once drain, the
      // restart probe + takedown, and the final read
      import graft.sinks.VersionedLake
      val scratch = Tables.freshScratchDir("graft_esvlake_b_", d)
      val lakeDir4 = s"$scratch/lake"
      val ckpt4 = s"$scratch/ckpt"
      Seq(
        "q188_drain" -> (() => {
          val (dirStr, docSchema) = esPageExport(s, d)
          val stream = s.readStream.format("es-export")
            .schema(docSchema).load(dirStr)
            .filter(col("lang").isin("en", "de") &&
              col("n_chars") >= 50L)
            .select(col("doc_id"), col("lang"), col("source"),
              col("n_chars").cast("long").as("n_chars"))
          VersionedLake.appendStream(stream, lakeDir4, ckpt4)
          s.range(1).toDF()
        }),
        "q188_restart+takedown" -> (() => {
          val (dirStr, docSchema) = esPageExport(s, d)
          val stream = s.readStream.format("es-export")
            .schema(docSchema).load(dirStr)
            .filter(col("lang").isin("en", "de") &&
              col("n_chars") >= 50L)
            .select(col("doc_id"), col("lang"), col("source"),
              col("n_chars").cast("long").as("n_chars"))
          VersionedLake.appendStream(stream, lakeDir4, ckpt4)
          VersionedLake.commitDelete(s, lakeDir4, "doc_id",
            Tables.documents(s, d).filter(col("doc_id") % 9 === 4)
              .select("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q188_read" -> (() => VersionedLake.read(s, lakeDir4)))
    } ++ {
      // q189 (range/TTL delete): fixture = the quartile lake; operator
      // = the classification + manifest-only drops + boundary rewrite
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val q = docs.count() / 4
      val tDir = Tables.freshScratchDir("graft_vttl_b_", d)
        .toString + "/lake"
      Seq(
        "q189_build" -> (() => {
          (0 until 4).foreach { m =>
            VersionedLake.commitAppend(s, tDir,
              docs.filter(col("doc_id") >= m * q &&
                col("doc_id") < (m + 1) * q).repartition(2),
              statsCol = if (m == 0) Some("doc_id") else None): Unit
          }
          s.range(1).toDF()
        }),
        "q189_range_delete" -> (() => {
          VersionedLake.commitDeleteRange(
            s, tDir, q, 2 * q + q / 2 - 1): Unit
          s.range(1).toDF()
        }),
        "q189_read" -> (() => VersionedLake.read(s, tDir)))
    } ++ {
      // q190 (cursor sync): fixture = lake + paired state + mutations;
      // operator = the atomic sync (incl. the no-op probe) + the match
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val delta = docs.filter(col("doc_id") % 20 === 0)
      val scratch = Tables.freshScratchDir("graft_cursorsync_b_", d)
      val lakeDir5 = s"$scratch/lake"
      val stDir5 = s"$scratch/state"
      Seq(
        "q190_build" -> (() => {
          VersionedLake.commitAppend(s, lakeDir5,
            docs.filter(col("doc_id") % 20 =!= 0)): Unit
          graft.streaming.NearDupStream.writeCorpusStateFromLake(
            s, lakeDir5, stDir5, "doc_id", "text"): Unit
          val updates = docs.as("a")
            .join(docs.as("b"), col("a.doc_id") - 3 === col("b.doc_id"))
            .filter(col("a.doc_id") % 6 === 3)
            .select(col("a.doc_id").as("doc_id"),
              col("b.text").as("text"))
            .unionByName(docs.filter(col("doc_id") % 10 === 9)
              .select((col("doc_id") + 100000L).as("doc_id"),
                col("text")))
          VersionedLake.commitUpsert(s, lakeDir5, "doc_id", updates): Unit
          VersionedLake.commitDelete(s, lakeDir5, "doc_id",
            docs.filter(col("doc_id") % 14 === 7).select("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q190_sync" -> (() => {
          graft.streaming.NearDupStream.syncCorpusStateFromLake(
            s, lakeDir5, stDir5, "doc_id", "text"): Unit
          graft.streaming.NearDupStream.syncCorpusStateFromLake(
            s, lakeDir5, stDir5, "doc_id", "text"): Unit // no-op probe
          s.range(1).toDF()
        }),
        "q190_match" -> (() =>
          graft.operators.Dedup.nearDupsAgainstState(
            s.read.parquet(stDir5), delta, "doc_id", "text",
            threshold = 0.5)))
    } ++ {
      // q191 (optimistic concurrency): fixture = the base commit;
      // operator = the deterministically-raced pair of appends (the
      // loser's rebase-retry is the thing being priced)
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val rDir = Tables.freshScratchDir("graft_vrace_b_", d)
        .toString + "/lake"
      Seq(
        "q191_base" -> (() => {
          VersionedLake.commitAppend(s, rDir,
            docs.filter(col("doc_id") % 3 === 0)): Unit
          s.range(1).toDF()
        }),
        "q191_raced_appends" -> (() => {
          var raced = false
          VersionedLake.commitAppend(s, rDir,
            docs.filter(col("doc_id") % 3 === 1),
            beforePublish = () => if (!raced) {
              raced = true
              VersionedLake.commitAppend(s, rDir,
                docs.filter(col("doc_id") % 3 === 2)): Unit
            }): Unit
          s.range(1).toDF()
        }))
    } ++ {
      // q192 (index-lake compaction): build = the one-time corpus scan;
      // vintages = 8 appends + the takedown (the mutation history);
      // compact = the bucket-clustered rewrite; search = the pruned
      // read a user pays per query batch
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d)
      val ixDir = Tables.freshScratchDir("graft_ixcompact_b_", d)
        .toString + "/index"
      val qset = Seq(
        1L -> Seq("hash", "join", "dup"),
        2L -> Seq("window", "stream", "agg"),
        3L -> Seq("vector", "scan", "filter", "sort"))
      Seq(
        "q192_build" -> (() => {
          graft.operators.IndexLake.writeIndexLake(
            docs.filter(col("doc_id") % 9 === 0), "doc_id", "text",
            ixDir, nBuckets = 16): Unit
          s.range(1).toDF()
        }),
        "q192_vintages" -> (() => {
          (1 to 8).foreach { m =>
            graft.operators.IndexLake.appendToIndexLake(
              docs.filter(col("doc_id") % 9 === m), "doc_id", "text",
              ixDir): Unit
          }
          graft.operators.IndexLake.deleteFromIndexLake(s, ixDir,
            docs.filter(col("doc_id") % 5 === 2).select("doc_id")): Unit
          s.range(1).toDF()
        }),
        "q192_compact" -> (() => {
          graft.operators.IndexLake.compactIndexLake(s, ixDir): Unit
          s.range(1).toDF()
        }),
        "q192_search" -> (() =>
          graft.operators.IndexLake.bm25TopKOverIndex(s, ixDir, qset,
            k = 10)))
    } ++ {
      // q193 (schema evolution on the write path): fixture = the two
      // vintage appends; operator = the evolved MERGE + the cross-
      // boundary change feed and evolved read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d)
      val eDir = Tables.freshScratchDir("graft_vevolve_b_", d)
        .toString + "/lake"
      Seq(
        "q193_build" -> (() => {
          VersionedLake.commitAppend(s, eDir,
            docs.filter(col("doc_id") % 3 === 0)
              .select(col("doc_id"), col("text"))): Unit
          VersionedLake.commitAppend(s, eDir,
            docs.filter(col("doc_id") % 3 === 1)
              .select(col("doc_id"), col("text"), col("lang"))): Unit
          s.range(1).toDF()
        }),
        "q193_merge" -> (() => {
          val updates = docs.filter(col("doc_id") % 12 === 0)
            .select(col("doc_id"),
              concat(lit("UPD:"), col("text")).as("text"), col("lang"))
            .unionByName(docs.filter(col("doc_id") % 10 === 7)
              .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
                col("lang")))
          VersionedLake.commitUpsert(s, eDir, "doc_id", updates): Unit
          s.range(1).toDF()
        }),
        "q193_changes+read" -> (() => {
          val v = VersionedLake.currentVersion(s, eDir)
          VersionedLake.changesBetween(s, eDir, 1L, v, "doc_id")
            .unionByName(VersionedLake.readAsOf(s, eDir, v)
              .withColumn("change_type", lit("now")))
        }))
    } ++ {
      // q194 (multi-column stats): fixture = the quartile x region
      // build; operator = the second-column range delete + final read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val mDir = Tables.freshScratchDir("graft_vmcol_b_", d)
        .toString + "/lake"
      Seq(
        "q194_build" -> (() => {
          val q = docs.count() / 4
          (0 until 4).foreach { m =>
            VersionedLake.commitAppend(s, mDir,
              docs.filter(col("doc_id") >= m * q &&
                col("doc_id") < (m + 1) * q)
                .withColumn("region", lit((m % 2).toLong))
                .repartition(2),
              statsCol = if (m == 0) Some("doc_id,region") else None): Unit
          }
          s.range(1).toDF()
        }),
        "q194_range_delete" -> (() => {
          VersionedLake.commitDeleteRange(s, mDir, "region", 1L, 1L): Unit
          s.range(1).toDF()
        }),
        "q194_read" -> (() => VersionedLake.read(s, mDir)))
    } ++ {
      // q195 (Z-order compaction): fixture = the interleaved ingest;
      // operator = the Morton-clustered rewrite + the 2-dim pruned read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          col("n_chars").cast("long").as("n_chars"))
      val zDir = Tables.freshScratchDir("graft_vzorder_b_", d)
        .toString + "/lake"
      Seq(
        "q195_build" -> (() => {
          (0 until 4).foreach { m =>
            VersionedLake.commitAppend(s, zDir,
              docs.filter(col("doc_id") % 4 === m).repartition(2),
              statsCol =
                if (m == 0) Some("doc_id,n_chars") else None): Unit
          }
          s.range(1).toDF()
        }),
        "q195_zorder" -> (() => {
          VersionedLake.compactZOrder(s, zDir, "doc_id", "n_chars",
            nFiles = 8): Unit
          s.range(1).toDF()
        }),
        "q195_read2d" -> (() => {
          val q = docs.count() / 4
          VersionedLake.readAsOfRange(s, zDir,
            VersionedLake.currentVersion(s, zDir), "doc_id", 0L, q - 1,
            None).filter(col("n_chars").between(0L, 300L))
        }))
    } ++ {
      // q196 (manifest checkpoint): fixture = the 12-commit history;
      // operator = the checkpoint-served metadata reads + time travel
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val kDir = Tables.freshScratchDir("graft_vckpt_b_", d)
        .toString + "/lake"
      Seq(
        "q196_commits" -> (() => {
          (0 until 12).foreach { m =>
            VersionedLake.commitAppend(s, kDir,
              docs.filter(col("doc_id") % 12 === m)): Unit
          }
          s.range(1).toDF()
        }),
        "q196_meta+travel" -> (() => {
          val times = VersionedLake.commitTimes(s, kDir)
          VersionedLake.history(s, kDir).count(): Unit
          VersionedLake.readAsOfTimestamp(s, kDir, times(5)._2)
        }))
    } ++ {
      // q197 (conflict-detected mutations): fixture = the two-file
      // base; operator = the raced disjoint deletes + conflict round
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val cDir = Tables.freshScratchDir("graft_vcmut_b_", d)
        .toString + "/lake"
      Seq(
        "q197_base" -> (() => {
          VersionedLake.commitAppend(s, cDir,
            docs.filter(col("doc_id") % 2 === 0).repartition(1)): Unit
          VersionedLake.commitAppend(s, cDir,
            docs.filter(col("doc_id") % 2 === 1).repartition(1)): Unit
          s.range(1).toDF()
        }),
        "q197_raced_mutations" -> (() => {
          def ids(r: Long) =
            docs.filter(col("doc_id") % 8 === r).select("doc_id")
          var raced = false
          VersionedLake.commitDelete(s, cDir, "doc_id", ids(0),
            beforePublish = () => if (!raced) {
              raced = true
              VersionedLake.commitDelete(s, cDir, "doc_id", ids(5)): Unit
            }): Unit
          VersionedLake.read(s, cDir)
        }))
    } ++ {
      // q198 (3-dim Z-order): fixture = interleaved ingest; operator =
      // the MortonN rewrite + the 3-dim pruned read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          col("n_chars").cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
      val z3Dir = Tables.freshScratchDir("graft_vz3_b_", d)
        .toString + "/lake"
      Seq(
        "q198_build" -> (() => {
          (0 until 4).foreach { m =>
            VersionedLake.commitAppend(s, z3Dir,
              docs.filter(col("doc_id") % 4 === m).repartition(2),
              statsCol = if (m == 0) Some("doc_id,n_chars,n_words")
                else None): Unit
          }
          s.range(1).toDF()
        }),
        "q198_zorder3" -> (() => {
          VersionedLake.compactZOrder(s, z3Dir,
            Seq("doc_id", "n_chars", "n_words"), nFiles = 8,
            bits = 0): Unit
          s.range(1).toDF()
        }),
        "q198_read3d" -> (() => {
          val q = docs.count() / 4
          VersionedLake.readAsOfRange(s, z3Dir,
            VersionedLake.currentVersion(s, z3Dir), "doc_id", 0L, q - 1,
            None).filter(col("n_chars").between(0L, 300L) &&
              col("n_words").between(0L, 40L))
        }))
    } ++ {
      // q199 (schema header): fixture = the evolved two-vintage base;
      // operator = the zero-footer-sweep MERGE + evolved read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d)
      val hDir = Tables.freshScratchDir("graft_vhdr_b_", d)
        .toString + "/lake"
      Seq(
        "q199_build" -> (() => {
          VersionedLake.commitAppend(s, hDir,
            docs.filter(col("doc_id") % 4 === 0)
              .select(col("doc_id"), col("text"))): Unit
          VersionedLake.commitAppend(s, hDir,
            docs.filter(col("doc_id") % 4 === 1)
              .select(col("doc_id"), col("text"), col("source"))): Unit
          s.range(1).toDF()
        }),
        "q199_merge+read" -> (() => {
          val updates = docs.filter(col("doc_id") % 16 === 0)
            .select(col("doc_id"),
              concat(lit("UPD:"), col("text")).as("text"), col("source"))
            .unionByName(docs.filter(col("doc_id") % 10 === 3)
              .select((col("doc_id") + 200000L).as("doc_id"), col("text"),
                col("source")))
          val (v3, _, _) =
            VersionedLake.commitUpsert(s, hDir, "doc_id", updates)
          VersionedLake.readAsOf(s, hDir, v3)
        }))
    } ++ {
      // q200 (delta manifests): fixture = the 16 residue appends;
      // operator = the delta-published mutations + resolved read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dDir = Tables.freshScratchDir("graft_vdelta_b_", d)
        .toString + "/lake"
      Seq(
        "q200_commits" -> (() => {
          (0 until 16).foreach { m =>
            VersionedLake.commitAppend(s, dDir,
              docs.filter(col("doc_id") % 16 === m).repartition(1)): Unit
          }
          s.range(1).toDF()
        }),
        "q200_mutations+read" -> (() => {
          VersionedLake.commitDelete(s, dDir, "doc_id",
            docs.filter(col("doc_id") % 7 === 3).select("doc_id")): Unit
          VersionedLake.commitUpsert(s, dDir, "doc_id",
            docs.filter(col("doc_id") % 32 === 0)
              .select(col("doc_id"),
                concat(lit("UPD:"), col("text")).as("text"))): Unit
          VersionedLake.read(s, dDir)
        }))
    } ++ {
      // q201 (version probe): fixture = 26 commits; operator = the
      // vacuum + listing-free currentVersion probe + time travel
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val pDir = Tables.freshScratchDir("graft_vprobe_b_", d)
        .toString + "/lake"
      Seq(
        "q201_commits" -> (() => {
          (0 until 26).foreach { m =>
            VersionedLake.commitAppend(s, pDir,
              docs.filter(col("doc_id") % 26 === m).repartition(1)): Unit
          }
          s.range(1).toDF()
        }),
        "q201_vacuum+probe+read" -> (() => {
          VersionedLake.vacuum(s, pDir, keepFrom = 8L, force = true): Unit
          VersionedLake.currentVersion(s, pDir): Unit
          VersionedLake.readAsOf(s, pDir, 20L)
        }))
    } ++ {
      // q202 (typed stats): fixture = the per-source commits; operator
      // = the manifest-pruned string-range read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"),
          (col("n_chars") * 0.5).as("score"))
      val tDir = Tables.freshScratchDir("graft_vtyped_b_", d)
        .toString + "/lake"
      Seq(
        "q202_commits" -> (() => {
          val present = docs.select("source").distinct()
            .collect().map(_.getString(0)).toSet // bounded: <= 20 sources
          (0 until 20).map(m => s"src$m").filter(present.contains)
            .foreach { src =>
              VersionedLake.commitAppend(s, tDir,
                docs.filter(col("source") === src).repartition(1),
                statsCol = Some("source,score")): Unit
            }
          s.range(1).toDF()
        }),
        "q202_pruned_read" -> (() => {
          VersionedLake.readAsOfRangeOn(s, tDir,
            VersionedLake.currentVersion(s, tDir),
            "source", "src3", "src5")
        }))
    } ++ {
      // q203 (region anchors): fixture = 26 commits (two region-ref
      // anchors); operator = the delta mutations + region-resolved read
      import graft.sinks.VersionedLake
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val rDir = Tables.freshScratchDir("graft_vregion_b_", d)
        .toString + "/lake"
      Seq(
        "q203_commits" -> (() => {
          (0 until 26).foreach { m =>
            VersionedLake.commitAppend(s, rDir,
              docs.filter(col("doc_id") % 26 === m).repartition(1)): Unit
          }
          s.range(1).toDF()
        }),
        "q203_mutations+read" -> (() => {
          VersionedLake.commitDelete(s, rDir, "doc_id",
            docs.filter(col("doc_id") % 9 === 4).select("doc_id")): Unit
          VersionedLake.commitUpsert(s, rDir, "doc_id",
            docs.filter(col("doc_id") % 30 === 1)
              .select(col("doc_id"),
                concat(lit("UPD:"), col("text")).as("text"))): Unit
          VersionedLake.read(s, rDir)
        }))
    }
  }

  // --- q150: DSIR importance resampling ----------------------------------------
  // operators/Dsir: data selection via importance resampling (Xie et
  // al. 2023) — fit hashed unigram multinomials over a small TARGET
  // corpus (the src0 slice) and the full raw corpus, score every raw
  // document with the µln importance ratio (BIGINT micro, rounded per
  // bucket before summation — the q124 rule), then draw k=100 WITHOUT
  // replacement via deterministic Gumbel top-k keyed on
  // Layout.shuffleHash. The oracle replays the whole chain — bucket
  // counts, every weight, per-document scores, the Gumbel keys, and
  // the final selection — so fit, scoring, and the resample are all
  // under one hash.
  private def q150(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val wts = graft.operators.Dsir.fit(
      docs.filter(col("source") === "src0"), docs, "text", hexChars = 3)
    graft.operators.Dsir.resample(docs, "doc_id", "text", wts,
      k = 100, seed = 2026L)
  }

  private val q150Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, substr(md5('d:' || word), 1, 3) AS b
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents) t
      |  WHERE len(word) > 0),
      |tb AS (
      |  SELECT b, CAST(count(*) AS BIGINT) AS tn FROM tok
      |  WHERE doc_id IN (SELECT doc_id FROM documents
      |                   WHERE source = 'src0')
      |  GROUP BY b),
      |rb AS (SELECT b, CAST(count(*) AS BIGINT) AS rn FROM tok GROUP BY b),
      |tot AS (
      |  SELECT (SELECT COALESCE(sum(tn), 0) FROM tb) AS td,
      |         (SELECT COALESCE(sum(rn), 0) FROM rb) AS rd),
      |wts AS (
      |  SELECT COALESCE(tb.b, rb.b) AS b,
      |    CAST(round(ln(((COALESCE(tn, 0) + 1.0) * (rd + 4096.0)) /
      |                  ((COALESCE(rn, 0) + 1.0) * (td + 4096.0))) * 1e6)
      |      AS BIGINT) AS w
      |  FROM tb FULL OUTER JOIN rb ON tb.b = rb.b CROSS JOIN tot),
      |score AS (
      |  SELECT d.doc_id,
      |    CAST(COALESCE(sum(wts.w), 0) AS BIGINT) AS score_micro
      |  FROM documents d
      |  LEFT JOIN tok ON d.doc_id = tok.doc_id
      |  LEFT JOIN wts ON tok.b = wts.b
      |  GROUP BY d.doc_id),
      |h AS (
      |  SELECT doc_id, score_micro,
      |    ((doc_id % 1000000007) * 2654435761 + 2026) % 1000000007 AS h1
      |  FROM score),
      |keyed AS (
      |  SELECT doc_id, score_micro,
      |    score_micro + CAST(round(-ln(-ln(
      |      ((((h1 * h1) % 1000000007) * 2246822519 + 40503)
      |        % 1000000007 + 1) / 1000000008.0)) * 1e6) AS BIGINT)
      |      AS key_micro
      |  FROM h)
      |SELECT doc_id, score_micro, key_micro FROM keyed
      |ORDER BY key_micro DESC, doc_id LIMIT 100""".stripMargin

  // --- q151: leakage-safe grouped train/valid/test split -----------------------
  // operators/Split.grouped: every document of one group (here the
  // source domain) lands in the same split — near-duplicates inside a
  // group can never straddle the train/test boundary. The decision is
  // a pure projection: 6-hex-char md5 prefix of the seeded group key
  // compared against cumulative milli-fraction thresholds as hex
  // literals (800/100/100 → 'cccccc'/'e66666'), so the oracle replays
  // every per-row assignment with two string compares.
  private def q151(s: SparkSession, d: String): DataFrame =
    graft.operators.Split.grouped(
      Tables.documents(s, d).select("doc_id", "source"), "source",
      seed = 2026L,
      Seq("train" -> 800L, "valid" -> 100L, "test" -> 100L))

  private val q151Sql: String =
    """SELECT doc_id, source,
      |  CASE WHEN substr(md5('split:2026:' || COALESCE(source, '')),
      |              1, 6) < 'cccccc' THEN 'train'
      |       WHEN substr(md5('split:2026:' || COALESCE(source, '')),
      |              1, 6) < 'e66666' THEN 'valid'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  // --- q152: incremental IVF-lake append ---------------------------------------
  // Similarity.appendToIvfLake: the incremental-ingest maintenance op
  // the ANN lake story needs at 100 TB — a new batch is assigned to
  // the lake's FROZEN sidecar centroids and appended into its cell
  // directories (no retrain, no churn to existing files). The audit:
  // searching the appended lake must EXACTLY equal ivfTopKFrozen
  // (base∪batch assigned in memory to the same sidecar centroids) —
  // an append that drops/duplicates rows, misassigns cells, or
  // corrupts the sidecar fails the multiset equality — plus q50's
  // brute-force recall floor (0.8: centroids trained on the 80% base
  // keep the q137 geometry on this iid corpus).
  private def q152(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val inc = emb.filter(col("vec_id") % 5 === 0)
    val qs = emb.filter(col("vec_id") < 10)
    val lakeDir = AnnLake.ivfDir(d) + "_inc"
    Tables.deleteRecursively(java.nio.file.Paths.get(lakeDir))
    Similarity.writeIvfLake(base, lakeDir, "vec_id", "embedding",
      dim = AnnLake.Dim, nCells = AnnLake.NCells): Unit
    Similarity.appendToIvfLake(inc, lakeDir, "vec_id", "embedding",
      dim = AnnLake.Dim)
    val lake = Similarity.ivfTopKOverLake(s, lakeDir, qs, "vec_id",
      "embedding", dim = AnnLake.Dim, k = AnnLake.K,
      nProbe = AnnLake.NProbe)
    val mem = Similarity.ivfTopKFrozen(emb, qs, "vec_id", "embedding",
      dim = AnnLake.Dim, k = AnnLake.K, lakeDir = lakeDir,
      nProbe = AnnLake.NProbe)
    val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
      k = AnnLake.K)
    annLakeAudit(lake, mem, exact, floor = 0.8)
  }

  private val q152Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_results,
       true AS equals_in_memory,
       true AS recall_ge_floor
       FROM embeddings WHERE vec_id < 10"""

  // --- q153: cross-source duplication matrix -----------------------------------
  // Dedup.crossSourceDupMatrix: which sources republish each other —
  // the governance report that decides dedup priority order. The
  // testdata corpus has no natural cross-source duplicates, so the
  // query deterministically constructs a second vintage (the q148
  // pattern): every 7th document re-published by aggregator 'agg_a',
  // every 13th by 'agg_b'. The oracle replays the construction AND the
  // matrix — group hashing, per-group distinct sources, the ordered
  // pair expansion, and every count.
  private def q153(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "source")
    val mirrored = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
        lit("agg_a").as("source"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
          lit("agg_b").as("source")))
    graft.operators.Dedup.crossSourceDupMatrix(
      docs.unionByName(mirrored), "doc_id", "text", "source")
  }

  private val q153Sql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, text, 'agg_a' FROM documents
      |  WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, text, 'agg_b' FROM documents
      |  WHERE doc_id % 13 = 0),
      |g AS (SELECT md5(text) AS h FROM all_docs
      |      GROUP BY 1 HAVING count(*) >= 2),
      |m AS (SELECT DISTINCT md5(text) AS h, source FROM all_docs
      |      WHERE source IS NOT NULL)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST(count(*) AS BIGINT) AS n_shared_groups
      |FROM g JOIN m a USING (h) JOIN m b USING (h)
      |WHERE a.source < b.source
      |GROUP BY 1, 2""".stripMargin

  // --- q154: per-group centroid outliers (label-noise audit) ------------------
  // Each label's embedding centroid (exact fixed-point integer mean, the
  // q115 contract) and the 5 members farthest from it — the first screen
  // for mislabeled / off-topic rows in embedding-curated corpora. One
  // map-side-combined centroid aggregate (groups·dim longs), centroids
  // broadcast back, distances map-side, top-5 per group through the
  // bounded-heap aggregate (q119's shape). The oracle replays the
  // quantization, the truncating integer mean, every integer L2², and
  // the (dist DESC, id ASC) ranking.
  private def q154(s: SparkSession, d: String): DataFrame =
    graft.operators.Centroids.centroidOutliers(
        Tables.embeddings(s, d), "vec_id", "embedding", "label", k = 5)
      // int32 parquet label -> BIGINT: the oracle TYPE contract
      .select(col("label").cast("long").as("label"),
        col("rank"), col("vec_id"), col("dist"))

  private val q154Sql =
    """WITH q AS (
         SELECT label, vec_id, list_transform(embedding::DOUBLE[],
           x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
         FROM embeddings WHERE label IS NOT NULL),
       c AS (
         SELECT label, list(s ORDER BY i) AS c FROM (
           SELECT label, i, CAST(sum(v) AS BIGINT) // count(*) AS s
           FROM (SELECT label, generate_subscripts(qv, 1) AS i,
                   unnest(qv) AS v FROM q) e
           GROUP BY label, i) u
         GROUP BY label),
       sc AS (
         SELECT q.label, q.vec_id,
           list_sum(list_transform(range(1, len(q.qv) + 1),
             i -> (q.qv[i] - c.c[i]) * (q.qv[i] - c.c[i]))) AS dist
         FROM q JOIN c USING (label))
       SELECT CAST(label AS BIGINT) AS label, CAST(rn AS BIGINT) AS rank,
         vec_id, CAST(dist AS BIGINT) AS dist
       FROM (SELECT label, vec_id, dist, row_number() OVER (
               PARTITION BY label ORDER BY dist DESC, vec_id ASC) AS rn
             FROM sc) t
       WHERE rn <= 5"""

  // --- q155: per-source contamination governance report ----------------------
  // q64's decontamination machinery rolled up to the number sourcing
  // decisions consume: per source, how many documents share an 8-gram
  // with the benchmark (doc_id < 50) and at what rate — zero-hit sources
  // report 0. Group totals are one map-side aggregate; the contaminated
  // side starts from the bounded HIT set and broadcast-joins, so the
  // report never shuffles the corpus.
  private def q155(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontaminate.contaminationReport(
      docs.filter(col("doc_id") >= 50), "doc_id", "text", "source",
      docs.filter(col("doc_id") < 50), "text", n = 8)
  }

  private val q155Sql =
    """WITH bg AS (
         SELECT DISTINCT unnest(list_transform(range(1, len(w) - 6),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] ||
                ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
                w[i+7])) AS g
         FROM (SELECT string_split(text, ' ') AS w FROM documents
               WHERE doc_id < 50) t),
       cg AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 6),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] ||
                ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
                w[i+7]))) AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE doc_id >= 50) t),
       hits AS (
         SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)),
       tot AS (
         SELECT source, count(*) AS n_docs FROM documents
         WHERE doc_id >= 50 GROUP BY source),
       con AS (
         SELECT source, count(*) AS n_contaminated
         FROM documents d JOIN hits USING (doc_id)
         GROUP BY source)
       SELECT t.source, t.n_docs,
         coalesce(c.n_contaminated, 0) AS n_contaminated,
         round(coalesce(c.n_contaminated, 0)::DOUBLE / t.n_docs, 6)
           AS contamination_rate
       FROM tot t LEFT JOIN con c ON t.source IS NOT DISTINCT FROM c.source"""

  // --- q156: per-document n-gram novelty vs a reference corpus ---------------
  // The crawl-triage score: for each batch document (doc_id % 5 = 0),
  // the fraction of its distinct word 3-grams unseen anywhere in the
  // reference corpus (the other 80%). The reference side is a CORPUS —
  // not broadcastable — so the operator runs the inverted q71 Bloom
  // discipline: bloom-MISSING grams are definitively novel and skip the
  // join entirely; only bloom-hit candidates are exact-verified. Output
  // equals the exact join byte-for-byte; the oracle IS the exact join.
  private def q156(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontaminate.noveltyScores(
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
      docs.filter(col("doc_id") % 5 =!= 0), "text", n = 3)
  }

  private val q156Sql =
    """WITH rg AS (
         SELECT DISTINCT unnest(list_transform(range(1, len(w) - 1),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
         FROM (SELECT string_split(text, ' ') AS w FROM documents
               WHERE doc_id % 5 != 0) t),
       bg AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 1),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE doc_id % 5 = 0) t),
       j AS (
         SELECT b.doc_id, count(*) AS n_grams, count(r.g) AS n_seen
         FROM bg b LEFT JOIN rg r ON b.g = r.g
         GROUP BY b.doc_id)
       SELECT doc_id, n_grams, n_grams - n_seen AS n_novel,
         round((n_grams - n_seen)::DOUBLE / n_grams, 6) AS novelty_rate
       FROM j"""

  // --- q157: greedy k-center coreset selection -------------------------------
  // Gonzalez's farthest-first traversal over the quantized integer grid:
  // seed = smallest vec_id, then 7 rounds of "argmax distance to the
  // chosen set" with (dist DESC, id ASC) tie-break — each round one
  // map-side corpus scan against a packed centers literal + a
  // TakeOrderedAndProject. The oracle unrolls all 8 selection steps as
  // chained CTEs (generated below), replaying every distance, every
  // min-update, and every argmax.
  private def q157(s: SparkSession, d: String): DataFrame =
    graft.operators.Coreset.kCenterGreedy(
      Tables.embeddings(s, d), "vec_id", "embedding", k = 8)

  private val q157Sql: String = {
    val k = 8
    def l2(a: String, b: String) =
      s"list_sum(list_transform(range(1, len($a) + 1), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val sb = new StringBuilder
    sb ++= "WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
    sb ++= "x -> CAST(round(x * 1000000) AS BIGINT)) AS qv FROM embeddings),\n"
    sb ++= "s1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),\n"
    sb ++= s"d1 AS (SELECT q.vec_id, q.qv, ${l2("q.qv", "s1.qv")} AS dist FROM q, s1)"
    for (t <- 2 to k) {
      val picked = (1 until t).map(i => s"SELECT vec_id FROM s$i")
        .mkString(" UNION ALL ")
      sb ++= s",\ns$t AS (SELECT vec_id, qv, dist FROM d${t - 1} " +
        s"WHERE vec_id NOT IN ($picked) ORDER BY dist DESC, vec_id LIMIT 1)"
      if (t < k)
        sb ++= s",\nd$t AS (SELECT d.vec_id, d.qv, " +
          s"least(d.dist, ${l2("d.qv", "s.qv")}) AS dist " +
          s"FROM d${t - 1} d, s$t s)"
    }
    sb ++= "\nSELECT CAST(1 AS BIGINT) AS rank, vec_id, CAST(0 AS BIGINT) AS dist FROM s1"
    for (t <- 2 to k)
      sb ++= s"\nUNION ALL SELECT CAST($t AS BIGINT), vec_id, CAST(dist AS BIGINT) FROM s$t"
    sb.toString
  }

  // --- q158: policy-driven exact dedup (keep the preferred copy) -------------
  // q20's exact dedup under an explicit representative policy: a second
  // vintage republishes every 7th document (same text, new id, vintage
  // 1), and the group keeps the FRESHEST copy (vintage DESC, id ASC) —
  // so re-published groups keep the vintage-1 id while single-vintage
  // groups fall back to the smallest id. Same one-shuffle cost as q20;
  // the argmax is a single max(struct) aggregate, no window sort.
  private def q158(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val all = docs.withColumn("vintage", lit(0L))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
          lit(1L).as("vintage")))
    Dedup.keepBest(all, "doc_id", "text", Seq(col("vintage")))
  }

  private val q158Sql =
    """WITH all_docs AS (
         SELECT doc_id, text, 0 AS vintage FROM documents
         UNION ALL
         SELECT doc_id + 2000000, text, 1 FROM documents
         WHERE doc_id % 7 = 0)
       SELECT content_hash, doc_id AS keep_id, n_copies FROM (
         SELECT md5(text) AS content_hash, doc_id,
           count(*) OVER (PARTITION BY md5(text)) AS n_copies,
           row_number() OVER (PARTITION BY md5(text)
             ORDER BY vintage DESC, doc_id ASC) AS rn
         FROM all_docs) t
       WHERE rn = 1"""

  // --- q159: global line-level dedup + boilerplate removal (C4 rule) ---------
  // Each doc is rebuilt as 4 lines: a universal boilerplate banner
  // (doc_df = corpus size ⇒ dropped everywhere), its own text, a
  // "category N" line shared by the doc_id%20 class (kept once — in the
  // smallest doc of the class — while doc_df ≤ 50, dropped wholesale
  // beyond), and its 7-block anchor's text (a cross-doc duplicate whose
  // winner is the anchor itself; for anchor docs it is ALSO a
  // within-doc duplicate at a later position). The oracle replays the
  // per-(line,doc) reduction, the (id, pos) winner rule, the doc-freq
  // threshold, and the ordered reassembly.
  private def q159(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val anchors = docs.select(col("doc_id").as("anchor_id"),
      col("text").as("anchor_text"))
    val multi = docs
      .join(anchors,
        col("doc_id") - (col("doc_id") % 7) === col("anchor_id"))
      .select(col("doc_id"), concat_ws("\n",
        lit("subscribe to our newsletter for updates"),
        col("text"),
        concat(lit("category "), (col("doc_id") % 20).cast("string")),
        col("anchor_text")).as("text"))
    Dedup.lineDedup(multi, "doc_id", "text", "\n", maxDocFreq = 50L)
  }

  private val q159Sql =
    """WITH docs AS (
         SELECT d.doc_id,
           'subscribe to our newsletter for updates' || chr(10) ||
           d.text || chr(10) ||
           'category ' || (d.doc_id % 20) || chr(10) || a.text AS text
         FROM documents d
         JOIN documents a ON a.doc_id = d.doc_id - (d.doc_id % 7)),
       lns AS (
         SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos,
           unnest(w) AS line
         FROM (SELECT doc_id, string_split(text, chr(10)) AS w
               FROM docs) t),
       perdoc AS (
         SELECT line, doc_id, min(pos) AS minpos
         FROM lns GROUP BY 1, 2),
       stats AS (
         SELECT line, min(doc_id) AS win_id, count(*) AS doc_df
         FROM perdoc GROUP BY 1),
       kept AS (
         SELECT p.doc_id, p.minpos AS pos, p.line
         FROM perdoc p JOIN stats s ON p.line = s.line
         WHERE p.doc_id = s.win_id AND s.doc_df <= 50),
       tot AS (SELECT doc_id, count(*) AS n_lines FROM lns GROUP BY 1),
       reb AS (
         SELECT doc_id,
           string_agg(line, chr(10) ORDER BY pos) AS clean_text,
           count(*) AS n_kept
         FROM kept GROUP BY 1)
       SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
         t.n_lines, coalesce(r.n_kept, 0) AS n_kept
       FROM tot t LEFT JOIN reb r USING (doc_id)"""

  // --- q160: winnowed verbatim-run pairs (MOSS fingerprinting) ---------------
  // Every 11th doc gains a "quoting" twin embedding its first 12 tokens
  // verbatim (a ≥ 8-token run ⇒ the winnowing guarantee fires), and the
  // report lists all pairs sharing any 8-token run with the exact count
  // of distinct shared 8-grams — natural overlaps included. The oracle
  // IS the exact 8-gram self-join: winnowing + text-verify equals it
  // byte-for-byte (candidates ⊇ the guarantee set, the verify trims
  // hash-collision extras). maxDocFreq is lifted so the scale guard
  // cannot perturb the oracled contract; the guard itself is spec'd.
  private def q160(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val quotes = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat_ws(" ", lit("quoted from the original article"),
          array_join(slice(split(col("text"), " "), 1, 12), " "),
          lit("end of quotation block")).as("text"))
    // k=6/w=3 keeps the same t = 8 contract as k=4/w=5 but fingerprints
    // are 6-grams — far rarer on a narrow-vocabulary corpus, so the
    // candidate set stays near the true pair set instead of drowning in
    // common-4-gram collisions (measured 4.0 → 0.9 s warm at sf0.1)
    Dedup.winnowedRunPairs(docs.unionByName(quotes), "doc_id", "text",
      k = 6, w = 3, maxDocFreq = Long.MaxValue)
  }

  private val q160Sql =
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 3000000,
           'quoted from the original article ' ||
           array_to_string((string_split(text, ' '))[1:12], ' ') ||
           ' end of quotation block'
         FROM documents WHERE doc_id % 11 = 0),
       grams AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 6),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] ||
                ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
                w[i+7]))) AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS w
               FROM corpus) t)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         count(*) AS n_shared_runs
       FROM grams a JOIN grams b
         ON a.g = b.g AND a.doc_id < b.doc_id
       GROUP BY 1, 2"""

  // --- q161: rare-sequence exposure screen (memorization/PII risk) -----------
  // Every 13th doc gets a planted unique "secret" tail (an 8-token run
  // appearing nowhere else ⇒ min_df = 1 ⇒ risky); every 4th doc is
  // republished verbatim under a new id, so its grams' df is ≥ 2 and a
  // screen keyed on rarity must NOT flag it. The oracle replays the
  // distinct-gram stream, the per-gram doc frequency, and the per-doc
  // (count, min, rare-count, flag) rollup.
  private def q161(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val secret = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), concat_ws(" ", col("text"),
        lit("ssn record"), concat(lit("id"), col("doc_id").cast("string")),
        lit("leaked secret token value pin"),
        concat(lit("key"), col("doc_id").cast("string"))).as("text"))
    val rest = docs.filter(col("doc_id") % 13 =!= 0)
    val republished = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("text"))
    Curation.rareSequenceScreen(
      rest.unionByName(secret).unionByName(republished),
      "doc_id", "text", n = 8, minDf = 2L)
  }

  private val q161Sql =
    """WITH corpus AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0
         UNION ALL
         SELECT doc_id, text || ' ssn record id' || doc_id ||
           ' leaked secret token value pin key' || doc_id
         FROM documents WHERE doc_id % 13 = 0
         UNION ALL
         SELECT doc_id + 4000000, text FROM documents
         WHERE doc_id % 4 = 0),
       grams AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 6),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] ||
                ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
                w[i+7]))) AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS w
               FROM corpus) t),
       gdf AS (SELECT g, count(*) AS gdf FROM grams GROUP BY 1)
       SELECT doc_id, count(*) AS n_grams, min(gdf) AS min_df,
         CAST(sum(CASE WHEN gdf < 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rare,
         sum(CASE WHEN gdf < 2 THEN 1 ELSE 0 END) > 0 AS risky
       FROM grams JOIN gdf USING (g)
       GROUP BY 1"""

  // --- q162: IVF-lake compaction maintenance -----------------------------------
  // Similarity.compactIvfLake: the maintenance op q152's append story
  // was missing — each append adds one file per touched cell, so after
  // thousands of daily batches probe-time listing degrades; compaction
  // rewrites ONLY the fat cells back to one file each (manifest-
  // committed, crash-safe, sidecar untouched). The audit pins the
  // invariance claim: a lake built as base + three appends is searched,
  // compacted, searched again — the two result sets must be multiset-
  // EQUAL (the pre-compaction results are collected to a 50-row local
  // relation first, so the comparison cannot lazily re-read the
  // compacted lake on both sides), every cell directory must hold
  // exactly one data file after, and the file count must have dropped.
  private def q162(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val qs = emb.filter(col("vec_id") < 10)
    val lakeDir = AnnLake.ivfDir(d) + "_cmp"
    Tables.deleteRecursively(java.nio.file.Paths.get(lakeDir))
    Similarity.writeIvfLake(base, lakeDir, "vec_id", "embedding",
      dim = AnnLake.Dim, nCells = AnnLake.NCells): Unit
    (0 until 3).foreach { slice =>
      Similarity.appendToIvfLake(
        emb.filter(col("vec_id") % 5 === 0 &&
          pmod(col("vec_id") / 5, lit(3)) === slice),
        lakeDir, "vec_id", "embedding", dim = AnnLake.Dim)
    }
    def search() = Similarity.ivfTopKOverLake(s, lakeDir, qs, "vec_id",
      "embedding", dim = AnnLake.Dim, k = AnnLake.K, nProbe = AnnLake.NProbe)
    // materialize the BEFORE results as a local relation: a lazy frame
    // would re-read the (by then compacted) lake and the equality audit
    // would be vacuous
    val preRows = search().collect().toSeq
    val pre = s.createDataFrame(
      s.sparkContext.parallelize(preRows, 1), search().schema)
    val (filesBefore, filesAfter) = Similarity.compactIvfLake(s, lakeDir)
    // the post-compaction search feeds both the stats aggregate and the
    // equality diff — one materialized run (≤ |Q|·k rows), not two
    val post = search().localCheckpoint(true)
    val nCellDirs = Option(new java.io.File(lakeDir).listFiles())
      .getOrElse(Array.empty).count(f =>
        f.isDirectory && f.getName.startsWith("cell="))
    val stats = post.agg(
      count_distinct(col("q_id")).as("n_queries"),
      count(lit(1)).as("n_results"))
    val diffs = post.unionAll(pre)
      .groupBy("q_id", "id", "rank").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).agg(count(lit(1)).as("n_diff"))
    stats.crossJoin(diffs).select(
      col("n_queries"), col("n_results"),
      (col("n_diff") === 0).as("equals_precompact"),
      lit(filesAfter < filesBefore).as("files_reduced"),
      lit(filesAfter == nCellDirs.toLong).as("one_file_per_cell"))
  }

  private val q162Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_results,
       true AS equals_precompact,
       true AS files_reduced,
       true AS one_file_per_cell
       FROM embeddings WHERE vec_id < 10"""

  // --- q163: STREAMING near-dup dedup vs persisted corpus LSH state ------------
  // streaming/NearDupStream: q69's delta-vs-corpus MinHash through the
  // micro-batch shape — the corpus LSH state (signatures + shingle
  // sets) is persisted once, the delta arrives as a 3-file stream
  // drained one file per trigger, each batch's pairs land in their own
  // idempotent batch_id= leaf (the q126 discipline), and the merged
  // leaves must EQUAL the one-shot batch operator: pair emission is
  // per-delta-doc independent, so batch boundaries cannot change the
  // result. The oracle IS q69's exact all-pairs SQL — same data split,
  // same threshold, so streaming, state persistence, banding, and the
  // batch-boundary placement all sit under q69's hash.
  private def q163(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val delta = docs.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("text"))
    val scratch = Tables.freshScratchDir("graft_neardup_", d)
    val stateDir = s"$scratch/state"
    val deltaDir = s"$scratch/delta"
    val outDir = s"$scratch/pairs"
    graft.streaming.NearDupStream.writeCorpusState(
      corpus, "doc_id", "text", stateDir)
    // 3 files -> 3 real micro-batches at maxFilesPerTrigger=1
    delta.repartition(3).write.mode("overwrite").parquet(deltaDir)
    val stream = s.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(deltaDir)
    graft.streaming.NearDupStream.nearDupPairs(s, stream, "doc_id",
      "text", stateDir, outDir, checkpointDir = s"$scratch/ckpt",
      threshold = 0.5)
  }

  // --- q164: IVF+PQ composed lake (the FAISS IVFPQ shape) ----------------------
  // Similarity.writeIvfPqLake / ivfPqTopKOverLake: q137's cell pruning
  // AND q122's cheap-code scoring in ONE layout — a probe reads only
  // the probed cells' directories and only their (id, code) columns;
  // floats stay unread until the ≤ |Q|·k·refine exact re-rank. The
  // audit: lake search must EXACTLY equal the in-memory twin assigned
  // and encoded with the lake's frozen sidecars (a dropped cell, a
  // drifted codebook, or a mis-encoded row fails the multiset
  // equality), plus q122's 0.5 brute-force recall floor.
  private def q164(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    val lakeDir = AnnLake.ivfDir(d) + "_pq"
    Tables.deleteRecursively(java.nio.file.Paths.get(lakeDir))
    Similarity.writeIvfPqLake(emb, lakeDir, "vec_id", "embedding",
      dim = AnnLake.Dim, nCells = AnnLake.NCells, m = AnnLake.M,
      ksub = AnnLake.Ksub): Unit
    val lake = Similarity.ivfPqTopKOverLake(s, lakeDir, qs, "vec_id",
      "embedding", dim = AnnLake.Dim, k = AnnLake.K,
      nProbe = AnnLake.NProbe, refine = AnnLake.Refine)
    val mem = Similarity.ivfPqTopKFrozen(emb, qs, "vec_id", "embedding",
      dim = AnnLake.Dim, k = AnnLake.K, lakeDir = lakeDir,
      nProbe = AnnLake.NProbe, refine = AnnLake.Refine)
    val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
      k = AnnLake.K)
    annLakeAudit(lake, mem, exact, floor = 0.5)
  }

  private val q164Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_results,
       true AS equals_in_memory,
       true AS recall_ge_floor
       FROM embeddings WHERE vec_id < 10"""

  // --- q165: square-root temperature mixture shares ----------------------------
  // Mixing.temperatureShares: the step that PRODUCES a mixture — per-
  // source √n-smoothed sampling shares and integer quotas (the
  // multilingual rebalancing rule; feeds q145's epochMix). Everything
  // after the count is integer arithmetic (√n is IEEE-correctly-rounded
  // on both engines, quantized to micro BEFORE the sum), so the oracle
  // replays weights, shares, and quotas exactly.
  private def q165(s: SparkSession, d: String): DataFrame =
    graft.operators.Mixing.temperatureShares(
      Tables.documents(s, d), "source", budget = 1000L)

  private val q165Sql =
    """WITH c AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(round(sqrt(count(*)::DOUBLE) * 1000000) AS BIGINT) AS w
         FROM documents GROUP BY source),
       t AS (SELECT sum(w) AS wt FROM c)
       SELECT source, n_docs, w AS weight_micro,
         CAST(w * 1000000 // wt AS BIGINT) AS share_ppm,
         CAST(w * 1000 // wt AS BIGINT) AS quota
       FROM c CROSS JOIN t"""

  // --- q166: embedding-vintage centroid drift report ---------------------------
  // Centroids.centroidDrift: the governance check behind a re-embedding
  // or new-crawl rollout. The second vintage is deterministically
  // constructed (the q148/q153 pattern): every 10th vector re-labeled
  // into a NEW group 100 (an appearing population), group 3 dropped
  // entirely (a disappearing one), so the report exercises both
  // one-sided NULL rows — flagged by definition — alongside the small
  // membership-shift drift of every surviving group. The oracle replays
  // quantization, both centroid sets, the full-outer join, the integer
  // L2², and the flag.
  private def q166(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val v2 = emb.withColumn("label",
        when(col("vec_id") % 10 === 0, lit(100)).otherwise(col("label")))
      .filter(col("label") =!= 3)
    graft.operators.Centroids
      .centroidDrift(emb, v2, "embedding", "label",
        maxDist = 1000000000L)
      .select(col("label").cast("long").as("label"), col("n_old"),
        col("n_new"), col("dist"), col("flagged"))
  }

  private val q166Sql =
    """WITH q1 AS (
         SELECT label, list_transform(embedding::DOUBLE[],
           x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
         FROM embeddings WHERE label IS NOT NULL),
       q2 AS (
         SELECT label, qv FROM (
           SELECT CASE WHEN vec_id % 10 = 0 THEN 100 ELSE label END
             AS label,
             list_transform(embedding::DOUBLE[],
               x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
           FROM embeddings) v
         WHERE label IS NOT NULL AND label != 3),
       c1 AS (
         SELECT label, CAST(max(n) AS BIGINT) AS n_old,
           list(s ORDER BY i) AS c FROM (
           SELECT label, i, CAST(sum(v) AS BIGINT) // count(*) AS s,
             count(*) AS n
           FROM (SELECT label, generate_subscripts(qv, 1) AS i,
                   unnest(qv) AS v FROM q1) e
           GROUP BY label, i) u
         GROUP BY label),
       c2 AS (
         SELECT label, CAST(max(n) AS BIGINT) AS n_new,
           list(s ORDER BY i) AS c FROM (
           SELECT label, i, CAST(sum(v) AS BIGINT) // count(*) AS s,
             count(*) AS n
           FROM (SELECT label, generate_subscripts(qv, 1) AS i,
                   unnest(qv) AS v FROM q2) e
           GROUP BY label, i) u
         GROUP BY label),
       j AS (
         SELECT COALESCE(c1.label, c2.label) AS label, n_old, n_new,
           CASE WHEN c1.label IS NULL OR c2.label IS NULL THEN NULL
                ELSE CAST(list_sum(list_transform(
                  range(1, len(c1.c) + 1),
                  i -> (c1.c[i] - c2.c[i]) * (c1.c[i] - c2.c[i])))
                  AS BIGINT) END AS dist
         FROM c1 FULL OUTER JOIN c2 ON c1.label = c2.label)
       SELECT CAST(label AS BIGINT) AS label, n_old, n_new, dist,
         COALESCE(dist > 1000000000, true) AS flagged
       FROM j"""

  // --- q167: scalar distribution drift (grid-exact KS) -------------------------
  // operators/Drift.distributionDrift: the numeric complement of
  // q166's embedding drift — per source, an exact KS-style statistic
  // over an 8-cut integer grid, cross-multiplied so no float division
  // exists anywhere. The second vintage shifts src0/src1 lengths by
  // +500 (must flag), relabels every 17th doc into a NEW source, and
  // drops src3 — both one-sided rows flag by definition. The oracle
  // replays the union range, the cuts, both ECDFs, the cross-
  // multiplied max, and the flag.
  private def q167(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val v2 = docs
      .withColumn("source", when(col("doc_id") % 17 === 0, lit("src_new"))
        .otherwise(col("source")))
      .filter(col("source") =!= "src3")
      .withColumn("n_chars",
        col("n_chars") + when(col("source").isin("src0", "src1"), 500L)
          .otherwise(0L))
    graft.operators.Drift.distributionDrift(docs, v2, "n_chars",
      "source", gridSize = 8, thresholdPpm = 100000L)
  }

  private val q167Sql =
    """WITH v1 AS (
         SELECT source AS grp, CAST(n_chars AS BIGINT) AS v
         FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
       v2 AS (
         SELECT grp, CAST(v0 + CASE WHEN grp IN ('src0','src1')
                  THEN 500 ELSE 0 END AS BIGINT) AS v
         FROM (SELECT CASE WHEN doc_id % 17 = 0 THEN 'src_new'
                  ELSE source END AS grp, n_chars AS v0
               FROM documents
               WHERE source IS NOT NULL AND n_chars IS NOT NULL) t
         WHERE grp != 'src3'),
       r AS (SELECT min(v) AS lo, max(v) AS hi
             FROM (SELECT v FROM v1 UNION ALL SELECT v FROM v2)),
       cuts AS (SELECT DISTINCT lo + (hi - lo) * i // 8 AS c
                FROM r CROSS JOIN range(1, 9) t(i)),
       g1 AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_old
              FROM v1 GROUP BY grp),
       g2 AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_new
              FROM v2 GROUP BY grp),
       j AS (SELECT COALESCE(g1.grp, g2.grp) AS grp, n_old, n_new
             FROM g1 FULL OUTER JOIN g2 ON g1.grp = g2.grp),
       c1 AS (SELECT grp, c,
                CAST(sum(CASE WHEN v <= c THEN 1 ELSE 0 END) AS BIGINT)
                  AS k1
              FROM v1 CROSS JOIN cuts GROUP BY grp, c),
       c2 AS (SELECT grp, c,
                CAST(sum(CASE WHEN v <= c THEN 1 ELSE 0 END) AS BIGINT)
                  AS k2
              FROM v2 CROSS JOIN cuts GROUP BY grp, c),
       k AS (SELECT c1.grp,
               CAST(max(abs(c1.k1 * j.n_new - c2.k2 * j.n_old))
                 AS BIGINT) AS ks_num
             FROM c1 JOIN c2 ON c1.grp = c2.grp AND c1.c = c2.c
             JOIN j ON c1.grp = j.grp
             GROUP BY c1.grp)
       SELECT j.grp AS source, j.n_old, j.n_new, k.ks_num,
         COALESCE(k.ks_num * 1000000 > 100000 * j.n_old * j.n_new, true)
           AS flagged
       FROM j LEFT JOIN k ON j.grp = k.grp"""

  // --- q168: quota-capped best-of-domain selection ------------------------------
  // Sampling.quotaCappedBest: APPLY q165's produced mixture — per
  // source, keep the top-quota docs by (n_chars DESC, doc_id ASC)
  // through the bounded-heap aggregate (no per-domain window sort).
  // The oracle wraps q165's full replay as a CTE, so share production
  // AND consumption sit under one hash.
  private def q168(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val quotas = graft.operators.Mixing.temperatureShares(
      docs, "source", budget = 1000L)
    graft.operators.Sampling.quotaCappedBest(docs, "source", "doc_id",
      "n_chars", quotas)
  }

  private lazy val q168Sql =
    s"""WITH q AS ($q165Sql),
       |r AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |        CAST(row_number() OVER (PARTITION BY source
       |          ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rank
       |      FROM documents WHERE source IS NOT NULL)
       |SELECT r.source, r.rank, r.doc_id, r.n_chars
       |FROM r JOIN q ON r.source = q.source
       |WHERE q.quota > 0 AND r.rank <= q.quota""".stripMargin

  // --- q169: intra-document repeated-span scrub --------------------------------
  // Curation.scrubRepeatedSpans: within-doc dedup — every 8-token
  // window whose gram already occurred earlier IN THE SAME DOC is
  // dropped (first occurrence kept), docs rebuilt from surviving
  // tokens; a pure per-row kernel, zero shuffles. Every 5th doc gets
  // its own 8-token prefix appended (a planted intra-doc duplicate the
  // scrub must remove); the oracle replays the construction and the
  // whole rule — grams, first occurrences, covered positions, ordered
  // reassembly — on exact gram strings.
  private def q169(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = docs.withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat_ws(" ", col("text"),
          array_join(slice(split(col("text"), " "), 1, 8), " ")))
        .otherwise(col("text")))
    Curation.scrubRepeatedSpans(planted, "doc_id", "text", n = 8)
  }

  private val q169Sql =
    """WITH corpus AS (
         SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN
             text || ' ' ||
               array_to_string((string_split(text, ' '))[1:8], ' ')
           ELSE text END AS text
         FROM documents),
       wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
       tok AS (SELECT doc_id, generate_subscripts(w, 1) AS pos,
                 unnest(w) AS t FROM wd),
       g AS (SELECT doc_id, generate_subscripts(gl, 1) AS p,
               unnest(gl) AS gs FROM (
             SELECT doc_id, list_transform(range(1, len(w) - 6),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                    w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
                    w[i+6] || ' ' || w[i+7]) AS gl
             FROM wd) t1),
       firsts AS (SELECT doc_id, gs, min(p) AS mp FROM g GROUP BY 1, 2),
       dup AS (SELECT g.doc_id, g.p FROM g
               JOIN firsts f ON g.doc_id = f.doc_id AND g.gs = f.gs
               WHERE g.p > f.mp),
       cov AS (SELECT DISTINCT doc_id, p + i AS cp
               FROM dup CROSS JOIN range(0, 8) r(i)),
       kept AS (SELECT tok.doc_id, tok.pos, tok.t FROM tok
                LEFT JOIN cov ON tok.doc_id = cov.doc_id
                  AND tok.pos = cov.cp
                WHERE cov.cp IS NULL),
       agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS ct,
                 count(*) AS n FROM kept GROUP BY doc_id)
       SELECT wd.doc_id, COALESCE(agg.ct, '') AS clean_text,
         CAST(len(wd.w) AS BIGINT) AS n_tokens,
         CAST(len(wd.w) - COALESCE(agg.n, 0) AS BIGINT) AS n_dropped
       FROM wd LEFT JOIN agg ON wd.doc_id = agg.doc_id"""

  // --- q170: duplication-mass profile -------------------------------------------
  // Dedup.duplicationProfile: the governance histogram before dedup
  // policy — per exact-group SIZE, group/document/removable mass. A
  // deterministic duplicate structure is planted (every 7th doc
  // republished once, every 21st twice → sizes 1/2/3); the oracle
  // replays the construction, the grouping, and all three masses.
  private def q170(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 21 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
    graft.operators.Dedup.duplicationProfile(corpus, "text")
  }

  private val q170Sql =
    """WITH all_docs AS (
         SELECT text FROM documents
         UNION ALL SELECT text FROM documents WHERE doc_id % 7 = 0
         UNION ALL SELECT text FROM documents WHERE doc_id % 21 = 0),
       g AS (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_copies
             FROM all_docs GROUP BY 1)
       SELECT n_copies, CAST(count(*) AS BIGINT) AS n_groups,
         CAST(count(*) * n_copies AS BIGINT) AS n_docs,
         CAST(count(*) * (n_copies - 1) AS BIGINT) AS n_removable
       FROM g GROUP BY n_copies"""

  // --- q171: takedown / right-to-erasure propagation ----------------------------
  // Lake.deleteIds + Similarity.deleteFromIvfLake +
  // Dedup.deleteFromNearDupState: a removal request must disappear from
  // the document lake AND every derived state — the IVF lake (else
  // similarity search resurfaces deleted content) and the near-dup
  // corpus state (else ingest keeps rejecting fresh crawls as dups of
  // content no longer held). Each delete is partition-scoped and
  // manifest-committed; nothing is ever rebuilt. The audits are the
  // frozen-twin pattern (q152/q164): post-delete IVF search must EQUAL
  // searching corpus-minus-deleted in memory at the lake's frozen
  // centroids; the post-delete doc lake must equal corpus-minus-deleted
  // row-for-row; the surviving near-dup state must equal a rebuild from
  // the surviving corpus.
  private def q171(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    val qs = emb.filter(col("vec_id") < 10)
    val scratch = Tables.freshScratchDir("graft_takedown_", d)
    val ivfDir = s"$scratch/ivf"
    val docDir = s"$scratch/docs"
    val stateDir = s"$scratch/state"
    Similarity.writeIvfLake(emb, ivfDir, "vec_id", "embedding",
      dim = AnnLake.Dim, nCells = AnnLake.NCells): Unit
    docs.write.mode("overwrite").partitionBy("source").parquet(docDir)
    graft.streaming.NearDupStream.writeCorpusState(
      docs, "doc_id", "text", stateDir)
    val delVecs = emb.filter(col("vec_id") % 17 === 3).select("vec_id")
    val delDocs = docs.filter(col("doc_id") % 13 === 2).select("doc_id")
    val (_, nVecsRemoved) = Similarity.deleteFromIvfLake(s, ivfDir, delVecs)
    val (_, nDocsRemoved) = graft.sinks.Lake.deleteIds(
      s, docDir, "source", "doc_id", delDocs)
    graft.operators.Dedup.deleteFromNearDupState(s, stateDir, delDocs): Unit
    // audit 1: post-delete lake search == frozen twin over survivors.
    // `post` feeds the twin diff, the deleted-hits probe AND the final
    // aggregate — materialize the search ONCE (≤ |Q|·k rows) instead of
    // re-running the lake search per reference (guide §1.2)
    val post = Similarity.ivfTopKOverLake(s, ivfDir, qs, "vec_id",
      "embedding", dim = AnnLake.Dim, k = AnnLake.K, nProbe = AnnLake.NProbe)
      .localCheckpoint(true)
    val twin = Similarity.ivfTopKFrozen(
      emb.join(delVecs, Seq("vec_id"), "left_anti"), qs, "vec_id",
      "embedding", dim = AnnLake.Dim, k = AnnLake.K, lakeDir = ivfDir,
      nProbe = AnnLake.NProbe)
    val ivfDiff = post.unionAll(twin)
      .groupBy("q_id", "id", "rank").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count()
    val deletedHits = post
      .join(delVecs.withColumnRenamed("vec_id", "id"), Seq("id"), "left_semi")
      .count()
    // audit 2: post-delete doc lake == corpus minus deleted, row-for-row.
    // Both exceptAll directions execute both sides; materialize each
    // side once so the scans (and the MinHash rebuild below) run a
    // single time instead of twice
    val survivors = docs.join(delDocs, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true)
    val lakeBack = s.read.parquet(docDir)
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true)
    val docDiff = lakeBack.exceptAll(survivors).count() +
      survivors.exceptAll(lakeBack).count()
    // audit 3: surviving state == rebuild from the surviving corpus
    val stateBack = s.read.parquet(stateDir).localCheckpoint(true)
    val rebuilt = graft.operators.Dedup.nearDupState(
      survivors, "doc_id", "text").localCheckpoint(true)
    val stateDiff = stateBack.exceptAll(rebuilt).count() +
      rebuilt.exceptAll(stateBack).count()
    post.agg(
        count_distinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_results"))
      .select(col("n_queries"), col("n_results"),
        lit(nVecsRemoved).as("n_removed_vectors"),
        lit(nDocsRemoved).as("n_removed_docs"),
        lit(ivfDiff == 0L).as("ivf_equals_twin"),
        lit(deletedHits == 0L).as("no_deleted_in_results"),
        lit(docDiff == 0L).as("doclake_matches"),
        lit(stateDiff == 0L).as("state_matches_rebuild"))
  }

  private val q171Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(5 * count(*) AS BIGINT) AS n_results,
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings
         WHERE vec_id % 17 = 3) AS n_removed_vectors,
       (SELECT CAST(count(*) AS BIGINT) FROM documents
         WHERE doc_id % 13 = 2) AS n_removed_docs,
       true AS ivf_equals_twin,
       true AS no_deleted_in_results,
       true AS doclake_matches,
       true AS state_matches_rebuild
       FROM embeddings WHERE vec_id < 10"""

  // --- q172: incremental near-dup corpus-state append ---------------------------
  // NearDupStream.appendToCorpusState: accepted deltas join the
  // persisted LSH state WITHOUT a vintage rebuild (the q152
  // retrain-free append discipline applied to dedup state). The state
  // is built from half the corpus, the other half is appended, and the
  // delta is matched against state+append — the oracle is q69's exact
  // all-pairs SQL over the FULL corpus, so the append path must be
  // indistinguishable from a full rebuild: a dropped appended doc, a
  // mis-hashed signature, or a band mismatch all fail the hash.
  private def q172(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.filter(col("doc_id") % 20 =!= 0 &&
      col("doc_id") % 2 === 1)
    val accepted = docs.filter(col("doc_id") % 20 =!= 0 &&
      col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 20 === 0)
    val scratch = Tables.freshScratchDir("graft_neardup_a_", d)
    val stateDir = s"$scratch/state"
    graft.streaming.NearDupStream.writeCorpusState(
      base, "doc_id", "text", stateDir)
    graft.streaming.NearDupStream.appendToCorpusState(
      accepted, "doc_id", "text", stateDir)
    graft.operators.Dedup.nearDupsAgainstState(
      s.read.parquet(stateDir), delta, "doc_id", "text", threshold = 0.5)
  }

  // --- q173: novelty against the PERSISTED reference sketch ---------------------
  // The 100 TB form of q156: scoring a crawl batch cannot re-scan the
  // full reference corpus per batch, so the reference side persists ONCE
  // (hash-bucketed gram refcount lake + counting bloom sidecar) and then
  // mutates incrementally — a vintage is APPENDED (refcounts merge into
  // affected buckets only, first-occurrence grams set bloom bits) and an
  // erasure request is TAKEN DOWN (refcounts decrement; zero-count grams
  // leave the lake and clear their bloom positions, so the bloom stays
  // exactly the bloom of the surviving gram set — no false negatives,
  // the property the unverified-MISS fast path rides on). The oracle is
  // the exact all-pairs novelty join against the FINAL reference corpus
  // (initial + appended − erased): a refcount double-apply, a stale
  // bloom bit, or a bucket the takedown missed all change n_seen and
  // fail the hash. Exact-gram mode, so the sketch's answer is
  // byte-identical to q156's operator run against the same corpus.
  private def q173(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val ref = docs.filter(col("doc_id") % 5 =!= 0)
    val initial = ref.filter(col("doc_id") % 3 =!= 1)
    val appended = ref.filter(col("doc_id") % 3 === 1)
    val erased = initial.filter(col("doc_id") % 7 === 2)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dir = Tables.freshScratchDir("graft_refsketch_", d).toString + "/sketch"
    Decontaminate.writeReferenceSketch(s, dir, initial, "text", n = 3,
      exactGrams = true, nBuckets = 32)
    Decontaminate.appendToReferenceSketch(
      s, dir, appended, "text", opId = "vintage1"): Unit
    Decontaminate.deleteFromReferenceSketch(
      s, dir, erased, "text", opId = "erasure1"): Unit
    Decontaminate.noveltyScoresAgainstSketch(s, dir, batch, "doc_id", "text")
  }

  private val q173Sql =
    """WITH rg AS (
         SELECT DISTINCT unnest(list_transform(range(1, len(w) - 1),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
         FROM (SELECT string_split(text, ' ') AS w FROM documents
               WHERE doc_id % 5 != 0
                 AND NOT (doc_id % 3 != 1 AND doc_id % 7 = 2)) t),
       bg AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 1),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE doc_id % 5 = 0) t),
       j AS (
         SELECT b.doc_id, count(*) AS n_grams, count(r.g) AS n_seen
         FROM bg b LEFT JOIN rg r ON b.g = r.g
         GROUP BY b.doc_id)
       SELECT doc_id, n_grams, n_grams - n_seen AS n_novel,
         round((n_grams - n_seen)::DOUBLE / n_grams, 6) AS novelty_rate
       FROM j"""

  // --- q174: versioned-lake time travel ------------------------------------------
  // sinks/VersionedLake: the Iceberg/Delta snapshot discipline on bare
  // parquet + atomic renames. Appends and deletes each commit a new
  // manifest (an explicit file list — reads NEVER list the data dir, the
  // metadata cost that dominates object-store scans at 100 TB); a delete
  // rewrites only the files holding deleted ids while old files survive
  // on disk, which is exactly what keeps every prior version readable.
  // The query replays a 4-commit history (append, append, delete-if-
  // present, append) and emits EVERY version's full membership — a
  // carried-over file lost from a manifest, a delete leaking into a
  // prior version, or a rewrite dropping a survivor row all change some
  // version's row set and fail the hash.
  private def q174(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vlake_", d).toString + "/lake"
    VersionedLake.commitAppend(s, dir, docs.filter(col("doc_id") % 3 === 0)): Unit
    VersionedLake.commitAppend(s, dir, docs.filter(col("doc_id") % 3 === 1)): Unit
    VersionedLake.commitDelete(s, dir, "doc_id",
      docs.filter(col("doc_id") % 5 === 0).select("doc_id")): Unit
    VersionedLake.commitAppend(s, dir, docs.filter(col("doc_id") % 3 === 2)): Unit
    (1L to 4L).map { v =>
      VersionedLake.readAsOf(s, dir, v)
        .select(lit(v).as("version"), col("doc_id"), col("text"))
    }.reduce(_ unionAll _)
  }

  private val q174Sql =
    """SELECT CAST(1 AS BIGINT) AS version, doc_id, text FROM documents
       WHERE doc_id % 3 = 0
       UNION ALL
       SELECT 2, doc_id, text FROM documents WHERE doc_id % 3 IN (0, 1)
       UNION ALL
       SELECT 3, doc_id, text FROM documents
       WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 != 0
       UNION ALL
       SELECT 4, doc_id, text FROM documents
       WHERE (doc_id % 3 IN (0, 1) AND doc_id % 5 != 0) OR doc_id % 3 = 2"""

  // --- q175: exactly-once streaming ingest into the versioned lake --------------
  // VersionedLake.appendStream + commitAppendForBatch: each micro-batch
  // commits as ONE lake version with its batch id carried as a manifest
  // header — "version committed" and "batch applied" are one rename, so
  // a replayed batch (the foreachBatch restart semantics) is recognized
  // and writes NOTHING. The query streams 3 file-triggers into a lake,
  // force-replays the newest batch (with different content — the replay
  // must not even look at it), interleaves a maintenance delete, and
  // emits the final membership plus the protocol audits: version count,
  // replay no-op, and the append chain's monotonicity (each stream
  // version a superset of the previous). Batch BOUNDARIES are
  // nondeterministic (file assignment order), so per-version membership
  // stays out of the output — the invariants and the final set are what
  // the protocol guarantees.
  private def q175(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val streamed = docs.filter(col("doc_id") % 4 =!= 3)
    val scratch = Tables.freshScratchDir("graft_vstream_", d)
    val lakeDir = s"$scratch/lake"
    val srcDir = s"$scratch/src"
    streamed.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = s.readStream.schema(streamed.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    VersionedLake.appendStream(stream, lakeDir, s"$scratch/ckpt")
    val nStream = VersionedLake.currentVersion(s, lakeDir)
    // replay the newest batch with DIFFERENT content: exactly-once means
    // the lake does not even look at a replayed batch's rows
    val replayV = VersionedLake.commitAppendForBatch(s, lakeDir,
      streamed.limit(1), batchId = nStream - 1)
    val replayNoop = replayV == nStream &&
      VersionedLake.currentVersion(s, lakeDir) == nStream
    val chainMonotone = (2L to nStream).forall { v =>
      VersionedLake.readAsOf(s, lakeDir, v - 1).select("doc_id")
        .exceptAll(VersionedLake.readAsOf(s, lakeDir, v).select("doc_id"))
        .count() == 0L
    }
    VersionedLake.commitDelete(s, lakeDir, "doc_id",
      docs.filter(col("doc_id") % 10 === 1).select("doc_id")): Unit
    VersionedLake.read(s, lakeDir)
      .select(col("doc_id"),
        lit(nStream).as("n_stream_versions"),
        lit(replayNoop).as("replay_noop"),
        lit(chainMonotone).as("chain_monotone"))
  }

  private val q175Sql =
    """SELECT doc_id, CAST(3 AS BIGINT) AS n_stream_versions,
       true AS replay_noop, true AS chain_monotone
       FROM documents WHERE doc_id % 4 != 3 AND doc_id % 10 != 1"""

  // --- q176: hybrid retrieval — BM25 + vector ranks fused with RRF ---------------
  // Retrieval.rrfFuse over q121's BM25 ranking and an exact
  // quantized-dot vector ranking (Reciprocal Rank Fusion, Cormack et
  // al. 2009) — the lexical+semantic hybrid shape RAG-style retrieval
  // pipelines run. Both rankers are integer-exact (micro-rounded BM25
  // contributions, long dot products), and the fused score is a sum of
  // per-hit round(1e9/(60+rank)) longs — so the ENTIRE composition is
  // SQL-replayable: the oracle re-runs BM25 (q121's CTEs at depth 20),
  // the dot ranking, and the fusion arithmetic, and hash-compares every
  // (query, rank, doc, score) row. A rank slip in either leg, a missing
  // doc, or a fusion arithmetic drift all fail.
  private def q176(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val lex = graft.operators.Retrieval.bm25TopK(
      Tables.documents(s, d), "doc_id", "text",
      queries = Seq(
        1L -> Seq("hash", "join", "dup"),
        2L -> Seq("window", "stream", "agg"),
        3L -> Seq("vector", "scan", "filter", "sort")),
      k = 20)
    val vec = graft.operators.Retrieval.quantizedDotTopK(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id").isin(1L, 2L, 3L)), "vec_id", "embedding",
      k = 20)
    graft.operators.Retrieval.rrfFuse(Seq(lex, vec), k = 10)
  }

  private val q176Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w),
       tf AS (SELECT doc_id, dl, term, count(*) AS tf
              FROM tok GROUP BY 1, 2, 3),
       q(query_id, term) AS (VALUES
         (1, 'hash'), (1, 'join'), (1, 'dup'),
         (2, 'window'), (2, 'stream'), (2, 'agg'),
         (3, 'vector'), (3, 'scan'), (3, 'filter'), (3, 'sort')),
       stats AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM w),
       dfx AS (SELECT term, count(*) AS df FROM tf
               WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
       sc AS (SELECT q.query_id, tf.doc_id,
           CAST(sum(CAST(round(
             ln(1 + (n - df + 0.5) / (df + 0.5)) *
             (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6)
             AS BIGINT)) AS BIGINT) AS score_micro
         FROM tf JOIN q USING (term) JOIN dfx USING (term)
         CROSS JOIN stats
         GROUP BY 1, 2),
       lex AS (SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score_micro DESC, doc_id) AS rank
         FROM sc),
       qv AS (SELECT vec_id AS query_id, list_transform(
           embedding::DOUBLE[],
           x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
         FROM embeddings WHERE vec_id IN (1, 2, 3)),
       cv AS (SELECT vec_id AS doc_id, list_transform(
           embedding::DOUBLE[],
           x -> CAST(round(x * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       dots AS (SELECT q.query_id, c.doc_id,
           CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
             i -> q.qv[i] * c.v[i])) AS BIGINT) AS dot
         FROM qv q CROSS JOIN cv c),
       vec AS (SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY dot DESC, doc_id) AS rank
         FROM dots),
       uni AS (SELECT query_id, doc_id, rank FROM lex WHERE rank <= 20
               UNION ALL
               SELECT query_id, doc_id, rank FROM vec WHERE rank <= 20),
       fused AS (SELECT query_id, doc_id,
           CAST(sum(CAST(round(1e9 / (60 + rank)) AS BIGINT)) AS BIGINT)
             AS rrf_nano
         FROM uni GROUP BY 1, 2),
       fr AS (SELECT query_id, doc_id, rrf_nano,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rrf_nano DESC, doc_id) AS rank
         FROM fused)
       SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(rank AS BIGINT) AS rank, doc_id, rrf_nano
       FROM fr WHERE rank <= 10"""

  // --- q177: versioned-lake compaction ------------------------------------------
  // VersionedLake.compact: small commits and file-scoped deletes
  // fragment the file list, and an object-store read pays per file —
  // compaction re-lays the CURRENT content into few files as a NEW
  // version (q162's bracketing discipline: the reads around it must be
  // equal), leaving every prior version readable. The query fragments a
  // lake (3 multi-file appends + a delete), compacts to 2 files, and
  // emits the final membership plus the invariants: content equality
  // across the compaction (both exceptAll directions), file count
  // reduced to the target, and the pre-compaction version still
  // readable with its own file list.
  private def q177(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vcompact_", d).toString + "/lake"
    (0 to 2).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") % 3 === m).repartition(4)): Unit
    }
    VersionedLake.commitDelete(s, dir, "doc_id",
      docs.filter(col("doc_id") % 7 === 2).select("doc_id")): Unit
    val pre = VersionedLake.currentVersion(s, dir)
    val nFilesPre = VersionedLake.filesOf(s, dir, pre).size.toLong
    val post = VersionedLake.compact(s, dir, nFiles = 2)
    // both diff directions reference both sides — scan each version once
    val before = VersionedLake.readAsOf(s, dir, pre).select("doc_id")
      .localCheckpoint(true)
    val after = VersionedLake.readAsOf(s, dir, post).select("doc_id")
      .localCheckpoint(true)
    val contentDiff = before.exceptAll(after).count() +
      after.exceptAll(before).count()
    val nFilesPost = VersionedLake.filesOf(s, dir, post).size.toLong
    VersionedLake.read(s, dir)
      .select(col("doc_id"),
        lit(contentDiff == 0L).as("content_invariant"),
        lit(nFilesPost == 2L && nFilesPre > nFilesPost).as("files_reduced"))
  }

  private val q177Sql =
    """SELECT doc_id, true AS content_invariant, true AS files_reduced
       FROM documents WHERE doc_id % 7 != 2"""

  // --- q178: manifest-statistics range read over the versioned lake --------------
  // VersionedLake.commitAppend(statsCol)/rangeFiles/readAsOfRange: the
  // Iceberg file-skipping discipline — each commit records per-file
  // (min, max) of the lake's stats column INSIDE the manifest, so a
  // range read prunes the file list driver-side with no footer read and
  // no file open. Four quartile-range commits of 2 files each; the read
  // covers exactly quartiles 2-3, so precisely 4 of 8 files are
  // admitted (every file's stats are bounded by its quartile —
  // deterministic under any within-quartile row split). The oracle
  // replays the membership AND the admitted/total file counts; an
  // over-pruned file loses rows, an under-pruned count shifts the
  // literals, and a stats slip on any commit changes one or the other.
  private def q178(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val q = docs.count() / 4
    val dir = Tables.freshScratchDir("graft_vrange_", d).toString + "/lake"
    (0 until 4).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") >= m * q && col("doc_id") < (m + 1) * q)
          .repartition(2),
        statsCol = if (m == 0) Some("doc_id") else None): Unit
    }
    val v = VersionedLake.currentVersion(s, dir)
    val (kept, total) = VersionedLake.rangeFiles(s, dir, v, q, 3 * q - 1)
    VersionedLake.readAsOfRange(s, dir, v, q, 3 * q - 1)
      .select(col("doc_id"), col("text"),
        lit(kept.size.toLong).as("n_files_admitted"),
        lit(total).as("n_files_total"))
  }

  private val q178Sql =
    """SELECT d.doc_id, d.text,
       CAST(4 AS BIGINT) AS n_files_admitted,
       CAST(8 AS BIGINT) AS n_files_total
       FROM documents d, (SELECT count(*) // 4 AS q FROM documents) b
       WHERE d.doc_id >= b.q AND d.doc_id < 3 * b.q"""

  // --- q179: versioned-lake MERGE / upsert ----------------------------------------
  // VersionedLake.commitUpsert: the Delta MERGE shape (WHEN MATCHED
  // UPDATE SET * / WHEN NOT MATCHED INSERT *) as ONE commit — matched
  // ids are found by a column-pruned id + file-path scan, only files
  // HOLDING a matched id are rewritten (their survivors land with the
  // updates as the commit's new files), every untouched file carries
  // into the new manifest by name. The fixture is q178's quartile lake
  // (8 files, manifest stats on); the updates touch ONLY quartile 2
  // plus brand-new ids above the lake's range, so the rewrite must be
  // scoped to at most quartile 2's two files — the `files_scoped` audit
  // fails if the upsert rewrote the lake. `prior_intact` pins that the
  // pre-upsert version still reads exactly as committed, and
  // `n_rows_updated` replays the matched count in SQL.
  private def q179(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val q = docs.count() / 4
    val dir = Tables.freshScratchDir("graft_vupsert_", d).toString + "/lake"
    (0 until 4).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") >= m * q && col("doc_id") < (m + 1) * q)
          .repartition(2),
        statsCol = if (m == 0) Some("doc_id") else None): Unit
    }
    val pre = VersionedLake.currentVersion(s, dir)
    val updates = docs
      .filter(col("doc_id") >= q && col("doc_id") < 2 * q &&
        col("doc_id") % 3 === 0)
      .select(col("doc_id"), concat(lit("UPD:"), col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 4 * q).as("doc_id"), col("text")))
    val (v, nRw, nUpd) = VersionedLake.commitUpsert(s, dir, "doc_id", updates)
    val filesScoped = nRw >= 1L && nRw <= 2L
    // both diff directions reference both sides — materialize each once
    val base = docs.filter(col("doc_id") < 4 * q).localCheckpoint(true)
    val before = VersionedLake.readAsOf(s, dir, pre)
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val priorIntact = before.exceptAll(base).count() == 0L &&
      base.exceptAll(before).count() == 0L
    VersionedLake.readAsOf(s, dir, v)
      .select(col("doc_id"), col("text"),
        lit(nUpd).as("n_rows_updated"),
        lit(filesScoped).as("files_scoped"),
        lit(priorIntact).as("prior_intact"))
  }

  private val q179Sql =
    """WITH b AS (SELECT count(*) // 4 AS q FROM documents),
       base AS (SELECT doc_id, text FROM documents, b WHERE doc_id < 4 * b.q),
       upd AS (SELECT doc_id, 'UPD:' || text AS text FROM documents, b
               WHERE doc_id >= b.q AND doc_id < 2 * b.q AND doc_id % 3 = 0),
       ins AS (SELECT doc_id + 4 * b.q AS doc_id, text FROM documents, b
               WHERE doc_id % 10 = 7),
       fin AS (SELECT doc_id, text FROM base
               WHERE doc_id NOT IN (SELECT doc_id FROM upd)
               UNION ALL SELECT doc_id, text FROM upd
               UNION ALL SELECT doc_id, text FROM ins)
       SELECT doc_id, text,
         (SELECT count(*) FROM upd) AS n_rows_updated,
         true AS files_scoped, true AS prior_intact
       FROM fin"""

  // --- q180: versioned-lake change-data feed --------------------------------------
  // VersionedLake.changesBetween: the Delta CDF shape derived from the
  // MANIFEST DIFF alone — only files present in exactly one of the two
  // versions are read, so the cost is the churn between the versions,
  // never the lake. The fixture commits an append, an upsert (updates
  // + inserts in one MERGE), and a delete; the query emits the typed
  // row-level changes across both adjacent pairs: an upsert surfaces
  // as update_preimage/update_postimage pairs plus plain inserts, a
  // delete as plain deletes (whose preimage text must be the UPDATED
  // text for rows the upsert touched — replaying membership at every
  // version is what makes the oracle catch a feed built from the wrong
  // side's files). A dropped change, a mistyped change, or a survivor
  // row leaking into the feed all fail the hash.
  private def q180(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vchanges_", d).toString + "/lake"
    VersionedLake.commitAppend(s, dir,
      docs.filter(col("doc_id") % 2 === 0).repartition(3)): Unit
    val updates = docs.filter(col("doc_id") % 6 === 0)
      .select(col("doc_id"), concat(lit("UPD:"), col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 1))
    VersionedLake.commitUpsert(s, dir, "doc_id", updates): Unit
    VersionedLake.commitDelete(s, dir, "doc_id",
      docs.filter(col("doc_id") % 10 === 2).select("doc_id")): Unit
    Seq((1L, 2L), (2L, 3L)).map { case (f, t) =>
      VersionedLake.changesBetween(s, dir, f, t, "doc_id")
        .select(lit(f).as("from_v"), lit(t).as("to_v"),
          col("change_type"), col("doc_id"), col("text"))
    }.reduce(_ unionByName _)
  }

  private val q180Sql =
    """WITH m1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       u AS (SELECT doc_id, 'UPD:' || text AS text FROM documents
             WHERE doc_id % 6 = 0
             UNION ALL
             SELECT doc_id, text FROM documents WHERE doc_id % 10 = 1),
       m2 AS (SELECT doc_id, text FROM m1
              WHERE doc_id NOT IN (SELECT doc_id FROM u)
              UNION ALL SELECT doc_id, text FROM u),
       m3 AS (SELECT doc_id, text FROM m2 WHERE doc_id % 10 != 2),
       d12 AS (SELECT doc_id, text FROM m1
               EXCEPT ALL SELECT doc_id, text FROM m2),
       i12 AS (SELECT doc_id, text FROM m2
               EXCEPT ALL SELECT doc_id, text FROM m1),
       b12 AS (SELECT doc_id FROM d12 INTERSECT SELECT doc_id FROM i12),
       d23 AS (SELECT doc_id, text FROM m2
               EXCEPT ALL SELECT doc_id, text FROM m3),
       i23 AS (SELECT doc_id, text FROM m3
               EXCEPT ALL SELECT doc_id, text FROM m2),
       b23 AS (SELECT doc_id FROM d23 INTERSECT SELECT doc_id FROM i23)
       SELECT CAST(1 AS BIGINT) AS from_v, CAST(2 AS BIGINT) AS to_v,
         CASE WHEN doc_id IN (SELECT doc_id FROM b12)
              THEN 'update_preimage' ELSE 'delete' END AS change_type,
         doc_id, text FROM d12
       UNION ALL
       SELECT 1, 2,
         CASE WHEN doc_id IN (SELECT doc_id FROM b12)
              THEN 'update_postimage' ELSE 'insert' END,
         doc_id, text FROM i12
       UNION ALL
       SELECT 2, 3,
         CASE WHEN doc_id IN (SELECT doc_id FROM b23)
              THEN 'update_preimage' ELSE 'delete' END,
         doc_id, text FROM d23
       UNION ALL
       SELECT 2, 3,
         CASE WHEN doc_id IN (SELECT doc_id FROM b23)
              THEN 'update_postimage' ELSE 'insert' END,
         doc_id, text FROM i23"""

  // --- q181: clustered compaction — stats that actually prune ---------------------
  // VersionedLake.compact(sortCol): manifest statistics are only as
  // good as the LAYOUT — after interleaved ingest (each commit carrying
  // ids from the whole domain) every file's (min, max) spans the full
  // range and a range read admits ALL files, stats or not. Clustered
  // compaction range-partitions + sorts the current content, so file
  // stats become near-disjoint and the same read prunes. The fixture
  // ingests 4 interleaved residue-class commits (8 files, each spanning
  // the domain — `pre_admits_all` pins that the unclustered lake cannot
  // prune), clusters, and re-runs the read (`clustering_prunes` pins
  // strictly fewer admitted files; membership stays exact under the
  // residual filter regardless of the sampled range boundaries).
  private def q181(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val n = docs.count()
    val dir = Tables.freshScratchDir("graft_vcluster_", d).toString + "/lake"
    (0 until 4).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") % 4 === m).repartition(2),
        statsCol = if (m == 0) Some("doc_id") else None): Unit
    }
    val pre = VersionedLake.currentVersion(s, dir)
    val lo = n / 4
    val hi = 3 * (n / 4) - 1
    val (keptPre, totalPre) = VersionedLake.rangeFiles(s, dir, pre, lo, hi)
    val post = VersionedLake.compact(s, dir, nFiles = 8,
      sortCol = Some("doc_id"))
    val (keptPost, _) = VersionedLake.rangeFiles(s, dir, post, lo, hi)
    VersionedLake.readAsOfRange(s, dir, post, lo, hi)
      .select(col("doc_id"), col("text"),
        lit(keptPre.size.toLong == totalPre && totalPre == 8L)
          .as("pre_admits_all"),
        lit(keptPost.size < keptPre.size).as("clustering_prunes"))
  }

  private val q181Sql =
    """SELECT d.doc_id, d.text,
       true AS pre_admits_all, true AS clustering_prunes
       FROM documents d, (SELECT count(*) AS n FROM documents) b
       WHERE d.doc_id >= b.n // 4 AND d.doc_id <= 3 * (b.n // 4) - 1"""

  // --- q182: change-feed-driven sync of the near-dup corpus state ----------------
  // NearDupStream.applyChangesToCorpusState: the derived-state
  // maintenance loop — the document lake mutates through versioned
  // commits (a MERGE carrying updates + inserts, then a takedown), the
  // signature state consumes changesBetween's typed feed (departures
  // delete by id, arrivals append retrain-free), and a fresh delta is
  // matched against the synced state. The oracle is the exact all-pairs
  // Jaccard between the delta and the lake's FINAL membership — a
  // stale signature surviving an update, a departed doc still matching,
  // or an arrival the sync missed all change the pair set. Updated
  // texts are other documents' original texts, so every pair the match
  // can emit is a pair of original documents — the corpus whose LSH
  // full recall q25's all-pairs oracle already pins at every scale.
  private def q182(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus0 = docs.filter(col("doc_id") % 20 =!= 0)
    val delta = docs.filter(col("doc_id") % 20 === 0)
    val scratch = Tables.freshScratchDir("graft_statesync_", d)
    val lakeDir = s"$scratch/lake"
    val stateDir = s"$scratch/state"
    VersionedLake.commitAppend(s, lakeDir, corpus0): Unit
    graft.streaming.NearDupStream.writeCorpusState(
      VersionedLake.read(s, lakeDir), "doc_id", "text", stateDir)
    // MERGE: %6==3 docs take their (doc_id - 3) neighbor's text;
    // %10==9 docs re-enter under new ids — all arrival texts are
    // ORIGINAL texts (see the oracle note above)
    val updates = docs.as("a")
      .join(docs.as("b"), col("a.doc_id") - 3 === col("b.doc_id"))
      .filter(col("a.doc_id") % 6 === 3)
      .select(col("a.doc_id").as("doc_id"), col("b.text").as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 9)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    VersionedLake.commitUpsert(s, lakeDir, "doc_id", updates): Unit
    VersionedLake.commitDelete(s, lakeDir, "doc_id",
      docs.filter(col("doc_id") % 14 === 7).select("doc_id")): Unit
    val feed = VersionedLake.changesBetween(
      s, lakeDir, 1L, VersionedLake.currentVersion(s, lakeDir), "doc_id")
    val (nDep, nArr) = graft.streaming.NearDupStream
      .applyChangesToCorpusState(feed, "doc_id", "text", stateDir)
    graft.operators.Dedup.nearDupsAgainstState(
        s.read.parquet(stateDir), delta, "doc_id", "text", threshold = 0.5)
      .select(col("corpus_id"), col("delta_id"), col("jaccard"),
        lit(nDep).as("n_departed"), lit(nArr).as("n_arrived"))
  }

  private val q182Sql =
    """WITH m1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 != 0),
       u AS (SELECT a.doc_id, b.text FROM documents a
             JOIN documents b ON b.doc_id = a.doc_id - 3
             WHERE a.doc_id % 6 = 3
             UNION ALL
             SELECT doc_id + 100000, text FROM documents
             WHERE doc_id % 10 = 9),
       m2 AS (SELECT doc_id, text FROM m1
              WHERE doc_id NOT IN (SELECT doc_id FROM u)
              UNION ALL SELECT doc_id, text FROM u),
       m3 AS (SELECT doc_id, text FROM m2 WHERE doc_id NOT IN
              (SELECT doc_id FROM documents WHERE doc_id % 14 = 7)),
       dep AS (SELECT count(DISTINCT doc_id) AS n FROM
               (SELECT doc_id, text FROM m1
                EXCEPT ALL SELECT doc_id, text FROM m3)),
       arr AS (SELECT count(*) AS n FROM
               (SELECT doc_id, text FROM m3
                EXCEPT ALL SELECT doc_id, text FROM m1)),
       shc AS (SELECT doc_id,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM m3) t
         WHERE len(w) >= 3),
       shd AS (SELECT doc_id,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE doc_id % 20 = 0) t
         WHERE len(w) >= 3)
       SELECT corpus_id, delta_id, jaccard,
         (SELECT n FROM dep) AS n_departed,
         (SELECT n FROM arr) AS n_arrived
       FROM (
         SELECT c.doc_id AS corpus_id, d.doc_id AS delta_id,
           round(len(list_intersect(c.s, d.s))::DOUBLE /
             len(list_distinct(list_concat(c.s, d.s))), 6) AS jaccard
         FROM shc c CROSS JOIN shd d) p
       WHERE jaccard >= 0.5"""

  // --- q183: exactly-once streaming MERGE into the versioned lake ----------------
  // VersionedLake.commitUpsertForBatch: q175's one-version-per-batch
  // replay discipline applied to MERGE semantics — a CDC ingest commits
  // each micro-batch's id-keyed updates as ONE upsert version whose
  // manifest carries the batch id, so "version committed" and "batch
  // applied" are one rename and a replayed batch writes NOTHING. The
  // query drives three batches explicitly (batch 0 CREATES the lake —
  // a CDC ingest starts somewhere), interleaves a headerless
  // maintenance delete that must not blind the replay check,
  // force-replays the newest batch with different content, and emits
  // the final membership — which replays in SQL as the layered CASE of
  // the three batches minus the delete. A replay that re-applied, a
  // batch that rewrote the wrong rows, or a delete that leaked into the
  // merge path all change some row.
  private def q183(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vmerge_", d).toString + "/lake"
    VersionedLake.commitUpsertForBatch(s, dir, "doc_id",
      docs.filter(col("doc_id") % 2 === 0), batchId = 0L): Unit
    val b1 = docs.filter(col("doc_id") % 6 === 0)
      .select(col("doc_id"), concat(lit("U1:"), col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 1))
    VersionedLake.commitUpsertForBatch(s, dir, "doc_id", b1,
      batchId = 1L): Unit
    VersionedLake.commitDelete(s, dir, "doc_id",
      docs.filter(col("doc_id") % 20 === 8).select("doc_id")): Unit
    val b2 = docs.filter(col("doc_id") % 10 === 4)
      .select(col("doc_id"), concat(lit("U2:"), col("text")).as("text"))
    val v2 = VersionedLake.commitUpsertForBatch(s, dir, "doc_id", b2,
      batchId = 2L)
    // replay the newest batch with DIFFERENT content: exactly-once means
    // the lake does not even look at a replayed batch's rows
    val replayV = VersionedLake.commitUpsertForBatch(s, dir, "doc_id",
      docs.limit(1), batchId = 2L)
    val replayNoop = replayV == v2 &&
      VersionedLake.currentVersion(s, dir) == v2
    VersionedLake.read(s, dir)
      .select(col("doc_id"), col("text"),
        lit(VersionedLake.currentVersion(s, dir)).as("n_versions"),
        lit(replayNoop).as("replay_noop"))
  }

  private val q183Sql =
    """SELECT doc_id,
       CASE WHEN doc_id % 10 = 4 THEN 'U2:' || text
            WHEN doc_id % 6 = 0 THEN 'U1:' || text
            ELSE text END AS text,
       CAST(4 AS BIGINT) AS n_versions, true AS replay_noop
       FROM documents
       WHERE (doc_id % 2 = 0 AND doc_id % 20 != 8) OR doc_id % 10 = 1"""

  // --- q184: IVF lake synced from the change feed ---------------------------------
  // Similarity.applyChangesToIvfLake: the ANN twin of q182 — the
  // embedding lake mutates through versioned commits (a MERGE carrying
  // re-embedded vectors + held-out arrivals, then a takedown), the IVF
  // index consumes changesBetween's typed feed (departures leave
  // through the cell-scoped delete, arrivals assign against the frozen
  // centroids), and the synced index must search EXACTLY like the
  // frozen twin over the source lake's final membership. Updated
  // embeddings are other rows' original embeddings, keeping every
  // vector in-distribution. A stale vector surviving an update, a
  // departed id still probed, or an arrival the sync missed all break
  // the multiset equality or surface a deleted id.
  private def q184(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 10)
    val scratch = Tables.freshScratchDir("graft_ivfsync_", d)
    val lakeDir = s"$scratch/lake"
    val ivfDir = s"$scratch/ivf"
    val base = emb.filter(col("vec_id") % 7 =!= 6)
      .select(col("vec_id"), col("embedding"))
    VersionedLake.commitAppend(s, lakeDir, base): Unit
    Similarity.writeIvfLake(VersionedLake.read(s, lakeDir), ivfDir,
      "vec_id", "embedding", dim = AnnLake.Dim,
      nCells = AnnLake.NCells): Unit
    // MERGE: %9==5 vectors take their (vec_id - 1) neighbor's embedding
    // (re-embedding, in-distribution); the held-out %7==6 rows arrive
    val updates = emb.as("a")
      .join(emb.as("b"), col("a.vec_id") - 1 === col("b.vec_id"))
      .filter(col("a.vec_id") % 9 === 5 && col("a.vec_id") % 7 =!= 6)
      .select(col("a.vec_id").as("vec_id"),
        col("b.embedding").as("embedding"))
      .unionByName(emb.filter(col("vec_id") % 7 === 6)
        .select(col("vec_id"), col("embedding")))
    VersionedLake.commitUpsert(s, lakeDir, "vec_id", updates): Unit
    VersionedLake.commitDelete(s, lakeDir, "vec_id",
      emb.filter(col("vec_id") % 11 === 3).select("vec_id")): Unit
    val feed = VersionedLake.changesBetween(
      s, lakeDir, 1L, VersionedLake.currentVersion(s, lakeDir), "vec_id")
    val (nDep, nArr) = Similarity.applyChangesToIvfLake(
      s, ivfDir, feed, "vec_id", "embedding", dim = AnnLake.Dim)
    val finalLake = VersionedLake.read(s, lakeDir)
    // `post` feeds the twin diff, the deleted-hits probe and the final
    // aggregate — one materialized search run (≤ |Q|·k rows), not three
    val post = Similarity.ivfTopKOverLake(s, ivfDir, qs, "vec_id",
      "embedding", dim = AnnLake.Dim, k = AnnLake.K,
      nProbe = AnnLake.NProbe)
      .localCheckpoint(true)
    val twin = Similarity.ivfTopKFrozen(finalLake, qs, "vec_id",
      "embedding", dim = AnnLake.Dim, k = AnnLake.K, lakeDir = ivfDir,
      nProbe = AnnLake.NProbe)
    val ivfDiff = post.unionAll(twin)
      .groupBy("q_id", "id", "rank").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count()
    val deletedHits = post.join(
        emb.filter(col("vec_id") % 11 === 3)
          .select(col("vec_id").as("id")),
        Seq("id"), "left_semi")
      .count()
    post.agg(
        count_distinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_results"))
      .select(col("n_queries"), col("n_results"),
        lit(nDep).as("n_departed"),
        lit(nArr).as("n_arrived"),
        lit(ivfDiff == 0L).as("ivf_equals_twin"),
        lit(deletedHits == 0L).as("no_deleted_in_results"))
  }

  private val q184Sql =
    """WITH m1 AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % 7 != 6),
       u AS (SELECT a.vec_id, b.embedding FROM embeddings a
             JOIN embeddings b ON b.vec_id = a.vec_id - 1
             WHERE a.vec_id % 9 = 5 AND a.vec_id % 7 != 6
             UNION ALL
             SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 6),
       m2 AS (SELECT vec_id, embedding FROM m1
              WHERE vec_id NOT IN (SELECT vec_id FROM u)
              UNION ALL SELECT vec_id, embedding FROM u),
       m3 AS (SELECT vec_id, embedding FROM m2 WHERE vec_id % 11 != 3),
       dep AS (SELECT count(DISTINCT vec_id) AS n FROM
               (SELECT vec_id, embedding FROM m1
                EXCEPT ALL SELECT vec_id, embedding FROM m3)),
       arr AS (SELECT count(*) AS n FROM
               (SELECT vec_id, embedding FROM m3
                EXCEPT ALL SELECT vec_id, embedding FROM m1))
       SELECT CAST(count(*) AS BIGINT) AS n_queries,
         CAST(5 * count(*) AS BIGINT) AS n_results,
         (SELECT CAST(n AS BIGINT) FROM dep) AS n_departed,
         (SELECT CAST(n AS BIGINT) FROM arr) AS n_arrived,
         true AS ivf_equals_twin,
         true AS no_deleted_in_results
       FROM embeddings WHERE vec_id < 10"""

  // --- q185: versioned-lake RESTORE (rollback as a new commit) -------------------
  // VersionedLake.restore: the bad-batch recovery path — a fat-finger
  // mass delete is rolled back by committing a NEW manifest that lists
  // exactly the target version's files. No data is read, copied, or
  // rewritten (the restored files still exist: commits never delete,
  // only vacuum does), history stays linear and inspectable, and the
  // restore surfaces to CDC consumers as the exact INVERSE of what it
  // undoes — `cdc_inverse` pins changesBetween(3,4)'s inserts as the
  // multiset equal of changesBetween(2,3)'s deletes. The lake then
  // continues committing normally (v5 appends on top of the restored
  // state), so the final membership replays as plain SQL.
  private def q185(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vrestore_", d).toString + "/lake"
    VersionedLake.commitAppend(s, dir, docs.filter(col("doc_id") % 3 === 0)): Unit
    VersionedLake.commitAppend(s, dir, docs.filter(col("doc_id") % 3 === 1)): Unit
    // the bad commit: a mass delete that should never have shipped
    VersionedLake.commitDelete(s, dir, "doc_id",
      docs.filter(col("doc_id") % 4 =!= 3).select("doc_id")): Unit
    val restored = VersionedLake.restore(s, dir, 2L)
    // each side of the two-direction multiset equality is referenced
    // twice — materialize the churn-sized change feeds once
    val del23 = VersionedLake.changesBetween(s, dir, 2L, 3L, "doc_id")
      .filter(col("change_type") === "delete")
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val ins34 = VersionedLake.changesBetween(s, dir, 3L, restored, "doc_id")
      .filter(col("change_type") === "insert")
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val cdcInverse = del23.exceptAll(ins34).count() == 0L &&
      ins34.exceptAll(del23).count() == 0L
    VersionedLake.commitAppend(s, dir, docs.filter(col("doc_id") % 3 === 2)): Unit
    VersionedLake.read(s, dir)
      .select(col("doc_id"), col("text"),
        lit(VersionedLake.currentVersion(s, dir)).as("n_versions"),
        lit(cdcInverse).as("cdc_inverse"))
  }

  private val q185Sql =
    """SELECT doc_id, text, CAST(5 AS BIGINT) AS n_versions,
       true AS cdc_inverse FROM documents"""

  // --- q186: BM25 over the persisted inverted-index lake -------------------------
  // operators/IndexLake: the 100 TB form of q121 — the corpus scans
  // ONCE into a term-bucketed postings lake (one VersionedLake whose
  // rows are postings plus a bucket=-1 doc-length region, manifest
  // statistics on the bucket column), then every query batch reads
  // only the buckets its terms hash to (q178's driver-side file skip)
  // plus the doc-length region for the global (N, avgdl) scalars. A
  // vintage APPEND commits postings + doc-lengths behind one rename; a
  // TAKEDOWN is one commitDelete on doc_id removing a document's
  // postings and its doc-length row together — no crash window where
  // the scalars disagree with the postings. The oracle replays q121's
  // full BM25 arithmetic over the FINAL corpus (base + vintage −
  // takedown): a stale posting, a missed doc-length, a df drift, or a
  // wrong N/avgdl after the mutations all move some score_micro.
  private def q186(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dir = Tables.freshScratchDir("graft_indexlake_", d).toString + "/index"
    graft.operators.IndexLake.writeIndexLake(
      docs.filter(col("doc_id") % 3 =!= 1), "doc_id", "text", dir,
      nBuckets = 16): Unit
    graft.operators.IndexLake.appendToIndexLake(
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", dir): Unit
    graft.operators.IndexLake.deleteFromIndexLake(
      s, dir, docs.filter(col("doc_id") % 5 === 2).select("doc_id")): Unit
    graft.operators.IndexLake.bm25TopKOverIndex(s, dir,
      queries = Seq(
        1L -> Seq("hash", "join", "dup"),
        2L -> Seq("window", "stream", "agg"),
        3L -> Seq("vector", "scan", "filter", "sort")),
      k = 10)
  }

  private val q186Sql =
    """WITH fin AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 2),
       w AS (SELECT doc_id, string_split(text, ' ') AS w FROM fin),
       tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w),
       tf AS (SELECT doc_id, dl, term, count(*) AS tf
              FROM tok GROUP BY 1, 2, 3),
       q(query_id, term) AS (VALUES
         (1, 'hash'), (1, 'join'), (1, 'dup'),
         (2, 'window'), (2, 'stream'), (2, 'agg'),
         (3, 'vector'), (3, 'scan'), (3, 'filter'), (3, 'sort')),
       stats AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM w),
       dfx AS (SELECT term, count(*) AS df FROM tf
               WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
       sc AS (SELECT q.query_id, tf.doc_id,
           CAST(sum(CAST(round(
             ln(1 + (n - df + 0.5) / (df + 0.5)) *
             (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6)
             AS BIGINT)) AS BIGINT) AS score_micro
         FROM tf JOIN q USING (term) JOIN dfx USING (term)
         CROSS JOIN stats
         GROUP BY 1, 2),
       r AS (SELECT query_id, doc_id, score_micro,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score_micro DESC, doc_id) AS rank
         FROM sc)
       SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(rank AS BIGINT) AS rank, doc_id, score_micro
       FROM r WHERE rank <= 10"""

  // --- q187: the persisted hybrid retrieval stack under one takedown --------------
  // q176's RRF fusion re-run with BOTH legs served from persisted,
  // MUTATED state: the lexical leg from the inverted-index lake (q186's
  // build + vintage append), the vector leg from an embeddings
  // versioned lake (same vintage discipline) — and ONE erasure request
  // (ids %5==2) propagated to BOTH stores before the search, the way a
  // real removal request must hit every serving index at once. Every
  // stage stays integer-exact, so the oracle replays BM25 over the
  // final document membership, the quantized-dot ranking over the final
  // embedding membership, AND the fusion arithmetic under one hash — a
  // stale posting OR a surviving deleted vector in either leg moves a
  // fused rank.
  private def q187(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val scratch = Tables.freshScratchDir("graft_hybridstack_", d)
    val ixDir = s"$scratch/index"
    val embDir = s"$scratch/emb"
    val erased = docs.filter(col("doc_id") % 5 === 2).select("doc_id")
    graft.operators.IndexLake.writeIndexLake(
      docs.filter(col("doc_id") % 3 =!= 1), "doc_id", "text", ixDir,
      nBuckets = 16): Unit
    graft.operators.IndexLake.appendToIndexLake(
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", ixDir): Unit
    graft.operators.IndexLake.deleteFromIndexLake(s, ixDir, erased): Unit
    VersionedLake.commitAppend(s, embDir,
      emb.filter(col("vec_id") % 3 =!= 1)
        .select(col("vec_id"), col("embedding"))): Unit
    VersionedLake.commitAppend(s, embDir,
      emb.filter(col("vec_id") % 3 === 1)
        .select(col("vec_id"), col("embedding"))): Unit
    VersionedLake.commitDelete(s, embDir, "vec_id",
      erased.select(col("doc_id").as("vec_id"))): Unit
    val lex = graft.operators.IndexLake.bm25TopKOverIndex(s, ixDir,
      queries = Seq(
        1L -> Seq("hash", "join", "dup"),
        2L -> Seq("window", "stream", "agg"),
        3L -> Seq("vector", "scan", "filter", "sort")),
      k = 20)
    val vec = graft.operators.Retrieval.quantizedDotTopK(
      VersionedLake.read(s, embDir), "vec_id", "embedding",
      emb.filter(col("vec_id").isin(1L, 2L, 3L)), "vec_id", "embedding",
      k = 20)
    graft.operators.Retrieval.rrfFuse(Seq(lex, vec), k = 10)
  }

  private val q187Sql =
    """WITH fin AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 2),
       w AS (SELECT doc_id, string_split(text, ' ') AS w FROM fin),
       tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w),
       tf AS (SELECT doc_id, dl, term, count(*) AS tf
              FROM tok GROUP BY 1, 2, 3),
       q(query_id, term) AS (VALUES
         (1, 'hash'), (1, 'join'), (1, 'dup'),
         (2, 'window'), (2, 'stream'), (2, 'agg'),
         (3, 'vector'), (3, 'scan'), (3, 'filter'), (3, 'sort')),
       stats AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM w),
       dfx AS (SELECT term, count(*) AS df FROM tf
               WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
       sc AS (SELECT q.query_id, tf.doc_id,
           CAST(sum(CAST(round(
             ln(1 + (n - df + 0.5) / (df + 0.5)) *
             (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6)
             AS BIGINT)) AS BIGINT) AS score_micro
         FROM tf JOIN q USING (term) JOIN dfx USING (term)
         CROSS JOIN stats
         GROUP BY 1, 2),
       lex AS (SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score_micro DESC, doc_id) AS rank
         FROM sc),
       qv AS (SELECT vec_id AS query_id, list_transform(
           embedding::DOUBLE[],
           x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
         FROM embeddings WHERE vec_id IN (1, 2, 3)),
       cv AS (SELECT vec_id AS doc_id, list_transform(
           embedding::DOUBLE[],
           x -> CAST(round(x * 1000000) AS BIGINT)) AS v
         FROM embeddings WHERE vec_id % 5 != 2),
       dots AS (SELECT q.query_id, c.doc_id,
           CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
             i -> q.qv[i] * c.v[i])) AS BIGINT) AS dot
         FROM qv q CROSS JOIN cv c),
       vec AS (SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY dot DESC, doc_id) AS rank
         FROM dots),
       uni AS (SELECT query_id, doc_id, rank FROM lex WHERE rank <= 20
               UNION ALL
               SELECT query_id, doc_id, rank FROM vec WHERE rank <= 20),
       fused AS (SELECT query_id, doc_id,
           CAST(sum(CAST(round(1e9 / (60 + rank)) AS BIGINT)) AS BIGINT)
             AS rrf_nano
         FROM uni GROUP BY 1, 2),
       fr AS (SELECT query_id, doc_id, rrf_nano,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rrf_nano DESC, doc_id) AS rank
         FROM fused)
       SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(rank AS BIGINT) AS rank, doc_id, rrf_nano
       FROM fr WHERE rank <= 10"""

  // --- q188: ES export stream → versioned lake, end to end ------------------------
  // The reference's ingestion surface wired into the governed store:
  // the es-export connector's MICRO_BATCH path (file-index offsets =
  // the durable search_after cursor, filters pushed into the token
  // reader) drains through VersionedLake.appendStream's exactly-once
  // commits — one lake version per page batch — then a restart on the
  // SAME checkpoint proves the no-op (no new version, membership
  // unchanged), and a takedown lands on the ingested lake like any
  // other commit. Membership replays as plain SQL over documents
  // because the export fixture is the documents table paged; the
  // pushed filter, a dropped page, a double-committed batch, or a
  // takedown miss all change rows.
  private def q188(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val (dirStr, docSchema) = esPageExport(s, d)
    val scratch = Tables.freshScratchDir("graft_esvlake_", d)
    val lakeDir = s"$scratch/lake"
    val ckpt = s"$scratch/ckpt"
    def mkStream() = s.readStream.format("es-export")
      .schema(docSchema).load(dirStr)
      .filter(col("lang").isin("en", "de") && col("n_chars") >= 50L)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
    VersionedLake.appendStream(mkStream(), lakeDir, ckpt)
    val n1 = VersionedLake.currentVersion(s, lakeDir)
    VersionedLake.appendStream(mkStream(), lakeDir, ckpt) // restart
    val restartNoop = VersionedLake.currentVersion(s, lakeDir) == n1
    VersionedLake.commitDelete(s, lakeDir, "doc_id",
      Tables.documents(s, d).filter(col("doc_id") % 9 === 4)
        .select("doc_id")): Unit
    VersionedLake.read(s, lakeDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        lit(restartNoop).as("restart_noop"),
        lit(n1 >= 1L).as("streamed_versions"))
  }

  private val q188Sql =
    """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
       true AS restart_noop, true AS streamed_versions
       FROM documents
       WHERE lang IN ('en', 'de') AND n_chars >= 50 AND doc_id % 9 != 4"""

  // --- q189: range / TTL delete with manifest-only whole-file drops ---------------
  // VersionedLake.commitDeleteRange: the retention sweep (`DELETE
  // WHERE key BETWEEN ...`) with the Iceberg metadata-delete
  // optimization — manifest statistics classify every file
  // driver-side: files FULLY inside the range leave the new manifest
  // WITHOUT being read or rewritten, only boundary-straddling files
  // rewrite their survivors, everything else carries by name. The
  // quartile fixture makes the classification deterministic: the
  // range covers quartile 2 whole (its 2 files drop manifest-only)
  // and half of quartile 3 (its 2 files rewrite); quartiles 1/4 carry.
  // The oracle replays membership, BOTH file counts, and the removed-
  // row count — an over-eager whole-file drop loses rows, a timid one
  // shifts the literals.
  private def q189(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val q = docs.count() / 4
    val dir = Tables.freshScratchDir("graft_vttl_", d).toString + "/lake"
    (0 until 4).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") >= m * q && col("doc_id") < (m + 1) * q)
          .repartition(2),
        statsCol = if (m == 0) Some("doc_id") else None): Unit
    }
    val (v, nDropped, nRewritten, nRemoved) =
      VersionedLake.commitDeleteRange(s, dir, q, 2 * q + q / 2 - 1)
    VersionedLake.readAsOf(s, dir, v)
      .select(col("doc_id"), col("text"),
        lit(nDropped).as("files_dropped"),
        lit(nRewritten).as("files_rewritten"),
        lit(nRemoved).as("n_rows_removed"))
  }

  private val q189Sql =
    """WITH b AS (SELECT count(*) // 4 AS q FROM documents)
       SELECT d.doc_id, d.text,
         CAST(2 AS BIGINT) AS files_dropped,
         CAST(2 AS BIGINT) AS files_rewritten,
         (SELECT count(*) FROM documents, b
          WHERE doc_id >= b.q AND doc_id < 2 * b.q + b.q // 2)
           AS n_rows_removed
       FROM documents d, b
       WHERE d.doc_id < 4 * b.q
         AND NOT (d.doc_id >= b.q AND d.doc_id < 2 * b.q + b.q // 2)"""

  // --- q190: cursor-synced near-dup state (exactly-once owned by the op) ----------
  // NearDupStream.writeCorpusStateFromLake / syncCorpusStateFromLake:
  // q182's derived-state sync with the exactly-once contract OWNED BY
  // THE OPERATOR — the state carries a version cursor naming the lake
  // version it reflects, sync derives exactly the missing span's feed,
  // and the rewritten state promotes WITH its advanced cursor in one
  // rename ("state updated" and "span applied" are the same event).
  // The query syncs, then syncs AGAIN (must be a cursor-only no-op —
  // a double-apply would duplicate arrival signatures and emit
  // duplicate pairs, failing the exact all-pairs oracle), then matches
  // the delta. Same mutations as q182, so a sync that diverged from
  // the raw apply would also diverge from the oracle.
  private def q190(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val delta = docs.filter(col("doc_id") % 20 === 0)
    val scratch = Tables.freshScratchDir("graft_cursorsync_", d)
    val lakeDir = s"$scratch/lake"
    val stateDir = s"$scratch/state"
    VersionedLake.commitAppend(s, lakeDir,
      docs.filter(col("doc_id") % 20 =!= 0)): Unit
    graft.streaming.NearDupStream.writeCorpusStateFromLake(
      s, lakeDir, stateDir, "doc_id", "text"): Unit
    val updates = docs.as("a")
      .join(docs.as("b"), col("a.doc_id") - 3 === col("b.doc_id"))
      .filter(col("a.doc_id") % 6 === 3)
      .select(col("a.doc_id").as("doc_id"), col("b.text").as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 9)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    VersionedLake.commitUpsert(s, lakeDir, "doc_id", updates): Unit
    VersionedLake.commitDelete(s, lakeDir, "doc_id",
      docs.filter(col("doc_id") % 14 === 7).select("doc_id")): Unit
    val (from1, to1, nChanges) = graft.streaming.NearDupStream
      .syncCorpusStateFromLake(s, lakeDir, stateDir, "doc_id", "text")
    // the second sync must be a cursor-only no-op
    val (from2, to2, n2) = graft.streaming.NearDupStream
      .syncCorpusStateFromLake(s, lakeDir, stateDir, "doc_id", "text")
    val noop = from2 == to1 && to2 == to1 && n2 == 0L
    graft.operators.Dedup.nearDupsAgainstState(
        s.read.parquet(stateDir), delta, "doc_id", "text", threshold = 0.5)
      .select(col("corpus_id"), col("delta_id"), col("jaccard"),
        lit(from1).as("synced_from"), lit(to1).as("synced_to"),
        lit(nChanges > 0L && noop).as("sync_protocol"))
  }

  private val q190Sql =
    """WITH m1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 != 0),
       u AS (SELECT a.doc_id, b.text FROM documents a
             JOIN documents b ON b.doc_id = a.doc_id - 3
             WHERE a.doc_id % 6 = 3
             UNION ALL
             SELECT doc_id + 100000, text FROM documents
             WHERE doc_id % 10 = 9),
       m2 AS (SELECT doc_id, text FROM m1
              WHERE doc_id NOT IN (SELECT doc_id FROM u)
              UNION ALL SELECT doc_id, text FROM u),
       m3 AS (SELECT doc_id, text FROM m2 WHERE doc_id NOT IN
              (SELECT doc_id FROM documents WHERE doc_id % 14 = 7)),
       shc AS (SELECT doc_id,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM m3) t
         WHERE len(w) >= 3),
       shd AS (SELECT doc_id,
           list_distinct(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE doc_id % 20 = 0) t
         WHERE len(w) >= 3)
       SELECT corpus_id, delta_id, jaccard,
         CAST(1 AS BIGINT) AS synced_from,
         CAST(3 AS BIGINT) AS synced_to,
         true AS sync_protocol
       FROM (
         SELECT c.doc_id AS corpus_id, d.doc_id AS delta_id,
           round(len(list_intersect(c.s, d.s))::DOUBLE /
             len(list_distinct(list_concat(c.s, d.s))), 6) AS jaccard
         FROM shc c CROSS JOIN shd d) p
       WHERE jaccard >= 0.5"""

  // --- q191: optimistic concurrency — racing appends BOTH land --------------------
  // VersionedLake.commitAppend's rebase-retry loop: appends commute, so
  // a writer that loses the publish rename re-reads the now-current
  // manifest, stacks its (already written, token-dir-unique) file
  // entries on top, and lands as the next version — the
  // ingest+compaction-daemon topology with no external coordination.
  // The race is DETERMINISTIC here: writer B commits inside writer A's
  // publish window (the beforePublish seam), so A must land as v3 with
  // v2 = base ∪ B's slice and v3 = everything. A lost append (A's rows
  // missing), a forked history (version counts off), or a winner's
  // membership leak all fail the audits or the final hash.
  private def q191(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vrace_", d).toString + "/lake"
    VersionedLake.commitAppend(s, dir,
      docs.filter(col("doc_id") % 3 === 0)): Unit
    var vB = 0L
    var raced = false
    val vA = VersionedLake.commitAppend(s, dir,
      docs.filter(col("doc_id") % 3 === 1),
      beforePublish = () => if (!raced) {
        raced = true
        vB = VersionedLake.commitAppend(s, dir,
          docs.filter(col("doc_id") % 3 === 2))
      })
    // both diff directions reference both sides — materialize each once
    val v2 = VersionedLake.readAsOf(s, dir, 2L).select("doc_id")
      .localCheckpoint(true)
    val winnerMembers = docs.filter(col("doc_id") % 3 =!= 1).select("doc_id")
      .localCheckpoint(true)
    val v2ok = v2.exceptAll(winnerMembers).count() == 0L &&
      winnerMembers.exceptAll(v2).count() == 0L
    VersionedLake.read(s, dir)
      .select(col("doc_id"), col("text"),
        lit(vB == 2L && vA == 3L).as("both_landed"),
        lit(v2ok).as("winner_version_exact"),
        lit(VersionedLake.currentVersion(s, dir) == 3L).as("linear_history"))
  }

  private val q191Sql =
    """SELECT doc_id, text, true AS both_landed,
       true AS winner_version_exact, true AS linear_history
       FROM documents"""

  // --- q192: index-lake compaction — many vintages back to few files --------------
  // IndexLake.compactIndexLake (VersionedLake.compact clustered on the
  // bucket column): every vintage append adds one file set per bucket,
  // so after 8 vintages a one-term query opens ~9 files; the
  // bucket-clustered rewrite re-establishes near-disjoint per-file
  // (min, max) and the SAME query admits <= 2 files — while search
  // results stay bit-identical (the oracle replays the full BM25
  // arithmetic over the final corpus, and `search_invariant` pins
  // equality across the pass; `compaction_prunes` pins the admitted-
  // file collapse with both counts measured driver-side from the
  // manifest alone).
  private def q192(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d)
    val dir = Tables.freshScratchDir("graft_ixcompact_", d).toString +
      "/index"
    graft.operators.IndexLake.writeIndexLake(
      docs.filter(col("doc_id") % 9 === 0), "doc_id", "text", dir,
      nBuckets = 16): Unit
    (1 to 8).foreach { m =>
      graft.operators.IndexLake.appendToIndexLake(
        docs.filter(col("doc_id") % 9 === m), "doc_id", "text", dir): Unit
    }
    graft.operators.IndexLake.deleteFromIndexLake(
      s, dir, docs.filter(col("doc_id") % 5 === 2).select("doc_id")): Unit
    val qset = Seq(
      1L -> Seq("hash", "join", "dup"),
      2L -> Seq("window", "stream", "agg"),
      3L -> Seq("vector", "scan", "filter", "sort"))
    val before = graft.operators.IndexLake
      .bm25TopKOverIndex(s, dir, qset, k = 10).localCheckpoint(true)
    val pre = VersionedLake.currentVersion(s, dir)
    val bkt = s.range(1).select(
      pmod(hash(lit("hash")), lit(16)).cast("long")).collect()(0).getLong(0)
    val (keptPre, _) = VersionedLake.rangeFiles(s, dir, pre, bkt, bkt)
    val post = graft.operators.IndexLake.compactIndexLake(s, dir)
    val (keptPost, _) = VersionedLake.rangeFiles(s, dir, post, bkt, bkt)
    // `after` feeds both diff directions AND the returned frame — run
    // the post-compaction search once (≤ 30 rows), like `before` above
    val after = graft.operators.IndexLake
      .bm25TopKOverIndex(s, dir, qset, k = 10).localCheckpoint(true)
    val invariant = before.exceptAll(after).count() == 0L &&
      after.exceptAll(before).count() == 0L
    after.select(col("query_id"), col("rank"), col("doc_id"),
      col("score_micro"),
      lit(invariant).as("search_invariant"),
      lit(keptPost.size <= 2 && keptPost.size < keptPre.size)
        .as("compaction_prunes"))
  }

  private val q192Sql =
    """WITH fin AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 2),
       w AS (SELECT doc_id, string_split(text, ' ') AS w FROM fin),
       tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM w),
       tf AS (SELECT doc_id, dl, term, count(*) AS tf
              FROM tok GROUP BY 1, 2, 3),
       q(query_id, term) AS (VALUES
         (1, 'hash'), (1, 'join'), (1, 'dup'),
         (2, 'window'), (2, 'stream'), (2, 'agg'),
         (3, 'vector'), (3, 'scan'), (3, 'filter'), (3, 'sort')),
       stats AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM w),
       dfx AS (SELECT term, count(*) AS df FROM tf
               WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
       sc AS (SELECT q.query_id, tf.doc_id,
           CAST(sum(CAST(round(
             ln(1 + (n - df + 0.5) / (df + 0.5)) *
             (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6)
             AS BIGINT)) AS BIGINT) AS score_micro
         FROM tf JOIN q USING (term) JOIN dfx USING (term)
         CROSS JOIN stats
         GROUP BY 1, 2),
       r AS (SELECT query_id, doc_id, score_micro,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score_micro DESC, doc_id) AS rank
         FROM sc)
       SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(rank AS BIGINT) AS rank, doc_id, score_micro,
         true AS search_invariant, true AS compaction_prunes
       FROM r WHERE rank <= 10"""

  // --- q194: schema evolution on the lake WRITE path ------------------------------
  // commitAppend with a superset schema + commitUpsert carrying the
  // evolved columns + changesBetween across the boundary: vintage 2
  // ADDS a `lang` column, vintage 3 is a MERGE in the evolved schema
  // that touches vintage-1 rows (whose files predate the column) and
  // inserts fresh ids. Old files read the new column as NULL — in the
  // AS-OF read AND in the change feed's preimages
  // (`preimage_lang_null` pins the latter). The oracle replays the
  // layered membership with NULL padding; a type coercion, a dropped
  // evolved column, or a preimage read through the wrong schema all
  // move rows.
  private def q193(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d)
    val dir = Tables.freshScratchDir("graft_vevolve_", d).toString + "/lake"
    VersionedLake.commitAppend(s, dir,
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))): Unit
    VersionedLake.commitAppend(s, dir,
      docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("text"), col("lang"))): Unit
    val updates = docs.filter(col("doc_id") % 12 === 0)
      .select(col("doc_id"), concat(lit("UPD:"), col("text")).as("text"),
        col("lang"))
      .unionByName(docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("lang")))
    val (v3, _, _) = VersionedLake.commitUpsert(s, dir, "doc_id", updates)
    val feed = VersionedLake.changesBetween(s, dir, 1L, v3, "doc_id")
    val preimageLangNull = feed
      .filter(col("change_type") === "update_preimage" &&
        col("lang").isNotNull)
      .count() == 0L
    VersionedLake.readAsOf(s, dir, v3)
      .select(col("doc_id"), col("text"), col("lang"),
        lit(preimageLangNull).as("preimage_lang_null"))
  }

  private val q193Sql =
    """SELECT doc_id, text, lang, true AS preimage_lang_null FROM (
         SELECT doc_id, text, NULL AS lang FROM documents
         WHERE doc_id % 3 = 0 AND doc_id % 12 != 0
         UNION ALL
         SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 1
         UNION ALL
         SELECT doc_id, 'UPD:' || text AS text, lang FROM documents
         WHERE doc_id % 12 = 0
         UNION ALL
         SELECT doc_id + 100000, text, lang FROM documents
         WHERE doc_id % 10 = 7)"""

  // --- q195: multi-column manifest statistics --------------------------------------
  // commitAppend(statsCol = "doc_id,region"): per-file (min, max, null
  // count) triples for BOTH columns ride every manifest entry, so range
  // reads and range deletes prune on more than one dimension. The
  // quartile fixture gives each file a constant region ((doc_id DIV q)
  // MOD 2), so admission is deterministic: a region read admits exactly
  // the 4 files of the two matching quartiles (the doc_id axis could
  // not prune this read at all), and the region-range DELETE drops all
  // 4 whole — manifest-only, zero rewrites. The oracle replays
  // membership, both admitted/total counts, and the drop accounting.
  private def q194(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val q = docs.count() / 4
    val dir = Tables.freshScratchDir("graft_vmcol_", d).toString + "/lake"
    (0 until 4).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") >= m * q && col("doc_id") < (m + 1) * q)
          .withColumn("region", lit((m % 2).toLong))
          .repartition(2),
        statsCol = if (m == 0) Some("doc_id,region") else None): Unit
    }
    val v = VersionedLake.currentVersion(s, dir)
    val (keptR, totalR) = VersionedLake.rangeFiles(s, dir, v, "region",
      1L, 1L)
    val (dv, nDropped, nRewritten, nRemoved) =
      VersionedLake.commitDeleteRange(s, dir, "region", 1L, 1L)
    VersionedLake.readAsOf(s, dir, dv)
      .select(col("doc_id"), col("text"), col("region"),
        lit(keptR.size.toLong).as("r_files_admitted"),
        lit(totalR).as("r_files_total"),
        lit(nDropped).as("files_dropped"),
        lit(nRewritten).as("files_rewritten"),
        lit(nRemoved).as("n_rows_removed"))
  }

  private val q194Sql =
    """WITH b AS (SELECT count(*) // 4 AS q FROM documents)
       SELECT d.doc_id, d.text,
         CAST((d.doc_id // b.q) % 2 AS BIGINT) AS region,
         CAST(4 AS BIGINT) AS r_files_admitted,
         CAST(8 AS BIGINT) AS r_files_total,
         CAST(4 AS BIGINT) AS files_dropped,
         CAST(0 AS BIGINT) AS files_rewritten,
         CAST(2 * b.q AS BIGINT) AS n_rows_removed
       FROM documents d, b
       WHERE d.doc_id < 4 * b.q AND (d.doc_id // b.q) % 2 = 0"""

  // --- q195: Z-order clustered compaction on the versioned lake -------------------
  // VersionedLake.compactZOrder + the multi-column manifest statistics:
  // a lexicographic clustering (q181) prunes only its leading column —
  // after interleaved ingest, a lake clustered on the MORTON interleave
  // of (doc_id, n_chars) gives every file a tight bounding RECTANGLE,
  // so the q178 driver-side skip prunes range reads on EITHER axis.
  // `pre_admits_all` pins that the fragmented lake cannot prune either
  // dimension; `zorder_prunes_x`/`zorder_prunes_y` pin strictly-fewer
  // admitted files per axis post-compaction (counts measured from the
  // manifest alone); membership of the 2-dimensional read replays
  // exactly in SQL regardless of the sampled z-range boundaries.
  private def q195(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars").cast("long")
        .as("n_chars"))
    val n = docs.count()
    val q = n / 4
    val dir = Tables.freshScratchDir("graft_vzorder_", d).toString + "/lake"
    // 4 interleaved residue-class commits: every file spans BOTH the
    // doc_id domain and the n_chars domain — nothing can prune
    (0 until 4).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") % 4 === m).repartition(2),
        statsCol = if (m == 0) Some("doc_id,n_chars") else None): Unit
    }
    val pre = VersionedLake.currentVersion(s, dir)
    val (preX, totalPre) = VersionedLake.rangeFiles(s, dir, pre,
      "doc_id", 0L, q - 1)
    val (preY, _) = VersionedLake.rangeFiles(s, dir, pre,
      "n_chars", 0L, 300L)
    val post = VersionedLake.compactZOrder(s, dir, "doc_id", "n_chars",
      nFiles = 8)
    val (postX, totalPost) = VersionedLake.rangeFiles(s, dir, post,
      "doc_id", 0L, q - 1)
    val (postY, _) = VersionedLake.rangeFiles(s, dir, post,
      "n_chars", 0L, 300L)
    VersionedLake.readAsOfRange(s, dir, post, "doc_id", 0L, q - 1, None)
      .filter(col("n_chars").between(0L, 300L))
      .select(col("doc_id"), col("text"), col("n_chars"),
        lit(preX.size.toLong == totalPre && preY.size.toLong == totalPre &&
          totalPre == 8L).as("pre_admits_all"),
        lit(postX.size < totalPost).as("zorder_prunes_x"),
        lit(postY.size < totalPost).as("zorder_prunes_y"))
  }

  private val q195Sql =
    """WITH b AS (SELECT count(*) // 4 AS q FROM documents)
       SELECT d.doc_id, d.text, CAST(d.n_chars AS BIGINT) AS n_chars,
         true AS pre_admits_all, true AS zorder_prunes_x,
         true AS zorder_prunes_y
       FROM documents d, b
       WHERE d.doc_id < b.q AND d.n_chars <= 300"""

  // --- q196: manifest checkpoint — bounded metadata access + time travel ----------
  // VersionedLake's `_versions/_checkpoint` (the Delta `_last_checkpoint`
  // shape): after 12 commits the interval-10 checkpoint exists, and
  // commitTimes/history/versionAsOf answer from ONE checkpoint read
  // plus only the manifests younger than it — `opens_bounded` pins the
  // measured manifest-open count (<= commits-since-checkpoint) from the
  // same counter the metadata specs use, `history_consistent` pins
  // checkpoint-served instants == manifest-served instants, and the
  // membership is a TIMESTAMP time travel to the 6th commit's instant,
  // resolved through the checkpoint. At 100 TB scale this is what keeps
  // a 50k-commit lake's time travel from opening 50k manifest files.
  private def q196(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vckpt_", d).toString + "/lake"
    (0 until 12).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") % 12 === m)): Unit
      Thread.sleep(3) // distinct #ts instants: time travel is by-ms
    }
    val ckptPresent = java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_versions", "_checkpoint"))
    val o0 = VersionedLake.manifestOpens.get()
    val times = VersionedLake.commitTimes(s, dir)
    val opensBounded = VersionedLake.manifestOpens.get() - o0 <= 2L
    val h = VersionedLake.history(s, dir)
      .select(col("version"), col("committed_at")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val histConsistent = times.forall { case (v, t) => h(v) == t }
    VersionedLake.readAsOfTimestamp(s, dir, times(5)._2)
      .select(col("doc_id"), col("text"),
        lit(ckptPresent).as("ckpt_present"),
        lit(opensBounded).as("opens_bounded"),
        lit(histConsistent).as("history_consistent"))
  }

  private val q196Sql =
    """SELECT doc_id, text, true AS ckpt_present, true AS opens_bounded,
       true AS history_consistent
       FROM documents WHERE doc_id % 12 < 6"""

  // --- q197: racing DISJOINT mutations both land; overlapping ones abort ----------
  // VersionedLake.publishMutation's file-level conflict detection: the
  // lake's two files hold even and odd ids; a delete of ids 8k loses
  // its publish race to a delete of ids 8k+5 (disjoint FILES: evens vs
  // odds) and REBASES — both land, linear history. A second round
  // races two deletes on the SAME file (8k+2 vs 8k+4, both even): the
  // loser aborts loudly with ConcurrentMutationException and commits
  // NOTHING, so the final membership is exactly three residue classes
  // gone — which the oracle replays, making a silently-dropped winner
  // change, a silently-applied loser, or a forked history all move rows.
  private def q197(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vcmut_", d).toString + "/lake"
    VersionedLake.commitAppend(s, dir,
      docs.filter(col("doc_id") % 2 === 0).repartition(1)): Unit
    VersionedLake.commitAppend(s, dir,
      docs.filter(col("doc_id") % 2 === 1).repartition(1)): Unit
    def ids(r: Long) = docs.filter(col("doc_id") % 8 === r).select("doc_id")
    var raced = false
    var vWin = 0L
    val (vLose, _, _) = VersionedLake.commitDelete(s, dir, "doc_id",
      ids(0), beforePublish = () => if (!raced) {
        raced = true
        vWin = VersionedLake.commitDelete(s, dir, "doc_id", ids(5))._1
      })
    var raced2 = false
    val abortLoud =
      try {
        VersionedLake.commitDelete(s, dir, "doc_id", ids(2),
          beforePublish = () => if (!raced2) {
            raced2 = true
            VersionedLake.commitDelete(s, dir, "doc_id", ids(4)): Unit
          })
        false
      } catch {
        case _: VersionedLake.ConcurrentMutationException => true
      }
    VersionedLake.read(s, dir)
      .select(col("doc_id"), col("text"),
        lit(vWin == 3L && vLose == 4L).as("disjoint_both_landed"),
        lit(abortLoud).as("overlap_aborts"),
        lit(VersionedLake.currentVersion(s, dir) == 5L)
          .as("linear_history"))
  }

  private val q197Sql =
    """SELECT doc_id, text, true AS disjoint_both_landed,
       true AS overlap_aborts, true AS linear_history
       FROM documents WHERE doc_id % 8 NOT IN (0, 4, 5)"""

  // --- q198: THREE-dimension Z-order compaction --------------------------------
  // compactZOrder(Seq(doc_id, n_chars, n_words)) — the N-dim Morton
  // layout (MortonNCode, bit i of dim j → z bit i*k+j) composed with
  // three-column manifest statistics: after 4 interleaved residue
  // commits nothing prunes on any axis; after the 3-dim clustering,
  // EACH axis admits strictly fewer than all files (counts measured
  // from the manifest alone), and the 3-dimensional range read's
  // membership replays exactly in SQL.
  private def q198(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        col("n_chars").cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
    val q = docs.count() / 4
    val dir = Tables.freshScratchDir("graft_vz3_", d).toString + "/lake"
    (0 until 4).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") % 4 === m).repartition(2),
        statsCol = if (m == 0) Some("doc_id,n_chars,n_words") else None
      ): Unit
    }
    val post = VersionedLake.compactZOrder(s, dir,
      Seq("doc_id", "n_chars", "n_words"), nFiles = 8, bits = 0)
    val (px, total) = VersionedLake.rangeFiles(s, dir, post,
      "doc_id", 0L, q - 1)
    val (py, _) = VersionedLake.rangeFiles(s, dir, post,
      "n_chars", 0L, 300L)
    val (pw, _) = VersionedLake.rangeFiles(s, dir, post,
      "n_words", 0L, 40L)
    VersionedLake.readAsOfRange(s, dir, post, "doc_id", 0L, q - 1, None)
      .filter(col("n_chars").between(0L, 300L) &&
        col("n_words").between(0L, 40L))
      .select(col("doc_id"), col("text"), col("n_chars"), col("n_words"),
        lit(px.size < total).as("zorder_prunes_x"),
        lit(py.size < total).as("zorder_prunes_y"),
        lit(pw.size < total).as("zorder_prunes_w"))
  }

  private val q198Sql =
    """WITH b AS (SELECT count(*) // 4 AS q FROM documents)
       SELECT d.doc_id, d.text, CAST(d.n_chars AS BIGINT) AS n_chars,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
         true AS zorder_prunes_x, true AS zorder_prunes_y,
         true AS zorder_prunes_w
       FROM documents d, b
       WHERE d.doc_id < b.q AND d.n_chars <= 300
         AND len(string_split(d.text, ' ')) <= 40"""

  // --- q199: lake schema in the manifest — zero-footer-sweep MERGE ----------------
  // The `#schema=` header (r16): an evolved MERGE against a
  // header-bearing lake derives the lake schema from ONE manifest line,
  // and every read runs under it — `sweep_free` pins, as measured
  // facts, that v3's header names the evolved `source` column and that
  // the AS-OF read's columns are exactly the header's (a footer-derived
  // schema would be whichever file Spark opened first), while the
  // membership replays q193's evolution semantics on different residue
  // classes: old files NULL-fill the evolved column, updated rows carry
  // it, survivors of partially-rewritten files keep theirs. At 100k
  // files this header is the difference between a MERGE that opens one
  // manifest and one that opens every live footer.
  private def q199(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d)
    val dir = Tables.freshScratchDir("graft_vhdr_", d).toString + "/lake"
    VersionedLake.commitAppend(s, dir,
      docs.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))): Unit
    VersionedLake.commitAppend(s, dir,
      docs.filter(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("text"), col("source"))): Unit
    val updates = docs.filter(col("doc_id") % 16 === 0)
      .select(col("doc_id"), concat(lit("UPD:"), col("text")).as("text"),
        col("source"))
      .unionByName(docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"),
          col("source")))
    val (v3, _, _) = VersionedLake.commitUpsert(s, dir, "doc_id", updates)
    val out = VersionedLake.readAsOf(s, dir, v3)
    val header = VersionedLake.schemaOf(s, dir, v3).fieldNames.toSeq
    val sweepFree = header.contains("source") && out.columns.toSeq == header
    out.select(col("doc_id"), col("text"), col("source"),
      lit(sweepFree).as("sweep_free"))
  }

  private val q199Sql =
    """SELECT doc_id, text, source, true AS sweep_free FROM (
         SELECT doc_id, text, NULL AS source FROM documents
         WHERE doc_id % 4 = 0 AND doc_id % 16 != 0
         UNION ALL
         SELECT doc_id, text, source FROM documents WHERE doc_id % 4 = 1
         UNION ALL
         SELECT doc_id, 'UPD:' || text AS text, source FROM documents
         WHERE doc_id % 16 = 0
         UNION ALL
         SELECT doc_id + 200000, text, source FROM documents
         WHERE doc_id % 10 = 3)"""

  // --- q200: delta manifests — O(churn) commit metadata ----------------------------
  // VersionedLake's anchor/delta manifest protocol: 16 residue appends
  // (v1 + v10 anchors list the full lake; v2-9/v11-16 are `#base=` +
  // adds), a delete (delta with a removal line), and an upsert (delta
  // with removal + fresh entries). `deltas_used`/`anchor_full`/
  // `delta_write_small` pin the manifest SHAPES driver-side from the
  // raw files (a delta's body is its churn; the anchor's is the lake),
  // and the final membership — three mutation kinds resolved through
  // delta chains — replays exactly in SQL: a mis-applied removal, a
  // lost add, or a chain resolved against the wrong base all move rows.
  // At 100 TB this is the write-amplification half of the manifest
  // ceiling: an append publishes O(its own files) bytes, not O(lake).
  private def q200(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vdelta_", d).toString + "/lake"
    (0 until 16).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") % 16 === m).repartition(1)): Unit
    }
    VersionedLake.commitDelete(s, dir, "doc_id",
      docs.filter(col("doc_id") % 7 === 3).select("doc_id")): Unit
    val updates = docs.filter(col("doc_id") % 32 === 0)
      .select(col("doc_id"), concat(lit("UPD:"), col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 9)
        .select((col("doc_id") + 300000L).as("doc_id"), col("text")))
    VersionedLake.commitUpsert(s, dir, "doc_id", updates): Unit
    def lines(v: Long): Seq[String] = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "_versions", f"v$v%06d.txt"))
      .toArray.toSeq.map(_.toString).filter(_.nonEmpty)
    def isDelta(v: Long) = lines(v).exists(_.startsWith("#base="))
    def body(v: Long) = lines(v).count(!_.startsWith("#"))
    // anchors carry their full entry set as REGION REFS (r17) — the
    // resolved entry view expands each @ref to its bucket's entries
    def entries(v: Long): Long = lines(v).filterNot(_.startsWith("#"))
      .map { l =>
        if (l.startsWith("@")) java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(dir, l.drop(1).split('\t')(0)))
          .toArray.toSeq.map(_.toString).count(_.nonEmpty).toLong
        else 1L
      }.sum
    val deltasUsed = (2L to 9L).forall(isDelta) &&
      (11L to 16L).forall(isDelta) && isDelta(17L) && isDelta(18L)
    val anchorFull = !isDelta(1L) && !isDelta(10L) && entries(10L) == 10
    val deltaSmall = body(16L) < entries(10L)
    VersionedLake.read(s, dir)
      .select(col("doc_id"), col("text"),
        lit(deltasUsed).as("deltas_used"),
        lit(anchorFull).as("anchor_full"),
        lit(deltaSmall).as("delta_write_small"))
  }

  private val q200Sql =
    """SELECT doc_id, text, true AS deltas_used, true AS anchor_full,
       true AS delta_write_small FROM (
         SELECT doc_id, 'UPD:' || text AS text FROM documents
         WHERE doc_id % 32 = 0
         UNION ALL
         SELECT doc_id, text FROM documents
         WHERE doc_id % 32 != 0 AND doc_id % 7 != 3
         UNION ALL
         SELECT doc_id + 300000, text FROM documents
         WHERE doc_id % 10 = 9)"""

  // --- q201: checkpoint forward probe — long-history time travel, zero listings ----
  // VersionedLake.currentVersion resolves by probing forward from the
  // checkpoint's `#ckpt_v=` instead of listing `_versions/` — the last
  // O(retained-commits)-per-operation metadata cost. 26 commits, a
  // forced retention vacuum dropping the 7 oldest (their files aged
  // out; the checkpoint refreshes so the probe survives the prefix
  // drop), then the hot-path call: `probe_listing_free` pins ZERO
  // directory listings for currentVersion on the vacuumed lake (the
  // engine's own versionListings counter), and the membership is a
  // TIME TRAVEL to v20 resolved through the surviving delta chains.
  // At 100 TB scale this is what keeps a 50k-commit lake's every
  // operation from paying a 50k-entry LIST per call.
  private def q201(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vprobe_", d).toString + "/lake"
    (0 until 26).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") % 26 === m).repartition(1)): Unit
    }
    VersionedLake.vacuum(s, dir, keepFrom = 8L, force = true): Unit
    val l0 = VersionedLake.versionListings.get()
    val cur = VersionedLake.currentVersion(s, dir)
    val listingFree = VersionedLake.versionListings.get() == l0
    VersionedLake.readAsOf(s, dir, 20L)
      .select(col("doc_id"), col("text"),
        lit(listingFree).as("probe_listing_free"),
        lit(cur == 26L).as("cur_resolved"))
  }

  private val q201Sql =
    """SELECT doc_id, text, true AS probe_listing_free,
       true AS cur_resolved
       FROM documents WHERE doc_id % 26 < 20"""

  // --- q202: typed manifest statistics — string-stats file pruning ---------------
  // v3 tagged stat encodings: a lake committed one file per `source`
  // value with `statsCol = "source,score"` (string + double) prunes a
  // string BETWEEN from the manifest alone — `string_stats_prune` pins
  // admitted == the sources inside ['src3','src5'] and total == every
  // non-empty source, counted driver-side with zero file opens
  // (rangeFilesOn); the membership is the pruned read itself
  // (readAsOfRangeOn), which must equal the full-scan filter. Real
  // lakes prune on date strings and source labels constantly — before
  // v3 encodings only integral columns could skip files.
  private def q202(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"),
        (col("n_chars") * 0.5).as("score"))
    val dir = Tables.freshScratchDir("graft_vtyped_", d).toString + "/lake"
    val present = docs.select("source").distinct()
      .collect().map(_.getString(0)).toSet // bounded: <= 20 sources
    (0 until 20).map(m => s"src$m").filter(present.contains)
      .foreach { src =>
        VersionedLake.commitAppend(s, dir,
          docs.filter(col("source") === src).repartition(1),
          statsCol = Some("source,score")): Unit
      }
    val v = VersionedLake.currentVersion(s, dir)
    val (kept, total) = VersionedLake.rangeFilesOn(s, dir, v,
      "source", "src3", "src5")
    val expectKept = present.count(x => x >= "src3" && x <= "src5")
    val pruned = kept.size == expectKept &&
      total == present.size.toLong && expectKept < present.size
    VersionedLake.readAsOfRangeOn(s, dir, v, "source", "src3", "src5")
      .select(col("doc_id"), col("text"), col("source"),
        lit(pruned).as("string_stats_prune"))
  }

  private val q202Sql =
    """SELECT doc_id, text, source, true AS string_stats_prune
       FROM documents WHERE source >= 'src3' AND source <= 'src5'"""

  // --- q203: region-partitioned anchors — O(churn) anchor writes ------------------
  // The manifest-of-manifests layer: anchors publish per-bucket region
  // refs (`@file\tbucket\thash`), and a later anchor REUSES every
  // bucket its churn left untouched — `anchors_regioned` pins both
  // anchors' bodies as refs, `anchor_write_bounded` pins that the set
  // of buckets whose ref CHANGED between v10 and v20 is exactly inside
  // the buckets the v10->v20 churn hashed into (the O(churn) write
  // claim, from the raw files). Membership after a delete + upsert
  // resolved through the region tree replays exactly in SQL. At 100 TB
  // this removes the last O(lake) write: a 100k-file lake's every-10th
  // commit wrote ~10 MB; now it writes a 16-line index + churned
  // buckets.
  private def q203(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.VersionedLake
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = Tables.freshScratchDir("graft_vregion_", d).toString + "/lake"
    (0 until 26).foreach { m =>
      VersionedLake.commitAppend(s, dir,
        docs.filter(col("doc_id") % 26 === m).repartition(1)): Unit
    }
    VersionedLake.commitDelete(s, dir, "doc_id",
      docs.filter(col("doc_id") % 9 === 4).select("doc_id")): Unit
    val updates = docs.filter(col("doc_id") % 30 === 1)
      .select(col("doc_id"), concat(lit("UPD:"), col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 400000L).as("doc_id"), col("text")))
    VersionedLake.commitUpsert(s, dir, "doc_id", updates): Unit
    def body(v: Long): Seq[String] = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "_versions", f"v$v%06d.txt"))
      .toArray.toSeq.map(_.toString)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
    def refs(v: Long): Map[Int, String] =
      body(v).filter(_.startsWith("@")).map { l =>
        val f = l.drop(1).split('\t'); f(1).toInt -> f(0)
      }.toMap
    val (r10, r20) = (refs(10L), refs(20L))
    val regioned = body(10L).nonEmpty &&
      body(10L).forall(_.startsWith("@")) &&
      body(20L).forall(_.startsWith("@"))
    val churn = VersionedLake.filesOf(s, dir, 20L).toSet
      .diff(VersionedLake.filesOf(s, dir, 10L).toSet)
      .map(p => VersionedLake.bucketOf(p))
    val changed = r10.keySet.union(r20.keySet)
      .filter(b => r10.get(b) != r20.get(b))
    val bounded = changed.subsetOf(churn)
    VersionedLake.read(s, dir)
      .select(col("doc_id"), col("text"),
        lit(regioned).as("anchors_regioned"),
        lit(bounded).as("anchor_write_bounded"))
  }

  private val q203Sql =
    """SELECT doc_id, text, true AS anchors_regioned,
       true AS anchor_write_bounded FROM (
         SELECT doc_id, 'UPD:' || text AS text FROM documents
         WHERE doc_id % 30 = 1
         UNION ALL
         SELECT doc_id, text FROM documents
         WHERE doc_id % 30 != 1 AND doc_id % 9 != 4
         UNION ALL
         SELECT doc_id + 400000, text FROM documents
         WHERE doc_id % 10 = 7)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact"     -> q20 _,
    "q21_text_quality"    -> q21 _,
    "q22_lang_id"         -> q22 _,
    "q23_token_stats"     -> q23 _,
    "q24_fingerprint"     -> q24 _,
    "q25_minhash_lsh"     -> q25 _,
    "q26_simhash_pairs"   -> q26 _,
    "q27_ngram_jaccard"   -> q27 _,
    "q28_ann_bruteforce"  -> q28 _,
    "q29_ann_lsh"         -> q29 _,
    "q30_multimodal"      -> q30 _,
    "q31_stream_window"   -> q31 _,
    "q32_stream_sessions" -> q32 _,
    "q35_salted_agg"      -> q35 _,
    "q36_percentiles"     -> q36 _,
    "q37_embed_neardup"   -> q37 _,
    "q38_dedup_pipeline"  -> q38 _,
    "q43_minhash_exactdup" -> q43 _,
    "q44_embed_neardup_exact" -> q44 _,
    "q45_dedup_exactdup_pipeline" -> q45 _,
    "q49_token_topk"      -> q49 _,
    "q50_ann_ivf"         -> q50 _,
    "q51_stratified_quota" -> q51 _,
    "q52_text_normalize"  -> q52 _,
    "q53_pii_scrub"       -> q53 _,
    "q54_heavy_hitters"   -> q54 _,
    "q55_stream_enrich"   -> q55 _,
    "q56_session_window"  -> q56 _,
    "q59_tfidf"           -> q59 _,
    "q60_event_sequences" -> q60 _,
    "q61_oov_rate"        -> q61 _,
    "q62_approx_quantiles" -> q62 _,
    "q63_lake_roundtrip"  -> q63 _,
    "q64_decontaminate"   -> q64 _,
    "q65_repetition"      -> q65 _,
    "q66_temperature_mix" -> q66 _,
    "q68_pack_sequences"  -> q68 _,
    "q69_incremental_dedup" -> q69 _,
    "q70_countmin"        -> q70 _,
    "q71_bloom_decontaminate" -> q71 _,
    "q72_cdc_upsert"      -> q72 _,
    "q73_funnel"          -> q73 _,
    "q74_zorder"          -> q74 _,
    "q76_stream_stream_join" -> q76 _,
    "q77_chunking"        -> q77 _,
    "q82_inverted_index"  -> q82 _,
    "q84_span_selfdup"    -> q84 _,
    "q85_format_roundtrip" -> q85 _,
    "q87_audio_features"  -> q87 _,
    "q93_lm_quality"      -> q93 _,
    "q97_array_hof"       -> q97 _,
    "q99_map_funcs"       -> q99 _,
    "q101_xml_roundtrip"  -> q101 _,
    "q102_media_ingest"   -> q102 _,
    "q105_curation_pipeline" -> q105 _,
    "q106_lake_compaction" -> q106 _,
    "q107_schema_evolution" -> q107 _,
    "q108_quantize_int8"  -> q108 _,
    "q109_ann_quantized"  -> q109 _,
    "q110_ann_pq"         -> q110 _,
    "q112_training_shuffle" -> q112 _,
    "q113_cdc_stream"     -> q113 _,
    "q114_sliding_window" -> q114 _,
    "q115_kmeans_fixedpoint" -> q115 _,
    "q116_semantic_dedup" -> q116 _,
    "q117_pagerank"       -> q117 _,
    "q118_label_prop"     -> q118 _,
    "q119_topk_agg"       -> q119 _,
    "q120_es_dsv2"        -> q120 _,
    "q121_bm25"           -> q121 _,
    "q122_ann_lake"       -> q122 _,
    "q123_es_stream"      -> q123 _,
    "q124_lm_score"       -> q124 _,
    "q126_stream_partials_lake" -> q126 _,
    "q127_es_agg_pushdown" -> q127 _,
    "q128_bpe_train"      -> q128 _,
    "q129_es_http_live"   -> q129 _,
    "q130_bpe_token_budget" -> q130 _,
    "q131_bpe_batched"    -> q131 _,
    "q132_partials_compact" -> q132 _,
    "q133_bpe_pack"       -> q133 _,
    "q134_quality_model"  -> q134 _,
    "q135_stream_quality"  -> q135 _,
    "q136_bpe_multibatch" -> q136 _,
    "q137_ivf_lake"       -> q137 _,
    "q138_substring_spans" -> q138 _,
    "q139_substring_removal" -> q139 _,
    "q140_decontaminate"  -> q140 _,
    "q141_repetition_filters" -> q141 _,
    "q142_ppl_buckets"    -> q142 _,
    "q143_es_bulk_sink"   -> q143 _,
    "q144_pack_offsets"   -> q144 _,
    "q145_epoch_mix"      -> q145 _,
    "q146_expectations"   -> q146 _,
    "q147_hard_negatives" -> q147 _,
    "q148_snapshot_diff"  -> q148 _,
    "q149_length_batches" -> q149 _,
    "q150_dsir_resample"  -> q150 _,
    "q151_grouped_split"  -> q151 _,
    "q152_ivf_append"     -> q152 _,
    "q153_source_dup_matrix" -> q153 _,
    "q154_centroid_outliers" -> q154 _,
    "q155_contamination_report" -> q155 _,
    "q156_ngram_novelty"  -> q156 _,
    "q157_kcenter_coreset" -> q157 _,
    "q158_keepbest_dedup" -> q158 _,
    "q159_line_dedup"     -> q159 _,
    "q160_winnowed_runs"  -> q160 _,
    "q161_rare_sequences" -> q161 _,
    "q162_ivf_compaction" -> q162 _,
    "q163_stream_neardup" -> q163 _,
    "q164_ivfpq_lake"     -> q164 _,
    "q165_temp_shares"    -> q165 _,
    "q166_centroid_drift" -> q166 _,
    "q167_dist_drift"     -> q167 _,
    "q168_quota_select"   -> q168 _,
    "q169_span_scrub"     -> q169 _,
    "q170_dup_profile"    -> q170 _,
    "q171_takedown"       -> q171 _,
    "q172_state_append"   -> q172 _,
    "q173_sketch_novelty" -> q173 _,
    "q174_timetravel"     -> q174 _,
    "q175_stream_versioned" -> q175 _,
    "q176_hybrid_rrf"     -> q176 _,
    "q177_vlake_compact"  -> q177 _,
    "q178_vlake_stats"    -> q178 _,
    "q179_vlake_upsert"   -> q179 _,
    "q180_vlake_changes"  -> q180 _,
    "q181_vlake_cluster"  -> q181 _,
    "q182_state_sync"     -> q182 _,
    "q183_stream_merge"   -> q183 _,
    "q184_ivf_sync"       -> q184 _,
    "q185_vlake_restore"  -> q185 _,
    "q186_index_lake"     -> q186 _,
    "q187_hybrid_stack"   -> q187 _,
    "q188_es_to_vlake"    -> q188 _,
    "q189_vlake_ttl"      -> q189 _,
    "q190_cursor_sync"    -> q190 _,
    "q191_concurrent_append" -> q191 _,
    "q192_index_compact"  -> q192 _,
    "q193_evolve_write" -> q193 _,
    "q194_multicol_stats" -> q194 _,
    "q195_zorder_lake"    -> q195 _,
    "q196_lake_checkpoint" -> q196 _,
    "q197_concurrent_mutations" -> q197 _,
    "q198_zorder3"        -> q198 _,
    "q199_schema_header"  -> q199 _,
    "q200_delta_manifests" -> q200 _,
    "q201_version_probe"  -> q201 _,
    "q202_typed_stats"    -> q202 _,
    "q203_region_anchors" -> q203 _)

  val oracle: Map[String, String] = Map(
    "q20_dedup_exact"     -> q20Sql,
    "q21_text_quality"    -> q21Sql,
    "q22_lang_id"         -> q22Sql,
    "q23_token_stats"     -> q23Sql,
    "q24_fingerprint"     -> q24Sql,
    "q25_minhash_lsh"     -> q25Sql,
    "q26_simhash_pairs"   -> q26Sql,
    "q27_ngram_jaccard"   -> q27Sql,
    "q29_ann_lsh"         -> annAuditSql,
    "q37_embed_neardup"   -> q37Sql,
    "q38_dedup_pipeline"  -> q38Sql,
    "q50_ann_ivf"         -> annAuditSql,
    "q28_ann_bruteforce"  -> q28Sql,
    "q30_multimodal"      -> q30Sql,
    "q31_stream_window"   -> q31Sql,
    "q32_stream_sessions" -> q32Sql,
    "q35_salted_agg"      -> q35Sql,
    "q36_percentiles"     -> q36Sql,
    "q43_minhash_exactdup" -> q43Sql,
    "q44_embed_neardup_exact" -> q44Sql,
    "q45_dedup_exactdup_pipeline" -> q45Sql,
    "q49_token_topk"      -> q49Sql,
    "q51_stratified_quota" -> q51Sql,
    "q52_text_normalize"  -> q52Sql,
    "q53_pii_scrub"       -> q53Sql,
    "q54_heavy_hitters"   -> q54Sql,
    "q55_stream_enrich"   -> q55Sql,
    "q56_session_window"  -> q56Sql,
    "q59_tfidf"           -> q59Sql,
    "q60_event_sequences" -> q60Sql,
    "q61_oov_rate"        -> q61Sql,
    "q62_approx_quantiles" -> q62Sql,
    "q63_lake_roundtrip"  -> q63Sql,
    "q64_decontaminate"   -> q64Sql,
    "q65_repetition"      -> q65Sql,
    "q66_temperature_mix" -> q66Sql,
    "q68_pack_sequences"  -> q68Sql,
    "q69_incremental_dedup" -> q69Sql,
    "q70_countmin"        -> q70Sql,
    "q71_bloom_decontaminate" -> q71Sql,
    "q72_cdc_upsert"      -> q72Sql,
    "q73_funnel"          -> q73Sql,
    "q74_zorder"          -> q74Sql,
    "q76_stream_stream_join" -> q76Sql,
    "q77_chunking"        -> q77Sql,
    "q82_inverted_index"  -> q82Sql,
    "q84_span_selfdup"    -> q84Sql,
    "q85_format_roundtrip" -> q85Sql,
    "q87_audio_features"  -> q87Sql,
    "q93_lm_quality"      -> q93Sql,
    "q97_array_hof"       -> q97Sql,
    "q99_map_funcs"       -> q99Sql,
    "q101_xml_roundtrip"  -> q101Sql,
    "q102_media_ingest"   -> q102Sql,
    "q105_curation_pipeline" -> q105Sql,
    "q106_lake_compaction" -> q106Sql,
    "q107_schema_evolution" -> q107Sql,
    "q108_quantize_int8"  -> q108Sql,
    "q109_ann_quantized"  -> q109Sql,
    "q110_ann_pq"         -> annAuditSql,
    "q112_training_shuffle" -> q112Sql,
    "q113_cdc_stream"     -> q72Sql,
    "q114_sliding_window" -> q114Sql,
    "q115_kmeans_fixedpoint" -> q115Sql,
    "q116_semantic_dedup" -> q116Sql,
    "q117_pagerank"       -> q117Sql,
    "q118_label_prop"     -> q118Sql,
    "q119_topk_agg"       -> q119Sql,
    "q120_es_dsv2"        -> q120Sql,
    "q121_bm25"           -> q121Sql,
    "q122_ann_lake"       -> q122Sql,
    "q123_es_stream"      -> q120Sql,
    "q124_lm_score"       -> q124Sql,
    "q126_stream_partials_lake" -> q120Sql,
    "q127_es_agg_pushdown" -> q120Sql,
    "q128_bpe_train"      -> q128Sql,
    "q129_es_http_live"   -> q120Sql,
    "q130_bpe_token_budget" -> q130Sql,
    "q131_bpe_batched"    -> q128Sql,
    "q132_partials_compact" -> q120Sql,
    "q133_bpe_pack"       -> q133Sql,
    "q134_quality_model"  -> q134Sql,
    "q135_stream_quality"  -> q135Sql,
    "q136_bpe_multibatch" -> q136Sql,
    "q137_ivf_lake"       -> q137Sql,
    "q138_substring_spans" -> q138Sql,
    "q139_substring_removal" -> q139Sql,
    "q140_decontaminate"  -> q140Sql,
    "q141_repetition_filters" -> q141Sql,
    "q142_ppl_buckets"    -> q142Sql,
    "q143_es_bulk_sink"   -> q143Sql,
    "q144_pack_offsets"   -> q144Sql,
    "q145_epoch_mix"      -> q145Sql,
    "q146_expectations"   -> q146Sql,
    "q147_hard_negatives" -> q147Sql,
    "q148_snapshot_diff"  -> q148Sql,
    "q149_length_batches" -> q149Sql,
    "q150_dsir_resample"  -> q150Sql,
    "q151_grouped_split"  -> q151Sql,
    "q152_ivf_append"     -> q152Sql,
    "q153_source_dup_matrix" -> q153Sql,
    "q154_centroid_outliers" -> q154Sql,
    "q155_contamination_report" -> q155Sql,
    "q156_ngram_novelty"  -> q156Sql,
    "q157_kcenter_coreset" -> q157Sql,
    "q158_keepbest_dedup" -> q158Sql,
    "q159_line_dedup"     -> q159Sql,
    "q160_winnowed_runs"  -> q160Sql,
    "q161_rare_sequences" -> q161Sql,
    "q162_ivf_compaction" -> q162Sql,
    "q163_stream_neardup" -> q69Sql,
    "q164_ivfpq_lake"     -> q164Sql,
    "q165_temp_shares"    -> q165Sql,
    "q166_centroid_drift" -> q166Sql,
    "q167_dist_drift"     -> q167Sql,
    "q168_quota_select"   -> q168Sql,
    "q169_span_scrub"     -> q169Sql,
    "q170_dup_profile"    -> q170Sql,
    "q171_takedown"       -> q171Sql,
    "q172_state_append"   -> q69Sql,
    "q173_sketch_novelty" -> q173Sql,
    "q174_timetravel"     -> q174Sql,
    "q175_stream_versioned" -> q175Sql,
    "q176_hybrid_rrf"     -> q176Sql,
    "q177_vlake_compact"  -> q177Sql,
    "q178_vlake_stats"    -> q178Sql,
    "q179_vlake_upsert"   -> q179Sql,
    "q180_vlake_changes"  -> q180Sql,
    "q181_vlake_cluster"  -> q181Sql,
    "q182_state_sync"     -> q182Sql,
    "q183_stream_merge"   -> q183Sql,
    "q184_ivf_sync"       -> q184Sql,
    "q185_vlake_restore"  -> q185Sql,
    "q186_index_lake"     -> q186Sql,
    "q187_hybrid_stack"   -> q187Sql,
    "q188_es_to_vlake"    -> q188Sql,
    "q189_vlake_ttl"      -> q189Sql,
    "q190_cursor_sync"    -> q190Sql,
    "q191_concurrent_append" -> q191Sql,
    "q192_index_compact"  -> q192Sql,
    "q193_evolve_write" -> q193Sql,
    "q194_multicol_stats" -> q194Sql,
    "q195_zorder_lake"    -> q195Sql,
    "q196_lake_checkpoint" -> q196Sql,
    "q197_concurrent_mutations" -> q197Sql,
    "q198_zorder3"        -> q198Sql,
    "q199_schema_header"  -> q199Sql,
    "q200_delta_manifests" -> q200Sql,
    "q201_version_probe"  -> q201Sql,
    "q202_typed_stats"    -> q202Sql,
    "q203_region_anchors" -> q203Sql)
}
