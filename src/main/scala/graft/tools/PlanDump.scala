package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry

/** Regenerate PLANS.md: `explain("formatted")` snapshots of the headline
  * queries, the artifact used to review scan pruning / join strategies /
  * exchange placement (run after changing any query).
  *
  * Usage: sbt "runMain graft.tools.PlanDump [sfDir] [outFile]"
  */
object PlanDump {
  private val Headline = Seq(
    "q01_agg_fullscan", "q02_filter_project", "q03_join_topk",
    "q04_star_join", "q06_anti_join", "q07_window_rank", "q09_sort_limit",
    "q13_case_agg", "q20_dedup_exact", "q25_minhash_lsh",
    "q27_ngram_jaccard", "q28_ann_bruteforce", "q35_salted_agg",
    "q43_minhash_exactdup",
    "q46_asof_join", "q47_range_join", "q49_token_topk",
    "q51_stratified_quota", "q18_sessionize", "q50_ann_ivf",
    "q59_tfidf", "q60_event_sequences", "q61_oov_rate",
    "q68_pack_sequences", "q69_incremental_dedup",
    "q70_countmin", "q71_bloom_decontaminate", "q72_cdc_upsert",
    "q73_funnel", "q74_zorder", "q75_mad_outliers",
    "q77_chunking", "q78_salted_join", "q79_range_frame",
    "q80_grouping_sets", "q81_bucketed_join", "q82_inverted_index",
    "q83_fuzzy_link", "q84_span_selfdup", "q86_corr_stats",
    "q88_hll_union", "q89_scd2_pit_join", "q90_profile",
    "q91_resample_ffill", "q92_incremental_agg", "q95_asof_native",
    "q96_histogram", "q98_filter_agg", "q100_recursive_cte",
    "q108_quantize_int8", "q109_ann_quantized",
    "q110_ann_pq", "q111_bloom_join", "q112_training_shuffle",
    "q115_kmeans_fixedpoint", "q116_semantic_dedup", "q117_pagerank",
    "q118_label_prop", "q119_topk_agg", "q120_es_dsv2", "q121_bm25",
    "q122_ann_lake", "q124_lm_score", "q125_exact_quantiles",
    "q127_es_agg_pushdown", "q128_bpe_train", "q130_bpe_token_budget",
    // q131 omitted: its result frame is the driver-built rule table
    // (LocalTableScan) — the informative plans are q128's rounds
    "q132_partials_compact", "q136_bpe_multibatch", "q137_ivf_lake",
    "q138_substring_spans", "q139_substring_removal",
    "q140_decontaminate", "q141_repetition_filters", "q142_ppl_buckets",
    "q143_es_bulk_sink", "q144_pack_offsets", "q145_epoch_mix",
    "q146_expectations", "q147_hard_negatives", "q148_snapshot_diff",
    "q149_length_batches", "q150_dsir_resample", "q151_grouped_split",
    "q152_ivf_append", "q153_source_dup_matrix",
    "q154_centroid_outliers", "q155_contamination_report",
    "q156_ngram_novelty",
    // q157 omitted: the result frame is the driver-built selection table
    // (LocalTableScan, same class as q131) — the informative plan is the
    // per-round scan, whose shape (packed-literal kernel +
    // TakeOrderedAndProject) is pinned in PlanSpec
    "q158_keepbest_dedup", "q159_line_dedup", "q160_winnowed_runs",
    "q161_rare_sequences", "q162_ivf_compaction", "q164_ivfpq_lake",
    "q165_temp_shares", "q166_centroid_drift", "q167_dist_drift",
    "q168_quota_select", "q169_span_scrub", "q170_dup_profile",
    "q171_takedown", "q172_state_append", "q173_sketch_novelty",
    "q174_timetravel", "q175_stream_versioned", "q176_hybrid_rrf",
    "q177_vlake_compact", "q178_vlake_stats", "q179_vlake_upsert",
    "q180_vlake_changes", "q181_vlake_cluster", "q182_state_sync",
    "q183_stream_merge", "q184_ivf_sync", "q185_vlake_restore",
    "q186_index_lake", "q187_hybrid_stack", "q188_es_to_vlake",
    "q189_vlake_ttl", "q190_cursor_sync", "q191_concurrent_append",
    "q192_index_compact", "q193_evolve_write", "q194_multicol_stats",
    "q195_zorder_lake", "q196_lake_checkpoint",
    "q197_concurrent_mutations", "q198_zorder3", "q199_schema_header",
    "q200_delta_manifests", "q201_version_probe", "q202_typed_stats",
    "q203_region_anchors")

  /** Load-bearing plan facts that the formatted snapshot alone does not
    * carry (strategy gates measured at runtime, plans that live inside
    * a loop or a foreachBatch) — appended under the query's section, or
    * emitted as a standalone note for queries whose RESULT frame is a
    * driver-built table (q157, q163) and therefore has no informative
    * snapshot of its own.
    */
  private val Notes: Map[String, String] = Map(
    "q157_kcenter_coreset" -> ("result frame is the driver-built " +
      "selection table (LocalTableScan, the q131 class) — the " +
      "informative plan is the PER-ROUND scan: packed-literal distance " +
      "kernel map-side over the cached quantized corpus, argmax via " +
      "TakeOrderedAndProject (one row per partition to the driver), k " +
      "bounded rounds, no iterative lineage chaining. Pinned in " +
      "PlanSpec (\"q157\"-adjacent round-scan pin) and CoresetSpec."),
    "q160_winnowed_runs" -> ("the verify-join strategy is SIZE-GATED at " +
      "runtime: the candidate-pair set is persisted and counted, and " +
      "the two verify joins broadcast only when the count is within " +
      "broadcastCandLimit (this snapshot shows the broadcast path — " +
      "normal corpora); above the limit both joins fall back to " +
      "SortMergeJoin so a heavy-duplication corpus degrades to linear " +
      "shuffles instead of dying on the broadcast budget. Both " +
      "strategies and their result equality are pinned in HeavyDupSpec."),
    "q161_rare_sequences" -> ("load-bearing fact: no Window over the " +
      "gram stream and at most 3 non-broadcast exchanges (distinct-gram " +
      "reduction, per-gram df aggregate, per-doc rollup) — pinned in " +
      "PlanSpec."),
    "q162_ivf_compaction" -> ("the snapshot shows the POST-compaction " +
      "audit read; the load-bearing facts are in the maintenance pass " +
      "itself: only cells holding more than maxFilesPerCell data files " +
      "are listed into the rewrite (partition-pruned cell-isin scan, " +
      "cell-clustered one-file-per-cell write), the _ivf_centroids " +
      "sidecar and single-file cells are never rewritten, and the " +
      "manifest protocol makes every crash window resolve to " +
      "never-happened or completed (IvfLakeSpec pins both windows)."),
    "q163_stream_neardup" -> ("result frame is the batch_id=-leaf lake " +
      "read — the informative plan lives inside each foreachBatch: the " +
      "persisted corpus LSH state is SCANNED (never shuffled) against " +
      "the micro-batch's broadcast banded keys, candidates and both " +
      "verify joins are batch-sized, and per-batch persists are " +
      "released before the next trigger. Stream==batch equality under " +
      "q69's oracle is pinned by the driver gate; strategy and leak " +
      "hygiene by NearDupStreamSpec."),
    "q171_takedown" -> ("the snapshot shows the post-delete search " +
      "aggregate (audit literals riding a one-row frame); the " +
      "load-bearing plans are in the takedown passes themselves: the " +
      "id→partition mapping is a COLUMN-PRUNED scan (id + the partition " +
      "value the directory layout supplies — bodies/embeddings never " +
      "decoded), only partitions/cells actually holding a deleted id " +
      "are rewritten under the string-leaf manifest commit protocol, " +
      "ANN sidecars and probe geometry are untouched, and the near-dup " +
      "state rewrite is one anti-join over the ~1-2%-of-corpus " +
      "signature lake with a rename-only swap. TakedownSpec pins " +
      "partition-scoped rewrite (unaffected leaves byte-stable), both " +
      "crash-recovery windows, and the frozen-twin equalities; the " +
      "driver oracle pins all four audits."),
    "q172_state_append" -> ("the match plan is q163's foreachBatch " +
      "shape read from a state+append lake: the signature lake is " +
      "SCANNED (never shuffled) against the delta's broadcast banded " +
      "keys, and because nearDupState is a pure per-row transform the " +
      "appended lake is row-identical to a full rebuild — the append " +
      "path sits under q69's exact all-pairs oracle. Width-mismatch " +
      "appends fail fast (NearDupStreamSpec)."),
    "q173_sketch_novelty" -> ("the snapshot shows the SCORING plan — " +
      "batch grams exploded once, the counting bloom collapsed to a " +
      "packed-literal shift/mask prefilter (bloom-MISS grams are " +
      "definitively novel and never join), and the exact verify as a " +
      "left-semi join against the bucket-partitioned gram lake; the " +
      "reference corpus is never scanned. The build/append/takedown " +
      "plans are bucket-scoped: the merge unions only AFFECTED buckets " +
      "(partition pruning on the bucket column) and commits rewrite " +
      "those leaves under the manifest protocol — RefSketchSpec pins " +
      "the rewrite scope, both crash windows, and the counting bloom's " +
      "exact shrink on takedown."),
    "q174_timetravel" -> ("four manifest-driven parquet scans unioned — " +
      "each Scan's file list is EXPLICIT (handed to the reader from the " +
      "version manifest; no directory listing, no partition discovery, " +
      "the metadata cost that dominates object-store reads). The " +
      "delete's rewrite scope (only files HOLDING deleted ids, located " +
      "by a column-pruned id + _metadata.file_path scan) is pinned by " +
      "VersionedLakeSpec; old files surviving on disk is what keeps " +
      "versions 1-2 readable here."),
    "q175_stream_versioned" -> ("the snapshot shows the final " +
      "manifest-driven read with the audit literals; the load-bearing " +
      "behavior is the commit protocol inside foreachBatch — one lake " +
      "version per micro-batch with the batch id as a manifest header, " +
      "so 'version committed' and 'batch applied' are one rename and a " +
      "replayed batch writes NOTHING (the replay probe passes different " +
      "content to prove the lake does not even look at it); the check " +
      "scans back past headerless maintenance commits. Pinned in " +
      "VersionedLakeSpec (replay no-op, interleaved delete, foreign-" +
      "checkpoint loud failure, restart-on-same-checkpoint)."),
    "q176_hybrid_rrf" -> ("hybrid retrieval: both legs are the " +
      "corpus-scanned-once / queries-broadcast / bounded-heap shape " +
      "(BM25's pruned postings, the quantized-dot kernel), so the " +
      "fusion input is k·|Q| rows per ranker — tiny; RRF itself is one " +
      "(query, doc) sum plus one per-query heap. No window sort " +
      "anywhere near the corpus; every stage integer-exact, which is " +
      "what lets the oracle replay BM25, the dot ranking, AND the " +
      "fusion under one hash."),
    "q177_vlake_compact" -> ("the snapshot shows the final " +
      "manifest-driven read with the invariant literals; the operator " +
      "is VersionedLake.compact — one read of the current version, one " +
      "re-laid write, a manifest of ONLY the new files published by one " +
      "rename. Prior versions keep their own file lists (pinned via " +
      "filesOf equality in VersionedLakeSpec), so compaction never " +
      "touches history — fragmented storage ages out through vacuum."),
    "q178_vlake_stats" -> ("the snapshot's Scan reads ONLY the files " +
      "the manifest statistics admit — the skip decision is driver-side " +
      "from the manifest alone (no footer read, no file open), then the " +
      "residual between() runs over the admitted files where parquet " +
      "row-group min/max prune further. The Iceberg file-skipping " +
      "discipline; admitted/total counts ride the oracle as literals, " +
      "so over- OR under-pruning fails the hash."),
    "q179_vlake_upsert" -> ("the snapshot shows the post-MERGE " +
      "manifest-driven read with the audit literals; the operator is " +
      "commitUpsert — three shuffle-free queries: the updates' ids " +
      "collected to the driver once (duplicate refusal and the " +
      "manifest-stats candidate skip run there) and broadcast, ONE " +
      "scan of the candidate files counting matched ids per " +
      "_metadata.file_path, and the write; " +
      "only files HOLDING a matched id are rewritten (their survivors " +
      "+ the updates land as the commit's new files), untouched files " +
      "carried by name with their stats entries verbatim. files_scoped " +
      "rides the oracle: a MERGE that rewrote the lake fails the hash. " +
      "Duplicate-id updates are refused before anything is written " +
      "(VersionedLakeSpec); the job count is pinned by " +
      "LakeMutationPlanSpec."),
    "q180_vlake_changes" -> ("the change feed derives from the " +
      "MANIFEST DIFF alone: only files present in exactly one of the " +
      "two versions are scanned (shared files never open — pinned by a " +
      "corrupted-shared-file spec), the two exceptAll diffs are " +
      "churn-sized, and update pre/post pairing is one id join over " +
      "those diffs. Replaying membership at every version is what lets " +
      "the oracle catch a feed built from the wrong side's files."),
    "q181_vlake_cluster" -> ("the snapshot's Scan reads the clustered " +
      "version's admitted files only; the operator is compact(sortCol) " +
      "— range-partition + sort-within-partitions, so per-file (min, " +
      "max) become near-disjoint and the SAME range read that admitted " +
      "all 8 interleaved files prunes. Boundaries come from Spark's " +
      "distributed range sampler (no global sort, no driver " +
      "materialization); pre_admits_all/clustering_prunes ride the " +
      "oracle as literals."),
    "q182_state_sync" -> ("the match plan is q172's shape against a " +
      "state synced FROM THE CHANGE FEED: departures (delete + " +
      "update_preimage) leave via the swap-protected anti-join " +
      "rewrite, arrivals (insert + update_postimage) append " +
      "retrain-free, in that order — a stale signature cannot survive " +
      "next to its replacement. The feed itself is churn-sized " +
      "(manifest diff), so the sync cost tracks the commits, never the " +
      "corpus; synced == rebuild is pinned in NearDupStreamSpec and " +
      "the all-pairs oracle replays the final membership."),
    "q183_stream_merge" -> ("the snapshot shows the final " +
      "manifest-driven read; the operator is commitUpsertForBatch — " +
      "q175's one-version-per-batch replay discipline applied to MERGE " +
      "semantics (batch id inside the manifest, one rename = version " +
      "committed AND batch applied), each batch rewriting only the " +
      "files holding its matched ids. Batch 0 creates the lake; the " +
      "replay probe passes different content to prove a replayed batch " +
      "is never even read. upsertStream drains a real CDC stream " +
      "through the same commit (VersionedLakeSpec pins last-writer-" +
      "wins across sequential drains and restart idempotence)."),
    "q184_ivf_sync" -> ("the snapshot shows the audit aggregate; the " +
      "operator is applyChangesToIvfLake — the ANN twin of q182: " +
      "departures leave through the cell-scoped delete (only cells " +
      "holding departed ids rewrite; sidecars and probe geometry " +
      "untouched), arrivals assign against the FROZEN centroids and " +
      "append. Synced search == frozen twin over the source lake's " +
      "final membership rides the oracle as ivf_equals_twin; " +
      "IvfLakeSpec additionally pins that a re-embedded vector answers " +
      "probes at its new position."),
    "q185_vlake_restore" -> ("the snapshot shows the post-restore " +
      "read; the operator is VersionedLake.restore — a MANIFEST-ONLY " +
      "commit listing exactly the target version's files (no data " +
      "read, copied, or rewritten: commits never delete files, only " +
      "vacuum does, and it keeps referenced ones). History stays " +
      "linear and the bad commit inspectable; cdc_inverse rides the " +
      "oracle pinning that the restore surfaces to changesBetween " +
      "consumers as the exact inverse of the commit it undoes. " +
      "VersionedLakeSpec pins the no-data-touched property by file " +
      "mtime, stats-contract rollback, vacuum interaction, and both " +
      "guards; timestamp time travel (commitTimes/versionAsOf from " +
      "manifest mtimes — no format change) is spec-pinned alongside."),
    "q186_index_lake" -> ("the snapshot shows the search plan: the " +
      "Scans read ONLY the query terms' bucket files plus the " +
      "doc-length region (both admitted driver-side from the manifest " +
      "statistics on the bucket column — the q178 skip), then the " +
      "EXACT corpus-scan scoring tail (shared code: " +
      "Retrieval.scoreAndRank — micro-rounded integer contributions, " +
      "bounded-heap top-k, no window sort near the postings). The " +
      "corpus is never re-tokenized per query batch: postings persist " +
      "as ONE VersionedLake whose rows are postings + a bucket=-1 " +
      "doc-length region, so a vintage append and a doc takedown are " +
      "each ONE atomic commit and N/avgdl can never disagree with the " +
      "postings. IndexLakeSpec pins bit-exact equality with " +
      "Retrieval.bm25TopK through build/append/takedown and the " +
      "bucket-pruning evidence."),
    "q187_hybrid_stack" -> ("q176's RRF fusion with BOTH legs served " +
      "from persisted, MUTATED state: the lexical leg reads only its " +
      "query terms' buckets of the inverted-index lake (after a " +
      "vintage append and a takedown), the vector leg scans the " +
      "embeddings versioned lake's manifest-listed files (after the " +
      "SAME takedown — one erasure request propagated to both serving " +
      "stores, the removal-request shape a production stack must " +
      "honor). Both legs stay integer-exact, so the oracle replays " +
      "BM25 over the final document membership, the quantized-dot " +
      "ranking over the final embedding membership, and the fusion " +
      "arithmetic under one hash."),
    "q188_es_to_vlake" -> ("the snapshot shows the final " +
      "manifest-driven read; the operator chain is the reference's " +
      "ingestion surface wired into the governed store — the " +
      "es-export connector's MICRO_BATCH path (file-index offsets = " +
      "the durable search_after cursor; the lang/n_chars filters are " +
      "PUSHED into the token reader, so pruned documents never " +
      "materialize) draining through appendStream's exactly-once " +
      "commits, one lake version per batch. The in-query restart on " +
      "the same checkpoint pins the no-op; the takedown lands on the " +
      "ingested lake like any other commit."),
    "q189_vlake_ttl" -> ("the snapshot shows the post-delete " +
      "manifest-driven read; the operator is commitDeleteRange — the " +
      "retention sweep with the Iceberg metadata-delete optimization: " +
      "manifest statistics classify every file DRIVER-SIDE, " +
      "fully-covered files leave the new manifest without being read " +
      "or rewritten (their row counts come from footers only), " +
      "boundary straddlers rewrite their survivors, stats-less files " +
      "are conservatively rewritten (never silently kept), and null " +
      "stats values survive every range (three-valued logic handled " +
      "explicitly). files_dropped/files_rewritten/n_rows_removed ride " +
      "the oracle — an over-eager whole-file drop loses rows, a timid " +
      "one shifts the literals. Note statEntries' soundness rule: " +
      "every entry carries an explicit per-column NULL COUNT, and a " +
      "whole-file drop requires fully-inside AND provably null-free " +
      "(nulls = 0); an entry of any other shape reads as no stats, " +
      "and stats-less files always rewrite, so no decision can ever " +
      "delete a null row."),
    "q190_cursor_sync" -> ("q182's derived-state sync with the " +
      "exactly-once contract OWNED BY THE OPERATOR: the state carries " +
      "a version cursor naming the lake version it reflects, " +
      "syncCorpusStateFromLake derives exactly the missing span's " +
      "change feed and promotes the rewritten state WITH its advanced " +
      "cursor by ONE atomic dir swap — 'state updated' and 'span " +
      "applied' are the same rename, so a crash anywhere leaves a " +
      "retry that either re-derives the same span or no-ops; nothing " +
      "applies twice, nothing skips. The in-query second sync pins the " +
      "no-op (a double-apply would duplicate signatures and fail the " +
      "exact all-pairs oracle); NearDupStreamSpec pins the mid-swap " +
      "crash recovery, synced==rebuild, and both pairing guards."),
    "q191_concurrent_append" -> ("the snapshot is the final membership " +
      "read; the OPERATOR is commitAppend's optimistic rebase-retry — " +
      "appends write unique token dirs (never a shared data/c<v>), and " +
      "a lost publish rename re-reads the now-current manifest, stacks " +
      "this append's entries on top, and retries as the next version. " +
      "Both racing appends land (v2 = winner, v3 = loser rebased, " +
      "union membership — winner_version_exact/both_landed/" +
      "linear_history ride the oracle). Mutations keep the loud " +
      "single-writer refusal; writeManifest additionally read-back-" +
      "verifies its rename so POSIX-rename stores surface a lost race " +
      "instead of silently forking. VersionedLakeHardeningSpec drives " +
      "the deterministic seam AND four real racing threads."),
    "q192_index_compact" -> ("the snapshot is the pruned BM25 search " +
      "over the compacted index lake — same shape as q186 (query-term " +
      "buckets + doc-length region only, admitted driver-side from " +
      "manifest stats). The OPERATOR is compactIndexLake = " +
      "VersionedLake.compact(sortCol=bucket): after 8 vintage appends " +
      "a one-term read opens ~9 files; the bucket-clustered rewrite " +
      "restores near-disjoint per-file (min,max) so the same read " +
      "admits <= 2 (compaction_prunes, measured pre/post driver-side) " +
      "while search stays bit-identical (search_invariant + the full " +
      "BM25 oracle replay). IndexLakeSpec pins the <= 2 bound."),
    "q193_evolve_write" -> ("schema evolution on the WRITE path: " +
      "vintage 2's commitAppend carries a superset schema, vintage " +
      "3's commitUpsert merges in the evolved schema against files " +
      "that predate the column — survivors of rewritten old files " +
      "project the new column as typed NULL, untouched old files read " +
      "it as NULL under the #schema= header, and changesBetween's " +
      "preimages do the same (preimage_lang_null). Type drift (e.g. " +
      "doc_id as string, in an upsert or an append) fails loudly " +
      "before anything is written — unionByName " +
      "coercion would corrupt the lake's column types behind every " +
      "reader. VersionedLakeHardeningSpec pins all four behaviors."),
    "q194_multicol_stats" -> ("multi-column manifest statistics: " +
      "#stats=doc_id,region with per-column (min,max,nulls) triples " +
      "per file entry. The region read prunes on the SECOND column " +
      "(4/8 files admitted — the doc_id axis is useless for it), and " +
      "commitDeleteRange(region) drops all 4 matching files " +
      "manifest-only (nulls=0 proven per entry). Both counts + drop " +
      "accounting ride the oracle; VersionedLakeHardeningSpec pins " +
      "the per-axis independence and the named-column delete."),
    "q195_zorder_lake" -> ("Z-order clustered compaction composed with " +
      "the multi-column manifest statistics: compactZOrder re-lays the " +
      "current content range-partitioned + sorted on the native Morton " +
      "interleave of (doc_id, n_chars) — every file covers a tight " +
      "bounding RECTANGLE, so the driver-side manifest skip prunes " +
      "range reads on EITHER axis (a lexicographic sortCol compaction " +
      "prunes only its leading column). Both dimensions NORMALIZE to " +
      "the same bit width before interleaving — raw interleaving hands " +
      "every top z bit to the wider-ranged column and the narrow one " +
      "never prunes (the sf0.1 sweep CAUGHT exactly this: 13-bit " +
      "doc_id vs 10-bit n_chars left zorder_prunes_y false until " +
      "normalization landed). pre_admits_all pins that the " +
      "interleaved-ingest lake prunes NEITHER axis; zorder_prunes_x/y " +
      "pin strictly-fewer admitted files per axis after the pass; the " +
      "2-dim read's membership replays exactly in SQL regardless of " +
      "the sampled z-range boundaries; NULL z-column rows sort " +
      "together and survive."),
    "q196_lake_checkpoint" -> ("manifest metadata checkpoint (the " +
      "Delta _last_checkpoint shape): every 10th commit rewrites " +
      "_versions/_checkpoint with (ts, batch, nFiles) per surviving " +
      "version, so commitTimes/history/versionAsOf and the streaming " +
      "replay cursor read ONE file plus only the manifests younger " +
      "than it. opens_bounded pins the measured manifest-open count " +
      "(<= commits-since-checkpoint, from the same process counter " +
      "VersionedLakeMetaSpec instruments); history_consistent pins " +
      "checkpoint-served == manifest-served instants; membership is a " +
      "timestamp time travel resolved through the checkpoint. The " +
      "checkpoint is a pure access-path cache: corruption or absence " +
      "falls back to manifests, and vacuum-dropped versions are " +
      "filtered by the live listing so they never resurface."),
    "q197_concurrent_mutations" -> ("file-level conflict detection " +
      "for racing mutations (publishMutation, the Delta read/write-" +
      "set discipline): deletes on DISJOINT files race — the loser " +
      "rebases over the winner's commit and BOTH land (linear " +
      "history, versions 3 and 4); deletes on the SAME file race — " +
      "the loser aborts loudly with ConcurrentMutationException and " +
      "commits NOTHING. Final membership = exactly three residue " +
      "classes deleted, replayed by the oracle, so a silently-" +
      "applied loser or a dropped winner change moves rows. " +
      "ConcurrentMutationSpec pins the full matrix (append rebases, " +
      "MERGE insert-id collisions, schema-change aborts, compaction " +
      "races)."),
    "q198_zorder3" -> ("THREE-dimension Z-order compaction: " +
      "compactZOrder(Seq(doc_id, n_chars, n_words)) normalizes each " +
      "dimension to a common bit width (63/k bits for k dims) and " +
      "lays out on MortonNCode — a native codegen'd k-ary interleave " +
      "(bit i of dim j -> z bit i*k+j, fully unrolled, whole-stage-" +
      "codegen friendly). With #stats on all three columns, EACH axis " +
      "admits strictly fewer than all files after the pass " +
      "(zorder_prunes_x/y/w, counts from the manifest alone), and the " +
      "3-dim range read's membership replays exactly in SQL. " +
      "GraftExtensionsSpec pins codegen == interpreted kernel and the " +
      "2-dim delegation to the magic-mask MortonCode."),
    "q199_schema_header" -> ("lake schema in the manifest (#schema= " +
      "header): an evolved MERGE against a header-bearing lake " +
      "derives the lake schema from ONE manifest line, and every read " +
      "runs under it — sweep_free pins, measured, that v3's header " +
      "names the evolved source column and that the AS-OF read's " +
      "columns equal the header's (no code path learns a schema from " +
      "parquet footers; a manifest without the header is refused by " +
      "version). Old files NULL-fill the evolved column; survivors of " +
      "rewritten old files keep theirs; VersionedLakeMetaSpec pins the " +
      "header on every commit kind and the one-job read."),
    "q200_delta_manifests" -> ("delta manifests — the write-" +
      "amplification half of the flat-manifest ceiling: anchor " +
      "versions (v1, every 10th) publish the full resolved file " +
      "list; versions between publish #base=<prev> + this commit's " +
      "added entries + -path removal lines, so an append or a " +
      "file-scoped mutation writes O(its churn) manifest bytes " +
      "instead of O(the lake) per commit (at 100k files that is a " +
      "few hundred bytes vs ~10 MB, every commit). Resolution walks " +
      "at most one anchor interval of small files; vacuum " +
      "MATERIALIZES the new oldest survivor (atomic content replace, " +
      "original #ts preserved) so surviving chains never dangle and " +
      "drop semantics stay version-exact. deltas_used/anchor_full/" +
      "delta_write_small pin the manifest shapes from the raw files; " +
      "membership after append+delete+upsert resolved through delta " +
      "chains replays exactly in SQL. DeltaManifestSpec pins shapes, " +
      "mutation deltas, vacuum materialization, and the replay " +
      "cursor + checkpoint riding delta histories; the [meta] " +
      "profile measures the per-commit byte collapse."),
    "q201_version_probe" -> ("checkpoint forward probe: " +
      "currentVersion anchors on the checkpoint's #ckpt_v and " +
      "existence-probes v+1, v+2, ... instead of listing _versions/ " +
      "whole — the last O(retained-commits)-per-operation metadata " +
      "cost, now one checkpoint read + O(commits since checkpoint) " +
      "stat calls. Commits are contiguous above the checkpoint " +
      "(every commit publishes cur+1; vacuum only drops a prefix " +
      "and REFRESHES the checkpoint before returning); a stale " +
      "checkpoint below a vacuumed prefix fails its anchor-existence " +
      "check and demotes to the listing — never a wrong answer. " +
      "probe_listing_free pins zero listings (versionListings " +
      "counter) on a 26-commit vacuumed lake; membership is a time " +
      "travel to v20 through surviving delta chains. " +
      "VersionedLakeMetaSpec pins the zero-listing probe, the " +
      "vacuum refresh, and both fallbacks."),
    "q202_typed_stats" -> ("typed manifest statistics (v3 tagged " +
      "values): string/double/decimal/timestamp stats columns prune " +
      "from the manifest alone — string bounds compare as UTF-8 " +
      "BYTES (the same binary order Spark's UTF8String min/max used, " +
      "so driver pruning can never mis-order what the executor " +
      "wrote), truncated mins are byte prefixes (free lower bounds), " +
      "truncated maxes increment their last non-0xFF byte (upper " +
      "bounds that only ever ADMIT more), doubles ride " +
      "Double.toString, decimals BigDecimal plain strings, " +
      "timestamps epoch micros under their own kind so a bare-long " +
      "bound can never half-match them. Unknown tags read as " +
      "no-stats (future writers degrade to full reads, never wrong " +
      "ones). string_stats_prune pins admitted == the 3 sources " +
      "inside ['src3','src5'] of 20 files; TypedStatsSpec pins " +
      "truncation conservatism, kind safety, unknown-tag handling, " +
      "and the typed metadata-only range delete."),
    "q203_region_anchors" -> ("region-partitioned anchors (one-level " +
      "manifest-of-manifests): an anchor's body is per-bucket " +
      "@region refs with content hashes; a bucket whose hash matches " +
      "the previous anchor's REUSES its immutable region file " +
      "without reading it, so the every-10th-commit anchor writes a " +
      "ref index + only churn-touched buckets (bucket count ADAPTIVE " +
      "via #regions=, targeting ~64 entries each, so one churned " +
      "file's rewrite stays O(1) as the lake grows) — the last " +
      "O(lake) write is now O(churn): measured 57 KB vs 870 KB at " +
      "10^4 files. anchor_write_bounded pins changed-refs ⊆ churn-" +
      "buckets from the raw files; readers expand refs on " +
      "resolution; vacuum sweeps regions by REFERENCE (refs are " +
      "shared across anchors). DeltaManifestSpec pins reuse, " +
      "rewrite-on-churn, reference-based sweep, and exact " +
      "resolution; the [metascale] profile measures anchor bytes at " +
      "10^4 files."))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `graft.tools.PlanDump` (sfDir=" + sfDir +
      "). Reviewed for: filters/projection reaching the parquet scan " +
      "(PushedFilters/ReadSchema), broadcast vs shuffle join choices, " +
      "TakeOrderedAndProject for top-k, partial aggregation before " +
      "every exchange. PlanSpec pins the load-bearing properties as " +
      "tests; this file is the human-readable snapshot.\n\n" +
      "Scale claims for the dedup/cluster/ANN plans below are MEASURED, " +
      "not inferred: `graft.tools.ScaleProfile` ran `minhashLsh → " +
      "clusters → dedupedCorpus` and `ivfTopK` at 10^5 and 10^6 rows, " +
      "plus the round-5 adversarial template-spam corpus (10^6 docs " +
      "containing 10^5 identical copies) — see COVERAGE.md \"Measured " +
      "scale evidence\" for the table. LSH shuffle bytes track candidate " +
      "count ~1:1, the hot-bucket star guard keeps the adversarial " +
      "corpus sub-quadratic (645,520 candidates, not 5×10^9), cluster " +
      "contraction stays on its n log n trajectory, and IVF is " +
      "wall-flat with exactly linear shuffle from 10^5 to 10^6 " +
      "vectors.\n")
    Headline.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      sb.append(s"\n## $name\n\n")
      Notes.get(name).foreach(n => sb.append(s"> NOTE: $n\n\n"))
      sb.append(s"```\n$plan```\n")
    }
    // queries with no informative result-frame plan still get their
    // load-bearing note as a named section (grep-able like a snapshot)
    Notes.keys.toSeq.sorted.filterNot(Headline.contains).foreach { name =>
      sb.append(s"\n## $name\n\n> NOTE: ${Notes(name)}\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
