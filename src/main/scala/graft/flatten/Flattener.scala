package graft.flatten

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Complete JSON flattening — the reference's core capability
  * ([`ElasticSearch ETL.py:37-195`], `README.md:24-70`), rebuilt Spark-first.
  *
  * The reference makes two interpreted passes over every document: pass 1
  * discovers the union of leaf column paths, pass 2 re-splits each path
  * string and walks the dict per (doc × column) — O(docs × cols × depth)
  * Python dict probes. Here the passes are distributed row walks:
  *
  *   1. Spark JSON schema inference (already a union across all records) +
  *      ONE [[StatsPass]] over the rows for the row count, batch-max array
  *      widths and path presence;
  *   2. ONE [[RenderPass]] walk per row filling every output cell — the
  *      render plan and the column list come from a single traversal of
  *      the schema, and no per-column expression is ever built.
  *
  * Semantics (SURVEY.md §2.3 quirk decisions):
  *   - Q1  digit map keys: FIXED — `ValueCodes_45` extracts its real value
  *     (schema-driven access has no index/key ambiguity). The reference
  *     always returned `''` there.
  *   - Q2  underscore-bearing keys: FIXED — no path re-split exists. When
  *     such a key's Pascal path equals a nested one (`a_B` and `a.B` are
  *     both `A_B`), the column has one owner, the first present path in
  *     schema order (depth-first), and only that path renders into it.
  *   - Q3  case-collisions: replicated — sibling keys colliding on one
  *     Pascal name resolve by the reference's probe order (camel first).
  *   - Q4  ragged arrays: replicated — unindexed column emitted iff some
  *     document has the array empty; its value is the full JSON of the
  *     array (`[]` for the empty ones).
  *   - Q5  missing/null/empty conflation: replicated — all become `''`.
  *     One sub-case diverges: a key explicitly `null` in EVERY document is
  *     indistinguishable from an absent key after JSON parsing, so no
  *     column is emitted where the reference would emit an all-`''` one.
  *   - Q9  lexicographic column order (string sort, `_10_` < `_2_`):
  *     replicated.
  *   - booleans render `True`/`False` at top level but lowercase inside
  *     JSON cells; doubles use Python `str(float)` shape ([[PyFormat]]).
  *   - date, timestamp, binary, map and interval leaves are rejected with
  *     an error naming the path: JSON never yields them, and their
  *     internal values (day and microsecond counts) are not their text.
  */
object Flattener {

  val DefaultMaxDepth = 20

  /** Flatten every row of `df` (one row = one document) into all-string
    * leaf columns, lexicographically ordered. The stats pass and every
    * action on the lazy result each read `df`; nothing is cached here,
    * because a cache taken by this call could never be released. A
    * caller that wants the input parsed once caches `df` itself.
    */
  def flatten(df: DataFrame, maxDepth: Int = DefaultMaxDepth): DataFrame = {
    val plan = RenderPass.compile(df.schema, StatsPass.collect(df), maxDepth)
    if (plan.columns.isEmpty) df.sparkSession.emptyDataFrame
    else RenderPass.render(df, plan)
  }

  /** What [[flattenToTsv]] wrote: the header's columns and the number of
    * documents (= data rows).
    */
  final case class Written(columns: Seq[String], rows: Long)

  /** End-to-end TSV export: stats pass + direct row-walk rendering of
    * quoted TSV lines, written as text with a header per part-file (the
    * same layout Spark's CSV writer produces). `singleFile` coalesces to
    * one part for reference-style one-file batches.
    */
  def flattenToTsv(df: DataFrame, dir: String,
      maxDepth: Int = DefaultMaxDepth,
      singleFile: Boolean = false): Written = {
    val spark = df.sparkSession
    // this call is TERMINAL (the TSV write is the last job over the
    // input), so it can cache the input for its two passes and RELEASE
    // the cache before returning: a long-running export loop (the
    // streaming batch path, the bench's repeated samples) would otherwise
    // accumulate one pinned parsed-input RDD per call — hundreds of MB
    // each for wide documents — until memory pressure throttles every
    // later call (measured: 6x spread across 5 same-input samples with 10
    // pinned RDDs at the end).
    val weOwn = df.storageLevel == StorageLevel.NONE
    val input = if (weOwn) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    try {
      val batch = StatsPass.collect(input)
      val plan = RenderPass.compile(input.schema, batch, maxDepth)
      val header = RenderPass.tsvLine(plan.columns)
      val lines0 = RenderPass.renderTsvLines(input, plan)
      val lines = if (singleFile) lines0.coalesce(1) else lines0
      val withHeader = lines.mapPartitions(it => Iterator(header) ++ it)
      import spark.implicits._
      spark.createDataset(withHeader).write.mode("overwrite").text(dir)
      Written(plan.columns.toSeq, batch.rows)
    } finally if (weOwn) input.unpersist(blocking = false): Unit
  }
}
