package graft.flatten

import java.io.{BufferedOutputStream, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{OutputMetricsAccess, TaskContext, TaskKilledException}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration

/** Complete JSON flattening — the reference's core capability
  * ([`ElasticSearch ETL.py:37-195`], `README.md:24-70`), rebuilt Spark-first.
  *
  * The reference makes two interpreted passes over every document: pass 1
  * discovers the union of leaf column paths, pass 2 re-splits each path
  * string and walks the dict per (doc × column) — O(docs × cols × depth)
  * Python dict probes. Here the passes are distributed row walks:
  *
  *   1. the schema fold (`graft.sources.EsJson.ParseSchemaFold`: Spark's
  *      per-record JSON inference, already a union across all records),
  *      then, for a document frame, ONE [[StatsPass]] over the rows for
  *      the row count, batch-max array widths and path presence;
  *   2. ONE [[RenderPass]] walk per row filling every output cell — the
  *      render plan and the column list come from a single traversal of
  *      the schema, and no per-column expression is ever built.
  *
  * A [[Vintage]] (an export of ES responses) needs no stats pass: the
  * schema fold absorbed the stats too — on the driver as a fresh `EsHttp`
  * export fetched the pages, or in one Spark job over a directory without
  * a sidecar — so its flatten is ONE Spark job, the render and TSV write,
  * walking the documents as tokens inside the page bytes, with nothing
  * cached. Both paths write through [[writeTsv]]: each render task
  * streams its part file itself, with no Hadoop `OutputFormat` or
  * committer, and the directory is published by renames alone.
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

  /** An exported vintage ready to flatten without a stats pass: its
    * response `pages`, one row a page file holding the file's text (the
    * `wholetext` text source), the JSON reader `options` its schema was
    * folded under, the documents' schema `source`, and the batch `stats`
    * of those documents, folded when the pages were fetched.
    *
    * The pages are treated as immutable: the stats are trusted as they
    * were folded. Only a changed document count is detected (the
    * flatten fails); pages changed with the count unchanged render with
    * the folded columns, so an array grown past its folded length is cut
    * to it.
    */
  final case class Vintage(pages: DataFrame, options: JSONOptions,
      source: StructType, stats: StatsPass.Batch) {
    require(pages.schema.map(_.dataType) == Seq(StringType),
      "Vintage: the pages must be one string column")
  }

  /** End-to-end TSV export: stats pass + direct row-walk rendering of
    * quoted TSV lines, written as text with a header per part-file (the
    * same layout Spark's CSV writer produces), published into `dir` as
    * [[writeTsv]] publishes. `singleFile` coalesces to one part for
    * reference-style one-file batches.
    */
  def flattenToTsv(df: DataFrame, dir: String,
      maxDepth: Int = DefaultMaxDepth,
      singleFile: Boolean = false): Written = {
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
      writeTsv(input.sparkSession, plan, RenderPass.renderTsvLines(input, plan),
        dir, singleFile)(_ => ())
      Written(plan.columns.toSeq, batch.rows)
    } finally if (weOwn) input.unpersist(blocking = false): Unit
  }

  /** [[flattenToTsv]] of a vintage: the plan comes from its folded stats,
    * so the render and TSV write is the only Spark job and nothing is
    * cached. Each task returns the rows it wrote, and the TSV is
    * published into `dir` only when their sum is the folded count. Any
    * other count means the pages changed after their stats were folded:
    * the call fails and `dir` keeps what it held, rather than publish
    * columns that no longer describe their rows.
    */
  def flattenToTsv(v: Vintage, dir: String, maxDepth: Int): Written = {
    val plan = RenderPass.compile(v.source, v.stats, maxDepth)
    val rows = writeTsv(v.pages.sparkSession, plan,
      RenderPass.renderPageTsvLines(v.pages, v.options, plan), dir,
      singleFile = false) { rows =>
      if (rows != v.stats.rows)
        throw new IllegalStateException(
          s"vintage changed under its sidecar: its stats count ${v.stats.rows} " +
            s"documents, its pages now hold $rows")
    }
    Written(plan.columns.toSeq, rows)
  }

  /** The TSV write of both flatten paths, ONE Spark job (`runJob`, so it
    * is named after this file). Each task writes its partition of `lines`
    * under a header, as UTF-8 through one buffered stream, into a
    * `part-NNNNN` file of its own attempt's directory, renames the
    * finished file into a hidden staged sibling of `dir`, reports its
    * byte length and row count as its task output metrics, and returns
    * the rows. A failed attempt therefore never leaves a partial part in
    * the staged directory, and a repeated one replaces a part with the
    * same bytes. The Hadoop configuration reaches the tasks as one
    * broadcast. Once the job and then `check` (given the rows written)
    * have passed, the staged directory is published as `dir`
    * ([[publish]]). If anything fails, `dir` keeps what it held and the
    * staged and attempt directories are removed. Returns the rows written.
    */
  private def writeTsv(spark: SparkSession, plan: RenderPass.Plan,
      lines0: RDD[String], dir: String, singleFile: Boolean)(
      check: Long => Unit): Long = {
    val header = RenderPass.tsvLine(plan.columns)
    val lines = if (singleFile) lines0.coalesce(1) else lines0
    val sc = spark.sparkContext
    val fs = new Path(dir).getFileSystem(sc.hadoopConfiguration)
    val out = fs.makeQualified(new Path(dir))
    val staged = new Path(out.getParent,
      s".${out.getName}.rendering-${UUID.randomUUID()}")
    val attempts = staged.suffix(".attempts")
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    try {
      fs.mkdirs(staged)
      val rows = sc.runJob(lines, (ctx: TaskContext, it: Iterator[String]) =>
        writePart(conf.value.value, staged, attempts, header, ctx, it)).sum
      check(rows)
      publish(fs, staged, out)
      rows
    } finally {
      fs.delete(attempts, true)
      fs.delete(staged, true)
      conf.destroy()
    }
  }

  /** One task of [[writeTsv]]: `header` and then `lines`, as UTF-8 lines,
    * into `part-NNNNN` (the partition's number) under this attempt's own
    * directory in `attempts`, then renamed into `staged`. Returns the
    * rows written.
    */
  private def writePart(conf: Configuration, staged: Path,
      attempts: Path, header: String, ctx: TaskContext,
      lines: Iterator[String]): Long = {
    val name = f"part-${ctx.partitionId()}%05d"
    val own = new Path(attempts, ctx.taskAttemptId().toString)
    val part = new Path(own, name)
    val fs = part.getFileSystem(conf)
    try {
      var rows = 0L
      var bytes = 0L
      val os = new BufferedOutputStream(fs.create(part, false), 1 << 16)
      try {
        def put(line: String): Unit = {
          val b = line.getBytes(UTF_8)
          os.write(b)
          os.write('\n')
          bytes += b.length + 1
        }
        put(header)
        while (lines.hasNext) { put(lines.next()); rows += 1 }
      } finally os.close()
      if (ctx.isInterrupted()) throw new TaskKilledException
      val dst = new Path(staged, name)
      // a store that will not rename onto an existing file keeps the
      // earlier attempt's part: the same lines
      if (!fs.rename(part, dst) && !fs.exists(dst))
        throw new IOException(s"flattenToTsv: publish $part -> $dst failed")
      OutputMetricsAccess.set(ctx, bytes, rows)
      rows
    } finally fs.delete(own, true): Unit
  }

  /** Publishes the `staged` directory as `out` by renames only: a
    * previous `out` is renamed aside to a hidden sibling, `staged` is
    * renamed in, and then the aside copy is deleted, so a crash at any
    * point leaves the previous TSV either in place or under the aside
    * name. If renaming `staged` in fails, the aside copy is renamed back
    * and the call fails, so `out` keeps what it held.
    */
  private def publish(fs: FileSystem, staged: Path, out: Path): Unit = {
    val aside = new Path(out.getParent,
      s".${out.getName}.replaced-${UUID.randomUUID()}")
    val replacing = fs.exists(out)
    if (replacing && !fs.rename(out, aside))
      throw new IOException(s"flattenToTsv: moving $out aside to $aside failed")
    try {
      if (!fs.rename(staged, out))
        throw new IOException(s"flattenToTsv: publish $staged -> $out failed")
    } catch { case e: IOException =>
      if (replacing) fs.rename(aside, out)
      throw e
    }
    if (replacing) fs.delete(aside, true): Unit
  }
}
