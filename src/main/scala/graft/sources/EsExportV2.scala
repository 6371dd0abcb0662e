package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.util.{Map => JMap}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for exported Elasticsearch search responses —
  * the reference's paginated scan (`ElasticSearch ETL.py:214-267`,
  * SURVEY.md §2.1 #1/#3) as a FIRST-CLASS Spark source instead of a
  * read-then-unwrap helper ([[EsJson]] remains the DataFrame-level twin;
  * both enforce the same envelope contract).
  *
  * Spark-native design — the connector rung of the extension ladder
  * (native `Expression`s → `TypedImperativeAggregate` → custom
  * `LogicalPlan`/Strategy → `SparkSessionExtensions` → DataSourceV2):
  *
  *   - **Partition planning**: one `InputPartition` per exported response
  *     file. Each file IS one `search_after` page, so the page structure
  *     the reference walks sequentially becomes the parallelism unit —
  *     a million pages are a million independently schedulable tasks,
  *     no driver loop, listing-only planning (file contents untouched).
  *   - **Column pruning** (`SupportsPushDownRequiredColumns`): the reader
  *     parses ONLY the required `_source` fields; everything else is
  *     `skipChildren()`'d at the Jackson token level — unrequested
  *     subtrees are never materialized (the difference between touching
  *     2 and 5,000 columns of a wide export).
  *   - **Filter pushdown** (`SupportsPushDownFilters`): comparison /
  *     null / IN / string-match predicates on top-level atomic fields
  *     evaluate inside the reader with exact Spark null semantics, so
  *     fully-pushed filters return no residual and non-matching
  *     documents never leave the scan. Filter columns pruned out of the
  *     output are still parsed (scan schema = required ∪ filter refs),
  *     then projected away.
  *
  * Usage:
  * {{{
  *   spark.read.format("es-export")        // registered short name
  *     .schema(docSchema)                  // optional; inferred when absent
  *     .load("/exports/pages")
  * }}}
  *
  * A file may hold one pretty-printed response (the reference's export
  * shape), concatenated / line-delimited responses, bare document
  * objects, or a top-level JSON array of documents — one token loop
  * handles all of these. Schema inference delegates to [[EsJson.read]]:
  * the directory's sidecar when it carries one, else the one-job schema
  * fold over its files ([[EsJson.ParseSchemaFold]], one response per
  * file), unwrapped ([[EsJson.unwrap]]); concatenated-response files need
  * an explicit schema.
  */
class EsExportSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "es-export"

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "es-export requires a path")
    p
  }

  /** Schema inference, faithful to the reference's per-batch pass-1
    * (`ElasticSearch ETL.py:171-181`) — but BOUNDED on demand:
    * `schemaSampleFiles=N` infers from only the first N pages of the
    * sorted listing (pages of one export share a layout, so a prefix is
    * representative), keeping inference O(N files) instead of a full
    * extra pass over a 100-TB export. An explicit `.schema(...)` skips
    * this method entirely (Spark calls `getTable` with the user schema).
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = pathOf(options)
    val multiLine = options.getBoolean("multiLine", true)
    val sample = options.getInt("schemaSampleFiles", 0)
    val spark = SparkSession.active
    if (sample > 0) {
      val prefix = EsExportListing.list(path).take(sample).map(_.path)
      require(prefix.nonEmpty,
        s"es-export: no page files under $path to infer a schema from")
      EsJson.readFiles(spark, prefix.toSeq, multiLine).schema
    } else EsJson.read(spark, path, multiLine).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new EsExportTable(schema, new CaseInsensitiveStringMap(properties))
}

private[sources] class EsExportTable(tableSchema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {

  override def name(): String = s"es-export(${options.get("path")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val mode = Option(options.get("mode")).getOrElse("failfast")
      .toLowerCase(java.util.Locale.ROOT)
    require(mode == "failfast" || mode == "permissive",
      s"es-export mode must be failfast or permissive, got $mode")
    new EsExportScanBuilder(tableSchema, options.get("path"),
      mode == "permissive")
  }
}

/** One pushed aggregate function over (at most) one top-level atomic
  * column. `outType` is the type Spark's post-scan final aggregation
  * expects at that position: Long for counts and integral sums, Double
  * for floating sums, the column type for min/max.
  */
private[sources] final case class PushedAggCol(kind: String, name: String,
    colType: DataType, outType: DataType) extends Serializable

/** A fully-translated pushed aggregation: group-by columns (in pushed
  * order) + aggregate functions. The scan's output schema becomes
  * `groupBy ++ aggs` — the row shape `V2ScanRelationPushDown` rewires
  * the final aggregation onto.
  */
private[sources] final case class PushedAggregation(
    groupBy: Seq[(String, DataType)], aggs: Seq[PushedAggCol])
  extends Serializable {

  def schema: StructType = StructType(
    groupBy.map { case (n, t) => StructField(n, t) } ++
      aggs.zipWithIndex.map { case (a, i) =>
        StructField(s"pushed_${a.kind}_$i", a.outType,
          nullable = a.kind != "count_star" && a.kind != "count")
      })

  /** The columns the reader must parse: group keys + aggregate inputs. */
  def inputSchema(full: StructType): StructType = {
    val names = (groupBy.map(_._1) ++ aggs.filter(_.name.nonEmpty).map(_.name))
      .distinct
    StructType(names.map(n => full.fields.find(_.name == n).get))
  }

  override def toString: String =
    (groupBy.map { case (n, _) => s"group:$n" } ++
      aggs.map(a => if (a.name.isEmpty) a.kind else s"${a.kind}(${a.name})"))
      .mkString(", ")
}

private[sources] class EsExportScanBuilder(fullSchema: StructType,
    path: String, permissive: Boolean) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggregation: Option[PushedAggregation] = None
  private var limit: Int = -1

  /** Limit pushdown — PARTIALLY pushed (`isPartiallyPushed = true`, so
    * Spark keeps the global Limit operator): each page reader stops
    * PARSING after emitting `n` post-filter documents, turning
    * `df.limit(n)` over a million-page export into ≤ n parsed docs per
    * page instead of a full-corpus scan. Never combined with a pushed
    * aggregation (Spark pushes limits only past exact 1:1 operators,
    * but guard anyway — a limited fold would be wrong).
    */
  override def pushLimit(n: Int): Boolean =
    if (aggregation.isDefined) false
    else { limit = n; true }

  override def isPartiallyPushed(): Boolean = true

  /** A filter is pushable when every referenced column is a TOP-LEVEL
    * atomic field of the table schema and the predicate shape is one the
    * reader evaluates exactly (Spark null semantics) — those need no
    * residual re-check.
    */
  private def pushable(f: Filter): Boolean = f match {
    case sources.And(l, r) => pushable(l) && pushable(r)
    case sources.Or(l, r)  => pushable(l) && pushable(r)
    case sources.Not(c)    => pushable(c)
    case leaf =>
      val shapeOk = leaf match {
        case _: sources.EqualTo | _: sources.GreaterThan |
             _: sources.GreaterThanOrEqual | _: sources.LessThan |
             _: sources.LessThanOrEqual | _: sources.In |
             _: sources.IsNull | _: sources.IsNotNull |
             _: sources.StringStartsWith | _: sources.StringEndsWith |
             _: sources.StringContains => true
        case _ => false
      }
      shapeOk && leaf.references.nonEmpty &&
        leaf.references.forall { name =>
          !name.contains(".") &&
            fullSchema.fields.find(_.name == name).exists(_.dataType match {
              case StringType | LongType | IntegerType | DoubleType |
                   FloatType | BooleanType => true
              case _ => false
            })
        }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition(pushable)
    pushed = sup
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // once an aggregation is pushed the scan's schema IS the aggregate
    // row shape; a later prune call (over that shape) must not clobber
    // the document-field projection the agg reader parses
    if (aggregation.isEmpty) required = requiredSchema

  /** Aggregate pushdown (`SupportsPushDownAggregates`) — PARTIAL mode:
    * each page reader folds its documents into one partial-aggregate
    * row per group at the token level (rows never surface), and Spark's
    * final aggregation merges the per-partition partials (sum of
    * counts/sums, min of mins, max of maxes). The distributed twin of
    * the reference's server-side `ES.count` (`ElasticSearch
    * ETL.py:215`) — generalized to count/min/max/sum with group-by, and
    * composing with pushed filters (Spark only offers an aggregation
    * after every filter was pushed, so the reader's predicate gate runs
    * before the fold). Partial — never complete — pushdown: per-group
    * state is bounded by one PAGE's group cardinality, no reader needs
    * the global answer, and correctness is independent of how pages
    * are split into partitions.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    def atomicField(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        fullSchema.fields.find(_.name == nr.fieldNames()(0)).filter {
          _.dataType match {
            case StringType | LongType | IntegerType | DoubleType |
                 FloatType | BooleanType => true
            case _ => false
          }
        }
      case _ => None
    }
    def sumOut(dt: DataType): Option[DataType] = dt match {
      case LongType | IntegerType => Some(LongType)
      case DoubleType | FloatType => Some(DoubleType)
      case _ => None
    }
    val groups = agg.groupByExpressions.toSeq.map(atomicField)
    if (groups.exists(_.isEmpty)) return false
    val funcs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(PushedAggCol("count_star", "", NullType, LongType))
      case c: Count if !c.isDistinct =>
        atomicField(c.column).map(f =>
          PushedAggCol("count", f.name, f.dataType, LongType))
      case m: Min =>
        atomicField(m.column).map(f =>
          PushedAggCol("min", f.name, f.dataType, f.dataType))
      case m: Max =>
        atomicField(m.column).map(f =>
          PushedAggCol("max", f.name, f.dataType, f.dataType))
      case s: Sum if !s.isDistinct =>
        atomicField(s.column).flatMap(f => sumOut(f.dataType).map(out =>
          PushedAggCol("sum", f.name, f.dataType, out)))
      case _ => None
    }
    if (funcs.exists(_.isEmpty) || funcs.isEmpty) return false
    aggregation = Some(PushedAggregation(
      groups.map(g => g.get.name -> g.get.dataType), funcs.map(_.get)))
    true
  }

  override def build(): Scan =
    new EsExportScan(fullSchema, required, pushed, path, permissive,
      aggregation, limit)
}

/** Serializable Hadoop conf (Configuration is Writable, not
  * Serializable) — carried from driver planning to executor readers.
  */
private[sources] class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[sources] case class EsFilePartition(path: String, length: Long)
  extends InputPartition

/** Synthetic zero-row partition planned when an ungrouped aggregation
  * is pushed over an empty export listing (see planInputPartitions).
  */
private[sources] case object EsEmptyPartition extends InputPartition

private[sources] object EsExportListing {
  /** Driver-side sorted listing of an export path — pages are written
    * in `search_after` order, so the path-sorted listing IS the
    * pagination order. Shared by batch/stream planning and the bounded
    * schema-inference prefix.
    */
  def list(path: String): Array[EsFilePartition] = {
    val hconf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val matched = Option(fs.globStatus(p))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
    val files = matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }.filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    files.sortBy(_.getPath.toString)
      .map(st => EsFilePartition(st.getPath.toString, st.getLen))
  }
}

private[sources] class EsExportScan(fullSchema: StructType,
    required: StructType, pushed: Array[Filter],
    path: String, permissive: Boolean = false,
    aggregation: Option[PushedAggregation] = None,
    limit: Int = -1) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType =
    aggregation.map(_.schema).getOrElse(required)

  /** Listing-derived size so the planner can make real broadcast/join
    * decisions — a V2 source without statistics defaults to
    * `spark.sql.defaultSizeInBytes` (effectively "huge"), which forbids
    * broadcasting even a 3-page export. Byte size = the files
    * themselves (pessimistic: JSON text upper-bounds the projected
    * row width); row count stays unknown (counting would read data at
    * PLANNING time — the thing this connector never does).
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = listFiles().map(_.length).sum
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

  override def toBatch: Batch = this

  override def description(): String =
    s"EsExportScan PushedFilters: [${pushed.mkString(", ")}], " +
      aggregation.map(a => s"PushedAggregation: [$a], ").getOrElse("") +
      (if (limit >= 0) s"PushedLimit: $limit, " else "") +
      s"ReadSchema: ${readSchema().catalogString}"

  /** Driver-side LISTING only — file contents are never touched at
    * planning time. Sorted by path: export pages are written in
    * `search_after` order, so the sorted listing IS the pagination
    * order (the contract the streaming offset leans on).
    */
  private[sources] def listFiles(): Array[EsFilePartition] =
    EsExportListing.list(path)

  /** One partition per exported page file. An EMPTY export directory
    * with a pushed ungrouped aggregation still plans one synthetic
    * partition: the agg reader's unconditional partial row is what
    * makes `count(*)` over nothing return 0 — with zero partitions no
    * partial reaches Spark's final aggregation and the Sum-of-counts
    * rewrite would return NULL instead.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = listFiles()
    if (files.isEmpty && aggregation.exists(_.groupBy.isEmpty))
      Array(EsEmptyPartition)
    else files.map(p => p: InputPartition)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new EsExportMicroBatchStream(this)

  private[sources] def readerFactory(): PartitionReaderFactory =
    createReaderFactory()

  override def createReaderFactory(): PartitionReaderFactory = {
    // scan schema = required ∪ filter-referenced top-level fields: a
    // fully-pushed filter's column may be pruned from the output, but the
    // reader still has to parse it to evaluate the predicate. With a
    // pushed aggregation, "required" is the aggregate's input columns
    // (group keys + function arguments) and the row reader's output is
    // folded per partition instead of surfaced.
    val rowOutput = aggregation.map(_.inputSchema(fullSchema))
      .getOrElse(required)
    val filterRefs = pushed.flatMap(_.references).distinct
      .filterNot(rowOutput.fieldNames.contains)
      .flatMap(n => fullSchema.fields.find(_.name == n))
    val parseSchema = StructType(rowOutput.fields ++ filterRefs)
    val base = new EsExportReaderFactory(parseSchema, rowOutput, pushed,
      permissive, new SerializableHadoopConf(
        SparkSession.active.sparkContext.hadoopConfiguration))
    aggregation match {
      case Some(spec) => new EsExportAggReaderFactory(base, rowOutput, spec)
      case None if limit >= 0 => new EsExportLimitReaderFactory(base, limit)
      case None => base
    }
  }
}

private[sources] class EsExportLimitReaderFactory(
    base: EsExportReaderFactory, limit: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val under = base.createReader(partition)
    new PartitionReader[InternalRow] {
      private var emitted = 0
      override def next(): Boolean = {
        // stop PARSING the page once this partition has satisfied the
        // limit on its own — the global Limit Spark keeps merges
        // partitions' prefixes
        val has = emitted < limit && under.next()
        if (has) emitted += 1
        has
      }
      override def get(): InternalRow = under.get()
      override def close(): Unit = under.close()
    }
  }
}

private[sources] class EsExportAggReaderFactory(
    base: EsExportReaderFactory, input: StructType,
    spec: PushedAggregation) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val under = partition match {
      case EsEmptyPartition => new PartitionReader[InternalRow] {
        override def next(): Boolean = false
        override def get(): InternalRow =
          throw new IllegalStateException("empty partition")
        override def close(): Unit = ()
      }
      case _ => base.createReader(partition)
    }
    new EsExportAggReader(under, input, spec)
  }
}

/** Folds one partition's document rows into partial-aggregate rows —
  * one per group (one unconditional row when there is no group-by, so
  * count over an empty page is 0, not absent). State is bounded by the
  * PAGE's group cardinality; nothing global is computed here — Spark's
  * final aggregation owns the merge. Null semantics match the Catalyst
  * functions the partials feed: count(col) skips nulls, min/max/sum
  * ignore nulls and stay NULL over an all-null group, doubles compare
  * NaN-greatest like Spark's ordering.
  */
private[sources] class EsExportAggReader(
    under: PartitionReader[InternalRow], input: StructType,
    spec: PushedAggregation) extends PartitionReader[InternalRow] {

  private val groupIdx = spec.groupBy.map { case (n, _) =>
    input.fieldIndex(n) }.toArray
  private val groupTypes = spec.groupBy.map(_._2).toArray
  private val aggIdx = spec.aggs.map(a =>
    if (a.name.isEmpty) -1 else input.fieldIndex(a.name)).toArray

  private var rows: Iterator[InternalRow] = _
  private var current: InternalRow = _

  private def lt(dt: DataType, a: Any, b: Any): Boolean = dt match {
    case LongType    => a.asInstanceOf[Long] < b.asInstanceOf[Long]
    case IntegerType => a.asInstanceOf[Int] < b.asInstanceOf[Int]
    case DoubleType  => java.lang.Double.compare(
      a.asInstanceOf[Double], b.asInstanceOf[Double]) < 0
    case FloatType   => java.lang.Float.compare(
      a.asInstanceOf[Float], b.asInstanceOf[Float]) < 0
    case StringType  => a.asInstanceOf[UTF8String]
      .compareTo(b.asInstanceOf[UTF8String]) < 0
    case BooleanType => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
    case other => throw new IllegalStateException(s"unorderable $other")
  }

  private def fold(): Unit = {
    val groups = collection.mutable.LinkedHashMap.empty[Seq[Any], Array[Any]]
    def accFor(key: Seq[Any]): Array[Any] =
      groups.getOrElseUpdate(key, spec.aggs.map { a =>
        if (a.kind == "count_star" || a.kind == "count") 0L.asInstanceOf[Any]
        else null
      }.toArray)
    if (groupIdx.isEmpty) accFor(Nil): Unit // ungrouped: always one row
    while (under.next()) {
      val row = under.get()
      val key = groupIdx.indices.map { i =>
        val gi = groupIdx(i)
        if (row.isNullAt(gi)) null
        else row.get(gi, groupTypes(i)) match {
          case s: UTF8String => s.copy() // reader may reuse buffers
          case v => v
        }
      }
      val acc = accFor(key)
      var j = 0
      while (j < aggIdx.length) {
        val a = spec.aggs(j)
        a.kind match {
          case "count_star" => acc(j) = acc(j).asInstanceOf[Long] + 1L
          case "count" =>
            if (!row.isNullAt(aggIdx(j)))
              acc(j) = acc(j).asInstanceOf[Long] + 1L
          case "min" | "max" =>
            if (!row.isNullAt(aggIdx(j))) {
              val v = row.get(aggIdx(j), a.colType) match {
                case s: UTF8String => s.copy()
                case x => x
              }
              if (acc(j) == null ||
                  (a.kind == "min" && lt(a.colType, v, acc(j))) ||
                  (a.kind == "max" && lt(a.colType, acc(j), v)))
                acc(j) = v
            }
          case "sum" =>
            if (!row.isNullAt(aggIdx(j))) {
              val v = row.get(aggIdx(j), a.colType)
              acc(j) = (a.outType, acc(j)) match {
                case (LongType, null) => toL(v)
                case (LongType, prev) => prev.asInstanceOf[Long] + toL(v)
                case (_, null) => toD(v)
                case (_, prev) => prev.asInstanceOf[Double] + toD(v)
              }
            }
        }
        j += 1
      }
    }
    rows = groups.iterator.map { case (key, acc) =>
      new GenericInternalRow((key ++ acc).toArray)
    }
  }

  private def toL(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalStateException(s"non-integral sum: $other")
  }
  private def toD(v: Any): Double = v match {
    case f: Float => f.toDouble
    case d: Double => d
    case other => throw new IllegalStateException(s"non-floating sum: $other")
  }

  override def next(): Boolean = {
    if (rows == null) fold()
    val has = rows.hasNext
    if (has) current = rows.next()
    has
  }

  override def get(): InternalRow = current

  override def close(): Unit = under.close()
}

/** Streaming offset for the export connector: the number of files of the
  * sorted export listing already processed. Export pages are written in
  * `search_after` order with monotonically increasing names
  * (`listFiles()`'s contract), so new pages only ever APPEND to the
  * sorted listing and a plain prefix count is a complete, restartable
  * cursor — the durable twin of the reference's client-held
  * `search_after` state (`ElasticSearch ETL.py:220-267`).
  */
private[sources] case class EsFileIndexOffset(index: Int, last: String)
    extends Offset {
  // `last` anchors the prefix: the full path of the (index-1)-th listed
  // file ("" for index 0). A
  // prefix COUNT alone cannot detect a page name that sorts into the
  // middle of the listing (page-10000 after page-9999 under 4-digit
  // padding, or a retried export rewriting an earlier page) — every
  // index silently shifts and files get re-read or skipped; the anchor
  // turns that into a loud failure at plan time.
  override def json(): String =
    s"""{"i":$index,"last":"${EsFileIndexOffset.esc(last)}"}"""
}

private[sources] object EsFileIndexOffset {
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** The offset `json()` writes; anything else (a bare integer too) fails
    * as malformed.
    */
  def parse(json: String): EsFileIndexOffset = {
    val t = json.trim
    def malformed = new IllegalArgumentException(
      s"malformed es-export offset: $t")
    if (!t.startsWith("{")) throw malformed
    val i = "\"i\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(t)
      .map(_.group(1).toInt).getOrElse(throw malformed)
    val last = "\"last\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findFirstMatchIn(t).map(_.group(1)
        .replace("\\\"", "\"").replace("\\\\", "\\"))
      .getOrElse("")
    EsFileIndexOffset(i, last)
  }
}

/** Micro-batch stream over an export directory: each trigger picks up
  * every page file that appeared since the last committed offset, one
  * `InputPartition` (= one task) per file, reusing the batch scan's
  * token-level pruned/filtered reader untouched. An EMPTY page file
  * (zero hits — the reference's loop-termination hazard, quirk Q7)
  * still advances the offset: progress is counted in files, not
  * documents, so an empty page can never wedge the stream.
  *
  * All state lives in the engine's checkpoint (the serialized offset);
  * this object only caches the directory listing. Restart semantics:
  * the engine replays from the last committed offset, `known` is
  * re-listed on demand, and files below the offset are never re-read —
  * exactly-once file accounting without a driver-side log.
  */
private[sources] class EsExportMicroBatchStream(scan: EsExportScan)
    extends MicroBatchStream {

  /** Cached sorted listing; only ever replaced by a longer one (the
    * append-only contract), so offsets stay valid across refreshes.
    */
  @volatile private var known: Array[EsFilePartition] = scan.listFiles()

  private def anchorAt(n: Int): String =
    if (n == 0) "" else known(n - 1).path

  override def initialOffset(): Offset = EsFileIndexOffset(0, "")

  override def latestOffset(): Offset = {
    val latest = scan.listFiles()
    if (latest.length > known.length) known = latest
    EsFileIndexOffset(known.length, anchorAt(known.length))
  }

  override def deserializeOffset(json: String): Offset =
    EsFileIndexOffset.parse(json)

  /** The offset's prefix-count contract holds only if the listing is
    * append-only in SORTED order; `checkAnchor` verifies it — the file
    * the offset says it stopped at must still sit at that index.
    */
  private def checkAnchor(o: EsFileIndexOffset): Unit =
    if (o.index > 0 && o.last.nonEmpty) {
      val at = known(o.index - 1).path
      require(at == o.last,
        s"export listing shifted under the stream: offset ${o.index} was " +
          s"committed at '${o.last}' but the listing now has '$at' there — " +
          "a new page sorted into the middle (non-monotonic page names?) " +
          "or an earlier page was rewritten; refusing to mis-count files")
    }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[EsFileIndexOffset]
    val eo = end.asInstanceOf[EsFileIndexOffset]
    val s = so.index
    val e = eo.index
    if (e > known.length) known = scan.listFiles() // restart: re-list
    require(e <= known.length,
      s"checkpointed offset $e exceeds the ${known.length}-file export " +
        "listing — export pages must never be deleted under a live stream")
    checkAnchor(so)
    checkAnchor(eo)
    known.slice(s, e).map(p => p: InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.readerFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[sources] class EsExportReaderFactory(parseSchema: StructType,
    required: StructType, pushed: Array[Filter], permissive: Boolean,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EsExportReader(partition.asInstanceOf[EsFilePartition],
      parseSchema, required, pushed, permissive, conf.value)
}

/** Streaming token-level reader for one exported page file.
  *
  * `permissive = true` (reader option `mode=permissive`) degrades a
  * malformed/truncated page — the reference's interrupted-export
  * hazard — to "documents parsed so far stand, rest of THIS file is
  * skipped" instead of failing the task; the default failfast wraps
  * the parser error with the file path.
  */
private[sources] class EsExportReader(part: EsFilePartition,
    parseSchema: StructType, required: StructType, pushed: Array[Filter],
    permissive: Boolean, hconf: Configuration)
  extends PartitionReader[InternalRow] {

  private val p = new Path(part.path)
  private val parser: JsonParser = new JsonFactory().createParser(
    new java.io.BufferedInputStream(p.getFileSystem(hconf).open(p)))

  private val parseIdx = new SchemaIndex(parseSchema)

  // projection from parse row → required row (identity when no filter
  // column was pruned from the output)
  private val outIdx: Array[Int] =
    required.fieldNames.map(parseSchema.fieldIndex)
  private val isIdentity = outIdx.length == parseSchema.length &&
    outIdx.zipWithIndex.forall { case (a, b) => a == b }

  private var current: InternalRow = _
  /** True while the cursor sits inside an envelope's hits.hits array. */
  private var inHitsArray = false

  override def next(): Boolean = {
    current =
      try nextMatchingDoc()
      catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          if (permissive) null // rest of this corrupt file is skipped
          else throw new java.io.IOException(
            s"malformed es-export page ${part.path}: ${e.getMessage}", e)
      }
    current != null
  }

  override def get(): InternalRow = current

  override def close(): Unit = parser.close()

  private def nextMatchingDoc(): InternalRow = {
    var row = nextDoc()
    while (row != null && !FilterEval.all(pushed, row, parseSchema)) {
      row = nextDoc()
    }
    if (row == null || isIdentity) row
    else {
      val values = row.asInstanceOf[GenericInternalRow].values
      new GenericInternalRow(outIdx.map(values(_)))
    }
  }

  /** Advance to the next document (`_source` of an envelope hit, a bare
    * top-level object, or an element of a top-level array) and parse it
    * against `parseSchema`. Returns null at end of file.
    */
  private def nextDoc(): InternalRow = {
    while (true) {
      if (inHitsArray) {
        val t = parser.nextToken()
        if (t == null) return null
        if (t == JsonToken.END_ARRAY) {
          // page exhausted: unwind the rest of the inner hits object and
          // the outer envelope object so trailing fields (max_score,
          // aggregations, …) are not mistaken for new top-level values
          inHitsArray = false
          drainObject() // rest of inner "hits" {...}
          drainObject() // rest of the envelope {...}
        } else if (t == JsonToken.START_OBJECT) {
          val src = parseHitForSource()
          if (src != null) return src
        } else {
          parser.skipChildren()
        }
      } else {
        val t = parser.nextToken()
        if (t == null) return null // EOF
        t match {
          case JsonToken.START_OBJECT =>
            // envelope (has a "hits" object field) or bare document,
            // resolved while streaming. If the user schema itself models
            // a "hits" column, envelope navigation is off by contract.
            if (parseIdx.byName.containsKey("hits")) {
              return JsonRowParser.parseStruct(parser, parseIdx)
            }
            val values = new Array[Any](parseSchema.length)
            var fieldTok = parser.nextToken()
            var matchedEnvelope = false
            while (fieldTok == JsonToken.FIELD_NAME && !matchedEnvelope) {
              val name = parser.currentName()
              parser.nextToken()
              if (name == "hits" &&
                  parser.currentToken() == JsonToken.START_OBJECT) {
                if (enterInnerHits()) {
                  inHitsArray = true
                  matchedEnvelope = true
                } else {
                  // a "hits" object without an inner array: treat as an
                  // (already consumed) opaque field of a bare doc
                  fieldTok = parser.nextToken()
                }
              } else {
                val i = parseIdx.byName.get(name)
                if (i == null) parser.skipChildren()
                else values(i) = JsonRowParser.parseValue(parser,
                  parseIdx.dataTypes(i), parseIdx.children(i))
                fieldTok = parser.nextToken()
              }
            }
            if (!matchedEnvelope) {
              // consumed through END_OBJECT: this was a bare document
              return new GenericInternalRow(values)
            }
          case JsonToken.START_ARRAY =>
            // top-level array of documents: descend; each element object
            // returns through the START_OBJECT branch of later calls
            ()
          case JsonToken.END_ARRAY => ()
          case _ => () // stray scalar between values: ignore
        }
      }
    }
    null // unreachable
  }

  /** After END_ARRAY of hits.hits: consume the remaining fields and the
    * closing END_OBJECT of the current object.
    */
  private def drainObject(): Unit = {
    var t = parser.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      parser.nextToken()
      parser.skipChildren()
      t = parser.nextToken()
    }
    // t is now END_OBJECT (consumed) or null/unexpected — either way the
    // object is closed from the cursor's perspective
  }

  /** Inside the outer "hits" object: advance INTO the inner "hits"
    * array. Returns false (cursor past the object) when there is none.
    */
  private def enterInnerHits(): Boolean = {
    var t = parser.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      val name = parser.currentName()
      parser.nextToken()
      if (name == "hits" && parser.currentToken() == JsonToken.START_ARRAY) {
        return true
      }
      parser.skipChildren()
      t = parser.nextToken()
    }
    false
  }

  /** Inside a hit object: parse its `_source` subtree, skip all ES
    * metadata (`_id`, `_index`, `sort`, …). Consumes through the hit's
    * END_OBJECT. Returns null when the hit has no `_source`.
    */
  private def parseHitForSource(): InternalRow = {
    var src: InternalRow = null
    var t = parser.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      val name = parser.currentName()
      parser.nextToken()
      if (name == "_source" &&
          parser.currentToken() == JsonToken.START_OBJECT) {
        src = JsonRowParser.parseStruct(parser, parseIdx)
      } else {
        parser.skipChildren()
      }
      t = parser.nextToken()
    }
    src
  }
}

/** Precomputed name→index lookup tree for one StructType: per-row
  * parsing does hash lookups on field names instead of linear schema
  * scans, and nested struct / array-of-struct children get their own
  * node, built ONCE per reader.
  */
private[sources] final class SchemaIndex(val schema: StructType) {
  val byName = new java.util.HashMap[String, Integer](schema.length * 2)
  schema.fields.zipWithIndex.foreach { case (f, i) =>
    byName.put(f.name, i)
  }
  val dataTypes: Array[DataType] = schema.fields.map(_.dataType)
  val children: Array[SchemaIndex] = schema.fields.map(_.dataType match {
    case st: StructType => new SchemaIndex(st)
    case ArrayType(st: StructType, _) => new SchemaIndex(st)
    case _ => null
  })
}

/** Jackson-token → Catalyst value conversion with schema-directed
  * pruning: fields absent from the schema are `skipChildren()`'d, never
  * materialized.
  */
private[sources] object JsonRowParser {

  /** Current token must be START_OBJECT; consumes through END_OBJECT. */
  def parseStruct(parser: JsonParser, idx: SchemaIndex): GenericInternalRow = {
    val values = new Array[Any](idx.dataTypes.length)
    var t = parser.nextToken()
    while (t == JsonToken.FIELD_NAME) {
      val name = parser.currentName()
      parser.nextToken()
      val i = idx.byName.get(name)
      if (i == null) parser.skipChildren()
      else values(i) = parseValue(parser, idx.dataTypes(i), idx.children(i))
      t = parser.nextToken()
    }
    new GenericInternalRow(values)
  }

  /** Parser positioned ON the value token; consumes the whole value.
    * Type mismatches degrade to null (the JSON reader's permissive-null
    * contract), never to an exception. `child` is the SchemaIndex of the
    * struct type reachable through `dt` (struct or array-of-struct),
    * null otherwise.
    */
  def parseValue(parser: JsonParser, dt: DataType, child: SchemaIndex): Any = {
    val t = parser.currentToken()
    if (t == JsonToken.VALUE_NULL) return null
    dt match {
      case StringType => t match {
        case JsonToken.VALUE_STRING | JsonToken.VALUE_NUMBER_INT |
             JsonToken.VALUE_NUMBER_FLOAT | JsonToken.VALUE_TRUE |
             JsonToken.VALUE_FALSE =>
          UTF8String.fromString(parser.getText)
        case _ => parser.skipChildren(); null
      }
      case LongType =>
        if (t == JsonToken.VALUE_NUMBER_INT) parser.getLongValue
        else { parser.skipChildren(); null }
      case IntegerType =>
        if (t == JsonToken.VALUE_NUMBER_INT) parser.getIntValue
        else { parser.skipChildren(); null }
      case DoubleType =>
        if (t == JsonToken.VALUE_NUMBER_INT ||
            t == JsonToken.VALUE_NUMBER_FLOAT) parser.getDoubleValue
        else { parser.skipChildren(); null }
      case FloatType =>
        if (t == JsonToken.VALUE_NUMBER_INT ||
            t == JsonToken.VALUE_NUMBER_FLOAT) parser.getFloatValue
        else { parser.skipChildren(); null }
      case BooleanType => t match {
        case JsonToken.VALUE_TRUE  => true
        case JsonToken.VALUE_FALSE => false
        case _ => parser.skipChildren(); null
      }
      case ArrayType(et, _) =>
        if (t == JsonToken.START_ARRAY) {
          // deeper nesting than the precomputed tree covers (array of
          // array of struct) builds its node lazily — rare by contract
          val elChild = et match {
            case _: StructType => child
            case ArrayType(st: StructType, _) => new SchemaIndex(st)
            case _ => null
          }
          val buf = new ArrayBuffer[Any]
          var el = parser.nextToken()
          while (el != JsonToken.END_ARRAY && el != null) {
            buf += parseValue(parser, et, elChild)
            el = parser.nextToken()
          }
          new GenericArrayData(buf.toArray)
        } else { parser.skipChildren(); null }
      case _: StructType =>
        if (t == JsonToken.START_OBJECT) parseStruct(parser, child)
        else { parser.skipChildren(); null }
      case _ => parser.skipChildren(); null
    }
  }
}

/** Exact executor-side evaluation of pushed `sources.Filter`s over a
  * parsed row, with Spark null semantics: a comparison on a null/missing
  * value is NOT satisfied (only IsNull matches it).
  */
private[sources] object FilterEval {

  def all(filters: Array[Filter], row: InternalRow,
      schema: StructType): Boolean =
    filters.forall(f => eval(f, row, schema))

  private def fieldValue(name: String, row: InternalRow,
      schema: StructType): Any = {
    val i = schema.fieldIndex(name)
    if (row.isNullAt(i)) null
    else row.asInstanceOf[GenericInternalRow].values(i)
  }

  def eval(f: Filter, row: InternalRow, schema: StructType): Boolean =
    eval3(f, row, schema).contains(true)

  /** FULL Kleene three-valued evaluation — `None` is SQL NULL — so the
    * collapse to "keep the row" happens exactly once at the top, the
    * same way a post-scan Catalyst Filter keeps only TRUE. Collapsing
    * per-node (the previous `defined`-guard shape) gets NOT wrong in
    * both directions: `NOT(x IN (v, NULL))` on a non-matching x is
    * NULL → drop (a boolean evaluator keeps it), while
    * `NOT(false AND NULL)` is TRUE → keep (a "whole subtree must be
    * defined" guard drops it). Filters claimed pushable return no
    * residual, so Catalyst never re-checks — the semantics here must
    * be exact, not conservative.
    */
  private def eval3(f: Filter, row: InternalRow,
      schema: StructType): Option[Boolean] = f match {
    case sources.And(l, r) =>
      (eval3(l, row, schema), eval3(r, row, schema)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
    case sources.Or(l, r) =>
      (eval3(l, row, schema), eval3(r, row, schema)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
    case sources.Not(c) => eval3(c, row, schema).map(!_)
    case sources.IsNull(a) =>
      Some(fieldValue(a, row, schema) == null)
    case sources.IsNotNull(a) =>
      Some(fieldValue(a, row, schema) != null)
    case sources.EqualTo(a, v) =>
      cmp(fieldValue(a, row, schema), v).map(_ == 0)
    case sources.GreaterThan(a, v) =>
      cmp(fieldValue(a, row, schema), v).map(_ > 0)
    case sources.GreaterThanOrEqual(a, v) =>
      cmp(fieldValue(a, row, schema), v).map(_ >= 0)
    case sources.LessThan(a, v) =>
      cmp(fieldValue(a, row, schema), v).map(_ < 0)
    case sources.LessThanOrEqual(a, v) =>
      cmp(fieldValue(a, row, schema), v).map(_ <= 0)
    case sources.In(a, vs) =>
      val x = fieldValue(a, row, schema)
      if (x == null) None
      else {
        val cs = vs.map(v => cmp(x, v))
        if (cs.exists(_.contains(0))) Some(true)
        // no match but a NULL in the list ⇒ the IN itself is NULL
        else if (cs.exists(_.isEmpty)) None
        else Some(false)
      }
    case sources.StringStartsWith(a, pre) =>
      str(fieldValue(a, row, schema)).map(_.startsWith(pre))
    case sources.StringEndsWith(a, suf) =>
      str(fieldValue(a, row, schema)).map(_.endsWith(suf))
    case sources.StringContains(a, sub) =>
      str(fieldValue(a, row, schema)).map(_.contains(sub))
    case _ => Some(false) // unpushable shapes never reach here
  }

  private def str(x: Any): Option[String] = x match {
    case null => None
    case u: UTF8String => Some(u.toString)
    case other => Some(other.toString)
  }

  /** Compare a parsed Catalyst value with an external filter literal.
    * None ⇔ null operand (comparison undefined).
    */
  private def cmp(x: Any, v: Any): Option[Int] = (x, v) match {
    case (null, _) | (_, null) => None
    case (a: UTF8String, b: String) => Some(a.toString.compareTo(b))
    case (a: UTF8String, b: UTF8String) => Some(a.compareTo(b))
    case (a: Boolean, b: Boolean) => Some(java.lang.Boolean.compare(a, b))
    case (a: Long, b: Long)   => Some(java.lang.Long.compare(a, b))
    case (a: Int, b: Int)     => Some(java.lang.Integer.compare(a, b))
    case (a: Long, b: Int)    => Some(java.lang.Long.compare(a, b.toLong))
    case (a: Int, b: Long)    => Some(java.lang.Long.compare(a.toLong, b))
    case (a: Number, b: Number) =>
      Some(java.lang.Double.compare(a.doubleValue(), b.doubleValue()))
    case _ => None
  }
}
