package graft.flatten

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Single-pass batch statistics for the flattener: the row count,
  * per-indexed-path array widths + empties AND per-path presence, computed
  * in ONE distributed pass over the input.
  *
  * Spark schemas carry `ArrayType(elementType)` with no length, but the
  * flattening contract expands array-of-object columns positionally, with
  * the column set unioned across all documents (the reference's pass-1
  * column-set union [`ElasticSearch ETL.py:171-181`]). The expansion width
  * is per *indexed* path, not per schema path: `lines.0.messages` and
  * `lines.5.messages` get independent widths, exactly as the reference
  * discovers columns per concrete element [`ETL.py:61-65`].
  *
  * This pass is plain JVM code walking Tungsten rows once
  * (`queryExecution.toRdd` — external-Row conversion via `df.rdd` costs
  * seconds per pass on 5k-leaf documents): no codegen, no shuffle
  * (per-partition partial stats reduce to the driver as one small map).
  */
object StatsPass {

  /** Batch-max length of one indexed array-of-struct path, and whether
    * some document holds it as `[]` (quirk Q4).
    */
  final case class Stats(maxLen: Int, hasEmpty: Boolean)

  final case class Batch(
      rows: Long,
      arrays: Map[String, Stats],
      present: Set[String])

  private final class Acc extends Serializable {
    var rows = 0L
    val maxLen = collection.mutable.HashMap.empty[String, Int]
    val hasEmpty = collection.mutable.HashSet.empty[String]
    val present = collection.mutable.HashSet.empty[String]

    def merge(o: Acc): Acc = {
      rows += o.rows
      o.maxLen.foreach { case (k, v) =>
        maxLen.update(k, math.max(maxLen.getOrElse(k, 0), v))
      }
      hasEmpty ++= o.hasEmpty
      present ++= o.present
      this
    }
  }

  /** Walk one field/element of `c` (an InternalRow or ArrayData — both are
    * SpecializedGetters with the same positional API); `path` is the raw
    * dotted path with numeric segments for bound array indices (the same
    * keys [[RenderPass]]'s plan compilation looks up).
    */
  private def walkField(c: SpecializedGetters, ord: Int, dt: DataType,
      path: String, acc: Acc): Unit = {
    if (c.isNullAt(ord)) return
    acc.present += path
    dt match {
      case st: StructType =>
        val r = c.getStruct(ord, st.length)
        var i = 0
        val fields = st.fields
        while (i < fields.length) {
          walkField(r, i, fields(i).dataType, s"$path.${fields(i).name}", acc)
          i += 1
        }
      case ArrayType(et: StructType, _) =>
        val xs = c.getArray(ord)
        val n = xs.numElements()
        if (n == 0) acc.hasEmpty += path
        if (n > acc.maxLen.getOrElse(path, 0)) acc.maxLen.update(path, n)
        var i = 0
        while (i < n) {
          walkField(xs, i, et, s"$path.$i", acc)
          i += 1
        }
      case _ => () // primitive / primitive-array / nested-array cell
    }
  }

  def collect(df: DataFrame): Batch = {
    val schema = df.schema
    val partials = df.queryExecution.toRdd.mapPartitions { it =>
      val acc = new Acc
      val fields = schema.fields
      it.foreach { row =>
        acc.rows += 1
        var i = 0
        while (i < fields.length) {
          walkField(row, i, fields(i).dataType, fields(i).name, acc)
          i += 1
        }
      }
      Iterator.single(acc)
    }.collect()
    val merged = partials.foldLeft(new Acc)(_ merge _)
    Batch(
      merged.rows,
      merged.maxLen.map { case (p, m) =>
        p -> Stats(m, merged.hasEmpty.contains(p))
      }.toMap ++
        // paths that were only ever empty arrays never enter maxLen
        merged.hasEmpty.filterNot(merged.maxLen.contains)
          .map(p => p -> Stats(0, hasEmpty = true)).toMap,
      merged.present.toSet)
  }
}
