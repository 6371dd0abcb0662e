package graft.flatten

import com.fasterxml.jackson.databind.JsonNode

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
  *
  * An export of ES responses needs no such pass: the schema fold
  * (`graft.sources.EsJson.ParseSchemaFold`) absorbs the same stats into a
  * [[Tree]] — on the driver from the pages a fresh `EsHttp` export
  * fetches, or per partition for a directory without a sidecar — and a
  * vintage carries them in its sidecar. [[collect]] remains the flatten's
  * pass for document frames (`runDocs`, streaming batches, bare-document
  * directories) and the oracle the fold is tested against.
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

  /** The batch stats of the parsed rows of `df`, in one Spark job. */
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

  /** In-place accumulator of the batch stats of JSON documents, absorbed
    * one parsed tree at a time on the driver, in the style of
    * [[EmptyShapes.Shape]]: one mutable node per object key and array
    * index, each recording whether some document holds a non-null value
    * there, the largest array length and whether an array was ever empty.
    * The tree also keeps paths [[collect]] never visits (indices inside
    * scalar arrays, keys under a value the schema widened to string);
    * [[batch]] walks it together with the documents' final schema and
    * emits only the paths [[collect]] reaches over rows parsed with that
    * schema, so the two agree exactly. Not thread-safe; the trees of
    * several partitions combine with [[merge]].
    */
  final class Tree extends Serializable {
    private var rows = 0L
    private val root = new Tree.Node

    /** Absorbs one document; a null or missing one still counts as a row
      * (an all-null row, as a null hit explodes to).
      */
    def add(doc: JsonNode): Unit = { rows += 1; root.add(doc) }

    /** Absorbs the documents `other` absorbed. */
    def merge(other: Tree): Unit = { rows += other.rows; root.merge(other.root) }

    /** The stats [[collect]] gives over the documents parsed with
      * `schema`.
      */
    def batch(schema: StructType): Batch = {
      val present = Set.newBuilder[String]
      val arrays = Map.newBuilder[String, Stats]
      def walk(n: Tree.Node, dt: DataType, path: String): Unit =
        if (n != null && n.present) {
          present += path
          dt match {
            case st: StructType => fields(n, st, path + ".")
            case ArrayType(et: StructType, _) =>
              arrays += path -> Stats(n.maxLen, n.hasEmpty)
              var i = 0
              while (i < n.maxLen) { walk(n.elem(i), et, s"$path.$i"); i += 1 }
            case _ => ()
          }
        }
      def fields(n: Tree.Node, st: StructType, prefix: String): Unit =
        st.fields.foreach(f => walk(n.child(f.name), f.dataType, prefix + f.name))
      fields(root, schema, "")
      Batch(rows, arrays.result(), present.result())
    }
  }

  private object Tree {
    final class Node extends Serializable {
      var present = false
      var maxLen = 0
      var hasEmpty = false
      private var children: java.util.HashMap[String, Node] = _
      private var elems: java.util.ArrayList[Node] = _

      def child(key: String): Node =
        if (children == null) null else children.get(key)

      def elem(i: Int): Node =
        if (elems == null || i >= elems.size) null else elems.get(i)

      def add(n: JsonNode): Unit =
        if (!n.isNull && !n.isMissingNode) {
          present = true
          if (n.isObject) {
            if (children == null) children = new java.util.HashMap[String, Node]
            val it = n.fields()
            while (it.hasNext) {
              val e = it.next()
              children.computeIfAbsent(e.getKey, _ => new Node).add(e.getValue)
            }
          } else if (n.isArray) {
            val len = n.size()
            if (len == 0) hasEmpty = true
            if (len > maxLen) maxLen = len
            if (elems == null) elems = new java.util.ArrayList[Node]
            while (elems.size < len) elems.add(new Node)
            var i = 0
            while (i < len) { elems.get(i).add(n.get(i)); i += 1 }
          }
        }

      def merge(o: Node): Unit = {
        present |= o.present
        if (o.maxLen > maxLen) maxLen = o.maxLen
        hasEmpty |= o.hasEmpty
        if (o.children != null) {
          if (children == null) children = new java.util.HashMap[String, Node]
          o.children.forEach((k, v) =>
            children.computeIfAbsent(k, _ => new Node).merge(v))
        }
        if (o.elems != null) {
          if (elems == null) elems = new java.util.ArrayList[Node]
          while (elems.size < o.elems.size) elems.add(new Node)
          var i = 0
          while (i < o.elems.size) { elems.get(i).merge(o.elems.get(i)); i += 1 }
        }
      }
    }
  }
}
