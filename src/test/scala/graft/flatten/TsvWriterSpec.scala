package graft.flatten

import java.io.{IOException, OutputStream}
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The TSV writer's contract ([[Flattener.flattenToTsv]]): one-pass
  * quoting equals the `indexOf` + `replace` formula it replaced; the
  * published directory holds only `part-*` files and their checksums;
  * each task's output metrics are its part file's length; a failed
  * publish rename keeps the previous TSV; and a retried attempt leaves
  * exactly its own lines in the published part.
  */
class TsvWriterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def names(dir: JPath): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  private def parts(dir: JPath): Map[String, String] =
    names(dir).filter(_.startsWith("part-"))
      .map(n => n -> Files.readString(dir.resolve(n))).toMap

  /** The quoting formula of the earlier `tsvLine`: four `indexOf` scans,
    * then `replace` on a cell that needs quoting.
    */
  private def oracleLine(vals: Array[String]): String = vals.map { v =>
    if (v.indexOf('\t') >= 0 || v.indexOf('"') >= 0 ||
        v.indexOf('\n') >= 0 || v.indexOf('\r') >= 0)
      "\"" + v.replace("\"", "\"\"") + "\""
    else v
  }.mkString("\t")

  test("tsvLine: one-pass quoting equals the indexOf + replace formula") {
    val cells = Seq("", "plain", "\"", "\"\"\"", "\"first", "last\"",
      "mid\"dle", "\r", "a\rb", "tab\tand\"quote", "\t\"\n\r",
      "line\nbreak", "[{\"a\":1,\"b\":\"x\"}]", "naïve ünïcödé",
      "日本語\t\"引用\"", "emoji 😀\"", "\u0000\"")
    cells.foreach(c => assert(RenderPass.tsvLine(Array(c)) === oracleLine(Array(c)),
      s"cell ${c.map(_.toInt)}"))
    for (a <- cells; b <- cells) {
      val row = Array(a, b, "", a)
      assert(RenderPass.tsvLine(row) === oracleLine(row))
    }
    assert(RenderPass.tsvLine(Array()) === "")
  }

  test("the published directory holds only part files and their checksums") {
    import spark.implicits._
    val parent = Files.createTempDirectory("tsv_listing_")
    val docs = (1 to 40).map(i => s"""{"id":$i,"x":"v$i"}""")
    Flattener.flattenToTsv(spark.read.json(docs.toDS).repartition(3),
      parent.resolve("tsv").toString): Unit
    val listed = names(parent.resolve("tsv"))
    assert(listed.filter(_.startsWith("part-")) ===
      Seq("part-00000", "part-00001", "part-00002"))
    assert(listed.forall(n => n.startsWith("part-") ||
      n.startsWith(".part-") && n.endsWith(".crc")), listed)
    assert(names(parent) === Seq("tsv"), "nothing staged is left beside it")
    // a frame with no partitions writes no part file
    Flattener.flattenToTsv(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      spark.read.json(docs.toDS).schema), parent.resolve("none").toString): Unit
    assert(names(parent.resolve("none")) === Nil)
  }

  test("each task's output metrics are its part file's bytes and rows") {
    import spark.implicits._
    val parent = Files.createTempDirectory("tsv_metrics_")
    val out = parent.resolve("tsv")
    val seen = new ConcurrentLinkedQueue[(Long, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).map(_.outputMetrics)
          .filter(_.bytesWritten > 0)
          .foreach(m => seen.add(m.bytesWritten -> m.recordsWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    try graft.JobsStarted(spark)(Flattener.flattenToTsv(
      spark.read.json((1 to 30).map(i => s"""{"id":$i,"q":"a\\"b$i"}""").toDS)
        .repartition(2), out.toString))
    finally spark.sparkContext.removeSparkListener(listener)
    val files = parts(out)
    assert(seen.asScala.toSeq.sorted === files.values.toSeq.map(t =>
      t.getBytes("UTF-8").length.toLong -> (t.count(_ == '\n') - 1L)).sorted)
    assert(files.values.map(_.count(_ == '\n') - 1).sum === 30)
  }

  test("a failed publish rename keeps the previous TSV, nothing left aside") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.stagedrename.impl", classOf[StagedRenameFs].getName)
    val parent = Files.createTempDirectory("tsv_replace_")
    val dir = s"stagedrename://$parent/tsv"
    Flattener.flattenToTsv(spark.read.json(Seq("""{"id":1,"x":"a"}""").toDS),
      dir, singleFile = true): Unit
    val before = parts(parent.resolve("tsv"))
    assert(before.values.exists(_.startsWith("Id\tX")))
    StagedRenameFs.armed = true
    val e =
      try intercept[IOException](Flattener.flattenToTsv(
        spark.read.json(Seq("""{"id":2,"y":"b"}""").toDS), dir,
        singleFile = true))
      finally StagedRenameFs.armed = false
    assert(e.getMessage.contains("injected"), e.getMessage)
    assert(parts(parent.resolve("tsv")) === before)
    assert(names(parent) === Seq("tsv"))
    // the same filesystem, unarmed, replaces it
    Flattener.flattenToTsv(spark.read.json(Seq("""{"id":2,"y":"b"}""").toDS),
      dir, singleFile = true): Unit
    assert(parts(parent.resolve("tsv")).values.toSeq === Seq("Id\tY\n2\tb\n"))
    assert(names(parent) === Seq("tsv"))
  }

  test("local[2,2]: a retried attempt leaves exactly its own lines") {
    val parent = Files.createTempDirectory("tsv_retry_")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, "-Xmx1g", "-Dspark.ui.enabled=false") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"),
        TsvRetryMain.getClass.getName.stripSuffix("$"), parent.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(parent.resolve("log").toFile).start()
    assert(proc.waitFor() === 0, Files.readString(parent.resolve("log")))
    assert(Files.readString(parent.resolve("log")).contains("injected=1"))
    val retried = parts(parent.resolve("retried"))
    assert(retried.keySet === Set("part-00000", "part-00001"))
    assert(retried === parts(parent.resolve("clean")))
    assert(retried.values.map(_.count(_ == '\n') - 1).sum === TsvRetryMain.Rows)
    assert(names(parent.resolve("retried")).forall(n =>
      n.startsWith("part-") || n.startsWith(".part-") && n.endsWith(".crc")))
    assert(names(parent) === Seq("clean", "log", "retried"))
  }
}

/** Writes one document frame twice in a fresh `local[2,2]` JVM (two task
  * attempts allowed): through [[PartialWriteFs]], whose first `part-00000`
  * stream fails partway through, into `<dir>/retried`, and plainly into
  * `<dir>/clean`. Prints how often the failure was injected.
  */
object TsvRetryMain {
  val Rows = 20000

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2,2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      spark.sparkContext.hadoopConfiguration
        .set("fs.partialwrite.impl", classOf[PartialWriteFs].getName)
      val df = spark.range(0, Rows, 1, 2)
        .selectExpr("id", "concat('text \"', id, '\"') AS x")
      Flattener.flattenToTsv(df, s"partialwrite://${args(0)}/retried"): Unit
      Flattener.flattenToTsv(df, s"${args(0)}/clean"): Unit
      println(s"injected=${PartialWriteFs.injected}")
    } finally spark.stop()
  }
}

/** Test filesystem (`partialwrite://`) over the local one: the first
  * stream it creates for a `part-00000` writes [[PartialWriteFs.Limit]]
  * bytes to the file and then fails.
  */
class PartialWriteFs extends RawLocalFileSystem {
  override def getScheme: String = "partialwrite"
  override def getUri: URI = URI.create("partialwrite:///")

  private def wrap(f: Path, s: FSDataOutputStream): FSDataOutputStream =
    if (f.getName != "part-00000" || !PartialWriteFs.first.compareAndSet(true, false)) s
    else new FSDataOutputStream(new OutputStream {
      PartialWriteFs.injected += 1
      private var left = PartialWriteFs.Limit
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        s.write(b, off, math.min(len, left))
        if (len > left) {
          s.flush()
          throw new IOException(s"injected: $f failed after ${PartialWriteFs.Limit} bytes")
        }
        left -= len
      }
      override def close(): Unit = s.close()
    }, null)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    wrap(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    wrap(f, super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
}

object PartialWriteFs {
  val Limit = 100000
  val first = new AtomicBoolean(true)
  @volatile var injected = 0
}

/** Test filesystem (`stagedrename://`) over the local one whose rename
  * of a staged TSV directory into place fails while
  * [[StagedRenameFs.armed]]: the write job has finished, and the
  * previous directory has already been moved aside.
  */
class StagedRenameFs extends RawLocalFileSystem {
  override def getScheme: String = "stagedrename"
  override def getUri: URI = URI.create("stagedrename:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (StagedRenameFs.armed && src.getName.contains(".rendering-"))
      throw new IOException(s"injected: rename $src -> $dst")
    else super.rename(src, dst)
}

object StagedRenameFs {
  @volatile var armed = false
}
