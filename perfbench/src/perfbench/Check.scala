package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Output checks that decide `ok_ratio`. Each returns the first problem
  * found, or None.
  */
object Check {

  /** The lines of every TSV part file the job wrote, in file-name order. */
  def readParts(dir: Path): Seq[Vector[String]] = {
    val s = Files.list(dir)
    try s.iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector
      .sortBy(_.getFileName.toString)
      .map(p => Files.readAllLines(p, UTF_8).asScala.toVector)
    finally s.close()
  }

  /** Every part file opens with the expected header, every row has one
    * cell per column, and the `ClaimRequestId` cells are exactly the
    * generated ids, each once. The generator puts no tab, quote or
    * newline inside a value, so a row is one line and cells split on tabs.
    */
  def tsv(parts: Seq[Vector[String]], columns: Vector[String],
      ids: Set[String]): Option[String] = {
    val header = columns.mkString("\t")
    val idAt = columns.indexOf("ClaimRequestId")
    val seen = scala.collection.mutable.HashSet.empty[String]
    var rows = 0
    if (idAt < 0) return Some("expected columns lack ClaimRequestId")
    if (parts.isEmpty) return Some("no TSV part files")
    parts.iterator.flatMap { lines =>
      if (lines.headOption.forall(_ != header))
        Iterator(Some("a part file's header differs from the expected " +
          s"${columns.size} columns"))
      else lines.iterator.drop(1).map { line =>
        rows += 1
        val cells = line.split("\t", -1)
        if (cells.length != columns.size)
          Some(s"row $rows has ${cells.length} cells, expected ${columns.size}")
        else if (!ids.contains(cells(idAt)))
          Some(s"row $rows has ClaimRequestId '${cells(idAt)}', not a generated id")
        else if (!seen.add(cells(idAt)))
          Some(s"ClaimRequestId ${cells(idAt)} appears twice")
        else None
      }
    }.collectFirst { case Some(e) => e }
      .orElse(if (rows != ids.size) Some(s"$rows rows, expected ${ids.size}")
              else None)
  }

  /** The TSV check must reject a line whose id cell is wrong and a line
    * that lost a cell. Returns a message when it misses either.
    */
  def tsvSelfCheck(parts: Seq[Vector[String]], columns: Vector[String],
      ids: Set[String]): Option[String] = {
    val p = parts.indexWhere(_.size > 1)
    if (p < 0) return Some("self-check needs a part file with a row")
    val idAt = columns.indexOf("ClaimRequestId")
    def corrupt(f: Array[String] => String): Seq[Vector[String]] =
      parts.updated(p, parts(p).updated(1, f(parts(p)(1).split("\t", -1))))
    val wrongId = corrupt { c => c(idAt) = "CR-corrupted"; c.mkString("\t") }
    val lostCell = corrupt(c => c.dropRight(1).mkString("\t"))
    if (tsv(wrongId, columns, ids).isEmpty)
      Some("TSV check accepted a line with a wrong ClaimRequestId")
    else if (tsv(lostCell, columns, ids).isEmpty)
      Some("TSV check accepted a line missing a cell")
    else None
  }

  /** The lake rows a range read returned equal the model's, in id order. */
  def rows(got: Seq[LakeRow], want: Seq[LakeRow]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.sortBy(_.id).zip(want).collectFirst {
      case (g, w) if g != w => s"row $g, expected $w"
    }

  /** The lake check must reject a changed value and a missing row. */
  def rowsSelfCheck(want: Seq[LakeRow]): Option[String] =
    if (want.isEmpty) Some("self-check needs a non-empty range read")
    else if (rows(want.updated(0, want.head.copy(rev = want.head.rev + 1)),
        want).isEmpty) Some("lake check accepted a row with a wrong value")
    else if (rows(want.tail, want).isEmpty)
      Some("lake check accepted a read missing a row")
    else None

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }
}
