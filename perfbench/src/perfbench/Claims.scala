package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Synthetic claim documents of a fixed, seed-invariant shape (~5k leaf
  * columns once flattened): header scalars, nested party structs, a
  * ragged `lines` array of structs with nested `editMessages`, empty
  * arrays, an always-empty object, doubles and booleans.
  *
  * The SHAPE of document `i` depends on `i` alone (line counts, edit and
  * note counts cycle with period [[Period]]); the seed varies ids and
  * values only, and every value has a fixed width, so two seeds give the
  * same column list and pages of near-identical size.
  */
object Claims {

  sealed trait Node
  final case class Obj(fields: Vector[(String, Node)]) extends Node
  final case class Arr(items: Vector[Node]) extends Node
  final case class Str(v: String) extends Node
  final case class Num(v: String) extends Node // JSON number text
  final case class Bool(v: Boolean) extends Node

  /** Document shapes repeat every `Period` documents; a corpus is a whole
    * number of periods (at least [[MinDocs]] so every edit-count phase
    * meets every line position).
    */
  val Period = 20
  val MinDocs = 80
  private val LineCounts = Array(68, 9, 26, 3, 44, 13, 1, 31, 17, 5,
    52, 7, 21, 2, 38, 11, 4, 27, 15, 6)

  val SortFields = Seq("auditProcessedDateTimeUtc", "claimRequestId")

  final case class Doc(id: String, ts: String, json: String)
  final case class Corpus(docs: Vector[Doc], columns: Vector[String])

  private sealed trait Kind
  private case object S extends Kind // fixed-width code string
  private case object D extends Kind // double, fixed width
  private case object L extends Kind // long, fixed width
  private case object B extends Kind // boolean
  private case object Dt extends Kind // date string

  private val Header: Seq[(String, Kind)] = Seq(
    "claimNumber" -> S, "claimType" -> S, "claimStatus" -> S,
    "billType" -> S, "frequencyCode" -> S, "admissionDate" -> Dt,
    "dischargeDate" -> Dt, "statementFrom" -> Dt, "statementTo" -> Dt,
    "receivedDate" -> Dt, "totalCharges" -> D, "totalAllowed" -> D,
    "totalPaid" -> D, "patientResponsibility" -> D, "priority" -> L,
    "isAdjustment" -> B, "isDuplicate" -> B, "isElectronic" -> B,
    "placeOfService" -> S, "drgCode" -> S, "admitType" -> S,
    "admitSource" -> S, "dischargeStatus" -> S, "currency" -> S,
    "sourceSystem" -> S, "batchNumber" -> L, "retryCount" -> L)
  private val Address: Seq[(String, Kind)] = Seq(
    "line1" -> S, "line2" -> S, "city" -> S, "state" -> S, "zip" -> S)
  private val Patient: Seq[(String, Kind)] = Seq(
    "memberId" -> S, "firstName" -> S, "lastName" -> S, "dob" -> Dt,
    "gender" -> S, "relationship" -> S, "age" -> L, "eligible" -> B)
  private val Provider: Seq[(String, Kind)] = Seq(
    "npi" -> S, "taxId" -> S, "name" -> S, "specialty" -> S,
    "networkStatus" -> S, "inNetwork" -> B)
  private val Payer: Seq[(String, Kind)] = Seq(
    "payerId" -> S, "name" -> S, "planCode" -> S, "groupNumber" -> S,
    "coverageRatio" -> D, "primary" -> B)
  private val Note: Seq[(String, Kind)] = Seq(
    "author" -> S, "text" -> S, "createdAt" -> Dt)
  private val Line: Seq[(String, Kind)] = Seq(
    "lineNumber" -> L, "revenueCode" -> S, "procedureCode" -> S,
    "modifier1" -> S, "modifier2" -> S, "modifier3" -> S, "modifier4" -> S,
    "serviceFrom" -> Dt, "serviceTo" -> Dt, "units" -> D,
    "chargeAmount" -> D, "allowedAmount" -> D, "paidAmount" -> D,
    "deductible" -> D, "coinsurance" -> D, "copay" -> D, "nonCovered" -> D,
    "placeOfService" -> S, "ndcCode" -> S, "ndcQuantity" -> D,
    "ndcUnit" -> S, "diagnosisPointer" -> S, "emergency" -> B,
    "epsdt" -> B, "familyPlanning" -> B, "denied" -> B, "status" -> S,
    "remarkCode1" -> S, "remarkCode2" -> S, "remarkCode3" -> S,
    "groupCode" -> S, "reasonCode" -> S, "adjustmentAmount" -> D,
    "bundledLine" -> L, "parentLine" -> L, "authNumber" -> S,
    "priceMethod" -> S, "feeSchedule" -> S, "contractId" -> S,
    "reviewed" -> B, "reviewer" -> S, "reviewDate" -> Dt,
    "adjustedUnits" -> D, "lineNote" -> S)
  private val Adjudication: Seq[(String, Kind)] = Seq(
    "allowed" -> D, "paid" -> D, "deductible" -> D, "coinsurance" -> D,
    "copay" -> D, "method" -> S, "pricedBy" -> S, "pricedAt" -> Dt,
    "capitated" -> B, "outlier" -> B, "outlierAmount" -> D,
    "withhold" -> D)
  private val Edit: Seq[(String, Kind)] = Seq(
    "code" -> S, "severity" -> S, "message" -> S, "overridden" -> B,
    "source" -> S)

  private val Alnum = "ABCDEFGHJKLMNPQRSTUVWXYZ0123456789"

  private def value(k: Kind, r: SplittableRandom): Node = k match {
    case S => val sb = new StringBuilder(8)
      var i = 0
      while (i < 8) { sb += Alnum.charAt(r.nextInt(Alnum.length)); i += 1 }
      Str(sb.result())
    case D => Num(s"${1000 + r.nextInt(9000)}.${10 + r.nextInt(90)}")
    case L => Num((100000 + r.nextInt(900000)).toString)
    case B => Bool(r.nextBoolean())
    case Dt => Str(f"2025-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d")
  }

  private def obj(spec: Seq[(String, Kind)], r: SplittableRandom,
      extra: (String, Node)*): Obj =
    Obj(spec.map { case (n, k) => n -> value(k, r) }.toVector ++ extra)

  private def seedTag(seed: Long): Long = mix(seed) & 0xffffffffL

  /** splitmix64 finalizer: spreads consecutive seeds over the id space. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def claimId(seed: Long, i: Int): String = f"CR-${seedTag(seed)}%08x-$i%06d"

  /** Processing timestamps strictly increase with `i`, so the ES sort
    * (`auditProcessedDateTimeUtc`, `claimRequestId`) is document order.
    */
  def timestamp(seed: Long, i: Int): String = {
    val base = java.time.Instant.parse("2025-06-01T00:00:00Z")
      .plusSeconds((seedTag(seed) % 86400L) + i * 61L)
    java.time.format.DateTimeFormatter.ofPattern(
      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(base)
  }

  def document(seed: Long, i: Int): Obj = {
    val r = new SplittableRandom(mix(seed * 1000003L + i))
    val phase = i / Period
    val lines = (0 until LineCounts(i % Period)).map { j =>
      val nEdits = (phase + j) % 4
      val edits = (0 until nEdits).map(_ =>
        obj(Edit, r, "context" -> Obj(Vector.empty)))
      obj(Line, r,
        "adjudication" -> obj(Adjudication, r),
        "editMessages" -> Arr(edits.toVector))
    }
    val notes = (0 until (phase + i) % 3).map(_ => obj(Note, r))
    val diagnoses = (0 until 4 + i % 9).map(_ => value(S, r))
    Obj(Vector(
      "auditProcessedDateTimeUtc" -> Str(timestamp(seed, i)),
      "claimRequestId" -> Str(claimId(seed, i))) ++
      obj(Header, r).fields ++ Vector(
        "patient" -> obj(Patient, r, "address" -> obj(Address, r)),
        "billingProvider" -> obj(Provider, r, "address" -> obj(Address, r)),
        "renderingProvider" -> obj(Provider, r,
          "address" -> obj(Address, r)),
        "payer" -> obj(Payer, r),
        "diagnosisCodes" -> Arr(diagnoses.toVector),
        "notes" -> Arr(notes.toVector),
        "attachments" -> Obj(Vector.empty),
        "lines" -> Arr(lines.toVector)))
  }

  def toJson(n: Node, sb: java.lang.StringBuilder): Unit = n match {
    case Obj(fs) =>
      sb.append('{')
      var first = true
      fs.foreach { case (k, v) =>
        if (!first) sb.append(',')
        first = false
        quote(k, sb); sb.append(':'); toJson(v, sb)
      }
      sb.append('}')
    case Arr(xs) =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; toJson(x, sb) }
      sb.append(']')
    case Str(s) => quote(s, sb)
    case Num(s) => sb.append(s)
    case Bool(b) => sb.append(b)
  }

  def quote(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def generate(seed: Long, n: Int): Corpus = {
    require(n >= MinDocs && n % Period == 0,
      s"corpus size must be a multiple of $Period, at least $MinDocs")
    val trees = (0 until n).map(document(seed, _))
    val docs = trees.zipWithIndex.map { case (t, i) =>
      val sb = new java.lang.StringBuilder(64 * 1024)
      toJson(t, sb)
      Doc(claimId(seed, i), timestamp(seed, i), sb.toString)
    }.toVector
    Corpus(docs, columns(trees))
  }

  /** The flattened column list the documents define, derived from the
    * trees alone by the flatten contract: keys PascalCased (first letter
    * upper) and joined by `_`; struct arrays indexed up to their longest
    * instance at each concrete path, plus one whole-array JSON column
    * where some instance is empty; primitive arrays are one JSON column;
    * empty objects add no column; plain string sort.
    */
  def columns(docs: Seq[Obj]): Vector[String] = {
    sealed trait Sh
    final class SObj extends Sh {
      val fields = mutable.LinkedHashMap.empty[String, Sh]
    }
    final class SArr(var elem: Option[SObj]) extends Sh
    case object SLeaf extends Sh

    val maxLen = mutable.HashMap.empty[String, Int]
    val hasEmpty = mutable.HashSet.empty[String]

    def mergeObj(s: SObj, o: Obj, raw: String): Unit = o.fields.foreach {
      case (k, v) =>
        val p = if (raw.isEmpty) k else s"$raw.$k"
        v match {
          case c: Obj =>
            val sub = s.fields.getOrElseUpdate(k, new SObj)
              .asInstanceOf[SObj]
            mergeObj(sub, c, p)
          // the generator never leaves a primitive array empty, so an
          // all-object (or empty) array is a struct array
          case Arr(items) if items.forall(_.isInstanceOf[Obj]) =>
            val arr = s.fields.getOrElseUpdate(k, new SArr(None))
              .asInstanceOf[SArr]
            maxLen(p) = math.max(maxLen.getOrElse(p, 0), items.size)
            if (items.isEmpty) hasEmpty += p
            items.zipWithIndex.foreach { case (it, i) =>
              val e = arr.elem.getOrElse { val n = new SObj; arr.elem = Some(n); n }
              mergeObj(e, it.asInstanceOf[Obj], s"$p.$i")
            }
          case _ => s.fields(k) = SLeaf
        }
    }
    val root = new SObj
    docs.foreach(mergeObj(root, _, ""))

    val out = mutable.ArrayBuffer.empty[String]
    def pascal(k: String) = s"${k.charAt(0).toUpper}${k.substring(1)}"
    def join(a: String, b: String) = if (a.isEmpty) b else s"${a}_$b"
    def walk(s: SObj, col: String, raw: String): Unit = s.fields.foreach {
      case (k, sh) =>
        val c = join(col, pascal(k))
        val p = if (raw.isEmpty) k else s"$raw.$k"
        sh match {
          case o: SObj => walk(o, c, p)
          case a: SArr =>
            val m = maxLen.getOrElse(p, 0)
            if (hasEmpty(p) || m == 0) out += c
            a.elem.foreach(e => (0 until m).foreach(i =>
              walk(e, join(c, i.toString), s"$p.$i")))
          case SLeaf => out += c
        }
    }
    walk(root, "", "")
    out.sorted.distinct.toVector
  }

  /** Generator self-check: two seeds must give the identical column list
    * and pages (of `pageSize` documents) within 1% of each other's size.
    * Returns an error message, or None.
    */
  def selfCheck(a: Corpus, b: Corpus, pageSize: Int): Option[String] = {
    def pageBytes(c: Corpus) = c.docs.grouped(pageSize)
      .map(_.map(_.json.length.toLong).sum).toVector
    val (pa, pb) = (pageBytes(a), pageBytes(b))
    if (a.columns != b.columns)
      Some(s"column lists differ across seeds (${a.columns.size} vs " +
        s"${b.columns.size})")
    else if (pa.size != pb.size) Some("page counts differ across seeds")
    else pa.zip(pb).collectFirst {
      case (x, y) if math.abs(x - y).toDouble / math.max(x, y) > 0.01 =>
        s"page sizes differ by more than 1% across seeds ($x vs $y)"
    }
  }
}
