package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned parquet lake with time travel — the Iceberg/Delta snapshot
  * discipline reduced to its load-bearing core, on nothing but parquet
  * files and atomic renames (the same primitives every other manifest
  * protocol in this engine runs on, so it works wherever they do:
  * local FS, HDFS, and rename-capable object-store connectors).
  *
  * Layout:
  * {{{
  *   dir/data/c<version>/part-*.parquet   mutation commits' files —
  *                                        immutable once published,
  *                                        NEVER rewritten
  *   dir/data/a<token>/part-*.parquet     append commits' files (one
  *                                        unique dir per append, so
  *                                        concurrent appends never share
  *                                        a data dir) — same immutability
  *   dir/_versions/v<version>.txt         manifest; the atomic publish
  *                                        of it is the commit (hard
  *                                        link on local FS, no-replace
  *                                        rename elsewhere). ANCHOR
  *                                        versions (v1 and every
  *                                        [[ManifestAnchorInterval]]-th)
  *                                        carry the FULL resolved file
  *                                        set as REGION REFS
  *                                        (`@region-file` lines — see
  *                                        `_versions/regions/`); the
  *                                        versions between are DELTAS:
  *                                        a `#base=<v>` header, `-path`
  *                                        removal lines, and this
  *                                        commit's added entries — so
  *                                        an append or a file-scoped
  *                                        mutation publishes O(churn)
  *                                        bytes, not O(lake), and
  *                                        resolution walks at most one
  *                                        interval of small files.
  *                                        [[vacuum]] materializes the
  *                                        new oldest survivor so no
  *                                        surviving delta ever loses
  *                                        its base.
  *   dir/_versions/_checkpoint            metadata checkpoint, rewritten
  *                                        every [[CheckpointInterval]]
  *                                        commits: (ts, batch, nFiles)
  *                                        per version, so history /
  *                                        commitTimes / the streaming
  *                                        replay cursor open one file
  *                                        plus only the manifests
  *                                        younger than it — a pure
  *                                        access-path cache (corruption
  *                                        or absence falls back to the
  *                                        manifests)
  * }}}
  *
  * Why this shape at 100 TB:
  *   - Reads are MANIFEST-DRIVEN: [[readAsOf]] hands Spark the explicit
  *     file list, so no read ever lists `data/` — on S3-class stores,
  *     listing a 100k-file prefix per query is the dominant metadata
  *     cost and the thing Iceberg exists to remove.
  *   - A delete rewrites only the files that HOLD deleted ids (found by
  *     a column-pruned scan of the id column + `_metadata.file_path`);
  *     every other file is carried into the new manifest by name. Old
  *     files stay on disk, which is exactly what keeps prior versions
  *     readable — storage is reclaimed explicitly by [[vacuum]], never
  *     implicitly by a commit.
  *   - Manifest METADATA is O(churn) at every commit: deltas carry
  *     their own adds/removals, and anchors carry region REFS — a
  *     one-level manifest-of-manifests tree
  *     (`_versions/regions/g<bucket>-<token>.txt`, immutable,
  *     content-hashed, shared across anchors) where an anchor rewrites
  *     only the regions its churn touched. A 100k-file lake's anchor
  *     writes a 16-line index plus the churned buckets, not a ~10 MB
  *     full list every 10th commit.
  *
  * Crash safety: data files land under their commit dir BEFORE the
  * manifest appears, so a crashed commit leaves only orphan files no
  * manifest references — invisible to every reader, reclaimed by
  * [[vacuum]] (every crashed writer's retry is simply a fresh attempt
  * under a fresh token dir — append `a<token>`, mutation `m<token>`).
  *
  * Writer concurrency — optimistic with file-level conflict detection
  * (the Delta read/write-set discipline):
  *   - APPENDS commute. [[commitAppend]] writes its data under a
  *     unique token dir, then publishes with a rebase-retry loop: when
  *     a racing writer lands the version first, the append re-reads
  *     the now-current manifest, stacks its (already written) file
  *     entries on top, and retries as the next version. Two racing
  *     appends therefore BOTH land — the ingest+compaction-daemon
  *     topology works without external coordination.
  *   - MUTATIONS (delete, upsert, range delete, compaction, streaming
  *     MERGE batches) publish through [[publishMutation]]: DISJOINT
  *     racing mutations rebase and both land (two deletes on different
  *     files; a compaction racing an append; a MERGE racing an
  *     unrelated delete), while OVERLAPPING ones — a racing commit
  *     removed a file this mutation also rewrites, a schema change
  *     under a MERGE, an insert-id collision with a racing append —
  *     abort loudly with [[ConcurrentMutationException]] and commit
  *     NOTHING. Rebase semantics are Delta-WriteSerializable: the
  *     mutation applies to its snapshot, racing arrivals survive it.
  *   - RESTORE and VACUUM keep the single-writer rule (their plans
  *     depend on the whole version list, not a file subset).
  *   - The publish primitive is ATOMIC NO-REPLACE, probed per store:
  *     a hard link on local FS (`link(2)` — exactly one racing writer
  *     succeeds, the rest get EEXIST); ATOMIC CONDITIONAL CREATE on
  *     stores advertising [[AtomicCreateStore]] (the S3
  *     `If-None-Match` PUT shape — same exactly-one-winner guarantee
  *     at the store primitive); the no-replace rename on HDFS; and
  *     rename + read-back verify on everything else — which detects
  *     torn and lost-race publishes but CANNOT serialize two
  *     simultaneous complete copies (the one remaining window of that
  *     store class, pinned with its conditional-create close by
  *     ObjectStoreContractSpec).
  *
  * Manifest headers (lines starting with `#`). Every committed version
  * carries `#ts=` and `#schema=` — the writer stamps both on every
  * commit kind, and a manifest without them is refused by name rather
  * than read some other way:
  *   - `#ts=<epochMillis>`  commit wall-clock, stamped at publish by
  *     [[writeManifest]]; [[commitTimes]] reads it, so a lake copied
  *     with cp/rsync/object-store migration keeps its time-travel
  *     answers.
  *   - `#schema=<StructType json>`  the LAKE SCHEMA as of this commit:
  *     every read and rewrite runs under it (one manifest line, no
  *     parquet footer opened, no schema-inference job), and a column a
  *     file predates reads NULL. Appends merge their frame's new columns
  *     in and refuse a shared column at a different type; upserts stamp
  *     the evolved schema; maintenance commits carry it forward.
  *   - `#batch=<id>`  streaming-batch provenance ([[commitAppendForBatch]]);
  *     `-1` is an explicit cursor reset stamped by [[restore]].
  *   - `#stats=<col1>[,<col2>...]`  the lake's statistics column LIST.
  *
  * Manifest file entries:
  *   - `path`                              no statistics
  *   - `path` + per stats column `<TAB>min<TAB>max<TAB>nulls`: an
  *     all-null column records `-<TAB>-<TAB>n`. Null counts are what
  *     make metadata-only range drops sound: a file drops whole ONLY
  *     when fully inside the range AND provably null-free. Min/max
  *     VALUES are plain longs for integral columns and TAGGED
  *     encodings for string (`s` + percent-encoded UTF-8 bytes,
  *     truncation-safe), double (`f`), decimal (`c`) and timestamp
  *     (`t`, micros) columns — see [[statVal]]. An entry of any other
  *     shape, or a value with an unknown tag, reads as no stats, so
  *     pruning never guesses.
  */
/** The third manifest-publish primitive, for stores with neither a
  * local `link(2)` nor an atomic no-replace rename: ATOMIC CONDITIONAL
  * CREATE — the S3 `If-None-Match: *` PUT shape (public since 2024),
  * also GCS's `ifGenerationMatch=0` and Azure's `If-None-Match`. A
  * store connector advertises the capability by mixing this in;
  * [[VersionedLake.writeManifest]] probes for it before falling back
  * to rename + read-back verify (which detects torn and lost-race
  * publishes but cannot make two SIMULTANEOUS complete copies
  * serialize — the one open window of the rename class, closed here at
  * the store primitive like `link(2)` closes it locally).
  */
trait AtomicCreateStore {
  /** Create `p` holding exactly `bytes` iff `p` is absent — atomically:
    * true = this call created it; false = it already existed (a racer
    * won). Never replaces, never leaves a partial destination.
    */
  def createExclusive(p: Path, bytes: Array[Byte]): Boolean
}

object VersionedLake {

  private val VersionsName = "_versions"
  private val DataName = "data"

  /** A full metadata checkpoint is rewritten every this-many commits —
    * the Delta `_last_checkpoint` shape: commit-time / batch-cursor /
    * file-count lookups for versions at or below the checkpoint read
    * ONE file instead of opening every manifest, so [[history]],
    * [[commitTimes]] (and with them time travel + retention) and the
    * streaming replay probe stay O(commits since checkpoint) on a lake
    * with tens of thousands of commits.
    */
  private val CheckpointInterval = 10L
  private val CheckpointName = "_checkpoint"

  /** Every this-many versions a commit writes a FULL manifest (an
    * ANCHOR); the commits between write DELTA manifests — a `#base=`
    * header plus only this commit's added entries and `-path` removal
    * lines. A 100k-file lake's append then publishes a few hundred
    * bytes instead of rewriting a multi-MB file list per commit — the
    * write-amplification half of the flat-manifest ceiling
    * (resolution walks at most this many small files; [[vacuum]]
    * MATERIALIZES the new oldest survivor so every surviving chain
    * stays resolvable and drop semantics are unchanged).
    */
  private val ManifestAnchorInterval = 10L

  /** Anchor manifests are REGION-PARTITIONED (the Iceberg
    * manifest-of-manifests shape, one level deep): an anchor's body is
    * a list of `@<region-file>\t<bucket>\t<content-hash>` refs, each
    * region file holding the entries whose paths hash into its bucket.
    * Region files are immutable and content-addressed by the hash in
    * the ref, so an anchor commit REUSES every bucket whose content
    * matches the previous anchor's and writes only the regions its
    * churn touched — the every-interval-th-commit write cost drops
    * from O(lake) to O(churn since the previous anchor) + the ref
    * index. The bucket COUNT is adaptive (stamped as a `#regions=`
    * header; [[regionBucketsFor]]): buckets target
    * [[RegionTargetEntries]] entries each, so the bytes one churned
    * file forces to rewrite stay O(1) as the lake grows — a fixed
    * count would make every bucket O(lake/16) and an anchor's rewrite
    * O(lake) again the moment churn touches most buckets. Reuse
    * requires the previous anchor's bucket count to match (a resize —
    * rare, power-of-two plateaus — rewrites all regions once).
    * Readers expand refs on resolution; [[vacuum]] sweeps region files
    * no surviving manifest references (refs are SHARED across anchors,
    * so the sweep is reference-based, never per-version).
    */
  private val RegionBuckets = 16 // floor
  private val MaxRegionBuckets = 4096
  private val RegionTargetEntries = 64

  private def regionBucketsFor(n: Int): Int = {
    var b = RegionBuckets
    while (b < MaxRegionBuckets && n / b > RegionTargetEntries) b <<= 1
    b
  }

  /** Versions younger than this survive [[vacuum]]/[[vacuumBefore]]
    * unless the caller passes `force = true` — the Delta retention
    * floor: a long-running time-travel reader mid-scan on last hour's
    * version must not have its files swept by a routine retention job.
    */
  val DefaultRetentionMillis: Long = 7L * 24 * 3600 * 1000

  /** Diagnostic counter for the metadata-cost specs: how many manifest
    * files were opened (the O(versions) cost the checkpoint bounds).
    * Monotone, process-wide, test-only reads.
    */
  private[graft] val manifestOpens =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** How many times `_versions/` was LISTED whole — the O(retained
    * commits) directory cost [[currentVersion]]'s checkpoint forward
    * probe exists to keep off the per-operation hot path (an
    * object-store LIST over tens of thousands of commit manifests per
    * lake op is the metadata bill the probe replaces with one
    * checkpoint read plus O(commits since checkpoint) existence
    * checks).
    */
  private[graft] val versionListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Rebase-retry bound for optimistic appends — deep enough that a
    * burst of racing appenders all land, small enough that a livelock
    * (e.g. a misconfigured store whose rename never wins) surfaces as
    * an error instead of an infinite loop.
    */
  private val MaxCommitRetries = 20

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(base: Path, v: Long): Path =
    new Path(base, f"$VersionsName/v$v%06d.txt")

  /** The SHADOW full manifest [[vacuum]] materializes for a delta
    * version whose base chain it is about to drop. It is written
    * beside the original (never replacing it — no in-place rewrite of
    * committed bytes, ever) and takes precedence on read; the original
    * delta stays for the version LISTING and simply never gets
    * followed again.
    */
  private def fullManifestPath(base: Path, v: Long): Path =
    new Path(base, f"$VersionsName/v$v%06d.full")

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".txt"))
      name.stripPrefix("v").stripSuffix(".txt").toLongOption
    else None

  private def liveVersions(fs: FileSystem, base: Path): Seq[Long] = {
    versionListings.incrementAndGet(): Unit
    val vd = new Path(base, VersionsName)
    if (!fs.exists(vd)) Seq.empty
    else fs.listStatus(vd).iterator
      .flatMap(s => versionOf(s.getPath.getName)).toSeq.sorted
  }

  /** Highest committed version, 0 if the lake has none yet.
    *
    * CHECKPOINT FORWARD PROBE — never lists `_versions/` when a
    * checkpoint exists: committed versions are CONTIGUOUS above the
    * checkpoint (every commit publishes exactly cur + 1; [[vacuum]]
    * only ever drops a PREFIX and refreshes the checkpoint before
    * returning), so the newest version is found by existence-probing
    * v+1, v+2, ... from the checkpoint's `#ckpt_v=` — one checkpoint
    * read plus O(commits since checkpoint) stat calls, instead of an
    * O(retained commits) directory listing per lake operation (the
    * Delta `_last_checkpoint` probe discipline). A checkpoint whose
    * own version was vacuumed from under it (a crash between vacuum's
    * drop and its refresh) fails the anchor-existence check and falls
    * back to the full listing — the probe is purely an access path.
    */
  def currentVersion(spark: SparkSession, dir: String): Long = {
    val (fs, base) = fsOf(spark, dir)
    currentVersionIn(fs, base)
  }

  /** The newest version by the checkpoint forward probe, when a usable
    * checkpoint anchors it — None demotes the caller to the listing.
    */
  private def probedCurrent(fs: FileSystem, base: Path,
      ckpt: Option[(Long, Map[Long, CkptEntry])]): Option[Long] =
    ckpt match {
      case Some((ckptV, _)) if fs.exists(manifestPath(base, ckptV)) =>
        var v = ckptV
        while (fs.exists(manifestPath(base, v + 1))) v += 1
        Some(v)
      case _ => None
    }

  private def currentVersionIn(fs: FileSystem, base: Path): Long =
    probedCurrent(fs, base, readCheckpoint(fs, base))
      .getOrElse(liveVersions(fs, base).lastOption.getOrElse(0L))

  /** Every committed version, ascending ([[vacuum]] may have dropped a
    * prefix).
    */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, base) = fsOf(spark, dir)
    liveVersions(fs, base)
  }

  private def manifestLines(fs: FileSystem, base: Path,
      v: Long): Seq[String] = {
    // a vacuum-materialized shadow (self-contained full manifest)
    // takes precedence over the original delta, whose base chain may
    // have been dropped
    val pf = fullManifestPath(base, v)
    val p = if (fs.exists(pf)) pf else manifestPath(base, v)
    require(fs.exists(p),
      s"no version $v at $base (missing ${p.getName} — vacuumed or never " +
        "committed)")
    manifestOpens.incrementAndGet(): Unit
    val in = fs.open(p)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** The base version a DELTA manifest builds on, None for a FULL
    * manifest (anchor, restore or vacuum shadow).
    */
  private def baseOf(lines: Seq[String]): Option[Long] =
    lines.find(_.startsWith("#base="))
      .flatMap(_.stripPrefix("#base=").toLongOption)

  /** File ENTRIES of a manifest, RESOLVED: a full manifest's body is
    * its entry list; a delta manifest applies its `-path` removals and
    * appended entries to its base's resolved entries. Chains are at
    * most [[ManifestAnchorInterval]] deep by construction (every
    * interval-th version is a full anchor, and v1 is always full).
    * See the header scaladoc for the three per-file entry shapes.
    */
  private def fileEntries(fs: FileSystem, base: Path,
      v: Long): Seq[String] = {
    val lines = manifestLines(fs, base, v)
    val body = lines.filterNot(_.startsWith("#"))
    baseOf(lines) match {
      case None =>
        // region-partitioned anchor: expand each @ref to its bucket's
        // entries (restores and vacuum shadows carry their entries
        // inline and pass through unchanged). The
        // region GETs are CONCURRENT — on an object store a full
        // resolution is otherwise bucket-count sequential round-trips
        // — and Future.traverse preserves ref order, so the resolved
        // entry order is identical to a sequential expansion.
        if (!body.exists(_.startsWith("@"))) body
        else {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          Await.result(
            Future.traverse(body) { l =>
              if (l.startsWith("@"))
                Future(readRegion(fs, base, l.drop(1).split('\t')(0)))
              else Future.successful(Seq(l))
            }, Duration.Inf).flatten
        }
      case Some(b) =>
        val removed = body.iterator.filter(_.startsWith("-"))
          .map(_.drop(1)).toSet
        val added = body.filterNot(_.startsWith("-"))
        fileEntries(fs, base, b)
          .filterNot(e => removed.contains(entryPath(e))) ++ added
    }
  }

  /** True when version `v`'s manifest is self-contained (no `#base=`). */
  private def isFullManifest(fs: FileSystem, base: Path, v: Long): Boolean =
    baseOf(manifestLines(fs, base, v)).isEmpty

  // --- region-partitioned anchors -------------------------------------------

  private def regionsDirName: String = s"$VersionsName/regions"

  /** Stable bucket of a data-file path (MurmurHash3 with Scala's fixed
    * default seed — identical across JVMs and versions by contract).
    */
  private[graft] def bucketOf(path: String,
      buckets: Int = RegionBuckets): Int =
    (scala.util.hashing.MurmurHash3.stringHash(path) & Int.MaxValue) %
      buckets

  /** Content hash of one bucket's entry list (order-sensitive — entry
    * order inside a bucket is deterministic given the commit history).
    * 128 bits of SHA-256: collisions are out of the failure model.
    */
  private def regionHash(entries: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().take(16).map(b => f"$b%02x").mkString
  }

  /** (bucket, regionRel, hash) of every region ref in a manifest. */
  private def regionRefsOf(lines: Seq[String]): Seq[(Int, String, String)] =
    lines.filter(_.startsWith("@")).map { l =>
      val f = l.drop(1).split('\t')
      (f(1).toInt, f(0), f(2))
    }

  private def readRegion(fs: FileSystem, base: Path,
      rel: String): Seq[String] = {
    manifestOpens.incrementAndGet(): Unit
    val in = fs.open(new Path(base, rel))
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** The deterministic PREVIOUS anchor position of anchor `v` (anchors
    * sit at v1 and every interval-th version by [[mustAnchor]]).
    */
  private def prevAnchorOf(v: Long): Option[Long] =
    if (v <= 1) None
    else {
      val k = (v - 1) / ManifestAnchorInterval * ManifestAnchorInterval
      Some(math.max(k, 1L))
    }

  /** The (headers, body) an anchor publishes for resolved `entries`:
    * a `#regions=<count>` header plus region refs. Buckets whose
    * content hash matches the previous anchor's ref REUSE its region
    * file without reading it; only churn-touched buckets write a fresh
    * immutable region file — the anchor's write cost is O(churn since
    * the previous anchor) × O([[RegionTargetEntries]]), not O(lake). A
    * previous anchor that is flat (a restore), vacuumed, differently
    * bucketed (a resize plateau crossing), or whose region file was
    * swept simply contributes no reuse.
    */
  private def anchorBody(fs: FileSystem, base: Path, v: Long,
      entries: Seq[String]): (Seq[String], Seq[String]) = {
    val nb = regionBucketsFor(entries.size)
    val byBucket = entries.groupBy(e => bucketOf(entryPath(e), nb))
    val prevRefs: Map[Int, (String, String)] =
      prevAnchorOf(v)
        .filter(a => fs.exists(manifestPath(base, a)) ||
          fs.exists(fullManifestPath(base, a)))
        .flatMap { a =>
          val pl = manifestLines(fs, base, a)
          // refs are only reusable under the SAME bucketing
          if (pl.contains(s"#regions=$nb"))
            Some(regionRefsOf(pl)
              .map { case (b, rel, h) => b -> (rel, h) }.toMap)
          else None
        }
        .getOrElse(Map.empty)
    val body = (0 until nb).flatMap { b =>
      byBucket.get(b).map { es =>
        val h = regionHash(es)
        prevRefs.get(b) match {
          case Some((rel, ph)) if ph == h &&
              fs.exists(new Path(base, rel)) =>
            s"@$rel\t$b\t$h"
          case _ =>
            val token = java.util.UUID.randomUUID().toString
              .replace("-", "").take(12)
            val rel = f"$regionsDirName/g$b%04d-$token.txt"
            // plain create: readers only resolve a region through a
            // PUBLISHED manifest ref, and refs are written after this
            // close — a crashed or lost-race writer leaves an orphan
            // region file vacuum's reference sweep reclaims
            val out = fs.create(new Path(base, rel), false)
            try out.write((es.mkString("\n") + "\n").getBytes("UTF-8"))
            finally out.close()
            s"@$rel\t$b\t$h"
        }
      }
    }
    (Seq(s"#regions=$nb"), body)
  }

  /** Whether version `v` must publish a FULL manifest: v1 (nothing to
    * base on) and every anchor-interval-th version.
    */
  private def mustAnchor(v: Long): Boolean =
    v == 1L || v % ManifestAnchorInterval == 0L

  private def entryPath(entry: String): String = entry.split('\t')(0)

  // --- typed manifest statistics values (v3 encodings) ----------------------
  //
  // Entry VALUES are self-describing by a one-char tag so string,
  // double, decimal and timestamp columns can prune file reads from
  // the manifest exactly like integral ones (real lakes prune on date
  // strings and decimals constantly):
  //   <digits>        long (integral columns)
  //   t<micros>       timestamp as epoch micros — its OWN kind, so a
  //                   bare-long bound can never half-match it
  //   f<repr>         double via Double.toString (round-trips exactly;
  //                   NaN/Infinity compare the Spark way: NaN largest)
  //   c<plainString>  decimal via BigDecimal (exact, any precision)
  //   s<pct-bytes>    string as percent-encoded UTF-8 BYTES, compared
  //                   unsigned-lexicographic — the SAME order Spark's
  //                   UTF8String binary comparison used to compute the
  //                   file's min/max, so driver-side pruning can never
  //                   mis-order exotic code points the way a UTF-16
  //                   compareTo would. Mins may be truncated (a byte
  //                   prefix is a lower bound for free); maxes truncate
  //                   UP (last non-0xFF byte incremented) or record no
  //                   bound at all — both only ever ADMIT more.
  //   -               explicitly all-null
  // An UNKNOWN tag (a future writer) decodes as "no stats on this
  // entry" — readers never guess, so pruning stays sound across
  // versions in both directions.

  private sealed trait SV {
    /** Same-kind comparison; None for mixed kinds (incomparable — a
      * consumer must then never prune).
      */
    def cmp(o: SV): Option[Int] = (this, o) match {
      case (LongV(a), LongV(b)) => Some(java.lang.Long.compare(a, b))
      case (TsV(a), TsV(b)) => Some(java.lang.Long.compare(a, b))
      case (DblV(a), DblV(b)) => Some(java.lang.Double.compare(a, b))
      case (BytesV(a), BytesV(b)) => Some(cmpBytes(a, b))
      case (DecV(a), DecV(b)) => Some(a.compareTo(b))
      case _ => None
    }
  }
  private final case class LongV(v: Long) extends SV
  private final case class TsV(micros: Long) extends SV
  private final case class DblV(v: Double) extends SV
  private final case class BytesV(v: Array[Byte]) extends SV
  private final case class DecV(v: java.math.BigDecimal) extends SV

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Printable-ASCII passthrough, %XX for everything else (including
    * space, tab and '%' — manifest lines are trimmed and tab-split, so
    * no stat byte may collide with the framing).
    */
  private def pctEncode(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length)
    b.foreach { x =>
      val c = x & 0xff
      if (c >= 0x21 && c <= 0x7e && c != '%') sb.append(c.toChar)
      else sb.append(f"%%$c%02x")
    }
    sb.toString
  }

  private def pctDecode(s: String): Option[Array[Byte]] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        if (i + 2 >= s.length) return None
        try out += Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte
        catch { case _: NumberFormatException => return None }
        i += 3
      } else { out += c.toByte; i += 1 }
    }
    Some(out.toArray)
  }

  /** Decode one stats VALUE. None = unparseable (unknown future tag or
    * corruption) — the column then has NO usable stats on this entry;
    * Some(None) = the explicit all-null marker.
    */
  private def statVal(s: String): Option[Option[SV]] =
    if (s == "-") Some(None)
    else if (s.isEmpty) None
    else s.charAt(0) match {
      case c if c.isDigit || (c == '-' && s.length > 1) =>
        s.toLongOption.map(v => Some(LongV(v)))
      case 't' => s.drop(1).toLongOption.map(v => Some(TsV(v)))
      case 'f' =>
        try Some(Some(DblV(java.lang.Double.parseDouble(s.drop(1)))))
        catch { case _: NumberFormatException => None }
      case 'c' =>
        try Some(Some(DecV(new java.math.BigDecimal(s.drop(1)))))
        catch { case _: NumberFormatException => None }
      case 's' => pctDecode(s.drop(1)).map(b => Some(BytesV(b)))
      case _ => None // unknown tag: a future writer — no stats, no guess
    }

  /** One column's manifest statistics: (min, max) are None for an
    * all-null column.
    */
  private final case class ColStat(lo: Option[SV], hi: Option[SV],
      nulls: Long)

  /** Per-entry, per-column stats: an entry of 1 + 3k fields carries a
    * (min, max, nulls) triple for each of k columns. Anything else — or
    * a value carrying an unknown tag — reads as no stats.
    */
  private def colStat(entry: String, colIdx: Int): Option[ColStat] = {
    val p = entry.split('\t')
    if (p.length >= 4 && (p.length - 1) % 3 == 0 &&
        colIdx < (p.length - 1) / 3) {
      val o = 1 + colIdx * 3
      for {
        nn <- p(o + 2).toLongOption
        lo <- statVal(p(o))
        hi <- statVal(p(o + 1))
      } yield ColStat(lo, hi, nn)
    } else None
  }

  /** The lake's statistics column list of version `v` as the raw header
    * value (comma-joined), if stats are enabled — kept as the single
    * source the enable-once/never-switch rule compares.
    */
  def statsColOf(spark: SparkSession, dir: String, v: Long)
      : Option[String] = {
    val (fs, base) = fsOf(spark, dir)
    manifestLines(fs, base, v).find(_.startsWith("#stats="))
      .map(_.stripPrefix("#stats="))
  }

  /** The statistics columns of version `v` as a list. */
  def statsColsOf(spark: SparkSession, dir: String, v: Long): Seq[String] =
    statsColOf(spark, dir, v).map(splitCols).getOrElse(Seq.empty)

  private def splitCols(s: String): Seq[String] =
    s.split(',').iterator.map(_.trim).filter(_.nonEmpty).toSeq

  private def statsHeaders(cols: Seq[String]): Seq[String] =
    if (cols.isEmpty) Seq.empty
    else Seq("#stats=" + cols.mkString(","))

  // --- lake schema in the manifest (`#schema=` header) ---------------------

  /** Every field (recursively) nullable — the form the schema header is
    * stored in: parquet round-trips flip nullable/containsNull freely,
    * so a header that pinned nullability would spuriously mismatch its
    * own files.
    */
  private def nullableized(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullableized(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(nullableized(a.elementType), containsNull = true)
      case m: MapType => MapType(nullableized(m.keyType),
        nullableized(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def schemaHeader(sc: org.apache.spark.sql.types.StructType)
      : Seq[String] =
    Seq("#schema=" + nullableized(sc).json) // StructType.json is one line

  /** The headers a maintenance commit publishes over version `effCur`:
    * its schema carried forward, plus the lake's stats column list.
    */
  private def carriedHeaders(fs: FileSystem, base: Path,
      cols: Seq[String])(effCur: Long): Seq[String] =
    schemaHeader(schemaOf(fs, base, effCur)) ++ statsHeaders(cols)

  /** The lake schema version `v` COMMITTED — its `#schema=` header.
    * Every commit stamps one, so a manifest without it (or with one
    * that does not parse) was not written by this writer and fails
    * loudly, naming the version.
    */
  def schemaOf(spark: SparkSession, dir: String, v: Long)
      : org.apache.spark.sql.types.StructType = {
    val (fs, base) = fsOf(spark, dir)
    schemaOf(fs, base, v)
  }

  private def schemaOf(fs: FileSystem, base: Path, v: Long)
      : org.apache.spark.sql.types.StructType = {
    val h = headerOf(manifestLines(fs, base, v), "schema", base, v)
    try org.apache.spark.sql.types.DataType.fromJson(h)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    catch { case e: Exception => throw new IllegalStateException(
      s"version $v of $base carries an unreadable #schema= header", e) }
  }

  /** The value of header `#<key>=` in a manifest's `lines`; a manifest
    * lacking it fails loudly, naming the version.
    */
  private def headerOf(lines: Seq[String], key: String, base: Path,
      v: Long): String =
    lines.find(_.startsWith(s"#$key=")).map(_.drop(key.length + 2))
      .getOrElse(throw new IllegalStateException(
        s"version $v of $base has no #$key= header — every commit " +
          "stamps one; this manifest was not written by VersionedLake"))

  /** The schema an APPEND of `df` commits: the carried lake schema with
    * df-only columns appended (write-path schema evolution). A shared
    * column at a different type is refused — the append would stamp a
    * header its own files contradict — and the caller casts explicitly.
    */
  private def appendSchema(fs: FileSystem, base: Path, dir: String,
      prevV: Long, df: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    if (prevV < 1) return df
    val prev = schemaOf(fs, base, prevV)
    prev.fields.foreach { f =>
      df.find(_.name == f.name).foreach { d =>
        require(DataType.equalsStructurally(d.dataType, f.dataType,
          ignoreNullability = true),
          s"append column '${f.name}' is ${d.dataType.simpleString} but " +
            s"the lake at $dir carries ${f.dataType.simpleString} — cast " +
            "explicitly; a lake column keeps one type")
      }
    }
    StructType(prev.fields ++
      df.fields.filterNot(f => prev.fieldNames.contains(f.name)))
  }

  // --- metadata checkpoint (`_versions/_checkpoint`) ------------------------

  private final case class CkptEntry(ts: Long, batch: Option[Long],
      nFiles: Long)

  private def checkpointPath(base: Path): Path =
    new Path(base, s"$VersionsName/$CheckpointName")

  /** The newest checkpoint, if one exists and parses:
    * (checkpointed-at version, per-version metadata). Corruption or
    * absence reads as None — every consumer falls back to opening
    * manifests, so the checkpoint is purely an access-path cache.
    */
  private def readCheckpoint(fs: FileSystem, base: Path)
      : Option[(Long, Map[Long, CkptEntry])] =
    try {
      val p = checkpointPath(base)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
        val lines = text.split("\n").iterator.map(_.trim)
          .filter(_.nonEmpty).toSeq
        val at = lines.find(_.startsWith("#ckpt_v="))
          .flatMap(_.stripPrefix("#ckpt_v=").toLongOption)
        at.map { a =>
          val m = lines.filterNot(_.startsWith("#")).flatMap { l =>
            val f = l.split('\t')
            if (f.length != 4) None
            else for (v <- f(0).toLongOption; ts <- f(1).toLongOption;
                n <- f(3).toLongOption)
              yield v -> CkptEntry(ts,
                if (f(2) == "-") None else f(2).toLongOption, n)
          }.toMap
          (a, m)
        }
      }
    } catch { case _: Exception => None }

  /** Rewrite the checkpoint as of version `upTo`: per surviving
    * version ≤ upTo, (commit ts, batch cursor, file count) — sourced
    * from the PRIOR checkpoint where it covers a version and from the
    * manifest otherwise, so the rewrite itself is O(commits since the
    * last checkpoint). Atomic side-file + rename replace; best-effort
    * (a failed checkpoint never fails the commit that triggered it).
    */
  private def writeCheckpoint(fs: FileSystem, base: Path,
      upTo: Long): Unit = {
    val prior = readCheckpoint(fs, base)
    // metaOf resolves DELTA manifests' file counts through their chain
    // — the raw body line count of a delta is its churn, not the lake
    def entry(v: Long): CkptEntry = metaOf(fs, base, v, prior)
    val body = liveVersions(fs, base).filter(_ <= upTo).map { v =>
      val e = entry(v)
      s"$v\t${e.ts}\t${e.batch.map(_.toString).getOrElse("-")}\t${e.nFiles}"
    }
    val dst = checkpointPath(base)
    val side = new Path(dst.getParent, dst.getName + "." +
      java.util.UUID.randomUUID().toString.take(8) + ".writing")
    val bytes = ((s"#ckpt_v=$upTo" +: body).mkString("\n") + "\n")
      .getBytes("UTF-8")
    val out = fs.create(side, true)
    try out.write(bytes)
    finally out.close()
    fs.delete(dst, false): Unit // POSIX rename replaces; HDFS needs this
    require(fs.rename(side, dst), s"checkpoint publish $side -> $dst failed")
  }

  /** (ts, batch) of version `v` — checkpoint-first, and ONE manifest
    * open for versions above the checkpoint (headers live in the
    * manifest itself; no delta-chain resolution). The cheap form
    * commitTimes / the replay cursor / restore use.
    */
  private def tsBatchOf(fs: FileSystem, base: Path, v: Long,
      ckpt: Option[(Long, Map[Long, CkptEntry])]): (Long, Option[Long]) =
    ckpt.flatMap(_._2.get(v)).map(e => (e.ts, e.batch)).getOrElse {
      val lines = manifestLines(fs, base, v)
      (tsOf(lines, base, v), batchOf(lines))
    }

  private def tsOf(lines: Seq[String], base: Path, v: Long): Long =
    headerOf(lines, "ts", base, v).toLong

  private def batchOf(lines: Seq[String]): Option[Long] =
    lines.find(_.startsWith("#batch=")).flatMap(
      _.stripPrefix("#batch=").toLongOption)

  /** (ts, batch, nFiles) of version `v` — checkpoint-first; above the
    * checkpoint the FILE COUNT of a delta manifest resolves its chain
    * (bounded by the anchor interval), so only [[history]] and the
    * checkpoint rewrite pay it.
    */
  private def metaOf(fs: FileSystem, base: Path, v: Long,
      ckpt: Option[(Long, Map[Long, CkptEntry])]): CkptEntry =
    ckpt.flatMap(_._2.get(v)).getOrElse {
      val lines = manifestLines(fs, base, v)
      val nf =
        // deltas resolve their chain; region anchors resolve their
        // refs (a ref line is a BUCKET, not a file); flat manifests
        // count their body directly
        if (baseOf(lines).isDefined || lines.exists(_.startsWith("@")))
          fileEntries(fs, base, v).size.toLong
        else lines.count(!_.startsWith("#")).toLong
      CkptEntry(tsOf(lines, base, v), batchOf(lines), nf)
    }

  /** `rels` read under schema `sc` (every field nullable): no footer
    * opens, no schema-inference job; a column a file lacks reads NULL.
    */
  private def readUnder(spark: SparkSession, fs: FileSystem, base: Path,
      sc: org.apache.spark.sql.types.StructType,
      rels: Seq[String]): DataFrame =
    spark.read
      .schema(nullableized(sc)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .parquet(rels.map(qualified(fs, base, _)): _*)

  /** The newest version CARRYING streaming-batch provenance, with its
    * batch id — the exactly-once replay cursor. Checkpoint-first: on a
    * lake whose interleaved maintenance commits carry no `#batch=`
    * header, the previous newest-first scan opened every manifest;
    * versions at or below the checkpoint now answer from its one read.
    */
  private def newestBatchCursor(fs: FileSystem, base: Path)
      : Option[(Long, Long)] = {
    val ckpt = readCheckpoint(fs, base)
    probedCurrent(fs, base, ckpt) match {
      case Some(cur) =>
        // LISTING-FREE — this runs once per exactly-once micro-batch,
        // so the O(retained commits) directory LIST the full scan paid
        // matters at streaming cadence: versions above the checkpoint
        // answer from their manifest headers (newest first, O(commits
        // since checkpoint) opens), versions at or below from the
        // checkpoint's one read (vacuum keeps it to survivors).
        val ckptV = ckpt.map(_._1).getOrElse(0L)
        val above = (ckptV + 1 to cur).reverseIterator
          .map(v => (v, tsBatchOf(fs, base, v, ckpt)._2))
          .collectFirst { case (v, Some(b)) => (v, b) }
        above.orElse(ckpt.flatMap(_._2.toSeq.sortBy(-_._1).collectFirst {
          case (v, e) if e.batch.isDefined => (v, e.batch.get)
        }))
      case None =>
        liveVersions(fs, base).reverseIterator
          .map(v => (v, tsBatchOf(fs, base, v, ckpt)._2))
          .collectFirst { case (v, Some(b)) => (v, b) }
    }
  }

  /** The raw local (java.nio) path of a Hadoop path when `fs` is the
    * local filesystem — the store where an ATOMIC NO-REPLACE publish
    * primitive exists (`link(2)` via Files.createLink: fails with
    * EEXIST, and the destination appears fully formed or not at all).
    */
  private def nioLocal(fs: FileSystem, p: Path)
      : Option[java.nio.file.Path] =
    if (fs.getScheme == "file")
      Some(java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath))
    else None

  /** Atomic commit: side-name write (writer-unique side file — racing
    * writers must not clobber each other's in-flight bytes), then ONE
    * atomic publish. Refuses to replace an existing version — the
    * loser of a race fails here (appends and optimistic mutations
    * catch it and rebase; the rest surface it). Stamps the `#ts=`
    * commit-time header and rewrites the metadata checkpoint every
    * [[CheckpointInterval]] commits.
    *
    * Publish primitive, per store:
    *   - LOCAL FS: hard link (`Files.createLink`) of the side file to
    *     the final name — atomic no-replace at the syscall level
    *     (POSIX rename REPLACES, so the previous rename+read-back
    *     protocol had a window where slow writer B's rename clobbered
    *     already-acknowledged writer A; link(2) closes it — exactly
    *     one racing writer's link succeeds, every other gets EEXIST).
    *   - [[AtomicCreateStore]] connectors: one CONDITIONAL CREATE of
    *     the final bytes (S3 `If-None-Match: *`, GCS
    *     `ifGenerationMatch=0`) — the same exactly-one-winner
    *     guarantee where no rename or link exists, closing the
    *     simultaneous-complete-copy window the rename fallback below
    *     cannot (two writers whose exists-probes both ran before
    *     either landed: with replace-capable rename the later copy
    *     silently clobbers the earlier ACKNOWLEDGED commit; with
    *     conditional create the later one is refused and rebases).
    *   - OTHER STORES (HDFS and rename-capable object connectors):
    *     exists-probe + rename + READ-BACK VERIFY — on HDFS rename is
    *     already no-replace; on stores where rename can replace, the
    *     read-back detects a lost race (racing contents are always
    *     distinct: the #ts stamp + unique data dirs) and surfaces the
    *     same already-committed refusal, so the caller's rebase/abort
    *     logic is store-independent. A non-atomic rename that fails
    *     MIDWAY leaves a partial destination the read-back rejects
    *     loudly (see ObjectStoreContractSpec).
    */
  private[sinks] def writeManifest(fs: FileSystem, base: Path, v: Long,
      files: Seq[String], headers: Seq[String] = Nil): Unit = {
    val dst = manifestPath(base, v)
    require(!fs.exists(dst),
      s"version $v already committed at $base — concurrent writer?")
    val writerToken = java.util.UUID.randomUUID().toString
    val side = new Path(dst.getParent, dst.getName + "." +
      writerToken.take(8) + ".writing")
    // `#writer=` is what makes the torn-rename read-back sound: two
    // racing writers' manifests diverge at this fixed-length token, so
    // a racer's COMPLETE committed manifest can never be a byte-prefix
    // of ours (an empty append sharing our #ts millisecond and headers
    // otherwise could be) — a prefix read-back therefore always means
    // OUR OWN torn copy, never a committed version, and deleting it is
    // safe. Readers ignore the header.
    val hs = Seq(s"#ts=${System.currentTimeMillis()}",
      s"#writer=$writerToken") ++ headers
    val bytes = ((hs ++ files).mkString("\n") + "\n").getBytes("UTF-8")
    val out = fs.create(side, true)
    try out.write(bytes)
    finally out.close()
    nioLocal(fs, dst) match {
      case Some(nioDst) =>
        try java.nio.file.Files.createLink(nioDst, nioLocal(fs, side).get)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            fs.delete(side, false): Unit
            throw new IllegalArgumentException(
              s"version $v already committed at $base — a racing writer " +
                "won the publish")
        }
        fs.delete(side, false): Unit // linked into place; side done
      case None if fs.isInstanceOf[AtomicCreateStore] =>
        // CONDITIONAL CREATE (S3 If-None-Match shape): the one publish
        // of the bytes IS the commit — exactly one of any number of
        // simultaneous complete publishers wins at the store primitive,
        // the rest get the standard already-committed refusal and
        // rebase. No read-back needed: the primitive never tears and
        // never replaces. (The side file above only ensured _versions/
        // exists and gave crashed publishes a sweepable trace.)
        fs.delete(side, false): Unit
        if (!fs.asInstanceOf[AtomicCreateStore].createExclusive(dst, bytes))
          throw new IllegalArgumentException(
            s"version $v already committed at $base — a racing writer " +
              "won the conditional create")
      case None =>
        require(fs.rename(side, dst),
          s"manifest commit $side -> $dst failed — if the destination " +
            "exists and holds this commit's bytes, the store copied " +
            "before the failure and the version IS committed; verify " +
            "before retrying")
        val in = fs.open(dst)
        val back =
          try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        if (!java.util.Arrays.equals(back, bytes)) {
          // Two distinct failures land here, told apart by the bytes:
          //  - a STRICT PREFIX of ours = OUR copy-based rename died
          //    midway (S3A-style stores emulate rename as
          //    copy-then-delete) — the destination is OUR garbage, not
          //    a racer's commit: every manifest carries a writer-unique
          //    fixed-length `#writer=` token in its header, so two
          //    writers' bytes diverge inside the token and no racer's
          //    COMPLETE manifest is ever a byte-prefix of ours. Remove
          //    it and fail with a NON-rebase error: a rebase would
          //    re-publish through the same broken rename.
          //  - anything else = a racing writer's complete manifest won
          //    a replace-capable rename — the standard lost-race
          //    refusal appends and optimistic mutations rebase on.
          val ourPartial = back.length < bytes.length &&
            java.util.Arrays.equals(back,
              java.util.Arrays.copyOf(bytes, back.length))
          if (ourPartial) {
            fs.delete(dst, false): Unit
            throw new IllegalStateException(
              s"manifest publish of v$v at $base landed PARTIAL bytes — " +
                "this store's rename is not atomic; the torn manifest " +
                "was removed and nothing is committed. Commit through a " +
                "store with atomic rename (HDFS, local FS) or an atomic " +
                "no-replace create, not through copy-based rename")
          }
          throw new IllegalArgumentException(
            s"version $v already committed at $base — a racing writer " +
              "won the publish rename")
        }
    }
    if (v % CheckpointInterval == 0L)
      // best-effort cache rewrite — never fails the commit it trails
      try writeCheckpoint(fs, base, upTo = v)
      catch { case e: Exception =>
        System.err.println(s"checkpoint at v$v of $base skipped: $e")
      }
  }

  /** Max bytes a string stat records: mins truncate to a byte PREFIX
    * (a free lower bound); maxes truncate UP (see [[encodeStat]]). 24
    * bytes prunes date-strings, URLs-by-prefix and source labels while
    * keeping a 100k-file manifest's stat weight trivial.
    */
  private val StatStrBytes = 24

  /** The agg-side expression a stats column aggregates through — the
    * typed domain its manifest encoding preserves exactly.
    */
  private def statAggExpr(dt: org.apache.spark.sql.types.DataType,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast("long")
      case TimestampType => unix_micros(c)
      case FloatType | DoubleType => c.cast("double")
      case _: DecimalType => c
      case StringType => c
      case other => throw new IllegalArgumentException(
        s"manifest statistics do not support ${other.simpleString} " +
          "columns (supported: integral, string, float/double, decimal, " +
          "timestamp)")
    }
  }

  /** One collected min/max value → its manifest encoding (see the tag
    * table at [[statVal]]). `isMax` drives the string truncation
    * direction: a truncated MIN is the plain byte prefix (already a
    * lower bound); a truncated MAX increments its last non-0xFF byte so
    * it stays an upper bound, or records no bound when the whole prefix
    * is 0xFF (admitting more is always sound).
    */
  private def encodeStat(dt: org.apache.spark.sql.types.DataType, v: Any,
      isMax: Boolean): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | TimestampType =>
        val l = v.asInstanceOf[Long]
        if (dt == TimestampType) s"t$l" else l.toString
      case FloatType | DoubleType => "f" + v.asInstanceOf[Double].toString
      case _: DecimalType =>
        "c" + v.asInstanceOf[java.math.BigDecimal].toPlainString
      case StringType =>
        val b = v.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (b.length <= StatStrBytes) "s" + pctEncode(b)
        else if (!isMax) "s" + pctEncode(java.util.Arrays.copyOf(b,
          StatStrBytes))
        else {
          val p = java.util.Arrays.copyOf(b, StatStrBytes)
          var i = p.length - 1
          while (i >= 0 && p(i) == -1) i -= 1 // drop trailing 0xFF
          if (i < 0) "-" // unboundable above: reads as no upper stat
          else {
            val q = java.util.Arrays.copyOf(p, i + 1)
            q(i) = (q(i) + 1).toByte
            "s" + pctEncode(q)
          }
        }
      case other => throw new IllegalStateException(
        s"unreachable: statAggExpr admitted ${other.simpleString}")
    }
  }

  /** Per-file (min, max, nullCount) of every stats column over THIS
    * commit's new files — one column-pruned read of exactly those
    * files, mapped back to manifest-relative entries. Null-bearing
    * files DO record stats (min/max over the non-null values, plus the
    * explicit null count that keeps whole-file decisions sound); an
    * all-null column records `-` for min/max. Integral columns ride as
    * exact longs (the v2 shape, byte-identical); string, double,
    * decimal and timestamp columns ride as TAGGED v3 values
    * ([[encodeStat]]) so non-integral lakes prune too.
    */
  private def statEntries(spark: SparkSession, fs: FileSystem, base: Path,
      rels: Seq[String], statsCols: Seq[String],
      sc: org.apache.spark.sql.types.StructType): Seq[String] = {
    if (rels.isEmpty || statsCols.isEmpty) return rels
    footerStatEntries(spark, fs, base, rels, statsCols)
      .getOrElse(scanStatEntries(spark, fs, base, rels, statsCols, sc))
  }

  /** [[statEntries]] from the parquet FOOTERS of this commit's files —
    * metadata-only, no second data pass and no Spark job (at 100 TB the
    * scan path re-reads every byte a commit just wrote; the footers
    * already hold exact per-row-group (min, max, nullCount) for every
    * type the manifest supports). Returns None — and the caller falls
    * back to the scan job — whenever ANY file/column lacks usable
    * exact stats, which this writer produces in exactly these cases
    * (probed empirically against Spark 4.1's bundled parquet):
    *  - NaN-bearing float/double columns (parquet skips stats),
    *  - timestamps written as INT96 (no stats; the engine's sessions
    *    use the default output type),
    *  - values so large the footer drops the stats (> 4 KB min+max),
    *  - unknown/mismatched physical-logical combos (incl. a missing
    *    stats column — the scan path then raises its loud require).
    * Known benign divergence, documented: a file holding BOTH -0.0 and
    * 0.0 records the IEEE-ordered extremum (0.0 as max) where Spark's
    * max() may keep -0.0 — the two compare EQUAL in Spark semantics,
    * so pruning decisions and query results are unchanged.
    */
  private def footerStatEntries(spark: SparkSession, fs: FileSystem,
      base: Path, rels: Seq[String], statsCols: Seq[String])
      : Option[Seq[String]] = try {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val entries = footersOf(spark, fs, base, rels).map { case (rel, md) =>
      val blocks = md.getBlocks
      val nRows = rowsOf(md)
      if (nRows == 0L) rel // an empty part file carries no stats triple
      else {
        val schema = md.getFileMetaData.getSchema
        val triples = statsCols.map { c =>
          if (!schema.containsField(c)) return None
          val pt = schema.getType(schema.getFieldIndex(c))
          if (!pt.isPrimitive) return None
          val prim = pt.asPrimitiveType()
          // accumulate across row groups in IEEE/byte order (the same
          // order the footers themselves use)
          var nn = 0L
          var loB: Array[Byte] = null; var hiB: Array[Byte] = null
          var loL = 0L; var hiL = 0L
          var loD = 0.0; var hiD = 0.0
          var seen = false
          val it = blocks.iterator()
          while (it.hasNext) {
            val b = it.next()
            // match the LEAF column by path — field index would slip on
            // files whose other columns are nested (arrays/structs
            // expand to several leaf chunks)
            var cc: org.apache.parquet.hadoop.metadata
              .ColumnChunkMetaData = null
            val cit = b.getColumns.iterator()
            while (cit.hasNext && cc == null) {
              val cand = cit.next()
              if (cand.getPath.size == 1 && cand.getPath.toArray()(0) == c)
                cc = cand
            }
            if (cc == null) return None
            val st = cc.getStatistics
            if (st == null || st.getNumNulls < 0L) return None
            nn += st.getNumNulls
            // a chunk with NO min/max but non-null rows means the writer
            // DROPPED the stats for this group (NaN-bearing floats,
            // >4 KB binary) — another group's valid stats would then
            // yield too-narrow file bounds and rangeDisjoint could
            // wrongly prune the file; only an all-null group may skip
            if (!st.hasNonNullValue && st.getNumNulls != b.getRowCount)
              return None
            if (st.hasNonNullValue) {
              prim.getPrimitiveTypeName match {
                case INT32 | INT64 =>
                  val (mn, mx) = prim.getPrimitiveTypeName match {
                    case INT32 => (st.genericGetMin
                      .asInstanceOf[Integer].toLong,
                      st.genericGetMax.asInstanceOf[Integer].toLong)
                    case _ => (st.genericGetMin.asInstanceOf[java.lang.Long]
                      .toLong,
                      st.genericGetMax.asInstanceOf[java.lang.Long].toLong)
                  }
                  if (!seen || mn < loL) loL = mn
                  if (!seen || mx > hiL) hiL = mx
                case FLOAT =>
                  val mn = st.genericGetMin.asInstanceOf[java.lang.Float]
                    .toDouble
                  val mx = st.genericGetMax.asInstanceOf[java.lang.Float]
                    .toDouble
                  if (mn.isNaN || mx.isNaN) return None
                  if (!seen || java.lang.Double.compare(mn, loD) < 0)
                    loD = mn
                  if (!seen || java.lang.Double.compare(mx, hiD) > 0)
                    hiD = mx
                case DOUBLE =>
                  val mn = st.genericGetMin.asInstanceOf[java.lang.Double]
                    .toDouble
                  val mx = st.genericGetMax.asInstanceOf[java.lang.Double]
                    .toDouble
                  if (mn.isNaN || mx.isNaN) return None
                  if (!seen || java.lang.Double.compare(mn, loD) < 0)
                    loD = mn
                  if (!seen || java.lang.Double.compare(mx, hiD) > 0)
                    hiD = mx
                case BINARY | FIXED_LEN_BYTE_ARRAY =>
                  val mn = st.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary]
                    .getBytes
                  val mx = st.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary]
                    .getBytes
                  prim.getLogicalTypeAnnotation match {
                    case _: LogicalTypeAnnotation
                        .StringLogicalTypeAnnotation =>
                      if (loB == null || cmpBytes(mn, loB) < 0) loB = mn
                      if (hiB == null || cmpBytes(mx, hiB) > 0) hiB = mx
                    case dec: LogicalTypeAnnotation
                        .DecimalLogicalTypeAnnotation =>
                      // signed big-endian unscaled; compare as decimal
                      def toDec(b: Array[Byte]) = new java.math.BigDecimal(
                        new java.math.BigInteger(b), dec.getScale)
                      if (loB == null ||
                          toDec(mn).compareTo(toDec(loB)) < 0) loB = mn
                      if (hiB == null ||
                          toDec(mx).compareTo(toDec(hiB)) > 0) hiB = mx
                    case _ => return None
                  }
                case _ => return None
              }
              seen = true
            }
          }
          if (!seen) {
            if (nn != nRows) return None // stats dropped, not all-null
            s"-\t-\t$nn"
          } else {
            import org.apache.spark.sql.types._
            val (dt, loV: Any, hiV: Any) = prim.getPrimitiveTypeName match {
              case INT32 | INT64 =>
                prim.getLogicalTypeAnnotation match {
                  case null => (LongType, loL, hiL)
                  case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                    (LongType, loL, hiL)
                  case ts: LogicalTypeAnnotation
                      .TimestampLogicalTypeAnnotation
                      if ts.getUnit == LogicalTypeAnnotation.TimeUnit
                        .MICROS && ts.isAdjustedToUTC =>
                    // NTZ (unadjusted) falls through to the scan path,
                    // which raises its loud unsupported-type require
                    (TimestampType, loL, hiL)
                  case dec: LogicalTypeAnnotation
                      .DecimalLogicalTypeAnnotation =>
                    (DecimalType(dec.getPrecision, dec.getScale),
                      java.math.BigDecimal.valueOf(loL, dec.getScale),
                      java.math.BigDecimal.valueOf(hiL, dec.getScale))
                  case _ => return None
                }
              case FLOAT | DOUBLE => (DoubleType, loD, hiD)
              case BINARY | FIXED_LEN_BYTE_ARRAY =>
                prim.getLogicalTypeAnnotation match {
                  case _: LogicalTypeAnnotation
                      .StringLogicalTypeAnnotation =>
                    (StringType,
                      new String(loB,
                        java.nio.charset.StandardCharsets.UTF_8),
                      new String(hiB,
                        java.nio.charset.StandardCharsets.UTF_8))
                  case dec: LogicalTypeAnnotation
                      .DecimalLogicalTypeAnnotation =>
                    (DecimalType(dec.getPrecision, dec.getScale),
                      new java.math.BigDecimal(
                        new java.math.BigInteger(loB), dec.getScale),
                      new java.math.BigDecimal(
                        new java.math.BigInteger(hiB), dec.getScale))
                  case _ => return None
                }
              case _ => return None
            }
            val lo = encodeStat(dt, loV, isMax = false)
            val hi = encodeStat(dt, hiV, isMax = true)
            s"$lo\t$hi\t$nn"
          }
        }.mkString("\t")
        s"$rel\t$triples"
      }
    }
    Some(entries)
  } catch { case _: Exception => None }

  /** The parquet footers of `rels` — bounded driver-side metadata reads,
    * parallel when there are many files (each open reads only the
    * footer bytes).
    */
  private def footersOf(spark: SparkSession, fs: FileSystem, base: Path,
      rels: Seq[String])
      : Seq[(String, org.apache.parquet.hadoop.metadata.ParquetMetadata)] = {
    val conf = spark.sessionState.newHadoopConf()
    def footerOf(rel: String)
        : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(qualified(fs, base, rel)), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter finally r.close()
    }
    if (rels.size <= 2) rels.map(r => r -> footerOf(r))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(rels.size, 8))
      try {
        val futs = rels.map(r => r -> pool.submit(
          new java.util.concurrent.Callable[
            org.apache.parquet.hadoop.metadata.ParquetMetadata] {
            def call() = footerOf(r)
          }))
        futs.map { case (r, f) => r -> f.get() }
      } finally pool.shutdown()
    }
  }

  private def rowsOf(md: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Long = {
    var s = 0L
    md.getBlocks.forEach(b => s += b.getRowCount)
    s
  }

  /** The total row count of `rels`, from their footers alone (no Spark
    * job, no column data read).
    */
  private def footerRows(spark: SparkSession, fs: FileSystem, base: Path,
      rels: Seq[String]): Long =
    footersOf(spark, fs, base, rels).map(f => rowsOf(f._2)).sum

  /** The scan-job form of [[statEntries]] over `rels` read under the
    * commit's schema `sc` — the fallback when footers lack usable exact
    * stats (a column a file lacks reads NULL there), and the
    * loud-failure path for a stats column the schema does not carry.
    */
  private def scanStatEntries(spark: SparkSession, fs: FileSystem,
      base: Path, rels: Seq[String], statsCols: Seq[String],
      sc: org.apache.spark.sql.types.StructType): Seq[String] = {
    val df = readUnder(spark, fs, base, sc, rels)
    val types = statsCols.map { c =>
      require(df.columns.contains(c),
        s"stats column '$c' is missing from this commit's schema")
      c -> df.schema(c).dataType
    }.toMap
    val aggs = statsCols.zipWithIndex.flatMap { case (c, i) =>
      val e = statAggExpr(types(c), col(c))
      Seq(min(e).as(s"lo$i"), max(e).as(s"hi$i"),
        count(when(col(c).isNull, lit(1))).as(s"nn$i"))
    }
    val rows = df
      .select(statsCols.map(col) :+
        col("_metadata.file_path").as("__f"): _*)
      .groupBy("__f").agg(aggs.head, aggs.tail: _*)
      .collect() // bounded: one row per new file of this commit
    val byFile = rows.map { r =>
      val triples = statsCols.zipWithIndex.map { case (c, i) =>
        val lo = if (r.isNullAt(1 + i * 3)) "-"
          else encodeStat(types(c), r.get(1 + i * 3), isMax = false)
        val hi = if (r.isNullAt(2 + i * 3)) "-"
          else encodeStat(types(c), r.get(2 + i * 3), isMax = true)
        s"$lo\t$hi\t${r.getLong(3 + i * 3)}"
      }.mkString("\t")
      r.getString(0) -> triples
    }.toMap
    rels.map { rel =>
      byFile.collectFirst {
        case (abs, t) if abs.endsWith("/" + rel) ||
          abs == qualified(fs, base, rel) => s"$rel\t$t"
      }.getOrElse(rel)
    }
  }

  /** Relative paths of the parquet part files under `rel` (a commit's
    * data dir).
    */
  private def partFilesUnder(fs: FileSystem, base: Path,
      rel: String): Seq[String] = {
    val cd = new Path(base, rel)
    fs.listStatus(cd).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .map(s => s"$rel/${s.getPath.getName}").toSeq.sorted
  }

  /** A fresh `data/<kind><token>` dir, unique to one writer: the
    * version number is decided at publish, and a crashed writer leaves
    * only an unreferenced dir for [[vacuum]].
    */
  private def tokenDir(kind: Char): String =
    s"$DataName/$kind" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  private def commitFiles(fs: FileSystem, base: Path,
      v: Long): Seq[String] =
    partFilesUnder(fs, base, s"$DataName/c$v")

  /** A mutation lost a race it cannot rebase over: a concurrent commit
    * removed (rewrote or dropped) a file this mutation also classified
    * for removal, or changed state the mutation's plan depended on.
    * The mutation committed NOTHING — re-run it against the current
    * version.
    */
  final class ConcurrentMutationException(msg: String)
      extends RuntimeException(msg)

  /** OPTIMISTIC MUTATION PUBLISH — the file-level read/write-set
    * conflict detection that lets DISJOINT mutations race (two deletes
    * touching different files both land; a compaction races an append;
    * a MERGE races an unrelated delete) while OVERLAPPING ones abort
    * loudly, the Delta conflict-resolution shape:
    *
    *  - the mutation classified files against snapshot version `snapV`
    *    and publishes (current entries − `removed`) + `freshEntries`;
    *  - when racing commits landed first, the manifest DIFF snapV →
    *    current names what they changed: a winner that REMOVED any of
    *    this mutation's `removed` files rewrote the same data —
    *    [[ConcurrentMutationException]], nothing committed (data files
    *    under the mutation's unique token dir become vacuum-reclaimed
    *    orphans);
    *  - winners that only ADDED files (appends) or removed DISJOINT
    *    files rebase cleanly: their surviving entries carry into this
    *    commit verbatim. `onIntervening` sees the winner-added file
    *    paths per attempt — the upsert uses it to refuse insert-id
    *    collisions a racing append would otherwise duplicate.
    *
    * Rebase serialization semantics (documented, Delta
    * WriteSerializable): the mutation applies to its SNAPSHOT — rows a
    * racing append added are untouched (a range delete racing an
    * ingest keeps the fresh arrivals, as if the delete ran first).
    *
    * Self-win detection mirrors [[commitAppend]]: on stores whose
    * rename reports failure after a durable copy, the landed manifest
    * containing every fresh entry (or exactly the expected file set,
    * for manifest-only mutations) proves this mutation's own publish
    * committed.
    */
  private def publishMutation(spark: SparkSession, fs: FileSystem,
      base: Path, dir: String, opName: String, snapV: Long,
      removed: Set[String], freshEntries: Seq[String],
      mkHeaders: Long => Seq[String],
      onIntervening: (Long, Seq[String]) => Unit = (_, _) => (),
      beforePublish: () => Unit = () => ()): Long = {
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      val cur = math.max(currentVersion(spark, dir), snapV)
      if (cur > snapV) {
        val snapPaths =
          if (snapV == 0) Set.empty[String]
          else fileEntries(fs, base, snapV).map(entryPath).toSet
        val curPaths = fileEntries(fs, base, cur).map(entryPath)
        val clash = (snapPaths -- curPaths).intersect(removed)
        if (clash.nonEmpty) throw new ConcurrentMutationException(
          s"$opName at $dir conflicts with concurrent version(s) " +
            s"${snapV + 1}..$cur: they removed file(s) this mutation " +
            s"also rewrites (${clash.toSeq.sorted.take(3).mkString(", ")}" +
            s"${if (clash.size > 3) ", ..." else ""}) — nothing was " +
            "committed; re-run against the current version")
        onIntervening(cur, curPaths.filterNot(snapPaths.contains))
      }
      def survivors =
        if (cur == 0) Seq.empty[String]
        else fileEntries(fs, base, cur)
          .filterNot(e => removed.contains(entryPath(e)))
      val v = cur + 1
      beforePublish()
      try {
        // anchors publish the full survivor list as REGION REFS
        // (unchanged buckets reuse the previous anchor's region files);
        // the rest are DELTAS (#base + removals + fresh) — a
        // file-scoped mutation's manifest write is O(its churn), not
        // O(the lake), at every version including the anchors
        if (mustAnchor(v)) {
          val (rh, ab) = anchorBody(fs, base, v, survivors ++ freshEntries)
          writeManifest(fs, base, v, ab, headers = rh ++ mkHeaders(cur))
        }
        else
          writeManifest(fs, base, v,
            removed.toSeq.sorted.map("-" + _) ++ freshEntries,
            headers = s"#base=$cur" +: mkHeaders(cur))
        committed = v
      } catch {
        case e: IllegalArgumentException
            if fs.exists(manifestPath(base, v)) =>
          val landed = fileEntries(fs, base, v).map(entryPath)
          val freshPaths = freshEntries.map(entryPath)
          val selfWon =
            if (freshPaths.nonEmpty) freshPaths.forall(landed.toSet)
            else landed.toSet ==
              (survivors.map(entryPath) ++ freshPaths).toSet
          if (selfWon) committed = v
          else {
            attempt += 1
            if (attempt > MaxCommitRetries)
              throw new IllegalStateException(
                s"$opName at $dir lost $MaxCommitRetries straight " +
                  "publish races — livelocked store or a runaway writer",
                e)
          }
      }
    }
    committed
  }

  private def qualified(fs: FileSystem, base: Path, rel: String): String =
    fs.makeQualified(new Path(base, rel)).toString

  /** Qualify manifest-relative entries against the lake dir exactly the
    * way every lake read does (fs.makeQualified) — callers that resolve
    * admitted files themselves (e.g. [[graft.operators.IndexLake]]) must
    * not hand-build `new Path(dir, rel)` strings, which can resolve
    * differently on filesystems that normalize scheme/authority.
    */
  def qualifiedFiles(spark: SparkSession, dir: String,
      rels: Seq[String]): Seq[String] = {
    val (fs, base) = fsOf(spark, dir)
    rels.map(qualified(fs, base, _))
  }

  /** Append `df` as a new version; returns the committed version number.
    *
    * OPTIMISTIC CONCURRENCY (appends commute): the data lands under a
    * unique `data/a<token>` dir — never shared with any other writer —
    * and the publish runs a rebase-retry loop: when a racing commit
    * lands the probed version first, this append re-reads the
    * now-current manifest, carries ITS entries, and retries the rename
    * as the next version. Two interleaved appends both land (versions
    * n and n+1, union membership); `beforePublish` is the deterministic
    * seam (invoked once per publish attempt, after this attempt's
    * entries are final) racing-writer tests and external coordination
    * hooks use. A crashed append leaves an unreferenced token dir —
    * invisible to readers, reclaimed by [[vacuum]].
    *
    * `statsCol` enables per-file MANIFEST STATISTICS — the Iceberg
    * file-skipping discipline: [[readAsOfRange]] prunes the file list
    * driver-side from the manifest alone, no footer reads, no file
    * opens. The string names ONE OR MORE comma-separated columns (e.g.
    * `"doc_id"` or `"source,event_ts"`) of integral, string,
    * float/double, decimal or timestamp type — non-integral columns
    * ride as tagged v3 encodings ([[statVal]]) and prune through
    * [[rangeFilesOn]] / [[readAsOfRangeOn]] / [[commitDeleteRangeOn]];
    * every later commit propagates the list automatically via the
    * `#stats=` header, so callers pass it once. Passing a DIFFERENT
    * list than the lake already carries fails loudly.
    */
  def commitAppend(spark: SparkSession, dir: String, df: DataFrame,
      statsCol: Option[String] = None,
      beforePublish: () => Unit = () => ()): Long = {
    val (fs, base) = fsOf(spark, dir)
    // a type-divergent append is refused before any byte is written
    appendSchema(fs, base, dir, currentVersion(spark, dir), df.schema): Unit
    val rel = tokenDir('a')
    df.write.mode("overwrite").parquet(s"$dir/$rel")
    val rels = partFilesUnder(fs, base, rel)
    // stats entries depend only on this append's (immutable) files and
    // the effective column list — cache per list across rebase retries
    var statsCache = Map.empty[String, Seq[String]]
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      val cur = currentVersion(spark, dir)
      val v = cur + 1
      val cols = resolveStatsCols(spark, dir, cur, statsCol)
      val key = cols.mkString(",")
      val fresh =
        if (cols.isEmpty) rels
        else statsCache.getOrElse(key, {
          val e = statEntries(spark, fs, base, rels, cols, df.schema)
          statsCache += key -> e
          e
        })
      // schema header: carried schema + df-only columns (recomputed per
      // rebase attempt — a racing upsert may have evolved the schema)
      val sh = schemaHeader(appendSchema(fs, base, dir, cur, df.schema))
      beforePublish()
      try {
        // anchor versions publish the full resolved list as REGION
        // REFS (only churn-touched buckets write new region files);
        // the rest are DELTAS (#base + this append's entries only) —
        // an append's manifest write is O(its own files) at EVERY
        // version, anchors included
        if (mustAnchor(v)) {
          val prev = if (cur == 0) Seq.empty else fileEntries(fs, base, cur)
          val (rh, ab) = anchorBody(fs, base, v, prev ++ fresh)
          writeManifest(fs, base, v, ab,
            headers = rh ++ sh ++ statsHeaders(cols))
        } else
          writeManifest(fs, base, v, fresh,
            headers = s"#base=$cur" +: (sh ++ statsHeaders(cols)))
        committed = v
      } catch {
        // ONLY the lost-race refusal rebases (the version now exists —
        // a racing writer landed it); any other failure propagates
        case e: IllegalArgumentException
            if fs.exists(manifestPath(base, v)) =>
          // SELF-WIN check before rebasing: on stores that emulate
          // rename (copy-then-delete), the copy can be durable while
          // the rename REPORTS failure — the "winner" is then this very
          // append, and a rebase would stack our entries a second time.
          // Our token dir is unique, so our rels appearing in the
          // landed manifest proves our publish committed. An EMPTY
          // append (no part files — an empty frame) has no entry to
          // prove self-win by, so it never claims one: rebasing is safe
          // (a duplicate empty delta changes no membership), whereas a
          // vacuous forall would misreport a lost race as our commit.
          val landed = fileEntries(fs, base, v).map(entryPath).toSet
          if (rels.nonEmpty && rels.forall(landed.contains)) committed = v
          else {
            attempt += 1
            if (attempt > MaxCommitRetries)
              throw new IllegalStateException(
                s"commitAppend at $dir lost $MaxCommitRetries straight " +
                  "publish races — livelocked store or a runaway writer",
                e)
          }
      }
    }
    committed
  }

  /** The stats columns a new commit must carry: the lake's existing
    * list, or the caller's on the enabling commit — never a silent
    * switch.
    */
  private def resolveStatsCols(spark: SparkSession, dir: String,
      prevV: Long, asked: Option[String]): Seq[String] = {
    val carried =
      if (prevV < 1) None else statsColOf(spark, dir, prevV)
    (carried, asked) match {
      case (Some(c), Some(a)) =>
        require(splitCols(c) == splitCols(a),
          s"lake at $dir carries stats on '$c' but the commit asked " +
            s"for '$a' — a lake has ONE stats column list")
        splitCols(c)
      case (Some(c), None) => splitCols(c)
      case (None, a) =>
        val cols = a.map(splitCols).getOrElse(Seq.empty)
        require(cols.distinct == cols,
          s"statsCol names a column twice: '${a.getOrElse("")}'")
        cols
    }
  }

  /** Exactly-once streaming append: commit micro-batch `batchId` as a
    * new version, carrying the batch id as a `#batch=` header inside
    * the manifest — so "version committed" and "batch applied" are one
    * rename, and a REPLAYED batch (foreachBatch re-delivers the last
    * uncommitted batch after a restart) is recognized and returns the
    * already-committed version without writing anything. Streaming
    * delivers batches in order, one at a time, so the newest version's
    * header is the complete dedup state — no applied-batch ledger to
    * grow ([[restore]] keeps that invariant by stamping the target
    * version's cursor, so rolled-back batches re-apply on re-delivery).
    * An OLDER batch id than the newest committed one is a
    * checkpoint/lake pairing error and fails loudly. Single writer per
    * lake, like every mutation (the stream's checkpoint already
    * serializes its own batches).
    */
  def commitAppendForBatch(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Long): Long = {
    val (fs, base) = fsOf(spark, dir)
    val cur = currentVersion(spark, dir)
    // newest version CARRYING a batch header — maintenance commits
    // (deletes, batch appends) interleave without one and must not
    // blind the replay check
    val lastStream = newestBatchCursor(fs, base)
    lastStream match {
      case Some((v, b)) if b == batchId => return v // replay — committed
      case Some((_, b)) => require(b < batchId,
        s"batch $batchId arrived but batch $b is already committed — " +
          "this checkpoint does not belong to this lake")
      case None => ()
    }
    val v = cur + 1
    val cols = resolveStatsCols(spark, dir, v - 1, None)
    val sh = schemaHeader(appendSchema(fs, base, dir, cur, df.schema))
    df.write.mode("overwrite").parquet(s"$dir/$DataName/c$v")
    val fresh = statEntries(spark, fs, base, commitFiles(fs, base, v), cols,
      df.schema)
    if (mustAnchor(v)) {
      val prev = if (v == 1) Seq.empty else fileEntries(fs, base, v - 1)
      val (rh, ab) = anchorBody(fs, base, v, prev ++ fresh)
      writeManifest(fs, base, v, ab,
        headers = Seq(s"#batch=$batchId") ++ rh ++ sh ++ statsHeaders(cols))
    } else
      writeManifest(fs, base, v, fresh,
        headers = Seq(s"#batch=$batchId", s"#base=$cur") ++
          sh ++ statsHeaders(cols))
    v
  }

  /** Drain a stream into the lake, one version per micro-batch, through
    * [[commitAppendForBatch]]'s exactly-once discipline. Processes all
    * available input (Trigger.AvailableNow) and returns.
    */
  def appendStream(df: DataFrame, dir: String,
      checkpointDir: String): Unit = {
    val q = df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          commitAppendForBatch(
            batch.sparkSession, dir, batch.toDF(), batchId): Unit
      }
      .start()
    q.awaitTermination()
  }

  /** An id under the equality Spark's `IN` and grouping apply: numbers
    * compare by value across widths (Scala's `==`: `Int` delete ids
    * match a `Long` column, -0.0 equals 0.0), NaN equals NaN, binary by
    * content.
    */
  private def idKey(v: Any): Any = v match {
    case d: Double if d.isNaN => NaNId
    case f: Float if f.isNaN => NaNId
    case b: Array[Byte] => b.toSeq
    case other => other
  }
  private case object NaNId

  /** A mutation's id column, collected to the driver ONCE and held there
    * like the manifest (for the upsert, the collect also fills the
    * persisted updates). Returns (one value per distinct non-NULL id,
    * an id the column carries twice under [[idKey]] — a doubled NULL
    * counts).
    */
  private def collectIds(df: DataFrame, idCol: String)
      : (Seq[Any], Option[Any]) = {
    val byKey = df.select(col(idCol)).collect().map(_.get(0)).groupBy(idKey)
    (byKey.iterator.collect { case (k, vs) if k != null => vs.head }.toSeq,
      byKey.collectFirst { case (_, vs) if vs.length > 1 => vs.head })
  }

  /** `body` given a predicate "the column's value is one of `ids`"
    * (never true on NULL). The set reaches the executors once, as a
    * broadcast released when `body` returns: no Spark job, and no
    * literal per id in the plan, so a query and its tasks stay the same
    * size however large the set.
    */
  private def withIdSet[T](spark: SparkSession, ids: Seq[Any])(
      body: (org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column) => T): T = {
    val keys = spark.sparkContext.broadcast(ids.map(idKey).toSet)
    val member = udf(new org.apache.spark.sql.api.java.UDF1[Any, Boolean] {
      def call(v: Any): Boolean = v != null && keys.value.contains(idKey(v))
    }, org.apache.spark.sql.types.BooleanType)
    try body(c => member(c)) finally keys.destroy()
  }

  /** The files of version `cur` holding any of `ids`, with the matched
    * row count — the candidate skip and the ONE hit scan shared by
    * [[commitDelete]] and [[upsertCore]]. With manifest stats on
    * `idCol`, files whose (min, max) provably miss the ids' [lo, hi]
    * never enter the scan (`rangeDisjoint` prunes only on a provable
    * miss; an un-encodable id type never prunes). The candidates are
    * read through `read` (the lake schema) and their matched rows
    * counted per `_metadata.file_path` inside each partition, so the
    * driver receives one row per (partition, affected file) — not one
    * per matched row, which a postings lake multiplies by the terms per
    * document. Returns (affected files, manifest-relative and sorted;
    * matched rows).
    */
  private def hitFiles(fs: FileSystem, base: Path, opName: String,
      cur: Long, entries: Seq[String], statIdx: Int, idCol: String,
      ids: Seq[Any], member: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column,
      read: Seq[String] => DataFrame): (Seq[String], Long) = {
    import org.apache.spark.sql.Encoders
    val files = entries.map(entryPath)
    val candidates =
      if (ids.isEmpty) Seq.empty[String]
      else if (statIdx < 0) files
      else scala.util.Try {
        val svs = ids.map(svOf)
        val lo = svs.reduce((a, b) => if (a.cmp(b).get <= 0) a else b)
        val hi = svs.reduce((a, b) => if (a.cmp(b).get >= 0) a else b)
        entries.filterNot(rangeDisjoint(_, statIdx, lo, hi)).map(entryPath)
      }.getOrElse(files)
    if (candidates.isEmpty) return (Seq.empty, 0L)
    val hits = read(candidates).where(member(col(idCol)))
      .select(col("_metadata.file_path")).as(Encoders.STRING)
      .mapPartitions(_.foldLeft(Map.empty[String, Long])((m, f) =>
        m.updated(f, m.getOrElse(f, 0L) + 1)).iterator)(
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
    // map back to manifest-relative names: qualified-URI equality first,
    // then a scheme-independent suffix match — `_metadata.file_path` and
    // makeQualified can normalize the same file differently on some
    // filesystems (authority/port form), and a relative data-dir suffix
    // identifies a lake file unambiguously either way
    val relByQualified = files.map(f => qualified(fs, base, f) -> f).toMap
    val affected = hits.keys.toSeq.flatMap { abs =>
      relByQualified.get(abs).orElse(files.find(f => abs.endsWith("/" + f)))
    }.distinct.sorted
    require(affected.size == hits.size,
      s"$opName: ${hits.size} affected file paths but ${affected.size} " +
        s"resolved against the v$cur manifest — path qualification " +
        "mismatch; aborting before any commit")
    (affected, hits.values.sum)
  }

  /** Delete-if-present by id as a new version. Only files that HOLD a
    * deleted id are rewritten; the rest carry over by name, so prior
    * versions stay readable byte-for-byte. Returns
    * (version, nFilesRewritten, nRowsRemoved); an empty intersection
    * commits NOTHING and returns version 0 — deleting what isn't there
    * is not history.
    *
    * At most three Spark queries, none with a shuffle: the id column is
    * collected to the driver ([[collectIds]]; no job for a local frame)
    * and reaches the executors as a broadcast ([[withIdSet]]), the
    * candidate files are scanned once for the ids ([[hitFiles]]), and
    * the affected files are rewritten under the lake schema without the
    * deleted ids. NULL delete ids match nothing; lake rows with a NULL
    * id survive.
    *
    * OPTIMISTIC ([[publishMutation]]): disjoint racing mutations both
    * land; a racing commit that rewrote one of THIS delete's files
    * aborts loudly with [[ConcurrentMutationException]]. The delete
    * applies to its snapshot — ids a racing APPEND adds are not
    * deleted (delete-before-append serialization).
    */
  def commitDelete(spark: SparkSession, dir: String, idCol: String,
      ids: DataFrame,
      beforePublish: () => Unit = () => ()): (Long, Long, Long) = {
    val (fs, base) = fsOf(spark, dir)
    val cur = currentVersion(spark, dir)
    require(cur > 0, s"commitDelete on an empty lake at $dir")
    val entries = fileEntries(fs, base, cur)
    if (entries.isEmpty) return (0L, 0L, 0L)
    val (dels, _) = collectIds(ids, ids.columns.head)
    val cols = resolveStatsCols(spark, dir, cur, None)
    // under the lake schema: a bare parquet read takes ONE file's footer
    // as the schema, so a rewrite could silently drop evolution-added
    // columns
    val lakeSchema = schemaOf(fs, base, cur)
    val read = (rels: Seq[String]) =>
      readUnder(spark, fs, base, lakeSchema, rels)
    val rel = tokenDir('m')
    val (affected, nRemoved) = withIdSet(spark, dels) { member =>
      val hit = hitFiles(fs, base, "commitDelete", cur, entries,
        cols.indexOf(idCol), idCol, dels, member, read)
      if (hit._1.nonEmpty) read(hit._1).where(!member(col(idCol)))
        .write.mode("overwrite").parquet(s"$dir/$rel")
      hit
    }
    if (affected.isEmpty) return (0L, 0L, 0L)
    // survivor files keep their manifest ENTRIES verbatim (stats
    // included — their bytes did not change); the rewrite's files get
    // fresh stats under the lake's carried columns
    val freshEntries = statEntries(spark, fs, base,
      partFilesUnder(fs, base, rel), cols, lakeSchema)
    val v = publishMutation(spark, fs, base, dir, "commitDelete",
      snapV = cur, removed = affected.toSet, freshEntries,
      mkHeaders = carriedHeaders(fs, base, cols),
      beforePublish = beforePublish)
    (v, affected.size.toLong, nRemoved)
  }

  /** MERGE / upsert by id as a new version — the Delta `MERGE WHEN
    * MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *` shape: every
    * update row whose id exists in the lake REPLACES that row; every
    * other update row is inserted. One commit, one rename.
    *
    * File scoping is the same discipline as [[commitDelete]]: matched
    * ids are found by one `id IN (ids)` + `_metadata.file_path` scan of
    * the files the manifest stats cannot rule out, and only files
    * HOLDING a matched id are rewritten — their survivors and the full
    * updates frame land together as this commit's new files, every
    * untouched file carries into the new manifest by name (entry
    * verbatim, stats included). At 100 TB an upsert therefore costs the
    * churn — the touched files plus the updates frame — never a lake
    * rewrite, and prior versions stay readable because old files are
    * never deleted by a commit.
    *
    * At most three Spark queries, none with a shuffle: the updates' id
    * column is collected to the driver once (it also fills the
    * persisted updates frame), where the duplicate-id refusal and the
    * candidate skip run; the ids reach the executors as a broadcast
    * ([[withIdSet]]) for the hit scan and then the write.
    *
    * Contract: the lake is id-keyed (one row per id — the same
    * contract [[commitDelete]] and the CDC operators assume), and
    * `updates` must carry each id at most once (enforced loudly:
    * "last update wins" among duplicates is nondeterministic under
    * shuffle). `updates` must carry EVERY lake column at the lake's
    * exact type (name-set equality alone would let Spark's union
    * silently widen long+string→string and write a version whose new
    * files disagree with the carried files' types — the exact-integer
    * read contract forbids it), and MAY carry additional new columns:
    * SCHEMA EVOLUTION — the new columns land on this commit's files,
    * and untouched old files read them as NULL under [[readAsOf]] /
    * [[changesBetween]]. An all-insert
    * upsert (no matched id) commits like an append. Returns
    * (version, nFilesRewritten, nRowsUpdated).
    */
  def commitUpsert(spark: SparkSession, dir: String, idCol: String,
      updates: DataFrame,
      beforePublish: () => Unit = () => ()): (Long, Long, Long) = {
    require(currentVersion(spark, dir) > 0,
      s"commitUpsert on an empty lake at $dir — the first commit is " +
        "commitAppend")
    upsertCore(spark, dir, idCol, updates, Nil, beforePublish)
  }

  /** The MERGE body shared by [[commitUpsert]] and
    * [[commitUpsertForBatch]] — handles the empty-lake case (version 0
    * or an empty current manifest) as a pure insert typed by the
    * updates frame; the public batch API allows it (a CDC ingest's
    * first batch creates the lake), the interactive one guards it.
    */
  private def upsertCore(spark: SparkSession, dir: String, idCol: String,
      updates: DataFrame, extraHeaders: Seq[String],
      beforePublish: () => Unit = () => ()): (Long, Long, Long) = {
    val (fs, base) = fsOf(spark, dir)
    val cur = currentVersion(spark, dir)
    val entries =
      if (cur == 0) Seq.empty[String]
      else fileEntries(fs, base, cur)
    // the lake's schema: the `#schema=` manifest header (one manifest
    // line, no footer opened). An empty lake has no schema to align
    // against: the whole upsert is a pure insert typed by the updates
    // frame.
    val lakeSchema: org.apache.spark.sql.types.StructType =
      if (cur == 0) updates.schema else schemaOf(fs, base, cur)
    val lakeCols = lakeSchema.fieldNames.toSeq
    val missing = lakeCols.filterNot(updates.columns.contains)
    require(missing.isEmpty,
      s"updates lack lake column(s) ${missing.mkString(",")} — an upsert " +
        "must carry every lake column (schema evolution ADDS columns, " +
        "never drops them)")
    // structural type equality on every shared column (nullability
    // aside — parquet round-trips flip containsNull/nullable freely):
    // unionByName would otherwise silently coerce (long+string→string,
    // long+double→double) and write a version whose new files carry a
    // different schema than the carried files — a corrupted lake,
    // caught loudly here instead
    lakeSchema.fields.foreach { f =>
      val u = updates.schema(f.name)
      require(org.apache.spark.sql.types.DataType.equalsStructurally(
        u.dataType, f.dataType, ignoreNullability = true),
        s"updates column '${f.name}' is ${u.dataType.simpleString} but " +
          s"the lake at $dir carries ${f.dataType.simpleString} — cast " +
          "explicitly; an implicit union coercion would rewrite the " +
          "column's type behind every reader's back")
    }
    // schema evolution: columns only the updates carry, appended after
    // the lake's (stable output order); old files read them as NULL
    val newCols = updates.columns.toSeq.filterNot(lakeCols.contains)
    val outCols = lakeCols ++ newCols
    // the updates frame feeds the id collect and the rewrite union —
    // persist it once (the MERGE's own input, spill-safe; the id collect
    // fills it) instead of re-executing the caller's plan per consumer
    val upd = updates.select(outCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cols = resolveStatsCols(spark, dir, cur, None)
      // duplicate ids in ONE updates frame have no deterministic winner
      val (ids, dup) = collectIds(upd, idCol)
      require(dup.isEmpty, s"commitUpsert: updates carry id ${dup.get} " +
        "more than once — a single MERGE source must be id-unique")
      // the affected files read under the LAKE schema (an old file
      // predating evolution columns fills them as NULL) — zero footer
      // opens
      val read = (rels: Seq[String]) =>
        readUnder(spark, fs, base, lakeSchema, rels)
      val rel = tokenDir('m')
      val (affectedRel, nUpdated) = withIdSet(spark, ids) { member =>
        val hit = hitFiles(fs, base, "commitUpsert", cur, entries,
          cols.indexOf(idCol), idCol, ids, member, read)
        val fresh =
          if (hit._1.isEmpty) upd
          else {
            val surv = read(hit._1).where(!member(col(idCol)))
            // evolution columns only the updates carry — project them in
            // as typed NULLs so the union stays coercion-free
            surv.select(outCols.map(c =>
                if (surv.columns.contains(c)) col(c)
                else lit(null).cast(updates.schema(c).dataType).as(c)): _*)
              .unionByName(upd)
          }
        fresh.write.mode("overwrite").parquet(s"$dir/$rel")
        hit
      }
      // this commit's schema: the lake's columns (at the lake's types)
      // plus the evolution columns — stamped so the NEXT mutation reads
      // it from one manifest line
      val committedSchema = org.apache.spark.sql.types.StructType(
        lakeSchema.fields ++ newCols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            updates.schema(c).dataType, nullable = true)))
      val freshEntries = statEntries(spark, fs, base,
        partFilesUnder(fs, base, rel), cols, committedSchema)
      val snapSchema = if (cur == 0) None else Some(lakeSchema)
      val v = publishMutation(spark, fs, base, dir, "commitUpsert",
        snapV = cur, removed = affectedRel.toSet, freshEntries,
        mkHeaders = _ => extraHeaders ++ schemaHeader(committedSchema) ++
          statsHeaders(cols),
        onIntervening = (effCur, addedPaths) => {
          // a racing commit that CHANGED the lake schema invalidates this
          // upsert's projection/alignment — abort rather than guess
          if (Some(schemaOf(fs, base, effCur)) != snapSchema)
            throw new ConcurrentMutationException(
              s"commitUpsert at $dir: the lake schema changed under this " +
                "MERGE (a concurrent schema-evolving commit) — nothing " +
                "was committed; re-run against the current version")
          // a racing APPEND that added one of this MERGE's insert ids
          // would leave the id twice after a rebase (the one-row-per-id
          // contract broken silently) — churn-bounded id-column scan
          // under the (unchanged) lake schema: a winner file LACKING
          // idCol reads it NULL, never equal to any id
          if (addedPaths.nonEmpty && ids.nonEmpty &&
              lakeSchema.fieldNames.contains(idCol)) {
            val clash = withIdSet(spark, ids)(member =>
              readUnder(spark, fs, base, lakeSchema, addedPaths)
                .select(col(idCol)).where(member(col(idCol)))
                .limit(1).collect()) // bounded: limit 1
            if (clash.nonEmpty) throw new ConcurrentMutationException(
              s"commitUpsert at $dir: a concurrent commit added id " +
                s"${clash.head.get(0)} that this MERGE also carries — a " +
                "rebase would duplicate the id; nothing was committed")
          }
        },
        beforePublish = beforePublish)
      (v, affectedRel.size.toLong, nUpdated)
    } finally upd.unpersist(blocking = false): Unit
  }

  /** Exactly-once streaming MERGE: commit micro-batch `batchId`'s
    * id-keyed updates as ONE upsert version carrying the batch id as a
    * manifest header — [[commitAppendForBatch]]'s replay discipline
    * applied to [[commitUpsert]]'s merge semantics. A replayed batch
    * (foreachBatch re-delivers the last uncommitted batch after a
    * restart) is recognized and writes NOTHING, not even reading its
    * rows; an OLDER batch id is a checkpoint/lake pairing error and
    * fails loudly; headerless maintenance commits (deletes,
    * compactions) interleave without blinding the check, and a
    * [[restore]] rewinds the cursor with the state (its `#batch=`
    * stamp), so a rollback across streaming versions re-applies
    * re-delivered batches instead of silently dropping them. The first
    * batch may CREATE the lake — a CDC ingest starts somewhere.
    * Returns the committed (or already-committed) version.
    */
  def commitUpsertForBatch(spark: SparkSession, dir: String,
      idCol: String, df: DataFrame, batchId: Long): Long = {
    val (fs, base) = fsOf(spark, dir)
    val lastStream = newestBatchCursor(fs, base)
    lastStream match {
      case Some((v, b)) if b == batchId => return v // replay — committed
      case Some((_, b)) => require(b < batchId,
        s"batch $batchId arrived but batch $b is already committed — " +
          "this checkpoint does not belong to this lake")
      case None => ()
    }
    upsertCore(spark, dir, idCol, df, Seq(s"#batch=$batchId"))._1
  }

  /** Drain a CDC-shaped stream into the lake as one MERGE version per
    * micro-batch, through [[commitUpsertForBatch]]'s exactly-once
    * discipline. Each batch must be id-unique (dedupe upstream — e.g.
    * keep the newest row per key inside foreachBatch); batches apply in
    * delivery order, so cross-batch last-writer-wins follows from the
    * stream's own ordering. Processes all available input
    * (Trigger.AvailableNow) and returns.
    */
  def upsertStream(df: DataFrame, dir: String, idCol: String,
      checkpointDir: String): Unit = {
    val q = df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          commitUpsertForBatch(
            batch.sparkSession, dir, idCol, batch.toDF(), batchId): Unit
      }
      .start()
    q.awaitTermination()
  }

  /** The row-level changes between two committed versions — the Delta
    * change-data-feed shape, derived from the MANIFEST DIFF alone:
    * files present only in `vFrom` and files present only in `vTo` are
    * read, everything both versions share by name is never opened. The
    * two multiset differences of those file contents ARE the membership
    * delta (untouched files are byte-identical by the immutability
    * contract), so at 100 TB the cost is bounded by the CHURN between
    * the versions, not the lake.
    *
    * SCHEMA EVOLUTION: the change schema is the UNION of the two
    * versions' `#schema=` headers (no footer opened) — a column added
    * between the versions reads as NULL in the old side's preimages,
    * exactly how [[readAsOf]] reads the old files themselves. Two
    * versions sharing every file give an empty frame of the same union
    * (of `schemaHint`, when one is given).
    *
    * Returns the union columns plus `change_type`:
    * `insert` / `delete`, and for ids present on BOTH sides (an upsert
    * replaced the row) `update_preimage` / `update_postimage` — the
    * id-pairing assumes the lake's one-row-per-id contract, like every
    * mutation here. Two reads of the same content (e.g. across a
    * [[compact]], which rewrites every file name) diff to zero changes
    * but DO read both layouts — compaction is the one commit kind whose
    * churn is the whole lake. A replaced row whose bytes did not change
    * cancels out and reports nothing, which is the CDC semantics a
    * consumer wants (no-op updates are not changes).
    */
  def changesBetween(spark: SparkSession, dir: String, vFrom: Long,
      vTo: Long, idCol: String,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    require(vFrom <= vTo,
      s"changesBetween: vFrom=$vFrom must not exceed vTo=$vTo")
    val (fs, base) = fsOf(spark, dir)
    val from = fileEntries(fs, base, vFrom).map(entryPath)
    val to = fileEntries(fs, base, vTo).map(entryPath)
    val toSet = to.toSet
    val fromSet = from.toSet
    val removed = from.filterNot(toSet.contains)
    val added = to.filterNot(fromSet.contains)
    // evolution-added columns appear; a file that predates one reads
    // it NULL
    def union: org.apache.spark.sql.types.StructType = {
      val (a, b) = (schemaOf(fs, base, vFrom), schemaOf(fs, base, vTo))
      org.apache.spark.sql.types.StructType(
        a.fields ++ b.fields.filterNot(f => a.fieldNames.contains(f.name)))
    }
    val schema =
      if (removed.nonEmpty || added.nonEmpty) union
      else schemaHint.getOrElse(union)
    def side(rels: Seq[String]): DataFrame =
      if (rels.nonEmpty) readUnder(spark, fs, base, schema, rels)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val a = side(removed) // rows leaving between vFrom and vTo
    val b = side(added)   // rows arriving
    val dels = a.exceptAll(b)
    val ins = b.exceptAll(a)
    // ids on both sides = replacements; churn-bounded, AQE sizes the join
    val both = dels.select(col(idCol)).distinct()
      .join(ins.select(col(idCol)).distinct(), Seq(idCol), "inner")
      .withColumn("__upd", lit(true))
    def tag(df: DataFrame, updType: String, plainType: String): DataFrame =
      df.join(both, Seq(idCol), "left")
        .withColumn("change_type",
          when(col("__upd"), updType).otherwise(plainType))
        .drop("__upd")
        .select((schema.fieldNames.toSeq :+ "change_type").map(col): _*)
    tag(dels, "update_preimage", "delete")
      .unionByName(tag(ins, "update_postimage", "insert"))
  }

  /** Range delete on the FIRST stats column — see the column-named
    * overload.
    */
  def commitDeleteRange(spark: SparkSession, dir: String,
      lower: Long, upper: Long): (Long, Long, Long, Long) = {
    val cur = currentVersion(spark, dir)
    require(cur > 0, s"commitDeleteRange on an empty lake at $dir")
    val cols = statsColsOf(spark, dir, cur)
    require(cols.nonEmpty,
      s"lake at $dir carries no manifest statistics — " +
        "commitAppend(statsCol=...) enables them")
    commitDeleteRange(spark, dir, cols.head, lower, upper)
  }

  /** Range delete on a named stats column — the TTL/retention shape
    * (`DELETE WHERE col BETWEEN ...`) with the Iceberg metadata-delete
    * optimization: manifest statistics classify every file
    * driver-side, files FULLY inside `[lower, upper]` AND provably
    * null-free leave the new manifest WITHOUT being read or rewritten
    * (a whole-partition retention sweep is a manifest-only commit),
    * only files STRADDLING a range boundary rewrite (their surviving
    * rows), and files outside the range — including all-null files —
    * carry over by name. At 100 TB this is the difference between a
    * retention job that rewrites a year of data and one that drops it
    * by name — the dropped files stay on disk for time travel,
    * reclaimed by [[vacuum]] like every other dead file.
    *
    * NULLs in the stats column never match a range (SQL semantics) and
    * survive every range delete — which is exactly why the whole-file
    * drop demands a RECORDED ZERO null count; stats-less files cannot
    * prove null-freedom, so they classify as straddling and REWRITE —
    * never a silent whole-file drop, never a silent keep.
    *
    * Returns (version, filesDropped, filesRewritten, rowsRemoved). Both
    * row counts come from parquet footers on the driver (no data read,
    * no count job): the dropped files' rows, and the straddlers' rows
    * minus their rewrite's, so the straddler rewrite is the call's only
    * Spark query and a manifest-only drop runs none. An empty
    * intersection — or a rewrite that removed no row, whose token dir
    * is then deleted — commits nothing and returns version 0.
    */
  def commitDeleteRange(spark: SparkSession, dir: String, colName: String,
      lower: Long, upper: Long): (Long, Long, Long, Long) =
    deleteRangeCore(spark, dir, colName, svOf(lower), svOf(upper),
      matchPred = c => c.cast("long").between(lower, upper),
      boundsLabel = s"[$lower,$upper]")

  /** [[commitDeleteRange]] with TYPED bounds — the retention sweep on a
    * string / double / decimal / timestamp stats column. Same
    * metadata-delete discipline: files provably inside the range and
    * null-free drop by name (truncated string bounds are conservative,
    * so an inexact max can only demote a drop to a rewrite, never the
    * reverse); straddlers rewrite; everything else carries.
    */
  def commitDeleteRangeOn(spark: SparkSession, dir: String,
      colName: String, lower: Any, upper: Any): (Long, Long, Long, Long) =
    deleteRangeCore(spark, dir, colName, svOf(lower), svOf(upper),
      matchPred = c => c >= lit(lower) && c <= lit(upper),
      boundsLabel = s"[$lower,$upper]")

  private def deleteRangeCore(spark: SparkSession, dir: String,
      colName: String, loB: SV, hiB: SV,
      matchPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      boundsLabel: String): (Long, Long, Long, Long) = {
    require(loB.cmp(hiB).exists(_ <= 0),
      s"commitDeleteRange: bounds $boundsLabel are reversed or of " +
        "mismatched types")
    val (fs, base) = fsOf(spark, dir)
    val cur = currentVersion(spark, dir)
    require(cur > 0, s"commitDeleteRange on an empty lake at $dir")
    val cols = statsColsOf(spark, dir, cur)
    val colIdx = cols.indexOf(colName)
    require(colIdx >= 0,
      s"lake at $dir carries no manifest statistics on '$colName' " +
        s"(stats columns: ${if (cols.isEmpty) "none" else cols.mkString(",")})" +
        " — commitAppend(statsCol=...) enables them")
    val entries = fileEntries(fs, base, cur)
    if (entries.isEmpty) return (0L, 0L, 0L, 0L)
    // driver-side classification from the manifest alone. Bounds of a
    // kind the column's stats don't carry compare as None everywhere —
    // every file then classifies Rewrite (correct, just not pruned).
    sealed trait Cls
    object Drop extends Cls; object Carry extends Cls
    object Rewrite extends Cls
    def classify(e: String): Cls = colStat(e, colIdx) match {
      case Some(ColStat(Some(lo), Some(hi), nulls)) =>
        if (hi.cmp(loB).exists(_ < 0) || lo.cmp(hiB).exists(_ > 0))
          Carry // disjoint — nulls don't matter
        else if (lo.cmp(loB).exists(_ >= 0) && hi.cmp(hiB).exists(_ <= 0)
            && nulls == 0L) Drop
        else Rewrite // straddling, or inside with (possible) null rows
      case Some(ColStat(None, None, n)) if n > 0 =>
        Carry // all-null file: no row can match a range
      case _ => Rewrite // no stats: unclassifiable — never silently keep
    }
    val byCls = entries.groupBy(classify)
    val inside = byCls.getOrElse(Drop, Seq.empty)
    val straddling = byCls.getOrElse(Rewrite, Seq.empty)
    if (inside.isEmpty && straddling.isEmpty) return (0L, 0L, 0L, 0L)
    // both row counts come from parquet footers on the driver (no Spark
    // job): the dropped files' rows, and the straddlers' rows minus the
    // rows their rewrite kept. The straddlers are read ONCE, under the
    // lake schema (never first-footer-wins: an evolved straddler's
    // rewrite must keep evolution columns)
    val droppedRows = footerRows(spark, fs, base, inside.map(entryPath))
    val (rewritten, removedFromStraddling) =
      if (straddling.isEmpty) (Seq.empty[String], 0L)
      else {
        val rel = tokenDir('m')
        // nulls never match a range — they must SURVIVE (a bare
        // negated predicate would drop them: three-valued logic)
        val sc = schemaOf(fs, base, cur)
        readUnder(spark, fs, base, sc, straddling.map(entryPath))
          .filter(coalesce(!matchPred(col(colName)), lit(true)))
          .write.mode("overwrite").parquet(s"$dir/$rel")
        val kept = partFilesUnder(fs, base, rel)
        val removed = footerRows(spark, fs, base, straddling.map(entryPath)) -
          footerRows(spark, fs, base, kept)
        // a rewrite that removed nothing (possible when only stats-less
        // files classified as straddling) commits nothing and leaves no
        // orphan behind
        if (droppedRows == 0L && removed == 0L) {
          fs.delete(new Path(base, rel), true): Unit
          return (0L, 0L, 0L, 0L)
        }
        (statEntries(spark, fs, base, kept, cols, sc), removed)
      }
    if (droppedRows + removedFromStraddling == 0L)
      return (0L, 0L, 0L, 0L) // nothing actually matched
    // optimistic publish: removed = dropped + rewritten source files; a
    // racing append's arrivals survive the rebase untouched (the range
    // delete applies to its snapshot — delete-before-append order)
    val removedSet = (inside ++ straddling).map(entryPath).toSet
    val vPub = publishMutation(spark, fs, base, dir, "commitDeleteRange",
      snapV = cur, removed = removedSet, rewritten,
      mkHeaders = carriedHeaders(fs, base, cols))
    (vPub, inside.size.toLong, straddling.size.toLong,
      droppedRows + removedFromStraddling)
  }

  /** The lake exactly as version `v` committed it — an explicit file
    * list, no directory listing, no partition discovery — under the
    * version's `#schema=` header: every column the version carries
    * (one a file predates reads NULL there), and no schema-inference
    * job. A version with an empty manifest reads as an empty frame of
    * `schemaHint`, else of its header.
    */
  def readAsOf(spark: SparkSession, dir: String, v: Long,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val (fs, base) = fsOf(spark, dir)
    val files = fileEntries(fs, base, v).map(entryPath)
    if (files.nonEmpty)
      readUnder(spark, fs, base, schemaOf(fs, base, v), files)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schemaHint.getOrElse(schemaOf(fs, base, v)))
  }

  /** The data files that ARE version `v`, manifest-relative. */
  def filesOf(spark: SparkSession, dir: String, v: Long): Seq[String] = {
    val (fs, base) = fsOf(spark, dir)
    fileEntries(fs, base, v).map(entryPath)
  }

  /** [[rangeFiles]] on the FIRST stats column. */
  def rangeFiles(spark: SparkSession, dir: String, v: Long,
      lower: Long, upper: Long): (Seq[String], Long) = {
    val cols = statsColsOf(spark, dir, v)
    rangeFiles(spark, dir, v, cols.headOption.getOrElse(""), lower, upper)
  }

  /** A range-API bound → its typed comparison value. The kind must
    * match what the lake's writer encoded for the column ([[statVal]]'s
    * tag table) or comparisons come back None and nothing prunes —
    * mismatched bounds degrade to a full read, never a wrong one.
    */
  private def svOf(v: Any): SV = v match {
    case l: Long => LongV(l)
    case i: Int => LongV(i.toLong)
    case s: Short => LongV(s.toLong)
    case b: Byte => LongV(b.toLong)
    case d: Double => DblV(d)
    case f: Float => DblV(f.toDouble)
    case s: String =>
      BytesV(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case b: java.math.BigDecimal => DecV(b)
    case b: BigDecimal => DecV(b.bigDecimal)
    case t: java.sql.Timestamp =>
      TsV(t.getTime / 1000L * 1000000L + t.getNanos / 1000L)
    case t: java.time.Instant =>
      TsV(math.multiplyExact(t.getEpochSecond, 1000000L) +
        t.getNano / 1000L)
    case other => throw new IllegalArgumentException(
      s"unsupported range bound ${other.getClass.getName} (supported: " +
        "integral, String, Double/Float, BigDecimal, Timestamp/Instant)")
  }

  /** True when the entry's stats on `colIdx` PROVE no row can fall in
    * `[lo, hi]` — the only case a range read may skip the file.
    */
  private def rangeDisjoint(e: String, colIdx: Int, lo: SV,
      hi: SV): Boolean =
    if (colIdx < 0) false
    else colStat(e, colIdx) match {
      case Some(ColStat(Some(eLo), Some(eHi), _)) =>
        // disjoint iff file-max < lo or file-min > hi — and only when
        // the kinds actually compare (mismatched bounds never prune)
        eHi.cmp(lo).exists(_ < 0) || eLo.cmp(hi).exists(_ > 0)
      case Some(ColStat(None, None, n)) if n > 0 =>
        true // all-null: no row of it can match any range
      case _ => false // no stats (or a foreign tag) — never pruned
    }

  /** Version `v`'s files whose manifest stats on `colName` ADMIT
    * `[lower, upper]` — the driver-side skip decision, from the
    * manifest alone: no footer read, no file open. Files without stats
    * on the column are never pruned; all-null files ARE pruned (a NULL
    * never matches a BETWEEN, so a range read loses nothing). Returns
    * (admitted files, total files).
    */
  def rangeFiles(spark: SparkSession, dir: String, v: Long,
      colName: String, lower: Long, upper: Long): (Seq[String], Long) =
    rangeFilesOn(spark, dir, v, colName, lower, upper)

  /** [[rangeFiles]] with TYPED bounds — string, double, decimal and
    * timestamp stats columns prune exactly like integral ones. Pass
    * bounds in the column's own domain (String for string columns,
    * java.sql.Timestamp/Instant for timestamp columns, ...).
    */
  def rangeFilesOn(spark: SparkSession, dir: String, v: Long,
      colName: String, lower: Any, upper: Any): (Seq[String], Long) = {
    val (fs, base) = fsOf(spark, dir)
    val colIdx = statsColsOf(spark, dir, v).indexOf(colName)
    val (lo, hi) = (svOf(lower), svOf(upper))
    val entries = fileEntries(fs, base, v)
    val kept = entries.filterNot(rangeDisjoint(_, colIdx, lo, hi))
      .map(entryPath)
    (kept, entries.size.toLong)
  }

  /** [[rangeFiles]] for SEVERAL bounds in ONE manifest resolution, on
    * the FIRST stats column: `result(i)` is the admitted file list of
    * `bounds(i)`. A multi-term index search probes one bucket range per
    * term — resolving the version's entry list (manifest + delta chain
    * + region files) once instead of once per range is the difference
    * between one and several metadata round-trips per query on an
    * object store.
    */
  def rangeFilesMulti(spark: SparkSession, dir: String, v: Long,
      bounds: Seq[(Long, Long)]): (Seq[Seq[String]], Long) = {
    val (fs, base) = fsOf(spark, dir)
    val colIdx = 0 // the first stats column, like rangeFiles(lower, upper)
    require(statsColsOf(spark, dir, v).nonEmpty,
      s"version $v of $dir carries no manifest statistics — " +
        "commitAppend(statsCol=...) enables them")
    val entries = fileEntries(fs, base, v)
    val adm = bounds.map { case (lower, upper) =>
      val (lo, hi) = (svOf(lower), svOf(upper))
      entries.filterNot(rangeDisjoint(_, colIdx, lo, hi)).map(entryPath)
    }
    (adm, entries.size.toLong)
  }

  /** A range read's admitted files `kept` of version `v` as one frame,
    * under `schemaHint` when given, else under the version's `#schema=`
    * header — no schema-inference job either way; evolution columns
    * NULL-fill in files that predate them. No admitted file: an empty
    * frame of the same schema.
    */
  private def rangeFrame(spark: SparkSession, dir: String, v: Long,
      kept: Seq[String],
      schemaHint: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    val (fs, base) = fsOf(spark, dir)
    val schema = schemaHint.getOrElse(schemaOf(fs, base, v))
    if (kept.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else readUnder(spark, fs, base, schema, kept)
  }

  /** [[readAsOfRange]] on the FIRST stats column. */
  def readAsOfRange(spark: SparkSession, dir: String, v: Long,
      lower: Long, upper: Long,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val cols = statsColsOf(spark, dir, v)
    require(cols.nonEmpty,
      s"version $v of $dir carries no manifest statistics — " +
        "commitAppend(statsCol=...) enables them")
    readAsOfRange(spark, dir, v, cols.head, lower, upper, schemaHint)
  }

  /** The rows of version `v` whose `colName` lies in `[lower, upper]` —
    * manifest stats prune the file list FIRST ([[rangeFiles]]), then
    * the residual predicate runs over only the admitted files (whose
    * row groups parquet min/max prune further). Requires the lake to
    * carry stats on the column. At 100 TB this is the difference
    * between opening every file of a version and opening the few whose
    * range can match.
    *
    * Without `schemaHint` the admitted files read under version `v`'s
    * `#schema=` header ([[rangeFrame]]): the header's columns, with an
    * evolution column NULL in files that predate it, and no
    * schema-inference job. A range that admits no file reads as an
    * empty frame of the same schema.
    */
  def readAsOfRange(spark: SparkSession, dir: String, v: Long,
      colName: String, lower: Long, upper: Long,
      schemaHint: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    require(statsColsOf(spark, dir, v).contains(colName),
      s"version $v of $dir carries no manifest statistics on " +
        s"'$colName' — commitAppend(statsCol=...) enables them")
    val (kept, _) = rangeFiles(spark, dir, v, colName, lower, upper)
    val frame = rangeFrame(spark, dir, v, kept, schemaHint)
    frame.filter(col(colName).cast("long").between(lower, upper))
  }

  /** [[readAsOfRange]] with TYPED bounds over a string / double /
    * decimal / timestamp stats column: the manifest prunes the file
    * list first ([[rangeFilesOn]]), the residual BETWEEN runs in the
    * column's own type over only the admitted files. The manifest-side
    * byte comparison and Spark's string comparison are both binary
    * UTF-8 order, so the two stages can never disagree.
    */
  def readAsOfRangeOn(spark: SparkSession, dir: String, v: Long,
      colName: String, lower: Any, upper: Any,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    require(statsColsOf(spark, dir, v).contains(colName),
      s"version $v of $dir carries no manifest statistics on " +
        s"'$colName' — commitAppend(statsCol=...) enables them")
    val (kept, _) = rangeFilesOn(spark, dir, v, colName, lower, upper)
    val frame = rangeFrame(spark, dir, v, kept, schemaHint)
    frame.filter(col(colName) >= lit(lower) && col(colName) <= lit(upper))
  }

  /** Maintenance rewrite: the CURRENT version's content re-laid-out
    * into `nFiles` files as a NEW version — small commits and
    * file-scoped deletes fragment the file list, and an object-store
    * read pays per file. Content-identical by construction (one read,
    * one write, a manifest of only the new files); prior versions are
    * untouched and stay readable — fragmented history is reclaimed by
    * [[vacuum]] once it ages out, never by the compaction itself.
    *
    * `sortCol` additionally CLUSTERS the layout (the OPTIMIZE/CLUSTER
    * BY half of the Iceberg discipline): rows are range-partitioned on
    * the column and sorted within each file, so per-file (min, max)
    * become near-disjoint instead of each file spanning the whole
    * domain — which is what makes the manifest statistics actually
    * prune after interleaved ingest (a lake whose every file covers
    * the full key range admits every file to every range read, stats
    * or not). Range boundaries come from Spark's distributed sampler —
    * no global sort, no driver materialization — so admitted-file
    * counts after clustering are tight but not byte-deterministic; the
    * invariants (membership identity, admission never worse) are.
    * Returns the new version.
    */
  def compact(spark: SparkSession, dir: String, nFiles: Int = 8,
      sortCol: Option[String] = None,
      beforePublish: () => Unit = () => ()): Long = {
    require(nFiles >= 1, s"compact needs nFiles >= 1, got $nFiles")
    val (fs, base) = fsOf(spark, dir)
    val cur = currentVersion(spark, dir)
    require(cur > 0, s"compact on an empty lake at $dir")
    if (fileEntries(fs, base, cur).isEmpty) return cur // nothing to lay out
    val cols = resolveStatsCols(spark, dir, cur, None)
    // read under the LAKE schema (never first-footer-wins): compacting
    // an evolved lake must carry evolution-added columns — a bare read
    // would pick one arbitrary file's footer and could silently drop
    // them from the new current version
    val snapFiles = fileEntries(fs, base, cur).map(entryPath)
    val sc = schemaOf(fs, base, cur)
    val current = readUnder(spark, fs, base, sc, snapFiles)
    val laid = sortCol match {
      case Some(c) => current.repartitionByRange(nFiles, col(c))
        .sortWithinPartitions(col(c))
      case None => current.repartition(nFiles)
    }
    val rel = tokenDir('m')
    laid.write.mode("overwrite").parquet(s"$dir/$rel")
    // optimistic: removed = the whole snapshot (a compaction rewrites
    // everything it read) — racing APPENDS rebase cleanly (their files
    // carry over the relaid ones), racing mutations that rewrote any
    // snapshot file abort this compaction loudly (its output would
    // resurrect their removed rows)
    publishMutation(spark, fs, base, dir, "compact",
      snapV = cur, removed = snapFiles.toSet,
      statEntries(spark, fs, base, partFilesUnder(fs, base, rel), cols, sc),
      mkHeaders = carriedHeaders(fs, base, cols),
      beforePublish = beforePublish)
  }

  /** Z-ORDER clustered compaction — the `OPTIMIZE ZORDER BY (x, y)`
    * half of the Delta/Iceberg discipline, composed with the
    * multi-column manifest statistics: the current content is
    * range-partitioned and sorted on the MORTON interleave of the two
    * columns' bits ([[graft.functions.Morton]], a native codegen'd
    * expression), so every file covers a tight bounding RECTANGLE in
    * (x, y) space instead of a stripe — and a lake carrying
    * `statsCol = "x,y"` then prunes range reads and range deletes on
    * EITHER axis from the manifest alone. A lexicographic
    * [[compact]](sortCol) can only ever prune its leading column; at
    * 100 TB the difference is a second query dimension that skips
    * files instead of scanning the lake.
    *
    * Both dimensions NORMALIZE to the same `bits`-bit space (linear
    * min-max over the current version) before interleaving — raw
    * interleaving hands every top z bit to whichever column has the
    * wider range, and the narrow column then never prunes (the classic
    * unequal-width Z-order failure: measured on the quartile fixture,
    * a 13-bit doc_id vs a 10-bit n_chars made the y axis admit
    * everything at 8 files until normalization landed; Delta's
    * OPTIMIZE ZORDER normalizes per column for the same reason).
    * Normalization is order-preserving per dimension, and the z value
    * is ONLY a layout key — the manifest statistics stay on the raw
    * columns. NULL in either column sorts into the leading file
    * (z = -1) and is never dropped. Content-identical by construction;
    * prior versions untouched; same sampler caveat as [[compact]]
    * (admission counts tight, not byte-deterministic — the invariants
    * are). Returns the new version.
    */
  def compactZOrder(spark: SparkSession, dir: String, xCol: String,
      yCol: String, nFiles: Int = 8, bits: Int = 16): Long =
    compactZOrder(spark, dir, Seq(xCol, yCol), nFiles, bits)

  /** N-DIMENSIONAL Z-order compaction — the same per-dimension
    * normalization and Morton layout over `zCols.length >= 2`
    * clustering columns (`OPTIMIZE ZORDER BY (a, b, c)`): each
    * dimension min-max-normalizes to a common `bits`-bit width, the
    * interleave hands bit `i` of dimension `j` to z bit `i*k + j`, and
    * a lake carrying all k columns in its manifest statistics then
    * prunes range reads and range deletes on ANY axis. `bits * k`
    * must fit a long (<= 63); the default `bits = 0` picks the widest
    * uniform width, min(16, 63/k). NULL in any dimension sorts into
    * the leading file (z = -1) and is never dropped.
    */
  def compactZOrder(spark: SparkSession, dir: String,
      zCols: Seq[String], nFiles: Int, bits: Int): Long = {
    require(nFiles >= 1, s"compactZOrder needs nFiles >= 1, got $nFiles")
    val k = zCols.length
    require(k >= 2, s"compactZOrder needs >= 2 columns, got $k")
    val b = if (bits == 0) math.min(16, 63 / k) else bits
    require(b >= 1 && b * k <= 63,
      s"bits * dims must fit a positive long: bits=$b, dims=$k")
    val (fs, base) = fsOf(spark, dir)
    val cur = currentVersion(spark, dir)
    require(cur > 0, s"compactZOrder on an empty lake at $dir")
    if (fileEntries(fs, base, cur).isEmpty) return cur
    val cols = resolveStatsCols(spark, dir, cur, None)
    // lake-schema read, same reason as [[compact]]: evolution columns
    // must survive the rewrite
    val snapFiles = fileEntries(fs, base, cur).map(entryPath)
    val sc = schemaOf(fs, base, cur)
    val current = readUnder(spark, fs, base, sc, snapFiles)
    val dims = zCols.map(c => col(c).cast("long"))
    // per-dimension bounds: one column-pruned agg over the content the
    // compaction is about to read whole anyway (bounded collect: 2k
    // longs)
    val aggs = dims.flatMap(d => Seq(min(d), max(d)))
    val bounds = current.agg(aggs.head, aggs.tail: _*).collect()(0)
    zCols.indices.foreach { j =>
      require(!bounds.isNullAt(2 * j),
        s"compactZOrder: '${zCols(j)}' is all-NULL — nothing to " +
          "interleave on that axis; drop it from zCols")
    }
    val span = (1L << b) - 1
    def norm(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      if (hi > lo)
        least(lit(span), greatest(lit(0L),
          ((c - lit(lo)).cast("double") / lit((hi - lo).toDouble) *
            span).cast("long")))
      else lit(0L) // constant dimension: contributes nothing
    val normed = dims.zipWithIndex.map { case (d, j) =>
      norm(d, bounds.getLong(2 * j), bounds.getLong(2 * j + 1))
    }
    val z = when(dims.map(_.isNull).reduce(_ || _), lit(-1L))
      .otherwise(graft.functions.Morton.codeN(normed, b))
    val laid = current.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val rel = tokenDir('m')
    laid.write.mode("overwrite").parquet(s"$dir/$rel")
    publishMutation(spark, fs, base, dir, "compactZOrder",
      snapV = cur, removed = snapFiles.toSet,
      statEntries(spark, fs, base, partFilesUnder(fs, base, rel), cols, sc),
      mkHeaders = carriedHeaders(fs, base, cols))
  }

  /** Roll the lake BACK to version `v` as a NEW commit (the Delta
    * RESTORE shape): the new manifest lists exactly `v`'s file entries
    * — no data is read, copied, or rewritten, because the restored
    * files still exist on disk (commits never delete; only [[vacuum]]
    * does, and it refuses to touch referenced files). History stays
    * linear and append-only: the bad commits remain inspectable (and
    * feedable to [[changesBetween]] — a restore surfaces to CDC
    * consumers as the inverse of what it undoes), and the restore
    * itself can be restored away. Fails loudly if `v` was vacuumed.
    * Restoring the current version is refused — an empty commit is not
    * history.
    *
    * STREAMING CURSOR: when the lake carries any `#batch=` provenance,
    * the restore stamps the batch cursor AS OF the target version
    * (the newest batch id at or below `v`, or `-1` when none) — the
    * exactly-once replay check reads the newest header, so without the
    * stamp a restore that undoes streaming versions would leave a
    * STALE cursor and a legitimately re-delivered batch would be
    * silently skipped, permanently losing its rows. With it, rolled-
    * back batches re-apply and already-reflected ones still dedupe.
    * Returns the new version.
    */
  def restore(spark: SparkSession, dir: String, v: Long): Long = {
    val (fs, base) = fsOf(spark, dir)
    val cur = currentVersion(spark, dir)
    require(cur > 0, s"restore on an empty lake at $dir")
    require(v < cur,
      s"restore target v$v is not BEHIND the current version v$cur")
    val entries = fileEntries(fs, base, v) // loud if vacuumed
    // the restored version's stats columns (possibly none) become the
    // lake's again — a restore rolls back the WHOLE table state,
    // including whether statistics were enabled
    val stats = statsColsOf(spark, dir, v)
    val all = versions(spark, dir)
    // checkpoint-first batch-cursor scan — one read covers versions at
    // or below the checkpoint instead of one manifest open each
    val ckpt = readCheckpoint(fs, base)
    val batchHeaders =
      if (all.exists(x => tsBatchOf(fs, base, x, ckpt)._2.isDefined)) {
        val cursorAtV = all.filter(_ <= v).reverseIterator
          .map(x => tsBatchOf(fs, base, x, ckpt)._2)
          .collectFirst { case Some(b) => b }
        Seq(s"#batch=${cursorAtV.getOrElse(-1L)}")
      } else Seq.empty
    val nv = cur + 1
    writeManifest(fs, base, nv, entries,
      headers = batchHeaders ++ schemaHeader(schemaOf(fs, base, v)) ++
        statsHeaders(stats))
    nv
  }

  /** The commit log as a frame:
    * (version, n_files, batch_id, committed_at) — batch_id NULL for
    * maintenance commits (deletes, batch appends, compactions);
    * committed_at epoch-millis from the `#ts=` header, like
    * [[commitTimes]]. Driver-built from the manifests (bounded by
    * version count).
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val (fs, base) = fsOf(spark, dir)
    import spark.implicits._
    val ckpt = readCheckpoint(fs, base) // one read covers v <= ckpt
    versions(spark, dir).map { v =>
      val m = metaOf(fs, base, v, ckpt)
      (v, m.nFiles, m.batch, m.ts)
    }.toDF("version", "n_files", "batch_id", "committed_at")
  }

  /** Latest version as a frame. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readAsOf(spark, dir, currentVersion(spark, dir))

  /** (version, commit epoch-millis) ascending — from each manifest's
    * own `#ts=` header (stamped at publish, which IS the commit
    * instant; a manifest without it fails loudly). The header is what
    * makes time travel survive a lake COPY: cp/rsync/object-store
    * migration refreshes every mtime, but the bytes — and so the
    * header — travel with the manifest. Single-writer mutations and
    * rebase-serialized appends keep times monotone with versions on
    * any store with sane clocks.
    */
  def commitTimes(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val (fs, base) = fsOf(spark, dir)
    val ckpt = readCheckpoint(fs, base) // one read covers v <= ckpt
    versions(spark, dir).map { v => v -> tsBatchOf(fs, base, v, ckpt)._1 }
  }

  /** Timestamp time travel (the Iceberg/Delta entry point): the newest
    * version committed at or before `tsMillis`. Loud when the
    * timestamp predates every surviving commit — the caller asked for
    * state that never existed (or was vacuumed).
    */
  def versionAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val times = commitTimes(spark, dir)
    require(times.nonEmpty, s"versionAsOf on an empty lake at $dir")
    val at = times.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis predates every commit of $dir (earliest: " +
        s"v${times.head._1} at ${times.head._2})")
    at.map(_._1).max
  }

  /** The lake as of a wall-clock instant — [[versionAsOf]] then
    * [[readAsOf]].
    */
  def readAsOfTimestamp(spark: SparkSession, dir: String, tsMillis: Long,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    readAsOf(spark, dir, versionAsOf(spark, dir, tsMillis), schemaHint)

  /** Time-based retention — the `VACUUM ... RETAIN` shape: drop every
    * version whose commit time ([[commitTimes]], `#ts=`-header-driven
    * so a copied lake retains correctly) is strictly BEFORE `tsMillis`,
    * except that the newest version always survives (the lake's
    * current state is not retention's to take, and [[vacuum]] refuses
    * to drop everything anyway). Time travel to at-or-after the cutoff
    * keeps working; older reads fail loudly at the manifest probe.
    * Returns (manifestsDropped, dataFilesDeleted); a cutoff older than
    * every commit is a no-op (0, 0).
    */
  def vacuumBefore(spark: SparkSession, dir: String,
      tsMillis: Long, force: Boolean = false): (Long, Long) = {
    val times = commitTimes(spark, dir)
    require(times.nonEmpty, s"vacuumBefore on an empty lake at $dir")
    val keepFrom = times.collectFirst {
      case (v, t) if t >= tsMillis => v
    }.getOrElse(times.last._1) // all older: keep only the newest
    if (keepFrom == times.head._1) (0L, 0L) // nothing below the floor
    else vacuum(spark, dir, keepFrom, force)
  }

  /** Reclaim storage: drop manifests below `keepFrom` and every data
    * file no surviving manifest references (which also sweeps orphans
    * of crashed commits — including stale `.writing` side files of
    * crashed publishes older than a one-hour grace). Versions >=
    * `keepFrom` stay readable byte-for-byte; older reads fail loudly
    * at the manifest probe. Returns
    * (manifestsDropped, dataFilesDeleted). Runs under the same
    * single-writer contract as the mutations (a vacuum racing an
    * IN-FLIGHT append could sweep its not-yet-referenced token dir).
    *
    * RETENTION FLOOR (the Delta `retentionDurationCheck` shape):
    * without `force`, the vacuum REFUSES to drop any version committed
    * within [[DefaultRetentionMillis]] — a long-running time-travel
    * reader mid-scan on a recent version must not have its files swept
    * by a routine retention job. `force = true` is the explicit,
    * logged override for tests and operator intervention.
    */
  def vacuum(spark: SparkSession, dir: String, keepFrom: Long,
      force: Boolean = false): (Long, Long) = {
    val (fs, base) = fsOf(spark, dir)
    val all = versions(spark, dir)
    require(all.nonEmpty, s"vacuum on an empty lake at $dir")
    val (drop, keep) = all.partition(_ < keepFrom)
    require(keep.nonEmpty,
      s"vacuum(keepFrom=$keepFrom) would drop EVERY version of $dir")
    if (!force && drop.nonEmpty) {
      val floor = System.currentTimeMillis() - DefaultRetentionMillis
      val times = commitTimes(spark, dir).toMap
      val young = drop.filter(v => times.getOrElse(v, 0L) > floor)
      require(young.isEmpty,
        s"vacuum at $dir would drop version(s) ${young.mkString(",")} " +
          s"committed within the ${DefaultRetentionMillis / 3600000} h " +
          "retention floor — a concurrent time-travel reader may still " +
          "be scanning them; pass force = true to override")
    }
    // DELTA-CHAIN safety: the new oldest survivor may be a delta whose
    // base is about to drop — MATERIALIZE it as a self-contained full
    // SHADOW manifest (same resolved entries, same headers minus
    // #base, same #ts — the commit instant is the original's) BEFORE
    // any drop. The shadow is written BESIDE the original, never
    // replacing it: committed bytes are never rewritten in place, so
    // there is NO window in which the oldest survivor is torn or
    // missing — a failed or torn shadow publish aborts the vacuum
    // loudly with the entire chain still intact. Every later survivor
    // chains through this version or a younger anchor, so one shadow
    // keeps the whole surviving history resolvable and drop semantics
    // stay exactly version-based.
    if (drop.nonEmpty && !isFullManifest(fs, base, keep.head)) {
      val oldest = keep.head
      val lines = manifestLines(fs, base, oldest)
      // no #base (self-contained), no #ts (re-stamped from the kept
      // line below), no #regions (the shadow carries entries INLINE)
      val headers = lines.filter(l => l.startsWith("#") &&
        !l.startsWith("#base=") && !l.startsWith("#ts=") &&
        !l.startsWith("#regions="))
      val ts = lines.find(_.startsWith("#ts=")).toSeq // keep the instant
      val full = ts ++ headers ++ fileEntries(fs, base, oldest)
      val dst = fullManifestPath(base, oldest)
      fs.delete(dst, false): Unit // a prior crashed vacuum's leftover
      val side = new Path(dst.getParent, dst.getName + "." +
        java.util.UUID.randomUUID().toString.take(8) + ".writing")
      val bytes = (full.mkString("\n") + "\n").getBytes("UTF-8")
      val out = fs.create(side, true)
      try out.write(bytes)
      finally out.close()
      nioLocal(fs, dst) match {
        case Some(nd) =>
          java.nio.file.Files.createLink(nd, nioLocal(fs, side).get): Unit
          fs.delete(side, false): Unit
        case None if fs.isInstanceOf[AtomicCreateStore] =>
          fs.delete(side, false): Unit
          require(fs.asInstanceOf[AtomicCreateStore]
              .createExclusive(dst, bytes),
            s"vacuum: shadow for v$oldest already exists after the " +
              "leftover sweep — concurrent vacuum? single-writer rule " +
              "violated; nothing was dropped")
        case None =>
          require(fs.rename(side, dst),
            s"vacuum: materializing v$oldest failed — nothing was " +
              "dropped and its delta chain is intact; re-run the vacuum")
          // torn-rename guard (copy-based stores): verify before ANY
          // drop — on mismatch remove the torn shadow and abort with
          // the original chain untouched
          val in = fs.open(dst)
          val back = try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
          if (!java.util.Arrays.equals(back, bytes)) {
            fs.delete(dst, false): Unit
            throw new IllegalStateException(
              s"vacuum: materializing v$oldest landed PARTIAL bytes — " +
                "this store's rename is not atomic; the torn shadow was " +
                "removed, nothing was dropped, the delta chain is intact")
          }
      }
    }
    val referenced = keep.iterator
      .flatMap(v => fileEntries(fs, base, v).map(entryPath)).toSet
    var deleted = 0L
    val dataDir = new Path(base, DataName)
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { cd =>
      if (cd.isDirectory) {
        def rel(name: String) = s"$DataName/${cd.getPath.getName}/$name"
        val entries = fs.listStatus(cd.getPath)
        val parts = entries.filter(f => f.isFile &&
          f.getPath.getName.startsWith("part-") &&
          f.getPath.getName.endsWith(".parquet"))
        if (!parts.exists(f => referenced.contains(rel(f.getPath.getName)))) {
          // nothing referenced: the whole commit dir goes — this also
          // sweeps crashed commits' orphans with their write markers
          deleted += parts.length
          require(fs.delete(cd.getPath, true),
            s"vacuum: delete ${cd.getPath} failed")
        } else parts.foreach { f =>
          // partially referenced (a delete rewrote some of its files):
          // drop only the dead part files and their checksum siblings,
          // never the live files' write metadata
          if (!referenced.contains(rel(f.getPath.getName))) {
            require(fs.delete(f.getPath, false),
              s"vacuum: delete ${rel(f.getPath.getName)} failed")
            fs.delete(new Path(cd.getPath, s".${f.getPath.getName}.crc"),
              false): Unit
            deleted += 1
          }
        }
      }
    }
    drop.foreach { v =>
      require(fs.delete(manifestPath(base, v), false),
        s"vacuum: dropping manifest v$v failed")
      // an earlier vacuum's shadow for this version goes with it
      fs.delete(fullManifestPath(base, v), false): Unit
    }
    // region files are SHARED across anchors (reuse), so they sweep by
    // REFERENCE, never per-version: any region no surviving manifest's
    // refs name — dropped anchors' unshared regions, crashed or
    // lost-race anchor attempts' orphans — goes now. Shadows carry
    // entries inline and deltas carry churn, so only surviving flat
    // anchors contribute refs.
    val rd = new Path(base, regionsDirName)
    if (fs.exists(rd)) {
      val refRegions = keep.iterator.flatMap { v =>
        regionRefsOf(manifestLines(fs, base, v)).map(_._2)
      }.toSet
      fs.listStatus(rd).foreach { s =>
        // metadata, not data: swept silently, outside the returned
        // dataFilesDeleted count
        if (s.isFile &&
            !refRegions.contains(s"$regionsDirName/${s.getPath.getName}"))
          fs.delete(s.getPath, false): Unit
      }
    }
    // stale publish side files: a crashed or lost-race writer leaves
    // its unique v*.txt.<uuid>.writing in _versions/ — invisible to
    // every reader (versionOf ignores them) but never reclaimed until
    // here. A one-hour grace protects an IN-FLIGHT publish's side file.
    val vd = new Path(base, VersionsName)
    if (fs.exists(vd)) {
      val grace = System.currentTimeMillis() - 3600000L
      fs.listStatus(vd).foreach { s =>
        if (s.isFile && s.getPath.getName.endsWith(".writing") &&
            s.getModificationTime < grace)
          fs.delete(s.getPath, false): Unit
      }
    }
    // refresh the checkpoint AFTER the drops: [[currentVersion]]'s
    // forward probe anchors on `#ckpt_v=`, and a checkpoint still
    // pointing below the dropped prefix would fail its anchor-existence
    // check and demote every later call to the full listing. Refreshing
    // to the newest survivor keeps the probe O(commits since this
    // vacuum). Best-effort, like the commit-path rewrite — the stale
    // checkpoint only costs listings, never answers.
    if (drop.nonEmpty)
      try writeCheckpoint(fs, base, upTo = keep.last)
      catch { case e: Exception =>
        System.err.println(s"checkpoint refresh after vacuum of $base " +
          s"skipped: $e")
      }
    (drop.size.toLong, deleted)
  }
}
