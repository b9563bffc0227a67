package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert

/** Object-store-safe table commits: immutable generation directories plus
  * a versioned manifest log — the design the [[Writers.withCommitLock]] /
  * rename-swap sinks document as their object-store gap (ref upsert race:
  * 13_binance_calculate_hourly.py:79-85; this closes it without renames).
  *
  * Layout:
  * {{{
  *   <root>/_manifests/00000000000000000042.txt   // version 42, atomic create
  *   <root>/gen-<uuid>/[k=v/...]part-*.parquet    // immutable, write-once
  * }}}
  *
  * A manifest file lists every live data file (relative path + bytes) and
  * ends with a `commit=ok` sentinel. The COMMIT is the atomic
  * `fs.create(manifest, overwrite = false)` of the next version number —
  * exactly the conditional-put primitive every object store offers (S3
  * If-None-Match, GCS generation-0 precondition), so no rename is ever
  * needed, data files are never mutated, and the version claim doubles as
  * the concurrency arbiter: two writers racing the same version produce
  * one winner and one [[ManifestTable.ConcurrentCommitException]] whose
  * orphan generation is deleted. Mutators (upsert/compact) are
  * compare-and-swap — they commit `readVersion + 1`, so a merge based on
  * a stale read can never overwrite a concurrent commit; callers retry
  * the whole read-merge-write ([[retryOnConflict]] and [[upsertWithRetry]]
  * package that loop with bounded exponential backoff).
  *
  * Every mutator takes ONE commit path ([[commit]]): it writes its data
  * (generations, deletion vectors, change-feed rows, snapshot sidecar),
  * stages the manifest together with the paths it wrote, and hands both
  * over. `commit` owns the rest of the protocol — the claim (with dead
  * half-claim recovery after [[ClaimGraceMs]]), deleting the staged
  * paths on every exit that does not commit (a claim that fails with its
  * manifest already visible keeps them: the version may be committed),
  * the lost-race
  * [[ManifestTable.ConcurrentCommitException]], and the pointer advance
  * after a snapshot. The two mutators that can re-claim data they have
  * already written — [[write]]'s re-stamp at the new head and the
  * partitioned upsert's disjoint rebase — do so through its re-stage
  * callback, so they follow the same rules.
  *
  * Readers resolve the newest manifest whose sentinel is present: a
  * writer that crashed after creating but before finishing a manifest (or
  * a reader listing mid-write) yields a sentinel-less file that readers
  * skip, falling back to the previous version — generations are immutable,
  * so every older manifest stays valid forever. A reader can never
  * observe a half-commit.
  *
  * Scale posture (Iceberg/Delta-lite): an upsert writes ONLY the merged
  * touched partitions into a new generation and carries every other live
  * file forward BY REFERENCE — untouched data is neither read nor
  * rewritten, so commit cost tracks the batch, not the 100 TB table.
  *
  * The manifest LOG has the same property (Delta's `_last_checkpoint`
  * design): a partitioned upsert commits a DELTA manifest listing only
  * the files it added and removed — O(batch) bytes, however many
  * million files are live — and every `checkpointInterval`-th commit
  * (plus every [[write]]/[[compact]], which rewrite everything anyway)
  * writes a FULL snapshot manifest. Readers resolve a version by
  * walking back to the nearest snapshot and folding the deltas forward
  * — at most `checkpointInterval` small reads. A `_last_checkpoint`
  * pointer file names the newest snapshot so `current()` can probe
  * forward from it instead of listing the log directory; the pointer
  * is a pure HINT, written best-effort AFTER its snapshot commits —
  * missing, stale, or garbled, readers fall back to the listing and
  * every answer is identical (a writer crashing between snapshot commit
  * and pointer write is invisible). [[compact]] collapses the data
  * files, and [[vacuum]] bounds the log while always retaining the
  * snapshot+delta chain the kept versions resolve through.
  *
  * Large snapshots go COLUMNAR (Delta's parquet-checkpoint design): a
  * snapshot listing at least `graft.manifest.columnarSnapshotThreshold`
  * files (default 100 000 — session conf) is written as an immutable
  * parquet sidecar `_manifests/ckpt-<uuid>/` BEFORE the claim, and the
  * committed manifest is a tiny `kind=snapshot-ref` stub naming it plus
  * a row-count integrity check. The commit protocol is unchanged — the
  * atomic stub claim IS the commit; a writer crashing after the sidecar
  * but before the claim leaves an orphan dir that `vacuum(deleteOrphans)`
  * reclaims, and a sidecar that cannot be read back (missing/corrupt/
  * wrong count) degrades exactly like a garbled manifest: loud warning,
  * readers fall back to the previous resolvable version. Small tables
  * keep the debuggable inline-text snapshot.
  */
object ManifestTable {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private[sources] val ManifestDir = "_manifests"

  /** Per-file, per-column statistics collected from the parquet footer
    * at write time. `kind` is 'n' (numeric — ints and floats,
    * canonicalized to decimal strings), 'd' (dates as epoch days),
    * 't' (timestamps as epoch micros — a distinct kind from 'd' so a
    * cross-scale days-vs-micros comparison is a mismatch, not a wrong
    * prune), 's' (UTF-8 string, compared lexicographically),
    * or '_' (no usable bounds — all-null column, unsupported type —
    * but null/value counts still valid). `nulls`/`count` are the file's
    * null and total value counts for the column, -1 when unknown
    * (legacy manifests). A column absent from a file's stats map means
    * "unknown" — data skipping must keep the file. */
  final case class ColStats(kind: Char, min: String, max: String,
                            nulls: Long = -1L, count: Long = -1L,
                            exact: Boolean = false,
                            ndv: Option[String] = None) {
    /** Provably zero non-null values: no comparison predicate can match. */
    def allNull: Boolean = count >= 0 && nulls == count
  }

  /** Reference from a live file to its deletion vector: `dir` is the
    * table-root-relative `dv-*` dataset holding (relPath, pos) rows for
    * deleted positions, `count` is how many of THIS file's positions it
    * lists. Merge-on-read: the file's bytes are untouched; readers
    * anti-join the positions out ([[readState]]). */
  final case class DvRef(dir: String, count: Long)

  /** One live data file: path relative to the table root (first segment
    * is its generation dir), its size (so sizing decisions never need
    * a 100 TB `listFiles`), optional per-column min/max stats for
    * metadata-level data skipping ([[readWhere]]), and an optional
    * deletion-vector reference ([[deleteMoR]]). A file with a `dv` has
    * SUPERSET stats: bounds/counts include deleted rows, so pruning
    * stays conservative but [[statsOnly]] loses exactness. `rows` is
    * the file's TOTAL (pre-DV) row count from its parquet footer, -1
    * when unknown (legacy manifests): unlike column value counts it is
    * always present at write time, so it answers COUNT(*) with zero
    * data reads ([[rowCount]] — `rows - dv.count` is EXACT live rows
    * even mid-MoR), counts hive-partition columns whose values never
    * had footer stats, and proves a DV'd file fully deleted. */
  final case class FileEntry(relPath: String, bytes: Long,
                             stats: Map[String, ColStats] = Map.empty,
                             dv: Option[DvRef] = None,
                             rows: Long = -1L) {
    /** Hive partition sub-path between the generation dir and the file
      * name ("" when unpartitioned). */
    def partitionPath: String = {
      val segs = relPath.split('/')
      segs.slice(1, segs.length - 1).mkString("/")
    }

    /** The hive partition columns the file's directories spell, in
      * directory order (empty when unpartitioned) — its layout. */
    def partitionKeys: Seq[String] =
      partitionPath.split('/').toSeq.filter(_.nonEmpty).map(_.takeWhile(_ != '='))

    /** Hive `k=v` partition segments decoded to column → value; a
      * `__HIVE_DEFAULT_PARTITION__` value decodes to None (null). */
    def partitionValues: Map[String, Option[String]] =
      partitionPath.split('/').toSeq.filter(_.nonEmpty).flatMap { seg =>
        val eq = seg.indexOf('=')
        if (eq < 0) None
        else {
          val raw = unescapePathName(seg.substring(eq + 1))
          Some(unescapePathName(seg.substring(0, eq)) ->
            (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw)))
        }
      }.toMap
  }

  /** Reverse of Spark's hive-path escaping (ExternalCatalogUtils
    * semantics): `%xx` sequences decode back to their characters. */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Stats wire format (3rd tab field of a `file=` line, and the `stats`
    * sidecar column): comma-joined `col:kind:min:max:nulls:count[:flags]`
    * specs with every component URL-encoded, so column names and values
    * may contain any character. The optional 7th field carries flag
    * letters — today only `e` = "bounds are EXACT values of rows in the
    * file", recorded at commit time because the engine read the footer
    * of a file its own writer produced (Spark's parquet writer does not
    * truncate chunk-statistics bounds; over-long bounds are dropped
    * whole, never shortened) — what lets MIN/MAX(string) be answered
    * from metadata ([[graft.sources.v2.GraftAggScan]]): a truncated max
    * would still be a valid PRUNING bound but a wrong ANSWER. 4-part
    * specs (pre-null-count manifests) decode with unknown counts;
    * 6-part (pre-flag) decode as inexact — legacy files keep the
    * conservative decline. Empty string = no stats. */
  private[graft] def encodeStats(stats: Map[String, ColStats]): String =
    stats.toSeq.sortBy(_._1).map { case (c, s) =>
      // the optional 8th field is a base64 HLL distinct sketch
      // (opt-in per table — [[NdvColsProp]]); base64 never contains
      // ':' or ',', and enc() guards regardless
      s"${enc(c)}:${s.kind}:${enc(s.min)}:${enc(s.max)}:${s.nulls}:${s.count}" +
        (if (s.exact || s.ndv.isDefined) (if (s.exact) ":e" else ":") else "") +
        s.ndv.map(v => s":${enc(v)}").getOrElse("")
    }.mkString(",")

  /** A file entry's full stats field: the per-column specs plus, when
    * known, a leading `#rows:<n>` pseudo-spec carrying the file's total
    * row count. Riding INSIDE the stats field is deliberate format
    * compatibility: pre-rows readers' decodeStats ignores unknown spec
    * shapes ("stats are advisory"), so they drop the count harmlessly —
    * no new tab field, no protocol bump (contrast dv, where dropping is
    * data loss and IS gated). `#` cannot collide with a real column:
    * column names are URL-encoded, so a literal `#rows` column encodes
    * as `%23rows`. */
  private[graft] def encodeFileStats(f: FileEntry): String = {
    val base = encodeStats(f.stats)
    if (f.rows < 0) base
    else if (base.isEmpty) s"#rows:${f.rows}"
    else s"#rows:${f.rows},$base"
  }

  /** Decode a stats field into (rows, per-column stats); rows is -1
    * when the field predates the `#rows` pseudo-spec. */
  private[graft] def decodeFileStats(s: String): (Long, Map[String, ColStats]) =
    if (s == null || s.isEmpty) (-1L, Map.empty)
    else {
      val rows = s.split(',').collectFirst {
        case spec if spec.startsWith("#rows:") =>
          scala.util.Try(spec.stripPrefix("#rows:").toLong).getOrElse(-1L)
      }.getOrElse(-1L)
      (rows, decodeStats(s))
    }

  /** DV wire format (4th tab field of a `file=` line, and the `dv`
    * sidecar column): `<url-encoded dir>:<count>`. Unlike stats, a
    * garbled DV spec is an ERROR, never ignored — dropping a deletion
    * vector would resurrect deleted rows (the parse error degrades the
    * whole manifest to absent via [[readRaw]]'s defensive catch). */
  private[graft] def encodeDv(d: DvRef): String = s"${enc(d.dir)}:${d.count}"

  private[graft] def decodeDv(s: String): Option[DvRef] =
    if (s == null || s.isEmpty) None
    else s.split(':') match {
      case Array(dir, n) => Some(DvRef(dec(dir), n.toLong))
      case _ => sys.error(s"malformed deletion-vector spec '$s'")
    }

  private[graft] def decodeStats(s: String): Map[String, ColStats] =
    if (s == null || s.isEmpty) Map.empty
    else s.split(',').toSeq.flatMap { spec =>
      spec.split(':') match {
        case Array(c, k, mn, mx) if k.length == 1 =>
          Some(dec(c) -> ColStats(k.charAt(0), dec(mn), dec(mx)))
        case Array(c, k, mn, mx, nl, ct) if k.length == 1 =>
          scala.util.Try(ColStats(k.charAt(0), dec(mn), dec(mx), nl.toLong, ct.toLong))
            .toOption.map(dec(c) -> _)
        case Array(c, k, mn, mx, nl, ct, flags) if k.length == 1 =>
          scala.util.Try(ColStats(k.charAt(0), dec(mn), dec(mx), nl.toLong,
              ct.toLong, exact = flags.contains('e')))
            .toOption.map(dec(c) -> _)
        case Array(c, k, mn, mx, nl, ct, flags, ndv) if k.length == 1 =>
          scala.util.Try(ColStats(k.charAt(0), dec(mn), dec(mx), nl.toLong,
              ct.toLong, exact = flags.contains('e'),
              ndv = Some(dec(ndv)).filter(_.nonEmpty)))
            .toOption.map(dec(c) -> _)
        case _ => None // unknown spec shape: ignore (stats are advisory)
      }
    }.toMap

  /** `tags` carries small commit metadata (e.g. the streaming sink's
    * last-applied batch id) atomically with the file list. */
  final case class State(version: Long, files: Seq[FileEntry],
                         tags: Map[String, String] = Map.empty)

  /** A compare-and-swap commit lost its race: the table moved past the
    * version this mutation was computed against. Re-read and retry. */
  final class ConcurrentCommitException(root: String, version: Long)
    extends RuntimeException(
      s"manifest table $root: version $version was committed concurrently — " +
        "re-read the table and retry the mutation")

  private[sources] def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------- resolved-state memo

  /** Conf gate (default on) for the resolved-state memo below. */
  val StateMemoKey = "spark.graft.stateMemo.enabled"

  /** One memo entry: the head manifest's fingerprint, the SIDECAR path
    * the resolution read through (when the snapshot base was
    * columnar), and the state. The sidecar is re-checked for EXISTENCE
    * on every hit — a DELETED checkpoint (vacuum bug, external cleanup)
    * must degrade like a garbled manifest (fall back to an older
    * resolvable version, ManifestTableSpec pins it), not be masked
    * until process restart. Existence only, deliberately: IN-PLACE
    * sidecar corruption (bitrot after a successful resolution) keeps
    * serving from the memo — the cached state IS the truly committed
    * one, so that divergence-from-cold is availability, not a wrong
    * answer, and re-validating content would cost the parquet read the
    * memo exists to skip. Hit cost: one getFileStatus, plus one
    * exists() for sidecar-backed entries. */
  private final case class MemoEntry(len: Long, mtime: Long,
                                     sidecar: Option[String], state: State,
                                     weight: Long)

  /** Eviction is WEIGHT-bounded, not entry-count-bounded: one State
    * pins every FileEntry's stats strings (plus per-file base64 HLL
    * sketches on opted-in tables), so a flat entry cap would let 256
    * large-table states retain GBs on the driver. The weight estimates
    * retained chars per entry; the default budget (~64 MB of estimated
    * payload) holds hundreds of ordinary states or a handful of
    * 100k-file ones — either way a bounded, LRU-evicted footprint. */
  private val stateMemoMaxWeight = 64L << 20
  private def entryWeight(s: State): Long =
    s.files.iterator.map(f => 64L + f.relPath.length +
      f.stats.iterator.map { case (c, cs) =>
        c.length + cs.min.length + cs.max.length +
          cs.ndv.map(_.length).getOrElse(0) + 24 }.sum).sum
  private var stateMemoWeight = 0L
  /** Memo of fully-resolved states keyed (root, version), each entry
    * validated by the HEAD manifest file's (length, modificationTime)
    * fingerprint. Sound because committed manifests are IMMUTABLE — the
    * CAS claim creates each `NNN.txt` exactly once and nothing ever
    * rewrites it — so a (root, version) can only resolve one way while
    * its manifest file exists unchanged; the fingerprint catches the
    * one aliasing hazard (a table deleted and re-created at the same
    * path re-claims version numbers with new content). Why it exists:
    * ONE query's planning resolves the same state several times —
    * table schema, bucket layout, the ScanBuilder, V1 statistics — and
    * each cold resolution is a manifest parse plus, for sidecar-backed
    * snapshots, a driver parquet read of the checkpoint; on a
    * 10k-query/day warehouse that is real plan-time. A hit costs one
    * getFileStatus (plus one exists() on the sidecar for
    * columnar-snapshot entries). Bounded LRU (access-order),
    * process-wide. */
  private val stateMemo =
    new java.util.LinkedHashMap[(String, Long), MemoEntry](64, 0.75f, true)

  /** Evict eldest entries until the weight budget holds (callers hold
    * the stateMemo monitor). */
  private def memoEvict(): Unit = {
    val it = stateMemo.entrySet().iterator()
    while (stateMemoWeight > stateMemoMaxWeight && it.hasNext) {
      stateMemoWeight -= it.next().getValue.weight
      it.remove()
    }
  }

  private def memoEnabled(spark: SparkSession): Boolean =
    spark.conf.get(StateMemoKey, "true").toBoolean

  /** Diagnostic hit/miss counters (validated hits only) — what a spec
    * or a plan-time investigation reads; reset is test-only. */
  private val memoHits = new java.util.concurrent.atomic.AtomicLong
  private val memoMisses = new java.util.concurrent.atomic.AtomicLong
  private[graft] def stateMemoCounters: (Long, Long) =
    (memoHits.get(), memoMisses.get())
  private[graft] def resetStateMemoCounters(): Unit = {
    memoHits.set(0L); memoMisses.set(0L)
  }

  /** OPERATOR escape hatch: drop every memoized resolution (all roots).
    * The fingerprint + sidecar-existence validation catches engine-path
    * invalidation and ordinary external deletes on its own; the one
    * documented blind spot is an external tool deleting AND re-creating
    * a manifest with identical length and mtime (same-second, same-size
    * replacement — memoGet would serve the stale state). After any such
    * out-of-band surgery, call this (or flip [[StateMemoKey]] off) and
    * the next read resolves cold. */
  def clearStateMemo(): Unit = stateMemo.synchronized {
    stateMemo.clear()
    stateMemoWeight = 0L
  }

  /** The memoized state at (root, version) — only when the version's
    * manifest file still matches the fingerprint recorded at store
    * time. Absent files and fingerprint drift (delete + re-create) miss
    * and fall to cold resolution. */
  private def memoGet(spark: SparkSession, fs: FileSystem, root: String,
                      version: Long): Option[State] = {
    if (!memoEnabled(spark)) return None
    val st =
      try fs.getFileStatus(manifestPath(root, version))
      catch { case _: java.io.FileNotFoundException => return None }
    val entry = stateMemo.synchronized {
      Option(stateMemo.get((root, version)))
        .filter(e => e.len == st.getLen && e.mtime == st.getModificationTime)
    }
    // the sidecar liveness check preserves the degradation contract:
    // a DELETED checkpoint must make this version resolve cold (and
    // fail there, falling back to an older version) exactly as it
    // would in a fresh process — see the MemoEntry doc for why
    // existence (not content) is the right probe
    val hit = entry.filter(_.sidecar.forall(p =>
      try fs.exists(new Path(p)) catch { case _: java.io.IOException => false }))
    (if (hit.isDefined) memoHits else memoMisses).incrementAndGet()
    hit.map(_.state)
  }

  /** Drop every memo entry whose root sits under `prefix` — called by
    * the surfaces that DELETE or MOVE whole tables (catalog DROP
    * TABLE / DROP NAMESPACE / RENAME TABLE), closing the one
    * fingerprint blind spot: a re-created manifest landing with the
    * SAME length inside the SAME modification-time tick. External
    * (non-engine) deletes still rely on the fingerprint alone. */
  private[graft] def invalidateStateMemo(prefix: String): Unit =
    stateMemo.synchronized {
      val it = stateMemo.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        // path-segment boundary: dropping /wh/ns/t must not evict the
        // sibling /wh/ns/t2
        val k = e.getKey._1
        if (k == prefix || k.startsWith(prefix + "/")) {
          stateMemoWeight -= e.getValue.weight
          it.remove()
        }
      }
    }

  /** A loadRef wrapper that records the sidecar dir a resolution reads
    * through — the byte-identical path string [[memoGet]]'s liveness
    * probe checks (one definition so the two resolution sites can
    * never drift on the spelling). */
  private def trackingLoadRef(spark: SparkSession, root: String)
      : (SnapshotRef => Option[Seq[FileEntry]], () => Option[String]) = {
    var used: Option[String] = None
    (ref => {
      used = Some(new Path(root, s"$ManifestDir/${ref.refDir}").toString)
      loadRefFiles(spark, root, ref)
    }, () => used)
  }

  /** Record a freshly-resolved state under its own version's manifest
    * fingerprint (taken NOW — the file is post-sentinel immutable);
    * `sidecar` is the checkpoint dir the resolution read through, when
    * its snapshot base was columnar. */
  private def memoPut(spark: SparkSession, fs: FileSystem, root: String,
                      state: State, sidecar: Option[String]): Unit = {
    if (!memoEnabled(spark)) return
    val st =
      try fs.getFileStatus(manifestPath(root, state.version))
      catch { case _: java.io.FileNotFoundException => return }
    val w = entryWeight(state)
    // an entry heavier than the whole budget would evict everything and
    // still blow it — serve such giants cold rather than cache-churn
    if (w > stateMemoMaxWeight) return
    stateMemo.synchronized {
      val prev = stateMemo.put((root, state.version),
        MemoEntry(st.getLen, st.getModificationTime, sidecar, state, w))
      stateMemoWeight += w - (if (prev != null) prev.weight else 0L)
      memoEvict()
    }
  }

  private def manifestPath(root: String, version: Long): Path =
    new Path(root, f"$ManifestDir/$version%020d.txt")

  private def pointerPath(root: String): Path =
    new Path(root, s"$ManifestDir/_last_checkpoint")

  /** One committed log entry: a FULL snapshot (complete live-file list)
    * or a DELTA against the previous version (adds + removed rel-paths).
    * Every entry carries the COMPLETE tag state (tags are tiny), so
    * resolution takes tags from the head entry alone. */
  private sealed trait Manifest {
    def version: Long
    def tags: Map[String, String]
    /** This commit's row-level change dataset (dir, rowCount), any kind
      * of commit — a snapshotting upsert carries changes like a delta. */
    def cdf: Option[(String, Long)]
  }
  private final case class FullManifest(version: Long, files: Seq[FileEntry],
                                        tags: Map[String, String],
                                        cdf: Option[(String, Long)] = None) extends Manifest
  /** `cdf` names this commit's row-level change dataset (dir, rowCount)
    * when the table's change feed is enabled — additive metadata: a
    * reader that ignores it still reads the table correctly (unlike a
    * dropped dv), so no protocol bump. */
  private final case class DeltaManifest(version: Long, adds: Seq[FileEntry],
                                         removes: Seq[String],
                                         tags: Map[String, String],
                                         cdf: Option[(String, Long)] = None) extends Manifest
  /** Columnar snapshot: the committed stub names an immutable parquet
    * sidecar under `_manifests/` holding the file list; `count` is the
    * integrity check on read-back. `protocol` is the format level the
    * SIDECAR needs (2 when any listed file carries a deletion vector) —
    * recorded on the stub so a reader that cannot honor the dv column
    * refuses before it can silently drop it. */
  private final case class SnapshotRef(version: Long, refDir: String, count: Long,
                                       tags: Map[String, String],
                                       protocol: Int = 1,
                                       cdf: Option[(String, Long)] = None) extends Manifest

  /** Default age a gen-/dv-/bloomidx-/ckpt- dir must reach before
    * `vacuum(deleteOrphans = true)` will treat it as a crash orphan
    * rather than a concurrent writer's in-flight pre-claim data. */
  val DefaultOrphanGraceMs: Long = 20L * 60 * 1000

  /** Highest manifest protocol this reader understands. Protocol 1 is
    * the original format (implicit — no `protocol=` line); protocol 2
    * is declared by any commit whose live file set carries a deletion
    * vector, so a reader that would silently DROP the dv refs (and
    * resurrect deleted rows) refuses the table loudly instead. */
  val SupportedProtocol: Int = 2

  /** The table requires a manifest protocol newer than this build
    * understands — refusing is the contract: every softer degradation
    * (skip the version, drop the unknown field) silently corrupts. */
  final class UnsupportedProtocolException(root: String, version: Long, protocol: Int)
    extends RuntimeException(
      s"manifest table $root: v$version declares protocol $protocol but this " +
        s"reader supports <= $SupportedProtocol — upgrade the library to read " +
        "this table (refusing beats silently dropping fields it cannot parse)")

  /** Session conf: snapshots listing at least this many files are
    * written as parquet sidecars instead of inline text. */
  val ColumnarSnapshotThresholdKey = "graft.manifest.columnarSnapshotThreshold"

  private def columnarThreshold(spark: SparkSession): Int =
    scala.util.Try(spark.conf.get(ColumnarSnapshotThresholdKey).toInt).getOrElse(100000)

  /** Newest committed state, skipping half-written manifests (no
    * `commit=ok` sentinel → the writer died mid-create or is mid-write
    * right now; the previous version is still the truth).
    *
    * Fast path: the `_last_checkpoint` pointer names a committed
    * snapshot; probe forward from it one version at a time (versions are
    * claimed contiguously, so the first missing file is the end of the
    * log) — no directory listing. Any pointer defect — absent, garbled,
    * naming a vacuumed or non-snapshot version — falls back to the full
    * listing with identical results. */
  def current(spark: SparkSession, root: String): Option[State] = {
    val fs = fsOf(spark, root)
    // ONE pointer read serves both the memo fast path and the parsing
    // path below
    val pointer = readPointer(fs, root)
    // memo fast path (enabled only): the pointer + the contiguous-claim
    // existence probe identify the newest EXISTING manifest without
    // parsing anything; a validated memo hit for that version skips the
    // parse and (for sidecar snapshots) the checkpoint parquet read. A
    // half-written or garbled head misses (nothing was ever stored
    // under it) and the full parse-validated path below serves —
    // reusing this probe's bound so existence checks are never repeated.
    var probedTop: Option[Long] = None
    if (memoEnabled(spark)) pointer.foreach { c =>
      var newest = c
      while (fs.exists(manifestPath(root, newest + 1))) newest += 1
      probedTop = Some(newest)
      memoGet(spark, fs, root, newest) match {
        case Some(st) => return Some(st)
        case None     => ()
      }
    }
    val hinted = pointer.flatMap { c =>
      // each manifest is read and parsed ONCE across the snapshot
      // check, the probe, and the resolution — for a large inline-text
      // snapshot the parse is the cost the pointer path exists to bound
      val cache = scala.collection.mutable.Map.empty[Long, Option[Manifest]]
      def fetch(v: Long): Option[Manifest] =
        cache.getOrElseUpdate(v, readRaw(fs, root, v))
      if (!fetch(c).exists(isSnapshot)) None
      else {
        var newest = c
        var probe = c + 1
        // the memo probe already bounded the contiguous range; past its
        // top (or without it) fall back to existence checks. Probing
        // BEYOND probedTop is still required: a commit can land between
        // the two passes, and stopping short would serve a stale head.
        def exists(v: Long): Boolean =
          probedTop.exists(v <= _) || fs.exists(manifestPath(root, v))
        while (exists(probe)) {
          if (fetch(probe).nonEmpty) newest = probe
          probe += 1
        }
        // a None cached during the probe may be a manifest that was
        // MID-WRITE when probed and has landed since (with a successor
        // committing above it — making it part of newest's chain):
        // re-read such a version once before declaring the chain broken,
        // or a steady write load would discard the pointer fast path
        // for a full listing on every resolution
        def fetchReprobe(v: Long): Option[Manifest] = fetch(v) match {
          case None =>
            val re = readRaw(fs, root, v)
            cache(v) = re
            re
          case some => some
        }
        val (loadRef, usedRef) = trackingLoadRef(spark, root)
        val r = resolveState(fetchReprobe, loadRef, newest, root)
        r.foreach(memoPut(spark, fs, root, _, usedRef()))
        r
      }
    }
    hinted.orElse {
      val dir = new Path(root, ManifestDir)
      if (!fs.exists(dir)) return None
      val versions = fs.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter(_.endsWith(".txt"))
        .flatMap(n => scala.util.Try(n.stripSuffix(".txt").toLong).toOption)
        .sorted(Ordering[Long].reverse)
      versions.iterator.flatMap(v => resolveState(spark, root, v)).nextOption()
    }
  }

  private def isSnapshot(m: Manifest): Boolean = !m.isInstanceOf[DeltaManifest]

  /** Parse ONE manifest file; no chain resolution. `None` means "no
    * committed manifest at this version" — exactly: file absent
    * (vacuumed), sentinel absent (half-written), or sentinel-complete
    * but garbled (bitrot — loud warning, readers fall back). */
  private def readRaw(fs: FileSystem, root: String, version: Long): Option[Manifest] = {
    val p = manifestPath(root, version)
    // ONLY not-found (vacuumed between list and open) and half-written
    // (no sentinel) read as "no committed manifest here" — a transient
    // read failure (throttling, permissions) PROPAGATES: conflating it
    // would make readers silently serve a stale version and would let
    // claimOrRecover destroy a committed manifest it merely failed to read
    val text =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      } catch { case _: java.io.FileNotFoundException => return None }
    val lines = text.split('\n').toSeq
    if (!lines.contains("commit=ok")) return None // half-written → skip
    // protocol gate BEFORE the defensive parse: a newer-format manifest
    // must REFUSE (propagating error), never degrade to "absent" — the
    // absent fallback would silently serve an older version, the exact
    // resurrect-deleted-rows hazard the gate exists to close
    val protocol = lines.find(_.startsWith("protocol="))
      .flatMap(l => scala.util.Try(l.stripPrefix("protocol=").trim.toInt).toOption)
      .getOrElse(1)
    if (protocol > SupportedProtocol)
      throw new UnsupportedProtocolException(root, version, protocol)
    // defensive parse: a sentinel-complete but garbled manifest (hand
    // edit, bitrot) reads as ABSENT with a loud warning — readers fall
    // back to the previous version instead of every table operation
    // dying on a substring index
    try {
      val files = lines.filter(_.startsWith("file=")).map { l =>
        // 2 fields (legacy), 3 (with stats), or 4 (stats + deletion
        // vector — the stats field may be empty); relPath is tab-free
        // (hive escaping percent-encodes control chars in partition
        // dirs). split keeps interior empty fields, so a stats-less
        // DV'd file still parses as 4 fields.
        l.stripPrefix("file=").split('\t') match {
          case Array(p, b)    => FileEntry(p, b.toLong)
          case Array(p, b, s) =>
            val (rows, st) = decodeFileStats(s)
            FileEntry(p, b.toLong, st, None, rows)
          case Array(p, b, s, dv) =>
            val (rows, st) = decodeFileStats(s)
            FileEntry(p, b.toLong, st, decodeDv(dv), rows)
          case other => sys.error(s"malformed file= line (${other.length} fields)")
        }
      }
      val tags = lines.filter(_.startsWith("tag=")).map { l =>
        val body = l.stripPrefix("tag=")
        val tab = body.indexOf('\t')
        body.substring(0, tab) -> body.substring(tab + 1)
      }.toMap
      val cdf = lines.find(_.startsWith("cdf=")).map { l =>
        val body = l.stripPrefix("cdf=")
        val tab = body.indexOf('\t')
        (dec(body.substring(0, tab)), body.substring(tab + 1).toLong)
      }
      if (lines.contains("kind=delta")) {
        val removes = lines.filter(_.startsWith("remove=")).map(_.stripPrefix("remove="))
        Some(DeltaManifest(version, files, removes, tags, cdf))
      } else if (lines.contains("kind=snapshot-ref")) {
        val refDir = lines.find(_.startsWith("checkpoint=")).map(_.stripPrefix("checkpoint="))
          .getOrElse(sys.error("snapshot-ref without checkpoint= line"))
        val count = lines.find(_.startsWith("count=")).map(_.stripPrefix("count=").toLong)
          .getOrElse(sys.error("snapshot-ref without count= line"))
        Some(SnapshotRef(version, refDir, count, tags, protocol, cdf))
      } else Some(FullManifest(version, files, tags, cdf))
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"manifest table $root: v$version has a sentinel but unparseable " +
          s"content (${e.getClass.getSimpleName}) — treating as absent")
        None
    }
  }

  /** Resolve `version` to its full live-file list: walk back to the
    * nearest snapshot, fold the deltas forward. At most
    * checkpointInterval + 1 manifest reads. A broken link (missing or
    * garbled manifest inside the chain) resolves to None with a warning
    * — `current()` then falls back to the next older resolvable head. */
  private def resolveState(fetch: Long => Option[Manifest],
                           loadRef: SnapshotRef => Option[Seq[FileEntry]],
                           version: Long, root: String): Option[State] = {
    var deltas = List.empty[DeltaManifest]
    var v = version
    while (v >= 1) {
      fetch(v) match {
        case Some(d: DeltaManifest) =>
          // PREPEND: the walk visits head-first, the fold must apply
          // oldest-first — appending here once resurrected files whose
          // removal preceded a re-add (caught by a review repro: two
          // consecutive same-partition deltas read back both versions)
          deltas = d +: deltas
          v -= 1
        case Some(base) =>
          val baseFiles = base match {
            case f: FullManifest  => Some(f.files)
            case r: SnapshotRef   => loadRef(r)
            case _: DeltaManifest => None // unreachable (matched above)
          }
          baseFiles match {
            case None =>
              log.warn(s"manifest table $root: v$version resolves through snapshot " +
                s"v$v whose sidecar cannot be read — treating v$version as unresolvable")
              return None
            case Some(bf) =>
              var files = bf
              deltas.foreach { d =>
                val rm = d.removes.toSet
                files = files.filterNot(e => rm(e.relPath)) ++ d.adds
              }
              val head: Manifest = deltas.lastOption.getOrElse(base)
              return Some(State(version, files, head.tags))
          }
        case None =>
          log.warn(s"manifest table $root: v$version is committed but its delta " +
            s"chain breaks at v$v (missing/garbled) — treating v$version as unresolvable")
          return None
      }
    }
    log.warn(s"manifest table $root: v$version's delta chain has no snapshot base")
    None
  }

  /** The resolved state at a pinned version — metadata only (file list,
    * tags), no data touched. The relation layer uses it for Catalyst
    * sizing of time-traveled reads. */
  private[sources] def stateAt(spark: SparkSession, root: String,
                               version: Long): Option[State] =
    resolveState(spark, root, version)

  private def resolveState(spark: SparkSession, root: String, version: Long): Option[State] = {
    val fs = fsOf(spark, root)
    memoGet(spark, fs, root, version) match {
      case hit @ Some(_) => return hit
      case None          => ()
    }
    val (loadRef, usedRef) = trackingLoadRef(spark, root)
    val r = readRaw(fs, root, version) match {
      case None       => None // not committed at all
      case head @ Some(_) => resolveState(
        v => if (v == version) head else readRaw(fs, root, v),
        loadRef, version, root)
    }
    r.foreach(memoPut(spark, fs, root, _, usedRef()))
    r
  }

  /** Read a columnar snapshot sidecar back; any failure — missing dir,
    * unreadable parquet, row count not matching the committed stub —
    * reads as absent (loud warning), so resolution degrades exactly
    * like a garbled manifest instead of crashing every table op. */
  private def loadRefFiles(spark: SparkSession, root: String,
                           ref: SnapshotRef): Option[Seq[FileEntry]] =
    try {
      val raw = spark.read
        .parquet(new Path(root, s"$ManifestDir/${ref.refDir}").toString)
      // the stub declared deletion vectors in the sidecar: a dv-less
      // read-back would silently resurrect deleted rows — refuse (absent
      // + loud), exactly like the count-mismatch integrity check below
      if (ref.protocol >= 2 && !raw.columns.contains("dv")) {
        log.warn(s"manifest table $root: snapshot sidecar ${ref.refDir} declares " +
          s"protocol ${ref.protocol} (deletion vectors) but has no dv column — " +
          "treating as absent rather than dropping the dv refs")
        return None
      }
      // legacy sidecars may predate the `stats` and/or `dv` columns
      val withStats =
        if (raw.columns.contains("stats")) raw
        else raw.withColumn("stats", lit(null: String))
      val rows =
        (if (withStats.columns.contains("dv"))
           withStats.select("relPath", "bytes", "stats", "dv")
         else withStats.select("relPath", "bytes", "stats")
           .withColumn("dv", lit(null: String)))
          .collect()
      if (rows.length != ref.count) {
        log.warn(s"manifest table $root: snapshot sidecar ${ref.refDir} has " +
          s"${rows.length} rows, stub committed ${ref.count} — treating as absent")
        None
      } else Some(rows.toSeq.map { r =>
        val (nRows, st) =
          if (r.isNullAt(2)) (-1L, Map.empty[String, ColStats])
          else decodeFileStats(r.getString(2))
        FileEntry(r.getString(0), r.getLong(1), st,
          if (r.isNullAt(3)) None else decodeDv(r.getString(3)), nRows)
      })
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"manifest table $root: snapshot sidecar ${ref.refDir} unreadable " +
          s"(${e.getClass.getSimpleName}) — treating as absent")
        None
    }

  /** Best-effort `_last_checkpoint` maintenance: written AFTER a
    * snapshot's claim succeeds (so it can never point past the log) and
    * read as a hint only. Overwrite races between writers leave SOME
    * committed snapshot version in the file — always valid, self-heals
    * at the next snapshot. */
  private def writePointer(fs: FileSystem, root: String, version: Long): Unit =
    try {
      val out = fs.create(pointerPath(root), true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"manifest table $root: could not update _last_checkpoint to " +
          s"v$version (${e.getClass.getSimpleName}) — readers fall back to listing")
    }

  /** Whether ANY version in the log has a COMMITTED manifest (sentinel
    * present, parseable) — sentinel-less corpses and garbled files don't
    * count. Guards the v1 re-seed hazard: [[current]] can transiently resolve
    * to None while committed versions exist (a columnar snapshot
    * sidecar read failing on e.g. object-store throttling degrades soft
    * in [[loadRefFiles]]); claiming v1 then would succeed BELOW the
    * vacuum floor, and the pointer fast path would serve the fresh v1 —
    * silently shadowing every newer committed version and forking the
    * log. Any v1 claim must first see this list empty. */
  private def hasCommittedVersion(fs: FileSystem, root: String): Boolean = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) false
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".txt"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".txt").toLong).toOption)
      .sorted(Ordering[Long].reverse)
      // newest-first with early exit: the head of the log is the most
      // likely committed entry, and inside write()'s retry loop this runs
      // per attempt — fully parsing every manifest (large inline-text
      // snapshots are ~100MB) up to maxAttempts times would turn a
      // transient sidecar outage into a driver-side parse storm
      .exists(v => readRaw(fs, root, v).nonEmpty)
  }

  private def readPointer(fs: FileSystem, root: String): Option[Long] =
    try {
      val in = fs.open(pointerPath(root))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      scala.util.Try(text.trim.toLong).toOption.filter(_ >= 1L)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-commit operation marker, written into every commit's tag map
    * (tags are re-written whole each commit, so the value always
    * describes ITS commit, not an inherited one): "upsert" / "overwrite"
    * = data-changing; "rewrite" = [[compact]]/[[cluster]] — same rows,
    * new files — which incremental readers must NOT re-emit. Absent on
    * pre-r11 manifests: [[changedFiles]] treats unknown ops as
    * data-changing (conservative: at-least-once, never lost). */
  private[graft] val OpTag = "graft.op"

  /** Tag hygiene, checked at API ENTRY (before any generation write —
    * a failure here must not orphan a generation): separator-free keys/
    * values, and the reserved stream watermark keys are monotonic
    * numerics so a stray commit can neither corrupt nor rewind a sink's
    * replay detection. */
  private def validateTags(tags: Map[String, String],
                           prev: Map[String, String]): Unit = {
    tags.foreach { case (k, v) =>
      require(!k.exists(c => c == '\t' || c == '\n') && !v.exists(_ == '\n'),
        s"manifest tag '$k' contains a separator character")
      require(k != OpTag,
        s"manifest tag '$OpTag' is reserved (per-commit operation marker)")
      require(!k.startsWith(ConstraintTagPrefix),
        s"manifest tag namespace '$ConstraintTagPrefix' is reserved — declare " +
          "constraints via addConstraint (it validates the live table first)")
      require(!k.startsWith(BloomTagPrefix),
        s"manifest tag namespace '$BloomTagPrefix' is reserved — build the " +
          "point-lookup index via buildBloomIndex")
      require(k != SchemaTag && k != LayoutTag && k != PartitionTypesTag,
        s"manifest tag '$k' is reserved (createEmpty's schema record)")
      require(k != CloneSourcesTag,
        s"manifest tag '$k' is reserved (shallow-clone source chain, " +
          "written only by cloneTable)")
      require(k != GeneratedTag,
        s"manifest tag '$k' is reserved (generated-column definitions — " +
          "declare transforms via PARTITIONED BY at create time)")
      require(k != EvolvedTag,
        s"manifest tag '$k' is reserved (partition-spec evolution marker — " +
          "written only by evolvePartitionSpec)")
      require(k != CdfEnabledTag ||
          v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"manifest tag '$CdfEnabledTag' must be 'true' or 'false', got '$v'")
      if (k.startsWith(StreamBatchTag)) {
        val n = scala.util.Try(v.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"manifest tag '$k' is a reserved stream watermark — value must be numeric, got '$v'"))
        prev.get(k).flatMap(p => scala.util.Try(p.toLong).toOption)
          .foreach(p => require(n > p,
            s"manifest tag '$k' must advance monotonically ($p -> $n refused: " +
              "rewinding a replay watermark re-opens double-apply)"))
      }
    }
  }

  /** Age past which a sentinel-less manifest is a dead claimer's corpse
    * rather than a live claimer mid-write ([[claimOrRecover]]): a live
    * claimer writes its payload within milliseconds of creating the file. */
  private[graft] val ClaimGraceMs = 60000L

  /** A mutator's prepared commit: the manifest to claim plus every path
    * the mutator wrote for it — generation, deletion-vector, change-feed
    * and snapshot-sidecar dirs — which [[commit]] deletes if the claim
    * never lands. */
  private final case class Staged(manifest: Manifest, written: Seq[Path])

  /** [[Staged]] for a manifest whose root-relative `dirs` (generation,
    * deletion-vector) were written for it; the manifest's own change-feed
    * dir and the snapshot sidecar, if any, are added. */
  private def staged(root: String, m: Manifest, dirs: Iterable[String],
                     sidecar: Option[Path] = None): Staged =
    Staged(m, (dirs ++ m.cdf.map(_._1)).map(new Path(root, _)).toSeq ++ sidecar)

  /** The one commit path every mutator takes. Claims the staged
    * version; on a lost claim asks `restage` for a replacement staged
    * against the new head (the overwrite's re-stamp, the upsert's
    * disjoint rebase) and claims that, deleting whatever the replacement
    * no longer needs; `None` gives up with [[ConcurrentCommitException]].
    * Every exit that does not commit — a lost claim, or an exception
    * from the claim or from `restage` — deletes the staged `written`
    * paths (never orphan yourself). Nothing is deleted once a claim has
    * landed, and that includes a claim that threw after its sentinel
    * became visible (a close whose acknowledgement was lost): the
    * manifest at the slot may be ours, so its data stays and the error
    * propagates. A committed snapshot then advances the
    * `_last_checkpoint` pointer. Returns the committed version. */
  private def commit(fs: FileSystem, root: String, first: Staged,
                     restage: Staged => Option[Staged] = _ => None): Long = {
    var cur = first
    var claiming = false
    var committed = false
    try {
      def claimed(): Boolean = {
        claiming = true
        val won = claimOrRecover(fs, root, cur.manifest)
        claiming = false
        won
      }
      while (!claimed()) {
        val next = restage(cur).getOrElse(
          throw new ConcurrentCommitException(root, cur.manifest.version))
        discard(fs, cur.written.filterNot(next.written.contains))
        cur = next
      }
      committed = true
    } finally {
      val inDoubt = claiming &&
        scala.util.Try(readRaw(fs, root, cur.manifest.version)).toOption.flatten.nonEmpty
      if (!committed && !inDoubt) discard(fs, cur.written)
    }
    if (isSnapshot(cur.manifest)) writePointer(fs, root, cur.manifest.version)
    cur.manifest.version
  }

  /** Best-effort recursive delete of paths a commit no longer needs. */
  private def discard(fs: FileSystem, paths: Seq[Path]): Unit =
    paths.foreach(p => scala.util.Try(fs.delete(p, true)))

  /** Whether version `v` commits a full snapshot under the given
    * cadence (every `checkpointInterval`-th version; <= 1 = always). */
  private def snapshotDue(v: Long, checkpointInterval: Int): Boolean =
    checkpointInterval <= 1 || v % checkpointInterval == 0

  /** v1 re-seed guard: a None head while COMMITTED versions exist is a
    * transient resolution failure, not an empty table — claiming v1 then
    * would land below the vacuum floor and shadow every newer commit
    * ([[hasCommittedVersion]]). Surfaces as a CAS conflict so retry loops
    * re-read. */
  private def refuseReseed(fs: FileSystem, root: String): Unit =
    if (hasCommittedVersion(fs, root)) throw new ConcurrentCommitException(root, 1L)

  /** The newest committed state; a table with none is an error. */
  private def head(spark: SparkSession, root: String): State =
    current(spark, root).getOrElse(sys.error(s"manifest table $root has no committed version"))

  /** Atomically claim `version` and, on conflict, recover a DEAD
    * half-claim: an object-store conditional put is all-or-nothing, but
    * on local/HDFS a claimer dying between `create` and writing the
    * sentinel leaves a sentinel-less file that would block its version
    * slot forever. A conflict against a sentinel-less manifest older than
    * [[ClaimGraceMs]] deletes the corpse and retries the claim once; a
    * conflict against a COMMITTED manifest is a genuine lost race. Called
    * only from [[commit]]. */
  private def claimOrRecover(fs: FileSystem, root: String, m: Manifest): Boolean =
    claim(fs, root, m) || {
      val version = m.version
      val p = manifestPath(root, version)
      val corpse = scala.util.Try(fs.getFileStatus(p)).toOption
      corpse.exists { st0 =>
        readRaw(fs, root, version).isEmpty &&
          (System.currentTimeMillis() - st0.getModificationTime) > ClaimGraceMs && {
          // re-verify IMMEDIATELY before the destructive delete: between
          // the grace check above and here, a rival may have deleted the
          // same corpse and committed a real manifest at this version —
          // a stale-check delete would destroy the rival's commit (and
          // both writers would then report success). The fresh stat must
          // be the SAME file instance (modification time unchanged) and
          // still sentinel-less. Local/HDFS-only hazard: the object-store
          // conditional put never produces corpses. A sub-granularity
          // swap (rival delete + create within one mtime tick) remains
          // theoretically possible on local FS — the documented residual.
          val fresh = scala.util.Try(fs.getFileStatus(p)).toOption
          fresh.exists(_.getModificationTime == st0.getModificationTime) &&
            readRaw(fs, root, version).isEmpty && {
            log.warn(s"manifest table $root: clearing dead half-claim v$version " +
              "(sentinel-less past grace) and retrying")
            fs.delete(p, false)
            claim(fs, root, m)
          }
        }
      }
    }

  /** Atomically claim `version`: the create(overwrite=false) IS the
    * commit. Payload failure deletes our own half-claim and rethrows
    * (same never-orphan-yourself rule as [[Writers.withCommitLock]]) —
    * but only after verifying the file is still OURS (sentinel-less): if
    * we stalled past grace and a rival recovered our corpse and committed
    * the slot, deleting would destroy the rival's commit. That residual
    * stall-past-grace window is a local/HDFS artifact only; the real
    * object-store target commits with one atomic conditional put. */
  private def claim(fs: FileSystem, root: String, m: Manifest): Boolean = {
    val version = m.version
    m.tags.keys.foreach(k => require(!k.exists(c => c == '\t' || c == '\n'),
      s"manifest tag key '$k' contains a separator"))
    m.tags.values.foreach(v => require(!v.exists(_ == '\n'),
      s"manifest tag value '$v' contains a newline"))
    val p = manifestPath(root, version)
    fs.mkdirs(p.getParent)
    try {
      val out = fs.create(p, false)
      try {
        // streamed line-by-line (buffered): a snapshot of a million-file
        // table is ~100 MB of text — building it as one driver-side
        // String would double-buffer that; the delta/sentinel protocol
        // doesn't care how the bytes arrive, only that the sentinel is
        // last
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(out, "UTF-8"), 1 << 16)
        w.write(s"version=$version\n")
        def fileLine(f: FileEntry): String = f.dv match {
          case Some(d) =>
            s"file=${f.relPath}\t${f.bytes}\t${encodeFileStats(f)}\t${encodeDv(d)}\n"
          case None =>
            val s = encodeFileStats(f)
            if (s.isEmpty) s"file=${f.relPath}\t${f.bytes}\n"
            else s"file=${f.relPath}\t${f.bytes}\t$s\n"
        }
        // declare the protocol a reader NEEDS, only when above the
        // implicit baseline (protocol-1 manifests stay byte-stable)
        val declared = m match {
          case f: FullManifest  => if (f.files.exists(_.dv.nonEmpty)) 2 else 1
          case d: DeltaManifest => if (d.adds.exists(_.dv.nonEmpty)) 2 else 1
          case r: SnapshotRef   => r.protocol
        }
        if (declared > 1) w.write(s"protocol=$declared\n")
        m match {
          case f: FullManifest =>
            f.files.foreach(x => w.write(fileLine(x)))
          case d: DeltaManifest =>
            w.write("kind=delta\n")
            d.adds.foreach(x => w.write(fileLine(x)))
            d.removes.foreach(r => w.write(s"remove=$r\n"))
          case r: SnapshotRef =>
            w.write("kind=snapshot-ref\n")
            w.write(s"checkpoint=${r.refDir}\n")
            w.write(s"count=${r.count}\n")
        }
        m.cdf.foreach { case (dir, n) => w.write(s"cdf=${enc(dir)}\t$n\n") }
        m.tags.toSeq.sortBy(_._1).foreach { case (k, v) => w.write(s"tag=$k\t$v\n") }
        w.write("commit=ok")
        w.close()
      } catch {
        case e: Throwable =>
          scala.util.Try(out.close())
          if (scala.util.Try(readRaw(fs, root, version)).toOption.flatten.isEmpty)
            fs.delete(p, false)
          throw e
      }
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
    }
  }

  /** Table property (comma-separated LOGICAL column names) opting the
    * table into PER-FILE DISTINCT SKETCHES: every data-writing commit
    * reads the named columns of its just-written files back once and
    * records a compact HLL sketch (lgK=12, ≤ ~2.5 KB base64) per
    * (file, column) in the manifest stats. Why sketches, not counts:
    * per-file distinct COUNTS cannot merge (|A ∪ B| ≠ |A| + |B|), so
    * only a mergeable sketch gives the optimizer an honest table-level
    * ndv for string/high-cardinality join keys — the columns where the
    * integral range-width bound ([[graft.sources.v2.GraftColumnStats]])
    * falls back to the non-null count and equality selectivity goes
    * generic. Opt-in by design for arbitrary columns: the sketch pass
    * re-reads the commit's OWN new bytes (page-cache warm, named
    * columns only), a deliberate ingest tax a 100 TB operator pays for
    * exactly the join-key columns that earn it. BUCKET-SOURCE columns
    * are sketched by DEFAULT ([[AutoNdvKey]]): a table bucketed on a
    * key declares that key a join column by construction, and the CBO
    * misestimate the sketches fix (broadcasting a side whose string key
    * ndv fell back to the non-null count — ColumnStatsSpec pins it)
    * bites precisely there. The auto set is ≤ the handful of layout
    * sources, so the per-commit cost is bounded and flat. Failures
    * degrade to no-sketch (stats are advisory). */
  val NdvColsProp = "stats.ndv.cols"

  /** Conf gate (default on) for the AUTOMATIC bucket-source sketches;
    * `stats.ndv.cols` opt-ins are unaffected by it. */
  val AutoNdvKey = "spark.graft.stats.autoNdv.enabled"

  /** Rows-per-commit floor for the AUTOMATIC sketches: a commit whose
    * new files total fewer live rows skips the sketch job. The sketch
    * pass costs a flat ~0.5 s of Spark job overhead regardless of size
    * (SCALE_SMOKE.md, Round 17 ndv sketches) — fine amortized over a
    * batch INSERT, a per-micro-batch tax on a streaming sink committing
    * every few seconds. Consequence,
    * stated honestly: the optimizer's ndv fold is COVERAGE-weighted
    * (GraftColumnStats) — sketch-less files holding ≤ 5% of live rows
    * ride along (the union understates ndv, the safe error direction),
    * so scattered micro-commits on a batch table cost nothing; a table
    * whose sketch-less fraction grows past that reports the pre-sketch
    * fallback estimate until compaction — OPTIMIZE rewrites those rows
    * in one above-floor commit and coverage returns, the same
    * maintenance cadence that already heals small files. Explicit
    * `stats.ndv.cols` opt-ins are a deliberate declaration and always
    * sketch; set the floor to 0 to sketch every auto commit. */
  val AutoNdvMinRowsKey = "spark.graft.stats.autoNdv.minRows"
  val AutoNdvMinRowsDefault = 4096L

  private def ndvCols(spark: SparkSession, tags: Map[String, String],
                      entries: Seq[FileEntry]): Seq[String] = {
    val explicit = tags.get(NdvColsProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val auto =
      if (spark.conf.get(AutoNdvKey, "true").toBoolean &&
          aboveAutoNdvFloor(spark, entries))
        bucketLayout(tags).map(_._2).getOrElse(Nil)
      else Nil
    (explicit ++ auto).distinct
  }

  /** True when the commit's new files clear [[AutoNdvMinRowsKey]]. A
    * file whose footer row count could not be read (rows = -1) counts
    * as unknown and the commit sketches — coverage beats a missed
    * throttle on the rare degraded-footer path. */
  private def aboveAutoNdvFloor(spark: SparkSession,
                                entries: Seq[FileEntry]): Boolean = {
    val floor = spark.conf.get(AutoNdvMinRowsKey,
      AutoNdvMinRowsDefault.toString).toLong
    floor <= 0 || entries.exists(_.rows < 0) ||
      entries.map(_.rows).sum >= floor
  }

  /** Recursive leaf-file listing that never loads permissions on a LOCAL
    * filesystem. `FileSystem.listFiles(dir, recursive = true)` has to
    * materialize [[org.apache.hadoop.fs.LocatedFileStatus]]es, whose
    * constructor calls `getPermission` — and RawLocalFileSystem resolves
    * that by FORKING `ls -ld` per file (loadPermissionInfoByNonNativeIO;
    * libhadoop is absent in a plain JVM), ~5-10 ms of driver wall per
    * listed file on the hottest metadata path (every commit lists its
    * generation; measured via stack sampling, r20). A `listStatus` walk
    * keeps the statuses lazy — path/length/isDirectory never touch
    * permissions. Remote stores (HDFS/S3A) keep `listFiles`: their
    * statuses carry permissions for free and the recursive form is the
    * batched-RPC fast path there.
    */
  private[sources] def listLeafFiles(fs: FileSystem, dir: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val local = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    if (local) {
      def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath) else out += st
      }
      walk(dir)
    } else {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) out += it.next()
    }
    out.result()
  }

  /** Inventory one generation dir's parquet files as root-relative
    * entries, collecting per-column min/max from each file's parquet
    * FOOTER (one metadata read per file, at write time — the Delta/
    * Iceberg stats-at-commit pattern; readers then skip files from
    * manifest metadata alone, [[readWhere]]). Tables opted into
    * [[NdvColsProp]] additionally get per-file HLL distinct sketches
    * for the named columns (one distributed read of the new files).
    * Footer-read failures degrade to an entry without stats — stats
    * are advisory, never load-bearing for correctness. */
  private def listGeneration(spark: SparkSession, root: String, gen: String,
                             tags: Map[String, String] = Map.empty)
      : Seq[FileEntry] = {
    val fs = fsOf(spark, root)
    val qualified = fs.makeQualified(new Path(root, gen))
    val listed = Seq.newBuilder[(Path, String, Long)]
    listLeafFiles(fs, qualified).foreach { f =>
      if (f.getPath.getName.endsWith(".parquet")) {
        val rel = f.getPath.toUri.getPath.stripPrefix(qualified.toUri.getPath)
          .stripPrefix("/")
        listed += ((f.getPath, rel, f.getLen))
      }
    }
    // footer reads run on a bounded driver pool, results in listing
    // order (the manifest's byte layout stays deterministic): each read
    // is an independent ~5-10 ms metadata fetch, and a partitioned
    // commit lands one file per partition — a 120-dir day×bucket INSERT
    // paid 0.92 s of SEQUENTIAL footer reads at sf0.1 (r19 measurement),
    // and a production commit of thousands of files would pay tens of
    // seconds of driver wall for what is embarrassingly parallel I/O.
    // Failures degrade per-file to a stats-less entry, exactly as before.
    val files = listed.result()
    def entryOf(p: Path, rel: String, len: Long): FileEntry = {
      val (stats, nRows) =
        try DataSkipping.footerInfo(fs.getConf, p)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn(s"manifest table $root: could not read footer stats for " +
              s"$gen/$rel (${e.getClass.getSimpleName}) — file committed without stats")
            (Map.empty[String, ColStats], -1L)
        }
      FileEntry(s"$gen/$rel", len, stats, None, nRows)
    }
    val entries =
      if (files.size <= 1) files.map((entryOf _).tupled)
      else {
        import scala.jdk.CollectionConverters._
        footerPool.invokeAll(files.map { case (p, rel, len) =>
          new java.util.concurrent.Callable[FileEntry] {
            def call(): FileEntry = entryOf(p, rel, len)
          }
        }.asJava).asScala.map { f =>
          // surface the ORIGINAL fatal error (entryOf already degrades
          // every NonFatal to a stats-less entry), not the
          // ExecutionException wrapper
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException
              if e.getCause != null => throw e.getCause
          }
        }.toSeq
      }
    attachNdvSketches(spark, root, gen, entries, tags)
  }

  /** Shared driver pool for commit-time footer reads — session-lifetime
    * daemon threads (a per-commit pool would churn thread creation on
    * the hottest metadata path, e.g. a streaming sink's micro-batch
    * commits). 16 is plenty: each task is a ~5-10 ms local metadata
    * fetch and the pool exists to overlap I/O latency, not compute. */
  private lazy val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-footer-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** Per-file HLL sketches for the [[NdvColsProp]] columns of a
    * just-written generation, attached onto entries that already carry
    * a footer-stats record for the column (columns living in DIRECTORY
    * values or absent from the file are skipped — the optimizer's
    * all-files-or-nothing fold handles partial coverage honestly).
    * The property names LOGICAL columns; files carry physical names. */
  private def attachNdvSketches(spark: SparkSession, root: String, gen: String,
                                entries: Seq[FileEntry],
                                tags: Map[String, String]): Seq[FileEntry] = {
    val logical = ndvCols(spark, tags, entries)
    if (logical.isEmpty || entries.isEmpty) return entries
    val inv = renameMap(tags).map(_.swap)
    val physCols = logical.map(c => inv.getOrElse(c, c))
    try {
      // through genFrame: the just-committed generation's schema seeds
      // the memo here, so the table's FIRST post-commit read already
      // skips its inference job (and this read skips it on a re-sketch)
      val df = genFrame(spark, root, gen,
        entries.map(e => new Path(root, e.relPath).toString))
      val present = physCols.filter(df.columns.contains)
        .filter(c => entries.exists(_.stats.contains(c)))
      if (present.isEmpty) return entries
      val rows = df.groupBy(input_file_name().as("_file"))
        .agg(hll_sketch_agg(col(present.head), 12).as(present.head),
          present.tail.map(c => hll_sketch_agg(col(c), 12).as(c)): _*)
        .collect()
      // join the reader's URI spelling to the manifest's relPath on the
      // GENERATION-RELATIVE path, decoded from the URI. NOT the
      // basename: `part-<n>-<taskUuid>` is unique per TASK, and one
      // task writing several hive partition dirs reuses its basename in
      // each — basename matching would attach one dir's sketch to every
      // same-task file (caught building the ANALYZE backfill: 16
      // bucket files folded to a ~15-distinct union of a 97-distinct
      // column)
      val byName: Map[String, org.apache.spark.sql.Row] =
        rows.map(r => genRelative(r.getString(0), gen) -> r).toMap
      entries.map { e =>
        byName.get(e.relPath.stripPrefix(s"$gen/")) match {
          case None => e
          case Some(r) =>
            val enriched = present.zipWithIndex.foldLeft(e.stats) {
              case (m, (c, i)) =>
                (m.get(c), Option(r.get(i + 1))) match {
                  case (Some(cs), Some(bytes)) =>
                    m + (c -> cs.copy(ndv = Some(java.util.Base64.getEncoder
                      .encodeToString(bytes.asInstanceOf[Array[Byte]]))))
                  case _ => m
                }
            }
            e.copy(stats = enriched)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"manifest table $root: ndv sketch pass failed for $gen " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — committed without sketches")
        entries
    }
  }

  /** A reader-reported file URI reduced to its path below the
    * generation dir — the manifest relPath minus the `gen/` prefix.
    * `URI.getPath` decodes the URI percent-encoding back to the on-disk
    * name (hive's own `%xx` escapes are literal characters on disk and
    * survive the round-trip); an unparseable URI falls back to the raw
    * string, where the substring still matches the common case. */
  private def genRelative(fileUri: String, gen: String): String = {
    val path = scala.util.Try(new java.net.URI(fileUri).getPath)
      .toOption.filter(_ != null).getOrElse(fileUri)
    val marker = s"/$gen/"
    val i = path.indexOf(marker)
    if (i >= 0) path.substring(i + marker.length) else path.split('/').last
  }

  /** METADATA-ONLY ndv sketch backfill (SQL: `GRAFT ANALYZE t`): sketch
    * the live files that MISS an HLL sketch for the table's ndv columns
    * (or an explicit `cols` list), in place — read only those files'
    * bytes, attach sketches to their manifest entries, ONE delta commit
    * (remove + re-add by relPath = a stats update; no data rewritten).
    *
    * Why it exists: below-floor micro-commits skip the auto sketch by
    * design ([[AutoNdvMinRowsKey]]), and past 5% sketch-less rows the
    * coverage-weighted CBO fold ([[graft.sources.v2.GraftColumnStats]])
    * falls to the hard bounds. Before this command the only way back to
    * full coverage was OPTIMIZE — a FULL data rewrite whose write cost
    * dwarfs the statistic it restores. Backfill reads the unsketched
    * files once and writes nothing but a manifest, so a streaming table
    * fed by thousands of micro-commits regains CBO ndv at the cost of
    * one scan of its unsketched slice (SCALE_SMOKE.md, "Round 19:
    * coverage restore", measures backfill vs OPTIMIZE).
    *
    * Sketches attach only where the file already carries footer stats
    * for the column (the [[attachNdvSketches]] contract — dir-valued
    * and absent columns skip). DV'd files sketch their FULL bytes: an
    * HLL union over supersets only OVERSTATES ndv on deleted rows,
    * which the optimizer caps at the row count — acceptable for an
    * advisory statistic, and exact again after OPTIMIZE materializes
    * the deletes. Races ride the CAS claim: a concurrent commit fails
    * this version's claim and throws ([[retryOnConflict]] re-runs the
    * whole read-sketch-commit). Returns the committed version, or the
    * current one when nothing needed backfilling. */
  def backfillSketches(spark: SparkSession, root: String,
                       cols: Seq[String] = Nil): Long = {
    val st = head(spark, root)
    val logical =
      if (cols.nonEmpty) cols
      else {
        val explicit = st.tags.get(NdvColsProp).toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        (explicit ++ bucketLayout(st.tags).map(_._2).getOrElse(Nil)).distinct
      }
    if (logical.isEmpty) {
      log.info(s"manifest table $root: no ndv columns declared (stats.ndv.cols " +
        "or a bucket layout) and none passed — nothing to backfill")
      return st.version
    }
    val inv = renameMap(st.tags).map(_.swap)
    val physCols = logical.map(c => inv.getOrElse(c, c)).distinct
    val candidates = st.files.filter(e => physCols.exists(c =>
      e.stats.get(c).exists(_.ndv.isEmpty)))
    if (candidates.isEmpty) {
      log.info(s"manifest table $root: every live file already carries its " +
        s"ndv sketches for ${logical.mkString(", ")} — nothing to backfill")
      return st.version
    }
    val sources = cloneSources(st.tags)
    val enriched = candidates.groupBy(_.relPath.takeWhile(_ != '/')).toSeq
      .sortBy(_._1).flatMap { case (gen, fs) =>
        // per generation (one basePath; clone-inherited gens resolve
        // against their SOURCE root), the same distributed sketch pass
        // a commit runs — just over old bytes instead of fresh ones
        val base = dirBase(spark, root, sources, gen)
        val df = genFrame(spark, base, gen,
          fs.map(f => new Path(base, f.relPath).toString))
        val present = physCols.filter(df.columns.contains)
          .filter(c => fs.exists(_.stats.get(c).exists(_.ndv.isEmpty)))
        if (present.isEmpty) Nil
        else {
          val rows = df.groupBy(input_file_name().as("_file"))
            .agg(hll_sketch_agg(col(present.head), 12).as(present.head),
              present.tail.map(c => hll_sketch_agg(col(c), 12).as(c)): _*)
            .collect()
          // generation-relative matching, same as [[attachNdvSketches]]
          // (basenames collide across a task's partition dirs)
          val byName: Map[String, org.apache.spark.sql.Row] =
            rows.map(r => genRelative(r.getString(0), gen) -> r).toMap
          fs.flatMap { e =>
            byName.get(e.relPath.stripPrefix(s"$gen/")).map { r =>
              val upd = present.zipWithIndex.foldLeft(e.stats) {
                case (m, (c, i)) =>
                  (m.get(c), Option(r.get(i + 1))) match {
                    case (Some(cs), Some(bytes)) if cs.ndv.isEmpty =>
                      m + (c -> cs.copy(ndv = Some(java.util.Base64.getEncoder
                        .encodeToString(bytes.asInstanceOf[Array[Byte]]))))
                    case _ => m
                  }
              }
              e.copy(stats = upd)
            }
          }
        }
      }
    if (enriched.isEmpty) return st.version
    val fs = fsOf(spark, root)
    val v = st.version + 1
    commit(fs, root, Staged(DeltaManifest(v, enriched, enriched.map(_.relPath),
      st.tags + (OpTag -> "analyze"), None), Nil))
    log.info(s"manifest table $root: backfilled ndv sketches on " +
      s"${enriched.size} files (${logical.mkString(", ")}) — metadata-only v$v")
    v
  }

  /** Build the snapshot artifact for `files`: inline text below the
    * columnar threshold; otherwise a parquet sidecar under
    * `_manifests/ckpt-<uuid>` (version-free name — a CAS retry re-claims
    * a different version with the same sidecar) plus the path to delete
    * if the claim ultimately fails. The sidecar is written BEFORE any
    * claim, so a committed stub always has its sidecar; a crash here
    * leaves an orphan dir for vacuum(deleteOrphans). */
  private def mkSnapshot(spark: SparkSession, root: String, version: Long,
                         files: Seq[FileEntry],
                         tags: Map[String, String],
                         cdf: Option[(String, Long)] = None): (Manifest, Option[Path]) =
    if (files.size < columnarThreshold(spark))
      (FullManifest(version, files, tags, cdf), None)
    else {
      import spark.implicits._
      val refDir = s"ckpt-${java.util.UUID.randomUUID().toString.take(12)}"
      val p = new Path(root, s"$ManifestDir/$refDir")
      // one parquet file: the sidecar is driver-read back in one go and
      // object stores price requests, not bytes
      files.map(f => (f.relPath, f.bytes,
          { val s = encodeFileStats(f); if (s.isEmpty) null else s },
          f.dv.map(encodeDv).orNull))
        .toDF("relPath", "bytes", "stats", "dv")
        .coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(p.toString)
      val proto = if (files.exists(_.dv.nonEmpty)) 2 else 1
      (SnapshotRef(version, refDir, files.size, tags, proto, cdf), Some(p))
    }

  /** Re-stamp a snapshot artifact with a new claim version (CAS retry
    * moved the slot): the sidecar, if any, is reused as-is. */
  private def restamp(m: Manifest, version: Long): Manifest = m match {
    case f: FullManifest => f.copy(version = version)
    case r: SnapshotRef  => r.copy(version = version)
    case d: DeltaManifest => d.copy(version = version)
  }

  /** Partition columns are STRING throughout the table's life (the
    * read side pins inference off, so they read back as string): cast
    * them at the write boundary too, or a table seeded with an int/date
    * partition column would fail every subsequent upsert's dtype check
    * against its own string read-back — permanently un-upsertable. The
    * cast also makes dir spelling canonical from birth (dirs are
    * written from the string form, which round-trips exactly).
    *
    * Layout columns the table `tags` declare TYPED ([[PartitionTypesTag]])
    * are left alone: their read-back is the declared type, so batches,
    * merge sources and rewrites must stay typed through every dtype check
    * and union with existing rows — the generation write renders their
    * dirs canonically from the typed values (ints and dates have one
    * rendering). */
  private def normalizePartitionCols(df: DataFrame, partitionCols: Seq[String],
                                     tags: Map[String, String]): DataFrame = {
    val typed = partitionTypes(tags)
    val cast = partitionCols.filterNot(typed.contains)
    if (cast.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      if (cast.contains(c)) col(c).cast("string").as(c) else col(c)
    }: _*)
  }

  /** Table property enabling OPTIMIZED WRITES (the Delta
    * `autoOptimize.optimizeWrite` role): every partitioned generation
    * write first REBALANCE-shuffles by the partition columns, so a
    * batch arriving in T input tasks lands ~one advisory-sized file per
    * partition instead of T × P task-splinters — the small-file problem
    * fixed at the source rather than by after-the-fact OPTIMIZE runs.
    * The AQE rebalance splits skewed partition values and coalesces
    * tiny ones (a plain repartition-by-key would funnel a hot day into
    * one task). Opt-in via TBLPROPERTIES / create-time tags — the extra
    * shuffle is the wrong trade for pre-shaped or unpartitioned
    * batches. */
  private[graft] val OptimizedWriteProp = "write.optimized"

  /** How [[writeGeneration]] lays a frame's rows into files. */
  private sealed trait Shape
  /** The frame as it comes; a partitioned write rebalances by its
    * partition columns first under [[OptimizedWriteProp]]. */
  private case object Plain extends Shape
  /** ~`targetFileMB` files per partition value, sized from the input's
    * on-disk bytes and salted against skew ([[Writers.sizedRewrite]]). */
  private final case class Sized(targetFileMB: Int) extends Shape
  /** ~`targetFileMB` files, each a disjoint range of (partition columns
    * ++ `by`) sorted within — so min/max skipping on `by` bites. With
    * `zOrder` and 2+ columns the range key is their interleaved Morton
    * key ([[graft.plans.ZOrder]]), a sort expression that is never
    * written; no single-reducer funnel at any size (the range
    * partitioner samples away key skew). */
  private final case class Ordered(targetFileMB: Int, by: Seq[String],
                                   zOrder: Boolean) extends Shape

  /** Write `df` (LOGICAL names) into a fresh immutable generation dir
    * laid out by `shape` — the one place a data generation is written
    * and listed; returns the dir and its file entries. `bytes` is the
    * input's on-disk size, which sizes the [[Sized]] and [[Ordered]]
    * shapes. Generations are written with TIMESTAMP(MICROS) parquet
    * timestamps (a cloned session, [[withMicrosTimestamps]]): the INT96
    * session default carries NO footer statistics, so timestamp columns
    * would be invisible to [[readWhere]]'s data skipping — and INT96
    * also defeats parquet predicate pushdown on the scan itself. Scoped
    * here rather than session-wide so the engine's other outputs keep
    * the session's own timestamp posture. */
  private def writeGeneration(df: DataFrame, root: String,
                              partitionCols: Seq[String],
                              tags: Map[String, String] = Map.empty,
                              shape: Shape = Plain, bytes: Long = 0L)
      : (String, Seq[FileEntry]) = {
    val gen = s"gen-${java.util.UUID.randomUUID().toString.take(12)}"
    val genPath = new Path(root, gen)
    val optimized = shape == Plain && partitionCols.nonEmpty &&
      tags.get(OptimizedWriteProp).exists(_.equalsIgnoreCase("true"))
    // shaped on LOGICAL names; the physical projection below keeps
    // every task's row order
    val shaped = shape match {
      case Plain =>
        if (optimized) df.hint("rebalance", partitionCols.map(col): _*) else df
      case Sized(targetFileMB) =>
        Writers.sizedRewrite(df, bytes, partitionCols, targetFileMB)
      case Ordered(targetFileMB, by, zOrder) =>
        val missing = by.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"sort column(s) ${missing.mkString(", ")} not in table schema")
        val orderCols =
          if (zOrder && by.size > 1)
            partitionCols.map(col) :+ graft.plans.ZOrder.zkey(df, by)
          else (partitionCols ++ by).map(col)
        df.repartitionByRange(Writers.fileCount(bytes, targetFileMB), orderCols: _*)
          .sortWithinPartitions(orderCols: _*)
    }
    // logical → physical names: every generation of a table shares one
    // physical schema, however many renames sit between them
    val phys = physicalizeDf(shaped, tags)
    // a new column spelling a DROPPED physical name would be silently
    // re-dropped on read (old files still carry that name): refuse
    val clash = phys.columns.toSet.intersect(dropSet(tags))
    require(clash.isEmpty,
      s"column(s) ${clash.toSeq.sorted.mkString(", ")} were DROPped from this " +
        "table and old files still physically carry the name — re-introducing " +
        "it is a rewrite (write()), not additive evolution")
    val micros = withMicrosTimestamps(phys, lowCoalesceFloor = optimized)
    val w = micros.write.mode(SaveMode.ErrorIfExists)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(genPath.toString)
    // seed the generation's read-schema memo from the WRITER: the
    // read-back schema of a Spark-written parquet generation is fully
    // determined by the written frame (file-source relations surface
    // every field nullable; partition columns come back string-pinned,
    // appended in partitionBy order), so the table's first read — and
    // the commit's own sketch pass — never pays the inference job.
    // Micro-commits below the sketch floor get the same free pass
    // (the sketch-pass seeding alone never covers them). Derivation ≡
    // inference is pinned in ManifestTableSpec across layouts. Seeded
    // ONLY when every partition column matches a written column
    // EXACTLY: partitionBy resolves case-insensitively under the
    // default caseSensitive=false, and a case-mismatched spec would
    // derive a phantom data field + duplicate partition field (r20
    // review finding) — the unseeded generation just pays one inference
    // job on first read, the pre-change behavior.
    if (partitionCols.forall(micros.schema.fieldNames.contains))
      graft.core.SchemaMemo.put(df.sparkSession, genPath.toString,
        readBackSchema(micros.schema, partitionCols))
    (gen, listGeneration(df.sparkSession, root, gen, tags))
  }

  /** The schema a fresh [[genFrame]] construction would INFER for a
    * generation just written with `written` and `partitionCols`: data
    * fields in written order with every nesting level nullable (the
    * file-source relation contract — HadoopFsRelation surfaces
    * `dataSchema.asNullable`), then the partition columns as nullable
    * STRINGs in directory (= partitionBy) order, exactly as the
    * inference-off construction pins them. */
  private[graft] def readBackSchema(
      written: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def nul(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f =>
          f.copy(dataType = nul(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = nul(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(keyType = nul(m.keyType), valueType = nul(m.valueType),
          valueContainsNull = true)
      case other => other
    }
    val data = written.fields.filterNot(f => partitionCols.contains(f.name))
      .map(f => f.copy(dataType = nul(f.dataType), nullable = true))
    StructType(data ++ partitionCols.map(c => StructField(c, StringType)))
  }

  /** `df` rebound to a CLONED session whose parquet output type is
    * TIMESTAMP_MICROS; actions on the result write micros timestamps
    * while the caller's session — including concurrent parquet writes on
    * its other threads — keeps its own posture (INT96 by default, which
    * the driver's comparator requires session-wide). The clone shares
    * the SparkContext and catalog, so this is conf isolation only, not a
    * second cluster footprint.
    *
    * `lowCoalesceFloor` (set ONLY for optimized, rebalance-shaped
    * writes) additionally floors AQE's coalesce minimum at 64 KB
    * (session default 1 MB): an optimized write of a small batch into a
    * many-dir layout otherwise coalesces to ONE post-shuffle task that
    * writes every partition dir SERIALLY — ~35 ms of parquet writer
    * open/close per file, measured 4.5 s of a 120-dir identity-layout
    * INSERT whose rows total 770 KB (r19). With the floor lowered the
    * same batch keeps ~12 write tasks (parallelismFirst coalescing
    * targets core count, floored per partition at 64 KB); LARGE batches
    * are unaffected — their post-shuffle partitions sit far above
    * either floor, so advisory sizing decides exactly as before. The
    * floor is NOT applied to unshaped writes: there the plan's upstream
    * shuffles (a merge's joins/windows) feed the writer directly, and a
    * lower floor multiplies WRITE TASKS — i.e. output files — instead
    * of parallelizing a per-dir fan-out (measured: k12's upsert-merge
    * lifecycle read 1.5× slower with the floor applied unshaped). */
  private def withMicrosTimestamps(df: DataFrame,
                                   lowCoalesceFloor: Boolean = false): DataFrame = {
    val confs = Seq(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") ++
      (if (lowCoalesceFloor)
        Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")
      else Nil)
    val iso = org.apache.spark.sql.graftshim.SessionIsolation.sessionWithConf(
      df.sparkSession, confs: _*)
    org.apache.spark.sql.graftshim.SessionIsolation.rebind(df, iso)
  }

  /** Read the table at its newest committed version. Files are grouped by
    * generation and each group scans with `basePath = <gen dir>`, so hive
    * partition columns written inside a generation survive; generations
    * union by name with ADDITIVE schema evolution — a column added by a
    * later generation reads as null in rows from generations written
    * before it existed (the standard lakehouse contract; a RENAME or
    * type change is a rewrite, not evolution). */
  def read(spark: SparkSession, root: String): DataFrame =
    readState(spark, root, head(spark, root))

  /** The table's logical schema in its DECLARED column order. The scan
    * order puts hive partition columns last (they come off directory
    * names), so a catalog surface that promises "the order you declared"
    * reorders by the recorded create/overwrite-time schema ([[SchemaTag]])
    * with rename/drop mappings applied; columns added since (additive
    * evolution) follow in scan order. Tables without a recorded schema
    * (pre-createEmpty writes) keep the scan order. */
  def logicalSchema(spark: SparkSession, root: String,
                    version: Option[Long] = None)
      : org.apache.spark.sql.types.StructType = {
    val st = version.map(v => stateAt(spark, root, v))
      .getOrElse(current(spark, root)).getOrElse(
        sys.error(s"manifest table $root has no committed version" +
          version.map(v => s" $v").getOrElse("")))
    val snap = readState(spark, root, st).schema
    st.tags.get(SchemaTag).map { json =>
      val created = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val ren = renameMap(st.tags); val dr = dropSet(st.tags)
      val declared = created.fieldNames.toSeq.collect {
        case c if !dr.contains(c) => ren.getOrElse(c, c)
      }
      val byName = snap.fields.map(f => f.name -> f).toMap
      val ordered = declared.flatMap(byName.get) ++
        snap.fields.filterNot(f => declared.contains(f.name))
      org.apache.spark.sql.types.StructType(ordered)
    }.getOrElse(snap)
  }

  /** Filter-aware read: semantically identical to `read(...).filter(filter)`
    * but files whose manifest METADATA (hive partition values + per-file
    * column min/max stats) proves they cannot match are never given to the
    * scan — at 100 TB / millions of files this is a driver-side metadata
    * pass instead of a cluster-wide footer-and-row-group storm, the same
    * pruning the reference buys by reading only `date=<today>` paths
    * (lecture3/13_binance_calculate_hourly.py:32) promoted to the
    * lakehouse layer. Pruning is CONSERVATIVE: any conjunct it cannot
    * reason about keeps every file, and the full `filter` is re-applied to
    * the surviving rows, so results never depend on pruning quality.
    *
    * Schema note: the result schema is the union of the SURVIVING
    * generations' schemas; under additive evolution a column that exists
    * only in pruned-away generations is absent (the unpruned read would
    * carry it as all-null). */
  def readWhere(spark: SparkSession, root: String,
                filter: org.apache.spark.sql.Column): DataFrame =
    readStateWhere(spark, root, head(spark, root), filter)

  /** [[readWhere]] against a time-travel version ([[readVersion]]'s
    * contract): metadata pruning works identically on any retained
    * version — its manifest carries the same partition paths and stats. */
  def readVersionWhere(spark: SparkSession, root: String, version: Long,
                       filter: org.apache.spark.sql.Column): DataFrame =
    readStateWhere(spark, root,
      resolveState(spark, root, version).getOrElse(sys.error(
        s"manifest table $root has no committed version $version (vacuumed or never committed)")),
      filter)

  /** The metadata file-pruning pass on its own: the files of `st` that
    * survive partition-value + min/max-stat + bloom-index skipping for
    * `filter` (conservative — a file is only dropped when the metadata
    * PROVES it cannot match). Shared by the DataFrame read path below
    * and the DSv2 bucketed Batch scan, which needs the surviving FILE
    * LIST rather than a frame. */
  private[sources] def pruneLiveFiles(spark: SparkSession, root: String,
                                      st: State,
                                      filter: org.apache.spark.sql.Column)
      : Seq[FileEntry] = {
    // the pruners' stats and bloom entries are keyed by PHYSICAL names
    val physFilter = physicalizeCol(filter, st.tags)
    bloomPrune(spark, root, st, physFilter,
      DataSkipping.prune(st.files, physFilter, partitionTypes(st.tags)))
  }

  private def readStateWhere(spark: SparkSession, root: String, st: State,
                             filter: org.apache.spark.sql.Column): DataFrame = {
    val kept = pruneLiveFiles(spark, root, st, filter)
    // the number an operator tunes partitioning/clustering by — and the
    // tell-tale that a predicate shape isn't prunable (kept == total)
    log.info(s"manifest table $root v${st.version}: data skipping kept " +
      s"${kept.size}/${st.files.size} files for $filter")
    if (kept.isEmpty) {
      // schema-preserving empty frame with NO scan in the plan (a
      // filter(false) over the scan still reports the files in
      // inputFiles and re-lists them at planning time)
      val schema = readState(spark, root, st).schema
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    } else readState(spark, root, st.copy(files = kept)).filter(filter)
  }

  /** Time travel: read the table exactly as committed at `version`.
    * Generations are immutable and manifests stay valid until vacuumed,
    * so any retained version reproduces its results bit-for-bit — the
    * audit/backfill answer to "what did the table say when the model
    * trained". Fails if the version was vacuumed or never committed. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    readState(spark, root,
      resolveState(spark, root, version).getOrElse(sys.error(
        s"manifest table $root has no committed version $version (vacuumed or never committed)")))

  /** Join-driven (dynamic) file pruning — the Delta/Iceberg
    * dynamic-file-pruning move for star-schema queries against a manifest
    * FACT table: literal-only pruning ([[readWhere]]) can't see through a
    * join, so `fact JOIN dim WHERE dim.filter` scans every fact file even
    * when the filtered dim matches a sliver of the key space. Here the
    * (bounded) dim key set is collected to the driver, fact files are
    * pruned by per-key-column `isin` against manifest stats + partition
    * values, and the surviving rows are LEFT SEMI joined against the
    * exact key tuples — so the result is always identical to
    * `read(...).join(dim.select(keys).distinct(), cond, "left_semi")`,
    * with pruning only reducing the files scanned.
    *
    * `on` maps fact column → dim column. More than `maxKeys` distinct dim
    * keys degrades to the unpruned semi-join with a warning (dynamic
    * pruning is an optimization, never a correctness gate) — at that
    * cardinality the dim side is no longer "small" and a shuffled join is
    * the right plan anyway. NULL dim keys never equi-match and are
    * dropped from the probe set. Pruning effectiveness follows the
    * table's layout: hive-partition or [[cluster]] the fact table on the
    * join key to make the per-file key ranges disjoint. */
  def readWhereJoin(spark: SparkSession, root: String, dim: DataFrame,
                    on: Seq[(String, String)],
                    maxKeys: Int = 100000): DataFrame = {
    require(on.nonEmpty, "readWhereJoin: need at least one (factCol, dimCol) pair")
    val dimKeys = dim.select(on.map { case (_, dc) => col(dc) }.toIndexedSeq: _*).distinct()
    val collected = dimKeys.limit(maxKeys + 1).collect()
    def semi(fact: DataFrame): DataFrame = {
      val cond = on.map { case (fc, dc) => fact(fc) === dimKeys(dc) }.reduce(_ && _)
      fact.join(broadcast(dimKeys), cond, "left_semi")
    }
    if (collected.length > maxKeys) {
      log.warn(s"manifest table $root: dim side has > $maxKeys distinct keys — " +
        "dynamic file pruning skipped (falling back to the unpruned semi-join)")
      semi(read(spark, root))
    } else {
      // per-column isin: conjunct-shaped so DataSkipping can evaluate it
      // per file (a tuple-wise OR-of-ANDs is opaque to the conjunct
      // compiler); per-column is a SUPERSET of the tuple match, which the
      // exact semi-join below then tightens — and the same isin reaches
      // the parquet scan for row-group pruning on the surviving files
      val perCol = on.zipWithIndex.map { case ((fc, _), i) =>
        val vs = collected.map(_.get(i)).filter(_ != null).distinct
        if (vs.isEmpty) lit(false) else col(fc).isin(vs.toIndexedSeq: _*)
      }.reduce(_ && _)
      semi(readWhere(spark, root, perCol))
    }
  }

  /** Newest committed version number, if any — the offset axis for
    * incremental reads ([[readChanges]]) and the streaming source. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    current(spark, root).map(_.version)

  // ---------------------------------------------------------- bloom index

  /** Tag namespace for the point-lookup bloom index: `bloom.index` names
    * the live `bloomidx-*` dataset, `bloom.cols` its column/kind spec.
    * Reserved — enters via [[buildBloomIndex]] only. */
  private[graft] val BloomIndexTag = "bloom.index"
  private[graft] val BloomColsTag = "bloom.cols"
  private[graft] val BloomTagPrefix = "bloom."

  /** Build a per-file BLOOM-FILTER index over `cols` (integral or string
    * — the point-lookup types) and commit it as table metadata. Min/max
    * skipping is blind to equality probes on high-cardinality columns
    * whose per-file ranges overlap (any unclustered key column at 100 TB
    * — every file's [min,max] spans the whole key space); a per-file
    * bloom answers "does file F possibly contain k" directly, the Delta
    * BLOOMFILTER-index move. Blooms are sized from each file's
    * manifest-known row count at `fpp`.
    *
    * The index is ADVISORY and always conservative: files written after
    * the build are absent from it and never excluded; [[readWhere]]
    * consults it only for `=`/`IN` conjuncts on indexed columns. Blooms
    * are built over pre-deletion-vector rows (a superset — skipping
    * stays safe under [[deleteMoR]]). Probing is a DISTRIBUTED job over
    * the index dataset: the driver only ever receives the excluded path
    * list, never a bloom — at a million files the index is GBs that no
    * driver should hold. Rebuild after heavy churn; the superseded
    * dataset is vacuum-reclaimed once no retained version references
    * it. */
  def buildBloomIndex(spark: SparkSession, root: String, cols: Seq[String],
                      fpp: Double = 0.01): Long = {
    require(cols.nonEmpty, "buildBloomIndex: need at least one column")
    require(fpp > 0.0 && fpp < 1.0, s"buildBloomIndex: fpp must be in (0,1), got $fpp")
    val st = head(spark, root)
    // the API takes LOGICAL names; the index keys by the PHYSICAL
    // in-file names (probes arrive physicalized from readStateWhere)
    val physCols = cols.map(physicalName(st.tags, _))
    val df = scanFiles(spark, root, st.files, withPositions = true, st.tags)
    val schema = df.schema
    import org.apache.spark.sql.types._
    val kinds: Array[Char] = physCols.map { c =>
      schema.find(_.name == c).getOrElse(
        sys.error(s"buildBloomIndex: column $c not in table schema")).dataType match {
        case ByteType | ShortType | IntegerType | LongType => 'l'
        case StringType => 's'
        case dt => sys.error(s"buildBloomIndex: unsupported type ${dt.sql} for $c " +
          "(integral and string columns only — the point-lookup types)")
      }
    }.toArray
    val rowsOf = st.files.map(f => f.relPath -> fileRows(f).getOrElse(1L << 20)).toMap
    val rowsB = spark.sparkContext.broadcast(rowsOf)
    val colsArr = physCols.toArray
    val fppLocal = fpp
    val input = df.select((col(DvRelCol) +: physCols.map(col)).toIndexedSeq: _*)
    import org.apache.spark.sql.Encoders
    val outEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.BINARY)
    val idx = input
      .groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroups { (rel: String, it: Iterator[org.apache.spark.sql.Row]) =>
        val expected = math.max(64L, rowsB.value.getOrElse(rel, 1L << 20))
        val blooms = Array.fill(colsArr.length)(
          org.apache.spark.util.sketch.BloomFilter.create(expected, fppLocal))
        it.foreach { row =>
          var i = 0
          while (i < colsArr.length) {
            if (!row.isNullAt(i + 1)) {
              if (kinds(i) == 'l')
                blooms(i).putLong(row.get(i + 1).asInstanceOf[Number].longValue())
              else blooms(i).putString(row.getString(i + 1))
            }
            i += 1
          }
        }
        colsArr.indices.iterator.map { i =>
          val bos = new java.io.ByteArrayOutputStream()
          blooms(i).writeTo(bos)
          (rel, colsArr(i), bos.toByteArray)
        }
      }(outEnc)
      .toDF("relPath", "column", "bloom")
    val dir = s"bloomidx-${java.util.UUID.randomUUID().toString.take(12)}"
    idx.write.mode(SaveMode.ErrorIfExists).parquet(new Path(root, dir).toString)
    val colsSpec = physCols.zip(kinds).map { case (c, k) => s"${enc(c)}:$k" }.mkString(",")
    commitMeta(spark, root, st,
      st.tags + (BloomIndexTag -> dir) + (BloomColsTag -> colsSpec),
      written = Seq(new Path(root, dir)))
  }

  /** Retire the bloom index (metadata commit; the dataset itself is
    * vacuum-reclaimed once unreferenced). No-op without one. */
  def dropBloomIndex(spark: SparkSession, root: String): Long = {
    val st = head(spark, root)
    if (!st.tags.contains(BloomIndexTag)) return st.version
    commitMeta(spark, root, st, st.tags - BloomIndexTag - BloomColsTag)
  }

  /** Cap on probe values per conjunct: above this the TreeSet range
    * pruning in [[DataSkipping]] is the right tool and per-file bloom
    * testing would cost more than it saves. */
  private val MaxBloomProbeValues = 1024

  /** Exclude `kept` files whose bloom provably rejects an entire
    * equality conjunct of `filter`. Conservative everywhere: no index,
    * no probe-shaped conjunct, unkeyable value, file absent from the
    * index (written after the build) — each keeps the file. */
  private def bloomPrune(spark: SparkSession, root: String, st: State,
                         filter: org.apache.spark.sql.Column,
                         kept: Seq[FileEntry]): Seq[FileEntry] = {
    if (kept.isEmpty) return kept
    val dir = st.tags.get(BloomIndexTag).getOrElse(return kept)
    val colKinds: Map[String, Char] = st.tags.get(BloomColsTag)
      .map(_.split(',').toSeq.flatMap { spec =>
        spec.split(':') match {
          case Array(c, k) if k.length == 1 => Some(dec(c) -> k.charAt(0))
          case _ => None
        }
      }.toMap).getOrElse(return kept)
    def key(kind: Char, cv: (Char, Any)): Option[Any] = (kind, cv._1, cv._2) match {
      case ('l', 'n', bd: BigDecimal) => if (bd.isValidLong) Some(bd.toLong) else None
      case ('s', 's', s: String)      => Some(s)
      case _                          => None // cross-kind probe: cannot prune
    }
    val probes: Seq[(String, Seq[Any])] =
      DataSkipping.equalityProbes(filter).flatMap { case (n, vs) =>
        colKinds.get(n).flatMap { k =>
          if (vs.isEmpty || vs.sizeIs > MaxBloomProbeValues) None
          else {
            val keys = vs.map(key(k, _))
            if (keys.exists(_.isEmpty)) None else Some(n -> keys.flatten)
          }
        }
      }
    if (probes.isEmpty) return kept
    // a shallow clone inherits the source's bloom index tag; the index
    // dataset resolves like any other inherited top-level dir
    val idxPath = new Path(
      dirBase(spark, root, cloneSources(st.tags), dir), dir).toString
    import org.apache.spark.sql.Encoders
    // ONE pass over the index for ALL probed columns: the per-column
    // value sets ship in a broadcast map and every (column, file) bloom
    // row is tested against its own column's probes — N equality
    // conjuncts cost one index scan + one job, not N of each.
    val longProbes: Map[String, Array[Long]] =
      probes.map { case (c, vs) => c -> vs.collect { case l: Long => l }.toArray }.toMap
    val strProbes: Map[String, Array[String]] =
      probes.map { case (c, vs) => c -> vs.collect { case s: String => s }.toArray }.toMap
    val bcProbes = spark.sparkContext.broadcast((longProbes, strProbes))
    val rowEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.BINARY)
    val excluded: Set[String] = dirFrame(spark, idxPath)
      .filter(col("column").isin(probes.map(_._1): _*))
      .select(col("column"), col("relPath"), col("bloom"))
      .as[(String, String, Array[Byte])](rowEnc)
      .mapPartitions { it =>
        val (lp, sp) = bcProbes.value
        val noLongs = Array.empty[Long]
        val noStrs = Array.empty[String]
        it.flatMap { case (c, rel, bytes) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
          val mightMatch = lp.getOrElse(c, noLongs).exists(bf.mightContainLong) ||
            sp.getOrElse(c, noStrs).exists(bf.mightContainString)
          if (mightMatch) None else Some(rel)
        }
      }(Encoders.STRING)
      .collect()
      .toSet
    if (excluded.isEmpty) kept
    else {
      val out = kept.filterNot(f => excluded.contains(f.relPath))
      log.info(s"manifest table $root v${st.version}: bloom index excluded " +
        s"${kept.size - out.size}/${kept.size} candidate files for $filter")
      out
    }
  }

  /** Metadata-only aggregates: one row per stats-bearing column with
    * exact `value_count` / `null_count` / canonical `min` / `max`
    * answered from the MANIFEST alone — zero data files touched, the
    * classic lakehouse fast path for `count(*)`, `count(col)`,
    * `min/max(col)` (at 100 TB that is a driver-side metadata fold vs a
    * full scan). Values are nullable by honesty, never approximated:
    *
    *  - `value_count`/`null_count` are null when any live file carries
    *    unknown counts for the column (legacy manifests) or misses the
    *    column entirely (additive evolution — its rows READ as null, but
    *    how many there are is not recorded per file);
    *  - `min`/`max` are null when any file with non-null values for the
    *    column has no usable bounds (footer-statless write, non-ASCII
    *    strings, NaN floats) or when kinds disagree across files;
    *    all-null files legitimately contribute counts and no bounds.
    *
    * Any LIVE deletion vector ([[deleteMoR]]) voids exactness for DATA
    * columns — their stats read NULL until [[materializeDeletes]] (or a
    * rewrite) folds the DVs in (a deleted row may have owned the
    * min/max, counts would overcount). Hive PARTITION columns stay
    * exact through DVs: their value is a property of the file, so live
    * counts are Σ(rows − dv.count) per file. For bare COUNT(*) use
    * [[rowCount]], which is likewise DV-exact.
    *
    * `min`/`max` are the canonical stat encodings ([[ColStats]]): use
    * [[statDouble]]/[[statString]] for typed access. Hive partition
    * columns DO appear (kind 's' — they are string-pinned table-wide):
    * their values come from the file paths, their per-file row counts
    * from any sibling column's value count (value counts include nulls,
    * so every stats-bearing column of a file counts its rows). */
  def statsOnly(spark: SparkSession, root: String): DataFrame = {
    val st = head(spark, root)
    // a live deletion vector makes every file-level stat a SUPERSET of
    // the live rows (counts overcount; a deleted row may have owned the
    // min/max) — exactness is the whole contract here, so every stat
    // goes honest-NULL until materializeDeletes (or any rewrite) folds
    // the DVs in. Pruning is unaffected (supersets stay conservative).
    val anyDv = st.files.exists(_.dv.nonEmpty)
    // stats are keyed by PHYSICAL names: dropped columns vanish from the
    // report, renamed columns report under their logical name
    val ren = renameMap(st.tags); val dropped = dropSet(st.tags)
    val cols = st.files.flatMap(_.stats.keys).distinct
      .filterNot(dropped).sortBy(c => ren.getOrElse(c, c))
    val dataRows = cols.map { c0 =>
      val c = ren.getOrElse(c0, c0)
      val everywhere = !anyDv && st.files.forall(_.stats.contains(c0))
      val entries = st.files.flatMap(_.stats.get(c0))
      val counts =
        if (everywhere && entries.forall(e => e.count >= 0 && e.nulls >= 0))
          Some((entries.map(_.count).sum, entries.map(_.nulls).sum))
        else None
      val bounded = entries.filter(e => !e.allNull)
      val kinds = bounded.map(_.kind).distinct
      val bounds =
        if (everywhere && kinds.sizeIs == 1 && kinds.head != '_')
          Some((kinds.head,
            bounded.map(_.min).reduce((a, b) => ordCanon(kinds.head, a, b, min = true)),
            bounded.map(_.max).reduce((a, b) => ordCanon(kinds.head, a, b, min = false))))
        else None
      org.apache.spark.sql.Row(c,
        counts.map(x => Long.box(x._1)).orNull, counts.map(x => Long.box(x._2)).orNull,
        bounds.map(_._1.toString).orNull,
        bounds.map(_._2).orNull, bounds.map(_._3).orNull)
    }
    val partCols = st.files.flatMap(_.partitionValues.keys).distinct.sorted
    // partition columns are EXEMPT from the DV voiding above: their
    // per-row value is a property of the FILE, so live counts are
    // exactly Σ(rows - dv.count) — no deleted row can shift a
    // partition value, only empty a file (and a file proven empty is
    // dropped at DV-write time; unproven legacy files make the stat
    // honest-NULL through the unknown-rows condition).
    val partRows = partCols.map { c =>
      val everywhere = st.files.forall(_.partitionValues.contains(c))
      val perFile = st.files.map(f => (f.partitionValues.get(c).flatten, fileLiveRows(f)))
      val counts =
        if (everywhere && perFile.forall(_._2.nonEmpty))
          Some((perFile.map(_._2.get).sum,
            perFile.collect { case (None, Some(n)) => n }.sum)) // null-partition rows
        else None
      // bounds: a DV'd file contributes its partition value only if it
      // provably has live rows (a legacy DV'd file with unknown rows
      // voids bounds — it could be silently empty); DV-less files are
      // live by construction, counts or not (legacy posture preserved)
      val dvProvable = st.files.forall(f => f.dv.isEmpty || fileLiveRows(f).nonEmpty)
      val vals = st.files.collect {
        case f if f.partitionValues.contains(c) &&
          (f.dv.isEmpty || fileLiveRows(f).exists(_ > 0)) =>
          f.partitionValues(c)
      }.flatten
      val bounds =
        if (everywhere && dvProvable && vals.nonEmpty) Some((vals.min, vals.max))
        else None
      org.apache.spark.sql.Row(c,
        counts.map(x => Long.box(x._1)).orNull, counts.map(x => Long.box(x._2)).orNull,
        bounds.map(_ => "s").orNull, bounds.map(_._1).orNull, bounds.map(_._2).orNull)
    }
    val rows = dataRows ++ partRows
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("column", org.apache.spark.sql.types.StringType, false),
      org.apache.spark.sql.types.StructField("value_count", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("null_count", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType, true),
      org.apache.spark.sql.types.StructField("min", org.apache.spark.sql.types.StringType, true),
      org.apache.spark.sql.types.StructField("max", org.apache.spark.sql.types.StringType, true)))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** A file's TOTAL row count (pre-DV): the dedicated footer row count
    * when present, else the legacy derivation from any stats-bearing
    * column's value count (parquet value counts include nulls, so every
    * counted column counts the file's rows); None when neither exists
    * (legacy manifests with a footer-read failure). */
  private def fileRows(f: FileEntry): Option[Long] =
    if (f.rows >= 0) Some(f.rows)
    else f.stats.values.collectFirst { case s if s.count >= 0 => s.count }

  /** A file's LIVE row count: total minus its deletion vector's marked
    * positions — exact even mid-merge-on-read. */
  private def fileLiveRows(f: FileEntry): Option[Long] =
    fileRows(f).map(_ - f.dv.map(_.count).getOrElse(0L))

  /** EXACT table row count answered from the manifest alone — zero data
    * files touched (the lakehouse COUNT(*) fast path; at 100 TB this is
    * a driver-side metadata fold vs a full scan). Unlike [[statsOnly]]
    * it stays exact while deletion vectors are live (`rows - dv.count`
    * is the file's live count by construction). None when any live file
    * predates per-file row counts — honesty over approximation. */
  def rowCount(spark: SparkSession, root: String): Option[Long] =
    stateRowCount(head(spark, root))

  /** [[rowCount]] at a pinned version — the zero-scan COUNT(*) for
    * time-traveled reads. None when the version is unresolvable or any
    * of its files predates per-file row counts. */
  def rowCountAt(spark: SparkSession, root: String, version: Long): Option[Long] =
    stateAt(spark, root, version).flatMap(stateRowCount)

  private def stateRowCount(st: State): Option[Long] = {
    val perFile = st.files.map(fileLiveRows)
    if (perFile.forall(_.nonEmpty)) Some(perFile.flatten.sum) else None
  }

  private def ordCanon(kind: Char, a: String, b: String, min: Boolean): String =
    if (kind == 's') { if ((a <= b) == min) a else b }
    else { if ((BigDecimal(a).compare(BigDecimal(b)) <= 0) == min) a else b }

  /** Typed min/max from [[statsOnly]]'s canonical encoding for numeric
    * ('n') columns; None when the stat is unavailable. */
  def statDouble(stats: DataFrame, column: String, which: String): Option[Double] =
    statRaw(stats, column, which, "n").map(_.toDouble)

  /** Typed min/max for string ('s') columns. */
  def statString(stats: DataFrame, column: String, which: String): Option[String] =
    statRaw(stats, column, which, "s")

  private def statRaw(stats: DataFrame, column: String, which: String,
                      kind: String): Option[String] = {
    require(which == "min" || which == "max", s"which must be min/max, got $which")
    stats.filter(col("column") === column && col("kind") === kind)
      .select(which).collect().headOption.flatMap(r => Option(r.getString(0)))
  }

  /** Files ADDED by data-changing commits in `(fromVersion, toVersion]` —
    * the incremental-read primitive. Generations are immutable and a
    * relative path is only ever added by ONE commit, so the change set
    * between two versions is exactly the union of per-commit adds:
    *
    *  - a DELTA commit (partitioned upsert) lists its adds directly —
    *    O(batch) manifest bytes, no state resolution at all;
    *  - a SNAPSHOT commit diffs against the resolved previous version
    *    (at most `checkpointInterval` manifest reads);
    *  - a commit whose [[OpTag]] is "rewrite" ([[compact]]/[[cluster]])
    *    contributes NOTHING: its files hold the same rows re-laid-out,
    *    and re-emitting them would replay the whole table downstream.
    *    Pre-r11 manifests without the marker are treated as
    *    data-changing (at-least-once, never lost).
    *
    * Granularity contract (the Iceberg incremental-append / pre-CDF
    * Delta model): changes are FILE-level. An upsert that touches a
    * partition rewrites that partition wholesale, so its add-files carry
    * the partition's carried-forward rows alongside the genuinely new
    * ones — downstream consumers see a touched partition's full merged
    * content (exactly what a partition-cascading pipeline recomputes
    * from) and must be keyed/idempotent for row-exact semantics
    * ([[consumeChanges]] packages that). `fromVersion = 0` yields the
    * complete table content at `toVersion` — the natural "initial
    * snapshot, then increments" stream bootstrap.
    *
    * Every version in the window must still be retained: a vacuumed
    * manifest inside the window fails loudly rather than silently
    * dropping its adds. */
  def changedFiles(spark: SparkSession, root: String, fromVersion: Long,
                   toVersion: Long): Seq[FileEntry] = {
    require(fromVersion >= 0 && toVersion >= fromVersion,
      s"changedFiles: need 0 <= fromVersion <= toVersion, got ($fromVersion, $toVersion]")
    if (toVersion == fromVersion) return Seq.empty
    val fs = fsOf(spark, root)
    val out = Seq.newBuilder[FileEntry]
    var v = fromVersion + 1
    while (v <= toVersion) {
      readRaw(fs, root, v) match {
        // rewrite wins over shape: a rewrite can be a SNAPSHOT
        // (compact/cluster) or a DELTA (materializeDeletes) — both carry
        // the same rows re-laid-out and contribute nothing. "analyze"
        // ([[backfillSketches]]) re-adds the SAME files with enriched
        // stats — zero row change; replaying its adds would re-deliver
        // the whole analyzed slice downstream
        case Some(m) if m.tags.get(OpTag)
          .exists(o => o == "rewrite" || o == "analyze") => ()
        case Some(d: DeltaManifest) => out ++= d.adds
        case Some(_) =>
          val cur = resolveState(spark, root, v).getOrElse(sys.error(
            s"manifest table $root: v$v does not resolve (broken chain) — " +
              "cannot compute its change set"))
          val prevPaths: Set[String] =
            if (v == 1) Set.empty
            else resolveState(spark, root, v - 1).map(_.files.map(_.relPath).toSet)
              .getOrElse(sys.error(
                s"manifest table $root: v${v - 1} does not resolve — " +
                  s"cannot diff snapshot v$v against it"))
          out ++= cur.files.filterNot(f => prevPaths(f.relPath))
        case None => sys.error(
          s"manifest table $root: v$v is vacuumed or was never committed — " +
            s"the incremental window ($fromVersion, $toVersion] must lie within retained versions")
      }
      v += 1
    }
    out.result()
  }

  /** Rows added between two committed versions ([[changedFiles]]'s
    * contract lifted to a DataFrame): the multi-hop answer — a
    * downstream pipeline consumes `(lastSeen, current]` instead of
    * re-scanning the full snapshot every run, so per-hop cost tracks
    * the batch, not the 100 TB table. Empty change set returns a
    * schema-preserving zero-row frame with no scan in the plan. */
  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
                  toVersion: Long): DataFrame = {
    val files = changedFiles(spark, root, fromVersion, toVersion)
    // tags AS OF toVersion: the window's rows read under the schema
    // mapping that was live at its end, like any time-travel read
    val st = resolveState(spark, root, toVersion).getOrElse(sys.error(
      s"manifest table $root has no committed version $toVersion"))
    if (files.isEmpty) {
      val schema = readState(spark, root, st).schema
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    } else readState(spark, root, State(toVersion, files, st.tags))
  }

  /** [[readChanges]] composed with metadata pruning ([[readWhere]]'s
    * contract): the change-set files are pruned by partition values +
    * footer stats before the scan and the full filter is re-applied
    * after — a downstream hop that consumes only a SLICE of upstream
    * changes (one region, one event class) skips the rest of the
    * window's files entirely. Semantically identical to
    * `readChanges(...).filter(filter)`. */
  def readChangesWhere(spark: SparkSession, root: String, fromVersion: Long,
                       toVersion: Long,
                       filter: org.apache.spark.sql.Column): DataFrame = {
    val files = changedFiles(spark, root, fromVersion, toVersion)
    val st = resolveState(spark, root, toVersion).getOrElse(sys.error(
      s"manifest table $root has no committed version $toVersion"))
    val kept = DataSkipping.prune(files, physicalizeCol(filter, st.tags),
      partitionTypes(st.tags))
    log.info(s"manifest table $root changes ($fromVersion, $toVersion]: data skipping " +
      s"kept ${kept.size}/${files.size} changed files for $filter")
    if (kept.isEmpty) {
      val schema = readState(spark, root, st).schema
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    } else readState(spark, root, State(toVersion, kept, st.tags)).filter(filter)
  }

  /** Exactly-once incremental relay between two manifest tables: read
    * the source's changes since this consumer's last processed version,
    * apply `transform`, and upsert the result into `dstRoot` with the
    * advanced source-version watermark IN THE SAME atomic commit (the
    * [[commitStreamBatch]] machinery with the source version as the
    * batch id). Crash before the commit → nothing moved, the window
    * replays identically; crash after → the replay is recognized by the
    * watermark and skipped. This is the reference's minute→hourly→daily
    * cadence chain (12/13/14_binance_*.py) as incremental lakehouse
    * hops: each run processes O(new data), never the full snapshot.
    *
    * Returns the source version consumed, or None when there was
    * nothing new. Single consumer per (dstRoot, consumerId) — a rival
    * writer surfaces as [[ConcurrentCommitException]]. */
  def consumeChanges(spark: SparkSession, srcRoot: String, dstRoot: String,
                     consumerId: String, keys: Seq[String], order: String,
                     partitionCols: Seq[String] = Nil,
                     checkpointInterval: Int = DefaultCheckpointInterval)
                    (transform: DataFrame => DataFrame): Option[Long] = {
    require(consumerId.nonEmpty && !consumerId.exists(c => c == '\t' || c == '\n'),
      s"consumerId must be a non-empty separator-free identifier, got '$consumerId'")
    val srcV = currentVersion(spark, srcRoot).getOrElse(return None)
    val sinkId = s"consume.$consumerId"
    val lastV = current(spark, dstRoot)
      .flatMap(_.tags.get(s"$StreamBatchTag.$sinkId"))
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(0L)
    if (srcV <= lastV) None
    else {
      val batch = transform(readChanges(spark, srcRoot, lastV, srcV))
      if (commitStreamBatch(spark, batch, srcV, dstRoot, keys, order,
          partitionCols, sinkId, checkpointInterval)) Some(srcV)
      else {
        // all-rewrite window or transform emitted nothing: the window is
        // consumed even though no data moved — advance the watermark with
        // a tags-only commit so later calls don't re-walk the same
        // manifests (and a rewrite-heavy source doesn't pin the consumer
        // at an ever-older version). Only possible once the destination
        // exists (tags live on commits); before that the next call simply
        // re-reads the window — idempotent either way.
        current(spark, dstRoot).foreach { dstSt =>
          try commitMeta(spark, dstRoot, dstSt,
            dstSt.tags + (s"$StreamBatchTag.$sinkId" -> srcV.toString))
          catch {
            case _: ConcurrentCommitException =>
              // the advance is an optimization, not a correctness gate:
              // losing this race just means the next call re-walks the
              // (still-empty) window
              log.info(s"consumeChanges($consumerId): lost the watermark-advance " +
                s"race on $dstRoot — next call re-reads the empty window")
          }
        }
        None
      }
    }
  }

  // ---- logical schema mapping: rename/drop without rewrite ------------
  //
  // Iceberg/Delta name-mapping, manifest-tag edition: data files keep
  // the PHYSICAL column names they were written with, forever; the
  // manifest records physical→logical renames and a dropped-physical
  // set, and every surface maps at its boundary — reads present logical
  // names, generation writes translate back to physical so all files of
  // a table share one physical schema, and the metadata pruners (whose
  // stats are keyed by in-file names) see physicalized predicates. A
  // rename or drop is therefore one metadata-only commit on a 100 TB
  // table. Mappings are versioned with the tags they ride on: time
  // travel to a pre-rename version shows pre-rename names.

  /** Tag holding `enc(physical)>enc(logical)` comma-joined pairs. */
  private[graft] val RenameTag = "schema.rename"
  /** Tag holding `enc(physical)` comma-joined dropped columns. */
  private[graft] val DropTag = "schema.drop"
  /** Tag holding the CREATE-time physical schema (StructType JSON) of a
    * table seeded empty by [[createEmpty]] — the only state a zero-file
    * table has. Data files remain the schema of record once they exist
    * (additive evolution reads the union); the tag only serves the
    * files-empty window. */
  private[graft] val SchemaTag = "schema.create"
  /** Tag holding the declared partition layout (comma-joined column
    * names) of a table seeded empty — [[partitionLayout]] falls back to
    * it while no data file exists to derive the layout from. */
  private[graft] val LayoutTag = "schema.layout"

  /** Tag holding the DECLARED types of typed identity-partition columns
    * (StructType json; [[PartitionTypes.SafeTypes]] only), written by
    * [[createEmpty]] when a CREATE declares a layout column as
    * int/bigint/smallint/tinyint/date. Partition VALUES stay directory
    * strings everywhere in the manifest (the write-boundary string
    * normalization and the re-spell-identically rewrite contract are
    * untouched); the tag makes the READ side cast those columns back to
    * the declared type, so typed predicates push without a cast on the
    * attribute and the exact file prune can consume them
    * ([[graft.sources.v2.GraftScanBuilder]]). Dies with the layout on a
    * full overwrite; carries through clones/evolution like the layout
    * itself. */
  private[graft] val PartitionTypesTag = "partition.typed"

  /** Declared types of typed layout columns (empty when untagged). */
  private[graft] def partitionTypes(tags: Map[String, String])
      : Map[String, org.apache.spark.sql.types.DataType] =
    PartitionTypes.fromTag(tags.get(PartitionTypesTag))

  /** Cast tagged layout columns of a scan/seed frame back to their
    * declared types — THE read-side half of the typed-partition
    * contract. Values are canonical renderings by construction (every
    * write boundary strings them via the engine's own cast, which
    * renders int/date canonically), so the cast is an exact parse; a
    * foreign non-canonical value degrades to the cast's semantics
    * (null), never an error. */
  private def applyPartitionTypes(df: DataFrame,
                                  tags: Map[String, String]): DataFrame = {
    val typed = partitionTypes(tags)
    if (typed.isEmpty) df
    else {
      val present = df.columns.toSet
      val casts = typed.filter { case (c, _) => present.contains(c) }
      if (casts.isEmpty) df
      else df.select(df.columns.toIndexedSeq.map { c =>
        casts.get(c) match {
          case Some(t) if df.schema(c).dataType != t => col(c).cast(t).as(c)
          case _ => col(c)
        }
      }: _*)
    }
  }

  /** Tag holding generated-partition-column definitions: comma-joined
    * `enc(name):enc(exprSql)` pairs. A generated column is a REAL
    * string column derived from a transform of a source column
    * (`days(ts)` → `ts_day` = date_format) — the Delta generated-column
    * take on Iceberg's hidden partitioning: the table partitions on a
    * time/bucket granularity the source column implies, and every write
    * boundary derives the column automatically when a batch omits it
    * ([[applyGenerated]]), so appends/upserts/merges never need to
    * spell the layout. Being a real column keeps every mutator, the
    * carry-forward contract, SHOW PARTITIONS, and dynamic overwrite
    * working unchanged. */
  private[graft] val GeneratedTag = "layout.generated"

  private[graft] def generatedSpecs(tags: Map[String, String]): Seq[(String, String)] =
    tags.get(GeneratedTag).toSeq.flatMap(_.split(',').toSeq.filter(_.nonEmpty))
      .flatMap { p =>
        p.split(':') match {
          case Array(n, e) => Some(dec(n) -> dec(e))
          case _           => None
        }
      }

  private def encodeGenerated(specs: Seq[(String, String)]): String =
    specs.map { case (n, e) => s"${enc(n)}:${enc(e)}" }.mkString(",")

  /** Tag marking that [[evolvePartitionSpec]] has run at least once: the
    * layout of record is [[LayoutTag]] (files may carry older eras'
    * dir layouts), and reads repair generated columns that predate
    * their era ([[deriveEvolvedGenerated]]). Absent on ordinary tables,
    * whose single-layout invariant stays strictly enforced. */
  private[graft] val EvolvedTag = "layout.evolved"

  /** Iceberg-style partition-spec EVOLUTION as one metadata commit: the
    * table's layout of record becomes `partitionCols` (identity columns
    * and/or `days|months|hours(c)` / `bucket(n, c)` / `truncate(n, c)`
    * transforms); files already written stay exactly where they are and
    * remain readable under their recorded era, new writes land under
    * the new layout. Generated-column DEFINITIONS are append-only
    * across eras: an old transform's column keeps its definition (new
    * writes still derive it — as a data column with footer stats, so
    * filters on it keep pruning), a new transform's column is derived
    * at every write boundary AND repaired at read time for old-era rows
    * (coalesce with the defining expression — exact, because the value
    * IS a function of its source column). Redefining an existing
    * generated column refuses: that is a rewrite, not evolution.
    *
    * What mixed eras cost until an OPTIMIZE/compact physicalizes the
    * current spec: dynamic partition overwrite refuses (replacing a
    * new-era partition cannot see old-era rows that logically belong to
    * it), and file skipping on the NEW column prunes only new-era files
    * (old ones lack its dirs and stats — conservative, never wrong). A
    * full [[compact]] rewrites every file under the current spec and
    * retires the mixed state. */
  def evolvePartitionSpec(spark: SparkSession, root: String,
                          partitionCols: Seq[String]): Long = {
    val st = head(spark, root)
    val parsed = partitionCols.map(parsePartitionSpec)
    val newLayout = parsed.map(_._1)
    require(newLayout.distinct.size == newLayout.size,
      s"evolvePartitionSpec: duplicate partition columns in $partitionCols")
    val newGen = parsed.collect { case (n, Some(e)) => (n, e) }
    val oldGen = generatedSpecs(st.tags)
    newGen.foreach { case (n, e) =>
      oldGen.find(_._1.equalsIgnoreCase(n)).foreach { case (_, oe) =>
        require(oe == e,
          s"evolvePartitionSpec: generated column '$n' is already defined " +
            s"as $oe — changing a definition is a rewrite, not evolution")
      }
    }
    val schema = readState(spark, root, st).schema
    parsed.foreach {
      case (n, None) =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(n)),
          s"evolvePartitionSpec: identity partition column '$n' is not in " +
            s"the schema of $root")
      case (n, Some(e)) =>
        require(schema.fieldNames.exists(f => e.contains(s"`$f`")),
          s"evolvePartitionSpec: generated column $n's source is not in " +
            s"the schema ($e)")
        require(oldGen.exists(_._1.equalsIgnoreCase(n)) ||
            !schema.fieldNames.exists(_.equalsIgnoreCase(n)),
          s"evolvePartitionSpec: column '$n' already exists in $root — a " +
            "transform may not shadow a data column")
    }
    val merged = oldGen ++ newGen.filterNot(g =>
      oldGen.exists(_._1.equalsIgnoreCase(g._1)))
    val newTags = st.tags +
      (LayoutTag -> newLayout.mkString(",")) + (EvolvedTag -> "true") ++
      (if (merged.nonEmpty) Map(GeneratedTag -> encodeGenerated(merged))
       else Map.empty)
    commitMeta(spark, root, st, newTags, op = "evolve-spec")
  }

  /** Post-evolution read repair: every generated column reads its TRUE
    * value on every row — dir/data values where an era recorded them,
    * the defining expression where it predates the column. Exact by the
    * write-boundary verification (a recorded value always equals its
    * definition), and the identity (skipped) on non-evolved tables. */
  private def deriveEvolvedGenerated(df: DataFrame,
                                     tags: Map[String, String]): DataFrame =
    if (!tags.contains(EvolvedTag)) df
    else generatedSpecs(tags).foldLeft(df) { case (d, (n, sql)) =>
      val defined = expr(sql).cast("string")
      if (!d.columns.exists(_.equalsIgnoreCase(n))) d.withColumn(n, defined)
      else d.withColumn(n, coalesce(col(n).cast("string"), defined))
    }

  /** The layout a REWRITE (compact/optimize) must land: post-evolution
    * the spec of record (physicalizing old eras is the point), else the
    * files' single recorded layout. */
  private def rewriteLayout(root: String, st: State,
                            files: Seq[FileEntry]): Seq[String] =
    if (st.tags.contains(EvolvedTag)) layoutOf(root, st)
    else {
      val layouts = files.map(_.partitionKeys).distinct
      require(layouts.size <= 1,
        s"rewrite: inconsistent partition layouts in $root: $layouts")
      layouts.headOption.getOrElse(Seq.empty)
    }

  /** The table's generated BUCKET layout, when one exists:
    * (bucket column name, source columns, bucket count). The defining
    * SQL is the engine's own `pmod(hash(c1[, c2…]), n)` — Spark
    * murmur3, the same hash Spark's HashPartitioning uses — which is
    * what makes a co-bucketed storage-partitioned join semantically
    * sound: equal source-key TUPLES land in equal buckets on every
    * table sharing (sources, n). Multi-column buckets co-locate
    * composite-key joins (e.g. (orderkey, suppkey) fact-fact) the way a
    * single-column layout cannot: hashing one member would co-locate
    * only that member's equality. */
  private[graft] def bucketLayout(tags: Map[String, String])
      : Option[(String, Seq[String], Int)] = {
    val B = """pmod\(hash\((`\w+`(?:, `\w+`)*)\), (\d+)\)""".r
    generatedSpecs(tags).collectFirst {
      case (name, B(srcs, n)) =>
        (name, srcs.split(", ").toSeq.map(_.stripPrefix("`").stripSuffix("`")),
          n.toInt)
    }
  }

  /** One PARTITIONED BY entry → (column name, optional defining SQL).
    * Identity entries pass through; transform entries derive:
    * `days(c)`/`months(c)`/`hours(c)` (time granularities on a
    * timestamp/date column), `bucket(n, c1[, c2…])` (hash buckets for
    * co-location — multiple sources hash as a tuple, co-locating
    * composite-key joins), `truncate(n, c)` (string prefix). Derived
    * names are `<col>_day|_month|_hour|_trunc` and
    * `<c1>[_<c2>…]_bucket`. */
  private[graft] def parsePartitionSpec(spec: String): (String, Option[String]) = {
    val Time = """(?i)(days|months|hours)\s*\(\s*(\w+)\s*\)""".r
    val Bucket = """(?i)bucket\s*\(\s*(\d+)\s*,\s*(\w+(?:\s*,\s*\w+)*)\s*\)""".r
    val Trunc = """(?i)truncate\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r
    spec.trim match {
      case Time(kind, c) => kind.toLowerCase match {
        case "days"   => (s"${c}_day", Some(s"date_format(`$c`, 'yyyy-MM-dd')"))
        case "months" => (s"${c}_month", Some(s"date_format(`$c`, 'yyyy-MM')"))
        case _        => (s"${c}_hour", Some(s"date_format(`$c`, 'yyyy-MM-dd-HH')"))
      }
      case Bucket(n, cs) =>
        val cols = cs.split(',').toSeq.map(_.trim)
        (s"${cols.mkString("_")}_bucket",
          Some(s"pmod(hash(${cols.map(c => s"`$c`").mkString(", ")}), $n)"))
      case Trunc(n, c) =>
        (s"${c}_trunc", Some(s"substring(`$c`, 1, $n)"))
      case plain =>
        require(plain.matches("""[A-Za-z_][\w]*"""),
          s"partition spec '$spec' is neither a column name nor a supported " +
            "transform (days|months|hours(col), bucket(n, col), truncate(n, col))")
        (plain, None)
    }
  }

  /** Derive every generated column a batch omits (or provides as NULL —
    * the Delta generated-column contract, so a positional INSERT can
    * pass NULL and still land in the right partition); verify (cheaply,
    * a limit-1 job) any NON-null values the batch supplies — a value
    * that disagrees with the defining expression would silently corrupt
    * the partition layout, so it refuses instead. */
  private def applyGenerated(df: DataFrame, tags: Map[String, String],
                             root: String, context: String): DataFrame =
    generatedSpecs(tags).foldLeft(df) { case (d, (name, sql)) =>
      val defined = expr(sql).cast("string")
      if (!d.columns.exists(_.equalsIgnoreCase(name)))
        d.withColumn(name, defined)
      else {
        val bad = d.filter(col(name).isNotNull &&
            !(col(name).cast("string") <=> defined))
          .limit(1).collect()
        require(bad.isEmpty,
          s"manifest table $root: $context supplies generated column '$name' " +
            s"with values that disagree with its definition ($sql), e.g. " +
            s"${bad.headOption.getOrElse("")} — omit the column (or pass " +
            "NULL) and let the engine derive it")
        d.withColumn(name, coalesce(col(name).cast("string"), defined))
      }
    }

  /** Tag holding the shallow-clone source chain: ';'-joined URL-encoded
    * QUALIFIED roots, nearest parent first. A referenced top-level dir
    * (generation / deletion-vector / bloom-index dataset) that does not
    * exist under this table's own root resolves against the chain in
    * order ([[dirBase]]). Written only by [[cloneTable]]; every local
    * rewrite (compact / CoW delete / update / upsert) progressively
    * localizes the data, and a full [[compact]] localizes all of it. */
  private[graft] val CloneSourcesTag = "clone.sources"

  private[graft] def cloneSources(tags: Map[String, String]): Seq[String] =
    tags.get(CloneSourcesTag).toSeq
      .flatMap(_.split(';').toSeq.filter(_.nonEmpty)).map(dec)

  /** Resolved (root, dir) → base root. Positive resolutions are stable:
    * generation/dv/index dir names are UUID-suffixed and immutable, so a
    * dir never MOVES between roots — it only gets deleted (a stale cache
    * entry then fails at read time with the FS's own error). Bounded by
    * distinct dirs actually read through clones. */
  private val dirBaseCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** The root under which top-level `dir` lives: this table's own root
    * when present locally (always true for non-clones — checked first,
    * and only when a clone chain exists, so ordinary tables never pay an
    * existence RPC), else the first clone source that has it. */
  private[graft] def dirBase(spark: SparkSession, root: String,
                             sources: Seq[String], dir: String): String =
    if (sources.isEmpty) root
    else dirBaseCache.computeIfAbsent((root, dir), _ =>
      (root +: sources).find(r => fsOf(spark, r).exists(new Path(r, dir)))
        .getOrElse(sys.error(
          s"manifest table $root: referenced dir '$dir' exists neither " +
            s"locally nor in any clone source (${sources.mkString(", ")}) — " +
            "was the source table vacuumed after the shallow clone? " +
            "(compact the clone right after cloning to localize it)")))

  private def renameMap(tags: Map[String, String]): Map[String, String] =
    tags.get(RenameTag).map(_.split(',').toSeq.flatMap { p =>
      p.split('>') match {
        case Array(ph, lo) => Some(dec(ph) -> dec(lo))
        case _             => None
      }
    }.toMap).getOrElse(Map.empty)

  private def dropSet(tags: Map[String, String]): Set[String] =
    tags.get(DropTag).map(_.split(',').toSeq.filter(_.nonEmpty).map(dec).toSet)
      .getOrElse(Set.empty)

  private def encodeRenames(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (p, l) => s"${enc(p)}>${enc(l)}" }.mkString(",")

  /** Physical-name frame → the logical view: dropped columns vanish,
    * renamed columns take their logical names, everything else (incl.
    * the DV helper columns) passes through. Idempotent: rename targets
    * are validated never to collide with any physical name. */
  private def logicalize(df: DataFrame, tags: Map[String, String]): DataFrame = {
    val ren = renameMap(tags); val dr = dropSet(tags)
    if (ren.isEmpty && dr.isEmpty) df
    else df.select(df.columns.toIndexedSeq.collect {
      case c if !dr.contains(c) => col(c).as(ren.getOrElse(c, c))
    }: _*)
  }

  /** Logical frame → physical names for a generation write (inverse
    * rename), so every data file of the table keeps ONE physical
    * schema regardless of how many renames happened around it. */
  private def physicalizeDf(df: DataFrame, tags: Map[String, String]): DataFrame = {
    val inv = renameMap(tags).map(_.swap)
    if (inv.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map(c =>
      col(c).as(inv.getOrElse(c, c))): _*)
  }

  /** A predicate over LOGICAL names rewritten onto physical ones — what
    * [[DataSkipping.prune]] and the bloom probes understand (their
    * stats are keyed by in-file names). Only bare one-part attributes
    * rewrite; a string literal that happens to spell a column name is
    * untouched (the rewrite walks the parsed expression). */
  private def physicalizeCol(predicate: org.apache.spark.sql.Column,
                             tags: Map[String, String]): org.apache.spark.sql.Column = {
    val inv = renameMap(tags).map(_.swap)
    if (inv.isEmpty) predicate
    else {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      val e = org.apache.spark.sql.graftshim.ColumnExpr.expression(predicate)
      org.apache.spark.sql.graftshim.ColumnExpr.column(e.transform {
        case a: UnresolvedAttribute
          if a.nameParts.length == 1 && inv.contains(a.nameParts.head) =>
          UnresolvedAttribute(Seq(inv(a.nameParts.head)))
      })
    }
  }

  private def physicalName(tags: Map[String, String], logical: String): String =
    renameMap(tags).map(_.swap).getOrElse(logical, logical)

  /** The rename (physical → logical) map and dropped-physical-column
    * set — what the native DSv2 read path needs to translate a required
    * LOGICAL schema onto in-file physical names (the V1 path translates
    * whole frames via [[logicalize]]/[[physicalizeDf]]; a columnar scan
    * translates names, positions stay aligned). Layout columns never
    * appear in either: [[schemaEvoCheck]] refuses renaming/dropping any
    * hive partition column or generated-column source. */
  private[graft] def renameInfo(tags: Map[String, String])
      : (Map[String, String], Set[String]) = (renameMap(tags), dropSet(tags))

  /** Shared validation for the schema-evolution commits. Returns the
    * column's physical name. */
  private def schemaEvoCheck(spark: SparkSession, root: String, st: State,
                             name: String, op: String): String = {
    val logicalCols = readState(spark, root, st).columns.toSeq
    require(logicalCols.contains(name),
      s"$op: no column '$name' in $root (columns: ${logicalCols.mkString(", ")})")
    val phys = physicalName(st.tags, name)
    val partCols = st.files.flatMap(_.partitionValues.keys).distinct
    require(!partCols.contains(phys),
      s"$op: '$name' is a hive partition column — its name is baked into every " +
        "directory path; repartitioning is a rewrite, not metadata evolution")
    val referencing = st.tags.collect {
      case (k, v) if k.startsWith(ConstraintTagPrefix) &&
        s"\\b${java.util.regex.Pattern.quote(name)}\\b".r.findFirstIn(v).nonEmpty =>
        k.stripPrefix(ConstraintTagPrefix)
    }
    require(referencing.isEmpty,
      s"$op: column '$name' is referenced by CHECK constraint(s) " +
        s"${referencing.mkString(", ")} — drop the constraint first")
    // a generated partition column's defining expression names its
    // source physically: renaming/dropping the source would break every
    // later write boundary's derivation
    val generating = generatedSpecs(st.tags)
      .collect { case (g, e) if e.contains(s"`$phys`") => g }
    require(generating.isEmpty,
      s"$op: column '$name' is the source of generated partition column(s) " +
        s"${generating.mkString(", ")} — the layout derives from it; " +
        "repartitioning is a rewrite, not metadata evolution")
    phys
  }

  /** Rename a column WITHOUT touching a single data file: one
    * metadata-only commit (op "rename") records physical→logical, and
    * every read presents the new name while old generations keep their
    * bytes. Hive partition columns and constraint-referenced columns
    * are refused. The new name must not collide with any live logical
    * OR physical name (the latter keeps [[logicalize]] idempotent and
    * un-ambiguous). */
  def renameColumn(spark: SparkSession, root: String, from: String, to: String): Long = {
    require(to.nonEmpty && to != from, s"renameColumn: bad target '$to'")
    val st = head(spark, root)
    val phys = schemaEvoCheck(spark, root, st, from, "renameColumn")
    val logicalCols = readState(spark, root, st).columns.toSeq
    require(!logicalCols.contains(to),
      s"renameColumn: column '$to' already exists in $root")
    val physUniverse = logicalCols.map(physicalName(st.tags, _)).toSet ++
      st.files.flatMap(_.stats.keys) ++ dropSet(st.tags)
    require(to == phys || !physUniverse.contains(to),
      s"renameColumn: '$to' collides with a physical column name in $root")
    val ren0 = renameMap(st.tags) - phys
    val ren = if (to == phys) ren0 else ren0 + (phys -> to) // back-rename heals
    val newTags =
      (if (ren.isEmpty) st.tags - RenameTag
       else st.tags + (RenameTag -> encodeRenames(ren)))
    commitMeta(spark, root, st, newTags, op = "rename")
  }

  /** Drop a column WITHOUT rewriting: the physical column joins the
    * dropped set, readers stop projecting it, [[statsOnly]] stops
    * reporting it; the bytes remain in old generations until their next
    * natural rewrite (compact/cluster/mutation) and new generations
    * simply never carry it. Same refusals as [[renameColumn]], plus the
    * last column cannot be dropped. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    val st = head(spark, root)
    val phys = schemaEvoCheck(spark, root, st, name, "dropColumn")
    require(readState(spark, root, st).columns.length > 1,
      s"dropColumn: '$name' is the last column of $root")
    val ren = renameMap(st.tags) - phys
    val dr = dropSet(st.tags) + phys
    val base = st.tags + (DropTag -> dr.toSeq.sorted.map(enc).mkString(","))
    val newTags =
      if (ren.isEmpty) base - RenameTag else base + (RenameTag -> encodeRenames(ren))
    commitMeta(spark, root, st, newTags, op = "drop-column")
  }

  /** Add a nullable column WITHOUT touching a single data file: one
    * metadata-only commit (op "add-column") widens the declared schema
    * ([[SchemaTag]]); every read pads the column as typed NULLs until a
    * generation actually carries it ([[padDeclared]]), and the next
    * write simply includes it — the standard lakehouse ADD COLUMN
    * contract. Tables predating [[createEmpty]] (no recorded schema) get
    * one synthesized from the current snapshot first, so the commit is
    * self-contained. The new name must not collide with any live logical
    * OR physical name (same rule as [[renameColumn]] — keeps
    * [[logicalize]] unambiguous), and only non-nested, nullable columns
    * are supported (NOT NULL over existing rows would be instantly
    * violated; a DEFAULT is a rewrite). */
  def addColumn(spark: SparkSession, root: String, name: String,
                dataType: org.apache.spark.sql.types.DataType): Long = {
    require(name.nonEmpty && !name.contains('.'),
      s"addColumn: bad column name '$name' (nested fields are not supported)")
    val st = head(spark, root)
    val logicalCols = readState(spark, root, st).columns.toSeq
    require(!logicalCols.contains(name),
      s"addColumn: column '$name' already exists in $root")
    val physUniverse = logicalCols.map(physicalName(st.tags, _)).toSet ++
      st.files.flatMap(_.stats.keys) ++ dropSet(st.tags)
    require(!physUniverse.contains(name),
      s"addColumn: '$name' collides with a physical column name in $root")
    val declared = st.tags.get(SchemaTag)
      .map(json => org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse {
        // pre-createEmpty table: pin the current scan order, physically
        // named, as the declared base before appending
        val ren = renameMap(st.tags)
        val inv = ren.map(_.swap)
        org.apache.spark.sql.types.StructType(
          readState(spark, root, st).schema.fields.map(f =>
            f.copy(name = inv.getOrElse(f.name, f.name))))
      }
    val widened = declared.add(name, dataType, nullable = true)
    commitMeta(spark, root, st,
      st.tags + (SchemaTag -> widened.json), op = "add-column")
  }

  /** Declared-but-unwritten columns padded as typed NULLs: after
    * [[addColumn]], a column can exist in the declared schema
    * ([[SchemaTag]]) while no generation carries it yet — the scan union
    * alone would silently omit it. Padding at the single read choke
    * point keeps every surface (reads, filters on the new column, the
    * write paths' drift checks, INSERT alignment) consistent without
    * per-surface special cases. No-op (same frame, no projection) when
    * every declared column is present — the overwhelmingly common case. */
  private def padDeclared(df: DataFrame, tags: Map[String, String]): DataFrame =
    tags.get(SchemaTag).map { json =>
      val declared = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val ren = renameMap(tags); val dr = dropSet(tags)
      val have = df.columns.toSet
      val missing = declared.fields.toSeq
        .filterNot(f => dr.contains(f.name))
        .map(f => (ren.getOrElse(f.name, f.name), f.dataType))
        .filterNot { case (l, _) => have.contains(l) }
      missing.foldLeft(df) { case (acc, (l, t)) =>
        acc.withColumn(l, lit(null).cast(t))
      }
    }.getOrElse(df)

  // ---- change data feed: row-level CDC, recorded at write time ---------
  //
  // Delta's CDF design re-expressed: when the table OPTS IN
  // ([[setChangeFeed]]), every row-level mutator (delete/update/merge,
  // copy-on-write AND merge-on-read) writes the rows it changed — with
  // a `_change_type` of insert / delete / update_preimage /
  // update_postimage — into an immutable `cdf-<uuid>` dataset committed
  // atomically with the mutation (a `cdf=` line on the delta manifest).
  // [[readChangeFeed]] then serves "(from, to]: what changed, row by
  // row" without diffing snapshots: at 100 TB a CDC consumer reads the
  // change files (sized by the mutation), never the table. Keyed
  // upserts (incl. the exactly-once streaming sink) record an EXACT
  // row-level diff of their touched slice, so sink → CDC chains
  // compose. Append-only commits need no change file — their adds ARE
  // the inserts, derived for free; rewrites (compact/cluster/
  // materialize) are data-identical and emit nothing. A commit that
  // changed rows while the feed was off (or a full write() overwrite)
  // is REFUSED by readChangeFeed — loudly, with the readChanges
  // fallback named — rather than approximated.

  private[graft] val CdfEnabledTag = "cdf.enabled"
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  // case-insensitive: SET TBLPROPERTIES ('cdf.enabled'='TRUE') must turn
  // the feed ON, not commit a property that displays as set while
  // mutations silently skip their change records
  private def cdfEnabled(tags: Map[String, String]): Boolean =
    tags.get(CdfEnabledTag).exists(_.equalsIgnoreCase("true"))

  /** Opt the table in/out of the change feed (metadata-only commit).
    * Only mutations AFTER the enabling commit carry change records. */
  def setChangeFeed(spark: SparkSession, root: String, enabled: Boolean): Long = {
    val st = head(spark, root)
    val newTags =
      if (enabled) st.tags + (CdfEnabledTag -> "true") else st.tags - CdfEnabledTag
    if (newTags == st.tags) st.version
    else commitMeta(spark, root, st, newTags)
  }

  /** Write `changes` (LOGICAL columns + [[ChangeTypeCol]]) as a commit's
    * change dataset — physical names in the file, like any generation.
    * None when the feed is off or the mutation touched zero rows; the
    * dir rides the manifest's `cdf=` line, so [[commit]] deletes it on a
    * lost claim. The change frame is a
    * second evaluation of the mutation's matched set: with a
    * non-deterministic predicate it can disagree with the committed
    * rewrite (the same caveat as the rewrite itself — the MoR paths'
    * persisted matched sets narrow it, their tear checks bound it). */
  private def writeCdf(spark: SparkSession, root: String,
                       tags: Map[String, String],
                       changes: DataFrame): Option[(String, Long)] = {
    val dir = s"cdf-${java.util.UUID.randomUUID().toString.take(12)}"
    val p = new Path(root, dir)
    withMicrosTimestamps(physicalizeDf(changes, tags))
      .write.mode(SaveMode.ErrorIfExists).parquet(p.toString)
    val n = listGeneration(spark, root, dir).flatMap(fileRows).sum
    if (n == 0L) { fsOf(spark, root).delete(p, true); None }
    else Some((dir, n))
  }

  /** The row-level changes committed in `(fromVersion, toVersion]`:
    * the table's logical columns (as of each commit) plus
    * [[ChangeTypeCol]] and [[CommitVersionCol]]. Commits are served
    * from their change datasets (cost tracks the mutation); append-only
    * commits derive inserts from their added files; rewrites and
    * metadata commits contribute nothing. A commit that changed rows
    * WITHOUT a change record (feed disabled at the time, or a
    * partition-replacing upsert) refuses loudly — a silent gap would
    * make every downstream CDC consumer wrong. */
  def readChangeFeed(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"readChangeFeed: need fromVersion <= toVersion, got ($fromVersion, $toVersion]")
    val fs = fsOf(spark, root)
    val frames = ((fromVersion + 1) to toVersion).flatMap { v =>
      val m = readRaw(fs, root, v).getOrElse(sys.error(
        s"manifest table $root has no committed version $v — the change window " +
          s"($fromVersion, $toVersion] must lie within retained versions"))
      val op = m.tags.getOrElse(OpTag, "")
      m match {
        case _ if m.cdf.nonEmpty => // any commit kind can carry changes
          val raw = dirFrame(spark, new Path(root, m.cdf.get._1).toString)
          Some(logicalize(raw, m.tags).withColumn(CommitVersionCol, lit(v)))
        case _ if Set("rewrite", "analyze", "meta", "rename", "drop-column",
                      "add-column", "evolve-spec").contains(op) =>
          None // data-identical or metadata-only
        case f: FullManifest if f.files.isEmpty =>
          None // schema-only seed (CREATE TABLE): zero rows changed
        case d: DeltaManifest if d.removes.isEmpty =>
          if (d.adds.isEmpty) None
          else Some(logicalize(scanFiles(spark, root, d.adds, withPositions = false, d.tags),
              d.tags)
            .withColumn(ChangeTypeCol, lit("insert"))
            .withColumn(CommitVersionCol, lit(v)))
        case _ => sys.error(
          s"manifest table $root: v$v (op '$op') changed rows without a change " +
            "record — the feed was DISABLED when this commit landed (enable " +
            "setChangeFeed before mutating; delete/update/merge/upsert all " +
            "record), or it is a full overwrite (write()), whose row-level diff " +
            "is never materialized; consume readChanges for adds-only")
      }
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse {
      val st = resolveState(spark, root, toVersion).getOrElse(sys.error(
        s"manifest table $root has no committed version $toVersion"))
      val schema = readState(spark, root, st).schema
        .add(ChangeTypeCol, org.apache.spark.sql.types.StringType, nullable = false)
        .add(CommitVersionCol, org.apache.spark.sql.types.LongType, nullable = false)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
  }

  /** Helper column names for deletion-vector application — struck from
    * the result before it leaves [[readState]]. */
  private val DvRelCol = "__graft_dv_rel"
  private val DvPosCol = "__graft_dv_pos"

  private def readState(spark: SparkSession, root: String, st: State): DataFrame = {
    if (st.files.isEmpty) {
      // a createEmpty-seeded table (or one whose every row was deleted
      // back to the empty seed): the recorded schema IS the state —
      // rename/drop mappings committed since still apply via logicalize
      val json = st.tags.getOrElse(SchemaTag,
        sys.error(s"manifest table $root v${st.version} lists no files"))
      val phys = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      // typed layout columns surface in their DECLARED type from birth
      // (the SchemaTag record stays string-pinned; the seed frame must
      // agree with what the table reads back once data lands, or the
      // first INSERT would align against the wrong type)
      return deriveEvolvedGenerated(logicalize(applyPartitionTypes(
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), phys), st.tags),
        st.tags), st.tags)
    }
    val (dvd, clean) = st.files.partition(_.dv.nonEmpty)
    val out = if (dvd.isEmpty)
      logicalize(scanFiles(spark, root, st.files, withPositions = false, st.tags), st.tags)
    else {
      // merge-on-read: scan the DV'd files WITH parquet row positions
      // (file path + `_metadata.row_index` — stable per immutable file)
      // and anti-join their deletion vectors out. Only the DV'd slice
      // pays the join; untouched files stream through unchanged. The DV
      // side is broadcast when its total cardinality (known exactly from
      // the manifest, no scan) is bounded, so the common
      // targeted-delete case adds a broadcast-hash anti — no shuffle of
      // the table; a table-sized delete falls back to a shuffled anti
      // join (and is better served by [[materializeDeletes]]).
      val cleaned = scanLiveWithPositions(spark, root, dvd, st.tags)
        .drop(DvRelCol, DvPosCol)
      if (clean.isEmpty) cleaned
      else logicalize(scanFiles(spark, root, clean, withPositions = false, st.tags), st.tags)
        .unionByName(cleaned, allowMissingColumns = true)
    }
    deriveEvolvedGenerated(
      applyPartitionTypes(padDeclared(out, st.tags), st.tags), st.tags)
  }

  /** Scan `files` with row positions ([[DvRelCol]]/[[DvPosCol]] kept in
    * the result) and any deletion vectors anti-joined out — the live
    * rows, addressable by (file, position). */
  private def scanLiveWithPositions(spark: SparkSession, root: String,
                                    files: Seq[FileEntry],
                                    tags: Map[String, String]): DataFrame = {
    val scanned = logicalize(scanFiles(spark, root, files, withPositions = true, tags), tags)
    val dvd = files.filter(_.dv.nonEmpty)
    if (dvd.isEmpty) scanned
    else {
      val dvDf = loadDvs(spark, root, dvd, tags)
      val totalDv = dvd.flatMap(_.dv).map(_.count).sum
      val dvSide = if (totalDv <= 10000000L) broadcast(dvDf) else dvDf
      scanned.join(dvSide, Seq(DvRelCol, DvPosCol), "left_anti")
    }
  }

  /** The deletion-vector rows (relPath, pos) referenced by `dvd`'s
    * entries, restricted per DV dataset to the files that still point at
    * it. The restriction is a pure optimization (pushdown on the DV
    * scan, tighter broadcast): a dataset's rows for files repointed or
    * rewritten since can never mis-apply — rel paths are UUID-unique and
    * a repointing dataset carries its predecessor's positions. */
  private def loadDvs(spark: SparkSession, root: String,
                      dvd: Seq[FileEntry],
                      tags: Map[String, String]): DataFrame = {
    val sources = cloneSources(tags)
    dvd.groupBy(_.dv.get.dir).toSeq.sortBy(_._1).map { case (dir, fs) =>
      dirFrame(spark, new Path(dirBase(spark, root, sources, dir), dir).toString)
        .filter(col("relPath").isin(fs.map(_.relPath): _*))
        .select(col("relPath").as(DvRelCol), col("pos").as(DvPosCol))
    }.reduce(_.unionByName(_))
  }

  /** Driver-side deletion-vector positions per live file, for readers
    * that apply DVs INLINE (the native DSv2 batch scan ships each input
    * partition its own files' positions, so a bucketed MoR-deleted
    * table keeps its KeyGroupedPartitioning instead of paying a
    * logical-plan anti-join). Sorted per file for binary-search
    * application. The materialized size is the manifest-known total DV
    * cardinality — CALLERS MUST CAP on that count before asking (the
    * native scan refuses above its inline bound and the distributed
    * anti-join path serves the read instead). */
  private[graft] def dvPositionsByFile(spark: SparkSession, root: String,
                                       files: Seq[FileEntry],
                                       tags: Map[String, String])
      : Map[String, Array[Long]] = {
    val dvd = files.filter(_.dv.nonEmpty)
    if (dvd.isEmpty) Map.empty
    else loadDvs(spark, root, dvd, tags).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (p, ps) => p -> ps.map(_._2).sorted }
  }

  /** Scan `files` grouped per generation (basePath = the gen dir, so
    * hive partition columns survive), unioned by name with additive
    * schema evolution. `withPositions` appends the table-root-relative
    * file path and parquet row index as [[DvRelCol]]/[[DvPosCol]] —
    * derived per scan (metadata columns do not survive a union). */
  private def scanFiles(spark: SparkSession, root: String,
                        files: Seq[FileEntry],
                        withPositions: Boolean,
                        tags: Map[String, String]): DataFrame = {
    val sources = cloneSources(tags)
    // partition columns read back as STRING (genFrame says why)
    files.groupBy(_.relPath.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      .map { case (gen, fs) =>
        // a shallow clone's inherited generations live under a
        // SOURCE root; everything written since lives locally —
        // resolve per generation (no-op for ordinary tables)
        val base = dirBase(spark, root, sources, gen)
        val df = genFrame(spark, base, gen,
          fs.map(f => new Path(base, f.relPath).toString))
        if (!withPositions) df
        else {
          // file_path is the reader's fully-qualified, URL-ENCODED URI
          // (a space reads %20, hive's %3A escape reads %253A); the
          // manifest speaks root-relative DECODED paths, as
          // listGeneration derives them from a Path. Decode first ('+'
          // is a literal in a URI path, not a space), then strip the
          // qualified BASE root prefix + '/' (substring is 1-based), so
          // a clone's inherited files keep their manifest paths
          val qualBase = fsOf(spark, base).makeQualified(new Path(base)).toString
          df.select(col("*"),
            expr("substring(url_decode(replace(_metadata.file_path, '+', '%2B')), " +
              s"${qualBase.length + 2})").as(DvRelCol),
            col("_metadata.row_index").as(DvPosCol))
        }
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  } match {
    // typed identity-partition columns read back in their DECLARED type
    // (the one read-side cast of the typed-partition contract — values
    // in the manifest and directory names stay strings). Applied here,
    // at the single scan choke point, so every surface — reads, CDC
    // frames, rewrite paths — sees one consistent schema.
    case df => applyPartitionTypes(df, tags)
  }

  private val inferenceLock = new Object

  /** A flat immutable dataset dir (dv-/cdf-/bloomidx-; no hive
    * subdirs, written once under a UUID name) read with its schema
    * memoized — same contract as [[genFrame]] minus basePath/partition
    * concerns. */
  private def dirFrame(spark: SparkSession, dir: String): DataFrame = {
    val cached = graft.core.SchemaMemo.get(spark, dir)
    if (cached != null) spark.read.schema(cached).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      graft.core.SchemaMemo.put(spark, dir, df.schema)
      df
    }
  }

  /** One generation's DataFrame: memoized schema when available (no
    * inference job), else an inference-off construction that seeds the
    * memo. `paths` may be any non-empty subset of the generation's files.
    *
    * The memo is keyed per (session, generation dir) and shared with
    * [[graft.core.Tables]] via [[graft.core.SchemaMemo]] (one bound, one
    * keying rule). A generation is IMMUTABLE once committed (written
    * `ErrorIfExists` under a fresh UUID dir, never appended to), and
    * every file in it shares the one schema of the write that produced
    * it — so its inferred read schema is a constant, while Spark
    * re-infers it with a footer-reading Spark JOB on EVERY DataFrame
    * construction (~0.12-0.2 s + one hadoop-conf broadcast per
    * generation per read at sf0.1; a lifecycle query constructs reads
    * dozens of times — measured r20, OPTIMIZATION_r20.md). The memo holds the FULL
    * constructed frame schema — data columns plus string-pinned
    * partition columns — so a hit passes it as the user-specified
    * schema: no inference job, and partition column types are pinned by
    * the schema itself (the inference-off conf toggle only governs
    * columns ABSENT from a user schema, so hits skip [[inferenceLock]]
    * too). Subset reads (file pruning) are safe: any non-empty subset of
    * a generation yields the same schema — one write, one schema, one
    * directory layout. */
  private def genFrame(spark: SparkSession, base: String, gen: String,
                       paths: Seq[String]): DataFrame = {
    val genDir = new Path(base, gen).toString
    val cached = graft.core.SchemaMemo.get(spark, genDir)
    if (cached != null)
      return spark.read.option("basePath", genDir).schema(cached)
        .parquet(paths: _*)
    // partition columns are pinned to STRING (no type inference): the
    // carry-forward filter and compaction both assume a partition value
    // re-spells identically when rewritten ("same writer produced both
    // sides"). Inference breaks that — a k=01 dir reads back as int 1 and
    // rewrites as k=1, silently duplicating the partition next to its
    // carried files. String pinning makes the round-trip exact. Schema
    // resolution is EAGER (the conf is read while the frame is
    // constructed here), and the set/restore is serialized by a
    // process-wide lock: two concurrent manifest reads (e.g. racing
    // upsert writers) would otherwise restore the conf out from under
    // each other mid-plan. Non-manifest reads on OTHER threads can still
    // observe the toggled conf for the lock's duration — driver-side
    // planning only, milliseconds.
    inferenceLock.synchronized {
      val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val prev = spark.conf.getOption(key)
      try {
        spark.conf.set(key, "false")
        val df = spark.read.option("basePath", genDir).parquet(paths: _*)
        graft.core.SchemaMemo.put(spark, genDir, df.schema)
        df
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /** Seed a table at v1 with a SCHEMA and no data — SQL
    * `CREATE TABLE` (no AS). The schema rides the manifest tags
    * ([[SchemaTag]]) because a zero-file table has no parquet footer to
    * derive it from; the declared partition layout rides [[LayoutTag]]
    * for the same reason ([[partitionLayout]] falls back to it until a
    * data file exists). Partition columns are pinned to STRING at birth
    * — the same normalization every generation write applies — so the
    * recorded schema is exactly what the table will read back. The
    * commit is the ordinary v1 CAS claim: racing a concurrent creator
    * (or an existing table) raises [[ConcurrentCommitException]]. */
  def createEmpty(spark: SparkSession, root: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partitionCols: Seq[String] = Nil,
                  tags: Map[String, String] = Map.empty): Long = {
    require(schema.nonEmpty, s"createEmpty: $root needs at least one column")
    validateTags(tags, Map.empty)
    // transform entries (days(ts), bucket(16, k)) declare GENERATED
    // partition columns: the derived column joins the declared schema
    // (string) and its definition rides GeneratedTag so every write
    // boundary derives it when a batch omits it
    val parsedParts = partitionCols.map(parsePartitionSpec)
    val physParts = parsedParts.map(_._1)
    val genSpecs = parsedParts.collect { case (n, Some(e)) => (n, e) }
    genSpecs.foreach { case (n, e) =>
      val srcRefs = schema.fieldNames.filter(f => e.contains(s"`$f`"))
      require(srcRefs.nonEmpty,
        s"createEmpty: generated column $n's source is not in the schema ($e)")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"createEmpty: generated column $n collides with a declared column")
    }
    val missing = physParts.filterNot(c =>
      schema.fieldNames.contains(c) || genSpecs.exists(_._1 == c))
    require(missing.isEmpty,
      s"createEmpty: partition column(s) ${missing.mkString(", ")} not in the schema")
    val widened = org.apache.spark.sql.types.StructType(
      schema.fields.toSeq ++ genSpecs.map { case (n, _) =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.StringType, nullable = true) })
    val pinned = org.apache.spark.sql.types.StructType(widened.map(f =>
      if (physParts.contains(f.name))
        f.copy(dataType = org.apache.spark.sql.types.StringType)
      else f))
    // identity layout columns DECLARED in a provably-canonical directory
    // type (int/bigint/smallint/tinyint/date) keep that declaration:
    // the read side casts them back ([[PartitionTypesTag]]), so typed
    // predicates push plain and the exact file prune can consume them.
    // Everything else (timestamp, float, decimal, boolean, string)
    // keeps the string-pinned read — the documented refusal; generated
    // columns are born string and never qualify.
    val typedParts = widened.filter(f =>
      physParts.contains(f.name) && !genSpecs.exists(_._1 == f.name) &&
        PartitionTypes.SafeTypes.contains(f.dataType))
    val fs = fsOf(spark, root)
    refuseReseed(fs, root)
    // ANY partitioned layout defaults to OPTIMIZED WRITES (caller may
    // still set 'write.optimized' = 'false'): a layout column spreads
    // EVERY batch across MANY dirs, so a T-task ingest lands T × P file
    // splinters per commit — the k33/k35 decade measurements traced
    // their superlinear ratios to exactly this for generated columns,
    // and identity layouts fail the same way from the other end (r19: a
    // 1-task INSERT into a 120-dir day×bucket layout serialized 120
    // tiny file writes in that one task, 6.9 s for 770 KB of rows;
    // rebalance-by-layout made it a parallel one-file-per-dir write).
    // The storage-partitioned join reads each bucket as ONE unsplit
    // partition, so splinter debt also directly serializes it.
    val bucketDefault =
      if (physParts.nonEmpty && !tags.contains(OptimizedWriteProp))
        Map(OptimizedWriteProp -> "true")
      else Map.empty[String, String]
    val allTags = tags ++ bucketDefault ++
      Map(SchemaTag -> pinned.json, OpTag -> "create") ++
      (if (physParts.nonEmpty) Map(LayoutTag -> physParts.mkString(","))
       else Map.empty) ++
      (if (typedParts.isEmpty) Map.empty
       else Map(PartitionTypesTag -> PartitionTypes.toTag(typedParts))) ++
      (if (genSpecs.isEmpty) Map.empty
       else Map(GeneratedTag -> encodeGenerated(genSpecs)))
    commit(fs, root, Staged(FullManifest(1L, Seq.empty, allTags, None), Nil))
  }

  /** Clone `srcRoot` (optionally a historical `version`) into the new
    * table `dstRoot`.
    *
    * Shallow (default, the Delta `SHALLOW CLONE` role): ONE metadata
    * commit of any size — the clone's v1 snapshot references the
    * source's live files (generation, deletion-vector, and bloom-index
    * dirs resolve against [[CloneSourcesTag]] when absent locally), so
    * cloning a 100 TB table costs a manifest write, not a copy. The
    * clone is immediately a fully independent table: mutations commit
    * locally (CoW rewrites and [[compact]] progressively LOCALIZE the
    * data), mutating either side never changes the other, and the
    * clone's VACUUM can only ever delete under its own root. The one
    * shared-fate caveat (same as Delta's): vacuuming the SOURCE below
    * the cloned snapshot breaks the clone's inherited files — compact
    * the clone to sever the dependency. Clone chains compose (cloning
    * a clone appends to the source chain). The clone starts its own
    * history at v1: the source's history, change feed, and stream-sink
    * replay watermarks do not carry over.
    *
    * Deep: a physical copy — reads the (time-traveled) state and
    * [[write]]s it to `dstRoot` with the source's partition layout.
    *
    * Returns the clone's committed version (always 1). */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
                 version: Option[Long] = None, deep: Boolean = false): Long = {
    val srcSt = version match {
      case Some(v) => stateAt(spark, srcRoot, v).getOrElse(
        sys.error(s"cloneTable: $srcRoot has no resolvable version $v"))
      case None => current(spark, srcRoot).getOrElse(
        sys.error(s"cloneTable: manifest table $srcRoot has no committed version"))
    }
    val qualSrc = fsOf(spark, srcRoot).makeQualified(new Path(srcRoot)).toString
    val qualDst = fsOf(spark, dstRoot).makeQualified(new Path(dstRoot)).toString
    require(qualSrc != qualDst, s"cloneTable: cannot clone $srcRoot onto itself")
    val fs = fsOf(spark, dstRoot)
    // BOTH modes refuse an existing destination — write() is a
    // full-overwrite API, so without this gate a mistyped DEEP
    // destination would silently replace a live table's content
    refuseReseed(fs, dstRoot)
    if (deep) {
      val df = version.map(readVersion(spark, srcRoot, _))
        .getOrElse(read(spark, srcRoot))
      // write() takes the frame's (logical) column names; the physical
      // layout maps through any renames, dropped columns fall away
      val ren = renameMap(srcSt.tags); val dr = dropSet(srcSt.tags)
      val logicalLayout = layoutOf(srcRoot, srcSt)
        .filterNot(dr.contains).map(p => ren.getOrElse(p, p))
      val v = write(df, dstRoot, logicalLayout)
      // deep clones carry the data-DESCRIBING metadata shallow clones
      // do (constraints, cdf switch, generated definitions, user
      // properties) — rename/drop mappings are rightly gone (write()
      // baked them into the physical names), so generated definitions
      // re-spell their source references in the baked names
      val carried = srcSt.tags.filterNot { case (k, _) =>
        k.startsWith(StreamBatchTag) || k == CloneSourcesTag || k == OpTag ||
          k == SchemaTag || k == LayoutTag || k == RenameTag || k == DropTag ||
          k.startsWith(BloomTagPrefix) // index dirs were not copied
      }.map {
        case (k, vSpec) if k == GeneratedTag =>
          val ren2 = renameMap(srcSt.tags)
          k -> encodeGenerated(generatedSpecs(srcSt.tags).map { case (n, e) =>
            n -> ren2.foldLeft(e) { case (acc, (ph, lo)) =>
              acc.replace(s"`$ph`", s"`$lo`") }
          })
        case kv => kv
      }
      if (carried.isEmpty) return v
      val dstSt = current(spark, dstRoot).getOrElse(
        sys.error(s"cloneTable: deep clone of $srcRoot committed v$v at " +
          s"$dstRoot but the state does not resolve"))
      return commitMeta(spark, dstRoot, dstSt, dstSt.tags ++ carried, op = "clone")
    }
    // the chain: this source first, then ITS sources (cloning a clone) —
    // inherited dirs may live anywhere along it
    val chain = (qualSrc +: cloneSources(srcSt.tags)).distinct
    // stream-sink replay watermarks stay behind (they gate the SOURCE's
    // ingest checkpoints, not the clone's); everything else — schema
    // record, name mapping, constraints, properties, cdf switch, bloom
    // registry — describes the data and carries over
    val tags = srcSt.tags.filterNot(_._1.startsWith(StreamBatchTag)) -
      CloneSourcesTag +
      (CloneSourcesTag -> chain.map(enc).mkString(";")) + (OpTag -> "clone")
    val (manifest, sidecar) = mkSnapshot(spark, dstRoot, 1L, srcSt.files, tags)
    commit(fs, dstRoot, staged(dstRoot, manifest, Nil, sidecar))
    log.info(s"cloneTable: $dstRoot v1 shallow-clones $srcRoot " +
      s"v${srcSt.version} (${srcSt.files.size} files by reference)")
    1L
  }

  /** Blind full-table (over)write — the manifest analogue of
    * `SaveMode.Overwrite`. No read dependency, so a lost claim just
    * re-claims the next version (bounded retries) without rewriting.
    * Always commits a FULL snapshot (the file list IS the batch) and
    * advances the `_last_checkpoint` pointer.
    *
    * Fail-safe tradeoff: the v1 re-seed guard means a PERMANENTLY
    * unresolvable table (lost sidecar, broken delta chain with every
    * snapshot garbled) makes even this no-read-dependency overwrite burn
    * `maxAttempts` and fail — the guard cannot distinguish that state
    * from a transient sidecar outage, and silently seeding v1 below the
    * vacuum floor would shadow every newer commit via the pointer fast
    * path. That is deliberate: losing an overwrite attempt is recoverable,
    * losing a committed table to a mis-diagnosed transient is not. An
    * operator who has POSITIVELY determined the log is beyond repair can
    * pass `reseedUnresolvable = true` to accept the head-shadowing risk
    * and re-seed above the newest claimed slot. */
  def write(df: DataFrame, root: String, partitionCols: Seq[String] = Nil,
            maxAttempts: Int = 50,
            reseedUnresolvable: Boolean = false): Long = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    // PARTITIONED BY entries may be transforms (days(ts), bucket(16, k)):
    // the derived generated column materializes here and its definition
    // rides GeneratedTag so every later write boundary re-derives it
    val parsedParts = partitionCols.map(parsePartitionSpec)
    val physParts = parsedParts.map(_._1)
    val genSpecs = parsedParts.collect { case (n, Some(e)) => (n, e) }
    // the same derive/verify/coalesce contract as every other write
    // boundary: a CTAS frame that SUPPLIES disagreeing values for a
    // generated column must refuse, not seed a corrupt layout
    val dfG =
      if (genSpecs.isEmpty) df
      else applyGenerated(df,
        Map(GeneratedTag -> encodeGenerated(genSpecs)), root, "overwrite batch")
    val spark = df.sparkSession
    val fs = fsOf(spark, root)
    // constraint gate against the table's CURRENT declarations; each
    // re-stage below re-enforces whenever a retry observes a DIFFERENT
    // constraint set (a racing addConstraint commits a version, making
    // this writer's first claim lose — the retry must not slip past the
    // new constraint). The CAS mutators get this for free (their retry
    // re-runs the whole read-merge-write); the blind-claim overwrite
    // needs it explicitly.
    var enforcedAgainst: Option[Map[String, String]] = None
    def gate(tags: Map[String, String]): Unit = {
      val cs = tags.filter(_._1.startsWith(ConstraintTagPrefix))
      if (!enforcedAgainst.contains(cs)) {
        enforceConstraints(dfG, cs, root, "overwrite batch")
        enforcedAgainst = Some(cs)
      }
    }
    // claim attempts — lost claims and re-seed-guard retries alike — each
    // followed by a short backoff; exhausting them fails the overwrite
    var attempts = 0
    def backoff(): Unit = {
      attempts += 1
      Thread.sleep(100L * math.min(attempts, 5))
      if (attempts >= maxAttempts)
        sys.error(s"manifest table $root: could not claim a version after $maxAttempts attempts")
    }
    // v1 re-seed guard: current()=None while COMMITTED versions exist
    // means resolution transiently failed (e.g. a sidecar read during
    // object-store throttling degrades soft) — claiming v1 then would
    // succeed below the vacuum floor and the pointer fast path would
    // serve the fresh v1, shadowing every newer commit. Treat it as a
    // transient and retry the read instead of seeding.
    def resolve(): Option[State] = {
      var prev = current(spark, root)
      while (prev.isEmpty && !reseedUnresolvable && hasCommittedVersion(fs, root)) {
        log.warn(s"manifest table $root: current() resolved to None but committed " +
          "versions exist — refusing to re-seed v1; retrying resolution " +
          "(pass reseedUnresolvable=true to override a PERMANENTLY broken log)")
        backoff()
        prev = current(spark, root)
      }
      prev
    }
    val priorTags = current(spark, root).map(_.tags)
    priorTags.foreach(gate)
    // optimized-write posture of the overwrite: an EXPLICIT prior choice
    // carries; otherwise a partitioned layout defaults true — the same
    // rule as createEmpty, so a write()-created (CTAS-shaped) table gets
    // the splinter protection the createEmpty path gets (r19 review
    // finding: the default was seeded only by createEmpty, leaving the
    // measured 1-task × P-dirs pathology live on this creation path).
    // ONE derivation serves both the write shaping here and the commit
    // stamping inside the retry loop — the two must never drift.
    def derivedOptimizedTag(prior: Option[Map[String, String]])
        : Map[String, String] =
      prior.flatMap(_.get(OptimizedWriteProp)) match {
        case Some(v)                      => Map(OptimizedWriteProp -> v)
        case None if physParts.nonEmpty   => Map(OptimizedWriteProp -> "true")
        case None                         => Map.empty[String, String]
      }
    val optimizedTag = derivedOptimizedTag(priorTags)
    val (gen, entries) =
      writeGeneration(normalizePartitionCols(dfG, physParts, Map.empty), root, physParts,
        // ONLY the optimized-write switch carries into an overwrite's
        // generation write: the full prior tag map would physicalize
        // the NEW frame under the OLD (dying) rename mappings
        optimizedTag)
    val (proto, sidecar) = mkSnapshot(spark, root, 1L, entries, Map.empty)
    // the written snapshot, stamped at `prev`'s next version with its tags
    def stage(prev: Option[State]): Staged = {
      // explicit reseed of an unresolvable log: claim ABOVE the newest
      // claimed slot (committed or not), never v1 — an old retained
      // manifest must not shadow the fresh head
      val v = prev.map(_.version).getOrElse(
        if (reseedUnresolvable) newestClaimedVersion(fs, root) else 0L) + 1
      // previous tags carry forward (e.g. the stream sink's last-applied
      // batch id — losing it would re-open the replay double-apply)
      prev.foreach(p => gate(p.tags)) // re-gate on a changed constraint set
      // a full overwrite replaces every data file: the incoming frame's
      // names ARE the new physical schema, so rename/drop mappings die here
      // … and the schema record refreshes to the NEW frame (a stale
      // create-time schema would mis-describe a later zero-file state)
      val base = prev.map(_.tags).getOrElse(Map.empty) -
        RenameTag - DropTag - LayoutTag - GeneratedTag - PartitionTypesTag +
        (OpTag -> "overwrite") +
        (SchemaTag -> normalizePartitionCols(dfG, physParts, Map.empty).schema.json)
      // the typed-partition declaration RE-DERIVES from the incoming
      // frame, same rule as createEmpty (a type change is a rewrite —
      // this is the rewrite): a typed table overwritten with a typed
      // frame stays typed (dropping the tag here would silently flip
      // DATE/INT read-back to STRING mid-lifetime); a string-valued
      // frame derives nothing and lands string-pinned as before
      val typedOverwrite = dfG.schema.fields.filter(f =>
        physParts.contains(f.name) && !genSpecs.exists(_._1 == f.name) &&
          PartitionTypes.SafeTypes.contains(f.dataType))
      // the optimized-write posture RE-DERIVES from the retry's fresh
      // tags: a concurrent commit flipping write.optimized between the
      // initial read (which legitimately shaped THIS generation's
      // write) and a retried claim must not be reverted by stamping
      // the stale pre-race value — the committed tag governs FUTURE
      // writes and follows the race, like the constraint re-gate
      // above (r19 ADVICE)
      val optimizedTagNow = derivedOptimizedTag(prev.map(_.tags))
      val tags = (if (physParts.isEmpty) base
                  else base + (LayoutTag -> physParts.mkString(","))) ++
        optimizedTagNow ++
        (if (typedOverwrite.isEmpty) Map.empty
         else Map(PartitionTypesTag ->
           PartitionTypes.toTag(typedOverwrite.toIndexedSeq))) ++
        (if (genSpecs.isEmpty) Map.empty
         else Map(GeneratedTag -> encodeGenerated(genSpecs)))
      val manifest = restamp(proto, v) match {
        case f: FullManifest => f.copy(tags = tags)
        case r: SnapshotRef  => r.copy(tags = tags)
        case d               => d
      }
      staged(root, manifest, Seq(gen), sidecar)
    }
    // the first claim stamps a head read AFTER the generation write, so a
    // rival commit landing during the write costs no lost claim; staging
    // it can still fail (the re-seed guard exhausting, a constraint the
    // fresh head added), and that exit drops the generation as well
    val first =
      try stage(resolve())
      catch { case e: Throwable =>
        discard(fs, staged(root, proto, Seq(gen), sidecar).written); throw e }
    // no read dependency: a lost claim re-stamps the same generation at
    // the new head's next version
    commit(fs, root, first, _ => { backoff(); Some(stage(resolve())) })
  }

  /** Highest version with ANY claim file in the log (committed or not) —
    * the floor for an explicit reseed, so a re-seeded head can never be
    * shadowed by a retained older manifest. */
  private def newestClaimedVersion(fs: FileSystem, root: String): Long = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".txt"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".txt").toLong).toOption)
      .maxOption.getOrElse(0L)
  }

  /** The table's live hive partition layout (physical column names) from
    * manifest metadata only — empty for unpartitioned tables. What a
    * blind writer (INSERT OVERWRITE, [[append]]) must preserve so its
    * generation partitions like every other. */
  def partitionLayout(spark: SparkSession, root: String): Seq[String] =
    layoutOf(root, head(spark, root))

  /** [[partitionLayout]] for an explicit state — what a PINNED
    * (time-travel) scan must use: the current layout may have evolved
    * since, and classifying columns by the wrong era's layout would
    * silently read NULLs. */
  private[graft] def layoutAt(root: String, st: State): Seq[String] =
    layoutOf(root, st)

  /** The table's partition layout at `st`: derived from the live files
    * (the record once data exists), falling back to the [[LayoutTag]]
    * declared by [[createEmpty]] while the table has none. */
  private def layoutOf(root: String, st: State): Seq[String] = {
    // after spec evolution the TAG is the layout of record and files
    // legitimately carry older eras' layouts; otherwise the single-
    // layout invariant is enforced as a corruption tripwire
    if (st.tags.contains(EvolvedTag))
      return st.tags.get(LayoutTag).map(_.split(',').toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty)
    val layouts = st.files.map(_.partitionKeys).distinct
    require(layouts.size <= 1,
      s"partitionLayout: inconsistent partition layouts in $root: $layouts")
    layouts.headOption.getOrElse(
      st.tags.get(LayoutTag).map(_.split(',').toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty))
  }

  /** A batch aligned to the table's LOGICAL schema exactly as
    * [[append]] accepts one: generated layout columns derive when the
    * batch omits them, names align case-insensitively into declared
    * order, type drift refuses, and CHECK constraints gate the rows.
    * Shared by the append and [[replaceWhere]] write shapes. */
  private def alignToTable(batch: DataFrame, root: String, st: State,
                           what: String): DataFrame = {
    val spark = batch.sparkSession
    val logical = readState(spark, root, st).schema
    val expected = logical.fieldNames.toSeq
    // generated partition columns derive here when the batch omits them
    // (the point of declaring them: writers never spell the layout)
    val batchG = applyGenerated(batch, st.tags, root, what)
    val got = batchG.columns.toSeq
    require(got.map(_.toLowerCase).sorted == expected.map(_.toLowerCase).sorted,
      s"manifest table $root: $what columns [${got.sorted.mkString(", ")}] " +
        s"must match the table's [${expected.sorted.mkString(", ")}] — additive " +
        "evolution is upsertDedup(mergeSchema = true), not a blind append")
    val byLower = got.map(c => c.toLowerCase -> c).toMap
    val aligned = batchG.select(
      expected.map(c => col(byLower(c.toLowerCase)).as(c)).toIndexedSeq: _*)
    val eT = logical.map(f => f.name -> f.dataType).toMap
    val drift = aligned.schema
      .filter(f => eT.get(f.name).exists(_ != f.dataType))
      .map(f => s"${f.name}: table=${eT(f.name).sql} batch=${f.dataType.sql}")
    require(drift.isEmpty,
      s"manifest table $root: batch column types differ from the table " +
        s"(${drift.mkString("; ")}) — a type change is a rewrite (write()), " +
        "not evolution")
    enforceConstraints(aligned, st.tags, root, what)
    aligned
  }

  /** Add-only commit — SQL `INSERT INTO` semantics: the batch lands as a
    * fresh generation, every live file carries forward BY REFERENCE and
    * nothing is read back, so the work is O(batch) at any table size
    * (the 100 TB ingest shape: appending 2 GB writes 2 GB of parquet
    * plus a delta manifest, never touching the other files). The batch
    * must spell the table's exact LOGICAL columns — a blind append must
    * not fork the schema; additive evolution is [[upsertDedup]]'s
    * `mergeSchema`, a type change is a rewrite. CHECK constraints gate
    * the batch; the change feed (when enabled) records every appended
    * row as an "insert", derived from the WRITTEN generation so a
    * non-deterministic source cannot desync feed from bytes. Commits a
    * DELTA manifest (op "append", adds only) with the same CAS
    * discipline as every mutator; every `checkpointInterval`-th version
    * snapshots so resolution chains stay short. */
  def append(spark: SparkSession, batch: DataFrame, root: String,
             checkpointInterval: Int = DefaultCheckpointInterval,
             tags: Map[String, String] = Map.empty,
             partitionCols: Seq[String] = Nil): Long =
    appendFrom(spark, batch, root, checkpointInterval, tags,
      partitionCols, current(spark, root))

  /** [[append]] body against an already-read `prior` state — the
    * streaming sink reuses its watermark read (one manifest-log listing
    * per micro-batch). A `None` prior SEEDS the table at v1 with the
    * batch's schema (the streaming-sink bootstrap; the direct
    * INSERT-INTO path never reaches here with None — resolution fails
    * first on a table that does not exist). */
  private def appendFrom(spark: SparkSession, batch: DataFrame, root: String,
                         checkpointInterval: Int,
                         tags: Map[String, String],
                         partitionCols: Seq[String],
                         prior: Option[State]): Long = {
    validateTags(tags, prior.map(_.tags).getOrElse(Map.empty))
    val fs = fsOf(spark, root)
    val st = prior.getOrElse {
      refuseReseed(fs, root)
      val seeded = normalizePartitionCols(batch, partitionCols, tags)
      // a partitioned v1 bootstrap (streaming-sink seed) defaults to
      // optimized writes, same rule as createEmpty/write() — without it
      // this creation path alone kept the T×P splinter pathology
      val seedTags =
        if (partitionCols.nonEmpty && !tags.contains(OptimizedWriteProp))
          tags + (OptimizedWriteProp -> "true")
        else tags
      // ONLY the optimized-write switch reaches the generation write
      // (same rule as write(): caller tags must not physicalize the
      // seed frame); the full seedTags land in the committed manifest
      val (gen, entries) = writeGeneration(seeded, root, partitionCols,
        seedTags.filter(_._1 == OptimizedWriteProp))
      val (m1, sidecar1) = mkSnapshot(spark, root, 1L, entries,
        seedTags + (OpTag -> "append"))
      return commit(fs, root, staged(root, m1, Seq(gen), sidecar1))
    }
    val aligned = alignToTable(batch, root, st, "append batch")
    val partKeys = layoutOf(root, st)
    require(partitionCols.isEmpty || partitionCols == partKeys,
      s"append: the table's layout is [${partKeys.mkString(", ")}]; a batch " +
        s"cannot repartition it to [${partitionCols.mkString(", ")}]")
    val (gen, entries) = writeGeneration(
      normalizePartitionCols(aligned, partKeys, st.tags), root, partKeys, st.tags)
    // feed rows come from the committed bytes, not a plan re-evaluation
    val cdf = if (!cdfEnabled(st.tags)) None else {
      val written =
        if (entries.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            aligned.schema)
        else logicalize(scanFiles(spark, root, entries, withPositions = false, st.tags), st.tags)
      writeCdf(spark, root, st.tags, written.withColumn(ChangeTypeCol, lit("insert")))
    }
    val v = st.version + 1
    val newTags = st.tags ++ tags + (OpTag -> "append")
    val (manifest, sidecar) =
      if (snapshotDue(v, checkpointInterval))
        mkSnapshot(spark, root, v, st.files ++ entries, newTags, cdf)
      else (DeltaManifest(v, entries, Seq.empty, newTags, cdf), None)
    commit(fs, root, staged(root, manifest, Seq(gen), sidecar))
    maybeAutoCompact(spark, root, st.tags, entries)
    v
  }

  /** Table property enabling AUTO-COMPACT (the Delta
    * `autoOptimize.autoCompact` role): after an append commits, the
    * partitions it touched are checked for small-file buildup, and
    * [[optimize]]'s bin-packing runs on exactly the partitions holding
    * [[AutoCompactMinFiles]] or more packable files — the backstop
    * behind optimized writes for streaming sinks and drip appends, so a
    * table never needs a human to notice it splintering. Best-effort by
    * contract: the append has already committed, so a lost compaction
    * race (or any failure) only logs — data is never at risk, the next
    * append retries the check. */
  private[graft] val AutoCompactProp = "write.autoCompact"
  private[graft] val AutoCompactMinFiles = 8

  private def maybeAutoCompact(spark: SparkSession, root: String,
                               tags: Map[String, String],
                               entries: Seq[FileEntry]): Unit = {
    if (!tags.get(AutoCompactProp).exists(_.equalsIgnoreCase("true"))) return
    try {
      val st = current(spark, root).getOrElse(return)
      val touched = entries.map(_.partitionPath).toSet
      val targetMB = 128
      val targetBytes = targetMB * 1024L * 1024L
      val crowded = packable(st.files.filter(f => touched(f.partitionPath)), targetBytes)
        .groupBy(_.partitionPath).filter(_._2.size >= AutoCompactMinFiles)
      if (crowded.isEmpty) return
      log.info(s"autoCompact($root): packing ${crowded.size} crowded partition(s)")
      // exactly the crowded partitions' packable files, optimize's way
      val scope = crowded.values.flatten.toSeq
      rewrite(spark, root, st, "autoCompact", scope, rewriteLayout(root, st, scope),
        Sized(targetMB), snapshot = false)
      ()
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"autoCompact($root): skipped (${e.getMessage}) — " +
          "the append itself is committed; the next append re-checks")
    }
  }

  /** Dynamic-partition overwrite — SQL `INSERT OVERWRITE` under Spark's
    * dynamic mode, and Delta's partition-scoped `replaceWhere` shape:
    * every hive partition PRESENT in the batch is replaced wholesale,
    * every other partition carries forward BY REFERENCE. Work is
    * O(batch + retired manifest entries) at any table size — the right
    * overwrite economics for a 100 TB table where a day's re-run should
    * rewrite a day, not the table. On an unpartitioned table this
    * degrades to a full [[write]] (exactly Spark's dynamic-mode
    * semantics). Same schema/constraint discipline as [[append]]; CAS
    * delta commit (op "overwrite"); with the change feed enabled the
    * retired partitions' rows record as deletes and the batch as
    * inserts, so CDC consumers never hit the partition-replace gap
    * [[readChangeFeed]] refuses. */
  def replacePartitions(spark: SparkSession, batch: DataFrame, root: String,
                        checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val st = head(spark, root)
    val partKeys = layoutOf(root, st)
    if (partKeys.isEmpty)
      return write(batch, root, Nil)
    // mixed partition-spec eras: a partition replaced under the CURRENT
    // spec cannot see old-era rows that logically belong to it — the
    // overwrite would silently keep them next to the replacement.
    // Refuse until a compact()/OPTIMIZE physicalizes the current spec.
    if (st.tags.contains(EvolvedTag)) {
      val mixed = st.files.exists(_.partitionKeys != partKeys)
      require(!mixed,
        s"manifest table $root: dynamic partition overwrite with MIXED " +
          "partition-spec eras would silently retain old-era rows of " +
          "replaced partitions — run compact() (or OPTIMIZE) to " +
          "physicalize the current spec first")
    }
    val fs = fsOf(spark, root)
    val logical = readState(spark, root, st).schema
    val expected = logical.fieldNames.toSeq
    // dynamic overwrite on a generated layout: a batch of raw rows
    // derives its day/bucket column here and replaces those partitions
    val batchG = applyGenerated(batch, st.tags, root, "overwrite batch")
    val got = batchG.columns.toSeq
    require(got.map(_.toLowerCase).sorted == expected.map(_.toLowerCase).sorted,
      s"manifest table $root: overwrite batch columns [${got.sorted.mkString(", ")}] " +
        s"must match the table's [${expected.sorted.mkString(", ")}]")
    val byLower = got.map(c => c.toLowerCase -> c).toMap
    val aligned = batchG.select(
      expected.map(c => col(byLower(c.toLowerCase)).as(c)).toIndexedSeq: _*)
    // drift is checked POST-normalization so a string-pinned table keeps
    // accepting the typed batches normalization strings; untyped layout
    // columns are therefore expected STRING here — typed-declared ones
    // keep their declared type and get their own check first, with its
    // own message (the batch must arrive in the declared
    // type, or a stray batch could write a non-canonical directory the
    // typed read-back would null out)
    val typedParts = partitionTypes(st.tags)
    val typedDrift = aligned.schema
      .filter(f => typedParts.get(f.name).exists(_ != f.dataType))
      .map(f => s"${f.name}: table=${typedParts(f.name).sql} batch=${f.dataType.sql}")
    require(typedDrift.isEmpty,
      s"manifest table $root: typed partition column types differ from the " +
        s"table (${typedDrift.mkString("; ")}) — a type change is a rewrite " +
        "(write())")
    val eT = logical.map(f => f.name ->
      (if (partKeys.contains(f.name) && !typedParts.contains(f.name))
         org.apache.spark.sql.types.StringType
       else f.dataType)).toMap
    val normalized = normalizePartitionCols(aligned, partKeys, st.tags)
    val drift = normalized.schema
      .filter(f => eT.get(f.name).exists(_ != f.dataType))
      .map(f => s"${f.name}: table=${eT(f.name).sql} batch=${f.dataType.sql}")
    require(drift.isEmpty,
      s"manifest table $root: batch column types differ from the table " +
        s"(${drift.mkString("; ")}) — a type change is a rewrite (write())")
    enforceConstraints(normalized, st.tags, root, "partition-overwrite batch")
    val (gen, entries) = writeGeneration(normalized, root, partKeys, st.tags)
    val newParts = entries.map(_.partitionPath).toSet
    val retired = st.files.filter(f => newParts.contains(f.partitionPath))
    val cdf = if (!cdfEnabled(st.tags)) None else {
      def emptyFrame = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), logical)
      val removed =
        if (retired.isEmpty) emptyFrame
        else readState(spark, root, st.copy(files = retired)) // DV-exact
      val written =
        if (entries.isEmpty) emptyFrame
        else logicalize(scanFiles(spark, root, entries, withPositions = false, st.tags), st.tags)
      writeCdf(spark, root, st.tags,
        removed.withColumn(ChangeTypeCol, lit("delete"))
          .unionByName(written.withColumn(ChangeTypeCol, lit("insert"))))
    }
    val keep = st.files.filterNot(f => newParts.contains(f.partitionPath))
    val v = st.version + 1
    val newTags = st.tags + (OpTag -> "overwrite")
    val (manifest, sidecar) =
      if (snapshotDue(v, checkpointInterval))
        mkSnapshot(spark, root, v, keep ++ entries, newTags, cdf)
      else (DeltaManifest(v, entries, retired.map(_.relPath), newTags, cdf), None)
    commit(fs, root, staged(root, manifest, Seq(gen), sidecar))
  }

  /** Append-with-dedup upsert (K4 semantics) with carry-forward: only the
    * partitions touched by `fresh` are read, merged keep-last
    * ([[Upsert.appendDedup]]) and rewritten into a new generation; every
    * live file of an UNtouched partition is carried into the new manifest
    * by reference. Compare-and-swap on the version that was read.
    *
    * Partitioned upserts commit a DELTA manifest (adds + removes only —
    * O(batch) bytes at any table size); every `checkpointInterval`-th
    * version commits a FULL snapshot instead and advances the
    * `_last_checkpoint` pointer. `checkpointInterval <= 1` forces a
    * snapshot every commit (the pre-checkpoint behavior). */
  def upsertDedup(spark: SparkSession, fresh: DataFrame, root: String,
                  keys: Seq[String], order: String,
                  partitionCols: Seq[String] = Nil,
                  tags: Map[String, String] = Map.empty,
                  mergeSchema: Boolean = false,
                  checkpointInterval: Int = DefaultCheckpointInterval): Long =
    upsertFrom(spark, fresh, root, keys, order, partitionCols, tags,
      mergeSchema, current(spark, root), checkpointInterval)

  /** [[upsertDedup]] with the documented CAS retry loop BUILT IN: on
    * [[ConcurrentCommitException]] the whole read-merge-write re-runs
    * against the table's new head (the merge MUST be recomputed — the
    * rival's commit may have changed the very partitions this batch
    * touches), with bounded exponential backoff + jitter between
    * attempts so N racing writers don't re-collide in lockstep. Each
    * losing attempt has already deleted its orphan generation (the
    * commit path cleans up before throwing), so retries leak
    * nothing. Throws the last [[ConcurrentCommitException]] after
    * `maxRetries` lost races — under that much sustained contention the
    * caller should serialize its writers instead. */
  def upsertWithRetry(spark: SparkSession, fresh: DataFrame, root: String,
                      keys: Seq[String], order: String,
                      partitionCols: Seq[String] = Nil,
                      tags: Map[String, String] = Map.empty,
                      mergeSchema: Boolean = false,
                      maxRetries: Int = 8,
                      baseBackoffMs: Long = 50L,
                      checkpointInterval: Int = DefaultCheckpointInterval): Long =
    retryOnConflict(maxRetries, baseBackoffMs)(
      upsertDedup(spark, fresh, root, keys, order, partitionCols, tags,
        mergeSchema, checkpointInterval))

  /** [[upsertDedup]] body against an already-read `prior` state — the
    * streaming sink reuses its watermark read instead of listing the
    * manifest log twice per micro-batch. */
  private def upsertFrom(spark: SparkSession, fresh: DataFrame, root: String,
                         keys: Seq[String], order: String,
                         partitionCols: Seq[String],
                         tags: Map[String, String], mergeSchema: Boolean,
                         prior: Option[State],
                         checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    validateTags(tags, prior.map(_.tags).getOrElse(Map.empty))
    val fs = fsOf(spark, root)
    // string partition columns from the first commit on (see
    // normalizePartitionCols): the dtype check below then compares the
    // batch against the table's own read-back consistently.
    val freshG = prior.map(p => applyGenerated(fresh, p.tags, root, "upsert batch"))
      .getOrElse(fresh)
    val freshN = normalizePartitionCols(freshG, partitionCols,
      prior.map(_.tags).getOrElse(Map.empty))
    prior match {
      case None =>
        refuseReseed(fs, root)
        val (gen, entries) = writeGeneration(freshN, root, partitionCols)
        val (m1, sidecar1) = mkSnapshot(spark, root, 1L, entries, tags + (OpTag -> "upsert"))
        commit(fs, root, staged(root, m1, Seq(gen), sidecar1))
      case Some(st) =>
        // a partition layout CHANGE between commits would make the
        // carry-forward filter miss (old files kept alongside a full
        // rewrite → silent duplicates): demand the same layout as the
        // live files before doing anything
        val liveLayout = layoutOf(root, st)
        require(liveLayout == partitionCols.toSeq,
          s"manifest table $root: upsert partitionCols $partitionCols does not match " +
            s"the live partition layout $liveLayout — rewrite via write() to change layout")
        // mixed partition-spec eras: the carry-forward retires files by
        // PARTITION PATH, but an old-era file never spells the current
        // layout in its dirs — its rows would be pulled into the merged
        // generation (the read repairs generated columns) while the file
        // itself survives, silently duplicating every touched old-era
        // row. Refuse until a compact()/OPTIMIZE physicalizes the spec.
        if (partitionCols.nonEmpty && st.tags.contains(EvolvedTag)) {
          val mixed = st.files.exists(_.partitionKeys != partitionCols.toSeq)
          require(!mixed,
            s"manifest table $root: partitioned upsert across MIXED " +
              "partition-spec eras would duplicate old-era rows of touched " +
              "partitions — run compact() (or OPTIMIZE) to physicalize the " +
              "current spec first")
        }
        val existing = readState(spark, root, st)
        // schema drift is an ERROR unless evolution is asked for: with
        // the reader unioning allowMissingColumns, a typo'd column name
        // would otherwise commit fine and read back as silent nulls
        if (!mergeSchema) {
          val (ec, fc) = (existing.columns.toSet, freshN.columns.toSet)
          require(ec == fc,
            s"manifest table $root: batch schema differs from the table " +
              s"(table-only=${(ec -- fc).toSeq.sorted}, batch-only=${(fc -- ec).toSeq.sorted}) " +
              "— pass mergeSchema=true for additive evolution")
        }
        // dtype drift on COMMON columns is an error even under
        // mergeSchema (evolution is additive — new columns only): a
        // type-changed batch would silently coerce through unionByName,
        // and a re-typed partition column would re-spell its dirs out
        // from under the carry-forward string match. Partition columns
        // read back as string (pinned above) — or as their DECLARED type
        // when typed-tagged — so the batch must carry exactly the
        // read-back type either way.
        locally {
          val eT = existing.schema.map(f => f.name -> f.dataType).toMap
          val drift = freshN.schema
            .filter(f => eT.get(f.name).exists(_ != f.dataType))
            .map(f => s"${f.name}: table=${eT(f.name).sql} batch=${f.dataType.sql}")
          require(drift.isEmpty,
            s"manifest table $root: batch column types differ from the table " +
              s"(${drift.mkString("; ")}) — a type change is a rewrite (write()), not evolution")
        }
        // CHECK constraints gate the BATCH before any generation write —
        // carried rows already passed at their own commit time
        enforceConstraints(freshN, st.tags, root, "upsert batch")
        val (merged, carried, existingSlice) =
          if (partitionCols.isEmpty)
            (Upsert.appendDedup(existing, freshN, keys, col(order)),
              Seq.empty[FileEntry], existing)
          else {
            // touched partition VALUES collect to the driver (tiny — the
            // incoming batch's partitions) and prune as LITERAL
            // predicates: static partition pruning reaches every per-gen
            // scan, so a 1-partition upsert reads 1 partition's files,
            // not the table (a broadcast-join filter cannot prune at
            // planning time). Null-safe per element: a NULL partition
            // value is a real partition — an equi-join here would
            // silently DROP all its existing rows while still retiring
            // their files from the manifest.
            val touched = freshN.select(partitionCols.map(col).toIndexedSeq: _*)
              .distinct().collect()
            require(touched.length <= 100000,
              s"manifest table $root: batch touches ${touched.length} partitions — " +
                "not an incremental upsert; use write() for full rewrites")
            val pred = touched.map { r =>
              partitionCols.zipWithIndex.map { case (c, i) =>
                if (r.isNullAt(i)) col(c).isNull else col(c) <=> lit(r.get(i))
              }.reduce(_ && _)
            }.reduce(_ || _)
            val existingTouched = existing.filter(pred)
            (Upsert.appendDedup(existingTouched, freshN, keys, col(order)),
              st.files, existingTouched)
          }
        val (gen, entries) = writeGeneration(merged, root, partitionCols, st.tags)
        // change feed for the keyed upsert: an EXACT row-level diff of
        // the touched slice via EXCEPT ALL — rows that disappeared are
        // pre-images (or dedup deletes when their key gained no
        // successor), rows that appeared are post-images or inserts by
        // key presence; a fresh row identical to the existing one
        // cancels out and emits nothing. The new side of the diff is
        // the WRITTEN generation read back, never the merge plan
        // re-evaluated — a nondeterministic keep-last tie could
        // otherwise pick a different winner on the second evaluation
        // and desync the feed from the committed bytes. Exact under the
        // optimistic rebase too: a rebase only proceeds when the
        // touched partitions' file sets are untouched by the rival, so
        // the diff this cdf recorded is still the diff that commits.
        val cdf = if (!cdfEnabled(st.tags)) None else {
          require(!merged.schema.exists(_.dataType
              .isInstanceOf[org.apache.spark.sql.types.MapType]),
            s"manifest table $root: the change feed cannot diff a keyed upsert " +
              "over map-typed columns (EXCEPT ALL cannot compare maps) — disable " +
              "the feed or mutate through merge()")
          val written =
            if (entries.isEmpty)
              spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
                merged.schema)
            else logicalize(scanFiles(spark, root, entries, withPositions = false, st.tags), st.tags)
          val removed = existingSlice.exceptAll(written)
          val added = written.exceptAll(existingSlice)
          val keyCols = keys.map(col).toIndexedSeq
          val addKeys = added.select(keyCols: _*).distinct()
          val remKeys = removed.select(keyCols: _*).distinct()
          writeCdf(spark, root, st.tags,
            removed.join(addKeys, keys, "left_semi")
              .withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(removed.join(addKeys, keys, "left_anti")
              .withColumn(ChangeTypeCol, lit("delete")))
            .unionByName(added.join(remKeys, keys, "left_semi")
              .withColumn(ChangeTypeCol, lit("update_postimage")))
            .unionByName(added.join(remKeys, keys, "left_anti")
              .withColumn(ChangeTypeCol, lit("insert"))))
        }
        // the new generation's partition dirs ARE the touched set, spelled
        // exactly as the writer escapes them — carry forward only files
        // outside those partitions (string-match-safe: same writer
        // produced both sides)
        val newParts = entries.map(_.partitionPath).toSet
        val keep = carried.filterNot(f => newParts.contains(f.partitionPath))
        val v = st.version + 1
        // previous tags persist unless this commit overrides them — a
        // manual upsert between stream batches must not erase the sink's
        // replay watermark
        val newTags = st.tags ++ tags + (OpTag -> "upsert")
        // delta vs snapshot: a partitioned upsert's delta lists only the
        // batch's adds + the touched partitions' retired files — O(batch)
        // manifest bytes however many million files are live. Every
        // checkpointInterval-th version snapshots so resolution chains
        // stay short. Unpartitioned upserts rewrite the whole table
        // anyway (carried is empty) — a snapshot IS the smaller record.
        val removesAll = {
          val keptPaths = keep.map(_.relPath).toSet
          st.files.collect {
            case f if !keptPaths.contains(f.relPath) => f.relPath
          }
        }
        val (manifest, sidecar) =
          if (carried.isEmpty || snapshotDue(v, checkpointInterval))
            mkSnapshot(spark, root, v, keep ++ entries, newTags, cdf)
          else (DeltaManifest(v, entries, removesAll, newTags, cdf), None)
        // lost the CAS race: before recomputing the whole merge (the
        // retry loop's job), try the optimistic-concurrency rebase — if
        // the rival's commits are LOGICALLY disjoint from this one, the
        // already-written generation re-claims at the new head (as a
        // delta, so the sidecar goes). Unpartitioned upserts merge the
        // FULL table: any rival invalidates them.
        var rebases = 0
        val committed = commit(fs, root, staged(root, manifest, Seq(gen), sidecar), _ =>
          if (carried.isEmpty || rebases >= 5) None
          else {
            rebases += 1
            rebaseDeltaUpsert(spark, root, st, newParts, entries, removesAll, tags, cdf)
              .map(staged(root, _, Seq(gen)))
          })
        if (committed != v) {
          log.info(s"manifest table $root: lost claim at v$v rebased onto " +
            s"v${committed - 1} (rival commits disjoint from ${newParts.size} " +
            "touched partitions)")
          rebaseCount.incrementAndGet()
        }
        committed
    }
  }

  /** Test-visible count of successful optimistic rebases in this JVM. */
  private[graft] val rebaseCount = new java.util.concurrent.atomic.AtomicLong

  /** Optimistic-concurrency rebase (the Delta conflict-checker move): a
    * partitioned upsert that lost its CAS claim re-commits its
    * ALREADY-WRITTEN generation against the new head — without
    * re-reading, re-merging, or re-writing anything — when the rival
    * commits are provably disjoint from it:
    *
    *  - the touched partitions' live file sets are IDENTICAL between the
    *    base this merge read and the new head (the rival neither added,
    *    removed, rewrote, nor DV'd a file this merge's content depends
    *    on — a same-partition rival means the merged rows are stale);
    *  - the CHECK-constraint set is unchanged (a new constraint must
    *    re-gate the batch — the recompute path does that);
    *  - this commit's own tags still validate against the new head's
    *    (stream watermarks must stay monotonic vs the rival's).
    *
    * Any doubt returns None and the caller falls back to the recompute
    * retry. At high ingest concurrency this is the difference between
    * N writers to N partitions serializing on redundant rewrites and
    * them serializing only on manifest claims. Always a DELTA at the new
    * head's next version (the snapshot cadence resumes on later
    * commits); [[upsertFrom]] claims it through [[commit]], up to five
    * times. */
  private def rebaseDeltaUpsert(spark: SparkSession, root: String, base: State,
                                touchedParts: Set[String],
                                entries: Seq[FileEntry], removes: Seq[String],
                                userTags: Map[String, String],
                                cdf: Option[(String, Long)]): Option[Manifest] = {
    val st2 = current(spark, root).getOrElse(return None)
    def partFiles(s: State) =
      s.files.filter(f => touchedParts.contains(f.partitionPath))
        .map(f => (f.relPath, f.bytes, f.dv)).toSet
    val disjoint = partFiles(st2) == partFiles(base)
    def constraintsOf(t: Map[String, String]) =
      t.view.filterKeys(_.startsWith(ConstraintTagPrefix)).toMap
    val constraintsSame = constraintsOf(st2.tags) == constraintsOf(base.tags)
    val tagsOk = scala.util.Try(validateTags(userTags, st2.tags)).isSuccess
    if (!disjoint || !constraintsSame || !tagsOk) None
    // the cdf diff stays exact: disjointness proved the touched
    // partitions' file sets untouched by the rival
    else Some(DeltaManifest(st2.version + 1, entries, removes,
      st2.tags ++ userTags + (OpTag -> "upsert"), cdf))
  }

  /** Default snapshot cadence for partitioned upserts: resolution reads
    * at most this many manifests; commit bytes stay O(batch) in between. */
  val DefaultCheckpointInterval: Int = 10

  /** Compact the live file set into ~targetFileMB files (skew-aware, via
    * [[Writers.sizedRewrite]]) in one new generation; the manifest
    * shrinks with the files. Compare-and-swap like [[upsertDedup]].
    * Always commits a FULL snapshot (it rewrites every file anyway) and
    * advances the `_last_checkpoint` pointer. */
  def compact(spark: SparkSession, root: String, targetFileMB: Int = 512): Long = {
    require(targetFileMB > 0, s"compact: targetFileMB must be > 0, got $targetFileMB")
    val st = head(spark, root)
    // partition keys: the files' single recorded layout — or, post
    // spec-evolution, the CURRENT spec of record (a full compact is
    // exactly how mixed eras physicalize onto one layout)
    rewrite(spark, root, st, "compact", st.files, rewriteLayout(root, st, st.files),
      Sized(targetFileMB), snapshot = true)
  }

  /** Copy-on-write DELETE (the Delta/Iceberg `DELETE WHERE` role): drop
    * rows matching `predicate`. Only files that MIGHT contain matches
    * (by manifest stats + partition values — the same conservative
    * pruning as [[readWhere]]) are rewritten; every provably-unaffected
    * file is carried by reference, so at 100 TB a targeted delete
    * rewrites the matching sliver, not the table. SQL semantics: a row
    * is deleted when the predicate is TRUE; FALSE and NULL rows are
    * kept. Commits a DELTA manifest (op "delete") — O(touched files)
    * bytes. Returns the new version (or the current one untouched when
    * nothing could match).
    *
    * Incremental-consumer caveat (file-level change feed): the rewrite
    * re-emits surviving rows of touched files; DELETED keys simply never
    * reappear, so a keyed downstream retains them until reconciled —
    * consumers that must propagate deletes should treat op="delete"
    * windows like "overwrite" ones (re-bootstrap; see the model walk). */
  def delete(spark: SparkSession, root: String,
             predicate: org.apache.spark.sql.Column): Long =
    rewriteMatching(spark, root, predicate, "delete")(
      // keep rows where the predicate is FALSE or NULL
      df => df.filter(!coalesce(predicate, lit(false))),
      df => df.filter(coalesce(predicate, lit(false)))
        .withColumn(ChangeTypeCol, lit("delete")))

  /** Atomic REPLACE WHERE — the Delta `replaceWhere` / SQL static
    * `INSERT OVERWRITE … PARTITION (…)` semantics: ONE commit removes
    * every row matching `predicate` and lands `batch` in its place, so
    * readers see either the old region or the new one, never the gap a
    * delete-then-append pair would expose. Every batch row must satisfy
    * the predicate (writing outside the replaced region is the classic
    * silent-corruption footgun — Delta enforces the same by default).
    * Cost tracks the REGION, not the table: files the predicate
    * provably misses carry forward by reference; touched files rewrite
    * their non-matching rows ([[delete]] economics) and the batch lands
    * as its own generation. With the change feed on, matched rows
    * record as deletes and the batch as inserts — the inserts derived
    * from the WRITTEN generation, same nondeterminism guard as
    * [[append]]. */
  def replaceWhere(spark: SparkSession, batch: DataFrame, root: String,
                   predicate: org.apache.spark.sql.Column): Long = {
    val fs = fsOf(spark, root)
    val st = head(spark, root)
    val aligned = alignToTable(batch, root, st, "replaceWhere batch")
    val outside = aligned.filter(!coalesce(predicate, lit(false)))
    require(outside.isEmpty,
      s"replaceWhere on $root: the batch contains rows that do NOT satisfy " +
        s"the replace predicate — they would silently land outside the " +
        "replaced region; widen the predicate or filter the batch")
    val touched = DataSkipping.prune(st.files,
      physicalizeCol(predicate, st.tags), partitionTypes(st.tags))
    // non-matching rows of the touched files survive the replace
    val (keptEntries, keptGen) =
      if (touched.isEmpty) (Seq.empty[FileEntry], None)
      else {
        val partKeys = rewriteLayout(root, st, touched)
        val touchedDf = readState(spark, root, st.copy(files = touched))
        val kept = normalizePartitionCols(
          touchedDf.filter(!coalesce(predicate, lit(false))), partKeys, st.tags)
        if (kept.isEmpty) (Seq.empty[FileEntry], None)
        else {
          val (g, es) = writeGeneration(kept, root, partKeys, st.tags)
          (es, Some(g))
        }
      }
    val layout = layoutOf(root, st)
    val (batchEntries, batchGen) =
      if (aligned.isEmpty) (Seq.empty[FileEntry], None)
      else {
        val (g, es) = writeGeneration(
          normalizePartitionCols(aligned, layout, st.tags), root, layout, st.tags)
        (es, Some(g))
      }
    val entries = keptEntries ++ batchEntries
    require(entries.nonEmpty || touched.size < st.files.size,
      s"replaceWhere would leave $root without a single live file — a " +
        "full-table clear-and-replace is a rewrite: use write()")
    val cdf = if (!cdfEnabled(st.tags)) None else {
      val touchedDf =
        if (touched.isEmpty) None
        else Some(readState(spark, root, st.copy(files = touched)))
      val deletes = touchedDf.map(_
        .filter(coalesce(predicate, lit(false)))
        .withColumn(ChangeTypeCol, lit("delete")))
      val inserts =
        if (batchEntries.isEmpty) None
        else Some(logicalize(
          scanFiles(spark, root, batchEntries, withPositions = false, st.tags),
          st.tags).withColumn(ChangeTypeCol, lit("insert")))
      (deletes, inserts) match {
        case (Some(d), Some(i)) => writeCdf(spark, root, st.tags, d.unionByName(i))
        case (Some(d), None)    => writeCdf(spark, root, st.tags, d)
        case (None, Some(i))    => writeCdf(spark, root, st.tags, i)
        case (None, None)       => None
      }
    }
    val v = st.version + 1
    val manifest = DeltaManifest(v, entries, touched.map(_.relPath),
      st.tags + (OpTag -> "replace-where"), cdf)
    commit(fs, root, staged(root, manifest, keptGen.toSeq ++ batchGen))
  }

  /** The table's live tag map (SHOW TBLPROPERTIES raw material): user
    * properties and the engine's durable switches alike — callers
    * filter what they surface. */
  def tableProperties(spark: SparkSession, root: String): Map[String, String] =
    current(spark, root).map(_.tags).getOrElse(Map.empty)

  /** SQL `ALTER TABLE … SET/UNSET TBLPROPERTIES`: user properties ride
    * the manifest tag map (one metadata commit), the same channel the
    * engine's own durable switches use — `cdf.enabled` set here IS
    * enabling the change feed, exactly like Delta's
    * `delta.enableChangeDataFeed` property. Reserved engine state
    * (schema record, name mapping, constraints, bloom registry, stream
    * watermarks) refuses loudly in both directions: a property surface
    * must not be a backdoor that corrupts the table. */
  def setTableProperties(spark: SparkSession, root: String,
                         set: Map[String, String],
                         unset: Seq[String] = Nil): Long = {
    val st = head(spark, root)
    val guarded = Seq(SchemaTag, LayoutTag, RenameTag, DropTag, CloneSourcesTag,
      GeneratedTag, EvolvedTag)
    (set.keys ++ unset).foreach { k =>
      require(!guarded.contains(k),
        s"table property '$k' is reserved engine state (schema record / name " +
          "mapping) — evolve the schema via addColumn/renameColumn/dropColumn")
      require(!k.startsWith(StreamBatchTag),
        s"table property '$k' is a reserved stream watermark — written only by " +
          "the exactly-once sink machinery")
    }
    unset.foreach { k =>
      require(!k.startsWith(ConstraintTagPrefix),
        s"table property '$k' is a constraint — drop it via dropConstraint")
      require(!k.startsWith(BloomTagPrefix),
        s"table property '$k' is the bloom index registry — dropBloomIndex")
    }
    validateTags(set, st.tags) // refuses constraint./bloom. SETs + separators
    val newTags = (st.tags ++ set) -- unset
    if (newTags == st.tags) st.version
    else commitMeta(spark, root, st, newTags)
  }

  /** SQL `TRUNCATE TABLE`: retire every live file in ONE O(metadata)
    * delta commit — no data file read or written (change feed off).
    * The declared schema and partition layout survive into the
    * file-less state (recorded first when the table predates
    * [[createEmpty]]), so reads, appends, and upserts keep working
    * against the empty table. With the feed ON every live row records
    * as a delete — a full scan, the price of an exact feed (Delta's
    * unqualified DELETE pays the same). History and time travel keep
    * every pre-truncate version readable until vacuumed. */
  def truncate(spark: SparkSession, root: String): Long = {
    val st = head(spark, root)
    if (st.files.isEmpty) return st.version // already empty
    val fs = fsOf(spark, root)
    val withSchema = st.tags.get(SchemaTag) match {
      case Some(_) => st.tags
      case None =>
        val inv = renameMap(st.tags).map(_.swap)
        val phys = org.apache.spark.sql.types.StructType(
          readState(spark, root, st).schema.fields.map(f =>
            f.copy(name = inv.getOrElse(f.name, f.name))))
        st.tags + (SchemaTag -> phys.json)
    }
    val layout = layoutOf(root, st)
    val ensured =
      if (layout.nonEmpty) withSchema + (LayoutTag -> layout.mkString(","))
      else withSchema
    val cdf = if (!cdfEnabled(st.tags)) None else
      writeCdf(spark, root, st.tags,
        readState(spark, root, st).withColumn(ChangeTypeCol, lit("delete")))
    val v = st.version + 1
    commit(fs, root, staged(root, DeltaManifest(v, Seq.empty, st.files.map(_.relPath),
      ensured + (OpTag -> "truncate"), cdf), Nil))
    log.info(s"manifest table $root: truncate retired ${st.files.size} files at v$v")
    v
  }

  /** MERGE-ON-READ delete (the Delta deletion-vector role): instead of
    * rewriting every touched file ([[delete]]'s copy-on-write), record
    * the deleted rows' parquet POSITIONS in a `dv-*` sidecar dataset and
    * repoint the touched entries at it — the data files are untouched.
    * Readers anti-join the positions out ([[readState]]); with DV
    * cardinality bounded the anti side broadcasts, so reads pay a
    * streaming hash probe, never a shuffle. At 100 TB this is the delete
    * economics that matter: a 0.1% targeted delete writes ~0.1% × 8
    * bytes/row of positions, not a rewrite of every file that contains a
    * match. Same SQL semantics as [[delete]] (TRUE deletes, FALSE/NULL
    * keeps), same conservative file pruning, same delta commit (op
    * "delete").
    *
    * A file whose deletions reach its (manifest-known) row count is
    * dropped outright. A repeat delete on an already-DV'd file writes
    * the UNION of old + new positions into the new dataset, so one ref
    * per file always fully describes its deletions. Trade-offs vs
    * copy-on-write: reads pay the anti-join until [[materializeDeletes]]
    * (or any rewrite — compact/cluster/upsert-touch) folds the DVs in,
    * and [[statsOnly]] loses exactness while any DV is live. */
  def deleteMoR(spark: SparkSession, root: String,
                predicate: org.apache.spark.sql.Column): Long = {
    val fs = fsOf(spark, root)
    val st = head(spark, root)
    val touched = DataSkipping.prune(st.files,
      physicalizeCol(predicate, st.tags), partitionTypes(st.tags))
    if (touched.isEmpty) return st.version // provably nothing to do
    // matching positions among LIVE rows only: existing DVs are applied
    // before the predicate, so already-deleted positions never re-count
    val matchedRows = scanLiveWithPositions(spark, root, touched, st.tags)
      .filter(coalesce(predicate, lit(false)))
    val matches = matchedRows
      .select(col(DvRelCol).as("relPath"), col(DvPosCol).as("pos"))
    writeDv(spark, root, touched, matches, st.tags) match {
      case None => st.version // predicate matched nothing
      case Some(dv) =>
        // all rows of every live file deleted → file-less table
        // (readState demands >= 1 file): refuse like the copy-on-write path
        require(dv.adds.nonEmpty || dv.removes.size < st.files.size,
          s"deleteMoR would remove every live row of $root — a full-table clear " +
            "is a rewrite: use write() with the replacement content")
        log.info(s"manifest table $root: deleteMoR marked ${dv.marked} rows " +
          s"across ${dv.removes.size} files for $predicate")
        val cdf = if (cdfEnabled(st.tags))
          writeCdf(spark, root, st.tags, matchedRows.drop(DvRelCol, DvPosCol)
            .withColumn(ChangeTypeCol, lit("delete"))) else None
        val v = st.version + 1
        val manifest = DeltaManifest(v, dv.adds, dv.removes,
          st.tags + (OpTag -> "delete"), cdf)
        commit(fs, root, staged(root, manifest, Seq(dv.dir)))
    }
  }

  /** MERGE-ON-READ update: the matched rows' OLD positions go into a
    * deletion vector and their UPDATED versions append as a fresh
    * generation — one atomic commit (op "update"), data files untouched,
    * same economics as [[deleteMoR]]. `set` expressions evaluate against
    * the old row, exactly like [[update]]. The matched set is persisted
    * between the position pass and the rewrite pass so a
    * non-deterministic predicate cannot tear the two apart. */
  def updateMoR(spark: SparkSession, root: String,
                predicate: org.apache.spark.sql.Column,
                set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(set.nonEmpty, "updateMoR: need at least one column -> expression")
    val fs = fsOf(spark, root)
    val st = head(spark, root)
    val touched = DataSkipping.prune(st.files,
      physicalizeCol(predicate, st.tags), partitionTypes(st.tags))
    if (touched.isEmpty) return st.version
    val layouts = touched.map(_.partitionKeys).distinct
    require(layouts.size <= 1,
      s"updateMoR: inconsistent partition layouts in $root: $layouts")
    val partKeys = layouts.headOption.getOrElse(Seq.empty)
    val matched = scanLiveWithPositions(spark, root, touched, st.tags)
      .filter(coalesce(predicate, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dataCols = matched.columns.filterNot(c => c == DvRelCol || c == DvPosCol)
      val bad = set.keySet -- dataCols
      require(bad.isEmpty, s"updateMoR: columns $bad not in table schema")
      writeDv(spark, root, touched,
          matched.select(col(DvRelCol).as("relPath"), col(DvPosCol).as("pos")),
          st.tags) match {
        case None => st.version // predicate matched nothing
        case Some(dv) =>
          val updated = normalizePartitionCols(
            matched.select(dataCols.toIndexedSeq.map(c =>
              set.get(c).map(_.as(c)).getOrElse(col(c))): _*), partKeys, st.tags)
          enforceConstraints(updated, st.tags, root, "updateMoR result")
          val (gen, entries) = writeGeneration(updated, root, partKeys, st.tags)
          // tear check, free from the new generation's footer counts:
          // the persisted matched set keeps the position pass and this
          // re-emit pass consistent, but persist is best-effort — under
          // cache eviction a NON-DETERMINISTIC predicate/SET would
          // re-evaluate differently, and committing a re-emit that does
          // not match the marked positions loses or duplicates rows.
          // Abort loudly instead (nothing committed).
          locally {
            val counted = entries.flatMap(fileRows)
            if (counted.size == entries.size && counted.sum != dv.marked) {
              fs.delete(new Path(root, gen), true)
              fs.delete(new Path(root, dv.dir), true)
              sys.error(s"updateMoR on $root: re-emitted ${counted.sum} rows but " +
                s"marked ${dv.marked} positions — the matched set re-evaluated " +
                "differently between passes (non-deterministic predicate or SET " +
                "under cache eviction). Nothing was committed.")
            }
          }
          // change feed from the PERSISTED matched set (the same frame
          // both the DV and the re-emit derive from, tear-checked above)
          val cdf = if (cdfEnabled(st.tags))
            writeCdf(spark, root, st.tags,
              matched.select(dataCols.toIndexedSeq.map(col): _*)
                .withColumn(ChangeTypeCol, lit("update_preimage"))
                .unionByName(updated.withColumn(ChangeTypeCol, lit("update_postimage"))))
          else None
          val v = st.version + 1
          val manifest = DeltaManifest(v, entries ++ dv.adds, dv.removes,
            st.tags + (OpTag -> "update"), cdf)
          commit(fs, root, staged(root, manifest, Seq(gen, dv.dir)))
      }
    } finally matched.unpersist()
  }

  /** A written deletion-vector dataset and its manifest consequences:
    * `adds` = touched entries repointed at `dir`, `removes` = their old
    * listings (including files whose deletions reached their row count —
    * those drop without a successor), `marked` = newly-deleted rows. */
  private final case class DvCommit(dir: String, adds: Seq[FileEntry],
                                    removes: Seq[String], marked: Long)

  /** Write a `dv-*` dataset covering `positions` (columns relPath/pos,
    * live rows of `touched`) plus the prior positions of `touched`'s
    * DV'd files — one ref per file always fully describes its
    * deletions. None when nothing new was marked. The dataset lands
    * BEFORE any commit; the caller stages it so [[commit]] deletes it on
    * a lost claim.
    *
    * Counts come from reading the WRITTEN dataset back, never from
    * re-evaluating `positions`: the position plan is evaluated exactly
    * once, so a non-deterministic predicate cannot desync the counts
    * from the stored positions — the hazard being a file wrongly
    * "proven" fully deleted (= silent data loss), not just a stale
    * number. */
  private def writeDv(spark: SparkSession, root: String,
                      touched: Seq[FileEntry],
                      positions: DataFrame,
                      tags: Map[String, String]): Option[DvCommit] = {
    val fs = fsOf(spark, root)
    val priors = touched.filter(_.dv.nonEmpty)
    val allRows =
      if (priors.isEmpty) positions
      else positions.unionByName(loadDvs(spark, root, priors, tags)
        .select(col(DvRelCol).as("relPath"), col(DvPosCol).as("pos")))
    val dvDir = s"dv-${java.util.UUID.randomUUID().toString.take(12)}"
    val dvPath = new Path(root, dvDir)
    allRows.sortWithinPartitions("relPath", "pos")
      .write.mode(SaveMode.ErrorIfExists).parquet(dvPath.toString)
    // per-file totals from the dataset itself (bounded by touched size);
    // dirFrame seeds the schema memo for every later loadDvs of this dir
    val totals: Map[String, Long] = dirFrame(spark, dvPath.toString)
      .groupBy("relPath").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val priorCount: Map[String, Long] =
      priors.map(f => f.relPath -> f.dv.get.count).toMap
    val marked = totals.values.sum - priorCount.values.sum
    if (marked == 0L) { // predicate matched nothing new
      fs.delete(dvPath, true)
      return None
    }
    val adds = Seq.newBuilder[FileEntry]
    val removes = Seq.newBuilder[String]
    touched.foreach { f =>
      val newTotal = totals.getOrElse(f.relPath, 0L)
      // untouched-by-this-predicate files (including ones whose priors
      // were carried into the dataset defensively) keep their entry —
      // their old dv dir stays referenced and alive
      if (newTotal > priorCount.getOrElse(f.relPath, 0L)) {
        removes += f.relPath
        fileRows(f) match {
          case Some(n) if n == newTotal => () // provably empty: drop outright
          case _ => adds += f.copy(dv = Some(DvRef(dvDir, newTotal)))
        }
      }
    }
    Some(DvCommit(dvDir, adds.result(), removes.result(), marked))
  }

  /** Fold live deletion vectors back into the data: rewrite ONLY the
    * DV'd files without their deleted rows and drop the DV refs —
    * the OPTIMIZE-side of merge-on-read. Rewrite cost tracks the DV'd
    * slice, not the table. Commits as a REWRITE (rows identical), so
    * incremental readers emit nothing; [[statsOnly]] exactness returns
    * once no live file carries a DV. No-op without DVs. */
  def materializeDeletes(spark: SparkSession, root: String): Long = {
    val st = head(spark, root)
    val dvd = st.files.filter(_.dv.nonEmpty)
    if (dvd.isEmpty) return st.version
    val layouts = dvd.map(_.partitionKeys).distinct
    require(layouts.size <= 1,
      s"materializeDeletes: inconsistent partition layouts in $root: $layouts")
    rewrite(spark, root, st, "materializeDeletes", dvd, layouts.headOption.getOrElse(Nil),
      Plain, snapshot = false)
  }

  /** Copy-on-write UPDATE: for rows matching `predicate`, replace each
    * column in `set` with its expression (evaluated against the old
    * row); all other rows and columns pass through. Same file-pruned
    * rewrite economics and delta commit as [[delete]] (op "update");
    * updated rows DO re-emit through the incremental feed (they are in
    * the rewritten files' adds). */
  def update(spark: SparkSession, root: String,
             predicate: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(set.nonEmpty, "update: need at least one column -> expression")
    rewriteMatching(spark, root, predicate, "update")(
      { df =>
        val bad = set.keySet -- df.columns
        require(bad.isEmpty, s"update: columns $bad not in table schema")
        val cond = coalesce(predicate, lit(false))
        df.select(df.columns.toIndexedSeq.map { c =>
          set.get(c) match {
            case Some(e) => when(cond, e).otherwise(col(c)).as(c)
            case None    => col(c)
          }
        }: _*)
      },
      { df =>
        val matched = df.filter(coalesce(predicate, lit(false)))
        matched.withColumn(ChangeTypeCol, lit("update_preimage"))
          .unionByName(matched.select(df.columns.toIndexedSeq.map(c =>
              set.get(c).map(_.as(c)).getOrElse(col(c))): _*)
            .withColumn(ChangeTypeCol, lit("update_postimage")))
      })
  }

  /** Generic CAS retry loop for the copy-on-write mutators
    * ([[delete]]/[[update]]/[[merge]]/[[compactSmallFiles]]) — the
    * [[upsertWithRetry]] discipline for any conflicting operation: on
    * [[ConcurrentCommitException]] the WHOLE thunk re-runs (it must
    * re-read the head — the rival's commit may have changed the very
    * files this mutation touches), with bounded exponential backoff +
    * jitter. */
  def retryOnConflict[A](maxRetries: Int = 8, baseBackoffMs: Long = 50L)
                        (op: => A): A = {
    require(maxRetries >= 0 && baseBackoffMs >= 0,
      s"maxRetries/baseBackoffMs must be >= 0, got $maxRetries/$baseBackoffMs")
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val backoff = baseBackoffMs << math.min(attempt - 1, 6)
          val jitter = (backoff * 0.2 *
            java.util.concurrent.ThreadLocalRandom.current().nextDouble()).toLong
          log.info(s"retryOnConflict: lost CAS race (attempt $attempt/$maxRetries) — " +
            s"retrying in ${backoff + jitter} ms")
          Thread.sleep(backoff + jitter)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Tag namespace for CHECK constraints: `constraint.<name>` → the SQL
    * expression every committed row must satisfy (TRUE or NULL passes,
    * FALSE is a violation — standard SQL CHECK / Delta semantics).
    * Reserved: constraints enter via [[addConstraint]] only, which
    * validates the expression against the live table first. */
  private[graft] val ConstraintTagPrefix = "constraint."

  /** Declared CHECK constraints, name → SQL expression. */
  def constraints(spark: SparkSession, root: String): Map[String, String] =
    current(spark, root).map(_.tags.collect {
      case (k, v) if k.startsWith(ConstraintTagPrefix) =>
        k.stripPrefix(ConstraintTagPrefix) -> v
    }).getOrElse(Map.empty)

  /** Declare a CHECK constraint (the Delta `ALTER TABLE ADD CONSTRAINT`
    * role): the live table is validated FIRST (one scan — a constraint
    * that existing rows violate is refused), then the constraint commits
    * as a metadata-only delta; every subsequent data commit (write,
    * upsert, streaming batch, merge, update) enforces it on the
    * incoming/changed rows BEFORE any generation is written, so a
    * violating batch leaves no trace. Enforcement cost is O(batch),
    * never O(table). */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    exprSql: String): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"constraint name must be a non-empty separator-free identifier, got '$name'")
    require(!exprSql.exists(_ == '\n'), "constraint expression must be single-line")
    val st = head(spark, root)
    val live = readState(spark, root, st)
    val bad = live.filter(!coalesce(expr(exprSql).cast("boolean"), lit(true)))
      .limit(1).collect()
    require(bad.isEmpty,
      s"manifest table $root: existing rows violate CHECK ($exprSql), e.g. ${bad.head}")
    commitMeta(spark, root, st, st.tags + (s"$ConstraintTagPrefix$name" -> exprSql))
  }

  /** Remove a CHECK constraint. */
  def dropConstraint(spark: SparkSession, root: String, name: String): Long = {
    val st = head(spark, root)
    val key = s"$ConstraintTagPrefix$name"
    require(st.tags.contains(key), s"manifest table $root has no constraint '$name'")
    commitMeta(spark, root, st, st.tags - key)
  }

  /** Metadata-only commit: a delta with no file changes carrying the new
    * tag state (op "meta" — invisible to incremental readers). `written`
    * names any dataset the tags reference that was written for this
    * commit (the bloom index). */
  private def commitMeta(spark: SparkSession, root: String, st: State,
                         tags: Map[String, String], op: String = "meta",
                         written: Seq[Path] = Nil): Long =
    commit(fsOf(spark, root), root, Staged(
      DeltaManifest(st.version + 1, Seq.empty, Seq.empty, tags + (OpTag -> op)), written))

  /** Refuse `df` if any row violates a declared constraint — called by
    * every data-committing path on its incoming/changed rows before the
    * generation write. */
  private def enforceConstraints(df: DataFrame, tags: Map[String, String],
                                 root: String, context: String): Unit =
    tags.foreach {
      case (k, exprSql) if k.startsWith(ConstraintTagPrefix) =>
        val name = k.stripPrefix(ConstraintTagPrefix)
        val bad = df.filter(!coalesce(expr(exprSql).cast("boolean"), lit(true)))
          .limit(1).collect()
        require(bad.isEmpty,
          s"manifest table $root: $context violates CHECK $name ($exprSql), e.g. ${bad.head}")
      case _ => ()
    }

  /** WHEN MATCHED action for [[merge]]. `MatchUpdate` expressions may
    * reference target columns by name and source columns as
    * `_src_<name>` (the join exposes the source side under that
    * prefix). */
  sealed trait WhenMatched
  /** Replace the matched target row with the source row wholesale. */
  case object MatchUpdateAll extends WhenMatched
  /** Set specific target columns from expressions over old-target +
    * source (`_src_*`) columns. */
  final case class MatchUpdate(set: Map[String, org.apache.spark.sql.Column]) extends WhenMatched
  /** Drop the matched target row. */
  case object MatchDelete extends WhenMatched

  /** WHEN NOT MATCHED BY SOURCE action for [[merge]] (the Delta clause):
    * applies to TARGET rows that match no source row. By definition this
    * inspects every live row — the source-key file pruning that makes a
    * plain merge O(matched files) cannot apply, so a by-source merge is
    * a full-table rewrite; that is inherent to the semantics, not a
    * plan deficiency (Delta disables its file pruning identically).
    * Expressions may reference target columns only — there is no source
    * row on this branch. */
  sealed trait WhenNotMatchedBySource
  /** Drop target rows no source row matches (the "sync to source" shape:
    * MatchUpdateAll + insertUnmatched + this = the target becomes an
    * exact mirror of the source). */
  case object SourceMissDelete extends WhenNotMatchedBySource
  /** Set specific target columns on unmatched target rows (e.g. flag
    * staleness: `Map("stale" -> lit(true))`). */
  final case class SourceMissUpdate(set: Map[String, org.apache.spark.sql.Column])
    extends WhenNotMatchedBySource

  /** Everything [[merge]] and [[mergeMoR]] validate and resolve before
    * their (different) execution plans — ONE implementation so the two
    * cannot drift: key existence, source-duplicate refusal, bounded
    * key collection → conservative file pruning, partition-layout
    * consistency, and the no-silent-coercion schema check. */
  private final case class MergePrep(fs: FileSystem, st: State, target: DataFrame,
                                     touched: Seq[FileEntry], partKeys: Seq[String],
                                     srcN: DataFrame, overflow: Boolean)

  private def prepareMerge(spark: SparkSession, root: String, source: DataFrame,
                           keys: Seq[String], maxKeys: Int, opName: String): MergePrep = {
    require(keys.nonEmpty, s"$opName: need at least one key column")
    val fs = fsOf(spark, root)
    val st = head(spark, root)
    val target = readState(spark, root, st)
    require(keys.forall(target.columns.contains) && keys.forall(source.columns.contains),
      s"$opName: keys $keys must exist on both sides")
    val dup = source.groupBy(keys.map(col).toIndexedSeq: _*)
      .count().filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"$opName: source has duplicate keys (e.g. ${dup.headOption}) — " +
        "a target row must match at most one source row")
    // bounded source-key collection drives file pruning (readWhereJoin's
    // per-column-isin shape); overflow = whole-table merge
    val collected = source.select(keys.map(col).toIndexedSeq: _*)
      .distinct().limit(maxKeys + 1).collect()
    // SQL MERGE ON equality: NULL keys never match (rows with any null
    // key on the source side only ever INSERT) — consistent with the
    // null-dropping probe set below, where a null-safe join would
    // secretly need null-keyed files kept
    val keyVals = keys.indices.map(i => collected.map(_.get(i)).filter(_ != null).distinct)
    val touched =
      if (collected.length > maxKeys) st.files
      else if (keyVals.exists(_.isEmpty)) Seq.empty // no non-null tuple can match
      else DataSkipping.prune(st.files, keys.zip(keyVals).map { case (k, vs) =>
        col(physicalName(st.tags, k)).isin(vs.toIndexedSeq: _*)
      }.reduce(_ && _), partitionTypes(st.tags))
    val partKeys = layoutOf(root, st)
    // a generated layout derives on the source side too: inserts land in
    // their day/bucket partition without the caller spelling it
    val srcN = normalizePartitionCols(
      applyGenerated(source, st.tags, root, s"$opName source"), partKeys, st.tags)
    locally { // same schema discipline as upserts: no silent coercion
      val tT = target.schema.map(f => f.name -> f.dataType).toMap
      val drift = srcN.schema.filter(f => tT.get(f.name).exists(_ != f.dataType))
        .map(f => s"${f.name}: table=${tT(f.name).sql} batch=${f.dataType.sql}")
      require(drift.isEmpty,
        s"$opName: source column types differ from the table (${drift.mkString("; ")})")
    }
    MergePrep(fs, st, target, touched, partKeys, srcN, collected.length > maxKeys)
  }

  /** MERGE INTO (the Delta `MERGE` role), copy-on-write: join `source`
    * against the target on equality of `keys` (standard SQL `ON t.k =
    * s.k` — NULL keys never match, so null-keyed source rows only ever
    * insert), apply `whenMatched` to matched target rows, and (when
    * `insertUnmatched`) append source rows matching no target key. File economics mirror [[delete]]:
    * only target files that might contain a source key — pruned by the
    * collected (bounded) source key set against manifest stats, like
    * [[readWhereJoin]] — are rewritten; when the source key set exceeds
    * `maxKeys` every file is considered touched (a bulk merge IS a
    * table-sized operation). Pruning conservatism makes the unmatched
    * set exact: untouched files provably contain no source key, so
    * inserts anti-join only the touched slice.
    *
    * `source` must be UNIQUE on `keys` (checked — one aggregate over
    * the source): duplicate source matches per target row are the
    * classic silent-fanout bug and an error in every MERGE dialect.
    * Commits a DELTA (op "merge"). Returns the new version, or the
    * current one when the merge provably changes nothing.
    *
    * Incremental-consumer caveat: like [[delete]], a `MatchDelete` merge
    * removes rows the file-level change feed cannot announce — keyed
    * consumers that must propagate such removals should treat op="merge"
    * windows from delete-merges as re-bootstrap boundaries. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
            keys: Seq[String], whenMatched: WhenMatched = MatchUpdateAll,
            insertUnmatched: Boolean = true, maxKeys: Int = 100000,
            notMatchedBySource: Option[WhenNotMatchedBySource] = None): Long = {
    val MergePrep(fs, st, target, touchedPruned, partKeys, srcN, overflow) =
      prepareMerge(spark, root, source, keys, maxKeys, "merge")
    // a by-source action reaches target rows the source keys never name,
    // so every live file is "touched" — the pruning path only applies to
    // the plain merge (see WhenNotMatchedBySource)
    val touched = if (notMatchedBySource.isDefined) st.files else touchedPruned
    notMatchedBySource.foreach {
      case SourceMissUpdate(set) =>
        val bad = set.keySet -- target.columns
        require(bad.isEmpty,
          s"merge: NOT MATCHED BY SOURCE update columns $bad not in table schema")
      case SourceMissDelete => ()
    }
    if (touched.isEmpty && !insertUnmatched) return st.version
    val touchedDf = {
      val raw =
        if (touched.isEmpty) // no rewrite side, inserts may still exist
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            target.schema)
        else readState(spark, root, st.copy(files = touched))
      // a touched slice may miss columns living only in untouched
      // generations (additive evolution): surface them as nulls so the
      // targetCols projection below always resolves
      target.schema.fields.filterNot(f => raw.columns.contains(f.name))
        .foldLeft(raw)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    // sentinel marker, not key-null checks, detects the matched side.
    // Under the pruning path the source is bounded (≤ maxKeys distinct
    // keys, duplicates refused) — broadcast it so the touched slice
    // never shuffles; the overflow path is a table-sized merge and the
    // planner picks the join strategy.
    val srcPrefixed0 = srcN.select(srcN.columns.toIndexedSeq.map(c =>
      col(c).as(s"_src_$c")) :+ lit(true).as("_src__matched"): _*)
    val srcPrefixed = if (!overflow) broadcast(srcPrefixed0) else srcPrefixed0
    val joinCond = keys.map(k => col(k) === col(s"_src_$k")).reduce(_ && _)
    val joined = touchedDf.join(srcPrefixed, joinCond, "left")
    val matchedMarker = col("_src__matched").isNotNull
    val targetCols = target.columns.toIndexedSeq
    val rewritten: DataFrame = {
      whenMatched match {
        case MatchUpdate(set) =>
          val bad = set.keySet -- targetCols
          require(bad.isEmpty, s"merge: update columns $bad not in table schema")
        case _ => ()
      }
      // one pass, two branches: a row keeps/transforms per its side of
      // the marker; deletes filter first so both actions stay one select
      val keepMatched = if (whenMatched == MatchDelete) lit(false) else lit(true)
      val keepMiss =
        if (notMatchedBySource.contains(SourceMissDelete)) lit(false) else lit(true)
      val kept = joined.filter(when(matchedMarker, keepMatched).otherwise(keepMiss))
      kept.select(targetCols.map { c =>
        val onMatch: org.apache.spark.sql.Column = whenMatched match {
          case MatchUpdateAll   => col(s"_src_$c")
          case MatchUpdate(set) => set.getOrElse(c, col(c))
          case MatchDelete      => col(c) // filtered out above
        }
        val onMiss: org.apache.spark.sql.Column = notMatchedBySource match {
          case Some(SourceMissUpdate(set)) => set.getOrElse(c, col(c))
          case _                           => col(c)
        }
        when(matchedMarker, onMatch).otherwise(onMiss).as(c)
      }: _*)
    }
    val inserts: DataFrame =
      if (!insertUnmatched)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          target.schema)
      else {
        require(srcN.columns.sorted.sameElements(target.columns.sorted),
          s"merge: insertUnmatched needs the full target schema on the source " +
            s"(source=${srcN.columns.sorted.toSeq}, table=${target.columns.sorted.toSeq})")
        // conservative pruning guarantee: untouched files hold no source
        // key, so anti-joining the TOUCHED slice finds exactly the new
        // keys (null-keyed source rows never equi-match → always insert)
        srcN.join(touchedDf.select(keys.map(col).toIndexedSeq: _*),
          keys.map(k => srcN(k) === touchedDf(k)).reduce(_ && _), "left_anti")
          .select(targetCols.map(col): _*)
      }
    val outRows = normalizePartitionCols(rewritten.unionByName(inserts), partKeys, st.tags)
    enforceConstraints(outRows, st.tags, root, "merge result")
    val (entries, gen) =
      if (outRows.isEmpty) (Seq.empty[FileEntry], None)
      else { val (g, es) = writeGeneration(outRows, root, partKeys, st.tags); (es, Some(g)) }
    if (entries.isEmpty && touched.isEmpty) return st.version // nothing to do
    require(entries.nonEmpty || touched.size < st.files.size,
      s"merge would remove every live row of $root (MatchDelete over all " +
        "files) — a full-table clear is a rewrite: use write()")
    val cdf = if (!cdfEnabled(st.tags)) None else {
      val matchedPre = joined.filter(matchedMarker).select(targetCols.map(col): _*)
      val changed = whenMatched match {
        case MatchDelete => matchedPre.withColumn(ChangeTypeCol, lit("delete"))
        case MatchUpdateAll =>
          matchedPre.withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(joined.filter(matchedMarker)
              .select(targetCols.map(c => col(s"_src_$c").as(c)): _*)
              .withColumn(ChangeTypeCol, lit("update_postimage")))
        case MatchUpdate(set) =>
          matchedPre.withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(joined.filter(matchedMarker)
              .select(targetCols.map(c => set.get(c).map(_.as(c)).getOrElse(col(c))): _*)
              .withColumn(ChangeTypeCol, lit("update_postimage")))
      }
      val missedPre = joined.filter(col("_src__matched").isNull)
        .select(targetCols.map(col): _*)
      val missChanged = notMatchedBySource match {
        case None => changed.limit(0) // schema-compatible empty
        case Some(SourceMissDelete) =>
          missedPre.withColumn(ChangeTypeCol, lit("delete"))
        case Some(SourceMissUpdate(set)) =>
          missedPre.withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(joined.filter(col("_src__matched").isNull)
              .select(targetCols.map(c => set.get(c).map(_.as(c)).getOrElse(col(c))): _*)
              .withColumn(ChangeTypeCol, lit("update_postimage")))
      }
      writeCdf(spark, root, st.tags,
        changed.unionByName(missChanged)
          .unionByName(inserts.withColumn(ChangeTypeCol, lit("insert"))))
    }
    val v = st.version + 1
    val manifest = DeltaManifest(v, entries, touched.map(_.relPath),
      st.tags + (OpTag -> "merge"), cdf)
    commit(fs, root, staged(root, manifest, gen.toSeq))
  }

  /** MERGE-ON-READ merge: [[merge]]'s exact semantics (same key
    * matching, same `WhenMatched` actions, same exact-insert guarantee
    * from pruning conservatism, same source-duplicate refusal) with
    * [[deleteMoR]]'s file economics — matched target rows' POSITIONS go
    * into a deletion vector, their updated versions (plus inserts)
    * append as one fresh generation, and every UNMATCHED row of a
    * touched file stays in its untouched bytes. At 100 TB a 0.1%-key
    * merge stops rewriting the 99.9% bystander rows that share files
    * with the matches — the dominant cost of the copy-on-write plan.
    * One atomic commit (op "merge"); reads pay the DV anti-join until
    * [[materializeDeletes]]. The matched set is persisted between the
    * position pass and the re-emit pass so non-deterministic expressions
    * cannot tear them apart. */
  def mergeMoR(spark: SparkSession, root: String, source: DataFrame,
               keys: Seq[String], whenMatched: WhenMatched = MatchUpdateAll,
               insertUnmatched: Boolean = true, maxKeys: Int = 100000,
               notMatchedBySource: Option[WhenNotMatchedBySource] = None): Long = {
    // the MoR economics (mark the FEW matched positions, keep bystander
    // bytes) invert under a by-source clause: it acts on every UNmatched
    // row, so the DV would cover ~the whole table — strictly worse than
    // the rewrite. Refuse loudly instead of quietly degrading.
    require(notMatchedBySource.isEmpty,
      "mergeMoR: WHEN NOT MATCHED BY SOURCE touches every live row by " +
        "definition — merge-on-read cannot help there; use merge() " +
        "(copy-on-write)")
    val MergePrep(fs, st, target, touched, partKeys, srcN, overflow) =
      prepareMerge(spark, root, source, keys, maxKeys, "mergeMoR")
    if (touched.isEmpty && !insertUnmatched) return st.version
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val liveTouched = {
      val raw =
        if (touched.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(target.schema.fields.toSeq :+
              StructField(DvRelCol, StringType) :+ StructField(DvPosCol, LongType)))
        else scanLiveWithPositions(spark, root, touched, st.tags)
      target.schema.fields.filterNot(f => raw.columns.contains(f.name))
        .foldLeft(raw)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    val srcPrefixed0 = srcN.select(srcN.columns.toIndexedSeq.map(c =>
      col(c).as(s"_src_$c")): _*)
    val srcPrefixed = if (!overflow) broadcast(srcPrefixed0) else srcPrefixed0
    val joinCond = keys.map(k => col(k) === col(s"_src_$k")).reduce(_ && _)
    // INNER join: merge-on-read only ever touches MATCHED rows — the
    // unmatched rows of a touched file are precisely what stays put
    val matched = liveTouched.join(srcPrefixed, joinCond, "inner")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val targetCols = target.columns.toIndexedSeq
      val reemit: DataFrame = whenMatched match {
        case MatchDelete =>
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            target.schema)
        case MatchUpdateAll =>
          matched.select(targetCols.map(c => col(s"_src_$c").as(c)): _*)
        case MatchUpdate(set) =>
          val bad = set.keySet -- targetCols
          require(bad.isEmpty, s"mergeMoR: update columns $bad not in table schema")
          matched.select(targetCols.map(c =>
            set.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      }
      val inserts: DataFrame =
        if (!insertUnmatched)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            target.schema)
        else {
          require(srcN.columns.sorted.sameElements(target.columns.sorted),
            s"mergeMoR: insertUnmatched needs the full target schema on the source " +
              s"(source=${srcN.columns.sorted.toSeq}, table=${target.columns.sorted.toSeq})")
          srcN.join(liveTouched.select(keys.map(col).toIndexedSeq: _*),
            keys.map(k => srcN(k) === liveTouched(k)).reduce(_ && _), "left_anti")
            .select(targetCols.map(col): _*)
        }
      val reemitN = normalizePartitionCols(reemit, partKeys, st.tags)
      val insertsN = normalizePartitionCols(inserts, partKeys, st.tags)
      enforceConstraints(reemitN, st.tags, root, "merge result")
      enforceConstraints(insertsN, st.tags, root, "merge result")
      val dvOpt =
        if (touched.isEmpty) None
        else writeDv(spark, root, touched,
          matched.select(col(DvRelCol).as("relPath"), col(DvPosCol).as("pos")),
          st.tags)
      // re-emits and inserts land as SEPARATE generations so the tear
      // check below gets an exact re-emit row count for free from the
      // generation's parquet footers (one commit still — a manifest just
      // lists file entries, it does not care how many dirs hold them)
      val (reemitEntries, reemitGen) =
        if (reemitN.isEmpty) (Seq.empty[FileEntry], None)
        else { val (g, es) = writeGeneration(reemitN, root, partKeys, st.tags); (es, Some(g)) }
      val (insertEntries, insertGen) =
        if (insertsN.isEmpty) (Seq.empty[FileEntry], None)
        else { val (g, es) = writeGeneration(insertsN, root, partKeys, st.tags); (es, Some(g)) }
      val written = reemitGen.toSeq ++ insertGen ++ dvOpt.map(_.dir)
      // tear check — [[updateMoR]]'s hazard, identically: persist is
      // best-effort, so under cache eviction a non-deterministic source
      // re-evaluates between the DV-position pass and the re-emit pass;
      // committing a re-emit that disagrees with the marked positions
      // loses or duplicates rows. The re-emitted matched-row count must
      // equal the newly-marked position count. Abort loudly (nothing
      // committed) on any mismatch the footers can prove.
      if (whenMatched != MatchDelete) {
        val counted = reemitEntries.flatMap(fileRows)
        val reemitRows =
          if (counted.size == reemitEntries.size) Some(counted.sum) else None
        val markedRows = dvOpt.map(_.marked).getOrElse(0L)
        if (reemitRows.exists(_ != markedRows)) {
          written.foreach(d => fs.delete(new Path(root, d), true))
          sys.error(s"mergeMoR on $root: re-emitted ${reemitRows.get} rows but " +
            s"marked $markedRows positions — the matched set re-evaluated " +
            "differently between passes (non-deterministic source under cache " +
            "eviction). Nothing was committed.")
        }
      }
      val entries = reemitEntries ++ insertEntries
      if (entries.isEmpty && dvOpt.isEmpty) return st.version // nothing to do
      val adds = entries ++ dvOpt.toSeq.flatMap(_.adds)
      val removes = dvOpt.toSeq.flatMap(_.removes)
      require(adds.nonEmpty || removes.size < st.files.size,
        s"mergeMoR would remove every live row of $root (MatchDelete over all " +
          "files) — a full-table clear is a rewrite: use write()")
      // change feed from the PERSISTED matched set (tear-checked above)
      val cdf = if (!cdfEnabled(st.tags)) None else {
        val pre = matched.select(targetCols.map(col): _*)
        val changed = whenMatched match {
          case MatchDelete => pre.withColumn(ChangeTypeCol, lit("delete"))
          case _ => pre.withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(reemitN.withColumn(ChangeTypeCol, lit("update_postimage")))
        }
        writeCdf(spark, root, st.tags,
          changed.unionByName(insertsN.withColumn(ChangeTypeCol, lit("insert"))))
      }
      val v = st.version + 1
      val manifest = DeltaManifest(v, adds, removes, st.tags + (OpTag -> "merge"), cdf)
      commit(fs, root, staged(root, manifest, written))
    } finally matched.unpersist()
  }

  /** Shared copy-on-write core: prune the live set to files that might
    * match, rewrite those through `transform`, commit adds+removes as a
    * delta with the given op tag. CAS like every mutator. */
  private def rewriteMatching(spark: SparkSession, root: String,
                              predicate: org.apache.spark.sql.Column,
                              opName: String)
                             (transform: DataFrame => DataFrame,
                              changes: DataFrame => DataFrame): Long = {
    val fs = fsOf(spark, root)
    val st = head(spark, root)
    val touched = DataSkipping.prune(st.files,
      physicalizeCol(predicate, st.tags), partitionTypes(st.tags))
    if (touched.isEmpty) return st.version // provably nothing to do
    val layouts = touched.map(_.partitionKeys).distinct
    require(layouts.size <= 1,
      s"$opName: inconsistent partition layouts in $root: $layouts")
    val partKeys = layouts.headOption.getOrElse(Seq.empty)
    val touchedDf = readState(spark, root, st.copy(files = touched))
    // normalize partition values on the rewrite output: an update could
    // retype or respell a partition column out from under the string-
    // pinned carry-forward contract
    val kept = normalizePartitionCols(transform(touchedDf), partKeys, st.tags)
    if (opName == "update") // delete cannot introduce violations
      enforceConstraints(kept, st.tags, root, "update result")
    // all rows of every touched file removed: commit removes only (an
    // empty generation dir would be unlistable noise)
    val (entries, gen) =
      if (kept.isEmpty) (Seq.empty[FileEntry], None)
      else {
        val (g, es) = writeGeneration(kept, root, partKeys, st.tags)
        (es, Some(g))
      }
    // a removes-everything commit would leave a file-less table that the
    // design cannot read or upsert (readState demands >= 1 file): refuse
    // with the recovery path spelled out rather than brick the table
    require(entries.nonEmpty || touched.size < st.files.size,
      s"$opName would remove every live row of $root — a full-table clear " +
        "is a rewrite: use write() with the replacement content")
    val cdf = if (cdfEnabled(st.tags))
      writeCdf(spark, root, st.tags, changes(touchedDf)) else None
    val removes = touched.map(_.relPath)
    val v = st.version + 1
    val manifest = DeltaManifest(v, entries, removes, st.tags + (OpTag -> opName), cdf)
    commit(fs, root, staged(root, manifest, gen.toSeq))
  }

  /** Incremental compaction — the auto-OPTIMIZE shape: rewrite ONLY the
    * small-file debt (files under `smallFileMB`, the streaming sink's
    * and fine-grained upserts' residue) into right-sized files, carrying
    * every already-right-sized file forward by reference. Compaction
    * cost tracks the debt, not the table: a 100 TB table with 2 GB of
    * fresh micro-batch files rewrites 2 GB. Within each hive partition
    * the rewrite groups per partition (the small files' rows stay in
    * their partitions); commits as a REWRITE (op tag), so incremental
    * readers emit nothing. No-op (returns current version) when fewer
    * than `minFiles` small files exist — call it on a cadence without
    * wasting commits. */
  def compactSmallFiles(spark: SparkSession, root: String,
                        smallFileMB: Int = 64, targetFileMB: Int = 512,
                        minFiles: Int = 2): Long = {
    require(smallFileMB > 0 && targetFileMB >= smallFileMB,
      s"need 0 < smallFileMB <= targetFileMB, got $smallFileMB/$targetFileMB")
    val st = head(spark, root)
    val small = st.files.filter(_.bytes < smallFileMB * 1024L * 1024L)
    if (small.sizeIs < minFiles) return st.version
    rewrite(spark, root, st, "compactSmallFiles", small, rewriteLayout(root, st, small),
      Sized(targetFileMB), snapshot = true)
  }

  /** One-row table summary (the DESCRIBE DETAIL role): current version,
    * live file count and bytes, generation count, hive partition layout
    * and distinct partition count, declared constraints — driver-side
    * manifest metadata only, no data files touched. */
  def detail(spark: SparkSession, root: String): DataFrame = {
    val st = head(spark, root)
    val layouts = st.files.map(_.partitionKeys).distinct
    val partCols =
      if (st.tags.contains(EvolvedTag)) layoutOf(root, st)
      else layouts.headOption.getOrElse(
        st.tags.get(LayoutTag).map(_.split(',').toSeq.filter(_.nonEmpty))
          .getOrElse(Seq.empty))
    val row = org.apache.spark.sql.Row(
      root, st.version, st.files.size.toLong, st.files.map(_.bytes).sum,
      st.files.map(_.relPath.takeWhile(_ != '/')).distinct.size.toLong,
      partCols.mkString(","),
      st.files.map(_.partitionPath).distinct.size.toLong,
      st.tags.collect { case (k, v) if k.startsWith(ConstraintTagPrefix) =>
        s"${k.stripPrefix(ConstraintTagPrefix)}: $v" }.toSeq.sorted.mkString("; "),
      st.files.count(_.dv.nonEmpty).toLong,
      st.files.flatMap(_.dv).map(_.count).sum,
      // live rows, metadata-only: per-file footer counts minus DV'd
      // positions; honest-NULL when any file lacks counts
      (if (st.files.forall(f => fileLiveRows(f).nonEmpty))
        Long.box(st.files.flatMap(fileLiveRows).sum)
      else null),
      // shallow-clone provenance: the source chain inherited dirs may
      // still resolve against ("" once fully localized or never cloned)
      cloneSources(st.tags).mkString(";"))
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("location", StringType, false),
      StructField("version", LongType, false),
      StructField("num_files", LongType, false),
      StructField("size_bytes", LongType, false),
      StructField("num_generations", LongType, false),
      StructField("partition_columns", StringType, false),
      StructField("num_partitions", LongType, false),
      StructField("constraints", StringType, false),
      StructField("num_dv_files", LongType, false),
      StructField("num_deleted_rows", LongType, false),
      StructField("num_rows", LongType, true),
      StructField("clone_sources", StringType, false)))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(Seq(row)).asJava), schema)
  }

  /** Newest committed version whose manifest's modification time is at
    * or before `epochMs` — the `TIMESTAMP AS OF` resolution rule
    * (Delta's): "the table as it was at 14:00" is the last commit
    * visible by then. Commit times are the manifest files' wall-clock
    * mtimes (best-effort, like DESCRIBE HISTORY's `commit_time`; the
    * protocol itself never depends on them — audit-exact replays should
    * pin VERSIONS). None when every commit is newer than `epochMs` or
    * the log is empty. Vacuumed versions resolve like any time travel:
    * loudly, at read time. */
  def versionAtTime(spark: SparkSession, root: String, epochMs: Long): Option[Long] = {
    val fs = fsOf(spark, root)
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) return None
    // Walk ASCENDING with Delta's monotonicity adjustment: each version's
    // effective time is the max mtime seen so far. Raw mtimes can be
    // non-monotonic (clock skew, copied/restored logs) — a naive
    // newest-first scan could then resolve a version that CONTAINS later
    // commits' changes (v5 mtime 90, v4 mtime 200, query at 150 must not
    // answer v5). Under adjusted times, versions at-or-before the instant
    // form a prefix of the log, so the answer is always causally closed.
    val versions = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".txt"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".txt").toLong).toOption)
      .sorted
    var adjusted = Long.MinValue
    var best: Option[Long] = None
    versions.foreach { v =>
      scala.util.Try(fs.getFileStatus(manifestPath(root, v)).getModificationTime)
        .toOption.foreach { t =>
          adjusted = math.max(adjusted, t)
          // adjusted times only grow: once past the instant, every later
          // version is too — but keep scanning is unnecessary, not wrong;
          // the guard keeps the readRaw cost bounded by the answer prefix
          if (adjusted <= epochMs && readRaw(fs, root, v).nonEmpty) best = Some(v)
        }
    }
    best
  }

  /** `TIMESTAMP AS OF` read: [[readVersion]] at [[versionAtTime]]'s
    * resolution. Fails loudly when no commit predates `epochMs`. */
  def readTimestampAsOf(spark: SparkSession, root: String, epochMs: Long): DataFrame =
    readVersion(spark, root, versionAtTime(spark, root, epochMs).getOrElse(
      sys.error(s"manifest table $root has no commit at or before epoch-ms $epochMs")))

  /** The commit log as a DataFrame (the DESCRIBE HISTORY role): one row
    * per RETAINED version, newest first — version, operation marker,
    * manifest kind, files added/removed by that commit, and the commit
    * file's modification time (best-effort wall clock; the protocol
    * never depends on it). Driver-side metadata read only. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val fs = fsOf(spark, root)
    val dir = new Path(root, ManifestDir)
    val versions: Seq[Long] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(".txt"))
        .flatMap(n => scala.util.Try(n.stripSuffix(".txt").toLong).toOption)
        .sorted(Ordering[Long].reverse)
    val rows = versions.flatMap { v =>
      readRaw(fs, root, v).map { m =>
        val (kind, adds, removes, addEntries, removedPaths) = m match {
          case f: FullManifest  => ("snapshot", f.files.size.toLong, -1L, f.files, Set.empty[String])
          case r: SnapshotRef   => ("snapshot-ref", r.count, -1L, Seq.empty[FileEntry], Set.empty[String])
          case d: DeltaManifest => ("delta", d.adds.size.toLong, d.removes.size.toLong, d.adds, d.removes.toSet)
        }
        // operation metrics from the listed entries' footer row counts
        // (honest-NULL when any entry predates per-file rows, or for a
        // snapshot-ref whose entries live in the columnar sidecar —
        // metrics here stay a driver-side fold, never a sidecar read).
        // A MoR delete/merge delta re-ADDS the files it repointed onto a
        // new deletion vector (same relPath in adds and removes); their
        // `rows` is the file's full pre-DV count, not new data — counting
        // them would report a 10-row MoR delete as ~1M rows_added, so DV
        // repoints are excluded from the sum.
        val newEntries = addEntries.filterNot(a => removedPaths.contains(a.relPath))
        val rowsAdded: Any =
          if (newEntries.exists(_.rows < 0)) null
          else kind match {
            case "delta" => Long.box(newEntries.map(_.rows).sum)
            // a snapshot LISTS carried files alongside new ones: the sum
            // would report the whole table as "added" — only v1 (where
            // every listed file is new) is honest without diffing v-1
            case "snapshot" if v == 1L => Long.box(addEntries.map(_.rows).sum)
            case _ => null
          }
        val ts = scala.util.Try(
          fs.getFileStatus(manifestPath(root, v)).getModificationTime).getOrElse(0L)
        org.apache.spark.sql.Row(v, m.tags.getOrElse(OpTag, null), kind, adds,
          if (removes < 0) null else Long.box(removes),
          new java.sql.Timestamp(ts), rowsAdded)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType, true),
      org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType, false),
      org.apache.spark.sql.types.StructField("files_listed", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("removes", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("commit_time", org.apache.spark.sql.types.TimestampType, false),
      org.apache.spark.sql.types.StructField("rows_added", org.apache.spark.sql.types.LongType, true)))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** Roll the table BACK to a retained earlier version (the Delta
    * `RESTORE TABLE ... TO VERSION AS OF` role) by committing a NEW
    * version whose live-file list is the target version's — history is
    * append-only, so the restore is itself an auditable commit and can
    * be restored away from again. Zero data movement: generations are
    * immutable and the target's files are still on disk (its manifest
    * still resolves, which is exactly the precondition checked), so this
    * re-lists them — at 100 TB a metadata-only operation.
    *
    * Tag posture: CURRENT tags are kept (constraints, stream replay
    * watermarks — rewinding a watermark would re-open double-apply,
    * which [[validateTags]] refuses by design); only the file list time
    * travels. Commits op "restore" as a SNAPSHOT, so incremental readers
    * see resurrected files as adds (at-least-once, never silently
    * dropped) — but reverted rows carry their ORIGINAL ordering values,
    * which keep-last consumers cannot apply backwards: treat op
    * "restore" windows as re-bootstrap boundaries, exactly like
    * "overwrite" (the model walk pins this recipe). Restoring to the
    * current version is a no-op. */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    val fs = fsOf(spark, root)
    val st = head(spark, root)
    if (version == st.version) return st.version
    require(version < st.version,
      s"restore: target version $version is newer than the current ${st.version}")
    val target = resolveState(spark, root, version).getOrElse(sys.error(
      s"manifest table $root has no committed version $version (vacuumed or never " +
        "committed) — restore needs the target's manifest chain intact"))
    val v = st.version + 1
    val (manifest, sidecar) = mkSnapshot(spark, root, v, target.files,
      st.tags + (OpTag -> "restore"))
    commit(fs, root, staged(root, manifest, Nil, sidecar))
  }

  /** Incremental OPTIMIZE (the Delta `OPTIMIZE [WHERE]` role): bin-pack
    * the SMALL files — and fold live deletion vectors — into
    * ~`targetFileMB` files, leaving already-compacted files untouched
    * and carried by reference. Optionally scoped by a PARTITION-column
    * `predicate` (data columns refuse loudly: scoping must be exact,
    * never "conservatively more"). This is the steady-state maintenance
    * op at 100 TB — cost is O(small files in scope), the commit is a
    * DELTA manifest, and a repeat run is a version-unchanged no-op —
    * where [[compact]] is the deliberate full rewrite (every file, FULL
    * snapshot; also what localizes a shallow clone wholesale).
    *
    * Eligibility: bytes < target/2 (Delta's half-target bin-packing
    * rule) or a live DV (folding it returns reads to plain scans and
    * statsOnly to exactness). A partition with one small DV-less file
    * is skipped — rewriting it alone gains nothing. The commit is
    * guarded by an exact row-conservation check (footer rows of the new
    * files vs the manifest's live-row counts) — a torn rewrite aborts
    * loudly and deletes its generation, it never commits. Op "rewrite"
    * = data-identical: incremental/CDC readers skip it. */
  def optimize(spark: SparkSession, root: String,
               predicate: Option[org.apache.spark.sql.Column] = None,
               targetFileMB: Int = 512,
               zOrderBy: Seq[String] = Nil): Long = {
    require(targetFileMB > 0, s"optimize: targetFileMB must be > 0, got $targetFileMB")
    val st = head(spark, root)
    val scoped = predicate match {
      case None => st.files
      case Some(p) =>
        val phys = physicalizeCol(p, st.tags)
        val partCols = layoutOf(root, st).toSet
        val refs = org.apache.spark.sql.graftshim.ColumnExpr.expression(phys)
          .collect { case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name }
        val bad = refs.filterNot(partCols.contains)
        require(bad.isEmpty,
          s"optimize: WHERE may reference partition columns only " +
            s"(${partCols.toSeq.sorted.mkString(", ")}); got ${bad.mkString(", ")} — " +
            "scoping must select exact partitions, use compact() for a full rewrite")
        DataSkipping.prune(st.files, phys, partitionTypes(st.tags))
    }
    // ZORDER BY changes the contract from bin-packing to CLUSTERING the
    // scope (Delta's OPTIMIZE ... ZORDER BY): clustering only the small
    // files would interleave sorted and unsorted data, so EVERY scoped
    // file rewrites — which is exactly why the partition scope exists
    // (cluster yesterday's partition nightly, never the 100 TB table)
    val eligible =
      if (zOrderBy.nonEmpty) scoped else packable(scoped, targetFileMB * 1024L * 1024L)
    if (eligible.isEmpty) return st.version // nothing worth packing
    // post spec-evolution the rewrite lands the CURRENT spec — an
    // incremental OPTIMIZE physicalizes exactly the partitions it packs
    rewrite(spark, root, st, "optimize", eligible, rewriteLayout(root, st, eligible),
      if (zOrderBy.nonEmpty) Ordered(targetFileMB, zOrderBy, zOrder = true)
      else Sized(targetFileMB),
      snapshot = false)
  }

  /** [[optimize]]'s bin-packing scope: files under half the target size
    * or carrying a live DV, in partitions where packing gains something
    * (two or more such files, or any DV). */
  private def packable(files: Seq[FileEntry], targetBytes: Long): Seq[FileEntry] =
    files.filter(f => f.bytes < targetBytes / 2 || f.dv.nonEmpty)
      .groupBy(_.partitionPath).valuesIterator
      .filter(fs0 => fs0.size >= 2 || fs0.exists(_.dv.nonEmpty))
      .flatten.toSeq

  /** Clustered compaction (the Delta OPTIMIZE ZORDER / Iceberg
    * sort-order role, linear form): rewrite the live file set
    * RANGE-PARTITIONED and sorted on `sortCols`, so each output file
    * covers a DISJOINT slice of the sort key space — after which
    * [[readWhere]]'s min/max skipping on those columns touches only the
    * files whose slice intersects the predicate. This is what makes
    * data skipping effective on UNPARTITIONED tables (and, within each
    * hive partition, on secondary columns): freshly upserted generations
    * have overlapping ranges per file; clustering collapses the overlap.
    *
    * Same CAS commit discipline as [[compact]]: full snapshot, pointer
    * advance, tags preserved, orphan generation deleted on a lost race.
    * Sort is per-output-file (`sortWithinPartitions`), not global — no
    * single-reducer funnel at any table size; skew in the sort key is
    * absorbed by the range partitioner's sampling. `zOrder` replaces
    * the linear multi-column sort with the interleaved Morton key, so
    * skipping bites on EVERY clustered column, not just the prefix. */
  def cluster(spark: SparkSession, root: String, sortCols: Seq[String],
              targetFileMB: Int = 512,
              zOrder: Boolean = false): Long = {
    require(sortCols.nonEmpty, "cluster: sortCols must be non-empty")
    require(targetFileMB > 0, s"cluster: targetFileMB must be > 0, got $targetFileMB")
    val st = head(spark, root)
    val layouts = st.files.map(_.partitionKeys).distinct
    require(layouts.size <= 1,
      s"cluster: inconsistent partition layouts in $root: $layouts")
    rewrite(spark, root, st, "cluster", st.files, layouts.headOption.getOrElse(Nil),
      Ordered(targetFileMB, sortCols, zOrder), snapshot = true)
  }

  /** The data-identical rewrite behind every maintenance verb: `scope`'s
    * live rows (deletion vectors folded in, rename/drop mappings
    * applied) through [[readState]], written by [[writeGeneration]] in
    * `shape` under `partKeys`, committed as op "rewrite" — which
    * incremental and change-feed readers skip. A `snapshot` lists the
    * files outside `scope` plus the new ones; otherwise a delta replaces
    * `scope`. Refused without committing, its generation deleted: a
    * result whose footer rows differ from the manifest's live-row counts
    * (a torn read — non-deterministic source or concurrent mutation),
    * and one that would leave the table without a live file. A scope
    * the manifest proves row-less writes nothing. */
  private def rewrite(spark: SparkSession, root: String, st: State, verb: String,
                      scope: Seq[FileEntry], partKeys: Seq[String], shape: Shape,
                      snapshot: Boolean): Long = {
    val fs = fsOf(spark, root)
    val bytes = scope.map(_.bytes).sum
    val expected = scope.map(fileLiveRows)
    val want = if (expected.forall(_.isDefined)) Some(expected.flatten.sum) else None
    val (gen, entries) =
      if (want.contains(0L)) (None, Seq.empty[FileEntry])
      else {
        val (g, es) = writeGeneration(readState(spark, root, st.copy(files = scope)),
          root, partKeys, st.tags, shape, bytes)
        (Some(g), es)
      }
    def refuse(e: RuntimeException): Nothing = {
      discard(fs, gen.map(new Path(root, _)).toSeq)
      throw e
    }
    val got = entries.map(_.rows).sum
    if (want.exists(_ != got) && entries.forall(_.rows >= 0))
      refuse(new RuntimeException(s"$verb($root): rewrite produced $got rows where " +
        s"the manifest records ${want.get} live rows — torn read (non-deterministic " +
        "source or concurrent mutation); aborting without committing"))
    if (entries.isEmpty && scope.size == st.files.size)
      refuse(new IllegalArgumentException(s"$verb would leave $root without a " +
        "live file — a full-table clear is a rewrite: use write() with the " +
        "replacement content"))
    val v = st.version + 1
    val tags = st.tags + (OpTag -> "rewrite")
    val (manifest, sidecar) =
      if (snapshot) {
        val gone = scope.map(_.relPath).toSet
        mkSnapshot(spark, root, v, st.files.filterNot(f => gone(f.relPath)) ++ entries, tags)
      } else (DeltaManifest(v, entries, scope.map(_.relPath), tags, None), None)
    commit(fs, root, staged(root, manifest, gen.toSeq, sidecar))
    log.info(s"$verb($root): rewrote ${scope.size} files ($bytes bytes) into " +
      s"${entries.size}; ${st.files.size - scope.size} carried by reference")
    v
  }

  private val StreamBatchTag = "stream_batch"

  /** Root-relative dir where the DSv2 streaming write stages epoch
    * files pre-commit — ONE constant shared by the writer
    * ([[graft.sources.v2.GraftStreamingWrite]]) and vacuum's orphan
    * sweep, so a rename cannot silently decouple them. */
  private[graft] val StreamStagingDir = "_staging"

  /** Apply one streaming micro-batch idempotently: the batch commits as
    * an upsert tagged `stream_batch.<sinkId> = batchId`; a REPLAYED
    * batch (id ≤ the last applied id for THAT sink) is skipped, so
    * restart-replay can never double-apply. The watermark is per-sink
    * (Delta's txnAppId pattern), not global: a different logical stream
    * — or the same one restarted with a FRESH checkpoint, whose batch
    * ids restart at 0 — uses its own sinkId and is never silently
    * swallowed by another sink's high-water mark. Returns true if the
    * batch was applied, false if recognized as a replay (or empty). */
  private[graft] def commitStreamBatch(spark: SparkSession, batch: DataFrame,
                                       batchId: Long, root: String,
                                       keys: Seq[String], order: String,
                                       partitionCols: Seq[String],
                                       sinkId: String,
                                       checkpointInterval: Int = DefaultCheckpointInterval): Boolean = {
    require(sinkId.nonEmpty && !sinkId.exists(c => c == '\t' || c == '\n'),
      s"sinkId must be a non-empty separator-free identifier, got '$sinkId'")
    val tagKey = s"$StreamBatchTag.$sinkId"
    val prior = current(spark, root)
    val applied = prior.flatMap(_.tags.get(tagKey))
      .flatMap(v => scala.util.Try(v.toLong).toOption)
    if (applied.exists(_ >= batchId)) {
      log.info(s"manifest stream sink $root [$sinkId]: batch $batchId already " +
        s"applied (last=${applied.get}) — replay skipped")
      false
    } else if (batch.isEmpty) {
      // no-data micro-batches happen routinely (watermark ticks); an
      // empty generation would commit a file-less manifest
      false
    } else {
      // reuse the watermark read as the CAS base — one manifest-log
      // listing per micro-batch, not two
      upsertFrom(spark, batch, root, keys, order, partitionCols,
        tags = Map(tagKey -> batchId.toString),
        mergeSchema = false, prior = prior,
        checkpointInterval = checkpointInterval)
      true
    }
  }

  /** Apply one streaming micro-batch as an idempotent APPEND — the
    * no-keys sibling of [[commitStreamBatch]] for append-only streams
    * (event logs, CDC landings): same per-sink replay watermark, but the
    * batch commits through [[append]]'s O(batch) add-only delta instead
    * of a keyed merge — at any table size a micro-batch writes its own
    * rows plus a delta manifest, never touching live files. The FIRST
    * batch seeds the table (schema = the batch's). Returns true when
    * applied, false on a recognized replay or an empty batch. */
  private[graft] def commitStreamAppend(spark: SparkSession, batch: DataFrame,
                                        batchId: Long, root: String,
                                        partitionCols: Seq[String],
                                        sinkId: String,
                                        checkpointInterval: Int = DefaultCheckpointInterval): Boolean = {
    require(sinkId.nonEmpty && !sinkId.exists(c => c == '\t' || c == '\n'),
      s"sinkId must be a non-empty separator-free identifier, got '$sinkId'")
    val tagKey = s"$StreamBatchTag.$sinkId"
    val prior = current(spark, root)
    val applied = prior.flatMap(_.tags.get(tagKey))
      .flatMap(v => scala.util.Try(v.toLong).toOption)
    if (applied.exists(_ >= batchId)) {
      log.info(s"manifest stream sink $root [$sinkId]: batch $batchId already " +
        s"applied (last=${applied.get}) — replay skipped")
      false
    } else if (batch.isEmpty) {
      false
    } else {
      appendFrom(spark, batch, root,
        checkpointInterval = checkpointInterval,
        tags = Map(tagKey -> batchId.toString),
        partitionCols = partitionCols, prior = prior)
      true
    }
  }

  /** Idempotent BATCH commit — the streaming sink's per-sink watermark
    * (Delta's txnAppId/txnVersion pattern) exposed for plain batch jobs:
    * an orchestrated task that may RE-RUN (retry, backfill, at-least-once
    * scheduler) commits its keyed upsert tagged with its own
    * (`appId`, `appVersion`); a replay of the same or an older version is
    * recognized from the atomically-committed watermark and skipped.
    * Returns true when applied, false on a recognized replay (or empty
    * batch). Versions must advance monotonically per appId. */
  def idempotentUpsert(spark: SparkSession, batch: DataFrame, root: String,
                       keys: Seq[String], order: String,
                       appId: String, appVersion: Long,
                       partitionCols: Seq[String] = Nil,
                       checkpointInterval: Int = DefaultCheckpointInterval): Boolean = {
    require(appId.nonEmpty && !appId.exists(c => c == '\t' || c == '\n'),
      s"appId must be a non-empty separator-free identifier, got '$appId'")
    commitStreamBatch(spark, batch, appVersion, root, keys, order,
      partitionCols, s"app.$appId", checkpointInterval)
  }

  /** Exactly-once streaming sink into a manifest table. Structured
    * Streaming's foreachBatch is at-least-once (a batch that committed
    * to the sink but not to the checkpoint REPLAYS on restart — the
    * standard double-append hazard of parquet foreachBatch sinks); here
    * each micro-batch commits atomically WITH its batch id in the
    * manifest tags, so the replayed batch is recognized and skipped and
    * end-to-end the sink is exactly-once.
    *
    * `sinkId` names the logical stream (Delta's txnAppId): keep it
    * stable across restarts OF THE SAME checkpoint; when starting over
    * with a fresh checkpoint (batch ids restart at 0), use a NEW sinkId
    * or the old watermark will classify the new batches as replays.
    * Single-writer per (table, sinkId) — the streaming query itself
    * serializes batches; a concurrent OTHER writer surfaces as
    * [[ConcurrentCommitException]] and fails the query loudly rather
    * than losing either side's commit. */
  def streamUpsertSink(stream: DataFrame, root: String, checkpoint: String,
                       keys: Seq[String], order: String, sinkId: String,
                       partitionCols: Seq[String] = Nil,
                       checkpointInterval: Int = DefaultCheckpointInterval,
                       autoCompactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = commitStreamBatch(batch.sparkSession, batch, batchId, root,
          keys, order, partitionCols, sinkId, checkpointInterval)
        // auto-OPTIMIZE cadence: every Nth APPLIED batch folds the
        // sink's small-file residue back into right-sized files — a
        // REWRITE commit (incremental readers skip it), best-effort (a
        // lost race never fails the stream; the debt waits for the next
        // cadence hit). 0 disables.
        if (applied && autoCompactEvery > 0 && batchId % autoCompactEvery == 0)
          try compactSmallFiles(batch.sparkSession, root)
          catch {
            case _: ConcurrentCommitException =>
              log.info(s"streamUpsertSink($sinkId): auto-compact lost a CAS race — " +
                "small-file debt deferred to the next cadence")
          }
        ()
      }
      .start()

  /** Manifest integrity check (the fsck role): verify every live file
    * reference against the filesystem — existence and recorded size —
    * resolving through the clone source chain like any read. One
    * `listStatus` per generation/DV dir (never a per-file RPC), driver
    * side. Returns one row per PROBLEM (relPath, dir, problem,
    * expected_bytes, actual_bytes) — empty means healthy. With
    * `repair = true`, missing-file entries (and files whose deletion
    * vector dataset is gone) are dropped from the manifest in one
    * auditable delta commit (op "fsck-repair") — data already lost
    * stops failing every scan; size MISMATCHES are never auto-repaired
    * (the bytes are there, losing the reference would be the damage). */
  def fsck(spark: SparkSession, root: String,
           repair: Boolean = false): DataFrame = {
    val st = head(spark, root)
    val sources = cloneSources(st.tags)
    val dirs = (st.files.map(_.relPath.takeWhile(_ != '/')) ++
      st.files.flatMap(_.dv.map(_.dir))).distinct
    // None = the dir could not be LISTED (transient FS/permission error —
    // says nothing about the files inside); Some(empty) = the dir was
    // positively confirmed absent (every file in it is missing). Only the
    // latter may feed auto-repair: dropping references because a listing
    // RPC failed would permanently lose intact data.
    val listed: Map[String, Option[Map[String, Long]]] = dirs.map { d =>
      d -> (try {
        val base = dirBase(spark, root, sources, d)
        val fs = fsOf(spark, base)
        val qualBase = fs.makeQualified(new Path(base)).toString
        // recursive: hive-partitioned generations nest k=v dirs
        // (permission-lazy walk on local fs — see [[listLeafFiles]])
        Some(listLeafFiles(fs, new Path(base, d)).map(f =>
          f.getPath.toString.stripPrefix(qualBase + "/") -> f.getLen).toMap)
      } catch {
        case _: java.io.FileNotFoundException => Some(Map.empty[String, Long])
        case scala.util.control.NonFatal(_)   => None
      })
    }.toMap
    val unlistable = dirs.filter(listed(_).isEmpty).sorted
    val problems = unlistable.map(d => ("", d, "unlistable", -1L, -1L)) ++
      st.files.flatMap { f =>
        val gen = f.relPath.takeWhile(_ != '/')
        val fileProblem = listed(gen).flatMap { m =>
          m.get(f.relPath) match {
            case None => Some((f.relPath, gen, "missing", f.bytes, -1L))
            case Some(len) if len != f.bytes =>
              Some((f.relPath, gen, "size-mismatch", f.bytes, len))
            case _ => None
          }
        }
        val dvProblem = f.dv.flatMap { d =>
          listed(d.dir) match {
            case Some(m) if m.isEmpty => Some((f.relPath, d.dir, "dv-missing", d.count, -1L))
            case _                    => None
          }
        }
        fileProblem.toSeq ++ dvProblem.toSeq
      }
    if (repair) {
      // a repair run must not race a flaky filesystem: with any dir
      // unlistable, "missing" verdicts elsewhere this pass are suspect
      // too (the same outage may have produced them) — fail the run and
      // let the operator retry when listing succeeds
      require(unlistable.isEmpty,
        s"fsck($root): cannot auto-repair — dir(s) ${unlistable.mkString(", ")} " +
          "failed to LIST (transient FS error, not confirmed absence); " +
          "re-run repair when the filesystem answers")
      val dead = problems.collect {
        case (rel, _, p, _, _) if p == "missing" || p == "dv-missing" => rel
      }.toSet
      if (dead.nonEmpty) {
        require(dead.size < st.files.size,
          s"fsck: EVERY live file of $root is missing — refusing to repair " +
            "into an unreadable zero-file table; restore from a backup or " +
            "an earlier version")
        val v = commit(fsOf(spark, root), root, Staged(DeltaManifest(st.version + 1,
          Seq.empty, dead.toSeq.sorted, st.tags + (OpTag -> "fsck-repair"), None), Nil))
        log.warn(s"fsck($root): v$v dropped ${dead.size} unreadable file " +
          "reference(s) — the data they named is GONE")
      }
    }
    import spark.implicits._
    problems.toDF("relPath", "dir", "problem", "expected_bytes", "actual_bytes")
  }

  /** Time-based retention ([[vacuum]] with the knob ops teams actually
    * set): retain every version committed within `retainMs` of now (by
    * the manifest file's mtime — best-effort wall clock, floor of one
    * version always kept), drop the rest. Same chain-preserving
    * guarantees as [[vacuum]]. */
  def vacuumRetain(spark: SparkSession, root: String, retainMs: Long,
                   deleteOrphans: Boolean = false,
                   orphanGraceMs: Long = DefaultOrphanGraceMs,
                   dryRun: Boolean = false): Int = {
    require(retainMs >= 0, s"vacuumRetain: retainMs must be >= 0, got $retainMs")
    val fs = fsOf(spark, root)
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) return 0
    val cutoff = System.currentTimeMillis() - retainMs
    val committed = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".txt"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".txt").toLong).toOption)
      .sorted(Ordering[Long].reverse)
      .filter(v => readRaw(fs, root, v).nonEmpty)
    if (committed.isEmpty) return 0
    val recent = committed.count(v =>
      scala.util.Try(fs.getFileStatus(manifestPath(root, v)).getModificationTime)
        .toOption.exists(_ >= cutoff))
    vacuum(spark, root, keep = math.max(1, recent), deleteOrphans, orphanGraceMs,
      dryRun)
  }

  /** Drop COMMITTED manifests older than the newest `keep` committed
    * ones and delete generation dirs they referenced that no kept
    * manifest still references. Sentinel-less corpse manifests never
    * count toward `keep` (a corpse at the head would otherwise displace
    * the newest real commit from the kept set — total table loss) and
    * are never deleted here ([[claimOrRecover]] owns corpse recovery).
    *
    * `deleteOrphans = true` additionally removes generation dirs
    * referenced by NO manifest at all (writers that crashed before their
    * claim). Only safe when no writer is in flight — an in-flight
    * writer's freshly written generation is indistinguishable from an
    * orphan. Returns the number of generation dirs deleted.
    *
    * Delta-chain preservation: a kept version may be a delta, so the
    * retention FLOOR is the newest snapshot at-or-below the oldest kept
    * version — every manifest from the floor up is retained (the kept
    * versions resolve through them), and only committed manifests BELOW
    * the floor are dropped. v1 is always a snapshot, so a floor always
    * exists. If the `_last_checkpoint` pointer named a dropped version
    * it is refreshed to the newest retained snapshot. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
             deleteOrphans: Boolean = false,
             orphanGraceMs: Long = DefaultOrphanGraceMs,
             dryRun: Boolean = false): Int = {
    require(keep >= 1, s"vacuum: keep must be >= 1, got $keep")
    require(orphanGraceMs >= 0, s"vacuum: orphanGraceMs must be >= 0, got $orphanGraceMs")
    val fs = fsOf(spark, root)
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) return 0
    // one read per manifest file; corpses drop out (never deleted here,
    // never counted toward keep)
    val raws: Seq[Manifest] = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".txt"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".txt").toLong).toOption)
      .sorted(Ordering[Long].reverse)
      .flatMap(v => readRaw(fs, root, v))
    if (raws.isEmpty) return 0
    val byVersion = raws.map(m => m.version -> m).toMap
    def resolveIn(v: Long): Option[State] =
      resolveState(byVersion.get(_), loadRefFiles(spark, root, _), v, root)
    val keptVersions = raws.take(keep).map(_.version)
    val floor: Long = raws
      .collect { case m if isSnapshot(m) && m.version <= keptVersions.min => m.version }
      .maxOption
      .getOrElse {
        log.warn(s"vacuum($root): no snapshot at or below v${keptVersions.min} — " +
          "retaining the entire log")
        return 0
      }
    val (retained, dropped) = raws.partition(_.version >= floor)
    // resolved file sets: retained states must resolve (their chain is
    // intact by construction); dropped states resolve through the full
    // in-memory map BEFORE anything is deleted
    val retainedStates = retained.map(_.version).flatMap(resolveIn)
    // a retained version that fails to resolve — e.g. a TRANSIENT read
    // error on a columnar sidecar — must abort the whole vacuum: its
    // generations would silently drop out of liveGens and this method
    // would DELETE files the committed head still references. Readers
    // may degrade softly; a deleter may not.
    require(retainedStates.size == retained.size,
      s"vacuum($root): ${retained.size - retainedStates.size} retained version(s) " +
        "failed to resolve (transient read error or corruption) — refusing to delete anything")
    val droppedStates = dropped.map(_.version).flatMap(resolveIn)
    // reclamation unit = top-level dirs a state references: generation
    // dirs (from rel paths), deletion-vector datasets (from dv refs),
    // and the bloom index dataset (from the tag)
    def gens(sts: Seq[State]): Set[String] =
      sts.flatMap(st => st.files.flatMap(f =>
        f.relPath.takeWhile(_ != '/') +: f.dv.map(_.dir).toSeq) ++
        st.tags.get(BloomIndexTag)).toSet
    // change-feed datasets are referenced by their DELTA manifest (not
    // by resolved states): live with the manifest, dead with it
    def cdfDirs(ms: Seq[Manifest]): Set[String] =
      ms.flatMap(_.cdf.map(_._1)).toSet
    val liveGens = gens(retainedStates) ++ cdfDirs(retained)
    val deadGens = (gens(droppedStates) ++ cdfDirs(dropped)) -- liveGens
    // DRY RUN: resolve and count exactly what a real run would reclaim,
    // delete and heal NOTHING — the operator-safety preview
    deadGens.foreach { g =>
      log.info(s"vacuum($root): ${if (dryRun) "DRY RUN would delete" else "deleting"} " +
        s"unreferenced generation $g")
      if (!dryRun) fs.delete(new Path(root, g), true)
    }
    if (!dryRun) {
      dropped.foreach { m =>
        fs.delete(manifestPath(root, m.version), false)
        m match {
          case r: SnapshotRef =>
            val refDir = r.refDir
            // the dropped stub was the sidecar's only committed reference
            fs.delete(new Path(root, s"$ManifestDir/$refDir"), true)
          case _ => ()
        }
      }
      // heal a pointer that named a dropped snapshot (readers would fall
      // back to listing forever otherwise)
      if (readPointer(fs, root).exists(_ < floor))
        retained.collect { case m if isSnapshot(m) => m.version }.maxOption
          .foreach(writePointer(fs, root, _))
    }
    val orphans: Set[String] =
      if (!deleteOrphans) Set.empty
      else {
        // AGE GATE (Delta-style retention): a writer in flight writes its
        // gen-/dv-/bloomidx-/ckpt- dir BEFORE its claim — to a concurrent
        // vacuum that dir is indistinguishable from a crash orphan. Only
        // dirs whose newest mtime predates `orphanGraceMs` are deleted,
        // so an in-flight writer younger than the grace window can never
        // lose its pre-claim data to this sweep. (A writer stalled PAST
        // the grace window remains the documented residual — pick the
        // window above the longest plausible write+commit.)
        val cutoff = System.currentTimeMillis() - orphanGraceMs
        def agedOut(p: Path): Boolean =
          scala.util.Try {
            val st0 = fs.getFileStatus(p)
            // a dir's own mtime can predate its newest child (object
            // stores, some local FS): take the max over direct children
            val newest = (st0.getModificationTime +:
              (if (st0.isDirectory)
                 fs.listStatus(p).toSeq.map(_.getModificationTime)
               else Seq.empty)).max
            newest <= cutoff
          }.getOrElse(false) // unreadable → assume in flight, keep
        val onDisk = fs.listStatus(new Path(root)).toSeq
          .map(_.getPath.getName)
          .filter(n => n.startsWith("gen-") || n.startsWith("dv-") ||
            n.startsWith("bloomidx-") || n.startsWith("cdf-")).toSet
        // dropped's dead gens/cdf dirs already handled above
        val refd = liveGens ++ gens(droppedStates) ++ cdfDirs(dropped)
        val genOrphans = (onDisk -- refd -- deadGens)
          .filter(g => agedOut(new Path(root, g))).tapEach { g =>
          log.info(s"vacuum($root): ${if (dryRun) "DRY RUN would delete" else "deleting"} " +
            s"ORPHAN generation $g (no manifest references it)")
          if (!dryRun) fs.delete(new Path(root, g), true)
        }.toSet
        // sidecars from writers that crashed between sidecar write and
        // claim (or lost the claim before their cleanup ran)
        val refdCkpts = raws.collect { case r: SnapshotRef => r.refDir }.toSet
        val ckptOrphans = fs.listStatus(new Path(root, ManifestDir)).toSeq
          .map(_.getPath.getName).filter(_.startsWith("ckpt-")).toSet
          .diff(refdCkpts)
          .filter(c => agedOut(new Path(root, s"$ManifestDir/$c"))).tapEach { c =>
            log.info(s"vacuum($root): ${if (dryRun) "DRY RUN would delete" else "deleting"} " +
              s"ORPHAN snapshot sidecar $c")
            if (!dryRun) fs.delete(new Path(root, s"$ManifestDir/$c"), true)
          }.toSet
        // streaming-write staging (v2.GraftStreamingWrite): epoch dirs
        // self-heal on checkpoint restart (the replayed epoch's commit
        // deletes its dir), so anything still here past the grace
        // window is from a query that crashed and never came back
        val stagingOrphans = {
          val sdir = new Path(root, StreamStagingDir)
          if (!fs.exists(sdir)) Set.empty[String]
          else fs.listStatus(sdir).toSeq.flatMap { sink =>
            fs.listStatus(sink.getPath).toSeq
              .filter(e => agedOut(e.getPath)).map { e =>
                log.info(s"vacuum($root): ${if (dryRun) "DRY RUN would delete" else "deleting"} " +
                  s"ORPHAN stream staging ${e.getPath}")
                if (!dryRun) fs.delete(e.getPath, true)
                s"$StreamStagingDir/${sink.getPath.getName}/${e.getPath.getName}"
              }
          }.toSet
        }
        genOrphans ++ ckptOrphans ++ stagingOrphans
      }
    deadGens.size + orphans.size
  }
}
