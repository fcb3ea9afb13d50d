package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Base64, UUID}

import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/**
 * The one commit seam of a [[LakeTable]]: its manifest log under
 * `root/_commits` — the encoding of a version, its decoding, and the
 * hard-link CAS (compare-and-swap) that publishes it. Every write publishes
 * through one of two modes:
 *
 *  - [[pinned]]: the write was computed against version `v0` (merge,
 *    copy-on-write and merge-on-read DML, replace, optimize, compact,
 *    create/convert/clone at `v0 = -1`). It publishes as `v0 + 1` or not
 *    at all: a lost CAS throws [[ConcurrentWriteException]] and the caller
 *    recomputes, unless the optional rebase step accepts the winner as an
 *    equivalent base (a partition-scoped rewrite whose partitions nobody
 *    touched).
 *  - [[latest]]: the write is re-derived from the latest version on each
 *    attempt and a lost CAS retries (append, overwrite without an expected
 *    version, restore, the metadata-only DDL and ledger commits).
 *
 * In both the writer names only what changes: the next manifest is
 * `base.copy(...)`, and the seam stamps the per-commit fields (`op`,
 * `cdfDir`, the commit clock) and applies the one transaction-ledger rule
 * ([[Commit.withTxnLedger]]) to the write's `txn`, so a manifest field a
 * writer does not name is carried, never dropped.
 *
 * The commit clock is read inside each publish attempt, before the CAS:
 * the `ts=` it stamps is part of the staged bytes the link publishes, and a
 * retried attempt stamps a fresh reading, so a version's clock is read
 * after the write was computed and before it was published (time travel
 * by timestamp resolves over these clocks). An injected clock
 * ([[LakeTable.withClock]]) therefore runs between a write's computation
 * and its CAS on every publish — which is how `ConcurrencySpec` makes a
 * concurrent commit win the race of any write.
 */
private[lake] final class Commit(root: String, clock: () => Long) {
  import Commit._

  private def versionFile: Path = Paths.get(root, "_VERSION")
  private def commitsDir: Path = Paths.get(root, "_commits")
  private def manifestFile(v: Long): Path = commitsDir.resolve(f"v$v%09d.mf")

  def exists: Boolean = Files.exists(versionFile) || Files.exists(manifestFile(0))

  /** Whether version `v`'s manifest file is present. */
  def has(v: Long): Boolean = Files.exists(manifestFile(v))

  /** Newest committed version: the `_VERSION` cache, probed forward over
   *  `_commits` — a concurrent writer that published but hasn't refreshed
   *  the pointer yet is still visible. */
  def currentVersion: Long = {
    require(exists, s"LakeTable at $root does not exist")
    var v =
      if (Files.exists(versionFile))
        new String(Files.readAllBytes(versionFile), StandardCharsets.UTF_8).trim.toLong
      else -1L
    while (Files.exists(manifestFile(v + 1))) v += 1
    require(v >= 0, s"LakeTable at $root has a pointer but no manifest")
    v
  }

  /** The latest version and its manifest, read as one pair: the base a
   *  pinned write computes against. */
  def pin(): (Long, Manifest) = { val v = currentVersion; (v, read(v)) }

  /** Publish `edit(base)` as version `v0 + 1`, where `base` is the manifest
   *  the write was computed against. A lost CAS throws the
   *  [[ConcurrentWriteException]]; with a `rebase` step it instead reads
   *  the winner and, when `rebase` accepts it, publishes `edit(winner)` on
   *  top of it. Returns false only when a rebasing write finds its `txn`
   *  already committed by the winner (nothing was published). */
  def pinned(op: String, v0: Long, base: Manifest, cdfDir: Option[String] = None,
      txn: Option[(String, Long)] = None,
      rebase: Option[Manifest => Boolean] = None)(edit: Manifest => Manifest): Boolean = {
    @scala.annotation.tailrec
    def attempt(b: Manifest, v: Long): Boolean =
      if (publish(stamp(edit(b), op, cdfDir, txn), v + 1)) true
      else rebase match {
        case Some(accepts) =>
          val (vN, mN) = pin()
          if (txnAppliedIn(mN, txn)) false
          else if (accepts(mN)) attempt(mN, vN)
          else throw lostRace(op, v0, v + 1)
        case None => throw lostRace(op, v0, v + 1)
      }
    attempt(base, v0)
  }

  /** Publish `edit(latest)` on top of the latest version, re-deriving it
   *  after each lost race. The table must exist, unless `create`: then a
   *  missing table publishes `edit(`[[Empty]]`)` as version 0. `edit`
   *  throws [[Commit.Unchanged]] to publish nothing; returns whether a
   *  version was published. */
  def latest(op: String, txn: Option[(String, Long)] = None, create: Boolean = false)(
      edit: Manifest => Manifest): Boolean = {
    var attempts = 0
    var done = false
    try {
      while (!done) {
        // snapshot the version ONCE and read THAT manifest: base and CAS
        // slot must come from the same version, or a racer committing in
        // between would make us publish a stale base one slot later
        val (v, base) = if (create && !exists) (-1L, Empty) else pin()
        done = publish(stamp(edit(base), op, None, txn), v + 1)
        attempts += 1
        if (!done && attempts >= 100)
          throw new ConcurrentWriteException(
            s"lost $attempts consecutive commit races at $root")
      }
      true
    } catch { case Unchanged => false }
  }

  private def lostRace(op: String, v0: Long, lost: Long) = new ConcurrentWriteException(
    s"$op computed against version $v0 of $root, but a concurrent " +
      s"writer committed v$lost first — recompute and retry")

  private def b64e(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def b64d(s: String): String =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** Resolved manifests by version. Committed manifest files are immutable
   *  (the CAS link publishes exactly one file per version, never rewritten),
   *  so cached resolutions can never go stale — the cache only bounds the
   *  repeated IO of delta-chain resolution. Kept small: snapshot reads only
   *  ever need the chain back to the nearest checkpoint. */
  private val mfCache = new java.util.concurrent.ConcurrentHashMap[Long, Manifest]()

  /** Chain depth of version `v`'s manifest file: 0 for a full checkpoint,
   *  parent's depth + 1 for a delta. Reads only the first two lines —
   *  delta files lead with `base=`/`chain=`. */
  private def chainLenOf(v: Long): Int = {
    val it = Files.lines(manifestFile(v), StandardCharsets.UTF_8)
    try it.iterator().asScala.take(2).collectFirst {
      case l if l.startsWith("chain=") => l.stripPrefix("chain=").toInt
    }.getOrElse(0) finally it.close()
  }

  private def parseDirEntry(s: String): DirEntry = s.split('|') match {
    case Array(d) => DirEntry(d, None)
    case Array(d, owned) =>
      DirEntry(d, Some(owned.split(',').toSeq.filter(_.nonEmpty).map(b64d)))
    // third field: entry flags — "c" marks the dir clustered on the
    // manifest's clusterKey (an empty second field keeps owned = None)
    case Array(d, owned, flags) =>
      DirEntry(d,
        if (owned.isEmpty) None
        else Some(owned.split(',').toSeq.filter(_.nonEmpty).map(b64d)),
        clustered = flags.contains('c'))
    case _ => sys.error(s"bad manifest dir entry: $s")
  }

  /** Load version `v`'s manifest. A file is either a FULL checkpoint (the
   *  complete snapshot) or a DELTA against `base=` (its immediate parent):
   *  all O(columns + writers) metadata is carried in full either way, and
   *  only the O(files) `dir=`/`fstat=` body is diff-encoded (`adddir=` /
   *  `rmdir=` / added `fstat=`). Resolution walks the chain to the nearest
   *  checkpoint (bounded by [[LakeTable.ManifestCheckpointInterval]]) and
   *  is memoized per instance. */
  def read(v: Long): Manifest = {
    val cached = mfCache.get(v)
    if (cached != null) return cached
    val lines = Files.readAllLines(manifestFile(v), StandardCharsets.UTF_8).asScala
    val own = parseManifestLines(v, lines)
    val m = lines.collectFirst {
      case l if l.startsWith("base=") => l.stripPrefix("base=").toLong
    } match {
      case None => own
      case Some(b) =>
        val parent = read(b)
        val rmDirs = lines.collect {
          case l if l.startsWith("rmdir=") => l.stripPrefix("rmdir=")
        }.toSet
        val addEntries = lines.collect {
          case l if l.startsWith("adddir=") => parseDirEntry(l.stripPrefix("adddir="))
        }.toSeq
        // `fstat=` lines in a delta are the ADDED stats only
        val addPaths = own.fileStats.map(_.path).toSet
        val entries = parent.entries.filterNot(e => rmDirs.contains(e.dir)) ++ addEntries
        val fileStats = parent.fileStats.filterNot(f =>
          addPaths.contains(f.path) || rmDirs.exists(d => f.path.startsWith(d + "/"))) ++
          own.fileStats
        own.copy(entries = entries, fileStats = fileStats)
    }
    mfCache.put(v, m)
    if (mfCache.size() > 32) {
      val ks = mfCache.keySet().asScala.toSeq.sorted
      ks.dropRight(16).foreach(k => mfCache.remove(k))
    }
    m
  }

  private def parseManifestLines(v: Long,
      lines: scala.collection.Seq[String]): Manifest = {
    val schemaB64 = lines.collectFirst { case l if l.startsWith("schema=") => l.stripPrefix("schema=") }
      .getOrElse(sys.error(s"manifest v$v missing schema"))
    val schema = StructType.fromDDL(b64d(schemaB64))
    val pcol = lines.collectFirst { case l if l.startsWith("pcol=") => l.stripPrefix("pcol=") }
    val op = lines.collectFirst { case l if l.startsWith("op=") => l.stripPrefix("op=") }
      .getOrElse("unknown")
    val cdfEnabled = lines.contains("cdf=on")
    val commitTsMs = lines.collectFirst { case l if l.startsWith("ts=") =>
      l.stripPrefix("ts=").toLong }
    val cdfDir = lines.collectFirst { case l if l.startsWith("cdfdir=") => l.stripPrefix("cdfdir=") }
    val statsCols = lines.collectFirst { case l if l.startsWith("statscols=") =>
      l.stripPrefix("statscols=").split(',').toSeq.filter(_.nonEmpty).map(b64d)
    }.getOrElse(Nil)
    val constraints = lines.collect {
      case l if l.startsWith("check=") =>
        val Array(n, e) = l.stripPrefix("check=").split(':')
        b64d(n) -> b64d(e)
    }.toSeq
    val generated = lines.collect {
      case l if l.startsWith("gen=") =>
        val Array(n, e) = l.stripPrefix("gen=").split(':')
        b64d(n) -> b64d(e)
    }.toSeq
    val entries = lines.collect {
      case l if l.startsWith("dir=") => parseDirEntry(l.stripPrefix("dir="))
    }.toSeq
    val fileStats = lines.collect {
      case l if l.startsWith("fstat=") =>
        val parts = l.stripPrefix("fstat=").split('|')
        FileStat(b64d(parts.head), parts.tail.toSeq.map { cs =>
          val Array(c, mn, mx) = cs.split(":", -1)
          b64d(c) -> ((b64d(mn), b64d(mx)))
        }.toMap)
    }.toSeq
    val deleteVectors = lines.collect {
      case l if l.startsWith("dv=") => l.stripPrefix("dv=")
    }.toSeq
    val bloomCols = lines.collectFirst { case l if l.startsWith("bloomcols=") =>
      l.stripPrefix("bloomcols=").split(',').toSeq.filter(_.nonEmpty).map(b64d)
    }.getOrElse(Nil)
    val txns = lines.collect {
      case l if l.startsWith("txn=") =>
        val Array(a, tv) = l.stripPrefix("txn=").split(':')
        b64d(a) -> tv.toLong
    }.toSeq
    val dropped = lines.collectFirst { case l if l.startsWith("dropped=") =>
      l.stripPrefix("dropped=").split(',').toSeq.filter(_.nonEmpty).map(b64d)
    }.getOrElse(Nil)
    val colMap = lines.collectFirst { case l if l.startsWith("colmap=") =>
      l.stripPrefix("colmap=").split(',').toSeq.filter(_.nonEmpty).map { kv =>
        val Array(lg, ph) = kv.split(':')
        b64d(lg) -> b64d(ph)
      }
    }.getOrElse(Nil)
    val props = lines.collect {
      case l if l.startsWith("prop=") =>
        val Array(k, v0) = l.stripPrefix("prop=").split(":", -1)
        b64d(k) -> b64d(v0)
    }.toSeq
    val clusterKey = lines.collectFirst { case l if l.startsWith("ckey=") =>
      l.stripPrefix("ckey=").split(',').toSeq.filter(_.nonEmpty).map(b64d)
    }.getOrElse(Nil)
    Manifest(schema, pcol, entries, op, cdfEnabled, cdfDir, statsCols, fileStats,
      commitTsMs, constraints, generated, deleteVectors, bloomCols, txns,
      dropped, colMap, props, clusterKey)
  }

  /** Cheap manifest header scan — (op, commit ts) only, skipping the schema
   *  DDL parse and the per-file stats bodies. History listings and timestamp
   *  resolution over long histories are O(versions × header line scan), not
   *  O(versions × full manifest parse). */
  def header(v: Long): (String, Option[Long]) = {
    var op = "unknown"; var ts: Option[Long] = None
    val it = Files.lines(manifestFile(v), StandardCharsets.UTF_8)
    try it.iterator().asScala.foreach { l =>
      if (l.startsWith("op=")) op = l.stripPrefix("op=")
      else if (l.startsWith("ts=")) ts = Some(l.stripPrefix("ts=").toLong)
    } finally it.close()
    (op, ts)
  }

  private def dirLine(prefix: String, e: DirEntry): String = {
    val ownedPart = e.owned.map(_.map(b64e).mkString(",")).getOrElse("")
    if (e.clustered) s"$prefix${e.dir}|$ownedPart|c"
    else e.owned match {
      case None => s"$prefix${e.dir}"
      case Some(_) => s"$prefix${e.dir}|$ownedPart"
    }
  }

  private def fstatLine(fs: FileStat): String =
    (b64e(fs.path) +: fs.minMax.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
      s"${b64e(c)}:${b64e(mn)}:${b64e(mx)}"
    }).mkString("fstat=", "|", "")

  /** Delta-encode `m`'s O(files) body against its parent, or None when a
   *  full checkpoint is due: v0, every
   *  [[LakeTable.ManifestCheckpointInterval]]th commit in a chain, a parent
   *  that can't be read, a diff no smaller than the full body
   *  (overwrite/compact-class rewrites), or — the safety net — a diff whose
   *  in-memory resolution does not reproduce `m` exactly. */
  private def deltaBodyFor(m: Manifest, next: Long,
      fullBody: Seq[String]): Option[Seq[String]] = {
    if (next == 0) return None
    val pv = next - 1
    if (!Files.exists(manifestFile(pv))) return None
    val chain = chainLenOf(pv)
    if (chain + 1 >= LakeTable.ManifestCheckpointInterval) return None
    val parent = try read(pv) catch { case scala.util.control.NonFatal(_) => return None }
    val parentDirs = parent.entries.map(e => e.dir -> e).toMap
    val newDirs = m.entries.map(e => e.dir -> e).toMap
    val rm = parent.entries.filterNot(e => newDirs.get(e.dir).contains(e)).map(_.dir)
    val add = m.entries.filterNot(e => parentDirs.get(e.dir).contains(e))
    val parentStats = parent.fileStats.map(f => f.path -> f).toMap
    val addStats = m.fileStats.filterNot(f => parentStats.get(f.path).contains(f))
    // verify: the reader's resolution of this diff must reproduce m exactly
    val rmSet = rm.toSet
    val addPaths = addStats.map(_.path).toSet
    val resolvedEntries = parent.entries.filterNot(e => rmSet(e.dir)) ++ add
    val resolvedStats = parent.fileStats.filterNot(f =>
      addPaths(f.path) || rmSet.exists(d => f.path.startsWith(d + "/"))) ++ addStats
    if (resolvedEntries.toSet != m.entries.toSet ||
        resolvedStats.toSet != m.fileStats.toSet) return None
    val delta = Seq(s"base=$pv", s"chain=${chain + 1}") ++
      rm.map(d => s"rmdir=$d") ++
      add.map(dirLine("adddir=", _)) ++
      addStats.map(fstatLine)
    if (delta.size >= fullBody.size + 2) None else Some(delta)
  }

  /** Conditional put of manifest `m` as version `next`: stage it to a temp
   *  file and hard-link that to the manifest path — atomic, and EEXIST if
   *  another writer already committed `next`. Returns whether this writer
   *  won. The manifest LOG uses Delta Lake's discipline (delta log +
   *  `delta.checkpointInterval`-style checkpoints, default 10): between
   *  checkpoints a commit records only the dirs/file-stats it added or
   *  removed, so a one-file append to a million-file table writes O(new
   *  files) manifest bytes, not O(table) — the shape that keeps per-commit
   *  metadata cost flat at 100 TB. Readers resolve at most one checkpoint +
   *  interval-1 deltas per snapshot load. */
  private def publish(m: Manifest, next: Long): Boolean = {
    Files.createDirectories(commitsDir)
    val header = Seq(s"schema=${b64e(m.schema.toDDL)}", s"op=${m.op}",
      s"ts=${clock()}") ++
      m.pcol.map(p => s"pcol=$p").toSeq ++
      (if (m.cdfEnabled) Seq("cdf=on") else Nil) ++
      m.cdfDir.map(d => s"cdfdir=$d").toSeq ++
      (if (m.statsCols.nonEmpty)
        Seq(s"statscols=${m.statsCols.map(b64e).mkString(",")}") else Nil) ++
      m.constraints.sortBy(_._1).map { case (n, e) => s"check=${b64e(n)}:${b64e(e)}" } ++
      m.generated.sortBy(_._1).map { case (n, e) => s"gen=${b64e(n)}:${b64e(e)}" } ++
      m.deleteVectors.map(d => s"dv=$d") ++
      (if (m.bloomCols.nonEmpty)
        Seq(s"bloomcols=${m.bloomCols.map(b64e).mkString(",")}") else Nil) ++
      m.txns.sortBy(_._1).map { case (a, tv) => s"txn=${b64e(a)}:$tv" } ++
      (if (m.droppedCols.nonEmpty)
        Seq(s"dropped=${m.droppedCols.map(b64e).mkString(",")}") else Nil) ++
      (if (m.colMap.nonEmpty)
        Seq(s"colmap=${m.colMap.sortBy(_._1).map { case (l, p) =>
          s"${b64e(l)}:${b64e(p)}" }.mkString(",")}") else Nil) ++
      m.props.sortBy(_._1).map { case (k, v) => s"prop=${b64e(k)}:${b64e(v)}" } ++
      (if (m.clusterKey.nonEmpty)
        Seq(s"ckey=${m.clusterKey.map(b64e).mkString(",")}") else Nil)
    val fullBody = m.entries.map(dirLine("dir=", _)) ++ m.fileStats.map(fstatLine)
    val lines = deltaBodyFor(m, next, fullBody) match {
      // base=/chain= lead the file so chain-depth probes read 2 lines only
      case Some(delta) => delta.take(2) ++ header ++ delta.drop(2)
      case None => header ++ fullBody
    }
    val staged = commitsDir.resolve(s".stage-${UUID.randomUUID()}")
    Files.write(staged, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val won =
      try { Files.createLink(manifestFile(next), staged); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally Files.deleteIfExists(staged)
    if (won) {
      // refresh the pointer cache (stale/regressed values are harmless:
      // currentVersion probes forward past them)
      val tmp = Paths.get(root, s"_VERSION.tmp.${UUID.randomUUID()}")
      Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, versionFile, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    won
  }
}

private[lake] object Commit {
  /** Thrown by a [[Commit.latest]] edit that finds nothing to publish. */
  case object Unchanged extends scala.util.control.ControlThrowable

  /** The base of a table's first version. */
  val Empty: Manifest = Manifest(new StructType(), None, Nil, "")

  /** `m` as `op` publishes it: the per-commit fields reset, `txn` ledgered. */
  private def stamp(m: Manifest, op: String, cdfDir: Option[String],
      txn: Option[(String, Long)]): Manifest =
    m.copy(op = op, cdfDir = cdfDir, commitTsMs = None, txns = withTxnLedger(m.txns, txn))

  /** The one transaction-ledger rule: `(appId → tv)` upserted (one entry
   *  per app); the ledger never regresses — a replayed older version keeps
   *  the recorded high-water. The [[LakeTable.DimLedgerFamily]] holds one
   *  slot per table: stamping one of its appIds retires the others. */
  def withTxnLedger(ts: Seq[(String, Long)],
      txn: Option[(String, Long)]): Seq[(String, Long)] = txn match {
    case None => ts
    case Some((a, tv)) =>
      def slot(x: String) =
        if (x.startsWith(LakeTable.DimLedgerFamily)) LakeTable.DimLedgerFamily else x
      if (ts.exists { case (a0, tv0) => a0 == a && tv0 >= tv }) ts
      else ts.filterNot { case (a0, _) => slot(a0) == slot(a) } :+ (a -> tv)
  }

  /** Whether `m`'s ledger already records `txn` (at or past its version). */
  def txnAppliedIn(m: Manifest, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (a, tv) =>
      m.txns.exists { case (a0, tv0) => a0 == a && tv0 >= tv } }

  /** One data directory of a snapshot. `owned` scopes partitioned dirs to
   *  the partition values this entry still owns; `clustered` marks dirs
   *  whose files were WRITTEN BY a clustering pass on the manifest's
   *  [[Manifest.clusterKey]] — incremental `OPTIMIZE` on a liquid-clustered
   *  table rewrites only the unflagged dirs (Delta's incremental
   *  clustering). The flag rides the entry wherever entries are carried,
   *  so appends/merges/DML never have to know about it; any rewrite that
   *  produces a fresh entry defaults to unclustered, which can only cost a
   *  re-cluster, never correctness. */
  case class DirEntry(dir: String, owned: Option[Seq[String]],
      clustered: Boolean = false)
  /** Zone map for one data file: root-relative path → per-column (min, max)
   *  as Spark CAST-to-STRING renderings (UTC session). Columns whose min or
   *  max is NULL in the file are absent — absent stats never prune. */
  case class FileStat(path: String, minMax: Map[String, (String, String)])
  case class Manifest(schema: StructType, pcol: Option[String],
      entries: Seq[DirEntry], op: String,
      cdfEnabled: Boolean = false, cdfDir: Option[String] = None,
      statsCols: Seq[String] = Nil, fileStats: Seq[FileStat] = Nil,
      /** Commit wall-clock (epoch ms), stamped at publish time by the
       *  [[Commit]] — never set by writers. None for manifests written
       *  before the field existed. */
      commitTsMs: Option[Long] = None,
      /** CHECK constraints (name → SQL boolean expr), enforced on every
       *  incoming batch. Name-ordered for deterministic manifests. */
      constraints: Seq[(String, String)] = Nil,
      /** GENERATED columns (col → SQL expr): computed when a batch omits
       *  them, validated when it supplies them. Fixed at create time. */
      generated: Seq[(String, String)] = Nil,
      /** DELETION VECTORS (merge-on-read DELETE): root-relative dirs of
       *  parquet (file STRING root-relative, pos BIGINT row index) naming
       *  rows that are logically deleted. Reads anti-join them out; data
       *  files are NEVER rewritten by the delete. Entries referencing files
       *  no longer in `entries` are stale and harmless (the anti-join
       *  cannot match). Full-rewrite commits (overwrite/compact/merge-all)
       *  read through the vectors and clear them. */
      deleteVectors: Seq[String] = Nil,
      /** BLOOM-FILTER INDEX columns (Delta bloom filter index): per-file
       *  blooms built at write time into `_bloom/<dir-uuid>.idx` sidecars;
       *  equality predicates on these columns prune files zone maps cannot
       *  (high-cardinality, unclustered keys). Missing sidecars (pre-index
       *  dirs, hard-link relinks) simply never prune. */
      bloomCols: Seq[String] = Nil,
      /** TRANSACTION LEDGER (Delta `txnAppId`/`txnVersion` idempotent
       *  writes): highest committed application version per writer id.
       *  [[LakeTable.appendIdempotent]] consults it to make retried job
       *  writes exactly-once. Carried verbatim across every commit kind,
       *  under [[Commit.withTxnLedger]]. A restore takes the
       *  [[LakeTable.DimLedgerFamily]] entry of the version it restores. */
      txns: Seq[(String, Long)] = Nil,
      /** TOMBSTONES of metadata-only [[LakeTable.dropColumn]]s: old data
       *  files still physically carry these columns (under their PHYSICAL
       *  names), so re-adding one via schema evolution would RESURRECT
       *  stale values — evolution rejects tombstoned names. Cleared by full
       *  rewrites (overwrite/compact), which physically shed the dropped
       *  bytes. */
      droppedCols: Seq[String] = Nil,
      /** COLUMN MAPPING (Delta `columnMapping.mode = name`): logical →
       *  physical name, recorded only where they differ. A column's
       *  physical name is fixed at creation; [[LakeTable.renameColumn]]
       *  changes ONLY the logical name — no data file is ever rewritten.
       *  The manifest schema, partition column, stats/bloom registrations,
       *  constraints and generated expressions all live in LOGICAL space;
       *  translation happens exactly at the parquet read/write boundary
       *  (and in per-file stats/bloom/partition-dir naming, which describe
       *  physical files and therefore stay keyed physical forever). */
      colMap: Seq[(String, String)] = Nil,
      /** TBLPROPERTIES (Delta table properties): free-form key → value,
       *  name-ordered for deterministic manifests. `enableChangeFeed` is
       *  recognized and routed to [[Manifest.cdfEnabled]] rather than
       *  stored here. */
      props: Seq[(String, String)] = Nil,
      /** The clustering key the entry-level `clustered` flags refer to
       *  (set by clustering rewrites). When the DECLARED key (the
       *  [[LakeTable.ClusterByProp]] property) differs — e.g. after
       *  `ALTER TABLE … CLUSTER BY` changed it — the flags are simply
       *  ignored and the next OPTIMIZE re-clusters everything on the new
       *  key. O(1) metadata. */
      clusterKey: Seq[String] = Nil)
}
