package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EvalMode, Expression, Literal, PythonFuncExpression, UserDefinedExpression, UserDefinedGenerator}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, ObjectConsumer, ObjectProducer}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, ObjectType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

import Commit.{DirEntry, FileStat, Manifest, txnAppliedIn}

/**
 * Parquet-backed versioned table — the engine's replacement for the Delta
 * tables the reference writes everywhere (bronze sinks
 * `bronze_ingest_autoloader.py:23-28`, DLT streaming tables, gold MERGE
 * targets `DIM_Gold_layer.py:276-289`, `FACT_Gold_Layer.py:185-198`).
 * No Delta/Iceberg jar ships in this environment, so the table protocol is
 * rebuilt on plain Parquet with a tiny manifest-pointer commit scheme:
 *
 * {{{
 *   root/
 *     _VERSION                 // pointer file: current version number (atomic swap)
 *     _commits/v000000001.mf   // manifest: schema + partition col + dir entries
 *     data/<uuid>/part-*.parquet            (unpartitioned)
 *     data/<uuid>/<pcol>=<val>/part-*.parquet  (partitioned)
 * }}}
 *
 * Commit = write data files to a fresh `data/<uuid>` dir, then PUBLISH the
 * next manifest with a conditional put: the manifest bytes are staged to a
 * temp file and hard-linked to `_commits/vN.mf` — link creation is atomic
 * and fails with EEXIST if another writer already owns version N. This is
 * Delta's optimistic-concurrency commit protocol (`DIM_Gold_layer.py:276`
 * merges run under it) rebuilt on POSIX semantics:
 *
 *  - MULTI-WRITER SAFE across instances and processes on a shared
 *    filesystem: exactly one writer wins each version.
 *  - `append`/`overwrite` auto-retry on a lost race (their payload does not
 *    depend on the losing snapshot; append re-reads the entry list and
 *    re-commits — the data dir is already on disk, so a retry is
 *    manifest-only).
 *  - `merge`/`compact` are computed FROM a snapshot, so a lost race throws
 *    [[ConcurrentWriteException]] — the caller recomputes against the new
 *    version and retries, exactly Delta's `ConcurrentAppendException`
 *    contract.
 *
 * Both halves are the two publish modes of the one [[Commit]] seam every
 * write goes through (latest and pinned).
 *
 * `_VERSION` is a monotonic cache of the newest version, updated after a
 * successful publish; readers resolve it and probe forward over `_commits`
 * so a stale pointer can never hide a committed version. Readers always see
 * a consistent snapshot (old versions' files are retained until `vacuum`).
 *
 * '''Partitioned tables''' (the 100 TB path): a table created with a
 * partition column tracks, per data dir, WHICH partition values that dir
 * currently owns. `merge` then touches only the partitions present in the
 * source: it partition-prunes the target read, rewrites just those
 * partitions into a new dir, and re-points ownership — cost is O(touched
 * partitions), independent of table size. `append` adds a dir owning the
 * batch's partitions without disturbing earlier owners (append-only
 * accumulation). Reads list only the files under owned values: every
 * snapshot read is ONE scan over a [[ManifestFileIndex]], which also prunes
 * files by partition value, zone map and bloom sidecar with the filters
 * Catalyst pushes down.
 *
 * Unpartitioned scale notes: `append` is O(new data) — it never rewrites
 * existing files, so streaming ingest cost is independent of table size.
 * `merge` is join-based (shuffle on the merge keys, broadcast when the
 * source is small — left to AQE) and copy-on-write: it rewrites the files
 * it touches — every file unless zone maps prune them — and leaves the
 * rest in place.
 */
/** A snapshot-dependent commit (merge/compact) lost an optimistic-concurrency
 *  race: the table advanced past the version the result was computed from.
 *  Callers recompute against the new current version and retry — the same
 *  contract as Delta's concurrent-modification exceptions. */
final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

final class LakeTable private (val spark: SparkSession, val root: String,
    clock: () => Long) {
  import LakeTable._

  private val commit = new Commit(root, clock)

  def exists: Boolean = commit.exists

  /** Newest committed version: the `_VERSION` cache, probed forward over
   *  `_commits` — a concurrent writer that published but hasn't refreshed
   *  the pointer yet is still visible. */
  def currentVersion: Long = commit.currentVersion

  private def readManifest(v: Long): Manifest = commit.read(v)

  private def manifest: Manifest = readManifest(currentVersion)

  def schema: StructType = manifest.schema

  /** Partition column, if this table is partitioned. */
  def partitionColumn: Option[String] = manifest.pcol

  /** Distinct partition values currently owned (manifest-resolved — no data
   *  scan; the SHOW PARTITIONS backing). Empty for unpartitioned tables. */
  def ownedPartitionValues: Seq[String] =
    manifest.entries.flatMap(_.owned.getOrElse(Nil)).distinct

  /** Snapshot read of the current version (explicit schema: no inference
   *  drift, empty tables read fine; partitioned reads prune to owned dirs). */
  def read: DataFrame = snapshotAt(currentVersion)

  /** TIME-TRAVEL read of historical version `v` (Delta
   *  `VERSION AS OF` — `DIM_Gold_layer.py` targets run under Delta's
   *  versioned protocol). Works for any version whose data dirs `vacuum`
   *  still retains; a vacuumed version fails loudly rather than returning a
   *  partial snapshot. */
  def readVersion(v: Long): DataFrame = {
    require(exists, s"LakeTable at $root does not exist")
    require(v >= 0 && v <= currentVersion, s"version $v out of range [0, $currentVersion]")
    requireRetained(readManifest(v), s"version $v has been vacuumed")
    snapshotAt(v)
  }

  /** Refuse a version whose data dirs `vacuum` has reclaimed. */
  private def requireRetained(m: Manifest, what: String): Unit = {
    val missing = (m.entries.map(_.dir) ++ m.deleteVectors)
      .filterNot(d => Files.isDirectory(Paths.get(root, d)))
    require(missing.isEmpty, s"$what (missing ${missing.mkString(", ")})")
  }

  /** Commit history, oldest first: (version, operation). Operations:
   *  create/append/overwrite/merge/delete/update/compact/restore/clone/
   *  constraint. */
  def history: Seq[(Long, String)] = historyDetail.map { case (v, op, _) => (v, op) }

  /** DESCRIBE HISTORY with commit wall-clocks, oldest first:
   *  (version, operation, commit epoch ms — None only for manifests written
   *  before the clock field existed). */
  def historyDetail: Seq[(Long, String, Option[Long])] =
    (0L to currentVersion).filter(commit.has)
      .map { v => val (op, ts) = commit.header(v); (v, op, ts) }

  /** TIME TRAVEL by wall-clock (Delta `TIMESTAMP AS OF`): the snapshot of
   *  the LATEST commit published at or before `epochMs` — Delta's rule
   *  exactly (a timestamp between commits resolves to the earlier one; a
   *  timestamp before the first commit is an error). Commit clocks are
   *  stamped at publish time and monotone within a writer; the resolver
   *  takes the last version whose clock qualifies, so a clock tie between
   *  racing historical writers resolves to the newer version. */
  def readTimestampAsOf(epochMs: Long): DataFrame =
    readVersion(versionAtTimestamp(epochMs))

  /** The version [[readTimestampAsOf]] resolves `epochMs` to — the latest
   *  commit published at or before it (Delta's resolution rule). */
  def versionAtTimestamp(epochMs: Long): Long = {
    val candidates = historyDetail.collect { case (v, _, Some(ts)) if ts <= epochMs => v }
    require(candidates.nonEmpty,
      s"no commit at or before epoch ms $epochMs in $root " +
        "(timestamp precedes the table's first commit)")
    candidates.max
  }

  /** RESTORE to historical version `v` (Delta `RESTORE TABLE ... TO VERSION
   *  AS OF`): publishes a NEW version whose file set is version `v`'s — a
   *  metadata-only commit (no data is copied or rewritten), so a bad merge
   *  or overwrite is undone in O(manifest). History is preserved: the
   *  intermediate versions remain readable via [[readVersion]] until
   *  `vacuum` reclaims them, and the restore itself can be restored over.
   *  Fails loudly if `v`'s data dirs have already been vacuumed. Like
   *  Delta, the change feed does not span a restore (it is a rewrite-class
   *  commit, not row-level change). The transaction ledger carries the
   *  current entries forward, except a gold dimension's build record
   *  ([[LakeTable.DimLedgerFamily]]), which is version `v`'s: the next
   *  build sees the input the restored rows were built from. */
  def restore(v: Long): Unit = synchronized {
    require(v >= 0 && v <= currentVersion,
      s"version $v out of range [0, $currentVersion]")
    val m = readManifest(v)
    requireRetained(m, s"cannot restore to vacuumed version $v")
    // the ledger moves forward, except the dimension-build record: it
    // describes the rows, so it comes back with them
    def dimRecord(t: (String, Long)) = t._1.startsWith(DimLedgerFamily)
    commit.latest("restore") { cur =>
      m.copy(cdfEnabled = cur.cdfEnabled, droppedCols = cur.droppedCols,
        txns = cur.txns.filterNot(dimRecord) ++ m.txns.filter(dimRecord))
    }
  }

  /** SHALLOW CLONE of the current snapshot into `targetRoot` (Delta
   *  `CREATE TABLE ... SHALLOW CLONE src`): the clone is a fully independent
   *  table — its own version history, its own future commits — whose v0
   *  re-references the source's data files without copying bytes. On this
   *  POSIX backend the re-reference is a hard link per file (O(file count)
   *  metadata, zero data movement; source and clone can then be written,
   *  compacted, or vacuumed independently — neither can orphan the other's
   *  files). An object-store deployment would store absolute source paths
   *  in the manifest instead; the commit protocol is unchanged either way. */
  def shallowClone(targetRoot: String): LakeTable =
    cloneTo(targetRoot, deep = false)

  /** Delta's `CREATE TABLE … DEEP CLONE src` — a SELF-CONTAINED fork for
   *  archival/DR: data files, deletion vectors, and bloom sidecars are
   *  physically COPIED (no shared inodes), so the clone survives anything
   *  that happens to the source — vacuum, rewrite, even deletion of the
   *  source root — and vice versa. O(data bytes) I/O by definition; the
   *  O(files) dev/test fork remains [[shallowClone]]. Like Delta, only the
   *  CURRENT snapshot is copied (the clone's history starts at v0); the
   *  source's full metadata (schema, constraints, properties, transaction
   *  ledger, column mapping) carries over. */
  def deepClone(targetRoot: String): LakeTable =
    cloneTo(targetRoot, deep = true)

  private def cloneTo(targetRoot: String, deep: Boolean): LakeTable = synchronized {
    val m = manifest
    val dst = new LakeTable(spark, targetRoot, clock)
    require(!dst.exists, s"clone target $targetRoot already exists")
    Files.createDirectories(Paths.get(targetRoot))
    def adopt(src: Path, dstFile: Path): Unit = {
      Files.createDirectories(dstFile.getParent)
      if (deep) { Files.copy(src, dstFile); () }
      else { Files.createLink(dstFile, src); () }
    }
    // deletion vectors ride along: coordinates are root-RELATIVE, and the
    // clone adopts the data files under the same relative layout, so the
    // vectors address the clone's rows exactly
    (m.entries.map(_.dir) ++ m.deleteVectors).foreach { d =>
      listParquet(Paths.get(root, d)).foreach { src =>
        adopt(src, Paths.get(targetRoot).resolve(Paths.get(root).relativize(src)))
      }
    }
    // bloom sidecars are keyed by dir uuid and reference root-relative
    // paths — adopt them so the clone keeps its point-lookup pruning
    m.entries.map(e => bloomIndexFile(e.dir)).filter(Files.exists(_)).foreach { src =>
      adopt(src, Paths.get(targetRoot, "_bloom", src.getFileName.toString))
    }
    dst.commit.pinned("clone", -1L, m)(identity)
    dst
  }

  /** Active CHECK constraints (name → SQL boolean expression). */
  def checkConstraints: Map[String, String] = manifest.constraints.toMap

  /** DESCRIBE DETAIL (Delta parity): table-level facts resolved from the
   *  manifest + a driver-side file listing of the CURRENT snapshot only —
   *  O(current files) metadata, no data scan. */
  def detail: LakeTable.TableDetail = {
    require(exists, s"LakeTable at $root does not exist")
    val m = manifest
    val files = snapshotFiles(m)
    LakeTable.TableDetail(
      location = root,
      version = currentVersion,
      numFiles = files.size.toLong,
      sizeInBytes = files.map(_.status.getLen).sum,
      partitionColumns = m.pcol.toSeq,
      statsColumns = m.statsCols,
      changeFeedEnabled = m.cdfEnabled,
      constraints = m.constraints.toMap,
      generatedColumns = m.generated.toMap,
      lastOperation = m.op,
      lastCommitTimestampMs = m.commitTsMs,
      deletionVectors = m.deleteVectors.size,
      bloomFilterColumns = m.bloomCols,
      clusteringColumns = m.props.toMap.get(LakeTable.ClusterByProp).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
  }

  /** ADD a CHECK constraint (Delta `ALTER TABLE ... ADD CONSTRAINT ... CHECK`):
   *  existing data is validated first — like Delta, the constraint is refused
   *  if any current row violates it — then a metadata-only commit records it;
   *  every later append/overwrite/merge/update batch is enforced against it
   *  (a violating batch fails BEFORE commit). NULL predicate results count as
   *  violations (three-valued logic, matching the expectations gate). */
  def addCheckConstraint(name: String, expression: String): Unit = synchronized {
    require(name.nonEmpty && !name.contains(':'), s"bad constraint name $name")
    // validation runs INSIDE the commit loop against the exact snapshot the
    // constraint commit lands on top of: a concurrent append racing this add
    // loses the CAS, we re-read the grown snapshot and re-validate it — no
    // check-then-commit window where unvalidated data slips under an active
    // constraint (mirrors Delta's metadata-conflict detection)
    commit.latest("constraint") { cur =>
      require(!cur.constraints.exists(_._1 == name),
        s"constraint $name already exists")
      val bad = snapshot(cur)
        .filter(!coalesce(expr(expression), lit(false))).limit(1).count()
      require(bad == 0,
        s"cannot add CHECK constraint $name ($expression): existing rows violate it")
      cur.copy(constraints = cur.constraints :+ (name -> expression))
    }
  }

  /** ADD a bloom-index column (Delta `CREATE BLOOMFILTER INDEX` analog):
   *  metadata-only commit — every LATER write builds sidecar blooms for the
   *  column; files written before the add have no entries and simply never
   *  prune (the index is an optimization, never a filter). `optimizeCompact`
   *  or `compact` re-writes old data under the new index. */
  def addBloomFilterColumn(c: String): Unit = synchronized {
    commit.latest("index") { cur =>
      require(cur.schema.fieldNames.contains(c), s"unknown column $c")
      require(!cur.pcol.contains(c),
        s"$c is the partition column — the Hive layout already prunes it")
      require(!cur.bloomCols.contains(c), s"$c is already bloom-indexed")
      cur.copy(bloomCols = cur.bloomCols :+ c)
    }
  }

  /** DROP a bloom-index column (metadata-only; sidecars for it become dead
   *  weight until their data dirs rotate out). */
  def dropBloomFilterColumn(c: String): Unit = synchronized {
    commit.latest("index") { cur =>
      require(cur.bloomCols.contains(c), s"$c is not bloom-indexed")
      cur.copy(bloomCols = cur.bloomCols.filterNot(_ == c))
    }
  }

  /** DROP a CHECK constraint (metadata-only commit). */
  def dropCheckConstraint(name: String): Unit = synchronized {
    commit.latest("constraint") { cur =>
      require(cur.constraints.exists(_._1 == name), s"no constraint named $name")
      cur.copy(constraints = cur.constraints.filterNot(_._1 == name))
    }
  }

  /**
   * METADATA-ONLY DROP COLUMN (`ALTER TABLE ... DROP COLUMN`): the manifest
   * schema shrinks and every read projects it away — no data file is
   * touched, O(manifest) at any table size (where a rewrite-based drop is
   * O(table)). The column's zone stats, bloom index and stats registration
   * are dropped with it. The name is TOMBSTONED: old files still carry the
   * bytes, so schema evolution re-adding the name would resurrect stale
   * values — evolution rejects tombstoned names until a full rewrite
   * (overwrite/compact) physically sheds them. Dropping the partition
   * column, a generated column's source, or a constraint-referenced column
   * is refused. Time travel to pre-drop versions still serves the column.
   */
  def dropColumn(colName: String): Unit = synchronized {
    commit.latest("alter") { cur =>
      val f = fieldOf(cur, colName)
      val c = f.name
      require(cur.schema.fields.length > 1, "cannot drop the only column")
      require(!cur.pcol.contains(c), s"cannot drop partition column $c")
      cur.constraints.foreach { case (n, e) => require(!references(e, c),
        s"constraint $n references $c — drop the constraint first") }
      cur.generated.foreach { case (g, e) => require(g == c || !references(e, c),
        s"generated column $g is computed from $c — drop it first") }
      val pc = physName(cur, c) // files carry the physical name forever
      cur.copy(schema = StructType(cur.schema.fields.filterNot(_.name == c)),
        statsCols = cur.statsCols.filterNot(_ == c),
        fileStats = cur.fileStats.map(fs => fs.copy(minMax = fs.minMax - pc)),
        generated = cur.generated.filterNot(_._1 == c),
        bloomCols = cur.bloomCols.filterNot(_ == c),
        colMap = cur.colMap.filterNot(_._1 == c),
        droppedCols = cur.droppedCols :+ pc)
    }
  }

  /**
   * METADATA-ONLY ADD COLUMNS (`ALTER TABLE ... ADD COLUMNS (c TYPE, ...)`,
   * Delta's additive evolution as an explicit DDL instead of a write-side
   * `mergeSchema`): the manifest schema widens, the new columns nullable;
   * every existing file serves NULL for them on read (the scan is planned
   * with the widened schema — parquet name-resolution yields NULL for
   * absent columns). No data file is touched — O(manifest) at any table
   * size. Tombstoned names ([[dropColumn]]) are rejected: old files still
   * carry their bytes and would resurrect stale values. Duplicate and
   * nested names are refused.
   */
  def addColumns(cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Unit =
    synchronized {
      require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
      cols.foreach { case (n, _) =>
        require(!n.contains("."), s"nested column $n is not supported") }
      val dups = cols.groupBy(_._1.toLowerCase(java.util.Locale.ROOT))
        .filter(_._2.size > 1)
      require(dups.isEmpty,
        s"duplicate column name(s) in ADD COLUMNS: ${dups.keys.mkString(", ")}")
      commit.latest("alter") { cur =>
        cols.foreach { case (n, _) =>
          require(!cur.schema.fieldNames.exists(_.equalsIgnoreCase(n)),
            s"column $n already exists") }
        val incoming = StructType(cols.map { case (n, dt) =>
          org.apache.spark.sql.types.StructField(n, dt, nullable = true) })
        rejectTombstoned(cur, incoming)
        cur.copy(schema = StructType(cur.schema.fields ++ incoming.fields))
      }
    }

  /**
   * METADATA-ONLY TYPE WIDENING (`ALTER TABLE … ALTER COLUMN c TYPE t`,
   * Delta's explicit widening form): the column's declared type grows
   * along the lossless [[LakeTable.widensTo]] lattice; NO data file is
   * rewritten at any table size — existing narrow files are served through
   * Spark's parquet widening promotion, later appends may keep landing
   * pre-widen files stay physically narrow (served through the
   * promotion) while new appends CAST UP at write. Requires the
   * `delta.enableTypeWidening` property (Delta's rule). Partition /
   * bloom-indexed / constraint- or generated-referenced / identity columns
   * refuse ([[wideningBlocked]] — their sidecars or expressions are keyed
   * to the physical type). Zone-map stats stay valid: numeric stats
   * compare as numbers, and every widening pair is numeric→numeric.
   * Time travel serves pre-widen versions under their own narrower type;
   * the change feed serves the whole history under the CURRENT type.
   */
  def alterColumnType(colName: String,
      to: org.apache.spark.sql.types.DataType): Unit = synchronized {
    commit.latest("alter") { cur =>
      require(wideningOn(cur),
        s"ALTER COLUMN TYPE needs TBLPROPERTIES ('${LakeTable.TypeWideningProp}' " +
          "= 'true') — widening is opt-in (Delta's rule)")
      val f = fieldOf(cur, colName)
      require(f.dataType != to, s"column ${f.name} already has type ${to.simpleString}")
      require(LakeTable.widensTo(f.dataType, to),
        s"${f.dataType.simpleString} → ${to.simpleString} is not a lossless " +
          "widening (supported: byte/short/int→wider integral, " +
          "float→double, byte/short/int→double, integral→decimal(p,0) with " +
          "enough digits, decimal→decimal growing scale and integer capacity)")
      require(!wideningBlocked(cur).contains(f.name),
        s"column ${f.name} is partition/bloom/constraint/generated/identity-" +
          "bound — its physical type is load-bearing and cannot widen")
      // post-widen appends write files with stats in the new type
      val widened = StructType(cur.schema.fields.map(x =>
        if (x.name == f.name) x.copy(dataType = to) else x))
      cur.copy(schema = widened, fileStats = statsUnder(cur, widened))
    }
  }

  /**
   * METADATA-ONLY RENAME COLUMN (`ALTER TABLE ... RENAME COLUMN a TO b`,
   * Delta's `columnMapping.mode = name` rename): only the LOGICAL name
   * changes — the column's PHYSICAL name (fixed at creation) stays in every
   * data file, so no file is rewritten, O(manifest) at any table size.
   * Zone stats, bloom sidecars and Hive partition dirs are keyed by the
   * physical name and stay valid; partition columns may be renamed. Reads,
   * predicates, MERGE keys and SQL conditions use the new name immediately;
   * [[readVersion]] of pre-rename versions serves the old name; the change
   * feed serves the whole history under the CURRENT names (physical
   * identity makes old versions' rows column-consistent). Renaming a column
   * referenced by a CHECK constraint or a generated-column expression is
   * refused (drop the constraint first — expression strings are not
   * rewritten), as is adopting an existing or tombstoned name.
   */
  def renameColumn(oldName: String, newName: String): Unit = synchronized {
    require(newName.nonEmpty && !newName.contains("."),
      s"bad column name '$newName'")
    commit.latest("rename") { cur =>
      val f = fieldOf(cur, oldName)
      val c = f.name
      require(!cur.schema.fieldNames.exists(n => n != c && n.equalsIgnoreCase(newName)),
        s"column $newName already exists")
      require(!cur.droppedCols.exists(_.equalsIgnoreCase(newName)),
        s"$newName is the tombstoned physical name of a dropped column — " +
          "old files still carry its bytes")
      require(!cur.colMap.exists { case (l, ph) =>
        l != c && l != ph && ph.equalsIgnoreCase(newName) },
        s"$newName is the physical name of another renamed column — old " +
          "files still carry its bytes")
      cur.constraints.foreach { case (n, e) => require(!references(e, c),
        s"constraint $n references $c — drop the constraint first") }
      cur.generated.foreach { case (g, e) => require(g != c && !references(e, c),
        s"generated column $g is defined as '$e' — renames do not rewrite " +
          "expressions; drop the generated column first") }
      val phys = physName(cur, c)
      val newMap = cur.colMap.filterNot(_._1 == c) ++
        (if (phys == newName) Nil else Seq(newName -> phys))
      cur.copy(schema = StructType(cur.schema.fields.map(x =>
        if (x.name == c) x.copy(name = newName) else x)),
        pcol = cur.pcol.map(p => if (p == c) newName else p),
        statsCols = cur.statsCols.map(x => if (x == c) newName else x),
        bloomCols = cur.bloomCols.map(x => if (x == c) newName else x),
        colMap = newMap)
    }
  }

  /** Whether SQL expression `e` references column `c` (case-insensitive). */
  private def references(e: String, c: String): Boolean =
    spark.sessionState.sqlParser.parseExpression(e).exists {
      case a: UnresolvedAttribute => a.nameParts.head.equalsIgnoreCase(c)
      case _ => false
    }

  /** The field of `m`'s schema named `name`, case-insensitively. */
  private def fieldOf(m: Manifest, name: String) =
    m.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(throw new
      IllegalArgumentException(s"no column $name in ${m.schema.fieldNames.mkString(",")}"))

  /** Current logical → physical column mapping (renamed columns only). */
  def columnMapping: Map[String, String] = manifest.colMap.toMap

  /**
   * `ALTER TABLE ... SET TBLPROPERTIES` (Delta table properties): free-form
   * key/value metadata carried in the manifest, versioned, restored and
   * cloned with the table. `enableChangeFeed` is RECOGNIZED: setting it
   * 'true'/'false' switches change-data capture for subsequent commits
   * (Delta's `delta.enableChangeDataFeed` — the feed is readable from the
   * version that enabled it).
   */
  def setTableProperties(kvs: Map[String, String]): Unit = {
    refuseReserved(kvs.keys,
      "IDENTITY at CREATE, ALTER COLUMN SET DEFAULT, ALTER TABLE CLUSTER BY")
    setTablePropertiesInternal(kvs)
  }

  /** Reserved namespaces (Delta likewise reserves delta.*): the identity
   *  sequence state, column DEFAULTs, and the clustering key are managed
   *  by their dedicated DDL, named by `ddl` — a raw SET or UNSET could
   *  bypass their validation (e.g. a malformed identity spec would
   *  MatchError every later append). */
  private def refuseReserved(keys: Iterable[String], ddl: String): Unit = {
    val reserved = keys.filter(k =>
      k.startsWith(LakeTable.IdentityPropPrefix) ||
        k.startsWith(LakeTable.DefaultPropPrefix) ||
        k == LakeTable.ClusterByProp)
    require(reserved.isEmpty,
      s"table propert${if (reserved.size == 1) "y" else "ies"} " +
        s"${reserved.mkString(", ")} are reserved — use the dedicated DDL ($ddl)")
  }

  private def setTablePropertiesInternal(
      kvs: Map[String, String]): Unit = synchronized {
    require(kvs.nonEmpty, "SET TBLPROPERTIES with no properties")
    commit.latest("properties") { cur =>
      val cdf = kvs.get(LakeTable.ChangeFeedProp) match {
        case Some(x) => x.trim.toLowerCase(java.util.Locale.ROOT) == "true"
        case None => cur.cdfEnabled
      }
      val merged = (cur.props.toMap ++ (kvs - LakeTable.ChangeFeedProp))
        .toSeq.sortBy(_._1)
      cur.copy(props = merged, cdfEnabled = cdf)
    }
  }

  /** `ALTER TABLE ... UNSET TBLPROPERTIES` — absent keys are ignored
   *  (Delta's IF EXISTS semantics). Unsetting `enableChangeFeed` disables
   *  capture for subsequent commits. */
  def unsetTableProperties(keys: Seq[String]): Unit = {
    refuseReserved(keys, "ALTER COLUMN DROP DEFAULT, ALTER TABLE CLUSTER BY NONE; " +
      "identity state cannot be unset")
    unsetTablePropertiesInternal(keys)
  }

  private def unsetTablePropertiesInternal(keys: Seq[String]): Unit = synchronized {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES with no keys")
    commit.latest("properties") { cur =>
      cur.copy(props = cur.props.filterNot(p => keys.contains(p._1)),
        cdfEnabled = cur.cdfEnabled && !keys.contains(LakeTable.ChangeFeedProp))
    }
  }

  /** Liquid clustering (Delta `CLUSTER BY` / `ALTER TABLE … CLUSTER BY`):
   *  declare the clustering key as TABLE METADATA instead of baking it
   *  into a directory layout. Data layout changes lazily — `OPTIMIZE`
   *  without an explicit ZORDER re-clusters on these columns (Delta's
   *  incremental-clustering trigger); writes themselves are untouched, so
   *  changing the key is O(manifest) and takes effect at the next
   *  OPTIMIZE. Empty `cols` = `CLUSTER BY NONE` (clears the key).
   *  Partitioned tables are refused — Delta's rule: liquid clustering and
   *  Hive-style partitioning are exclusive layouts. */
  def setClusterBy(cols: Seq[String]): Unit = {
    if (cols.isEmpty) unsetTablePropertiesInternal(Seq(LakeTable.ClusterByProp))
    else {
      require(partitionColumn.isEmpty,
        "CLUSTER BY on a partitioned table — liquid clustering and " +
          "partitioning are exclusive (Delta's rule)")
      val missing = cols.filterNot(c =>
        schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"CLUSTER BY column(s) not in schema: ${missing.mkString(", ")}")
      require(cols.size <= 4,
        "CLUSTER BY supports at most 4 columns (Delta's limit)")
      // store the schema's CANONICAL spelling: later OPTIMIZE resolves the
      // clustering key case-sensitively, so `CLUSTER BY (O_CUSTKEY)` on a
      // table with o_custkey must not brick every subsequent OPTIMIZE
      val canon = cols.map(c =>
        schema.fieldNames.find(_.equalsIgnoreCase(c)).get)
      setTablePropertiesInternal(Map(LakeTable.ClusterByProp -> canon.mkString(",")))
    }
  }

  /** Current liquid-clustering columns (empty = not clustered). */
  def clusterBy: Seq[String] =
    tableProperties.get(LakeTable.ClusterByProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Current table properties (`SHOW TBLPROPERTIES`), including the
   *  recognized `enableChangeFeed` flag. */
  def tableProperties: Map[String, String] = {
    val m = manifest
    m.props.toMap ++
      (if (m.cdfEnabled) Map(LakeTable.ChangeFeedProp -> "true") else Map.empty)
  }

  /** Reject additive evolution re-using a [[dropColumn]]-tombstoned name:
   *  old files still carry the bytes, so the "new" column would resurrect
   *  stale values. A full rewrite (overwrite/compact) clears tombstones. */
  private def rejectTombstoned(m: Manifest,
      incoming: StructType): Unit = {
    val novel = incoming.fieldNames
      .filterNot(n => m.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    val hit = novel.filter(n => m.droppedCols.exists(_.equalsIgnoreCase(n)))
    require(hit.isEmpty,
      s"column(s) ${hit.mkString(", ")} were dropped metadata-only — old " +
        "files still carry their bytes and would resurrect stale values; " +
        "rewrite the table (overwrite/compact) before re-adding the name")
    // same hazard through column mapping: a renamed column's PHYSICAL name
    // is still carried by every old file — a new logical column adopting it
    // would read those stale bytes
    val mapped = novel.filter(n =>
      m.colMap.exists { case (l, ph) => l != ph && ph.equalsIgnoreCase(n) })
    require(mapped.isEmpty,
      s"column(s) ${mapped.mkString(", ")} are the physical names of " +
        "renamed columns — old files still carry their bytes; pick a " +
        "different name or rewrite the table (overwrite) first")
  }

  /** Enforce CHECK constraints on an incoming batch: one conjoined pre-pass
   *  (narrow filter, no shuffle); only on failure a per-constraint probe
   *  names the offender. Throws before anything is committed. */
  private def enforceConstraints(df: DataFrame,
      constraints: Seq[(String, String)]): Unit = if (constraints.nonEmpty) {
    val all = constraints.map { case (_, e) => coalesce(expr(e), lit(false)) }
      .reduce(_ && _)
    if (df.filter(!all).limit(1).count() > 0) {
      val offender = constraints.find { case (_, e) =>
        df.filter(!coalesce(expr(e), lit(false))).limit(1).count() > 0 }
      throw new IllegalArgumentException(
        s"CHECK constraint ${offender.map(_._1).getOrElse("?")} " +
          s"(${offender.map(_._2).getOrElse("?")}) violated by the incoming batch")
    }
  }

  /**
   * O8 CHANGE DATA FEED (Delta `readChangeFeed` — the reference names it at
   * `README.md:91` without implementing it): row-level changes committed in
   * versions `[fromVersion, toVersion]`, with Delta's three CDF columns:
   * `_change_type` ∈ {insert, update_preimage, update_postimage},
   * `_commit_version`, and `_commit_timestamp` (the commit's publish
   * wall-clock, stamped into the manifest header at commit time; NULL for
   * manifests written before the field existed — version numbers remain
   * the ordering the engine guarantees).
   *
   *  - `append` commits derive their inserts straight from the appended data
   *    dir — zero write-time overhead (bronze ingest stays O(new data));
   *  - `merge` commits read the change rows the merge materialized under
   *    `_changes/` (requires the table created with `enableChangeFeed`);
   *  - full-rewrite commits (`overwrite`/`compact`) carry no row-level
   *    delta — a range containing one fails loudly (Delta likewise refuses
   *    CDF across non-CDC rewrites rather than fabricating changes).
   */
  def readChangeFeed(fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    require(exists, s"LakeTable at $root does not exist")
    val hi = toVersion.getOrElse(currentVersion)
    require(fromVersion >= 0 && fromVersion <= hi && hi <= currentVersion,
      s"bad change-feed range [$fromVersion, $hi] for table at version $currentVersion")
    val m = manifest
    val feedSchema = m.schema
      .add(ChangeTypeCol, org.apache.spark.sql.types.StringType, nullable = false)
    def insertsFromData(v: Long, mv: Manifest): Option[DataFrame] = {
      val added = addedEntries(v, mv)
      added.foreach(e => require(Files.isDirectory(Paths.get(root, e.dir)),
        s"change feed for v$v has been vacuumed (${e.dir})"))
      // files carry PHYSICAL names; serve the feed under the CURRENT
      // logical names (physical ids are stable across renames, so a feed
      // spanning a RENAME COLUMN stays column-consistent)
      if (added.isEmpty) None
      else Some(scanFiles(m, snapshotFiles(mv.copy(entries = added)))
        .withColumn(ChangeTypeCol, lit("insert")))
    }
    val parts = (fromVersion to hi).flatMap { v =>
      val mv = readManifest(v)
      val part: Option[DataFrame] = mv.op match {
        case "create" | "constraint" | "index" | "alter" | "rename" |
             "properties" => None // metadata-only
        case "optimize" | "compact" => None // rowset-preserving maintenance:
          // bin-pack/Z-order rewrite FILES, never logical rows (deletes the
          // pass materializes were already emitted by their own commits) —
          // Delta's CDF likewise skips OPTIMIZE. Auto-compact (property-
          // driven) makes these commits routine inside append streams.
        case "append" | "convert" => // convert's adopted files ARE its inserts
          insertsFromData(v, mv)
        case "merge" | "delete" | "update" | "replace" =>
          mv.cdfDir match {
            // an all-insert commit (bootstrap merge) records no image dir:
            // its added data files ARE its inserts, exactly like append —
            // materializing them again under _changes would write every
            // row twice
            case Some(LakeTable.CdfFromData) => insertsFromData(v, mv)
            case Some(d) =>
              require(Files.isDirectory(Paths.get(root, d)),
                s"change feed for v$v has been vacuumed ($d)")
              val physFeed = physSchema(m)
                .add(ChangeTypeCol, org.apache.spark.sql.types.StringType,
                  nullable = false)
              Some(toLogicalNames(m,
                spark.read.schema(physFeed).parquet(s"$root/$d")))
            case None if mv.op == "replace" && !mv.cdfEnabled => sys.error(
              s"no change data recorded for replace at v$v — create the " +
                "table with enableChangeFeed=true first")
            case None if mv.op == "replace" => sys.error(
              s"replace at v$v predates change-feed images — unreadable range")
            case None if mv.op != "merge" && !mv.cdfEnabled => sys.error(
              s"no change data recorded for ${mv.op} at v$v — create the " +
                "table with enableChangeFeed=true first")
            case None if mv.op != "merge" => None // CDF on, zero rows matched
            case None => sys.error(
              s"no change data recorded for merge at v$v — create the table " +
                "with enableChangeFeed=true before merging")
          }
        case other => sys.error(
          s"change feed unavailable across full-rewrite commit v$v (op=$other)")
      }
      val commitTs = mv.commitTsMs
        .map(ms => lit(new java.sql.Timestamp(ms)))
        .getOrElse(lit(null)).cast("timestamp")
      part.map(_.withColumn(CommitVersionCol, lit(v))
        .withColumn(CommitTimestampCol, commitTs))
    }
    val outSchema = feedSchema
      .add(CommitVersionCol, org.apache.spark.sql.types.LongType, nullable = false)
      .add(CommitTimestampCol, org.apache.spark.sql.types.TimestampType)
    // Serve the whole range under the LATEST schema (Delta's contract for
    // CDF across additive evolution): parts committed before a mergeSchema
    // append are projected to the current feed schema with NULLs for the
    // columns that didn't exist yet, instead of failing the union.
    def conform(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(outSchema.fields.toIndexedSeq.map { f =>
        if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    parts.map(conform).reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema))
  }

  /** Whether the change feed can serve versions `[fromVersion, toVersion]`
   *  — false when the window contains a full-rewrite commit (`overwrite` /
   *  `truncate`: no row-level delta exists) or a row-mutating commit with
   *  no recorded images (merge/replace without CDF) — or when VACUUM has
   *  reclaimed the window's change/data dirs. A metadata-only probe
   *  (O(window) manifest reads + dir-existence stats, no data touched).
   *  Incremental consumers
   *  use it to FALL BACK (re-bootstrap from the current snapshot, or
   *  snapshot-refresh) instead of failing every subsequent run when an
   *  upstream table was refreshed by full rewrite — without it, a ledger
   *  window spanning the rewrite wedges the consumer permanently. */
  def feedReadable(fromVersion: Long, toVersion: Long): Boolean =
    feedWindow(fromVersion, toVersion).readable

  /** ONE walk over the manifests of `[fromVersion, toVersion]` answering
   *  both questions a change-feed consumer asks: can the feed serve the
   *  window ([[feedReadable]]), and is every commit in it STRUCTURALLY
   *  append-only (append/convert plus metadata-only and rowset-preserving
   *  maintenance commits), so its feed carries only insert images and an
   *  append-only consumer skips the update/delete data probe. The common
   *  100 TB shape (bronze ingest windows) is `AppendOnly` every run; only
   *  windows with row-mutating commits (merge/delete/update/replace —
   *  which MAY still be all-insert) are `Mutating`. The walk stops at the
   *  first commit the feed cannot serve. Metadata only: O(window) manifest
   *  reads + dir-existence stats, no data touched. */
  def feedWindow(fromVersion: Long, toVersion: Long): LakeTable.FeedWindow = {
    import LakeTable.FeedWindow._
    require(exists, s"LakeTable at $root does not exist")
    def onDisk(dirs: Seq[String]) = dirs.forall(d => Files.isDirectory(Paths.get(root, d)))
    def commit(v: Long): LakeTable.FeedWindow = {
      val mv = readManifest(v)
      // VACUUM may have reclaimed a commit's added or change dirs (a
      // lagging consumer under an aggressive retention)
      def kept(dirs: => Seq[String]) = if (onDisk(dirs)) Mutating else Vacuumed
      mv.op match {
        case "create" | "constraint" | "index" | "alter" | "rename" |
             "properties" | "optimize" | "compact" =>
          AppendOnly
        case "append" | "convert" =>
          if (onDisk(addedEntries(v, mv).map(_.dir))) AppendOnly else Vacuumed
        case "merge" | "delete" | "update" | "replace" =>
          // mirror readChangeFeed: images recorded, an all-insert commit
          // served from its added data dirs, or a CDF-on delete/update that
          // matched zero rows (legal empty part)
          mv.cdfDir match {
            case Some(LakeTable.CdfFromData) => kept(addedEntries(v, mv).map(_.dir))
            case Some(d) => kept(Seq(d))
            case None if mv.cdfEnabled && (mv.op == "delete" || mv.op == "update") =>
              Mutating
            case None => Rewritten
          }
        case _ => Rewritten // overwrite and any other full-rewrite op
      }
    }
    if (fromVersion < 0 || toVersion > currentVersion) return Rewritten
    val commits = (fromVersion to toVersion).iterator.map(commit)
    var window: LakeTable.FeedWindow = AppendOnly
    while (commits.hasNext && window.readable) {
      val c = commits.next()
      if (c != AppendOnly) window = c
    }
    window
  }

  /** The data dirs version `v` (manifest `mv`) added over its parent. */
  private def addedEntries(v: Long, mv: Manifest): Seq[DirEntry] = {
    val prev = if (v == 0) Set.empty[String]
      else readManifest(v - 1).entries.map(_.dir).toSet
    mv.entries.filterNot(e => prev(e.dir))
  }

  /** Introspection for file skipping: (files read, files skipped) when the
   *  current snapshot is filtered by `condition` (a SQL boolean expression
   *  over the table's columns), asked of the snapshot's file index — the
   *  observability hook specs and operators use to prove skipping actually
   *  happens. */
  def skippingStats(condition: String): (Int, Int) = {
    val m = manifest
    val files = snapshotFiles(m)
    val kept = candidateFiles(m, files, expr(condition)).size
    (kept, files.size - kept)
  }

  /** The ONE candidate-file function: the files among `files` of snapshot
   *  `m` that may hold a row satisfying `cond` — what their
   *  [[ManifestFileIndex]] keeps for the partition and data filters
   *  Catalyst pushes from `cond` into the scan, exactly as a read of the
   *  filtered snapshot prunes. A plan left with no scan is one the
   *  optimizer proved empty (a condition folded to false or NULL): no
   *  file. Planning only: no Spark job runs. The set may over-approximate
   *  (an unevaluable pushed filter keeps its files), so it names what to
   *  READ, never what to drop unread. */
  private def candidateFiles(m: Manifest, files: Seq[SnapshotFile],
      cond: Column): Seq[SnapshotFile] = {
    val scans = scanFiles(m, files).filter(cond).queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.partitionFilters ++ s.dataFilters
    }
    if (scans.isEmpty) Nil else fileIndex(m, files).filesMatching(scans.flatten)
  }

  /** Candidate files for a FILE-PRUNED unpartitioned merge, or None when
   *  the path doesn't apply. The source's per-key [min, max], aggregated in
   *  the key's own type, becomes a `key BETWEEN min AND max` condition per
   *  stats-carrying key, and [[candidateFiles]] names which files may hold
   *  a matching row — the same pruning every read gets.
   *  Gates:
   *   - at least one merge key must carry zone stats and have the SAME type
   *     in source and target: a mixed-type key matches through the join's
   *     implicit coercion, which target-typed bounds cannot describe;
   *   - the table must be big enough that one bounds aggregation over the
   *     source beats a blind full rewrite
   *     (`spark.graft.merge.pruneMinBytes`, default 64 MB — derived from
   *     data size, never from the local core count);
   *   - under null-safe key matching a NULL source key matches NULL target
   *     rows, which zone stats do not describe — bail;
   *   - a plan that keeps every file returns None (the touched set is
   *     then every file, without the bounds). */
  private def mergePrunePlan(m: Manifest, src: DataFrame, keys: Seq[String],
      nullSafeKeys: Boolean): Option[Seq[SnapshotFile]] = {
    val statKeys = keys.filter(k => m.statsCols.contains(k) &&
      src.schema(k).dataType == m.schema(k).dataType)
    if (statKeys.isEmpty) return None
    val files = snapshotFiles(m)
    if (files.map(_.status.getLen).sum < LakeTable.mergePruneMinBytes(spark)) return None
    val aggs = statKeys.flatMap { k =>
      Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")) ++
      (if (nullSafeKeys) Seq(max(col(k).isNull.cast("int")).as(s"__nul_$k"))
       else Nil)
    }
    val r = src.agg(aggs.head, aggs.tail: _*).head()
    if (nullSafeKeys && statKeys.exists { k =>
        val i = r.fieldIndex(s"__nul_$k"); !r.isNullAt(i) && r.getInt(i) == 1 })
      return None
    val bounds = statKeys.flatMap { k =>
      val lo = r.fieldIndex(s"__lo_$k"); val hi = r.fieldIndex(s"__hi_$k")
      if (r.isNullAt(lo) || r.isNullAt(hi)) None // empty/all-null source key
      else {
        def bound(i: Int) = GraftColumnBridge.column(Literal.create(r.get(i), m.schema(k).dataType))
        Some(col(k) >= bound(lo) && col(k) <= bound(hi))
      }
    }
    if (bounds.isEmpty) return None
    val kept = candidateFiles(m, files, bounds.reduce(_ && _))
    if (kept.size >= files.size) None else Some(kept)
  }

  // ---- COLUMN-MAPPING translation boundary --------------------------------
  //
  // With a non-empty colMap, parquet files carry PHYSICAL column names while
  // every API surface (schema, predicates, conditions, constraints,
  // generated expressions) speaks LOGICAL names. These helpers are the ONLY
  // translation points: the snapshot scan carries the physical schema and
  // renames to logical immediately; file writes rename to physical just
  // before `.write.parquet`. Per-file artifacts (zone stats, bloom sidecars,
  // Hive partition dirs) describe physical files and stay keyed physical,
  // so a rename can never invalidate them. Empty colMap ⇒ every helper is
  // the identity.

  /** Logical → physical column name (identity when unmapped). */
  private def physName(m: Manifest, c: String): String =
    m.colMap.collectFirst { case (l, p) if l == c => p }.getOrElse(c)

  /** The manifest schema with physical field names — what the files carry. */
  private def physSchema(m: Manifest): StructType =
    if (m.colMap.isEmpty) m.schema
    else StructType(m.schema.fields.map(f => f.copy(name = physName(m, f.name))))

  /** Rename a logical-space frame to physical names (write-side boundary). */
  private def toPhysicalNames(m: Manifest, df: DataFrame): DataFrame =
    if (m.colMap.isEmpty) df else df.withColumnsRenamed(m.colMap.toMap)

  /** Rename a physical-space frame to logical names (read-side boundary).
   *  Columns outside the map (row-id/_change_type helpers) pass through. */
  private def toLogicalNames(m: Manifest, df: DataFrame): DataFrame =
    if (m.colMap.isEmpty) df
    else df.withColumnsRenamed(m.colMap.map { case (l, p) => p -> l }.toMap)

  // ---- SNAPSHOT SCAN -------------------------------------------------------

  /** The table root as a Hadoop path: file statuses listed under it render
   *  exactly as Spark's `_metadata.file_path` does (see [[rowIdCols]]). */
  private lazy val rootPath = new HPath(
    "file:" + Paths.get(root).toAbsolutePath.normalize.toString)

  /** A partition value as the manifest and the Hive dir names record it,
   *  parsed into the column's type the way Spark's partition discovery
   *  parses dir names (null when it does not parse). */
  private def typedValue(dt: DataType): String => Any = {
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    v => Cast(Literal(v), dt, zone, EvalMode.TRY).eval()
  }

  /** Every file of snapshot `m` a read may return, listed from the
   *  manifest's data dirs. Partitioned tables apply the ownership rule: a
   *  file is visible only while its entry owns the file's partition value
   *  (narrowed to `scope` when given) — a dir keeps files of partitions it
   *  no longer owns until vacuum. */
  private def snapshotFiles(m: Manifest,
      scope: Option[Set[String]] = None): Seq[SnapshotFile] = {
    val prefix = rootPath.toUri.getPath + "/"
    val typed = m.pcol.map(p => typedValue(m.schema(p).dataType))
    m.entries.flatMap { e =>
      val owned = typed.map(t => e.owned.getOrElse(Nil)
        .filter(v => scope.forall(_(v))).map(t).toSet)
      if (owned.exists(_.isEmpty)) Nil
      else listStatuses(new HPath(rootPath, e.dir)).flatMap { st =>
        val rel = st.getPath.toUri.getPath.stripPrefix(prefix)
        owned match {
          case Some(vs) =>
            partitionValueOf(rel.stripPrefix(e.dir + "/"), physName(m, m.pcol.get))
              .map(typed.get).filter(v => v != null && vs(v))
              .map(v => SnapshotFile(rel, e.dir, st, InternalRow(v)))
          case None => Some(SnapshotFile(rel, e.dir, st, InternalRow.empty))
        }
      }
    }
  }

  /** Every `.parquet` file under `dir`, recursively, in name order (none if
   *  `dir` is missing) — the ONE data-file lister. Hadoop renders these
   *  paths exactly as Spark's `_metadata.file_path` (see [[rowIdCols]]). */
  private def listStatuses(dir: HPath): Seq[FileStatus] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def list(p: HPath): Seq[FileStatus] =
      fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        if (st.isDirectory) list(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Nil
      }
    try list(dir) catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** [[listStatuses]] of a local dir, as local paths under `dir`. */
  private def listParquet(dir: Path): Seq[Path] = {
    val abs = dir.toAbsolutePath.normalize
    listStatuses(new HPath("file:" + abs)).map(st =>
      dir.resolve(abs.relativize(Paths.get(st.getPath.toUri.getPath))))
  }

  /** The file index over `files` of snapshot `m`: physical data and
   *  partition schemas (nullable, as file sources read them), the
   *  manifest's zone stats and the dirs' bloom sidecars. `version` names
   *  `m` only when `files` is its whole visible set. */
  private def fileIndex(m: Manifest, files: Seq[SnapshotFile],
      version: Option[Long] = None): ManifestFileIndex = {
    val phys = GraftColumnBridge.asNullable(physSchema(m))
    val pcol = m.pcol.map(physName(m, _))
    new ManifestFileIndex(rootPath, version, files,
      StructType(phys.filter(f => pcol.contains(f.name))),
      StructType(phys.filterNot(f => pcol.contains(f.name))),
      m.fileStats.map(fs => fs.path -> fs.minMax).toMap,
      readBloomIndex, m.bloomCols.map(physName(m, _)).toSet,
      spark.sessionState.conf.sessionLocalTimeZone)
  }

  /** ONE scan over `files` of snapshot `m` — a `HadoopFsRelation` over
   *  their [[ManifestFileIndex]] — renamed to logical columns, with the
   *  row-id columns attached when `rowIds`. Deletion vectors are NOT
   *  applied (see [[snapshot]]). */
  private def scanFiles(m: Manifest, files: Seq[SnapshotFile],
      rowIds: Boolean = false, version: Option[Long] = None): DataFrame = {
    val index = fileIndex(m, files, version)
    val df = spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, index.dataSchema, None, new ParquetFileFormat,
      Map.empty)(spark))
    toLogicalNames(m, if (rowIds) rowIdCols(df) else df)
  }

  /** Snapshot rows of `m` over `files` with logically deleted rows
   *  anti-joined out against the manifest's deletion vectors, projected to
   *  `m.schema` — plus [[DvFileCol]]/[[DvPosCol]] when `withRowIds` (the
   *  merge-on-read write paths need the coordinates). The DV side is
   *  broadcast: it is sized by deleted-row count, not table size — tables
   *  accumulating large vectors compact (which materializes and clears
   *  them). */
  private def snapshot(m: Manifest, files: Seq[SnapshotFile],
      withRowIds: Boolean, version: Option[Long]): DataFrame = {
    val scan = scanFiles(m, files, rowIds = withRowIds || m.deleteVectors.nonEmpty, version)
    val ids = if (withRowIds) Seq(DvFileCol, DvPosCol) else Nil
    antiJoinDeleteVectors(scan, m).select((m.schema.fieldNames.toSeq ++ ids).map(col): _*)
  }

  /** The snapshot of `m`, deletion vectors applied. */
  private def snapshot(m: Manifest): DataFrame =
    snapshot(m, snapshotFiles(m), withRowIds = false, version = None)

  /** The whole snapshot of version `v`, its scan labelled with `v`. */
  private def snapshotAt(v: Long): DataFrame = {
    val m = readManifest(v)
    snapshot(m, snapshotFiles(m), withRowIds = false, version = Some(v))
  }

  /** Root-relative path + in-file row index of every scanned row — the
   *  coordinates deletion vectors address rows by. Hadoop renders
   *  `_metadata.file_path` as `file:` + absolute path (single slash). */
  private def rowIdCols(df: DataFrame): DataFrame = {
    val prefix = s"$rootPath/"
    df.withColumn(DvFileCol,
        expr(s"substring(_metadata.file_path, ${prefix.length + 1})"))
      .withColumn(DvPosCol, col("_metadata.row_index"))
  }

  /** Filter logically deleted rows out of a scan carrying row-id columns. */
  private def antiJoinDeleteVectors(df: DataFrame, m: Manifest): DataFrame =
    if (m.deleteVectors.isEmpty) df
    else {
      val dv = spark.read.schema(DvSchema)
        .parquet(m.deleteVectors.map(d => s"$root/$d"): _*)
      df.join(broadcast(dv),
        df(DvFileCol) === dv("file") && df(DvPosCol) === dv("pos"), "left_anti")
    }

  /** Streaming tail of an APPEND-ONLY table (SURVEY §2.1/S4 — the
   *  `readStream.format("delta")` equivalent): a Structured Streaming file
   *  source over the table's data directories. Each `append` lands new
   *  parquet files, which the file-listing checkpoint picks up exactly once.
   *  Sound only for append-only tables (bronze) — merge/overwrite rewrite
   *  files, which a file stream must never tail. ENFORCED: refuses any table
   *  whose commit history contains a non-append operation (the guard Delta
   *  implements as `ignoreChanges`-less streaming reads). */
  def readStream: DataFrame = {
    require(exists, s"LakeTable at $root does not exist")
    // metadata-only commits (create/constraint/index/alter) touch no data
    // files — safe: the stream plans with the CURRENT schema, so files
    // predating an ADD COLUMNS serve NULL and dropped columns project away
    val unsafe = history.filterNot { case (_, op) =>
      op == "create" || op == "append" || op == "constraint" ||
        op == "index" || op == "alter" || op == "convert" ||
        op == "rename" || op == "properties" }
    // the one self-inflicted way to break this contract: TBLPROPERTIES
    // autoCompact='true' makes APPENDS commit optimize rewrites, so the
    // property and a file-glob stream are mutually exclusive on one table —
    // name the property in the error or the failure looks like a mystery
    // (the user only ever appended)
    val autoCompactHint =
      if (unsafe.exists(_._2 == "optimize") && manifest.props.exists { case (k, v) =>
          k == LakeTable.AutoCompactProp && v.trim.equalsIgnoreCase("true") })
        s" (this table has TBLPROPERTIES ${LakeTable.AutoCompactProp}='true': " +
          "appends themselves commit compaction rewrites — unset it, or " +
          "stream a separate non-compacting bronze table and OPTIMIZE downstream)"
      else ""
    require(unsafe.isEmpty,
      s"readStream requires an append-only history, but $root has non-append commits: " +
        unsafe.map { case (v, op) => s"v$v=$op" }.mkString(", ") +
        " — rewritten files would replay as duplicates in a file stream" +
        autoCompactHint)
    // Partitioned tables store the partition column in the Hive directory
    // layout, not in the parquet files; the glob file stream below has no
    // per-dir basePath, so that column would silently come back all-NULL.
    val m = manifest
    require(m.pcol.isEmpty,
      s"readStream does not support partitioned tables ($root is " +
        s"partitioned by ${m.pcol.get}): the file-stream glob " +
        "cannot materialize Hive-layout partition values — stream the " +
        "unpartitioned bronze table and partition downstream")
    // files carry PHYSICAL names: plan the stream with the physical
    // schema and rename to the logical view (a rename mid-stream is safe —
    // physical names never change, so the file source's schema is stable)
    toLogicalNames(m, spark.readStream.schema(physSchema(m))
      .option("maxFilesPerTrigger", "1000")
      .parquet(s"$root/data/*"))
  }

  /** Create an empty table (idempotent). `partitionBy` fixes the partition
   *  column for the table's lifetime; `enableChangeFeed` turns on O8 change
   *  data capture — every later MERGE materializes its row-level changes for
   *  [[readChangeFeed]] (appends derive their inserts for free). */
  def create(schema: StructType, partitionBy: Option[String] = None,
      enableChangeFeed: Boolean = false,
      statsColumns: Seq[String] = Nil,
      generatedColumns: Map[String, String] = Map.empty,
      bloomFilterColumns: Seq[String] = Nil,
      identityColumns: Map[String, (Long, Long)] = Map.empty,
      defaultValues: Map[String, String] = Map.empty): LakeTable = {
    if (!exists) {
      partitionBy.foreach(p => require(schema.fieldNames.contains(p),
        s"partition column $p not in schema"))
      statsColumns.foreach(c => require(schema.fieldNames.contains(c),
        s"stats column $c not in schema"))
      bloomFilterColumns.foreach(c => require(schema.fieldNames.contains(c),
        s"bloom filter column $c not in schema"))
      generatedColumns.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"generated column $c not in schema"))
      identityColumns.foreach { case (c, (_, step)) =>
        require(schema.fieldNames.contains(c), s"identity column $c not in schema")
        require(schema(c).dataType == org.apache.spark.sql.types.LongType,
          s"identity column $c must be BIGINT")
        require(step != 0, s"identity column $c: step must be non-zero")
        require(!generatedColumns.contains(c),
          s"$c cannot be both identity and generated")
      }
      defaultValues.keys.foreach { c =>
        require(schema.fieldNames.contains(c), s"DEFAULT column $c not in schema")
        require(!generatedColumns.contains(c) && !identityColumns.contains(c),
          s"$c cannot carry a DEFAULT and be generated/identity")
      }
      // the sequence state rides the property map: spec + high-water
      // (hw starts one step BEFORE start so the first assigned id = start)
      val identProps = identityColumns.toSeq.sortBy(_._1).flatMap {
        case (c, (s0, st)) => Seq(
          s"${LakeTable.IdentityPropPrefix}$c" -> s"$s0,$st",
          s"${LakeTable.IdentityPropPrefix}$c.hw" -> (s0 - st).toString)
      } ++ defaultValues.toSeq.sortBy(_._1).map { case (c, e) =>
        s"${LakeTable.DefaultPropPrefix}$c" -> e
      }
      Files.createDirectories(Paths.get(root))
      // idempotent: losing the v0 race means someone else created the table
      try commit.pinned("create", -1L, Commit.Empty)(_.copy(schema = schema,
        pcol = partitionBy, cdfEnabled = enableChangeFeed,
        statsCols = statsColumns.filterNot(partitionBy.contains),
        generated = generatedColumns.toSeq.sortBy(_._1),
        bloomCols = bloomFilterColumns.filterNot(partitionBy.contains),
        props = identProps))
      catch { case _: ConcurrentWriteException => false }
    }
    this
  }

  /** Declared IDENTITY columns: name → (start, step). */
  def identityColumns: Map[String, (Long, Long)] =
    identitySpecsOf(manifest)

  /** `ALTER TABLE … ALTER COLUMN c SET DEFAULT <expr>` — metadata-only
   *  (one properties commit); applies to subsequent named-column INSERTs
   *  that omit the column. */
  def setDefaultValue(c: String, e: String): Unit = {
    require(schema.fieldNames.contains(c), s"unknown column $c")
    require(!generatedColumns.contains(c) && !identityColumns.contains(c),
      s"$c cannot carry a DEFAULT and be generated/identity")
    setTablePropertiesInternal(Map(s"${LakeTable.DefaultPropPrefix}$c" -> e))
  }

  /** `ALTER TABLE … ALTER COLUMN c DROP DEFAULT` (absent default = no-op,
   *  Delta's semantics). */
  def dropDefaultValue(c: String): Unit = {
    require(schema.fieldNames.contains(c), s"unknown column $c")
    unsetTablePropertiesInternal(Seq(s"${LakeTable.DefaultPropPrefix}$c"))
  }

  /** Declared column DEFAULTs: name → expression SQL. */
  def defaultValues: Map[String, String] =
    manifest.props.collect {
      case (k, v) if k.startsWith(LakeTable.DefaultPropPrefix) =>
        k.stripPrefix(LakeTable.DefaultPropPrefix) -> v
    }.toMap

  private def identitySpecsOf(m: Manifest): Map[String, (Long, Long)] =
    m.props.collect {
      case (k, v) if k.startsWith(LakeTable.IdentityPropPrefix) &&
          !k.endsWith(".hw") =>
        val Array(s0, st) = v.split(',')
        k.stripPrefix(LakeTable.IdentityPropPrefix) -> (s0.toLong, st.toLong)
    }.toMap

  private def identityHw(m: Manifest, c: String): Long = {
    val (s0, st) = identitySpecsOf(m)(c)
    m.props.toMap.get(s"${LakeTable.IdentityPropPrefix}$c.hw")
      .map(_.toLong).getOrElse(s0 - st)
  }

  /** Assign dense identity values above `hw`: ONE counting pass for
   *  per-partition offsets, then a narrow map — no global sort, no
   *  single-partition funnel at any batch size. Values are
   *  hw + step·(global position); returns the frame (original column
   *  order), the new high-water per column, and the PINNED input RDD.
   *  Pinning matters for correctness, not just speed: the counting pass
   *  and the physical write are two jobs over the same lineage — a
   *  nondeterministic upstream (shuffled sample, rand()) could otherwise
   *  change partition contents between them, silently duplicating or
   *  skipping ids. The caller unpersists after the append commits. */
  private def assignIdentities(df: DataFrame, tableSchema: StructType,
      specs: Map[String, (Long, Long)],
      hw: Map[String, Long])
      : (DataFrame, Map[String, Long], org.apache.spark.rdd.RDD[Row]) = {
    import org.apache.spark.sql.Row
    specs.keys.foreach(c => require(!df.columns.contains(c),
      s"identity column $c is GENERATED ALWAYS — it cannot be supplied"))
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = rdd.mapPartitionsWithIndex((i, it) =>
      Iterator((i, it.size.toLong))).collect().toMap
    val nParts = rdd.getNumPartitions max 1
    val offsets = (0 until nParts).scanLeft(0L)(
      (acc, i) => acc + counts.getOrElse(i, 0L)).toArray
    val total = offsets(nParts)
    val specList = specs.toSeq.sortBy(_._1)
    val schema2 = StructType(df.schema.fields ++ specList.map { case (c, _) =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.LongType, nullable = false) })
    val out = rdd.mapPartitionsWithIndex { case (i, it) =>
      var k = offsets(i)
      it.map { r =>
        k += 1
        Row.fromSeq(r.toSeq ++ specList.map { case (c, (_, st)) =>
          hw(c) + st * k })
      }
    }
    val assigned = spark.createDataFrame(out, schema2)
      .select(tableSchema.fieldNames.toSeq.map(col): _*)
    (assigned, specs.map { case (c, (_, st)) => c -> (hw(c) + st * total) }, rdd)
  }

  /**
   * CONVERT an existing plain-parquet directory into a lake table (Delta's
   * `CONVERT TO DELTA` role — the migration path onto the engine): the
   * source files are ADOPTED BY HARD LINK into the table's data layout —
   * O(files) metadata operations, ZERO data movement or rewrite, so a
   * 100 TB parquet corpus converts in the time it takes to list it. The
   * source directory is left untouched (existing readers keep working; the
   * links share inodes, so no storage is duplicated — same trick the
   * optimizer uses to carry untouched files across compactions). Schema
   * comes from the parquet footers; `partitionBy` declares an existing
   * Hive `col=value` layout (the link step preserves the directory
   * structure, so partition pruning works immediately); `statsColumns`
   * runs the same one-pass zone-map collection a native write performs —
   * the only step that reads data, and the price of file skipping (omit it
   * for a pure-metadata convert; Delta's convert likewise scans for
   * stats). Commits as version 0 with op `convert`; change feeds and
   * streaming tails treat the adopted files as the initial insert batch.
   */
  def convertFrom(sourceDir: String, partitionBy: Option[String] = None,
      statsColumns: Seq[String] = Nil,
      bloomFilterColumns: Seq[String] = Nil): LakeTable = synchronized {
    require(!exists, s"LakeTable at $root already exists — CONVERT targets " +
      "a fresh root")
    val src = Paths.get(sourceDir).toAbsolutePath.normalize
    val files = listParquet(src)
    require(files.nonEmpty, s"no parquet files under $sourceDir")
    val inferred = StructType(spark.read.parquet(sourceDir).schema.map(
      _.copy(nullable = true)))
    partitionBy.foreach(p => require(inferred.fieldNames.contains(p),
      s"partition column $p not found — is $sourceDir Hive-partitioned by it?"))
    if (partitionBy.isEmpty) {
      // a Hive col=value layout silently yields NULLs for the partition
      // column if adopted unpartitioned — refuse instead
      val hive = files.flatMap(f => src.relativize(f).iterator().asScala
        .map(_.toString).find(s => s.contains("=") && !s.endsWith(".parquet")))
      require(hive.isEmpty,
        s"$sourceDir has col=value directories (${hive.head}) — pass partitionBy")
    }
    val dir = s"data/${UUID.randomUUID()}"
    files.foreach { f =>
      val dest = Paths.get(root, dir).resolve(src.relativize(f))
      Files.createDirectories(dest.getParent)
      try { Files.createLink(dest, f); () }
      catch { // cross-filesystem (EXDEV) or FS without links: copy instead
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(f, dest); ()
      }
    }
    val owned = partitionBy.map { p =>
      val vals = listPartitionValues(dir, p)
      if (vals.contains(null)) {
        deleteRecursively(Paths.get(root, dir))
        throw new IllegalArgumentException(
          s"null or __HIVE_DEFAULT_PARTITION__ value in partition column $p " +
            "— unaddressable by partition-scoped reads; convert aborted")
      }
      vals
    }
    val scols = statsColumns.filterNot(partitionBy.contains)
    val bcols = bloomFilterColumns.filterNot(partitionBy.contains)
    writeBloomIndex(dir, inferred, partitionBy, bcols)
    val fstats = collectFileStats(dir, inferred, partitionBy, scols)
    try commit.pinned("convert", -1L, Commit.Empty)(_.copy(schema = inferred,
      pcol = partitionBy, entries = Seq(DirEntry(dir, owned)), statsCols = scols,
      fileStats = fstats, bloomCols = bcols))
    catch { case e: ConcurrentWriteException => // another writer created the table
      reclaimDir(dir)
      throw e
    }
    this
  }

  /** GENERATED columns (Delta `GENERATED ALWAYS AS`): columns the table
   *  derives from an expression over the other columns — typically the
   *  partition column (`ship_month` from a timestamp), so writers never
   *  hand-maintain it and partition pruning stays trustworthy. A batch that
   *  OMITS a generated column gets it computed; a batch that SUPPLIES one is
   *  validated cell-for-cell against the expression (Delta's write-side
   *  contract) — a mismatch fails before anything is written. */
  def generatedColumns: Map[String, String] = manifest.generated.toMap

  /** Compute missing generated columns; validate supplied ones. */
  private def materializeGenerated(df: DataFrame, m: Manifest): DataFrame =
    m.generated.foldLeft(df) { case (d, (c, e)) =>
      val target = expr(e).cast(m.schema(c).dataType)
      if (!d.columns.contains(c)) d.withColumn(c, target)
      else {
        val bad = d.filter(!(col(c) <=> target)).limit(1).count()
        require(bad == 0,
          s"generated column $c: supplied values disagree with '$e'")
        d
      }
    }

  /** `colMap` is the table's column mapping: `df`, `pcol`, `statsCols` and
   *  `bloomCols` arrive in LOGICAL names; files, Hive dirs, stats keys and
   *  bloom sidecars are written PHYSICAL (see the translation-boundary
   *  notes above). */
  /** Data-file writes use INT64 TIMESTAMP(MICROS) instead of Spark's
   *  legacy INT96 default: INT96 is deprecated upstream and its footer
   *  statistics are unordered bytes, so zone maps for timestamp columns
   *  would need a read-back aggregation pass. Scoped set-and-restore —
   *  the session's own writes outside the lake keep their configured
   *  encoding. A concurrent restore race only re-encodes a file as INT96,
   *  whose absent footer stats never prune (safe degradation). */
  private def withMicrosTimestamps[A](f: => A): A = {
    val k = "spark.sql.parquet.outputTimestampType"
    // REFCOUNTED per session: concurrent lake writes (CONCURRENT pipeline
    // flows, parallel fixture builds) overlap — a naive save/restore pair
    // races, captures a sibling's override as "previous" and leaks
    // TIMESTAMP_MICROS into the session for good. First writer in saves,
    // last writer out restores.
    // Acquire/release run inside ConcurrentHashMap.compute so the entry
    // can be REMOVED when the last writer leaves — a session-churning app
    // no longer accumulates one entry per SparkSession it ever wrote
    // with. (A remove outside the map's per-key lock would race a fresh
    // computeIfAbsent into a second state object owning its own
    // save/restore.)
    LakeTable.microsOverride.compute(spark, (_, st0) => {
      val st = if (st0 == null) new LakeTable.MicrosState else st0
      if (st.depth == 0) {
        st.prev = spark.conf.getOption(k)
        spark.conf.set(k, "TIMESTAMP_MICROS")
      }
      st.depth += 1
      st
    })
    try f finally {
      LakeTable.microsOverride.compute(spark, (_, st) => {
        st.depth -= 1
        if (st.depth == 0) {
          st.prev match {
            case Some(v) => spark.conf.set(k, v)
            case None => spark.conf.unset(k)
          }
          null // drop the entry
        } else st
      })
      ()
    }
  }

  /** Driver-local parquet write of a SMALL in-memory relation: a frame
   *  whose optimized plan is a LocalRelation of simple-typed rows (event
   *  logs, tiny metadata batches, fixture seeds) is written by the driver
   *  thread straight through parquet-hadoop — ZERO Spark jobs, one file —
   *  instead of scheduling a distributed write for rows that already sit
   *  in driver memory (guide §5: the scheduler round-trip IS the cost for
   *  metadata-sized writes). Encodings match the distributed writer
   *  exactly: INT64 TIMESTAMP(MICROS) — InternalRow's own representation,
   *  the same encoding [[withMicrosTimestamps]] pins — DATE int32, STRING
   *  binary, snappy compression, footer stats recorded, so zone maps and
   *  the change feed read these files like any other. Any other plan
   *  shape, row count, or type falls back (returns false). */
  private def writeLocalRelation(df: DataFrame, dir: String): Boolean = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def writable(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | DoubleType | FloatType | BooleanType |
           StringType | TimestampType | DateType => true
      case _ => false
    }
    df.queryExecution.optimizedPlan match {
      case lr: LocalRelation
          if lr.data.lengthCompare(LakeTable.LocalWriteMaxRows) <= 0 &&
            lr.output.forall(a => writable(a.dataType)) =>
        import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Types}
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        import org.apache.parquet.schema.Type.Repetition
        val fields = lr.output
        val msgB = Types.buildMessage()
        fields.foreach { a =>
          val rep = if (a.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
          val t = a.dataType match {
            case LongType => Types.primitive(INT64, rep)
            case IntegerType => Types.primitive(INT32, rep)
            case DoubleType => Types.primitive(DOUBLE, rep)
            case FloatType => Types.primitive(FLOAT, rep)
            case BooleanType => Types.primitive(BOOLEAN, rep)
            case StringType => Types.primitive(BINARY, rep).as(L.stringType())
            case TimestampType => Types.primitive(INT64, rep)
              .as(L.timestampType(true, L.TimeUnit.MICROS))
            case DateType => Types.primitive(INT32, rep).as(L.dateType())
            case other => sys.error(s"unreachable local-write type $other")
          }
          msgB.addField(t.named(a.name))
        }
        val msg = msgB.named("spark_schema")
        Files.createDirectories(Paths.get(root, dir))
        val f = new org.apache.hadoop.fs.Path(
          s"$root/$dir/part-00000-${UUID.randomUUID()}.snappy.parquet")
        val conf = spark.sessionState.newHadoopConf()
        val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(f, conf))
          .withConf(conf)
          .withType(msg)
          .withCompressionCodec(
            org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
          .build()
        try lr.data.foreach { r =>
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
          var i = 0
          while (i < fields.length) {
            if (!r.isNullAt(i)) fields(i).dataType match {
              case LongType | TimestampType => g.add(i, r.getLong(i))
              case IntegerType | DateType => g.add(i, r.getInt(i))
              case DoubleType => g.add(i, r.getDouble(i))
              case FloatType => g.add(i, r.getFloat(i))
              case BooleanType => g.add(i, r.getBoolean(i))
              case StringType => g.add(i, r.getUTF8String(i).toString)
              case _ => ()
            }
            i += 1
          }
          w.write(g)
        } finally w.close()
        true
      case _ => false
    }
  }

  private def writeData(df0: DataFrame, pcol: Option[String],
      statsCols: Seq[String] = Nil,
      preclustered: Boolean = false,
      bloomCols: Seq[String] = Nil,
      colMap: Seq[(String, String)] = Nil): (String, Option[Seq[String]], Seq[FileStat]) = {
    def pn(c: String): String =
      colMap.collectFirst { case (l, p) if l == c => p }.getOrElse(c)
    val df = if (colMap.isEmpty) df0 else df0.withColumnsRenamed(colMap.toMap)
    val dir = s"data/${UUID.randomUUID()}"
    val owned = pcol.map(pn) match {
      case None =>
        if (!writeLocalRelation(df, dir))
          withMicrosTimestamps { df.write.parquet(s"$root/$dir") }
        None
      case Some(p) =>
        // Cluster by the partition column first: otherwise every task writes
        // a file per partition value it holds (tasks × partitions small
        // files). One shuffle → each partition's rows land in one task →
        // one file per partition. (A 100 TB deployment with giant single
        // partitions would add a within-partition salt to split files.)
        // `preclustered` callers (Z-order compaction) arranged their own
        // task layout — re-shuffling here would destroy it.
        val out = if (preclustered) df else df.repartition(col(p))
        withMicrosTimestamps { out.write.partitionBy(p).parquet(s"$root/$dir") }
        // Owned partition values from the written directory layout (p=value
        // subdirs) — a driver-side listing instead of a second full
        // evaluation of `df` (which may be an expensive join/window plan;
        // a pre-write validation scan would evaluate it twice). Null and
        // empty-string values both land in the Hive default-partition
        // sentinel dir and decode to null here; reject them BEFORE commit
        // and reclaim the uncommitted dir so no orphan lingers.
        val vals = listPartitionValues(dir, p)
        if (vals.contains(null)) {
          deleteRecursively(Paths.get(root, dir))
          throw new IllegalArgumentException(
            s"null or empty-string partition value in column $p " +
              "(both map to __HIVE_DEFAULT_PARTITION__, whose rows a " +
              "partition-scoped read could never locate); uncommitted data " +
              "dir removed")
        }
        Some(vals)
    }
    writeBloomIndex(dir, df.schema, pcol.map(pn), bloomCols.map(pn))
    (dir, owned, collectFileStats(dir, df.schema, pcol.map(pn), statsCols.map(pn)))
  }

  /** ONE-PASS data + change-image write for an unpartitioned CDF commit:
   *  the merged rows and the commit's change rows are two projections of
   *  the SAME join, so writing them as one `partitionBy` job over a side
   *  discriminator evaluates the join once — the union branches share
   *  their exchanges (ReuseExchange) — instead of persisting the join and
   *  running two sequential write jobs over it (guide §1.2: remove the
   *  pass, don't tune it). The side dirs are renamed into `data/` and
   *  `_changes/` (driver-side moves, no data I/O). Data files carry an
   *  all-NULL `_change_type` column (the union schema) that every reader
   *  ignores — reads are explicit-schema projections. A missing side dir
   *  means that side had zero rows: an empty dir serves the same empty
   *  relation an empty parquet write did. Returns
   *  (dataDir, fileStats, changesDir). */
  private def writeDataAndChanges(df0: DataFrame, changes0: DataFrame,
      statsCols: Seq[String], bloomCols: Seq[String],
      colMap: Seq[(String, String)]): (String, Seq[FileStat], String) = {
    def pn(c: String): String =
      colMap.collectFirst { case (l, p) if l == c => p }.getOrElse(c)
    val ren = colMap.toMap
    val df = if (colMap.isEmpty) df0 else df0.withColumnsRenamed(ren)
    val changes =
      if (colMap.isEmpty) changes0 else changes0.withColumnsRenamed(ren)
    val side = "__cdc_side"
    val unioned = df
      .withColumn(ChangeTypeCol, lit(null).cast("string"))
      .withColumn(side, lit("d"))
      .unionByName(changes.withColumn(side, lit("c")))
    val tmp = s"data/.mc-${UUID.randomUUID()}"
    withMicrosTimestamps {
      unioned.write.partitionBy(side).parquet(s"$root/$tmp") }
    val dir = s"data/${UUID.randomUUID()}"
    val ch = s"_changes/${UUID.randomUUID()}"
    def place(sideVal: String, dst: Path): Unit = {
      Files.createDirectories(dst.getParent)
      val src = Paths.get(root, tmp, s"$side=$sideVal")
      if (Files.isDirectory(src)) { Files.move(src, dst); () }
      else { Files.createDirectories(dst); () } // zero rows on this side
    }
    place("d", Paths.get(root, dir))
    place("c", Paths.get(root, ch))
    deleteRecursively(Paths.get(root, tmp))
    writeBloomIndex(dir, df.schema, None, bloomCols.map(pn))
    (dir, collectFileStats(dir, df.schema, None, statsCols.map(pn)), ch)
  }

  // ---- BLOOM-FILTER FILE INDEX (Delta bloom filter index analog) ----------
  //
  // Zone maps prune on VALUE RANGES, which needs the column clustered
  // (sorted appends, Z-order) — on a high-cardinality unclustered key every
  // file's [min, max] spans the domain and nothing prunes. The bloom index
  // answers the other question: "can this file contain THIS value?" — per
  // file, per indexed column, built in one distributed pass over the freshly
  // written dir and stored as a `_bloom/<dir-uuid>.idx` sidecar (never in
  // the manifest: index bytes are O(files × bits), manifests are read on
  // every snapshot resolution). Missing sidecars never prune, so hard-link
  // relinks (the copy-on-write rewrites) and pre-index dirs stay correct,
  // just unpruned.
  // At 100 TB: a point lookup on an indexed key reads ~fpp of the files a
  // zone-mapped-but-unclustered scan would read.

  /** Values hashed as their CAST-to-STRING rendering — the same canonical
   *  form zone-map bounds use; the file index renders a probe's literal
   *  the same way, so probe and build agree for every column type. */
  private def writeBloomIndex(dir: String, schema: StructType,
      pcol: Option[String], bloomCols: Seq[String]): Unit = {
    val bcols = bloomCols.filter(c =>
      schema.fieldNames.contains(c) && !pcol.contains(c))
    if (bcols.isEmpty) return
    val raw = spark.read.schema(schema)
      .option("basePath", s"$root/$dir").parquet(s"$root/$dir")
      .select(input_file_name().as("__f") +:
        bcols.map(c => col(c).cast("string")): _*)
    val nb = bcols.size
    // per-partition partial blooms keyed by file, OR-merged EXECUTOR-SIDE
    // via reduceByKey: the driver receives exactly ONE merged bloom array
    // per file — the final index content it writes anyway — never the
    // partition-count × file-count partial set, and the merge work is
    // distributed. A 10k-file initial-load commit indexes without driver
    // memory pressure or a single-threaded merge loop.
    val partials = raw.rdd.mapPartitions { it =>
      val m = scala.collection.mutable.Map.empty[
        String, Array[org.apache.spark.util.sketch.BloomFilter]]
      it.foreach { r =>
        val arr = m.getOrElseUpdate(r.getString(0),
          Array.fill(nb)(org.apache.spark.util.sketch.BloomFilter.create(
            BloomExpectedItems, BloomFpp)))
        var i = 0
        while (i < nb) {
          if (!r.isNullAt(i + 1)) arr(i).putString(r.getString(i + 1))
          i += 1
        }
      }
      m.iterator.map { case (f, arr) =>
        (f, arr.map { bf =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          bos.toByteArray
        })
      }
    }
    val merged = partials.reduceByKey(LakeTable.mergeBloomBytes _)
      .map { case (f, blooms) =>
        val idx = f.indexOf(dir)
        require(idx >= 0, s"file path $f not under $dir")
        f.substring(idx) -> blooms
      }.collect()
    val out = bloomIndexFile(dir)
    Files.createDirectories(out.getParent)
    val dos = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(out)))
    try {
      dos.writeInt(merged.size)
      merged.foreach { case (relPath, blooms) =>
        dos.writeUTF(relPath)
        dos.writeInt(bcols.size)
        bcols.zip(blooms).foreach { case (c, bytes) =>
          dos.writeUTF(c)
          dos.writeInt(bytes.length)
          dos.write(bytes)
        }
      }
    } finally dos.close()
  }

  /** `data/<uuid>` → `_bloom/<uuid>.idx` */
  private def bloomIndexFile(dir: String): Path =
    Paths.get(root, "_bloom", s"${Paths.get(dir).getFileName}.idx")

  /** file relPath → column → bloom; empty map when no sidecar exists. */
  private def readBloomIndex(dir: String)
      : Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]] =
    bloomIndexCache.getOrElseUpdate(dir, {
      val f = bloomIndexFile(dir)
      if (!Files.exists(f)) Map.empty
      else {
        val dis = new java.io.DataInputStream(new java.io.BufferedInputStream(
          Files.newInputStream(f)))
        try {
          (0 until dis.readInt()).map { _ =>
            val relPath = dis.readUTF()
            val cols = (0 until dis.readInt()).map { _ =>
              val c = dis.readUTF()
              val bytes = new Array[Byte](dis.readInt())
              dis.readFully(bytes)
              c -> org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(bytes))
            }.toMap
            relPath -> cols
          }.toMap
        } finally dis.close()
      }
    })

  private val bloomIndexCache = scala.collection.concurrent.TrieMap
    .empty[String, Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]]

  /** Partition values of a freshly written dir, decoded from its `p=value`
   *  subdirectory names (Hive layout). Spark percent-escapes special path
   *  characters on write; `%XX` sequences are decoded back. A null (or
   *  empty-string) partition value writes the Hive default-partition
   *  sentinel and maps to null.
   *
   *  Decoding matches Hive/Spark `unescapePathName`: consecutive `%XX`
   *  escapes accumulate into a byte run that is UTF-8-decoded ONCE (a
   *  multi-byte value such as `é` = `%C3%A9` must not become two mojibake
   *  chars — that would record a partition value no equality filter can
   *  ever match, silently hiding the partition), and a `%` not followed by
   *  two hex digits passes through literally.
   *
   *  Known Hive-layout ambiguity: a genuine string value equal to
   *  `"__HIVE_DEFAULT_PARTITION__"` is indistinguishable from null in the
   *  directory name, decodes to null here, and is rejected by [[writeData]]
   *  with the null/empty-string error. */
  private def listPartitionValues(dir: String, p: String): Seq[String] = {
    import LakeTable.unescapePathName
    val base = Paths.get(root, dir)
    val stream = Files.list(base)
    try stream.iterator().asScala
      .filter(f => Files.isDirectory(f) && f.getFileName.toString.startsWith(s"$p="))
      .map { f =>
        val v = unescapePathName(f.getFileName.toString.stripPrefix(s"$p="))
        if (v == "__HIVE_DEFAULT_PARTITION__") null else v
      }.toSeq
    finally stream.close()
  }

  /** Per-file zone maps for the freshly written `dir`: one aggregation pass
   *  over the NEW data only (grouped by `input_file_name`), min/max rendered
   *  through CAST-to-STRING so the manifest encoding is engine-portable.
   *  Driver-side result is one row per written file — bounded like the
   *  partition-value manifests. */
  private def collectFileStats(dir: String, schema: StructType,
      pcol: Option[String], statsCols: Seq[String]): Seq[FileStat] = {
    if (statsCols.isEmpty) Nil
    else {
      val files = listParquet(Paths.get(root, dir))
        .map(p => p -> Paths.get(root).relativize(p).toString)
      footerStats(files, schema, pcol, statsCols).getOrElse(statsOf(
        spark.read.schema(schema).option("basePath", s"$root/$dir").parquet(s"$root/$dir"),
        dir, schema, pcol, statsCols))
    }
  }

  /** Per-file zone maps read from the parquet FOOTERS of freshly written
   *  files — the write already computed exact per-chunk min/max, so the old
   *  read-back aggregation was a second full pass over every written
   *  file's stats columns (plus one Spark job per commit). Footer decoding
   *  is driver-side O(files) metadata I/O. Min/max render through Spark's
   *  own `Cast` to STRING, so the manifest encoding is identical to the
   *  aggregation pass's `min(col).cast("string")`. Ordering parity:
   *  parquet's signed comparators match Spark's for numerics, and its
   *  UNSIGNED lexicographic Binary order IS UTF8String's byte order for
   *  strings. Safety: a column whose footer lacks usable stats in some
   *  file is omitted for that file (absent stats never prune — same
   *  contract as the old NULL-aggregate omission); any unexpected shape
   *  returns None and the caller falls back to the aggregation pass. */
  private def footerStats(files: Seq[(Path, String)], schema: StructType,
      pcol: Option[String], statsCols: Seq[String]): Option[Seq[FileStat]] = {
    import org.apache.spark.sql.types._
    val scols = statsCols.filter(c => schema.fieldNames.contains(c) &&
      !pcol.contains(c))
    if (scols.isEmpty) return Some(Nil)
    val types = scols.map(c => c -> schema(c).dataType).toMap
    val conf = spark.sessionState.newHadoopConf()
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def render(v: Any, dt: DataType): String =
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt),
        StringType, zone).eval() match {
        case null => null
        case s => s.toString
      }
    // parquet stat value (genericGetMin/Max) → Spark INTERNAL value of `dt`,
    // or None when the footer's shape isn't the one Spark writes for `dt`
    def decode(raw: Any, dt: DataType,
        chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Option[Any] = {
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val logical = chunk.getPrimitiveType.getLogicalTypeAnnotation
      // foreign files (CONVERT) may carry unsigned int annotations whose
      // raw stats order differs from the signed Spark value — never trust
      def unsignedInt = logical match {
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => !i.isSigned
        case _ => false
      }
      (dt, raw) match {
        case _ if unsignedInt => None
        case (ByteType, i: java.lang.Integer) => Some(i.toByte)
        case (ShortType, i: java.lang.Integer) => Some(i.toShort)
        case (IntegerType, i: java.lang.Integer) => Some(i.toInt)
        case (LongType, l: java.lang.Long) => Some(l.toLong)
        case (FloatType, f: java.lang.Float) =>
          if (f.isNaN) None else Some(f.toFloat)
        case (DoubleType, d: java.lang.Double) =>
          if (d.isNaN) None else Some(d.toDouble)
        case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue())
        case (StringType, b: org.apache.parquet.io.api.Binary) =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(b.getBytes))
        case (DateType, i: java.lang.Integer) => Some(i.toInt)
        case (TimestampType | TimestampNTZType, l: java.lang.Long) =>
          logical match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MICROS => Some(l.toLong)
                case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                  Some(Math.multiplyExact(l.toLong, 1000L))
                case _ => None // NANOS never maps to TimestampType here
              }
            case _ => None
          }
        case (d: DecimalType, raw) =>
          val unscaled = raw match {
            case i: java.lang.Integer => Some(java.math.BigInteger.valueOf(i.toLong))
            case l: java.lang.Long => Some(java.math.BigInteger.valueOf(l))
            case b: org.apache.parquet.io.api.Binary =>
              Some(new java.math.BigInteger(b.getBytes))
            case _ => None
          }
          unscaled.map(u => Decimal(new java.math.BigDecimal(u, d.scale), d.precision, d.scale))
        case _ => None
      }
    }
    try {
      val out = files.flatMap { case (file, rel) =>
        val meta = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          conf, new org.apache.hadoop.fs.Path(file.toUri),
          org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER): @annotation.nowarn("cat=deprecation")
        val blocks = meta.getBlocks.asScala.toSeq
        // legacy-rebase files (CONVERT-adopted, written by old writers in
        // hybrid-Julian mode): Spark REBASES date/timestamp values on
        // read, so raw footer min/max can disagree with read-back values
        // for pre-Gregorian dates and would prune incorrectly — omit
        // those columns for the file (absent stats never prune)
        val legacyRebase = meta.getFileMetaData.getKeyValueMetaData
          .containsKey("org.apache.spark.legacyDateTime")
        // an empty file produced no row in the old groupBy(input_file_name)
        // pass either — no FileStat entry (absent stats never prune)
        if (blocks.forall(_.getRowCount == 0L)) None
        else {
          val mm = scols.flatMap { c =>
            val dt = types(c)
            if (legacyRebase && (dt == DateType || dt == TimestampType ||
                dt == TimestampNTZType)) None
            else {
            val chunks = blocks.map(_.getColumns.asScala
              .find(_.getPath.toDotString == c))
            if (chunks.exists(_.isEmpty)) None
            else {
              val sts = chunks.flatten.map(_.getStatistics)
              // a row group with NO recorded stats leaves the file
              // unbounded for this column; all-null groups (stats present,
              // no non-null value) contribute nothing to min/max
              if (sts.exists(st => st == null || st.isEmpty)) None
              else {
                val withVals = sts.filter(_.hasNonNullValue)
                if (withVals.isEmpty) None // all-null column ≡ old NULL agg
                else {
                  val merged = withVals.head.copy()
                    .asInstanceOf[org.apache.parquet.column.statistics.Statistics[_]]
                  withVals.tail.foreach(st => merged.mergeStatistics(
                    st.asInstanceOf[org.apache.parquet.column.statistics.Statistics[Nothing]]))
                  val chunk0 = chunks.head.get
                  for {
                    mn <- decode(merged.genericGetMin, dt, chunk0)
                    mx <- decode(merged.genericGetMax, dt, chunk0)
                    mnS <- Option(render(mn, dt))
                    mxS <- Option(render(mx, dt))
                  } yield c -> ((mnS, mxS))
                }
              }
            }
            }
          }.toMap
          Some(FileStat(rel, mm))
        }
      }
      Some(out)
    } catch { case scala.util.control.NonFatal(_) =>
      LakeTable.footerStatsFallbacks.incrementAndGet(); None
    }
  }

  /** Total row count of every parquet file under `dir`, from footers —
   *  driver-side metadata I/O, no Spark job. None on any read trouble. */
  private def parquetRowCount(dir: Path): Option[Long] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      Some(listParquet(dir).map { f =>
        val meta = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          conf, new org.apache.hadoop.fs.Path(f.toUri),
          org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER): @annotation.nowarn("cat=deprecation")
        meta.getBlocks.asScala.map(_.getRowCount).sum
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The current manifest's per-file zone maps — test hook for footer-stats
   *  parity specs (root-relative path → col → (min, max) strings). */
  private[lake] def zoneStatsForTest: Map[String, Map[String, (String, String)]] =
    manifest.fileStats.map(fs => fs.path -> fs.minMax).toMap

  /** Zone maps for the files `df` scans (all expected under `dir`). */
  private def statsOf(df: DataFrame, dir: String, schema: StructType,
      pcol: Option[String], statsCols: Seq[String]): Seq[FileStat] = {
    val scols = statsCols.filter(c => schema.fieldNames.contains(c) &&
      !pcol.contains(c))
    if (scols.isEmpty) return Nil
    val aggs = scols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")))
    df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        val full = r.getString(0)
        val idx = full.indexOf(dir)
        require(idx >= 0, s"file path $full not under $dir")
        val mm = scols.flatMap { c =>
          val mn = r.getAs[String](s"__mn_$c"); val mx = r.getAs[String](s"__mx_$c")
          if (mn == null || mx == null) None else Some(c -> ((mn, mx)))
        }.toMap
        FileStat(full.substring(idx), mm)
      }
  }

  /** Reconcile an incoming batch's schema against the table's (Delta write
   *  compatibility): same-name columns must keep their type (order and
   *  nullability are free); columns the batch omits read back as NULL from
   *  its files; NEW columns are rejected unless `mergeSchema` (Delta's
   *  `mergeSchema` option) — with it the table schema widens, the new
   *  columns nullable, and every pre-existing file serves NULL for them. */
  /** Validate an incoming batch's schema against the table's and produce
   *  the post-commit schema. Additive evolution needs `mergeSchema`; same-
   *  name columns must type-match EXCEPT under `widen` (the
   *  `delta.enableTypeWidening` property): a WIDENING change on an
   *  unblocked column either grows the table type metadata-only (wider
   *  incoming — old narrow files read through Spark's parquet widening
   *  promotion, proven in `TypeWideningSpec`) or is absorbed (narrower
   *  incoming — the batch is CAST UP at write, so its file and zone
   *  stats carry the column's real type). `wideBlocked`
   *  columns (partition / bloom-indexed / constraint- or
   *  generated-referenced / identity) always stay loud: their sidecars or
   *  expressions are keyed to the physical type. */
  private def reconcileSchema(table: StructType, incoming: StructType,
      mergeSchema: Boolean, widen: Boolean = false,
      wideBlocked: Set[String] = Set.empty): StructType = {
    val byName = table.fields.map(f => f.name -> f).toMap
    val widened = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.types.DataType]
    val novel = incoming.fields.flatMap { f =>
      byName.get(f.name) match {
        case Some(t) =>
          if (t.dataType != f.dataType) {
            val ok = widen && !wideBlocked.contains(f.name)
            if (ok && LakeTable.widensTo(t.dataType, f.dataType))
              widened(f.name) = f.dataType
            else require(ok && LakeTable.widensTo(f.dataType, t.dataType),
              s"column ${f.name}: incoming type ${f.dataType.simpleString} " +
                s"conflicts with table type ${t.dataType.simpleString} " +
                "(schema evolution is additive-only — full type changes need " +
                "overwrite; WIDENING changes need the " +
                s"${LakeTable.TypeWideningProp} property" +
                (if (widen) s", and ${f.name} is partition/bloom/constraint/" +
                  "generated/identity-bound, which pins its physical type"
                else "") + ")")
          }
          None
        case None =>
          require(mergeSchema,
            s"incoming batch adds column ${f.name} not in the table schema — " +
              "pass mergeSchema = true to evolve, or drop the column")
          Some(f.copy(nullable = true))
      }
    }
    StructType(table.fields.map(f =>
      widened.get(f.name).fold(f)(dt => f.copy(dataType = dt))) ++ novel)
  }

  /** Columns whose physical type is load-bearing beyond the data files —
   *  type widening refuses them: the partition column (Hive dir names),
   *  bloom-indexed columns (sidecar hashes are type-sensitive: an int
   *  hashed at write would false-negative a long probe — WRONG pruning),
   *  columns referenced by CHECK constraints or generated-column
   *  expressions (re-typed inputs could change expression semantics), and
   *  identity columns. An unparseable expression conservatively blocks
   *  every column. */
  private def wideningBlocked(m: Manifest): Set[String] = {
    def refs(e: String): Seq[String] = scala.util.Try {
      spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }
    }.getOrElse(m.schema.fieldNames.toSeq)
    (m.pcol.toSeq ++ m.bloomCols ++ m.generated.map(_._1) ++
      m.generated.flatMap(g => refs(g._2)) ++
      m.constraints.flatMap(c => refs(c._2)) ++
      identitySpecsOf(m).keys).toSet
  }

  /** Whether `delta.enableTypeWidening` is on in `m`'s properties. */
  private def wideningOn(m: Manifest): Boolean =
    m.props.exists { case (k, v) =>
      k == LakeTable.TypeWideningProp && v.equalsIgnoreCase("true") }

  /** `cur`'s zone stats as they hold under `schema`, a widening of
   *  `cur.schema`: a FLOAT column widened to DOUBLE loses its float-era
   *  stats — a float's shortest decimal rendering ('0.1') disagrees with
   *  its promoted double value (0.10000000149…), so they could WRONGLY
   *  prune (absent stats never prune). Every other widening is
   *  decimal-exact and keeps its stats. */
  private def statsUnder(cur: Manifest, schema: StructType): Seq[FileStat] = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val floatWidened = cur.schema.fields.iterator.filter { f =>
      f.dataType == FloatType &&
        schema.fields.exists(n => n.name == f.name && n.dataType == DoubleType)
    }.map(f => physName(cur, f.name)).toSet
    if (floatWidened.isEmpty) cur.fileStats
    else cur.fileStats.map(fs => fs.copy(minMax = fs.minMax -- floatWidened))
  }

  /** Append-only write — O(new data), never rewrites existing files.
   *  This is the bronze-sink primitive (reference keeps bronze append-only,
   *  `README.md:89`). On a partitioned table the new dir owns the batch's
   *  partition values alongside earlier owners (accumulation).
   *
   *  Schema: validated against the table via [[reconcileSchema]] — silent
   *  schema clobbering is an error; additive evolution is opt-in with
   *  `mergeSchema = true` (the Delta option). */
  def append(df0: DataFrame, mergeSchema: Boolean = false): Unit = synchronized {
    appendImpl(df0, mergeSchema, None); ()
  }

  /**
   * IDEMPOTENT append (Delta's `txnAppId`/`txnVersion` write options — the
   * retry-safety primitive): the batch commits ONLY if `txnVersion` is
   * strictly greater than the highest version this `appId` has already
   * committed, recorded in the manifest's transaction ledger. A retried job
   * (orchestrator re-run, speculative task, crashed-then-restarted writer)
   * replaying the same (appId, txnVersion) is a NO-OP — exactly-once
   * ingestion without an external ledger. Returns whether the batch landed.
   * The ledger rides the manifest, so it is snapshotted, restored, and
   * cloned with the table; the skip-check re-runs inside the commit race
   * loop, so two concurrent replays can never both land.
   */
  def appendIdempotent(appId: String, txnVersion: Long, df0: DataFrame,
      mergeSchema: Boolean = false): Boolean = synchronized {
    require(appId.nonEmpty, "appendIdempotent needs a non-empty appId")
    appendImpl(df0, mergeSchema, Some(appId -> txnVersion))
  }

  /** Highest `txnVersion` the manifest's transaction ledger records for
   *  `appId` (Delta's `DeltaTable.txnVersion` probe — the read side of the
   *  idempotent-writer protocol). None before the app's first commit or on
   *  a non-existent table. */
  def lastTxnVersion(appId: String): Option[Long] =
    if (!exists) None
    else manifest.txns.collectFirst { case (a, tv) if a == appId => tv }

  /** Record `(appId, txnVersion)` in the transaction ledger WITHOUT data —
   *  a metadata-only commit (op `properties`, invisible to the change
   *  feed). The version-must-advance rule of [[appendIdempotent]] applies:
   *  a stale or replayed version is a no-op (returns false). Used by
   *  incremental flows whose data effect is itself idempotent (guarded
   *  merges) to advance their source-version ledger crash-safely, and by
   *  flows whose content landed in a commit that could carry only ONE
   *  ledger entry (a multi-source MV bootstrap: the overwrite carries the
   *  first source's stamp, the rest land here — a crash before this stamp
   *  leaves that source's ledger absent, which re-bootstraps: one extra
   *  recompute, never a double-applied window). The ledger rides the
   *  manifest, so it snapshots, restores, and clones with the table — no
   *  side file to half-write. */
  def recordTxn(appId: String, txnVersion: Long): Boolean = synchronized {
    require(exists, s"recordTxn target $root does not exist")
    require(appId.nonEmpty, "recordTxn needs a non-empty appId")
    val txn = Some(appId -> txnVersion)
    commit.latest("properties", txn) { cur =>
      if (txnAppliedIn(cur, txn)) throw Commit.Unchanged
      cur
    }
  }

  /** Remove `appId`'s transaction-ledger entry (metadata-only commit) —
   *  the full-refresh primitive: a flow whose target was rebuilt from
   *  scratch must re-bootstrap instead of resuming from a ledger that
   *  now describes wiped state. With `family`, every dot-suffixed
   *  descendant (`appId.…`) goes in the same commit (an MV carries a
   *  family of ledgers: per-union-branch `.uN`, dim pins `.dimpin.*`,
   *  distinct companions `.dist.*` — a recompute overwrite must retire
   *  them all atomically or a later incremental life resumes from ledgers
   *  describing replaced state); the dot boundary keeps sibling ids that
   *  merely share a name prefix (`…mv.panel` vs `…mv.panel2`) untouched.
   *  No-op (false) when no entry matches. */
  def clearTxn(appId: String, family: Boolean = false): Boolean = synchronized {
    require(exists, s"clearTxn target $root does not exist")
    def hit(t: (String, Long)) = t._1 == appId || (family && t._1.startsWith(appId + "."))
    commit.latest("properties") { cur =>
      if (!cur.txns.exists(hit)) throw Commit.Unchanged
      cur.copy(txns = cur.txns.filterNot(hit))
    }
  }

  private def appendImpl(df0: DataFrame, mergeSchema: Boolean,
      txn: Option[(String, Long)]): Boolean = {
    Files.createDirectories(Paths.get(root))
    val m0 = if (exists) Some(manifest) else None
    // fast path: the transaction already landed — skip before the write
    if (m0.exists(txnAppliedIn(_, txn))) return false
    val (pcol, scols) = m0.map(m => (m.pcol, m.statsCols)).getOrElse((None, Nil))
    val bcols = m0.map(_.bloomCols).getOrElse(Nil)
    // fail-fast validation BEFORE the (expensive) physical write; the commit
    // loop re-reconciles per attempt against the then-current snapshot
    var identBase = Map.empty[String, Long] // hw the assignment was based on
    var identNew = Map.empty[String, Long]  // hw after this batch
    var identPinned: Option[org.apache.spark.rdd.RDD[Row]] = None
    // the try opens BEFORE the validation block: a constraint/schema
    // rejection after assignIdentities pinned its RDD must still unpersist
    try {
    val df = m0.fold(df0) { m =>
      val d0 = materializeGenerated(df0, m)
      val specs = identitySpecsOf(m)
      val d = if (specs.isEmpty) d0 else {
        identBase = specs.keys.map(c => c -> identityHw(m, c)).toMap
        val (assigned, nhw, pinned) =
          assignIdentities(d0, m.schema, specs, identBase)
        identNew = nhw
        identPinned = Some(pinned)
        assigned
      }
      // wideningBlocked parses constraint/generated expressions — only
      // worth computing when the widening property is actually on (the
      // common append pays zero for the feature's existence)
      val widenOn = wideningOn(m)
      reconcileSchema(m.schema, d.schema, mergeSchema, widen = widenOn,
        wideBlocked = if (widenOn) wideningBlocked(m) else Set.empty)
      rejectTombstoned(m, d.schema)
      enforceConstraints(d, m.constraints)
      // a NARROWER batch under a widened column is CAST UP at write: the
      // file lands physically wide, so its zone stats are computed (and
      // rendered) under the column's real type — a float file's stats
      // under a double column would disagree with the promoted values a
      // read serves (see alterColumnType's stat-drop note)
      if (!widenOn) d
      else {
        val tgt = m.schema
        val needsUp = d.schema.fields.exists(f =>
          tgt.fieldNames.contains(f.name) &&
            LakeTable.widensTo(f.dataType, tgt(f.name).dataType) &&
            tgt(f.name).dataType != f.dataType)
        if (!needsUp) d
        else d.select(d.schema.fields.toSeq.map { f =>
          val up = tgt.fieldNames.contains(f.name) &&
            LakeTable.widensTo(f.dataType, tgt(f.name).dataType) &&
            tgt(f.name).dataType != f.dataType
          if (up) col(f.name).cast(tgt(f.name).dataType).as(f.name)
          else col(f.name)
        }: _*)
      }
    }
    pcol.foreach(p => require(df.columns.contains(p),
      s"append batch is missing the partition column $p"))
    val validatedConstraints = m0.map(_.constraints).getOrElse(Nil).toSet
    val (dir, owned, fstats) = writeData(df, pcol, scols, bloomCols = bcols,
      colMap = m0.map(_.colMap).getOrElse(Nil))
    // a lost race re-reads the entry list and re-commits — the data dir is
    // already written, so append retries are manifest-only (no lost updates)
    val published = try commit.latest("append", txn, create = true) { cur =>
      // a concurrent replay of the SAME transaction may have won the
      // race: re-check the ledger each attempt, never double-commit
      if (txnAppliedIn(cur, txn)) throw Commit.Unchanged
      if (cur eq Commit.Empty)
        cur.copy(schema = df.schema, pcol = pcol, entries = Seq(DirEntry(dir, owned)),
          statsCols = scols, fileStats = fstats)
      else {
        // a concurrent addCheckConstraint may have landed after the
        // pre-write validation: re-enforce any constraint we did not
        // validate against, so the published table never carries data that
        // violates an active constraint (Delta's metadata-conflict rule)
        val unvalidated = cur.constraints.filterNot(validatedConstraints)
        if (unvalidated.nonEmpty) enforceConstraints(df, unvalidated)
        rejectTombstoned(cur, df.schema)
        // identity ids were minted against a specific high-water: if a
        // concurrent writer advanced it, committing would publish
        // duplicate ids — refuse (the caller retries the append, which
        // re-mints above the new high-water). Same-process appends are
        // serialized by `synchronized`, so this only fires cross-process.
        identBase.foreach { case (c, base) =>
          if (identityHw(cur, c) != base)
            throw new ConcurrentWriteException(
              s"identity column $c advanced concurrently — retry the append")
        }
        val props1 =
          if (identNew.isEmpty) cur.props
          else cur.props.filterNot { case (k, _) => identNew.keys.exists(c =>
              k == s"${LakeTable.IdentityPropPrefix}$c.hw") } ++
            identNew.toSeq.sortBy(_._1).map { case (c, n) =>
              s"${LakeTable.IdentityPropPrefix}$c.hw" -> n.toString }
        val mergedSchema = reconcileSchema(cur.schema, df.schema, mergeSchema,
          widen = wideningOn(cur),
          wideBlocked =
            if (wideningOn(cur)) wideningBlocked(cur) else Set.empty)
        cur.copy(schema = mergedSchema, pcol = pcol,
          entries = cur.entries :+ DirEntry(dir, owned),
          fileStats = statsUnder(cur, mergedSchema) ++ fstats, props = props1)
      }
    } catch {
      case e: ConcurrentWriteException =>
        // identity conflict (or exhausted races): the written dir carries
        // ids minted against a stale high-water — reclaim before rethrow
        reclaimDir(dir)
        throw e
    }
    // not published: the orphaned dir was never referenced by any manifest
    if (published) maybeAutoCompact() else reclaimDir(dir)
    published
    } finally identPinned.foreach { r => r.unpersist(false); () }
  }

  /**
   * AUTO COMPACT (Delta `delta.autoOptimize.autoCompact`, property-driven):
   * after a successful append on a table with TBLPROPERTIES
   * `autoCompact = 'true'`, bin-pack the accumulated small files once their
   * count reaches `autoCompact.minFiles` (default 8; Delta's minNumFiles
   * rule). Streaming ingest is the motivating shape: thousands of tiny
   * trigger-interval appends degrade every later scan; auto-compact keeps
   * the small-file population bounded WITHOUT an external maintenance job.
   * Cost stays O(small files) per invocation ([[optimizeCompact]] hard-links
   * everything already large). BEST-EFFORT like Delta's: a lost commit race
   * or any failure is swallowed — the append itself has already committed,
   * and the next append retries the compaction.
   */
  private def maybeAutoCompact(): Unit = {
    val m = try manifest catch { case scala.util.control.NonFatal(_) => return }
    if (!m.props.exists { case (k, v) =>
        k == LakeTable.AutoCompactProp && v.trim.equalsIgnoreCase("true") })
      return
    val minFiles = m.props.collectFirst {
      case (LakeTable.AutoCompactMinFilesProp, v) => v.trim.toInt
    }.getOrElse(8)
    val target = m.props.collectFirst {
      case (LakeTable.AutoCompactTargetBytesProp, v) => v.trim.toLong
    }.getOrElse(128L * 1024 * 1024)
    val small = snapshotFiles(m).count(_.status.getLen < target / 2)
    if (small < minFiles) return
    try { optimizeCompact(target); () }
    catch { case scala.util.control.NonFatal(_) => () } // best-effort
  }

  /** Full-snapshot replace (new version; old files kept until vacuum).
   *  `txn` rides the commit atomically (Delta's txnAppId/txnVersion on
   *  overwrite) — a replayed (appId, txnVersion) still overwrites (the
   *  effect is naturally idempotent) but the ledger never regresses. */
  def overwrite(df: DataFrame, partitionBy: Option[String] = None,
      txn: Option[(String, Long)] = None): Unit =
    replaceAll(df, partitionBy, "overwrite", expected = None, txn = txn)

  /** Run `body` on its own thread so its Spark job(s) OVERLAP the caller's
   *  next job instead of serializing behind it (guide §2.6: a commit's
   *  independent writes — change images, deletion vectors, data files — are
   *  independent jobs; only your driver code makes them sequential). The
   *  returned thunk joins and rethrows the body's failure. */
  private def inParallel[A](body: => A): () => A = {
    val fut = new java.util.concurrent.FutureTask[A](() => body)
    val th = new Thread(fut, "lake-parallel-write")
    th.setDaemon(true)
    th.start()
    () => try fut.get() catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  /** `expected = Some(v)`: conditional replace — the snapshot this data was
   *  computed from must still be current, else [[ConcurrentWriteException]]
   *  (merge/compact). `None`: last-writer-wins replace, retried on races. */
  private def replaceAll(df: DataFrame, partitionBy: Option[String],
      op: String, expected: Option[Long], cdfDir: Option[String] = None,
      preclustered: Boolean = false,
      txn: Option[(String, Long)] = None,
      // non-empty = this rewrite CLUSTERED the table on these columns:
      // flag the output entry and record the key for incremental OPTIMIZE
      clusteredAs: Seq[String] = Nil): Unit = synchronized {
    Files.createDirectories(Paths.get(root))
    val cur = if (exists) Some(manifest) else None
    val pcol = partitionBy.orElse(cur.flatMap(_.pcol))
    val scols = cur.map(_.statsCols).getOrElse(Nil)
    // overwrite materializes generated columns and enforces CHECK constraints
    // on the incoming snapshot; compact/merge/zorder rewrite rows that were
    // already validated on their way in
    val df1 =
      if (op == "overwrite")
        cur.fold(df) { c =>
          val d = materializeGenerated(df, c)
          enforceConstraints(d, c.constraints)
          d
        }
      else df
    val keptMap = cur.map(_.colMap.filter { case (l, _) =>
      df1.columns.contains(l) }).getOrElse(Nil)
    val (dir, owned, fstats) = writeData(df1, pcol, scols, preclustered,
      bloomCols = cur.map(_.bloomCols).getOrElse(Nil), colMap = keptMap)
    val validatedConstraints = cur.map(_.constraints).getOrElse(Nil).toSet
    // a full rewrite read through the deletion vectors and sheds the
    // dropped columns' bytes
    def replaced(b: Manifest) = b.copy(schema = df1.schema, pcol = pcol,
      entries = Seq(DirEntry(dir, owned, clustered = clusteredAs.nonEmpty)),
      statsCols = scols, fileStats = fstats, deleteVectors = Nil, droppedCols = Nil,
      colMap = keptMap, clusterKey = if (clusteredAs.nonEmpty) clusteredAs else b.clusterKey)
    expected match {
      case Some(v) => commit.pinned(op, v, cur.get, cdfDir, txn)(replaced)
      case None =>
        // table metadata comes from the THEN-CURRENT manifest: a constraint
        // or generated column added after our pre-write snapshot must
        // survive this overwrite (not be clobbered by the stale copy) and be
        // enforced on the data we are publishing; its ledger carries an
        // idempotent append committed after our pre-write snapshot
        commit.latest(op, txn, create = true) { c =>
          val unvalidated = c.constraints.filterNot(validatedConstraints)
          if (unvalidated.nonEmpty) enforceConstraints(df1, unvalidated)
          replaced(c)
        }
    }
  }

  /**
   * Join-based MERGE with Delta `MERGE INTO` semantics
   * (`DIM_Gold_layer.py:276-283`):
   *   - matched && guard       → source row  (whenMatchedUpdateAll(condition))
   *   - matched && !guard      → keep target row
   *   - source-only            → insert source row (whenNotMatchedInsertAll)
   *   - target-only            → keep target row
   *
   * `matchedGuard` is a SQL expression over aliases `s` (source) and `t`
   * (target), e.g. `"s.modifiedDate >= t.modifiedDate"`.
   *
   * Requires the source to have at most one row per key (callers dedup
   * first — see Pipeline.autoCdcFlow); enforced cheaply only when
   * `checkUniqueKeys` is set.
   *
   * Copy-on-write, as Delta merges (Armbrust et al., VLDB 2020): the merge
   * picks the files it may touch, full-outer joins only those with the
   * source (one shuffle on the keys; AQE broadcasts a small source side
   * where legal) and commits the projected rows through
   * [[rewriteTouched]] — every other file stays where it is. The touched
   * set is every file, except:
   *   - on a PARTITIONED table, the files of the partitions present in the
   *     source — O(touched partitions), not O(table). Rows may not change
   *     their partition value through a matched update (enforced by the
   *     join semantics only when the partition column is part of `keys`;
   *     callers partitioning by a stable column satisfy this by
   *     construction). `WHEN NOT MATCHED BY SOURCE`, or a source without
   *     the partition column, touches every file;
   *   - on an unpartitioned table of `spark.graft.merge.pruneMinBytes` or
   *     more, the files whose zone maps admit a source key
   *     ([[mergePrunePlan]]).
   *
   * Types: a source column whose type differs from the table's lands cast
   * to the table's type when Spark's lossless up-cast allows it
   * (`Cast.canUpCast`: INT into BIGINT, a number into STRING); under
   * `mergeSchema` the table may instead widen, by append's rule (a
   * [[LakeTable.widensTo]] pair under the type-widening property). Any
   * other difference is refused with an error naming the column: the
   * table's type never changes as a side effect of the projection.
   */
  def merge(
      src0: DataFrame,
      keys: Seq[String],
      matchedGuard: Option[String] = None,
      checkUniqueKeys: Boolean = false,
      mergeSchema: Boolean = false,
      matchedSet: Option[Map[String, String]] = None,
      matchedDelete: Boolean = false,
      matchedDeleteWhen: Option[String] = None,
      deleteUnmatchedTarget: Option[String] = None,
      insertAll: Boolean = true,
      insertGuard: Option[String] = None,
      insertSet: Option[Map[String, String]] = None,
      txn: Option[(String, Long)] = None,
      nullSafeKeys: Boolean = false): Unit = synchronized {
    require(exists, s"merge target $root does not exist — create() or append() first")
    require(!(matchedDelete && matchedSet.nonEmpty),
      "WHEN MATCHED can DELETE or UPDATE, not both")
    require(!(matchedDelete && matchedDeleteWhen.nonEmpty),
      "matchedDelete (sole clause) and matchedDeleteWhen (second clause) are exclusive")
    val (v0, m) = commit.pin() // merge computes against THIS snapshot
    // idempotent merge (Delta's txnAppId/txnVersion on MERGE): the ledger
    // entry commits ATOMICALLY with the merged data, so a replayed
    // (appId, txnVersion) — crash-retry, orchestrator re-run — is a no-op.
    // This is the primitive that makes NON-idempotent merge effects (e.g.
    // the signed-delta aggregate MV) exactly-once.
    if (txnAppliedIn(m, txn)) return
    val src = materializeGenerated(src0, m)
    // WITH SCHEMA EVOLUTION (Delta's MERGE form): the source may carry
    // ADDITIVE new columns — the table schema widens (nullable), matched
    // target pre-images serve NULL for them. Source must still supply every
    // existing target column; a type change follows append's rule.
    val schema1 =
      if (mergeSchema) {
        rejectTombstoned(m, src.schema)
        val widenOn = wideningOn(m)
        reconcileSchema(m.schema, src.schema, mergeSchema = true, widen = widenOn,
          wideBlocked = if (widenOn) wideningBlocked(m) else Set.empty)
      } else m.schema
    val cols = schema1.fieldNames.toSeq
    // full-ROW clauses (UPDATE SET *, INSERT *) reference every target
    // column on the source side; column-LEVEL clauses only reference what
    // their expressions name, so an op-coded CDC batch may carry EXTRA
    // columns (`op`, sequence metadata) and omit nothing but the keys —
    // Delta's contract. Full-row requirement holds iff such a clause exists.
    val fullFromUpdate = matchedSet.isEmpty && !matchedDelete
    val fullFromInsert = insertAll && insertSet.isEmpty
    if (fullFromUpdate || fullFromInsert)
      require(cols.forall(src.columns.contains),
        s"merge source schema ${src.columns.mkString(",")} is missing target " +
          s"columns (full-row SET */INSERT * needs them all): ${cols.mkString(",")}" +
          (if (mergeSchema) "" else " (additive columns need mergeSchema = true)"))
    require(keys.forall(src.columns.contains),
      s"merge source is missing key column(s) ${keys.mkString(",")}")
    require(mergeSchema || src.columns.forall(c => cols.contains(c) ||
        !(fullFromUpdate || fullFromInsert)),
      s"merge source adds column(s) ${src.columns.filterNot(cols.contains).mkString(",")} " +
        "not in the table schema — pass mergeSchema for evolution")
    // constraints gate the rows that can LAND: the full source row on
    // full-row paths; the merged output re-gates column-level paths below
    if (fullFromUpdate || fullFromInsert) enforceConstraints(
      src.select(cols.map(col): _*), m.constraints)
    matchedSet.foreach { as =>
      require(as.nonEmpty, "UPDATE SET with no assignments")
      def refs(e: String, c: String): Boolean =
        spark.sessionState.sqlParser.parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.nameParts.last.equalsIgnoreCase(c) => a
        }.nonEmpty
      as.keys.foreach { c =>
        require(cols.contains(c), s"unknown SET column $c")
        require(!keys.contains(c), s"cannot assign merge key $c")
        require(!m.pcol.contains(c),
          s"cannot assign partition column $c (a row may not change partition)")
        require(!m.generated.exists(_._1 == c),
          s"$c is a generated column — it is recomputed, not assigned")
        m.generated.foreach { case (g, e) => require(!refs(e, c),
          s"generated column $g derives from $c — assigning it would " +
            "stale the derived value; rewrite via overwrite instead") }
      }
    }
    insertSet.foreach { as =>
      require(insertAll, "insertSet without an insert clause")
      require(as.nonEmpty, "INSERT with no columns")
      as.keys.foreach(c => require(cols.contains(c), s"unknown INSERT column $c"))
      as.keys.foreach(c => require(!m.generated.exists(_._1 == c),
        s"$c is a generated column — it is computed, not inserted"))
      // partition-scoped merges derive touched partitions from the SOURCE's
      // partition values; a column-level INSERT could fabricate values
      // outside that set and double-own a partition — refuse on partitioned
      // targets (INSERT * carries the source's own partition value)
      require(m.pcol.isEmpty,
        "column-level INSERT is not supported on partitioned targets — use INSERT *")
    }
    if (checkUniqueKeys) {
      val dups = src.groupBy(keys.map(col): _*).count().filter(col("count") > 1).limit(1).count()
      require(dups == 0, s"merge source has duplicate keys $keys")
    }

    val guard = matchedGuard.map(expr).getOrElse(lit(true))
    // A source value as it lands: in the table's type. Without the cast the
    // CASE WHENs below would coerce both sides to a common type and retype
    // the column (an INT 7 merged into STRING '07' made it BIGINT). Without
    // a full-row clause no source value lands (e.g. WHEN MATCHED THEN
    // DELETE only, a Delta-legal shape whose source may carry only the
    // keys): the branches reading it are dead (`lit(false)` predicates) but
    // must still analyze, so they read a typed NULL.
    def srcCol(c: String): Column = src.schema.find(_.name == c) match {
      case Some(f) if fullFromUpdate || fullFromInsert =>
        val to = schema1(c).dataType
        if (sameType(f.dataType, to)) col(s"s.$c")
        else {
          require(Cast.canUpCast(f.dataType, to),
            s"merge source column $c is ${f.dataType.simpleString}, which does " +
              s"not cast losslessly to the table's ${to.simpleString} — cast it " +
              "in the source (a wider type needs mergeSchema and the " +
              s"${LakeTable.TypeWideningProp} property)")
          col(s"s.$c").cast(to)
        }
      case _ => lit(null).cast(schema1(c).dataType)
    }
    def joinedOf(target: DataFrame): DataFrame = {
      val t = target.withColumn(T_MARK, lit(true)).alias("t")
      val s = src.withColumn(S_MARK, lit(true)).alias("s")
      // SQL MERGE equality never matches NULL keys (Delta parity — the
      // default); GROUP-BY-derived keys (the aggregate-MV maintainers)
      // opt into null-safe matching so a NULL group stays ONE group
      val joinCond = keys.map(k =>
        if (nullSafeKeys) col(s"t.$k") <=> col(s"s.$k")
        else col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
      t.join(s, joinCond, "full_outer")
    }
    // unified matched-row predicates (shared by the projection and the CDF):
    //  - matchedDelete: DELETE is the SOLE matched clause, guarded by `guard`
    //  - matchedDeleteWhen: DELETE rides NEXT TO an update clause — its own
    //    condition wins first (the SQL walk pre-composes statement order
    //    into these two predicates), updates apply to the remainder
    val isMatched = col(S_MARK).isNotNull && col(T_MARK).isNotNull
    val matchedDelPred: org.apache.spark.sql.Column =
      if (matchedDelete) isMatched && guard
      else matchedDeleteWhen match {
        case Some(c) => isMatched && coalesce(expr(c), lit(false))
        case None => lit(false)
      }
    val matchedUpdPred: org.apache.spark.sql.Column =
      if (matchedDelete) lit(false)
      else isMatched && !matchedDelPred && guard

    // the inserted image: the source row (INSERT *), or — column-level
    // INSERT (cols) VALUES (...) — the assigned expressions with NULL for
    // omitted columns (Delta's rule)
    def insertedCol(c: String): Column = insertSet match {
      case None => srcCol(c)
      case Some(as) => as.get(c).map(expr).getOrElse(
        lit(null).cast(schema1(c).dataType))
    }
    def mergedFrom(joined0: DataFrame): DataFrame = {
      // row classes shared by every clause combination; DELETE clauses and
      // a missing INSERT * clause DROP whole classes before the projection
      val isTargetOnly = col(T_MARK).isNotNull && col(S_MARK).isNull
      val dropMatched = matchedDelPred
      val dropTargetOnly = deleteUnmatchedTarget match {
        // WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE: cond over t.*
        case Some(c) => isTargetOnly && coalesce(expr(c), lit(false))
        case None => lit(false)
      }
      val isInsertRow = col(S_MARK).isNotNull && col(T_MARK).isNull
      val dropInsert =
        if (!insertAll) isInsertRow
        else insertGuard match {
          // WHEN NOT MATCHED [AND c]: source-only rows failing c are ignored
          case Some(c) => isInsertRow && !coalesce(expr(c), lit(false))
          case None => lit(false)
        }
      val joined = joined0.filter(!coalesce(
        dropMatched || dropTargetOnly || dropInsert, lit(false)))
      conformTo(matchedSet match {
        case None => // UPDATE SET *: update-class rows take the source row
          joined.select(cols.map(c =>
            when(isInsertRow, insertedCol(c))
              .otherwise(when(matchedUpdPred, srcCol(c)).otherwise(col(s"t.$c")))
              .as(c)): _*)
        case Some(assigns) =>
          // COLUMN-LEVEL UPDATE SET c = <expr over s/t>: update-class rows
          // keep the TARGET row with only the assigned columns computed
          joined.select(cols.map { c =>
            val updated = assigns.get(c).map(expr).getOrElse(col(s"t.$c"))
            when(matchedUpdPred, updated)
              .otherwise(when(isInsertRow, insertedCol(c)).otherwise(col(s"t.$c")))
              .as(c)
          }: _*)
      }, schema1)
    }
    // O8 change rows out of the SAME join: a source-only row is an insert;
    // a matched-and-guard-passing row emits its target pre-image and source
    // post-image (Delta CDF's row set for a MERGE without delete clauses).
    def changesFrom(joined: DataFrame): DataFrame = {
      val isInsert = lit(insertAll) && col(S_MARK).isNotNull && col(T_MARK).isNull &&
        insertGuard.map(c => coalesce(expr(c), lit(false))).getOrElse(lit(true))
      val isUpdate = matchedUpdPred
      val isMatchDel = matchedDelPred
      val isSyncDel = deleteUnmatchedTarget match {
        case Some(c) => col(T_MARK).isNotNull && col(S_MARK).isNull &&
          coalesce(expr(c), lit(false))
        case None => lit(false)
      }
      def row(kind: String)(value: String => Column) = struct(
        (cols.map(c => value(c).as(c)) :+ lit(kind).as(ChangeTypeCol)): _*)
      def target(kind: String) = row(kind)(c => col(s"t.$c"))
      // with column-level assignments the POSTIMAGE is the assigned target
      // row, not the raw source row
      val postRow = matchedSet match {
        case None => row("update_postimage")(srcCol)
        case Some(assigns) => row("update_postimage")(c =>
          assigns.get(c).map(expr).getOrElse(col(s"t.$c")))
      }
      conformTo(joined.select(explode(array(
          when(isInsert, row("insert")(insertedCol)),
          when(isUpdate, target("update_preimage")),
          when(isUpdate, postRow),
          when(isMatchDel || isSyncDel, target("delete")))).as("__ch"))
        .filter(col("__ch").isNotNull)
        .select((cols :+ ChangeTypeCol).map(c => col(s"__ch.$c").as(c)): _*), schema1)
    }

    // fast path: merging into a table with no data dirs inserts everything —
    // skip the full-outer join against an empty side (bootstrap merges are
    // common: every CDC flow's first batch lands here)
    if (m.entries.isEmpty) {
      if (!insertAll) return // nothing to delete, nothing to insert: no-op
      // bootstrap inserts honor the insert guard and column-level INSERT
      // exactly like the joined path (source rows are all source-only here)
      val sAliased = src.alias("s")
      val guarded = insertGuard match {
        case Some(c) => sAliased.filter(coalesce(expr(c), lit(false)))
        case None => sAliased
      }
      val flat = conformTo(guarded.select(cols.map(c => insertedCol(c).as(c)): _*),
        schema1)
      if (insertSet.nonEmpty) enforceConstraints(flat, m.constraints)
      // all-insert commit: the data dir IS the change set — record the
      // from-data marker instead of writing every row a second time
      val chDir = if (m.cdfEnabled) Some(LakeTable.CdfFromData) else None
      replaceAll(flat, m.pcol, "merge", Some(v0), chDir, txn = txn)
      maybeAutoCompact()
      return
    }

    // the touched set. Partition-scoped: the source's partition values
    // (small, driver-side). Zone-map pruned (Delta's merge file pruning) is
    // SOUND: a skipped file's key range provably misses every source key, so
    // it holds no matched row and no row that would flip an insert
    // classification. It stays off where the sync clause must see every
    // target row, under schema evolution, and with live deletion vectors
    // (their coordinates are path-keyed: a file may not be re-linked).
    val partitions = m.pcol.filter(p =>
        deleteUnmatchedTarget.isEmpty && src.columns.contains(p)).map { p =>
      val vs = src.select(col(p).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      require(!vs.contains(null), s"null partition value in column $p")
      vs
    }
    val touched = partitions match {
      case Some(vs) => snapshotFiles(m, Some(vs))
      case None if m.pcol.isEmpty && deleteUnmatchedTarget.isEmpty &&
          m.deleteVectors.isEmpty && !mergeSchema =>
        mergePrunePlan(m, src, keys, nullSafeKeys).getOrElse(snapshotFiles(m))
      case None => snapshotFiles(m)
    }
    // under evolution the target snapshot serves NULL for the new columns
    val scan = snapshot(m, touched, withRowIds = false, version = None)
    val target = schema1.fields.foldLeft(scan)(
      (d, f) => if (d.columns.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType)))
    val joined = joinedOf(target)
    // a partitioned change-feed table writes data and images as two jobs
    // over the join: pin it, not twice the work
    val pin = m.cdfEnabled && m.pcol.nonEmpty
    if (pin) joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val merged = mergedFrom(joined)
      // SET * writes source rows (validated above); column-level clauses
      // synthesize new rows — gate them before anything lands
      if (matchedSet.nonEmpty || insertSet.nonEmpty)
        enforceConstraints(merged, m.constraints)
      // Delta fires auto-compact after MERGE too: merges accumulate one dir
      // per run, the small-file shape the property exists to bound
      // (best-effort, post-commit)
      if (rewriteTouched(m, v0, schema1, touched, merged,
          if (m.cdfEnabled) Some(changesFrom(joined)) else None, "merge", txn,
          partitions))
        maybeAutoCompact()
    } finally if (pin) { joined.unpersist(); () }
  }

  /**
   * The copy-on-write commit shared by [[merge]], [[delete]] and
   * [[update]]: `rows` (in `schema1`) replace the `touched` files of
   * snapshot `m`, read at version `v0`, in ONE commit.
   *
   *  1. `rows` and their change images (`changes`, on change-feed tables)
   *     are written in one pass: one union job on an unpartitioned table
   *     ([[writeDataAndChanges]]); on a partitioned one the images ride
   *     their own thread beside the data write.
   *  2. The touched files leave the snapshot ([[withoutFiles]]). A rewrite
   *     that leaves no old entry (every file touched) also clears the
   *     deletion vectors — it read through them — and the dropped-column
   *     tombstones, whose bytes no live file carries any more; a
   *     partition-scoped one carries both (vectors on replaced dirs go
   *     stale and harmless).
   *  3. One CAS against `v0`. A lost race throws
   *     [[ConcurrentWriteException]]: the caller recomputes. When
   *     `partitions` names the touched set as whole partitions, the commit
   *     instead REBASES onto the winner (Delta's partition-level conflict
   *     resolution) if schema and metadata are unchanged and the same dirs
   *     still own those partitions — a recompute would read the same rows
   *     and write the same output, so the written dir is re-pointed at the
   *     new base; and a concurrent replay of the same `txn` that won makes
   *     this one a no-op.
   *
   * Returns whether this rewrite committed.
   */
  private def rewriteTouched(m: Manifest, v0: Long, schema1: StructType,
      touched: Seq[SnapshotFile], rows: DataFrame, changes: Option[DataFrame],
      op: String, txn: Option[(String, Long)] = None,
      partitions: Option[Set[String]] = None): Boolean = {
    val (dir, owned, fstats, chDir) = changes match {
      case Some(ch) if m.pcol.isEmpty =>
        val (d, fs, c) = writeDataAndChanges(rows, ch, m.statsCols, m.bloomCols,
          m.colMap)
        (d, None, fs, Some(c))
      case _ =>
        val chDirF = changes.fold(() => Option.empty[String])(ch =>
          inParallel(Some(writeChanges(m, ch))))
        val (d, o, fs) = writeData(rows, m.pcol, m.statsCols,
          bloomCols = m.bloomCols, colMap = m.colMap)
        (d, o, fs, chDirF())
    }
    def ownTouched(mm: Manifest): Set[(String, String)] =
      mm.entries.flatMap(e => e.owned.getOrElse(Nil)
        .filter(v => partitions.exists(_(v))).map(v => (e.dir, v))).toSet
    def rebasable(mN: Manifest): Boolean =
      schema1 == m.schema && mN.schema == m.schema &&
        mN.pcol == m.pcol && mN.cdfEnabled == m.cdfEnabled &&
        mN.statsCols == m.statsCols && mN.bloomCols == m.bloomCols &&
        mN.colMap == m.colMap && mN.droppedCols == m.droppedCols &&
        mN.constraints == m.constraints && mN.generated == m.generated &&
        mN.props == m.props && mN.deleteVectors == m.deleteVectors &&
        mN.txns == m.txns && ownTouched(mN) == ownTouched(m)
    val committed = commit.pinned(op, v0, m, chDir, txn,
        rebase = Option.when(partitions.nonEmpty)(rebasable)) { base =>
      val stats = scala.collection.mutable.ArrayBuffer.empty[FileStat]
      val kept = withoutFiles(base.copy(fileStats = statsUnder(base, schema1)),
        touched, stats)
      val whole = kept.isEmpty && partitions.isEmpty
      base.copy(schema = schema1, entries = kept :+ DirEntry(dir, owned),
        fileStats = stats.toSeq ++ fstats,
        droppedCols = if (whole) Nil else base.droppedCols,
        deleteVectors = if (whole) Nil else base.deleteVectors)
    }
    if (!committed) {
      // a concurrent replay of the same txn won: the unreferenced data dir
      // is reclaimed at once
      reclaimDir(dir)
    }
    committed
  }

  /** Delete a data dir no manifest references, with its bloom sidecar. */
  private def reclaimDir(dir: String): Unit = {
    deleteRecursively(Paths.get(root, dir))
    Files.deleteIfExists(bloomIndexFile(dir))
  }

  /** `m`'s entries with the `touched` files taken out, each by the cheapest
   *  means the manifest has: an entry without a touched file stays as it
   *  is; one without an untouched visible file is dropped; a partition
   *  value all of whose visible files in an entry are touched leaves the
   *  entry's `owned` list; any other touched entry has its untouched files
   *  re-linked into a fresh dir. The kept files' zone stats go to `stats`. */
  private def withoutFiles(m: Manifest, touched: Seq[SnapshotFile],
      stats: scala.collection.mutable.ArrayBuffer[FileStat]): Seq[DirEntry] = {
    val hit = touched.map(_.rel).toSet
    val visible = snapshotFiles(m).groupBy(_.dir)
    val typed = m.pcol.map(p => typedValue(m.schema(p).dataType))
    m.entries.flatMap { e =>
      val (gone, left) = visible.getOrElse(e.dir, Nil).partition(f => hit(f.rel))
      // partitions (the one group of an unpartitioned entry among them)
      // left without a file in this entry
      val drained = gone.map(_.partition).toSet -- left.map(_.partition)
      def carried(e1: DirEntry) = {
        stats ++= m.fileStats.filter(_.path.startsWith(e.dir + "/"))
        Some(e1)
      }
      if (left.isEmpty) None
      else if (gone.isEmpty) carried(e)
      else {
        val owned = e.owned.map(_.filterNot(v =>
          typed.exists(t => drained(InternalRow(t(v))))))
        if (gone.forall(f => drained(f.partition))) carried(e.copy(owned = owned))
        else {
          // vectors address rows by file path: a re-linked file would slip
          // out from under its vector and resurrect the deleted rows
          require(m.deleteVectors.isEmpty,
            s"cannot re-link files of $root under live deletion vectors")
          Some(e.copy(dir = relinkExcept(m, e, hit, stats), owned = owned))
        }
      }
    }
  }

  /** `df` with each column `schema` also names cast to `schema`'s type where
   *  the two differ (nullability aside): a commit writes the table's
   *  types, never a projection's coerced ones. */
  private def conformTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      schema.find(_.name == f.name).filterNot(t => sameType(f.dataType, t.dataType))
        .fold(col(f.name))(t => col(f.name).cast(t.dataType).as(f.name))
    }: _*)

  private def sameType(a: DataType, b: DataType): Boolean =
    DataType.equalsStructurally(a, b, ignoreNullability = true)

  /**
   * Copy-on-write DELETE (Delta `DELETE FROM ... WHERE`): remove the rows
   * matching `condition` (a SQL boolean expression over the table's
   * columns), rewriting ONLY the files whose partition values, zone maps
   * and blooms admit a match ([[candidateFiles]]), in one count job and
   * one write job through the copy-on-write step merge uses
   * ([[rewriteTouched]]) — every other file
   * stays (re-linked when it shares a dir with a touched one), so I/O is
   * O(files that may contain matches), not O(table). At 100 TB a targeted
   * delete (one doc id, one day) touches a handful of files when the table
   * records stats on the predicate column (ideally Z-ordered). A condition
   * no file admits commits nothing. Returns the number of rows deleted.
   * With change feed enabled the deleted rows are materialized as
   * `_change_type = 'delete'`.
   */
  def delete(condition: String): Long = mutateWhere(condition, None)

  /**
   * MERGE-ON-READ DELETE (Delta deletion vectors): logically remove the
   * rows matching `condition` (a SQL boolean expression over the table's
   * columns) WITHOUT rewriting any data file. The matching rows' coordinates
   * — root-relative file path + in-file row index, Spark's
   * `_metadata.file_path`/`_metadata.row_index` — are written as a deletion
   * vector under `_dv/`, and every read anti-joins live vectors out of the
   * scan. At 100 TB this makes a point delete O(matched rows), not O(files
   * that may contain matches): the copy-on-write [[delete]] rewrites
   * whole files to drop one row; this writes a few coordinates. The
   * condition reaches the snapshot scan as a pushed-down filter, so its
   * file index skips the files whose partition values, zone maps and
   * blooms prove no match before any row is read.
   *
   * Semantics match [[delete]]: returns the number of rows deleted; with
   * change feed enabled the deleted rows are materialized as
   * `_change_type = 'delete'`. Deleting already-deleted rows is a no-op
   * (matching runs against the LIVE snapshot). Reads of every form —
   * [[read]], [[readVersion]], merge sources — apply the
   * vectors; full-rewrite commits (overwrite / compact / unpartitioned
   * merge) read through them and clear them. Later appends are untouched
   * by earlier vectors (coordinates are per existing file).
   *
   * The read-side anti-join broadcasts the vector set, so it is sized by
   * DELETED ROWS, not table size — a table accumulating large vectors
   * should `compact()` (Delta's `REORG TABLE ... APPLY (PURGE)`), which
   * materializes the deletes and clears the vectors.
   */
  def deleteWhere(condition: String): Long = synchronized {
    val (v0, m) = commit.pin()
    deleteRows(m, v0, expr(condition))
  }

  /** Materialize a commit's change rows under `_changes/` — physical
   *  names, and INT64 micros timestamps like the data files, whichever
   *  thread writes them (referenced by the manifest; orphaned by a lost
   *  race → cleaned by vacuum). Returns the root-relative dir. */
  private def writeChanges(m: Manifest, changes: DataFrame): String = {
    val d = s"_changes/${UUID.randomUUID()}"
    withMicrosTimestamps { toPhysicalNames(m, changes).write.parquet(s"$root/$d") }
    d
  }

  /** On a change-feed table, write a commit's change `images` on their own
   *  thread ([[inParallel]]); the thunk joins it (None without the feed). */
  private def changesAside(m: Manifest)(images: => DataFrame): () => Option[String] =
    if (m.cdfEnabled) inParallel(Some(writeChanges(m, images))) else () => None

  /** Write the row-id coordinates of `matches` as a fresh deletion-vector
   *  dir. Returns the root-relative dir. */
  private def writeDeleteVector(matches: DataFrame): String = {
    val d = s"_dv/${UUID.randomUUID()}"
    matches.select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
      .write.parquet(s"$root/$d")
    d
  }

  /** Coordinates in deletion-vector dir `d`, counted from the written
   *  files' FOOTERS — no read-back Spark job for a number the parquet
   *  metadata records exactly. */
  private def deleteVectorRows(d: String): Long =
    parquetRowCount(Paths.get(root, d)).getOrElse(
      spark.read.schema(DvSchema).parquet(s"$root/$d").count())

  /** Deletion-vector the live rows of `m` matching `cond`; the filter
   *  reaches the snapshot scan, so the file index prunes the candidates. */
  private def deleteRows(m: Manifest, v0: Long, cond: Column): Long = {
    val matches = snapshot(m, snapshotFiles(m), withRowIds = true, version = None).filter(cond)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the delete images and the DV coordinates are independent projections
      // of the pinned matches: write the images on their own thread so the
      // two jobs overlap (both dirs are vacuumable orphans if either fails)
      val chDirF = changesAside(m)(matches.select(m.schema.fieldNames.map(col).toSeq: _*)
        .withColumn(ChangeTypeCol, lit("delete")))
      val dvDir = writeDeleteVector(matches)
      val matched = deleteVectorRows(dvDir)
      if (matched == 0) {
        deleteRecursively(Paths.get(root, dvDir))
        chDirF().foreach(d => deleteRecursively(Paths.get(root, d)))
        return 0L
      }
      val chDir = chDirF()
      commit.pinned("delete", v0, m, chDir)(b =>
        b.copy(deleteVectors = b.deleteVectors :+ dvDir))
      matched
    } finally { matches.unpersist(); () }
  }

  /** Live deletion-vector dirs of the current snapshot (empty once a
   *  rewrite materializes them). */
  def deleteVectorDirs: Seq[String] = manifest.deleteVectors

  /**
   * REPLACE WHERE (Delta's `replaceWhere` / SQL `INSERT INTO ... REPLACE
   * WHERE`): atomically delete every row matching `condition` and insert
   * `df0` — ONE commit, so readers see either the old region or the new,
   * never a gap. Delta's write-side contract is enforced: every incoming
   * row must itself satisfy the predicate (a replace that smuggles rows
   * outside its region would corrupt downstream incremental consumers).
   * Merge-on-read: matched old rows are deletion-vectored, the new data
   * lands as a fresh dir — cost O(matched rows + new data) at any table
   * size, no untouched file is rewritten. The change feed records
   * delete + insert images. Returns the number of rows replaced (deleted).
   *
   * For a predicate over the PARTITION column use [[overwritePartitions]]:
   * it transfers manifest ownership without scanning any existing data.
   */
  def overwriteWhere(condition: String, df0: DataFrame): Long = synchronized {
    val (v0, m) = commit.pin()
    val cols = m.schema.fieldNames.toSeq
    val df = materializeGenerated(df0, m)
    require(df.columns.toSet == cols.toSet,
      s"replace batch columns ${df.columns.sorted.mkString(",")} != table " +
        s"schema ${cols.sorted.mkString(",")}")
    val cond = coalesce(expr(condition), lit(false))
    val data = df.select(cols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(data.filter(!cond).limit(1).count() == 0L,
        s"replaceWhere contract: every incoming row must satisfy '$condition'")
      enforceConstraints(data, m.constraints)
      val matches = snapshot(m, snapshotFiles(m), withRowIds = true, version = None).filter(cond)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // three independent consumers of the two pinned frames — DV
        // coordinates, change images, new data — overlap all three writes
        val chDirF = changesAside(m)(matches.select(cols.map(col): _*)
          .withColumn(ChangeTypeCol, lit("delete"))
          .unionByName(data.withColumn(ChangeTypeCol, lit("insert"))))
        val dvF = inParallel { writeDeleteVector(matches) }
        val (dir, owned, fstats) =
          writeData(data, m.pcol, m.statsCols, bloomCols = m.bloomCols,
            colMap = m.colMap)
        val dvDir = dvF()
        val replaced = deleteVectorRows(dvDir)
        val chDir = chDirF()
        commit.pinned("replace", v0, m, chDir)(b => b.copy(
          entries = b.entries :+ DirEntry(dir, owned), fileStats = b.fileStats ++ fstats,
          deleteVectors = b.deleteVectors :+ dvDir))
        replaced
      } finally { matches.unpersist(); () }
    } finally { data.unpersist(); () }
  }

  /**
   * PARTITION REPLACEMENT — the zero-scan fast path of [[overwriteWhere]]
   * for predicates over the partition column (the nightly "reload
   * yesterday's partition" shape): manifest ownership of the matching
   * partition values transfers to the freshly written dir, every other
   * entry is carried UNCHANGED (same paths, same inodes, like
   * [[optimizeWhere]]), and no existing data is read at all — cost is
   * O(new data) + O(manifest), independent of table size. `condition` (a
   * SQL boolean expression) may reference only the partition column; the
   * replaced partitions are the owned values it holds for, each decided
   * exactly ([[ownedValuesMatching]] — an over-inclusive scope would
   * disown data), and incoming rows must all satisfy it (Delta's
   * replaceWhere contract). Deletion vectors over replaced partitions
   * become inert (their coordinates address disowned files); vectors over
   * untouched partitions stay live.
   */
  def overwritePartitions(condition: String, df0: DataFrame): Unit =
    synchronized {
      val (v0, m) = commit.pin()
      val p = m.pcol.getOrElse(throw new IllegalArgumentException(
        "overwritePartitions needs a partitioned table — use overwriteWhere"))
      require(condition.trim.nonEmpty, "overwritePartitions with no predicate")
      columnsOf(m, condition).foreach(c => require(c == p,
        s"overwritePartitions must predicate only the partition column $p, " +
          s"got $c"))
      val cols = m.schema.fieldNames.toSeq
      val df = materializeGenerated(df0, m)
      require(df.columns.toSet == cols.toSet,
        s"replace batch columns ${df.columns.sorted.mkString(",")} != table " +
          s"schema ${cols.sorted.mkString(",")}")
      val data = df.select(cols.map(col): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        require(data.filter(!coalesce(expr(condition), lit(false))).limit(1).count() == 0L,
          "replaceWhere contract: every incoming row must fall inside the " +
            s"replaced partition range on $p")
        enforceConstraints(data, m.constraints)
        val (dir, owned, fstats) =
          writeData(data, m.pcol, m.statsCols, bloomCols = m.bloomCols,
            colMap = m.colMap)
        val replaced = ownedValuesMatching(m, condition)
        val chDir =
          if (m.cdfEnabled) {
            // CDF needs the replaced rows' delete images: read ONLY the
            // replaced partitions (partition-pruned — the zero-scan promise
            // relaxes to O(replaced region) exactly when CDF demands it)
            Some(writeChanges(m, snapshot(m, snapshotFiles(m, Some(replaced)),
              withRowIds = false, version = None)
              .withColumn(ChangeTypeCol, lit("delete"))
              .unionByName(data.withColumn(ChangeTypeCol, lit("insert")))))
          } else None
        commit.pinned("replace", v0, m, chDir)(
          transferPartitions(_, replaced, DirEntry(dir, owned), fstats))
      } finally { data.unpersist(); () }
    }

  /**
   * Copy-on-write UPDATE (Delta `UPDATE ... SET ... WHERE`): assign
   * `set` (column → expression over the row) on rows matching `condition`,
   * with the same pruned file rewrite as [[delete]]. The partition
   * column cannot be assigned (a row may not change partition). Returns the
   * number of rows updated; change feed records pre/post images.
   */
  def update(condition: String, set: Map[String, Column]): Long =
    mutateWhere(condition, Some(set))

  private def mutateWhere(condition: String,
      set: Option[Map[String, Column]]): Long = synchronized {
    require(condition.trim.nonEmpty, "refusing a whole-table mutation with no predicate")
    val (v0, m) = commit.pin()
    val opName = if (set.isEmpty) "delete" else "update"
    // CoW rewrites read raw files and re-link untouched ones under new dirs —
    // both would resurrect rows a live deletion vector has removed. Delta
    // draws the same line (REORG ... APPLY (PURGE) before incompatible ops).
    require(m.deleteVectors.isEmpty,
      s"copy-on-write $opName on $root with live deletion vectors — " +
        "compact() first to materialize them, or use deleteWhere()")
    set.foreach(_.keys.foreach { c =>
      require(m.schema.fieldNames.contains(c), s"unknown update column $c")
      require(!m.pcol.contains(c), s"cannot update partition column $c")
    })
    val cols = m.schema.fieldNames.toSeq
    val hit = coalesce(expr(condition), lit(false))
    // the touched set: the files whose partition values, zone maps and
    // blooms admit a match (none: nothing to rewrite, nothing to commit)
    val touched = candidateFiles(m, snapshotFiles(m), expr(condition))
    if (touched.isEmpty) return 0L
    val rows = scanFiles(m, touched)
    val matched = rows.filter(hit).count()
    def assigned(df: DataFrame, assigns: Map[String, Column], when0: Column) =
      df.select(cols.map(c => assigns.get(c)
        .fold(col(c))(e => when(when0, e).otherwise(col(c)).as(c))): _*)
    val rewritten = set match {
      case None => rows.filter(!hit)
      case Some(assigns) => assigned(rows, assigns, hit)
    }
    // UPDATE can write new values: enforce CHECK constraints on the
    // rewritten rows before any file lands (DELETE can't violate).
    // A failure before commit leaves only uncommitted dirs (vacuumable).
    if (set.nonEmpty) enforceConstraints(rewritten, m.constraints)
    val changes = Option.when(m.cdfEnabled) {
      val pre = rows.filter(hit)
      conformTo(set match {
        case None => pre.withColumn(ChangeTypeCol, lit("delete"))
        case Some(assigns) => pre.withColumn(ChangeTypeCol, lit("update_preimage"))
          .unionByName(assigned(pre, assigns, lit(true))
            .withColumn(ChangeTypeCol, lit("update_postimage")))
      }, m.schema)
    }
    rewriteTouched(m, v0, m.schema, touched, conformTo(rewritten, m.schema),
      changes, opName)
    matched
  }

  /**
   * MERGE-ON-READ UPDATE (the deletion-vector twin of the copy-on-write
   * [[update]], Delta's DV-enabled `UPDATE`): assign `set` on rows matching
   * `condition` — an ARBITRARY SQL boolean expression over the table's
   * columns, any shape — WITHOUT rewriting any
   * existing data file. One commit carries both halves: the matched rows'
   * coordinates land in a deletion vector (the old images vanish from every
   * read) and the updated images are appended as a fresh data dir. At
   * 100 TB this is O(matched rows) like [[deleteWhere]], where the CoW
   * [[update]] is O(files that may contain matches) — and unlike the CoW
   * path it composes with live deletion vectors (no `compact()` first).
   *
   * Semantics: CHECK constraints are enforced on the updated images before
   * anything is written; GENERATED columns are recomputed from their
   * expressions (assigning one directly is an error — its value is derived,
   * not set), so an update that moves a row's generated partition value
   * lands the new image in the right partition dir. With change feed
   * enabled the commit records `update_preimage`/`update_postimage` rows.
   * Returns the number of rows updated.
   */
  def updateWhere(condition: String, set: Map[String, Column]): Long = synchronized {
    require(set.nonEmpty, "UPDATE with no SET assignments")
    val (v0, m) = commit.pin()
    set.keys.foreach { c =>
      require(m.schema.fieldNames.contains(c), s"unknown update column $c")
      require(!m.generated.exists(_._1 == c),
        s"$c is a generated column — it is recomputed from its expression, not assigned")
    }
    val cols = m.schema.fieldNames.toSeq
    val cond = coalesce(expr(condition), lit(false))
    val matches = snapshot(m, snapshotFiles(m), withRowIds = true, version = None).filter(cond)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dvDir = writeDeleteVector(matches)
      val matched = deleteVectorRows(dvDir)
      if (matched == 0) {
        deleteRecursively(Paths.get(root, dvDir))
        return 0L
      }
      val genCols = m.generated.map(_._1).toSet
      val assigned = matches.select(cols.filterNot(genCols).map { c =>
        set.get(c).map(_.as(c)).getOrElse(col(c))
      }: _*)
      val updated = materializeGenerated(assigned, m)
        .select(cols.map(col): _*)
      enforceConstraints(updated, m.constraints)
      // pre/post images derive from the SAME pinned matches as the updated
      // data: write them on their own thread, overlapping the data write
      val chDirF = changesAside(m)(matches.select(cols.map(col): _*)
        .withColumn(ChangeTypeCol, lit("update_preimage"))
        .unionByName(updated.withColumn(ChangeTypeCol, lit("update_postimage"))))
      val (dir, owned, fstats) =
        writeData(updated, m.pcol, m.statsCols, bloomCols = m.bloomCols,
          colMap = m.colMap)
      val chDir = chDirF()
      commit.pinned("update", v0, m, chDir)(b => b.copy(
        entries = b.entries :+ DirEntry(dir, owned), fileStats = b.fileStats ++ fstats,
        deleteVectors = b.deleteVectors :+ dvDir))
      matched
    } finally { matches.unpersist(); () }
  }

  /** Drop data dirs (and change-feed dirs, including race-orphaned ones) not
   *  referenced by the newest `keepVersions` manifests. */
  def vacuum(keepVersions: Int = 2): Unit = synchronized {
    if (!exists) return
    reclaimExcept(retainedByVersions(keepVersions))
  }

  /** DRY RUN of [[vacuum]] (Delta `VACUUM ... DRY RUN`): the root-relative
   *  dirs/sidecars the real pass would delete, deleting nothing. */
  def vacuumDryRun(keepVersions: Int = 2): Seq[String] = synchronized {
    if (!exists) Nil else reclaimCandidates(retainedByVersions(keepVersions))
  }

  private def retainedByVersions(keepVersions: Int): Seq[Manifest] = {
    val cur = currentVersion
    (math.max(0L, cur - keepVersions + 1) to cur).filter(commit.has).map(readManifest)
  }

  /**
   * VACUUM by wall-clock retention (Delta `VACUUM t RETAIN n HOURS`): drop
   * data no version committed within the last `hours` references. Time
   * travel to any commit inside the window keeps working; older versions'
   * histories stay listable but their data is reclaimed. The CURRENT
   * version is always retained regardless of its age (a quiet table must
   * never lose its live snapshot), and manifests written before commit
   * clocks existed are retained conservatively (their age cannot be
   * proven). Like Delta's retention-duration check, windows shorter than
   * [[LakeTable.MinRetentionHours]] are refused unless `force` — a reader
   * of an old snapshot could still be mid-scan — so short-window tests and
   * deliberate purges opt in explicitly.
   */
  def vacuumRetainHours(hours: Double, force: Boolean = false): Unit = synchronized {
    if (!exists) return
    reclaimExcept(retainedByHours(hours, force))
  }

  /** DRY RUN of [[vacuumRetainHours]]: what it would delete, deleting
   *  nothing. The same retention floor applies — a dry run must report what
   *  a PERMITTED vacuum would do, not preview a refused one. */
  def vacuumRetainHoursDryRun(hours: Double, force: Boolean = false): Seq[String] =
    synchronized {
      if (!exists) Nil else reclaimCandidates(retainedByHours(hours, force))
    }

  private def retainedByHours(hours: Double, force: Boolean): Seq[Manifest] = {
    require(hours >= 0, s"retention hours must be >= 0, got $hours")
    require(force || hours >= MinRetentionHours,
      f"retention of $hours%.1f h is below the ${MinRetentionHours}h safety " +
        "floor (a reader of an old snapshot may still be mid-scan) — " +
        "pass force = true to override")
    val cutoffMs = clock() - (hours * 3600 * 1000).toLong
    val cur = currentVersion
    historyDetail.collect {
      case (v, _, ts) if v == cur || ts.forall(_ >= cutoffMs) => readManifest(v)
    }
  }

  /** Reclaim every data/change/DV dir and bloom sidecar not referenced by
   *  one of `retained` — the shared sweep of both vacuum forms. */
  private def reclaimExcept(retained: Seq[Manifest]): Unit =
    reclaimCandidates(retained).foreach(d => deleteRecursively(Paths.get(root, d)))

  /** The root-relative dirs/sidecars [[reclaimExcept]] would delete given
   *  the retained manifest set — the DRY RUN listing, shared with the real
   *  pass so the two can never disagree. */
  private def reclaimCandidates(retained: Seq[Manifest]): Seq[String] = {
    val out = Seq.newBuilder[String]
    def sweep(sub: String, keep: Set[String]): Unit = {
      val dir = Paths.get(root, sub)
      if (Files.isDirectory(dir)) {
        Files.list(dir).iterator().asScala.toList.foreach { p =>
          if (!keep.contains(s"$sub/${p.getFileName}")) out += s"$sub/${p.getFileName}"
        }
      }
    }
    val keep = retained.flatMap(_.entries.map(_.dir)).toSet
    sweep("data", keep)
    sweep("_changes", retained.flatMap(_.cdfDir).toSet)
    sweep("_dv", retained.flatMap(_.deleteVectors).toSet)
    // bloom sidecars live and die with their data dir
    sweep("_bloom", keep.map(d => s"_bloom/${Paths.get(d).getFileName}.idx"))
    out.result()
  }

  /** Rewrite the whole table into a single dir (small-file compaction for
   *  tables that accumulated many append/merge dirs). */
  def compact(): Unit = synchronized {
    val (v0, m) = commit.pin()
    replaceAll(snapshot(m), m.pcol, "compact", Some(v0))
  }

  /** [[optimizeCompact]] result: what was rewritten vs carried by link. */
  final case class OptimizeStats(
      filesRewritten: Int, filesLinked: Int, bytesRewritten: Long)

  /** Whether [[optimizeCompact]] would actually improve the layout: live
   *  deletion vectors exist (the pack materializes them), or at least two
   *  files sit under the small-file threshold (one lone small file can't
   *  pack into fewer). Maintenance jobs probe this FIRST — an
   *  already-packed table skips the pass entirely instead of paying an
   *  O(files) relink every night. Driver-side listing only. */
  def needsCompaction(targetFileBytes: Long = 128L * 1024 * 1024): Boolean =
    synchronized {
      require(exists, s"LakeTable at $root does not exist")
      val m = manifest
      m.deleteVectors.nonEmpty ||
        snapshotFiles(m).count(_.status.getLen < targetFileBytes / 2) >= 2
    }

  /**
   * OPTIMIZE bin-packing (Delta `OPTIMIZE` without ZORDER): coalesce SMALL
   * files into ~`targetFileBytes` files and hard-link every already-large
   * file untouched — I/O is O(small files), not O(table), which is the cost
   * that matters when streaming ingest has accumulated thousands of tiny
   * appends. [[compact]] stays the full-rewrite (REORG) path.
   *
   *  - "small" = under `targetFileBytes / 2` (Delta's minFileSize rule).
   *  - Partitioned tables pack PER PARTITION (files cannot cross partition
   *    dirs); files of partitions an entry no longer owns are dropped, not
   *    carried.
   *  - Files carrying DELETION-VECTOR rows are force-rewritten through the
   *    vector filter regardless of size — a hard link would put the dead
   *    rows under a new path the vectors don't address — so a completed
   *    optimize also MATERIALIZES all deletes and clears the vectors (the
   *    targeted `REORG TABLE ... APPLY (PURGE)`).
   *  - Zone-map stats ride along: linked files keep theirs (path remap),
   *    rewritten files get fresh ones. Bloom sidecars are rebuilt over the
   *    packed dir when the table indexes bloom columns (one extra scan —
   *    the write-side cost every indexed write pays).
   *
   * Commits conditionally against the snapshot it read (lost race →
   * [[ConcurrentWriteException]], recompute and retry). Rewrite-class
   * commit, but ROWSET-PRESERVING: the change feed spans it (it emits no
   * change rows — ChangeFeedSpec pins this), while append-only FILE streams
   * still refuse histories containing it (rewritten files would replay as
   * duplicates; same contract as compact). That makes auto-compact and
   * `readStream` mutually exclusive on one table — see the
   * [[LakeTable.AutoCompactProp]] note and the readStream error text.
   */
  def optimizeCompact(targetFileBytes: Long = 128L * 1024 * 1024): OptimizeStats =
    synchronized {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val (v0, m) = commit.pin()
    val minSize = targetFileBytes / 2
    val dvFiles: Set[String] =
      if (m.deleteVectors.isEmpty) Set.empty
      else spark.read.schema(DvSchema)
        .parquet(m.deleteVectors.map(d => s"$root/$d"): _*)
        .select("file").distinct().collect().map(_.getString(0)).toSet

    val newDir = s"data/${UUID.randomUUID()}"
    Files.createDirectories(Paths.get(root, newDir))
    // visible (owned-partition) files only; small-or-deleted → rewrite, the
    // rest hard-link into the packed dir (Spark part-file names embed a job
    // UUID, so cross-dir links cannot collide)
    val (rewrite, keep) = snapshotFiles(m).partition(f =>
      f.status.getLen < minSize || dvFiles.contains(f.rel))
    val statOf = m.fileStats.map(fs => fs.path -> fs).toMap
    val newStats = scala.collection.mutable.ArrayBuffer.empty[FileStat]
    keep.foreach { f =>
      val sub = Paths.get(f.dir).relativize(Paths.get(f.rel))
      val dst = Paths.get(root, newDir).resolve(sub)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, Paths.get(root, f.rel))
      statOf.get(f.rel).foreach(fs => newStats += fs.copy(path = s"$newDir/$sub"))
    }
    val rewriteBytes = rewrite.map(_.status.getLen).sum
    val rewrittenCount = if (rewrite.isEmpty) 0 else {
      val rwTmp = s"data/.opt-${UUID.randomUUID()}"
      val dfP = toPhysicalNames(m, snapshot(m, rewrite, withRowIds = false, version = None))
      withMicrosTimestamps { m.pcol.map(physName(m, _)) match {
        case Some(p) => dfP.repartition(col(p))
          .write.partitionBy(p).parquet(s"$root/$rwTmp")
        case None =>
          val n = math.max(1, math.ceil(rewriteBytes.toDouble / targetFileBytes).toInt)
          dfP.coalesce(n).write.parquet(s"$root/$rwTmp")
      } }
      linkRewritten(m, rwTmp, newDir, newStats)
    }
    // owned values for the packed dir = the union of what the entries owned
    val owned = m.pcol.map(_ => m.entries.flatMap(_.owned.getOrElse(Nil)).distinct)
    writeBloomIndex(newDir, physSchema(m), m.pcol.map(physName(m, _)),
      m.bloomCols.map(physName(m, _)))
    commit.pinned("optimize", v0, m)(_.copy(entries = Seq(DirEntry(newDir, owned)),
      fileStats = newStats.toSeq, deleteVectors = Nil))
    OptimizeStats(rewrittenCount, keep.size, rewriteBytes)
  }

  /** Hard-link every file of entry `e` except `rewritten` (root-relative)
   *  into a fresh data dir — zero data I/O, partition subpaths kept —
   *  carrying their zone stats into `newStats`. Returns the new dir. */
  private def relinkExcept(m: Manifest, e: DirEntry, rewritten: Set[String],
      newStats: scala.collection.mutable.ArrayBuffer[FileStat]): String = {
    val newDir = s"data/${UUID.randomUUID()}"
    Files.createDirectories(Paths.get(root, newDir))
    val statOf = m.fileStats.map(fs => fs.path -> fs).toMap
    listParquet(Paths.get(root, e.dir)).map(p => Paths.get(root).relativize(p).toString)
      .filterNot(rewritten).foreach { f =>
        val rel = Paths.get(e.dir).relativize(Paths.get(f))
        val dst = Paths.get(root, newDir).resolve(rel)
        Files.createDirectories(dst.getParent)
        Files.createLink(dst, Paths.get(root, f))
        statOf.get(f).foreach(fs => newStats += fs.copy(path = s"$newDir/$rel"))
      }
    newDir
  }

  /** Hard-link the files a rewrite wrote under `rwTmp` into `newDir` and
   *  drop `rwTmp`, adding their zone stats to `newStats` — read from the
   *  fresh footers (same inodes as the links), or by the aggregation pass
   *  when a footer is unusable. Returns the number of files. */
  private def linkRewritten(m: Manifest, rwTmp: String, newDir: String,
      newStats: scala.collection.mutable.ArrayBuffer[FileStat]): Int = {
    val rwFiles = listParquet(Paths.get(root, rwTmp))
    val rwRel = rwFiles.map { src =>
      val sub = Paths.get(root, rwTmp).relativize(src)
      val dst = Paths.get(root, newDir).resolve(sub)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, src)
      s"$newDir/$sub"
    }
    if (m.statsCols.nonEmpty && rwRel.nonEmpty) {
      val (phys, pcol) = (physSchema(m), m.pcol.map(physName(m, _)))
      val scols = m.statsCols.map(physName(m, _))
      newStats ++= footerStats(rwFiles.zip(rwRel), phys, pcol, scols).getOrElse(
        statsOf(spark.read.schema(phys).option("basePath", s"$root/$newDir")
          .parquet(rwRel.map(f => s"$root/$f"): _*), newDir, phys, pcol, scols))
    }
    deleteRecursively(Paths.get(root, rwTmp))
    rwFiles.size
  }

  /** The owned partition values of `m` (as the manifest records them)
   *  that satisfy `condition`, a condition over the partition column: each
   *  value, typed, is one row of a local relation the condition filters,
   *  so Catalyst decides every value exactly — a condition folded to false
   *  scopes nothing, a subquery runs as in any query. No file is read. */
  private def ownedValuesMatching(m: Manifest, condition: String): Set[String] = {
    val f = m.schema(m.pcol.get)
    val typed = typedValue(f.dataType)
    val values = m.entries.flatMap(_.owned.getOrElse(Nil)).distinct
      .map(v => (v, typed(v))).filter(_._2 != null)
    val owned = AttributeReference(OwnedValueCol, StringType, nullable = false)()
    val rel = LocalRelation(Seq(AttributeReference(f.name, f.dataType)(), owned),
      values.map { case (v, x) => InternalRow(x, UTF8String.fromString(v)) })
    GraftColumnBridge.dataset(spark, rel).filter(condition).select(OwnedValueCol)
      .collect().map(_.getString(0)).toSet
  }

  /** The table columns `condition` references, resolved against `m`'s
   *  schema (an unknown column fails analysis) and named as the schema
   *  spells them — a resolved reference keeps the condition's spelling. */
  private def columnsOf(m: Manifest, condition: String): Seq[String] =
    scanFiles(m, Nil).filter(condition).queryExecution.analyzed.collectFirst {
      case Filter(c, child) => child.output.filter(c.references.contains).map(_.name)
    }.getOrElse(Nil)

  /** Whether `condition` references the partition column and no other —
   *  the rule [[overwritePartitions]] and [[optimizeWhere]] enforce. */
  private[lake] def onPartitionOnly(condition: String): Boolean = {
    val m = manifest
    m.pcol.exists(p => columnsOf(m, condition).forall(_ == p))
  }

  /** Hive-layout partition value of a file's dir-relative subpath, if any. */
  private def partitionValueOf(sub: String, pcol: String): Option[String] = {
    val prefix = s"$pcol="
    sub.split('/').find(_.startsWith(prefix))
      .map(s => LakeTable.unescapePathName(s.stripPrefix(prefix)))
  }

  /**
   * Z-ORDER compaction (Delta `OPTIMIZE ... ZORDER BY`): rewrite the table
   * clustered on the interleaved-bit order of `zcols`, so the per-file zone
   * maps become selective on EVERY z-ordered column at once — a linear sort
   * clusters only its leading column; Z-order gives each of k columns
   * ~(1/file_count)^(1/k) selectivity. The payoff is file skipping on
   * whichever of the columns a filtered read names.
   *
   * Mechanics: each column is quantized to an 8-bit bin via approximate
   * quantile boundaries (equi-DEPTH bins, so skew cannot collapse the curve
   * into a few bins), bits of the bin indices are interleaved into a z-value,
   * and the table is range-repartitioned + sorted by it into `targetFiles`
   * files. The quantile sketch is one pass; the rewrite is one shuffle —
   * O(table), same as any compaction, and worth it when read volume
   * dominates write volume.
   *
   * Partitioned tables Z-order WITHIN each partition: bin boundaries are
   * computed PER PARTITION in one grouped `percentile_approx` pass (a June
   * partition's timestamps span June — global boundaries would collapse
   * every partition's rows into one or two bins), broadcast-joined back,
   * and the rewrite range-partitions on (partition, z) so each partition's
   * z-curve is contiguous across its files. Columns must be numeric,
   * timestamp, or date.
   */
  def compactZOrder(zcols: Seq[String], targetFiles: Int = 16): Unit = synchronized {
    val (v0, m) = commit.pin()
    val (clustered, release) =
      zorderClustered(snapshot(m), m, zcols, targetFiles)
    try replaceAll(clustered, m.pcol, "compact", Some(v0),
      preclustered = m.pcol.isDefined, clusteredAs = zcols)
    finally release()
  }

  /** Lexicographic range-clustering compact — the layout `OPTIMIZE` applies
   *  to a liquid-clustered table whose key includes non-z-orderable columns
   *  (strings): range-repartition + sort on the column tuple, so each file
   *  covers a contiguous span of the leading key and zone maps prune on
   *  key prefixes. One sample pass (the range partitioner) + one shuffle —
   *  the same O(table) cost envelope as [[compactZOrder]]. Favors the
   *  LEADING columns (lexicographic), where the z-curve spreads locality
   *  evenly; pick the order accordingly. */
  def compactSort(cols: Seq[String], targetFiles: Int = 16): Unit = synchronized {
    val (v0, m) = commit.pin()
    require(cols.nonEmpty && cols.size <= 4, "1..4 sort-cluster columns")
    cols.foreach { c =>
      require(m.schema.fieldNames.contains(c), s"unknown cluster column $c")
      require(!m.pcol.contains(c), s"$c is the partition column")
    }
    val clustered = snapshot(m)
      .repartitionByRange(targetFiles max 1, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    replaceAll(clustered, m.pcol, "compact", Some(v0),
      preclustered = m.pcol.isDefined, clusteredAs = cols)
  }

  /**
   * INCREMENTAL liquid-clustering OPTIMIZE (Delta's actual `OPTIMIZE`
   * behavior on a clustered table): cluster ONLY the data written since the
   * last clustering pass, leaving already-clustered files untouched — same
   * paths, same inodes, no relink. At 100 TB this is the difference between
   * a nightly job that rewrites yesterday's ingest and one that rewrites
   * the table: cost is O(new data), independent of table size.
   *
   * Mechanics: manifest entries carry a `clustered` flag (set by the
   * clustering rewrites) plus the key they were clustered on
   * ([[Manifest.clusterKey]]). This pass reads the UNFLAGGED dirs (through
   * their deletion vectors — their dead rows materialize away), lays them
   * out on the key (bit-interleaved Z-order for z-orderable keys,
   * lexicographic range-sort otherwise), and commits a rewrite that
   * replaces only those entries. Vectors addressing kept files stay live;
   * vectors addressing rewritten files go stale-and-harmless (their paths
   * leave the manifest). A changed declared key (ALTER … CLUSTER BY)
   * invalidates the flags wholesale, so the next pass re-clusters
   * everything on the new key — Delta's `OPTIMIZE FULL` shape.
   *
   * Like Delta, incremental clustering is LOCAL: each pass lays out its own
   * batch well, but cross-batch key ranges overlap, so zone-map selectivity
   * degrades slowly as batches accumulate — `OPTIMIZE t FULL`
   * ([[compactZOrder]]/[[compactSort]]) restores the global curve.
   * Rowset-preserving "optimize" commit: the change feed spans it silently.
   */
  def optimizeClustered(cols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): OptimizeStats = synchronized {
    require(cols.nonEmpty, "optimizeClustered needs clustering columns")
    val (v0, m) = commit.pin()
    require(m.pcol.isEmpty,
      "liquid clustering applies to unpartitioned tables only")
    val keyMatches = m.clusterKey == cols
    val (kept, uncl) = m.entries.partition(e => e.clustered && keyMatches)
    val keptDirs = kept.map(_.dir).toSet
    val (keptFiles, unclFiles) = snapshotFiles(m).partition(f => keptDirs(f.dir))
    if (uncl.isEmpty) return OptimizeStats(0, keptFiles.size, 0L)
    val bytes = unclFiles.map(_.status.getLen).sum
    val targetFiles = math.max(1,
      math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // read the unclustered dirs through their deletion vectors (dead rows
    // materialize away — the targeted REORG, same as optimizeCompact)
    val batch = snapshot(m, unclFiles, withRowIds = false, version = None)
    val (clustered, release) =
      if (zOrderable(cols)) zorderClustered(batch, m, cols, targetFiles)
      else (batch.repartitionByRange(targetFiles, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*), () => ())
    try {
      val (dir, _, fstats) = writeData(clustered, None, m.statsCols,
        preclustered = true, bloomCols = m.bloomCols, colMap = m.colMap)
      // DRAIN stale deletion vectors: the rewritten dirs' dead rows just
      // materialized away, so any DV dir whose coordinates all address
      // rewritten (now-unreferenced) files is dead weight — on a clustered
      // table maintain() always takes this branch, so without pruning the
      // DV list would grow forever and every read would pay the DV scan +
      // anti-join with zero live vectors. Keep only dirs that still address
      // a KEPT file. One metadata-sized job: rows per DV dir = its deleted
      // row count; the collect is DV-dir-count-sized.
      val keptDvs =
        if (m.deleteVectors.isEmpty || kept.isEmpty) Nil
        else {
          val prefix = s"$rootPath/"
          val dv = spark.read.schema(DvSchema)
            .parquet(m.deleteVectors.map(d => s"$root/$d"): _*)
            .select(
              // DV dirs are `_dv/<uuid>` (two segments) — recover each
              // row's owning dir from its file's root-relative path
              expr(s"substring_index(substring(_metadata.file_path, " +
                s"${prefix.length + 1}), '/', 2)").as("dvdir"),
              col("file"))
          val underKept = keptDirs.toSeq.sorted
            .map(d => col("file").startsWith(d + "/"))
            .reduce(_ || _)
          val liveDirs = dv.filter(underKept)
            .select("dvdir").distinct()
            .collect().map(_.getString(0)).toSet
          m.deleteVectors.filter(liveDirs)
        }
      commit.pinned("optimize", v0, m)(_.copy(
        entries = kept :+ DirEntry(dir, None, clustered = true),
        fileStats = statsOfDirs(m, kept.map(_.dir)) ++ fstats, deleteVectors = keptDvs,
        clusterKey = cols))
      OptimizeStats(listParquet(Paths.get(root, dir)).size, keptFiles.size, bytes)
    } finally release()
  }

  /** Whether every column in `cols` carries a z-orderable type
   *  (numeric/timestamp/date) — decides [[compactZOrder]] vs
   *  [[compactSort]] for liquid-clustered OPTIMIZE. */
  def zOrderable(cols: Seq[String]): Boolean = {
    val s = schema
    cols.forall { c =>
      s.fieldNames.contains(c) && (s(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      })
    }
  }

  /** The Z-order clustering transform shared by [[compactZOrder]] (whole
   *  table) and [[optimizeWhere]] (partition-scoped): quantize each z-col
   *  to equi-depth 8-bit bins, interleave the bin bits into a z-value, and
   *  range-repartition + sort so each output file covers a contiguous span
   *  of the curve. Returns the clustered frame and an unpersist handle the
   *  caller releases after consuming it (the quantile sketch and the write
   *  are two passes over the input). */
  private def zorderClustered(df: DataFrame, m: Manifest, zcols: Seq[String],
      targetFiles: Int): (DataFrame, () => Unit) = {
    require(zcols.nonEmpty && zcols.size <= 4, "1..4 z-order columns")
    zcols.foreach { c =>
      require(m.schema.fieldNames.contains(c), s"unknown z-order column $c")
      require(!m.pcol.contains(c), s"$c is the partition column — the Hive " +
        "layout already clusters it; z-order the within-partition columns")
      val dt = m.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.DateType,
        s"z-order column $c has unsupported type $dt")
    }
    // one numeric shadow column per z-col for the quantile sketch (a DATE
    // has no cast to DOUBLE: it maps through its day number)
    val shadowed = zcols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val numeric = if (m.schema(c).dataType == org.apache.spark.sql.types.DateType)
        unix_date(col(c)) else col(c)
      d.withColumn(s"__zc$i", numeric.cast("double"))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bits = 8
    val bins = 1 << bits
    val probes = (1 until bins).map(_.toDouble / bins).toArray
    // bin = #boundaries <= value (0..255); null sorts to bin 0
    def binOf(bnds: Column, i: Int): Column =
      coalesce(size(filter(bnds, b => b <= coalesce(col(s"__zc$i"),
        lit(Double.NegativeInfinity)))), lit(0))
    // interleave: bit b of column i lands at position b*k + i
    def interleave(binCols: Seq[Column]): Column = {
      val k = binCols.size
      (0 until bits).flatMap { b =>
        binCols.zipWithIndex.map { case (bc, i) =>
          shiftleft(shiftright(bc, b).bitwiseAND(lit(1)), b * k + i)
        }
      }.reduce[Column](_ bitwiseOR _)
    }
    val zdrop = zcols.indices.map(i => s"__zc$i") :+ "__z"
    val clustered = m.pcol match {
      case None =>
        val binCols = zcols.indices.map { i =>
          val bnds = shadowed.stat
            .approxQuantile(s"__zc$i", probes, 0.01).distinct.sorted
          if (bnds.isEmpty) lit(0): Column
          else binOf(array(bnds.map(lit(_)): _*), i)
        }
        shadowed.withColumn("__z", interleave(binCols))
          .repartitionByRange(targetFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop(zdrop: _*)
      case Some(p) =>
        // equi-depth boundaries PER PARTITION, one grouped aggregation
        // pass (never a per-partition driver loop); boundary arrays ride
        // a broadcast join back onto the rows
        val probeArr = array(probes.map(lit(_)): _*)
        val aggs = zcols.indices.map(i =>
          percentile_approx(col(s"__zc$i"), probeArr, lit(10000))
            .as(s"__bnds$i"))
        val bnds = shadowed.groupBy(col(p)).agg(aggs.head, aggs.tail: _*)
        val cleaned = zcols.indices.foldLeft(bnds)((d, i) =>
          d.withColumn(s"__bnds$i",
            array_sort(array_distinct(col(s"__bnds$i")))))
        val binCols = zcols.indices.map(i => binOf(col(s"__bnds$i"), i))
        shadowed.join(broadcast(cleaned), Seq(p))
          .withColumn("__z", interleave(binCols))
          .repartitionByRange(targetFiles, col(p), col("__z"))
          .sortWithinPartitions(col(p), col("__z"))
          .drop(zcols.indices.map(i => s"__bnds$i") ++ zdrop: _*)
          .select(m.schema.fieldNames.map(col).toSeq: _*)
    }
    (clustered, () => { shadowed.unpersist(); () })
  }

  /**
   * PARTITION-SCOPED OPTIMIZE (Delta `OPTIMIZE t WHERE <partition pred>
   * [ZORDER BY (...)]`): rewrite ONLY the partitions matching `condition` —
   * bin-packed, or Z-order clustered when `zcols` is non-empty — and leave
   * every other partition's files byte-for-byte untouched: the commit
   * transfers ownership of the matching partition values to the freshly
   * written dir and keeps the remaining entries exactly as they were, so
   * untouched files keep their paths AND inodes (no relink, no copy).
   * This is how table maintenance survives 100 TB: the nightly OPTIMIZE
   * touches yesterday's partition, not the table — cost is O(matched
   * partitions), independent of table size, where [[compactZOrder]] /
   * [[optimizeCompact]] are O(table) per invocation.
   *
   * `condition` (a SQL boolean expression) may reference only the
   * partition column (Delta's rule: only partition predicates can scope
   * whole-file maintenance); the scope is the owned partition values it
   * holds for ([[ownedValuesMatching]]: the condition evaluated on each
   * typed value) — no data scan decides the scope. Deletion vectors
   * over the scoped partitions are materialized by the rewrite; vectors
   * over untouched partitions stay
   * live (their coordinates still address the untouched files, and stale
   * coordinates into rewritten partitions can never match a scanned row).
   * Returns files rewritten (new files), files kept untouched, and bytes
   * of scoped input rewritten.
   */
  def optimizeWhere(condition: String, zcols: Seq[String] = Nil,
      targetFiles: Int = 16): OptimizeStats = synchronized {
    val (v0, m) = commit.pin()
    val p = m.pcol.getOrElse(throw new IllegalArgumentException(
      "OPTIMIZE ... WHERE needs a partitioned table — use optimizeCompact()/" +
        "compactZOrder() for whole-table maintenance"))
    require(condition.trim.nonEmpty,
      "OPTIMIZE ... WHERE with no predicate — use optimizeCompact()/compactZOrder()")
    columnsOf(m, condition).foreach(c => require(c == p,
      s"OPTIMIZE WHERE must predicate only the partition column $p, " +
        s"got $c (Delta's rule — only partition predicates scope files)"))
    // live files in scope are rewritten; the rest stay untouched (files of
    // partitions a dir no longer owns are dead — vacuum's business)
    val scopeSet = ownedValuesMatching(m, condition)
    val scoped = snapshotFiles(m, Some(scopeSet))
    val keptFiles = snapshotFiles(m).size - scoped.size
    if (scopeSet.isEmpty) return OptimizeStats(0, keptFiles, 0L)
    val scopedBytes = scoped.map(_.status.getLen).sum
    // scoped snapshot rows, deletion vectors applied (the rewrite
    // materializes deletes for these partitions)
    val df0 = snapshot(m, scoped, withRowIds = false, version = None)
    val (df, release) =
      if (zcols.isEmpty) (df0.repartition(col(p)), () => ())
      else zorderClustered(df0, m, zcols, targetFiles)
    val (dir, owned, fstats) =
      try writeData(df, m.pcol, m.statsCols, preclustered = true,
        bloomCols = m.bloomCols, colMap = m.colMap)
      finally release()
    commit.pinned("optimize", v0, m)(
      transferPartitions(_, scopeSet, DirEntry(dir, owned), fstats))
    OptimizeStats(listParquet(Paths.get(root, dir)).size, keptFiles, scopedBytes)
  }

  /** `b` with the partition values `moved` owned by the freshly written
   *  `to` (stats `toStats`) instead: every other entry is carried as it is,
   *  and an entry left owning nothing leaves with its stats. */
  private def transferPartitions(b: Manifest, moved: String => Boolean, to: DirEntry,
      toStats: Seq[FileStat]): Manifest = {
    val kept = b.entries.flatMap { e =>
      val rest = e.owned.map(_.filterNot(moved))
      if (rest.exists(_.isEmpty)) None else Some(e.copy(owned = rest))
    }
    b.copy(entries = kept :+ to, fileStats = statsOfDirs(b, kept.map(_.dir)) ++ toStats)
  }

  /** The zone stats of the files under `dirs`. */
  private def statsOfDirs(m: Manifest, dirs: Seq[String]): Seq[FileStat] =
    m.fileStats.filter(fs => dirs.exists(d => fs.path.startsWith(d + "/")))
}

object LakeTable {
  private val T_MARK = "__t_exists"
  private val S_MARK = "__s_exists"
  private[lake] final class MicrosState {
    var depth: Int = 0
    var prev: Option[String] = None
  }
  private[lake] val microsOverride =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, MicrosState]()
  /** Sentinel cdfDir value: the commit's ADDED DATA dirs are its insert
   *  images (all-insert commits — bootstrap merges). Never a real path. */
  private[lake] val CdfFromData = "__cdf_from_data__"
  /** Diagnostic: how often footer-based zone stats fell back to the Spark
   *  aggregation pass (expected ~never — parity specs assert it stays 0). */
  private[lake] val footerStatsFallbacks = new java.util.concurrent.atomic.AtomicLong()
  /** [[LakeTable.vacuumRetainHours]] safety floor (Delta's default retention
   *  window): reclaiming data younger than this risks failing a reader that
   *  resolved its snapshot before the vacuum started. */
  val MinRetentionHours: Double = 168.0
  /** Full-checkpoint cadence of the manifest log (Delta's
   *  `delta.checkpointInterval` default): commits between checkpoints are
   *  diff-encoded against their parent, so per-commit manifest bytes scale
   *  with the files TOUCHED, not the table; snapshot resolution reads at
   *  most one checkpoint + this-many-minus-one deltas. */
  val ManifestCheckpointInterval: Int = 10
  /** The recognized TBLPROPERTIES key that switches change-data capture
   *  (Delta's `delta.enableChangeDataFeed` role). */
  val ChangeFeedProp = "enableChangeFeed"

  /** Table property carrying the liquid-clustering columns (Delta's
   *  `clusteringColumns` metadata, set via SQL `CLUSTER BY`). */
  val ClusterByProp = "clusteringColumns"

  /** Table-property prefix for column DEFAULT values (`CREATE TABLE …
   *  (c INT DEFAULT <expr>)`): `default.<col>` holds the expression SQL.
   *  Applied when a named-column INSERT omits the column. */
  val DefaultPropPrefix = "default."

  /** Table-property prefix for IDENTITY columns (Delta `GENERATED ALWAYS
   *  AS IDENTITY`): `identity.<col>` holds "start,step", and
   *  `identity.<col>.hw` the last assigned value — committed atomically
   *  with each append, so the sequence survives restarts, restore, and
   *  clone like any other manifest state. */
  val IdentityPropPrefix = "identity."
  /** TBLPROPERTIES keys driving write-side AUTO COMPACT (Delta
   *  `delta.autoOptimize.autoCompact` role): switch, small-file count
   *  threshold, and target packed-file size. MUTUALLY EXCLUSIVE with
   *  file-glob `readStream` on the same table: auto-compact makes appends
   *  commit optimize rewrites, which an append-only file stream refuses
   *  (rewritten files would replay as duplicates) — its error names this
   *  property when that's the cause. Stream a non-compacting bronze table
   *  and OPTIMIZE downstream instead. */
  val AutoCompactProp = "autoCompact"
  val AutoCompactMinFilesProp = "autoCompact.minFiles"
  val AutoCompactTargetBytesProp = "autoCompact.targetFileBytes"
  /** TYPE WIDENING (Delta `delta.enableTypeWidening`): with this property
   *  `'true'`, a type change along [[widensTo]]'s lossless lattice is a
   *  METADATA-ONLY schema change — no data file rewritten at any table
   *  size. Old narrow files are served through Spark 4's parquet widening
   *  promotion (the reader upcasts int32 under a BIGINT schema, float
   *  under DOUBLE, …); pre-widen files stay physically narrow while
   *  narrower post-widen batches are cast up at write (their zone stats
   *  must carry the column's real type). Applies to `append`
   *  evolution and `ALTER TABLE … ALTER COLUMN … TYPE`; MERGE evolution
   *  keeps the loud equality contract (its clause expressions bind both
   *  sides). */
  val TypeWideningProp = "delta.enableTypeWidening"

  /** The supported LOSSLESS widening lattice (Delta's, minus the
   *  date→timestampNTZ row): integral upcasts, float→double, sub-long
   *  integral→double (every int32 is exact in a double; long→double is
   *  lossy and refused), integral→DECIMAL(p,0) with enough integer
   *  digits, and decimal→decimal where the scale only grows and the
   *  integer-part capacity (p−s) never shrinks — all value-exact. Each
   *  pair class is reader-proven in `TypeWideningSpec` — a pair outside
   *  the proven set must never be added without a mixed-era read test. */
  private[lake] def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType, d: DecimalType) => d.scale == 0 && d.precision >= 3
      case (ShortType, d: DecimalType) => d.scale == 0 && d.precision >= 5
      case (IntegerType, d: DecimalType) => d.scale == 0 && d.precision >= 10
      case (LongType, d: DecimalType) => d.scale == 0 && d.precision >= 20
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale &&
          (b.precision > a.precision || b.scale > a.scale)
      case _ => false
    }
  }
  /** Change-feed column names (Delta CDF's). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTimestampCol = "_commit_timestamp"
  /** Deletion-vector row coordinates attached to scans (internal). */
  private val DvFileCol = "__dv_file"
  private val DvPosCol = "__dv_pos"
  /** The manifest-text column beside each typed partition value when a
   *  condition scopes partitions (internal). */
  private val OwnedValueCol = "__owned_value"
  /** Bloom index sizing: per-file expected distinct values and target false
   *  positive rate. 50k items @ 1% ≈ 60 KB/file/column — a production
   *  deployment writing ~1M-row files would size these from write stats;
   *  the knob is a constant here because the CONTRACT (absent/undersized
   *  blooms only lose pruning, never correctness) does not depend on it. */
  private val BloomExpectedItems = 50000L

  /** Row cap for the driver-local LocalRelation write path: above this a
   *  distributed write amortizes its scheduling cost; below it the Spark
   *  job IS the cost. LocalRelations are driver memory by definition, so
   *  the cap bounds single-file size, not correctness. */
  private[lake] val LocalWriteMaxRows = 100000

  /** Minimum table bytes before a merge attempts file pruning — below it
   *  the bounds aggregation + relink bookkeeping cost more than the full
   *  rewrite they avoid. Scale-derived (data size), deliberately NOT a
   *  core-count constant; override per session for tests or small-file
   *  deployments. */
  private[lake] def mergePruneMinBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.merge.pruneMinBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
  private val BloomFpp = 0.01

  /** Executor-side OR-merge of two serialized per-file bloom arrays (one
   *  element per indexed column) — the reduceByKey combiner of the index
   *  build. Lives on the companion so the task closure captures no table. */
  private[lake] def mergeBloomBytes(a: Array[Array[Byte]],
      b: Array[Array[Byte]]): Array[Array[Byte]] = {
    require(a.length == b.length,
      s"bloom partial arity mismatch: ${a.length} vs ${b.length}")
    a.zip(b).map { case (x, y) =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(x))
      bf.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(y)))
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
  }
  /** Deletion-vector parquet schema: root-relative data file + row index. */
  private val DvSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** What the change feed serves over a version window
   *  ([[LakeTable.feedWindow]]). */
  sealed trait FeedWindow {
    /** Whether the feed can serve the window at all. */
    def readable: Boolean = this == FeedWindow.AppendOnly || this == FeedWindow.Mutating
  }
  object FeedWindow {
    /** Every commit structurally append-only: insert images only. */
    case object AppendOnly extends FeedWindow
    /** Readable; row-mutating commits may carry update/delete images. */
    case object Mutating extends FeedWindow
    /** A full-rewrite commit, or a row-mutating one that recorded no
     *  images: no row-level delta exists. */
    case object Rewritten extends FeedWindow
    /** VACUUM reclaimed added or change dirs the window needs. */
    case object Vacuumed extends FeedWindow
  }

  /** DESCRIBE DETAIL row (Delta parity): current-snapshot facts. */
  final case class TableDetail(
      location: String, version: Long, numFiles: Long, sizeInBytes: Long,
      partitionColumns: Seq[String], statsColumns: Seq[String],
      changeFeedEnabled: Boolean, constraints: Map[String, String],
      generatedColumns: Map[String, String],
      lastOperation: String, lastCommitTimestampMs: Option[Long],
      /** Live deletion-vector dirs (rows logically deleted, files intact). */
      deletionVectors: Int = 0,
      /** Bloom-indexed columns (point-lookup file skipping). */
      bloomFilterColumns: Seq[String] = Nil,
      /** Liquid-clustering key (empty = not clustered). */
      clusteringColumns: Seq[String] = Nil)

  /** Transaction-ledger appId prefix of gold dimension builds' source
   *  records ([[graft.gold.GoldBuilder.buildDim]]): one entry per table —
   *  a merge or overwrite stamping one retires the others, so the header
   *  does not grow as the dimension's source or config changes. */
  val DimLedgerFamily = "graft.dim#"

  /** One lake table snapshot a read resolved to: the table root, its
   *  manifest version and the root-relative files that version lists. A
   *  table deleted and recreated at the same root restarts its versions
   *  but never reuses a data file name, so equal snapshots read equal rows. */
  final case class Snapshot(root: String, version: Long, files: Seq[String])

  /** The one snapshot `df` reads, or None. Some only when every leaf of its
   *  analyzed plan, subqueries included, is a whole-snapshot lake scan
   *  ([[LakeTable.read]], [[LakeTable.readVersion]]) of one version, and
   *  every node is deterministic, runs no user code (UDFs, typed lambdas)
   *  and reads no clock: the same plan over the same snapshot then
   *  computes the same rows. Local data, a plain file read, a table with
   *  deletion vectors (its anti-join side is a plain parquet read) and
   *  multi-table plans have no snapshot. Analysis only — runs no job. */
  def snapshotOf(df: DataFrame): Option[Snapshot] = {
    val nodes = df.queryExecution.analyzed.collectWithSubqueries { case p => p }
    def userCode(e: Expression): Boolean = e.exists {
      case _: UserDefinedExpression | _: PythonFuncExpression | _: UserDefinedGenerator => true
      case x => x.dataType.isInstanceOf[ObjectType]
    }
    val pure = nodes.forall { p =>
      !p.isStreaming && !p.isInstanceOf[ObjectProducer] && !p.isInstanceOf[ObjectConsumer] &&
        p.expressions.forall(e =>
          e.deterministic && !e.containsPattern(CURRENT_LIKE) && !userCode(e))
    }
    val leaves = nodes.collect {
      case LogicalRelation(HadoopFsRelation(i: ManifestFileIndex, _, _, _, _, _), _, _, _, _) =>
        i.version.map(v => Snapshot(i.root.toString, v, i.files.map(_.rel)))
      case _: LeafNode => None
    }.distinct
    leaves match {
      case Seq(Some(s)) if pure => Some(s)
      case _ => None
    }
  }

  def apply(spark: SparkSession, root: String): LakeTable =
    new LakeTable(spark, root, () => System.currentTimeMillis())

  /** Injectable commit clock (epoch millis) — tests and oracle-compared
   *  queries pin it so `_commit_timestamp` is reproducible. */
  def withClock(spark: SparkSession, root: String, clock: () => Long): LakeTable =
    new LakeTable(spark, root, clock)

  /** Hive-layout `%XX` unescape. Consecutive escapes accumulate into one
   *  byte run that is UTF-8-decoded TOGETHER (so `%C3%A9` → `é`, never two
   *  mojibake chars), and a `%` not followed by two hex digits passes
   *  through literally — both matching Hive/Spark `unescapePathName`. */
  private[lake] def unescapePathName(s: String): String = {
    def isHex(c: Char): Boolean = Character.digit(c, 16) >= 0
    val sb = new StringBuilder
    val run = new java.io.ByteArrayOutputStream(8)
    def flush(): Unit = if (run.size() > 0) {
      sb.append(new String(run.toByteArray, StandardCharsets.UTF_8))
      run.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && isHex(s.charAt(i + 1)) &&
          isHex(s.charAt(i + 2))) {
        run.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { flush(); sb.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toList.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
