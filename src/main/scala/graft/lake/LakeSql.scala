package graft.lake

import java.util.Locale

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{ColumnDefinition, CreateTable, CreateTableAsSelect, DeleteFromTable, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, OverwriteByExpression, SubqueryAlias, UnresolvedTableSpec, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.types.TimestampType

/**
 * SQL-TEXT surface for lake tables: SELECT (incl. `VERSION/TIMESTAMP AS
 * OF` time travel and the `table_changes('t', from[, to])` CDF
 * table-valued function), CREATE TABLE [IF NOT EXISTS] [PARTITIONED BY]
 * LOCATION [AS SELECT], MERGE INTO, DELETE FROM, UPDATE (zone-pruned CoW
 * or arbitrary-predicate MoR), INSERT INTO/OVERWRITE, INSERT INTO ...
 * REPLACE WHERE (atomic region swap; zero-scan on partition predicates),
 * OPTIMIZE [WHERE <partition pred>] [ZORDER BY], VACUUM
 * [RETAIN n VERSIONS|HOURS] [DRY RUN], RESTORE TABLE ... TO
 * VERSION/TIMESTAMP AS OF, SHOW PARTITIONS, ALTER TABLE ... ADD
 * CONSTRAINT / DROP COLUMN (metadata-only, tombstoned),
 * DESCRIBE DETAIL and DESCRIBE HISTORY executed against
 * registered [[LakeTable]]s — the statement forms the reference drives
 * through `spark.sql` (`DIM_Gold_layer.py:176-195` for MERGE;
 * `Setup.py:39-75`, `README.md:106-110` for DDL/DML/validation text).
 *
 * Spark's OWN parser produces the `MergeIntoTable` logical plan; this layer
 * only WALKS it — target name → registry lookup, `USING` plan → analyzed
 * DataFrame (temp views and subqueries resolve through Spark's analyzer),
 * ON-conjunction → equi-join keys, matched guard → re-qualified `s`/`t`
 * expression — and hands off to [[LakeTable.merge]]. No Catalyst surgery:
 * resolution rules, analyzer, and the merge engine stay untouched.
 *
 * Supported statement shape (the reference's, plus the full clause triad):
 *   - ON: conjunction of `t.k = s.k` equalities over SAME-named columns
 *   - WHEN MATCHED [AND <guard>] THEN UPDATE SET *            (at most one)
 *     or WHEN MATCHED [AND <guard>] THEN UPDATE SET c = <expr over s/t>
 *     or WHEN MATCHED [AND <guard>] THEN DELETE
 *   - WHEN NOT MATCHED THEN INSERT * (unconditioned; omittable when a
 *     DELETE clause exists)
 *   - WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE (table sync:
 *     target-only rows removed — full-rewrite path on partitioned targets)
 * Anything else fails loudly with the offending clause named.
 */
object LakeSql {

  private val tables =
    scala.collection.concurrent.TrieMap.empty[String, LakeTable]

  private def norm(name: String): String = name.toLowerCase(Locale.ROOT)

  /** Register `table` under `name` for SQL-text statements. */
  def register(name: String, table: LakeTable): Unit =
    tables.put(norm(name), table)

  def unregister(name: String): Unit = { tables.remove(norm(name)); () }

  /** READ-ONLY relation registry: `name` → a thunk producing the CURRENT
   *  frame, re-evaluated per query (never stale). The SELECT surfaces
   *  (`LakeSql.sql`/`select` and native `spark.sql` via
   *  [[ResolveLakeRelations]]) resolve these exactly like registered
   *  tables; DML / MERGE / OPTIMIZE / time travel / `table_changes`
   *  refuse by construction (the statement paths look up `tables` only) —
   *  the shape for PRESENTED datasets like an auto-maintained MV, whose
   *  backing table carries hidden maintenance columns a SQL reader must
   *  never see. A full-table registration under the same name wins. */
  private val relations =
    scala.collection.concurrent.TrieMap.empty[String, () => DataFrame]

  def registerRelation(name: String, frame: () => DataFrame): Unit =
    relations.put(norm(name), frame)

  def unregisterRelation(name: String): Unit = { relations.remove(norm(name)); () }

  /** Parse and execute a `MERGE INTO` statement against registered lake
   *  tables. Returns the target table (for chaining reads). */
  def merge(spark: SparkSession, sqlText: String): LakeTable = {
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    val m = plan match {
      case mit: MergeIntoTable => mit
      case other => throw new IllegalArgumentException(
        s"LakeSql.merge expects a MERGE INTO statement, got ${other.nodeName}")
    }
    val (targetName, targetAlias) = relationOf(m.targetTable, "target")
    val target = tables.getOrElse(norm(targetName), throw new IllegalArgumentException(
      s"no lake table registered as '$targetName' — LakeSql.register it first"))
    val (sourceDf, sourceAlias) = sourceOf(spark, m.sourceTable)
    require(norm(targetAlias) != norm(sourceAlias),
      s"target and source aliases must differ (both are '$targetAlias') — " +
        "equiKeys cannot tell the sides apart and guard requalification would misbind")

    val keys = equiKeys(m.mergeCondition, targetAlias, sourceAlias)

    // WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE — the table-sync form:
    // target-only rows matching the condition are removed (every partition
    // examined; the engine takes the full-rewrite path)
    val deleteUnmatched = m.notMatchedBySourceActions match {
      case Nil => None
      case Seq(org.apache.spark.sql.catalyst.plans.logical.DeleteAction(cond)) =>
        Some(cond.map(c => requalify(c, targetAlias, sourceAlias).sql)
          .getOrElse("true"))
      case other => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE supports only THEN DELETE, got: " +
          other.map(_.getClass.getSimpleName).mkString(", "))
    }
    def updateClauseOf(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction)
        : Option[(Option[String], Option[Map[String, String]])] = a match {
      case UpdateStarAction(cond) =>
        Some((cond.map(c => requalify(c, targetAlias, sourceAlias).sql), None))
      case org.apache.spark.sql.catalyst.plans.logical.UpdateAction(
          cond, assignments, _) =>
        val as = assignments.map { x =>
          val k = x.key match {
            case attr: UnresolvedAttribute => attr.nameParts.last
            case other => throw new IllegalArgumentException(
              s"SET target must be a column, got ${other.sql}")
          }
          k -> requalify(x.value, targetAlias, sourceAlias).sql
        }.toMap
        require(as.size == assignments.size,
          "duplicate SET column in the UPDATE clause")
        Some((cond.map(c => requalify(c, targetAlias, sourceAlias).sql), Some(as)))
      case _ => None
    }
    def deleteCondOf(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction)
        : Option[Option[String]] = a match {
      case org.apache.spark.sql.catalyst.plans.logical.DeleteAction(cond) =>
        Some(cond.map(c => requalify(c, targetAlias, sourceAlias).sql))
      case _ => None
    }
    val (guard, matchedSet, matchedDelete, matchedDeleteWhen) =
      m.matchedActions match {
        case Nil => (None, None, false, None)
        case Seq(a) if updateClauseOf(a).isDefined =>
          val (g, set) = updateClauseOf(a).get
          (g, set, false, None)
        case Seq(a) if deleteCondOf(a).isDefined =>
          // WHEN MATCHED [AND g] THEN DELETE as the sole clause
          (deleteCondOf(a).get, None, true, None)
        case Seq(a1, a2) // the CDC-apply pair, either order: FIRST MATCH WINS
            if Seq(a1, a2).count(deleteCondOf(_).isDefined) == 1 &&
               Seq(a1, a2).count(updateClauseOf(_).isDefined) == 1 =>
          val (updG, set) = Seq(a1, a2).flatMap(updateClauseOf).head
          val delC = Seq(a1, a2).flatMap(deleteCondOf).head
          val delWhen =
            if (deleteCondOf(a1).isDefined) delC.getOrElse("true")
            else { // update clause is FIRST: delete applies to its remainder
              val ug = updG.getOrElse("true")
              s"(NOT coalesce(($ug), false)) AND (${delC.getOrElse("true")})"
            }
          (updG, set, false, Some(delWhen))
        case other => throw new IllegalArgumentException(
          s"only a single WHEN MATCHED THEN UPDATE SET * / SET col = expr / " +
            s"DELETE clause — or one UPDATE + one DELETE pair — is " +
            s"supported, got: " +
            other.map(_.getClass.getSimpleName).mkString(", "))
      }
    val (insertAll, insertGuard, insertSet) = m.notMatchedActions match {
      case Seq(InsertStarAction(cond)) => // WHEN NOT MATCHED [AND c] THEN INSERT *
        (true, cond.map(c => requalify(c, targetAlias, sourceAlias).sql), None)
      case Seq(org.apache.spark.sql.catalyst.plans.logical.InsertAction(
          cond, assignments)) =>
        // WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES (<exprs over s>)
        val as = assignments.map { a =>
          val k = a.key match {
            case attr: UnresolvedAttribute => attr.nameParts.last
            case other => throw new IllegalArgumentException(
              s"INSERT target must be a column, got ${other.sql}")
          }
          k -> requalify(a.value, targetAlias, sourceAlias).sql
        }.toMap
        require(as.size == assignments.size,
          "duplicate column in the INSERT clause")
        (true, cond.map(c => requalify(c, targetAlias, sourceAlias).sql), Some(as))
      // no insert clause is legal for merges that carry a DELETE clause
      case Nil if matchedDelete || matchedDeleteWhen.nonEmpty ||
          deleteUnmatched.nonEmpty => (false, None, None)
      case other => throw new IllegalArgumentException(
        "WHEN NOT MATCHED supports THEN INSERT * or THEN INSERT (cols) " +
          "VALUES (...) (omittable when a DELETE clause exists), got: " +
          (if (other.isEmpty) "none" else other.map(_.getClass.getSimpleName).mkString(", ")))
    }
    // when no UPDATE/DELETE clause exists, matched rows keep the target
    // version: guard `false` never takes the source side for matches
    target.merge(sourceDf, keys, if (m.matchedActions.isEmpty) Some("false") else guard,
      mergeSchema = m.withSchemaEvolution, // MERGE WITH SCHEMA EVOLUTION
      matchedSet = matchedSet, matchedDelete = matchedDelete,
      matchedDeleteWhen = matchedDeleteWhen,
      deleteUnmatchedTarget = deleteUnmatched, insertAll = insertAll,
      insertGuard = insertGuard, insertSet = insertSet)
    target
  }

  /** Relation name + alias (alias defaults to the last name part). */
  private def relationOf(plan: LogicalPlan, side: String): (String, String) = plan match {
    case SubqueryAlias(ident, UnresolvedRelation(parts, _, _)) =>
      (parts.mkString("."), ident.name)
    case UnresolvedRelation(parts, _, _) => (parts.mkString("."), parts.last)
    case other => throw new IllegalArgumentException(
      s"MERGE $side must be a named table, got ${other.nodeName}")
  }

  /** The USING side: a named view/table or an aliased subquery, analyzed by
   *  Spark itself. The alias (or the bare view name) qualifies guard refs. */
  private def sourceOf(spark: SparkSession, plan: LogicalPlan): (DataFrame, String) = {
    val alias = plan match {
      case SubqueryAlias(ident, _) => ident.name
      case UnresolvedRelation(parts, _, _) => parts.last
      case other => throw new IllegalArgumentException(
        s"MERGE source must be a named table/view or an aliased subquery, got ${other.nodeName}")
    }
    (GraftColumnBridge.dataset(spark, plan), alias)
  }

  /** ON must be a conjunction of same-named `t.k = s.k` equalities — the
   *  equi-key contract LakeTable.merge (and a shuffle-join at 100 TB) needs. */
  private def equiKeys(cond: Expression, tgt: String, src: String): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        val (qa, ca) = qualifierAndName(a)
        val (qb, cb) = qualifierAndName(b)
        require(ca == cb,
          s"ON equality joins differently-named columns ($ca vs $cb) — " +
            "the engine merge keys on shared column names")
        val quals = Set(qa, qb)
        require(quals == Set(norm(tgt), norm(src)),
          s"ON equality must relate the target and source aliases, got $qa = $qb")
        ca
      case other => throw new IllegalArgumentException(
        s"ON must be a conjunction of column equalities, got: ${other.sql}")
    }
  }

  private def qualifierAndName(a: UnresolvedAttribute): (String, String) = {
    require(a.nameParts.length == 2,
      s"qualify '${a.name}' as <alias>.<column> in the MERGE statement")
    (norm(a.nameParts.head), a.nameParts.last)
  }

  /** Rewrite guard references onto the engine merge's fixed `s`/`t` aliases. */
  private def requalify(e: Expression, tgt: String, src: String): Expression =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.length == 2 &&
          norm(a.nameParts.head) == norm(src) =>
        UnresolvedAttribute(Seq("s", a.nameParts.last))
      case a: UnresolvedAttribute if a.nameParts.length == 2 &&
          norm(a.nameParts.head) == norm(tgt) =>
        UnresolvedAttribute(Seq("t", a.nameParts.last))
      case a: UnresolvedAttribute => throw new IllegalArgumentException(
        s"qualify '${a.name}' with the source or target alias in the matched guard")
    }

  // ---- DELETE / UPDATE / OPTIMIZE / DESCRIBE DETAIL -----------------------
  //
  // The reference drives its whole DML surface through spark.sql(...) text
  // (Setup.py:39-50, README.md:106-110). DELETE and UPDATE parse through
  // Spark's own parser to DeleteFromTable/UpdateTable plans this layer
  // walks; OPTIMIZE and DESCRIBE DETAIL are Delta grammar extensions Spark's
  // parser rejects, so they get a token-level pre-dispatch. Everything lands
  // on the existing LakeTable APIs; unsupported shapes fail loudly.

  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([\w.]+)(\s+FULL)?(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""".r
  private val DescribeDetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([\w.]+)\s*;?\s*""".r
  private val DescribeHistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([\w.]+)\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+(VERSIONS|HOURS))?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val ShowPartitionsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+([\w.]+)\s*;?\s*""".r
  private val ConvertRe =
    ("""(?is)\s*CONVERT\s+TO\s+LAKE\s+parquet\.`([^`]+)`\s+AS\s+([\w.]+)\s+""" +
      """LOCATION\s+'([^']+)'(?:\s+PARTITIONED\s+BY\s*\(\s*([\w]+)\s*\))?""" +
      """(?:\s+STATS\s+ON\s*\(([^)]+)\))?\s*;?\s*""").r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+([\w.]+)\s+(SHALLOW|DEEP)\s+CLONE\s+([\w.]+)\s+LOCATION\s+'([^']+)'\s*;?\s*""".r

  /**
   * Parse and execute ONE SQL statement against registered lake tables:
   * MERGE INTO, DELETE FROM, UPDATE, OPTIMIZE [ZORDER BY (...)],
   * VACUUM [RETAIN n VERSIONS], RESTORE TABLE ... TO VERSION AS OF n,
   * DESCRIBE DETAIL, DESCRIBE HISTORY. Returns Delta-style result rows:
   * affected-row counts for DML, rewrite stats for OPTIMIZE, the table
   * facts row for DESCRIBE DETAIL, the commit log for DESCRIBE HISTORY,
   * and the post-merge snapshot for MERGE.
   */
  def sql(spark: SparkSession, sqlText: String): DataFrame = {
    import spark.implicits._
    sqlText match {
      case OptimizeRe(name, full, where, zcols) =>
        val tbl = lookup(name)
        val zc = Option(zcols)
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        zc.foreach(cols => require(cols.nonEmpty,
          s"OPTIMIZE $name ZORDER BY () names no columns"))
        // Delta's `OPTIMIZE t FULL`: force a GLOBAL re-cluster of a
        // liquid-clustered table (plain OPTIMIZE is incremental over data
        // written since the last pass). Like Delta, FULL is only valid on
        // clustered tables, and composes with nothing else.
        if (full != null) {
          require(tbl.clusterBy.nonEmpty,
            s"OPTIMIZE $name FULL: table is not liquid-clustered")
          require(where == null && zc.isEmpty,
            s"OPTIMIZE $name FULL takes no WHERE/ZORDER")
        }
        (Option(where), zc) match {
          case (Some(w), _) =>
            // partition-scoped maintenance (Delta `OPTIMIZE t WHERE ...`):
            // the predicate must be zone-expressible bounds on the
            // partition column — optimizeWhere enforces the column rule
            val preds = zonePreds(stripTableQualifiers(
              spark.sessionState.sqlParser.parseExpression(w), name)).getOrElse(
              throw new IllegalArgumentException(
                "OPTIMIZE WHERE must be a conjunction of <partition col> " +
                  s"=/>=/<= <literal> bounds, got: $w"))
            val st = tbl.optimizeWhere(preds, zc.getOrElse(Nil))
            Seq((st.filesRewritten, st.filesLinked, st.bytesRewritten))
              .toDF("files_rewritten", "files_untouched", "bytes_rewritten")
          case (None, None) if tbl.clusterBy.nonEmpty && full != null =>
            // `OPTIMIZE t FULL` (Delta): force a GLOBAL re-cluster on the
            // declared key — restores the cross-batch curve incremental
            // passes degrade. All-z-orderable keys interleave
            // (multi-dimensional locality); keys with string columns
            // range-sort lexicographically.
            val cols = tbl.clusterBy
            if (tbl.zOrderable(cols)) tbl.compactZOrder(cols)
            else tbl.compactSort(cols)
            Seq((cols.mkString(","), tbl.detail.numFiles))
              .toDF("clustered_by", "num_files")
          case (None, None) if tbl.clusterBy.nonEmpty =>
            // liquid-clustered table: plain OPTIMIZE clusters INCREMENTALLY
            // — only data written since the last clustering pass is
            // rewritten (Delta's behavior); already-clustered files keep
            // their paths and inodes. O(new data) at any table size.
            val st = tbl.optimizeClustered(tbl.clusterBy)
            Seq((tbl.clusterBy.mkString(","), st.filesRewritten,
                st.filesLinked, st.bytesRewritten))
              .toDF("clustered_by", "files_rewritten", "files_untouched",
                "bytes_rewritten")
          case (None, None) =>
            val st = tbl.optimizeCompact()
            Seq((st.filesRewritten, st.filesLinked, st.bytesRewritten))
              .toDF("files_rewritten", "files_linked", "bytes_rewritten")
          case (None, Some(cols)) =>
            require(tbl.clusterBy.isEmpty,
              s"ZORDER BY on liquid-clustered table $name — clustering " +
                "owns the layout; use plain OPTIMIZE or CLUSTER BY NONE first")
            tbl.compactZOrder(cols)
            Seq((cols.mkString(","), tbl.detail.numFiles))
              .toDF("zorder_by", "num_files")
        }
      case DescribeHistoryRe(name) =>
        lookup(name).historyDetail
          .map { case (v, op, ts) => (v, op, ts.map(new java.sql.Timestamp(_))) }
          .toDF("version", "operation", "timestamp")
      case VacuumRe(name, keep, unit, dry) =>
        val tbl = lookup(name)
        val hours = keep != null && unit.toUpperCase(Locale.ROOT) == "HOURS"
        if (dry != null) {
          // DRY RUN: list what the real pass would reclaim, delete nothing
          val would =
            if (hours) tbl.vacuumRetainHoursDryRun(keep.toDouble)
            else tbl.vacuumDryRun(if (keep == null) 2 else keep.toInt)
          would.toDF("would_reclaim")
        } else {
          if (hours) tbl.vacuumRetainHours(keep.toDouble)
          else tbl.vacuum(if (keep == null) 2 else keep.toInt)
          Seq((tbl.currentVersion, tbl.detail.numFiles))
            .toDF("current_version", "num_files")
        }
      case RestoreRe(name, v) =>
        val tbl = lookup(name)
        tbl.restore(v.toLong)
        Seq((v.toLong, tbl.currentVersion)).toDF("restored_version", "current_version")
      case ConvertRe(srcDir, name, location, pcol, statsCols) =>
        // `CONVERT TO LAKE parquet.`/src` AS t LOCATION '/root'
        //  [PARTITIONED BY (col)] [STATS ON (c1, c2)]` — Delta's
        // CONVERT TO DELTA role: adopt an existing parquet directory by
        // hard link (O(files), zero rewrite), register the result
        require(!tables.contains(norm(name)),
          s"table $name is already registered")
        val sc = Option(statsCols)
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        val tbl = LakeTable(spark, location)
          .convertFrom(srcDir, Option(pcol), statsColumns = sc)
        register(name, tbl)
        Seq((norm(name), tbl.currentVersion, tbl.detail.numFiles))
          .toDF("table", "version", "num_files")
      case CloneRe(name, kind, srcName, location) =>
        // `CREATE TABLE t2 SHALLOW|DEEP CLONE t1 LOCATION '/path'` —
        // Delta's fork as SQL text. SHALLOW = hard-linked file
        // re-references, O(file count) metadata; DEEP = physical copy
        // (self-contained, no shared inodes — archival/DR). Both have
        // fully independent lifecycles after the fork (RestoreCloneSpec);
        // the clone auto-registers under its name.
        require(!tables.contains(norm(name)),
          s"table $name is already registered")
        val src0 = lookup(srcName)
        val cloned =
          if (kind.equalsIgnoreCase("DEEP")) src0.deepClone(location)
          else src0.shallowClone(location)
        register(name, cloned)
        Seq((norm(name), cloned.currentVersion, cloned.detail.numFiles))
          .toDF("table", "version", "num_files")
      case ShowPartitionsRe(name) =>
        // Delta/Hive `SHOW PARTITIONS t`: the manifest's owned partition
        // values — O(manifest), no data listing or scan
        val tbl = lookup(name)
        val p = tbl.partitionColumn.getOrElse(throw new IllegalArgumentException(
          s"SHOW PARTITIONS $name: table is not partitioned"))
        tbl.ownedPartitionValues.sorted.map(v => s"$p=$v").toDF("partition")
      case RestoreTsRe(name, ts) =>
        // Delta `RESTORE TABLE t TO TIMESTAMP AS OF '...'`: resolve the
        // timestamp to a version by the read-path rule (latest commit at or
        // before), then restore to it — one resolver, no drift
        val tbl = lookup(name)
        val v = tbl.versionAtTimestamp(evalTimestampMs(
          spark.sessionState.sqlParser.parseExpression(s"TIMESTAMP '$ts'")))
        tbl.restore(v)
        Seq((v, tbl.currentVersion)).toDF("restored_version", "current_version")
      case DescribeDetailRe(name) =>
        val d = lookup(name).detail
        Seq((d.location, d.version, d.numFiles, d.sizeInBytes,
            d.partitionColumns.mkString(","), d.statsColumns.mkString(","),
            d.changeFeedEnabled, d.constraints.size, d.lastOperation,
            d.deletionVectors, d.bloomFilterColumns.mkString(","),
            d.clusteringColumns.mkString(",")))
          .toDF("location", "version", "num_files", "size_in_bytes",
            "partition_columns", "stats_columns", "change_feed_enabled",
            "num_constraints", "last_operation", "deletion_vectors",
            "bloom_filter_columns", "clustering_columns")
      case _ =>
        spark.sessionState.sqlParser.parsePlan(sqlText) match {
          case _: MergeIntoTable =>
            merge(spark, sqlText).read
          case ac: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint =>
            // the parser wraps the target in a validation Filter — the named
            // relation sits below it
            val name = targetName(ac.child, "ALTER TABLE")
            val cc = ac.checkConstraint
            val cname = Option(cc.userProvidedName).getOrElse(
              throw new IllegalArgumentException(
                "name the constraint: ALTER TABLE t ADD CONSTRAINT <name> CHECK (...)"))
            lookup(name).addCheckConstraint(cname, cc.condition)
            Seq((cname, cc.condition)).toDF("constraint", "expression")
          case ac: org.apache.spark.sql.catalyst.plans.logical.AddColumns =>
            // metadata-only ADD COLUMNS — O(manifest); existing files serve
            // NULL for the new columns (see LakeTable.addColumns)
            val name = targetName(ac.table, "ALTER TABLE")
            val cols = ac.columnsToAdd.map { q =>
              require(q.path.isEmpty,
                s"nested column ${q.name.mkString(".")} is not supported")
              require(q.position.isEmpty,
                s"column position (FIRST/AFTER) is not supported for ${q.colName}")
              require(q.default.isEmpty,
                s"DEFAULT is not supported for added column ${q.colName} — " +
                  "existing rows serve NULL")
              q.colName -> q.dataType
            }
            val tbl = lookup(name)
            tbl.addColumns(cols)
            Seq((norm(name), tbl.currentVersion)).toDF("table", "version")
          case dc: org.apache.spark.sql.catalyst.plans.logical.DropColumns =>
            // metadata-only DROP COLUMN — O(manifest); tombstoned against
            // resurrection (see LakeTable.dropColumn)
            val name = targetName(dc.table, "ALTER TABLE")
            val tbl = lookup(name)
            dc.columnsToDrop.foreach { fn =>
              val c = fn.name.mkString(".")
              if (!(dc.ifExists &&
                  !tbl.schema.fieldNames.exists(_.equalsIgnoreCase(c))))
                tbl.dropColumn(c)
            }
            Seq((norm(name), tbl.currentVersion)).toDF("table", "version")
          case dr: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation =>
            // `DESCRIBE [TABLE] t`: column name/type/nullability under the
            // CURRENT logical names, plus partition-column and generated/
            // constraint annotations — schema facts only (DESCRIBE DETAIL
            // carries the snapshot facts)
            val name = targetName(dr.relation, "DESCRIBE")
            val tbl = lookup(name)
            val gen = tbl.generatedColumns
            tbl.schema.fields.toSeq.map { f =>
              val notes = Seq(
                if (tbl.partitionColumn.contains(f.name)) Some("partition") else None,
                gen.get(f.name).map(e => s"generated as ($e)")).flatten
              (f.name, f.dataType.simpleString, f.nullable, notes.mkString("; "))
            }.toDF("col_name", "data_type", "nullable", "comment")
          case sc: org.apache.spark.sql.catalyst.plans.logical.ShowColumns =>
            val name = targetName(sc.child, "SHOW COLUMNS")
            lookup(name).schema.fieldNames.toSeq.toDF("col_name")
          case rc: org.apache.spark.sql.catalyst.plans.logical.RenameColumn =>
            // metadata-only RENAME COLUMN (column mapping) — O(manifest);
            // no data file is touched (see LakeTable.renameColumn)
            val name = targetName(rc.table, "ALTER TABLE")
            require(rc.column.name.length == 1,
              s"nested column ${rc.column.name.mkString(".")} is not supported")
            val tbl = lookup(name)
            tbl.renameColumn(rc.column.name.head, rc.newName)
            Seq((norm(name), tbl.currentVersion)).toDF("table", "version")
          case ac: org.apache.spark.sql.catalyst.plans.logical.AlterColumns =>
            // `ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr> | DROP
            // DEFAULT` — metadata-only default management — and
            // `ALTER COLUMN c TYPE <wider>` — metadata-only TYPE WIDENING
            // (needs `delta.enableTypeWidening`; see
            // LakeTable.alterColumnType). Other ALTER COLUMN forms
            // (nullability/comment/position) are rejected loudly.
            val name = targetName(ac.table, "ALTER TABLE")
            val tbl = lookup(name)
            ac.specs.foreach { sp =>
              require(sp.column.name.length == 1,
                s"nested column ${sp.column.name.mkString(".")} is not supported")
              val c = sp.column.name.head
              require(sp.newNullability.isEmpty &&
                sp.newComment.isEmpty && sp.newPosition.isEmpty,
                "ALTER COLUMN supports SET DEFAULT / DROP DEFAULT / TYPE only")
              sp.newDataType match {
                case Some(dt) =>
                  require(sp.newDefaultExpression.isEmpty && !sp.dropDefault,
                    s"ALTER COLUMN $c: TYPE does not compose with DEFAULT")
                  tbl.alterColumnType(c, dt)
                case None =>
                  if (sp.dropDefault) tbl.dropDefaultValue(c)
                  else tbl.setDefaultValue(c, sp.newDefaultExpression.getOrElse(
                    throw new IllegalArgumentException(
                      s"ALTER COLUMN $c: nothing to alter")).originalSQL)
              }
            }
            Seq((norm(name), tbl.currentVersion)).toDF("table", "version")
          case cb: org.apache.spark.sql.catalyst.plans.logical.AlterTableClusterBy =>
            // `ALTER TABLE t CLUSTER BY (c, …)` / `CLUSTER BY NONE` —
            // liquid clustering: metadata-only key change, the layout
            // follows at the next OPTIMIZE (see LakeTable.setClusterBy)
            val name = targetName(cb.table, "ALTER TABLE")
            val cols = cb.clusterBySpec.toSeq.flatMap(_.columnNames).map { r =>
              require(r.fieldNames.length == 1,
                s"nested clustering column ${r.fieldNames.mkString(".")} is not supported")
              r.fieldNames.head
            }
            val tbl = lookup(name)
            tbl.setClusterBy(cols)
            Seq((norm(name), cols.mkString(","), tbl.currentVersion))
              .toDF("table", "cluster_by", "version")
          case sp: org.apache.spark.sql.catalyst.plans.logical.SetTableProperties =>
            val name = targetName(sp.table, "ALTER TABLE")
            val tbl = lookup(name)
            tbl.setTableProperties(sp.properties)
            Seq((norm(name), tbl.currentVersion)).toDF("table", "version")
          case up: org.apache.spark.sql.catalyst.plans.logical.UnsetTableProperties =>
            val name = targetName(up.table, "ALTER TABLE")
            val tbl = lookup(name)
            tbl.unsetTableProperties(up.propertyKeys)
            Seq((norm(name), tbl.currentVersion)).toDF("table", "version")
          case st: org.apache.spark.sql.catalyst.plans.logical.ShowTableProperties =>
            val name = targetName(st.table, "SHOW TBLPROPERTIES")
            val all = lookup(name).tableProperties
            val shown = st.propertyKey match {
              case Some(k) => all.get(k).map(k -> _).toSeq
              case None => all.toSeq.sortBy(_._1)
            }
            shown.toDF("key", "value")
          case DeleteFromTable(target, condition) =>
            val (name, alias) = relationOf(target, "DELETE")
            // merge-on-read: arbitrary conditions, O(matched rows), valid
            // with or without live deletion vectors (Delta's DV default)
            Seq(lookup(name).deleteWhere(
                stripTableQualifiers(condition, name, alias).sql))
              .toDF("deleted_rows")
          case UpdateTable(target, assignments, condition) =>
            val (name, alias) = relationOf(target, "UPDATE")
            val cond = condition.getOrElse(throw new IllegalArgumentException(
              "UPDATE without WHERE would rewrite the whole table — add a predicate"))
            val stripped = stripTableQualifiers(cond, name, alias)
            val set = assignments.map { a =>
              val k = a.key match {
                case attr: UnresolvedAttribute => attr.nameParts.last
                case other => throw new IllegalArgumentException(
                  s"SET target must be a column, got ${other.sql}")
              }
              k -> GraftColumnBridge.column(stripTableQualifiers(a.value, name, alias))
            }.toMap
            val tbl = lookup(name)
            // zone-expressible bounds take the file-skipping copy-on-write
            // path (prunes to the files that can hold a match); anything
            // else — and any table with live deletion vectors — takes the
            // merge-on-read path: DV the old images, append the new, one
            // commit, O(matched rows) at any table size
            val n = zonePreds(stripped) match {
              case Some(preds) if tbl.deleteVectorDirs.isEmpty =>
                tbl.update(preds, set)
              case _ => tbl.updateWhere(stripped.sql, set)
            }
            Seq(n).toDF("updated_rows")
          case ctas: CreateTableAsSelect =>
            // CREATE TABLE name [PARTITIONED BY (col)] LOCATION 'path'
            // AS SELECT ... — stand up a lake table purely in SQL (the
            // reference's Setup.py shape). The engine is path-addressed, so
            // LOCATION is required; the created table is auto-registered
            // under its SQL name.
            val name = identifierOf(ctas.name, "CREATE TABLE")
            createDispatch(spark, name, ctas.tableSpec, ctas.partitioning,
              ctas.ignoreIfExists) { (tbl, pcol) =>
              val df = GraftColumnBridge.dataset(spark,
                substituteLakeRelations(spark, ctas.query))
              tbl.create(df.schema, partitionBy = pcol)
              tbl.append(df)
            }
          case ct: CreateTable =>
            val name = identifierOf(ct.name, "CREATE TABLE")
            createDispatch(spark, name, ct.tableSpec, ct.partitioning,
              ct.ignoreIfExists) { (tbl, pcol) =>
              val schema = StructType(ct.columns.map((c: ColumnDefinition) =>
                org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
              // GENERATED ALWAYS AS IDENTITY [(START WITH s STEP BY t)]
              val idents = ct.columns.flatMap { c =>
                c.identityColumnSpec.map { sp =>
                  require(!sp.isAllowExplicitInsert,
                    s"${c.name}: GENERATED BY DEFAULT AS IDENTITY is not " +
                      "supported — use GENERATED ALWAYS")
                  c.name -> (sp.getStart, sp.getStep)
                }
              }.toMap
              // column DEFAULT <expr> — applied when a named-column INSERT
              // omits the column
              val defaults = ct.columns.flatMap(c =>
                c.defaultValue.map(dv => c.name -> dv.originalSQL)).toMap
              tbl.create(schema, partitionBy = pcol, identityColumns = idents,
                defaultValues = defaults)
              ()
            }
          case o: OverwriteByExpression =>
            // `INSERT INTO t REPLACE WHERE <cond> <query>` (Delta's
            // replaceWhere): atomic delete-matching + insert in ONE commit.
            // A predicate over the partition column takes the zero-scan
            // ownership-transfer path (nightly partition reload); anything
            // else the merge-on-read path (matched rows deletion-vectored)
            val (name, alias) = relationOf(o.table, "INSERT REPLACE WHERE")
            val tbl = lookup(name)
            val incoming = GraftColumnBridge.dataset(spark,
              substituteLakeRelations(spark, o.query))
            val df = insertShape(tbl, incoming, Nil, byName = false)
            val stripped = stripTableQualifiers(o.deleteExpr, name, alias)
            zonePreds(stripped) match {
              case Some(preds)
                  if tbl.partitionColumn.exists(p => preds.forall(_.col == p)) =>
                tbl.overwritePartitions(preds, df)
                Seq(-1L).toDF("replaced_rows") // zero-scan: count not known
              case _ =>
                Seq(tbl.overwriteWhere(stripped.sql, df)).toDF("replaced_rows")
            }
          case InsertIntoStatement(target, partitionSpec, userCols, query,
              overwrite, _, byName) =>
            val (name, _) = relationOf(target, "INSERT")
            require(partitionSpec.isEmpty,
              "static PARTITION specs are not supported — put the partition " +
                "column in the inserted data")
            val tbl = lookup(name)
            // the source query may itself read lake relations
            // (INSERT INTO t SELECT ... FROM other_lake_table)
            val incoming = GraftColumnBridge.dataset(spark,
              substituteLakeRelations(spark, query))
            val df = insertShape(tbl, incoming, userCols, byName)
            if (overwrite) tbl.overwrite(df) else tbl.append(df)
            Seq((norm(name), tbl.currentVersion)).toDF("table", "version")
          // no containsPattern(UNRESOLVED_RELATION) fast-path here:
          // RelationTimeTravel is a LEAF whose nodePatterns do NOT include
          // it, so a pure time-travel SELECT would never dispatch
          case other if collectLakeRelations(other).nonEmpty =>
            // a query (SELECT, including time travel) over registered lake
            // tables — splice snapshots in and let Spark's analyzer run it
            GraftColumnBridge.dataset(spark, substituteLakeRelations(spark, other))
          case other => throw new IllegalArgumentException(
            s"LakeSql.sql supports SELECT / MERGE / DELETE / UPDATE / " +
              s"INSERT INTO / OPTIMIZE / VACUUM / RESTORE / DESCRIBE DETAIL / " +
              s"DESCRIBE HISTORY, got ${other.nodeName}")
        }
    }
  }

  /**
   * SQL-text SELECT over registered lake tables with FULL table semantics —
   * deletion vectors filtered, evolved schema, generated/constraint
   * metadata, and time travel: `SELECT ... FROM t VERSION AS OF 3` /
   * `TIMESTAMP AS OF '...'` (Spark's own temporal-clause grammar). The
   * parsed plan's lake relations are replaced by the CURRENT snapshot's
   * logical plan at call time — there is no registered-view staleness: a
   * SELECT issued after a commit sees that commit. Temp views, subqueries,
   * joins against non-lake relations, and every SQL construct Spark's
   * analyzer handles all compose (only the relation leaves are touched).
   * Each snapshot is one scan over a [[ManifestFileIndex]], so a `WHERE`
   * prunes files wherever Catalyst pushes it — directly on the relation,
   * above a join or inside a subquery. This is the read path the reference
   * drives through `spark.sql` (`Setup.py:58-75` count checks,
   * `README.md:106-110` invariants).
   */
  def select(spark: SparkSession, sqlText: String): DataFrame = {
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    require(collectLakeRelations(plan).nonEmpty,
      s"no registered lake table referenced in: $sqlText")
    GraftColumnBridge.dataset(spark, substituteLakeRelations(spark, plan))
  }

  /** Hook for [[graft.lake.ResolveLakeRelations]] (the analyzer rule the
   *  session extension injects): substitute registered lake relations —
   *  plain, time-travelled, or `table_changes` — inside ANY plan Spark is
   *  resolving, so `spark.sql("SELECT ... FROM lake_t")` works natively.
   *  No-op (and cheap) when the plan references no registered table. */
  private[lake] def resolveRelations(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan =
    if ((tables.isEmpty && relations.isEmpty) ||
      collectLakeRelations(plan).isEmpty) plan
    else substituteLakeRelations(spark, plan)

  /** Names of registered lake tables referenced by `plan`'s relation leaves.
   *  `RelationTimeTravel` is an analysis-time LEAF wrapping its relation as
   *  a field (not a child), so a plain collect over children misses it —
   *  match it explicitly or `SELECT ... VERSION AS OF` never dispatches. */
  private def collectLakeRelations(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries {
      case UnresolvedRelation(parts, _, _)
          if tables.contains(norm(parts.mkString("."))) ||
            relations.contains(norm(parts.mkString("."))) => parts.mkString(".")
      case RelationTimeTravel(UnresolvedRelation(parts, _, _), _, _)
          if tables.contains(norm(parts.mkString("."))) => parts.mkString(".")
      case tvf: UnresolvedTableValuedFunction
          if tableChangesTarget(tvf).isDefined => tableChangesTarget(tvf).get
    }

  /** `table_changes('t', from[, to])` (Delta's SQL CDF read): the target
   *  table name when `tvf` is a table_changes call over a registered lake
   *  table — the first argument must be a foldable string. */
  private def tableChangesTarget(
      tvf: UnresolvedTableValuedFunction): Option[String] =
    tvf.name.map(_.toLowerCase(Locale.ROOT)) match {
      case Seq("table_changes") => tvf.functionArgs.headOption.flatMap { e =>
        if (!e.foldable) None
        else Option(Cast(e, org.apache.spark.sql.types.StringType, Some("UTC"))
          .eval(null)).map(_.toString).filter(n => tables.contains(norm(n)))
      }
      case _ => None
    }

  /** Replace registered lake relations (plain or time-travelled) and
   *  `table_changes` calls with the corresponding snapshot's logical plan,
   *  aliased under the table's last name part so qualified column
   *  references keep resolving. File skipping needs nothing here: each
   *  snapshot is one scan over a [[ManifestFileIndex]], which prunes with
   *  whatever filters Catalyst pushes down once the query is optimized. */
  private def substituteLakeRelations(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = plan transformUpWithSubqueries {
    case RelationTimeTravel(UnresolvedRelation(parts, _, _), ts, version)
        if tables.contains(norm(parts.mkString("."))) =>
      val tbl = tables(norm(parts.mkString(".")))
      val df = (ts, version) match {
        case (None, Some(v)) =>
          val n = try v.toLong catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"VERSION AS OF expects a numeric version, got '$v'") }
          tbl.readVersion(n)
        case (Some(e), None) => tbl.readTimestampAsOf(evalTimestampMs(e))
        case _ => throw new IllegalArgumentException(
          "time travel needs exactly one of VERSION AS OF / TIMESTAMP AS OF")
      }
      SubqueryAlias(parts.last, GraftColumnBridge.logicalPlan(df))
    case tvf: UnresolvedTableValuedFunction
        if tableChangesTarget(tvf).isDefined =>
      tableChanges(tvf.functionArgs)
    case UnresolvedRelation(parts, _, _)
        if tables.contains(norm(parts.mkString("."))) =>
      SubqueryAlias(parts.last,
        GraftColumnBridge.logicalPlan(tables(norm(parts.mkString("."))).read))
    case UnresolvedRelation(parts, _, _)
        if relations.contains(norm(parts.mkString("."))) =>
      // read-only relation: the thunk yields the CURRENT presented frame
      SubqueryAlias(parts.last,
        GraftColumnBridge.logicalPlan(relations(norm(parts.mkString(".")))()))
  }

  /** Delta's `table_changes('t', from [, to])` over a registered lake
   *  table: the change feed's logical plan. The one implementation behind
   *  both the SQL-text arm above and the table function
   *  [[graft.expressions.GraftExtensions]] registers for native
   *  `spark.sql`. Bounds are foldable: an integer VERSION, or a TIMESTAMP
   *  string — start resolves to the first commit AT OR AFTER it, end to
   *  the last commit at-or-before (DESCRIBE HISTORY's clock, versioned
   *  manifests). */
  def tableChanges(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      s"table_changes takes (table, from [, to]), got ${args.size} argument(s)")
    require(args.head.foldable,
      s"table_changes table name must be a literal, got ${args.head.sql}")
    val tbl = lookup(String.valueOf(
      Cast(args.head, org.apache.spark.sql.types.StringType, Some("UTC")).eval(null)))
    def ver(e: Expression, what: String, isStart: Boolean): Long = {
      require(e.foldable, s"table_changes $what must be a literal, got ${e.sql}")
      val v = try Cast(e, org.apache.spark.sql.types.LongType, Some("UTC")).eval(null)
        catch { case _: Exception => null } // ANSI cast throws on malformed
      if (v != null) v.asInstanceOf[Long]
      else {
        val ms = try evalTimestampMs(e) catch {
          case _: Exception => throw new IllegalArgumentException(
            s"table_changes $what must be an integer version or a " +
              s"timestamp, got ${e.sql}")
        }
        if (isStart) {
          tbl.historyDetail.collectFirst {
            case (hv, _, Some(ts)) if ts >= ms => hv
          }.getOrElse(throw new IllegalArgumentException(
            s"table_changes start timestamp ${e.sql} is after the last commit"))
        } else tbl.versionAtTimestamp(ms)
      }
    }
    val from = ver(args(1), "start bound", isStart = true)
    val df = tbl.readChangeFeed(from,
      args.lift(2).map(ver(_, "end bound", isStart = false)))
    SubqueryAlias("table_changes", GraftColumnBridge.logicalPlan(df))
  }

  /** Evaluate a (foldable) TIMESTAMP AS OF operand to epoch millis — UTC,
   *  the session renderings zone maps and commit clocks use. */
  private def evalTimestampMs(e: Expression): Long = {
    require(e.foldable, s"TIMESTAMP AS OF must be a literal, got ${e.sql}")
    val micros = Cast(e, TimestampType, Some("UTC")).eval(null)
    require(micros != null, s"cannot parse ${e.sql} as a timestamp")
    micros.asInstanceOf[Long] / 1000L
  }

  /** Conform an INSERT's incoming frame to the target table's schema:
   *  positional when no column list is given (arity must match the full
   *  schema, or the schema minus generated columns — those are computed),
   *  name-matched for `INSERT ... (cols)` / `BY NAME`. Values are cast to
   *  the declared column types (SQL `VALUES` literals arrive narrower);
   *  constraint and generated-column enforcement happens inside
   *  append/overwrite, so a violating INSERT fails before anything lands. */
  private def insertShape(tbl: LakeTable, incoming: DataFrame,
      userCols: Seq[String], byName: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = tbl.schema
    // generated columns are computed, identity columns are minted — both
    // are omittable from (and for identity, forbidden in) the insert shape
    val generated = tbl.generatedColumns.keySet ++ tbl.identityColumns.keySet
    val named =
      if (userCols.nonEmpty) {
        require(userCols.size == incoming.columns.length,
          s"INSERT column list names ${userCols.size} columns but the query " +
            s"produces ${incoming.columns.length}")
        val defaults = tbl.defaultValues
        val missing = schema.fieldNames
          .filterNot(c => userCols.exists(_.equalsIgnoreCase(c)) ||
            generated(c) || defaults.contains(c))
        require(missing.isEmpty,
          s"INSERT column list omits non-generated column(s) ${missing.mkString(", ")}")
        // omitted columns with a declared DEFAULT take it (Delta/ANSI)
        defaults.toSeq.sortBy(_._1).foldLeft(incoming.toDF(userCols: _*)) {
          case (d, (c, e)) =>
            if (userCols.exists(_.equalsIgnoreCase(c))) d
            else d.withColumn(c,
              org.apache.spark.sql.functions.expr(e).cast(schema(c).dataType))
        }
      } else if (byName) incoming
      else {
        val nonGen = schema.fieldNames.filterNot(generated)
        if (incoming.columns.length == schema.fields.length)
          incoming.toDF(schema.fieldNames.toSeq: _*)
        else if (incoming.columns.length == nonGen.length)
          incoming.toDF(nonGen.toSeq: _*)
        else throw new IllegalArgumentException(
          s"INSERT arity ${incoming.columns.length} matches neither the full " +
            s"schema (${schema.fields.length}) nor the non-generated " +
            s"columns (${nonGen.length})")
      }
    named.select(named.columns.map { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)) match {
        case Some(f) => col(c).cast(f.dataType).as(f.name)
        case None => col(c)
      }
    }.toSeq: _*)
  }

  /** The named table a DDL or utility statement targets, wherever the
   *  parser put it (ADD CONSTRAINT wraps it in a validation Filter). */
  private def targetName(plan: LogicalPlan, what: String): String = plan.collectFirst {
    case UnresolvedRelation(parts, _, _) => parts.mkString(".")
    case ut: UnresolvedTable => ut.multipartIdentifier.mkString(".")
    case ut: UnresolvedTableOrView => ut.multipartIdentifier.mkString(".")
  }.getOrElse(throw new IllegalArgumentException(
    s"$what target must be a named table, got ${plan.nodeName}"))

  private def identifierOf(plan: LogicalPlan, what: String): String = plan match {
    case id: UnresolvedIdentifier => id.nameParts.mkString(".")
    case other => throw new IllegalArgumentException(
      s"$what target must be a plain identifier, got ${other.nodeName}")
  }

  /** Shared CREATE TABLE [AS SELECT] walk: LOCATION required (the engine is
   *  path-addressed), at most one identity PARTITIONED BY column, IF NOT
   *  EXISTS honored against the registry AND the path; on success the table
   *  is registered under its SQL name. Returns (table, version). */
  private def createDispatch(spark: SparkSession, name: String,
      spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase,
      partitioning: Seq[Transform], ignoreIfExists: Boolean)(
      build: (LakeTable, Option[String]) => Unit): DataFrame = {
    import spark.implicits._
    val location = (spec match {
      case s: UnresolvedTableSpec => s.location
      case _ => None
    }).getOrElse(throw new IllegalArgumentException(
      s"CREATE TABLE $name needs LOCATION '<path>' — lake tables are " +
        "path-addressed"))
    // CREATE TABLE ... CLUSTER BY (c, ...) — liquid clustering from birth:
    // the parser carries it as a ClusterByTransform in the partitioning
    val clusterCols = org.apache.spark.sql.catalyst.catalog.ClusterBySpec
      .extractClusterBySpec(partitioning)
      .map(_.columnNames.map(_.fieldNames.mkString(".")))
    val nonCluster = partitioning.filterNot(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions.ClusterByTransform])
    val pcol = nonCluster.toList match {
      case Nil => None
      case t :: Nil if t.name == "identity" && t.references.length == 1 =>
        Some(t.references.head.fieldNames.mkString("."))
      case _ => throw new IllegalArgumentException(
        s"CREATE TABLE $name: only a single-column PARTITIONED BY (col) is " +
          "supported")
    }
    require(clusterCols.isEmpty || pcol.isEmpty,
      s"CREATE TABLE $name: CLUSTER BY and PARTITIONED BY are exclusive " +
        "(Delta's rule)")
    val props = spec match {
      case s: UnresolvedTableSpec => s.properties
      case _ => Map.empty[String, String]
    }
    val existing = tables.get(norm(name))
    val tbl = existing.getOrElse(LakeTable(spark, location))
    if (existing.isDefined || tbl.exists) {
      if (!ignoreIfExists) throw new IllegalArgumentException(
        s"table $name already exists — use CREATE TABLE IF NOT EXISTS")
    } else {
      build(tbl, pcol)
      // CREATE TABLE ... TBLPROPERTIES lands as the table's first property
      // commit; `enableChangeFeed` is recognized (CDF on from creation)
      if (props.nonEmpty) tbl.setTableProperties(props)
      clusterCols.foreach(cs => tbl.setClusterBy(cs))
    }
    register(name, tbl)
    Seq((norm(name), tbl.currentVersion)).toDF("table", "version")
  }

  private def lookup(name: String): LakeTable =
    tables.getOrElse(norm(name), throw new IllegalArgumentException(
      s"no lake table registered as '$name' — LakeSql.register it first"))

  /** DML conditions reference one table; drop `t.c`-style qualifiers THAT
   *  NAME THE TARGET TABLE so the expression binds against the bare
   *  snapshot DataFrame. Other multi-part references (struct field access
   *  like `meta.size`) pass through untouched. */
  private def stripTableQualifiers(e: Expression, names: String*): Expression = {
    val quals = names.flatMap(n => Seq(norm(n), norm(n.split('.').last))).toSet
    e.transform {
      case a: UnresolvedAttribute
          if a.nameParts.length == 2 && quals(norm(a.nameParts.head)) =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }
  }

  /** WHERE → conjunctive [[LakeTable.ZonePred]] bounds when every conjunct
   *  is `<col> = / >= / <= <foldable literal>` (inclusive bounds only — the
   *  zone-map contract); None otherwise. */
  private def zonePreds(e: Expression): Option[Seq[LakeTable.ZonePred]] = {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual}
    def litStr(v: Expression): Option[String] =
      if (!v.foldable) None
      else Option(org.apache.spark.sql.catalyst.expressions.Cast(
        v, org.apache.spark.sql.types.StringType, Some("UTC")).eval(null))
        .map(_.toString)
    e match {
      case And(l, r) => for { a <- zonePreds(l); b <- zonePreds(r) } yield a ++ b
      case EqualTo(a: UnresolvedAttribute, v) if litStr(v).isDefined =>
        Some(Seq(LakeTable.ZonePred(a.nameParts.last, litStr(v), litStr(v))))
      case EqualTo(v, a: UnresolvedAttribute) if litStr(v).isDefined =>
        Some(Seq(LakeTable.ZonePred(a.nameParts.last, litStr(v), litStr(v))))
      case GreaterThanOrEqual(a: UnresolvedAttribute, v) if litStr(v).isDefined =>
        Some(Seq(LakeTable.ZonePred(a.nameParts.last, litStr(v), None)))
      case GreaterThanOrEqual(v, a: UnresolvedAttribute) if litStr(v).isDefined =>
        Some(Seq(LakeTable.ZonePred(a.nameParts.last, None, litStr(v))))
      case LessThanOrEqual(a: UnresolvedAttribute, v) if litStr(v).isDefined =>
        Some(Seq(LakeTable.ZonePred(a.nameParts.last, None, litStr(v))))
      case LessThanOrEqual(v, a: UnresolvedAttribute) if litStr(v).isDefined =>
        Some(Seq(LakeTable.ZonePred(a.nameParts.last, litStr(v), None)))
      case _ => None
    }
  }
}
