package graft.lake

import java.util.Locale

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{And, BinaryComparison, Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns, AlterColumns, AlterTableClusterBy, ColumnDefinition, CreateTable, CreateTableAsSelect, DeleteAction, DeleteFromTable, DescribeColumn, DescribeRelation, DropColumns, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, OverwriteByExpression, RenameColumn, SetTableProperties, ShowColumns, ShowPartitions, ShowTableProperties, SubqueryAlias, UnresolvedTableSpec, UnsetTableProperties, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}

/**
 * SQL-TEXT surface for lake tables, reached through plain `spark.sql` on a
 * session built with [[graft.expressions.GraftExtensions]]: SELECT (incl.
 * `VERSION/TIMESTAMP AS OF` time travel, resolved by
 * [[ResolveLakeRelations]], and the `table_changes('t', from[, to])` CDF
 * table-valued function), CREATE TABLE [IF NOT EXISTS] [PARTITIONED BY]
 * LOCATION [AS SELECT], MERGE INTO, DELETE FROM, UPDATE (file-pruned CoW
 * on range bounds, MoR otherwise), INSERT INTO/OVERWRITE, INSERT INTO ...
 * REPLACE WHERE (atomic region swap; zero-scan on partition predicates),
 * OPTIMIZE [WHERE <partition pred>] [ZORDER BY], VACUUM
 * [RETAIN n VERSIONS|HOURS] [DRY RUN], RESTORE TABLE ... TO
 * VERSION/TIMESTAMP AS OF, SHOW PARTITIONS, ALTER TABLE ... ADD
 * CONSTRAINT / DROP COLUMN (metadata-only, tombstoned),
 * DESCRIBE DETAIL and DESCRIBE HISTORY executed against
 * registered [[LakeTable]]s — the statement forms the reference drives
 * through `spark.sql` (`DIM_Gold_layer.py:176-195` for MERGE;
 * `Setup.py:39-75`, `README.md:106-110` for DDL/DML/validation text).
 * [[LakeSqlParser]] sends each statement here ([[LakeSql.dispatch]]).
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
   *  frame, re-evaluated per query (never stale). `spark.sql` queries
   *  resolve these through [[ResolveLakeRelations]] exactly like
   *  registered tables; DML / MERGE / OPTIMIZE / time travel / `table_changes`
   *  refuse by construction (the statement paths look up `tables` only) —
   *  the shape for PRESENTED datasets like an auto-maintained MV, whose
   *  backing table carries hidden maintenance columns a SQL reader must
   *  never see. A full-table registration under the same name wins. */
  private val relations =
    scala.collection.concurrent.TrieMap.empty[String, () => DataFrame]

  def registerRelation(name: String, frame: () => DataFrame): Unit =
    relations.put(norm(name), frame)

  def unregisterRelation(name: String): Unit = { relations.remove(norm(name)); () }

  /** Execute the `MERGE INTO` plan Spark parsed against `target`, the
   *  registered lake table it names. */
  private def merge(spark: SparkSession, m: MergeIntoTable, target: LakeTable): Unit = {
    val targetAlias = aliasOf(m.targetTable, "MERGE target")
    // the USING side — a named view/table or an aliased subquery — is
    // analyzed by Spark itself
    val sourceAlias = aliasOf(m.sourceTable, "MERGE source")
    val sourceDf = GraftColumnBridge.dataset(spark, m.sourceTable)
    require(norm(targetAlias) != norm(sourceAlias),
      s"target and source aliases must differ (both are '$targetAlias') — " +
        "equiKeys cannot tell the sides apart and guard requalification would misbind")

    val keys = equiKeys(m.mergeCondition, targetAlias, sourceAlias)

    // WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE — the table-sync form:
    // target-only rows matching the condition are removed (every partition
    // examined; the engine takes the full-rewrite path)
    val deleteUnmatched = m.notMatchedBySourceActions match {
      case Nil => None
      case Seq(DeleteAction(cond)) =>
        Some(cond.map(c => requalify(c, targetAlias, sourceAlias).sql)
          .getOrElse("true"))
      case other => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE supports only THEN DELETE, got: " +
          other.map(_.getClass.getSimpleName).mkString(", "))
    }
    def updateClauseOf(a: MergeAction)
        : Option[(Option[String], Option[Map[String, String]])] = a match {
      case UpdateStarAction(cond) =>
        Some((cond.map(c => requalify(c, targetAlias, sourceAlias).sql), None))
      case UpdateAction(cond, assignments, _) =>
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
    def deleteCondOf(a: MergeAction): Option[Option[String]] = a match {
      case DeleteAction(cond) =>
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
      case Seq(InsertAction(cond, assignments)) =>
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
  }

  /** The alias that qualifies a statement side's column references: its
   *  `AS` alias, else the last part of its table or view name. */
  private def aliasOf(plan: LogicalPlan, side: String): String = plan match {
    case SubqueryAlias(ident, _) => ident.name
    case UnresolvedRelation(parts, _, _) => parts.last
    case other => throw new IllegalArgumentException(
      s"$side must be a named table/view or an aliased subquery, got ${other.nodeName}")
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

  // ---- the session parser's dispatch --------------------------------------
  //
  // The reference drives its whole DML surface through spark.sql(...) text
  // (Setup.py:39-50, README.md:106-110). [[LakeSqlParser]] hands every
  // statement to Spark's parser first: MERGE, DELETE, UPDATE, INSERT, the
  // DDL and DESCRIBE/SHOW arrive as Spark's own plans, which `statement`
  // walks. OPTIMIZE, VACUUM, RESTORE, CONVERT TO LAKE and CLONE are Delta
  // grammar Spark's parser refuses; `lakeOnly` matches their text. Both
  // land on the existing LakeTable APIs; unsupported shapes fail loudly.

  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([\w.]+)(\s+FULL)?(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+(VERSIONS|HOURS))?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val ConvertRe =
    ("""(?is)\s*CONVERT\s+TO\s+LAKE\s+parquet\.`([^`]+)`\s+AS\s+([\w.]+)\s+""" +
      """LOCATION\s+'([^']+)'(?:\s+PARTITIONED\s+BY\s*\(\s*([\w]+)\s*\))?""" +
      """(?:\s+STATS\s+ON\s*\(([^)]+)\))?\s*;?\s*""").r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+([\w.]+)\s+(SHALLOW|DEEP)\s+CLONE\s+([\w.]+)\s+LOCATION\s+'([^']+)'\s*;?\s*""".r

  /**
   * `spark.sql(sqlText)`. On a session built with
   * [[graft.expressions.GraftExtensions]] that one call runs every lake
   * statement (see [[dispatch]]). Kept for the benchmark harness
   * (`perfbench/`), which calls it.
   */
  def sql(spark: SparkSession, sqlText: String): DataFrame = spark.sql(sqlText)

  /**
   * The one SQL front door, called by [[LakeSqlParser]] for every plan
   * `spark.sql` parses. `parse` is Spark's own parser; its plan runs here,
   * at parse time, when [[lakeTarget]] says it names the lake — the returned
   * plan is then the statement's result frame: affected-row counts for
   * DML, rewrite stats for OPTIMIZE, the table facts row for DESCRIBE
   * DETAIL, the commit log for DESCRIBE HISTORY, and the post-merge
   * snapshot for MERGE. Text Spark refuses gets one more try against the
   * lake-only grammar ([[lakeOnly]]); if that fails too, Spark's
   * `ParseException` propagates. Every other plan — queries included,
   * whose lake relations [[ResolveLakeRelations]] resolves — goes back to
   * Spark untouched, so nothing Spark analyzes or EXPLAINs ever commits.
   */
  private[lake] def dispatch(spark: SparkSession, sqlText: String,
      parse: => LogicalPlan): LogicalPlan =
    (try Right(parse) catch { case e: ParseException => Left(e) }) match {
      case Left(e) =>
        GraftColumnBridge.logicalPlan(lakeOnly(spark, sqlText).getOrElse(throw e))
      case Right(plan) => lakeTarget(spark, plan).fold(plan)(name =>
        GraftColumnBridge.logicalPlan(statement(spark, plan, name)))
    }

  /** The lake table a plan Spark parsed names, when the lake runs it: a
   *  CREATE TABLE [AS SELECT] that names no `USING` provider; `DESCRIBE
   *  DETAIL|HISTORY t`, which Spark reads as DESCRIBE of column `t` in a
   *  table named DETAIL or HISTORY, unless Spark has such a table; and a
   *  DML, ALTER, DESCRIBE or SHOW statement whose target is a registered
   *  lake table or a name Spark cannot resolve (so the lake's "no lake
   *  table registered" error speaks for a read-only relation or a typo). */
  private def lakeTarget(spark: SparkSession, plan: LogicalPlan): Option[String] =
    plan match {
      case c: CreateTable if c.tableSpec.provider.isEmpty =>
        Some(identifierOf(c.name, "CREATE TABLE"))
      case c: CreateTableAsSelect if c.tableSpec.provider.isEmpty =>
        Some(identifierOf(c.name, "CREATE TABLE"))
      case DescribeColumn(UnresolvedTableOrView(Seq(kw), _, _), c: UnresolvedAttribute, _, _)
          if Set("detail", "history")(norm(kw)) && !sparkKnows(spark, kw) =>
        Some(c.nameParts.mkString("."))
      case _ => (plan match {
        case m: MergeIntoTable => nameIn(m.targetTable)
        case i: InsertIntoStatement => nameIn(i.table)
        case o: OverwriteByExpression => nameIn(o.table)
        case _: DeleteFromTable | _: UpdateTable | _: AddCheckConstraint |
             _: AddColumns | _: DropColumns | _: RenameColumn | _: AlterColumns |
             _: AlterTableClusterBy | _: SetTableProperties |
             _: UnsetTableProperties | _: ShowTableProperties | _: ShowColumns |
             _: ShowPartitions | _: DescribeRelation => nameIn(plan)
        case _ => None
      }).filter(n => tables.contains(norm(n)) || !sparkKnows(spark, n))
    }

  /** Whether Spark's catalog (temp views included) resolves `name`. */
  private def sparkKnows(spark: SparkSession, name: String): Boolean =
    scala.util.Try(spark.catalog.tableExists(name)).getOrElse(false)

  /** The lake-only grammar: statements Spark's parser refuses. */
  private def lakeOnly(spark: SparkSession, sqlText: String): Option[DataFrame] = {
    import spark.implicits._
    Some(sqlText).collect {
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
            // any condition over the partition column alone —
            // optimizeWhere enforces the column rule
            val st = tbl.optimizeWhere(stripTableQualifiers(
              spark.sessionState.sqlParser.parseExpression(w), name).sql,
              zc.getOrElse(Nil))
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
      case RestoreTsRe(name, ts) =>
        // Delta `RESTORE TABLE t TO TIMESTAMP AS OF '...'`: resolve the
        // timestamp to a version by the read-path rule (latest commit at or
        // before), then restore to it — one resolver, no drift
        val tbl = lookup(name)
        val v = tbl.versionAtTimestamp(evalTimestampMs(
          spark.sessionState.sqlParser.parseExpression(s"TIMESTAMP '$ts'")))
        tbl.restore(v)
        Seq((v, tbl.currentVersion)).toDF("restored_version", "current_version")
    }
  }

  /** Run a plan Spark parsed that names the lake table `name`
   *  ([[lakeTarget]]). */
  private def statement(spark: SparkSession, plan: LogicalPlan,
      name: String): DataFrame = {
    import spark.implicits._
    lazy val tbl = lookup(name)
    def versionRow = Seq((norm(name), tbl.currentVersion)).toDF("table", "version")
    plan match {
      case m: MergeIntoTable => merge(spark, m, tbl); tbl.read
      case ac: AddCheckConstraint =>
        val cc = ac.checkConstraint
        val cname = Option(cc.userProvidedName).getOrElse(
          throw new IllegalArgumentException(
            "name the constraint: ALTER TABLE t ADD CONSTRAINT <name> CHECK (...)"))
        tbl.addCheckConstraint(cname, cc.condition)
        Seq((cname, cc.condition)).toDF("constraint", "expression")
      case ac: AddColumns =>
        // metadata-only ADD COLUMNS — O(manifest); existing files serve
        // NULL for the new columns (see LakeTable.addColumns)
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
        tbl.addColumns(cols)
        versionRow
      case dc: DropColumns =>
        // metadata-only DROP COLUMN — O(manifest); tombstoned against
        // resurrection (see LakeTable.dropColumn)
        dc.columnsToDrop.foreach { fn =>
          val c = fn.name.mkString(".")
          if (!(dc.ifExists &&
              !tbl.schema.fieldNames.exists(_.equalsIgnoreCase(c))))
            tbl.dropColumn(c)
        }
        versionRow
      case dr: DescribeRelation =>
        // `DESCRIBE [TABLE] t`: column name/type/nullability under the
        // CURRENT logical names, plus partition-column and generated/
        // constraint annotations — schema facts only (DESCRIBE DETAIL
        // carries the snapshot facts)
        val gen = tbl.generatedColumns
        tbl.schema.fields.toSeq.map { f =>
          val notes = Seq(
            if (tbl.partitionColumn.contains(f.name)) Some("partition") else None,
            gen.get(f.name).map(e => s"generated as ($e)")).flatten
          (f.name, f.dataType.simpleString, f.nullable, notes.mkString("; "))
        }.toDF("col_name", "data_type", "nullable", "comment")
      case sc: ShowColumns =>
        tbl.schema.fieldNames.toSeq.toDF("col_name")
      case rc: RenameColumn =>
        // metadata-only RENAME COLUMN (column mapping) — O(manifest);
        // no data file is touched (see LakeTable.renameColumn)
        require(rc.column.name.length == 1,
          s"nested column ${rc.column.name.mkString(".")} is not supported")
        tbl.renameColumn(rc.column.name.head, rc.newName)
        versionRow
      case ac: AlterColumns =>
        // `ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr> | DROP
        // DEFAULT` — metadata-only default management — and
        // `ALTER COLUMN c TYPE <wider>` — metadata-only TYPE WIDENING
        // (needs `delta.enableTypeWidening`; see
        // LakeTable.alterColumnType). Other ALTER COLUMN forms
        // (nullability/comment/position) are rejected loudly.
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
        versionRow
      case cb: AlterTableClusterBy =>
        // `ALTER TABLE t CLUSTER BY (c, …)` / `CLUSTER BY NONE` —
        // liquid clustering: metadata-only key change, the layout
        // follows at the next OPTIMIZE (see LakeTable.setClusterBy)
        val cols = cb.clusterBySpec.toSeq.flatMap(_.columnNames).map { r =>
          require(r.fieldNames.length == 1,
            s"nested clustering column ${r.fieldNames.mkString(".")} is not supported")
          r.fieldNames.head
        }
        tbl.setClusterBy(cols)
        Seq((norm(name), cols.mkString(","), tbl.currentVersion))
          .toDF("table", "cluster_by", "version")
      case sp: SetTableProperties =>
        tbl.setTableProperties(sp.properties)
        versionRow
      case up: UnsetTableProperties =>
        tbl.unsetTableProperties(up.propertyKeys)
        versionRow
      case st: ShowTableProperties =>
        val all = tbl.tableProperties
        val shown = st.propertyKey match {
          case Some(k) => all.get(k).map(k -> _).toSeq
          case None => all.toSeq.sortBy(_._1)
        }
        shown.toDF("key", "value")
      case DeleteFromTable(target, condition) =>
        val alias = aliasOf(target, "DELETE target")
        // merge-on-read: arbitrary conditions, O(matched rows), valid
        // with or without live deletion vectors (Delta's DV default)
        Seq(tbl.deleteWhere(
            stripTableQualifiers(condition, name, alias).sql))
          .toDF("deleted_rows")
      case UpdateTable(target, assignments, condition) =>
        val alias = aliasOf(target, "UPDATE target")
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
        // range bounds take the file-skipping copy-on-write path
        // (prunes to the files that can hold a match); anything else —
        // and any table with live deletion vectors — takes the
        // merge-on-read path: DV the old images, append the new, one
        // commit, O(matched rows) at any table size
        val n =
          if (isBounds(stripped) && tbl.deleteVectorDirs.isEmpty)
            tbl.update(stripped.sql, set)
          else tbl.updateWhere(stripped.sql, set)
        Seq(n).toDF("updated_rows")
      case ctas: CreateTableAsSelect =>
        // CREATE TABLE name [PARTITIONED BY (col)] LOCATION 'path'
        // AS SELECT ... — stand up a lake table purely in SQL (the
        // reference's Setup.py shape). The engine is path-addressed, so
        // LOCATION is required; the created table is auto-registered
        // under its SQL name.
        createDispatch(spark, name, ctas.tableSpec, ctas.partitioning,
          ctas.ignoreIfExists) { (tbl, pcol) =>
          val df = GraftColumnBridge.dataset(spark, ctas.query)
          tbl.create(df.schema, partitionBy = pcol)
          tbl.append(df)
        }
      case ct: CreateTable =>
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
        val alias = aliasOf(o.table, "INSERT REPLACE WHERE target")
        val incoming = GraftColumnBridge.dataset(spark, o.query)
        val df = insertShape(tbl, incoming, Nil, byName = false)
        val stripped = stripTableQualifiers(o.deleteExpr, name, alias)
        if (isBounds(stripped) && tbl.onPartitionOnly(stripped.sql)) {
          tbl.overwritePartitions(stripped.sql, df)
          Seq(-1L).toDF("replaced_rows") // zero-scan: count not known
        } else Seq(tbl.overwriteWhere(stripped.sql, df)).toDF("replaced_rows")
      case InsertIntoStatement(target, partitionSpec, userCols, query,
          overwrite, _, byName) =>
        require(partitionSpec.isEmpty,
          "static PARTITION specs are not supported — put the partition " +
            "column in the inserted data")
        // the source query may itself read lake relations
        // (INSERT INTO t SELECT ... FROM other_lake_table): the session's
        // ResolveLakeRelations rule resolves them
        val incoming = GraftColumnBridge.dataset(spark, query)
        val df = insertShape(tbl, incoming, userCols, byName)
        if (overwrite) tbl.overwrite(df) else tbl.append(df)
        versionRow
      case DescribeColumn(UnresolvedTableOrView(Seq(kw), _, _), c: UnresolvedAttribute, _, _)
          if norm(kw) == "history" =>
        lookup(c.nameParts.mkString(".")).historyDetail
          .map { case (v, op, ts) => (v, op, ts.map(new java.sql.Timestamp(_))) }
          .toDF("version", "operation", "timestamp")
      case _: DescribeColumn => // DESCRIBE DETAIL
        val d = tbl.detail
        Seq((d.location, d.version, d.numFiles, d.sizeInBytes,
            d.partitionColumns.mkString(","), d.statsColumns.mkString(","),
            d.changeFeedEnabled, d.constraints.size, d.lastOperation,
            d.deletionVectors, d.bloomFilterColumns.mkString(","),
            d.clusteringColumns.mkString(",")))
          .toDF("location", "version", "num_files", "size_in_bytes",
            "partition_columns", "stats_columns", "change_feed_enabled",
            "num_constraints", "last_operation", "deletion_vectors",
            "bloom_filter_columns", "clustering_columns")
      case sp: ShowPartitions =>
        // Delta/Hive `SHOW PARTITIONS t`: the manifest's owned partition
        // values — O(manifest), no data listing or scan
        val p = tbl.partitionColumn.getOrElse(throw new IllegalArgumentException(
          s"SHOW PARTITIONS $name: table is not partitioned"))
        tbl.ownedPartitionValues.sorted.map(v => s"$p=$v").toDF("partition")
    }
  }

  /** Hook for [[graft.lake.ResolveLakeRelations]] (the analyzer rule the
   *  session extension injects): substitute registered lake relations —
   *  plain or time-travelled — inside ANY plan Spark is resolving, so
   *  `spark.sql("SELECT ... FROM lake_t")` works natively (`table_changes`
   *  is the table function the extension registers: [[tableChanges]]).
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
    }

  /** Replace registered lake relations (plain or time-travelled) with the
   *  corresponding snapshot's logical plan, aliased under the table's last name part so qualified column
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
   *  table: the change feed's logical plan, behind the table function
   *  [[graft.expressions.GraftExtensions]] registers for `spark.sql`. Bounds are foldable: an integer VERSION, or a TIMESTAMP
   *  string — start resolves to the first commit AT OR AFTER it, end to
   *  the last commit at-or-before (DESCRIBE HISTORY's clock, versioned
   *  manifests). */
  def tableChanges(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      s"table_changes takes (table, from [, to]), got ${args.size} argument(s)")
    require(args.head.foldable,
      s"table_changes table name must be a literal, got ${args.head.sql}")
    val tbl = lookup(String.valueOf(
      Cast(args.head, StringType, Some("UTC")).eval(null)))
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
  private def nameIn(plan: LogicalPlan): Option[String] = plan.collectFirst {
    case UnresolvedRelation(parts, _, _) => parts.mkString(".")
    case ut: UnresolvedTable => ut.multipartIdentifier.mkString(".")
    case ut: UnresolvedTableOrView => ut.multipartIdentifier.mkString(".")
  }

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

  /** Whether WHERE is a conjunction of `<col> = / >= / <= <non-NULL
   *  literal>` range bounds — the shape that picks the copy-on-write UPDATE
   *  and the zero-scan REPLACE WHERE paths. */
  private def isBounds(e: Expression): Boolean = e match {
    case And(l, r) => isBounds(l) && isBounds(r)
    case c: BinaryComparison if Set("=", ">=", "<=")(c.symbol) =>
      def literal(v: Expression) = v.foldable && v.eval() != null
      (c.left, c.right) match {
        case (_: UnresolvedAttribute, v) => literal(v)
        case (v, _: UnresolvedAttribute) => literal(v)
        case _ => false
      }
    case _ => false
  }
}
