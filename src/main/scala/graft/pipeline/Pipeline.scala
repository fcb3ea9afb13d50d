package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.gold.GoldBuilder
import graft.lake.LakeTable

/**
 * Declarative pipeline graph — the engine's replacement for DLT
 * (`@dlt.view`, `dlt.create_streaming_table`, `dlt.create_auto_cdc_flow`;
 * `DLT_Silver_Pipeline/dlt_bronze_to_silver_pipeline.py`).
 *
 * Nodes are registered lazily (nothing executes at definition time, matching
 * DLT's decorator semantics) and resolved on [[run]]:
 *  - [[view]]      — a named transformation thunk (O3). `read(name)` resolves
 *                    registry edges the way `dlt.readStream(name)` does (S5).
 *  - [[streamingTable]] — a materialized [[LakeTable]] CDC target (O2).
 *  - [[autoCdcFlow]] — SCD Type-1 apply-changes (O1): per run, keep the latest
 *                    source row per key ordered by `sequenceBy` (deterministic
 *                    tiebreak, SURVEY §7.8#3) and latest-wins merge into the
 *                    target guarded by `s.seq >= t.seq`.
 *
 * Execution is per-batch snapshots (`foreachBatch`-style): each `run()`
 * drains whatever the source views currently produce and upserts the targets.
 * Downstream multi-table joins (the reference's `business_silver`, J1) read
 * current target snapshots instead of unwatermarked stream-stream joins —
 * identical results for trigger-once workloads with bounded state
 * (SURVEY §7.3). The merge itself is one shuffle on the CDC keys; at 100 TB
 * the target would be key-partitioned so only touched partitions rewrite.
 */
final class Pipeline(val spark: SparkSession, storageRoot: String) {
  import Pipeline.{AppendFlow, AppendOnly, CdcFlow, SnapshotFlow, StreamWindow,
    Upsert, WindowTake}
  import Pipeline.StreamWindow.{Bootstrap, Delta, Snapshot, Unreadable, UpToDate}

  private val views = mutable.LinkedHashMap[String, () => DataFrame]()
  private val tables = mutable.LinkedHashMap[String, LakeTable]()
  private val inputs = mutable.LinkedHashMap[String, LakeTable]()
  private val streamingViews =
    mutable.LinkedHashMap[String, (String, DataFrame => DataFrame)]()
  private val cdfTables = mutable.Set[String]()
  private val flows = mutable.ArrayBuffer[CdcFlow]()
  private val appendFlows = mutable.ArrayBuffer[AppendFlow]()
  private val onceFlowsDone = mutable.Set[String]()
  private val snapshotFlows = mutable.ArrayBuffer[SnapshotFlow]()
  private val snapshotVersions = mutable.Map[String, Long]()
  private val pendingClusterBy = mutable.Map[String, Seq[String]]()
  private val mviews = mutable.LinkedHashMap[String, () => DataFrame]()
  private val gates = mutable.LinkedHashMap[String, Expectations.Gate]()
  private val tableGates =
    mutable.LinkedHashMap[String, Seq[(Expectations.Policy, Map[String, String])]]()

  /** Whether `name` is a declared pipeline dataset (table, view, or MV).
   *  Sinks are NOT datasets — they are write-only destinations. */
  def contains(name: String): Boolean =
    tables.contains(name) || views.contains(name)

  /** One registered external SINK — see [[sink]]. `table` is the lake
   *  handle when format = "lake" (exactly-once); raw formats keep their
   *  flow ledgers on the pipeline's internal sink-state table. */
  private final case class SinkSpec(path: String, format: String,
      table: LakeTable)
  private val sinks = mutable.LinkedHashMap[String, SinkSpec]()
  // the data-less ledger table for RAW-format sinks: its manifest carries
  // each sink flow's last-drained source version (the file append itself
  // is not atomic with the ledger commit — DLT's documented AT-LEAST-ONCE
  // contract for non-transactional sinks)
  private lazy val sinkState: LakeTable = {
    val st = LakeTable(spark, s"$storageRoot/__sinkstate")
    if (!st.exists) st.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sink",
        org.apache.spark.sql.types.StringType))))
    st
  }

  /** DLT's `dlt.create_sink(name, format, options)` — an EXTERNAL
   *  write-only destination for append flows: the pipeline writes to it
   *  but never reads it back (a sink is not a dataset — `read`/`STREAM()`
   *  refuse it, full refresh never wipes it; the path typically lives
   *  OUTSIDE the pipeline root, e.g. a downstream team's landing zone).
   *  `format`:
   *   - `"lake"` — the destination is a lake table; each flow's ledger
   *     rides the SINK's own transaction log via the idempotent append, so
   *     delivery is EXACTLY-ONCE (DLT's Delta-sink contract).
   *   - `"parquet"` / `"jsonl"` — raw files appended per window; the flow
   *     ledger commits to the pipeline's internal sink-state table AFTER
   *     the files land, so delivery is AT-LEAST-ONCE (DLT's contract for
   *     non-transactional sinks like Kafka — a crash between the write
   *     and the ledger commit replays the window).
   *  Only STREAM-rooted append flows may target a sink ([[appendFlowStream]]):
   *  a snapshot-re-landing view flow would duplicate externally every run. */
  def sink(name: String, path: String, format: String = "lake"): this.type = {
    require(!contains(name) && !sinks.contains(name),
      s"duplicate dataset/sink name: $name")
    require(Set("lake", "parquet", "jsonl").contains(format),
      s"sink format must be lake|parquet|jsonl, got $format")
    sinks(name) = SinkSpec(path, format, LakeTable(spark, path))
    this
  }

  /** Refresh ONE auto-maintained MV (the [[runTail]] loop body, also the
   *  single-dataset path behind SQL `REFRESH MATERIALIZED VIEW`):
   *  incremental from the source's change feed when the source (and every
   *  star-join dim) is table-backed and materialized; recompute fallback
   *  otherwise. */
  private def refreshAutoMv(name: String, spec: Pipeline.AutoMvSpec,
      events: mutable.ArrayBuffer[(String, String, Long, String)]): Unit = {
    def observe(df: DataFrame): (DataFrame, () => Long) = Pipeline.observeRows(df)
    val t = tables(name)
    // a HAVING auto-MV's backing table carries the FULL maintained panel;
    // the declared dataset is the presentation-FILTERED view — consuming
    // the raw table as an incremental source would include the groups
    // HAVING hides. Such sources keep the recompute path (read() applies
    // the presentation), exactly like recompute-MV sources.
    def asTable(ds: String): Option[LakeTable] =
      inputs.get(ds).orElse(tables.get(ds)).filterNot(_ =>
        mviews.contains(ds) || autoMvs.get(ds).exists(_.having.isDefined))
    // star-join dims must be table-backed AND materialized — the
    // incremental window needs a pinnable dim VERSION; a dim that is
    // still empty parks the MV like an empty source does
    val dimTables: Seq[(String, Option[LakeTable])] =
      spec.joins.map(j => j.dim -> asTable(j.dim).filter(_.exists))
    // UNION ALL branches must ALL be table-backed and materialized for
    // the per-branch-ledger maintenance; any view-backed branch drops the
    // whole MV to the recompute path (the None case below), any
    // unmaterialized one parks it — same contract as dims
    val unionTables
        : Seq[(String, Option[LakeTable], Option[Seq[(String, String)]], Option[String])] =
      spec.union.map { case (ds, cols, where) => (ds, asTable(ds), cols, where) }
    // the union DEFINITION fingerprint (branch names + projections +
    // row-local filters, in order): branch ledger ids are positional, so
    // a redeclared union whose shape changed must re-bootstrap instead of
    // resuming another branch's high-water
    val unionDef: Option[String] =
      if (spec.union.isEmpty) None
      else Some(Pipeline.fingerprint(spec.union.map { case (ds, cols, where) =>
        val proj = cols.fold("*")(_.map { case (e, n) => s"$e AS $n" }
          .mkString(","))
        s"$ds|$proj|${where.getOrElse("")}"
      }.mkString(";")))
    // the WHOLE-DEFINITION fingerprint (round-18 review follow-up): the
    // union pin only catches reshaped unions, but ANY redeclaration the
    // ledger can't see — a changed WHERE constant, swapped aggregate
    // expressions, different join conditions over the same source —
    // would resume the old panel as if idle and then maintain the NEW
    // definition's windows on top of the OLD definition's rows. One
    // fingerprint over every semantic field forces ONE re-bootstrap when
    // anything changed; an identical redeclaration hashes equal and
    // resumes cleanly. Extraction-derived fields (equi keys, bands) are
    // deliberately EXCLUDED — a smarter future extractor must not read
    // as a definition change.
    val defFp: Option[String] = Some(Pipeline.fingerprint(Seq(
      spec.source, spec.sourceAlias.getOrElse(""),
      spec.where.getOrElse(""),
      spec.groupBy.mkString(","), spec.groupExprs.mkString(","),
      (spec.sums ++ spec.mins ++ spec.maxs ++ spec.avgs ++ spec.cntCols ++
        spec.dcounts).map { case (a, e) => s"$a:$e" }.mkString(","),
      spec.counts.mkString(","), spec.output.mkString(","),
      spec.having.getOrElse(""), spec.havingHidden.mkString(","),
      spec.joins.map(j => s"${j.dim}|${j.alias.getOrElse("")}|" +
        s"${j.joinType}|${j.cond}").mkString(";"),
      unionDef.getOrElse("")).mkString("\n")))
    if (spec.union.nonEmpty && unionTables.exists(_._2.isEmpty)) {
      val (df, rows) = observe(gate(name, autoMvDefining(spec, autoMvSource(spec))))
      if (!t.exists) createTarget(name, df.schema)
      t.overwrite(df)
      retireMvLedgers(name, t)
      events += (("flow_progress", name, rows(),
        "materialized view refresh (recompute: view-backed union branch)"))
      return
    }
    if (spec.union.nonEmpty && unionTables.exists(!_._2.get.exists)) {
      events += (("flow_progress", name, 0L,
        s"materialized view from union (branch not materialized)"))
      return
    }
    // the maintained arm: ONE kernel call for the single-source fact and
    // the union-as-fact shapes alike (`ubs` empty = single source)
    def maintain(source: LakeTable,
        ubs: Seq[(LakeTable, Option[Seq[(String, String)]], Option[String])]): Unit = {
      val (n, mode) = runAggMvCore(name, spec, source,
        dims = dimTables.map { case (n2, dt) => n2 -> dt.get },
        union = ubs, unionDef = unionDef, defFp = defFp)
      val from = if (ubs.nonEmpty) spec.union.map(_._1).mkString(" ∪ ")
        else spec.source
      val how = if (mode == "incremental") s"incremental from $from"
        else s"$mode, from $from"
      flowProgress(events, name, n, s"materialized view refresh ($how)",
        idle = mode == "up-to-date" && n == 0L)
    }
    asTable(spec.source) match {
      case _ if spec.union.nonEmpty =>
        // union-as-fact STAR joins ride the same arm: branch windows and
        // the dim-delta ± slices both enrich against the pinned dims —
        // an unmaterialized dim parks exactly like the single-fact star
        if (dimTables.exists(_._2.isEmpty)) {
          events += (("flow_progress", name, 0L,
            s"materialized view from union (dimension not materialized)"))
          return
        }
        val ubs = unionTables.map { case (_, bt, cols, where) =>
          (bt.get, cols, where) }
        maintain(ubs.head._1, ubs)
      case Some(root) if root.exists && dimTables.forall(_._2.isDefined) =>
        maintain(root, Nil)
      case Some(_) => events += (("flow_progress", name, 0L,
        s"materialized view from ${spec.source} (source or dimension " +
          "not materialized)"))
      case None =>
        // view-backed (or recompute-MV-backed) source: full recompute
        // with the same internal schema, so the modes interchange freely
        val (df, rows) = observe(gate(name, autoMvDefining(spec, read(spec.source))))
        if (!t.exists) createTarget(name, df.schema)
        t.overwrite(df)
        retireMvLedgers(name, t)
        events += (("flow_progress", name, rows(),
          "materialized view refresh (recompute)"))
    }
  }

  /** After a recompute OVERWRITE of an auto-MV taken through a fallback
   *  path (view-backed source or union branch), retire the ledger family
   *  stamped ON THE MV TARGET — branch high-waters (`appId`, `appId.uN`),
   *  dim-pin txns (`appId.dimpin.*`) and dim-pin properties. The
   *  recompute already contains everything those ledgers describe; if
   *  the source later becomes table-backed again (pipeline redefinition
   *  across runs), stale ledgers would resume incremental maintenance
   *  from windows ALREADY INCLUDED in the overwrite — a silent
   *  double-apply. COMPANION-side ledgers (`appId.dist.*`/`appId.ext.*`)
   *  live on the companion tables, NOT on `t`, and are deliberately left
   *  alone: clearing the target's own ledgers forces `lasts = -1` →
   *  bootstrap on the next incremental life, and the bootstrap OVERWRITES
   *  every companion before any window could consult it — that overwrite,
   *  not this clear, is the companion resync mechanism. Probe-gated:
   *  while the source stays view-backed (recompute every refresh) no
   *  ledgers exist and this is metadata-read-only, zero commits. */
  private def retireMvLedgers(name: String, t: LakeTable): Unit = {
    val appId = s"graft.aggmv.$name"
    t.clearTxn(appId, family = true)
    val pinKeys = t.tableProperties.keys
      .filter(_.startsWith("graft.aggmv.dimpin.")).toSeq
    if (pinKeys.nonEmpty) t.unsetTableProperties(pinKeys)
  }

  /** Databricks SQL's `REFRESH MATERIALIZED VIEW name [FULL]` as an API:
   *  a SYNCHRONOUS refresh of ONE materialized view. Without `full`, an
   *  auto-maintained MV refreshes incrementally from its ledger and a
   *  recompute MV re-materializes from its defining query — both against
   *  the sources' CURRENT contents (DLT's semantics: the statement
   *  refreshes the one dataset, not the whole graph). With `full`, the
   *  dataset is wiped and re-bootstrapped via [[runFullRefresh(only*]]
   *  refresh selection. The refresh writes its own event-log rows. */
  def refreshMaterializedView(name: String, full: Boolean = false): Unit = {
    require(autoMvs.contains(name) || mviews.contains(name),
      s"$name is not a materialized view (REFRESH targets MVs; tables " +
        "refresh through run()/runIncremental())")
    if (full) { runFullRefresh(Set(name)); return }
    val events = mutable.ArrayBuffer[(String, String, Long, String)]()
    if (autoMvs.contains(name)) refreshAutoMv(name, autoMvs(name), events)
    else {
      val (df, rows) = Pipeline.observeRows(gate(name, mviews(name)()))
      val t = tables(name)
      if (!t.exists) createTarget(name, df.schema)
      t.overwrite(df)
      retireMvLedgers(name, t) // see runTail's mviews pass
      events += (("flow_progress", name, rows(), "materialized view refresh"))
    }
    writeEventLog(events.toSeq)
  }

  /** Drain one RAW-format sink flow (parquet/jsonl): resolve the STREAM
   *  root, write the ledger window's rows as files, then commit the flow
   *  ledger to the internal sink-state table — AT-LEAST-ONCE by
   *  construction (the file write and the ledger are separate commits; a
   *  crash in between replays the window — DLT's documented contract for
   *  non-transactional sinks). Sinks always drain their window, in BOTH
   *  run modes — an external destination has no snapshot-re-land shape. */
  private def drainRawSink(af: Pipeline.AppendFlow, sk: SinkSpec,
      events: mutable.ArrayBuffer[(String, String, Long, String)]): Unit = {
    val rooted = flowRoot(af)
    require(rooted.isDefined,
      s"sink ${af.target} needs a STREAM-resolvable source (sinks drain " +
        "append-only windows; a view flow would re-land every run)")
    val appId = s"graft.sinkflow.${af.name}"
    streamWindow(rooted, sinkState, appId, incremental = true,
        AppendOnly(s"sink flow ${af.name}", recomputes = false)) match {
      case None => events += (("flow_progress", af.name, 0L,
        s"sink ${af.target} (source not materialized)"))
      case Some(win) if win.state == UpToDate =>
        flowProgress(events, af.name, 0L, s"sink ${af.target} (up-to-date)", idle = true)
      case Some(win) => win.read { raw =>
        val (out, rows) = Pipeline.observeRows(gate(af.target, raw))
        val w = out.write.mode("append")
        sk.format match {
          case "jsonl" => w.json(sk.path)
          case _ => w.parquet(sk.path)
        }
        sinkState.recordTxn(appId, win.cur)
        events += (("flow_progress", af.name, rows(),
          s"sink append into ${af.target} (${win.span}, at-least-once)"))
      }
    }
  }

  /** Whether `name` is a TABLE-BACKED dataset an auto-maintained MV may
   *  source from: an external input table or a declared non-recompute-MV
   *  table. A recompute MV refreshes LAST each run, so an auto MV over one
   *  would read last run's state — and a plain VIEW source is rejected for
   *  the same reason even when its shape is maintainable: its dependency
   *  closure may reach a recompute MV. [[PipelineSql]] keeps both on the
   *  recompute path, ordered with the other recompute MVs in declaration
   *  order. */
  private[pipeline] def isTableBackedSource(name: String): Boolean =
    inputs.contains(name) || (tables.contains(name) && !mviews.contains(name))

  /** Register a named transformation (O3 `@dlt.view`). */
  def view(name: String)(fn: => DataFrame): this.type = {
    views(name) = () => fn
    this
  }

  /** Register an EXTERNAL lake table as a pipeline dataset — the bronze
   *  tables DLT pipelines read from outside their own graph
   *  (`spark.readStream.table(...)`). Under [[run]] it resolves to the
   *  table's current snapshot; under [[runIncremental]] it is a STREAM
   *  ROOT: downstream CDC flows consume its change feed, processing only
   *  rows committed since their last run. */
  def inputTable(name: String, t: LakeTable): this.type = {
    inputs(name) = t
    views(name) = () => t.read
    this
  }

  /** A view declared as a STATELESS row transform over one upstream
   *  dataset — DLT's `@dlt.view` over `dlt.read_stream(source)`. Under
   *  [[run]] it behaves exactly like [[view]] (`fn` over the source's
   *  current snapshot); under [[runIncremental]] the transform is applied
   *  to the source's CHANGE-FEED DELTA instead, which is sound precisely
   *  because the transform is per-row (select/filter/cast — the silver
   *  cleaning shape; DLT imposes the same restriction on streaming
   *  tables). Aggregating/joining views must stay [[view]]s. */
  def streamingView(name: String, source: String)(
      fn: DataFrame => DataFrame): this.type = {
    // loud acyclicity check: a cyclic chain would otherwise recurse to
    // StackOverflowError in the snapshot fallback's read() resolution
    val seen = mutable.LinkedHashSet[String](name)
    var cur = Option(source)
    while (cur.isDefined) {
      val c = cur.get
      require(!seen.contains(c),
        s"streamingView cycle detected: ${(seen.toSeq :+ c).mkString(" -> ")}")
      seen += c
      cur = streamingViews.get(c).map(_._1)
    }
    streamingViews(name) = (source, fn)
    views(name) = () => fn(read(source))
    this
  }

  /** Register a view guarded by expectations (O4). The gate's violation
   *  metrics are readable after `run()` via [[lastGate]]. */
  def viewWithExpectations(name: String, rules: Map[String, String],
      policy: Expectations.Policy = Expectations.Drop)(fn: => DataFrame): this.type = {
    views(name) = () => {
      val g = Expectations(fn, rules, policy)
      gates(name) = g
      enforceFailEagerly(g)
      g.df
    }
    this
  }

  /** DLT's `expect_or_fail` FAILS THE UPDATE: violating data must never
   *  land. For a Fail-policy gate, force the violation counters NOW (one
   *  eager pass over the gated batch) and throw before any downstream
   *  merge/overwrite commits — instead of detecting the violation after
   *  the write, which would leave the target corrupted. The gated frame
   *  is PINNED across the eager pass, so the flow's real write re-reads
   *  the cache instead of recomputing the batch (one pass, not two —
   *  DLT enforces expect_or_fail without a second scan); [[runImpl]]
   *  unpersists after the run. */
  private val failPinned = mutable.ArrayBuffer[DataFrame]()

  private def enforceFailEagerly(g: Expectations.Gate): Unit =
    if (g.policy == Expectations.Fail) {
      g.df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      failPinned.synchronized { failPinned += g.df; () }
      g.df.count()
      g.assertClean()
    }

  /** Declare a materialized CDC target (O2 `dlt.create_streaming_table`).
   *  `clusterBy` is DLT's `cluster_by` knob: the liquid-clustering key is
   *  stamped as table metadata once the table materializes (first flow
   *  write); `OPTIMIZE` then re-clusters on it
   *  ([[graft.lake.LakeTable.setClusterBy]]). */
  def streamingTable(name: String, clusterBy: Seq[String] = Nil,
      enableChangeFeed: Boolean = false,
      partitionBy: Option[String] = None): LakeTable = {
    val t = LakeTable(spark, s"$storageRoot/$name")
    tables(name) = t
    if (clusterBy.nonEmpty) pendingClusterBy(name) = clusterBy
    if (enableChangeFeed) cdfTables += name
    partitionBy.foreach { pc =>
      require(clusterBy.isEmpty,
        "partitionBy and clusterBy are exclusive layouts (Delta's rule)")
      partitionedTables(name) = pc
    }
    t
  }

  private val partitionedTables = mutable.Map[String, String]()

  /** Stamp TBLPROPERTIES on a declared table once it materializes — the
   *  SQL `TBLPROPERTIES (…)` clause on CREATE OR REFRESH (idempotent: one
   *  properties commit, ever; the CDF key is handled at declaration, not
   *  here). */
  def tableProps(name: String, props: Map[String, String]): this.type = {
    require(tables.contains(name), s"declare the table $name first")
    if (props.nonEmpty)
      pendingProps(name) = pendingProps.getOrElse(name, Map.empty) ++ props
    this
  }

  private val pendingProps = mutable.Map[String, Map[String, String]]()

  /** Create `name`'s backing table honoring its declared layout flags — a
   *  CDC-maintained table feeding ANOTHER incremental flow must record
   *  row-level changes (`streamingTable(..., enableChangeFeed = true)`);
   *  a PARTITIONED target (`partitionBy`) makes every later CDC merge
   *  partition-scoped: only the partitions the batch touches are read and
   *  rewritten — the O(new-write) counterpart to the incremental O(new-
   *  read), and the shape a 100 TB silver table needs (an unpartitioned
   *  merge re-writes the whole table per run no matter how small the
   *  delta). */
  private def createTarget(name: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    tables(name).create(schema,
      partitionBy = partitionedTables.get(name),
      enableChangeFeed = cdfTables.contains(name))
    ()
  }

  /** Declare a MATERIALIZED VIEW (DLT's other table kind): a [[LakeTable]]
   *  fully recomputed from its defining query on every [[run]] — DLT's
   *  documented MV refresh semantic (full recompute unless the engine can
   *  prove incremental maintenance; this engine always recomputes). MVs
   *  materialize AFTER the CDC flows each run, so a gold MV over a silver
   *  streaming table sees that run's merged state. Before the first run the
   *  name resolves to the defining query itself. */
  def materializedView(name: String, clusterBy: Seq[String] = Nil)(
      fn: => DataFrame): LakeTable = {
    val t = LakeTable(spark, s"$storageRoot/$name")
    tables(name) = t
    views(name) = () => fn
    mviews(name) = () => fn
    if (clusterBy.nonEmpty) pendingClusterBy(name) = clusterBy
    t
  }

  /** Declare an INCREMENTALLY MAINTAINED aggregate MV as a graph node —
   *  the Enzyme-style refresh Lakeflow applies to maintainable views. The
   *  view is `SELECT groupBy…, SUM(CAST(c AS DECIMAL(28,6))) AS sum_c…,
   *  MIN(c) AS min_c…, MAX(c) AS max_c…, COUNT(*) AS cnt FROM source
   *  GROUP BY groupBy…`, declared through [[autoAggMv]] and so maintained
   *  by the same kernel as a SQL-detected MV: from the source table's
   *  change feed when it is table-backed ([[inputTable]] or a declared
   *  streaming table — CDF-enabled if it is merge-maintained), with exact
   *  SUM NULL algebra and MIN/MAX retractions through the extreme
   *  companions; a view-backed source recomputes. The DECIMAL(28,6) sum
   *  input keeps incremental addition order-independent and bit-equal to
   *  a direct recompute. MVs refresh AFTER the CDC flows each run, so an
   *  MV over a silver target sees that run's merged state. */
  def incrementalAggMv(name: String, source: String, groupBy: Seq[String],
      sums: Seq[String], mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil): LakeTable = {
    require(groupBy.nonEmpty, "incremental agg MV needs GROUP BY columns")
    val sumAggs = sums.map(c => s"sum_$c" -> s"CAST(`$c` AS DECIMAL(28,6))")
    val minAggs = mins.map(c => s"min_$c" -> s"`$c`")
    val maxAggs = maxs.map(c => s"max_$c" -> s"`$c`")
    autoAggMv(name, Pipeline.AutoMvSpec(source, where = None, groupBy,
      sumAggs, minAggs, maxAggs, counts = Seq("cnt"),
      output = groupBy ++ (sumAggs ++ minAggs ++ maxAggs).map(_._1) :+ "cnt"))
  }

  /** An AUTO-DETECTED maintainable MV — the Lakeflow/Enzyme behavior where
   *  `CREATE OR REFRESH MATERIALIZED VIEW` silently gets INCREMENTAL
   *  refresh when the engine can prove maintainability: the defining query
   *  is `SELECT g…, SUM(e) AS a…, MIN/MAX(e) AS b…, COUNT(*) AS n FROM src
   *  [JOIN dim ON …]… [WHERE rowPred] GROUP BY g…` (detected on the parsed
   *  plan by [[PipelineSql]]; the join form is the STAR-JOIN shape — see
   *  [[runAggMvCore]]). Maintained from the fact source's change feed via
   *  the signed-delta kernel; the user's declared column names and order are
   *  preserved — the group-death count column is materialized internally
   *  and hidden from reads when the user didn't select COUNT(*). A source
   *  that turns out not to be table-backed at run time falls back to full
   *  recompute — registration never has to know. MIN/MAX retractions
   *  maintain through bounded extreme companions, and any shape the
   *  kernel can't maintain re-bootstraps (recompute) instead of failing:
   *  the USER asked for an MV, not an incremental contract — degrading to
   *  DLT's documented recompute is always legal. */
  private[pipeline] def autoAggMv(name: String, spec: Pipeline.AutoMvSpec,
      clusterBy: Seq[String] = Nil): LakeTable = {
    val t = LakeTable(spark, s"$storageRoot/$name")
    tables(name) = t
    autoMvs(name) = spec
    val present: DataFrame => DataFrame = { df =>
      import org.apache.spark.sql.functions.{col, expr}
      val cntCol = spec.counts.headOption.getOrElse("__cnt")
      val outCols = spec.output.map { o =>
        if (spec.counts.drop(1).contains(o)) col(cntCol).as(o) else col(o)
      }
      // HAVING: the FULL panel is maintained (a group crossing the
      // threshold in either direction must re-appear with its exact
      // running aggregates), the predicate filters at presentation —
      // result-identical to materializing post-HAVING. The rewritten
      // predicate may reference HIDDEN maintained columns (`havingHidden`:
      // aggregate calls in the declared HAVING that no output column
      // carries, decomposed to companion panel columns at detection) —
      // those ride the filter frame and are dropped before the consumer
      // ever sees a row: the hidden-group non-leak contract extends to
      // hidden COLUMNS too.
      spec.having match {
        case None => df.select(outCols: _*)
        case Some(h) =>
          df.select(outCols ++ spec.havingHidden.map(col): _*)
            .filter(expr(h))
            .select(spec.output.map(col): _*)
      }
    }
    presentations(name) = present
    views(name) = () => present(autoMvDefining(spec, autoMvSource(spec)))
    if (clusterBy.nonEmpty) pendingClusterBy(name) = clusterBy
    t
  }

  private val autoMvs = mutable.LinkedHashMap[String, Pipeline.AutoMvSpec]()

  /** Apply a star-join spec's enrichment to the fact-side frame `src`:
   *  alias it as the declared FROM name (so qualified references like
   *  `f.v` resolve on the fact side AND on the change feed) and inner-join
   *  each dimension frame under its own declared alias. `dimFrames`
   *  supplies each dimension's contents — CURRENT state for reads and
   *  recomputes, the PINNED version for the maintenance kernel (so a
   *  racing external dim writer can never make the pin newer than the
   *  state that was actually joined). */
  private def autoMvEnrich(spec: Pipeline.AutoMvSpec,
      dimFrames: Map[String, DataFrame])(src: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val f0 = src.alias(spec.sourceAlias.getOrElse(spec.source))
    spec.joins.foldLeft(f0) { (acc, j) =>
      acc.join(dimFrames(j.dim).alias(j.alias.getOrElse(j.dim)),
        expr(j.cond), j.joinType)
    }
  }

  /** The INTERNAL-schema defining frame of an auto MV over `src` — group
   *  columns, aggregate aliases, the hidden maintenance columns (per-SUM
   *  non-null counts for exact NULL algebra; per-AVG SUM+COUNT
   *  decompositions), and the (possibly hidden) count column; the
   *  recompute fallback, the bootstrap, and pre-materialization reads all
   *  share this column order. Star-join specs enrich `src` against the
   *  dims' CURRENT contents (resolved through [[read]]) before
   *  aggregating. */
  /** The defining INPUT frame of an auto MV — the single source's current
   *  contents, or for a UNION ALL MV the positional union of its branch
   *  reads (Spark's set-operation widening supplies SQL UNION ALL type
   *  semantics; names bind from the first branch). A branch's row-local
   *  WHERE applies PRE-projection (it may reference columns the
   *  projection drops — SQL's evaluation order). */
  private def autoMvSource(spec: Pipeline.AutoMvSpec): DataFrame =
    if (spec.union.isEmpty) read(spec.source)
    else spec.union.map { case (ds, cols, where) =>
      val df0 = read(ds)
      val df = where.fold(df0)(w =>
        df0.filter(org.apache.spark.sql.functions.expr(w)))
      cols.fold(df)(cs => df.select(cs.map { case (e, n) =>
        org.apache.spark.sql.functions.expr(e).as(n) }: _*))
    }.reduce(_ union _)

  private def autoMvDefining(spec: Pipeline.AutoMvSpec, src: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{avg, col, count, countDistinct, expr, lit, max, min, sum}
    val cntCol = spec.counts.headOption.getOrElse("__cnt")
    val enriched =
      if (spec.joins.isEmpty && spec.sourceAlias.isEmpty) src
      else autoMvEnrich(spec,
        spec.joins.map(j => j.dim -> read(j.dim)).toMap)(src)
    val base = spec.where.fold(enriched)(w => enriched.filter(expr(w)))
    // TYPE-FAITHFUL: the declared aggregates are exactly the declared
    // query's — detection never changes the MV's result type or values
    val aggs =
      spec.sums.map { case (a, e) => sum(expr(e)).as(a) } ++
      spec.mins.map { case (a, e) => min(expr(e)).as(a) } ++
      spec.maxs.map { case (a, e) => max(expr(e)).as(a) } ++
      spec.avgs.map { case (a, e) => avg(expr(e)).as(a) } ++
      spec.cntCols.map { case (a, e) => count(expr(e)).as(a) } ++
      spec.dcounts.map { case (a, e) => countDistinct(expr(e)).as(a) } ++
      spec.sums.map { case (a, e) => count(expr(e)).as(s"__nn_$a") } ++
      spec.avgs.flatMap { case (a, e) => Seq(
        sum(expr(e)).as(s"__avs_$a"), count(expr(e)).as(s"__avn_$a")) }
    val gCols = if (spec.groupExprs.nonEmpty) spec.groupExprs.map(expr)
      else spec.groupBy.map(col)
    val aggNames =
      (spec.sums ++ spec.mins ++ spec.maxs ++ spec.avgs ++ spec.cntCols ++
        spec.dcounts).map(_._1) ++
      spec.sums.map(p => s"__nn_${p._1}") ++
      spec.avgs.flatMap(p => Seq(s"__avs_${p._1}", s"__avn_${p._1}"))
    val grouped = base.groupBy(gCols: _*).agg(count(lit(1)).as(cntCol), aggs: _*)
    // qualified group expressions derive their own output names — rename
    // POSITIONALLY to the declared names (grouping columns lead, then the
    // aggregates in the order built above)
    val named = if (spec.groupExprs.nonEmpty)
      grouped.toDF((spec.groupBy ++ (cntCol +: aggNames)): _*) else grouped
    named.select((spec.groupBy.map(col) ++ aggNames.map(col) :+
      col(cntCol)): _*)
  }

  /** DLT's `CREATE OR REFRESH STREAMING TABLE name AS SELECT … FROM
   *  STREAM(source)` — the most common Lakeflow statement — as a graph
   *  node: a table DEFINED BY a stateless select over one stream source.
   *  Under [[runIncremental]] (and continuous mode) the select is applied
   *  to the source's change-feed DELTA and APPENDED — O(new rows), the
   *  ledger riding the target's transaction log via the idempotent
   *  append; under [[run]] it refreshes as a full recompute
   *  (snapshot execution's documented shape), stamping the ledger at the
   *  source's current version so a later incremental run continues from
   *  exactly there — the two modes interleave freely. Sources that don't
   *  root at a lake table recompute in both modes. */
  def streamingSelectTable(name: String, source: String,
      clusterBy: Seq[String] = Nil,
      partitionBy: Option[String] = None)(fn: DataFrame => DataFrame): LakeTable = {
    val t = LakeTable(spark, s"$storageRoot/$name")
    tables(name) = t
    views(name) = () => if (t.exists) t.read else fn(read(source))
    selectTables(name) = (source, fn)
    if (clusterBy.nonEmpty) pendingClusterBy(name) = clusterBy
    partitionBy.foreach { pc =>
      require(clusterBy.isEmpty,
        "partitionBy and clusterBy are exclusive layouts (Delta's rule)")
      partitionedTables(name) = pc
    }
    t
  }

  private val selectTables =
    mutable.LinkedHashMap[String, (String, DataFrame => DataFrame)]()

  /** The reference's `business_silver` join as a DECLARED GRAPH NODE
   *  (`dlt_bronze_to_silver_pipeline.py:125-133` — the flagship gold join)
   *  in O(new fact rows): a streaming table defined by a STREAM-STATIC
   *  join, where `enrich` joins the fact source against CURRENT dim
   *  snapshots (resolved through [[read]] — exactly how DLT pairs
   *  `dlt.readStream` facts with `dlt.read` dims under trigger-once), the
   *  result is deduped latest-per-key and latest-wins MERGED into the
   *  target guarded by `s.seq >= t.seq`.
   *
   *  Under [[runIncremental]] only the fact rows committed since this
   *  flow's last run are enriched — the per-flow ledger rides the target's
   *  transaction log, committed ATOMICALLY with the merge — so the join MV
   *  never re-reads the fact table: the last O(source) step of a medallion
   *  refresh becomes O(delta). Under [[run]] the flow enriches the fact's
   *  full current snapshot (pinned at an exact version and stamped, so the
   *  two modes interleave without gaps or doubles). A fact window spanning
   *  a full-rewrite commit re-pins at the current snapshot — sound because
   *  the guarded merge is replay-idempotent. At 100 TB the dims stay
   *  broadcast-joined inside `enrich` and the merge is partition-scoped
   *  when the target is partitioned ([[streamingTable]]'s partitionBy
   *  rationale). Declared once, executed by every run mode, event-logged;
   *  the processed (enriched) row count of each refresh lands in
   *  [[eventLog]].
   *
   *  Join tables refresh AFTER the CDC flows and any streaming-select
   *  tables that FEED them each run (the enrichment must see this run's
   *  merged dim and fact state) and BEFORE the remaining select tables and
   *  the aggregate/recompute MVs (so a gold dataset over the join target
   *  sees this run's rows). */
  def streamingJoinTable(name: String, source: String, keys: Seq[String],
      sequenceBy: String, tiebreak: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil, partitionBy: Option[String] = None,
      enableChangeFeed: Boolean = false)(
      enrich: DataFrame => DataFrame): LakeTable = {
    require(keys.nonEmpty, "streaming join table needs merge keys")
    val t = LakeTable(spark, s"$storageRoot/$name")
    tables(name) = t
    // a CDF-enabled join table records row images on its merges, so a
    // further incremental consumer (a gold agg MV) streams from it too
    if (enableChangeFeed) cdfTables += name
    views(name) = () => if (t.exists) t.read
      else {
        val e = enrich(read(source))
        val tb = if (tiebreak.nonEmpty) tiebreak
          else e.columns.toSeq.filterNot(c => keys.contains(c) || c == sequenceBy)
        GoldBuilder(spark).latestPerKey(e, keys, sequenceBy, tb)
      }
    joinTables(name) = Pipeline.JoinTable(source, keys, sequenceBy, tiebreak, enrich)
    if (clusterBy.nonEmpty) pendingClusterBy(name) = clusterBy
    partitionBy.foreach { pc =>
      require(clusterBy.isEmpty,
        "partitionBy and clusterBy are exclusive layouts (Delta's rule)")
      partitionedTables(name) = pc
    }
    t
  }

  private val joinTables = mutable.LinkedHashMap[String, Pipeline.JoinTable]()

  /** O1 `dlt.create_auto_cdc_flow(target, source, keys, sequence_by,
   *  stored_as_scd_type)`. `scdType = 1` (the reference's setting) keeps one
   *  latest-wins row per key; `scdType = 2` keeps full history with
   *  `__START_AT`/`__END_AT` validity intervals
   *  ([[graft.gold.GoldBuilder.scd2Apply]]). */
  def autoCdcFlow(target: String, source: String, keys: Seq[String],
      sequenceBy: String, tiebreak: Seq[String] = Nil,
      scdType: Int = 1,
      applyAsDeletes: Option[String] = None,
      exceptColumns: Seq[String] = Nil,
      trackHistoryColumns: Seq[String] = Nil,
      trackHistoryExceptColumns: Seq[String] = Nil,
      ignoreNullUpdates: Boolean = false,
      applyAsTruncates: Option[String] = None,
      columnList: Seq[String] = Nil,
      sequenceAlso: Seq[String] = Nil,
      name: String = ""): this.type = {
    require(scdType == 1 || scdType == 2, s"stored_as_scd_type must be 1 or 2, got $scdType")
    // DLT's struct sequence_by (`sequence_by = struct(c1, c2)` / SQL
    // `SEQUENCE BY (c1, c2)`): ordering is lexicographic over the column
    // tuple — within a batch AND across batches. SCD1 compares tuples in
    // the merge guard; SCD2 sequences on a synthesized struct, so
    // `__START_AT`/`__END_AT` are struct-typed (exactly what Databricks
    // stores for a struct sequence_by) and the component columns are
    // sequencing METADATA, not target attributes.
    require(sequenceAlso.isEmpty || applyAsTruncates.isEmpty,
      "multi-column SEQUENCE BY and apply_as_truncate are exclusive")
    require(tables.contains(target), s"declare streamingTable($target) first")
    // one CDC flow owns a target (DLT's rule: APPLY CHANGES is the sole
    // writer of its table); feeding one table from many sources is the
    // appendFlow pattern. Loud here instead of silently last-wins at run().
    require(!flows.exists(_.target == target) &&
      !snapshotFlows.exists(_.target == target),
      s"target $target already has a CDC flow — one CDC flow per target " +
        "(use appendFlow for multi-source ingestion)")
    // DLT's `apply_as_truncate`: an event matching the predicate wipes the
    // WHOLE target; only events sequenced after it survive — SCD1 only
    // (DLT's own restriction: truncating history is contradictory)
    require(applyAsTruncates.isEmpty || scdType == 1,
      "apply_as_truncate is supported for SCD type 1 flows (DLT's rule)")
    // DLT's COLUMNS forms are exclusive: a positive include list or
    // * EXCEPT, never both
    require(columnList.isEmpty || exceptColumns.isEmpty,
      "COLUMNS (list) and COLUMNS * EXCEPT (list) are exclusive")
    // DLT's `apply_as_deletes` (rows matching the predicate REMOVE their
    // key — SCD1 — or close the open history row — SCD2),
    // `except_column_list` (op/sequence metadata excluded from the target),
    // and the SCD2-only `track_history_[except_]column_list` (changes in
    // non-tracked columns update the current row in place instead of
    // opening a history row)
    require(trackHistoryColumns.isEmpty || trackHistoryExceptColumns.isEmpty,
      "track_history_column_list and track_history_except_column_list are exclusive")
    require((trackHistoryColumns.isEmpty && trackHistoryExceptColumns.isEmpty) ||
      scdType == 2, "track-history column scoping applies to SCD type 2 flows only")
    // DLT addresses flows by their declared names in the event log — a
    // named flow (SQL `CREATE FLOW f AS APPLY CHANGES …`) must stay
    // distinguishable from every other named flow on the pipeline
    require(name.isEmpty || (!flows.exists(_.name == name) &&
      !appendFlows.exists(_.name == name)), s"duplicate flow name: $name")
    flows += CdcFlow(target, source, keys, sequenceBy, tiebreak, scdType,
      applyAsDeletes, exceptColumns, trackHistoryColumns,
      trackHistoryExceptColumns, ignoreNullUpdates, applyAsTruncates,
      columnList, sequenceAlso, name)
    this
  }

  /** Lexicographic `s`-sequence ≥ `t`-sequence over the sequence column
   *  tuple (DLT struct `sequence_by`; one column degenerates to the plain
   *  `s.seq >= t.seq`). */
  private def seqGeGuard(cols: Seq[String]): String =
    cols.indices.map { i =>
      val eqs = (0 until i).map(j => s"s.${cols(j)} = t.${cols(j)}")
      val cmp = if (i == cols.size - 1) ">=" else ">"
      (eqs :+ s"s.${cols(i)} $cmp t.${cols(i)}").mkString("(", " AND ", ")")
    }.mkString(" OR ")

  /** DLT's `@dlt.append_flow(target=…, name=…, once=…)` — one of possibly
   *  MANY append-only flows feeding a single streaming table (the
   *  multi-topic / backfill-plus-live pattern: each flow appends its rows,
   *  none of them owns the target). Columns match BY NAME against the
   *  target's schema once it exists — a column the target lacks is a loud
   *  error (same as `INSERT INTO … BY NAME`), a target column the flow
   *  doesn't produce lands as a typed NULL. `once = true` is DLT's one-time
   *  backfill: the flow drains on the first [[run]] of this pipeline
   *  instance and is skipped afterwards (DLT re-runs it only on full
   *  refresh). Append flows drain BEFORE the CDC flows each run, so a CDC
   *  flow reading the appended table sees this run's rows. */
  def appendFlow(target: String, name: String = "", once: Boolean = false)(
      fn: => DataFrame): this.type = {
    require(tables.contains(target), s"declare streamingTable($target) first")
    val flowName = if (name.nonEmpty) name else s"${target}_flow_${appendFlows.size}"
    require(!appendFlows.exists(_.name == flowName), s"duplicate flow name: $flowName")
    appendFlows += AppendFlow(target, flowName, once, () => fn, None)
    this
  }

  /** An append flow declared over a named STREAM source — DLT's
   *  `@dlt.append_flow` reading `dlt.read_stream(source)`, the
   *  multi-topic/backfill-plus-live pattern with TRUE streaming
   *  semantics: under [[runIncremental]] the flow appends only the
   *  source rows committed since its last run (per-flow ledger on the
   *  target via idempotent append — a replayed window can never land
   *  twice), so an idle source appends NOTHING instead of re-landing the
   *  whole view. `fn` is a stateless per-row transform of the delta
   *  (same restriction as [[streamingView]]). Under [[run]] the flow
   *  falls back to snapshot semantics (fn over the source's current
   *  contents, re-appended per run — [[appendFlow]]'s documented shape). */
  def appendFlowStream(target: String, source: String, name: String = "",
      once: Boolean = false)(
      fn: DataFrame => DataFrame = identity): this.type = {
    require(tables.contains(target) || sinks.contains(target),
      s"declare streamingTable($target) or sink($target) first")
    val flowName = if (name.nonEmpty) name else s"${target}_flow_${appendFlows.size}"
    require(!appendFlows.exists(_.name == flowName), s"duplicate flow name: $flowName")
    appendFlows += AppendFlow(target, flowName, once,
      () => fn(read(source)), Some(source -> fn))
    this
  }

  /** DLT's `create_auto_cdc_from_snapshot_flow` (AUTO CDC FROM SNAPSHOT) —
   *  CDC derived from successive FULL snapshots instead of an event feed:
   *  each [[run]] reads the source dataset's CURRENT contents as the next
   *  snapshot (version = previous + 1) and diffs it against the target.
   *  Keys must be unique within a snapshot. Rows new to the snapshot
   *  insert; rows whose attributes changed update (SCD1) or close the open
   *  history row and open a new one at the snapshot version (SCD2, with
   *  the same `track_history_[except_]column_list` scoping as
   *  [[autoCdcFlow]]); keys PRESENT in the target but ABSENT from the
   *  snapshot are deletes (SCD1 removes the row, SCD2 closes the open row).
   *  Re-presenting an identical snapshot is a no-op. SCD2 `__START_AT`/
   *  `__END_AT` carry the snapshot version (long); across instances the
   *  version counter resumes from the target's max `__START_AT` (SCD1
   *  keeps no version column — its counter is instance-scoped, which only
   *  affects the version numbers, never the diff). */
  def autoCdcFromSnapshotFlow(target: String, source: String,
      keys: Seq[String], scdType: Int = 1,
      trackHistoryColumns: Seq[String] = Nil,
      trackHistoryExceptColumns: Seq[String] = Nil): this.type =
    registerSnapshotFlow(target, keys, scdType, trackHistoryColumns,
      trackHistoryExceptColumns, Left(source))

  /** Historical-backfill form of [[autoCdcFromSnapshotFlow]] (DLT's
   *  `snapshot_and_version` argument): `next(lastVersion)` returns the
   *  next snapshot and its version — strictly increasing — or None when
   *  the backlog is drained. Each [[run]] loops until None, applying every
   *  pending snapshot in order. */
  def autoCdcFromSnapshotFlow(target: String,
      next: Option[Long] => Option[(DataFrame, Long)],
      keys: Seq[String], scdType: Int,
      trackHistoryColumns: Seq[String],
      trackHistoryExceptColumns: Seq[String]): this.type =
    registerSnapshotFlow(target, keys, scdType, trackHistoryColumns,
      trackHistoryExceptColumns, Right(next))

  /** Historical-backfill form with defaults (Scala can't default-param
   *  across overloads). */
  def autoCdcFromSnapshotFlow(target: String,
      next: Option[Long] => Option[(DataFrame, Long)],
      keys: Seq[String]): this.type =
    registerSnapshotFlow(target, keys, 1, Nil, Nil, Right(next))

  private def registerSnapshotFlow(target: String, keys: Seq[String],
      scdType: Int, trackCols: Seq[String], trackExcept: Seq[String],
      source: Either[String, Option[Long] => Option[(DataFrame, Long)]]): this.type = {
    require(scdType == 1 || scdType == 2, s"stored_as_scd_type must be 1 or 2, got $scdType")
    require(tables.contains(target), s"declare streamingTable($target) first")
    require(keys.nonEmpty, "snapshot CDC needs at least one key column")
    require(!flows.exists(_.target == target) &&
      !snapshotFlows.exists(_.target == target),
      s"target $target already has a CDC flow — one CDC flow per target " +
        "(use appendFlow for multi-source ingestion)")
    require(trackCols.isEmpty || trackExcept.isEmpty,
      "track_history_column_list and track_history_except_column_list are exclusive")
    require((trackCols.isEmpty && trackExcept.isEmpty) || scdType == 2,
      "track-history column scoping applies to SCD type 2 flows only")
    snapshotFlows += SnapshotFlow(target, keys, scdType, trackCols,
      trackExcept, source)
    this
  }

  /** Attach an expectation group to a DECLARED dataset (the SQL
   *  `CONSTRAINT name EXPECT (cond) [ON VIOLATION …]` surface, and DLT's
   *  `@dlt.expect_*` on tables): a CDC target gates its incoming batch
   *  before dedup+merge; an AS-SELECT / materialized-view dataset gates
   *  its defining query before materialization. Groups accumulate (one per
   *  policy is the usual shape); rows failing a Drop group never land,
   *  Warn groups only count, Fail groups abort the run before the gated
   *  write commits (violating data never lands).
   *  rows failing a Fail group abort the run BEFORE the write commits
   *  (DLT's expect_or_fail: violating data never lands).
   *  Violation metrics are readable after `run()` via [[lastGate]] (keyed
   *  `name` for the first group, `name#<i>` beyond). */
  def expectations(dataset: String, rules: Map[String, String],
      policy: Expectations.Policy = Expectations.Drop): this.type = {
    require(rules.nonEmpty, "expectations need at least one rule")
    tableGates(dataset) = tableGates.getOrElse(dataset, Nil) :+ (policy -> rules)
    this
  }

  /** [[gate]] for the SQL surface: a CREATE VIEW statement's constraint
   *  block gates the view's rows wherever the view resolves — inside the
   *  defining thunk for snapshot reads, inside the composed per-row
   *  transform for incremental delta reads — through the same group
   *  machinery as table datasets. */
  private[pipeline] def gateFor(dataset: String, df: DataFrame): DataFrame =
    gate(dataset, df)

  /** Run `df` through `dataset`'s attached expectation groups (if any),
   *  registering each gate for post-run metrics/Fail enforcement. */
  private def gate(dataset: String, df: DataFrame): DataFrame =
    tableGates.get(dataset).fold(df) { groups =>
      groups.zipWithIndex.foldLeft(df) { case (d, ((policy, rules), i)) =>
        val g = Expectations(d, rules, policy)
        // registry writes are lock-guarded: under concurrency > 1 flows
        // gate concurrently (each its own dataset key)
        gates.synchronized {
          gates(if (i == 0) dataset else s"$dataset#$i") = g
        }
        enforceFailEagerly(g)
        g.df
      }
    }

  /** Presentation projections: a dataset whose BACKING table carries
   *  engine columns beyond its declared output (an auto-maintained MV's
   *  internal count) serves reads through this projection. */
  private val presentations = mutable.Map[String, DataFrame => DataFrame]()

  /** Resolve a node: materialized table if declared, else view thunk (S5). */
  def read(name: String): DataFrame =
    tables.get(name).filter(_.exists)
      .map(t => presentations.get(name).fold(t.read)(f => f(t.read)))
      .orElse(views.get(name).map(_.apply()))
      .getOrElse(sys.error(
        if (tables.contains(name))
          s"pipeline dataset $name is not yet materialized — run the " +
            "pipeline to populate it"
        else s"unknown pipeline dataset: $name"))

  def table(name: String): LakeTable = tables(name)
  def lastGate(name: String): Option[Expectations.Gate] = gates.get(name)

  /** The dataset a flow source chain ORIGINATES at: `streamingView` edges
   *  walked to their origin, so a flow reading `clean` (a view over
   *  `silver`) depends on the flow that maintains `silver`. */
  private def chainOrigin(source: String): String = {
    var cur = source
    var depth = 0
    while (streamingViews.contains(cur) && depth < 17) {
      cur = streamingViews(cur)._1
      depth += 1
    }
    cur
  }

  /** Flows in dependency order: a flow whose source (or the ORIGIN of its
   *  streamingView chain) IS another flow's target runs after it (DLT's
   *  topological DAG resolution; ties keep declaration order). */
  private def orderedFlows: Seq[CdcFlow] = {
    val byTarget = flows.map(f => f.target -> f).toMap
    val visited = mutable.LinkedHashSet[String]()
    val onStack = mutable.LinkedHashSet[String]()
    def visit(f: CdcFlow): Unit = if (!visited.contains(f.target)) {
      // loud acyclicity check (DLT refuses cyclic graphs with a named
      // diagnostic) — without it a cycle recurses to StackOverflowError
      require(!onStack.contains(f.target),
        "CDC flow cycle detected: " +
          (onStack.toSeq.dropWhile(_ != f.target) :+ f.target).mkString(" -> "))
      onStack += f.target
      byTarget.get(chainOrigin(f.source)).foreach(visit) // upstream flow first
      onStack -= f.target
      visited += f.target
    }
    flows.foreach(visit)
    visited.toSeq.map(byTarget)
  }

  /** Drain one batch through every CDC flow, in dependency order; then
   *  enforce Fail-policy expectation gates (`expect_all_or_fail`). Each
   *  flow re-reads its source's CURRENT contents (snapshot execution) —
   *  pinned at the root's version and stamped on the flow's ledger when
   *  the source has a stream root, so a later [[runIncremental]] (the
   *  O(new rows) mode) resumes after what this run read. */
  def run(): Unit = runImpl(incremental = false)

  /**
   * INCREMENTAL update of the declared graph — the execution DLT actually
   * gives streaming tables (`dlt_bronze_to_silver_pipeline.py:17-18` reads
   * bronze as a STREAM): a CDC flow whose source chain roots at a lake
   * table ([[inputTable]], or an upstream flow's target declared with
   * `enableChangeFeed = true`) consumes the root's CHANGE FEED, processing
   * only the rows committed since this flow's last run — O(new rows), no
   * source rescan, which is the difference between a medallion refresh
   * that re-reads 100 TB of bronze per run and one that reads the day's
   * arrivals. [[streamingView]] transforms are applied to the delta
   * (stateless, so per-batch application is sound — DLT's own streaming
   * restriction).
   *
   * Per-flow progress rides the TARGET's transaction ledger
   * (`graft.flow.<target>` → last consumed source version): the SCD
   * applies are replay-idempotent (guarded merges), so a crash between
   * apply and ledger advance re-processes the window into a no-op.
   * Flows whose source does NOT root at a feed-readable table (arbitrary
   * views, MV sources) fall back to [[run]]'s snapshot semantics —
   * correctness never depends on the incremental path being available.
   */
  def runIncremental(): Unit = runImpl(incremental = true)

  /**
   * DLT's CONTINUOUS execution mode — the always-on counterpart to the
   * triggered [[runIncremental]]: a long-running updater thread applies
   * one incremental update, sleeps `pollMs`, and repeats until
   * [[Pipeline.ContinuousUpdate.stop]] — new source commits flow to the
   * targets within one poll interval, no orchestrator involved. Each
   * cycle is the same crash-safe incremental update (per-flow ledgers on
   * the targets), so killing the process and restarting continuous mode
   * resumes exactly where it stopped.
   *
   * Failure policy (DLT's production-mode semantics): a TRANSIENT cycle
   * failure — a lost commit race surfacing as
   * [[graft.lake.ConcurrentWriteException]] from an external writer on a
   * shared table — is retried up to `maxRetries` consecutive times with
   * exponential backoff (1×, 2×, 4×… the poll interval) before failing
   * the update; a successful cycle resets the budget. Every cycle is
   * already crash-safe and replay-idempotent, so a retry can never
   * double-apply. Anything else — a FAIL expectation, an analysis error,
   * a broken declaration — stops the loop immediately and surfaces on
   * [[Pipeline.ContinuousUpdate.stop]]: DLT likewise fails the update
   * rather than retrying bad data forever.
   */
  def runContinuous(pollMs: Long = 1000L,
      maxRetries: Int = 3): Pipeline.ContinuousUpdate = {
    require(pollMs > 0, "pollMs must be positive")
    require(maxRetries >= 0, "maxRetries must be non-negative")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val done = new java.util.concurrent.CountDownLatch(1)
    val runs = new java.util.concurrent.atomic.AtomicLong(0L)
    // sleep in small slices so stop() returns promptly
    def sleepSlices(ms: Long): Unit = {
      var waited = 0L
      while (!stop.get() && waited < ms) {
        val slice = math.min(50L, ms - waited)
        Thread.sleep(slice)
        waited += slice
      }
    }
    val thread = new Thread(() => {
      var retries = 0
      try {
        while (!stop.get()) {
          try {
            runImpl(incremental = true, quietIdle = true)
            runs.incrementAndGet()
            retries = 0 // a clean cycle restores the retry budget
          } catch {
            case t: Throwable
                if Pipeline.isRetriable(t) && retries < maxRetries =>
              retries += 1
              sleepSlices(pollMs * (1L << (retries - 1))) // backoff
          }
          sleepSlices(pollMs)
        }
      } catch { case t: Throwable => failure.set(t) }
      finally done.countDown()
    }, "graft-pipeline-continuous")
    thread.setDaemon(true)
    thread.start()
    new Pipeline.ContinuousUpdate(stop, done, failure, runs)
  }

  /** The UPSERT-event delta of `root` over versions [from, to]: insert +
   *  update-postimage rows, metadata columns dropped (the shape the
   *  incremental flows consume). `keepCommitVersion` retains the commit
   *  version column for recency-resolving equal-sequence images. */
  private def feedDelta(root: LakeTable, from: Long, to: Long,
      keepCommitVersion: Boolean = false): DataFrame = {
    val base = root.readChangeFeed(from, Some(to))
      .filter(org.apache.spark.sql.functions
        .col(graft.lake.LakeTable.ChangeTypeCol)
        .isin("insert", "update_postimage"))
      .drop(graft.lake.LakeTable.ChangeTypeCol,
        graft.lake.LakeTable.CommitTimestampCol)
    if (keepCommitVersion) base
    else base.drop(graft.lake.LakeTable.CommitVersionCol)
  }

  /** The upsert delta of `root` over [from, to] with equal-(key, sequence)
   *  images COLLAPSED BY COMMIT RECENCY at source grain: a merge-maintained
   *  source rewriting the same key at the same sequence twice in one window
   *  resolves to its newest image — the source's own current value, which
   *  also matches the cross-window `>=` merge guard (an equal-seq late
   *  arrival replaces). The collapse runs BEFORE any downstream per-row
   *  transform, so the transform sees only the surviving image — exactly
   *  what a full refresh reads. Within-commit ties keep the declared
   *  tiebreak (run()'s resolution).
   *
   *  The collapse is PROVENANCE-CHECKED, not name-checked: it applies only
   *  when the key/sequence columns exist at source grain AND the composed
   *  downstream transform provably passes them through un-redefined
   *  ([[preservesColumns]] — plan-level lineage). A chain that renames
   *  them away, or REDEFINES a same-named column (`SELECT updated_at AS
   *  ts …` over a source that also has `ts` — the source `ts` is not the
   *  flow's `ts`, so collapsing by it would silently diverge from a full
   *  refresh), falls back to the raw delta + the flow's declared tiebreak. */
  private def collapsedDelta(root: LakeTable, from: Long, to: Long,
      keys: Seq[String], seqCols: Seq[String], declaredTiebreak: Seq[String],
      downstream: DataFrame => DataFrame): DataFrame = {
    val fd = feedDelta(root, from, to, keepCommitVersion = true)
    if ((keys ++ seqCols).forall(fd.columns.contains) &&
        preservesColumns(downstream, root.schema, keys ++ seqCols)) {
      val declaredTb = declaredTiebreak.filter(fd.columns.contains)
      val valueTb =
        if (declaredTb.nonEmpty) declaredTb
        else fd.columns.toSeq.filterNot(c => keys.contains(c) ||
          seqCols.contains(c) || c == graft.lake.LakeTable.CommitVersionCol)
      GoldBuilder(spark).latestPerKey(fd, keys ++ seqCols,
        graft.lake.LakeTable.CommitVersionCol, valueTb)
        .drop(graft.lake.LakeTable.CommitVersionCol)
    } else fd.drop(graft.lake.LakeTable.CommitVersionCol)
  }

  /** Whether the composed per-row transform PRESERVES each of `cols` by
   *  PROVENANCE, not merely by name: applied to an empty frame with the
   *  source's schema, the transform's output attribute named `c` must BE
   *  the input attribute named `c` (same expression id — plan-level
   *  lineage through Project/Filter/Alias), with the name unambiguous on
   *  both sides. A redefinition (`SELECT updated_at AS ts` over a source
   *  that also has `ts`) mints a fresh attribute and fails the check.
   *  Driver-side plan analysis only — no data moves; a transform that
   *  errors on the schema probe is conservatively non-preserving. */
  private def preservesColumns(fn: DataFrame => DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String]): Boolean = scala.util.Try {
    val sample = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val in = sample.queryExecution.analyzed.output
    val out = fn(sample).queryExecution.analyzed.output
    cols.forall { c =>
      val i = in.filter(_.name == c)
      val o = out.filter(_.name == c)
      i.size == 1 && o.size == 1 && i.head.exprId == o.head.exprId
    }
  }.getOrElse(false)

  /** ONE change-feed scan for an APPEND-ONLY consumer (append flows,
   *  streaming-select tables), enforcing the DLT-style restriction that
   *  the window carries no update/delete images — an updated source row
   *  cannot be "appended again" without silently duplicating (DLT fails a
   *  streaming read over changes the same way). `feed` is the window's
   *  [[graft.lake.LakeTable.feedWindow]]: a window the feed cannot serve is
   *  refused with `consumer` named; a window of structurally append-only
   *  commits skips the probe entirely (manifest-only check);
   *  a window containing row-mutating commits is PINNED so the guard and
   *  the consumer's own append are derived from the same cached pass over
   *  the change dirs (not two scans — at 100 TB a day's commit window is
   *  large). Returns the insert-only delta plus an unpersist handle the
   *  caller invokes AFTER its write. */
  private def appendOnlyWindow(root: LakeTable, from: Long, to: Long,
      consumer: String, feed: LakeTable.FeedWindow): (DataFrame, () => Unit) = {
    // FAST PATH (the 100 TB shape — bronze ingest windows): every commit in
    // the window is structurally append-only, so the feed carries only
    // insert images BY CONSTRUCTION — no data probe, no pin, one scan total
    if (feed == LakeTable.FeedWindow.AppendOnly)
      return (feedDelta(root, from, to), () => ())
    require(feed != LakeTable.FeedWindow.Vacuumed,
      s"$consumer consumes an append-only stream, but VACUUM reclaimed the " +
        s"change data of versions [$from, $to] of its source — an " +
        "append-only consumer cannot re-read them (full-refresh this " +
        "pipeline, or vacuum the source with a longer retention)")
    require(feed == LakeTable.FeedWindow.Mutating,
      s"$consumer consumes an append-only stream, but versions " +
        s"[$from, $to] of its source span a full-rewrite commit — an " +
        "append-only consumer cannot replay a rewritten source without " +
        "duplicating (full-refresh this pipeline, or keep the source " +
        "append-only)")
    val win = root.readChangeFeed(from, Some(to))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nonInsert = win
      .filter(!org.apache.spark.sql.functions
        .col(graft.lake.LakeTable.ChangeTypeCol).isin("insert"))
      .limit(1).count()
    if (nonInsert != 0L) {
      win.unpersist()
      throw new IllegalArgumentException(
        s"$consumer consumes an append-only stream, but versions " +
          s"[$from, $to] of its source carry update/delete images — " +
          "append-only consumers cannot re-land changed rows (use a CDC " +
          "flow, or keep the source append-only)")
    }
    (win.drop(graft.lake.LakeTable.ChangeTypeCol,
        graft.lake.LakeTable.CommitTimestampCol,
        graft.lake.LakeTable.CommitVersionCol),
      () => { win.unpersist(); () })
  }

  /** THE STREAM WINDOW of one change-feed consumer (CDC flows, join
   *  tables, select tables, append flows, sinks): the offset range one
   *  trigger consumes, classified here once for all of them. From the
   *  consumer's resolved stream root and the ledger entry `appId` on
   *  `ledger`, it reads the ledger's `last` and the root's `cur`; under
   *  incremental execution the window is then in one of four states:
   *   - `UpToDate` — `cur <= last`: nothing to read;
   *   - `Bootstrap` — no ledger yet (`last < 0`): the snapshot pinned at
   *     `cur`, immune to vacuumed early history and free of the dead
   *     intermediate images a merge-maintained source's feed carries;
   *   - `Unreadable` — [[graft.lake.LakeTable.feedReadable]] refuses
   *     `[last+1, cur]` (a full-rewrite commit, or dirs vacuumed under a
   *     lagging consumer): the snapshot pinned at `cur`;
   *   - `Delta` — the feed since `last`, collapsed latest per key for an
   *     [[Pipeline.Upsert]] consumer ([[collapsedDelta]]) and insert-only
   *     for an [[Pipeline.AppendOnly]] one ([[appendOnlyWindow]]).
   *  An upsert consumer RE-PINS an unreadable window: its guarded
   *  latest-wins merge makes replaying every current row a no-op-or-update.
   *  An append-only consumer cannot — appending the current rows again
   *  duplicates every row it already landed — so append flows and sinks
   *  hand the window to [[appendOnlyWindow]], which refuses it, and only a
   *  select table (which can recompute by overwrite) asks for the state.
   *  An upsert window's frame is persisted: its emptiness probe, gate
   *  counters and merge joins share one pass over the change dirs.
   *
   *  Under snapshot execution the window is `Snapshot`: the snapshot
   *  pinned at `cur`, with ONE stamp rule ([[Pipeline.StreamWindow.stamp]])
   *  — stamp `cur` on the consumer's own write unless the ledger is
   *  already at or past it, so the next incremental run resumes exactly
   *  after what this read; a snapshot re-run still applies, unstamped.
   *
   *  None when the source has no materialized stream root: the consumer
   *  reads it unpinned. `ledger` is touched only once a root exists. */
  private def streamWindow(rooted: Option[(LakeTable, DataFrame => DataFrame)],
      ledger: => LakeTable, appId: String, incremental: Boolean,
      take: WindowTake): Option[StreamWindow] =
    rooted.filter(_._1.exists).map { case (root, g) =>
      val last = ledger.lastTxnVersion(appId).getOrElse(-1L)
      val cur = root.currentVersion
      val pinned = () => (g(root.readVersion(cur)), () => ())
      val (state, open) =
        if (!incremental) (Snapshot, pinned)
        else if (cur <= last) (UpToDate, pinned)
        else take match {
          case Upsert(keys, seqCols, tiebreak) =>
            val (st, raw) =
              if (last < 0) (Bootstrap, () => root.readVersion(cur))
              else if (!root.feedReadable(last + 1, cur))
                (Unreadable, () => root.readVersion(cur))
              else (Delta, () =>
                collapsedDelta(root, last + 1, cur, keys, seqCols, tiebreak, g))
            (st, () => {
              val delta = g(raw())
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              (delta, () => { delta.unpersist(); () })
            })
          case AppendOnly(consumer, recomputes) =>
            // one manifest walk answers both "readable?" and "append-only?"
            lazy val feed = root.feedWindow(last + 1, cur)
            if (last < 0) (Bootstrap, pinned)
            else if (recomputes && !feed.readable) (Unreadable, pinned)
            else (Delta, () => {
              val (df, release) = appendOnlyWindow(root, last + 1, cur, consumer, feed)
              (g(df), release)
            })
        }
      new StreamWindow(state, last, cur, open)
    }

  /** A stream-registered append flow's root: its source's stream root,
   *  with the flow's own per-row transform composed after the chain's. */
  private def flowRoot(af: AppendFlow): Option[(LakeTable, DataFrame => DataFrame)] =
    af.stream.flatMap { case (src, fn) =>
      resolveStreamRoot(src).map { case (root, g) => (root, g.andThen(fn)) }
    }

  /** Longest `streamingView` chain from `name` down to a FEED-READABLE
   *  root table, composing the per-row transforms along the way. Returns
   *  (root, composed transform). Declared streaming tables qualify only
   *  when their change feed records row-level images (`enableChangeFeed`)
   *  — a merge-maintained table without CDF falls back to snapshot
   *  semantics instead of erroring mid-run; [[inputTable]] roots are the
   *  append-only bronze contract (their appends derive feed inserts for
   *  free). A select-table root refreshed in SNAPSHOT mode commits a full
   *  rewrite — [[streamWindow]] probes [[graft.lake.LakeTable.feedReadable]]
   *  per window and the consumers fall back (re-pin / snapshot-refresh)
   *  instead of wedging. */
  private def resolveStreamRoot(name: String, depth: Int = 0)
      : Option[(LakeTable, DataFrame => DataFrame)] =
    if (depth > 16) None
    else inputs.get(name).map(t => (t, identity[DataFrame] _))
      .orElse(tables.get(name)
        // an MV recomputes fully each run — its feed carries whole-table
        // replace images, not row deltas; treat it as a snapshot source.
        // Non-CDF declared tables are merge-maintained without row images:
        // snapshot fallback, not a mid-run feed error. A HAVING auto-MV's
        // raw feed would leak the presentation-hidden groups — snapshot
        // fallback too (reads go through the presentation).
        .filterNot(_ => mviews.contains(name) ||
          selectTables.contains(name) ||
          autoMvs.get(name).exists(_.having.isDefined) ||
          // auto-MV backing tables capture CDF from birth (MV-over-MV
          // maintenance reads it directly), but their feed carries the
          // maintenance merges' UPDATE images — an append-only stream
          // consumer would throw mid-run where it historically got
          // snapshot fallback. Keep that fallback unless the user
          // EXPLICITLY declared CDF on the MV (an opted-in feed contract).
          (autoMvs.contains(name) && !cdfTables.contains(name)))
        .filter(t => cdfTables.contains(name) ||
          (t.exists && t.tableProperties.contains(
            graft.lake.LakeTable.ChangeFeedProp)))
        // an auto MV that opted in is read through its presentation, as
        // read() serves it: the backing table's engine columns stay hidden
        .map(t => (t, presentations.getOrElse(name, identity[DataFrame] _))))
      .orElse(tables.get(name).filter(_ => selectTables.contains(name))
        // a streaming-select table is APPEND-ONLY by construction — its
        // feed serves inserts without CDF
        .map(t => (t, identity[DataFrame] _)))
      .orElse(streamingViews.get(name).flatMap { case (src, fn) =>
        resolveStreamRoot(src, depth + 1).map { case (t, g) =>
          (t, g.andThen(fn))
        }
      })

  /** One update at a time: a continuous updater thread and a user-invoked
   *  run()/runIncremental() (or two continuous handles) must not interleave
   *  on the shared gate/event/pin state — concurrent callers serialize. */
  private val runLock = new Object

  /** Max flows refreshed CONCURRENTLY per run (DLT runs independent flows
   *  in parallel across the cluster; default 1 = strictly sequential, the
   *  historical behavior). With n > 1, each refresh phase schedules its
   *  units in dependency WAVES: a unit whose source chain touches another
   *  unit's target waits for it; units whose dependencies can't be proven
   *  from declarations (a plain-`view` source — an opaque thunk that may
   *  read anything) run ALONE as barriers in their original position. The
   *  event log stays byte-identical to the sequential schedule (per-unit
   *  buffers appended in declaration order), and results are identical by
   *  construction — only wall-clock changes. On a real cluster this is
   *  what keeps 1000 executors busy while one flow's merge is in its
   *  shuffle tail; on local[32] the gain is overlap of driver-side
   *  planning with executor work. */
  @volatile private var parallelism: Int = 1
  def concurrency(n: Int): this.type = {
    require(n >= 1, s"concurrency must be >= 1, got $n")
    parallelism = n
    this
  }

  private type EventBuf = mutable.ArrayBuffer[(String, String, Long, String)]

  /** This run's events logged by an IDLE window: up to date, or a delta
   *  with no rows (the consumer only advanced its ledger). */
  private val idleEvents =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, Long, String)]()

  /** Log a `flow_progress` event; `idle` when the window it reports was
   *  idle, so a continuous cycle can tell an idle poll from its state
   *  ([[runTail]]), not from the event text. */
  private def flowProgress(buf: EventBuf, dataset: String, rows: Long,
      message: String, idle: Boolean = false): Unit = {
    val e = ("flow_progress", dataset, rows, message)
    if (idle) idleEvents.add(e)
    buf += e
  }

  /** Run `units` under [[parallelism]], honoring `dependsOn` (a unit runs
   *  only after every unit it depends on) and `barrier` units (run alone,
   *  original relative order). Each unit writes a PRIVATE event buffer;
   *  buffers are appended to `events` in the units' original order, so
   *  the event log is independent of the schedule. The first failure (by
   *  original order) propagates after its wave drains — later waves never
   *  start, matching the sequential abort contract. */
  private def runWaves[A](units: Seq[A], events: EventBuf,
      barrier: A => Boolean, dependsOn: (A, A) => Boolean)(
      exec: (A, EventBuf) => Unit): Unit = {
    if (parallelism <= 1 || units.size <= 1) {
      units.foreach(u => exec(u, events)); return
    }
    val idx = units.zipWithIndex
    val bufs = units.indices.map(_ => new EventBuf()).toIndexedSeq
    // segments split at barrier units (which run alone, in place);
    // everything is INDEX-keyed — two textually-identical declarations
    // must stay distinct units
    val segments = mutable.ArrayBuffer[Either[Int, mutable.ArrayBuffer[Int]]]()
    idx.foreach { case (u, i) =>
      if (barrier(u)) segments += Left(i)
      else segments.lastOption match {
        case Some(Right(seg)) => seg += i; ()
        case _ => segments += Right(mutable.ArrayBuffer(i)); ()
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      segments.foreach {
        case Left(i) => exec(units(i), bufs(i))
        case Right(seg) =>
          // longest-path levels within the segment (units arrive in a
          // dependency-consistent order, so one pass suffices)
          val level = mutable.LinkedHashMap[Int, Int]()
          seg.foreach { i =>
            val d = seg.takeWhile(_ != i).filter(j => dependsOn(units(i), units(j)))
            level(i) = if (d.isEmpty) 0 else d.map(level).max + 1
          }
          level.values.toSeq.distinct.sorted.foreach { lv =>
            val wave = seg.filter(i => level(i) == lv)
            if (wave.size == 1) exec(units(wave.head), bufs(wave.head))
            else {
              val futs = wave.map { i =>
                i -> pool.submit(new java.util.concurrent.Callable[Unit] {
                  def call(): Unit = exec(units(i), bufs(i))
                })
              }
              // drain the whole wave, then rethrow the FIRST failure in
              // original order (sequential abort semantics)
              val failures = futs.flatMap { case (i, fut) =>
                try { fut.get(); None }
                catch {
                  case e: java.util.concurrent.ExecutionException =>
                    Some(i -> e.getCause)
                  case e: Throwable => Some(i -> e)
                }
              }
              failures.headOption.foreach { case (_, e) => throw e }
            }
          }
      }
      units.indices.foreach(i => events ++= bufs(i))
    } finally { pool.shutdownNow(); () }
  }

  /** Whether a flow-source chain bottoms out at an OPAQUE plain view —
   *  a thunk that may read any dataset, so no dependency can be proven
   *  from declarations; such units run as scheduling barriers. */
  private def opaqueOrigin(source: String): Boolean = {
    val o = chainOrigin(source)
    (views.contains(o) && !tables.contains(o) && !inputs.contains(o)) ||
      streamingViews.contains(o) // depth-capped walk left a view: be safe
  }


  /** Apply ONE event-fed CDC flow — the body of [[runImpl]]'s CDC phase,
   *  extracted so [[runWaves]] can run independent flows concurrently. A
   *  source with a stream root is read through its [[streamWindow]] in
   *  both run modes; any other source is read unpinned. */
  private def runCdcFlow(f: CdcFlow, gb: GoldBuilder, incremental: Boolean,
      events: EventBuf): Unit = {
    val appId = s"graft.flow.${f.target}"
    val t = tables(f.target)
    def progress(rows: Long, mode: String, idle: Boolean = false): Unit =
      flowProgress(events, f.target, rows,
        s"cdc flow ${f.flowName} from ${f.source} (scd${f.scdType}$mode)", idle)
    def apply(batch0: DataFrame, txn: Option[Long], mode: String): Unit = {
      val (batch, rows) = Pipeline.observeRows(gate(f.target, batch0))
      applyCdcFlow(f, batch, gb, txn.map(appId -> _))
      progress(rows(), mode)
    }
    streamWindow(resolveStreamRoot(f.source), t, appId, incremental,
        Upsert(f.keys, f.sequenceBy +: f.sequenceAlso, f.tiebreak)) match {
      case None => apply(views.getOrElse(f.source, () => read(f.source))(), None, "")
      case Some(w) => w.state match {
        case UpToDate => progress(0L, ", incremental up-to-date", idle = true)
        case Snapshot => w.read(apply(_, w.stamp, ""))
        case _ => w.read { delta =>
          if (delta.isEmpty) {
            // metadata-only window: advance the ledger, skip the apply
            if (t.exists) { t.recordTxn(appId, w.cur); () }
            progress(0L, s", incremental ${w.span} empty", idle = true)
          } else apply(delta, Some(w.cur), s", incremental ${w.span}")
        }
      }
    }
  }

    /** Drain ONE append flow (lake target or lake-format sink) — the body of
   *  [[runImpl]]'s append phase, extracted so [[runWaves]] can run
   *  independent flows concurrently. Touches only per-flow state: the
   *  target LakeTable (internally synchronized), the private event buffer,
   *  and the lock-guarded gate/once registries. */
  private def runAppendFlow(af: AppendFlow, incremental: Boolean,
      events: EventBuf): Unit = {
    def observe(df: DataFrame): (DataFrame, () => Long) = Pipeline.observeRows(df)
    if (onceFlowsDone.synchronized(af.once && onceFlowsDone.contains(af.name)))
      return
    val sinkSpec = sinks.get(af.target)
    if (sinkSpec.exists(_.format != "lake")) {
      // raw-format sink: files + separate ledger commit (at-least-once)
      drainRawSink(af, sinkSpec.get, events)
      if (af.once) onceFlowsDone.synchronized { onceFlowsDone += af.name; () }
      return
    }
    import org.apache.spark.sql.functions.{col => fnCol, lit => fnLit}
    // a lake-format SINK is an external lake table: the same
    // evolution/ledger/append machinery applies — exactly-once, the
    // flow ledger riding the sink's own transaction log
    val t = sinkSpec.map(_.table).getOrElse(tables(af.target))
    // additive evolution (DLT evolves streaming-table schemas for
    // append flows too — a backfill flow growing a column must not
    // error): widen the target metadata-only for columns the flow
    // adds; existing rows serve NULL. Type changes stay loud (the
    // cast below is name-aligned, same as CDC-flow evolution).
    def align(df: DataFrame): (DataFrame, () => Long) = {
      if (!t.exists) {
        // sinks create their external table directly (no declared
        // dataset properties to stamp)
        if (sinkSpec.isDefined) t.create(df.schema)
        else createTarget(af.target, df.schema)
      }
      val newCols = df.schema.fields.toSeq
        .filterNot(fl => t.schema.fieldNames.contains(fl.name))
      if (newCols.nonEmpty) t.addColumns(newCols.map(fl => fl.name -> fl.dataType))
      val tgt = t.schema
      observe(df.select(tgt.fields.toSeq.map { fld =>
        if (df.columns.contains(fld.name)) fnCol(fld.name).cast(fld.dataType).as(fld.name)
        else fnLit(null).cast(fld.dataType).as(fld.name)
      }: _*))
    }
    // a reset-protected target (`pipelines.reset.allowed = 'false'`) holds
    // an irreplaceable append-only history that full refresh preserved —
    // its stream flows must "simply continue" from their ledger in EVERY
    // run mode. Snapshot execution's re-land branch would append the full
    // source snapshot onto the surviving rows (silent doubling), so the
    // protected flow always drains incrementally instead.
    val appId = s"graft.appendflow.${af.name}"
    val once = if (af.once) " (once)" else ""
    def progress(rows: Long, desc: String, idle: Boolean = false): Unit =
      flowProgress(events, af.name, rows, desc, idle)
    streamWindow(flowRoot(af), t, appId,
        incremental || resetDisallowed(af.target),
        AppendOnly(s"append flow ${af.name}", recomputes = false)) match {
      case None if sinkSpec.isDefined =>
        // a plain view flow RE-LANDS its full view every run — fine
        // for a pipeline-owned streaming table (full refresh resets
        // it), unrecoverable for an external sink
        require(af.stream.isDefined,
          s"sink ${af.target} needs a STREAM-resolvable source " +
            "(view flows re-land every run — duplicates a sink " +
            "could never shed)")
        progress(0L, s"sink ${af.target} (source not materialized)")
      case None =>
        val (aligned, rows) = align(gate(af.target, af.fn()))
        t.append(aligned)
        progress(rows(), s"append into ${af.target}$once")
      case Some(w) => w.state match {
        case UpToDate =>
          progress(0L, s"append into ${af.target} (incremental up-to-date)", idle = true)
        case Snapshot if sinkSpec.isDefined && w.stamp.isEmpty =>
          // a SINK never intentionally re-lands: an unchanged source
          // under snapshot execution is simply up-to-date (delivery
          // to an external destination must stay exactly-once)
          progress(0L, s"sink ${af.target} (snapshot up-to-date)", idle = true)
        case Snapshot => w.read { df =>
          // snapshot re-land, pinned at an exact source version and
          // RECORDED: without the stamp, the next incremental run would
          // re-append rows this full view already landed. The stamp rides
          // the append COMMIT itself (the txn-carrying append) — a
          // separate commit would leave a crash window where the rows
          // landed but the ledger lags. Without a stamp (the ledger is
          // already at/past the pin) the re-land is INTENTIONAL snapshot
          // semantics — plain append.
          val (aligned, rows) = align(gate(af.target, df))
          w.stamp match {
            case Some(v) => t.appendIdempotent(appId, v, aligned)
            case None => t.append(aligned)
          }
          progress(rows(), s"append into ${af.target} (snapshot @ v${w.cur})$once")
        }
        case _ => w.read { df =>
          // TRUE streaming append: the ledger rides the target's
          // transaction log via the idempotent append (atomic, replay-safe)
          val (aligned, rows) = align(gate(af.target, df))
          if (t.appendIdempotent(appId, w.cur, aligned))
            progress(rows(), s"append into ${af.target} (incremental ${w.span})")
        }
      }
    }
    if (af.once) onceFlowsDone.synchronized { onceFlowsDone += af.name; () }
  }

  private def runImpl(incremental: Boolean,
      quietIdle: Boolean = false): Unit = runLock.synchronized { try {
    val gb = GoldBuilder(spark)
    gates.clear() // this run's gates only (lastGate reads post-run state)
    idleEvents.clear()
    val events = mutable.ArrayBuffer[(String, String, Long, String)]()
    // row counts ride the Observation metric channel on the flow's own
    // write action — no extra pass over any batch (DLT's flow_progress
    // num_output_rows discipline)
    def observe(df: DataFrame): (DataFrame, () => Long) = Pipeline.observeRows(df)
    // select tables rooted at EXTERNAL input tables AND consumed by a flow
    // refresh before the flows: a CDC/append flow sourcing a cleaning-layer
    // select table (bronze → clean → silver, the medallion shape) must see
    // THIS run's cleaned rows, not last run's. Every other select table
    // keeps the post-flow slot, so a defining transform that reads a CDC
    // target via read() still sees this run's merged state — the two
    // demands conflict only for a select table that BOTH feeds a flow and
    // reads a flow target, which is a cross-layer cycle the graph can't
    // satisfy in one pass (feeding the flow wins; the dim read lags a run).
    val earlySelects = selectTables.collect {
      case (name, (source, fn))
          if rootsAtInput(source) && feedsAFlow(name) =>
        refreshSelectTable(name, source, fn, incremental, events)
        name
    }.toSet
    // append flows drain FIRST among the flows (declaration order): a CDC
    // flow reading an append-fed table sees this run's rows. `once = true`
    // flows drain only on this instance's first run (DLT's one-time
    // backfill). Under concurrency > 1 independent flows drain in waves:
    // same-target flows and chains (a flow reading another's target)
    // serialize; opaque view flows run alone.
    runWaves[AppendFlow](appendFlows.toSeq, events,
      barrier = af => af.stream.isEmpty ||
        af.stream.exists { case (src, _) => opaqueOrigin(src) },
      dependsOn = (a, b) => a.target == b.target ||
        a.stream.exists { case (src, _) => chainOrigin(src) == b.target })(
      (af, buf) => runAppendFlow(af, incremental, buf))
    // snapshot-diff CDC flows next (declaration order; their targets are
    // disjoint from the event-fed CDC flows' by construction), so an
    // event-fed flow sourcing a snapshot-maintained table sees this run's
    // state below
    snapshotFlows.foreach { f =>
      f.source match {
        case Left(name) =>
          val last = lastSnapshotVersion(f)
          val ver = last.getOrElse(0L) + 1
          val n = applySnapshot(f, views.getOrElse(name, () => read(name))(),
            ver, gb)
          events += (("flow_progress", f.target, n, s"snapshot v$ver diff"))
        case Right(next) =>
          var last = lastSnapshotVersion(f)
          var step = next(last)
          while (step.isDefined) {
            val (snap, ver) = step.get
            require(last.forall(ver > _),
              s"snapshot versions must strictly increase: $ver after ${last.get}")
            val n = applySnapshot(f, snap, ver, gb)
            events += (("flow_progress", f.target, n, s"snapshot v$ver diff"))
            last = Some(ver)
            step = next(last)
          }
      }
    }
    // event-fed CDC flows in dependency order; under concurrency > 1
    // independent flows apply in waves (a flow whose source chain
    // originates at another flow's target waits for it; plain-view
    // sources are opaque — they run alone as barriers)
    runWaves[CdcFlow](orderedFlows, events,
      barrier = f => opaqueOrigin(f.source),
      dependsOn = (a, b) => a.target == b.target ||
        chainOrigin(a.source) == b.target)(
      (f, buf) => runCdcFlow(f, gb, incremental, buf))
    runTail(events, incremental, quietIdle, earlySelects)
  } finally {
    failPinned.foreach(_.unpersist())
    failPinned.clear()
  } }

  /** Apply ONE CDC flow's batch to its target — the shared kernel of
   *  [[run]] (full-snapshot batch) and [[runIncremental]] (change-feed
   *  delta). `txn` rides the terminal merge/overwrite commit, advancing
   *  the flow's source-version ledger atomically with the apply. */
  private def applyCdcFlow(f: CdcFlow, batch: DataFrame, gb: GoldBuilder,
      txn: Option[(String, Long)] = None): Unit = {
      val tiebreak =
        if (f.tiebreak.nonEmpty) f.tiebreak
        else batch.columns.toSeq.filterNot(c => f.keys.contains(c) || c == f.sequenceBy)
      val t = tables(f.target)
      if (f.scdType == 2) {
        // history table: closed/updated open rows update in place, new
        // versions insert — merged on (keys, __START_AT). The
        // apply_as_deletes predicate is evaluated BEFORE except columns
        // drop (it typically reads the op-code metadata that
        // except_column_list then strips from the target).
        import org.apache.spark.sql.functions.{coalesce, expr, lit, struct}
        val delFlag = "__graft_is_delete"
        val flagged = f.applyAsDeletes match {
          case Some(p) => batch.withColumn(delFlag,
            coalesce(expr(p).cast("boolean"), lit(false)))
          case None => batch
        }
        // struct sequence_by: sequence on the synthesized tuple; the
        // component columns are sequencing metadata and leave the frame
        // (struct ordering IS the lexicographic tuple order)
        val seqCol =
          if (f.sequenceAlso.isEmpty) f.sequenceBy else "__graft_seq"
        val cleaned0 =
          if (f.sequenceAlso.isEmpty) flagged
          else flagged.withColumn(seqCol,
              struct((f.sequenceBy +: f.sequenceAlso).map(
                org.apache.spark.sql.functions.col): _*))
            .drop(f.sequenceBy +: f.sequenceAlso: _*)
        val cleaned = cleaned0.drop(f.exceptColumns: _*)
        val attrs = cleaned.columns.toSeq.filterNot(c =>
          f.keys.contains(c) || c == seqCol || c == delFlag)
        val trackCols =
          if (f.trackHistoryColumns.nonEmpty) Some(f.trackHistoryColumns)
          else if (f.trackHistoryExceptColumns.nonEmpty)
            Some(attrs.filterNot(f.trackHistoryExceptColumns.contains))
          else None
        val tb2 = (if (f.tiebreak.nonEmpty) f.tiebreak
          else attrs).filterNot(_ == delFlag)
        // additive evolution (DLT): widen the history table metadata-only
        // before the apply — closed rows serve NULL for the new columns,
        // and the first non-null arrival opens a version (the column's
        // value IS tracked state from then on)
        if (t.exists) {
          val newCols = cleaned.schema.fields.toSeq.filterNot(fl =>
            t.schema.fieldNames.contains(fl.name) || fl.name == delFlag ||
              fl.name == seqCol)
          if (newCols.nonEmpty)
            t.addColumns(newCols.map(fl => fl.name -> fl.dataType))
        }
        val rows = gb.scd2Apply(cleaned, if (t.exists) Some(t.read) else None,
          f.keys, seqCol, tb2,
          deleteCol = f.applyAsDeletes.map(_ => delFlag),
          trackCols = trackCols,
          ignoreNulls = f.ignoreNullUpdates)
        if (!t.exists) createTarget(f.target, rows.schema)
        t.merge(rows, f.keys :+ GoldBuilder.Scd2Start, txn = txn)
      } else {
        import org.apache.spark.sql.functions.{coalesce => fnCoalesce, col => fnCol, expr => fnExpr, lit => fnLit, max => fnMax}
        // apply_as_truncate: the NEWEST truncate event wipes the whole
        // target; only events sequenced strictly after it survive this
        // batch (earlier upserts were wiped with the table — DLT's
        // semantic). The wipe and the survivors land as ONE atomic
        // overwrite commit below — a crash can't leave the table empty
        // with the survivors lost, and concurrent readers never observe
        // the empty intermediate state; replay of the same batch
        // re-overwrites with the same survivor set (idempotent).
        var truncated = false
        val afterTruncate = f.applyAsTruncates match {
          case None => batch
          case Some(pred) =>
            val tFlag = fnCoalesce(fnExpr(pred).cast("boolean"), fnLit(false))
            val tSeq = batch.filter(tFlag).agg(fnMax(fnCol(f.sequenceBy))).head().get(0)
            if (tSeq == null) batch
            else {
              truncated = true
              batch.filter(fnCol(f.sequenceBy) > fnLit(tSeq) && !tFlag)
            }
        }
        // secondary sequence columns order FIRST among the tiebreaks
        // (lexicographic struct sequence_by), ahead of any deterministic
        // leftovers
        val tb1 = f.sequenceAlso ++ tiebreak.filterNot(f.sequenceAlso.contains)
        val latest = gb.latestPerKey(afterTruncate, f.keys, f.sequenceBy, tb1)
        // COLUMNS (list) keeps exactly the listed attributes (keys and the
        // sequence columns always ride along); COLUMNS * EXCEPT drops
        def keepCols(d: DataFrame): DataFrame =
          if (f.columnList.nonEmpty)
            d.select((f.keys ++ Seq(f.sequenceBy) ++ f.sequenceAlso ++ f.columnList)
              .distinct.map(fnCol): _*)
          else d.drop(f.exceptColumns: _*)
        val kept = keepCols(latest)
        if (!t.exists) createTarget(f.target, kept.schema)
        // DLT evolves the target ADDITIVELY when the feed grows columns:
        // widen the schema metadata-only FIRST (O(manifest); existing
        // files serve NULL — the same result as MERGE WITH SCHEMA
        // EVOLUTION, without the op-flag column riding the delete path
        // into the schema), then merge as usual. Type changes stay loud.
        val newCols = kept.schema.fields.toSeq
          .filterNot(fl => t.schema.fieldNames.contains(fl.name))
        if (newCols.nonEmpty) t.addColumns(newCols.map(fl => fl.name -> fl.dataType))
        val allCols = t.schema.fieldNames.toSeq
        // DLT's ignore_null_updates: matched rows take each source column
        // only when non-NULL (partial-row CDC feeds); the sequence column
        // always advances, inserts land the row as-is (DLT's rule)
        def updSet: Map[String, String] = allCols
          .filterNot(f.keys.contains).map(c =>
            c -> (if (c == f.sequenceBy || f.sequenceAlso.contains(c) ||
                !f.ignoreNullUpdates) s"s.$c"
              else s"coalesce(s.$c, t.$c)")).toMap
        if (truncated) {
          // post-truncate survivors REPLACE the table in one commit;
          // latest-per-key delete events simply don't survive the wipe
          val survivors = f.applyAsDeletes match {
            case None => kept
            case Some(delPred) => keepCols(latest.filter(
              !fnCoalesce(fnExpr(delPred).cast("boolean"), fnLit(false))))
          }
          t.overwrite(survivors.select(allCols.map(fnCol): _*), txn = txn)
        } else f.applyAsDeletes match {
          case None if !f.ignoreNullUpdates =>
            t.merge(kept, f.keys, Some(seqGeGuard(f.sequenceBy +: f.sequenceAlso)),
              txn = txn)
          case None =>
            t.merge(kept, f.keys,
              matchedGuard = Some(seqGeGuard(f.sequenceBy +: f.sequenceAlso)),
              matchedSet = Some(updSet), txn = txn)
          case Some(delPred) =>
            // CDC apply with deletes (the s39 statement, programmatic):
            // the op-coded batch keeps its metadata columns on the SOURCE
            // side only — column-level images carry just the target schema.
            // The predicate is evaluated HERE, in the source's own frame
            // (one boolean column riding the source), instead of being
            // re-qualified into the merge's s/t scope as text — unqualified
            // names, lambdas (`exists(ops, x -> x = 'D')`) and any other
            // expression shape resolve exactly as the user wrote them.
            import org.apache.spark.sql.functions.{coalesce, expr, lit}
            val delFlag = "__graft_is_delete"
            val flagged = latest.withColumn(delFlag,
              coalesce(expr(delPred).cast("boolean"), lit(false)))
            val seqGuard = s"(${seqGeGuard(f.sequenceBy +: f.sequenceAlso)})"
            t.merge(flagged, f.keys,
              matchedGuard = Some(seqGuard),
              matchedSet = Some(updSet),
              matchedDeleteWhen = Some(s"(s.$delFlag) AND ($seqGuard)"),
              insertGuard = Some(s"NOT s.$delFlag"),
              insertSet = Some(allCols.map(c => c -> s"s.$c").toMap),
              txn = txn)
        }
      }
  }

  /** Whether `name`'s stream chain roots at an EXTERNAL input table —
   *  nothing inside this pipeline run writes it, so a dataset over it can
   *  refresh FIRST (before the flows), letting a CDC/append flow source a
   *  cleaning-layer select table and see THIS run's rows (the medallion
   *  bronze → clean → silver shape). Datasets rooted at declared tables
   *  (CDC targets, upstream select tables) refresh in [[runTail]] after
   *  the flows, as before. */
  private def rootsAtInput(source: String): Boolean =
    resolveStreamRoot(source).exists { case (root, _) =>
      inputs.valuesIterator.exists(_ eq root)
    }

  /** Whether `source`'s streamingView chain passes through dataset
   *  `name` (including `source == name`). */
  private def chainTouches(source: String, name: String): Boolean = {
    var cur = source
    var depth = 0
    while (depth < 18) {
      if (cur == name) return true
      streamingViews.get(cur) match {
        case Some((src, _)) => cur = src; depth += 1
        case None => return false
      }
    }
    false
  }

  /** Whether some flow (CDC or stream-registered append) consumes dataset
   *  `name`, directly or through a streamingView chain — only such select
   *  tables refresh BEFORE the flows; the rest keep the post-flow slot so
   *  a transform that reads a CDC target via [[read]] still sees THIS
   *  run's merged state. */
  private def feedsAFlow(name: String): Boolean =
    flows.exists(f => chainTouches(f.source, name)) ||
      appendFlows.exists(_.stream.exists { case (src, _) =>
        chainTouches(src, name) })

  /** Refresh ONE streaming-select table (ST AS SELECT over one STREAM
   *  source): incremental mode appends the select over the source's
   *  delta; snapshot mode recomputes, stamping the ledger at the source's
   *  current version so the two modes interleave without gaps or doubles. */
  private def refreshSelectTable(name: String, source: String,
      fn: DataFrame => DataFrame, incremental: Boolean,
      events: mutable.ArrayBuffer[(String, String, Long, String)]): Unit = {
    val t = tables(name)
    val appId = s"graft.sttable.$name"
    def progress(rows: Long, desc: String, idle: Boolean = false): Unit =
      flowProgress(events, name, rows, desc, idle)
    def recompute(src: DataFrame, stamp: Option[Long], desc: String): Unit = {
      val (df, rows) = Pipeline.observeRows(gate(name, fn(src)))
      if (!t.exists) createTarget(name, df.schema)
      t.overwrite(df, txn = stamp.map(appId -> _))
      progress(rows(), desc)
    }
    streamWindow(resolveStreamRoot(source), t, appId, incremental,
        AppendOnly(s"streaming-select table $name", recomputes = true)) match {
      case None => recompute(read(source), None, "select-table refresh (recompute)")
      case Some(w) => w.state match {
        case UpToDate =>
          progress(0L, s"select-table from $source (incremental up-to-date)",
            idle = true)
        case st @ (Snapshot | Unreadable) =>
          // an unreadable window (a FULL REWRITE — e.g. an upstream select
          // table run in snapshot mode — or vacuumed history) falls back to
          // this table's own snapshot refresh instead of failing every later
          // run: the two execution modes interleave freely, so the fallback
          // IS the documented snapshot shape, and the next incremental run
          // resumes from cur
          val why = if (st == Unreadable)
            s" — source window ${w.span} is unreadable" else ""
          w.read(recompute(_, w.stamp,
            s"select-table refresh (recompute @ v${w.cur}$why)"))
        case _ => w.read { df =>
          val (out, rows) = Pipeline.observeRows(gate(name, fn(df)))
          if (!t.exists) createTarget(name, out.schema)
          if (t.appendIdempotent(appId, w.cur, out))
            progress(rows(), s"select-table append from $source (incremental ${w.span})")
        }
      }
    }
  }

  /** Post-flow stages shared by [[run]] and [[runIncremental]]: MV
   *  refresh, pending CLUSTER BY stamps, expectation events, the event
   *  log, and Fail-gate enforcement. `refreshedEarly` names the select
   *  tables [[runImpl]] already refreshed before the flows. */
  private def runTail(
      events: mutable.ArrayBuffer[(String, String, Long, String)],
      incremental: Boolean, quietIdle: Boolean = false,
      refreshedEarly: Set[String] = Set.empty): Unit = {
    def observe(df: DataFrame): (DataFrame, () => Long) = Pipeline.observeRows(df)
    // select tables FEEDING a join table refresh BEFORE it: the join's
    // source window must include THIS run's appended select rows, or the
    // enrichment would lag one run behind (a select table that instead
    // READS a join target keeps the post-join slot below — a table doing
    // BOTH is a cross-layer cycle one pass can't satisfy; feeding wins).
    val preJoinSelects = selectTables.collect {
      case (name, (source, fn))
          if !refreshedEarly.contains(name) &&
            joinTables.valuesIterator.exists(jt => chainTouches(jt.source, name)) =>
        refreshSelectTable(name, source, fn, incremental, events)
        name
    }.toSet
    // streaming join tables (the business_silver shape): enrich the fact
    // delta — or, in snapshot mode, the fact's pinned full snapshot —
    // against current dim snapshots, dedup latest-per-key, guarded merge.
    // After the CDC flows and any select tables that feed them (the
    // enrichment sees this run's dim and fact state), before the remaining
    // select tables and MVs (a gold select table or MV over the join
    // target sees this run's rows).
    joinTables.foreach { case (name, jt) =>
      val t = tables(name)
      val appId = s"graft.jointable.$name"
      val gb = GoldBuilder(spark)
      def applyBatch(batch0: DataFrame, pinned: Option[Long], desc: String): Unit = {
        val enriched = jt.enrich(batch0)
        val (batch, rows) = observe(gate(name, enriched))
        val tb = if (jt.tiebreak.nonEmpty) jt.tiebreak
          else enriched.columns.toSeq.filterNot(c =>
            jt.keys.contains(c) || c == jt.sequenceBy)
        val latest = gb.latestPerKey(batch, jt.keys, jt.sequenceBy, tb)
        if (!t.exists) createTarget(name, latest.schema)
        t.merge(latest, jt.keys,
          Some(s"s.${jt.sequenceBy} >= t.${jt.sequenceBy}"),
          txn = pinned.map(v => appId -> v))
        events += (("flow_progress", name, rows(),
          s"join-table merge from ${jt.source} $desc"))
      }
      def idle(desc: String): Unit =
        flowProgress(events, name, 0L, s"join-table from ${jt.source} $desc", idle = true)
      // snapshot semantics enrich the fact's FULL current contents: pinned
      // and stamped when the source roots at a table, unpinned otherwise
      streamWindow(resolveStreamRoot(jt.source), t, appId, incremental,
          Upsert(jt.keys, Seq(jt.sequenceBy), jt.tiebreak)) match {
        case None => applyBatch(read(jt.source), None, "(snapshot)")
        case Some(w) => w.state match {
          case UpToDate => idle("(incremental up-to-date)")
          case Snapshot => w.read(applyBatch(_, w.stamp, s"(snapshot @ v${w.cur})"))
          case _ => w.read { delta =>
            if (delta.isEmpty) {
              if (t.exists) { t.recordTxn(appId, w.cur); () }
              idle(s"(incremental ${w.span} empty)")
            } else applyBatch(delta, Some(w.cur), s"(incremental ${w.span})")
          }
        }
      }
    }
    // streaming-select tables not already refreshed before the flows or
    // the join tables (the rest must see this run's merges, including the
    // join tables refreshed just above). Under concurrency > 1 independent
    // tables refresh in waves; a table whose chain touches another's
    // target waits for it, opaque (plain-view) sources run alone.
    val postSelects = selectTables.toSeq.collect {
      case (name, (source, fn))
          if !refreshedEarly.contains(name) && !preJoinSelects.contains(name) =>
        (name, source, fn)
    }
    runWaves[(String, String, DataFrame => DataFrame)](postSelects, events,
      barrier = t => opaqueOrigin(t._2),
      dependsOn = (a, b) => chainTouches(a._2, b._1))(
      (t, buf) => refreshSelectTable(t._1, t._2, t._3, incremental, buf))
    // maintained aggregate MVs (SQL `CREATE OR REFRESH MATERIALIZED VIEW`
    // whose plan the engine proved maintainable, and [[incrementalAggMv]]
    // declarations): O(changed rows) after bootstrap, incremental from
    // the source's change feed when the source is table-backed; graceful
    // full-recompute fallback otherwise — the user declared an MV, never
    // an incremental contract. View-backed sources are opaque (their
    // recompute reads through read()) — those run alone.
    runWaves[(String, Pipeline.AutoMvSpec)](autoMvs.toSeq, events,
      barrier = { case (_, spec) =>
        !isTableBackedSource(spec.source) ||
          spec.joins.exists(j => !isTableBackedSource(j.dim)) ||
          spec.union.exists(b => !isTableBackedSource(b._1)) },
      dependsOn = (a, b) => a._2.source == b._1 ||
        a._2.joins.exists(_.dim == b._1) ||
        a._2.union.exists(_._1 == b._1))(
      (t, buf) => refreshAutoMv(t._1, t._2, buf))
    // materialized views refresh AFTER the flows (a gold MV over a silver
    // streaming table must see this run's merged state), in declaration
    // order — full recompute, atomically swapped in via overwrite
    mviews.foreach { case (name, fn) =>
      val (df, rows) = observe(gate(name, fn()))
      val t = tables(name)
      if (!t.exists) createTarget(name, df.schema)
      t.overwrite(df)
      // the target may have lived an AUTO-maintained life under an earlier
      // pipeline definition (a branch/source since became view-backed,
      // downgrading the MV to recompute): retire any surviving ledger
      // family so a later auto life re-bootstraps instead of resuming
      // from high-waters this overwrite already includes. Probe-gated —
      // a plain MV carries no ledgers and pays a metadata read only.
      retireMvLedgers(name, t)
      events += (("flow_progress", name, rows(), "materialized view refresh"))
    }
    // DLT `cluster_by`: stamp each declared clustering key once its table
    // has materialized (idempotent — one properties commit, ever)
    pendingClusterBy.foreach { case (name, cols) =>
      val t = tables(name)
      if (t.exists && t.clusterBy != cols) t.setClusterBy(cols)
    }
    // declared TBLPROPERTIES: stamped once materialized, only the keys not
    // already at their declared values (idempotent)
    pendingProps.foreach { case (name, kvs) =>
      val t = tables(name)
      if (t.exists) {
        val missing = kvs.filterNot { case (k, v) =>
          t.tableProperties.get(k).contains(v) }
        if (missing.nonEmpty) t.setTableProperties(missing)
      }
    }
    // data-quality events: one per expectation gate, with per-rule
    // violation counts (metrics already materialized by the flows' own
    // actions — the Observation channel, no re-scan)
    gates.foreach { case (name, g) =>
      events += (("expectation", name, g.passedCount,
        g.violations.toSeq.sortBy(_._1)
          .map { case (r, n) => s"$r=$n" }.mkString(",")))
    }
    // under CONTINUOUS mode a fully idle cycle (every event logged by an
    // idle window — see flowProgress — so nothing landed and no gates were
    // evaluated) writes NO log commit — the updater polls every second, and
    // one append per idle poll would grow __event_log without bound.
    // Triggered runs always log (DLT records every requested update).
    if (!(quietIdle && events.forall(idleEvents.contains))) writeEventLog(events.toSeq)
    gates.values.filter(_.policy == Expectations.Fail).foreach(_.assertClean())
  }

  /** Persist one run's events into the pipeline EVENT LOG — the DLT
   *  event-log surface (flow_progress rows-written per flow,
   *  per-expectation data-quality counts), queryable via [[eventLog]].
   *  One append commit per run; `run_id` is dense from 0, CLAIMED through
   *  the log table's own transaction ledger: the idempotent append commits
   *  (run_id, rows) atomically, so two live Pipeline instances over the
   *  same storageRoot can never mint colliding run_ids — the loser's
   *  append is refused and it retries one id higher. */
  private def writeEventLog(events: Seq[(String, String, Long, String)]): Unit =
    if (events.nonEmpty) {
      import spark.implicits._
      import org.apache.spark.sql.functions.max
      val el = LakeTable(spark, s"$storageRoot/__event_log")
      val app = "graft.eventlog.run"
      def mkRows(runId: Long) = events.zipWithIndex.map { case ((et, ds, n, msg), i) =>
        (runId, i.toLong, et, ds, n, msg)
      }.toDF("run_id", "event_seq", "event_type", "dataset", "rows", "message")
      // next id = ledger high-water + 1; pre-ledger logs fall back to one
      // max(run_id) probe of the (tiny) table
      def probe(floor: Long): Long = (el.lastTxnVersion(app).map(_ + 1).getOrElse(
        if (el.exists)
          Option(el.read.agg(max(org.apache.spark.sql.functions.col("run_id")))
            .head().get(0)).map(_.asInstanceOf[Long] + 1).getOrElse(0L)
        else 0L)).max(floor)
      var runId = probe(0L)
      while (!el.appendIdempotent(app, runId, mkRows(runId)))
        runId = probe(runId + 1) // lost the claim to a concurrent instance
    }

  /** The pipeline event log (DLT's `event_log()` surface): one row per
   *  event — `flow_progress` with rows processed per flow (append,
   *  snapshot, CDC, MV refresh), `expectation` with per-rule violation
   *  counts — keyed (run_id, event_seq). Empty relation before any run. */
  def eventLog: DataFrame = {
    val el = LakeTable(spark, s"$storageRoot/__event_log")
    if (el.exists) el.read
    else {
      import spark.implicits._
      Seq.empty[(Long, Long, String, String, Long, String)]
        .toDF("run_id", "event_seq", "event_type", "dataset", "rows", "message")
    }
  }

  /** The declared pipeline GRAPH as a relation — DLT's pipeline-graph
   *  observability surface next to [[eventLog]]: one row per declared
   *  dataset with its kind, its declared upstream dataset (the graph
   *  edge; NULL for roots and plain views, whose dependencies are
   *  closure-resolved), and whether the dataset currently refreshes
   *  incrementally (its stream chain resolves to a feed-readable root).
   *  Purely metadata — nothing executes. */
  def datasets: DataFrame = {
    import spark.implicits._
    def inc(source: String): Boolean = resolveStreamRoot(source).isDefined
    val rows =
      inputs.keysIterator.map(n => (n, "input", Option.empty[String], false)).toSeq ++
      streamingViews.iterator.map { case (n, (src, _)) =>
        (n, "streaming_view", Option(src), inc(src)) }.toSeq ++
      views.keysIterator.filterNot(n => tables.contains(n) ||
        inputs.contains(n) || streamingViews.contains(n))
        .map(n => (n, "view", Option.empty[String], false)).toSeq ++
      sinks.iterator.map { case (n, sk) =>
        val src = appendFlows.collectFirst {
          case af if af.target == n => af.stream.map(_._1) }.flatten
        (n, s"sink_${sk.format}", src, src.exists(inc)) }.toSeq ++
      tables.keysIterator.map { n =>
        if (selectTables.contains(n)) {
          val src = selectTables(n)._1
          (n, "streaming_table_as_select", Option(src), inc(src))
        } else if (joinTables.contains(n)) {
          val src = joinTables(n).source
          (n, "streaming_join_table", Option(src), inc(src))
        } else if (autoMvs.contains(n)) {
          val spec = autoMvs(n)
          // star-join MVs list fact + dims (the fact leads: it's the
          // delta side; dim changes recompute)
          val src = (spec.source +: spec.joins.map(_.dim)).mkString(",")
          (n, "materialized_view_auto", Option(src),
            (spec.source +: spec.joins.map(_.dim)).forall(s =>
              inputs.contains(s) || tables.contains(s)))
        } else if (mviews.contains(n))
          (n, "materialized_view", Option.empty[String], false)
        else {
          val src = flows.find(_.target == n).map(_.source)
            .orElse(snapshotFlows.find(_.target == n)
              .flatMap(_.source.left.toOption))
          (n, "streaming_table", src, src.exists(inc))
        }
      }.toSeq
    rows.toDF("name", "kind", "source", "incremental")
  }

  /** DLT's VALIDATE update: analyze the declared graph WITHOUT writing a
   *  row. Every dataset's defining query is resolved through Spark's
   *  analyzer (driver-side only — `.schema` forces analysis, no job runs);
   *  every CDC/append/join flow's source is resolved and its declared
   *  column lists (KEYS, SEQUENCE BY, EXCEPT/COLUMNS, track-history,
   *  DELETE/TRUNCATE WHEN expressions) are checked against the source's
   *  actual schema; every expectation expression is analysis-checked
   *  against its dataset; the CDC-flow DAG is cycle-checked; sinks are
   *  checked for STREAM-resolvable sources. Statuses:
   *   - `ok`       — analyzed; detail carries the resolved schema DDL (or
   *                  the flow's source line).
   *   - `deferred` — a source is declared but not yet materialized, so the
   *                  schema is unknowable until the first update runs (not
   *                  an error — DLT likewise resolves those at update time).
   *   - `error`    — the dataset or flow can never run as declared:
   *                  unknown source, missing column, unparseable
   *                  expression, flow cycle.
   *  Results come back as a relation (name, kind, status, detail) and are
   *  recorded in the event log as `validation` rows — the Validate-only
   *  update a user runs before scheduling a 100 TB pipeline. */
  def validate(): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import spark.implicits._
    val out = mutable.ArrayBuffer[(String, String, String, String)]()
    def firstLine(m: String): String =
      Option(m).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")
    def classify(e: Throwable): (String, String) = {
      val m = Option(e.getMessage).getOrElse(e.toString)
      // an existing-but-unmaterialized LakeTable reads as "does not
      // exist", an unmaterialized pipeline dataset as "not yet
      // materialized" — the graph is fine, the data just hasn't arrived
      if (m.contains("does not exist") || m.contains("not yet materialized"))
        ("deferred", firstLine(m))
      else ("error", firstLine(m))
    }
    def analyzedSchema(name: String)
        : Either[(String, String), org.apache.spark.sql.types.StructType] =
      try Right(read(name).schema)
      catch {
        case e: Throwable =>
          if (tables.contains(name) && !views.contains(name))
            // a flow target with no defining view: its schema is minted by
            // its flow's first run
            Left(("deferred", "materializes at first run"))
          else Left(classify(e))
      }
    def sourceFrame(source: String): DataFrame =
      views.getOrElse(source, () => read(source))()
    // sinks: external write-only destinations — no schema of their own
    // (their flows validate below); the row records the declared wiring
    sinks.foreach { case (n, sk) =>
      out += ((n, s"sink_${sk.format}", "ok", sk.path))
    }
    // datasets: resolve each declared name's schema
    (inputs.keys ++ views.keys ++ tables.keys).toSeq.distinct.foreach { n =>
      val kind =
        if (inputs.contains(n)) "input"
        else if (streamingViews.contains(n)) "streaming_view"
        else if (views.contains(n) && !tables.contains(n)) "view"
        else if (autoMvs.contains(n)) "materialized_view_auto"
        else if (mviews.contains(n)) "materialized_view"
        else "table"
      analyzedSchema(n) match {
        case Right(sc) =>
          out += ((n, kind, "ok", sc.toDDL))
          // expectations must analyze against the dataset's schema —
          // a typo'd column in a CONSTRAINT fails here, not mid-update
          tableGates.getOrElse(n, Nil).flatMap(_._2).foreach { case (cn, e) =>
            try { read(n).filter(expr(e)).schema; () }
            catch { case ex: Throwable =>
              out += ((n, "expectation", "error",
                s"CONSTRAINT $cn: ${firstLine(ex.getMessage)}"))
            }
          }
        case Left((st, detail)) => out += ((n, kind, st, detail))
      }
    }
    // CDC flow DAG: cycles are a graph-level error
    try { orderedFlows; () }
    catch { case e: Throwable =>
      out += (("__graph__", "cdc_flows", "error", firstLine(e.getMessage)))
    }
    // CDC flows: source resolves and the declared columns exist in it
    flows.foreach { f =>
      try {
        val src = sourceFrame(f.source)
        val cols = src.columns.toSet
        val named = (f.keys ++ Seq(f.sequenceBy) ++ f.sequenceAlso ++
          f.exceptColumns ++ f.columnList ++ f.trackHistoryColumns ++
          f.trackHistoryExceptColumns).filterNot(cols.contains)
        if (named.nonEmpty)
          out += ((f.flowName, "cdc_flow", "error",
            s"source ${f.source} lacks declared column(s): ${named.mkString(", ")}"))
        else {
          (f.applyAsDeletes.toSeq ++ f.applyAsTruncates.toSeq)
            .foreach(cond => { src.filter(expr(cond)).schema; () })
          out += ((f.flowName, "cdc_flow", "ok",
            s"scd${f.scdType} into ${f.target} from ${f.source}"))
        }
      } catch { case e: Throwable =>
        val (st, d) = classify(e)
        out += ((f.flowName, "cdc_flow", st, d))
      }
    }
    // append flows (incl. sink flows): the transform analyzes over the
    // source; raw sinks additionally need a STREAM-resolvable source
    appendFlows.foreach { af =>
      try {
        val sc = af.stream match {
          case Some((src, fn)) => fn(sourceFrame(src)).schema
          case None => af.fn().schema
        }
        if (sinks.get(af.target).exists(_.format != "lake") && af.stream.isEmpty)
          out += ((af.name, "append_flow", "error",
            s"sink ${af.target} needs a STREAM-resolvable source"))
        else out += ((af.name, "append_flow", "ok", sc.toDDL))
      } catch { case e: Throwable =>
        val (st, d) = classify(e)
        out += ((af.name, "append_flow", st, d))
      }
    }
    // join tables: the enrich output must still carry keys + sequence
    joinTables.foreach { case (n, jt) =>
      try {
        val enriched = jt.enrich(sourceFrame(jt.source))
        val cols = enriched.columns.toSet
        val named = (jt.keys :+ jt.sequenceBy).filterNot(cols.contains)
        if (named.nonEmpty)
          out += ((n, "join_table", "error",
            s"enriched ${jt.source} lacks declared column(s): ${named.mkString(", ")}"))
        else out += ((n, "join_table", "ok", enriched.schema.toDDL))
      } catch { case e: Throwable =>
        val (st, d) = classify(e)
        out += ((n, "join_table", st, d))
      }
    }
    writeEventLog(out.toSeq.map { case (n, _, st, d) =>
      ("validation", n, 0L, s"$st${if (d.nonEmpty) s": $d" else ""}") })
    out.toSeq.toDF("name", "kind", "status", "detail")
  }

  /** Publish the pipeline's datasets to [[graft.lake.LakeSql]] so plain
   *  SQL reads them by name — DLT's tables ARE catalog tables: with the
   *  `GraftExtensions` session extension, `spark.sql("SELECT … FROM
   *  silver")` resolves natively. Plain
   *  table-backed datasets register as FULL lake tables — SELECT, time
   *  travel, `table_changes`, DML and OPTIMIZE all work; datasets served
   *  through a presentation projection (an auto-maintained MV whose
   *  backing table carries hidden maintenance columns) register as
   *  READ-ONLY relations resolved freshly per query — a SQL reader sees
   *  exactly the declared columns and can never corrupt the maintenance
   *  state. Inputs register as full tables too. `prefix` namespaces the
   *  published names (e.g. `"sales."`). */
  def exposeSql(prefix: String = ""): this.type = {
    inputs.foreach { case (n, t) => graft.lake.LakeSql.register(prefix + n, t) }
    tables.foreach { case (n, t) =>
      if (presentations.contains(n))
        graft.lake.LakeSql.registerRelation(prefix + n, () => read(n))
      else graft.lake.LakeSql.register(prefix + n, t)
    }
    // DLT's `event_log()` SQL surface: the pipeline's event log is itself
    // queryable by name (read-only — the engine owns its writes)
    graft.lake.LakeSql.registerRelation(prefix + "event_log", () => eventLog)
    this
  }

  /** Remove this pipeline's [[exposeSql]] registrations. */
  def unexposeSql(prefix: String = ""): this.type = {
    inputs.keys.foreach(n => graft.lake.LakeSql.unregister(prefix + n))
    tables.foreach { case (n, _) =>
      if (presentations.contains(n))
        graft.lake.LakeSql.unregisterRelation(prefix + n)
      else graft.lake.LakeSql.unregister(prefix + n)
    }
    graft.lake.LakeSql.unregisterRelation(prefix + "event_log")
    this
  }

  /** DLT's scheduled MAINTENANCE update (the Databricks runtime runs
   *  OPTIMIZE and VACUUM on pipeline tables roughly daily): for every
   *  MATERIALIZED declared table,
   *   - liquid-clustered tables take the INCREMENTAL clustering pass
   *     ([[graft.lake.LakeTable.optimizeClustered]]) — O(data written
   *     since the last pass), a no-op when nothing new landed: at 100 TB
   *     the nightly bill is yesterday's ingest, never the table;
   *   - everything else bin-packs ([[graft.lake.LakeTable.optimizeCompact]])
   *     ONLY when a driver-side probe says the layout needs it (≥2 small
   *     files or live deletion vectors — which the pack materializes);
   *     an already-packed table costs one listing, zero commits;
   *   - with `retainVersions = Some(n)`, VACUUM then drops data no
   *     recent-n version references. Safe for lagging incremental
   *     consumers: a vacuumed change window reads as feed-UNREADABLE
   *     ([[graft.lake.LakeTable.feedReadable]] probes dir existence), so
   *     the consumer re-bootstraps at its next run instead of wedging —
   *     still, size the retention to your consumers' lag to keep their
   *     refreshes incremental.
   *  Inputs and sinks are external — never maintained. Event-logged per
   *  table; returns one row per action taken. */
  def maintain(retainVersions: Option[Int] = None,
      targetFileBytes: Long = 128L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val out = mutable.ArrayBuffer[(String, String, String)]()
    // COMPANION tables ride maintenance too: COUNT(DISTINCT) multisets and
    // MIN/MAX top-K companions are written by EVERY MV refresh (one dir
    // per window) but belong to no declared dataset — without this they
    // grow files forever while the panels they serve stay packed
    val companions: Seq[(String, LakeTable)] = autoMvs.toSeq.flatMap {
      case (name, spec) =>
        spec.dcounts.map { case (a, _) =>
          s"${name}__dist_$a" ->
            LakeTable(spark, s"$storageRoot/${name}__dist_$a") } ++
        (spec.mins ++ spec.maxs).map { case (a, _) =>
          s"${name}__ext_$a" ->
            LakeTable(spark, s"$storageRoot/${name}__ext_$a") }
    }
    (tables.toSeq ++ companions).foreach { case (name, t) =>
      if (t.exists) try {
        val key = t.clusterBy
        if (key.nonEmpty) {
          val st = t.optimizeClustered(key, targetFileBytes)
          if (st.filesRewritten > 0)
            out += ((name, "optimize_clustered",
              s"clustered ${st.filesRewritten} file(s) on ${key.mkString(",")} " +
                s"(${st.bytesRewritten} bytes; ${st.filesLinked} untouched)"))
          else out += ((name, "optimize_clustered", "up-to-date"))
        } else if (t.needsCompaction(targetFileBytes)) {
          val st = t.optimizeCompact(targetFileBytes)
          out += ((name, "optimize_compact",
            s"packed ${st.filesRewritten} file(s) from ${st.bytesRewritten} " +
              s"bytes (${st.filesLinked} linked)"))
        } else out += ((name, "optimize_compact", "not needed"))
        retainVersions.foreach { n =>
          t.vacuum(n)
          out += ((name, "vacuum", s"retained newest $n version(s)"))
        }
      } catch { case e: graft.lake.ConcurrentWriteException =>
        // best-effort like DLT's maintenance: a lost race just means a
        // writer is active — the next maintenance window retries
        out += ((name, "skipped", e.getMessage.linesIterator.next()))
      }
    }
    writeEventLog(out.toSeq.map { case (n, act, d) =>
      ("maintenance", n, 0L, s"$act: $d") })
    out.toSeq.toDF("name", "action", "detail")
  }

  /** Last processed snapshot version for `f`: the in-memory counter, else
   *  (SCD2) the target's max `__START_AT` — SCD2 versions survive
   *  instance restarts through the history itself. */
  private def lastSnapshotVersion(f: SnapshotFlow): Option[Long] =
    snapshotVersions.get(f.target).orElse {
      val t = tables(f.target)
      if (f.scdType == 2 && t.exists)
        Option(t.read.agg(org.apache.spark.sql.functions
          .max(org.apache.spark.sql.functions.col(GoldBuilder.Scd2Start)))
          .head().get(0)).map(_.asInstanceOf[Number].longValue)
      else None
    }

  /** Diff one full snapshot (at `ver`) against `f.target` and apply it —
   *  the single-snapshot step of [[autoCdcFromSnapshotFlow]]. One shuffle
   *  on the keys end-to-end: the SCD1 path is a single guarded merge with
   *  WHEN NOT MATCHED BY SOURCE DELETE; the SCD2 path synthesizes delete
   *  events for vanished open keys (left-anti on the same keys) and runs
   *  the shared [[graft.gold.GoldBuilder.scd2Apply]] kernel. */
  private def applySnapshot(f: SnapshotFlow, snap0: DataFrame, ver: Long,
      gb: GoldBuilder): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val t = tables(f.target)
    val snap = gate(f.target, snap0)
    // the observed reference flows into the plan exactly ONCE (the upsert
    // arm / the SCD1 merge source); the anti-join probe below reads the
    // un-observed frame so no CollectMetrics node is duplicated
    val (snapObs, snapRows) = Pipeline.observeRows(snap)
    f.keys.foreach(k => require(snap.columns.contains(k),
      s"snapshot is missing key column $k"))
    // additive evolution: a snapshot that grows columns widens the target
    // metadata-only first (pre-evolution rows serve NULL)
    if (t.exists) {
      val newCols = snap.schema.fields.toSeq
        .filterNot(fl => t.schema.fieldNames.contains(fl.name))
      if (newCols.nonEmpty)
        t.addColumns(newCols.map(fl => fl.name -> fl.dataType))
    }
    if (f.scdType == 1) {
      if (!t.exists) createTarget(f.target, snap.schema)
      val attrs = t.schema.fieldNames.toSeq.filterNot(f.keys.contains)
      // update only rows whose attributes actually changed; target keys
      // absent from the snapshot are deletes
      val changed = attrs.map(a => s"NOT (s.$a <=> t.$a)")
      t.merge(snapObs, f.keys,
        matchedGuard =
          Some(if (changed.isEmpty) "false" else changed.mkString(" OR ")),
        deleteUnmatchedTarget = Some("true"))
    } else {
      val delFlag = "__graft_is_delete"
      val verCol = "__snapshot_ver"
      val up = snapObs.withColumn(verCol, lit(ver)).withColumn(delFlag, lit(false))
      val events =
        if (t.exists) {
          // open keys that vanished from the snapshot → delete events
          val gone = t.read.filter(col(GoldBuilder.Scd2End).isNull)
            .select(f.keys.map(col): _*)
            .join(snap, f.keys, "left_anti")
          val attrFields = snap.schema.fields.toSeq
            .filterNot(fl => f.keys.contains(fl.name))
          val delRows = attrFields.foldLeft(gone) { (d, fl) =>
              d.withColumn(fl.name, lit(null).cast(fl.dataType)) }
            .select(snap.columns.toSeq.map(col): _*)
            .withColumn(verCol, lit(ver)).withColumn(delFlag, lit(true))
          up.unionByName(delRows)
        } else up
      val attrs = snap.columns.toSeq.filterNot(f.keys.contains)
      val trackCols =
        if (f.trackHistoryColumns.nonEmpty) Some(f.trackHistoryColumns)
        else if (f.trackHistoryExceptColumns.nonEmpty)
          Some(attrs.filterNot(f.trackHistoryExceptColumns.contains))
        else None
      val rows = gb.scd2Apply(events, if (t.exists) Some(t.read) else None,
        f.keys, verCol, attrs, deleteCol = Some(delFlag), trackCols = trackCols)
      if (!t.exists) createTarget(f.target, rows.schema)
      t.merge(rows, f.keys :+ GoldBuilder.Scd2Start)
    }
    snapshotVersions(f.target) = ver
    snapRows()
  }

  /** DLT's FULL REFRESH: every declared table is cleared and recomputed
   *  from scratch in one update — `once = true` append flows drain again
   *  (the documented full-refresh exception to once semantics), SCD
   *  targets rebuild from the sources' current contents, and snapshot
   *  version counters restart. Each table keeps its schema and its
   *  version history (the wipe is an overwrite commit — time travel to
   *  pre-refresh versions still works). */
  def runFullRefresh(): Unit = {
    // DLT's `pipelines.reset.allowed = 'false'`: the table is EXCLUDED
    // from a whole-pipeline full refresh — its data (often an
    // irreplaceable append-only history) survives, its ONCE-flow markers
    // and snapshot counters keep their state, and its flows simply
    // continue. An explicitly-selected refresh of such a table refuses
    // instead (runFullRefresh(only)).
    onceFlowsDone.filterInPlace(fn =>
      appendFlows.exists(af => af.name == fn && resetDisallowed(af.target)))
    snapshotVersions.filterInPlace { case (target, _) => resetDisallowed(target) }
    tables.foreach { case (name, t) =>
      if (t.exists && !resetDisallowed(name)) t.overwrite(t.read.limit(0))
    }
    // an incremental agg MV's ledger describes the WIPED state now: clear
    // it so the refresh re-bootstraps from the full source snapshot —
    // otherwise the ledger says "up to date" over an empty target and the
    // MV stays empty forever. (A reset-protected MV keeps its ledger and
    // just continues incrementally.) CDC/append flow ledgers deliberately
    // KEEP: the snapshot re-run below rebuilds those targets from the
    // sources' full current contents, so their ledgers remain consistent
    // (clearing them would force a full change-feed replay that vacuumed
    // history might not even serve).
    autoMvs.keys.filterNot(resetDisallowed).foreach { name =>
      val t = tables(name)
      if (t.exists) { t.clearTxn(s"graft.aggmv.$name"); () }
    }
    run()
  }

  /** Whether `name` declared or carries `pipelines.reset.allowed = 'false'`
   *  (DLT's full-refresh protection property). */
  private def resetDisallowed(name: String): Boolean = {
    val declared = pendingProps.get(name).flatMap(_.get(Pipeline.ResetAllowedProp))
    val stamped = tables.get(name).filter(_.exists)
      .flatMap(_.tableProperties.get(Pipeline.ResetAllowedProp))
    stamped.orElse(declared).exists(_.equalsIgnoreCase("false"))
  }

  /** DLT's REFRESH SELECTION: full-refresh ONLY the named datasets while
   *  the REST of the graph runs a normal incremental update — at 100 TB
   *  the difference between re-bootstrapping one misdeclared gold table
   *  and re-reading every layer. Each selected table is wiped (an
   *  overwrite commit — time travel to pre-refresh versions still works)
   *  and EVERY ledger its flows ride is cleared, so its CDC/append/select/
   *  join/MV flows re-bootstrap from the sources' current contents;
   *  `once = true` append flows into a selected target drain again (the
   *  documented full-refresh exception), and snapshot-CDC version counters
   *  restart. Untouched tables keep their data files; downstream
   *  incremental consumers of a refreshed table see its wipe/rebuild as a
   *  full-rewrite window and recover through the existing fallbacks
   *  (re-pin at the current snapshot / snapshot-refresh / re-bootstrap —
   *  sound because the guarded merges are replay-idempotent). */
  def runFullRefresh(only: Set[String]): Unit = {
    val unknown = only.filterNot(tables.contains)
    require(unknown.isEmpty,
      s"refresh selection names undeclared tables: ${unknown.toSeq.sorted.mkString(", ")}")
    // an EXPLICIT selection of a reset-protected table is refused loudly
    // (a whole-pipeline full refresh silently skips it instead)
    val protectedSel = only.filter(resetDisallowed)
    require(protectedSel.isEmpty,
      s"refresh selection names reset-protected table(s) " +
        s"(${Pipeline.ResetAllowedProp} = 'false'): " +
        protectedSel.toSeq.sorted.mkString(", "))
    only.foreach { name =>
      appendFlows.filter(_.target == name).foreach { af =>
        onceFlowsDone -= af.name; ()
      }
      snapshotVersions -= name
      val t = tables(name)
      if (t.exists) {
        t.overwrite(t.read.limit(0))
        (Seq(s"graft.flow.$name", s"graft.sttable.$name",
          s"graft.jointable.$name", s"graft.aggmv.$name") ++
          appendFlows.filter(_.target == name)
            .map(af => s"graft.appendflow.${af.name}"))
          .foreach { app => t.clearTxn(app); () }
      }
    }
    runIncremental()
  }

  /** The refresh kernel behind every maintained aggregate MV (SQL-detected
   *  and [[incrementalAggMv]] alike). The view is maintained from the
   *  SOURCE TABLE'S CHANGE FEED: each refresh reads only the versions
   *  committed since the last one (the last-consumed version rides the
   *  target's transaction ledger, committed ATOMICALLY with the merge — a
   *  ±delta applied twice would double-count, so exactly-once is the
   *  merge-txn primitive, not replay idempotence), turns the row images
   *  into SIGNED deltas (+1 for insert/postimage, −1 for delete/preimage —
   *  a group-moving update subtracts from the old group and adds to the
   *  new one), pre-aggregates them per group (one shuffled row per
   *  touched group) and merges: matched groups add their delta, groups
   *  whose count reaches zero DELETE, new groups insert. The first refresh
   *  bootstraps from the full snapshot (O(table), once).
   *
   *  Aggregates are the spec's (alias, SQL expression) pairs; an optional
   *  per-row WHERE filters BOTH the bootstrap snapshot and the change
   *  images (a stateless row predicate commutes with the signed-delta
   *  algebra), and the count column carries the spec's COUNT(*) alias
   *  (the group-death detector, always materialized). Hidden per-SUM
   *  non-null counts give exact SUM NULL algebra (a group is NULL iff it
   *  holds no non-null inputs — including the fully-retracted-
   *  contributions case); `avgs` ride a hidden SUM+COUNT decomposition
   *  (presented as their quotient cast to the declared AVG type) and
   *  `cntCols` signed non-null counts. Returns (rows processed, refresh
   *  mode) — the mode feeds the event log.
   *
   *  STAR-JOIN maintenance (`dims` + the spec's joins): the source is the
   *  FACT/delta side, enriched against the dimension frames through
   *  [[autoMvEnrich]]; `groupExprs` carry the (possibly qualified)
   *  group-defining SQL parallel to the `groupBy` output names. Inner joins
   *  distribute over the signed-delta union — γ((F+ΔF) ⋈ D) =
   *  merge(γ(F ⋈ D), γ±(ΔF ⋈ D)) — so while the dims are UNCHANGED since
   *  the MV's pins the fact window joined against the pinned dim snapshots
   *  maintains the MV exactly; any dim change (or an unpinnable state)
   *  falls back to recompute, re-pinning. Pins ride the MV's own table
   *  properties in a follow-up metadata commit — a crash between the
   *  bootstrap and the pin write only costs one extra recompute, never a
   *  wrong incremental window. */
  private def runAggMvCore(
      target: String,
      spec: Pipeline.AutoMvSpec,
      source: LakeTable,
      dims: Seq[(String, LakeTable)],
      union: Seq[(LakeTable, Option[Seq[(String, String)]], Option[String])],
      unionDef: Option[String],
      defFp: Option[String]): (Long, String) = {
    import org.apache.spark.sql.functions.{avg, broadcast, col, count, countDistinct, expr, lit, max, min, sum, when}
    import spec.{avgs, dcounts, groupBy, groupExprs, maxs, mins, sums, where}
    require(groupBy.nonEmpty, "incremental agg MV needs GROUP BY columns")
    val cnts = spec.cntCols
    val cntAlias = spec.counts.headOption.getOrElse("__cnt")
    val enrich: Map[String, DataFrame] => DataFrame => DataFrame =
      autoMvEnrich(spec, _)
    val dimEqui = spec.joins.collect {
      case j if j.equi.nonEmpty => j.dim -> j.equi }.toMap
    val dimBands = spec.joins.collect {
      case j if j.bands.nonEmpty => j.dim -> j.bands }.toMap
    // companion tables: one COUNT(DISTINCT) multiset per dcount, one
    // extreme top-K per MIN/MAX (see `extremes` below)
    def companion(kind: String, a: String) =
      LakeTable(spark, s"$storageRoot/${target}__${kind}_$a")
    val distTables = dcounts.map { case (a, _) => companion("dist", a) }
    val extMins = mins.map { case (a, _) => companion("ext", a) }
    val extMaxs = maxs.map { case (a, _) => companion("ext", a) }
    val t = tables(target)
    val appId = s"graft.aggmv.$target"
    // UNION ALL branches: (per-branch ledger id, table, optional
    // positional projection). Empty `union` = the classic single-source
    // MV: ONE branch whose ledger is appId itself — the generalized code
    // below degenerates to the original single-window behavior, and
    // existing MV ledgers keep working unchanged. Branch 0 of a union MV
    // also keeps appId (its overwrite bootstrap carries that stamp); the
    // rest ride `.uN` suffixes stamped metadata-only after bootstrap.
    // γ over UNION ALL is additive: each branch's signed window applies
    // independently, in any order, each merge carrying its own ledger —
    // a crash between branch merges just leaves later branches for the
    // next run (their ledgers haven't moved).
    val branches: Seq[(String, LakeTable, Option[Seq[(String, String)]], Option[String])] =
      if (union.isEmpty) Seq((appId, source, None, None))
      else union.zipWithIndex.map { case ((ut, cols, bw), i) =>
        (if (i == 0) appId else s"$appId.u$i", ut, cols, bw) }
    // a positional union of the branches at the given versions — Spark's
    // set-operation widening gives SQL UNION ALL type semantics, names
    // from the first branch (what the declared query's analyzer binds).
    // A branch's row-local WHERE filters PRE-projection (it may reference
    // columns the projection drops — SQL's evaluation order).
    def unionAt(vers: Seq[Long]): DataFrame =
      branches.zip(vers).map { case ((_, bt, cols, bw), v) =>
        val df0 = bt.readVersion(v)
        val df = bw.fold(df0)(w => df0.filter(expr(w)))
        cols.fold(df)(cs => df.select(cs.map { case (e, n) =>
          expr(e).as(n) }: _*))
      }.reduce(_ union _)
    def filtered(df: DataFrame): DataFrame = where.fold(df)(w => df.filter(expr(w)))
    // SESSION-ZONE sensitivity: expression GROUP keys always (their
    // bucketing IS the zone question), and otherwise any maintained
    // expression — the WHERE clause or an aggregate input — that calls a
    // zone-dependent date/time function or casts through DATE/TIMESTAMP.
    // A zone-sensitive MV pins the session timezone at bootstrap and
    // recomputes (once) when maintained under a different one; a
    // plain-column MV skips the pin entirely.
    // union BRANCH expressions are maintained per row image too: each
    // branch's row-local WHERE and projected expressions evaluate inside
    // the signed windows, so a zone-dependent term there pins the zone
    // exactly like the top-level WHERE (round-18 review)
    val tzSensitive: Boolean = groupExprs.nonEmpty ||
      (where.toSeq ++
        (sums ++ mins ++ maxs ++ avgs ++ cnts ++ dcounts).map(_._2) ++
        union.flatMap { case (_, cols, bw) =>
          cols.toSeq.flatten.map(_._1) ++ bw.toSeq })
        .exists(Pipeline.zoneSensitiveSql(spark, _))
    // dimension versions probed ONCE and read AT that version everywhere
    // below — the pin can never be newer than the state that was joined
    val dimsCur: Seq[(String, Long)] =
      dims.map { case (n, dt) => n -> dt.currentVersion }
    def dimPinProp(n: String) = s"graft.aggmv.dimpin.$n"
    // EFFECTIVE pin: the pin property, or a NEWER dim-delta merge txn —
    // the dim-delta merge commits its new pin as a txn atomically with
    // the delta itself; the property lands in a follow-up commit, so
    // after a crash in between the txn is authoritative (re-trusting the
    // stale property would re-apply the already-merged dim delta).
    val tProps = if (t.exists) t.tableProperties else Map.empty[String, String]
    def effPin(n: String): Option[Long] = {
      val prop = tProps.get(dimPinProp(n))
        .flatMap(s => scala.util.Try(s.toLong).toOption)
      val tx = if (t.exists) t.lastTxnVersion(s"$appId.dimpin.$n") else None
      (prop.toSeq ++ tx.toSeq).maxOption
    }
    val dimPins: Map[String, Long] =
      dims.flatMap { case (n, _) => effPin(n).map(n -> _) }.toMap
    val changedDims: Seq[(String, Long)] =
      dimsCur.filter { case (n, v) => !dimPins.get(n).contains(v) }
    val dimsChanged: Boolean = dims.nonEmpty && changedDims.nonEmpty
    val en: DataFrame => DataFrame =
      if (dims.isEmpty) enrich(Map.empty)
      else enrich(dims.zip(dimsCur).map { case ((n, dt), (_, v)) =>
        n -> dt.readVersion(v) }.toMap)
    // the fact WINDOW joins dims at their PINNED versions — the state the
    // MV reflects. While no dim changed pin == cur and the two enrichers
    // coincide; when one changed and the dim-delta path below will close
    // the gap, the window must still see the OLD dim (the delta algebra
    // orders fact-window-first: γ(F_cur ⋈ D_pin), then ±(F_cur ⋈ ΔD)).
    val enPinned: DataFrame => DataFrame =
      if (dims.isEmpty) enrich(Map.empty)
      else enrich(dims.map { case (n, dt) =>
        n -> dt.readVersion(dimPins.getOrElse(n, dt.currentVersion)) }.toMap)
    val gCols = if (groupExprs.nonEmpty) groupExprs.map(expr) else groupBy.map(col)
    // qualified group expressions derive their own column names — rename
    // positionally to the declared output names (grouping columns lead)
    def nameGroups(df: DataFrame, tailNames: Seq[String]): DataFrame =
      if (groupExprs.nonEmpty) df.toDF((groupBy ++ tailNames): _*) else df
    // Sums are TYPE-FAITHFUL: the accumulator is whatever the declared
    // query's SUM would produce (long for integral, widened decimal for
    // decimal) — detection must never change the MV's declared result
    // type or values. FLOAT/DOUBLE accumulators are routed to recompute
    // below (not associative — a long-lived MV would drift ULPs from a
    // recompute), so the incremental path only ever adds exact types.
    val lasts = branches.map { case (lid, _, _, _) =>
      t.lastTxnVersion(lid).getOrElse(-1L) }
    val curs = branches.map(_._2.currentVersion)
    val last = lasts.head
    val cur = curs.head
    val anyNew = branches.indices.exists(i => curs(i) > lasts(i))
    // UNION-DEFINITION pin staleness (checked BEFORE the up-to-date
    // short-circuit: branch ledgers are positional, so a reordered or
    // re-filtered redeclaration can alias one branch's high-water onto
    // another table's version and read as spuriously idle). ABSENT pin =
    // out-of-date, same fail-safe rule as the tz pin.
    val unionShapeStale: Option[String] =
      if (!t.exists) None
      else if (union.isEmpty)
        // SYMMETRIC fail-safe: a union MV redeclared as a single-source
        // MV still carries the union pin — its positional branch ledgers
        // would otherwise read as a valid single-source high-water and
        // the dropped branches' rows would stay in the panel forever.
        // One recompute; the bootstrap clears the pin.
        if (tProps.contains(Pipeline.UnionDefProp))
          Some("recompute: union shape changed")
        else None
      else if (unionDef.isEmpty) None
      else tProps.get(Pipeline.UnionDefProp) match {
        case Some(h) if unionDef.contains(h) => None
        case Some(_) => Some("recompute: union shape changed")
        case None => Some("recompute: union definition unpinned")
      }
    // WHOLE-DEFINITION pin (checked after the more specific
    // union-shape reason): a redeclared WHERE/aggregate/join over the
    // same source is invisible to the ledger — ABSENT pin fails safe
    val defStale: Option[String] =
      if (!t.exists || defFp.isEmpty || unionShapeStale.nonEmpty) None
      else tProps.get(Pipeline.MvDefProp) match {
        case Some(h) if defFp.contains(h) => None
        case Some(_) => Some("recompute: definition changed")
        case None => Some("recompute: definition unpinned")
      }
    if (!anyNew && t.exists && !dimsChanged && unionShapeStale.isEmpty &&
        defStale.isEmpty)
      return (0L, "up-to-date")

    // FLOATING-SUM POLICY (COVERAGE.md): a double/float SUM or
    // AVG keeps RECOMPUTE refresh — pinned at the source version and
    // skipped when idle, but never incrementally drifted. Driver-side
    // schema probe only (the enriched zero-row frame carries the join
    // schema — for a union MV the UNIONED frame, whose widened set-op
    // types are the declared result's inputs); an unresolvable expression
    // falls through to fail loudly in the aggregate itself.
    lazy val floating = source.exists && scala.util.Try {
      val probe = en(
        (if (union.isEmpty) source.read else unionAt(curs)).limit(0))
      (sums ++ avgs).exists { case (_, e) =>
        probe.select(expr(e)).schema.head.dataType match {
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType => true
          case _ => false
        }
      }
    }.getOrElse(false)

    // EXTREME COMPANIONS (the MIN/MAX retraction-maintenance machinery —
    // the aggregate the signed algebra alone can't maintain): one bounded
    // per-group top-K table per MIN/MAX, holding the EXACT multiset of the
    // group's values STRICTLY beyond its bootstrap floor (the K+1-ranked
    // value; NULL floor = fewer than K+1 distinct values, track all). The
    // floor gate is load-bearing: inserts at-or-beyond the floor are
    // REJECTED, so every tracked count is exact and companion-nonempty ⇒
    // its extreme dominates every untracked value. Deletes that leave the
    // companion nonempty maintain in O(window); a drained-but-live group
    // (the true extreme fell past the floor) or an overgrown companion
    // (monotone domains outgrow the floor) costs ONE recompute, which
    // re-trims. Union branches maintain companions too (each branch
    // window merges under its OWN per-branch companion ledger); a
    // FLOATING-sum MV (recompute every refresh by policy) skips the
    // companions entirely: they would be rebuilt per refresh and never
    // consulted — so past the floating recompute below, every MIN/MAX is
    // companion-maintained.
    //   (alias, expr, companion, isMin, index)
    lazy val extremes: Seq[(String, String, LakeTable, Boolean, Int)] =
      if ((mins.nonEmpty || maxs.nonEmpty) && floating) Nil
      else (mins.zip(extMins).map { case ((a, e), et) => (a, e, et, true) } ++
        maxs.zip(extMaxs).map { case ((a, e), et) => (a, e, et, false) })
        .zipWithIndex.map { case ((a, e, et, m), i) => (a, e, et, m, i) }

    // bootstrap: one full-snapshot aggregation at version `cur` — also the
    // recompute fallback when the window spans a FULL-REWRITE source
    // commit (the feed can't serve signed deltas across it), when a
    // maintained extreme drains or overgrows its companion, and for
    // floating-point aggregates: RE-bootstrapping replaces the MV with
    // the recomputed panel — correct by definition and un-wedges the
    // consumer — instead of failing every run.
    def bootstrap(mode: String): (Long, String) = {
      val snap0 = filtered(en(
        if (union.isEmpty) source.readVersion(cur) else unionAt(curs)))
      // companions + the main aggregate each scan the snapshot — one
      // cached pass when any companion exists, a single scan otherwise
      val snapCached = dcounts.nonEmpty || extremes.nonEmpty
      val snap = if (snapCached)
        snap0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else snap0
      try {
      // COUNT(DISTINCT) companions rebuild FIRST: each holds the (group,
      // value) multiplicities of the snapshot — the MV overwrite below
      // carries the ledger, so a crash in between just re-bootstraps
      dcounts.zip(distTables).foreach { case ((_, e), dt) =>
        val comp = snap.filter(expr(e).isNotNull)
          .groupBy((gCols :+ expr(e)): _*)
          .agg(count(lit(1)).as("__vcnt"))
          .toDF((groupBy ++ Seq("__v", "__vcnt")): _*)
        if (!dt.exists) dt.create(comp.schema)
        dt.overwrite(comp)
      }
      // extreme companions: per group the top-K distinct values (by the
      // extreme's own order) with exact multiplicities; every row carries
      // the group FLOOR — the K+1-ranked value (NULL: group tracks all).
      // The (group, value) multiset is aggregated ONCE per distinct
      // expression and shared by a MIN and MAX over the same column.
      val valsByExpr: Map[String, DataFrame] =
        extremes.map(_._2).distinct.map { e =>
          e -> snap.filter(expr(e).isNotNull)
            .groupBy((gCols :+ expr(e)): _*)
            .agg(count(lit(1)).as("__vcnt"))
            .toDF((groupBy ++ Seq("__v", "__vcnt")): _*)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }.toMap
      try extremes.foreach { case (_, e, et, isMin, _) =>
        val vals = valsByExpr(e)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(groupBy.map(col): _*)
          .orderBy(if (isMin) col("__v").asc else col("__v").desc)
        val ranked = vals.withColumn("__rk",
          org.apache.spark.sql.functions.row_number().over(w))
        val floors = ranked
          .filter(col("__rk") === Pipeline.ExtremeCompanionK + 1)
          .select(groupBy.map(c => col(c).as(s"__k_$c")) :+
            col("__v").as("__floor"): _*)
        val kept = ranked.filter(col("__rk") <= Pipeline.ExtremeCompanionK)
          .drop("__rk")
          .join(floors,
            groupBy.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _),
            "left")
          .drop(groupBy.map(c => s"__k_$c"): _*)
        if (!et.exists) et.create(kept.schema)
        et.overwrite(kept)
      } finally valsByExpr.values.foreach { v => v.unpersist(); () }
      val aggs =
        sums.map { case (a, e) => sum(expr(e)).as(a) } ++
        mins.map { case (a, e) => min(expr(e)).as(a) } ++
        maxs.map { case (a, e) => max(expr(e)).as(a) } ++
        avgs.map { case (a, e) => avg(expr(e)).as(a) } ++
        cnts.map { case (a, e) => count(expr(e)).as(a) } ++
        dcounts.map { case (a, e) => countDistinct(expr(e)).as(a) } ++
        sums.map { case (a, e) => count(expr(e)).as(s"__nn_$a") } ++
        avgs.flatMap { case (a, e) => Seq(
          sum(expr(e)).as(s"__avs_$a"), count(expr(e)).as(s"__avn_$a")) } ++
        // per-extreme non-null input count: distinguishes an all-NULL-input
        // group (extreme legitimately NULL) from a DRAINED companion
        extremes.map { case (a, e, _, _, _) => count(expr(e)).as(s"__xn_$a") }
      val aggNames =
        (sums ++ mins ++ maxs ++ avgs ++ cnts ++ dcounts).map(_._1) ++
        sums.map(p => s"__nn_${p._1}") ++
        avgs.flatMap(p => Seq(s"__avs_${p._1}", s"__avn_${p._1}")) ++
        extremes.map { case (a, _, _, _, _) => s"__xn_$a" }
      val base = nameGroups(
        snap.groupBy(gCols: _*).agg(count(lit(1)).as(cntAlias), aggs: _*),
        cntAlias +: aggNames)
        .select((groupBy ++ aggNames :+ cntAlias).map(col): _*)
      // backing tables capture CDF from birth: their merges then serve
      // exact row deltas, so a DOWNSTREAM auto-MV (gold-over-gold)
      // maintains incrementally off THIS MV's change feed — Enzyme
      // chaining. MV tables are aggregate-sized (one row per live group),
      // so the capture cost is negligible at any fact scale.
      if (!t.exists) t.create(base.schema, enableChangeFeed = true)
      // REDECLARATION REWIND GUARD: the txn ledger never regresses, so a
      // bootstrap stamping a SMALLER version than a stale life's
      // high-water (the MV redeclared over a different/younger source)
      // would leave `lasts` ahead of the new source and silently skip
      // every window until the source caught up. Retire the ledger
      // family first — the overwrite's own txn then stamps cleanly. A
      // crash in between only costs one re-bootstrap (lasts = -1). One
      // metadata commit, paid only when a rewind is provable.
      else if (branches.zip(curs).exists { case ((lid, _, _, _), v) =>
          t.lastTxnVersion(lid).exists(_ > v) })
        t.clearTxn(appId, family = true)
      // ledger rides the overwrite commit (replay re-bootstraps — same rows)
      t.overwrite(base, txn = Some(appId -> cur))
      // extra union branches' ledgers land metadata-only AFTER the
      // overwrite: a crash in between leaves that branch ledger absent →
      // the next run re-bootstraps (one extra recompute, never a window
      // applied against the wrong base)
      branches.drop(1).zip(curs.drop(1)).foreach { case ((lid, _, _, _), v) =>
        t.recordTxn(lid, v); () }
      // dim pins land in a FOLLOW-UP metadata commit: a crash in between
      // leaves stale pins, which only ever costs one extra recompute.
      // Zone-sensitive MVs additionally pin the SESSION TIMEZONE they
      // were computed under: date_trunc/to_date/... are row-local
      // deterministic only per-zone, so a later incremental window under
      // a different zone would mix bucketings in one MV — the pin forces
      // ONE recompute instead (self-consistent under the new zone).
      val tzPin: Map[String, String] =
        if (tzSensitive)
          // the EFFECTIVE zone (resolves to the JVM default when the conf
          // is unset) — a "UTC" literal default would record a zone that
          // was never in effect and defeat the guard
          Map(Pipeline.SessionTzProp ->
            spark.sessionState.conf.sessionLocalTimeZone)
        else Map.empty
      val unionPin: Map[String, String] =
        if (union.nonEmpty)
          unionDef.map(Pipeline.UnionDefProp -> _).toMap
        else Map.empty
      val defPin: Map[String, String] =
        defFp.map(Pipeline.MvDefProp -> _).toMap
      val pinProps = dimsCur.map { case (n, v) =>
        dimPinProp(n) -> v.toString }.toMap ++ tzPin ++ unionPin ++ defPin
      if (pinProps.nonEmpty) t.setTableProperties(pinProps)
      // a union MV redeclared single-source clears the stale union pin
      // here — without this, unionShapeStale would re-bootstrap forever
      if (union.isEmpty &&
          t.tableProperties.contains(Pipeline.UnionDefProp))
        t.unsetTableProperties(Seq(Pipeline.UnionDefProp))
      (0L, mode)
      } finally { if (snapCached) { snap.unpersist(); () } }
    }
    if (!t.exists || lasts.exists(_ < 0)) return bootstrap("bootstrap")
    unionShapeStale.foreach(reason => return bootstrap(reason))
    defStale.foreach(reason => return bootstrap(reason))
    // extreme-companion upgrade path: an MV bootstrapped before its
    // companions existed (or whose backing table predates the hidden
    // __xn columns) re-bootstraps ONCE to mint them
    if (extremes.nonEmpty && (extremes.exists(x => !x._3.exists) ||
        extremes.exists(x => !t.schema.fieldNames.contains(s"__xn_${x._1}"))))
      return bootstrap("bootstrap: extreme companions")
    // session-timezone pin check (zone-sensitive MVs; see the bootstrap
    // pin above). An ABSENT pin is OUT-OF-DATE, not trusted: the pin
    // lands in a follow-up metadata commit after the bootstrap overwrite,
    // so a crash in between (or an MV bootstrapped before pinning
    // existed) must fail SAFE — one recompute that stamps it — never
    // silently mix two zones' bucketings in one panel.
    if (tzSensitive && !tProps.get(Pipeline.SessionTzProp).contains(
        spark.sessionState.conf.sessionLocalTimeZone))
      return bootstrap(
        if (tProps.contains(Pipeline.SessionTzProp))
          "recompute: session timezone changed"
        else "recompute: session timezone unpinned")
    // DIM-DELTA candidacy (the `dim_airports_scd.csv`-style trickle: a
    // 3-key dim update against a 100 TB fact is exactly where recompute
    // is the wrong plan): each changed dim needs fact-equi-dim ON
    // conjuncts (the handle that bounds the fact slice — composite keys
    // and non-equi residuals like the SCD2 validity interval both
    // compose: residuals ride the full join condition inside the ±
    // branches), no extremes (a dim change can retract a MIN/MAX) and no
    // COUNT(DISTINCT) companions (their value multiplicities would need
    // their own dim-signed merges). Anything else keeps the documented
    // recompute. The algebra: partition the dim by changed keys K —
    // F ⋈ D[K̄] is unchanged, so ΔMV = γ±(F[X∈K] ⋈ D_cur[K]) −
    // γ±(F[X∈K] ⋈ D_pin[K]); with a LEFT join the null-extension of an
    // F[X∈K] row is decided entirely inside D[K], so the same two signed
    // branches stay exact through match births and deaths.
    // COMPANION aggregates COMPOSE with dim-delta (round 17): the ±
    // signed branches are ordinary windows, so COUNT(DISTINCT) multisets
    // merge under the dim-pin ledger (replay-guarded) with ABSOLUTE
    // recounts, and companion-maintained extremes retract/refill through
    // the same machinery (a drained companion unwinds to one recompute).
    // MIN/MAX WITHOUT companions (floating MVs) still keep
    // recompute — a dim change can retract an extreme no monotone merge
    // recovers.
    // the first branch's effective column names — what the declared
    // query's analyzer binds the outer expressions to; later union
    // branches' windows (and the dim-delta union slice) rename to them
    // (positional UNION ALL semantics)
    lazy val names0: Seq[String] = branches.head match {
      case (_, bt, cols, _) =>
        cols.fold(bt.schema.fieldNames.toSeq)(_.map(_._2)) }
    // a union branch's PHYSICAL column for a fact-side (names0) name —
    // positional mapping through the branch projection; throws when the
    // name isn't a plain union output (callers Try → recompute)
    def branchKeyCol(bt: LakeTable, bcols: Option[Seq[(String, String)]],
        fc: String): String = {
      val idx = names0.indexOf(fc)
      require(idx >= 0, s"$fc is not a union output column")
      bcols match {
        case None => bt.schema.fieldNames.toSeq(idx)
        case Some(cs) =>
          val (e, _) = cs(idx)
          // BARE columns only: an expression-projected key has no
          // physical column to zone-prune or type-gate — callers Try →
          // dim changes keep the recompute path for that shape
          require(bt.schema.fieldNames.contains(e),
            s"union branch projects $fc as an expression")
          e
      }
    }
    // the FACT-side key type: the single source's column, or for a union
    // the branches' mapped columns — which must ALL agree exactly (the
    // widened set-op type would change ordering semantics under the
    // fact-slice bounds, so any disagreement keeps recompute)
    def factKeyType(fc: String): org.apache.spark.sql.types.DataType =
      if (union.isEmpty) source.schema(fc).dataType
      else {
        val ts = branches.map { case (_, bt, bcols, _) =>
          bt.schema(branchKeyCol(bt, bcols, fc)).dataType }.distinct
        require(ts.size == 1, s"union branches disagree on $fc type")
        ts.head
      }
    val dimDeltaPlans
        : Seq[(String, LakeTable, Long, Long, Seq[(String, String)])] =
      if (changedDims.isEmpty ||
          ((mins.nonEmpty || maxs.nonEmpty) && extremes.isEmpty)) Nil
      else changedDims.flatMap { case (dn, curV) =>
        for {
          pinV <- dimPins.get(dn)
          eqKeys <- dimEqui.get(dn)
          if eqKeys.nonEmpty
          dt <- dims.collectFirst { case (n, d) if n == dn => d }
          // EXACT KEY-TYPE equality gate: the fact-slice bounds below are
          // DIM-side key values applied under the FACT column's type and
          // ordering. With mixed types (string fact code vs numeric dim
          // key) lexicographic vs numeric ordering disagree and the bounds
          // would silently drop matching fact rows — so a mixed-type key
          // keeps the documented recompute instead.
          if scala.util.Try(eqKeys.forall { case (fc, dc) =>
            factKeyType(fc) == dt.schema(dc).dataType
          }).getOrElse(false)
        } yield (dn, dt, pinV, curV, eqKeys)
      }
    // EVERY changed dim must be delta-capable, or the whole MV recomputes
    // — a half-delta'd state (one dim advanced, another recomputed) has
    // no consistent pin vector to resume from
    if (dimsChanged && dimDeltaPlans.size != changedDims.size)
      return bootstrap("recompute: dimension changed")
    if (floating) return bootstrap("recompute: floating-point aggregate")
    // a companion ledger AHEAD of its branch's MV ledger means a previous
    // refresh crashed between the companion merge and the main merge:
    // re-running the main window would re-apply the companion's
    // already-applied sub-window (double-count). Recompute resynchronizes
    // both — one extra recompute, never a wrong window. (A companion
    // ledger BEHIND the MV's is the normal post-bootstrap state: the
    // bootstrap overwrite carries content, not a txn.) Companion ledger
    // ids are PER BRANCH (`<branchLid>.dist.<a>` / `.ext.<a>` — for the
    // classic single-source MV the branch lid IS appId, so existing
    // ledgers keep working unchanged).
    if (branches.zipWithIndex.exists { case ((lid, _, _, _), i) =>
      dcounts.zip(distTables).exists { case ((a, _), dt) =>
        dt.exists && dt.lastTxnVersion(s"$lid.dist.$a").exists(_ > lasts(i))
      } ||
      extremes.exists { case (a, _, et, _, _) =>
        et.exists && et.lastTxnVersion(s"$lid.ext.$a").exists(_ > lasts(i))
      }
    }) return bootstrap("recompute: companion out of sync")
    // the DIM-side twin: a dim-delta window stamps companions under the
    // dim-pin ledger (`<appId>.dimpin.<dn>.dist/.ext.<a>`); a stamp AHEAD
    // of the dim's effective pin means a refresh died between the
    // companion merge and the pin-advancing main merge — a retry whose
    // dim moved further would re-apply the already-merged sub-window
    if (dims.exists { case (dn, _) =>
      val pin = dimPins.getOrElse(dn, Long.MaxValue)
      val dimLid = s"$appId.dimpin.$dn"
      dcounts.zip(distTables).exists { case ((a, _), dt) =>
        dt.exists && dt.lastTxnVersion(s"$dimLid.dist.$a").exists(_ > pin)
      } ||
      extremes.exists { case (a, _, et, _, _) =>
        et.exists && et.lastTxnVersion(s"$dimLid.ext.$a").exists(_ > pin)
      }
    }) return bootstrap("recompute: companion out of sync")
    if (branches.indices.exists(i => curs(i) > lasts(i) &&
        !branches(i)._2.feedReadable(lasts(i) + 1, curs(i))))
      return bootstrap("recompute: full-rewrite window")
    // build the DIM-DELTA windows BEFORE any merge: an unboundable delta
    // (over-cap key set, unreadable/vacuumed pinned version, evolved dim
    // schema) in ANY changed dim must fall back to ONE recompute, never
    // half-apply. Each key set is the exact changed-row keys — a full-row
    // diff of the two dim versions (dim-sized, the small side by star
    // assumption), collected only up to the cap + 1.
    //
    // MULTIPLE changed dims apply SEQUENTIALLY in declaration order: each
    // step is the single-dim delta lemma with "the fact" = fact ⋈ other
    // dims at their step-effective versions — dims processed EARLIER in
    // this refresh at CURRENT, later ones still at PIN:
    //   γ(F ⋈ D1_cur ⋈ D2_pin) --Δ2--> γ(F ⋈ D1_cur ⋈ D2_cur), exact.
    val orderedPlans = dims.map(_._1)
      .flatMap(n => dimDeltaPlans.find(_._1 == n))
    val earlierCur = scala.collection.mutable.Set[String]()
    val dimDeltaSteps: Seq[Option[(DataFrame, String, Long, String)]] =
      orderedPlans.map { case (dn, dt, pinV, curV, eqKeys) =>
        val doneCur = earlierCur.toSet
        earlierCur += dn
        val fcs = eqKeys.map(_._1)
        val dcs = eqKeys.map(_._2)
        // step-effective version of every OTHER dim (both branches):
        // already-processed changed dims read CURRENT, the rest their PIN
        def otherVer(n2: String, dt2: LakeTable): Long =
          if (doneCur(n2))
            dimsCur.collectFirst { case (n3, v) if n3 == n2 => v }
              .getOrElse(dt2.currentVersion)
          else dimPins.getOrElse(n2, dt2.currentVersion)
        scala.util.Try {
          val dPin = dt.readVersion(pinV)
          val dCur = dt.readVersion(curV)
          // CHANGED-KEY SET, two plans by what the dim records:
          //  - the dim's own CHANGE FEED when it carries row images across
          //    the window (CDC-maintained silver dims and auto-MV targets
          //    capture CDF from birth; plain appends feed for free) —
          //    O(changed dim rows), the billion-row-dim shape: a trickle
          //    is read as a trickle, never a dim scan. A key touched then
          //    reverted inside the window over-approximates harmlessly —
          //    its ± branches join identical dim rows and cancel exactly.
          //  - the two-full-version diff as the fallback (a plain input
          //    dim mutated by merges without CDF, a vacuumed feed) —
          //    dim-sized, the small side by star assumption.
          // all-key-null rows are unmatchable under `=` (inner AND left
          // joins alike) so their changes are inert either way.
          val feedKeys = dt.feedReadable(pinV + 1, curV)
          // the changed-row IMAGES carry the key columns AND any
          // interval-band bound columns (the as-of pruning handle) —
          // bands whose dim column is absent are dropped here, pruning
          // only ever shrinks
          val bandSpecs = dimBands.getOrElse(dn, Nil)
          val bandCols = bandSpecs.map(_._2).distinct
            .filter(dt.schema.fieldNames.contains)
          val projCols = (dcs ++ bandCols).distinct
          val imagesRaw =
            if (feedKeys)
              dt.readChangeFeed(pinV + 1, Some(curV))
                .select(projCols.map(col): _*)
            else
              dCur.exceptAll(dPin).select(projCols.map(col): _*)
                .unionByName(dPin.exceptAll(dCur).select(projCols.map(col): _*))
          val keysRaw = imagesRaw.select(dcs.map(col): _*)
          val keysDf = keysRaw
            .filter(dcs.map(col(_).isNotNull).reduce(_ && _)).distinct()
          val changedRows = keysDf
            .limit(Pipeline.DimDeltaKeyCap + 1).collect().toSeq
          if (changedRows.size > Pipeline.DimDeltaKeyCap) None
          else if (changedRows.isEmpty) {
            // a dim version bump with zero row changes (a properties
            // commit): nothing to apply — an empty signed window still
            // advances the pin through the merge txn. Union facts take
            // the unioned zero-row frame (names0 schema, set-op types).
            val emptySlice =
              if (union.isEmpty) source.readVersion(cur).limit(0)
              else unionAt(curs).limit(0)
            val plus = filtered(enrich(Map(dims.map { case (n2, dt2) =>
              n2 -> dt2.readVersion(if (n2 == dn) curV else otherVer(n2, dt2))
            }: _*))(emptySlice)).withColumn("__sign", lit(1L))
            Some((plus, dn, curV, if (feedKeys) "feed" else "diff"))
          } else {
            // TWO pruning layers on the fact slice: (1) MANIFEST-level
            // zone-map skipping via each key column's conservative
            // [min,max] bound (a product box — files whose ranges miss
            // every changed key on ANY column are never even opened: the
            // 100 TB lever, footer reads track the trickle, not the
            // table), then (2) the exact key restriction as the row
            // residual — an IN-list for single-column keys (reaches the
            // parquet scan for row-group pruning), a broadcast semi-join
            // against the metadata-sized key set for composite keys.
            // Bounds are typed literals of the key column's own type.
            val bAggs = dcs.flatMap(c => Seq(min(col(c)), max(col(c))))
            val b = keysDf.agg(bAggs.head, bAggs.tail: _*).head()
            def bound(i: Int, fc: String) = lit(b.get(i)).cast(factKeyType(fc))
            // TIME-BAND box (interval/as-of residuals, round 18): per
            // fact ts column, the conservative [min lower, max upper]
            // over the changed validity IMAGES — both versions' rows
            // (the diff carries both sides, the feed pre+post images).
            // A fact row outside the box matches NO changed image in
            // EITHER version, so its ± contributions cancel and
            // excluding it is exact. A NULL image bound (open-ended
            // validity, the live SCD2 row) leaves that side unbounded;
            // any failure (missing/mistyped columns, several bound
            // columns per side) skips the band — pruning only.
            //   (fact ts col, lower literal, upper literal)
            val bandBox: Seq[(String, Option[Column], Option[Column])] =
              bandSpecs.groupBy(_._1).toSeq.flatMap { case (ftc, bs) =>
                scala.util.Try {
                  val los = bs.filter(_._3).map(_._2).distinct
                  val his = bs.filterNot(_._3).map(_._2).distinct
                  require(los.size <= 1 && his.size <= 1 &&
                    (los ++ his).nonEmpty, "one bound column per side")
                  val ftype = factKeyType(ftc)
                  require((los ++ his).forall(c =>
                    dt.schema(c).dataType == ftype), "band type mismatch")
                  // ONE job for both sides: (bound, NULL count) per side
                  // — a NULL image bound (the open SCD2 row) leaves that
                  // side unbounded
                  val sideAggs = los.map(c => (min(col(c)), c)) ++
                    his.map(c => (max(col(c)), c))
                  val aggs = sideAggs.flatMap { case (f, c) =>
                    Seq(f, sum(when(col(c).isNull, lit(1L)).otherwise(lit(0L)))) }
                  val r = imagesRaw.agg(aggs.head, aggs.tail: _*).head()
                  def bound(i: Int): Option[Column] =
                    if (r.isNullAt(2 * i) || r.getLong(2 * i + 1) > 0L) None
                    else Some(lit(r.get(2 * i)).cast(ftype))
                  val lo = if (los.nonEmpty) bound(0) else None
                  val hi =
                    if (his.nonEmpty) bound(los.size) else None
                  (ftc, lo, hi)
                }.toOption.filter(t => t._2.nonEmpty || t._3.nonEmpty)
              }
            // manifest-level zone bounds per PHYSICAL table: the single
            // fact's own columns, or for a UNION fact each branch's
            // positionally-mapped columns (bare columns: factKeyType
            // checked every branch's key and band column) — each branch
            // is zone-pruned, branch-filtered, projected and renamed to
            // the union output names, then the slices union (the exact
            // key residual below applies to the unioned frame)
            def zonePruned(bt: LakeTable, colOf: String => String, v: Long): DataFrame = {
              val keyBox = fcs.zipWithIndex.map { case (fc2, i) =>
                col(colOf(fc2)).between(bound(2 * i, fc2), bound(2 * i + 1, fc2)) }
              // the band box rides as extra bounds on the same scan
              val bandBounds = bandBox.flatMap { case (ftc, lo, hi) =>
                lo.map(col(colOf(ftc)) >= _) ++ hi.map(col(colOf(ftc)) <= _)
              }
              bt.readVersion(v).filter((keyBox ++ bandBounds).reduce(_ && _))
            }
            val zoneSliced =
              if (union.isEmpty) zonePruned(source, identity, cur)
              else branches.zip(curs).map { case ((_, bt, bcols, bw), v) =>
                val z = zonePruned(bt, fc2 => branchKeyCol(bt, bcols, fc2), v)
                val f = bw.fold(z)(w => z.filter(expr(w)))
                val cs = bcols.getOrElse(
                  bt.schema.fieldNames.toSeq.map(n => (n, n)))
                f.select(cs.map { case (e, n) => expr(e).as(n) }: _*)
                  .toDF(names0: _*)
              }.reduce(_ union _)
            // local key frames (≤ cap rows) under fact-side / dim-side
            // names for the two semi-joins; nulls were filtered above so
            // plain equality is exact
            def keyFrame(names: Seq[String]): DataFrame =
              spark.createDataFrame(
                spark.sparkContext.parallelize(changedRows, 1),
                org.apache.spark.sql.types.StructType(
                  names.zip(dcs).map { case (n2, c) =>
                    org.apache.spark.sql.types.StructField(
                      s"__key_$n2", dCur.schema(c).dataType) }))
            def semiByKeys(df: DataFrame, names: Seq[String]): DataFrame = {
              val kf = keyFrame(names)
              df.join(broadcast(kf),
                names.zipWithIndex.map { case (n2, i) =>
                  df(n2) === kf(s"__key_$n2") }.reduce(_ && _), "left_semi")
            }
            val singleVals =
              if (eqKeys.size == 1) changedRows.map(_.get(0)) else Nil
            val factSliceKeys =
              if (eqKeys.size == 1)
                zoneSliced.filter(col(fcs.head).isin(singleVals: _*))
              else semiByKeys(zoneSliced, fcs)
            // the band box as a row-level residual too (typed values —
            // reaches the parquet scan for row-group pruning); per-band
            // Try so a missing fact column only skips that band
            val factSlice = bandBox.foldLeft(factSliceKeys) {
              case (acc, (ftc, lo, hi)) => scala.util.Try {
                val conds = lo.map(col(ftc) >= _).toSeq ++ hi.map(col(ftc) <= _)
                conds.foldLeft(acc)(_ filter _)
              }.getOrElse(acc)
            }
            def sliceDim(df: DataFrame): DataFrame =
              if (eqKeys.size == 1)
                df.filter(col(dcs.head).isin(singleVals: _*))
              else semiByKeys(df, dcs)
            def frames(v: Long): Map[String, DataFrame] =
              dims.map { case (n2, dt2) =>
                n2 -> (if (n2 == dn) sliceDim(dt2.readVersion(v))
                else dt2.readVersion(otherVer(n2, dt2)))
              }.toMap
            val plus = filtered(enrich(frames(curV))(factSlice))
              .withColumn("__sign", lit(1L))
            val minus = filtered(enrich(frames(pinV))(factSlice))
              .withColumn("__sign", lit(-1L))
            // positional union: the enriched frame carries the join key
            // under BOTH qualifiers (f.cat, d.cat — duplicate bare names),
            // which by-name union refuses; the two branches share one
            // construction so their column order is identical by build
            //
            // the `via` tag additionally records an applied time-band box
            // ("+band") — the scale-plan evidence that the as-of fact
            // slice was interval-pruned, not just key-pruned
            Some((plus.union(minus), dn, curV,
              (if (feedKeys) "feed" else "diff") +
                (if (bandBox.nonEmpty) "+band" else "")))
          }
        }.toOption.flatten
      }
    val dimDeltas: Option[Seq[(DataFrame, String, Long, String)]] =
      if (dimDeltaSteps.forall(_.isDefined)) Some(dimDeltaSteps.flatten)
      else None
    if (dimsChanged && dimDeltas.isEmpty)
      return bootstrap("recompute: dimension changed (delta unboundable)")

    // the shared SIGNED-WINDOW applier: aggregate a frame of signed row
    // images (enriched, filtered, carrying `__sign` ∈ {+1, −1}) into one
    // row per touched group and merge it into the MV. Two callers: the
    // fact change-feed window (txn = source ledger) and the dim-delta
    // window (txn = the dim's pin ledger — committing the new pin
    // ATOMICALLY with its delta, the crash-safety backbone of effPin).
    // signed non-null count of `e`'s inputs — the exact-NULL-algebra and
    // AVG/COUNT(expr) backbone (sum of a non-empty group is never NULL)
    def signedNn(e: String) =
      sum(when(expr(e).isNull, lit(0L)).otherwise(col("__sign")))
    def applySigned(signed: DataFrame, txnPair: (String, Long)): Long = {
      // MIN/MAX carry no window aggregate: they land as absolute __xab_
      // recounts from their companions (below)
      val deltaAggs =
        sums.zipWithIndex.map { case ((_, e), i) =>
          sum(expr(e) * col("__sign")).as(s"__d_$i") } ++
        sums.zipWithIndex.map { case ((_, e), i) =>
          signedNn(e).as(s"__dnn_$i") } ++
        avgs.zipWithIndex.flatMap { case ((_, e), i) => Seq(
          sum(expr(e) * col("__sign")).as(s"__davs_$i"),
          signedNn(e).as(s"__davn_$i")) } ++
        cnts.zipWithIndex.map { case ((_, e), i) =>
          signedNn(e).as(s"__dc_$i") } ++
        extremes.map { case (_, e, _, _, i) => signedNn(e).as(s"__dxn_$i") }
      val deltaNames =
        sums.indices.map(i => s"__d_$i") ++
        sums.indices.map(i => s"__dnn_$i") ++
        avgs.indices.flatMap(i => Seq(s"__davs_$i", s"__davn_$i")) ++
        cnts.indices.map(i => s"__dc_$i") ++
        extremes.map { case (_, _, _, _, i) => s"__dxn_$i" }
      val delta = nameGroups(
        signed
          .groupBy(gCols: _*)
          .agg(sum(col("__sign")).as("__dcnt"), deltaAggs: _*),
        "__dcnt" +: deltaNames)
      // Materialize the CALLER-PERSISTED window up front (the count also
      // feeds the event log): every companion merge and probe below then
      // reads the cache instead of racing to recompute the change-feed
      // window — which lets the independent companion merges (distinct
      // tables, shared read-only inputs) run CONCURRENTLY rather than
      // serializing their single-task commit jobs.
      val processed = signed.count()
      // COUNT(DISTINCT) maintenance: each companion absorbs the window's
      // signed (group, value) multiplicities — txn-guarded per companion,
      // so a same-window retry can never double-apply — then the TOUCHED
      // groups' distinct counts are recounted ABSOLUTELY from the
      // companion and ride the main merge (absolute values are themselves
      // replay-idempotent). A crash between the two merges leaves the
      // companion AHEAD of the MV ledger; the out-of-sync guard above
      // resynchronizes by recompute before this path can ever see a
      // half-applied window. Cost: O(window) merge + a semi-join probe of
      // the companion by the touched groups per refresh — never a fact
      // rescan.
      // Phase 1 — EVERY companion merge (COUNT(DISTINCT) multiset tables
      // and extreme top-K tables) launches together and joins before any
      // post-merge read: each writes its OWN table from the shared cached
      // window, so the merges are independent and their cost at this
      // window size is single-task commit latency, not compute —
      // overlapping them hides all but the slowest. A crash between
      // merges hits the existing companion-ahead resync guard
      // (recompute), exactly as under the old sequential order.
      // The signed (group, value) multiset is aggregated ONCE per
      // distinct expression (a MIN and MAX over one column share it).
      val cdeltaUses = mutable.Map.empty[String, Int]
      val cdeltas = mutable.Map.empty[String, DataFrame]
      def cdeltaOf(e: String): DataFrame = {
        cdeltaUses(e) = cdeltaUses.getOrElse(e, 0) + 1
        cdeltas.getOrElseUpdate(e, signed.filter(expr(e).isNotNull)
          .groupBy((gCols :+ expr(e)): _*)
          .agg(sum(col("__sign")).as("__d"))
          .toDF((groupBy ++ Seq("__v", "__d")): _*))
      }
      val dcountMerges: Seq[() => Unit] = dcounts.zip(distTables).map {
        case ((a, e), dt) =>
          val cdelta = cdeltaOf(e)
          () => dt.merge(cdelta, groupBy :+ "__v",
            matchedSet = Some(Map("__vcnt" -> "t.__vcnt + s.__d")),
            matchedDeleteWhen = Some("t.__vcnt + s.__d = 0"),
            insertGuard = Some("s.__d > 0"),
            insertSet = Some((groupBy.map(c => c -> s"s.$c") ++
              Seq("__v" -> "s.__v", "__vcnt" -> "s.__d")).toMap),
            // ledger id derives from the WINDOW's ledger (per union
            // branch; the classic single source's lid IS appId)
            txn = Some(s"${txnPair._1}.dist.$a" -> txnPair._2),
            nullSafeKeys = true)
      }
      val extMerges: Seq[() => Unit] = extremes.map {
        case (a, e, et, isMin, _) =>
          val cdelta = cdeltaOf(e)
          () => {
            val floors = et.read.groupBy(groupBy.map(col): _*)
              .agg(max(col("__floor")).as("__f")) // rows agree per group
              .select(groupBy.map(c => col(c).as(s"__k_$c")) :+ col("__f"): _*)
            // the floor gates BOTH signs: tracked values are strictly
            // beyond the floor by invariant, so a retraction at-or-past
            // it can never match a companion row either — a mid-band
            // mass delete contributes ZERO merge-source rows
            val gated = cdelta
              .join(floors,
                groupBy.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _),
                "left")
              .drop(groupBy.map(c => s"__k_$c"): _*)
              .filter(col("__f").isNull ||
                (if (isMin) col("__v") < col("__f")
                 else col("__v") > col("__f")))
            et.merge(gated, groupBy :+ "__v",
              matchedSet = Some(Map("__vcnt" -> "t.__vcnt + s.__d")),
              matchedDeleteWhen = Some("t.__vcnt + s.__d <= 0"),
              insertGuard = Some("s.__d > 0"),
              insertSet = Some((groupBy.map(c => c -> s"s.$c") ++
                Seq("__v" -> "s.__v", "__vcnt" -> "s.__d",
                  "__floor" -> "s.__f")).toMap),
              txn = Some(s"${txnPair._1}.ext.$a" -> txnPair._2),
              nullSafeKeys = true)
          }
      }
      // a cdelta consumed by MORE than one merge (MIN and MAX over the
      // same column) is pinned for the parallel phase, so the second
      // thread reads the first's materialization instead of re-running
      // the window aggregation
      val sharedCdeltas = cdeltaUses.collect {
        case (e, n) if n > 1 => cdeltas(e) }.toSeq
      sharedCdeltas.foreach(_.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try Pipeline.awaitAll(dcountMerges ++ extMerges)
      finally sharedCdeltas.foreach { f => f.unpersist(); () }
      val withDcounts =
        if (dcounts.isEmpty) delta
        else {
          import org.apache.spark.sql.functions.coalesce
          val touched = delta.select(groupBy.map(col): _*)
          val absCounts = dcounts.zip(distTables).zipWithIndex.map {
            case (((_, _), dt), i) =>
              // one companion row per live (group, value) — the touched
              // groups' counts are just row counts, probed null-safely
              val comp = dt.read
              val live = comp.join(touched,
                groupBy.map(c => comp(c) <=> touched(c)).reduce(_ && _),
                "left_semi")
              live.groupBy(groupBy.map(col): _*)
                .agg(count(lit(1)).as(s"__da_$i"))
          }
          val abs = absCounts.zipWithIndex.foldLeft(touched) {
            case (acc, (counts, i)) =>
              val renamed = counts.select(
                groupBy.map(c => col(c).as(s"__k_$c")) :+ col(s"__da_$i"): _*)
              acc.join(renamed,
                groupBy.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _),
                "left")
                .drop(groupBy.map(c => s"__k_$c"): _*)
                .withColumn(s"__da_$i", coalesce(col(s"__da_$i"), lit(0L)))
          }
          val absR = abs.select(groupBy.map(c => col(c).as(s"__k_$c")) ++
            dcounts.indices.map(i => col(s"__da_$i")): _*)
          delta.join(absR,
            groupBy.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _),
            "left")
            .drop(groupBy.map(c => s"__k_$c"): _*)
        }
      // EXTREME maintenance: merge the window's signed (group, value)
      // multiplicities into each companion — FLOOR-GATED (see `extremes`
      // above: an insert at-or-beyond the floor is rejected so tracked
      // counts stay exact) — then recount the touched groups' extremes
      // ABSOLUTELY from the companions to ride the main merge. Two
      // refill triggers abort to ONE recompute (which re-trims): a
      // DRAINED group (companion empty, non-null inputs remain — the
      // true extreme fell past the floor) and an OVERGROWN group (a
      // monotone domain outgrew the floor past the cap).
      val withExtremes =
        if (extremes.isEmpty) withDcounts
        else {
          val touched = delta.select(groupBy.map(col): _*)
          val absExt = extremes.map { case (a, _, et, isMin, i) =>
            val comp = et.read
            val live = comp.join(touched,
              groupBy.map(c => comp(c) <=> touched(c)).reduce(_ && _),
              "left_semi")
            live.groupBy(groupBy.map(col): _*)
              .agg((if (isMin) min(col("__v")) else max(col("__v")))
                .as(s"__xab_$i"),
                count(lit(1)).as(s"__xsz_$i"))
          }
          absExt.foldLeft(withDcounts) { (acc, ab) =>
            val renamed = ab.select(
              groupBy.map(c => col(c).as(s"__k_$c")) ++
                ab.columns.filterNot(groupBy.contains).map(col): _*)
            acc.join(renamed,
              groupBy.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _),
              "left")
              .drop(groupBy.map(c => s"__k_$c"): _*)
          }
        }
      // ONE materialization of the extreme-joined source frame: the
      // refill probe and the main merge's internal passes reuse it —
      // unpersisted, the feed aggregation and every companion probe
      // re-execute per consumer (measured ~2× the refresh cost)
      if (extremes.nonEmpty)
        withExtremes.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      if (extremes.nonEmpty) {
        import org.apache.spark.sql.functions.coalesce
        // refill probe: one aggregate-sized pass over the source frame
        // against the MV's current per-group non-null input counts
        val tprobe = t.read.select(
          groupBy.map(c => col(c).as(s"__k_$c")) ++
            extremes.map { case (a, _, _, _, _) =>
              col(s"__xn_$a").as(s"__txn_$a") }: _*)
        val probe = withExtremes.join(tprobe,
          groupBy.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _),
          "left")
        val refill = extremes.map { case (a, _, _, _, i) =>
          val newXn = coalesce(col(s"__txn_$a"), lit(0L)) +
            coalesce(col(s"__dxn_$i"), lit(0L))
          (newXn > 0 && col(s"__xab_$i").isNull) ||
            coalesce(col(s"__xsz_$i"), lit(0L)) >
              lit(Pipeline.ExtremeCompanionOvergrow)
        }.reduce(_ || _)
        if (probe.filter(refill).limit(1).count() != 0L)
          throw Pipeline.ExtremeRefill(
            "recompute: maintained extremes drained or overgrown")
      }
      // the target column's type drives the merge casts (widened-decimal
      // arithmetic folds back; the accumulator type IS the declared type)
      def tpe(a: String): String = t.schema(a).dataType.sql
      // SUM's NULL algebra is EXACT: the hidden per-sum non-null count
      // decides nullness (a group is NULL iff it currently holds no
      // non-null inputs, INCLUDING the case where every non-null
      // contribution was retracted while NULL-input rows remain), and the
      // netted arithmetic runs over coalesced exact values
      val sumUpdates = sums.zipWithIndex.flatMap { case ((a, _), i) =>
        val newNn = s"t.__nn_$a + coalesce(s.__dnn_$i, 0)"
        Seq(
          a -> (s"cast(CASE WHEN ($newNn) = 0 THEN NULL ELSE " +
            s"coalesce(t.$a, 0) + coalesce(s.__d_$i, 0) END AS ${tpe(a)})"),
          s"__nn_$a" -> s"cast($newNn AS ${tpe(s"__nn_$a")})")
      }
      val avgUpdates = avgs.zipWithIndex.flatMap { case ((a, _), i) =>
        val as = s"__avs_$a"; val an = s"__avn_$a"
        val newS = s"coalesce(t.$as, 0) + coalesce(s.__davs_$i, 0)"
        val newN = s"t.$an + coalesce(s.__davn_$i, 0)"
        Seq(
          // the declared AVG column is the decomposition's quotient, cast
          // to its own declared type (the bootstrap's real avg() fixed it)
          a -> (s"cast(CASE WHEN ($newN) = 0 THEN NULL ELSE " +
            s"($newS) / ($newN) END AS ${tpe(a)})"),
          as -> s"cast($newS AS ${tpe(as)})",
          an -> s"cast($newN AS ${tpe(an)})")
      }
      val cntUpdates = cnts.zipWithIndex.map { case ((a, _), i) =>
        a -> s"t.$a + coalesce(s.__dc_$i, 0)" }
      // COUNT(DISTINCT) columns land ABSOLUTE (recounted from the
      // companion above) — the one aggregate whose delta is not a sum
      val dcUpdates = dcounts.zipWithIndex.map { case ((a, _), i) =>
        a -> s"cast(s.__da_$i AS ${tpe(a)})" }
      // extremes land as ABSOLUTE recounts from their companions
      // (replay-idempotent, exact through retractions)
      val extUpdates = extremes.flatMap { case (a, _, _, _, i) => Seq(
        a -> s"cast(s.__xab_$i AS ${tpe(a)})",
        s"__xn_$a" -> (s"cast(t.__xn_$a + coalesce(s.__dxn_$i, 0) " +
          s"AS ${tpe(s"__xn_$a")})")) }
      val updates = (sumUpdates ++ extUpdates ++
        avgUpdates ++ cntUpdates ++ dcUpdates :+
        (cntAlias -> s"t.$cntAlias + s.__dcnt")).toMap
      val sumInserts = sums.zipWithIndex.flatMap { case ((a, _), i) => Seq(
        a -> (s"cast(CASE WHEN coalesce(s.__dnn_$i, 0) = 0 THEN NULL " +
          s"ELSE s.__d_$i END AS ${tpe(a)})"),
        s"__nn_$a" -> s"cast(coalesce(s.__dnn_$i, 0) AS ${tpe(s"__nn_$a")})")
      }
      val avgInserts = avgs.zipWithIndex.flatMap { case ((a, _), i) => Seq(
        a -> (s"cast(CASE WHEN coalesce(s.__davn_$i, 0) = 0 THEN NULL " +
          s"ELSE s.__davs_$i / s.__davn_$i END AS ${tpe(a)})"),
        s"__avs_$a" -> s"cast(coalesce(s.__davs_$i, 0) AS ${tpe(s"__avs_$a")})",
        s"__avn_$a" -> s"cast(coalesce(s.__davn_$i, 0) AS ${tpe(s"__avn_$a")})") }
      val extInserts = extremes.flatMap { case (a, _, _, _, i) => Seq(
        a -> s"cast(s.__xab_$i AS ${tpe(a)})",
        s"__xn_$a" -> (s"cast(coalesce(s.__dxn_$i, 0) " +
          s"AS ${tpe(s"__xn_$a")})")) }
      val inserts = (groupBy.map(c => c -> s"s.$c") ++
        sumInserts ++
        extInserts ++
        avgInserts ++
        cnts.zipWithIndex.map { case ((a, _), i) =>
          a -> s"cast(coalesce(s.__dc_$i, 0) AS ${tpe(a)})" } ++
        dcounts.zipWithIndex.map { case ((a, _), i) =>
          a -> s"cast(coalesce(s.__da_$i, 0) AS ${tpe(a)})" } :+
        (cntAlias -> "s.__dcnt")).toMap
      // the ±delta is NOT replay-idempotent — the txn entry commits with the
      // merge so a crashed-and-retried window can never double-apply.
      // nullSafeKeys: the keys are GROUP BY outputs — SQL groups NULLs as
      // ONE group, so the merge must match them too (plain MERGE equality
      // would re-insert the NULL group every window)
      t.merge(withExtremes, groupBy,
        matchedSet = Some(updates),
        matchedDeleteWhen = Some(s"t.$cntAlias + s.__dcnt = 0"),
        insertGuard = Some("s.__dcnt > 0"),
        insertSet = Some(inserts),
        txn = Some(txnPair),
        nullSafeKeys = true)
      processed
      } finally { if (extremes.nonEmpty) { withExtremes.unpersist(); () } }
    }

    var processedTotal = 0L
    var mode = "up-to-date"
    // an extreme refill (drained/overgrown companion) aborts the window
    // mid-apply to ONE recompute: the companion merges already committed
    // (txn-guarded — a replay can't double-apply) and the bootstrap
    // overwrite rebuilds companions and panel consistently
    try branches.zipWithIndex.foreach { case ((lid, bt, bcols, bwhere), bi) =>
      if (curs(bi) > lasts(bi)) {
        // ONE read of the window, pinned: the signed-delta aggregation,
        // the companion merges and the processed count all consume the
        // same cached pass over the change dirs. The
        // WHERE predicate applies per-image BEFORE signing (but AFTER the
        // dim enrich — it may reference dim columns): Filter never drops
        // columns, so the change-type metadata rides through it. The
        // change-type column is copied to a reserved name BEFORE the
        // enrich/projection so a dimension (or a union branch) carrying a
        // same-named column can never make the sign ambiguous.
        // Dims join at their PINNED versions (enPinned) — the state the
        // MV reflects; the dim-delta window below closes any dim gap.
        val raw0 = bt.readChangeFeed(lasts(bi) + 1, Some(curs(bi)))
          .withColumn("__graft_ct", col(graft.lake.LakeTable.ChangeTypeCol))
        // a union branch's ROW-LOCAL WHERE applies per image BEFORE the
        // positional projection/rename (it may reference branch columns
        // the projection drops): an update whose images cross the
        // predicate nets to exactly the insert/retract a recompute sees —
        // the same per-image algebra as the top-level WHERE below
        val raw = bwhere.fold(raw0)(w => raw0.filter(expr(w)))
        // union branch: project the branch's columns and rename to the
        // first branch's names, so the shared group/agg expressions bind
        val projected = bcols match {
          case None if union.isEmpty => raw
          case _ =>
            val cs = bcols.getOrElse(
              bt.schema.fieldNames.toSeq.map(n => (n, n)))
            raw.select(cs.map { case (e, n) => expr(e).as(n) } :+
              col("__graft_ct"): _*)
              .toDF((names0 :+ "__graft_ct"): _*)
        }
        val feed = filtered(enPinned(projected))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val sign = when(col("__graft_ct")
            .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
          processedTotal += applySigned(
            feed.withColumn("__sign", sign), lid -> curs(bi))
          mode = "incremental"
        } finally { feed.unpersist(); () }
      }
    dimDeltas.getOrElse(Nil).foreach { case (frame0, dn, curV, via) =>
      val frame = frame0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        processedTotal += applySigned(frame, s"$appId.dimpin.$dn" -> curV)
      } finally { frame.unpersist(); () }
      // pin property follow-up: a crash before it only leaves the stale
      // property, and effPin's max-with-txn keeps the merge authoritative
      t.setTableProperties(Map(dimPinProp(dn) -> curV.toString))
      // the event log carries HOW the changed keys were found ("feed" =
      // O(changed rows) from the dim's change feed, "diff" = two-version
      // fallback) — the scale-plan evidence a spec or operator can assert
      mode =
        if (mode.contains("dim-delta from")) s"$mode, $dn ($via)"
        else if (mode == "incremental")
          s"incremental + dim-delta from $dn ($via)"
        else s"dim-delta from $dn ($via)"
    }
    } catch { case Pipeline.ExtremeRefill(m) => return bootstrap(m) }
    (processedTotal, mode)
  }
}

object Pipeline {
  /** DLT's `pipelines.reset.allowed` table property: set to `'false'`
   *  (via TBLPROPERTIES at declaration or on the table), the table is
   *  excluded from whole-pipeline full refreshes and an explicit refresh
   *  selection naming it refuses — protection for append-only histories a
   *  recompute could never rebuild. */
  val ResetAllowedProp = "pipelines.reset.allowed"

  /** Largest changed-dim key set the DIM-DELTA MV maintenance path will
   *  carry as a fact-scan IN-list: beyond this the literal list stops
   *  pruning well (expression size, codegen) and a dim that churned
   *  thousands of keys is no longer a "trickle" — the recompute path is
   *  the honest plan. The cap bounds DRIVER memory too (the keys are
   *  collected once, metadata-sized). */
  val DimDeltaKeyCap = 1024

  /** Distinct values each MIN/MAX companion tracks per group (the bounded
   *  top-K): deletes that leave any tracked value alive maintain the
   *  extreme in O(window); only a fully drained (or overgrown) group
   *  costs a recompute, which re-trims. Small by design — the companion
   *  exists to survive the common delete-a-non-extreme case, not to
   *  mirror the data. */
  val ExtremeCompanionK = 8

  /** Tracked-values-per-group cap before a companion is declared
   *  OVERGROWN and re-trimmed by recompute: a monotone domain (MAX over
   *  an ever-growing timestamp) admits every new value past its frozen
   *  bootstrap floor, so growth is bounded here and amortized
   *  O(1/cap) recomputes. */
  val ExtremeCompanionOvergrow = 64

  /** Control signal: a maintained-extreme window found a drained or
   *  overgrown companion mid-apply — unwind to one recompute. */
  private[pipeline] final case class ExtremeRefill(mode: String)
    extends Exception(mode)

  /** Run independent bodies concurrently (one thread each, daemon) and
   *  join them ALL before rethrowing the first failure (in body order) —
   *  no sibling is still running when the caller sees the exception. A
   *  single body runs inline — no thread for the common one-companion
   *  refresh. */
  private[pipeline] def awaitAll(bodies: Seq[() => Unit]): Unit =
    if (bodies.lengthCompare(1) <= 0) bodies.foreach(_.apply())
    else {
      val futs = bodies.map { b =>
        val ft = new java.util.concurrent.FutureTask[Unit](() => b())
        val th = new Thread(ft, "graft-companion-merge")
        th.setDaemon(true)
        th.start()
        ft
      }
      val failures = futs.flatMap(ft => try { ft.get(); None } catch {
        case e: java.util.concurrent.ExecutionException => Some(e.getCause)
      })
      failures.headOption.foreach(e => throw e)
    }

  /** Table property pinning the SESSION TIMEZONE an expression-group-key
   *  auto-MV was bootstrapped under: its date/time group expressions are
   *  row-local deterministic only per-zone, so maintenance under a
   *  different `spark.sql.session.timeZone` forces one recompute instead
   *  of mixing two bucketings in one panel. */
  val SessionTzProp = "graft.aggmv.sessiontz"

  /** Table property pinning the UNION-branch DEFINITION a union auto-MV
   *  was bootstrapped with (a [[fingerprint]] of branch names +
   *  projections + row-local filters, in order). Branch LEDGER ids are
   *  positional (`appId`, `appId.u1`, …), so a pipeline life that
   *  reorders, replaces or re-filters branches must re-bootstrap — a
   *  stale positional ledger would resume ANOTHER branch's high-water
   *  and silently skip or double-apply windows. */
  val UnionDefProp = "graft.aggmv.uniondef"
  /** The auto-MV WHOLE-DEFINITION fingerprint property — every semantic
   *  field of the declared query (source, WHERE, group keys, aggregate
   *  list, HAVING, join conditions, union shape). A redeclaration whose
   *  hash differs re-bootstraps ONCE; extraction-derived maintenance
   *  handles are excluded so engine upgrades never read as definition
   *  changes. ABSENT pin = out-of-date (fail-safe). */
  val MvDefProp = "graft.aggmv.def"

  /** Stable content fingerprint for definition pins (MD5 hex — identity,
   *  not security). */
  private[pipeline] def fingerprint(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Scalar date/time functions whose value depends on the SESSION
   *  TIMEZONE (directly, or through the string↔timestamp coercions their
   *  arguments take): an MV maintaining any of these in a WHERE clause or
   *  aggregate input is zone-sensitive even when its GROUP keys are plain
   *  columns, so the tz pin must gate it too. Over-approximation is safe —
   *  a listed function that happens to be zone-stable only ever costs one
   *  recompute IF the session zone actually changes mid-life. */
  private val ZoneSensitiveFns: Set[String] = Set(
    "date_trunc", "trunc", "to_date", "date_format", "year", "quarter",
    "month", "day", "dayofmonth", "dayofweek", "weekday", "dayofyear",
    "weekofyear", "hour", "minute", "second", "last_day", "next_day",
    "date_add", "date_sub", "add_months", "months_between", "datediff",
    "date_diff", "unix_date", "make_date", "to_timestamp",
    "timestamp_seconds", "timestamp_millis", "timestamp_micros",
    "unix_micros", "unix_millis", "unix_seconds", "unix_timestamp",
    "from_unixtime", "to_unix_timestamp", "from_utc_timestamp",
    "to_utc_timestamp", "current_date", "now", "current_timestamp",
    "extract", "date_part", "datepart", "convert_timezone", "dateadd",
    "timestampadd", "timestampdiff", "try_to_timestamp", "try_to_date",
    "to_char", "make_timestamp", "localtimestamp", "curdate")

  /** Whether a maintained SQL expression is session-zone-sensitive: any
   *  [[ZoneSensitiveFns]] call, or a CAST to/involving DATE or TIMESTAMP
   *  (string→timestamp and timestamp→date casts resolve in the session
   *  zone). Unparseable input is conservatively sensitive — the caller
   *  only ever uses the answer to force a recompute, never to skip one. */
  private[pipeline] def zoneSensitiveSql(
      spark: SparkSession, sql: String): Boolean =
    scala.util.Try {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      import org.apache.spark.sql.catalyst.expressions.Cast
      spark.sessionState.sqlParser.parseExpression(sql).exists {
        case f: UnresolvedFunction =>
          f.nameParts.length == 1 && ZoneSensitiveFns.contains(
            f.nameParts.head.toLowerCase(java.util.Locale.ROOT))
        case c: Cast => c.dataType match {
          case org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.TimestampType => true
          case _ => false
        }
        case _ => false
      }
    }.getOrElse(true)

  /** Whether a continuous-mode cycle failure is TRANSIENT (worth a bounded
   *  retry): a lost optimistic-commit race against an external writer,
   *  possibly wrapped by Spark's task/action machinery — walk the cause
   *  chain, bounded against cycles. Everything else (FAIL expectations,
   *  analysis errors, broken declarations) is deterministic: retrying
   *  would fail identically. */
  private def isRetriable(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 16) {
      if (cur.isInstanceOf[graft.lake.ConcurrentWriteException]) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Handle on a [[Pipeline.runContinuous]] updater. */
  final class ContinuousUpdate private[pipeline] (
      stopFlag: java.util.concurrent.atomic.AtomicBoolean,
      done: java.util.concurrent.CountDownLatch,
      failure: java.util.concurrent.atomic.AtomicReference[Throwable],
      runs: java.util.concurrent.atomic.AtomicLong) {

    /** Completed incremental update cycles so far. */
    def runsCompleted: Long = runs.get()

    /** The failure that stopped the loop, if any. */
    def failed: Option[Throwable] = Option(failure.get())

    /** Whether the updater thread is still cycling. */
    def isActive: Boolean = done.getCount > 0

    /** Block until at least `n` cycles completed or the loop died;
     *  returns whether the target was reached. Test/ops helper. */
    def awaitRuns(n: Long, timeoutMs: Long = 30000L): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (runs.get() < n && isActive && System.nanoTime() < deadline)
        Thread.sleep(10L)
      runs.get() >= n
    }

    /** Signal the loop to stop, await it, and rethrow a cycle failure
     *  (an update that failed must not fail silently). */
    def stop(): Unit = {
      stopFlag.set(true)
      done.await()
      failed.foreach(throw _)
    }
  }

  /** Row count riding the Observation metric channel: free when the
   *  flow's own write action covered the observed node; falls back to one
   *  count() of the same frame when the completed query surfaced no
   *  metrics (some multi-stage write shapes re-plan the source). */
  private def observeRows(df: DataFrame): (DataFrame, () => Long) = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    (observed, () => scala.util.Try(obs.get("rows").asInstanceOf[Long])
      .getOrElse(observed.count()))
  }

  /** The detected shape of a MAINTAINABLE materialized view — see
   *  [[Pipeline.autoAggMv]]. `sums`/`mins`/`maxs`/`avgs`/`cntCols` are
   *  (alias, SQL expression) pairs — `avgs` maintained by hidden SUM+COUNT
   *  decomposition (Enzyme's rule), `cntCols` the COUNT(expr) non-null
   *  counts; `counts` the user's COUNT(*) aliases (empty = internal hidden
   *  count); `output` the declared column order. `joins` are the inner
   *  equi-joined dimensions of a STAR-JOIN MV (the first FROM relation is
   *  the fact/delta side); `groupExprs` the group columns' defining SQL
   *  (qualified attributes), parallel to `groupBy` — empty means the
   *  groups are the bare `groupBy` names. */
  /** `joinType` is `"inner"` or `"left"` — both distribute over a union on
   *  the fact (preserved) side, so both maintain from the fact's change
   *  feed against pinned dims; `equi` is the parsed fact-equi-dim key
   *  pairs (fact-side bare column name, dim-side bare column name)
   *  collected from the ON condition's top-level conjunction — non-equi
   *  conjuncts (SCD2 validity intervals, range bands) ride the join
   *  whole and don't disqualify the handle, which the DIM-DELTA
   *  maintenance path restricts the fact scan by. Empty `equi` only ever
   *  disables dim-delta maintenance (dim changes recompute), never
   *  affects correctness. */
  /** `bands` are the ON condition's interval residual handles —
   *  (fact ts column, dim bound column, isLower) per top-level
   *  `fact.ts >=|> dim.lo` / `fact.ts <|<= dim.hi` conjunct: the
   *  dim-delta path prunes the fact slice by the changed validity
   *  images' conservative time box on top of the key slice. Purely a
   *  pruning handle — absence or failure only ever skips pruning. */
  private[pipeline] final case class AutoMvJoin(
      dim: String, alias: Option[String], cond: String,
      joinType: String = "inner", equi: Seq[(String, String)] = Nil,
      bands: Seq[(String, String, Boolean)] = Nil)
  private[pipeline] final case class AutoMvSpec(
      source: String, where: Option[String], groupBy: Seq[String],
      sums: Seq[(String, String)], mins: Seq[(String, String)],
      maxs: Seq[(String, String)], counts: Seq[String], output: Seq[String],
      avgs: Seq[(String, String)] = Nil, cntCols: Seq[(String, String)] = Nil,
      sourceAlias: Option[String] = None, joins: Seq[AutoMvJoin] = Nil,
      groupExprs: Seq[String] = Nil, dcounts: Seq[(String, String)] = Nil,
      having: Option[String] = None,
      union: Seq[(String, Option[Seq[(String, String)]], Option[String])] = Nil,
      havingHidden: Seq[String] = Nil)

  /** One registered streaming join table — see
   *  [[Pipeline.streamingJoinTable]]. */
  private final case class JoinTable(
      source: String, keys: Seq[String], sequenceBy: String,
      tiebreak: Seq[String], enrich: DataFrame => DataFrame)

  /** One registered `@dlt.append_flow` — see [[Pipeline.appendFlow]] /
   *  [[Pipeline.appendFlowStream]]. `stream` = (source dataset, per-row
   *  transform) for flows that consume a change-feed delta under
   *  incremental execution. */
  private final case class AppendFlow(
      target: String, name: String, once: Boolean, fn: () => DataFrame,
      stream: Option[(String, DataFrame => DataFrame)])

  /** One registered snapshot-diff CDC flow — see
   *  [[Pipeline.autoCdcFromSnapshotFlow]]. `source` is either a pipeline
   *  dataset name (current-snapshot mode) or the historical-backfill
   *  generator `lastVersion => Option[(snapshot, version)]`. */
  private final case class SnapshotFlow(
      target: String, keys: Seq[String], scdType: Int,
      trackHistoryColumns: Seq[String],
      trackHistoryExceptColumns: Seq[String],
      source: Either[String, Option[Long] => Option[(DataFrame, Long)]])

  private final case class CdcFlow(
      target: String, source: String, keys: Seq[String],
      sequenceBy: String, tiebreak: Seq[String], scdType: Int = 1,
      applyAsDeletes: Option[String] = None,
      exceptColumns: Seq[String] = Nil,
      trackHistoryColumns: Seq[String] = Nil,
      trackHistoryExceptColumns: Seq[String] = Nil,
      ignoreNullUpdates: Boolean = false,
      applyAsTruncates: Option[String] = None,
      columnList: Seq[String] = Nil,
      sequenceAlso: Seq[String] = Nil,
      name: String = "") {
    /** Event-log flow attribution: the declared flow name, else the
     *  target (DLT's default — an unnamed APPLY CHANGES is addressed by
     *  its table). */
    def flowName: String = if (name.nonEmpty) name else target
  }

  /** One consumer's window over its stream root — see
   *  [[Pipeline.streamWindow]]. `last` is the ledger's version (-1 before
   *  any stamp), `cur` the root's; `open` reads the frame. */
  private final class StreamWindow(val state: StreamWindow.State,
      val last: Long, val cur: Long, open: () => (DataFrame, () => Unit)) {
    /** The `v{last+1}..v{cur}` span the event text prints. */
    def span: String = s"v${last + 1}..v$cur"
    /** The ledger stamp: `cur`, unless the ledger is at or past it. */
    def stamp: Option[Long] = if (last >= cur) None else Some(cur)
    /** `body` over the frame, then release what the read pinned. */
    def read[A](body: DataFrame => A): A = {
      val (df, release) = open()
      try body(df) finally release()
    }
  }

  private object StreamWindow {
    sealed trait State
    case object UpToDate extends State
    case object Bootstrap extends State
    case object Unreadable extends State
    case object Delta extends State
    case object Snapshot extends State
  }

  /** How a consumer takes its window's delta: collapsed latest per key
   *  (CDC flows, join tables), or append-only (append flows, sinks, and
   *  select tables, which `recomputes` an unreadable window). */
  private sealed trait WindowTake
  private final case class Upsert(keys: Seq[String], seqCols: Seq[String],
      tiebreak: Seq[String]) extends WindowTake
  private final case class AppendOnly(consumer: String, recomputes: Boolean)
    extends WindowTake
}
