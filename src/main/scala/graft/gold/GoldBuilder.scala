package graft.gold

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.lake.LakeTable

/** Dimension build parameters — the Scala replacement for the reference's
 *  Python param dicts + `eval` (`DIM_Gold_layer.py:13-41`). */
final case class DimConfig(
    targetPath: String,
    keyCols: Seq[String],
    attrCols: Seq[String],
    cdcCol: String,
    surrogateCol: String)

/** One dimension participating in a fact build: fact FK column(s) joined to
 *  the dimension business key(s), pulling the dimension's surrogate key
 *  (`FACT_Gold_Layer.py:35-51`). */
final case class FactDim(
    dim: LakeTable,
    joinKeys: Seq[(String, String)], // (factCol, dimCol)
    surrogateCol: String)

final case class FactConfig(
    targetPath: String,
    dims: Seq[FactDim],
    payloadCols: Seq[String],
    factKeys: Seq[String],
    cdcCol: String,
    /** Partition the fact table by this (payload) column — e.g. a derived
     *  ship month. Incremental merges then rewrite only the partitions
     *  present in the new batch (O(touched partitions), not O(table)); at
     *  100 TB an unpartitioned fact merge is a full-table rewrite. Two
     *  contracts on the partition value:
     *   - stable per fact grain (derived from the row's own immutable
     *     date), since a matched update may not move a row across
     *     partitions;
     *   - MONOTONE in `cdcCol` under string ordering (a zero-padded
     *     `yyyy-MM` is), so the CDC watermark `MAX(cdcCol)` can be read
     *     from the max partition alone — the incremental run never scans
     *     the full fact for its watermark. */
    partitionCol: Option[String] = None)

/**
 * Incremental star-schema gold builder — reimplements the reference's two
 * composite procedures (SURVEY.md §2.9):
 *
 *  - G1 `buildDim`: SCD Type-1 dimension with integer surrogate keys and
 *    `create_date`/`update_date` audit columns (`DIM_Gold_layer.py`).
 *  - G2 `buildFact`: fact enriched with each dimension's surrogate key via
 *    generated N-way left join, merged on the fact grain
 *    (`FACT_Gold_Layer.py:84-148,174-198`).
 *
 * Documented deviations (SURVEY.md §7.5), the first three for determinism so
 * the DuckDB oracle can replay results:
 *  - surrogate keys are dense `row_number` over the business keys offset by
 *    the current max, not `monotonically_increasing_id`
 *    (`DIM_Gold_layer.py:238-246` yields unique but partition-offset-gapped,
 *    nondeterministic keys);
 *  - the CDC watermark direction is conventional (target exists → resume from
 *    `MAX(cdc)` already loaded; bootstrap → full load), not the inverted
 *    logic at `DIM_Gold_layer.py:120-134`;
 *  - `clock` is injectable instead of raw `current_timestamp()`
 *    (`DIM_Gold_layer.py:221,239-240`) so audit columns are reproducible;
 *  - a dimension build with no new input does nothing: when the source is
 *    the lake snapshot the dimension's last build consumed (same table
 *    snapshot, plan shape and [[DimConfig]] — recorded in that build's own
 *    commit, see [[GoldBuilder.dimLedgerEntry]]), `buildDim` runs no Spark
 *    job and commits no version. The reference would re-stamp
 *    `update_date` on the rows tied at the `>=` watermark; here they keep
 *    their old `update_date`. A source without a snapshot identity (local
 *    data, plain files, deletion vectors, several tables —
 *    [[graft.lake.LakeTable.snapshotOf]]) always builds, as does a
 *    `backdatedRefresh`. The record rides the dimension's own versions:
 *    a restore brings back the record of the version it restores, and
 *    maintenance (optimize, compact) carries it. A dimension edited by
 *    hand (a write outside `buildDim`) keeps its record, so rebuild one
 *    with `backdatedRefresh`.
 *
 * Scale notes: surrogate minting is DISTRIBUTED ([[GoldBuilder.mintSurrogateKeys]]):
 * a range-partitioned per-partition `row_number` plus driver-side range
 * offsets (bounded at #shuffle-partitions rows) — identical dense key-order
 * numbering as a global sort, with no single-partition exchange on a large
 * bootstrap. The fact build is pure shuffle-free scan + (broadcast) left
 * joins + one merge shuffle on the fact keys; dims below the broadcast
 * threshold never shuffle the fact.
 */
final class GoldBuilder(spark: SparkSession, clock: () => Timestamp) {
  import spark.implicits._

  private def now(): java.sql.Timestamp = clock()

  /** G1 — incremental SCD1 dimension build. Returns the target table.
   *  Dim schema: keyCols ++ attrCols ++ cdcCol ++ (surrogate, create_date, update_date).
   *
   *  `backdatedRefresh` (reference `DIM_Gold_layer.py:120-123`): when set,
   *  the incremental watermark is overridden so rows at/after that instant
   *  reprocess — the manual-recovery knob for late/corrected upstream data.
   *
   *  Returns at once, with no job and no commit, when `source` is the
   *  snapshot the last build consumed (class doc: the no-new-input
   *  deviation). */
  def buildDim(cfg: DimConfig, source: DataFrame,
      backdatedRefresh: Option[Timestamp] = None): LakeTable = {
    val table = LakeTable(spark, cfg.targetPath)
    // The source snapshot this build consumes rides its own commit; the
    // snapshot the last build consumed holds no new input — no job, no
    // commit. A backdated re-run over it builds but records nothing new
    // (the ledger's "recorded ≥ requested" rule would void its merge).
    val consumed = GoldBuilder.dimLedgerEntry(cfg, source)
    val recorded = consumed.flatMap { case (id, _) => table.lastTxnVersion(id) }
    if (backdatedRefresh.isEmpty && consumed.exists { case (_, v) => recorded.contains(v) })
      return table
    val txn = consumed.filterNot { case (_, v) => recorded.exists(_ >= v) }
    val ts = lit(now()).cast("timestamp")
    val businessCols = cfg.keyCols ++ cfg.attrCols :+ cfg.cdcCol
    val rows = source.select(businessCols.map(col): _*)

    // Latest row per business key (AUTO CDC core — SURVEY §2.8/O1); tiebreak
    // on the attribute columns for full determinism when cdc values collide
    // (the reference's constant-per-batch current_timestamp guarantees ties).
    def latest(df: DataFrame) = latestPerKey(df, cfg.keyCols, cfg.cdcCol, cfg.attrCols)

    if (!table.exists) {
      // one file per 128 MB of planned input, not one per range partition:
      // the narrow coalesce runs no job and keeps the numbering
      val src = latest(rows)
      val files = (src.queryExecution.optimizedPlan.stats.sizeInBytes / (128L << 20) + 1)
        .min(Int.MaxValue).toInt
      val dim = GoldBuilder.mintSurrogateKeys(src, cfg.keyCols, cfg.surrogateCol)
        .coalesce(files)
        .withColumn("create_date", ts)
        .withColumn("update_date", ts)
      table.overwrite(dim, txn = txn)
      return table
    }

    val trg = table.read
    // Conventional incremental watermark: only rows newer than what's loaded
    // — unless a backdated refresh explicitly rewinds it. The watermark and
    // the surrogate high-water come out of ONE aggregate over the dim (they
    // were two separate scans).
    val (aggLoad, maxSk) = {
      val r = trg.agg(max(col(cfg.cdcCol)), max(col(cfg.surrogateCol))).head()
      (Option(r.getTimestamp(0)), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val lastLoad = backdatedRefresh.orElse(aggLoad)
    // Filtered BEFORE the window (Catalyst does not push a filter on a
    // non-partition column through it): a key's latest row passes `>= w`
    // exactly when its max cdc does, and then so do all its rows tied at
    // that max — the window picks the same row from fewer.
    val src = latest(lastLoad.fold(rows)(w => rows.filter(col(cfg.cdcCol) >= lit(w))))

    // J2: attach existing surrogate + create_date by left join on business
    // keys. Persisted: the OLD/NEW split below consumes it twice, and the
    // branch would otherwise re-run the dedup window + join per side.
    val trgKeys = trg.select(
      (cfg.keyCols.map(col) :+ col(cfg.surrogateCol).as("__sk") :+ col("create_date").as("__cd")): _*)
    val joined = src.join(trgKeys, cfg.keyCols, "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // P5 split: OLD rows keep surrogate/create_date and restamp update_date;
    // NEW rows mint surrogate keys above the current max.
    val old = joined.filter(col("__sk").isNotNull)
      .withColumn(cfg.surrogateCol, col("__sk"))
      .withColumn("create_date", col("__cd"))
      .withColumn("update_date", ts)
      .drop("__sk", "__cd")
    val fresh = GoldBuilder.mintSurrogateKeys(
        joined.filter(col("__sk").isNull).drop("__sk", "__cd"),
        cfg.keyCols, cfg.surrogateCol, offset = maxSk)
      .withColumn("create_date", ts)
      .withColumn("update_date", ts)

    // U1 + S8: recombine and latest-wins merge (guard as in DIM_Gold_layer.py:281).
    val upserts = old.unionByName(fresh)
    try table.merge(upserts, cfg.keyCols, Some(s"s.${cfg.cdcCol} >= t.${cfg.cdcCol}"),
      txn = txn)
    finally { joined.unpersist(); () }
    table
  }

  /** G2 — incremental fact build: N-way dim left join pulling surrogate keys,
   *  CDC low-watermark filter, merge on the fact grain. `backdatedRefresh`
   *  rewinds the watermark as in [[buildDim]]. */
  def buildFact(cfg: FactConfig, factSource: DataFrame,
      backdatedRefresh: Option[Timestamp] = None): LakeTable = {
    val table = LakeTable(spark, cfg.targetPath)

    val watermark: Option[Timestamp] = backdatedRefresh.orElse {
      if (!table.exists) None
      else {
        // partitioned fact: the partition value is monotone in cdcCol (see
        // FactConfig.partitionCol), so MAX(cdc) lives in the max partition —
        // a one-partition scan instead of O(table) per incremental run
        val scope = cfg.partitionCol.flatMap { p =>
          val owned = table.ownedPartitionValues
          if (owned.isEmpty) None else Some(table.read.filter(col(p) === owned.max))
        }
        scope.getOrElse(table.read)
          .agg(max(col(cfg.cdcCol))).as[Option[Timestamp]].head()
      }
    }
    val incoming = watermark.fold(factSource)(w => factSource.filter(col(cfg.cdcCol) >= lit(w)))

    // LEFT JOIN each dimension on its business keys, keep only its surrogate.
    // Dim-side join columns are renamed before the join: fact FKs usually
    // share the dim key's name (f.flight_id = DimFlights.flight_id), and a
    // post-join drop-by-name would take the fact's column with it.
    val enriched = cfg.dims.foldLeft(incoming) { (df, d) =>
      def tag(dk: String) = s"__${d.surrogateCol}_$dk"
      val dimSel = d.dim.read.select(
        (d.joinKeys.map { case (_, dk) => col(dk).as(tag(dk)) } :+ col(d.surrogateCol)): _*)
      val cond = d.joinKeys.map { case (fk, dk) => df(fk) === dimSel(tag(dk)) }.reduce(_ && _)
      df.join(dimSel, cond, "left").drop(d.joinKeys.map(k => tag(k._2)): _*)
    }
    val out = enriched.select(
      (cfg.dims.map(d => col(d.surrogateCol)) ++ cfg.payloadCols.map(col)): _*)

    cfg.partitionCol.foreach(p => require(cfg.payloadCols.contains(p),
      s"partition column $p must be a payload column"))
    if (!table.exists) { table.overwrite(out, cfg.partitionCol); table }
    else {
      // pin the deduped source: the merge consumes it multiple times
      // (touched-partition collect, change rows, rewrite), and each pass
      // would otherwise re-run the scan → dim joins → dedup window chain
      val deduped = latestPerKey(out, cfg.factKeys, cfg.cdcCol,
        out.columns.toSeq.filterNot(cfg.factKeys.contains))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try table.merge(deduped, cfg.factKeys, Some(s"s.${cfg.cdcCol} >= t.${cfg.cdcCol}"))
      finally { deduped.unpersist(); () }
      table
    }
  }

  /** Latest row per key ordered by the sequence column descending, with a
   *  deterministic tiebreak (remaining columns descending, SURVEY §7.8#3). */
  def latestPerKey(df: DataFrame, keys: Seq[String], seqCol: String,
      tiebreak: Seq[String]): DataFrame = {
    val order = (col(seqCol).desc +: tiebreak.filterNot(_ == seqCol).map(col(_).desc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * SCD Type 2 apply-changes — the `stored_as_scd_type = 2` arm of the DLT
   * API the reference calls with type 1 (`dlt_bronze_to_silver_pipeline
   * .py:30-36`): compute the merge rows for `batch` against `target`'s
   * current OPEN rows (`__END_AT IS NULL`, at most one per key).
   *
   * `deleteCol` names a BOOLEAN column marking delete events (DLT's
   * `apply_as_deletes`, pre-evaluated by the caller): a delete event closes
   * the key's open history row at its sequence (`__END_AT = seq`) and opens
   * nothing; stale deletes (at/before the open `__START_AT`) lose by
   * sequence; a delete for an absent key is a no-op; an upsert after a
   * delete always opens a new row even with pre-delete attributes
   * (existence itself is part of the run-length state). `trackCols` scopes
   * history to a column subset (DLT's `track_history_column_list` /
   * `..._except_column_list`, resolved by the caller): only tracked-column
   * changes open a version; untracked-only changes rewrite the current
   * row's untracked columns IN PLACE (no new history row) — within a batch,
   * each version carries the last untracked values of its interval.
   * `ignoreNulls` (DLT's `ignore_null_updates`): a NULL attribute in an
   * upsert means "no change" — run-length comparison and stored versions
   * both use per-column EFFECTIVE values (last non-null, seeded by the
   * open row, reset by deletes).
   *
   * Semantics (all non-key columns tracked — DLT's default):
   *  - one event per (keys, sequenceBy), deterministic tiebreak;
   *  - events at/before a key's open `__START_AT` are DROPPED (stale or
   *    replayed input — the monotone-input contract of the SCD1 guard; DLT
   *    additionally back-inserts late rows into CLOSED history, which this
   *    batch close-and-insert trades away for an O(changed keys) merge —
   *    documented deviation);
   *  - an event whose tracked columns equal the key's current attributes
   *    opens NO new version (run-length collapse, lag-based: dropping a
   *    row that equals its predecessor never changes the last-kept
   *    attributes, so one window pass suffices);
   *  - each surviving event opens a version `[seq, next seq)`; the key's
   *    previous open row closes at its first new version's start.
   *
   * Output schema: keys ++ tracked ++ (`__START_AT`, `__END_AT`) — the
   * sequence column is absorbed into `__START_AT` exactly like DLT. The
   * caller merges on `keys :+ __START_AT` (closed open rows update in
   * place; new versions insert). Replaying the same batch yields zero rows
   * — idempotent. One shuffle on the keys end-to-end (dedup window, RLE
   * window and lead share the partitioning); the open-rows join is
   * broadcast-able when the batch is small.
   */
  def scd2Apply(batch: DataFrame, target: Option[DataFrame], keys: Seq[String],
      seqCol: String, tiebreak: Seq[String],
      deleteCol: Option[String] = None,
      trackCols: Option[Seq[String]] = None,
      ignoreNulls: Boolean = false): DataFrame = {
    import GoldBuilder.{Scd2End, Scd2Start}
    val attrs = batch.columns.toSeq.filterNot(c =>
      keys.contains(c) || c == seqCol || deleteCol.contains(c))
    val track = trackCols.getOrElse(attrs)
    require(track.nonEmpty, "SCD2 needs at least one tracked attribute column")
    track.foreach(c => require(attrs.contains(c),
      s"track-history column $c is not an attribute column (${attrs.mkString(",")})"))
    val untrack = attrs.filterNot(track.contains)
    val trackS = struct(track.map(col): _*)
    val isDel = deleteCol
      .map(c => coalesce(col(c).cast("boolean"), lit(false))).getOrElse(lit(false))
    // Per-(key, seq) dedup on the SAME keys-partitioned sort every later
    // window needs: under (seq ASC, tiebreak DESC) ordering, the first row
    // of each seq run is exactly latestPerKey's winner over (keys, seq) —
    // the old latestPerKey partitioned by (keys, seqCol) and cost the batch
    // a second full shuffle before the RLE windows re-clustered it by keys.
    val ordDedup = col(seqCol).asc +:
      tiebreak.filterNot(c => c == seqCol || deleteCol.contains(c)).map(col(_).desc)
    val wkOrd = Window.partitionBy(keys.map(col): _*).orderBy(ordDedup: _*)
    val events = batch
      // first-of-run detection must survive a NULL seq group: lag(lit) marks
      // "a previous row exists", the null-safe seq compare marks "same run"
      .withColumn("__is_dup", lag(lit(true), 1).over(wkOrd).isNotNull &&
        (lag(col(seqCol), 1).over(wkOrd) <=> col(seqCol)))
      .filter(!col("__is_dup")).drop("__is_dup")
      .withColumn("__del", isDel)
    // per-event STATE: delete events all collapse to one canonical
    // "absent" value (tracked struct nulled), so consecutive deletes — and a
    // leading delete against an absent key — run-length-collapse away just
    // like unchanged upserts do
    val evState = struct(col("__del").as("__d"),
      when(!col("__del"), trackS).as("__t"))
    val open = target.map(_.filter(col(Scd2End).isNull))
    val untrackSel =
      if (untrack.isEmpty) struct(lit(0).as("__z")) else struct(untrack.map(col): _*)
    val attrsS = struct(attrs.map(col): _*)
    val withOpen = open match {
      case Some(o) =>
        val sel = o.select((keys.map(col) :+ col(Scd2Start).as("__open_start") :+
          struct(track.map(col): _*).as("__open_track") :+
          struct(attrs.map(col): _*).as("__open_attrs")): _*)
        events.join(sel, keys, "left")
      case None =>
        events
          .withColumn("__open_start", lit(null).cast(batch.schema(seqCol).dataType))
          .withColumn("__open_track", when(lit(false), trackS)) // typed null struct
          .withColumn("__open_attrs", when(lit(false), attrsS))
    }
    // the state PRECEDING the batch: the open row's tracked attributes, or
    // "absent" (same canonical value a delete produces) when no row is open
    val openState = when(col("__open_start").isNotNull,
      struct(lit(false).as("__d"), col("__open_track").as("__t")))
      .otherwise(struct(lit(true).as("__d"), when(lit(false), trackS).as("__t")))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol).asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // __chg marks the events that open a version boundary (tracked attrs or
    // existence changed vs the immediately preceding state); __vstart labels
    // EVERY event with the version interval it falls in — NULL means the
    // event lands inside the target's still-open interval (an
    // untracked-column-only change: update-in-place, no new history row)
    val filtered = withOpen
      .filter(col("__open_start").isNull || col(seqCol) > col("__open_start"))
    // `ignore_null_updates` for SCD2: a NULL attribute in an upsert means
    // "no change" — each event's EFFECTIVE attributes chain the last
    // non-null value per column (run-length compare and stored versions
    // both use effective values), seeded by the open row's attributes; a
    // DELETE resets the chain (existence ended — a post-delete upsert with
    // a null column stores NULL, never the pre-delete value), implemented
    // by restarting the per-column window at each delete's group boundary.
    val effective =
      if (!ignoreNulls) filtered
      else {
        val wRun = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val grouped = filtered.withColumn("__g",
          sum(when(col("__del"), 1).otherwise(0)).over(wRun))
        val wg = Window.partitionBy((keys.map(col) :+ col("__g")): _*)
          .orderBy(col(seqCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        attrs.foldLeft(grouped) { (d, c) =>
          val chain = last(when(!col("__del"), col(c)), ignoreNulls = true).over(wg)
          d.withColumn(c, when(col("__g") === 0,
            coalesce(chain, col(s"__open_attrs.$c"))).otherwise(chain))
        }.drop("__g")
      }
    val st = effective
      .withColumn("__state", evState)
      .withColumn("__prev", coalesce(lag(col("__state"), 1).over(w), openState))
      .withColumn("__chg", !(col("__prev") <=> col("__state")))
      .withColumn("__vstart",
        last(when(col("__chg"), col(seqCol)), ignoreNulls = true).over(wRun))
    val outCols = (keys ++ attrs).map(col) :+ col(Scd2Start) :+ col(Scd2End)
    // one row per version interval: tracked attrs are constant within it by
    // construction, untracked attrs take the LAST event's values (DLT's
    // update-in-place rule scoped to the interval); a delete interval emits
    // no row but still bounds its predecessor's __END_AT via the lead.
    // __vstart is non-decreasing per key, so a version's LAST event is the
    // one whose successor carries a different __vstart — and that
    // successor's __vstart IS the interval's end bound. One lead over the
    // existing keys clustering replaces the old latestPerKey grouping
    // (a (keys, __vstart) re-shuffle) plus its separate end-bound window.
    val grouped = st.filter(col("__vstart").isNotNull)
      .withColumn("__nextv", lead(col("__vstart"), 1).over(w))
      .filter(col("__nextv").isNull || col("__nextv") =!= col("__vstart"))
      .withColumn(Scd2Start, col("__vstart"))
      .withColumn(Scd2End, col("__nextv"))
    val versions = grouped.filter(!col("__del")).select(outCols: _*)
    open match {
      case None => versions
      case Some(_) =>
        // the open row closes at the key's FIRST in-batch version boundary
        // (an upsert re-opening history or a delete ending it — both bound
        // the interval); independently, untracked-only events inside the
        // open interval rewrite the open row's untracked columns in place.
        // The open row's full image already rides every event from the
        // open-rows join (__open_start/__open_attrs), so both the close
        // bound and the in-place untracked update come out of ONE more
        // pass over the same keys clustering — the old formulation
        // re-joined the target's open rows against two separately
        // aggregated branches of st (two more shuffles and a third
        // evaluation of the window chain).
        val wAll = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val updExpr = // no untracked columns → nothing updates in place
          if (untrack.isEmpty) lit(null)
          else last(when(col("__vstart").isNull, untrackSel),
            ignoreNulls = true).over(wAll)
        val touched = st
          .withColumn("__close_at", min(when(col("__chg"), col("__vstart"))).over(wAll))
          .withColumn("__new_untrack", updExpr)
          // seq is unique per key after dedup: max(seq) picks one row per key
          .withColumn("__last_seq", max(col(seqCol)).over(wAll))
          .filter(col(seqCol) === col("__last_seq"))
          .filter(col("__open_start").isNotNull &&
            (col("__close_at").isNotNull || col("__new_untrack").isNotNull))
        val openOut = touched.select((keys.map(col) ++ attrs.map { c =>
          val base = col(s"__open_attrs.$c")
          if (untrack.contains(c))
            when(col("__new_untrack").isNotNull, col(s"__new_untrack.$c"))
              .otherwise(base).as(c)
          else base.as(c)
        } :+ col("__open_start").as(Scd2Start) :+ col("__close_at").as(Scd2End)): _*)
        openOut.unionByName(versions)
    }
  }
}

object GoldBuilder {
  /** SCD Type 2 validity-interval columns (DLT's names). */
  val Scd2Start = "__START_AT"
  val Scd2End = "__END_AT"

  /** Production clock. Tests and oracle-compared queries inject fixed values. */
  def apply(spark: SparkSession): GoldBuilder =
    new GoldBuilder(spark, () => new Timestamp(System.currentTimeMillis()))
  def fixed(spark: SparkSession, at: Timestamp): GoldBuilder =
    new GoldBuilder(spark, () => at)

  /** The ledger entry a [[GoldBuilder.buildDim]] over `source` stamps:
   *  `(DimLedgerFamily + id, source version)`, one per target
   *  ([[LakeTable.DimLedgerFamily]]). `id` digests the source snapshot
   *  (root and files), the canonical shape and output schema of the
   *  source's plan, the session zone its literals render in, and `cfg`.
   *  None when the source has no snapshot ([[LakeTable.snapshotOf]]). */
  private[gold] def dimLedgerEntry(cfg: DimConfig, source: DataFrame): Option[(String, Long)] =
    LakeTable.snapshotOf(source).map { s =>
      // rendered in full: the session's field and length limits would cut
      // an expression's argument list or the plan, and two plans differing
      // past the cut would digest alike
      val full = source.sparkSession.sessionState.conf.clone()
      full.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
      full.unsetConf(SQLConf.MAX_PLAN_STRING_LENGTH)
      val plan = SQLConf.withExistingConf(full)(source.queryExecution.analyzed.canonicalized
        .treeString(verbose = true, maxFields = Int.MaxValue))
      val md = MessageDigest.getInstance("SHA-256")
      (Seq(s.root) ++ s.files ++ Seq(plan, source.schema.json,
          source.sparkSession.sessionState.conf.sessionLocalTimeZone, cfg.toString))
        .foreach(x => md.update(s"${x.length}:$x".getBytes(StandardCharsets.UTF_8)))
      (LakeTable.DimLedgerFamily + md.digest().map("%02x".format(_)).mkString, s.version)
    }

  /**
   * Distributed dense surrogate minting: numbers `df`'s rows 1..N in global
   * `keys` order (same result as `row_number() OVER (ORDER BY keys)`) with
   * NO single-partition exchange — the round-1/2 verdicts flagged the global
   * window as a one-straggler-task sort on a large bootstrap
   * (`DIM_Gold_layer.py:238-246` dodges this with nondeterministic
   * `monotonically_increasing_id`; we keep dense deterministic keys AND the
   * distributed shape).
   *
   * Shape: range-partition by `keys` (ordered, contiguous ranges), sort
   * within each range, then `zipWithIndex` for the global dense index —
   * genuine per-partition imperative logic, the one place the RDD API is
   * the right tool. Correctness depends on every job seeing the SAME range
   * boundaries: `zipWithIndex`'s internal size job and the final pass run
   * over one RDD lineage, whose shuffle dependency (and its sampled
   * bounds) is materialized once and reused. (The previous formulation
   * computed offsets and rows in two separately-compiled jobs; their range
   * samplers seeded differently and the offsets drifted at scale —
   * caught by the p9/g2 oracle at sf0.1.)
   *
   * Requires one row per key tuple (callers dedup first), so the numbering
   * is total and deterministic.
   */
  def mintSurrogateKeys(df: DataFrame, keys: Seq[String], skCol: String,
      offset: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(n, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(skCol, LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L + offset))
    }
    spark.createDataFrame(indexed, schema)
  }
}
