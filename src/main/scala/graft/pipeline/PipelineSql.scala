package graft.pipeline

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryArithmetic, BinaryOperator, CaseWhen, Cast, Expression, In, IsNotNull, IsNull, Literal, Not, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, NaturalJoin, RightOuter, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias, Union}

/**
 * Lakeflow's public SQL pipeline surface over [[Pipeline]] — the statement
 * forms Databricks documents for SQL-defined pipelines (the reference's
 * pipelines are the Python-decorator equivalents,
 * `DLT_Silver_Pipeline/dlt_bronze_to_silver_pipeline.py`):
 *
 *  - `CREATE OR REFRESH STREAMING TABLE t` — declare a CDC target (the
 *    two-statement CDC idiom: declare, then APPLY CHANGES INTO it).
 *  - `CREATE OR REFRESH STREAMING TABLE t AS SELECT … [FROM STREAM(src)]` /
 *    `CREATE OR REFRESH MATERIALIZED VIEW v AS SELECT …` — a table
 *    materialized from its defining query each [[Pipeline.run]]. Under the
 *    Pipeline's documented trigger-once snapshot execution both refresh as
 *    a full recompute (DLT's MV semantic; a deterministic ST AS SELECT
 *    yields the same rows — the incremental paths are the change-feed
 *    windows [[Pipeline.runIncremental]] applies to the same declarations).
 *  - `[CREATE FLOW f AS] APPLY CHANGES INTO t FROM [STREAM(]src[)]
 *     KEYS (k, …) [IGNORE NULL UPDATES] [APPLY AS DELETE WHEN cond]
 *     [APPLY AS TRUNCATE WHEN cond] SEQUENCE BY seq|(seq, …)
 *     [COLUMNS (c, …) | COLUMNS * EXCEPT (c, …)] [STORED AS SCD TYPE 1|2]
 *     [TRACK HISTORY ON (c, …) | TRACK HISTORY ON * EXCEPT (c, …)]`
 *    — the SQL form of `create_auto_cdc_flow`; `AUTO CDC INTO` (the renamed
 *    current syntax) and its `CREATE FLOW … AS` wrapper are synonyms.
 *  - `CREATE FLOW f AS INSERT INTO [ONCE] t BY NAME select` — the SQL form
 *    of `@dlt.append_flow` ([[Pipeline.appendFlow]]): one of possibly many
 *    append-only flows feeding `t`; `ONCE` marks a one-time backfill.
 *  - `CREATE [TEMPORARY|PRIVATE] [STREAMING] [LIVE] VIEW v
 *     [(CONSTRAINT …)] AS select` — the SQL form of `@dlt.view`
 *    ([[Pipeline.view]] / [[Pipeline.streamingView]]): an unmaterialized
 *    named transformation. A select stateless over one `STREAM(ds)`
 *    registers STREAMING — downstream flows compose it onto the source's
 *    change-feed delta under incremental execution.
 *  - Either CREATE form takes DLT's expectation block before AS:
 *    `( CONSTRAINT n EXPECT (cond) [ON VIOLATION DROP ROW | FAIL UPDATE],
 *    … )` — no ON VIOLATION = warn (metrics only), DROP ROW filters, FAIL
 *    UPDATE aborts the run before the gated write commits. On a CDC target the gates apply
 *    to the incoming batch; on AS-SELECT/MV datasets to the defining query.
 *
 * Statements only DECLARE graph nodes (DLT semantics — nothing executes
 * until [[Pipeline.run]]). Defining queries may reference any declared
 * pipeline dataset by name — `STREAM(ds)` marks streaming-read intent and
 * resolves to the same current contents under snapshot execution — and
 * resolution happens per run, so an MV over a streaming table always sees
 * that run's post-merge state. Unknown relations are left for Spark's own
 * resolver (temp views, catalog tables compose as usual).
 */
object PipelineSql {

  /** Scalar functions accepted inside a maintainable MV's GROUP BY
   *  expression: every listed name is DETERMINISTIC and ROW-LOCAL (its
   *  value depends only on the row image's own columns and literals —
   *  no clock, no randomness, no partition/session state), which is
   *  exactly the property the signed-delta algebra needs. Names absent
   *  here (rand, current_date, unix_timestamp's zero-arg clock form,
   *  any aggregate/window function) keep the recompute path. */
  private[pipeline] val DeterministicRowFns: Set[String] = Set(
    // temporal bucketing — the gold-panel shapes
    "date_trunc", "trunc", "to_date", "date_format", "year", "quarter",
    "month", "day", "dayofmonth", "dayofweek", "weekday", "dayofyear",
    "weekofyear", "hour", "minute", "second", "last_day", "next_day",
    "date_add", "date_sub", "add_months", "months_between", "datediff",
    "date_diff", "unix_date", "unix_micros", "unix_millis", "unix_seconds",
    "to_timestamp", "timestamp_seconds", "timestamp_millis",
    "timestamp_micros", "make_date",
    // string shaping
    "substr", "substring", "concat", "concat_ws", "upper", "lower",
    "ucase", "lcase", "trim", "ltrim", "rtrim", "lpad", "rpad", "replace",
    "translate", "left", "right", "split_part", "length", "char_length",
    "instr", "locate", "initcap", "reverse", "repeat", "format_string",
    "regexp_extract", "regexp_replace", "substring_index",
    "startswith", "endswith", "contains", "like", "ilike", "rlike",
    "regexp", "regexp_like",
    // numeric shaping
    "abs", "floor", "ceil", "ceiling", "round", "bround", "mod", "pmod",
    "sign", "signum", "greatest", "least", "power", "pow", "sqrt", "exp",
    "ln", "log", "log2", "log10", "factorial", "bin", "hex", "unhex",
    "conv", "bit_count", "shiftleft", "shiftright",
    // null shaping / conditionals
    "coalesce", "nullif", "if", "ifnull", "nvl", "nvl2", "nanvl", "isnull",
    "isnotnull",
    // stable hashes
    "hash", "xxhash64", "md5", "sha1", "sha2", "crc32", "base64",
    "unbase64", "encode", "decode")

  private val CreateHead =
    """(?is)\s*CREATE\s+OR\s+REFRESH\s+(STREAMING\s+TABLE|MATERIALIZED\s+VIEW)\s+([A-Za-z_]\w*)\s*(.*?)\s*;?\s*""".r
  private val RefreshMv =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([A-Za-z_]\w*)\s*(FULL)?\s*;?\s*""".r
  private val ConstraintHead =
    """(?is)\s*CONSTRAINT\s+([A-Za-z_]\w*)\s+EXPECT\s*(.*)""".r
  private val OnViolation =
    """(?is)\s*(?:ON\s+VIOLATION\s+(DROP\s+ROW|FAIL\s+UPDATE))?\s*""".r
  private val CreateView =
    ("""(?is)\s*CREATE\s+(?:OR\s+REFRESH\s+)?(?:TEMPORARY\s+|PRIVATE\s+)?""" +
      """(?:STREAMING\s+)?(?:LIVE\s+)?VIEW\s+([A-Za-z_]\w*)\s*(.*?)\s*;?\s*""").r
  private val CreateFlowInsert =
    ("""(?is)\s*CREATE\s+FLOW\s+([A-Za-z_]\w*)\s+AS\s+INSERT\s+INTO\s+""" +
      """(?:(ONCE)\s+)?([A-Za-z_]\w*)\s+BY\s+NAME\s+(.+?)\s*;?\s*""").r
  private val ApplyChanges =
    ("""(?is)\s*(?:CREATE\s+FLOW\s+([A-Za-z_]\w*)\s+AS\s+)?""" +
      """(?:APPLY\s+CHANGES|AUTO\s+CDC)\s+INTO\s+([A-Za-z_]\w*)""" +
      """\s+FROM\s+(?:STREAM\s*\(\s*([A-Za-z_]\w*)\s*\)|([A-Za-z_]\w*))""" +
      """\s+KEYS\s*\(([^)]*)\)""" +
      """(\s+IGNORE\s+NULL\s+UPDATES)?""" +
      """(?:\s+APPLY\s+AS\s+DELETE\s+WHEN\s+(.+?))?""" +
      """(?:\s+APPLY\s+AS\s+TRUNCATE\s+WHEN\s+(.+?))?""" +
      """\s+SEQUENCE\s+BY\s+(?:\(([^)]*)\)|([A-Za-z_]\w*))""" +
      """(?:\s+COLUMNS\s+(?:\*\s+EXCEPT\s*\(([^)]*)\)|\(([^)]*)\)))?""" +
      """(?:\s+STORED\s+AS\s+SCD\s+TYPE\s+([12]))?""" +
      """(?:\s+TRACK\s+HISTORY\s+ON\s+(?:\*\s+EXCEPT\s*\(([^)]*)\)|\(([^)]*)\)))?""" +
      """\s*;?\s*""").r

  /** Execute a whole `;`-separated Lakeflow SQL SCRIPT against `p` — the
   *  file form a real pipeline ships (the SQL equivalent of declaring the
   *  reference's entire `dlt_bronze_to_silver_pipeline.py:1-133` module in
   *  one shot): statements split at TOP-LEVEL semicolons only (quote- and
   *  paren-aware — a `;` inside a string literal or a parenthesized block
   *  never splits), `--` line comments and `/* … */` block comments
   *  stripped outside string literals, empty statements skipped.
   *  Declaration only, like [[apply]] — run the graph with `p.run()`.
   *  Returns the number of statements executed. */
  def script(p: Pipeline, text: String): Int = {
    val stmts = splitTopLevel(stripComments(text), ';')
      .map(_.trim).filter(_.nonEmpty)
    stmts.foreach(apply(p, _))
    stmts.size
  }

  /** Strip `--` line comments and `/* … */` block comments, outside
   *  string literals (doubled-quote escapes honored); block comments
   *  become one space so adjacent tokens stay separated. */
  private def stripComments(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        out += c
        if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) {
            out += quote; i += 1
          } else quote = 0
        }
        i += 1
      } else if (c == '\'' || c == '"') { quote = c; out += c; i += 1 }
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        while (i < s.length && s.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        val end = s.indexOf("*/", i + 2)
        require(end >= 0, "unterminated /* block comment in SQL script")
        out += ' '
        i = end + 2
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** Execute one pipeline DDL statement against `p` (declaration only —
   *  run the graph with `p.run()`). */
  def apply(p: Pipeline, sqlText: String): Unit = sqlText match {
    case CreateHead(kind, name, rest) =>
      // optional expectations block first: ( CONSTRAINT n EXPECT (cond)
      // [ON VIOLATION DROP ROW | FAIL UPDATE], ... ) — balanced-paren
      // scanned, since conditions nest parentheses freely
      val (constraints, afterBlock0) = takeParenBlock(rest) match {
        case Some((block, tail)) => (parseConstraints(block), tail)
        case None => (Nil, rest)
      }
      // optional CLUSTER BY (c1, …) — liquid clustering on the declared
      // table (Lakeflow's grammar position: after the schema/constraint
      // block, before AS)
      val clusterRe = """(?is)\s*CLUSTER\s+BY\s*\(([^)]*)\)\s*(.*)""".r
      val (clusterCols, afterBlock1) = afterBlock0 match {
        case clusterRe(cc, tail) =>
          (cc.split(',').map(_.trim).filter(_.nonEmpty).toSeq, tail)
        case _ => (Seq.empty[String], afterBlock0)
      }
      // optional PARTITIONED BY (col) — a partitioned CDC/append target
      // makes every later merge partition-scoped (the O(new-write) shape)
      val partRe = """(?is)\s*PARTITIONED\s+BY\s*\(\s*([A-Za-z_]\w*)\s*\)\s*(.*)""".r
      val (partCol, afterBlock2) = afterBlock1 match {
        case partRe(c, tail) => (Some(c.trim), tail)
        case _ => (Option.empty[String], afterBlock1)
      }
      // optional TBLPROPERTIES (k = v, …) — the CDF keys
      // (`delta.enableChangeDataFeed`, Delta's name, or the engine's
      // `enableChangeFeed`) flip change-feed capture at DECLARATION (so
      // the target records row images from its very first merge and can
      // root downstream incremental consumers); other properties stamp
      // once the table materializes
      val tblPropsRe = """(?is)\s*TBLPROPERTIES\s*(\(.*)""".r
      val (rawProps, afterBlock) = afterBlock2 match {
        case tblPropsRe(rest2) => takeParenBlock(rest2) match {
          case Some((block, tail)) => (parseProps(block), tail)
          case None => throw new IllegalArgumentException(
            s"unbalanced TBLPROPERTIES in CREATE $name")
        }
        case _ => (Map.empty[String, String], afterBlock2)
      }
      val cdfKeys = Set("delta.enablechangedatafeed", "enablechangefeed")
      val enableCdf = rawProps.exists { case (k, v) =>
        cdfKeys.contains(k.toLowerCase(java.util.Locale.ROOT)) &&
          v.trim.equalsIgnoreCase("true")
      }
      val passProps = rawProps.filterNot { case (k, _) =>
        cdfKeys.contains(k.toLowerCase(java.util.Locale.ROOT)) }
      val asSelect = """(?is)\s*AS\s+(.+)""".r
      val select = afterBlock match {
        case asSelect(sel) => Some(sel)
        case s if s.trim.isEmpty => None
        case s => throw new IllegalArgumentException(
          s"unparseable CREATE tail: ${s.trim.linesIterator.next()}")
      }
      val isMv = kind.toUpperCase(java.util.Locale.ROOT).startsWith("MATERIALIZED")
      require(select.nonEmpty || !isMv, "MATERIALIZED VIEW needs AS SELECT")
      require(partCol.isEmpty || !isMv,
        "PARTITIONED BY applies to streaming tables (an MV recomputes whole)")
      require(!enableCdf || !isMv,
        "change-feed TBLPROPERTIES apply to streaming tables (an MV " +
          "recomputes by full rewrite — no row-level feed exists)")
      select match {
        case Some(sel) if !isMv =>
          // STREAMING TABLE AS SELECT: when the select is stateless over
          // exactly one STREAM(ds) (DLT's streaming-table restriction,
          // checked on the logical plan), register the TRUE streaming
          // form — incremental runs append the select over the source's
          // delta; snapshot runs recompute. Other shapes keep the
          // documented full-recompute refresh.
          streamingAppendSource(p, sel) match {
            case Some(src) =>
              p.streamingSelectTable(name, src, clusterCols, partCol)(df =>
                evalSelect(p, sel, Map(src -> df)))
            case None =>
              require(partCol.isEmpty,
                "PARTITIONED BY needs a streaming (stateless-over-STREAM) " +
                  "defining query — this one refreshes as a recompute MV")
              p.materializedView(name, clusterCols)(evalSelect(p, sel))
          }
          ()
        case Some(sel) =>
          // Lakeflow/Enzyme behavior: CREATE MV silently gets INCREMENTAL
          // refresh when the engine proves the plan maintainable (simple
          // SUM/MIN/MAX/COUNT(*) group-by over one declared dataset with a
          // row-level WHERE). Expectation blocks gate the defining query —
          // gating signed deltas would corrupt the algebra — so a
          // constrained MV keeps the recompute refresh.
          maintainableAggShape(p, sel) match {
            case Some(spec) if constraints.isEmpty =>
              p.autoAggMv(name, spec, clusterCols); ()
            case _ =>
              p.materializedView(name, clusterCols)(evalSelect(p, sel)); ()
          }
        case None =>
          p.streamingTable(name, clusterCols, enableChangeFeed = enableCdf,
            partitionBy = partCol)
          ()
      }
      // CDF on an AS-SELECT streaming table stamps post-materialization
      // (its appends derive feed inserts even before the stamp)
      val stampProps = passProps ++
        (if (enableCdf && select.nonEmpty && !isMv)
          Map(graft.lake.LakeTable.ChangeFeedProp -> "true")
        else Map.empty)
      if (stampProps.nonEmpty) { p.tableProps(name, stampProps); () }
      // DLT policy per constraint, grouped; observe-only groups (Warn,
      // Fail) attach BEFORE Drop so their violation counts reflect the
      // full input, not the post-drop survivors (DLT computes all
      // expectation metrics on the incoming rows)
      val order: Expectations.Policy => Int = {
        case Expectations.Warn => 0
        case Expectations.Fail => 1
        case Expectations.Drop => 2
      }
      constraints.groupBy(_._3).toSeq.sortBy(g => order(g._1)).foreach {
        case (policy, cs) =>
          p.expectations(name, cs.map(c => c._1 -> c._2).toMap, policy)
      }
      ()
    case CreateView(name, rest) =>
      // DLT's `@dlt.view` in SQL — `CREATE [TEMPORARY|PRIVATE] [STREAMING]
      // [LIVE] VIEW v [(CONSTRAINT …)] AS select`: an unmaterialized named
      // transformation other pipeline datasets read. When the select is
      // stateless over exactly one STREAM(ds) (including stream-preserved
      // joins), it registers as a STREAMING view: under runIncremental a
      // downstream CDC/append flow composes the transform onto the
      // source's change-feed delta — the bronze → clean → silver medallion
      // chain declared entirely in SQL. Constraint blocks gate the view's
      // rows wherever it resolves (snapshot thunk AND incremental delta).
      val (vConstraints, afterV) = takeParenBlock(rest) match {
        case Some((block, tail)) => (parseConstraints(block), tail)
        case None => (Nil, rest)
      }
      val vSelect = """(?is)\s*AS\s+(.+)""".r
      val sel = afterV match {
        case vSelect(s) => s
        case other => throw new IllegalArgumentException(
          s"CREATE VIEW $name needs AS SELECT, got: ${other.trim.take(40)}")
      }
      streamingAppendSource(p, sel) match {
        case Some(src) =>
          p.streamingView(name, src)(delta =>
            p.gateFor(name, evalSelect(p, sel, Map(src -> delta))))
        case None =>
          p.view(name)(p.gateFor(name, evalSelect(p, sel)))
      }
      val vOrder: Expectations.Policy => Int = {
        case Expectations.Warn => 0
        case Expectations.Fail => 1
        case Expectations.Drop => 2
      }
      vConstraints.groupBy(_._3).toSeq.sortBy(g => vOrder(g._1)).foreach {
        case (policy, cs) =>
          p.expectations(name, cs.map(c => c._1 -> c._2).toMap, policy)
      }
      ()
    case CreateFlowInsert(flowName, once, target, select) =>
      // Lakeflow's SQL append flow: `CREATE FLOW f AS INSERT INTO [ONCE] t
      // BY NAME <select>` — one of possibly many append-only flows feeding
      // t; ONCE is the one-time backfill marker. When the select reads
      // exactly ONE `STREAM(ds)` and is stateless over it (projections,
      // filters, stream-static joins — DLT's own streaming restriction,
      // checked on the LOGICAL PLAN), the flow registers as a TRUE
      // streaming append: under Pipeline.runIncremental it lands only the
      // source rows committed since its last run. Anything else (no
      // stream, several, or a stateful shape above it) keeps snapshot
      // semantics.
      streamingAppendSource(p, select) match {
        case Some(src) =>
          p.appendFlowStream(target, src, flowName, once = once != null)(
            delta => evalSelect(p, select, Map(src -> delta)))
        case None =>
          p.appendFlow(target, flowName, once = once != null)(evalSelect(p, select))
      }
      ()
    case ApplyChanges(flowName, target, streamSrc, plainSrc, keys, ignoreNulls,
        delWhen, truncWhen, seqList, seqBy, except, colList, scdType,
        trackExcept, trackOn) =>
      val source = Option(streamSrc).getOrElse(plainSrc)
      def cols(s: String): Seq[String] =
        Option(s).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      // SEQUENCE BY (c1, c2, …) — DLT's struct sequence_by: lexicographic
      // ordering over the tuple; the first column is primary
      val seqCols = Option(seqBy).map(s => Seq(s.trim)).getOrElse(cols(seqList))
      require(seqCols.nonEmpty, "SEQUENCE BY needs at least one column")
      p.autoCdcFlow(target, source,
        keys = cols(keys),
        sequenceBy = seqCols.head,
        sequenceAlso = seqCols.tail,
        scdType = Option(scdType).map(_.trim.toInt).getOrElse(1),
        applyAsDeletes = Option(delWhen).map(_.trim),
        applyAsTruncates = Option(truncWhen).map(_.trim),
        exceptColumns = cols(except),
        columnList = cols(colList),
        trackHistoryColumns = cols(trackOn),
        trackHistoryExceptColumns = cols(trackExcept),
        ignoreNullUpdates = ignoreNulls != null,
        // the CREATE FLOW wrapper's name attributes event-log
        // flow_progress rows (the dataset column stays the target —
        // DLT's event log addresses flows by their declared names)
        name = Option(flowName).map(_.trim).getOrElse(""))
      ()
    // Databricks SQL's synchronous single-MV refresh — the one PipelineSql
    // statement that EXECUTES instead of declaring
    case RefreshMv(name, full) =>
      p.refreshMaterializedView(name.trim, full = full != null)
    case other => throw new IllegalArgumentException(
      "PipelineSql supports CREATE OR REFRESH STREAMING TABLE [AS SELECT] / " +
        "CREATE OR REFRESH MATERIALIZED VIEW AS SELECT / " +
        "CREATE [TEMPORARY|PRIVATE] [STREAMING] VIEW AS SELECT / " +
        "REFRESH MATERIALIZED VIEW name [FULL] / " +
        "CREATE FLOW ... AS INSERT INTO / " +
        s"APPLY CHANGES (AUTO CDC) INTO, got: ${other.linesIterator.next()}")
  }

  /** `( … )` with balanced nesting at the head of `s` → (inside, tail).
   *  QUOTE-AWARE: parens inside '…'/"…" string literals (doubled-quote
   *  escapes honored) never count — a constraint condition or property
   *  value may legally contain parentheses or commas in a string. */
  private def takeParenBlock(s: String): Option[(String, String)] = {
    val t = s.trim
    if (!t.startsWith("(")) None
    else {
      var depth = 0
      var i = 0
      var quote: Char = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if (quote != 0) {
          if (c == quote) {
            // doubled quote = escaped quote inside the literal
            if (i + 1 < t.length && t.charAt(i + 1) == quote) i += 1
            else quote = 0
          }
        } else c match {
          case '\'' | '"' => quote = c
          case '(' => depth += 1
          case ')' =>
            depth -= 1
            if (depth == 0) return Some((t.substring(1, i), t.substring(i + 1)))
          case _ =>
        }
        i += 1
      }
      throw new IllegalArgumentException(s"unbalanced parentheses in: $t")
    }
  }

  /** `k = v` pairs out of a TBLPROPERTIES block; keys and values may be
   *  bare or single/double-quoted (Delta writes `'delta.x' = 'true'`). */
  private def parseProps(block: String): Map[String, String] =
    splitTopLevel(block, ',').map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"unparseable TBLPROPERTIES entry: $kv")
      def unq(s: String): String = {
        val t = s.trim
        if (t.length >= 2 && ((t.startsWith("'") && t.endsWith("'")) ||
            (t.startsWith("\"") && t.endsWith("\""))))
          t.substring(1, t.length - 1)
        else t
      }
      unq(kv.substring(0, i)) -> unq(kv.substring(i + 1))
    }.toMap

  /** Split on `sep` at parenthesis depth 0, outside string literals. */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) i += 1
          else quote = 0
        }
      } else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case `sep` if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result()
  }

  /** `(name, condition, policy)` triples out of a constraint block. DLT's
   *  policy mapping: no ON VIOLATION → Warn (expect), DROP ROW → Drop,
   *  FAIL UPDATE → Fail. */
  private def parseConstraints(
      block: String): Seq[(String, String, Expectations.Policy)] =
    splitTopLevel(block, ',').map(_.trim).filter(_.nonEmpty).map {
      case ConstraintHead(name, rest) =>
        val (cond, tail) = takeParenBlock(rest).getOrElse(
          throw new IllegalArgumentException(
            s"CONSTRAINT $name EXPECT needs a parenthesized condition"))
        val policy = tail match {
          case OnViolation(null) => Expectations.Warn
          case OnViolation(v) =>
            if (v.toUpperCase(java.util.Locale.ROOT).startsWith("DROP"))
              Expectations.Drop
            else Expectations.Fail
          case other => throw new IllegalArgumentException(
            s"unparseable constraint tail for $name: $other")
        }
        (name, cond.trim, policy)
      case other => throw new IllegalArgumentException(
        s"unparseable constraint: $other")
    }

  /** The single pipeline dataset a defining SELECT streams from, when the
   *  plan is STATELESS over it: exactly one `STREAM(ds)` occurrence, in
   *  the main plan (not a subquery), with only Project/Filter/Join/
   *  SubqueryAlias nodes between it and the root — the shapes a per-batch
   *  delta substitution is sound for (a stream-static join of the delta
   *  is DLT's legal enrichment; an aggregate/sort/limit/union above the
   *  stream is not per-batch-composable and falls back to snapshot).
   *
   *  Joins additionally require the STREAM side to be the PRESERVED side
   *  (Spark's own stream-static rule): inner joins qualify on either side;
   *  LEFT OUTER / LEFT SEMI / LEFT ANTI only with the stream on the left;
   *  RIGHT OUTER only with the stream on the right. A static-side-preserved
   *  shape (`dims LEFT JOIN STREAM(src)`, RIGHT/FULL OUTER with the stream
   *  preserved by the other side, CROSS) would re-emit unmatched STATIC
   *  rows with NULL stream columns on EVERY incremental window — unbounded
   *  phantom duplicates a full refresh could never produce — so it falls
   *  back to snapshot semantics like every other stateful shape. */
  private def streamingAppendSource(p: Pipeline, select: String): Option[String] = {
    val plan = p.spark.sessionState.sqlParser.parsePlan(select)
    def isStreamRef(n: LogicalPlan): Boolean = n match {
      case UnresolvedRelation(parts, _, true) =>
        parts.length == 1 && p.contains(parts.head)
      case _ => false
    }
    val mainRefs = plan.collect {
      case r: UnresolvedRelation if isStreamRef(r) => r.multipartIdentifier.head
    }
    val allRefs = plan.collectWithSubqueries {
      case r: UnresolvedRelation if isStreamRef(r) => r.multipartIdentifier.head
    }
    if (mainRefs.size != 1 || allRefs.size != 1) return None
    def containsStream(n: LogicalPlan): Boolean =
      isStreamRef(n) || n.children.exists(containsStream)
    // USING / NATURAL joins wrap the underlying join type — unwrap before
    // classifying preservation
    def baseType(t: JoinType): JoinType = t match {
      case UsingJoin(tp, _) => tp
      case NaturalJoin(tp) => tp
      case other => other
    }
    def streamPreserved(j: Join): Boolean = baseType(j.joinType) match {
      case Inner => true // delta ⋈ static distributes over window union
      case LeftOuter | LeftSemi | LeftAnti => containsStream(j.left)
      case RightOuter => containsStream(j.right)
      case _ => false // Cross / FullOuter / AsOf: static side preserved
    }
    def statelessAbove(n: LogicalPlan): Boolean =
      if (isStreamRef(n)) true
      else n match {
        case j: Join =>
          streamPreserved(j) &&
            j.children.forall(c => !containsStream(c) || statelessAbove(c))
        case _: Project | _: Filter | _: SubqueryAlias =>
          n.children.forall(c => !containsStream(c) || statelessAbove(c))
        case _ => !containsStream(n)
      }
    if (statelessAbove(plan)) Some(mainRefs.head) else None
  }

  /** Detect the MAINTAINABLE-MV shape on the parsed plan — Lakeflow's
   *  Enzyme rule, conservatively: the statement must be exactly
   *  `SELECT g…, SUM(e) AS a…, MIN(e)/MAX(e) AS b…, AVG(e) AS c…,
   *   COUNT(e) AS d…, COUNT(*)|COUNT(1) AS n
   *   FROM <declared dataset> [[AS] f]
   *   [JOIN <declared dataset> [[AS] d] ON <cond>]…
   *   [WHERE <row predicate>] GROUP BY g…`
   *  with every aggregate ALIASED, every group column selected (bare or
   *  table-qualified, optionally re-aliased), no DISTINCT/FILTER/HAVING/
   *  ORDER BY/subqueries, and every relation a declared TABLE-BACKED
   *  dataset (a recompute MV refreshes LAST — sourcing an incremental MV
   *  from it would read stale state — and a plain view's dependency
   *  closure may reach one, so both keep the documented recompute refresh
   *  in declaration order; star-join dims additionally need a pinnable
   *  version). The join form is the STAR-JOIN shape — the first relation
   *  is the fact/delta side, inner ON-joins only. Anything else
   *  returns None and the MV registers as a full recompute — detection can
   *  only ever trade recompute for an equivalent incremental plan, never
   *  change results. Rendered expression texts are round-trip re-parsed so
   *  a shape whose SQL can't regenerate falls back instead of failing at
   *  run time. */
  private def maintainableAggShape(p: Pipeline, select: String)
      : Option[Pipeline.AutoMvSpec] = {
    sealed trait Out
    final case class G(name: String, e: String, key: String) extends Out
    final case class Sm(alias: String, e: String) extends Out
    final case class Mn(alias: String, e: String) extends Out
    final case class Mx(alias: String, e: String) extends Out
    final case class Cnt(alias: String) extends Out
    final case class Av(alias: String, e: String) extends Out
    final case class CntE(alias: String, e: String) extends Out
    final case class Dc(alias: String, e: String) extends Out
    final case class Rel(name: String, alias: Option[String])
    def reparses(sqlText: String): Boolean = scala.util.Try {
      p.spark.sessionState.sqlParser.parseExpression(sqlText); true
    }.getOrElse(false)
    def noSubquery(e: Expression): Boolean =
      e.collectFirst { case s: SubqueryExpression => s }.isEmpty
    // deterministic, row-local expression: computable per row image from
    // that image alone — the property that lets a GROUP BY expression ride
    // the signed-delta algebra unchanged (the key is computed per image
    // BEFORE signing). Function determinism is an ALLOWLIST on the
    // unresolved name (an UnresolvedFunction node carries no determinism
    // info — rand() would otherwise slip through); an unlisted function
    // keeps the documented recompute path, never a wrong result.
    def rowLocalDet(e: Expression): Boolean = e match {
      case _: UnresolvedAttribute => true
      case _: Literal => true
      case c: Cast => rowLocalDet(c.child)
      case b: BinaryArithmetic => b.children.forall(rowLocalDet)
      case cw: CaseWhen => cw.children.forall(rowLocalDet)
      case f: UnresolvedFunction =>
        f.nameParts.length == 1 && !f.isDistinct && f.filter.isEmpty &&
          PipelineSql.DeterministicRowFns.contains(
            f.nameParts.head.toLowerCase(java.util.Locale.ROOT)) &&
          f.arguments.forall(rowLocalDet)
      case _ => false
    }
    // boolean/expression-shape wrapper over the rowLocalDet leaf
    // allowlist: AND/OR/comparisons/arithmetic (BinaryOperator), NOT,
    // IN, IS [NOT] NULL and CASE predicates recurse; leaves must be
    // row-local deterministic. This is the soundness gate for every
    // expression the signed-delta algebra evaluates PER ROW IMAGE — the
    // maintained WHERE, aggregate inputs, branch filters: a
    // non-deterministic term (rand()) would score the +1 and −1 images
    // of one row differently and silently drift the panel, so anything
    // outside the allowlist keeps the documented recompute path.
    def rowLocalPred(e: Expression): Boolean = e match {
      case b: BinaryOperator => b.children.forall(rowLocalPred)
      case n: Not => rowLocalPred(n.child)
      case i: In => i.children.forall(rowLocalPred)
      case _: IsNull | _: IsNotNull => e.children.forall(rowLocalPred)
      case cw: CaseWhen => cw.children.forall(rowLocalPred)
      case c: Cast => rowLocalPred(c.child)
      // LIKE/ILIKE/RLIKE parse to dedicated nodes (BinaryExpression, not
      // BinaryOperator) and `x BETWEEN lo AND hi` to the unresolved
      // 3-arg `between` call — all row-local deterministic predicates
      case l @ (_: org.apache.spark.sql.catalyst.expressions.Like |
                _: org.apache.spark.sql.catalyst.expressions.ILike |
                _: org.apache.spark.sql.catalyst.expressions.RLike) =>
        l.children.forall(rowLocalPred)
      case f: UnresolvedFunction
          if f.nameParts == Seq("between") && f.arguments.length == 3 =>
        f.arguments.forall(rowLocalPred)
      case _ => rowLocalDet(e)
    }
    // the maintainable-aggregate KIND of one call: (tag, arg SQL) —
    // shared by the SELECT-list classifier and the HAVING rewriter so
    // both recognize exactly the same aggregate family
    def aggKind(f: UnresolvedFunction): Option[(String, String)] =
      if (f.nameParts.length != 1 || f.filter.nonEmpty ||
          !f.arguments.forall(noSubquery)) None
      else {
        val fn = f.nameParts.head.toLowerCase(java.util.Locale.ROOT)
        // aggregate INPUTS need no extra determinism gate: Spark's own
        // analyzer rejects non-deterministic aggregate arguments
        // (AGGREGATE_FUNCTION_WITH_NONDETERMINISTIC_EXPRESSION) on the
        // maintained AND recompute paths alike, and deterministic ≡
        // row-local for a per-image evaluation
        def okArg(e: Expression): Boolean = reparses(e.sql)
        if (f.isDistinct) (fn, f.arguments) match {
          // COUNT(DISTINCT e): maintained through a signed COMPANION
          // table of (group, value) multiplicities
          case ("count", Seq(e)) if okArg(e) => Some(("dc", e.sql))
          case _ => None
        }
        else (fn, f.arguments) match {
          case ("sum", Seq(e)) if okArg(e) => Some(("sum", e.sql))
          case ("min", Seq(e)) if okArg(e) => Some(("min", e.sql))
          case ("max", Seq(e)) if okArg(e) => Some(("max", e.sql))
          case ("count", Seq(Literal(1, _))) => Some(("cnt", ""))
          case ("count", Seq(_: UnresolvedStar)) => Some(("cnt", ""))
          // Enzyme's AVG rule: maintained as a hidden SUM+COUNT
          // decomposition; COUNT(expr) as a signed non-null count
          case ("avg", Seq(e)) if okArg(e) => Some(("avg", e.sql))
          case ("count", Seq(e)) if okArg(e) => Some(("cnte", e.sql))
          case _ => None
        }
      }
    def kindOut(kind: (String, String), alias: String): Out = kind match {
      case ("sum", e) => Sm(alias, e)
      case ("min", e) => Mn(alias, e)
      case ("max", e) => Mx(alias, e)
      case ("cnt", _) => Cnt(alias)
      case ("avg", e) => Av(alias, e)
      case ("cnte", e) => CntE(alias, e)
      case (_, e) => Dc(alias, e)
    }
    // a rewritten HAVING condition: the predicate SQL over panel columns,
    // the HIDDEN companion aggregates it minted (per kind, parallel to
    // the spec's own lists), and the hidden column names it references
    // (minted companions + the internal count when COUNT(*) wasn't
    // selected) — presentation projects these for the filter, then drops
    // them before any reader sees a row
    final case class HavingRewrite(sql: String,
        sums: Seq[(String, String)], mins: Seq[(String, String)],
        maxs: Seq[(String, String)], avgs: Seq[(String, String)],
        cnts: Seq[(String, String)], dcs: Seq[(String, String)],
        hidden: Seq[String])
    // rewrite a HAVING condition to panel-column references: aggregate
    // calls resolve to the declared alias computing the SAME aggregate,
    // or mint a hidden `__hv_N` companion (COUNT(*) rides the
    // always-maintained group-death counter for free); bare single-part
    // attributes must name declared outputs; literals and the row-local
    // scalar allowlist recurse; anything else (unknown function, window
    // spec, qualified or undeclared column) fails the rewrite and the MV
    // keeps the documented recompute path — the rewrite can only ever
    // trade recompute for an equivalent maintained filter, never change
    // results
    def rewriteHaving(cond: Expression, os: Seq[Out], names: Seq[String],
        aggFns: Set[String] = Set("sum", "min", "max", "avg", "count"))
        : Option[HavingRewrite] = {
      val declared: Map[(String, String), String] = os.reverse.collect {
        case Sm(a, e) => ("sum", e) -> a
        case Mn(a, e) => ("min", e) -> a
        case Mx(a, e) => ("max", e) -> a
        case Av(a, e) => ("avg", e) -> a
        case CntE(a, e) => ("cnte", e) -> a
        case Dc(a, e) => ("dc", e) -> a
        case Cnt(a) => ("cnt", "") -> a
      }.toMap // reversed so the FIRST declaration of a duplicate wins
      // group-key references by their DEFINING sql ("d.et", "g",
      // "date_trunc('day', ts)") → the declared output column, so a
      // HAVING may reference the key as the query's FROM side spells it,
      // not only by its output alias
      val groupRefs: Map[String, String] =
        os.collect { case G(n, e, k) => Seq(e -> n, k -> n) }.flatten.toMap
      val minted = scala.collection.mutable.LinkedHashMap[(String, String), String]()
      val hidden = scala.collection.mutable.LinkedHashSet[String]()
      def aggRef(f: UnresolvedFunction): Option[Expression] =
        aggKind(f).map { kind =>
          val alias = declared.get(kind) match {
            case Some(a) => a
            case None if kind._1 == "cnt" =>
              // the group-death counter is ALWAYS maintained — reference
              // it directly, hidden iff the user never selected COUNT(*)
              hidden += "__cnt"; "__cnt"
            case None =>
              val a = minted.getOrElseUpdate(kind, s"__hv_${minted.size}")
              hidden += a
              a
          }
          UnresolvedAttribute(Seq(alias))
        }
      def rw(e: Expression): Option[Expression] = e match {
        // a term spelling a GROUP KEY the way the FROM side defines it
        // (qualified attribute, or the whole key expression) reads the
        // key's output column — checked first so `date_trunc('day', ts)`
        // maps as a unit instead of recursing into unresolvable args
        case _ if groupRefs.contains(e.sql) =>
          Some(UnresolvedAttribute(Seq(groupRefs(e.sql))))
        case f: UnresolvedFunction
            if f.nameParts.length == 1 && aggFns.contains(
              f.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
          aggRef(f)
        case a: UnresolvedAttribute =>
          if (a.nameParts.length == 1 && names.contains(a.nameParts.head))
            Some(a)
          else None
        case _: Literal => Some(e)
        case f: UnresolvedFunction =>
          if (f.nameParts.length == 1 && !f.isDistinct && f.filter.isEmpty &&
              PipelineSql.DeterministicRowFns.contains(
                f.nameParts.head.toLowerCase(java.util.Locale.ROOT)))
            rwKids(e)
          else None
        case _: BinaryOperator | _: Not | _: In | _: IsNull | _: IsNotNull |
            _: CaseWhen | _: Cast => rwKids(e)
        case _ => None
      }
      def rwKids(e: Expression): Option[Expression] = {
        val ks = e.children.map(rw)
        if (ks.forall(_.isDefined)) Some(e.withNewChildren(ks.map(_.get)))
        else None
      }
      for {
        r <- rw(cond)
        sql = r.sql
        if reparses(sql)
      } yield HavingRewrite(sql,
        sums = minted.toSeq.collect { case (("sum", e), a) => a -> e },
        mins = minted.toSeq.collect { case (("min", e), a) => a -> e },
        maxs = minted.toSeq.collect { case (("max", e), a) => a -> e },
        avgs = minted.toSeq.collect { case (("avg", e), a) => a -> e },
        cnts = minted.toSeq.collect { case (("cnte", e), a) => a -> e },
        dcs = minted.toSeq.collect { case (("dc", e), a) => a -> e },
        hidden = hidden.toSeq)
    }
    scala.util.Try {
      // HAVING is maintained two ways, both presentation-filters over the
      // maintained FULL panel (a group crossing the threshold in either
      // direction re-appears with exact running aggregates):
      //  - bare references to declared output columns pass through;
      //  - AGGREGATE CALLS (`HAVING SUM(v) > 5`, the reference's own
      //    invariant idiom `GROUP BY … HAVING count(*) > 1`) are rewritten
      //    to panel columns — the declared alias when the same aggregate
      //    is selected, otherwise a MINTED HIDDEN companion column
      //    (`__hv_N`, maintained exactly like a declared aggregate and
      //    never surfaced to readers). COUNT(*) rides the always-present
      //    group-death counter for free. A condition that won't rewrite
      //    (unknown function, qualified or undeclared column, subquery)
      //    keeps the documented recompute path.
      val parsed = p.spark.sessionState.sqlParser.parsePlan(select) match {
        case a: Aggregate => Some((a, Option.empty[Expression]))
        case UnresolvedHaving(cond, a: Aggregate) if noSubquery(cond) =>
          Some((a, Some(cond)))
        case _ => None
      }
      parsed match {
        case Some((agg, having0)) =>
          // the maintained WHERE must be ROW-LOCAL DETERMINISTIC (the
          // signed algebra applies it per row image — see rowLocalPred);
          // a Filter outside the allowlist stays WRAPPED, so the leaf
          // walk below fails and the MV keeps the recompute path, never
          // a silently dropped predicate
          val (where, whereE, rel) = agg.child match {
            case Filter(cond, r) if noSubquery(cond) && reparses(cond.sql) &&
                rowLocalPred(cond) =>
              (Some(cond.sql), Some(cond), r)
            case r => (None, Option.empty[Expression], r)
          }
          // a Filter that failed the guards must NOT silently drop: only a
          // bare relation (or alias of one) qualifies as a leaf — and a
          // LEFT-DEEP chain of INNER or LEFT OUTER ON-joins of such leaves
          // is the STAR-JOIN shape (the first relation is the fact/delta
          // side; both inner AND left joins distribute over a union on the
          // preserved fact side — (F ∪ ΔF) ⟕ D = (F ⟕ D) ∪ (ΔF ⟕ D) — so
          // the fact window joined against UNCHANGED dims maintains
          // exactly, null-extended misses included; right/full/cross/
          // using/natural joins keep the recompute path: their preserved
          // side is not the delta side)
          def leaf(n: LogicalPlan): Option[Rel] = n match {
            case UnresolvedRelation(parts, _, false) if parts.length == 1 =>
              Some(Rel(parts.head, None))
            case SubqueryAlias(id, UnresolvedRelation(parts, _, false))
                if parts.length == 1 => Some(Rel(parts.head, Some(id.name)))
            case _ => None
          }
          def walk(n: LogicalPlan)
              : Option[(Rel, Seq[(Rel, String, Expression)])] = n match {
            case Join(l, r, jt, Some(cond), hint)
                if (jt == Inner || jt == LeftOuter) &&
                  hint == org.apache.spark.sql.catalyst.plans.logical
                    .JoinHint.NONE && noSubquery(cond) && reparses(cond.sql) =>
              for { lw <- walk(l); d <- leaf(r) }
                yield (lw._1, lw._2 :+
                  ((d, if (jt == Inner) "inner" else "left", cond)))
            case other =>
              leaf(other).map(_ -> Seq.empty[(Rel, String, Expression)])
          }
          val walked = walk(rel)
          // UNION ALL shape — `FROM (a UNION ALL SELECT g, v FROM b …)`:
          // γ over UNION ALL is additive, so each branch's signed window
          // maintains the panel independently under its own ledger. A
          // branch is a bare declared relation or a plain bare-column
          // projection of one (positional SQL union semantics — the
          // engine renames later branches' windows to the first branch's
          // columns), optionally over a ROW-LOCAL WHERE (`SELECT g, v
          // FROM b WHERE region = 'eu'` — the multi-region landing
          // shape): the predicate applies per row image to that branch's
          // signed window, the same algebra the top-level WHERE already
          // rides, and may reference branch columns the projection drops
          // (it filters PRE-projection, like SQL). Branch-level
          // projected expressions/aliases, non-row-local predicates and
          // UNION DISTINCT (parsed as Distinct(Union)) keep the
          // recompute path.
          def peelAlias(x: LogicalPlan): LogicalPlan = x match {
            case SubqueryAlias(_, c) => peelAlias(c)
            case o => o
          }
          // a branch predicate also may not smuggle qualified references
          // (the runtime branch frame carries bare columns only)
          def branchPred(cond: Expression): Boolean =
            rowLocalPred(cond) && noSubquery(cond) && reparses(cond.sql) &&
              cond.collect { case a: UnresolvedAttribute => a }
                .forall(_.nameParts.length == 1)
          // a branch projection entry: (select-expression SQL, output
          // name). Bare columns select themselves; ALIASED ROW-LOCAL
          // expressions (`SELECT g, v * 2 AS v2 FROM a` — unit
          // conversions, derived measures) are computed per row image
          // BEFORE signing, so the signed algebra is unchanged — the
          // union's output names bind from the FIRST branch's aliases,
          // positional SQL semantics as ever. Unaliased expressions,
          // qualified references and non-row-local terms fall back.
          def projEntries(exprs: Seq[Expression])
              : Option[Seq[(String, String)]] = {
            val es = exprs.map {
              case a: UnresolvedAttribute if a.nameParts.length == 1 =>
                Some((a.nameParts.head, a.nameParts.head))
              case al @ Alias(e, _)
                  if rowLocalPred(e) && noSubquery(e) && reparses(e.sql) &&
                    e.collect { case a: UnresolvedAttribute => a }
                      .forall(_.nameParts.length == 1) =>
                Some((e.sql, al.name))
              case _ => None
            }
            if (es.nonEmpty && es.forall(_.isDefined))
              Some(es.flatten.toSeq)
            else None
          }
          def unionBranch(n: LogicalPlan)
              : Option[(String, Option[Seq[(String, String)]], Option[String])] =
            peelAlias(n) match {
              case UnresolvedRelation(parts, _, false) if parts.length == 1 =>
                Some((parts.head, None, None))
              case Project(Seq(_: UnresolvedStar),
                  UnresolvedRelation(parts, _, false)) if parts.length == 1 =>
                Some((parts.head, None, None))
              case Project(exprs, UnresolvedRelation(parts, _, false))
                  if parts.length == 1 =>
                projEntries(exprs).map(cs => (parts.head, Some(cs), None))
              case Project(Seq(_: UnresolvedStar),
                  Filter(cond, UnresolvedRelation(parts, _, false)))
                  if parts.length == 1 && branchPred(cond) =>
                Some((parts.head, None, Some(cond.sql)))
              case Project(exprs,
                  Filter(cond, UnresolvedRelation(parts, _, false)))
                  if parts.length == 1 && branchPred(cond) =>
                projEntries(exprs).map(cs =>
                  (parts.head, Some(cs), Some(cond.sql)))
              case _ => None
            }
          def branchesOf(u: Union)
              : Option[Seq[(String, Option[Seq[(String, String)]], Option[String])]] =
            if (u.children.size < 2 || u.byName) None
            else {
              val bs = u.children.map(unionBranch)
              if (bs.forall(_.isDefined)) Some(bs.flatten.toSeq) else None
            }
          val unionBs
              : Option[Seq[(String, Option[Seq[(String, String)]], Option[String])]] =
            peelAlias(rel) match {
              case u: Union => branchesOf(u)
              case _ => None
            }
          // UNION-AS-FACT STAR — `FROM (a UNION ALL …) f JOIN dim d ON
          // f.k = d.k`: the leftmost relation of the left-deep join chain
          // is an ALIASED union of maintainable branches (the alias is
          // required — qualified outer references bind to it, exactly as
          // the runtime enrich re-aliases the union frame). Joins
          // distribute over a union on the preserved fact side branch by
          // branch, so each branch window enriches against the pinned
          // dims independently and the dim-delta ± windows slice the
          // UNION of the branches — both compositions reuse the star
          // machinery unchanged.
          def factUnion(n: LogicalPlan): Option[(String,
              Seq[(String, Option[Seq[(String, String)]], Option[String])])] = n match {
            case SubqueryAlias(id, u: Union) =>
              branchesOf(u).map(bs => (id.name, bs))
            case _ => None
          }
          def walkU(n: LogicalPlan): Option[((String,
              Seq[(String, Option[Seq[(String, String)]], Option[String])]),
              Seq[(Rel, String, Expression)])] = n match {
            case Join(l, r, jt, Some(cond), hint)
                if (jt == Inner || jt == LeftOuter) &&
                  hint == org.apache.spark.sql.catalyst.plans.logical
                    .JoinHint.NONE && noSubquery(cond) && reparses(cond.sql) =>
              for { lw <- walkU(l); d <- leaf(r) }
                yield (lw._1, lw._2 :+
                  ((d, if (jt == Inner) "inner" else "left", cond)))
            case other => factUnion(other).map(_ -> Seq.empty)
          }
          // only claim the union-star shape when there IS a join — a
          // joinless aliased union belongs to the plain-union path above
          val unionStar: Option[(String,
              Seq[(String, Option[Seq[(String, String)]], Option[String])],
              Seq[(Rel, String, Expression)])] =
            if (walked.isDefined || unionBs.isDefined) None
            else walkU(rel).collect {
              case ((alias, bs), js) if js.nonEmpty => (alias, bs, js) }
          val allBranches = unionBs.orElse(unionStar.map(_._2))
          // union MVs bind the outer expressions to the FIRST branch's
          // bare column names — any qualified reference (the subquery
          // alias won't exist on the runtime union frame) falls back.
          // The HAVING condition is scanned too: its aggregate arguments
          // become panel/companion columns evaluated over the same bare
          // frame, so a qualified ref there would crash every refresh
          // instead of recomputing
          def onlySinglePartRefs: Boolean =
            (agg.aggregateExpressions ++ agg.groupingExpressions ++
              whereE.toSeq ++ having0.toSeq).forall(e =>
              e.collect { case a: UnresolvedAttribute => a }
                .forall(_.nameParts.length == 1))
          // the union shapes masquerade as a single fact through the
          // shared guards (name = first branch; the union-star keeps its
          // subquery alias as the fact alias); per-branch checks ride
          // separate guards
          val walkedOrUnion = walked
            .orElse(unionBs.map(bs =>
              (Rel(bs.head._1, None), Seq.empty[(Rel, String, Expression)])))
            .orElse(unionStar.map { case (alias, bs, js) =>
              (Rel(bs.head._1, Some(alias)), js) })
          // fact-equi-dim key extraction (the DIM-DELTA maintenance
          // handle): `<fact>.<col> = <dim>.<col>` equalities (either
          // order, any count — composite dim keys included) collected
          // from the ON condition's TOP-LEVEL CONJUNCTION, every side an
          // attribute reference qualified by the two relations' aliases.
          // Non-equi conjuncts (the SCD2 validity interval
          // `f.ts >= d.start_at AND f.ts < d.end_at`, range bands, OR
          // residuals) are SKIPPED, not disqualifying: every join match
          // still satisfies the extracted equi conjuncts, so a dim
          // change's blast radius stays bounded by the changed keys and
          // the ± signed branches apply the FULL condition through the
          // enrich — the dim-delta lemma is residual-agnostic. Only a
          // condition with NO top-level fact-equi-dim conjunct (e.g. pure
          // range join, OR at the top) leaves `equi` empty — dim changes
          // then keep the documented recompute path; never a correctness
          // decision.
          // INTERVAL-BAND extraction (the as-of residual's pruning
          // handle): top-level conjuncts of the form `<fact>.<ts> >=|>
          // <dim>.<lo>` / `<fact>.<ts> <|<= <dim>.<hi>` (either operand
          // order). A dim-delta refresh uses them to bound the fact
          // slice by the changed validity images' conservative
          // [min lower, max upper] box on top of the key slice — fact
          // rows outside the box join only outside every changed
          // interval, so their ± contributions cancel and excluding
          // them is exact. Collection failure only ever skips pruning.
          def bandsOf(factQ: String, dimQ: String, cond: Expression)
              : Seq[(String, String, Boolean)] = {
            import org.apache.spark.sql.catalyst.expressions.{
              GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
            def qa(e: Expression): Option[(String, String)] = e match {
              case a: UnresolvedAttribute if a.nameParts.length == 2 =>
                Some((a.nameParts.head, a.nameParts.last))
              case _ => None
            }
            // (fact ts col, dim bound col, isLower) for `fact OP dim`
            def side(l: Expression, r: Expression, factGreater: Boolean)
                : Seq[(String, String, Boolean)] =
              (qa(l), qa(r)) match {
                case (Some((`factQ`, fc)), Some((`dimQ`, dc))) =>
                  Seq((fc, dc, factGreater))
                case (Some((`dimQ`, dc)), Some((`factQ`, fc))) =>
                  Seq((fc, dc, !factGreater))
                case _ => Nil
              }
            cond match {
              case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
                bandsOf(factQ, dimQ, l) ++ bandsOf(factQ, dimQ, r)
              case GreaterThanOrEqual(l, r) => side(l, r, factGreater = true)
              case GreaterThan(l, r) => side(l, r, factGreater = true)
              case LessThan(l, r) => side(l, r, factGreater = false)
              case LessThanOrEqual(l, r) => side(l, r, factGreater = false)
              // Spark 4 parses `x BETWEEN lo AND hi` as the unresolved
              // 3-arg `between` call (resolved later to the Between
              // RuntimeReplaceable) — both bounds inclusive
              case f: UnresolvedFunction
                  if f.nameParts == Seq("between") &&
                    f.arguments.length == 3 =>
                side(f.arguments(0), f.arguments(1), factGreater = true) ++
                  side(f.arguments(0), f.arguments(2), factGreater = false)
              case _ => Nil
            }
          }
          def equiOf(factQ: String, dimQ: String, cond: Expression)
              : Seq[(String, String)] = (cond match {
            case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
              equiOf(factQ, dimQ, l) ++ equiOf(factQ, dimQ, r)
            case org.apache.spark.sql.catalyst.expressions.EqualTo(
                a: UnresolvedAttribute, b: UnresolvedAttribute)
                if a.nameParts.length == 2 && b.nameParts.length == 2 =>
              (a.nameParts.head, b.nameParts.head) match {
                case (`factQ`, `dimQ`) =>
                  Seq(a.nameParts.last -> b.nameParts.last)
                case (`dimQ`, `factQ`) =>
                  Seq(b.nameParts.last -> a.nameParts.last)
                case _ => Nil
              }
            case _ => Nil
          }).distinct
          // group keys: bare/table-qualified attributes (the star shape
          // groups by dim columns like `d.region`) OR deterministic
          // row-local EXPRESSIONS over them (`GROUP BY date_trunc('day',
          // ts)` — the date-grained gold panel): the expression is
          // computed per row image before signing, so the signed-delta
          // algebra is unchanged. Each key is canonicalized to its
          // rendered SQL; attribute keys also keep their name parts for
          // the SELECT-list match.
          val groupKeys: Option[Seq[(String, Option[Seq[String]])]] = {
            val gs = agg.groupingExpressions.map {
              case a: UnresolvedAttribute if a.nameParts.length <= 2 =>
                Some((a.sql, Option(a.nameParts.toSeq)))
              case e if rowLocalDet(e) && noSubquery(e) && reparses(e.sql) =>
                Some((e.sql, Option.empty[Seq[String]]))
              case _ => None
            }
            if (gs.nonEmpty && gs.forall(_.isDefined) &&
              gs.flatten.map(_._1).distinct.size == gs.size)
              Some(gs.flatten.toSeq)
            else None
          }
          def groupOut(a: UnresolvedAttribute, out: String): Option[Out] =
            if (a.nameParts.length <= 2)
              groupKeys.flatMap(_.collectFirst {
                case (ksql, Some(kparts)) if kparts == a.nameParts.toSeq =>
                  G(out, a.sql, ksql)
              })
            else None
          def classify(ne: Expression): Option[Out] = ne match {
            case a: UnresolvedAttribute => groupOut(a, a.nameParts.last)
            case al @ Alias(a: UnresolvedAttribute, _)
                if groupOut(a, al.name).isDefined => groupOut(a, al.name)
            // an aliased EXPRESSION matching a group key (by rendered SQL)
            // is that key's output column — must match before the
            // aggregate-function case (date_trunc would otherwise fail
            // aggregate classification and sink the whole shape)
            case al @ Alias(e, _)
                if !e.isInstanceOf[UnresolvedAttribute] &&
                  groupKeys.exists(_.exists { case (ksql, p) =>
                    p.isEmpty && ksql == e.sql }) =>
              Some(G(al.name, e.sql, e.sql))
            case al @ Alias(f: UnresolvedFunction, _) =>
              aggKind(f).map(kindOut(_, al.name))
            case _ => None
          }
          val outs = agg.aggregateExpressions.map(classify)
          for {
            (fact, joins) <- walkedOrUnion
            s = fact.name
            // TABLE-BACKED sources only — fact AND every dim AND every
            // union branch: a plain-view source (whose dependency closure
            // may reach a recompute MV that refreshes last) and direct
            // recompute-MV sources both keep the recompute path, ordered
            // with the other recompute MVs; dims additionally need a
            // pinnable VERSION (the dim-unchanged proof the incremental
            // window rests on)
            if p.isTableBackedSource(s)
            if joins.forall { case (d, _, _) => p.isTableBackedSource(d.name) }
            if allBranches.forall(_.forall { case (ds, _, _) =>
              p.isTableBackedSource(ds) })
            // the PLAIN union (no alias wrapper on the runtime frame)
            // binds outer expressions to bare first-branch names only;
            // the union-STAR's subquery alias carries qualified refs
            if unionBs.isEmpty || onlySinglePartRefs
            // distinct relations only (a self-join's two sides can't be
            // independently pinned) and distinct aliases (ambiguous
            // qualifiers would wedge every refresh); union branches must
            // additionally be disjoint from the dims — a table serving as
            // BOTH a window-bearing branch and a pinned dimension has no
            // single consistent version to pin
            rels = (fact +: joins.map(_._1))
            if rels.map(_.name).distinct.size == rels.size
            if rels.map(r => r.alias.getOrElse(r.name)).distinct.size == rels.size
            if allBranches.forall(bs => bs.map(_._1).toSet
              .intersect(joins.map(_._1.name).toSet).isEmpty)
            gs <- groupKeys
            os <- if (outs.forall(_.isDefined)) Some(outs.flatten.toSeq) else None
            gOuts = os.collect { case g: G => g }
            // the MV schema needs its keys: every group key selected
            // exactly once; and at least one aggregate (a keys-only SELECT
            // is DISTINCT, not an aggregation worth maintaining)
            if gs.forall { case (ksql, _) => gOuts.count(_.key == ksql) == 1 }
            if gOuts.size == gs.size
            if os.exists { case _: G => false; case _ => true }
            // COUNT(DISTINCT)/MIN/MAX companions compose with UNION ALL
            // sources too: each branch window merges its signed
            // multiplicities under its OWN per-branch companion ledger
            // (round 17 — previously a documented recompute fallback)
            names = os.map {
              case G(n, _, _) => n; case Sm(a, _) => a; case Mn(a, _) => a
              case Mx(a, _) => a; case Cnt(a) => a; case Av(a, _) => a
              case CntE(a, _) => a; case Dc(a, _) => a
            }
            if names.distinct.size == names.size
            // the maintainer interpolates these names into merge SET
            // expressions (t.<alias> + s.<delta>): a name that needs
            // quoting would bootstrap fine and then wedge every refresh —
            // keep such MVs on the recompute path instead. The `__` prefix
            // is reserved for the hidden internal columns (per-SUM
            // non-null counts, per-AVG decompositions, the group-death
            // counter) riding the backing table.
            if names.forall(n =>
              n.matches("[A-Za-z_][A-Za-z0-9_]*") && !n.startsWith("__"))
            // HAVING rewrite: declared-output references pass, aggregate
            // calls become panel columns (declared alias or minted hidden
            // `__hv_N` companion), scalar shaping from the row-local
            // allowlist recurses; anything else sinks the rewrite and the
            // MV keeps the recompute path
            hv <- having0 match {
              case None => Some(Option.empty[HavingRewrite])
              case Some(cond) => rewriteHaving(cond, os, names).map(Some(_))
            }
          } yield Pipeline.AutoMvSpec(
            source = s, where = where,
            groupBy = gOuts.map(_.name),
            sums = os.collect { case Sm(a, e) => a -> e } ++
              hv.fold(Seq.empty[(String, String)])(_.sums),
            mins = os.collect { case Mn(a, e) => a -> e } ++
              hv.fold(Seq.empty[(String, String)])(_.mins),
            maxs = os.collect { case Mx(a, e) => a -> e } ++
              hv.fold(Seq.empty[(String, String)])(_.maxs),
            counts = os.collect { case Cnt(a) => a },
            output = names,
            avgs = os.collect { case Av(a, e) => a -> e } ++
              hv.fold(Seq.empty[(String, String)])(_.avgs),
            cntCols = os.collect { case CntE(a, e) => a -> e } ++
              hv.fold(Seq.empty[(String, String)])(_.cnts),
            sourceAlias = fact.alias,
            joins = joins.map { case (d, jt, cond) =>
              Pipeline.AutoMvJoin(d.name, d.alias, cond.sql, jt,
                equiOf(fact.alias.getOrElse(fact.name),
                  d.alias.getOrElse(d.name), cond),
                bandsOf(fact.alias.getOrElse(fact.name),
                  d.alias.getOrElse(d.name), cond).distinct) },
            groupExprs = gOuts.map(_.e),
            dcounts = os.collect { case Dc(a, e) => a -> e } ++
              hv.fold(Seq.empty[(String, String)])(_.dcs),
            having = hv.map(_.sql),
            union = allBranches.getOrElse(Nil),
            havingHidden = hv.fold(Seq.empty[String])(_.hidden))
        case _ => None
      }
    }.toOption.flatten
  }

  /** Evaluate a defining SELECT with pipeline-dataset resolution: declared
   *  names (and `STREAM(name)` wrappers) are spliced in as the dataset's
   *  CURRENT contents via [[Pipeline.read]] — or, for names in
   *  `overrides`, as the given frame (the incremental append path splices
   *  the change-feed delta where the STREAM relation sits); everything
   *  else resolves through Spark's analyzer as usual. */
  private def evalSelect(p: Pipeline, select: String,
      overrides: Map[String, DataFrame] = Map.empty): DataFrame = {
    val spark = p.spark
    // STREAM(ds) is Lakeflow's streaming-read marker; Spark 4's parser
    // handles it natively (UnresolvedRelation with isStreaming = true), so
    // the rewrite happens on the LOGICAL PLAN — `STREAM(x)` inside string
    // literals or comments is never touched. Under snapshot execution a
    // streaming read resolves to the same current contents.
    val plan = spark.sessionState.sqlParser.parsePlan(select)
    val spliced = plan.transformUpWithSubqueries {
      case UnresolvedRelation(parts, _, isStreaming)
          if parts.length == 1 &&
            (overrides.contains(parts.head) || p.contains(parts.head)) =>
        // overrides substitute ONLY the STREAM(ds) relation — a PLAIN
        // reference to the same name (the stream-static self-join shape:
        // `FROM STREAM(bronze) s JOIN bronze b ON …`) must keep reading
        // the full current snapshot, never the delta
        val frame =
          if (isStreaming) overrides.getOrElse(parts.head, p.read(parts.head))
          else p.read(parts.head)
        SubqueryAlias(parts.head, GraftColumnBridge.logicalPlan(frame))
      case UnresolvedRelation(parts, _, _)
          if parts.length == 2 && parts.head.equalsIgnoreCase("live") &&
            p.contains(parts(1)) =>
        // DLT's classic `LIVE.<dataset>` qualifier — same resolution as
        // the bare name (the modern syntax drops the prefix)
        SubqueryAlias(parts(1), GraftColumnBridge.logicalPlan(p.read(parts(1))))
      case r @ UnresolvedRelation(_, _, true) =>
        // STREAM() over a non-pipeline relation: demote to a batch read of
        // the same name (snapshot semantics) and let Spark resolve it
        r.copy(isStreaming = false)
    }
    GraftColumnBridge.dataset(spark, spliced)
  }
}
