package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PipelineSqlSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("SQL-declared SCD1 CDC flow: APPLY CHANGES with deletes and except " +
      "columns behaves like the programmatic autoCdcFlow") {
    val p = new Pipeline(spark, tmpDir("plsql_scd1"))
    var batch = Seq(
      (1L, "a", "U", ts("2024-01-01 00:00:00")),
      (2L, "b", "U", ts("2024-01-01 00:00:00"))).toDF("k", "v", "op", "seq")
    p.view("src")(batch)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE silver")
    PipelineSql(p, """APPLY CHANGES INTO silver FROM STREAM(src)
      KEYS (k)
      APPLY AS DELETE WHEN op = 'D'
      SEQUENCE BY seq
      COLUMNS * EXCEPT (op)
      STORED AS SCD TYPE 1""")
    p.run()
    assert(p.read("silver").columns.toSeq == Seq("k", "v", "seq"))
    assert(p.read("silver").count() == 2)
    batch = Seq(
      (1L, "x", "D", ts("2024-02-01 00:00:00")),
      (2L, "b2", "U", ts("2024-02-01 00:00:00")),
      (3L, "c", "U", ts("2024-02-01 00:00:00"))).toDF("k", "v", "op", "seq")
    p.run()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((2L, "b2", ts("2024-02-01 00:00:00")),
        (3L, "c", ts("2024-02-01 00:00:00"))))
  }

  test("SQL-declared CDC composes with runIncremental: APPLY CHANGES FROM " +
      "STREAM over an inputTable consumes only new bronze versions per run") {
    import graft.lake.LakeTable
    import org.apache.spark.sql.functions.col
    val root = tmpDir("plsql_inc")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE silver")
    PipelineSql(p,
      "APPLY CHANGES INTO silver FROM STREAM(bronze) KEYS (k) SEQUENCE BY seq")
    p.runIncremental()
    bronze.append(Seq(
      (1L, "a2", ts("2024-02-01 00:00:00")),
      (3L, "c", ts("2024-02-01 00:00:00"))).toDF("k", "v", "seq"))
    p.runIncremental()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "a2", ts("2024-02-01 00:00:00")),
        (2L, "b", ts("2024-01-01 00:00:00")),
        (3L, "c", ts("2024-02-01 00:00:00"))))
    // event-log proof: run 2 processed exactly the 2 appended rows
    assert(p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "silver")
      .orderBy("run_id").select("rows").as[Long].collect().toSeq == Seq(2L, 2L))
  }

  test("AUTO CDC INTO synonym with SCD TYPE 2 and TRACK HISTORY ON * EXCEPT") {
    val p = new Pipeline(spark, tmpDir("plsql_scd2"))
    var batch = Seq(
      (1L, "x", 1.0, ts("2024-01-01 00:00:00"))).toDF("k", "et", "v", "seq")
    p.view("src")(batch)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE hist;")
    PipelineSql(p, """AUTO CDC INTO hist FROM src
      KEYS (k)
      SEQUENCE BY seq
      STORED AS SCD TYPE 2
      TRACK HISTORY ON * EXCEPT (v)""")
    p.run()
    // untracked churn updates in place; tracked change opens a version
    batch = Seq((1L, "x", 2.0, ts("2024-02-01 00:00:00"))).toDF("k", "et", "v", "seq")
    p.run()
    batch = Seq((1L, "y", 3.0, ts("2024-03-01 00:00:00"))).toDF("k", "et", "v", "seq")
    p.run()
    val got = p.read("hist")
      .select(col("k"), col("et"), col("v"), col("__START_AT").cast("string"),
        col("__END_AT").cast("string"))
      .orderBy("__START_AT")
      .as[(Long, String, Double, String, String)].collect().toSeq
    assert(got == Seq(
      (1L, "x", 2.0, "2024-01-01 00:00:00", "2024-03-01 00:00:00"),
      (1L, "y", 3.0, "2024-03-01 00:00:00", null)))
  }

  test("materialized view recomputes over the flow's post-merge state each run") {
    val p = new Pipeline(spark, tmpDir("plsql_mv"))
    var batch = Seq(
      (1L, "a", 10.0, ts("2024-01-01 00:00:00")),
      (2L, "a", 20.0, ts("2024-01-01 00:00:00")),
      (3L, "b", 5.0, ts("2024-01-01 00:00:00"))).toDF("k", "grp", "v", "seq")
    p.view("src")(batch)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE silver")
    PipelineSql(p, "APPLY CHANGES INTO silver FROM STREAM(src) KEYS (k) SEQUENCE BY seq")
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW agg AS
      SELECT grp, COUNT(*) AS n, MAX(v) AS max_v FROM silver GROUP BY grp""")
    p.run()
    def agg = p.read("agg").orderBy("grp")
      .as[(String, Long, Double)].collect().toSeq
    assert(agg == Seq(("a", 2L, 20.0), ("b", 1L, 5.0)))
    // the MV sees the SAME run's merge: k=2 moves groups, k=4 inserts
    batch = Seq(
      (2L, "b", 30.0, ts("2024-02-01 00:00:00")),
      (4L, "b", 1.0, ts("2024-02-01 00:00:00"))).toDF("k", "grp", "v", "seq")
    p.run()
    assert(agg == Seq(("a", 1L, 10.0), ("b", 3L, 30.0)))
  }

  test("STREAMING TABLE AS SELECT materializes its defining query per run " +
      "(snapshot refresh) and composes with STREAM() references") {
    val p = new Pipeline(spark, tmpDir("plsql_stas"))
    var n = 2
    p.view("src")(spark.range(n).toDF("id"))
    PipelineSql(p,
      "CREATE OR REFRESH STREAMING TABLE doubled AS SELECT id * 2 AS d FROM STREAM(src)")
    p.run()
    assert(p.read("doubled").as[Long].collect().sorted.toSeq == Seq(0L, 2L))
    n = 3
    p.run()
    assert(p.read("doubled").as[Long].collect().sorted.toSeq == Seq(0L, 2L, 4L))
  }

  test("IGNORE NULL UPDATES: NULL source columns keep the target's values; " +
      "inserts land the row as-is") {
    val p = new Pipeline(spark, tmpDir("plsql_inu"))
    var batch = Seq[(Long, Option[String], Option[Double], Timestamp)](
      (1L, Some("a"), Some(10.0), ts("2024-01-01 00:00:00")))
      .toDF("k", "v", "x", "seq")
    p.view("src")(batch)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE silver")
    PipelineSql(p, """APPLY CHANGES INTO silver FROM STREAM(src)
      KEYS (k) IGNORE NULL UPDATES SEQUENCE BY seq""")
    p.run()
    // partial update: v arrives NULL → keeps 'a'; x updates; new key k=2
    // inserts its NULL as-is (DLT's rule: ignore-null applies to UPDATES)
    batch = Seq[(Long, Option[String], Option[Double], Timestamp)](
      (1L, None, Some(20.0), ts("2024-02-01 00:00:00")),
      (2L, None, Some(5.0), ts("2024-02-01 00:00:00")))
      .toDF("k", "v", "x", "seq")
    p.run()
    val got = p.read("silver").orderBy("k")
      .as[(Long, Option[String], Option[Double], Timestamp)].collect().toSeq
    assert(got == Seq(
      (1L, Some("a"), Some(20.0), ts("2024-02-01 00:00:00")),
      (2L, None, Some(5.0), ts("2024-02-01 00:00:00"))))
  }

  test("CONSTRAINT ... EXPECT blocks: DROP ROW filters the CDC batch, warn " +
      "counts on the full input, FAIL UPDATE aborts the run") {
    val p = new Pipeline(spark, tmpDir("plsql_expect"))
    p.view("src")(Seq(
      (1L, 10.0, ts("2024-01-01 00:00:00")),
      (2L, -5.0, ts("2024-01-01 00:00:00")),
      (3L, 99.0, ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    PipelineSql(p, """CREATE OR REFRESH STREAMING TABLE silver (
        CONSTRAINT v_positive EXPECT (v > 0) ON VIOLATION DROP ROW,
        CONSTRAINT v_small EXPECT (v < 50)
      )""")
    PipelineSql(p, "APPLY CHANGES INTO silver FROM STREAM(src) KEYS (k) SEQUENCE BY seq")
    p.run()
    // drop removed k=2; the WARN rule counted k=3 on the FULL input
    assert(p.read("silver").select("k").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(p.lastGate("silver").exists(_.violations == Map("v_small" -> 1L)))
    assert(p.lastGate("silver#1").exists(_.violations == Map("v_positive" -> 1L)))

    // FAIL UPDATE on a materialized view aborts the run after the fact
    val p2 = new Pipeline(spark, tmpDir("plsql_expect_fail"))
    p2.view("src")(Seq((1L, -1.0)).toDF("k", "v"))
    PipelineSql(p2, """CREATE OR REFRESH MATERIALIZED VIEW mv (
        CONSTRAINT v_positive EXPECT (v > 0) ON VIOLATION FAIL UPDATE
      ) AS SELECT k, v FROM src""")
    val e = intercept[IllegalStateException](p2.run())
    assert(e.getMessage.contains("v_positive"))
  }

  test("SCD2 + IGNORE NULL UPDATES: null attrs carry the effective value; " +
      "a delete resets the chain") {
    val p = new Pipeline(spark, tmpDir("plsql_scd2_inu"))
    var batch = Seq[(Long, Option[String], Option[Double], String, Timestamp)](
      (1L, Some("a"), Some(1.0), "U", ts("2024-01-01 00:00:00")),
      // null v: effective (a, 1.0) — NO new version (no effective change)
      (1L, Some("a"), None, "U", ts("2024-01-02 00:00:00")),
      // null et, v=2: effective (a, 2.0) — new version
      (1L, None, Some(2.0), "U", ts("2024-01-03 00:00:00")))
      .toDF("k", "et", "v", "op", "seq")
    p.view("src")(batch)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE hist")
    PipelineSql(p, """AUTO CDC INTO hist FROM STREAM(src)
      KEYS (k) IGNORE NULL UPDATES
      APPLY AS DELETE WHEN op = 'D'
      SEQUENCE BY seq
      COLUMNS * EXCEPT (op)
      STORED AS SCD TYPE 2""")
    p.run()
    def history = p.read("hist")
      .select(col("k"), col("et"), col("v"), col("__START_AT").cast("string"),
        col("__END_AT").cast("string"))
      .orderBy("k", "__START_AT")
      .as[(Long, String, Option[Double], String, String)].collect().toSeq
    assert(history == Seq(
      (1L, "a", Some(1.0), "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
      (1L, "a", Some(2.0), "2024-01-03 00:00:00", null)))

    // batch 2: null v seeds from the OPEN row (v stays 2.0, et changes);
    // then delete; then an upsert with null et — post-delete, the chain is
    // reset: et stores NULL, never the pre-delete 'b'
    batch = Seq[(Long, Option[String], Option[Double], String, Timestamp)](
      (1L, Some("b"), None, "U", ts("2024-02-01 00:00:00")),
      (1L, None, None, "D", ts("2024-03-01 00:00:00")),
      (1L, None, Some(9.0), "U", ts("2024-04-01 00:00:00")))
      .toDF("k", "et", "v", "op", "seq")
    p.run()
    assert(history == Seq(
      (1L, "a", Some(1.0), "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
      (1L, "a", Some(2.0), "2024-01-03 00:00:00", "2024-02-01 00:00:00"),
      (1L, "b", Some(2.0), "2024-02-01 00:00:00", "2024-03-01 00:00:00"),
      (1L, null, Some(9.0), "2024-04-01 00:00:00", null)))
  }

  test("APPLY AS TRUNCATE WHEN wipes the target; only later-sequenced " +
      "events survive; CREATE FLOW wrapper and COLUMNS (list) dispatch") {
    val p = new Pipeline(spark, tmpDir("plsql_trunc"))
    var batch = Seq(
      (1L, "a", "meta1", "U", ts("2024-01-01 00:00:00")),
      (2L, "b", "meta2", "U", ts("2024-01-01 00:00:00"))).toDF("k", "v", "m", "op", "seq")
    p.view("src")(batch)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE silver")
    PipelineSql(p, """CREATE FLOW f1 AS AUTO CDC INTO silver FROM STREAM(src)
      KEYS (k)
      APPLY AS TRUNCATE WHEN op = 'T'
      SEQUENCE BY seq
      COLUMNS (v)""")
    p.run()
    // COLUMNS (v): only k, seq, v land — metadata m and op never do
    assert(p.read("silver").columns.toSeq.sorted == Seq("k", "seq", "v"))
    assert(p.read("silver").count() == 2)
    // truncate at 02-01: k=1's earlier upsert is wiped with the table;
    // k=3's later upsert survives
    batch = Seq(
      (1L, "a2", "x", "U", ts("2024-01-15 00:00:00")),
      (0L, null, null, "T", ts("2024-02-01 00:00:00")),
      (3L, "c", "x", "U", ts("2024-03-01 00:00:00"))).toDF("k", "v", "m", "op", "seq")
    p.run()
    assert(p.read("silver").select("k", "v").as[(Long, String)].collect().toSeq ==
      Seq((3L, "c")))
  }

  test("STREAM() is rewritten at the plan level: the marker inside a string " +
      "literal survives untouched") {
    val p = new Pipeline(spark, tmpDir("plsql_streamlit"))
    p.view("src")(Seq((1L, "a")).toDF("k", "v"))
    PipelineSql(p,
      "CREATE OR REFRESH MATERIALIZED VIEW mv AS " +
        "SELECT k, 'STREAM(src)' AS tag, v FROM STREAM(src)")
    p.run()
    assert(p.read("mv").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "STREAM(src)", "a")))
  }

  test("CREATE FLOW ... AS INSERT INTO BY NAME declares append flows: many " +
      "flows feed one table, ONCE drains only on the first run") {
    val p = new Pipeline(spark, tmpDir("plsql_append"))
    p.view("hist")(Seq((1L, "h")).toDF("k", "src"))
    p.view("live")(Seq((2L, "l")).toDF("k", "src"))
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE events")
    PipelineSql(p,
      "CREATE FLOW backfill AS INSERT INTO ONCE events BY NAME SELECT * FROM hist")
    PipelineSql(p,
      "CREATE FLOW live_feed AS INSERT INTO events BY NAME SELECT * FROM STREAM(live)")
    p.run()
    assert(p.read("events").orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "h"), (2L, "l")))
    p.run() // backfill skipped, live appends again
    assert(p.read("events").count() == 3)
    assert(p.read("events").filter($"src" === "h").count() == 1)
  }

  test("SEQUENCE BY (seq, lsn) parses as struct sequencing: secondary " +
      "column breaks primary-sequence ties across batches") {
    val p = new Pipeline(spark, tmpDir("plsql_seq2"))
    var batch = Seq((1L, "a", ts("2024-01-01 00:00:00"), 7L))
      .toDF("k", "v", "seq", "lsn")
    p.view("src")(batch)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE silver")
    PipelineSql(p,
      "APPLY CHANGES INTO silver FROM STREAM(src) KEYS (k) SEQUENCE BY (seq, lsn)")
    p.run()
    batch = Seq((1L, "stale", ts("2024-01-01 00:00:00"), 3L))
      .toDF("k", "v", "seq", "lsn")
    p.run() // same seq, lower lsn → loses
    assert(p.read("silver").select("v").as[String].collect().toSeq == Seq("a"))
  }

  test("CREATE OR REFRESH ... CLUSTER BY stamps liquid clustering on " +
      "pipeline tables once they materialize") {
    val p = new Pipeline(spark, tmpDir("plsql_cluster"))
    p.view("src")(Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE silver CLUSTER BY (k)")
    PipelineSql(p, "APPLY CHANGES INTO silver FROM STREAM(src) KEYS (k) SEQUENCE BY seq")
    PipelineSql(p,
      "CREATE OR REFRESH MATERIALIZED VIEW mv CLUSTER BY (k) AS SELECT k, v FROM silver")
    p.run()
    assert(p.table("silver").clusterBy == Seq("k"))
    assert(p.table("mv").clusterBy == Seq("k"))
  }

  test("LIVE.<dataset> (DLT's classic qualifier) resolves like the bare " +
      "name, including under STREAM()") {
    val p = new Pipeline(spark, tmpDir("plsql_live"))
    p.view("src")(Seq((1L, "a")).toDF("k", "v"))
    PipelineSql(p,
      "CREATE OR REFRESH MATERIALIZED VIEW mv AS SELECT k, v FROM LIVE.src")
    PipelineSql(p,
      "CREATE OR REFRESH MATERIALIZED VIEW mv2 AS SELECT k FROM STREAM(LIVE.mv)")
    p.run()
    assert(p.read("mv").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(p.read("mv2").as[Long].collect().toSeq == Seq(1L))
  }

  test("stream-side rule: a join preserving the STATIC side falls back to " +
      "snapshot semantics — no phantom null-padded dim rows accumulate " +
      "under incremental execution") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_joinside")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((2L, "v2")).toDF("k", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", bronze)
    p.view("dims")(Seq((1L, "d1"), (2L, "d2")).toDF("k", "name"))
    // LEFT JOIN with the stream on the NON-preserved side: a streaming
    // registration would append the unmatched (1, d1, NULL) in window 1,
    // then (1, d1, v1) in window 2 — phantom + duplicate rows a full
    // refresh could never produce. Must register as snapshot (recompute).
    PipelineSql(p, """CREATE OR REFRESH STREAMING TABLE joined AS
      SELECT d.k, d.name, s.v FROM dims d LEFT JOIN STREAM(src) s ON d.k = s.k""")
    p.runIncremental()
    bronze.append(Seq((1L, "v1")).toDF("k", "v"))
    p.runIncremental()
    assert(p.read("joined").orderBy("k")
      .as[(Long, String, Option[String])].collect().toSeq ==
      Seq((1L, "d1", Some("v1")), (2L, "d2", Some("v2"))))
  }

  test("stream-preserved join stays TRUE streaming: STREAM(src) LEFT JOIN " +
      "dims appends only the delta, exactly once, enriched against the " +
      "current dim snapshot") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_joinok")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, 10.0)).toDF("k", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", bronze)
    p.view("dims")(Seq((1L, "d1"), (3L, "d3")).toDF("k", "name"))
    PipelineSql(p, """CREATE OR REFRESH STREAMING TABLE enriched AS
      SELECT s.k, s.v, d.name FROM STREAM(src) s LEFT JOIN dims d ON s.k = d.k""")
    p.runIncremental() // bootstrap
    p.runIncremental() // idle — a recompute fallback would re-land here
    bronze.append(Seq((3L, 30.0)).toDF("k", "v"))
    p.runIncremental() // delta only
    assert(p.read("enriched").orderBy("k")
      .as[(Long, Double, String)].collect().toSeq ==
      Seq((1L, 10.0, "d1"), (3L, 30.0, "d3")))
    // event-log proof: bootstrap landed 1 row, the idle run 0, run 3
    // exactly the ONE new fact row (delta enrichment, not a recompute)
    val rows = p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "enriched")
      .orderBy("run_id").select("rows").as[Long].collect().toSeq
    assert(rows == Seq(1L, 0L, 1L))
  }

  test("CREATE MATERIALIZED VIEW auto-detects maintainability (Enzyme): a " +
      "provable SUM/COUNT group-by refreshes INCREMENTALLY from the change " +
      "feed, with the user's aliases and column order preserved") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", -5L)).toDF("k", "g", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", bronze)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW agg AS
      SELECT g, SUM(v * 2) AS twice, COUNT(*) AS n
      FROM src WHERE v > 0 GROUP BY g""")
    p.run()
    def agg = p.read("agg").orderBy("g")
      .select($"g", $"twice".cast("double"), $"n")
      .as[(String, Double, Long)].collect().toSeq
    // the WHERE dropped k=3; user aliases and order serve as declared
    assert(p.read("agg").columns.toSeq == Seq("g", "twice", "n"))
    assert(agg == Seq(("a", 60.0, 2L)))
    // run 2: ONLY the appended rows flow (incremental refresh) — the
    // event log names the incremental path and counts the delta
    bronze.append(Seq((4L, "b", 7L), (5L, "a", 1L)).toDF("k", "g", "v"))
    p.run()
    assert(agg == Seq(("a", 62.0, 3L), ("b", 14.0, 1L)))
    val ev = p.eventLog
      .filter(col("dataset") === "agg").orderBy("run_id")
      .select("rows", "message").as[(Long, String)].collect().toSeq
    assert(ev.head._2.contains("bootstrap"), ev)
    assert(ev(1)._2.contains("incremental from src"), ev)
    assert(ev.map(_._1) == Seq(0L, 2L)) // bootstrap logs 0, delta = 2 rows

    // no COUNT selected: the group-death counter is internal and HIDDEN
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW sums AS " +
      "SELECT g, SUM(v) AS s FROM src GROUP BY g")
    p.run()
    assert(p.read("sums").columns.toSeq == Seq("g", "s"))

    // AVG over an exact type is maintainable too (hidden SUM+COUNT
    // decomposition — Enzyme's rule); the declared DOUBLE result type
    // survives and later windows maintain incrementally
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW avgs AS " +
      "SELECT g, AVG(v) AS m FROM src GROUP BY g")
    p.run()
    def avgsRows = p.read("avgs").orderBy("g")
      .as[(String, Double)].collect().toSeq
    assert(p.read("avgs").columns.toSeq == Seq("g", "m"))
    assert(avgsRows == Seq(("a", 31.0 / 3), ("b", 1.0)))
    bronze.append(Seq((6L, "b", 10L)).toDF("k", "g", "v"))
    p.run()
    assert(avgsRows == Seq(("a", 31.0 / 3), ("b", 4.0)))
    val avgEv = p.eventLog.filter(col("dataset") === "avgs")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(avgEv.last.contains("incremental from src"), avgEv)
  }

  test("auto-maintained MV degrades gracefully: MIN/MAX over a feed that " +
      "retracts re-bootstraps instead of failing; a full-rewrite source " +
      "window re-bootstraps too") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_minmax")
    val src = LakeTable(spark, s"$root/src")
    src.create(Seq((1L, "a", 10.0)).toDF("k", "g", "v").schema,
      enableChangeFeed = true)
    src.append(Seq((1L, "a", 10.0), (2L, "a", 3.0), (3L, "b", 7.0))
      .toDF("k", "g", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW lo AS " +
      "SELECT g, MIN(v) AS lo, COUNT(*) AS n FROM src GROUP BY g")
    p.run()
    def lo = p.read("lo").orderBy("g")
      .as[(String, Double, Long)].collect().toSeq
    assert(lo == Seq(("a", 3.0, 2L), ("b", 7.0, 1L)))
    // retraction: the group minimum LEAVES — monotone merge can't serve
    // it; the auto path recomputes instead of failing the run
    src.deleteWhere("k = 2")
    p.run()
    assert(lo == Seq(("a", 10.0, 1L), ("b", 7.0, 1L)))
    // and incremental maintenance resumes on the next clean window
    src.append(Seq((4L, "b", 1.0)).toDF("k", "g", "v"))
    p.run()
    assert(lo == Seq(("a", 10.0, 1L), ("b", 1.0, 2L)))
  }

  test("CREATE VIEW (the SQL @dlt.view): a STREAM-stateless view composes " +
      "into incremental execution — the CDC flow consumes the view's " +
      "transform over the bronze delta; constraints gate both paths") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_view")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, Option("a"), ts("2024-01-01 00:00:00")),
      (2L, Option.empty[String], ts("2024-01-01 00:00:00"))) // dropped
      .toDF("k", "v", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    PipelineSql(p, """CREATE TEMPORARY VIEW clean (
        CONSTRAINT v_not_null EXPECT (v IS NOT NULL) ON VIOLATION DROP ROW
      ) AS SELECT k, UPPER(v) AS v, seq FROM STREAM(bronze)""")
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE silver")
    PipelineSql(p,
      "APPLY CHANGES INTO silver FROM STREAM(clean) KEYS (k) SEQUENCE BY seq")
    p.runIncremental()
    assert(p.read("silver").select("k", "v").as[(Long, String)].collect().toSeq ==
      Seq((1L, "A")))
    assert(p.lastGate("clean").exists(_.violations == Map("v_not_null" -> 1L)))
    // arrival 2: the view's transform applies to the DELTA only
    bronze.append(Seq((3L, Option("c"), ts("2024-02-01 00:00:00")))
      .toDF("k", "v", "seq"))
    p.runIncremental()
    assert(p.read("silver").orderBy("k").select("k", "v")
      .as[(Long, String)].collect().toSeq == Seq((1L, "A"), (3L, "C")))
    // event-log proof: run 2's flow processed ONLY the one appended row
    assert(p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "silver")
      .orderBy("run_id").select("rows").as[Long].collect().toSeq == Seq(1L, 1L))

    // the plain (no STREAM) view form registers snapshot semantics and
    // resolves other pipeline datasets by name
    PipelineSql(p, "CREATE VIEW silver_keys AS SELECT k FROM silver")
    assert(p.read("silver_keys").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("SQL-only incremental medallion: TBLPROPERTIES CDF + PARTITIONED BY " +
      "on CREATE, a STREAM-join view, and chained APPLY CHANGES run " +
      "O(new rows) end to end — flows ordered through the view chain") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_e2e")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, "click", 10.0, ts("2024-01-01 00:00:00")),
      (2L, "view", 20.0, ts("2024-01-01 00:00:00")))
      .toDF("user_id", "event_type", "value", "ts"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.view("dims")(Seq(("click", 1L), ("view", 2L)).toDF("event_type", "w"))
    PipelineSql(p, """CREATE OR REFRESH STREAMING TABLE silver
      PARTITIONED BY (event_type)
      TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true', 'quality' = 'silver')""")
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE business")
    PipelineSql(p, """CREATE TEMPORARY VIEW enriched AS
      SELECT s.user_id, s.value, s.ts, d.w
      FROM STREAM(silver) s JOIN dims d ON s.event_type = d.event_type""")
    // business flow declared BEFORE the silver flow: the DAG must order
    // them through the view chain (enriched → silver)
    PipelineSql(p,
      "APPLY CHANGES INTO business FROM STREAM(enriched) KEYS (user_id) SEQUENCE BY ts")
    PipelineSql(p,
      "APPLY CHANGES INTO silver FROM STREAM(bronze) KEYS (user_id) SEQUENCE BY ts")
    p.runIncremental()
    assert(p.table("silver").partitionColumn.contains("event_type"))
    assert(p.table("silver").tableProperties.get("quality").contains("silver"))
    assert(p.read("business").orderBy("user_id")
      .select("user_id", "value", "w").as[(Long, Double, Long)].collect().toSeq ==
      Seq((1L, 10.0, 1L), (2L, 20.0, 2L)))
    // arrival 2: ONE new user — the business layer consumes ONLY the
    // silver change images of this window, enriched against current dims
    bronze.append(Seq((3L, "click", 30.0, ts("2024-02-01 00:00:00")))
      .toDF("user_id", "event_type", "value", "ts"))
    p.runIncremental()
    assert(p.read("business").orderBy("user_id")
      .select("user_id", "value", "w").as[(Long, Double, Long)].collect().toSeq ==
      Seq((1L, 10.0, 1L), (2L, 20.0, 2L), (3L, 30.0, 1L)))
    def rowsOf(ds: String): Seq[Long] = p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === ds)
      .orderBy("run_id").select("rows").as[Long].collect().toSeq
    assert(rowsOf("silver") == Seq(2L, 1L))
    assert(rowsOf("business") == Seq(2L, 1L))
  }

  test("TBLPROPERTIES values may contain commas and parens inside quotes") {
    val p = new Pipeline(spark, tmpDir("plsql_props"))
    p.view("src")(Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    PipelineSql(p, """CREATE OR REFRESH STREAMING TABLE t
      TBLPROPERTIES ('cols' = 'a,b', 'note' = 'x (y)')""")
    PipelineSql(p, "APPLY CHANGES INTO t FROM STREAM(src) KEYS (k) SEQUENCE BY seq")
    p.run()
    assert(p.table("t").tableProperties.get("cols").contains("a,b"))
    assert(p.table("t").tableProperties.get("note").contains("x (y)"))
  }

  test("auto-MV maintenance is TYPE-FAITHFUL (the declared SUM's own " +
      "result type survives), floating-point SUMs route to RECOMPUTE " +
      "refresh (no incremental ULP drift), and names that need quoting " +
      "stay on the recompute path") {
    import graft.lake.LakeTable
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val root = tmpDir("plsql_automv_types")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a", 1.5, 10L), (2L, "a", 2.5, 20L))
      .toDF("k", "g", "dv", "lv"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", bronze)
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW m AS " +
      "SELECT g, SUM(dv) AS sd, SUM(lv) AS sl FROM src GROUP BY g")
    p.run()
    // the recompute MV would produce DOUBLE and BIGINT — so must the
    // maintained one (detection never changes declared types or values)
    assert(p.read("m").schema("sd").dataType == DoubleType)
    assert(p.read("m").schema("sl").dataType == LongType)
    bronze.append(Seq((3L, "a", 0.5, 5L)).toDF("k", "g", "dv", "lv"))
    p.run() // refresh keeps types and exact values
    assert(p.read("m").schema("sd").dataType == DoubleType)
    assert(p.read("m").as[(String, Double, Long)].collect().toSeq ==
      Seq(("a", 4.5, 35L)))
    // THE FLOATING POLICY: double addition is not associative, so a
    // double-SUM MV refreshes by RECOMPUTE (pinned at the source version,
    // skipped when idle) — its value can never drift ULPs from a
    // recompute's; only exact accumulators (long/decimal) maintain
    // incrementally
    val mEv = p.eventLog.filter(col("dataset") === "m")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(mEv.last.contains("floating-point"), mEv)

    // a backquoted alias would wedge the merge's SET expressions —
    // detection refuses it, the recompute path still answers
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW m2 AS " +
      "SELECT g, SUM(dv) AS `total value` FROM src GROUP BY g")
    p.run()
    assert(p.read("m2").columns.toSeq == Seq("g", "total value"))
    assert(p.read("m2").as[(String, Double)].collect().toSeq == Seq(("a", 4.5)))
    assert(p.eventLog.filter(col("dataset") === "m2")
      .select("message").as[String].collect()
      .forall(m => m.contains("materialized view refresh") &&
        !m.contains("incremental")))
  }

  test("auto-MV exact NULL algebra and AVG/COUNT(expr) maintenance: a " +
      "group whose non-NULL contributions are fully RETRACTED reads NULL " +
      "(recompute parity via the hidden non-null counts), AVG and " +
      "COUNT(expr) ride their decompositions through deletes") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_null")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", Option(10L)), (2L, "a", Option.empty[Long]),
      (3L, "b", Option(5L))).toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW panel AS " +
      "SELECT g, SUM(v) AS s, AVG(v) AS m, COUNT(v) AS nv, COUNT(*) AS n " +
      "FROM src GROUP BY g")
    p.run()
    assert(p.read("panel").columns.toSeq == Seq("g", "s", "m", "nv", "n"))
    def panel = p.read("panel").orderBy("g")
      .as[(String, Option[Long], Option[Double], Long, Long)].collect().toSeq
    assert(panel == Seq(("a", Some(10L), Some(10.0), 1L, 2L),
      ("b", Some(5L), Some(5.0), 1L, 1L)))
    // retract group a's ONLY non-null input: a NULL-input row remains, so
    // the group survives — SUM/AVG must read NULL (what a recompute
    // reads), never the netted 0; COUNT(v) drops to 0, COUNT(*) to 1
    src.deleteWhere("k = 1")
    p.run()
    assert(panel == Seq(("a", None, None, 0L, 1L),
      ("b", Some(5L), Some(5.0), 1L, 1L)))
    // and this was the INCREMENTAL path, not a recompute dodge
    val ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("incremental from src"), ev)
    // a later non-null arrival resumes exact maintenance from the NULLs
    src.append(Seq((4L, "a", Option(20L))).toDF("k", "g", "v"))
    p.run()
    assert(panel == Seq(("a", Some(20L), Some(20.0), 1L, 2L),
      ("b", Some(5L), Some(5.0), 1L, 1L)))
  }

  test("STAR-JOIN auto-MV (Enzyme): an agg over fact INNER JOIN dim " +
      "maintains incrementally from the FACT change feed while the dim is " +
      "unchanged; a small dim change maintains by DIM-DELTA (key-bounded " +
      "fact slice, no recompute); fact deletes ride the signed algebra " +
      "through the join") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_star")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq((1L, "x", 10L), (2L, "x", 20L), (3L, "y", 5L))
      .toDF("k", "cat", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("x", "west", 2L), ("y", "east", 3L))
      .toDF("cat", "region", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT d.region AS region, SUM(f.v * d.w) AS s,
             AVG(f.v) AS m, COUNT(*) AS n
      FROM fact f JOIN dim d ON f.cat = d.cat
      GROUP BY d.region""")
    p.run()
    assert(p.read("gold").columns.toSeq == Seq("region", "s", "m", "n"))
    def gold = p.read("gold").orderBy("region")
      .as[(String, Option[Long], Option[Double], Long)].collect().toSeq
    assert(gold == Seq(("east", Some(15L), Some(5.0), 1L),
      ("west", Some(60L), Some(15.0), 2L)))
    // run 2: fact-only change maintains INCREMENTALLY (dim pinned)
    fact.append(Seq((4L, "y", 7L)).toDF("k", "cat", "v"))
    p.run()
    assert(gold == Seq(("east", Some(36L), Some(6.0), 2L),
      ("west", Some(60L), Some(15.0), 2L)))
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("incremental from fact"), ev)
    // run 3: a fact DELETE retracts through the join (group y loses k=3)
    fact.deleteWhere("k = 3")
    p.run()
    assert(gold == Seq(("east", Some(21L), Some(7.0), 1L),
      ("west", Some(60L), Some(15.0), 2L)))
    assert(ev.last.contains("incremental from fact"), ev)
    // run 4: a one-key DIM change maintains by DIM-DELTA — the new weight
    // applies to all fact rows carrying the CHANGED key, served as two
    // signed key-bounded fact slices (±(F[cat='x'] ⋈ ΔD)), never a
    // recompute and never a full fact scan
    dim.deleteWhere("cat = 'x'")
    dim.append(Seq(("x", "west", 10L)).toDF("cat", "region", "w"))
    p.run()
    assert(gold == Seq(("east", Some(21L), Some(7.0), 1L),
      ("west", Some(300L), Some(15.0), 2L)))
    assert(ev.last.contains("dim-delta from dim"), ev)
    // run 5: incremental maintenance RESUMES against the new pin
    fact.append(Seq((5L, "x", 1L)).toDF("k", "cat", "v"))
    p.run()
    assert(gold == Seq(("east", Some(21L), Some(7.0), 1L),
      ("west", Some(310L), Some(10.333333333333334), 3L)))
    assert(ev.last.contains("incremental from fact"), ev)
    // a fact row with NO dim match contributes nothing — inner-join
    // semantics hold through the incremental path
    fact.append(Seq((6L, "zzz", 99L)).toDF("k", "cat", "v"))
    p.run()
    assert(gold == Seq(("east", Some(21L), Some(7.0), 1L),
      ("west", Some(310L), Some(10.333333333333334), 3L)))
  }

  test("star-join auto-MV composition: a TWO-dim join chain with " +
      "COUNT(DISTINCT) and AVG maintains from the fact window against " +
      "BOTH pinned dims; a dim change maintains by DIM-DELTA (round 17: " +
      "companion aggregates ride the ± windows) and re-pins") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_star2")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq((1L, "x", "p", 10L), (2L, "x", "q", 10L),
      (3L, "y", "p", 5L)).toDF("k", "cat", "prod", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val cats = LakeTable(spark, s"$root/cats")
    cats.append(Seq(("x", "west"), ("y", "east")).toDF("cat", "region"))
    val prods = LakeTable(spark, s"$root/prods")
    prods.append(Seq(("p", 2L), ("q", 3L)).toDF("prod", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("cats", cats)
    p.inputTable("prods", prods)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT c.region AS region,
             SUM(f.v * w.w) AS s,
             COUNT(DISTINCT f.v) AS dv,
             AVG(f.k) AS mk,
             COUNT(*) AS n
      FROM fact f
      JOIN cats c ON f.cat = c.cat
      JOIN prods w ON f.prod = w.prod
      GROUP BY c.region""")
    p.run()
    def gold = p.read("gold").orderBy("region")
      .as[(String, Option[Long], Long, Option[Double], Long)].collect().toSeq
    // west: rows (10*2, 10*3) → s=50, dv=1 (both v=10), mk=(1+2)/2
    assert(gold == Seq(("east", Some(10L), 1L, Some(3.0), 1L),
      ("west", Some(50L), 1L, Some(1.5), 2L)))
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // fact-only arrival: incremental against BOTH pinned dims
    fact.append(Seq((4L, "y", "q", 7L)).toDF("k", "cat", "prod", "v"))
    p.run()
    assert(gold == Seq(("east", Some(31L), 2L, Some(3.5), 2L),
      ("west", Some(50L), 1L, Some(1.5), 2L)))
    assert(ev.last.contains("incremental from fact"), ev)
    // a fact delete retracts the dcount through both joins
    fact.deleteWhere("k = 2")
    p.run()
    assert(gold == Seq(("east", Some(31L), 2L, Some(3.5), 2L),
      ("west", Some(20L), 1L, Some(1.0), 1L)))
    assert(ev.last.contains("incremental from fact"), ev)
    // the SECOND dim changing maintains by DIM-DELTA: the COUNT(DISTINCT)
    // multiset rides the ± windows (retract at old weight, insert at new)
    prods.deleteWhere("prod = 'q'")
    prods.append(Seq(("q", 10L)).toDF("prod", "w"))
    p.run()
    assert(gold == Seq(("east", Some(80L), 2L, Some(3.5), 2L),
      ("west", Some(20L), 1L, Some(1.0), 1L)))
    assert(ev.last.contains("dim-delta from prods"), ev)
    // and maintenance resumes against the new pins
    fact.append(Seq((5L, "x", "q", 4L)).toDF("k", "cat", "prod", "v"))
    p.run()
    assert(gold == Seq(("east", Some(80L), 2L, Some(3.5), 2L),
      ("west", Some(60L), 2L, Some(3.0), 2L)))
    assert(ev.last.contains("incremental from fact"), ev)
  }

  test("star-join auto-MV over a PIPELINE-MAINTAINED dim: the dim's own " +
      "refresh lands first in the same run, and the MV applies the fact " +
      "window (old pin) plus the dim delta (new fact) in one refresh; " +
      "fact-only runs stay incremental") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_star_pipedim")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq((1L, "x", 10L), (2L, "y", 5L)).toDF("k", "cat", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dimSrc = LakeTable(spark, s"$root/dimsrc")
    dimSrc.append(Seq(("x", 2L), ("y", 3L)).toDF("cat", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dimsrc", dimSrc)
    // the dim is a DECLARED streaming table — maintained by the pipeline,
    // refreshed in runTail BEFORE the auto MVs
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE dim AS " +
      "SELECT cat, w FROM STREAM(dimsrc)")
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT f.cat AS cat, SUM(f.v * d.w) AS s
      FROM fact f JOIN dim d ON f.cat = d.cat GROUP BY f.cat""")
    p.runIncremental()
    def gold = p.read("gold").orderBy("cat")
      .as[(String, Long)].collect().toSeq
    assert(gold == Seq(("x", 20L), ("y", 15L)))
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // fact-only arrival: the dim table's version is untouched → incremental
    fact.append(Seq((3L, "x", 1L)).toDF("k", "cat", "v"))
    p.runIncremental()
    assert(gold == Seq(("x", 22L), ("y", 15L)))
    assert(ev.last.contains("incremental from fact"), ev)
    // the dim's SOURCE moves WITH a fact arrival: the SAME run refreshes
    // the dim first (flow order), then the MV applies BOTH windows — the
    // fact delta against the old pin, the dim delta against the new fact
    // — exactly the state the run just landed, never last run's dim
    dimSrc.append(Seq(("z", 7L)).toDF("cat", "w"))
    fact.append(Seq((4L, "z", 2L)).toDF("k", "cat", "v"))
    p.runIncremental()
    assert(gold == Seq(("x", 22L), ("y", 15L), ("z", 14L)))
    assert(ev.last.contains("incremental + dim-delta from dim"), ev)
    // and incremental maintenance resumes on the new pin
    fact.append(Seq((5L, "z", 1L)).toDF("k", "cat", "v"))
    p.runIncremental()
    assert(gold == Seq(("x", 22L), ("y", 15L), ("z", 21L)))
    assert(ev.last.contains("incremental from fact"), ev)
  }

  test("star-join auto-MV: LEFT JOIN maintains (null-extension rides the " +
      "fact window); self-join and a view-backed dim keep the recompute " +
      "path (and still answer); a WHERE over dim columns maintains " +
      "exactly") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_star_fb")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("k", "cat", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("x", "west"), ("y", "east")).toDF("cat", "region"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    // LEFT JOIN: maintainable — left joins distribute over a union on
    // the preserved fact side, so the fact window joins ⟕ the pinned dim
    // (null-extended misses land in the NULL-dim-column groups)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW lj AS
      SELECT d.region AS region, SUM(f.v) AS s
      FROM fact f LEFT JOIN dim d ON f.cat = d.cat GROUP BY d.region""")
    // self-join: two sides of one relation can't be independently pinned
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW sj AS
      SELECT a.cat AS cat, SUM(b.v) AS s
      FROM fact a JOIN fact b ON a.k = b.k GROUP BY a.cat""")
    // view-backed dim: no pinnable version — recompute
    PipelineSql(p, "CREATE VIEW dimv AS SELECT cat, region FROM dim")
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW vj AS
      SELECT d.region AS region, SUM(f.v) AS s
      FROM fact f JOIN dimv d ON f.cat = d.cat GROUP BY d.region""")
    // WHERE over a dim column: maintainable, filter rides the join
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW wj AS
      SELECT f.cat AS cat, SUM(f.v) AS s
      FROM fact f JOIN dim d ON f.cat = d.cat
      WHERE d.region = 'west' GROUP BY f.cat""")
    p.run()
    fact.append(Seq((3L, "x", 5L), (4L, "y", 7L)).toDF("k", "cat", "v"))
    p.run()
    assert(p.read("lj").orderBy("region").as[(String, Long)].collect().toSeq ==
      Seq(("east", 27L), ("west", 15L)))
    assert(p.read("sj").orderBy("cat").as[(String, Long)].collect().toSeq ==
      Seq(("x", 15L), ("y", 27L)))
    assert(p.read("vj").orderBy("region").as[(String, Long)].collect().toSeq ==
      Seq(("east", 27L), ("west", 15L)))
    assert(p.read("wj").as[(String, Long)].collect().toSeq == Seq(("x", 15L)))
    def msgs(ds: String) = p.eventLog.filter(col("dataset") === ds)
      .orderBy("run_id").select("message").as[String].collect().toSeq
    Seq("sj", "vj").foreach { ds =>
      assert(msgs(ds).forall(!_.contains("incremental")), ds -> msgs(ds)) }
    Seq("lj", "wj").foreach { ds =>
      assert(msgs(ds).last.contains("incremental from fact"), ds -> msgs(ds)) }
  }

  test("LEFT-join auto-MV through DIM-DELTA match birth and death: rows " +
      "move between the null-extended group and real dim groups exactly, " +
      "group death included — always ≡ recompute") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_lj_dimdelta")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq((1L, "x", 10L), (2L, "y", 5L), (3L, "zzz", 7L))
      .toDF("k", "cat", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("x", "west"), ("y", "east")).toDF("cat", "region"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW lj AS
      SELECT d.region AS region, SUM(f.v) AS s, COUNT(*) AS n
      FROM fact f LEFT JOIN dim d ON f.cat = d.cat GROUP BY d.region""")
    p.run()
    def panel = p.read("lj").orderBy(col("region").asc_nulls_first)
      .as[(Option[String], Long, Long)].collect().toSeq
    def recompute = fact.read.alias("f")
      .join(dim.read.alias("d"), expr("f.cat = d.cat"), "left")
      .groupBy(col("d.region")).agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy(col("region").asc_nulls_first)
      .as[(Option[String], Long, Long)].collect().toSeq
    assert(panel == Seq((None, 7L, 1L), (Some("east"), 5L, 1L),
      (Some("west"), 10L, 1L)))
    def ev = p.eventLog.filter(col("dataset") === "lj")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // MATCH BIRTH via dim delta: the dim gains key 'zzz' — k=3 must move
    // from the null-extended group (which DIES) into the new 'south' group
    dim.append(Seq(("zzz", "south")).toDF("cat", "region"))
    p.run()
    assert(panel == recompute)
    assert(panel == Seq((Some("east"), 5L, 1L), (Some("south"), 7L, 1L),
      (Some("west"), 10L, 1L)))
    assert(ev.last.contains("dim-delta from dim"), ev)
    // MATCH DEATH via dim delta: the dim loses key 'x' — k=1 falls back
    // to null-extension (the NULL group is re-BORN), 'west' dies
    dim.deleteWhere("cat = 'x'")
    p.run()
    assert(panel == recompute)
    assert(panel == Seq((None, 10L, 1L), (Some("east"), 5L, 1L),
      (Some("south"), 7L, 1L)))
    assert(ev.last.contains("dim-delta from dim"), ev)
    // and a plain fact arrival keeps the ordinary incremental window,
    // null-extending against the CURRENT pin
    fact.append(Seq((4L, "qqq", 2L), (5L, "y", 1L)).toDF("k", "cat", "v"))
    p.run()
    assert(panel == recompute)
    assert(panel == Seq((None, 12L, 2L), (Some("east"), 6L, 2L),
      (Some("south"), 7L, 1L)))
    assert(ev.last.contains("incremental from fact"), ev)
  }

  test("dim-delta fallbacks: a dim churn past the key cap recomputes; " +
      "AVG rides the dim-delta decomposition exactly") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_dimcap")
    val fact = LakeTable(spark, s"$root/fact")
    val n = Pipeline.DimDeltaKeyCap + 50
    val seed = (1 to n).map(i => (i.toLong, s"c$i", i.toLong))
      .toDF("k", "cat", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append((1 to n).map(i => (s"c$i", 1L)).toDF("cat", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT f.cat AS cat, SUM(f.v * d.w) AS s, AVG(f.v * d.w) AS m
      FROM fact f JOIN dim d ON f.cat = d.cat GROUP BY f.cat""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // a 3-key trickle: dim-delta, exact values incl. the AVG decomposition
    dim.merge(Seq(("c1", 10L), ("c2", 20L), ("c3", 30L)).toDF("cat", "w"),
      Seq("cat"))
    p.run()
    assert(ev.last.contains("dim-delta from dim"), ev)
    // KEY-BOUNDED proof: the refresh processed exactly the two signed
    // branches over the 3 changed keys (3 fact rows × 2 signs = 6 images),
    // not the ~1000-row fact — the event log's row count IS the evidence
    // the fact scan was sliced, never re-aggregated
    val processed = p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "gold")
      .orderBy(col("run_id").desc).select("rows").as[Long].head()
    assert(processed == 6L, s"processed $processed images, expected 6")
    assert(p.read("gold").filter(col("cat").isin("c1", "c2", "c3"))
      .orderBy("cat").as[(String, Long, Double)].collect().toSeq ==
      Seq(("c1", 10L, 10.0), ("c2", 40L, 40.0), ("c3", 90L, 90.0)))
    // EVERY key churns: past the cap the honest plan is recompute
    dim.overwrite((1 to n).map(i => (s"c$i", 2L)).toDF("cat", "w"))
    p.run()
    assert(ev.last.contains("recompute: dimension changed"), ev)
    assert(p.read("gold").filter(col("cat") === "c5")
      .as[(String, Long, Double)].collect().toSeq == Seq(("c5", 10L, 10.0)))
  }

  test("MV-over-MV chaining (Enzyme gold-over-gold): a downstream auto-MV " +
      "maintains INCREMENTALLY off the upstream MV's own change feed — " +
      "group moves, births and deaths flow through as exact row deltas") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_chain")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", "g1", 10L), (2L, "a", "g1", 5L),
      (3L, "b", "g2", 7L)).toDF("k", "u", "grp", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    // layer 1: per-user panel; layer 2: per-group rollup OVER layer 1
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW per_user AS
      SELECT u, grp, SUM(v) AS s, COUNT(*) AS n FROM src GROUP BY u, grp""")
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW per_grp AS
      SELECT grp, SUM(s) AS total, SUM(n) AS rows_in, COUNT(*) AS users
      FROM per_user GROUP BY grp""")
    p.run()
    def perGrp = p.read("per_grp").orderBy("grp")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(perGrp == Seq(("g1", 15L, 2L, 1L), ("g2", 7L, 1L, 1L)))
    def ev = p.eventLog.filter(col("dataset") === "per_grp")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // an ordinary source window: per_user merges its delta, per_grp
    // maintains off per_user's CHANGE FEED in the same run — never a
    // rescan of per_user, never a recompute
    src.append(Seq((4L, "c", "g1", 2L)).toDF("k", "u", "grp", "v"))
    p.run()
    assert(perGrp == Seq(("g1", 17L, 3L, 2L), ("g2", 7L, 1L, 1L)))
    assert(ev.last.contains("incremental from per_user"), ev)
    // upstream GROUP DEATH (user b's rows all retract): per_user deletes
    // the (b, g2) row; per_grp sees the delete image and kills g2
    src.deleteWhere("u = 'b'")
    p.run()
    assert(perGrp == Seq(("g1", 17L, 3L, 2L)))
    assert(ev.last.contains("incremental from per_user"), ev)
    // upstream group MOVE (a's latest rows move to g2 via delete+insert):
    // the chain retracts from g1's rollup and lands in g2's
    src.deleteWhere("u = 'a'")
    src.append(Seq((5L, "a", "g2", 20L)).toDF("k", "u", "grp", "v"))
    p.run()
    assert(perGrp == Seq(("g1", 2L, 1L, 1L), ("g2", 20L, 1L, 1L)))
    assert(ev.last.contains("incremental from per_user"), ev)
    // ≡ recompute over the chain
    val rec = src.read.groupBy("u", "grp")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .groupBy("grp").agg(sum("s").as("total"), sum("n").as("rows_in"),
        count(lit(1)).as("users"))
      .orderBy("grp").as[(String, Long, Long, Long)].collect().toSeq
    assert(perGrp == rec)
  }

  test("a downstream MV over a HAVING auto-MV sees the PRESENTED panel, " +
      "never the raw backing table's hidden groups") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_having_chain")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "a", 1L),
      (4L, "b", 7L)).toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW busy AS
      SELECT g, SUM(v) AS s, COUNT(*) AS n
      FROM src GROUP BY g HAVING n > 2""")
    // the downstream panel must aggregate the HAVING-FILTERED view: the
    // raw backing table holds group b too (the FULL panel is maintained
    // underneath), which a naive table-backed chain would leak. This
    // downstream shape IS detector-maintainable — the guard must reroute
    // it to the presentation-correct recompute at refresh time.
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW top AS
      SELECT g, SUM(s) AS total, COUNT(*) AS m
      FROM busy GROUP BY g""")
    p.run()
    assert(p.read("busy").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 16L, 3L)))
    // pre-fix this read (16,1) leaked group b from the raw table
    assert(p.read("top").orderBy("g").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 16L, 1L)))
    // group b crosses the threshold: both panels follow exactly
    src.append(Seq((5L, "b", 2L), (6L, "b", 3L)).toDF("k", "g", "v"))
    p.run()
    assert(p.read("busy").orderBy("g").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 16L, 3L), ("b", 12L, 3L)))
    assert(p.read("top").orderBy("g").as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 16L, 1L), ("b", 12L, 1L)))
  }

  test("UNION ALL branches carry ROW-LOCAL filters: each predicate rides " +
      "its own branch's signed window PRE-projection (it may reference " +
      "dropped columns), appends and deletes on either side of the " +
      "predicate maintain ≡ recompute; a non-row-local branch filter " +
      "keeps the recompute path") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_union_bwhere")
    val a = LakeTable(spark, s"$root/a")
    val seedA = Seq((1L, "x", 10L, 0L), (2L, "x", 5L, 1L), (3L, "y", 7L, 0L))
      .toDF("k", "g", "v", "keep")
    a.create(seedA.schema, enableChangeFeed = true)
    a.append(seedA)
    val b = LakeTable(spark, s"$root/b")
    val seedB = Seq((9L, "x", 100L, 1L)).toDF("k2", "g2", "v2", "keep2")
    b.create(seedB.schema, enableChangeFeed = true)
    b.append(seedB)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("a", a)
    p.inputTable("b", b)
    // both predicates reference columns the projections DROP
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(v) AS s, COUNT(*) AS n
      FROM (SELECT g, v FROM a WHERE keep % 2 = 0
            UNION ALL
            SELECT g2, v2 FROM b WHERE keep2 = 1)
      GROUP BY g""")
    p.run()
    def panel = p.read("panel").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    def rec = a.read.filter(col("keep") % 2 === 0).select("g", "v")
      .unionByName(b.read.filter(col("keep2") === 1)
        .select(col("g2").as("g"), col("v2").as("v")))
      .groupBy("g").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(panel == Seq(("x", 110L, 2L), ("y", 7L, 1L)) && panel == rec)
    // branch A only: one kept row, one filtered-out row in the window
    a.append(Seq((4L, "y", 3L, 0L), (5L, "y", 99L, 1L)).toDF("k", "g", "v", "keep"))
    p.run()
    assert(panel == Seq(("x", 110L, 2L), ("y", 10L, 2L)) && panel == rec)
    // deleting a FILTERED-OUT row is inert; deleting a kept row retracts
    a.deleteWhere("k = 2")
    a.deleteWhere("k = 1")
    p.run()
    assert(panel == Seq(("x", 100L, 1L), ("y", 10L, 2L)) && panel == rec)
    assert(ev.tail.forall(_.contains("incremental from a ∪ b")), ev)

    // a branch predicate OUTSIDE the row-local allowlist → recompute path
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel2 AS
      SELECT g, SUM(v) AS s
      FROM (SELECT g, v FROM a WHERE keep % 2 = 0
            UNION ALL
            SELECT g2, v2 FROM b WHERE current_date() >= DATE '2000-01-01')
      GROUP BY g""")
    p.run()
    b.append(Seq((10L, "z", 1L, 1L)).toDF("k2", "g2", "v2", "keep2"))
    p.run()
    val ev2 = p.eventLog.filter(col("dataset") === "panel2")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev2.nonEmpty && ev2.forall(!_.contains("incremental")), ev2)
    val got2 = p.read("panel2").orderBy("g")
      .as[(String, Long)].collect().toSeq
    val rec2 = a.read.filter(col("keep") % 2 === 0).select("g", "v")
      .unionByName(b.read.select(col("g2").as("g"), col("v2").as("v")))
      .groupBy("g").agg(sum("v").as("s"))
      .orderBy("g").as[(String, Long)].collect().toSeq
    assert(got2 == rec2, (got2, rec2))
  }

  test("UNION ALL branches carry ROW-LOCAL projected EXPRESSIONS " +
      "(`SELECT g, v * 2 AS v2` — unit conversion per branch): computed " +
      "per row image before signing, names bind from the first branch's " +
      "aliases, filters compose; an expression-projected KEY keeps dim " +
      "changes on the recompute path while branch windows still maintain") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_union_bexpr")
    val a = LakeTable(spark, s"$root/a")
    val seedA = Seq((1L, "x", 10L, 0L), (2L, "y", 7L, 1L))
      .toDF("k", "g", "v", "keep")
    a.create(seedA.schema, enableChangeFeed = true)
    a.append(seedA)
    val b = LakeTable(spark, s"$root/b")
    val seedB = Seq((9L, "x", 100L)).toDF("k2", "g2", "cents")
    b.create(seedB.schema, enableChangeFeed = true)
    b.append(seedB)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("a", a)
    p.inputTable("b", b)
    // branch A converts v to cents (×100) under a filter; branch B lands
    // cents natively — the union output names bind from A's aliases
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(cents) AS s, COUNT(*) AS n
      FROM (SELECT g, v * 100 AS cents FROM a WHERE keep % 2 = 0
            UNION ALL
            SELECT g2, cents FROM b)
      GROUP BY g""")
    p.run()
    def panel = p.read("panel").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    def rec = a.read.filter(col("keep") % 2 === 0)
      .select(col("g"), (col("v") * 100).as("cents"))
      .unionByName(b.read.select(col("g2").as("g"), col("cents")))
      .groupBy("g").agg(sum("cents").as("s"), count(lit(1)).as("n"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(panel == Seq(("x", 1100L, 2L)) && panel == rec, (panel, rec))
    // branch windows maintain: A lands a kept row, B a row; A's window
    // rides the expression, B's the native column
    a.append(Seq((3L, "y", 5L, 0L)).toDF("k", "g", "v", "keep"))
    b.append(Seq((10L, "y", 30L)).toDF("k2", "g2", "cents"))
    p.run()
    assert(ev.last.contains("incremental from a ∪ b"), ev)
    assert(panel == Seq(("x", 1100L, 2L), ("y", 530L, 2L)) && panel == rec,
      (panel, rec))
    // a retraction through the expression branch nets exactly
    a.deleteWhere("k = 1")
    p.run()
    assert(ev.last.contains("incremental from a ∪ b"), ev)
    assert(panel == Seq(("x", 100L, 1L), ("y", 530L, 2L)) && panel == rec,
      (panel, rec))
    // an EXPRESSION-projected join key star-joins and maintains branch
    // windows, but a dim change has no physical key column to zone-slice
    // or type-gate — loud recompute, values exact
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("x", 1L), ("y", 2L)).toDF("g", "w"))
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel2 AS
      SELECT d.g AS g, SUM(f.cents * d.w) AS sw, COUNT(*) AS m
      FROM (SELECT concat(g, '') AS g, v * 100 AS cents FROM a
              WHERE keep % 2 = 0
            UNION ALL
            SELECT g2, cents FROM b) f
      JOIN dim d ON f.g = d.g
      GROUP BY d.g""")
    p.run()
    dim.merge(Seq(("x", 5L)).toDF("g", "w"), Seq("g"))
    p.run()
    val ev2 = p.eventLog.filter(col("dataset") === "panel2")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev2.last.contains("recompute: dimension changed"), ev2)
    val got2 = p.read("panel2").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    assert(got2 == Seq(("x", 500L, 1L), ("y", 1060L, 2L)), got2)
  }

  test("UNION-AS-FACT star join: FROM (a UNION ALL b) f JOIN dim " +
      "maintains — branch windows enrich against the pinned dim, a dim " +
      "trickle applies ± windows over the UNION fact slice, branch " +
      "filters and renamed columns compose, fact window and dim delta " +
      "land in ONE refresh; ≡ recompute throughout") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_unionstar")
    val a = LakeTable(spark, s"$root/a")
    val seedA = Seq(("x", 10L, 0L), ("y", 7L, 0L), ("x", 5L, 1L))
      .toDF("g", "v", "keep")
    a.create(seedA.schema, enableChangeFeed = true)
    a.append(seedA)
    val b = LakeTable(spark, s"$root/b")
    val seedB = Seq(("x", 100L), ("z", 1L)).toDF("g2", "v2")
    b.create(seedB.schema, enableChangeFeed = true)
    b.append(seedB)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("x", 2L), ("y", 3L), ("z", 4L)).toDF("g", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("a", a); p.inputTable("b", b); p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT d.g AS g, SUM(f.v * d.w) AS s, COUNT(*) AS n
      FROM (SELECT g, v FROM a WHERE keep % 2 = 0
            UNION ALL
            SELECT g2, v2 FROM b) f
      JOIN dim d ON f.g = d.g
      GROUP BY d.g""")
    p.run()
    def panel = p.read("panel").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    def rec = a.read.filter(col("keep") % 2 === 0).select("g", "v")
      .unionByName(b.read.select(col("g2").as("g"), col("v2").as("v")))
      .join(dim.read, "g")
      .groupBy("g").agg(sum(col("v") * col("w")).as("s"),
        count(lit(1)).as("n"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(panel == Seq(("x", 220L, 2L), ("y", 21L, 1L), ("z", 4L, 1L))
      && panel == rec, (panel, rec))
    // BRANCH window: only a moves (one kept row, one filtered out) —
    // enriched against the PINNED dim, never a recompute
    a.append(Seq(("z", 6L, 0L), ("z", 9L, 1L)).toDF("g", "v", "keep"))
    p.run()
    assert(ev.last.contains("incremental from a ∪ b"), ev)
    assert(panel == Seq(("x", 220L, 2L), ("y", 21L, 1L), ("z", 28L, 2L))
      && panel == rec, (panel, rec))
    // DIM trickle: x reweights — ± windows over the UNION fact slice
    dim.merge(Seq(("x", 10L)).toDF("g", "w"), Seq("g"))
    p.run()
    assert(ev.last.contains("dim-delta from dim"), ev)
    assert(panel == Seq(("x", 1100L, 2L), ("y", 21L, 1L), ("z", 28L, 2L))
      && panel == rec, (panel, rec))
    // BRANCH retraction through the filter: a's kept z row deletes
    a.deleteWhere("g = 'z' AND keep = 0")
    p.run()
    assert(ev.last.contains("incremental from a ∪ b"), ev)
    assert(panel == Seq(("x", 1100L, 2L), ("y", 21L, 1L), ("z", 4L, 1L))
      && panel == rec, (panel, rec))
    // fact window AND dim delta in ONE refresh: b lands y=50 while y
    // reweights 3→1 — the window joins the PINNED dim, the ± windows
    // close the dim gap, sequentially exact
    b.append(Seq(("y", 50L)).toDF("g2", "v2"))
    dim.merge(Seq(("y", 1L)).toDF("g", "w"), Seq("g"))
    p.run()
    assert(ev.last.contains("incremental") &&
      ev.last.contains("dim-delta from dim"), ev)
    assert(panel == Seq(("x", 1100L, 2L), ("y", 57L, 2L), ("z", 4L, 1L))
      && panel == rec, (panel, rec))
  }

  test("positional union branch ledgers are DEFINITION-PINNED: a " +
      "redeclared union with reordered branches re-bootstraps (one " +
      "recompute) instead of resuming another branch's high-water — " +
      "which would silently skip a moved branch's window") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_union_defpin")
    val a = LakeTable(spark, s"$root/a")
    a.append(Seq(("x", 1L)).toDF("g", "v"))   // a@0
    a.append(Seq(("y", 2L)).toDF("g", "v"))   // a@1
    val b = LakeTable(spark, s"$root/b")
    b.append(Seq(("x", 10L)).toDF("g", "v"))  // b@0
    val p1 = new Pipeline(spark, s"$root/pipe")
    p1.inputTable("a", a); p1.inputTable("b", b)
    PipelineSql(p1, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(v) AS s, COUNT(*) AS n
      FROM (SELECT g, v FROM a UNION ALL SELECT g, v FROM b)
      GROUP BY g""")
    p1.run() // ledgers: appId→a@1, u1→b@0
    b.append(Seq(("y", 1000L)).toDF("g", "v")) // b@1
    // life 2 SWAPS the branches: positionally, b now reads a's ledger
    // (b@1 vs a's stamped @1 — "idle") and would skip b's real window
    val p2 = new Pipeline(spark, s"$root/pipe")
    p2.inputTable("a", a); p2.inputTable("b", b)
    PipelineSql(p2, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(v) AS s, COUNT(*) AS n
      FROM (SELECT g, v FROM b UNION ALL SELECT g, v FROM a)
      GROUP BY g""")
    p2.run()
    val ev = p2.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("union shape changed"), ev)
    def panel = p2.read("panel").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    assert(panel == Seq(("x", 11L, 2L), ("y", 1002L, 2L)), panel)
    // the re-bootstrap pinned the new shape: next window maintains
    b.append(Seq(("z", 5L)).toDF("g", "v"))
    p2.run()
    assert(p2.eventLog.filter(col("dataset") === "panel")
      .orderBy(col("run_id").desc).select("message").as[String]
      .head().contains("incremental"))
    assert(panel == Seq(("x", 11L, 2L), ("y", 1002L, 2L), ("z", 5L, 1L)), panel)
    // life 3 drops the union ENTIRELY (single-source redeclaration): the
    // stale union pin forces ONE recompute — without it, a's high-water
    // reads as valid and b's rows would silently stay in the panel —
    // and the bootstrap CLEARS the pin so the next window maintains
    val p3 = new Pipeline(spark, s"$root/pipe")
    p3.inputTable("a", a); p3.inputTable("b", b)
    PipelineSql(p3, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(v) AS s, COUNT(*) AS n FROM a GROUP BY g""")
    p3.run()
    val ev3 = p3.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev3.last.contains("union shape changed"), ev3)
    def panel3 = p3.read("panel").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    assert(panel3 == Seq(("x", 1L, 1L), ("y", 2L, 1L)), panel3)
    a.append(Seq(("z", 9L)).toDF("g", "v"))
    p3.run()
    assert(p3.eventLog.filter(col("dataset") === "panel")
      .orderBy(col("run_id").desc).select("message").as[String]
      .head().contains("incremental"))
    assert(panel3 == Seq(("x", 1L, 1L), ("y", 2L, 1L), ("z", 9L, 1L)), panel3)
  }

  test("the WHOLE MV definition is pinned: a redeclaration that changes " +
      "the WHERE (same schema, same source — the ledger alone can't see " +
      "it) re-bootstraps ONCE instead of silently serving the old " +
      "definition's panel; an identical redeclaration resumes cleanly") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_defpin")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq(("a", 5L), ("a", 50L), ("b", 7L)).toDF("g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p1 = new Pipeline(spark, s"$root/pipe")
    p1.inputTable("src", src)
    PipelineSql(p1, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(v) AS s FROM src WHERE v <= 100 GROUP BY g""")
    p1.run()
    assert(p1.read("panel").orderBy("g").as[(String, Long)]
      .collect().toSeq == Seq(("a", 55L), ("b", 7L)))
    // life 2: SAME schema, SAME source, DIFFERENT threshold — without a
    // definition pin the ledger reads as idle and the panel silently
    // keeps rows the new definition excludes
    val p2 = new Pipeline(spark, s"$root/pipe")
    p2.inputTable("src", src)
    PipelineSql(p2, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(v) AS s FROM src WHERE v <= 10 GROUP BY g""")
    p2.run()
    def ev2 = p2.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev2.last.contains("definition changed"), ev2)
    def panel2 = p2.read("panel").orderBy("g")
      .as[(String, Long)].collect().toSeq
    assert(panel2 == Seq(("a", 5L), ("b", 7L)), panel2)
    // and the re-pinned definition maintains incrementally
    src.append(Seq(("b", 3L), ("b", 300L)).toDF("g", "v"))
    p2.run()
    assert(ev2.last.contains("incremental"), ev2)
    assert(panel2 == Seq(("a", 5L), ("b", 10L)), panel2)
    // life 3 redeclares IDENTICALLY: no spurious recompute
    val p3 = new Pipeline(spark, s"$root/pipe")
    p3.inputTable("src", src)
    PipelineSql(p3, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(v) AS s FROM src WHERE v <= 10 GROUP BY g""")
    src.append(Seq(("a", 1L)).toDF("g", "v"))
    p3.run()
    assert(p3.eventLog.filter(col("dataset") === "panel")
      .orderBy(col("run_id").desc).select("message").as[String]
      .head().contains("incremental"))
    assert(p3.read("panel").orderBy("g").as[(String, Long)]
      .collect().toSeq == Seq(("a", 6L), ("b", 10L)))
  }

  test("LIKE and BETWEEN WHERE clauses stay INCREMENTALLY maintained: " +
      "both are row-local deterministic predicates (dedicated parse " +
      "nodes, not BinaryOperators) — demoting them to recompute would " +
      "rescan the fact on every refresh") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_like_between")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq(
      ("eu-west", 10L), ("eu-east", 200L), ("us-east", 30L))
      .toDF("g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW eu AS
      SELECT g, SUM(v) AS s FROM src
      WHERE g LIKE 'eu%' AND v BETWEEN 0 AND 100
      GROUP BY g""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "eu")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def eu = p.read("eu").orderBy("g")
      .as[(String, Long)].collect().toSeq
    assert(eu == Seq(("eu-west", 10L)), eu)
    src.append(Seq(("eu-west", 5L), ("eu-north", 400L), ("us-west", 7L))
      .toDF("g", "v"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(eu == Seq(("eu-west", 15L)), eu)
  }

  test("a QUALIFIED reference inside HAVING over a plain aliased union " +
      "falls back to RECOMPUTE: the subquery alias doesn't exist on the " +
      "runtime union frame, so a minted companion would crash every " +
      "refresh — the guard scans HAVING like every other expression") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_having_qualified")
    val a = LakeTable(spark, s"$root/a")
    a.append(Seq(("x", 4L), ("y", 9L)).toDF("g", "v"))
    val b = LakeTable(spark, s"$root/b")
    b.append(Seq(("x", 3L)).toDF("g", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("a", a); p.inputTable("b", b)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW busy AS
      SELECT g, SUM(v) AS s
      FROM (SELECT g, v FROM a UNION ALL SELECT g, v FROM b) u
      GROUP BY g HAVING SUM(u.v) > 5""")
    p.run()
    // the shape is refused by the DETECTOR entirely (plain recompute MV:
    // the bare "materialized view refresh" event, no maintenance mode) —
    // never a maintained bootstrap whose companion would then crash
    def ev = p.eventLog.filter(col("dataset") === "busy")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last == "materialized view refresh", ev)
    def busy = p.read("busy").orderBy("g")
      .as[(String, Long)].collect().toSeq
    assert(busy == Seq(("x", 7L), ("y", 9L)), busy)
    // and it KEEPS working across refreshes (the recompute path, loudly)
    b.append(Seq(("y", -5L)).toDF("g", "v"))
    p.run()
    assert(ev.last == "materialized view refresh", ev)
    assert(busy == Seq(("x", 7L)), busy)
  }

  test("HAVING over AGGREGATE EXPRESSIONS maintains incrementally: a call " +
      "matching a declared alias reuses it, COUNT(*) rides the free " +
      "group-death counter, an unselected aggregate mints a HIDDEN " +
      "companion column — groups cross the threshold in both directions " +
      "and hidden columns never leak") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_having_exprs")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq(
      (1L, "a", 10L, 1L), (2L, "a", 5L, 1L),
      (3L, "b", 7L, -1L)).toDF("k", "g", "v", "w")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    // SUM(v) reuses the declared panel column `s`; COUNT(*) references
    // the internal counter (never selected); SUM(w) mints `__hv_0`
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW busy AS
      SELECT g, SUM(v) AS s FROM src GROUP BY g
      HAVING SUM(v) > 9 AND COUNT(*) > 1 AND SUM(w) > 0""")
    p.run()
    def busy = p.read("busy").orderBy("g")
      .as[(String, Long)].collect().toSeq
    def rec = src.read.groupBy("g")
      .agg(sum("v").as("s"), count(lit(1)).as("n"), sum("w").as("sw"))
      .filter(col("s") > 9 && col("n") > 1 && col("sw") > 0)
      .select("g", "s").orderBy("g").as[(String, Long)].collect().toSeq
    def ev = p.eventLog.filter(col("dataset") === "busy")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // the non-leak contract extends to hidden COLUMNS: readers see only
    // the declared output, never __cnt / __hv_0 / __nn_*
    assert(p.read("busy").columns.toSeq == Seq("g", "s"))
    assert(busy == Seq(("a", 15L)) && busy == rec, (busy, rec))
    // b crosses UP (all three predicates flip true for it)
    src.append(Seq((4L, "b", 8L, 3L)).toDF("k", "g", "v", "w"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(busy == Seq(("a", 15L), ("b", 15L)) && busy == rec, (busy, rec))
    // a crosses DOWN via the declared-alias predicate (SUM(v) falls to 5)
    src.deleteWhere("k = 1")
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(busy == Seq(("b", 15L)) && busy == rec, (busy, rec))
    // b crosses DOWN via the COUNT(*) free ride (one row left)
    src.deleteWhere("k = 3")
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(busy == Seq.empty && busy == rec, (busy, rec))
    // and back UP through the minted companion: w sums positive again
    src.append(Seq((5L, "b", 9L, 7L)).toDF("k", "g", "v", "w"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(busy == Seq(("b", 17L)) && busy == rec, (busy, rec))
  }

  test("NON-row-local maintained WHERE keeps the recompute path: a rand() " +
      "predicate would score a row's +1/−1 images differently and " +
      "silently drift the signed panel (aggregate args need no gate — " +
      "Spark's analyzer rejects non-deterministic aggregate inputs on " +
      "both paths)") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_nondet")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", 10L), (2L, "b", 7L)).toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    // rand() >= 0 is ALWAYS TRUE (value-deterministic), so the recompute
    // is exact — but the detector must not trust it per-image
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW w_nd AS
      SELECT g, SUM(v) AS s FROM src WHERE rand() >= 0 GROUP BY g""")
    p.run()
    src.append(Seq((3L, "a", 5L)).toDF("k", "g", "v"))
    p.run()
    val ev = p.eventLog.filter(col("dataset") === "w_nd")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.nonEmpty && ev.forall(!_.contains("incremental")), ev)
    val got = p.read("w_nd").orderBy("g")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 15L), ("b", 7L)), got)
  }

  test("HAVING may reference GROUP KEYS as the FROM side spells them: a " +
      "dim-qualified key (d.g) and a whole key EXPRESSION " +
      "(date_trunc('day', ts)) both rewrite to their output columns and " +
      "the panels maintain incrementally") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_having_keys")
    val fact = LakeTable(spark, s"$root/fact")
    val fseed = Seq((1L, "x", 10L), (2L, "y", 7L)).toDF("k", "cat", "v")
    fact.create(fseed.schema, enableChangeFeed = true)
    fact.append(fseed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("x", 2L), ("y", 3L), ("z", 5L)).toDF("cat", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW busy AS
      SELECT d.cat AS cat, SUM(f.v * d.w) AS s
      FROM fact f JOIN dim d ON f.cat = d.cat
      GROUP BY d.cat
      HAVING d.cat <> 'x' AND SUM(f.v * d.w) > 0""")
    val src = LakeTable(spark, s"$root/src")
    val seed2 = Seq((1L, ts("2024-01-01 03:00:00"), 4L),
      (2L, ts("2024-01-02 03:00:00"), 6L)).toDF("k", "t", "v")
    src.create(seed2.schema, enableChangeFeed = true)
    src.append(seed2)
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW daily AS
      SELECT date_trunc('day', t) AS day, SUM(v) AS s
      FROM src GROUP BY date_trunc('day', t)
      HAVING date_trunc('day', t) >= TIMESTAMP '2024-01-02 00:00:00'""")
    p.run()
    assert(p.read("busy").orderBy("cat").as[(String, Long)].collect().toSeq
      == Seq(("y", 21L)))
    assert(p.read("daily").as[(Timestamp, Long)].collect().toSeq
      == Seq((ts("2024-01-02 00:00:00"), 6L)))
    fact.append(Seq((3L, "z", 2L)).toDF("k", "cat", "v"))
    src.append(Seq((3L, ts("2024-01-02 09:00:00"), 10L)).toDF("k", "t", "v"))
    p.run()
    for (mv <- Seq("busy", "daily")) {
      val last = p.eventLog.filter(col("dataset") === mv)
        .orderBy(col("run_id").desc).select("message").as[String].head()
      assert(last.contains("incremental"), (mv, last))
    }
    assert(p.read("busy").orderBy("cat").as[(String, Long)].collect().toSeq
      == Seq(("y", 21L), ("z", 10L)))
    assert(p.read("daily").as[(Timestamp, Long)].collect().toSeq
      == Seq((ts("2024-01-02 00:00:00"), 16L)))
  }

  test("HAVING with a NON-maintainable aggregate call keeps the recompute " +
      "path — values exact, never a wrong maintained filter") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_having_fallback")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", 10L), (2L, "a", 14L), (3L, "b", 7L))
      .toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW spread AS
      SELECT g, SUM(v) AS s FROM src GROUP BY g
      HAVING stddev(v) > 1.0""")
    p.run()
    src.append(Seq((4L, "b", 1L)).toDF("k", "g", "v"))
    p.run()
    val ev = p.eventLog.filter(col("dataset") === "spread")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.nonEmpty && ev.forall(!_.contains("incremental")), ev)
    val got = p.read("spread").orderBy("g")
      .as[(String, Long)].collect().toSeq
    val rec = src.read.groupBy("g")
      .agg(sum("v").as("s"), stddev(col("v")).as("sd"))
      .filter(col("sd") > 1.0).select("g", "s")
      .orderBy("g").as[(String, Long)].collect().toSeq
    assert(got == rec && got == Seq(("a", 24L), ("b", 8L)), (got, rec))
  }

  test("composition: UNION ALL + expression group key + WHERE + HAVING " +
      "maintain together; star HAVING panel maintains through a dim delta") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_compose")
    // union + date_trunc key + WHERE + HAVING in one declaration
    val a = LakeTable(spark, s"$root/a")
    val seedA = Seq(
      (1L, ts("2024-01-01 02:00:00"), 10L),
      (2L, ts("2024-01-01 03:00:00"), -1L),
      (3L, ts("2024-01-02 04:00:00"), 3L)).toDF("k", "ts", "v")
    a.create(seedA.schema, enableChangeFeed = true)
    a.append(seedA)
    val b = LakeTable(spark, s"$root/b")
    val seedB = Seq((9L, ts("2024-01-01 09:00:00"), 7L)).toDF("k", "ts", "v")
    b.create(seedB.schema, enableChangeFeed = true)
    b.append(seedB)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("a", a)
    p.inputTable("b", b)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW daily AS
      SELECT date_trunc('day', ts) AS day, SUM(v) AS s, COUNT(*) AS n
      FROM (SELECT ts, v FROM a UNION ALL SELECT ts, v FROM b)
      WHERE v > 0
      GROUP BY date_trunc('day', ts)
      HAVING n > 1""")
    p.run()
    def daily = p.read("daily").orderBy("day")
      .as[(Timestamp, Long, Long)].collect().toSeq
    assert(daily == Seq((ts("2024-01-01 00:00:00"), 17L, 2L)))
    // branch windows move a day ACROSS the HAVING threshold both ways
    b.append(Seq((10L, ts("2024-01-02 10:00:00"), 5L)).toDF("k", "ts", "v"))
    p.run()
    assert(daily == Seq((ts("2024-01-01 00:00:00"), 17L, 2L),
      (ts("2024-01-02 00:00:00"), 8L, 2L)))
    a.deleteWhere("k = 3")
    p.run()
    assert(daily == Seq((ts("2024-01-01 00:00:00"), 17L, 2L)))
    val evD = p.eventLog.filter(col("dataset") === "daily")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(evD.tail.forall(_.contains("incremental from a ∪ b")), evD)

    // star HAVING panel through a DIM delta: the threshold re-evaluates
    // over the maintained full panel after the dim-signed windows
    val fact = LakeTable(spark, s"$root/fact")
    val fseed = Seq((1L, "x", 10L), (2L, "x", 5L), (3L, "y", 7L))
      .toDF("k", "cat", "v")
    fact.create(fseed.schema, enableChangeFeed = true)
    fact.append(fseed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("x", 1L), ("y", 1L)).toDF("cat", "w"))
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW busy AS
      SELECT f.cat AS cat, SUM(f.v * d.w) AS s, COUNT(*) AS n
      FROM fact f JOIN dim d ON f.cat = d.cat
      GROUP BY f.cat HAVING s > 10""")
    p.run()
    def busy = p.read("busy").orderBy("cat")
      .as[(String, Long, Long)].collect().toSeq
    assert(busy == Seq(("x", 15L, 2L)))
    // the dim trickle pushes 'y' over the HAVING threshold — the full
    // panel maintained underneath makes the group re-appear exactly
    dim.merge(Seq(("y", 2L)).toDF("cat", "w"), Seq("cat"))
    p.run()
    assert(busy == Seq(("x", 15L, 2L), ("y", 14L, 1L)))
    val evB = p.eventLog.filter(col("dataset") === "busy")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(evB.last.contains("dim-delta from dim"), evB)
  }

  test("COMPOSITE-key dim delta: a two-column equi join maintains through " +
      "a dim trickle via the broadcast semi-join key set; null-keyed fact " +
      "rows stay inert") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_dimck")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq(
      (1L, Option("x"), "e", 10L), (2L, Option("x"), "w", 5L),
      (3L, Option("y"), "e", 7L), (4L, Option.empty[String], "e", 99L))
      .toDF("k", "cat", "region", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("x", "e", 2L), ("x", "w", 3L), ("y", "e", 4L))
      .toDF("cat", "region", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT f.cat AS cat, SUM(f.v * d.w) AS s, COUNT(*) AS n
      FROM fact f LEFT JOIN dim d
        ON f.cat = d.cat AND f.region = d.region
      GROUP BY f.cat""")
    p.run()
    def gold = p.read("gold").orderBy(col("cat").asc_nulls_first)
      .as[(Option[String], Option[Long], Long)].collect().toSeq
    // the null-keyed fact row never matches → null-extended (s = NULL)
    assert(gold == Seq((None, None, 1L), (Some("x"), Some(35L), 2L),
      (Some("y"), Some(28L), 1L)))
    // trickle ONE composite tuple: only (x, w)'s weight moves
    dim.merge(Seq(("x", "w", 30L)).toDF("cat", "region", "w"),
      Seq("cat", "region"))
    p.run()
    assert(gold == Seq((None, None, 1L), (Some("x"), Some(170L), 2L),
      (Some("y"), Some(28L), 1L)))
    val ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("dim-delta from dim"), ev)
    // delete a composite tuple: (y, e) falls back to null-extension
    dim.deleteWhere("cat = 'y'")
    p.run()
    assert(gold == Seq((None, None, 1L), (Some("x"), Some(170L), 2L),
      (Some("y"), None, 1L)))
  }

  test("MULTI-dim delta: BOTH dims of a two-dim star change in one " +
      "refresh — sequential signed windows (earlier dim at its new " +
      "version for the later step) ≡ recompute, fact window included") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_dim2")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq(
      (1L, "x", "p", 10L), (2L, "y", "q", 5L), (3L, "x", "q", 7L))
      .toDF("k", "cat", "grp", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val d1 = LakeTable(spark, s"$root/d1")
    d1.append(Seq(("x", 2L), ("y", 3L)).toDF("cat", "w1"))
    val d2 = LakeTable(spark, s"$root/d2")
    d2.append(Seq(("p", 100L), ("q", 200L)).toDF("grp", "w2"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("d1", d1)
    p.inputTable("d2", d2)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT f.cat AS cat, SUM(f.v * a.w1 * b.w2) AS s, COUNT(*) AS n
      FROM fact f JOIN d1 a ON f.cat = a.cat JOIN d2 b ON f.grp = b.grp
      GROUP BY f.cat""")
    p.run()
    def gold = p.read("gold").orderBy("cat")
      .as[(String, Long, Long)].collect().toSeq
    def recompute = fact.read.alias("f")
      .join(d1.read.alias("a"), expr("f.cat = a.cat"))
      .join(d2.read.alias("b"), expr("f.grp = b.grp"))
      .groupBy(col("f.cat")).agg(
        sum(expr("f.v * a.w1 * b.w2")).as("s"), count(lit(1)).as("n"))
      .orderBy("cat").as[(String, Long, Long)].collect().toSeq
    assert(gold == recompute)
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // BOTH dims trickle in one refresh, plus a fact arrival: the kernel
    // orders fact-window-first (old pins), then d1's delta (d2 at pin),
    // then d2's delta (d1 at cur) — three signed windows, exact
    d1.merge(Seq(("x", 20L)).toDF("cat", "w1"), Seq("cat"))
    d2.merge(Seq(("q", 999L)).toDF("grp", "w2"), Seq("grp"))
    fact.append(Seq((4L, "y", "p", 1L)).toDF("k", "cat", "grp", "v"))
    p.run()
    assert(gold == recompute)
    assert(ev.last.contains("incremental + dim-delta from d1 (diff), d2 (diff)"), ev)
    // dim-only double trickle on the NEW pins
    d1.merge(Seq(("y", 30L)).toDF("cat", "w1"), Seq("cat"))
    d2.merge(Seq(("p", 1L)).toDF("grp", "w2"), Seq("grp"))
    p.run()
    assert(gold == recompute)
    assert(ev.last.contains("dim-delta from d1 (diff), d2 (diff)"), ev)
    // and plain incremental resumes on the advanced pin vector
    fact.append(Seq((5L, "x", "p", 2L)).toDF("k", "cat", "grp", "v"))
    p.run()
    assert(gold == recompute)
    assert(ev.last.contains("incremental from fact"), ev)
  }

  test("EXPRESSION group keys compose with star joins: a day-bucketed " +
      "fact-time panel over fact JOIN dim maintains through fact windows " +
      "AND dim deltas") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_expr_star")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq(
      (1L, "x", ts("2024-01-01 10:00:00"), 10L),
      (2L, "y", ts("2024-01-01 11:00:00"), 5L),
      (3L, "x", ts("2024-01-02 09:00:00"), 7L)).toDF("k", "cat", "ts", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("x", 2L), ("y", 3L)).toDF("cat", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW daily AS
      SELECT date_trunc('day', f.ts) AS day, SUM(f.v * d.w) AS s,
             COUNT(*) AS n
      FROM fact f JOIN dim d ON f.cat = d.cat
      GROUP BY date_trunc('day', f.ts)""")
    p.run()
    def panel = p.read("daily").orderBy("day")
      .as[(Timestamp, Long, Long)].collect().toSeq
    assert(panel == Seq(
      (ts("2024-01-01 00:00:00"), 35L, 2L),
      (ts("2024-01-02 00:00:00"), 14L, 1L)))
    def ev = p.eventLog.filter(col("dataset") === "daily")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // fact window: the day bucket is computed per image inside the join
    fact.append(Seq((4L, "y", ts("2024-01-02 23:00:00"), 1L))
      .toDF("k", "cat", "ts", "v"))
    p.run()
    assert(panel == Seq(
      (ts("2024-01-01 00:00:00"), 35L, 2L),
      (ts("2024-01-02 00:00:00"), 17L, 2L)))
    assert(ev.last.contains("incremental from fact"), ev)
    // dim delta: the re-weighted key flows into the day buckets exactly
    dim.merge(Seq(("x", 10L)).toDF("cat", "w"), Seq("cat"))
    p.run()
    assert(panel == Seq(
      (ts("2024-01-01 00:00:00"), 115L, 2L),
      (ts("2024-01-02 00:00:00"), 73L, 2L)))
    assert(ev.last.contains("dim-delta from dim"), ev)
  }

  test("dim-delta fact slice SKIPS whole fact files by zone map (manifest-" +
      "level, pinned version) and a row-less dim version bump just " +
      "advances the pin") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_dimzone")
    val fact = LakeTable(spark, s"$root/fact")
    val mk = (lo: Int, hi: Int) => (lo to hi)
      .map(i => (i.toLong, f"c$i%04d", i.toLong)).toDF("k", "cat", "v")
    fact.create(mk(0, 0).schema, enableChangeFeed = true,
      statsColumns = Seq("cat"))
    // two appends with DISJOINT key ranges → two files with tight zone
    // stats on the join column
    fact.append(mk(0, 499).coalesce(1))
    fact.append(mk(500, 999).coalesce(1))
    val dim = LakeTable(spark, s"$root/dim")
    dim.append((0 to 999).map(i => (f"c$i%04d", 1L)).toDF("cat", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT f.cat AS cat, SUM(f.v * d.w) AS s
      FROM fact f JOIN dim d ON f.cat = d.cat GROUP BY f.cat""")
    p.run()
    // the trickle touches only low-range keys: the high-range fact file's
    // zone map proves it can hold none of them — the manifest-level skip
    // the dim-delta slice rides (same pred, same file index)
    dim.merge(Seq(("c0003", 5L), ("c0007", 5L)).toDF("cat", "w"), Seq("cat"))
    val (_, skipped) = fact.skippingStats(
      "cat >= 'c0003' AND cat <= 'c0007'")
    assert(skipped >= 1, s"expected the high-range file skipped, got $skipped")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("dim-delta from dim"), ev)
    assert(p.read("gold").filter(col("cat").isin("c0003", "c0007", "c0500"))
      .orderBy("cat").as[(String, Long)].collect().toSeq ==
      Seq(("c0003", 15L), ("c0007", 35L), ("c0500", 500L)))
    // a dim PROPERTIES commit moves the version with zero row changes:
    // the refresh applies an EMPTY signed window that only advances the
    // pin — values untouched, and the next run is cleanly up-to-date
    dim.setTableProperties(Map("team.owner" -> "gold"))
    p.run()
    assert(ev.last.contains("dim-delta from dim"), ev)
    assert(p.read("gold").filter(col("cat") === "c0003")
      .as[(String, Long)].collect().toSeq == Seq(("c0003", 15L)))
    val before = ev.size
    p.run()
    assert(p.eventLog.filter(col("dataset") === "gold").count() == before + 1)
    assert(ev.last.contains("up-to-date") || ev.last.contains("(0"), ev.last)
  }

  test("union-star dim-delta slices each BRANCH by its own zone maps: a " +
      "low-key dim trickle skips each branch's high-range file at the " +
      "manifest level (positional key-column mapping) — the per-branch " +
      "100 TB lever") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_ustar_zone")
    val mkA = (lo: Int, hi: Int) => (lo to hi)
      .map(i => (i.toLong, f"c$i%04d", i.toLong)).toDF("k", "cat", "v")
    val a = LakeTable(spark, s"$root/a")
    a.create(mkA(0, 0).schema, enableChangeFeed = true,
      statsColumns = Seq("cat"))
    a.append(mkA(0, 499).coalesce(1))
    a.append(mkA(500, 999).coalesce(1))
    // branch b renames the key column — the slice maps it positionally
    val mkB = (lo: Int, hi: Int) => (lo to hi)
      .map(i => (f"c$i%04d", i.toLong)).toDF("cat2", "v2")
    val b = LakeTable(spark, s"$root/b")
    b.create(mkB(0, 0).schema, enableChangeFeed = true,
      statsColumns = Seq("cat2"))
    b.append(mkB(0, 499).coalesce(1))
    b.append(mkB(500, 999).coalesce(1))
    val dim = LakeTable(spark, s"$root/dim")
    dim.append((0 to 999).map(i => (f"c$i%04d", 1L)).toDF("cat", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("a", a); p.inputTable("b", b); p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT f.cat AS cat, SUM(f.v * d.w) AS s, COUNT(*) AS n
      FROM (SELECT cat, v FROM a UNION ALL SELECT cat2, v2 FROM b) f
      JOIN dim d ON f.cat = d.cat
      GROUP BY f.cat""")
    p.run()
    dim.merge(Seq(("c0003", 5L), ("c0007", 5L)).toDF("cat", "w"), Seq("cat"))
    // BOTH branches' high-range files are zone-skippable under the
    // changed-key bounds — branch b through its RENAMED key column
    val (_, skipA) = a.skippingStats(
      "cat >= 'c0003' AND cat <= 'c0007'")
    val (_, skipB) = b.skippingStats(
      "cat2 >= 'c0003' AND cat2 <= 'c0007'")
    assert(skipA >= 1 && skipB >= 1, (skipA, skipB))
    p.run()
    val ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("dim-delta from dim"), ev)
    assert(p.read("gold").filter(col("cat").isin("c0003", "c0500"))
      .orderBy("cat").as[(String, Long, Long)].collect().toSeq ==
      Seq(("c0003", 30L, 2L), ("c0500", 1000L, 2L)))
  }

  test("UNION ALL auto-MV: each branch maintains under its own ledger — " +
      "appends and deletes on either side apply as independent signed " +
      "windows, positional column semantics hold, ≡ recompute; UNION " +
      "DISTINCT and view-backed branches keep recompute") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_union")
    val a = LakeTable(spark, s"$root/a")
    val seedA = Seq((1L, "x", 10L), (2L, "y", 5L)).toDF("k", "g", "v")
    a.create(seedA.schema, enableChangeFeed = true)
    a.append(seedA)
    // b's physical column ORDER differs — the branch projection must
    // align positionally (SQL UNION ALL semantics), not by table order
    val b = LakeTable(spark, s"$root/b")
    val seedB = Seq((20L, "x", 100L), (7L, "z", 101L)).toDF("v2", "g2", "k2")
    b.create(seedB.schema, enableChangeFeed = true)
    b.append(seedB)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("a", a)
    p.inputTable("b", b)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(v) AS s, COUNT(*) AS n
      FROM (SELECT g, v FROM a UNION ALL SELECT g2, v2 FROM b)
      GROUP BY g""")
    p.run()
    def panel = p.read("panel").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    assert(panel == Seq(("x", 30L, 2L), ("y", 5L, 1L), ("z", 7L, 1L)))
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // window on branch a only
    a.append(Seq((3L, "z", 2L)).toDF("k", "g", "v"))
    p.run()
    assert(panel == Seq(("x", 30L, 2L), ("y", 5L, 1L), ("z", 9L, 2L)))
    assert(ev.last.contains("incremental from a ∪ b"), ev)
    // windows on BOTH branches in one refresh, incl. a retraction on b
    a.append(Seq((4L, "w", 1L)).toDF("k", "g", "v"))
    b.deleteWhere("g2 = 'x'")
    p.run()
    assert(panel == Seq(("w", 1L, 1L), ("x", 10L, 1L), ("y", 5L, 1L),
      ("z", 9L, 2L)))
    assert(ev.last.contains("incremental from a ∪ b"), ev)
    // ≡ recompute over the whole union
    val rec = a.read.select(col("g"), col("v"))
      .union(b.read.select(col("g2"), col("v2")))
      .groupBy("g").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(panel == rec)
    // an idle refresh is up-to-date on every branch ledger — no work
    p.run()
    assert(panel == rec)

    // UNION (DISTINCT) parses as Distinct(Union) → recompute path
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW pd AS
      SELECT g, SUM(v) AS s
      FROM (SELECT g, v FROM a UNION SELECT g2, v2 FROM b) GROUP BY g""")
    // a view-backed branch → recompute path (still answers)
    PipelineSql(p, "CREATE VIEW av AS SELECT g, v FROM a")
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW pv AS
      SELECT g, SUM(v) AS s
      FROM (SELECT g, v FROM av UNION ALL SELECT g2, v2 FROM b) GROUP BY g""")
    p.run()
    assert(p.read("pd").count() > 0)
    assert(p.read("pv").orderBy("g").as[(String, Long)].collect().toSeq ==
      rec.map { case (g, s, _) => (g, s) })
    Seq("pd", "pv").foreach { ds =>
      val m = p.eventLog.filter(col("dataset") === ds)
        .select("message").as[String].collect().toSeq
      assert(m.forall(!_.contains("incremental from")), ds -> m)
    }
  }

  test("COUNT(DISTINCT) auto-MV: a signed companion table of (group, " +
      "value) multiplicities maintains exact distinct counts through " +
      "duplicate inserts, partial and final retractions, NULLs, group " +
      "death, and group birth — incrementally") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_dcount")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", Option(10L)), (2L, "a", Option(10L)),
      (3L, "a", Option(20L)), (4L, "b", Option(5L)), (5L, "b", Option.empty[Long]))
      .toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW panel AS " +
      "SELECT g, COUNT(DISTINCT v) AS dv, SUM(v) AS s, COUNT(*) AS n " +
      "FROM src GROUP BY g")
    p.run()
    assert(p.read("panel").columns.toSeq == Seq("g", "dv", "s", "n"))
    def panel = p.read("panel").orderBy("g")
      .as[(String, Long, Option[Long], Long)].collect().toSeq
    // a: values {10, 20} (10 twice); b: {5} (NULL ignored by the DISTINCT)
    assert(panel == Seq(("a", 2L, Some(40L), 3L), ("b", 1L, Some(5L), 2L)))
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // birth of a new value + a duplicate of an existing one + a new group
    src.append(Seq((6L, "a", Option(30L)), (7L, "a", Option(20L)),
      (8L, "c", Option(1L))).toDF("k", "g", "v"))
    p.run()
    assert(panel == Seq(("a", 3L, Some(90L), 5L), ("b", 1L, Some(5L), 2L),
      ("c", 1L, Some(1L), 1L)))
    assert(ev.last.contains("incremental from src"), ev)
    // PARTIAL retraction: one of the two 10s leaves — the value survives
    src.deleteWhere("k = 1")
    p.run()
    assert(panel == Seq(("a", 3L, Some(80L), 4L), ("b", 1L, Some(5L), 2L),
      ("c", 1L, Some(1L), 1L)))
    assert(ev.last.contains("incremental from src"), ev)
    // FINAL retraction: the last 10 leaves — the distinct count drops
    src.deleteWhere("k = 2")
    p.run()
    assert(panel == Seq(("a", 2L, Some(70L), 3L), ("b", 1L, Some(5L), 2L),
      ("c", 1L, Some(1L), 1L)))
    // retracting b's only non-NULL value: dv drops to 0, the group LIVES
    // (the NULL row holds it), SUM reads NULL — exact algebra end to end
    src.deleteWhere("k = 4")
    p.run()
    assert(panel == Seq(("a", 2L, Some(70L), 3L), ("b", 0L, None, 1L),
      ("c", 1L, Some(1L), 1L)))
    // group death removes the row entirely
    src.deleteWhere("g = 'c'")
    p.run()
    assert(panel == Seq(("a", 2L, Some(70L), 3L), ("b", 0L, None, 1L)))
    assert(ev.last.contains("incremental from src"), ev)
    // full refresh rebuilds the companion too, and maintenance resumes
    p.runFullRefresh()
    assert(panel == Seq(("a", 2L, Some(70L), 3L), ("b", 0L, None, 1L)))
    src.append(Seq((9L, "b", Option(5L))).toDF("k", "g", "v"))
    p.run()
    assert(panel == Seq(("a", 2L, Some(70L), 3L), ("b", 1L, Some(5L), 2L)))
    assert(ev.last.contains("incremental from src"), ev)
  }

  test("auto-MV over a CDC-maintained silver: the gold panel maintains " +
      "INCREMENTALLY off the CDC merges' change feed — a user whose " +
      "latest event MOVES groups retracts from the old group exactly") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_cdc")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "click", 1L, 10L), (2L, "view", 1L, 20L))
      .toDF("u", "typ", "seq", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    PipelineSql.script(p, """
      CREATE OR REFRESH STREAMING TABLE silver
        TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true');
      APPLY CHANGES INTO silver FROM STREAM(bronze) KEYS (u) SEQUENCE BY seq;
      CREATE OR REFRESH MATERIALIZED VIEW gold AS
        SELECT typ, COUNT(*) AS users, SUM(v) AS s FROM silver GROUP BY typ""")
    p.runIncremental()
    def gold = p.read("gold").orderBy("typ")
      .as[(String, Long, Long)].collect().toSeq
    assert(gold == Seq(("click", 1L, 10L), ("view", 1L, 20L)))
    // user 1's latest event MOVES to 'view': the CDC merge emits pre/post
    // images, the MV retracts (click, u1) and lands (view, u1) — the
    // click group DIES (count 0 removes the row)
    bronze.append(Seq((1L, "view", 2L, 30L)).toDF("u", "typ", "seq", "v"))
    p.runIncremental()
    assert(gold == Seq(("view", 2L, 50L)))
    val ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("incremental from silver"), ev)
  }

  test("REFRESH MATERIALIZED VIEW name [FULL]: a SYNCHRONOUS single-MV " +
      "refresh — the named MV updates from current sources while sibling " +
      "datasets stay untouched; FULL re-bootstraps; non-MV targets refuse") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_refresh_mv")
    val src = LakeTable(spark, s"$root/src")
    src.append(Seq((1L, "a", 10L), (2L, "b", 5L)).toDF("k", "g", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW agg AS " +
      "SELECT g, SUM(v) AS s FROM src GROUP BY g")
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW top1 AS " +
      "SELECT g, s FROM (SELECT g, SUM(v) AS s FROM src GROUP BY g) " +
      "ORDER BY s DESC LIMIT 1")
    p.run()
    def agg = p.read("agg").orderBy("g").as[(String, Long)].collect().toSeq
    def top = p.read("top1").as[(String, Long)].collect().toSeq
    assert(agg == Seq(("a", 10L), ("b", 5L)) && top == Seq(("a", 10L)))
    // source moves; refresh ONLY the auto MV — the recompute MV is stale
    src.append(Seq((3L, "b", 100L)).toDF("k", "g", "v"))
    PipelineSql(p, "REFRESH MATERIALIZED VIEW agg")
    assert(agg == Seq(("a", 10L), ("b", 105L)))
    assert(top == Seq(("a", 10L))) // untouched sibling
    // now the recompute MV, alone
    PipelineSql(p, "REFRESH MATERIALIZED VIEW top1;")
    assert(top == Seq(("b", 105L)))
    // the single-MV refresh was INCREMENTAL for the auto MV
    val ev = p.eventLog.filter(col("dataset") === "agg")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("incremental from src"), ev)
    // FULL re-bootstraps (ledger cleared, same rows)
    PipelineSql(p, "REFRESH MATERIALIZED VIEW agg FULL")
    assert(agg == Seq(("a", 10L), ("b", 105L)))
    // non-MV targets refuse (a declared CDC streaming table is not an MV;
    // note an AS-SELECT streaming table WITHOUT a STREAM source registers
    // as a recompute MV by design and would be refreshable)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE raw")
    intercept[IllegalArgumentException] {
      PipelineSql(p, "REFRESH MATERIALIZED VIEW raw")
    }
  }

  test("COUNT(DISTINCT) crash recovery: a companion ledger AHEAD of the " +
      "MV ledger (refresh died between the companion merge and the main " +
      "merge) resynchronizes by recompute — no double-count, and " +
      "incremental maintenance resumes") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_dcount_crash")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW panel AS " +
      "SELECT g, COUNT(DISTINCT v) AS dv, COUNT(*) AS n FROM src GROUP BY g")
    p.run()
    src.append(Seq((3L, "a", 30L)).toDF("k", "g", "v"))
    p.run()
    def panel = p.read("panel").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    assert(panel == Seq(("a", 3L, 3L)))
    // SIMULATE the crash: a new window arrives, and the companion's ledger
    // advances to that window's version while the MV's does not — exactly
    // the state a refresh leaves when it dies after the companion merge
    // and before the main merge
    src.append(Seq((4L, "a", 30L)).toDF("k", "g", "v")) // duplicate value
    val companion = LakeTable(spark, s"$root/pipe/panel__dist_dv")
    assert(companion.exists)
    companion.recordTxn("graft.aggmv.panel.dist.dv", src.currentVersion)
    p.run()
    // a naive window replay would double-apply: dv must stay exact
    assert(panel == Seq(("a", 3L, 4L)))
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("companion out of sync"), ev)
    // and the recompute re-synchronized both — maintenance resumes
    src.append(Seq((5L, "a", 40L)).toDF("k", "g", "v"))
    p.run()
    assert(panel == Seq(("a", 4L, 5L)))
    assert(ev.last.contains("incremental from src"), ev)
  }

  test("auto-MV HAVING over output columns: the full panel maintains " +
      "incrementally and the predicate filters at presentation — a group " +
      "crosses the threshold in BOTH directions with exact aggregates; a " +
      "HAVING aggregate the SELECT doesn't carry maintains via a minted " +
      "hidden companion") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_having")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
      .toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW busy AS " +
      "SELECT g, SUM(v) AS s, COUNT(*) AS n FROM src GROUP BY g " +
      "HAVING n > 1")
    p.run()
    def busy = p.read("busy").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    assert(busy == Seq(("a", 30L, 2L)))
    // b crosses UP: appears with its exact running aggregates
    src.append(Seq((4L, "b", 7L)).toDF("k", "g", "v"))
    p.run()
    assert(busy == Seq(("a", 30L, 2L), ("b", 12L, 2L)))
    // a crosses DOWN: disappears, but stays maintained underneath
    src.deleteWhere("k = 2")
    p.run()
    assert(busy == Seq(("b", 12L, 2L)))
    // ... and re-appears exactly when it crosses back up
    src.append(Seq((5L, "a", 100L)).toDF("k", "g", "v"))
    p.run()
    assert(busy == Seq(("a", 110L, 2L), ("b", 12L, 2L)))
    val ev = p.eventLog.filter(col("dataset") === "busy")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.tail.forall(_.contains("incremental from src")), ev)

    // HAVING with an aggregate the SELECT doesn't carry: SUM(v) mints a
    // hidden companion column and the panel still maintains incrementally
    // (round 18 — previously a documented recompute fallback)
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW busy2 AS " +
      "SELECT g, COUNT(*) AS n FROM src GROUP BY g HAVING SUM(v) > 50")
    p.run()
    assert(p.read("busy2").as[(String, Long)].collect().toSeq ==
      Seq(("a", 2L)))
    // a falls below the hidden threshold, b rises over it — one window
    src.deleteWhere("k = 5")
    src.append(Seq((6L, "b", 95L)).toDF("k", "g", "v"))
    p.run()
    assert(p.read("busy2").orderBy("g").as[(String, Long)].collect().toSeq ==
      Seq(("b", 3L)))
    assert(p.eventLog.filter(col("dataset") === "busy2")
      .orderBy(col("run_id").desc).select("message").as[String]
      .head().contains("incremental"))
  }

  test("runFullRefresh rebuilds an auto-maintained MV from scratch and " +
      "incremental maintenance resumes after it") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_refresh")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "g", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", bronze)
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW m AS " +
      "SELECT g, SUM(v) AS s, COUNT(*) AS n FROM src GROUP BY g")
    p.run()
    bronze.append(Seq((3L, "a", 5L)).toDF("k", "g", "v"))
    p.run()
    def m = p.read("m").orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(m == Seq(("a", 15L, 2L), ("b", 20L, 1L)))
    // full refresh: the MV's ledger clears, the wiped table re-bootstraps
    // from the source's full current snapshot
    p.runFullRefresh()
    assert(m == Seq(("a", 15L, 2L), ("b", 20L, 1L)))
    // and the ledger is consistent: the next delta maintains incrementally
    bronze.append(Seq((4L, "b", 1L)).toDF("k", "g", "v"))
    p.runIncremental()
    assert(m == Seq(("a", 15L, 2L), ("b", 21L, 2L)))
  }

  test("auto-MV with an EXPRESSION group key (date_trunc day panel) " +
      "maintains incrementally, exactly ≡ recompute through appends, " +
      "deletes and bucket-moving updates; non-deterministic keys keep " +
      "the recompute path") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_exprkey")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq(
      (1L, "a", ts("2024-01-01 01:00:00"), 10L),
      (2L, "a", ts("2024-01-01 23:00:00"), 20L),
      (3L, "b", ts("2024-01-02 05:00:00"), 5L)).toDF("k", "g", "ts", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    // mixed keys: one deterministic row-local EXPRESSION + one attribute
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW daily AS " +
      "SELECT date_trunc('day', ts) AS day, g, SUM(v) AS s, COUNT(*) AS n " +
      "FROM src GROUP BY date_trunc('day', ts), g")
    p.run()
    def panel = p.read("daily").orderBy("day", "g")
      .as[(Timestamp, String, Long, Long)].collect().toSeq
    assert(panel == Seq(
      (ts("2024-01-01 00:00:00"), "a", 30L, 2L),
      (ts("2024-01-02 00:00:00"), "b", 5L, 1L)))
    // delta window 1: an append into an existing bucket + a new bucket
    src.append(Seq(
      (4L, "a", ts("2024-01-01 06:00:00"), 7L),
      (5L, "b", ts("2024-01-03 00:30:00"), 1L)).toDF("k", "g", "ts", "v"))
    p.run()
    assert(panel == Seq(
      (ts("2024-01-01 00:00:00"), "a", 37L, 3L),
      (ts("2024-01-02 00:00:00"), "b", 5L, 1L),
      (ts("2024-01-03 00:00:00"), "b", 1L, 1L)))
    // delta window 2: a delete that KILLS a bucket (group death through
    // the expression key) and a bucket-moving rewrite (delete+insert
    // images move k=2 from Jan-1 to Jan-2: minus the old bucket, plus
    // the new — the expression is computed per image before signing)
    src.deleteWhere("k = 5")
    src.deleteWhere("k = 2")
    src.append(Seq((2L, "a", ts("2024-01-02 09:00:00"), 20L))
      .toDF("k", "g", "ts", "v"))
    p.run()
    assert(panel == Seq(
      (ts("2024-01-01 00:00:00"), "a", 17L, 2L),
      (ts("2024-01-02 00:00:00"), "a", 20L, 1L),
      (ts("2024-01-02 00:00:00"), "b", 5L, 1L)))
    // every post-bootstrap refresh ran the INCREMENTAL path
    val ev = p.eventLog.filter(col("dataset") === "daily")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.tail.forall(_.contains("incremental from src")), ev)
    // ≡ recompute: the maintained panel equals the defining query run raw
    val recompute = src.read
      .groupBy(date_trunc("day", col("ts")).as("day"), col("g"))
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("day", "g").as[(Timestamp, String, Long, Long)].collect().toSeq
    assert(panel == recompute)

    // a NON-deterministic group expression never maintains — recompute
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW lucky AS " +
      "SELECT CAST(rand() * 0 AS BIGINT) AS z, SUM(v) AS s FROM src GROUP BY CAST(rand() * 0 AS BIGINT)")
    p.run()
    assert(p.read("lucky").as[(Long, Long)].collect().toSeq == Seq((0L, 42L)))
    val evL = p.eventLog.filter(col("dataset") === "lucky")
      .select("message").as[String].collect().toSeq
    assert(evL.forall(m => !m.contains("incremental from")), evL)
  }

  test("unsupported statements fail loudly") {
    val p = new Pipeline(spark, tmpDir("plsql_bad"))
    val e = intercept[IllegalArgumentException] {
      PipelineSql(p, "DROP TABLE whatever")
    }
    assert(e.getMessage.contains("PipelineSql supports"))
  }

  test("PipelineSql.script executes a whole ;-separated Lakeflow file: " +
      "line and block comments are stripped, semicolons inside string " +
      "literals never split, trailing empties are skipped") {
    val p = new Pipeline(spark, tmpDir("plsql_script"))
    p.view("src")(Seq((1L, "a;b", 1L), (2L, "c", 2L)).toDF("k", "v", "seq"))
    val n = PipelineSql.script(p,
      """
      -- the silver target; declared first (this ; must not split)
      CREATE OR REFRESH STREAMING TABLE silver;
      /* the CDC flow;
         a block comment spanning lines */
      APPLY CHANGES INTO silver FROM STREAM(src) KEYS (k) SEQUENCE BY seq;
      CREATE OR REFRESH MATERIALIZED VIEW tagged AS
        SELECT k, v, 'x;y' AS tag FROM silver;  -- trailing comment
      """)
    assert(n == 3)
    p.run()
    assert(p.read("tagged").orderBy("k").as[(Long, String, String)]
      .collect().toSeq == Seq((1L, "a;b", "x;y"), (2L, "c", "x;y")))
    // an unterminated block comment is a loud error, not a silent swallow
    val e = intercept[IllegalArgumentException] {
      PipelineSql.script(p, "CREATE OR REFRESH STREAMING TABLE t /* oops")
    }
    assert(e.getMessage.contains("unterminated"))
  }

  test("CREATE FLOW names attribute event-log flow_progress rows: a named " +
      "CDC flow and a named append flow on related targets stay " +
      "distinguishable in the log") {
    val p = new Pipeline(spark, tmpDir("plsql_flownames"))
    p.view("src")(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "seq"))
    PipelineSql.script(p, """
      CREATE OR REFRESH STREAMING TABLE silver;
      CREATE FLOW cdc_events AS
        APPLY CHANGES INTO silver FROM STREAM(src) KEYS (k) SEQUENCE BY seq;
      CREATE OR REFRESH STREAMING TABLE silver_raw;
      CREATE FLOW append_events AS
        INSERT INTO silver_raw BY NAME SELECT * FROM src;
      """)
    p.run()
    val ev = p.eventLog.filter(col("event_type") === "flow_progress")
      .select("dataset", "message").as[(String, String)].collect().toSeq
    // the CDC flow is addressed by its declared name (target stays the
    // dataset column); the append flow logs under its own name
    assert(ev.exists { case (ds, m) =>
      ds == "silver" && m.contains("cdc flow cdc_events from src") })
    assert(ev.exists { case (ds, m) =>
      ds == "append_events" && m.contains("append into silver_raw") })
    // duplicate flow names are refused loudly across flow kinds
    val e = intercept[IllegalArgumentException] {
      PipelineSql(p, """CREATE FLOW append_events AS
        APPLY CHANGES INTO silver_raw FROM STREAM(src) KEYS (k) SEQUENCE BY seq""")
    }
    assert(e.getMessage.contains("duplicate flow name"))
  }

  test("auto-MV guard walks past plain views: a maintainable shape over a " +
      "VIEW (whose closure may reach a recompute MV) keeps the recompute " +
      "path ordered with the recompute MVs — never a stale read") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_mvguard")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, 10.0)).toDF("k", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", bronze)
    // base: a recompute MV (non-aggregate shape); bv: a plain view over it
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW base AS " +
      "SELECT k, v FROM src WHERE v > 0")
    p.view("bv")(p.read("base"))
    PipelineSql(p, "CREATE OR REFRESH MATERIALIZED VIEW agg AS " +
      "SELECT k, SUM(v) AS s, COUNT(*) AS n FROM bv GROUP BY k")
    p.run()
    bronze.append(Seq((2L, 7.0)).toDF("k", "v"))
    p.run()
    // a view-sourced auto registration would refresh BEFORE base each run
    // and read base's last-run state — k=2 would be missing here
    assert(p.read("agg").orderBy("k")
      .select($"k", $"s".cast("double"), $"n")
      .as[(Long, Double, Long)].collect().toSeq ==
      Seq((1L, 10.0, 1L), (2L, 7.0, 1L)))
  }

  test("UNION ALL composes with COUNT(DISTINCT) and maintained extremes: " +
      "each branch window merges the companions under its OWN per-branch " +
      "ledger — appends, cross-branch duplicates and retractions all " +
      "maintain ≡ recompute") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_union_companions")
    val ba = LakeTable(spark, s"$root/ba")
    val seedA = Seq((1L, "a", 1.0), (2L, "a", 5.0)).toDF("k", "g", "v")
    ba.create(seedA.schema, enableChangeFeed = true)
    ba.append(seedA)
    val bb = LakeTable(spark, s"$root/bb")
    val seedB = Seq((3L, "a", 9.0), (4L, "b", 2.0)).toDF("k2", "g2", "v2")
    bb.create(seedB.schema, enableChangeFeed = true)
    bb.append(seedB)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("ba", ba)
    p.inputTable("bb", bb)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, COUNT(DISTINCT k) AS dk, MAX(v) AS mx, COUNT(*) AS n
      FROM (SELECT g, k, v FROM ba UNION ALL SELECT g2, k2, v2 FROM bb)
      GROUP BY g""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def panel = p.read("panel").orderBy("g")
      .as[(String, Long, Double, Long)].collect().toSeq
    assert(panel == Seq(("a", 3L, 9.0, 3L), ("b", 1L, 2.0, 1L)), panel)
    // both branches move: one signed window EACH, companions merged under
    // ba's and bb's own ledgers
    ba.append(Seq((5L, "b", 7.0)).toDF("k", "g", "v"))
    bb.append(Seq((6L, "a", 4.0)).toDF("k2", "g2", "v2"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(panel == Seq(("a", 4L, 9.0, 4L), ("b", 2L, 7.0, 2L)), panel)
    // branch-b RETRACTION kills group a's MAX: refills from the companion
    // (every remaining value tracked — bootstrap floor NULL at this size)
    bb.deleteWhere("k2 = 3")
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(panel == Seq(("a", 3L, 5.0, 3L), ("b", 2L, 7.0, 2L)), panel)
    // a CROSS-BRANCH duplicate key: dk counts distinct k over the UNION —
    // k=1 now lives in both branches, so group a's distinct count is
    // unchanged while the row count moves
    bb.append(Seq((1L, "a", 0.5)).toDF("k2", "g2", "v2"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(panel == Seq(("a", 3L, 5.0, 4L), ("b", 2L, 7.0, 2L)), panel)
    // ≡ recompute over the live union
    val rec = ba.read.toDF("k", "g", "v")
      .unionByName(bb.read.toDF("k", "g", "v"))
      .groupBy("g").agg(countDistinct("k").as("dk"), max("v").as("mx"),
        count(lit(1)).as("n"))
      .orderBy("g").as[(String, Long, Double, Long)].collect().toSeq
    assert(panel == rec, s"panel $panel vs recompute $rec")
  }

  test("SCD2 AS-OF star MV: a gold panel joining facts to an SCD2 history " +
      "on key + validity interval (__START_AT <= ts < __END_AT) maintains " +
      "on FACT windows against the PINNED history — non-equi residuals " +
      "ride the join whole; a history change maintains by DIM-DELTA on " +
      "the business key (time-sliced ± windows), never a fact rescan") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_scd2asof")
    val hist = LakeTable(spark, s"$root/hist")
    hist.append(Seq(
      (1L, 10L, ts("2024-01-01 00:00:00"), Option(ts("2024-01-10 00:00:00"))),
      (1L, 11L, ts("2024-01-10 00:00:00"), Option.empty[Timestamp]),
      (2L, 20L, ts("2024-01-01 00:00:00"), Option.empty[Timestamp]))
      .toDF("dk", "w", "__START_AT", "__END_AT"))
    val fact = LakeTable(spark, s"$root/fact")
    fact.append(Seq(
      (1L, ts("2024-01-05 00:00:00"), 1L),   // joins version w=10
      (1L, ts("2024-01-15 00:00:00"), 2L),   // joins open version w=11
      (2L, ts("2024-01-05 00:00:00"), 5L))
      .toDF("dk", "ts", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("hist", hist)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT d.dk AS dk, SUM(f.v * d.w) AS s, COUNT(*) AS n
      FROM fact f JOIN hist d
        ON f.dk = d.dk AND f.ts >= d.__START_AT
          AND (d.__END_AT IS NULL OR f.ts < d.__END_AT)
      GROUP BY d.dk""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def gold = p.read("gold").orderBy("dk")
      .as[(Long, Long, Long)].collect().toSeq
    assert(gold == Seq((1L, 32L, 2L), (2L, 100L, 1L)), gold)
    // fact append straddling both versions of dk=1: maintained against
    // the PINNED history — one window, never a recompute
    fact.append(Seq(
      (1L, ts("2024-01-20 00:00:00"), 3L),   // open version w=11
      (2L, ts("2024-01-02 00:00:00"), 7L))
      .toDF("dk", "ts", "v"))
    p.run()
    assert(ev.last.contains("incremental from fact"), ev)
    assert(gold == Seq((1L, 65L, 3L), (2L, 240L, 2L)), gold)
    // the history itself changes (dk=2's open version closes, a re-priced
    // one opens — the SCD2 trickle): the interval residual rides the
    // equi business key, so ONE key's validity rewrite maintains by
    // dim-delta — ± windows over the dk=2 fact slice joined to the two
    // history versions — never a full recompute, never a fact rescan
    // (round 18 — previously a documented recompute fallback). dk=2's
    // post-cut fact row (2024-01-26 doesn't exist yet) and its pre-cut
    // rows re-price per the new validity split.
    hist.overwrite(Seq(
      (1L, 10L, ts("2024-01-01 00:00:00"), Option(ts("2024-01-10 00:00:00"))),
      (1L, 11L, ts("2024-01-10 00:00:00"), Option.empty[Timestamp]),
      (2L, 20L, ts("2024-01-01 00:00:00"), Option(ts("2024-01-04 00:00:00"))),
      (2L, 25L, ts("2024-01-04 00:00:00"), Option.empty[Timestamp]))
      .toDF("dk", "w", "__START_AT", "__END_AT"))
    p.run()
    // "+band": the interval residual's lower bound (f.ts >= __START_AT is
    // a top-level conjunct; the NULL-guarded upper rides inside an OR and
    // is correctly NOT extracted) prunes the fact slice by the changed
    // images' conservative time box on top of the key slice (round 18)
    assert(ev.last.contains("dim-delta from hist (diff+band)"), ev)
    // dk=2 facts: (01-02, 7) keeps w=20 → 140; (01-05, 5) re-prices to
    // w=25 → 125; total 265. dk=1 untouched.
    assert(gold == Seq((1L, 65L, 3L), (2L, 265L, 2L)), gold)
    // and fact maintenance RESUMES against the re-pinned history
    fact.append(Seq((2L, ts("2024-01-26 00:00:00"), 2L)).toDF("dk", "ts", "v"))
    p.run()
    assert(ev.last.contains("incremental from fact"), ev)
    assert(gold == Seq((1L, 65L, 3L), (2L, 315L, 3L)), gold)
  }

  test("interval-band pruning on dim-delta: a closed-interval as-of join " +
      "carries BOTH band bounds — the changed validity images' conservative " +
      "time box rides the fact slice ('+band' in the event log) and zone-" +
      "skips fact files the key residual alone cannot; an ambiguous band " +
      "(two lower-bound conjuncts on one ts column) skips pruning but " +
      "still maintains — band failure is never a correctness decision") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_band")
    // ONE business key with three year-long rate intervals: the key
    // residual keeps EVERY fact row — only the time band can prune
    val cal = LakeTable(spark, s"$root/cal")
    val calDf = Seq(
      (1L, 2L, ts("2023-01-01 00:00:00"), ts("2023-12-31 00:00:00")),
      (1L, 3L, ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00")),
      (1L, 4L, ts("2025-01-01 00:00:00"), ts("2025-12-31 00:00:00")))
      .toDF("rk", "rate", "lo", "hi")
    cal.create(calDf.schema, enableChangeFeed = true)
    cal.append(calDf)
    // three single-file appends, one per year — per-file ts zone maps
    // (stats columns declared at create, the zone-map contract)
    val fact = LakeTable(spark, s"$root/fact")
    fact.create(Seq((1L, ts("2023-06-01 00:00:00"), 10L))
      .toDF("rk", "ts", "v").schema, statsColumns = Seq("rk", "ts"))
    fact.append(Seq((1L, ts("2023-06-01 00:00:00"), 10L))
      .toDF("rk", "ts", "v").coalesce(1))
    fact.append(Seq((1L, ts("2024-06-01 00:00:00"), 100L))
      .toDF("rk", "ts", "v").coalesce(1))
    fact.append(Seq((1L, ts("2025-06-01 00:00:00"), 1000L))
      .toDF("rk", "ts", "v").coalesce(1))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("cal", cal)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT d.rk AS rk, SUM(f.v * d.rate) AS s, COUNT(*) AS n
      FROM fact f JOIN cal d
        ON f.rk = d.rk AND f.ts >= d.lo AND f.ts <= d.hi
      GROUP BY d.rk""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def gold = p.read("gold").orderBy("rk")
      .as[(Long, Long, Long)].collect().toSeq
    assert(gold == Seq((1L, 4320L, 3L)), gold) // 10·2 + 100·3 + 1000·4
    // re-price the 2024 interval: the CDF carries pre+post images, both
    // with the SAME [lo, hi] — box = [2024-01-01, 2024-12-31]
    cal.updateWhere("rate = 3", Map("rate" -> lit(30L)))
    p.run()
    assert(ev.last.contains("dim-delta from cal (feed+band)"), ev)
    assert(gold == Seq((1L, 7020L, 3L)), gold) // 20 + 3000 + 4000
    // the box the pipeline just rode skips 2 of the 3 fact files at the
    // manifest level; the key residual alone (rk ∈ {1}) skips NONE —
    // the band is the lever for this shape
    val (keptB, skippedB) = fact.skippingStats(
      "ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-12-31 00:00:00'")
    assert((keptB, skippedB) == ((1, 2)), (keptB, skippedB))
    val (keptK, skippedK) = fact.skippingStats("rk = 1")
    assert(skippedK == 0, (keptK, skippedK))
    // AMBIGUOUS band: two lower-bound conjuncts on the same ts column —
    // extraction keeps both, the runtime box refuses (one bound column
    // per side) and skips pruning; the dim trickle still MAINTAINS
    val cal2 = LakeTable(spark, s"$root/cal2")
    val cal2Df = Seq(
      (1L, 5L, ts("2023-01-01 00:00:00"), ts("2023-01-01 00:00:00"),
        ts("2026-12-31 00:00:00")))
      .toDF("rk", "rate", "lo", "lo2", "hi")
    cal2.create(cal2Df.schema, enableChangeFeed = true)
    cal2.append(cal2Df)
    p.inputTable("cal2", cal2)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold2 AS
      SELECT d.rk AS rk, SUM(f.v * d.rate) AS s
      FROM fact f JOIN cal2 d
        ON f.rk = d.rk AND f.ts >= d.lo AND f.ts >= d.lo2
          AND f.ts <= d.hi
      GROUP BY d.rk""")
    p.run()
    def ev2 = p.eventLog.filter(col("dataset") === "gold2")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def gold2 = p.read("gold2").orderBy("rk")
      .as[(Long, Long)].collect().toSeq
    assert(gold2 == Seq((1L, 5550L)), gold2) // (10+100+1000)·5
    cal2.updateWhere("rate = 5", Map("rate" -> lit(6L)))
    p.run()
    assert(ev2.last.contains("dim-delta from cal2 (feed)"), ev2)
    assert(!ev2.last.contains("+band"), ev2)
    assert(gold2 == Seq((1L, 6660L)), gold2)
  }

  test("interval bands COMPOSE with UNION-as-fact: the changed images' " +
      "time box rides EVERY branch's zone-pruned slice through the " +
      "positional column mapping (a renamed branch maps its ts " +
      "positionally) — '+band' tagged, ≡ recompute") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_band_union")
    val cal = LakeTable(spark, s"$root/cal")
    val calDf = Seq(
      (1L, 2L, ts("2023-01-01 00:00:00"), ts("2023-12-31 00:00:00")),
      (1L, 3L, ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00")),
      (1L, 4L, ts("2025-01-01 00:00:00"), ts("2025-12-31 00:00:00")))
      .toDF("rk", "rate", "lo", "hi")
    cal.create(calDf.schema, enableChangeFeed = true)
    cal.append(calDf)
    val ra = LakeTable(spark, s"$root/ra")
    ra.append(Seq(
      (1L, ts("2023-06-01 00:00:00"), 10L),
      (1L, ts("2024-06-01 00:00:00"), 100L)).toDF("rk", "ts", "v"))
    // branch b under DIFFERENT physical names — the band's fact ts
    // column resolves per branch through the positional union mapping
    val rb = LakeTable(spark, s"$root/rb")
    rb.append(Seq((1L, ts("2025-06-01 00:00:00"), 1000L))
      .toDF("k2", "t2", "v2"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("ra", ra)
    p.inputTable("rb", rb)
    p.inputTable("cal", cal)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT d.rk AS rk, SUM(f.v * d.rate) AS s, COUNT(*) AS n
      FROM (SELECT rk, ts, v FROM ra
            UNION ALL
            SELECT k2, t2, v2 FROM rb) f
      JOIN cal d
        ON f.rk = d.rk AND f.ts >= d.lo AND f.ts <= d.hi
      GROUP BY d.rk""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def gold = p.read("gold").orderBy("rk")
      .as[(Long, Long, Long)].collect().toSeq
    assert(gold == Seq((1L, 4320L, 3L)), gold)
    cal.updateWhere("rate = 3", Map("rate" -> lit(30L)))
    p.run()
    assert(ev.last.contains("dim-delta from cal (feed+band)"), ev)
    assert(gold == Seq((1L, 7020L, 3L)), gold)
    // and a branch append afterwards still maintains as a branch window
    // against the re-pinned calendar
    rb.append(Seq((1L, ts("2024-07-01 00:00:00"), 7L))
      .toDF("k2", "t2", "v2"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(gold == Seq((1L, 7230L, 4L)), gold) // + 7·30
  }

  test("BETWEEN desugars to band conjuncts, and a LEFT as-of join " +
      "band-prunes too: the unmatched facts' NULL-dim group rides the ± " +
      "algebra (or is pruned outright — same answer), '+band' tagged") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_band_left")
    val cal = LakeTable(spark, s"$root/cal")
    val calDf = Seq(
      (1L, 2L, ts("2023-01-01 00:00:00"), ts("2023-12-31 00:00:00")),
      (1L, 3L, ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00")))
      .toDF("rk", "rate", "lo", "hi")
    cal.create(calDf.schema, enableChangeFeed = true)
    cal.append(calDf)
    val fact = LakeTable(spark, s"$root/fact")
    fact.append(Seq(
      (1L, ts("2023-06-01 00:00:00"), 10L),
      (1L, ts("2024-06-01 00:00:00"), 100L),
      (1L, ts("2030-01-01 00:00:00"), 7L))   // outside every interval
      .toDF("rk", "ts", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("cal", cal)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT d.rk AS rk, SUM(f.v * d.rate) AS s, COUNT(*) AS n
      FROM fact f LEFT JOIN cal d
        ON f.rk = d.rk AND f.ts BETWEEN d.lo AND d.hi
      GROUP BY d.rk""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def gold = p.read("gold").orderBy("rk")
      .as[(Option[Long], Option[Long], Long)].collect().toSeq
    assert(gold == Seq((None, None, 1L), (Some(1L), Some(320L), 2L)), gold)
    cal.updateWhere("rate = 3", Map("rate" -> lit(30L)))
    p.run()
    assert(ev.last.contains("dim-delta from cal (feed+band)"), ev)
    assert(gold == Seq((None, None, 1L), (Some(1L), Some(3020L), 2L)), gold)
  }

  test("MIN/MAX auto-MV maintains through RETRACTIONS via the bounded " +
      "top-K companion: a delete below the extreme merges in O(window); " +
      "deleting the extreme itself refills from the companion; draining " +
      "past the bootstrap floor recomputes (and re-trims) — all ≡ recompute") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_minmax")
    val src = LakeTable(spark, s"$root/src")
    // group a: 12 distinct values 1..12 (floor: top-K tracks 5..12 for
    // MAX with K=8, i.e. floor=4; bottom-K tracks 1..8 for MIN, floor=9)
    val seed = (1 to 12).map(i => (i.toLong, "a", i.toDouble))
      .toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, MIN(v) AS mn, MAX(v) AS mx, SUM(k) AS sk, COUNT(*) AS n
      FROM src GROUP BY g""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def panel = p.read("panel").orderBy("g")
      .as[(String, Double, Double, Long, Long)].collect().toSeq
    assert(panel == Seq(("a", 1.0, 12.0, 78L, 12L)))
    // 1. delete BELOW the max (and above the min): pure maintenance
    src.deleteWhere("v = 7.0")
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(panel == Seq(("a", 1.0, 12.0, 71L, 11L)))
    // 2. delete the MAX itself: the companion still tracks 5,6,8..11 —
    //    refills to 11 WITHOUT a recompute
    src.deleteWhere("v = 12.0")
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(panel == Seq(("a", 1.0, 11.0, 59L, 10L)))
    // 3. drain the MAX companion: delete everything above the bootstrap
    //    floor (v >= 5) — the true max (4) fell past the floor, ONE
    //    loud recompute refills and re-trims
    src.deleteWhere("v >= 5.0")
    p.run()
    assert(ev.last.contains("recompute: maintained extremes drained"), ev)
    assert(panel == Seq(("a", 1.0, 4.0, 10L, 4L)))
    // 4. and maintenance RESUMES on the re-trimmed companions
    src.deleteWhere("v = 4.0")
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(panel == Seq(("a", 1.0, 3.0, 6L, 3L)))
    // 5. group death: the NULL-algebra end state
    src.deleteWhere("v IS NOT NULL")
    p.run()
    assert(panel.isEmpty, panel)
  }

  test("maintained extremes COMPOSE with star joins: MAX over an enriched " +
      "expression (f.v * d.w) maintains through fact appends AND " +
      "retractions against the pinned dim; a dim change maintains by " +
      "DIM-DELTA (the ± windows retract/insert the enriched extremes)") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_minmax_star")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq((1L, "a", 2L), (2L, "a", 5L), (3L, "b", 7L))
      .toDF("k", "cat", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("a", 10L), ("b", 100L)).toDF("cat", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT d.cat AS cat, MAX(f.v * d.w) AS mx, COUNT(*) AS n
      FROM fact f JOIN dim d ON f.cat = d.cat GROUP BY d.cat""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def gold = p.read("gold").orderBy("cat")
      .as[(String, Long, Long)].collect().toSeq
    assert(gold == Seq(("a", 50L, 2L), ("b", 700L, 1L)))
    // fact append: enriched extreme maintains against the pinned dim
    fact.append(Seq((4L, "a", 9L)).toDF("k", "cat", "v"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(gold == Seq(("a", 90L, 3L), ("b", 700L, 1L)))
    // retract the NON-extreme: pure maintenance through the companion
    fact.deleteWhere("k = 1")
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(gold == Seq(("a", 90L, 2L), ("b", 700L, 1L)))
    // retract the EXTREME itself: refills from the companion (50 tracked)
    fact.deleteWhere("k = 4")
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(gold == Seq(("a", 50L, 1L), ("b", 700L, 1L)))
    // a dim weight change retracts the enriched extremes THROUGH the ±
    // dim windows: old-weight values leave the companion, new-weight
    // values enter — a DIM-DELTA refresh, never a recompute
    dim.merge(Seq(("a", 3L)).toDF("cat", "w"), Seq("cat"))
    p.run()
    assert(ev.last.contains("dim-delta from dim"), ev)
    assert(gold == Seq(("a", 15L, 1L), ("b", 700L, 1L)))
    // and fact maintenance resumes on the new pin
    fact.append(Seq((5L, "b", 1L)).toDF("k", "cat", "v"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(gold == Seq(("a", 15L, 1L), ("b", 700L, 2L)))
  }

  test("dim-delta COMPOSES with companion aggregates: COUNT(DISTINCT) and " +
      "a maintained MAX ride the ± dim windows — a weight trickle " +
      "maintains (old enriched values retract, new ones insert), a fact " +
      "retraction refills the extreme from the companion, all ≡ recompute") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_dimdelta_companions")
    val fact = LakeTable(spark, s"$root/fact")
    val seed = Seq((1L, "a", 10L, 2L), (2L, "a", 11L, 5L),
      (3L, "a", 10L, 7L), (4L, "b", 12L, 3L)).toDF("k", "cat", "uid", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq(("a", 10L), ("b", 100L)).toDF("cat", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT d.cat AS cat, COUNT(DISTINCT f.uid) AS du,
             MAX(f.v * d.w) AS mx, SUM(f.v) AS s, COUNT(*) AS n
      FROM fact f JOIN dim d ON f.cat = d.cat GROUP BY d.cat""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def gold = p.read("gold").orderBy("cat")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(gold == Seq(("a", 2L, 70L, 14L, 3L), ("b", 1L, 300L, 3L, 1L)))
    // dim trickle: a's weight collapses 10 -> 3. The ± windows retract
    // every enriched value at the OLD weight and re-insert at the new —
    // a DIM-DELTA refresh, never a recompute, with the distinct-user
    // multiset passing through unchanged
    dim.merge(Seq(("a", 3L)).toDF("cat", "w"), Seq("cat"))
    p.run()
    assert(ev.last.contains("dim-delta from dim"), ev)
    assert(gold == Seq(("a", 2L, 21L, 14L, 3L), ("b", 1L, 300L, 3L, 1L)))
    // fact retraction: k=3 (uid 10, the enriched max 21) dies — uid 10
    // survives through k=1 (distinct count holds), the MAX refills from
    // the companion
    fact.deleteWhere("k = 3")
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(gold == Seq(("a", 2L, 15L, 7L, 2L), ("b", 1L, 300L, 3L, 1L)))
    // second trickle on the NEW pin: weight 3 -> 1000
    dim.merge(Seq(("a", 1000L)).toDF("cat", "w"), Seq("cat"))
    p.run()
    assert(ev.last.contains("dim-delta from dim"), ev)
    assert(gold == Seq(("a", 2L, 5000L, 7L, 2L), ("b", 1L, 300L, 3L, 1L)))
    // ≡ recompute over live state
    val rec = fact.read.join(dim.read, "cat")
      .groupBy("cat").agg(countDistinct("uid").as("du"),
        max(col("v") * col("w")).as("mx"), sum("v").as("s"),
        count(lit(1)).as("n"))
      .orderBy("cat").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(gold == rec, s"gold $gold vs recompute $rec")
  }

  test("extreme-companion CRASH RECOVERY: a companion ledger AHEAD of the " +
      "MV's (a refresh died between the companion merge and the main " +
      "merge) forces one resynchronizing recompute — never a double-" +
      "applied window") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_minmax_crash")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", 1.0), (2L, "a", 5.0)).toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, MAX(v) AS mx, COUNT(*) AS n FROM src GROUP BY g""")
    p.run()
    // simulate the torn refresh: a new window lands, and the companion's
    // ledger is stamped AT that window's version — as if the companion
    // merge committed and the process died before the main merge
    val ext = LakeTable(spark, s"$root/pipe/panel__ext_mx")
    val mvLast = p.read("panel").count() // force materialization
    src.append(Seq((3L, "a", 9.0)).toDF("k", "g", "v"))
    ext.recordTxn("graft.aggmv.panel.ext.mx", src.currentVersion)
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    assert(ev.last.contains("companion out of sync"), ev)
    assert(p.read("panel").orderBy("g").as[(String, Double, Long)]
      .collect().toSeq == Seq(("a", 9.0, 3L)))
    assert(mvLast == 1L)
    // the recompute re-stamped consistent state: maintenance resumes
    src.append(Seq((4L, "a", 2.0)).toDF("k", "g", "v"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(p.read("panel").orderBy("g").as[(String, Double, Long)]
      .collect().toSeq == Seq(("a", 9.0, 4L)))
  }

  test("extreme-companion OVERGROWTH: a monotone MAX outgrows its frozen " +
      "bootstrap floor; past the cap the refresh recomputes once and " +
      "re-trims — values exact throughout") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_minmax_grow")
    val src = LakeTable(spark, s"$root/src")
    val seed = (1 to 12).map(i => (i.toLong, "a", i.toDouble))
      .toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, MAX(v) AS mx, COUNT(*) AS n FROM src GROUP BY g""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // one window of 100 new ever-increasing values: all pass the frozen
    // floor, the companion would track them all → overgrown → recompute
    src.append((101 to 200).map(i => (i.toLong, "a", i.toDouble))
      .toDF("k", "g", "v"))
    p.run()
    assert(ev.last.contains("drained or overgrown"), ev)
    assert(p.read("panel").orderBy("g").as[(String, Double, Long)]
      .collect().toSeq == Seq(("a", 200.0, 112L)))
    // the recompute re-trimmed: a small follow-up window maintains again
    src.append(Seq((201L, "a", 201.0)).toDF("k", "g", "v"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(p.read("panel").orderBy("g").as[(String, Double, Long)]
      .collect().toSeq == Seq(("a", 201.0, 113L)))
  }

  test("dim-delta CHANGED-KEY plans: a CDF-recording dim serves its " +
      "changed keys from its own change feed (O(changed rows), tagged " +
      "'feed'); a plain merged dim falls back to the two-version diff " +
      "(tagged 'diff') — identical values either way") {
    import graft.lake.LakeTable
    def build(root: String, cdf: Boolean): (Pipeline, LakeTable) = {
      val fact = LakeTable(spark, s"$root/fact")
      fact.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
        .toDF("k", "cat", "v"))
      val dim = LakeTable(spark, s"$root/dim")
      val seed = Seq(("a", 1L), ("b", 2L)).toDF("cat", "w")
      if (cdf) dim.create(seed.schema, enableChangeFeed = true)
      dim.append(seed)
      val p = new Pipeline(spark, s"$root/pipe")
      p.inputTable("fact", fact)
      p.inputTable("dim", dim)
      PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
        SELECT d.cat AS cat, SUM(f.v * d.w) AS s, COUNT(*) AS n
        FROM fact f JOIN dim d ON f.cat = d.cat GROUP BY d.cat""")
      p.run()
      (p, dim)
    }
    def ev(p: Pipeline) = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    def gold(p: Pipeline) = p.read("gold").orderBy("cat")
      .as[(String, Long, Long)].collect().toSeq
    // CDF dim: the trickle's changed keys come from the dim's OWN feed —
    // at a billion-row dim this is a probe, not a scan
    val (p1, dimCdf) = build(tmpDir("plsql_dimfeed"), cdf = true)
    dimCdf.merge(Seq(("a", 5L)).toDF("cat", "w"), Seq("cat"))
    p1.run()
    assert(ev(p1).last.contains("dim-delta from dim (feed)"), ev(p1))
    assert(gold(p1) == Seq(("a", 200L, 2L), ("b", 40L, 1L)), gold(p1))
    // plain dim, merge without CDF: no row images recorded → the
    // two-version diff fallback, same values
    val (p2, dimPlain) = build(tmpDir("plsql_dimdiff"), cdf = false)
    dimPlain.merge(Seq(("a", 5L)).toDF("cat", "w"), Seq("cat"))
    p2.run()
    assert(ev(p2).last.contains("dim-delta from dim (diff)"), ev(p2))
    assert(gold(p2) == Seq(("a", 200L, 2L), ("b", 40L, 1L)), gold(p2))
  }

  test("MIXED-TYPE equi keys keep the recompute path: dim-delta fact-slice " +
      "bounds are rendered from dim values but applied under the FACT " +
      "column's ordering — string '10' < '5' lexicographically would " +
      "silently drop matching fact rows, so the type gate forces recompute") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_dimtype")
    val fact = LakeTable(spark, s"$root/fact")
    // STRING fact codes whose lexicographic and numeric orderings disagree
    val seed = Seq(("5", 1L), ("7", 2L), ("10", 3L), ("10", 4L))
      .toDF("code", "v")
    fact.create(seed.schema, enableChangeFeed = true)
    fact.append(seed)
    val dim = LakeTable(spark, s"$root/dim")
    dim.append(Seq((5, 1L), (7, 1L), (10, 1L)).toDF("k", "w"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("fact", fact)
    p.inputTable("dim", dim)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      SELECT d.k AS k, SUM(f.v * d.w) AS s, COUNT(*) AS n
      FROM fact f JOIN dim d ON f.code = d.k GROUP BY d.k""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "gold")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // the trickle touches keys 5 and 10: a same-type dim would take the
    // dim-delta path, but its string-rendered bounds ['10','5'] exclude
    // fact code '10' under STRING ordering — the gate must recompute
    dim.merge(Seq((5, 10L), (10, 20L)).toDF("k", "w"), Seq("k"))
    p.run()
    assert(ev.last.contains("recompute: dimension changed"), ev)
    val got = p.read("gold").orderBy("k")
      .as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((5, 10L, 1L), (7, 2L, 1L), (10, 140L, 2L)), got)
  }

  test("union recompute-overwrite RETIRES the MV's ledger family: a branch " +
      "that was view-backed for one life cannot leave stale per-branch " +
      "high-waters that double-apply when it becomes table-backed again") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_union_retire")
    val ba = LakeTable(spark, s"$root/ba")
    ba.append(Seq(("a", 1L), ("b", 2L)).toDF("g", "v"))
    val bb = LakeTable(spark, s"$root/bb")
    bb.append(Seq(("a", 10L)).toDF("g2", "v2"))
    val mvSql = """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, SUM(v) AS s, COUNT(*) AS n
      FROM (SELECT g, v FROM ba UNION ALL SELECT g2, v2 FROM bb)
      GROUP BY g"""
    // life 1: both branches table-backed — bootstrap stamps branch ledgers
    val p1 = new Pipeline(spark, s"$root/pipe")
    p1.inputTable("ba", ba); p1.inputTable("bb", bb)
    PipelineSql(p1, mvSql)
    p1.run()
    // bb moves, then life 2 declares bb as a VIEW: the refresh takes the
    // recompute-overwrite fallback, which already includes bb@v1
    bb.append(Seq(("b", 20L)).toDF("g2", "v2"))
    val p2 = new Pipeline(spark, s"$root/pipe")
    p2.inputTable("ba", ba); p2.view("bb")(bb.read)
    PipelineSql(p2, mvSql)
    p2.run()
    // life 3: table-backed again. A stale bb ledger (v0 from life 1) would
    // re-apply bb's [v1..v1] window ON TOP of the recompute — b double-counts
    ba.append(Seq(("c", 5L)).toDF("g", "v"))
    val p3 = new Pipeline(spark, s"$root/pipe")
    p3.inputTable("ba", ba); p3.inputTable("bb", bb)
    PipelineSql(p3, mvSql)
    p3.run()
    val got = p3.read("panel").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 11L, 2L), ("b", 22L, 2L), ("c", 5L, 1L)), got)
  }

  test("SESSION TIMEZONE pin: an expression-group-key MV bootstrapped under " +
      "one zone recomputes (never drifts) when maintained under another — " +
      "delta group keys would otherwise mix two bucketings in one panel") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_tz")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq(
      (1L, ts("2024-01-01 03:00:00")),
      (2L, ts("2024-01-02 03:00:00"))).toDF("v", "t")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW daily AS
      SELECT date_trunc('day', t) AS day, SUM(v) AS s, COUNT(*) AS n
      FROM src GROUP BY date_trunc('day', t)""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "daily")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    try {
      // UTC 03:00 buckets to the SAME day under UTC but the PREVIOUS day
      // under UTC-8 — an incremental window here would land deltas in
      // groups the existing panel never used
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      src.append(Seq((4L, ts("2024-01-01 05:00:00"))).toDF("v", "t"))
      p.run()
      assert(ev.last.contains("recompute: session timezone changed"), ev)
      // the recompute is self-consistent under the NEW zone
      val rec = src.read
        .groupBy(date_trunc("day", col("t")).as("day"))
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .orderBy("day").as[(Timestamp, Long, Long)].collect().toSeq
      val got = p.read("daily").orderBy("day")
        .as[(Timestamp, Long, Long)].collect().toSeq
      assert(got == rec, s"got $got, recompute $rec")
      // the new zone is pinned by the recompute: the next window under the
      // SAME zone maintains incrementally again
      src.append(Seq((8L, ts("2024-01-03 05:00:00"))).toDF("v", "t"))
      p.run()
      assert(ev.last.contains("incremental"), ev)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("an ABSENT tz pin on a zone-sensitive MV fails SAFE: one recompute " +
      "that stamps it — never an incremental window that trusts an " +
      "unpinned bootstrap (crash-between-overwrite-and-pin shape)") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_tz_unpinned")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq(
      (1L, ts("2024-01-01 03:00:00")),
      (2L, ts("2024-01-02 03:00:00"))).toDF("v", "t")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW daily AS
      SELECT date_trunc('day', t) AS day, SUM(v) AS s, COUNT(*) AS n
      FROM src GROUP BY date_trunc('day', t)""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "daily")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    // simulate the pre-pin MV / the crash between the bootstrap overwrite
    // and the follow-up pin commit: the property is simply absent
    LakeTable(spark, s"$root/pipe/daily")
      .unsetTableProperties(Seq(Pipeline.SessionTzProp))
    src.append(Seq((4L, ts("2024-01-02 05:00:00"))).toDF("v", "t"))
    p.run()
    assert(ev.last.contains("recompute: session timezone unpinned"), ev)
    val rec = src.read
      .groupBy(date_trunc("day", col("t")).as("day"))
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("day").as[(Timestamp, Long, Long)].collect().toSeq
    val got = p.read("daily").orderBy("day")
      .as[(Timestamp, Long, Long)].collect().toSeq
    assert(got == rec, s"got $got, recompute $rec")
    // the recompute stamped the pin: the next window maintains again
    src.append(Seq((8L, ts("2024-01-03 05:00:00"))).toDF("v", "t"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
  }

  test("a zone-sensitive WHERE clause on a PLAIN-group-key MV is tz-pinned " +
      "too: a session timezone change forces one recompute instead of " +
      "mixing two zones' row filters in one panel") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_tz_where")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq(
      ("a", 1L, ts("2024-01-01 03:00:00")),
      ("b", 2L, ts("2024-01-02 03:00:00"))).toDF("g", "v", "t")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    // the group key is the PLAIN column g; only the WHERE buckets by day
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW jan1 AS
      SELECT g, SUM(v) AS s, COUNT(*) AS n
      FROM src
      WHERE date_trunc('day', t) = TIMESTAMP '2024-01-01 00:00:00'
      GROUP BY g""")
    p.run()
    def ev = p.eventLog.filter(col("dataset") === "jan1")
      .orderBy("run_id").select("message").as[String].collect().toSeq
    try {
      // UTC 03:00 on Jan 1 falls on Dec 31 under UTC-8: the predicate's
      // row set changes with the zone, so the pin must force a recompute
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      src.append(Seq(("a", 4L, ts("2024-01-01 09:00:00"))).toDF("g", "v", "t"))
      p.run()
      assert(ev.last.contains("recompute: session timezone changed"), ev)
      // self-consistent under the NEW zone
      val rec = src.read
        .filter(date_trunc("day", col("t")) ===
          lit("2024-01-01 00:00:00").cast("timestamp"))
        .groupBy("g").agg(sum("v").as("s"), count(lit(1)).as("n"))
        .orderBy("g").as[(String, Long, Long)].collect().toSeq
      val got = p.read("jan1").orderBy("g")
        .as[(String, Long, Long)].collect().toSeq
      assert(got == rec, s"got $got, recompute $rec")
      // pinned at the new zone: the next same-zone window maintains
      src.append(Seq(("a", 8L, ts("2024-01-01 17:00:00"))).toDF("g", "v", "t"))
      p.run()
      assert(ev.last.contains("incremental"), ev)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("zone-sensitive UNION-BRANCH filters and EXTRACT aggregate inputs " +
      "are tz-pinned too: a session timezone change recomputes instead " +
      "of mixing two zones' bucketing in one panel (round-18 review)") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_tz_branch")
    val ua = LakeTable(spark, s"$root/ua")
    val seedA = Seq(("a", 1L, ts("2024-01-01 03:00:00"))).toDF("g", "v", "t")
    ua.create(seedA.schema, enableChangeFeed = true); ua.append(seedA)
    val ub = LakeTable(spark, s"$root/ub")
    ub.append(Seq(("b", 2L, ts("2024-01-02 03:00:00"))).toDF("g", "v", "t"))
    val s2 = LakeTable(spark, s"$root/s2")
    val seed2 = Seq(("a", 5L, ts("2024-01-01 03:30:00"))).toDF("g", "v", "t")
    s2.create(seed2.schema, enableChangeFeed = true); s2.append(seed2)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("ua", ua); p.inputTable("ub", ub); p.inputTable("s2", s2)
    // branch A's row-local WHERE buckets by day — zone-dependent
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW upanel AS
      SELECT g, SUM(v) AS s
      FROM (SELECT g, v FROM ua
              WHERE date_trunc('day', t) = TIMESTAMP '2024-01-01 00:00:00'
            UNION ALL SELECT g, v FROM ub)
      GROUP BY g""")
    // EXTRACT as an aggregate input — hour-of-day is zone-dependent
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW hpanel AS
      SELECT g, SUM(extract(HOUR FROM t)) AS h FROM s2 GROUP BY g""")
    p.run()
    def ev(d: String) = p.eventLog.filter(col("dataset") === d)
      .orderBy("run_id").select("message").as[String].collect().toSeq
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      ua.append(Seq(("a", 4L, ts("2024-01-01 09:00:00"))).toDF("g", "v", "t"))
      s2.append(Seq(("a", 7L, ts("2024-01-01 10:00:00"))).toDF("g", "v", "t"))
      p.run()
      assert(ev("upanel").last.contains("recompute: session timezone changed"),
        ev("upanel"))
      assert(ev("hpanel").last.contains("recompute: session timezone changed"),
        ev("hpanel"))
      // both self-consistent under the NEW zone (≡ recompute)
      val recU = ua.read
        .filter(date_trunc("day", col("t")) ===
          lit("2024-01-01 00:00:00").cast("timestamp"))
        .select("g", "v").unionByName(ub.read.select("g", "v"))
        .groupBy("g").agg(sum("v").as("s"))
        .orderBy("g").as[(String, Long)].collect().toSeq
      assert(p.read("upanel").orderBy("g")
        .as[(String, Long)].collect().toSeq == recU)
      val recH = s2.read.groupBy("g").agg(sum(hour(col("t"))).as("h"))
        .orderBy("g").as[(String, Long)].collect().toSeq
      assert(p.read("hpanel").orderBy("g")
        .as[(String, Long)].collect().toSeq == recH)
      // pinned at the new zone: the next same-zone windows maintain
      ua.append(Seq(("a", 16L, ts("2024-01-01 17:00:00"))).toDF("g", "v", "t"))
      s2.append(Seq(("b", 1L, ts("2024-01-01 20:00:00"))).toDF("g", "v", "t"))
      p.run()
      assert(ev("upanel").last.contains("incremental"), ev("upanel"))
      assert(ev("hpanel").last.contains("incremental"), ev("hpanel"))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("an append-only stream consumer over an auto-MV keeps SNAPSHOT " +
      "fallback: the MV's from-birth CDF carries maintenance-merge UPDATE " +
      "images an append-only window must not (and now does not) see") {
    import graft.lake.LakeTable
    val root = tmpDir("plsql_automv_streamroot")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(("a", 1L), ("b", 2L)).toDF("g", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    PipelineSql.script(p, """
      CREATE OR REFRESH MATERIALIZED VIEW panel AS
        SELECT g, SUM(v) AS s, COUNT(*) AS n FROM bronze GROUP BY g;
      CREATE OR REFRESH STREAMING TABLE tail AS
        SELECT g, s FROM STREAM(panel)""")
    p.runIncremental()
    // run 2's panel refresh merges UPDATE images into group a — an
    // append-only window over panel's feed would throw; snapshot fallback
    // must re-land the select instead
    bronze.append(Seq(("a", 10L)).toDF("g", "v"))
    p.runIncremental()
    p.runIncremental() // tail re-snapshots panel's settled state
    val got = p.read("tail").orderBy("g")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 11L), ("b", 2L)), got)
  }
}
