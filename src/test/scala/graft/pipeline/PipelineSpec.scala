package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Refresh one MV synchronously and return the rows that refresh
   *  processed, read back from the event log. */
  private def refreshedRows(p: Pipeline, mv: String): Long = {
    p.refreshMaterializedView(mv)
    p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === mv)
      .orderBy(col("run_id").desc).select("rows").as[Long].head()
  }

  test("autoCdcFlow applies SCD1 latest-wins per key across runs") {
    val p = new Pipeline(spark, tmpDir("pl_cdc"))
    var batch = Seq(
      (1L, "a", ts("2024-01-01 00:00:00")),
      (1L, "b", ts("2024-01-02 00:00:00")),
      (2L, "x", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    p.streamingTable("silver")
    p.view("source")(batch)
    p.autoCdcFlow("silver", "source", Seq("k"), "seq")
    p.run()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "b", ts("2024-01-02 00:00:00")), (2L, "x", ts("2024-01-01 00:00:00"))))

    // second batch: older row for k=1 loses, newer row for k=2 wins, k=3 inserts
    batch = Seq(
      (1L, "stale", ts("2023-12-01 00:00:00")),
      (2L, "x2", ts("2024-02-01 00:00:00")),
      (3L, "new", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    p.run()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "b", ts("2024-01-02 00:00:00")),
        (2L, "x2", ts("2024-02-01 00:00:00")),
        (3L, "new", ts("2024-01-01 00:00:00"))))
  }

  test("autoCdcFlow apply_as_deletes removes keyed rows; except_column_list " +
      "keeps op metadata out of the target; stale deletes lose to sequencing") {
    val p = new Pipeline(spark, tmpDir("pl_cdc_del"))
    var batch = Seq(
      (1L, "a", "upsert", ts("2024-01-01 00:00:00")),
      (2L, "b", "upsert", ts("2024-01-01 00:00:00")),
      (3L, "c", "upsert", ts("2024-01-01 00:00:00"))).toDF("k", "v", "op", "seq")
    p.streamingTable("silver")
    p.view("source")(batch)
    p.autoCdcFlow("silver", "source", Seq("k"), "seq",
      applyAsDeletes = Some("op = 'delete'"), exceptColumns = Seq("op"))
    p.run()
    // the op column never lands in the target
    assert(p.read("silver").columns.toSeq == Seq("k", "v", "seq"))
    assert(p.read("silver").count() == 3)

    // batch 2: k=1 deleted, k=2 STALE delete loses to sequencing, k=3
    // updated, k=4 delete of an absent key is ignored, k=5 inserts
    batch = Seq(
      (1L, "x", "delete", ts("2024-02-01 00:00:00")),
      (2L, "x", "delete", ts("2023-01-01 00:00:00")),
      (3L, "c2", "upsert", ts("2024-02-01 00:00:00")),
      (4L, "x", "delete", ts("2024-02-01 00:00:00")),
      (5L, "e", "upsert", ts("2024-02-01 00:00:00"))).toDF("k", "v", "op", "seq")
    p.run()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((2L, "b", ts("2024-01-01 00:00:00")),
        (3L, "c2", ts("2024-02-01 00:00:00")),
        (5L, "e", ts("2024-02-01 00:00:00"))))
  }

  test("autoCdcFlow SCD2 keeps full history with __START_AT/__END_AT") {
    val p = new Pipeline(spark, tmpDir("pl_scd2"))
    var batch = Seq(
      (1L, "a", ts("2024-01-01 00:00:00")),
      (1L, "b", ts("2024-01-02 00:00:00")),
      (2L, "x", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    p.streamingTable("hist")
    p.view("source")(batch)
    p.autoCdcFlow("hist", "source", Seq("k"), "seq", scdType = 2)
    p.run()
    def history = p.read("hist")
      .select(col("k"), col("v"), col("__START_AT").cast("string"),
        col("__END_AT").cast("string"))
      .orderBy("k", "__START_AT")
      .as[(Long, String, String, String)].collect().toSeq
    assert(history == Seq(
      (1L, "a", "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
      (1L, "b", "2024-01-02 00:00:00", null),
      (2L, "x", "2024-01-01 00:00:00", null)))

    // batch 2: k=1 changes (closes open row), k=2 UNCHANGED value (no new
    // version), k=1 stale event (dropped), k=3 brand new
    batch = Seq(
      (1L, "c", ts("2024-02-01 00:00:00")),
      (1L, "ancient", ts("2023-01-01 00:00:00")),
      (2L, "x", ts("2024-03-01 00:00:00")),
      (3L, "n", ts("2024-01-15 00:00:00"))).toDF("k", "v", "seq")
    p.run()
    val afterTwo = Seq(
      (1L, "a", "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
      (1L, "b", "2024-01-02 00:00:00", "2024-02-01 00:00:00"),
      (1L, "c", "2024-02-01 00:00:00", null),
      (2L, "x", "2024-01-01 00:00:00", null),
      (3L, "n", "2024-01-15 00:00:00", null))
    assert(history == afterTwo)

    // replaying the same batch is a no-op (idempotent)
    p.run()
    assert(history == afterTwo)
  }

  test("autoCdcFlow SCD2 collapses same-batch runs and dedups same-seq events") {
    val p = new Pipeline(spark, tmpDir("pl_scd2b"))
    val batch = Seq(
      // k=1: A, A, B, A — middle duplicate collapses, later A reopens
      (1L, "A", ts("2024-01-01 00:00:00")),
      (1L, "A", ts("2024-01-02 00:00:00")),
      (1L, "B", ts("2024-01-03 00:00:00")),
      (1L, "A", ts("2024-01-04 00:00:00")),
      // k=2: two events at the SAME seq — deterministic tiebreak keeps "z"
      (2L, "y", ts("2024-01-01 00:00:00")),
      (2L, "z", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    p.streamingTable("hist")
    p.view("source")(batch)
    p.autoCdcFlow("hist", "source", Seq("k"), "seq", scdType = 2)
    p.run()
    val got = p.read("hist")
      .select(col("k"), col("v"), col("__START_AT").cast("string"),
        col("__END_AT").cast("string"))
      .orderBy("k", "__START_AT")
      .as[(Long, String, String, String)].collect().toSeq
    assert(got == Seq(
      (1L, "A", "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
      (1L, "B", "2024-01-03 00:00:00", "2024-01-04 00:00:00"),
      (1L, "A", "2024-01-04 00:00:00", null),
      (2L, "z", "2024-01-01 00:00:00", null)))
  }

  test("expectations: Drop filters violating rows and reports metrics") {
    val df = Seq((1L, 10.0), (2L, -5.0), (3L, 0.0)).toDF("k", "v")
    val gate = Expectations(df, Map("v_positive" -> "v > 0"), Expectations.Drop)
    val kept = gate.df.collect()
    assert(kept.map(_.getLong(0)).toSet == Set(1L))
    assert(gate.violations("v_positive") == 2L)
    assert(gate.passedCount == 1L)
  }

  test("expectations: Warn keeps all rows; Fail throws on violations") {
    val df = Seq((1L, 10.0), (2L, -5.0)).toDF("k", "v")
    val warn = Expectations(df, Map("v_positive" -> "v > 0"), Expectations.Warn)
    assert(warn.df.count() == 2)
    assert(warn.violations("v_positive") == 1L)

    val fail = Expectations(df, Map("v_positive" -> "v > 0"), Expectations.Fail)
    fail.df.count()
    intercept[IllegalStateException] { fail.assertClean() }
  }

  test("expectations: NULL predicate results count as violations") {
    val df = Seq((1L, Some(10.0)), (2L, None)).toDF("k", "v")
    val gate = Expectations(df, Map("v_positive" -> "v > 0"), Expectations.Drop)
    assert(gate.df.collect().map(_.getLong(0)).toSet == Set(1L))
    assert(gate.violations("v_positive") == 1L)
  }

  test("expectations: quarantine splits pass/fail and names the failed rules") {
    val df = Seq(
      (1L, Some(10.0)),  // passes both
      (2L, Some(-5.0)),  // fails v_positive
      (3L, None),        // fails both (NULL counts as violation)
      (4L, Some(900.0))  // fails v_capped
    ).toDF("k", "v")
    val (good, bad) = Expectations.quarantine(df,
      Map("v_positive" -> "v > 0", "v_capped" -> "v <= 400"))
    assert(good.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val tagged = bad.select("k", "_failed_rules").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(tagged == Seq(
      (2L, "v_positive"),
      (3L, "v_capped,v_positive"), // name-sorted join
      (4L, "v_capped")))
    // partition: every source row lands on exactly one side
    assert(good.count() + bad.count() == df.count())
  }

  test("flows run in dependency order regardless of declaration order") {
    val p = new Pipeline(spark, tmpDir("pl_topo"))
    p.streamingTable("stage1")
    p.streamingTable("stage2")
    // declared BACKWARDS: stage2 consumes stage1's target
    p.autoCdcFlow("stage2", "stage1", Seq("k"), "seq")
    p.autoCdcFlow("stage1", "raw", Seq("k"), "seq")
    p.view("raw")(Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    p.run()
    // if stage1 hadn't run first, stage2 would have seen an empty/missing source
    assert(p.read("stage2").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "a", ts("2024-01-01 00:00:00"))))
  }

  test("run() throws when a Fail-policy gate observed violations") {
    val p = new Pipeline(spark, tmpDir("pl_fail"))
    p.streamingTable("silver")
    p.viewWithExpectations("src", Map("v_positive" -> "v > 0"),
      Expectations.Fail) {
      Seq((1L, 5.0, ts("2024-01-01 00:00:00")),
        (2L, -1.0, ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    }
    p.autoCdcFlow("silver", "src", Seq("k"), "seq")
    intercept[IllegalStateException] { p.run() }
  }

  test("autoCdcFlow over an inputTable: incremental bronze→silver CDC, " +
      "ledger on the target") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_stream")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, "a", ts("2024-01-01 00:00:00")),
      (1L, "b", ts("2024-01-02 00:00:00")),
      (2L, "x", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))

    val p = new Pipeline(spark, s"$root/silver")
    p.inputTable("bronze", bronze)
    p.streamingTable("silver")
    p.autoCdcFlow("silver", "bronze", Seq("k"), "seq")
    p.runIncremental()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "b", ts("2024-01-02 00:00:00")), (2L, "x", ts("2024-01-01 00:00:00"))))
    val v1 = p.table("silver").currentVersion

    // no new bronze commits → the ledger is up to date, no new merge
    p.runIncremental()
    assert(p.table("silver").currentVersion == v1)

    // new bronze append: only the new rows flow; latest-wins applies
    bronze.append(Seq(
      (1L, "stale", ts("2023-12-01 00:00:00")),
      (3L, "new", ts("2024-01-05 00:00:00"))).toDF("k", "v", "seq"))
    p.runIncremental()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "b", ts("2024-01-02 00:00:00")),
        (2L, "x", ts("2024-01-01 00:00:00")),
        (3L, "new", ts("2024-01-05 00:00:00"))))
    // the event log carries each run's processed rows: the bootstrap
    // snapshot, nothing, then only the 2 appended rows
    assert(p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "silver")
      .orderBy("run_id").select("rows").as[Long].collect().toSeq == Seq(3L, 0L, 2L))
  }

  test("appendFlowStream: true streaming append — each incremental run " +
      "lands only the source rows committed since the last; idle runs land " +
      "nothing; replay cannot double-land (idempotent append ledger)") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_afs")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a", 1), (2L, "b", 0)).toDF("k", "v", "ok"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.streamingTable("feed")
    p.appendFlowStream("feed", "bronze", name = "live")(df =>
      df.filter(col("ok") === 1).drop("ok"))
    p.runIncremental()
    assert(p.read("feed").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    p.runIncremental() // idle: NOTHING re-lands (snapshot run() would double)
    assert(p.read("feed").count() == 1)
    bronze.append(Seq((3L, "c", 1)).toDF("k", "v", "ok"))
    p.runIncremental()
    assert(p.read("feed").orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "c")))
    // a fresh instance resumes from the target's ledger — still no doubles
    val p2 = new Pipeline(spark, s"$root/pipe")
    p2.inputTable("bronze", bronze)
    p2.streamingTable("feed")
    p2.appendFlowStream("feed", "bronze", name = "live")(df =>
      df.filter(col("ok") === 1).drop("ok"))
    p2.runIncremental()
    assert(p2.read("feed").count() == 2)
    // under plain run() the flow falls back to snapshot semantics — the
    // full view re-lands, AND the ledger is stamped at the covered version
    p2.run()
    assert(p2.read("feed").count() == 4) // full view re-appended once
    // the stamp means the next incremental run does NOT re-append rows the
    // snapshot already landed
    p2.runIncremental()
    assert(p2.read("feed").count() == 4)

    // FULL REFRESH: wipe + one snapshot re-land = exactly one copy, and
    // incremental runs continue cleanly after it (no duplicate window)
    p2.runFullRefresh()
    assert(p2.read("feed").count() == 2)
    p2.runIncremental()
    assert(p2.read("feed").count() == 2)
    bronze.append(Seq((4L, "d", 1)).toDF("k", "v", "ok"))
    p2.runIncremental()
    assert(p2.read("feed").orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "c"), (4L, "d")))
  }

  test("streamingView cycles are refused at registration with the cycle " +
      "named; SQL stream-static SELF-join reads the delta on the STREAM " +
      "side and the FULL snapshot on the static side") {
    import graft.lake.LakeTable
    val p0 = new Pipeline(spark, tmpDir("pl_svcycle"))
    p0.streamingView("a", "b")(identity)
    val e = intercept[IllegalArgumentException] {
      p0.streamingView("b", "a")(identity)
    }
    assert(e.getMessage.contains("cycle"))

    val root = tmpDir("pl_selfjoin")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, 10.0)).toDF("k", "amt"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE enriched")
    // the static `bronze t` side must see the WHOLE table, not the delta:
    // total = sum over all bronze rows at apply time
    PipelineSql(p, "CREATE FLOW sj AS INSERT INTO enriched BY NAME " +
      "SELECT s.k, s.amt, t.total FROM STREAM(bronze) s JOIN " +
      "(SELECT count(*) AS n, sum(amt) AS total FROM bronze) t ON t.n > 0")
    p.runIncremental()
    assert(p.read("enriched").as[(Long, Double, Double)].collect().toSeq ==
      Seq((1L, 10.0, 10.0)))
    bronze.append(Seq((2L, 5.0)).toDF("k", "amt"))
    p.runIncremental()
    // run 2: only k=2 lands (delta), but its `total` reflects BOTH rows —
    // proof the static reference read the full snapshot
    assert(p.read("enriched").orderBy("k").as[(Long, Double, Double)]
      .collect().toSeq == Seq((1L, 10.0, 10.0), (2L, 5.0, 15.0)))
  }

  test("PipelineSql: INSERT INTO ... BY NAME SELECT ... FROM STREAM(ds) " +
      "registers a TRUE streaming append when stateless over the stream; " +
      "aggregates over the stream fall back to snapshot semantics") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_afs_sql")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "x", 10.0), (2L, "y", -1.0)).toDF("k", "v", "amt"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE feed")
    PipelineSql(p, "CREATE FLOW live AS INSERT INTO feed BY NAME " +
      "SELECT k, v, amt FROM STREAM(bronze) WHERE amt > 0")
    p.runIncremental()
    p.runIncremental() // idle
    assert(p.read("feed").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "x", 10.0)))
    bronze.append(Seq((3L, "z", 5.0)).toDF("k", "v", "amt"))
    p.runIncremental()
    assert(p.read("feed").orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "x", 10.0), (3L, "z", 5.0)))

    // an AGGREGATE over the stream is not per-batch-composable: the flow
    // must register as snapshot (full recompute appended per run)
    val p2 = new Pipeline(spark, s"$root/pipe2")
    p2.inputTable("bronze", bronze)
    PipelineSql(p2, "CREATE OR REFRESH STREAMING TABLE agg")
    PipelineSql(p2, "CREATE FLOW a AS INSERT INTO agg BY NAME " +
      "SELECT v, COUNT(*) AS cnt FROM STREAM(bronze) GROUP BY v")
    p2.runIncremental()
    assert(p2.read("agg").count() == 3) // one row per v — full aggregate
    p2.runIncremental()
    assert(p2.read("agg").count() == 6) // snapshot semantics: re-appended
  }

  test("PARTITIONED streaming table: incremental CDC merges rewrite ONLY " +
      "the partitions the delta touches — untouched partitions keep their " +
      "files (path and inode)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.lake.LakeTable
    val root = tmpDir("pl_part")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, "A", "a1", ts("2024-01-01 00:00:00")),
      (2L, "B", "b1", ts("2024-01-01 00:00:00"))).toDF("k", "region", "v", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.streamingTable("silver", partitionBy = Some("region"))
    p.autoCdcFlow("silver", "bronze", Seq("k"), "seq")
    p.runIncremental()
    assert(p.table("silver").partitionColumn.contains("region"))
    def filesOf(part: String): Map[String, Object] =
      Files.walk(Paths.get(s"$root/pipe/silver")).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet") &&
          f.toString.contains(s"region=$part"))
        .map(f => f.toString -> Files.getAttribute(f, "unix:ino"))
        .toMap
    val regionBBefore = filesOf("B")
    assert(regionBBefore.nonEmpty)

    // the delta touches ONLY region A: region B's files must not be
    // rewritten (same paths, same inodes — zero write amplification there)
    bronze.append(Seq(
      (1L, "A", "a2", ts("2024-02-01 00:00:00")),
      (3L, "A", "a3", ts("2024-02-01 00:00:00"))).toDF("k", "region", "v", "seq"))
    p.runIncremental()
    assert(p.read("silver").orderBy("k").as[(Long, String, String, Timestamp)]
      .collect().toSeq == Seq(
        (1L, "A", "a2", ts("2024-02-01 00:00:00")),
        (2L, "B", "b1", ts("2024-01-01 00:00:00")),
        (3L, "A", "a3", ts("2024-02-01 00:00:00"))))
    assert(filesOf("B") == regionBBefore)

    // partitioned + clustered is refused (exclusive layouts)
    intercept[IllegalArgumentException] {
      new Pipeline(spark, s"$root/pipe2").streamingTable("bad",
        clusterBy = Seq("k"), partitionBy = Some("region"))
    }
  }

  test("streamingSelectTable (ST AS SELECT over STREAM): incremental runs " +
      "append the select over the delta; snapshot runs recompute and stamp " +
      "the ledger so the two modes interleave without gaps or doubles") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_stsel")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, 2.0), (2L, -1.0)).toDF("k", "amt"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    PipelineSql(p, "CREATE OR REFRESH STREAMING TABLE clean AS " +
      "SELECT k, amt * 2 AS amt2 FROM STREAM(bronze) WHERE amt > 0")
    p.runIncremental() // bootstrap window
    assert(p.read("clean").as[(Long, Double)].collect().toSeq == Seq((1L, 4.0)))
    p.runIncremental() // idle: nothing lands
    assert(p.read("clean").count() == 1)
    bronze.append(Seq((3L, 5.0)).toDF("k", "amt"))
    p.runIncremental() // delta only
    assert(p.read("clean").orderBy("k").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 4.0), (3L, 10.0)))
    // a SNAPSHOT run recomputes (same rows here) and stamps the ledger
    p.run()
    assert(p.read("clean").count() == 2)
    // back to incremental: the recompute's stamp means nothing re-lands
    p.runIncremental()
    assert(p.read("clean").count() == 2)
    bronze.append(Seq((4L, 1.0)).toDF("k", "amt"))
    p.runIncremental()
    assert(p.read("clean").orderBy("k").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 4.0), (3L, 10.0), (4L, 2.0)))
  }

  test("incrementalAggMv: a DAG-registered aggregate MV maintains itself " +
      "from the source change feed — bootstrap, then O(changed rows)") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_aggmv_dag")
    val src = LakeTable(spark, s"$root/src")
    src.append(Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("g", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("sales", src)
    p.incrementalAggMv("mv", "sales", Seq("g"), Seq("v"))
    p.run() // bootstrap (full snapshot, once)
    def mv: Seq[(String, Double, Long)] = p.read("mv")
      .select(col("g"), col("sum_v").cast("double"), col("cnt"))
      .orderBy("g").as[(String, Double, Long)].collect().toSeq
    assert(mv == Seq(("a", 3.0, 2L), ("b", 5.0, 1L)))
    src.append(Seq(("b", 1.0), ("c", 7.0)).toDF("g", "v"))
    p.runIncremental() // delta only
    assert(mv == Seq(("a", 3.0, 2L), ("b", 6.0, 2L), ("c", 7.0, 1L)))
    // the event log records the refresh's processed-row count
    assert(p.eventLog.filter(col("dataset") === "mv")
      .orderBy(col("run_id").desc).select("rows").as[Long].head() == 2L)
    // reading the MV as a pipeline dataset serves the materialized state
    assert(p.read("mv").count() == 3)

    // FULL REFRESH re-bootstraps the MV from the full source snapshot —
    // without the ledger clear the wiped target would stay empty forever
    // (its ledger says "up to date")
    p.runFullRefresh()
    assert(mv == Seq(("a", 3.0, 2L), ("b", 6.0, 2L), ("c", 7.0, 1L)))
    // and incremental maintenance continues cleanly after the refresh
    src.append(Seq(("a", 1.0)).toDF("g", "v"))
    p.runIncremental()
    assert(mv == Seq(("a", 4.0, 3L), ("b", 6.0, 2L), ("c", 7.0, 1L)))
  }

  test("incremental-path safety: non-CDF merge-maintained sources fall " +
      "back to snapshot; vacuumed early history can't wedge a bootstrap; " +
      "an unmaterialized agg-MV source is an empty input, not a crash") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_safety")

    // 1. a declared table WITHOUT enableChangeFeed, maintained by a merge
    //    flow, feeding a downstream flow: runIncremental must fall back to
    //    snapshot semantics instead of erroring on an unreadable feed
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.streamingTable("silver") // NO change feed
    p.autoCdcFlow("silver", "bronze", Seq("k"), "seq")
    p.streamingTable("gold")
    p.autoCdcFlow("gold", "silver", Seq("k"), "seq")
    p.runIncremental()
    bronze.append(Seq((1L, "a2", ts("2024-02-01 00:00:00"))).toDF("k", "v", "seq"))
    p.runIncremental() // silver merges (no CDF) — gold re-reads the snapshot
    assert(p.read("gold").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "a2", ts("2024-02-01 00:00:00"))))

    // 2. bootstrap reads the PINNED SNAPSHOT, not the feed from v0 — a
    //    bronze whose early history was compacted away can still seed a
    //    brand-new incremental pipeline
    val b2 = LakeTable(spark, s"$root/bronze2")
    b2.append(Seq((1L, "x", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    b2.append(Seq((2L, "y", ts("2024-01-02 00:00:00"))).toDF("k", "v", "seq"))
    b2.optimizeCompact()
    b2.vacuum(keepVersions = 1) // original append dirs gone
    intercept[Exception](b2.readChangeFeed(0L).count()) // the feed IS dead
    val p2 = new Pipeline(spark, s"$root/pipe2")
    p2.inputTable("bronze2", b2)
    p2.streamingTable("silver2")
    p2.autoCdcFlow("silver2", "bronze2", Seq("k"), "seq")
    p2.runIncremental() // snapshot bootstrap — no feed replay
    assert(p2.read("silver2").count() == 2)
    b2.append(Seq((3L, "z", ts("2024-01-03 00:00:00"))).toDF("k", "v", "seq"))
    p2.runIncremental() // and the feed takes over from the bootstrap point
    assert(p2.read("silver2").count() == 3)

    // 3. an agg MV over a not-yet-materialized source skips quietly and
    //    bootstraps on the first run that finds data
    val empty = LakeTable(spark, s"$root/empty_src")
    val p3 = new Pipeline(spark, s"$root/pipe3")
    p3.inputTable("sales", empty)
    p3.incrementalAggMv("mv", "sales", Seq("g"), Seq("v"))
    p3.run() // no crash
    assert(!p3.table("mv").exists)
    empty.append(Seq(("a", 2.0)).toDF("g", "v"))
    p3.run()
    assert(p3.read("mv").select("cnt").as[Long].head() == 1L)
  }

  test("equal-sequence images across commits resolve by COMMIT RECENCY on " +
      "direct chains: the downstream flow agrees with the source's own " +
      "current value") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_seqtie")
    val silver = LakeTable(spark, s"$root/silver")
    silver.create(Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq").schema,
      enableChangeFeed = true)
    silver.append(Seq((1L, "zzz", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    // an equal-seq CORRECTION lands via the source's own >= guard: silver's
    // current value is now "aaa" — even though "zzz" sorts HIGHER on the
    // value tiebreak a naive window dedup would use
    silver.merge(Seq((1L, "aaa", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"),
      Seq("k"), Some("s.seq >= t.seq"))
    assert(silver.read.select("v").as[String].head() == "aaa")

    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("silver", silver)
    p.streamingTable("gold")
    p.autoCdcFlow("gold", "silver", Seq("k"), "seq")
    // force the window path (bootstrap would read the snapshot and dodge
    // the question): consume v0 first, then the two-image window
    p.table("gold").create(silver.schema)
    p.table("gold").recordTxn("graft.flow.gold", 0L)
    p.runIncremental() // window v1..v2: insert(zzz) + update_postimage(aaa)
    assert(p.read("gold").select("v").as[String].head() == "aaa")
  }

  test("append-only consumers refuse update/delete windows loudly: an " +
      "updated source row cannot be silently re-appended") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_appendonly")
    val src = LakeTable(spark, s"$root/src")
    src.create(Seq((1L, "a")).toDF("k", "v").schema, enableChangeFeed = true)
    src.append(Seq((1L, "a")).toDF("k", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    p.streamingTable("feed")
    p.appendFlowStream("feed", "src", name = "live")()
    p.runIncremental() // bootstrap
    assert(p.read("feed").count() == 1)
    src.merge(Seq((1L, "a2")).toDF("k", "v"), Seq("k")) // UPDATE image
    val e = intercept[IllegalArgumentException] { p.runIncremental() }
    assert(e.getMessage.contains("append-only"))
  }

  test("runContinuous: the always-on updater applies new source commits " +
      "within a poll interval, resumes across restarts, and surfaces a " +
      "cycle failure on stop()") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_cont")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    def mk(): Pipeline = {
      val p = new Pipeline(spark, s"$root/pipe")
      p.inputTable("bronze", bronze)
      p.streamingTable("silver")
      p.autoCdcFlow("silver", "bronze", Seq("k"), "seq")
      p
    }
    val p = mk()
    val h = p.runContinuous(pollMs = 50L)
    assert(h.awaitRuns(1))
    assert(p.read("silver").count() == 1)
    // new bronze data flows through WITHOUT any explicit run call
    bronze.append(Seq((2L, "b", ts("2024-01-02 00:00:00"))).toDF("k", "v", "seq"))
    val before = h.runsCompleted
    assert(h.awaitRuns(before + 2)) // at least one full cycle after the append
    assert(p.read("silver").count() == 2)
    h.stop()
    assert(!h.isActive && h.failed.isEmpty)

    // restart (fresh handle, same storage): resumes from the ledger
    bronze.append(Seq((3L, "c", ts("2024-01-03 00:00:00"))).toDF("k", "v", "seq"))
    val p2 = mk()
    val h2 = p2.runContinuous(pollMs = 50L)
    assert(h2.awaitRuns(1))
    h2.stop()
    assert(p2.read("silver").count() == 3)

    // a failing cycle stops the loop and surfaces on stop()
    val p3 = new Pipeline(spark, s"$root/pipe3")
    p3.streamingTable("t")
    p3.view("src")(Seq((1L, "x", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    p3.autoCdcFlow("t", "missing_dataset", Seq("k"), "seq")
    val h3 = p3.runContinuous(pollMs = 50L)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (h3.isActive && System.nanoTime() < deadline) Thread.sleep(10L)
    assert(h3.failed.isDefined)
    intercept[RuntimeException] { h3.stop() }
  }

  test("idle runContinuous polls add no __event_log version: a cycle is " +
      "idle by its windows' states, whatever its event text") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_cont_idle")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a", 1L)).toDF("k", "v", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.streamingTable("cdc")
    p.autoCdcFlow("cdc", "bronze", Seq("k"), "seq")
    p.streamingJoinTable("joined", "bronze", Seq("k"), "seq")(identity)
    p.streamingSelectTable("sel", "bronze")(identity)
    p.streamingTable("landed")
    p.appendFlowStream("landed", "bronze", name = "land")()
    p.streamingTable("panel")
    p.incrementalAggMv("panel", "bronze", Seq("v"), Seq("seq"))
    val log = LakeTable(spark, s"$root/pipe/__event_log")
    val h = p.runContinuous(pollMs = 20L)
    /** Await `n` more cycles; the event log's version after them. */
    def settle(n: Long): Long = {
      assert(h.awaitRuns(h.runsCompleted + n))
      log.currentVersion
    }
    try {
      val afterBootstrap = settle(2)
      assert(settle(3) == afterBootstrap) // idle polls: no log commit
      bronze.append(Seq((2L, "b", 1L)).toDF("k", "v", "seq"))
      assert(h.awaitRuns(h.runsCompleted + 2))
      val afterAppend = settle(2)
      assert(afterAppend > afterBootstrap)
      assert(Seq("cdc", "joined", "sel", "landed").forall(p.read(_).count() == 2L))
      assert(settle(3) == afterAppend)
    } finally h.stop()
    assert(h.failed.isEmpty)
  }

  test("cyclic flow declarations die loudly with the cycle named, not with " +
      "a StackOverflowError") {
    val p = new Pipeline(spark, tmpDir("pl_cycle"))
    p.streamingTable("a")
    p.streamingTable("b")
    p.autoCdcFlow("a", "b", Seq("k"), "seq") // a sources b's target
    p.autoCdcFlow("b", "a", Seq("k"), "seq") // b sources a's target
    p.view("ignored")(Seq((1L, ts("2024-01-01 00:00:00"))).toDF("k", "seq"))
    val e = intercept[IllegalArgumentException] { p.run() }
    assert(e.getMessage.contains("cycle"))
    assert(e.getMessage.contains("a") && e.getMessage.contains("b"))
  }

  test("two Pipeline instances over one storageRoot mint dense, " +
      "non-colliding event-log run_ids") {
    val root = tmpDir("pl_runid")
    def mk(): Pipeline = {
      val p = new Pipeline(spark, root)
      p.streamingTable("t")
      p.view("src")(Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
      p.autoCdcFlow("t", "src", Seq("k"), "seq")
      p
    }
    val p1 = mk()
    val p2 = mk() // second live instance, same storage
    p1.run() // run_id 0
    p2.run() // must claim 1, not re-mint 0
    p1.run() // 2
    p2.run() // 3
    val ids = p1.eventLog.select("run_id").distinct()
      .orderBy("run_id").as[Long].collect().toSeq
    assert(ids == Seq(0L, 1L, 2L, 3L))
    // each run's events are intact (no overwrite of a colliding sequence)
    val perRun = p1.eventLog.groupBy("run_id").count()
      .select("count").distinct().as[Long].collect().toSeq
    assert(perRun.size == 1) // same event count every run
  }

  test("runIncremental: the declared DAG consumes change feeds — the second " +
      "run processes ONLY rows appended since the first (event-log proof)") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_inc")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, "a", 1, ts("2024-01-01 00:00:00")),
      (1L, "b", 1, ts("2024-01-02 00:00:00")),
      (2L, "x", 0, ts("2024-01-01 00:00:00")), // filtered by the view
      (3L, "c", 1, ts("2024-01-01 00:00:00"))).toDF("k", "v", "ok", "seq"))

    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.streamingView("clean", "bronze")(df =>
      df.filter(col("ok") === 1).drop("ok"))
    p.streamingTable("silver")
    p.autoCdcFlow("silver", "clean", Seq("k"), "seq")
    p.runIncremental()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "b", ts("2024-01-02 00:00:00")),
        (3L, "c", ts("2024-01-01 00:00:00"))))
    // run 1 processed the 3 surviving rows of the 4-row bootstrap window
    def flowRows: Seq[Long] = p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "silver")
      .orderBy("run_id").select("rows").as[Long].collect().toSeq
    assert(flowRows == Seq(3L))

    // append TWO new bronze rows: the second run must process exactly 2,
    // not re-scan the 6-row bronze table
    bronze.append(Seq(
      (1L, "stale", 1, ts("2023-12-01 00:00:00")),
      (4L, "d", 1, ts("2024-01-05 00:00:00"))).toDF("k", "v", "ok", "seq"))
    p.runIncremental()
    assert(flowRows == Seq(3L, 2L))
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "b", ts("2024-01-02 00:00:00")), // stale event lost the guard
        (3L, "c", ts("2024-01-01 00:00:00")),
        (4L, "d", ts("2024-01-05 00:00:00"))))

    // nothing new: up-to-date run processes 0 rows and commits no version
    val v = p.table("silver").currentVersion
    p.runIncremental()
    assert(flowRows == Seq(3L, 2L, 0L))
    assert(p.table("silver").currentVersion == v)

    // a FRESH pipeline instance over the same storage resumes from the
    // target's own ledger — no instance-local state involved
    val p2 = new Pipeline(spark, s"$root/pipe")
    p2.inputTable("bronze", bronze)
    p2.streamingView("clean", "bronze")(df =>
      df.filter(col("ok") === 1).drop("ok"))
    p2.streamingTable("silver")
    p2.autoCdcFlow("silver", "clean", Seq("k"), "seq")
    bronze.append(Seq((5L, "e", 1, ts("2024-01-06 00:00:00"))).toDF("k", "v", "ok", "seq"))
    p2.runIncremental()
    assert(p2.read("silver").count() == 4)
    assert(p2.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "silver")
      .orderBy(col("run_id").desc).select("rows").as[Long].head() == 1L)
  }

  test("runIncremental: chained flows — a CDF-enabled silver target feeds " +
      "a downstream incremental flow; plain-view sources fall back to snapshot") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_inc_chain")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))

    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    // silver records its change feed so gold can stream from it
    p.streamingTable("silver", enableChangeFeed = true)
    p.autoCdcFlow("silver", "bronze", Seq("k"), "seq")
    p.streamingTable("gold")
    p.streamingView("silver_up", "silver")(df =>
      df.withColumn("v", upper(col("v"))))
    p.autoCdcFlow("gold", "silver_up", Seq("k"), "seq")
    p.runIncremental()
    assert(p.read("gold").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "A", ts("2024-01-01 00:00:00")),
        (2L, "B", ts("2024-01-01 00:00:00"))))

    bronze.append(Seq((1L, "c", ts("2024-02-01 00:00:00"))).toDF("k", "v", "seq"))
    p.runIncremental()
    def goldRows: Seq[Long] = p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "gold")
      .orderBy("run_id").select("rows").as[Long].collect().toSeq
    // run 2: silver merged one update → gold saw ONE postimage, not a rescan
    assert(goldRows == Seq(2L, 1L))
    assert(p.read("gold").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "C", ts("2024-02-01 00:00:00")),
        (2L, "B", ts("2024-01-01 00:00:00"))))

    // runIncremental on a plain-view source (no stream root): snapshot
    // fallback still produces the right answer
    val p3 = new Pipeline(spark, s"$root/pipe3")
    p3.view("src")(Seq((1L, "z", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    p3.streamingTable("tgt")
    p3.autoCdcFlow("tgt", "src", Seq("k"), "seq")
    p3.runIncremental()
    assert(p3.read("tgt").count() == 1)
  }

  test("autoCdcFlow over a CDF inputTable: silver→gold, only new versions per run") {
    import graft.lake.LakeTable
    def ts(s: String) = Timestamp.valueOf(s)
    val root = tmpDir("pl_cdf")
    val silver = LakeTable(spark, s"$root/silver")
    silver.create(Seq((0L, "", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq").schema,
      enableChangeFeed = true)
    silver.merge(Seq(
      (1L, "a", ts("2024-01-01 00:00:00")),
      (2L, "b", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"),
      Seq("k"), Some("s.seq >= t.seq"))                                  // v1

    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("silver", silver)
    p.streamingTable("gold")
    p.autoCdcFlow("gold", "silver", Seq("k"), "seq")
    // one incremental run; its processed rows come from the event log
    def run(): Long = {
      p.runIncremental()
      p.eventLog
        .filter(col("event_type") === "flow_progress" && col("dataset") === "gold")
        .orderBy(col("run_id").desc).select("rows").as[Long].head()
    }

    assert(run() == 2) // bootstrap: both inserts flow
    assert(run() == 0) // no new silver versions → nothing processed
    assert(p.table("gold").read.orderBy("k").collect().toSeq ==
      silver.read.orderBy("k").collect().toSeq)

    // v2: one update (pre+post in the feed, only post applies) + one insert
    silver.merge(Seq(
      (2L, "b2", ts("2024-01-02 00:00:00")),
      (3L, "c", ts("2024-01-02 00:00:00"))).toDF("k", "v", "seq"),
      Seq("k"), Some("s.seq >= t.seq"))
    assert(run() == 2) // insert + update_postimage; preimage filtered out
    assert(p.table("gold").read.orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "a", ts("2024-01-01 00:00:00")),
          (2L, "b2", ts("2024-01-02 00:00:00")),
          (3L, "c", ts("2024-01-02 00:00:00"))))

    // a key updated across MULTIPLE unprocessed versions: last commit wins
    silver.merge(Seq((3L, "c2", ts("2024-01-03 00:00:00"))).toDF("k", "v", "seq"),
      Seq("k"), Some("s.seq >= t.seq"))                                  // v3
    silver.merge(Seq((3L, "c3", ts("2024-01-04 00:00:00"))).toDF("k", "v", "seq"),
      Seq("k"), Some("s.seq >= t.seq"))                                  // v4
    assert(run() == 2) // one postimage per version; preimages filtered out
    assert(p.table("gold").read.filter(col("k") === 3L)
      .select("v").as[String].head() == "c3")
  }

  test("autoCdcFlow SCD2 apply_as_deletes closes the open history row; " +
      "stale/absent-key deletes are no-ops; re-upsert opens a new row") {
    val p = new Pipeline(spark, tmpDir("pl_scd2_del"))
    var batch = Seq(
      (1L, "a", "U", ts("2024-01-01 00:00:00")),
      (2L, "b", "U", ts("2024-01-01 00:00:00"))).toDF("k", "v", "op", "seq")
    p.streamingTable("hist")
    p.view("source")(batch)
    p.autoCdcFlow("hist", "source", Seq("k"), "seq", scdType = 2,
      applyAsDeletes = Some("op = 'D'"), exceptColumns = Seq("op"))
    p.run()
    def history = p.read("hist")
      .select(col("k"), col("v"), col("__START_AT").cast("string"),
        col("__END_AT").cast("string"))
      .orderBy("k", "__START_AT")
      .as[(Long, String, String, String)].collect().toSeq
    assert(p.read("hist").columns.toSeq ==
      Seq("k", "v", "__START_AT", "__END_AT")) // op never lands
    assert(history == Seq(
      (1L, "a", "2024-01-01 00:00:00", null),
      (2L, "b", "2024-01-01 00:00:00", null)))

    // batch 2: k=1 deleted (open row CLOSES at the delete's seq, nothing
    // re-opens), k=2 STALE delete loses by sequence, k=3 delete of an
    // absent key is a no-op
    batch = Seq(
      (1L, null, "D", ts("2024-02-01 00:00:00")),
      (2L, null, "D", ts("2023-06-01 00:00:00")),
      (3L, null, "D", ts("2024-02-01 00:00:00"))).toDF("k", "v", "op", "seq")
    p.run()
    assert(history == Seq(
      (1L, "a", "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
      (2L, "b", "2024-01-01 00:00:00", null)))

    // batch 3: k=1 re-upserts with its PRE-DELETE attributes — existence is
    // part of the run-length state, so a NEW version still opens
    batch = Seq((1L, "a", "U", ts("2024-03-01 00:00:00"))).toDF("k", "v", "op", "seq")
    p.run()
    val afterThree = Seq(
      (1L, "a", "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
      (1L, "a", "2024-03-01 00:00:00", null),
      (2L, "b", "2024-01-01 00:00:00", null))
    assert(history == afterThree)

    // same-batch interleave on a fresh key: upsert, delete, re-upsert —
    // the delete bounds version 1's end and version 2 reopens at the
    // re-upsert's seq (plus replay idempotency for the whole batch)
    batch = Seq(
      (9L, "p", "U", ts("2024-04-01 00:00:00")),
      (9L, null, "D", ts("2024-04-02 00:00:00")),
      (9L, "p", "U", ts("2024-04-03 00:00:00"))).toDF("k", "v", "op", "seq")
    p.run()
    val afterFour = afterThree ++ Seq(
      (9L, "p", "2024-04-01 00:00:00", "2024-04-02 00:00:00"),
      (9L, "p", "2024-04-03 00:00:00", null))
    assert(history.sortBy(r => (r._1, r._3)) == afterFour.sortBy(r => (r._1, r._3)))
    p.run() // replay: idempotent
    assert(history.sortBy(r => (r._1, r._3)) == afterFour.sortBy(r => (r._1, r._3)))
  }

  test("autoCdcFlow SCD2 track_history_except_column_list: untracked churn " +
      "updates the open row in place; tracked changes open versions carrying " +
      "the interval's last untracked value") {
    val p = new Pipeline(spark, tmpDir("pl_scd2_trk"))
    var batch = Seq(
      (1L, "x", 1.0, ts("2024-01-01 00:00:00")),
      // k=2 changes tracked et mid-batch: v rides each interval's last event
      (2L, "x", 1.0, ts("2024-01-01 00:00:00")),
      (2L, "x", 5.0, ts("2024-01-02 00:00:00")),
      (2L, "y", 7.0, ts("2024-01-03 00:00:00"))).toDF("k", "et", "v", "seq")
    p.streamingTable("hist")
    p.view("source")(batch)
    p.autoCdcFlow("hist", "source", Seq("k"), "seq", scdType = 2,
      trackHistoryExceptColumns = Seq("v"))
    p.run()
    def history = p.read("hist")
      .select(col("k"), col("et"), col("v"), col("__START_AT").cast("string"),
        col("__END_AT").cast("string"))
      .orderBy("k", "__START_AT")
      .as[(Long, String, Double, String, String)].collect().toSeq
    assert(history == Seq(
      (1L, "x", 1.0, "2024-01-01 00:00:00", null),
      (2L, "x", 5.0, "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
      (2L, "y", 7.0, "2024-01-03 00:00:00", null)))

    // batch 2: k=1 untracked-only change → NO new version, v updates in
    // place and __START_AT stays
    batch = Seq((1L, "x", 2.0, ts("2024-02-01 00:00:00"))).toDF("k", "et", "v", "seq")
    p.run()
    assert(history == Seq(
      (1L, "x", 2.0, "2024-01-01 00:00:00", null),
      (2L, "x", 5.0, "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
      (2L, "y", 7.0, "2024-01-03 00:00:00", null)))

    // batch 3: k=1 tracked change → history row opens, closing at the change
    batch = Seq((1L, "z", 3.0, ts("2024-03-01 00:00:00"))).toDF("k", "et", "v", "seq")
    p.run()
    assert(history == Seq(
      (1L, "x", 2.0, "2024-01-01 00:00:00", "2024-03-01 00:00:00"),
      (1L, "z", 3.0, "2024-03-01 00:00:00", null),
      (2L, "x", 5.0, "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
      (2L, "y", 7.0, "2024-01-03 00:00:00", null)))
  }

  test("autoCdcFlow SCD1 apply_as_deletes works with a higher-order-function " +
      "predicate (lambda parameters are not source columns)") {
    val p = new Pipeline(spark, tmpDir("pl_cdc_hof"))
    var batch = Seq(
      (1L, "a", Seq("U"), ts("2024-01-01 00:00:00")),
      (2L, "b", Seq("U"), ts("2024-01-01 00:00:00"))).toDF("k", "v", "ops", "seq")
    p.streamingTable("silver")
    p.view("source")(batch)
    p.autoCdcFlow("silver", "source", Seq("k"), "seq",
      applyAsDeletes = Some("exists(ops, x -> x = 'D')"),
      exceptColumns = Seq("ops"))
    p.run()
    assert(p.read("silver").count() == 2)
    batch = Seq(
      (1L, "x", Seq("touch", "D"), ts("2024-02-01 00:00:00")),
      (2L, "b2", Seq("U"), ts("2024-02-01 00:00:00"))).toDF("k", "v", "ops", "seq")
    p.run()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((2L, "b2", ts("2024-02-01 00:00:00"))))
  }

  test("appendFlow: many flows feed one streaming table; columns align by " +
      "name (missing target columns land as typed NULLs); once=true drains " +
      "only on the first run") {
    val p = new Pipeline(spark, tmpDir("pl_append"))
    p.streamingTable("events")
    // backfill flow: once=true, full schema — defines the target's shape
    p.appendFlow("events", name = "backfill", once = true) {
      Seq((1L, "hist", 10.0), (2L, "hist", 20.0)).toDF("k", "src", "v")
    }
    // live flow: different column ORDER and missing `v` → typed NULL
    p.appendFlow("events", name = "live") {
      Seq(("live", 3L)).toDF("src", "k")
    }
    p.run()
    val r1 = p.read("events").orderBy("k")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(r1 == Seq((1L, "hist", Some(10.0)), (2L, "hist", Some(20.0)),
      (3L, "live", None)))

    // second run: backfill is skipped (once), live appends again
    p.run()
    assert(p.read("events").count() == 4)
    assert(p.read("events").filter($"src" === "hist").count() == 2)
  }

  test("appendFlow evolves the target ADDITIVELY when a flow grows a column " +
      "(DLT's behavior); duplicate flow names are rejected") {
    val p = new Pipeline(spark, tmpDir("pl_append_evolve"))
    p.streamingTable("t")
    p.appendFlow("t", name = "a") { Seq((1L, "x")).toDF("k", "v") }
    intercept[IllegalArgumentException] {
      p.appendFlow("t", name = "a") { Seq((2L, "y")).toDF("k", "v") }
    }
    p.run()
    assert(p.read("t").columns.toSeq == Seq("k", "v"))
    // a second flow carries a NEW column: the target widens metadata-only,
    // pre-evolution rows serve NULL — same contract as CDC-flow evolution
    p.appendFlow("t", name = "b") { Seq((2L, "y", true)).toDF("k", "v", "extra") }
    p.run()
    assert(p.read("t").columns.toSeq == Seq("k", "v", "extra"))
    assert(p.read("t").orderBy("k", "v")
      .as[(Long, String, Option[Boolean])].collect().toSeq ==
      Seq((1L, "x", None), (1L, "x", None), (2L, "y", Some(true))))
  }

  test("appendFlow drains BEFORE CDC flows: a CDC flow reading the appended " +
      "table sees this run's rows") {
    val p = new Pipeline(spark, tmpDir("pl_append_order"))
    p.streamingTable("raw")
    p.streamingTable("silver")
    p.autoCdcFlow("silver", "raw", Seq("k"), "seq")
    p.appendFlow("raw") {
      Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    }
    p.run()
    assert(p.read("silver").as[(Long, String, Timestamp)].collect().toSeq ==
      Seq((1L, "a", ts("2024-01-01 00:00:00"))))
  }

  test("Fail-policy gate aborts BEFORE the write commits: the target keeps " +
      "its pre-run state (DLT expect_or_fail)") {
    val p = new Pipeline(spark, tmpDir("pl_fail_eager"))
    var batch = Seq((1L, 5.0, ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    p.streamingTable("silver")
    p.view("src")(batch)
    p.autoCdcFlow("silver", "src", Seq("k"), "seq")
    p.expectations("silver", Map("v_positive" -> "v > 0"), Expectations.Fail)
    p.run() // clean batch lands
    val v1 = p.table("silver").currentVersion
    batch = Seq(
      (1L, 9.0, ts("2024-02-01 00:00:00")),
      (2L, -1.0, ts("2024-02-01 00:00:00"))).toDF("k", "v", "seq")
    intercept[IllegalStateException] { p.run() }
    // nothing committed: no new version, k=1 untouched, k=2 never landed
    assert(p.table("silver").currentVersion == v1)
    assert(p.read("silver").as[(Long, Double, Timestamp)].collect().toSeq ==
      Seq((1L, 5.0, ts("2024-01-01 00:00:00"))))
  }

  test("one CDC flow per target: a second autoCdcFlow into the same table " +
      "is rejected loudly") {
    val p = new Pipeline(spark, tmpDir("pl_dup_flow"))
    p.streamingTable("t")
    p.view("a")(Seq((1L, ts("2024-01-01 00:00:00"))).toDF("k", "seq"))
    p.view("b")(Seq((2L, ts("2024-01-01 00:00:00"))).toDF("k", "seq"))
    p.autoCdcFlow("t", "a", Seq("k"), "seq")
    val e = intercept[IllegalArgumentException] {
      p.autoCdcFlow("t", "b", Seq("k"), "seq")
    }
    assert(e.getMessage.contains("one CDC flow per target"))
  }

  test("apply_as_truncate is ONE atomic commit: wipe + survivors land " +
      "together (no empty intermediate version)") {
    val p = new Pipeline(spark, tmpDir("pl_trunc_atomic"))
    var batch = Seq(
      (1L, "a", "U", ts("2024-01-01 00:00:00")),
      (2L, "b", "U", ts("2024-01-01 00:00:00"))).toDF("k", "v", "op", "seq")
    p.streamingTable("silver")
    p.view("src")(batch)
    p.autoCdcFlow("silver", "src", Seq("k"), "seq",
      applyAsTruncates = Some("op = 'T'"), exceptColumns = Seq("op"))
    p.run()
    val v1 = p.table("silver").currentVersion
    batch = Seq(
      (0L, null, "T", ts("2024-02-01 00:00:00")),
      (3L, "c", "U", ts("2024-03-01 00:00:00"))).toDF("k", "v", "op", "seq")
    p.run()
    // exactly one commit for the truncate run; survivors replaced the table
    assert(p.table("silver").currentVersion == v1 + 1)
    assert(p.read("silver").select("k", "v").as[(Long, String)].collect().toSeq ==
      Seq((3L, "c")))
    // time travel to the pre-truncate version still shows both rows —
    // and NO version in between is the empty wiped state
    assert(p.table("silver").readVersion(v1).count() == 2)
  }

  test("autoCdcFromSnapshotFlow SCD1: snapshot diff inserts, updates, and " +
      "deletes vanished keys; identical snapshot is a no-op") {
    val p = new Pipeline(spark, tmpDir("pl_snap1"))
    var snap = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "x")
    p.streamingTable("dim")
    p.view("snap")(snap)
    p.autoCdcFromSnapshotFlow("dim", "snap", Seq("k"))
    p.run()
    assert(p.read("dim").orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 10.0), (2L, "b", 20.0)))

    // snapshot 2: k=1 changed, k=2 VANISHED (delete), k=3 new
    snap = Seq((1L, "a2", 10.0), (3L, "c", 30.0)).toDF("k", "v", "x")
    p.run()
    assert(p.read("dim").orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a2", 10.0), (3L, "c", 30.0)))

    // identical snapshot: the final state is unchanged
    p.run()
    assert(p.read("dim").orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a2", 10.0), (3L, "c", 30.0)))
  }

  test("autoCdcFromSnapshotFlow SCD2: changed rows close at the snapshot " +
      "version and reopen; vanished keys close with no open row; an " +
      "unchanged snapshot opens nothing") {
    val p = new Pipeline(spark, tmpDir("pl_snap2"))
    var snap = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    p.streamingTable("hist")
    p.view("snap")(snap)
    p.autoCdcFromSnapshotFlow("hist", "snap", Seq("k"), scdType = 2)
    p.run() // version 1
    snap = Seq((1L, "a2"), (3L, "c")).toDF("k", "v") // k=1 changed, k=2 gone, k=3 new
    p.run() // version 2
    snap = Seq((1L, "a2"), (3L, "c")).toDF("k", "v") // identical
    p.run() // version 3: no-op
    import graft.gold.GoldBuilder.{Scd2End, Scd2Start}
    val rows = p.read("hist")
      .select($"k", $"v", col(Scd2Start).cast("long"),
        coalesce(col(Scd2End), lit(-1)).cast("long"))
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(rows == Seq(
      (1L, "a", 1L, 2L), (1L, "a2", 2L, -1L),
      (2L, "b", 1L, 2L),
      (3L, "c", 2L, -1L)))
  }

  test("autoCdcFromSnapshotFlow SCD2 resumes its version counter from the " +
      "target history across pipeline instances") {
    val root = tmpDir("pl_snap_resume")
    val p1 = new Pipeline(spark, root)
    p1.streamingTable("hist")
    p1.view("snap")(Seq((1L, "a")).toDF("k", "v"))
    p1.autoCdcFromSnapshotFlow("hist", "snap", Seq("k"), scdType = 2)
    p1.run() // version 1

    val p2 = new Pipeline(spark, root) // fresh instance, same storage
    p2.streamingTable("hist")
    p2.view("snap")(Seq((1L, "a2")).toDF("k", "v"))
    p2.autoCdcFromSnapshotFlow("hist", "snap", Seq("k"), scdType = 2)
    p2.run() // resumes → version 2, not 1
    import graft.gold.GoldBuilder.{Scd2End, Scd2Start}
    val rows = p2.read("hist")
      .select($"v", col(Scd2Start).cast("long"),
        coalesce(col(Scd2End), lit(-1)).cast("long"))
      .as[(String, Long, Long)].collect().sortBy(_._2).toSeq
    assert(rows == Seq(("a", 1L, 2L), ("a2", 2L, -1L)))
  }

  test("autoCdcFromSnapshotFlow historical-backfill form drains every " +
      "pending snapshot in version order in one run") {
    val p = new Pipeline(spark, tmpDir("pl_snap_hist"))
    p.streamingTable("hist")
    val snaps = Map(
      10L -> Seq((1L, "a"), (2L, "b")),
      20L -> Seq((1L, "a2")),
      30L -> Seq((1L, "a2"), (4L, "d")))
    p.autoCdcFromSnapshotFlow("hist",
      (last: Option[Long]) => snaps.keys.filter(v => last.forall(v > _))
        .minOption.map(v => (snaps(v).toDF("k", "v"), v)),
      Seq("k"), scdType = 2, Nil, Nil)
    p.run()
    import graft.gold.GoldBuilder.{Scd2End, Scd2Start}
    val rows = p.read("hist")
      .select($"k", $"v", col(Scd2Start).cast("long"),
        coalesce(col(Scd2End), lit(-1)).cast("long"))
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(rows == Seq(
      (1L, "a", 10L, 20L), (1L, "a2", 20L, -1L),
      (2L, "b", 10L, 20L),
      (4L, "d", 30L, -1L)))
    // a later run with nothing pending is a no-op
    val v = p.table("hist").currentVersion
    p.run()
    assert(p.table("hist").currentVersion == v)
  }

  test("autoCdcFromSnapshotFlow SCD2 track_history_except: untracked churn " +
      "updates the open row in place instead of opening a version") {
    val p = new Pipeline(spark, tmpDir("pl_snap_trk"))
    var snap = Seq((1L, "a", 1.0)).toDF("k", "v", "score")
    p.streamingTable("hist")
    p.view("snap")(snap)
    p.autoCdcFromSnapshotFlow("hist", "snap", Seq("k"), scdType = 2,
      trackHistoryExceptColumns = Seq("score"))
    p.run()
    snap = Seq((1L, "a", 2.0)).toDF("k", "v", "score") // untracked-only churn
    p.run()
    import graft.gold.GoldBuilder.Scd2End
    assert(p.read("hist").count() == 1) // still a single open version
    assert(p.read("hist").filter(col(Scd2End).isNull)
      .select($"score").as[Double].head() == 2.0)
  }

  test("multi-column SEQUENCE BY (struct sequence_by): the tuple orders " +
      "lexicographically within a batch AND across merges") {
    val p = new Pipeline(spark, tmpDir("pl_seq2"))
    var batch = Seq(
      // same primary seq, higher secondary wins within the batch
      (1L, "lo", ts("2024-01-01 00:00:00"), 1L),
      (1L, "hi", ts("2024-01-01 00:00:00"), 7L),
      (2L, "b", ts("2024-01-01 00:00:00"), 5L)).toDF("k", "v", "seq", "lsn")
    p.streamingTable("silver")
    p.view("src")(batch)
    p.autoCdcFlow("silver", "src", Seq("k"), "seq", sequenceAlso = Seq("lsn"))
    p.run()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp, Long)]
      .collect().toSeq == Seq(
        (1L, "hi", ts("2024-01-01 00:00:00"), 7L),
        (2L, "b", ts("2024-01-01 00:00:00"), 5L)))

    // batch 2: k=1 same primary seq but LOWER lsn → stale, loses; k=2 same
    // primary seq, higher lsn → wins
    batch = Seq(
      (1L, "stale", ts("2024-01-01 00:00:00"), 3L),
      (2L, "b2", ts("2024-01-01 00:00:00"), 9L)).toDF("k", "v", "seq", "lsn")
    p.run()
    assert(p.read("silver").orderBy("k").as[(Long, String, Timestamp, Long)]
      .collect().toSeq == Seq(
        (1L, "hi", ts("2024-01-01 00:00:00"), 7L),
        (2L, "b2", ts("2024-01-01 00:00:00"), 9L)))
  }

  test("runFullRefresh clears targets, re-drains once-flows, and restarts " +
      "snapshot version counters; pre-refresh versions stay time-travelable") {
    val p = new Pipeline(spark, tmpDir("pl_refresh"))
    p.streamingTable("feed")
    p.appendFlow("feed", name = "backfill", once = true) {
      Seq((1L, "h")).toDF("k", "src")
    }
    p.streamingTable("hist")
    p.view("snap")(Seq((1L, "a")).toDF("k", "v"))
    p.autoCdcFromSnapshotFlow("hist", "snap", Seq("k"), scdType = 2)
    p.run()
    p.run() // once-flow skipped, snapshot version 2 (no-op diff)
    assert(p.read("feed").count() == 1)
    val preRefresh = p.table("feed").currentVersion

    p.runFullRefresh()
    // feed: wiped then backfilled AGAIN (once re-drains on full refresh)
    assert(p.read("feed").count() == 1)
    // hist: rebuilt from scratch — one open row starting at version 1 again
    import graft.gold.GoldBuilder.{Scd2End, Scd2Start}
    assert(p.read("hist").select(col(Scd2Start).cast("long"))
      .as[Long].collect().toSeq == Seq(1L))
    assert(p.read("hist").filter(col(Scd2End).isNull).count() == 1)
    // history preserved: the pre-refresh version still reads
    assert(p.table("feed").readVersion(preRefresh).count() == 1)
  }

  test("streamingTable(clusterBy) stamps the liquid-clustering key once " +
      "the target materializes (DLT create_streaming_table cluster_by)") {
    val p = new Pipeline(spark, tmpDir("pl_cluster"))
    p.streamingTable("silver", clusterBy = Seq("k"))
    p.view("src")(Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    p.autoCdcFlow("silver", "src", Seq("k"), "seq")
    p.run()
    assert(p.table("silver").clusterBy == Seq("k"))
    p.run() // idempotent: the key is already stamped
    assert(p.table("silver").clusterBy == Seq("k"))
    assert(p.table("silver").tableProperties.contains("clusteringColumns"))
  }

  test("incrementalAggMv: bootstrap then O(changed rows) maintenance " +
      "— value changes, group moves, group death, group birth all via " +
      "signed deltas; idle runs process nothing") {
    import graft.lake.LakeTable
    import org.apache.spark.sql.types._
    val root = tmpDir("pl_aggmv")
    val src = LakeTable(spark, s"$root/src").create(
      StructType(Seq(StructField("k", LongType), StructField("g", StringType),
        StructField("v", DoubleType))), enableChangeFeed = true)
    src.append(Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "g", "v"))

    val p = new Pipeline(spark, root)
    p.inputTable("src", src)
    p.incrementalAggMv("mv", "src", Seq("g"), Seq("v"))
    def refresh(): Long = refreshedRows(p, "mv")
    refresh() // bootstrap
    def mv: Seq[(String, java.math.BigDecimal, Long)] =
      p.read("mv").orderBy("g")
        .as[(String, java.math.BigDecimal, Long)].collect().toSeq
    assert(mv.map(r => (r._1, r._2.doubleValue, r._3)) ==
      Seq(("a", 30.0, 2L), ("b", 30.0, 1L)))

    // changes: k=1 value 10→15 (same group), k=3 moves b→c (group b dies,
    // c is born), k=4 inserts into a, k=2 deleted
    src.merge(Seq((1L, "a", 15.0), (3L, "c", 30.0), (4L, "a", 5.0))
      .toDF("k", "g", "v"), Seq("k"))
    src.deleteWhere("k = 2")
    val n = refresh()
    assert(n > 0)
    assert(mv.map(r => (r._1, r._2.doubleValue, r._3)) ==
      Seq(("a", 20.0, 2L), ("c", 30.0, 1L)))
    // the MV equals a direct recompute of the source
    val direct = src.read.groupBy("g")
      .agg(sum(col("v").cast("decimal(28,6)")).as("sum_v"),
        count(lit(1)).as("cnt"))
      .orderBy("g").as[(String, java.math.BigDecimal, Long)].collect().toSeq
    assert(mv == direct)
    // no new source versions → nothing processed
    assert(refresh() == 0L)
  }

  test("SCD1 CDC flow evolves the target ADDITIVELY when the feed grows a " +
      "column: schema widens metadata-only, pre-evolution rows serve NULL") {
    val p = new Pipeline(spark, tmpDir("pl_evolve"))
    var batch: org.apache.spark.sql.DataFrame =
      Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    p.streamingTable("silver")
    p.view("src")(batch)
    p.autoCdcFlow("silver", "src", Seq("k"), "seq")
    p.run()
    // batch 2 carries a NEW column `score`
    batch = Seq(
      (1L, "a2", ts("2024-02-01 00:00:00"), 0.9),
      (2L, "b", ts("2024-02-01 00:00:00"), 0.5)).toDF("k", "v", "seq", "score")
    p.run()
    assert(p.read("silver").columns.toSeq == Seq("k", "v", "seq", "score"))
    assert(p.read("silver").orderBy("k")
      .as[(Long, String, Timestamp, Option[Double])].collect().toSeq == Seq(
        (1L, "a2", ts("2024-02-01 00:00:00"), Some(0.9)),
        (2L, "b", ts("2024-02-01 00:00:00"), Some(0.5))))

    // and through the delete path: batch 3 grows ANOTHER column; the op
    // flag must not leak into the target schema
    batch = Seq(
      (1L, "x", ts("2024-03-01 00:00:00"), 0.9, "keep"),
      (2L, "x", ts("2024-03-01 00:00:00"), 0.5, "drop")).toDF("k", "v", "seq", "score", "tag")
    val p2 = new Pipeline(spark, tmpDir("pl_evolve2"))
    p2.streamingTable("s2")
    p2.view("src")(Seq((1L, "a", ts("2024-01-01 00:00:00"), 0.1))
      .toDF("k", "v", "seq", "score"))
    p2.autoCdcFlow("s2", "src", Seq("k"), "seq",
      applyAsDeletes = Some("tag = 'drop'"))
    intercept[Exception] { p2.run() } // batch 1 lacks `tag` → predicate fails loudly
    val p3 = new Pipeline(spark, tmpDir("pl_evolve3"))
    p3.streamingTable("s3")
    var b3: org.apache.spark.sql.DataFrame =
      Seq((1L, "a", ts("2024-01-01 00:00:00"), "keep")).toDF("k", "v", "seq", "tag")
    p3.view("src")(b3)
    p3.autoCdcFlow("s3", "src", Seq("k"), "seq",
      applyAsDeletes = Some("tag = 'drop'"), exceptColumns = Seq("tag"))
    p3.run()
    b3 = Seq(
      (1L, "a2", ts("2024-02-01 00:00:00"), "keep", 1.0),
      (2L, "gone", ts("2024-02-01 00:00:00"), "drop", 2.0))
      .toDF("k", "v", "seq", "tag", "score")
    p3.run()
    assert(p3.read("s3").columns.toSeq == Seq("k", "v", "seq", "score"))
    assert(p3.read("s3").orderBy("k")
      .as[(Long, String, Timestamp, Option[Double])].collect().toSeq ==
      Seq((1L, "a2", ts("2024-02-01 00:00:00"), Some(1.0))))
  }

  test("SCD2 CDC flow and snapshot flow evolve additively: a new column " +
      "widens the history metadata-only, closed rows serve NULL, the new " +
      "value opens a version") {
    import graft.gold.GoldBuilder.{Scd2End, Scd2Start}
    val p = new Pipeline(spark, tmpDir("pl_evolve_scd2"))
    var batch: org.apache.spark.sql.DataFrame =
      Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    p.streamingTable("hist")
    p.view("src")(batch)
    p.autoCdcFlow("hist", "src", Seq("k"), "seq", scdType = 2)
    p.run()
    batch = Seq((1L, "a", ts("2024-02-01 00:00:00"), 0.7)).toDF("k", "v", "seq", "score")
    p.run()
    val rows = p.read("hist")
      .select($"v", $"score", col(Scd2End).isNull.as("open"))
      .as[(String, Option[Double], Boolean)].collect().sortBy(_._3).toSeq
    // v unchanged but score NULL→0.7 is a tracked change: old row closed
    // (score NULL), new open row carries 0.7
    assert(rows == Seq(("a", None, false), ("a", Some(0.7), true)))

    // snapshot flow, SCD1: snapshot 2 grows a column
    val p2 = new Pipeline(spark, tmpDir("pl_evolve_snap"))
    var snap: org.apache.spark.sql.DataFrame = Seq((1L, "a")).toDF("k", "v")
    p2.streamingTable("dim")
    p2.view("snap")(snap)
    p2.autoCdcFromSnapshotFlow("dim", "snap", Seq("k"))
    p2.run()
    snap = Seq((1L, "a", 5.0), (2L, "b", 6.0)).toDF("k", "v", "x")
    p2.run()
    assert(p2.read("dim").orderBy("k").as[(Long, String, Option[Double])]
      .collect().toSeq == Seq((1L, "a", Some(5.0)), (2L, "b", Some(6.0))))
  }

  test("SCD2 multi-column SEQUENCE BY: __START_AT/__END_AT carry the " +
      "sequence STRUCT and tuple order decides versions across batches") {
    import graft.gold.GoldBuilder.{Scd2End, Scd2Start}
    val p = new Pipeline(spark, tmpDir("pl_scd2_seq2"))
    var batch = Seq(
      (1L, "v1", ts("2024-01-01 00:00:00"), 1L),
      (1L, "v2", ts("2024-01-01 00:00:00"), 5L)) // same ts, higher lsn later
      .toDF("k", "v", "seq", "lsn")
    p.streamingTable("hist")
    p.view("src")(batch)
    p.autoCdcFlow("hist", "src", Seq("k"), "seq", scdType = 2,
      sequenceAlso = Seq("lsn"))
    p.run()
    // within batch 1 the tuple ordered v1 < v2: v1 closed at (ts, 5)
    val r1 = p.read("hist")
      .select($"v", col(s"$Scd2Start.lsn").as("s_lsn"),
        col(Scd2End).isNull.as("open"))
      .as[(String, Long, Boolean)].collect().sortBy(_._2).toSeq
    assert(r1 == Seq(("v1", 1L, false), ("v2", 5L, true)))

    // batch 2: same primary ts, HIGHER lsn closes the open row
    batch = Seq((1L, "v3", ts("2024-01-01 00:00:00"), 9L))
      .toDF("k", "v", "seq", "lsn")
    p.run()
    val rows = p.read("hist")
      .select($"v", col(s"$Scd2Start.lsn").as("s_lsn"),
        col(Scd2End).isNull.as("open"))
      .as[(String, Long, Boolean)].collect().sortBy(_._2).toSeq
    assert(rows == Seq(("v1", 1L, false), ("v2", 5L, false), ("v3", 9L, true)))
    // validity columns are struct-typed and carry both components
    assert(p.read("hist").schema(Scd2Start).dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType])
  }

  test("event log records flow_progress rows and expectation counts per " +
      "run, keyed (run_id, event_seq)") {
    val p = new Pipeline(spark, tmpDir("pl_eventlog"))
    assert(p.eventLog.count() == 0) // empty relation before any run
    p.streamingTable("silver")
    p.view("src")(Seq(
      (1L, 5.0, ts("2024-01-01 00:00:00")),
      (2L, -1.0, ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    p.autoCdcFlow("silver", "src", Seq("k"), "seq")
    p.expectations("silver", Map("v_positive" -> "v > 0"), Expectations.Drop)
    p.streamingTable("raw0")
    p.appendFlow("raw0", name = "feed") { Seq((9L, "x")).toDF("k", "v") }
    p.materializedView("agg") {
      p.read("silver").groupBy().count()
    }
    p.run()
    val ev = p.eventLog.orderBy("run_id", "event_seq")
      .as[(Long, Long, String, String, Long, String)].collect().toSeq
    val flows = ev.filter(_._3 == "flow_progress")
    // append flow: 1 row; CDC flow: 2 incoming (1 dropped by the gate
    // counts at the gate, the flow observes the post-gate batch = 1);
    // MV refresh: 1 row
    assert(flows.map(e => (e._4, e._5)).toSet ==
      Set(("feed", 1L), ("silver", 1L), ("agg", 1L)))
    val gatesEv = ev.filter(_._3 == "expectation")
    assert(gatesEv.map(e => (e._4, e._5, e._6)) ==
      Seq(("silver", 1L, "v_positive=1"))) // 1 passed, 1 violation
    assert(ev.forall(_._1 == 0L)) // first run

    p.run() // second run appends with run_id = 1
    assert(p.eventLog.filter($"run_id" === 1).count() > 0)
  }

  test("incrementalAggMv MIN/MAX: appends and a delete in the feed both " +
      "maintain through the extreme companions, equal to a recompute") {
    import graft.lake.LakeTable
    import org.apache.spark.sql.types._
    val root = tmpDir("pl_aggmv_minmax")
    val src = LakeTable(spark, s"$root/src").create(
      StructType(Seq(StructField("k", LongType), StructField("g", StringType),
        StructField("v", DoubleType))), enableChangeFeed = true)
    src.append(Seq((1L, "a", 10.0), (2L, "a", 20.0)).toDF("k", "g", "v"))
    val p = new Pipeline(spark, root)
    p.inputTable("src", src)
    p.incrementalAggMv("mv", "src", Seq("g"), Seq("v"),
      mins = Seq("v"), maxs = Seq("v"))
    def refresh(): Long = refreshedRows(p, "mv")
    refresh() // bootstrap
    src.append(Seq((3L, "a", 5.0), (4L, "b", 7.0)).toDF("k", "g", "v"))
    assert(refresh() == 2L)
    def rows = p.read("mv").orderBy("g")
      .select($"g", $"sum_v".cast("double"), $"min_v", $"max_v", $"cnt")
      .as[(String, Double, Double, Double, Long)].collect().toSeq
    assert(rows == Seq(("a", 35.0, 5.0, 20.0, 3L), ("b", 7.0, 7.0, 7.0, 1L)))
    def direct = src.read.groupBy("g")
      .agg(sum("v").as("sum_v"), min("v").as("min_v"), max("v").as("max_v"),
        count(lit(1)).as("cnt"))
      .orderBy("g").as[(String, Double, Double, Double, Long)].collect().toSeq

    // a delete retracts group a's value 10.0: the companions keep the
    // extremes exact, the refresh stays incremental, the panel ≡ recompute
    src.deleteWhere("k = 1")
    assert(refresh() == 1L)
    assert(rows == Seq(("a", 25.0, 5.0, 20.0, 2L), ("b", 7.0, 7.0, 7.0, 1L)))
    assert(rows == direct)
    // retracting group a's current MAXIMUM re-exposes the next value
    src.deleteWhere("k = 2")
    refresh()
    assert(rows == Seq(("a", 5.0, 5.0, 5.0, 1L), ("b", 7.0, 7.0, 7.0, 1L)))
    assert(rows == direct)
    assert(p.eventLog.filter(col("dataset") === "mv")
      .orderBy(col("run_id").desc).select("message").as[String].head()
      .contains("incremental"))
  }

  test("appendFlowStream snapshot fallback stamps its ledger ATOMICALLY " +
      "with the append commit — no crash window, no duplicate on the next " +
      "incremental run, and an unchanged-source re-run still re-lands") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_atomicstamp")
    val src = LakeTable(spark, s"$root/src")
    src.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    p.streamingTable("feed")
    p.appendFlowStream("feed", "src", name = "live")()
    p.run() // snapshot re-land path (pinned + stamped)
    val t = p.table("feed")
    assert(p.read("feed").count() == 2)
    // ONE data commit carries both the rows and the ledger entry: target
    // history is exactly create (v0) + stamped append (v1) — no separate
    // properties commit a crash could separate from the landed rows
    assert(t.currentVersion == 1L)
    assert(t.lastTxnVersion("graft.appendflow.live").contains(src.currentVersion))
    // the stamped ledger makes the next incremental run a no-op
    p.runIncremental()
    assert(p.read("feed").count() == 2)
    // unchanged source, snapshot mode again: the documented re-land shape
    p.run()
    assert(p.read("feed").count() == 4)
  }

  test("equal-sequence images across commits resolve by COMMIT RECENCY " +
      "even through a TRANSFORMING streamingView chain — the target agrees " +
      "with the source's own current value") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_recency")
    val src = LakeTable(spark, s"$root/src")
    src.create(Seq((1L, "seed", ts("2024-01-01 00:00:00")))
      .toDF("k", "v", "seq").schema, enableChangeFeed = true)
    src.append(Seq((1L, "seed", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    // NOT an identity chain: the per-row transform preserves the key and
    // sequence columns, so the collapse still runs at source grain
    p.streamingView("clean", "src")(df => df.filter(col("v").isNotNull))
    p.streamingTable("silver")
    p.autoCdcFlow("silver", "clean", Seq("k"), "seq")
    p.runIncremental() // bootstrap
    // one window, two commits rewriting k=1 at the SAME sequence: the
    // value tiebreak (v desc) would keep "zzz" — commit recency must keep
    // "aaa", the value the source itself currently holds
    src.merge(Seq((1L, "zzz", ts("2024-02-01 00:00:00"))).toDF("k", "v", "seq"), Seq("k"))
    src.merge(Seq((1L, "aaa", ts("2024-02-01 00:00:00"))).toDF("k", "v", "seq"), Seq("k"))
    p.runIncremental()
    assert(src.read.select("v").as[String].head() == "aaa")
    assert(p.read("silver").select("v").as[String].head() == "aaa")
  }

  test("a snapshot-mode select-table refresh (full-rewrite commit) does " +
      "not wedge downstream incremental consumers: CDC flows re-pin, " +
      "chained select tables snapshot-refresh, agg MVs re-bootstrap") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_rewrite")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, 10.0, ts("2024-01-01 00:00:00")),
      (2L, 20.0, ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.streamingSelectTable("clean", "bronze")(df => df.filter(col("v").isNotNull))
    p.streamingSelectTable("clean2", "clean")(df => df.select("k", "v", "seq"))
    p.streamingTable("silver", enableChangeFeed = true)
    p.autoCdcFlow("silver", "clean", Seq("k"), "seq")
    p.incrementalAggMv("gold", "silver", Seq("k"), Seq("v"))
    p.runIncremental() // everything bootstraps
    // SNAPSHOT run: `clean` refreshes by OVERWRITE — a full-rewrite commit
    // lands inside every downstream consumer's next window
    p.run()
    bronze.append(Seq((3L, 30.0, ts("2024-02-01 00:00:00"))).toDF("k", "v", "seq"))
    // without the fallbacks this run fails ("change feed unavailable
    // across full-rewrite commit") and every later run fails the same way
    p.runIncremental()
    assert(p.read("silver").orderBy("k").select("k", "v")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    assert(p.read("clean2").select("k").distinct().count() == 3)
    assert(p.read("gold").orderBy("k").select($"k", $"sum_v".cast("double"))
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // and the pipeline is UN-wedged: further incremental runs keep working
    bronze.append(Seq((4L, 40.0, ts("2024-03-01 00:00:00"))).toDF("k", "v", "seq"))
    p.runIncremental()
    assert(p.read("silver").count() == 4)
    assert(p.read("clean2").select("k").distinct().count() == 4)
  }

  test("runContinuous retries TRANSIENT failures (ConcurrentWriteException) " +
      "with bounded backoff, fails the update when the budget exhausts, and " +
      "still dies immediately on deterministic errors") {
    import graft.lake.ConcurrentWriteException
    val root = tmpDir("pl_retry")
    // one-shot transient blip: first cycle loses a commit race, second wins
    val blown = new java.util.concurrent.atomic.AtomicBoolean(false)
    val p = new Pipeline(spark, s"$root/pipe")
    p.view("src") {
      if (blown.compareAndSet(false, true))
        throw new ConcurrentWriteException("injected transient blip")
      Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq")
    }
    p.streamingTable("silver")
    p.autoCdcFlow("silver", "src", Seq("k"), "seq")
    val h = p.runContinuous(pollMs = 20L)
    assert(h.awaitRuns(1, timeoutMs = 30000L)) // survived the blip
    h.stop() // must NOT rethrow — the failure was retried away
    assert(p.read("silver").count() == 1)

    // persistent transient failure: the bounded budget exhausts and the
    // loop fails the update (DLT does not retry forever)
    val p2 = new Pipeline(spark, s"$root/pipe2")
    p2.view("src2")(throw new ConcurrentWriteException("always racing"))
    p2.streamingTable("t2")
    p2.autoCdcFlow("t2", "src2", Seq("k"), "seq")
    val h2 = p2.runContinuous(pollMs = 10L, maxRetries = 1)
    assert(!h2.awaitRuns(1, timeoutMs = 10000L))
    val e2 = intercept[ConcurrentWriteException](h2.stop())
    assert(e2.getMessage.contains("always racing"))

    // deterministic failure: no retry, immediate stop
    val p3 = new Pipeline(spark, s"$root/pipe3")
    p3.view("bad")(sys.error("deterministic failure"))
    p3.streamingTable("t3")
    p3.autoCdcFlow("t3", "bad", Seq("k"), "seq")
    val h3 = p3.runContinuous(pollMs = 10L)
    assert(!h3.awaitRuns(1, timeoutMs = 10000L))
    val e3 = intercept[RuntimeException](h3.stop())
    assert(e3.getMessage.contains("deterministic failure"))
  }

  test("streamingJoinTable: the business join as a DAG node — incremental " +
      "runs enrich ONLY the fact delta against CURRENT dim snapshots and " +
      "merge latest-wins; modes interleave without gaps or doubles") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_jointbl")
    val facts = LakeTable(spark, s"$root/facts")
    facts.append(Seq((10L, 101L, 10.0, ts("2024-01-01 00:00:00")))
      .toDF("booking_id", "flight_id", "amount", "seq"))
    var airlines = Map(101L -> "AirOne", 102L -> "AirTwo")
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bookings", facts)
    p.view("flights")(airlines.toSeq.toDF("flight_id", "airline"))
    p.streamingJoinTable("business", "bookings",
      Seq("booking_id"), "seq")(batch =>
      batch.join(p.read("flights"), Seq("flight_id")))
    p.runIncremental() // bootstrap: 1 fact row enriched
    assert(p.read("business").select("booking_id", "airline")
      .as[(Long, String)].collect().toSeq == Seq((10L, "AirOne")))
    val v1 = p.table("business").currentVersion
    p.runIncremental() // idle: ledger up to date, NO commit
    assert(p.table("business").currentVersion == v1)
    // dim changes apply to NEW facts only (stream-static semantics): the
    // already-landed booking keeps AirOne, the new one sees the rename
    airlines = Map(101L -> "AirOneRenamed", 102L -> "AirTwo")
    facts.append(Seq((11L, 101L, 20.0, ts("2024-02-01 00:00:00")))
      .toDF("booking_id", "flight_id", "amount", "seq"))
    p.runIncremental()
    assert(p.read("business").orderBy("booking_id")
      .select("booking_id", "airline").as[(Long, String)].collect().toSeq ==
      Seq((10L, "AirOne"), (11L, "AirOneRenamed")))
    // snapshot run interleaves: full re-enrich re-pins, merge keys dedup —
    // the already-landed facts UPDATE (same keys), nothing duplicates
    p.run()
    assert(p.read("business").count() == 2)
    assert(p.read("business").orderBy("booking_id")
      .select("airline").as[String].collect().toSeq ==
      Seq("AirOneRenamed", "AirOneRenamed"))
    // and incremental execution resumes from the snapshot run's stamp
    facts.append(Seq((12L, 102L, 5.0, ts("2024-03-01 00:00:00")))
      .toDF("booking_id", "flight_id", "amount", "seq"))
    p.runIncremental()
    assert(p.read("business").count() == 3)
    // event-log proof of O(new fact rows): bootstrap 1, idle 0, delta 1,
    // snapshot 2 (full re-enrich), delta 1
    assert(p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "business")
      .orderBy("run_id").select("rows").as[Long].collect().toSeq ==
      Seq(1L, 0L, 1L, 2L, 1L))
  }

  test("a CDF-enabled streamingJoinTable chains onward: a gold agg MV " +
      "streams from the join target in O(changed groups), and " +
      "runFullRefresh rebuilds the whole chain from current contents") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_joinchain")
    val facts = LakeTable(spark, s"$root/facts")
    facts.append(Seq(
      (10L, 1L, 10.0, ts("2024-01-01 00:00:00")),
      (11L, 2L, 20.0, ts("2024-01-01 00:00:00")))
      .toDF("booking_id", "pax_id", "amount", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bookings", facts)
    p.view("pax")(Seq((1L, "Ada"), (2L, "Ben")).toDF("pax_id", "name"))
    p.streamingJoinTable("business", "bookings", Seq("booking_id"), "seq",
      enableChangeFeed = true)(b => b.join(p.read("pax"), Seq("pax_id")))
    p.incrementalAggMv("gold", "business", Seq("name"), Seq("amount"))
    p.runIncremental()
    def gold: Seq[(String, Double, Long)] = p.read("gold")
      .select($"name", $"sum_amount".cast("double"), $"cnt")
      .orderBy("name").as[(String, Double, Long)].collect().toSeq
    assert(gold == Seq(("Ada", 10.0, 1L), ("Ben", 20.0, 1L)))
    // delta: one NEW booking + one re-priced one — the MV consumes the
    // join target's change images (insert + update pre/post), O(changed)
    facts.append(Seq(
      (10L, 1L, 15.0, ts("2024-02-01 00:00:00")),
      (12L, 1L, 30.0, ts("2024-02-01 00:00:00")))
      .toDF("booking_id", "pax_id", "amount", "seq"))
    p.runIncremental()
    assert(gold == Seq(("Ada", 45.0, 2L), ("Ben", 20.0, 1L)))
    // event-log: the MV's second refresh consumed exactly the 3 change
    // images (1 insert + update pre/post), never rescanning the join table
    assert(p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === "gold")
      .orderBy("run_id").select("rows").as[Long].collect().toSeq == Seq(0L, 3L))
    // FULL REFRESH rebuilds every layer from the sources' current contents
    p.runFullRefresh()
    assert(p.read("business").count() == 3)
    assert(gold == Seq(("Ada", 45.0, 2L), ("Ben", 20.0, 1L)))
    // and incremental execution keeps working after the refresh
    facts.append(Seq((13L, 2L, 5.0, ts("2024-03-01 00:00:00")))
      .toDF("booking_id", "pax_id", "amount", "seq"))
    p.runIncremental()
    assert(p.read("business").count() == 4)
    assert(gold == Seq(("Ada", 45.0, 2L), ("Ben", 25.0, 2L)))
  }

  test("incremental agg MV maintains a NULL group as ONE group across " +
      "windows — GROUP BY's null-as-one-group semantics survive the merge") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_nullgroup")
    val src = LakeTable(spark, s"$root/src")
    src.append(Seq((1L, Option("a"), 10.0), (2L, Option.empty[String], 5.0))
      .toDF("k", "g", "v"))
    val p = new Pipeline(spark, root)
    p.inputTable("src", src)
    p.incrementalAggMv("mv", "src", Seq("g"), Seq("v"))
    def refresh(): Unit = p.refreshMaterializedView("mv")
    refresh() // bootstrap: groups (a) and (NULL)
    src.append(Seq((3L, Option.empty[String], 7.0)).toDF("k", "g", "v"))
    refresh() // the NULL group's delta must MERGE, not insert a second row
    val rows = p.read("mv")
      .select($"g", $"sum_v".cast("double"), $"cnt")
      .orderBy("g").as[(Option[String], Double, Long)].collect().toSeq
    assert(rows == Seq((None, 12.0, 2L), (Some("a"), 10.0, 1L)))
  }

  test("agg MV SUM NULL algebra: an all-NULL group stays NULL through " +
      "incremental touches (recompute parity, no manufactured zero)") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_nullsum")
    val src = LakeTable(spark, s"$root/src")
    src.append(Seq((1L, "a", Option.empty[Double]), (2L, "b", Option(3.0)))
      .toDF("k", "g", "v"))
    val p = new Pipeline(spark, root)
    p.inputTable("src", src)
    p.incrementalAggMv("mv", "src", Seq("g"), Seq("v"))
    def refresh(): Unit = p.refreshMaterializedView("mv")
    refresh() // bootstrap: group a sums NULL (its only input is NULL)
    // touch group a with ANOTHER null input: still NULL, cnt advances
    src.append(Seq((3L, "a", Option.empty[Double])).toDF("k", "g", "v"))
    refresh()
    def rows = p.read("mv")
      .select($"g", $"sum_v".cast("double"), $"cnt")
      .orderBy("g").as[(String, Option[Double], Long)].collect().toSeq
    assert(rows == Seq(("a", None, 2L), ("b", Some(3.0), 1L)))
    // the first non-NULL arrival materializes the sum
    src.append(Seq((4L, "a", Option(5.0))).toDF("k", "g", "v"))
    refresh()
    assert(rows == Seq(("a", Some(5.0), 3L), ("b", Some(3.0), 1L)))
  }

  test("incrementalAggMv SUM NULL algebra: retracting every non-NULL input " +
      "while NULL-input rows remain reads NULL, as a recompute does") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_nullsum_retract")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq((1L, "a", Option.empty[Double]), (2L, "a", Option(3.0)),
      (3L, "b", Option(4.0))).toDF("k", "g", "v")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    p.incrementalAggMv("mv", "src", Seq("g"), Seq("v"))
    p.runIncremental() // bootstrap: group a sums 3.0 over one NULL input
    src.deleteWhere("k = 2") // group a keeps only its NULL-input row
    p.runIncremental()
    def rows = p.read("mv")
      .select($"g", $"sum_v".cast("double"), $"cnt")
      .orderBy("g").as[(String, Option[Double], Long)].collect().toSeq
    val direct = src.read.groupBy("g")
      .agg(sum(col("v").cast("decimal(28,6)")).cast("double"), count(lit(1)))
      .orderBy("g").as[(String, Option[Double], Long)].collect().toSeq
    assert(rows == Seq(("a", None, 1L), ("b", Some(4.0), 1L)))
    assert(rows == direct)
  }

  test("a select table NOT consumed by any flow refreshes AFTER the flows " +
      "and joins THIS run's merged dim state; one consumed by a flow " +
      "refreshes before it") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_selectorder")
    val facts = LakeTable(spark, s"$root/facts")
    val dimSrc = LakeTable(spark, s"$root/dimsrc")
    facts.append(Seq((1L, "D1", ts("2024-01-01 00:00:00")))
      .toDF("k", "dimk", "seq"))
    dimSrc.append(Seq(("D1", "old", ts("2024-01-01 00:00:00")))
      .toDF("dimk", "name", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("facts", facts)
    p.inputTable("dimsrc", dimSrc)
    p.streamingTable("dim")
    p.autoCdcFlow("dim", "dimsrc", Seq("dimk"), "seq")
    // input-rooted but NOT consumed by any flow: must refresh POST-flows,
    // so its dim join sees the state this run's CDC merge produced
    p.streamingSelectTable("gold", "facts")(df =>
      df.join(p.read("dim").select("dimk", "name"), Seq("dimk")))
    p.runIncremental()
    assert(p.read("gold").select("k", "name").as[(Long, String)]
      .collect().toSeq == Seq((1L, "old")))
    // the dim RENAMES and a new fact arrives in the same window: the new
    // gold row must carry the renamed dim value merged THIS run
    dimSrc.append(Seq(("D1", "new", ts("2024-02-01 00:00:00")))
      .toDF("dimk", "name", "seq"))
    facts.append(Seq((2L, "D1", ts("2024-02-01 00:00:00")))
      .toDF("k", "dimk", "seq"))
    p.runIncremental()
    assert(p.read("gold").orderBy("k").select("k", "name")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "old"), (2L, "new")))
  }

  test("a select table over a CDF-enabled streamingJoinTable consumes " +
      "THIS run's join rows (join tables refresh before post-flow select " +
      "tables)") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_sel_over_join")
    val facts = LakeTable(spark, s"$root/facts")
    facts.append(Seq((10L, 1L, ts("2024-01-01 00:00:00")))
      .toDF("booking_id", "pax_id", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bookings", facts)
    p.view("pax")(Seq((1L, "Ada"), (2L, "Ben")).toDF("pax_id", "name"))
    p.streamingJoinTable("business", "bookings", Seq("booking_id"), "seq",
      enableChangeFeed = true)(b => b.join(p.read("pax"), Seq("pax_id")))
    p.streamingSelectTable("export", "business")(df =>
      df.select("booking_id", "name"))
    p.runIncremental()
    assert(p.read("export").as[(Long, String)].collect().toSeq ==
      Seq((10L, "Ada")))
    // a NEW key arrives: the join merge carries insert-only images, and
    // the export select table lands them in the SAME run
    facts.append(Seq((11L, 2L, ts("2024-02-01 00:00:00")))
      .toDF("booking_id", "pax_id", "seq"))
    p.runIncremental()
    assert(p.read("export").orderBy("booking_id").as[(Long, String)]
      .collect().toSeq == Seq((10L, "Ada"), (11L, "Ben")))
  }

  test("datasets introspection: one row per declared node with kind, edge, " +
      "and incremental-capability — metadata only, nothing executes") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_datasets")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a", ts("2024-01-01 00:00:00"))).toDF("k", "v", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    var evaluated = false
    p.view("dims") { evaluated = true; Seq((1L, "x")).toDF("k", "d") }
    p.streamingView("clean", "bronze")(df => df.filter(col("v").isNotNull))
    p.streamingTable("silver", enableChangeFeed = true)
    p.autoCdcFlow("silver", "clean", Seq("k"), "seq")
    p.streamingJoinTable("business", "silver", Seq("k"), "seq")(b =>
      b.join(p.read("dims"), Seq("k")))
    p.incrementalAggMv("gold", "silver", Seq("v"), Seq("k"))
    val ds = p.datasets.as[(String, String, Option[String], Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(!evaluated) // introspection never runs defining queries
    assert(ds("bronze") == (("input", None, false)))
    assert(ds("dims") == (("view", None, false)))
    assert(ds("clean") == (("streaming_view", Some("bronze"), true)))
    assert(ds("silver") == (("streaming_table", Some("clean"), true)))
    assert(ds("business") == (("streaming_join_table", Some("silver"), true)))
    assert(ds("gold") == (("materialized_view_auto", Some("silver"), true)))
  }

  test("views resolve lazily and read() prefers materialized tables") {
    val p = new Pipeline(spark, tmpDir("pl_views"))
    var evaluated = false
    p.view("v") { evaluated = true; Seq((1L, "a")).toDF("k", "v") }
    assert(!evaluated) // nothing runs at definition time (DLT semantics)
    assert(p.read("v").count() == 1)
    assert(evaluated)
  }

  test("runFullRefresh(only): a REFRESH SELECTION rebuilds just the named " +
      "table — untouched siblings keep their data files (path and inode), " +
      "downstream join tables re-pin and converge, and the final state " +
      "equals an all-table refresh") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.lake.LakeTable
    val root = tmpDir("pl_refreshsel")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, "click", "a1", 1L), (2L, "view", "b1", 1L)).toDF("k", "typ", "v", "seq"))
    def declare(storage: String): Pipeline = {
      val p = new Pipeline(spark, storage)
      p.inputTable("bronze", bronze)
      p.streamingTable("silver", enableChangeFeed = true)
      p.autoCdcFlow("silver", "bronze", Seq("k"), "seq")
      p.streamingTable("silver2")
      p.autoCdcFlow("silver2", "bronze", Seq("k"), "seq")
      p.view("dim")(Seq(("click", 10L), ("view", 20L)).toDF("typ", "w"))
      p.streamingJoinTable("business", "silver", Seq("k"), "seq")(b =>
        b.join(p.read("dim"), Seq("typ")))
      p
    }
    val p = declare(s"$root/pipe")
    p.runIncremental()
    bronze.append(Seq((1L, "click", "a2", 2L), (3L, "view", "c1", 2L))
      .toDF("k", "typ", "v", "seq"))
    p.runIncremental()
    def files(dir: String): Map[String, Object] =
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.getAttribute(f, "unix:ino")).toMap
    val silver2Before = files(s"$root/pipe/silver2")
    assert(silver2Before.nonEmpty)

    intercept[IllegalArgumentException] { p.runFullRefresh(Set("nope")) }
    p.runFullRefresh(Set("silver"))

    // the untouched sibling kept every data file — zero write amplification
    assert(files(s"$root/pipe/silver2") == silver2Before)
    // rebuilt + re-pinned state equals a from-scratch all-table build
    val fresh = declare(s"$root/fresh")
    fresh.run()
    def rows(pp: Pipeline, name: String) =
      pp.read(name).orderBy("k").collect().toSeq
    assert(rows(p, "silver") == rows(fresh, "silver"))
    assert(rows(p, "business") == rows(fresh, "business"))
    // and the pipeline stays incremental afterwards
    bronze.append(Seq((4L, "click", "d1", 3L)).toDF("k", "typ", "v", "seq"))
    p.runIncremental()
    assert(p.read("silver").count() == 4)
    assert(p.read("business").filter($"k" === 4L).select("w")
      .as[Long].head() == 10L)
  }

  test("commit-recency collapse is PROVENANCE-checked: a chain that " +
      "REDEFINES a same-named sequence column falls back to the raw " +
      "delta — a one-window run agrees with per-commit windows") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_provenance")
    val src = LakeTable(spark, s"$root/src")
    src.create(Seq((1L, 10L, 100L, "seed")).toDF("k", "ts", "updated_at", "v")
      .schema, enableChangeFeed = true)
    src.append(Seq((2L, 1L, 1L, "other")).toDF("k", "ts", "updated_at", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    // the chain REDEFINES `ts`: the flow's sequence is updated_at, but the
    // SOURCE also has a ts column — a by-name collapse would group on the
    // source's ts values, not the flow's
    p.streamingView("clean", "src")(df =>
      df.select(col("k"), col("updated_at").as("ts"), col("v")))
    p.streamingTable("silver")
    p.autoCdcFlow("silver", "clean", Seq("k"), "ts")
    p.runIncremental() // bootstrap materializes silver and pins the ledger
    // ONE window, two commits rewriting k=1 at the SAME source ts with
    // DESCENDING flow sequence: a source-grain collapse keeps only the
    // newer commit's image (updated_at=50) and silently discards the
    // higher-sequenced event — per-commit windows would keep it via the
    // >= merge guard
    src.merge(Seq((1L, 10L, 100L, "keep")).toDF("k", "ts", "updated_at", "v"),
      Seq("k"))
    src.merge(Seq((1L, 10L, 50L, "stale")).toDF("k", "ts", "updated_at", "v"),
      Seq("k"))
    p.runIncremental()
    assert(p.read("silver").filter($"k" === 1L).select("v")
      .as[String].head() == "keep")
    assert(p.read("silver").filter($"k" === 1L).select("ts")
      .as[Long].head() == 100L)
  }

  test("a streaming-select table FEEDING a streamingJoinTable refreshes " +
      "BEFORE it: the join enriches THIS run's select rows, not last " +
      "run's") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_joinfeed")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "click", 1L)).toDF("k", "typ", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    // NOT input-rooted early refresh: route through a declared table so
    // the select table sits squarely in runTail
    p.inputTable("bronze", bronze)
    p.streamingSelectTable("clean", "bronze")(df => df.filter(col("typ").isNotNull))
    p.view("dim")(Seq(("click", 10L), ("view", 20L)).toDF("typ", "w"))
    p.streamingJoinTable("biz", "clean", Seq("k"), "seq")(b =>
      b.join(p.read("dim"), Seq("typ")))
    p.runIncremental()
    assert(p.read("biz").select("k", "w").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L)))
    bronze.append(Seq((2L, "view", 2L)).toDF("k", "typ", "seq"))
    p.runIncremental()
    // without the pre-join select refresh, run 2's join window reads only
    // run 1's clean rows — k=2 lags one run behind
    assert(p.read("biz").orderBy("k").select("k", "w")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L), (2L, 20L)))
  }

  test("LAKE-format sink: an external write-only destination — append " +
      "flows deliver EXACTLY-ONCE across incremental, idle, snapshot, and " +
      "full-refresh runs; the sink survives full refresh untouched") {
    import graft.lake.LakeTable
    val root = tmpDir("p_sink_lake")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    // the sink path lives OUTSIDE the pipeline root — a downstream team's
    // landing zone
    p.sink("out", s"$root/external/out", "lake")
    p.appendFlowStream("out", "bronze", name = "deliver")(
      df => df.filter(col("k") > 0))
    p.runIncremental()
    val ext = LakeTable(spark, s"$root/external/out")
    def rows = ext.read.orderBy("k").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "b")))
    // idle incremental run delivers nothing
    p.runIncremental()
    assert(rows == Seq((1L, "a"), (2L, "b")))
    // a new window delivers ONLY the delta
    bronze.append(Seq((3L, "c")).toDF("k", "v"))
    p.runIncremental()
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // snapshot run at an unchanged source: a sink never re-lands
    p.run()
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // full refresh resets pipeline TABLES, never the external sink — and
    // the flow ledger rides the sink, so nothing re-delivers
    p.runFullRefresh()
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // sinks are write-only: not a dataset, not readable
    intercept[Exception] { p.read("out") }
    // and a sink flow shows up in the event log under its own name
    assert(p.eventLog.filter(col("dataset") === "deliver").count() > 0)
  }

  test("RAW-format sink (jsonl/parquet): windows land as files with the " +
      "ledger on the internal sink-state table — at-least-once, idle runs " +
      "deliver nothing, plain view flows into sinks are refused") {
    import graft.lake.LakeTable
    val root = tmpDir("p_sink_raw")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.sink("outp", s"$root/external/outp", "parquet")
    p.sink("outj", s"$root/external/outj", "jsonl")
    p.appendFlowStream("outp", "bronze", name = "dp")()
    p.appendFlowStream("outj", "bronze", name = "dj")(df =>
      df.select(col("k"), col("v")))
    p.runIncremental()
    def pq = spark.read.parquet(s"$root/external/outp")
      .orderBy("k").as[(Long, String)].collect().toSeq
    def jl = spark.read.json(s"$root/external/outj")
      .select(col("k"), col("v")).orderBy("k").as[(Long, String)].collect().toSeq
    assert(pq == Seq((1L, "a"), (2L, "b")))
    assert(jl == Seq((1L, "a"), (2L, "b")))
    // idle run: ledger says up-to-date, no new files
    p.runIncremental()
    assert(pq == Seq((1L, "a"), (2L, "b")))
    // delta window in SNAPSHOT mode too — sinks always drain the window
    bronze.append(Seq((3L, "c")).toDF("k", "v"))
    p.run()
    assert(pq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(jl == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a plain (view) append flow can't target a sink
    intercept[IllegalArgumentException] {
      p.appendFlow("outp")(bronze.read)
    }
    // a sink name can't collide with a dataset and formats are validated
    intercept[IllegalArgumentException] { p.sink("bronze", s"$root/x") }
    intercept[IllegalArgumentException] { p.sink("k", s"$root/x", "kafka") }
  }

  test("every change-feed consumer reads its stream window by one rule: " +
      "bootstrap, delta, up-to-date, empty, full-rewrite and vacuumed " +
      "windows for CDC flows, join tables, select tables, append flows, " +
      "lake sinks and raw sinks") {
    import graft.lake.LakeTable
    type Row3 = (Long, String, Long)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Row3] =
      df.select("k", "v", "seq").as[(Long, String, Long)].collect().toSeq.sorted
    /** One consumer of the input `bronze` under `<root>/pipe`: its
     *  declaration, its event-log dataset, its rows and its ledger. */
    final case class Consumer(kind: String, dataset: String,
        declare: (Pipeline, String) => Unit,
        rows: (Pipeline, String) => Seq[Row3],
        ledger: (Pipeline, String) => Option[Long])
    val consumers = Seq(
      Consumer("cdc flow", "cdc",
        (p, _) => {
          p.streamingTable("cdc"); p.autoCdcFlow("cdc", "bronze", Seq("k"), "seq"); ()
        },
        (p, _) => rowsOf(p.read("cdc")),
        (p, _) => p.table("cdc").lastTxnVersion("graft.flow.cdc")),
      Consumer("join table", "joined",
        (p, _) => {
          p.streamingJoinTable("joined", "bronze", Seq("k"), "seq")(identity); ()
        },
        (p, _) => rowsOf(p.read("joined")),
        (p, _) => p.table("joined").lastTxnVersion("graft.jointable.joined")),
      Consumer("select table", "sel",
        (p, _) => { p.streamingSelectTable("sel", "bronze")(identity); () },
        (p, _) => rowsOf(p.read("sel")),
        (p, _) => p.table("sel").lastTxnVersion("graft.sttable.sel")),
      Consumer("append flow", "land",
        (p, _) => {
          p.streamingTable("landed")
          p.appendFlowStream("landed", "bronze", name = "land")(); ()
        },
        (p, _) => rowsOf(p.read("landed")),
        (p, _) => p.table("landed").lastTxnVersion("graft.appendflow.land")),
      Consumer("lake sink", "tolake",
        (p, root) => {
          p.sink("lsink", s"$root/lsink")
          p.appendFlowStream("lsink", "bronze", name = "tolake")(); ()
        },
        (_, root) => rowsOf(LakeTable(spark, s"$root/lsink").read),
        (_, root) =>
          LakeTable(spark, s"$root/lsink").lastTxnVersion("graft.appendflow.tolake")),
      Consumer("raw sink", "toraw",
        (p, root) => {
          p.sink("rsink", s"$root/rsink", "parquet")
          p.appendFlowStream("rsink", "bronze", name = "toraw")(); ()
        },
        (_, root) => rowsOf(spark.read.parquet(s"$root/rsink")),
        (_, root) => LakeTable(spark, s"$root/pipe/__sinkstate")
          .lastTxnVersion("graft.sinkflow.toraw")))

    /** A run's outcome: the consumer's rows, its ledger, and its one event
     *  message — or a refusal (the message's prefix) that leaves rows and
     *  ledger as they were. */
    sealed trait Outcome
    final case class Ran(rows: Seq[Row3], ledger: Long, message: String)
      extends Outcome
    final case class Refused(message: String, rows: Seq[Row3], ledger: Long)
      extends Outcome

    val b0 = Seq((1L, "a", 1L), (2L, "b", 1L))
    val upsert1 = Seq((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 1L))
    val append1 = (b0 ++ Seq((1L, "a2", 2L), (3L, "c", 1L))).sorted
    val upsert3 = Seq((1L, "a2", 2L), (2L, "b2", 2L), (3L, "c", 1L), (4L, "d", 1L))
    val rewritten = Seq((2L, "b2", 2L), (4L, "d", 1L))
    val all4 = b0 ++ Seq((3L, "c", 1L), (4L, "d", 1L))
    def cdc(span: String) = s"cdc flow cdc from bronze (scd1, incremental $span)"
    def rewriteRefusal(consumer: String) = s"requirement failed: $consumer " +
      "consumes an append-only stream, but versions [3, 3] of its source span " +
      "a full-rewrite commit — an append-only consumer cannot replay a " +
      "rewritten source without duplicating (full-refresh this pipeline, or " +
      "keep the source append-only)"
    def vacuumRefusal(consumer: String) = s"requirement failed: $consumer " +
      "consumes an append-only stream, but VACUUM reclaimed the change data " +
      "of versions [1, 3] of its source — an append-only consumer cannot " +
      "re-read them (full-refresh this pipeline, or vacuum the source with " +
      "a longer retention)"

    // (state, what the source commits before the run) in run order; every
    // scenario starts from `b0` at v0 and a bootstrap run
    val steady: Seq[(String, LakeTable => Unit)] = Seq(
      "bootstrap" -> (_ => ()),
      "delta" ->
        (b => b.append(Seq((3L, "c", 1L), (1L, "a2", 2L)).toDF("k", "v", "seq"))),
      "up-to-date" -> (_ => ()),
      "empty" -> (b => b.setTableProperties(Map("note" -> "metadata only"))),
      "full rewrite" ->
        (b => b.overwrite(Seq((4L, "d", 1L), (2L, "b2", 2L)).toDF("k", "v", "seq"))))
    val vacuum: Seq[(String, LakeTable => Unit)] = Seq(
      "bootstrap" -> (_ => ()),
      "vacuumed" -> { b =>
        b.append(Seq((3L, "c", 1L)).toDF("k", "v", "seq"))
        b.append(Seq((4L, "d", 1L)).toDF("k", "v", "seq"))
        b.optimizeCompact()
        b.vacuum(1)
        assert(!b.feedReadable(1, b.currentVersion))
      })
    // expected outcomes per consumer, aligned with `steady` ++ `vacuum`
    val expected: Map[String, Seq[Outcome]] = Map(
      "cdc flow" -> Seq(
        Ran(b0, 0, cdc("v0..v0")), Ran(upsert1, 1, cdc("v1..v1")),
        Ran(upsert1, 1, cdc("up-to-date")), Ran(upsert1, 2, cdc("v2..v2 empty")),
        Ran(upsert3, 3, cdc("v3..v3")),
        Ran(b0, 0, cdc("v0..v0")), Ran(all4, 3, cdc("v1..v3"))),
      "join table" -> Seq(
        Ran(b0, 0, "join-table merge from bronze (incremental v0..v0)"),
        Ran(upsert1, 1, "join-table merge from bronze (incremental v1..v1)"),
        Ran(upsert1, 1, "join-table from bronze (incremental up-to-date)"),
        Ran(upsert1, 2, "join-table from bronze (incremental v2..v2 empty)"),
        Ran(upsert3, 3, "join-table merge from bronze (incremental v3..v3)"),
        Ran(b0, 0, "join-table merge from bronze (incremental v0..v0)"),
        Ran(all4, 3, "join-table merge from bronze (incremental v1..v3)")),
      "select table" -> Seq(
        Ran(b0, 0, "select-table append from bronze (incremental v0..v0)"),
        Ran(append1, 1, "select-table append from bronze (incremental v1..v1)"),
        Ran(append1, 1, "select-table from bronze (incremental up-to-date)"),
        Ran(append1, 2, "select-table append from bronze (incremental v2..v2)"),
        Ran(rewritten, 3, "select-table refresh (recompute @ v3 — source " +
          "window v3..v3 is unreadable)"),
        Ran(b0, 0, "select-table append from bronze (incremental v0..v0)"),
        Ran(all4, 3, "select-table refresh (recompute @ v3 — source window " +
          "v1..v3 is unreadable)")),
      "append flow" -> Seq(
        Ran(b0, 0, "append into landed (incremental v0..v0)"),
        Ran(append1, 1, "append into landed (incremental v1..v1)"),
        Ran(append1, 1, "append into landed (incremental up-to-date)"),
        Ran(append1, 2, "append into landed (incremental v2..v2)"),
        Refused(rewriteRefusal("append flow land"), append1, 2),
        Ran(b0, 0, "append into landed (incremental v0..v0)"),
        Refused(vacuumRefusal("append flow land"), b0, 0)),
      "lake sink" -> Seq(
        Ran(b0, 0, "append into lsink (incremental v0..v0)"),
        Ran(append1, 1, "append into lsink (incremental v1..v1)"),
        Ran(append1, 1, "append into lsink (incremental up-to-date)"),
        Ran(append1, 2, "append into lsink (incremental v2..v2)"),
        Refused(rewriteRefusal("append flow tolake"), append1, 2),
        Ran(b0, 0, "append into lsink (incremental v0..v0)"),
        Refused(vacuumRefusal("append flow tolake"), b0, 0)),
      "raw sink" -> Seq(
        Ran(b0, 0, "sink append into rsink (v0..v0, at-least-once)"),
        Ran(append1, 1, "sink append into rsink (v1..v1, at-least-once)"),
        Ran(append1, 1, "sink rsink (up-to-date)"),
        Ran(append1, 2, "sink append into rsink (v2..v2, at-least-once)"),
        Refused(rewriteRefusal("sink flow toraw"), append1, 2),
        Ran(b0, 0, "sink append into rsink (v0..v0, at-least-once)"),
        Refused(vacuumRefusal("sink flow toraw"), b0, 0)))

    def lastMessages(p: Pipeline, dataset: String): Seq[String] = {
      val log = p.eventLog
      val run = log.agg(max("run_id")).head().getLong(0)
      log.filter(col("run_id") === run && col("dataset") === dataset)
        .select("message").as[String].collect().toSeq
    }
    for (c <- consumers;
         (scenario, states) <- Seq("steady" -> steady, "vacuum" -> vacuum)) {
      val root = tmpDir(s"pl_window_${c.dataset}_$scenario")
      val bronze = LakeTable(spark, s"$root/bronze")
      bronze.append(b0.toDF("k", "v", "seq"))
      val p = new Pipeline(spark, s"$root/pipe")
      p.inputTable("bronze", bronze)
      c.declare(p, root)
      val outcomes =
        expected(c.kind).drop(if (scenario == "steady") 0 else steady.size)
      states.zip(outcomes).foreach { case ((state, commit), outcome) =>
        commit(bronze)
        val cell = s"${c.kind} / $state"
        outcome match {
          case Ran(rows, ledger, message) =>
            p.runIncremental()
            assert(lastMessages(p, c.dataset) == Seq(message), cell)
            assert(c.rows(p, root) == rows, cell)
            assert(c.ledger(p, root).contains(ledger), cell)
          case Refused(message, rows, ledger) =>
            val e = intercept[IllegalArgumentException](p.runIncremental())
            assert(e.getMessage.startsWith(message), s"$cell: ${e.getMessage}")
            assert(c.rows(p, root) == rows, cell)
            assert(c.ledger(p, root).contains(ledger), cell)
        }
      }
    }
  }

  test("a snapshot run pins and stamps a CDC flow's read: runIncremental " +
      "after run() with no source commit in between commits nothing, while " +
      "run() after run() still re-applies") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_cdc_stamp")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.streamingTable("silver")
    p.autoCdcFlow("silver", "bronze", Seq("k"), "seq")
    val silver = p.table("silver")
    def lastMessage(): String = p.eventLog
      .filter(col("dataset") === "silver").orderBy(col("run_id").desc)
      .select("message").as[String].head()
    // a fresh pipeline: the snapshot run stamps the source version it read
    p.run()
    val v1 = silver.currentVersion
    p.runIncremental()
    assert(silver.currentVersion == v1)
    assert(lastMessage() == "cdc flow silver from bronze (scd1, incremental up-to-date)")
    assert(silver.lastTxnVersion("graft.flow.silver").contains(0L))
    // a source commit consumed by a snapshot run is not merged again
    bronze.append(Seq((3L, "c", 1L), (1L, "a2", 2L)).toDF("k", "v", "seq"))
    p.run()
    val v2 = silver.currentVersion
    p.runIncremental()
    assert(silver.currentVersion == v2)
    assert(lastMessage() == "cdc flow silver from bronze (scd1, incremental up-to-date)")
    assert(silver.lastTxnVersion("graft.flow.silver").contains(1L))
    // run() after run(): the ledger is already at the source version, so
    // the snapshot merge re-applies without a stamp
    p.run()
    assert(silver.currentVersion == v2 + 1)
    assert(lastMessage() == "cdc flow silver from bronze (scd1)")
    assert(silver.lastTxnVersion("graft.flow.silver").contains(1L))
    assert(p.read("silver").orderBy("k").as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 1L)))
  }

  test("a CDC flow over an auto-maintained MV that declares a change feed " +
      "reads the MV's presentation in both run modes: the columns and rows " +
      "read(source) returns") {
    import graft.lake.LakeTable
    val root = tmpDir("pl_cdc_automv")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("g", "x"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bronze", bronze)
    p.streamingTable("panel", enableChangeFeed = true)
    p.incrementalAggMv("panel", "bronze", Seq("g"), Seq("x"))
    p.streamingTable("mirror")
    p.autoCdcFlow("mirror", "panel", Seq("g"), "cnt")
    def same(): Unit = {
      val want = p.read("panel")
      val got = p.read("mirror")
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.orderBy("g").collect().toSeq == want.orderBy("g").collect().toSeq)
    }
    p.run() // the panel materializes after the flow has read it
    p.run() // the flow reads the materialized panel, pinned
    same()
    bronze.append(Seq(("b", 1L), ("c", 7L)).toDF("g", "x"))
    p.runIncremental() // the panel takes the commit after the flow
    p.runIncremental() // the flow takes the panel's window
    same()
    bronze.append(Seq(("c", 1L)).toDF("g", "x"))
    p.runIncremental()
    p.run()
    same()
  }
}
