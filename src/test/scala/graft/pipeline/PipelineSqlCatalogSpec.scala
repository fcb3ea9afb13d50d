package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.LakeTable

/** `Pipeline.exposeSql`: pipeline datasets become SQL-addressable — plain
 *  tables as FULL lake tables (DML/time travel work), presented auto-MVs
 *  as READ-ONLY relations serving exactly the declared columns, never the
 *  hidden maintenance state. */
class PipelineSqlCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("exposed datasets resolve through LakeSql and native spark.sql; presented MVs hide internals and stay read-only") {
    val root = tmpDir("pl_cat")
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (1L, "a", 10L, ts("2024-01-01 00:00:00")),
      (2L, "a", 20L, ts("2024-01-01 00:00:00")),
      (3L, "b", 30L, ts("2024-01-01 00:00:00"))).toDF("k", "g", "x", "seq"))
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("cat_bronze", bronze)
    p.streamingTable("cat_silver")
    p.autoCdcFlow("cat_silver", "cat_bronze", Seq("k"), "seq")
    // auto-maintained MV WITHOUT a declared COUNT(*): the backing table
    // carries a hidden group-death counter a SQL reader must never see
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW cat_panel AS
      SELECT g, SUM(x) AS s FROM cat_silver GROUP BY g""")
    p.runIncremental()
    p.exposeSql()
    try {
      // full table: SELECT, time travel, even DML through SQL
      assert(spark.sql("SELECT count(*) AS n FROM cat_silver")
        .head.getLong(0) == 3L)
      // presented MV: exactly the declared columns — no hidden counter
      val panel = spark.sql(
        "SELECT * FROM cat_panel ORDER BY g")
      assert(panel.columns.toSeq == Seq("g", "s"))
      assert(panel.as[(String, Long)].collect().toSeq ==
        Seq(("a", 30L), ("b", 30L)))
      // the relation is resolved FRESH per query — a pipeline refresh
      // between two statements is visible
      bronze.append(Seq((4L, "b", 5L, ts("2024-02-01 00:00:00")))
        .toDF("k", "g", "x", "seq"))
      p.runIncremental()
      assert(spark.sql("SELECT s FROM cat_panel WHERE g = 'b'")
        .head.getLong(0) == 35L)
      // read-only: DML against the presented MV refuses (it is not a
      // registered lake TABLE)
      intercept[Exception](spark.sql(
        "DELETE FROM cat_panel WHERE g = 'a'"))
      // joins compose across exposed datasets
      assert(spark.sql(
        """SELECT count(*) AS n FROM cat_silver t JOIN cat_panel m
           ON t.g = m.g""").head.getLong(0) == 4L)
      // DLT's event_log() surface: the pipeline's event log by name
      assert(spark.sql(
        "SELECT count(*) AS n FROM event_log WHERE event_type = 'flow_progress'")
        .head.getLong(0) >= 2L)
      // native spark.sql through the session extension, on the fixture
      // session itself
      assert(spark.sessionState.sqlParser.isInstanceOf[graft.lake.LakeSqlParser])
      assert(spark.sql("SELECT s FROM cat_panel WHERE g = 'b'")
        .collect().head.getLong(0) == 35L)
    } finally p.unexposeSql()
    // after unexpose the names are gone
    intercept[Exception](spark.sql("SELECT * FROM cat_panel"))
  }
}
