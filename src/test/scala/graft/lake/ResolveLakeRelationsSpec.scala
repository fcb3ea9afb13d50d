package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The injected analyzer rule: LakeSql-registered tables resolve inside
 *  PLAIN `spark.sql` text on a session built with GraftExtensions — the
 *  fixture session is one. */
class ResolveLakeRelationsSpec extends SparkSpec {
  import spark.implicits._

  test("an extended session queries registered lake tables via plain spark.sql") {
    val t = LakeTable(spark, s"${tmpDir("resolve_e2e")}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.deleteWhere("k = 1") // live DV: a naive path read would still see k=1
    LakeSql.register("native_t", t)
    try {
      assert(spark.sessionState.sqlParser.isInstanceOf[LakeSqlParser],
        "the fixture session lacks GraftExtensions — the extension would " +
          "not be applied")
      // plain SELECT: DV-filtered snapshot
      assert(spark.sql("SELECT count(*) AS n FROM native_t")
        .collect().head.getLong(0) == 1L)
      // time travel text resolves through the same rule
      assert(spark.sql("SELECT count(*) AS n FROM native_t VERSION AS OF 0")
        .collect().head.getLong(0) == 2L)
      // freshness: a commit between two spark.sql calls is visible
      t.append(Seq((3L, "c")).toDF("k", "v"))
      assert(spark.sql("SELECT count(*) AS n FROM native_t")
        .collect().head.getLong(0) == 2L)
      // a temp view with the same name wins (catalog precedence)
      spark.range(5).createOrReplaceTempView("native_t")
      assert(spark.sql("SELECT count(*) AS n FROM native_t")
        .collect().head.getLong(0) == 5L)
      spark.catalog.dropTempView("native_t")
      // unregistered names still fail with Spark's own error
      intercept[Exception](spark.sql("SELECT * FROM not_a_table").collect())
    } finally LakeSql.unregister("native_t")
  }

  test("the rule is a no-op on plans without registered relations") {
    val plan = spark.sessionState.sqlParser.parsePlan("SELECT 1 AS one")
    assert(new ResolveLakeRelations(spark)(plan) eq plan)
  }

  test("table_changes resolves in native spark.sql on an extended session") {
    val t = LakeTable(spark, s"${tmpDir("resolve_tvf")}/t").create(
      Seq((0L, "")).toDF("k", "v").schema, enableChangeFeed = true)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))                 // v1
    t.merge(Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), Seq("k"))        // v2
    LakeSql.register("tvf_t", t)
    val q = "SELECT _change_type, COUNT(*) FROM table_changes('tvf_t', 1, 2) GROUP BY 1"
    val viaApi = t.readChangeFeed(1, Some(2)).groupBy(LakeTable.ChangeTypeCol)
      .count().collect().map(_.toString).sorted.toSeq
    try {
      assert(spark.sessionState.sqlParser.isInstanceOf[LakeSqlParser])
      val native = spark.sql(q).collect().map(_.toString).sorted.toSeq
      assert(native == viaApi)
      assert(native == Seq("[insert,3]", "[update_postimage,1]",
        "[update_preimage,1]"), native.toString)
    } finally LakeSql.unregister("tvf_t")
  }
}
