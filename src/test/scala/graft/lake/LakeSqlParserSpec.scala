package graft.lake

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.SparkSpec

/** The one SQL front door: on a session built with GraftExtensions, plain
 *  `spark.sql` runs every lake statement exactly once, hands every other
 *  plan to Spark, and lets Spark's own errors speak. */
class LakeSqlParserSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: LakeTable): Seq[String] =
    t.read.collect().map(_.toString).sorted.toSeq

  test("a mutating statement of each kind advances its table by exactly " +
      "the versions the matching LakeTable call does") {
    val root = tmpDir("door_versions")
    Seq((2L, "b2"), (3L, "c")).toDF("k", "v").createOrReplaceTempView("door_src")
    def twins(kind: String): (LakeTable, LakeTable) = {
      val Seq(a, b) = Seq("sql", "api").map { side =>
        val t = LakeTable(spark, s"$root/$kind/$side")
        t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
        t.append(Seq((4L, "d")).toDF("k", "v").coalesce(1))
        t
      }
      (a, b)
    }
    val cases: Seq[(String, String, LakeTable => Unit)] = Seq(
      ("merge", """MERGE INTO door_t AS t USING door_src AS s ON t.k = s.k
                   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""",
        _.merge(spark.table("door_src"), Seq("k"))),
      ("delete", "DELETE FROM door_t WHERE k % 2 = 0", _.deleteWhere("k % 2 = 0")),
      ("update", "UPDATE door_t SET v = upper(v) WHERE k % 2 = 1",
        _.updateWhere("k % 2 = 1", Map("v" -> upper(col("v"))))),
      ("insert", "INSERT INTO door_t VALUES (9, 'z')",
        _.append(Seq((9L, "z")).toDF("k", "v"))),
      ("insert overwrite", "INSERT OVERWRITE door_t VALUES (9, 'z')",
        _.overwrite(Seq((9L, "z")).toDF("k", "v"))),
      ("replace where", "INSERT INTO door_t REPLACE WHERE k >= 4 VALUES (5, 'e')",
        t => { t.overwriteWhere("k >= 4", Seq((5L, "e")).toDF("k", "v")); () }),
      ("optimize", "OPTIMIZE door_t", t => { t.optimizeCompact(); () }),
      ("vacuum", "VACUUM door_t RETAIN 1 VERSIONS", _.vacuum(1)),
      ("restore", "RESTORE TABLE door_t TO VERSION AS OF 0", _.restore(0)),
      ("add constraint", "ALTER TABLE door_t ADD CONSTRAINT pos CHECK (k > 0)",
        _.addCheckConstraint("pos", "k > 0")),
      ("add columns", "ALTER TABLE door_t ADD COLUMNS (w INT)",
        _.addColumns(Seq("w" -> IntegerType))),
      ("rename column", "ALTER TABLE door_t RENAME COLUMN v TO name",
        _.renameColumn("v", "name")),
      ("set properties", "ALTER TABLE door_t SET TBLPROPERTIES ('team' = 'ops')",
        _.setTableProperties(Map("team" -> "ops"))))
    for ((kind, sql, api) <- cases) {
      val (a, b) = twins(kind.replace(' ', '_'))
      LakeSql.register("door_t", a)
      try {
        spark.sql(sql)
        api(b)
      } finally LakeSql.unregister("door_t")
      assert(a.currentVersion == b.currentVersion, kind)
      assert(rows(a) == rows(b), kind)
    }
    // the parser's other entry takes the same dispatch, once
    val (a, b) = twins("parse_plan")
    LakeSql.register("door_t", a)
    try spark.sessionState.sqlParser.parsePlan("DELETE FROM door_t WHERE k = 1")
    finally LakeSql.unregister("door_t")
    b.deleteWhere("k = 1")
    assert(a.currentVersion == b.currentVersion)
    assert(rows(a) == rows(b))
    spark.catalog.dropTempView("door_src")
  }

  test("DELETE, INSERT and SHOW PARTITIONS over a temp view that is not a " +
      "registered lake name reach Spark's own handling") {
    val root = tmpDir("door_views")
    Seq((1L, "a", "p")).toDF("k", "v", "pt").write.parquet(s"$root/files")
    spark.sql(s"CREATE TEMPORARY VIEW door_files USING parquet " +
      s"OPTIONS (path '$root/files')")
    val t = LakeTable(spark, s"$root/lake")
    t.overwrite(Seq((1L, "a", "p")).toDF("k", "v", "pt"), Some("pt"))
    LakeSql.register("door_lake", t)
    try {
      // Spark inserts into a file-backed temp view itself
      spark.sql("INSERT INTO door_files VALUES (2, 'b', 'q')")
      assert(spark.read.parquet(s"$root/files").count() == 2L)
      // and refuses DELETE and SHOW PARTITIONS on it with its own errors
      Seq("DELETE FROM door_files WHERE k = 1", "SHOW PARTITIONS door_files")
        .foreach { q =>
          val e = intercept[Exception](spark.sql(q))
          assert(e.isInstanceOf[SparkThrowable], s"$q: $e")
        }
      // the same statements over the registered lake name run on the lake
      spark.sql("INSERT INTO door_lake VALUES (2, 'b', 'q')")
      assert(spark.sql("DELETE FROM door_lake WHERE k = 1").as[Long].head() == 1L)
      assert(spark.sql("SHOW PARTITIONS door_lake").as[String].collect().toSeq ==
        Seq("pt=p", "pt=q"))
      assert(t.read.count() == 1L)
    } finally {
      LakeSql.unregister("door_lake")
      spark.catalog.dropTempView("door_files")
    }
  }

  test("text that neither grammar accepts raises Spark's ParseException; " +
      "text only the lake grammar accepts runs") {
    val t = LakeTable(spark, s"${tmpDir("door_parse")}/t")
    t.append(Seq((1L, "a")).toDF("k", "v"))
    LakeSql.register("door_p", t)
    try {
      Seq("SELEKT 1", "OPTIMIZE", "OPTIMIZE door_p ZORDER BY",
          "VACUUM door_p RETAIN many VERSIONS", "RESTORE door_p").foreach { q =>
        val e = intercept[ParseException](spark.sql(q))
        assert(e.getCondition == "PARSE_SYNTAX_ERROR", s"$q: ${e.getMessage}")
      }
      assert(t.currentVersion == 0L)
      assert(spark.sql("DESCRIBE HISTORY door_p").count() == 1L)
      assert(spark.sql("OPTIMIZE door_p").columns.toSeq ==
        Seq("files_rewritten", "files_linked", "bytes_rewritten"))
    } finally LakeSql.unregister("door_p")
  }

  test("EXPLAIN of a lake statement commits nothing; the statement itself " +
      "commits once") {
    val t = LakeTable(spark, s"${tmpDir("door_explain")}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Seq((2L, "b2")).toDF("k", "v").createOrReplaceTempView("door_e_src")
    LakeSql.register("door_e", t)
    try {
      val statements = Seq(
        """MERGE INTO door_e AS t USING door_e_src AS s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""",
        "DELETE FROM door_e WHERE k = 1",
        "UPDATE door_e SET v = 'x' WHERE k % 2 = 0",
        "INSERT INTO door_e VALUES (3, 'c')")
      statements.foreach { q =>
        spark.sql(s"EXPLAIN $q").collect()
        spark.sql(s"EXPLAIN EXTENDED $q").collect()
      }
      intercept[ParseException](spark.sql("EXPLAIN OPTIMIZE door_e"))
      assert(t.currentVersion == 0L)
      statements.zipWithIndex.foreach { case (q, i) =>
        spark.sql(q)
        assert(t.currentVersion == i + 1L, q)
      }
    } finally {
      LakeSql.unregister("door_e")
      spark.catalog.dropTempView("door_e_src")
    }
  }
}
