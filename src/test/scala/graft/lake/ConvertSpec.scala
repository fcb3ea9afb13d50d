package graft.lake

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CONVERT (Delta `CONVERT TO DELTA` role): adopt an existing plain-parquet
 *  directory as a lake table by hard link — zero rewrite, source untouched,
 *  full table semantics (DML, time travel, CDF, skipping) from version 0. */
class ConvertSpec extends SparkSpec {
  import spark.implicits._

  private def fileKeys(dir: String): Set[AnyRef] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey())
      .toSet

  test("convert adopts a parquet dir by hard link; source untouched; DML works") {
    val base = tmpDir("convert_flat")
    val src = s"$base/src"
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "v", "n").repartition(2).write.parquet(src)
    val srcKeysBefore = fileKeys(src)

    val t = LakeTable(spark, s"$base/t").convertFrom(src)
    // same rows, schema from footers
    assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)))
    assert(t.history == Seq((0L, "convert")))
    // adopted files SHARE inodes with the source: zero bytes moved
    val adopted = fileKeys(s"$base/t")
    assert(srcKeysBefore.subsetOf(adopted), "adopted files are not links")
    assert(fileKeys(src) == srcKeysBefore, "source files changed")
    // the table is fully functional from v0: append, MoR delete, time travel
    t.append(Seq((4L, "d", 40)).toDF("k", "v", "n"))
    assert(t.deleteWhere("n = 20") == 1L)
    assert(t.read.orderBy("k").as[(Long, String, Int)].collect().toSeq ==
      Seq((1L, "a", 10), (3L, "c", 30), (4L, "d", 40)))
    assert(t.readVersion(0).count() == 3)
    // the SOURCE directory still reads as plain parquet, all rows
    assert(spark.read.parquet(src).count() == 3)
  }

  test("convert with a Hive layout: partition ownership, pruning, stats") {
    val base = tmpDir("convert_part")
    val src = s"$base/src"
    Seq((1L, "1996", 5.0), (2L, "1996", 7.0), (3L, "1997", 9.0), (4L, "1998", 2.0))
      .toDF("id", "year", "price")
      .repartition(col("year")).write.partitionBy("year").parquet(src)

    val t = LakeTable(spark, s"$base/t")
      .convertFrom(src, partitionBy = Some("year"), statsColumns = Seq("price"))
    assert(t.partitionColumn.contains("year"))
    assert(t.ownedPartitionValues.sorted == Seq("1996", "1997", "1998"))
    assert(t.read.filter("year = '1997'").as[(Long, Double, String)]
      .collect().toSeq.map(_._1) == Seq(3L))
    // zone maps were collected at convert: a narrow price range prunes files
    val (kept, skipped) = t.skippingStats("price = 2.0")
    assert(skipped > 0, s"expected pruning, kept=$kept skipped=$skipped")
    assert(t.read.filter("price = 2.0")
      .as[(Long, Double, String)].collect().toSeq.map(_._1) == Seq(4L))
  }

  test("change feed and streaming tail treat the converted base as inserts") {
    val base = tmpDir("convert_cdf")
    val src = s"$base/src"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1).write.parquet(src)
    val t = LakeTable(spark, s"$base/t").convertFrom(src)
    val cdf = t.readChangeFeed(0, Some(0))
    assert(cdf.select("k", "_change_type").as[(Long, String)].collect().toSet ==
      Set((1L, "insert"), (2L, "insert")))
    val tail = ChangeFeedTail(t, s"$base/ck")
    val batch = tail.poll().get
    assert(batch.changes.get.count() == 2)
    tail.commit(batch.toVersion)
    assert(tail.poll().isEmpty)
  }

  test("guards: existing table, Hive layout without partitionBy, empty dir") {
    val base = tmpDir("convert_guards")
    Seq((1, "x")).toDF("a", "p").write.partitionBy("p").parquet(s"$base/hive")
    intercept[IllegalArgumentException](
      LakeTable(spark, s"$base/t1").convertFrom(s"$base/hive"))
    Seq((1, 2)).toDF("a", "b").write.parquet(s"$base/flat")
    val t = LakeTable(spark, s"$base/t2")
    t.append(Seq((1, 2)).toDF("a", "b"))
    intercept[IllegalArgumentException](t.convertFrom(s"$base/flat"))
    Files.createDirectories(Paths.get(s"$base/empty"))
    intercept[IllegalArgumentException](
      LakeTable(spark, s"$base/t3").convertFrom(s"$base/empty"))
  }

  test("CONVERT TO LAKE SQL statement registers a queryable table") {
    val base = tmpDir("convert_sql")
    val src = s"$base/src"
    Seq((1L, 5.0), (2L, 11.0), (3L, 7.0)).toDF("k", "amount").write.parquet(src)
    try {
      val res = spark.sql(
        s"CONVERT TO LAKE parquet.`$src` AS conv_t LOCATION '$base/t' " +
          "STATS ON (amount)")
      assert(res.columns.toSeq == Seq("table", "version", "num_files"))
      assert(spark.sql(
          "SELECT count(*) AS n FROM conv_t WHERE amount > 6").as[Long].head() == 2L)
      // stats landed: the registered table prunes on amount
      intercept[IllegalArgumentException](spark.sql(
        s"CONVERT TO LAKE parquet.`$src` AS conv_t LOCATION '$base/t2'"))
    } finally LakeSql.unregister("conv_t")
  }
}
