package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Delta type widening (`delta.enableTypeWidening`): a type change along
 *  the lossless lattice is METADATA-ONLY — no data file rewritten at any
 *  table size; old narrow files read through Spark's parquet widening
 *  promotion, post-widen narrow batches are cast up at write. */
class TypeWideningSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def dataFileKeys(root: String): Set[Object] =
    Files.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.getAttribute(_, "fileKey")).toSet

  test("append evolution widens int→long when the property is on; mixed-era read is exact") {
    val t = LakeTable(spark, s"${tmpDir("widen_append")}/t")
    t.append(Seq((1, 10f)).toDF("k", "v"))
    // property off: a wider batch stays loud
    val e = intercept[IllegalArgumentException](
      t.append(Seq((2L, 10f)).toDF("k", "v"), mergeSchema = true))
    assert(e.getMessage.contains("enableTypeWidening"), e.getMessage)
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    t.append(Seq((3000000000L, 20f)).toDF("k", "v"), mergeSchema = true)
    assert(t.schema("k").dataType == LongType)
    assert(t.schema("v").dataType == FloatType)  // untouched column keeps its type
    assert(t.read.orderBy("k").as[(Long, Float)].collect().toSeq ==
      Seq((1L, 10f), (3000000000L, 20f)))
  }

  test("post-widen NARROW batches are absorbed (cast up at write) and read exactly") {
    val t = LakeTable(spark, s"${tmpDir("widen_narrow")}/t")
    t.create(StructType(Seq(StructField("k", LongType), StructField("v", DoubleType))))
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    t.append(Seq((1L, 1.5)).toDF("k", "v"))
    // int/float batch under the long/double schema: absorbed, not rejected
    t.append(Seq((2, 2.5f)).toDF("k", "v"), mergeSchema = true)
    assert(t.schema("k").dataType == LongType)
    assert(t.read.orderBy("k").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.5), (2L, 2.5)))
  }

  test("ALTER COLUMN TYPE is metadata-only: same data files, same inodes") {
    val t = LakeTable(spark, s"${tmpDir("widen_alter")}/t")
    val big = (1 to 50000).map(k => (k, k.toFloat / 3)).toDF("k", "v")
    t.create(big.schema, statsColumns = Seq("k"))
    t.append(big.coalesce(2))
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    val before = dataFileKeys(t.root)
    t.alterColumnType("k", LongType)
    t.alterColumnType("v", DoubleType)
    assert(dataFileKeys(t.root) == before)          // zero files touched
    assert(t.schema("k").dataType == LongType)
    assert(t.schema("v").dataType == DoubleType)
    assert(t.read.agg(sum(col("k"))).head.getLong(0) ==
      (1 to 50000).map(_.toLong).sum)
    // float values widen exactly (1.5f reads as the double 1.5f.toDouble)
    assert(t.read.filter(col("k") === 3).head.getDouble(1) == (3.toFloat / 3).toDouble)
    // zone maps on the widened column still prune, and exactly
    val (kept, skipped) = t.skippingStats("k = 49999")
    assert(skipped >= 1, s"kept=$kept skipped=$skipped")
    assert(t.read.filter("k = 49999").count() == 1)
  }

  test("widening refusals: property off, lossy directions, load-bearing columns") {
    val t = LakeTable(spark, s"${tmpDir("widen_refuse")}/t")
    val df = Seq((1, 2L, "a", 5)).toDF("k", "big", "s", "guarded")
    t.create(df.schema, bloomFilterColumns = Seq("k"))
    t.addCheckConstraint("pos", "guarded > 0")
    t.append(df)
    // property off
    intercept[IllegalArgumentException](t.alterColumnType("big", DoubleType))
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    // lossy / sideways moves refused
    intercept[IllegalArgumentException](t.alterColumnType("big", IntegerType))
    intercept[IllegalArgumentException](t.alterColumnType("big", DoubleType))
    intercept[IllegalArgumentException](t.alterColumnType("s", LongType))
    // bloom-indexed: sidecar hashes are type-sensitive — refuse
    val eb = intercept[IllegalArgumentException](t.alterColumnType("k", LongType))
    assert(eb.getMessage.contains("load-bearing"), eb.getMessage)
    // constraint-referenced: refuse (on both the ALTER and the append path)
    intercept[IllegalArgumentException](t.alterColumnType("guarded", LongType))
    intercept[IllegalArgumentException](t.append(
      Seq((1, 2L, "a", 5L)).toDF("k", "big", "s", "guarded"), mergeSchema = true))
  }

  test("time travel serves pre-widen versions under the old type; CDF serves the current type") {
    val t = LakeTable(spark, s"${tmpDir("widen_tt")}/t")
    t.create(StructType(Seq(StructField("k", IntegerType), StructField("v", IntegerType))),
      enableChangeFeed = true)
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    t.append(Seq((1, 10)).toDF("k", "v"))
    val preWiden = t.currentVersion
    t.alterColumnType("v", LongType)
    t.append(Seq((2, 3000000000L)).toDF("k", "v"), mergeSchema = true)
    assert(t.readVersion(preWiden).schema("v").dataType == IntegerType)
    assert(t.read.schema("v").dataType == LongType)
    // the whole feed — including the pre-widen insert — serves LongType
    val feed = t.readChangeFeed(0)
    assert(feed.schema("v").dataType == LongType)
    assert(feed.filter(col("k") === 1).head.getAs[Long]("v") == 10L)
  }

  test("MERGE on a widened table reads narrow-era files exactly") {
    val t = LakeTable(spark, s"${tmpDir("widen_merge")}/t")
    t.create(StructType(Seq(StructField("k", IntegerType), StructField("v", IntegerType))))
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    t.append(Seq((1, 10), (2, 20)).toDF("k", "v"))   // narrow-era file
    t.alterColumnType("v", LongType)
    t.merge(Seq((2, 200L), (3, 30L)).toDF("k", "v"), Seq("k"))
    assert(t.read.orderBy("k").as[(Int, Long)].collect().toSeq ==
      Seq((1, 10L), (2, 200L), (3, 30L)))
  }

  test("float→double widening cannot WRONGLY prune: float-era stats drop, narrow batches land wide") {
    val t = LakeTable(spark, s"${tmpDir("widen_stats")}/t")
    val df = Seq((1, 0.1f), (2, 0.2f)).toDF("k", "v")
    t.create(df.schema, statsColumns = Seq("k", "v"))
    t.append(df.coalesce(1))
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    t.alterColumnType("v", DoubleType)
    // the promoted double of 0.1f — its decimal rendering disagrees with
    // the float-era stat string "0.1"; stale stats would prune this file
    val promoted = 0.1f.toDouble.toString
    assert(t.read.filter(s"v = $promoted").count() == 1)
    // the INTEGRAL column's stats survived the widen (decimal-exact)
    t.alterColumnType("k", LongType)
    val (_, skipped) = t.skippingStats("k = 999")
    assert(skipped >= 1)
    // a post-widen FLOAT batch is cast up at write: its file carries real
    // doubles, so its stats prune correctly under high-precision bounds
    t.append(Seq((3, 0.3f)).toDF("k", "v"), mergeSchema = true)
    val p3 = 0.3f.toDouble.toString
    assert(t.read.filter(s"v = $p3").count() == 1)
    assert(t.read.filter(col("k") === 3).head.getDouble(1) == 0.3f.toDouble)
  }

  test("APPEND-driven float→double widening also drops float-era stats (no wrong pruning)") {
    // same invariant as the ALTER test, through the other widening door:
    // a wider incoming batch widening the table via append(mergeSchema)
    // must drop the widened float column's zone stats in the SAME commit —
    // float-era stat strings ('0.1') under the promoted double type would
    // WRONGLY prune high-precision predicates (the 0d29a14 bug class).
    val t = LakeTable(spark, s"${tmpDir("widen_append_stats")}/t")
    val df = Seq((1, 0.1f), (2, 0.2f)).toDF("k", "v")
    t.create(df.schema, statsColumns = Seq("k", "v"))
    t.append(df.coalesce(1))
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    t.append(Seq((3, 0.3)).toDF("k", "v"), mergeSchema = true) // double batch widens v
    assert(t.schema("v").dataType == DoubleType)
    // float-era row must be reachable under its promoted double value —
    // with stale float stats the zone map would skip its file
    val promoted = 0.1f.toDouble.toString
    assert(t.read.filter(s"v = $promoted").count() == 1)
    // the INTEGRAL column's stats survived (decimal-exact renderings)
    val (_, skipped) = t.skippingStats("k = 999")
    assert(skipped >= 1)
  }

  test("decimal widening: integral→decimal(p,0) and decimal growth, mixed-era reads exact, stats keep pruning") {
    val t = LakeTable(spark, s"${tmpDir("widen_dec")}/t")
    val df = Seq((1, 2L, BigDecimal("12345.67"))).toDF("i", "l", "d")
      .select(col("i"), col("l"), col("d").cast(DecimalType(10, 2)).as("d"))
    t.create(df.schema, statsColumns = Seq("i", "d"))
    t.append(df)
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    t.alterColumnType("i", DecimalType(18, 0))
    t.alterColumnType("l", DecimalType(20, 0))
    t.alterColumnType("d", DecimalType(12, 4))   // scale AND capacity grow
    // narrow-era file reads exactly under every widened decimal
    val r = t.read.head
    assert(r.getDecimal(0) == new java.math.BigDecimal("1"))
    assert(r.getDecimal(1) == new java.math.BigDecimal("2"))
    assert(r.getDecimal(2) == new java.math.BigDecimal("12345.6700"))
    // decimal renderings are exact: the old stats still prune CORRECTLY
    t.append(Seq((900, 9L, BigDecimal("1.5"))).toDF("i", "l", "d")
      .select(col("i").cast(DecimalType(18, 0)).as("i"),
        col("l").cast(DecimalType(20, 0)).as("l"),
        col("d").cast(DecimalType(12, 4)).as("d")))
    assert(t.read.filter("d = 12345.67").count() == 1)
    assert(t.read.filter("i = 900").count() == 1)
    // lossless guards: integer capacity may never shrink, scale never drop
    intercept[IllegalArgumentException](t.alterColumnType("d", DecimalType(12, 6)))
    intercept[IllegalArgumentException](t.alterColumnType("d", DecimalType(13, 2)))
    ()
  }

  test("SQL: ALTER TABLE … ALTER COLUMN … TYPE dispatches") {
    val t = LakeTable(spark, s"${tmpDir("widen_sql")}/t")
    t.create(StructType(Seq(StructField("k", IntegerType), StructField("v", FloatType))))
    t.append(Seq((7, 1.25f)).toDF("k", "v"))
    LakeSql.register("widen_sql_t", t)
    try {
      intercept[Exception](spark.sql(
        "ALTER TABLE widen_sql_t ALTER COLUMN k TYPE BIGINT"))  // property off
      spark.sql(
        "ALTER TABLE widen_sql_t SET TBLPROPERTIES ('delta.enableTypeWidening' = 'true')")
      spark.sql("ALTER TABLE widen_sql_t ALTER COLUMN k TYPE BIGINT")
      spark.sql("ALTER TABLE widen_sql_t ALTER COLUMN v TYPE DOUBLE")
      assert(t.schema("k").dataType == LongType)
      assert(spark.sql("SELECT k, v FROM widen_sql_t").head.getLong(0) == 7L)
    } finally LakeSql.unregister("widen_sql_t")
  }
}
