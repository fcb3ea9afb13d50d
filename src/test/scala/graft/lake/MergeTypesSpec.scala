package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** A MERGE source column whose type differs from the table's: its values
  * land in the table's type when the cast is lossless, the table widens
  * only under schema evolution and the type-widening property, and any
  * other difference is refused naming the column — the table's type never
  * changes as a side effect of the merge projection. */
class MergeTypesSpec extends SparkSpec {
  import spark.implicits._

  /** STRING `id` holding '07' and '08': an INT source key 7 matches '07'
    * through the join's comparison. */
  private def stringKeyed(cdf: Boolean): LakeTable = {
    val t = LakeTable(spark, s"${tmpDir("mtypes")}/t")
    t.create(Seq(("", "")).toDF("id", "v").schema, enableChangeFeed = cdf)
    t.append(Seq(("07", "old"), ("08", "x")).toDF("id", "v"))
    t
  }

  for (viaSql <- Seq(false, true); cdf <- Seq(false, true)) {
    val how = (if (viaSql) "SQL MERGE INTO" else "DataFrame merge") +
      (if (cdf) " with CDF" else "")
    test(s"$how: an INT source merged into a STRING key lands as STRING; " +
        "the table keeps its type") {
      val t = stringKeyed(cdf)
      val src = Seq((7, "new")).toDF("id", "v")
      if (viaSql) {
        LakeSql.register("mtypes_tgt", t)
        src.createOrReplaceTempView("mtypes_src")
        try spark.sql(
          """MERGE INTO mtypes_tgt AS t0 USING mtypes_src AS s0 ON t0.id = s0.id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")
        finally {
          LakeSql.unregister("mtypes_tgt")
          spark.catalog.dropTempView("mtypes_src")
        }
      } else t.merge(src, Seq("id"))
      assert(t.schema("id").dataType == StringType)
      assert(t.read.schema("id").dataType == StringType)
      assert(t.read.as[(String, String)].collect().toSet ==
        Set(("7", "new"), ("08", "x")))
      if (cdf) {
        val v = t.currentVersion
        val feed = t.readChangeFeed(v, Some(v))
        assert(feed.schema("id").dataType == StringType)
        assert(feed.select("id", "v", LakeTable.ChangeTypeCol)
          .as[(String, String, String)].collect().toSet == Set(
            ("07", "old", "update_preimage"), ("7", "new", "update_postimage")))
      }
    }
  }

  test("a source type that does not cast losslessly is refused naming the " +
      "column; nothing commits") {
    val t = LakeTable(spark, s"${tmpDir("mtypes_refuse")}/t")
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val v = t.currentVersion
    val e = intercept[IllegalArgumentException](
      t.merge(Seq((2L, "b2")).toDF("k", "v"), Seq("k")))
    assert(e.getMessage.contains("column k"), e.getMessage)
    assert(t.currentVersion == v)
    assert(t.schema("k").dataType == IntegerType)
    assert(t.read.as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens INT to BIGINT under the " +
      "type-widening property, as append does") {
    val t = LakeTable(spark, s"${tmpDir("mtypes_widen")}/t")
    t.create(StructType(Seq(StructField("k", IntegerType), StructField("v", IntegerType))))
    t.setTableProperties(Map(LakeTable.TypeWideningProp -> "true"))
    t.append(Seq((1, 10), (2, 20)).toDF("k", "v"))
    t.merge(Seq((2, 3000000000L), (3, 30L)).toDF("k", "v"), Seq("k"),
      mergeSchema = true)
    assert(t.schema("v").dataType == LongType)
    assert(t.read.orderBy("k").as[(Int, Long)].collect().toSeq ==
      Seq((1, 10L), (2, 3000000000L), (3, 30L)))
    assert(t.read.filter(col("v") > Int.MaxValue).count() == 1)
  }
}
