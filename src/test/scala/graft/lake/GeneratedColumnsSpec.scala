package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class GeneratedColumnsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("amount", DoubleType),
    StructField("bucket", LongType)))

  private def fresh(name: String): LakeTable = {
    val t = LakeTable(spark, s"${tmpDir(name)}/t")
    t.create(schema, partitionBy = Some("bucket"),
      generatedColumns = Map("bucket" -> "k % 3"))
    t
  }

  test("omitted generated column is computed; partition layout follows it") {
    val t = fresh("gen_compute")
    t.append(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "amount"))
    assert(t.generatedColumns == Map("bucket" -> "k % 3"))
    assert(t.read.orderBy("k").as[(Long, Double, Long)].collect().toSeq ==
      Seq((1L, 10.0, 1L), (2L, 20.0, 2L), (3L, 30.0, 0L)))
    // partition-scoped read resolves through the generated value
    assert(t.read.filter(col("bucket") === 1).as[(Long, Double, Long)].collect().toSeq ==
      Seq((1L, 10.0, 1L)))
    assert(t.ownedPartitionValues.toSet == Set("0", "1", "2"))
  }

  test("supplied generated values are validated cell-for-cell") {
    val t = fresh("gen_validate")
    t.append(Seq((4L, 1.0, 1L)).toDF("k", "amount", "bucket")) // 4 % 3 == 1 ✓
    intercept[IllegalArgumentException](
      t.append(Seq((5L, 1.0, 0L)).toDF("k", "amount", "bucket"))) // 5 % 3 != 0
    assert(t.read.count() == 1)
  }

  test("merge source may omit the generated column") {
    val t = fresh("gen_merge")
    t.append(Seq((1L, 10.0), (4L, 40.0)).toDF("k", "amount"))
    t.merge(Seq((1L, 11.0), (2L, 22.0)).toDF("k", "amount"), Seq("k"))
    assert(t.read.orderBy("k").as[(Long, Double, Long)].collect().toSeq ==
      Seq((1L, 11.0, 1L), (2L, 22.0, 2L), (4L, 40.0, 1L)))
  }

  test("generation survives restore and clone; detail reports it") {
    val root = tmpDir("gen_persist")
    val t = LakeTable(spark, s"$root/t")
    t.create(schema, partitionBy = Some("bucket"),
      generatedColumns = Map("bucket" -> "k % 3"))
    t.append(Seq((1L, 1.0)).toDF("k", "amount"))
    val clone = t.shallowClone(s"$root/clone")
    clone.append(Seq((2L, 2.0)).toDF("k", "amount")) // still computed
    assert(clone.read.orderBy("k").as[(Long, Double, Long)].collect().toSeq ==
      Seq((1L, 1.0, 1L), (2L, 2.0, 2L)))
    t.restore(1)
    assert(t.generatedColumns == Map("bucket" -> "k % 3"))
    assert(t.detail.generatedColumns == Map("bucket" -> "k % 3"))
  }
}
