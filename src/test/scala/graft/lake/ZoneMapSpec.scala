package graft.lake

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Three appends with disjoint id/time ranges → three data dirs whose zone
   *  maps cleanly separate the ranges. */
  private def rangedTable(stats: Seq[String]): LakeTable = {
    val t = LakeTable(spark, tmpDir("zm"))
    val schema = Seq((0L, ts("2024-01-01 00:00:00"), 0.0))
      .toDF("id", "ts", "v").schema
    t.create(schema, statsColumns = stats)
    def batch(ids: Range, day: String) =
      ids.map(i => (i.toLong, ts(s"2024-01-$day 12:00:00"), i * 1.5))
        .toDF("id", "ts", "v").coalesce(1)
    t.append(batch(1 to 100, "01"))
    t.append(batch(101 to 200, "10"))
    t.append(batch(201 to 300, "20"))
    t
  }

  test("an empty-string zone bound and an empty property value read back") {
    val t = LakeTable(spark, tmpDir("zm_empty"))
    t.create(Seq(("", 0)).toDF("k", "v").schema, statsColumns = Seq("k"))
    t.append(Seq(("", 1)).toDF("k", "v").coalesce(1)) // min = max = ""
    t.setTableProperties(Map("note" -> ""))
    assert(t.read.as[(String, Int)].collect().toSeq == Seq(("", 1)))
    assert(t.read.filter("k = ''").count() == 1)
    assert(t.tableProperties.get("note").contains(""))
  }

  test("read.filter returns the matching rows and skips files outside the range") {
    val t = rangedTable(Seq("id", "ts", "v"))
    val preds = "id >= 120 AND id <= 180"
    val got = t.read.filter(preds).select("id", "v")
      .as[(Long, Double)].collect().toSet
    val want = t.read.filter(col("id") >= 120 && col("id") <= 180)
      .select("id", "v").as[(Long, Double)].collect().toSet
    assert(got == want)
    assert(want.size == 61)
    val (kept, skipped) = t.skippingStats(preds)
    assert(kept == 1 && skipped == 2, s"kept=$kept skipped=$skipped")
  }

  test("timestamp zone maps prune on time ranges") {
    val t = rangedTable(Seq("ts"))
    val preds = "ts >= TIMESTAMP '2024-01-15 00:00:00'"
    val (kept, skipped) = t.skippingStats(preds)
    assert(kept == 1 && skipped == 2)
    assert(t.read.filter(preds).count() == 100)
  }

  test("conjunction of predicates prunes the union of each one's exclusions") {
    val t = rangedTable(Seq("id", "ts"))
    val preds =
      "id >= 101 " +                                   // excludes batch 1
        "AND ts <= TIMESTAMP '2024-01-15 00:00:00'"    // excludes batch 3
    val (kept, skipped) = t.skippingStats(preds)
    assert(kept == 1 && skipped == 2)
    assert(t.read.filter(preds).select("id").as[Long].collect().toSet ==
      (101L to 200L).toSet)
  }

  test("numeric comparison, not lexicographic: id 90..110 spans two files") {
    val t = rangedTable(Seq("id"))
    // lexicographically '90' > '200', so a string compare would wrongly
    // prune every file; numerically files 1 and 2 must both survive
    val preds = "id >= 90 AND id <= 110"
    val (kept, skipped) = t.skippingStats(preds)
    assert(kept == 2 && skipped == 1, s"kept=$kept skipped=$skipped")
    assert(t.read.filter(preds).count() == 21)
  }

  test("a table without stats columns never skips but stays correct") {
    val t = rangedTable(Nil)
    val preds = "id = 150"
    val (kept, skipped) = t.skippingStats(preds)
    assert(skipped == 0 && kept == 3)
    assert(t.read.filter(preds).count() == 1)
  }

  test("all-null stats column keeps the file (absent stats never prune)") {
    val t = LakeTable(spark, tmpDir("zm_null"))
    val df = Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("id", "v")
    t.create(df.schema, statsColumns = Seq("v"))
    t.append(df.coalesce(1))
    val preds = "v >= 99.0"
    val (kept, skipped) = t.skippingStats(preds)
    assert(kept == 1 && skipped == 0)
    assert(t.read.filter(preds).count() == 0) // residual filter still applies
  }

  test("zone maps survive a partitioned merge: untouched dirs keep stats") {
    val t = LakeTable(spark, tmpDir("zm_merge"))
    val df0 = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "part", "v")
    t.create(df0.schema, partitionBy = Some("part"), statsColumns = Seq("id", "v"))
    t.append(df0)
    // merge touches only partition b; partition a's file stats must survive
    t.merge(Seq((3L, "b", 31.0), (4L, "b", 40.0)).toDF("id", "part", "v"), Seq("id"))
    val predsA = "id <= 2"
    val got = t.read.filter(predsA).select("id", "v").as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 10.0), (2L, 20.0)))
    // id <= 2 lives only in partition a's file; the rewritten b file (ids
    // 3..4) must be skipped via its fresh stats
    val (kept, skipped) = t.skippingStats(predsA)
    assert(skipped >= 1, s"kept=$kept skipped=$skipped")
    assert(t.read.count() == 4)
  }

  test("equality pred on the PARTITION column prunes by Hive subpath") {
    val t = LakeTable(spark, tmpDir("zm_pcol"))
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "part", "v")
    t.create(df.schema, partitionBy = Some("part"), statsColumns = Seq("id"))
    t.append(df) // one file per partition
    // the partition column has NO zone stats — its value IS the dir name;
    // an equality pred must still skip the other partitions' files
    val preds = "part = 'b'"
    val (kept, skipped) = t.skippingStats(preds)
    assert(kept == 1 && skipped == 2, s"kept=$kept skipped=$skipped")
    assert(t.read.filter(preds).select("id").as[Long].collect().toSeq == Seq(2L))
    // beside a bound on another column it still prunes by partition
    assert(t.skippingStats(s"$preds AND id >= 2")._1 == 1)
    // a range pred on the partition column prunes exactly as well: it is
    // evaluated on each file's typed partition value, so only c's file goes
    val range = "part >= 'a' AND part <= 'b'"
    assert(t.skippingStats(range)._1 == 2)
    assert(t.read.filter(range).count() == 2)
    // and a pruned MoR delete keyed on the partition value touches one file
    assert(t.deleteWhere("part = 'c'") == 1L)
    assert(t.read.count() == 2)
  }

  test("compactZOrder makes zone maps selective on BOTH columns; linear " +
      "sort only on its leading column") {
    // two independent uniform dims: x = id, y = a decorrelated permutation
    def mk(): LakeTable = {
      val t = LakeTable(spark, tmpDir("zorder"))
      val df = spark.range(0, 4096).select(
        col("id").as("x"), ((col("id") * 2654435761L) % 4096).as("y"))
      t.create(df.schema, statsColumns = Seq("x", "y"))
      t
    }
    // 1/16 ranges aligned to the top-2-bits-of-bin boundary (bin 64..79 of
    // 256), so the range doesn't straddle a z-curve class split
    val xPred = "x >= 1024 AND x <= 1279"
    val yPred = "y >= 1024 AND y <= 1279"

    val linear = mk()
    linear.append(spark.range(0, 4096).select(
        col("id").as("x"), ((col("id") * 2654435761L) % 4096).as("y"))
      .repartitionByRange(64, col("x")).sortWithinPartitions("x"))
    val (_, linX) = linear.skippingStats(xPred)
    val (_, linY) = linear.skippingStats(yPred)
    assert(linX >= 56, s"linear sort should skip most files on x, got $linX")
    assert(linY <= 8, s"linear sort cannot skip on y, got $linY")

    val zt = mk()
    zt.append(spark.range(0, 4096).select(
      col("id").as("x"), ((col("id") * 2654435761L) % 4096).as("y")))
    zt.compactZOrder(Seq("x", "y"), targetFiles = 64)
    // file boundaries come from sampled range partitioning, so they blur the
    // finest z-class bit — with 64 files the top bits dominate and BOTH dims
    // must skip at least half the files; y must beat linear decisively
    val (_, zX) = zt.skippingStats(xPred)
    val (_, zY) = zt.skippingStats(yPred)
    assert(zX >= 32, s"z-order should skip on x, got $zX of 64")
    assert(zY >= 32, s"z-order should skip on y, got $zY of 64")
    assert(zY > linY, s"z-order y-skipping ($zY) must beat linear ($linY)")

    // contents unchanged by the rewrite, history records a compact
    assert(zt.read.select("x", "y").as[(Long, Long)].collect().toSet ==
      linear.read.select("x", "y").as[(Long, Long)].collect().toSet)
    assert(zt.history.last._2 == "compact")
    // and the skipping read returns exactly the filtered rows
    assert(zt.read.filter(yPred).count() ==
      zt.read.filter(col("y").between(1000, 1255)).count())
  }

  test("compactZOrder handles skewed columns via equi-depth bins") {
    val t = LakeTable(spark, tmpDir("zorder_skew"))
    // y heavily skewed: 90% zeros, 10% spread — equi-depth binning still
    // separates the tail into its own bins
    val df = spark.range(0, 4000).select(col("id").as("x"),
      when(col("id") % 10 =!= 0, 0L).otherwise(col("id")).as("y"))
    t.create(df.schema, statsColumns = Seq("x", "y"))
    t.append(df)
    t.compactZOrder(Seq("x", "y"), targetFiles = 8)
    assert(t.read.count() == 4000)
    val (_, skippedHighY) = t.skippingStats("y >= 3000")
    assert(skippedHighY >= 4, s"skew tail should be separable, got $skippedHighY of 8")
  }

  test("compactZOrder on a PARTITIONED table: per-partition bins, skipping " +
      "within each partition, layout preserved") {
    val t = LakeTable(spark, tmpDir("zorder_part"))
    // two partitions with DISJOINT local x ranges — per-partition equi-depth
    // boundaries give each partition its own 256 bins (a global curve would
    // spend half its bins on each)
    def half(p: String, off: Long) = spark.range(0, 2048).select(
      lit(p).as("part"), (col("id") + off).as("x"),
      (((col("id") * 2654435761L) % 2048) + off).as("y"))
    val df = half("a", 0L).unionByName(half("b", 100000L))
    t.create(df.schema, partitionBy = Some("part"), statsColumns = Seq("x", "y"))
    t.append(df)
    val before = t.read.select("part", "x", "y")
      .as[(String, Long, Long)].collect().toSet

    t.compactZOrder(Seq("x", "y"), targetFiles = 32)

    // contents and partition layout survive the rewrite
    assert(t.read.select("part", "x", "y")
      .as[(String, Long, Long)].collect().toSet == before)
    assert(t.partitionColumn.contains("part"))
    assert(t.ownedPartitionValues.toSet == Set("a", "b"))
    assert(t.read.filter("part = 'b'").count() == 2048)
    assert(t.history.last._2 == "compact")

    // a 1/8 x-range inside partition b must skip partition a's files
    // entirely (zone maps) plus most of b's (the local z-curve)
    val total = t.skippingStats("x >= 0")._1 + t.skippingStats("x >= 0")._2
    val (keptX, skippedX) =
      t.skippingStats("x >= 100512 AND x <= 100767")
    assert(skippedX > total / 2, s"kept=$keptX skipped=$skippedX of $total")
    // and the y dimension skips too — that's what z-order buys over a sort
    val (keptY, skippedY) =
      t.skippingStats("y >= 100512 AND y <= 100767")
    assert(skippedY > total / 2, s"kept=$keptY skipped=$skippedY of $total")
    // skipping read equals the plain filtered read
    assert(t.read.filter("x >= 100512 AND x <= 100767").count() ==
      t.read.filter(col("x").between(100512, 100767)).count())

    // the table stays fully functional: a partition-scoped merge after the
    // z-order rewrite sees and updates rows
    t.merge(Seq(("b", 100000L, -1L)).toDF("part", "x", "y"), Seq("part", "x"))
    assert(t.read.filter(col("x") === 100000L).select("y").as[Long]
      .collect().toSeq == Seq(-1L))
  }

  test("a filtered read of a multi-file append prunes within the dir") {
    val t = LakeTable(spark, tmpDir("zm_multi"))
    val df = spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
      .repartitionByRange(8, col("id")) // 8 files with disjoint id ranges
    t.create(df.schema, statsColumns = Seq("id"))
    t.append(df)
    val preds = "id >= 0 AND id <= 100"
    val (kept, skipped) = t.skippingStats(preds)
    assert(kept + skipped == 8)
    assert(skipped >= 6, s"kept=$kept skipped=$skipped")
    assert(t.read.filter(preds).count() == 101)
  }
}
