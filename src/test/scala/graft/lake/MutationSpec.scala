package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MutationSpec extends SparkSpec {
  import spark.implicits._

  /** Three single-file appends with disjoint id ranges and zone maps on id. */
  private def ranged(): LakeTable = {
    val t = LakeTable(spark, tmpDir("mut"))
    val schema = Seq((0L, "", 0.0)).toDF("id", "tag", "v").schema
    t.create(schema, statsColumns = Seq("id", "v"))
    def batch(ids: Range, tag: String) =
      ids.map(i => (i.toLong, tag, i * 1.0)).toDF("id", "tag", "v").coalesce(1)
    t.append(batch(1 to 100, "a"))
    t.append(batch(101 to 200, "b"))
    t.append(batch(201 to 300, "c"))
    t
  }

  private def fileNames(t: LakeTable): Set[String] =
    t.read.select(input_file_name()).distinct().as[String].collect()
      .map(_.split('/').last).toSet

  test("delete removes exactly the matching rows and reports the count") {
    val t = ranged()
    val n = t.delete("id >= 150 AND id <= 250")
    assert(n == 101)
    assert(t.read.count() == 199)
    assert(t.read.filter(col("id").between(150, 250)).count() == 0)
    assert(t.history.last._2 == "delete")
  }

  test("delete rewrites only files whose zone map admits a match — " +
      "untouched files are re-referenced (hard link, same physical file)") {
    val t = ranged()
    val before = fileNames(t)
    t.delete("id >= 120 AND id <= 130")
    val after = fileNames(t)
    // batch-1 and batch-3 physical files survive verbatim; only the middle
    // file was rewritten under a new name
    assert((before intersect after).size == 2, s"$before vs $after")
    assert((after -- before).size == 1)
  }

  test("update assigns only matched rows and leaves the rest bit-identical") {
    val t = ranged()
    val n = t.update("id >= 101 AND id <= 110",
      Map("v" -> (col("v") + 1000.0), "tag" -> lit("upd")))
    assert(n == 10)
    val got = t.read.filter(col("id").between(99, 112))
      .orderBy("id").select("id", "tag", "v")
      .as[(Long, String, Double)].collect().toSeq
    assert(got.filter(_._1 < 101).forall(r => r._2 != "upd"))
    assert(got.filter(r => r._1 >= 101 && r._1 <= 110)
      .forall(r => r._2 == "upd" && r._3 == r._1 + 1000.0))
    assert(got.filter(_._1 > 110).forall(r => r._2 == "b" && r._3 == r._1))
    assert(t.read.count() == 300)
    assert(t.history.last._2 == "update")
  }

  test("update refuses the partition column; mutations refuse empty predicates") {
    val t = LakeTable(spark, tmpDir("mut_p"))
    val df = Seq((1L, "x", 1.0)).toDF("id", "part", "v")
    t.create(df.schema, partitionBy = Some("part"))
    t.append(df)
    intercept[IllegalArgumentException] {
      t.update("id = 1", Map("part" -> lit("y")))
    }
    intercept[IllegalArgumentException] { t.delete("") }
  }

  test("partitioned delete prunes by partition ownership and zone maps") {
    val t = LakeTable(spark, tmpDir("mut_part"))
    val df = (1 to 100).map(i => (i.toLong, if (i <= 50) "p1" else "p2", i * 1.0))
      .toDF("id", "part", "v")
    t.create(df.schema, partitionBy = Some("part"), statsColumns = Seq("id"))
    t.append(df)
    val n = t.delete("id >= 10 AND id <= 20")
    assert(n == 11)
    assert(t.read.count() == 89)
    assert(t.read.filter(col("part") === "p2").count() == 50) // untouched
  }

  test("a condition the optimizer folds to false or NULL matches no file " +
      "and commits nothing") {
    val t = ranged()
    val v0 = t.currentVersion
    assert(t.delete("id = NULL") == 0L)
    assert(t.delete("id >= 1 AND 1 = 0") == 0L)
    assert(t.update("id = NULL", Map("tag" -> lit("x"))) == 0L)
    assert(t.currentVersion == v0)
    assert(t.skippingStats("id >= 1 AND 1 = 0") == ((0, 3)))
    assert(t.read.count() == 300)
  }

  test("partition scope is exact: a subquery or a folded-false condition " +
      "replaces and optimizes only the partitions it holds for") {
    val t = LakeTable(spark, tmpDir("mut_scope"))
    val df = (1L to 30L).map(k => (k, s"p${k % 3}")).toDF("k", "pt")
    t.create(df.schema, partitionBy = Some("pt"), statsColumns = Seq("k"))
    (0 until 2).foreach(s => t.append(df.filter(col("k") % 2 === s)))
    def counts = t.read.groupBy("pt").count().as[(String, Long)].collect().toMap
    Seq("p1").toDF("pt").createOrReplaceTempView("mut_scope_staging")
    try {
      val sub = "pt = (SELECT max(pt) FROM mut_scope_staging)"
      t.overwritePartitions(sub, Seq((99L, "p1")).toDF("k", "pt"))
      assert(counts == Map("p0" -> 10L, "p1" -> 1L, "p2" -> 10L))
      // folded to false / NULL: no partition is replaced (an empty batch
      // meets the contract)
      Seq("pt = 'p0' AND 1 = 0", "pt = NULL").foreach { c =>
        t.overwritePartitions(c, df.limit(0))
        assert(counts == Map("p0" -> 10L, "p1" -> 1L, "p2" -> 10L), c)
      }
      val none = t.optimizeWhere("pt = 'p0' AND 1 = 0")
      assert(none.filesRewritten == 0 && none.filesLinked == 5, none.toString)
      // p0 and p2 hold two files each; p1 the one replacing file
      t.append(Seq((98L, "p1")).toDF("k", "pt"))
      val st = t.optimizeWhere(sub)
      assert(st.filesRewritten == 1 && st.filesLinked == 4, st.toString)
      assert(counts == Map("p0" -> 10L, "p1" -> 2L, "p2" -> 10L))
    } finally spark.catalog.dropTempView("mut_scope_staging")
  }

  test("change feed records delete and update pre/post images") {
    val t = LakeTable(spark, tmpDir("mut_cdf"))
    val df = (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
    t.create(df.schema, enableChangeFeed = true, statsColumns = Seq("id"))
    t.append(df.coalesce(1))
    t.delete("id >= 9 AND id <= 10")               // v2
    t.update("id = 1", Map("v" -> lit(42.0)))      // v3
    val feed = t.readChangeFeed(2, Some(3))
      .select("id", "v", LakeTable.ChangeTypeCol, LakeTable.CommitVersionCol)
      .as[(Long, Double, String, Long)].collect().toSet
    assert(feed == Set(
      (9L, 9.0, "delete", 2L), (10L, 10.0, "delete", 2L),
      (1L, 1.0, "update_preimage", 3L), (1L, 42.0, "update_postimage", 3L)))
  }

  test("readStream refuses a table whose history contains a delete") {
    val t = ranged()
    t.delete("id = 1")
    val e = intercept[IllegalArgumentException] { t.readStream }
    assert(e.getMessage.contains("delete"))
  }

  test("zone maps stay consistent after a mutation: skipping read equals filter") {
    val t = ranged()
    t.delete("id >= 50 AND id <= 150")
    t.update("id >= 250 AND id <= 260", Map("v" -> lit(-1.0)))
    val preds = "id >= 240 AND id <= 270"
    val got = t.read.filter(preds).select("id", "v").as[(Long, Double)].collect().toSet
    val want = t.read.filter(col("id").between(240, 270))
      .select("id", "v").as[(Long, Double)].collect().toSet
    assert(got == want)
    // rewritten file's refreshed stats still allow pruning of other ranges
    val (_, skipped) = t.skippingStats("id <= 40")
    assert(skipped >= 1)
  }
}
