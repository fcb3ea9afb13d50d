package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** METADATA-ONLY RENAME COLUMN (Delta column-mapping `name` mode) +
 *  TBLPROPERTIES. The invariant under test everywhere: a rename rewrites
 *  ZERO data files (physical names are fixed at creation), yet every read,
 *  write, predicate, merge and maintenance path speaks the new name. */
class RenameColumnSpec extends SparkSpec {
  import spark.implicits._

  private def seeded(): LakeTable = {
    val t = LakeTable(spark, tmpDir("ren"))
    val df = (1 to 100).map(i => (i.toLong, s"n$i", i * 1.0)).toDF("id", "name", "v")
    t.create(df.schema, statsColumns = Seq("id", "v"))
    t.append(df.coalesce(1))
    t
  }

  private def fileNames(t: LakeTable): Set[String] =
    t.read.select(input_file_name()).distinct().as[String].collect().toSet

  test("rename is metadata-only: old files' values served under the new " +
      "name, same physical files, no data rewrite") {
    val t = seeded()
    val before = fileNames(t)
    t.renameColumn("v", "score")
    assert(t.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(t.columnMapping == Map("score" -> "v"))
    assert(t.read.agg(sum("score")).as[Double].head() == (1 to 100).map(_ * 1.0).sum)
    assert(fileNames(t) == before, "rename must not touch any data file")
    assert(t.history.last._2 == "rename")
  }

  test("appends after a rename interleave with pre-rename files — " +
      "new files carry the PHYSICAL name, both eras read as one") {
    val t = seeded()
    t.renameColumn("v", "score")
    t.append(Seq((101L, "n101", 101.0)).toDF("id", "name", "score"))
    assert(t.read.count() == 101)
    assert(t.read.filter(col("id") === 101).select("score").as[Double].head() == 101.0)
    // the new file physically carries the ORIGINAL name — proves mapping,
    // not rewrite, is what reconciles the eras
    val newest = t.read.filter(col("id") === 101)
      .select(input_file_name()).as[String].head()
    val raw = spark.read.parquet(newest)
    assert(raw.columns.contains("v") && !raw.columns.contains("score"))
  }

  test("time travel serves each version under ITS names; CDF serves the " +
      "whole range under the CURRENT names") {
    val t = LakeTable(spark, tmpDir("ren_tt"))
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    t.create(df.schema, enableChangeFeed = true)
    t.append(df)                       // v1
    t.renameColumn("v", "score")       // v2
    t.append(Seq((3L, 30.0)).toDF("id", "score")) // v3
    assert(t.readVersion(1).columns.toSeq == Seq("id", "v"))
    assert(t.read.columns.toSeq == Seq("id", "score"))
    val feed = t.readChangeFeed(0)
    assert(feed.columns.contains("score") && !feed.columns.contains("v"))
    assert(feed.filter(col("_change_type") === "insert").count() == 3)
    assert(feed.agg(sum("score")).as[Double].head() == 60.0)
  }

  test("zone-map skipping keeps pruning on a renamed stats column " +
      "(per-file stats are keyed by the stable physical name)") {
    val t = LakeTable(spark, tmpDir("ren_zone"))
    val schema = Seq((0L, 0.0)).toDF("id", "v").schema
    t.create(schema, statsColumns = Seq("id"))
    t.append((1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1))
    t.append((101 to 200).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1))
    t.renameColumn("id", "doc_id")
    val (kept, skipped) = t.skippingStats("doc_id >= 150 AND doc_id <= 160")
    assert(kept == 1 && skipped == 1, s"kept=$kept skipped=$skipped")
    val got = t.read.filter("doc_id >= 150 AND doc_id <= 160")
    assert(got.count() == 11)
    assert(got.columns.toSeq == Seq("doc_id", "v"))
  }

  test("bloom point-lookup pruning survives a rename of the indexed column") {
    val t = LakeTable(spark, tmpDir("ren_bloom"))
    val schema = Seq((0L, "")).toDF("k", "payload").schema
    t.create(schema, bloomFilterColumns = Seq("k"))
    t.append((1 to 50).map(i => (i.toLong, s"p$i")).toDF("k", "payload").coalesce(1))
    t.append((51 to 100).map(i => (i.toLong, s"p$i")).toDF("k", "payload").coalesce(1))
    t.renameColumn("k", "key")
    val (kept, skipped) = t.skippingStats("key = 7")
    assert(kept == 1 && skipped == 1, s"kept=$kept skipped=$skipped")
    assert(t.read.filter("key = 7").count() == 1)
  }

  test("renaming the PARTITION column keeps partition-scoped reads, " +
      "merges and partition pruning working") {
    val t = LakeTable(spark, tmpDir("ren_part"))
    val df = Seq((1L, "2024-01", 5.0), (2L, "2024-02", 6.0)).toDF("id", "month", "amt")
    t.create(df.schema, partitionBy = Some("month"))
    t.append(df)
    t.renameColumn("month", "ship_month")
    assert(t.partitionColumn.contains("ship_month"))
    assert(t.read.filter("ship_month = '2024-01'").count() == 1)
    // merge keyed on (id) into a partition-scoped target, post-rename
    t.merge(Seq((2L, "2024-02", 60.0), (3L, "2024-02", 7.0))
      .toDF("id", "ship_month", "amt"), keys = Seq("id", "ship_month"))
    assert(t.read.count() == 3)
    assert(t.read.filter(col("id") === 2).select("amt").as[Double].head() == 60.0)
    // untouched partition survived by reference
    assert(t.read.filter("ship_month = '2024-01'").count() == 1)
  }

  test("MoR delete and update accept conditions on the renamed name") {
    val t = seeded()
    t.renameColumn("v", "score")
    assert(t.deleteWhere("score > 90.0") == 10)
    assert(t.read.count() == 90)
    assert(t.updateWhere("score <= 5.0", Map("name" -> lit("low"))) == 5)
    assert(t.read.filter(col("name") === "low").count() == 5)
  }

  test("compact and optimize preserve the mapping (hard-linked files keep " +
      "physical names) and data stays correct") {
    val t = seeded()
    t.renameColumn("v", "score")
    t.append((101 to 110).map(i => (i.toLong, s"n$i", i * 1.0))
      .toDF("id", "name", "score").coalesce(1))
    t.compact()
    assert(t.read.count() == 110)
    assert(t.read.agg(sum("score")).as[Double].head() == (1 to 110).map(_ * 1.0).sum)
    assert(t.columnMapping == Map("score" -> "v"))
    val st = t.optimizeCompact()
    assert(st.filesRewritten + st.filesLinked > 0)
    assert(t.read.count() == 110)
  }

  test("rename collisions and references are refused loudly") {
    val t = seeded()
    intercept[IllegalArgumentException] { t.renameColumn("v", "name") }
    intercept[IllegalArgumentException] { t.renameColumn("missing", "x") }
    t.addCheckConstraint("pos_v", "v >= 0")
    intercept[IllegalArgumentException] { t.renameColumn("v", "score") }
    t.dropCheckConstraint("pos_v")
    t.renameColumn("v", "score") // now allowed
    // schema evolution may not adopt the in-use physical name "v"
    intercept[IllegalArgumentException] {
      t.append(Seq((200L, "x", 1.0, 9.9)).toDF("id", "name", "score", "v"),
        mergeSchema = true)
    }
    intercept[IllegalArgumentException] {
      t.addColumns(Seq("v" -> org.apache.spark.sql.types.DoubleType))
    }
    // and a second rename may not adopt it either
    intercept[IllegalArgumentException] { t.renameColumn("name", "v") }
  }

  test("rename chains resolve through the stable physical name") {
    val t = seeded()
    t.renameColumn("v", "score")
    t.renameColumn("score", "quality")
    assert(t.columnMapping == Map("quality" -> "v"))
    assert(t.read.agg(sum("quality")).as[Double].head() == (1 to 100).map(_ * 1.0).sum)
    t.renameColumn("quality", "v") // back to the physical name: map clears
    assert(t.columnMapping.isEmpty)
    assert(t.read.agg(sum("v")).as[Double].head() == (1 to 100).map(_ * 1.0).sum)
  }

  test("TBLPROPERTIES set/unset round-trip, survive restore, and " +
      "enableChangeFeed switches capture mid-life") {
    val t = LakeTable(spark, tmpDir("props"))
    val df = Seq((1L, 1.0)).toDF("id", "v")
    t.create(df.schema)
    t.append(df) // v1
    t.setTableProperties(Map("owner" -> "gold-team", "pipeline" -> "nightly"))
    assert(t.tableProperties == Map("owner" -> "gold-team", "pipeline" -> "nightly"))
    t.unsetTableProperties(Seq("pipeline", "absent-key-ignored"))
    assert(t.tableProperties == Map("owner" -> "gold-team"))
    // CDF off: a merge records no change rows...
    intercept[RuntimeException] {
      t.merge(Seq((1L, 2.0)).toDF("id", "v"), keys = Seq("id"))
      t.readChangeFeed(t.currentVersion, Some(t.currentVersion)).count()
    }
    // ...switch it on via the recognized property: subsequent merges feed
    t.setTableProperties(Map(LakeTable.ChangeFeedProp -> "true"))
    assert(t.tableProperties(LakeTable.ChangeFeedProp) == "true")
    val vOn = t.currentVersion
    t.merge(Seq((1L, 3.0)).toDF("id", "v"), keys = Seq("id"))
    val feed = t.readChangeFeed(vOn)
    assert(feed.filter(col("_change_type") === "update_postimage").count() == 1)
    // properties restore with the table state
    val vProps = t.currentVersion
    t.unsetTableProperties(Seq("owner"))
    assert(t.tableProperties.get("owner").isEmpty)
    t.restore(vProps)
    assert(t.tableProperties("owner") == "gold-team")
  }

  test("rename and properties commits are invisible to the change-feed " +
      "tail and append-only streams") {
    val t = LakeTable(spark, tmpDir("ren_tail"))
    val df = Seq((1L, 1.0)).toDF("id", "v")
    t.create(df.schema, enableChangeFeed = true)
    t.append(df)
    val tail = ChangeFeedTail(t, tmpDir("ren_tail_ck"))
    val b1 = tail.poll().get
    tail.commit(b1.toVersion)
    t.renameColumn("v", "score")
    t.setTableProperties(Map("owner" -> "x"))
    t.append(Seq((2L, 2.0)).toDF("id", "score"))
    val b2 = tail.poll().get
    assert(b2.changes.isDefined)
    assert(b2.changes.get.columns.contains("score"))
    assert(b2.changes.get.count() == 1) // only the new append's insert
    tail.commit(b2.toVersion)
    assert(tail.poll().isEmpty)
  }
}
