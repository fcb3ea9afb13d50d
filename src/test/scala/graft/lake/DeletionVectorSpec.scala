package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read DELETE via deletion vectors: point deletes write row
 *  coordinates, never data files — the 100 TB posture where copy-on-write
 *  would rewrite whole files to drop one row. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def dataDirs(root: String): Set[String] = {
    val d = Paths.get(root, "data")
    if (!Files.isDirectory(d)) Set.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
  }

  test("deleteWhere removes rows logically without touching any data file") {
    val root = s"${tmpDir("dv_basic")}/t"
    val t = LakeTable(spark, root)
    t.append((1L to 100L).map(k => (k, s"v$k", k % 7)).toDF("k", "v", "grp"))
    val before = dataDirs(root)
    val mtimes = before.map(d => d -> Files.getLastModifiedTime(
      Paths.get(root, "data", d)).toMillis).toMap

    val n = t.deleteWhere("k % 10 = 0")
    assert(n == 10L)
    assert(t.read.count() == 90)
    assert(t.read.filter(col("k") % 10 === 0).count() == 0)
    // the point of merge-on-read: the data file set is IDENTICAL — no dir
    // added, no dir removed, no file rewritten
    assert(dataDirs(root) == before)
    before.foreach { d =>
      assert(Files.getLastModifiedTime(
        Paths.get(root, "data", d)).toMillis == mtimes(d), s"dir $d touched")
    }
    assert(t.deleteVectorDirs.size == 1)
    assert(t.history.last._2 == "delete")
    // DESCRIBE DETAIL surfaces the live vectors
    assert(t.detail.deletionVectors == 1)
  }

  test("deleting already-deleted rows is a no-op; disjoint deletes accumulate") {
    val t = LakeTable(spark, s"${tmpDir("dv_idem")}/t")
    t.append((1L to 50L).map(k => (k, k * 2.0)).toDF("k", "v"))
    assert(t.deleteWhere("k <= 10") == 10L)
    val v1 = t.currentVersion
    assert(t.deleteWhere("k <= 10") == 0L) // all matches already dead
    assert(t.currentVersion == v1)         // no empty commit
    assert(t.deleteWhere("k <= 15") == 5L) // only the live remainder
    assert(t.read.count() == 35)
    assert(t.deleteVectorDirs.size == 2)
  }

  test("appends after a delete are untouched by earlier vectors") {
    val t = LakeTable(spark, s"${tmpDir("dv_append")}/t")
    t.append(Seq((1L, "old"), (2L, "old")).toDF("k", "v"))
    assert(t.deleteWhere("k = 2") == 1L)
    // a NEW row with the same key must survive: vectors address (file, pos)
    // of files that existed at delete time, not a predicate over future data
    t.append(Seq((2L, "new")).toDF("k", "v"))
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "old"), (2L, "new")))
  }

  test("a filtered (zone-map) read, readVersion and restore honor vectors") {
    val t = LakeTable(spark, s"${tmpDir("dv_scan")}/t")
    val df = (1L to 100L).map(k => (k, k * 10.0)).toDF("k", "v")
    t.create(df.schema, statsColumns = Seq("k"))
    t.append(df)                                   // v1
    t.deleteWhere("k >= 40 AND k <= 60")           // v2
    val scanned = t.read.filter("k >= 30 AND k <= 70")
    assert(scanned.count() == 20)                  // 41 alive of 30..70 minus dead 40..60 → 30..39,61..70
    assert(scanned.filter(col("k") === 50).count() == 0)
    // time travel to the pre-delete snapshot still sees every row
    assert(t.readVersion(1).count() == 100)
    // restore back past the delete clears the logical deletes
    t.restore(1)
    assert(t.read.count() == 100)
    assert(t.deleteVectorDirs.isEmpty)
  }

  test("compact materializes vectors; copy-on-write refuses until then") {
    val t = LakeTable(spark, s"${tmpDir("dv_compact")}/t")
    val df = (1L to 40L).map(k => (k, k.toString)).toDF("k", "v")
    t.create(df.schema, statsColumns = Seq("k"))
    t.append(df)
    t.deleteWhere("k > 30")
    // CoW mutations would resurrect DV-deleted rows — refused with guidance
    val e = intercept[IllegalArgumentException](
      t.update("k = 5", Map("v" -> lit("x"))))
    assert(e.getMessage.contains("compact"), e.getMessage)
    t.compact()
    assert(t.deleteVectorDirs.isEmpty) // vectors materialized away
    assert(t.read.count() == 30)
    t.update("k = 5", Map("v" -> lit("x")))
    assert(t.read.filter(col("v") === "x").count() == 1)
  }

  test("change feed records merge-on-read deletes as _change_type=delete") {
    val t = LakeTable(spark, s"${tmpDir("dv_cdf")}/t")
      .create(Seq((1L, "a")).toDF("k", "v").schema, enableChangeFeed = true)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))  // v1
    t.deleteWhere("k >= 2")                                        // v2
    val feed = t.readChangeFeed(2)
      .select(col("k"), col(LakeTable.ChangeTypeCol), col(LakeTable.CommitVersionCol))
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(feed == Seq((2L, "delete", 2L), (3L, "delete", 2L)))
  }

  test("partitioned tables: vectors survive a merge into OTHER partitions") {
    val t = LakeTable(spark, s"${tmpDir("dv_part")}/t")
    val df = Seq((1L, "x", "p1"), (2L, "y", "p1"), (3L, "z", "p2"))
      .toDF("k", "v", "pt")
    t.create(df.schema, partitionBy = Some("pt"))
    t.append(df)
    assert(t.deleteWhere("k = 1") == 1L)
    // merge touches ONLY p2: p1's dirs are kept as-is, so its vector must
    // keep suppressing k=1
    t.merge(Seq((3L, "z2", "p2")).toDF("k", "v", "pt"), Seq("k"))
    assert(t.read.orderBy("k").as[(Long, String, String)].collect().toSeq ==
      Seq((2L, "y", "p1"), (3L, "z2", "p2")))
    // an UNPARTITIONED-style full rewrite (overwrite) clears vectors
    t.overwrite(t.read)
    assert(t.deleteVectorDirs.isEmpty)
    assert(t.read.count() == 2)
  }

  test("pruned point delete: preds skip files via zone maps and blooms") {
    val root = s"${tmpDir("dv_pruned")}/t"
    val t = LakeTable(spark, root)
    val df = (1L to 3000L).map(k => (k, s"u$k", k * 1.0)).toDF("k", "uid", "v")
    t.create(df.schema, statsColumns = Seq("k"), bloomFilterColumns = Seq("uid"))
    // year-style ranges on k (zone maps prune), interleaved uid lives in
    // exactly one file (blooms prune)
    Seq((1L, 1000L), (1001L, 2000L), (2001L, 3000L)).foreach { case (a, b) =>
      t.append(df.filter(col("k").between(a, b)).coalesce(1))
    }
    // zone-map-pruned range delete
    assert(t.deleteWhere("k >= 1500 AND k <= 1600") == 101L)
    assert(t.read.count() == 2899)
    assert(t.read.filter(col("k").between(1500, 1600)).count() == 0)
    // bloom-pruned keyed delete (uid is unclustered ACROSS the k-ranged
    // files only in the sense that zone maps on uid don't exist — the
    // bloom is what locates the file)
    assert(t.deleteWhere("uid = 'u42'") == 1L)
    assert(t.read.filter(col("uid") === "u42").count() == 0)
    // deleting an absent key is a no-op commit-wise
    val v = t.currentVersion
    assert(t.deleteWhere("uid = 'nope'") == 0L)
    assert(t.currentVersion == v)
    // semantics ≡ the string form on the same predicate
    val t2 = LakeTable(spark, s"${tmpDir("dv_pruned2")}/t")
    t2.create(df.schema, statsColumns = Seq("k"))
    Seq((1L, 1000L), (1001L, 2000L), (2001L, 3000L)).foreach { case (a, b) =>
      t2.append(df.filter(col("k").between(a, b)).coalesce(1))
    }
    assert(t2.deleteWhere("k >= 1500 AND k <= 1600") == 101L)
    assert(t2.read.count() == 2899)
    assert(t2.read.filter(col("k").between(1500, 1600)).count() == 0)
  }

  test("shallow clones carry vectors; vacuum keeps referenced vector dirs") {
    val base = tmpDir("dv_clone")
    val t = LakeTable(spark, s"$base/src")
    t.append((1L to 20L).map(k => (k, k * 1.5)).toDF("k", "v"))
    t.deleteWhere("k <= 5")
    val c = t.shallowClone(s"$base/dst")
    assert(c.read.count() == 15)
    assert(c.deleteVectorDirs.size == 1)
    // vacuum on the source retains the referenced _dv dir
    t.append(Seq((21L, 0.0)).toDF("k", "v"))
    t.vacuum(keepVersions = 2)
    assert(t.read.count() == 16)
    assert(Files.isDirectory(Paths.get(s"$base/src", t.deleteVectorDirs.head)))
  }
}
