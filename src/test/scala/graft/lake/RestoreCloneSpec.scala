package graft.lake

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class RestoreCloneSpec extends SparkSpec {
  import spark.implicits._

  test("restore rolls back to a prior version as a new commit") {
    val t = LakeTable(spark, s"${tmpDir("rc_restore")}/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // v0
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))         // v1
    t.restore(0)                                       // v2
    assert(t.currentVersion == 2)
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // history preserved: the bad overwrite is still time-travelable
    assert(t.readVersion(1).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    assert(t.history.map(_._2) == Seq("append", "overwrite", "restore"))
    // a restore can itself be restored over
    t.restore(1)
    assert(t.read.as[(Long, String)].collect().toSeq == Seq((9L, "z")))
  }

  test("TIMESTAMP AS OF resolves to the latest commit at or before the clock") {
    val t0 = java.sql.Timestamp.valueOf("2030-01-01 00:00:00").getTime
    val tick = new java.util.concurrent.atomic.AtomicLong(0L)
    // commits land at t0, t0+1000, t0+2000, ...
    val t = LakeTable.withClock(spark, s"${tmpDir("ts_asof")}/t",
      () => t0 + tick.getAndIncrement() * 1000L)
    t.append(Seq((1L, "a")).toDF("k", "v"))            // v0 @ t0
    t.append(Seq((2L, "b")).toDF("k", "v"))            // v1 @ t0+1000
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))         // v2 @ t0+2000
    assert(t.readTimestampAsOf(t0).count() == 1)               // exactly v0
    assert(t.readTimestampAsOf(t0 + 1500).count() == 2)        // between → v1
    assert(t.readTimestampAsOf(t0 + 999999).count() == 1)      // future → latest
    intercept[IllegalArgumentException](t.readTimestampAsOf(t0 - 1))
    // DESCRIBE HISTORY carries the same clocks
    assert(t.historyDetail.map(_._3) ==
      Seq(Some(t0), Some(t0 + 1000), Some(t0 + 2000)))
    assert(t.historyDetail.map(h => (h._1, h._2)) ==
      Seq((0L, "append"), (1L, "append"), (2L, "overwrite")))
  }

  test("restore refuses a vacuumed version") {
    val t = LakeTable(spark, s"${tmpDir("rc_restore_vac")}/t")
    t.append(Seq((1L, "a")).toDF("k", "v"))    // v0
    t.overwrite(Seq((2L, "b")).toDF("k", "v")) // v1
    t.overwrite(Seq((3L, "c")).toDF("k", "v")) // v2
    t.vacuum(keepVersions = 1)                 // drops v0's data dir
    intercept[IllegalArgumentException](t.restore(0))
    assert(t.read.as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }

  test("shallow clone forks without copying bytes and diverges independently") {
    val root = tmpDir("rc_clone")
    val src = LakeTable(spark, s"$root/src")
    src.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val clone = src.shallowClone(s"$root/clone")
    // zero-copy: every cloned parquet file is a hard link (same inode)
    val srcFiles = Files.walk(Paths.get(s"$root/src/data")).iterator()
    var linked = 0
    srcFiles.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet")) {
        val rel = Paths.get(s"$root/src").relativize(p)
        val cp = Paths.get(s"$root/clone").resolve(rel)
        assert(Files.exists(cp))
        assert(Files.getAttribute(p, "unix:ino") == Files.getAttribute(cp, "unix:ino"))
        linked += 1
      }
    }
    assert(linked > 0)
    assert(clone.history.map(_._2) == Seq("clone"))
    // divergence: writes to either side don't leak to the other
    clone.append(Seq((3L, "c")).toDF("k", "v"))
    src.append(Seq((9L, "z")).toDF("k", "v"))
    assert(clone.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(src.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (9L, "z")))
  }

  test("clone survives source overwrite + vacuum of the forked files") {
    val root = tmpDir("rc_clone_vac")
    val src = LakeTable(spark, s"$root/src")
    src.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val clone = src.shallowClone(s"$root/clone")
    src.overwrite(Seq((9L, "z")).toDF("k", "v"))
    src.vacuum(keepVersions = 1) // unlinks the forked data dirs at the source
    assert(clone.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("clone preserves partitioning and zone-map stats") {
    val root = tmpDir("rc_clone_part")
    val src = LakeTable(spark, s"$root/src")
    val df = Seq((1L, "x", "p1"), (2L, "y", "p2")).toDF("k", "v", "p")
    src.create(df.schema, partitionBy = Some("p"), statsColumns = Seq("k"))
    src.append(df)
    val clone = src.shallowClone(s"$root/clone")
    assert(clone.partitionColumn.contains("p"))
    assert(clone.ownedPartitionValues.toSet == Set("p1", "p2"))
    assert(clone.read.filter("p = 'p2'").as[(Long, String, String)]
      .collect().toSeq == Seq((2L, "y", "p2")))
  }

  test("DEEP CLONE copies bytes (no shared inodes): the fork survives " +
      "source vacuum AND source deletion, and diverges independently") {
    val root = tmpDir("rc_deep")
    val src = LakeTable(spark, s"$root/src")
    src.create(Seq((1L, "a")).toDF("k", "v").schema, statsColumns = Seq("k"))
    src.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val clone = src.deepClone(s"$root/deep")
    // physical copy: same relative layout, DIFFERENT inodes
    var copied = 0
    Files.walk(Paths.get(s"$root/src/data")).iterator().forEachRemaining { p =>
      if (p.toString.endsWith(".parquet")) {
        val cp = Paths.get(s"$root/deep")
          .resolve(Paths.get(s"$root/src").relativize(p))
        assert(Files.exists(cp))
        assert(Files.getAttribute(p, "unix:ino") != Files.getAttribute(cp, "unix:ino"))
        copied += 1
      }
    }
    assert(copied > 0)
    assert(clone.history.map(_._2) == Seq("clone"))
    // metadata carries over: stats columns keep zone-map skipping alive
    assert(clone.detail.statsColumns == Seq("k"))
    // divergence both ways
    clone.append(Seq((3L, "c")).toDF("k", "v"))
    src.overwrite(Seq((9L, "z")).toDF("k", "v"))
    src.vacuum(keepVersions = 1)
    assert(clone.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the ultimate independence test: delete the source root entirely
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(s"$root/src")).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)
    assert(clone.read.count() == 3)
  }

  test("SQL: CREATE TABLE ... DEEP CLONE ... LOCATION dispatches and " +
      "registers the fork") {
    val root = tmpDir("rc_deep_sql")
    val src = LakeTable(spark, s"$root/src")
    src.append(Seq((1L, "a")).toDF("k", "v"))
    LakeSql.register("dc_src", src)
    try {
      val r = spark.sql(
        s"CREATE TABLE dc_dst DEEP CLONE dc_src LOCATION '$root/dst'")
        .collect().head
      assert(r.getString(0) == "dc_dst")
      val dst = LakeTable(spark, s"$root/dst")
      assert(dst.read.count() == 1)
      // no shared inodes between the two data trees
      val srcIno = Files.walk(Paths.get(s"$root/src/data")).iterator()
      srcIno.forEachRemaining { p =>
        if (p.toString.endsWith(".parquet")) {
          val cp = Paths.get(s"$root/dst")
            .resolve(Paths.get(s"$root/src").relativize(p))
          assert(Files.getAttribute(p, "unix:ino") != Files.getAttribute(cp, "unix:ino"))
        }
      }
    } finally { LakeSql.unregister("dc_src"); LakeSql.unregister("dc_dst") }
  }

  test("clone refuses an existing target") {
    val root = tmpDir("rc_clone_exists")
    val src = LakeTable(spark, s"$root/src")
    src.append(Seq((1L, "a")).toDF("k", "v"))
    src.shallowClone(s"$root/clone")
    intercept[IllegalArgumentException](src.shallowClone(s"$root/clone"))
  }

  // ---- append-time schema reconciliation / evolution ------------------------

  test("append rejects a new column unless mergeSchema, then widens with nulls") {
    val t = LakeTable(spark, s"${tmpDir("se_widen")}/t")
    t.append(Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException](
      t.append(Seq((2L, "b", 9.5)).toDF("k", "v", "score")))
    t.append(Seq((2L, "b", 9.5)).toDF("k", "v", "score"), mergeSchema = true)
    assert(t.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(t.schema("score").nullable)
    val got = t.read.orderBy("k").as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", Some(9.5))))
  }

  test("append rejects a type conflict even with mergeSchema") {
    val t = LakeTable(spark, s"${tmpDir("se_conflict")}/t")
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val bad = Seq((2L, 3.0)).toDF("k", "v") // v: string → double
    intercept[IllegalArgumentException](t.append(bad))
    intercept[IllegalArgumentException](t.append(bad, mergeSchema = true))
    assert(t.read.count() == 1) // nothing committed, no schema clobber
  }

  test("append with a missing column fills NULL; column order is free") {
    val t = LakeTable(spark, s"${tmpDir("se_missing")}/t")
    t.append(Seq((1L, "a", 5.0)).toDF("k", "v", "score"))
    t.append(Seq(("b", 2L)).toDF("v", "k")) // reordered, score absent
    assert(t.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    val got = t.read.orderBy("k").as[(Long, String, Option[Double])].collect().toSeq
    assert(got == Seq((1L, "a", Some(5.0)), (2L, "b", None)))
  }
}
