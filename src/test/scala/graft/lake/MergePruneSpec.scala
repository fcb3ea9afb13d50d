package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** FILE-PRUNED unpartitioned MERGE: a keyed merge into a large table joins
  * only the files whose zone maps admit a source key and re-references the
  * rest by hard link — O(files that may match + new data), not O(table).
  * These specs drop the scale gate to exercise the path on small fixtures
  * and prove (a) results identical to the full-rewrite merge, (b) untouched
  * files are the SAME physical files (inode equality), (c) the change feed
  * and txn ledger behave identically, and (d) the documented bail-outs
  * (null-safe NULL keys, full-span sources, below-threshold tables) keep
  * the full-rewrite path.
  */
class MergePruneSpec extends SparkSpec {
  import spark.implicits._

  private val PruneKey = "spark.graft.merge.pruneMinBytes"

  private def withPruneThreshold[A](bytes: Long)(f: => A): A = {
    val prev = spark.conf.getOption(PruneKey)
    spark.conf.set(PruneKey, bytes.toString)
    try f finally prev match {
      case Some(v) => spark.conf.set(PruneKey, v)
      case None => spark.conf.unset(PruneKey)
    }
  }

  /** Three single-file appends with disjoint SPARSE id ranges (multiples
    * of 10), zone maps on id — gaps leave room for inserts whose keys stay
    * inside one file's range. */
  private def ranged(cdf: Boolean = false): LakeTable = {
    val t = LakeTable(spark, tmpDir("mgp"))
    val schema = Seq((0L, "", 0.0)).toDF("id", "tag", "v").schema
    t.create(schema, statsColumns = Seq("id"), enableChangeFeed = cdf)
    def batch(ids: Range, tag: String) =
      ids.map(i => (i.toLong * 10, tag, i * 1.0)).toDF("id", "tag", "v").coalesce(1)
    t.append(batch(1 to 100, "a"))    // ids 10..1000
    t.append(batch(101 to 200, "b"))  // ids 1010..2000
    t.append(batch(201 to 300, "c"))  // ids 2010..3000
    t
  }

  /** file name → inode of every live data file. */
  private def inodes(t: LakeTable): Map[String, Long] =
    t.read.select(input_file_name()).distinct().as[String].collect().map { f =>
      val p = Paths.get(f.stripPrefix("file:"))
      p.getFileName.toString ->
        Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
    }.toMap

  // two updates of existing B-range ids + one insert whose key sits in a
  // B-range GAP — the source's [1500, 1605] span admits only the b file
  private def src() = Seq(
    (1500L, "B", 1.5), (1600L, "B", 1.6), (1605L, "N", 3.01)
  ).toDF("id", "tag", "v")

  test("pruned merge rewrites only the admitting file; results and feed " +
      "match the full-rewrite merge; untouched files keep their inodes") {
    val pruned = ranged(cdf = true)
    val full = ranged(cdf = true)
    val before = inodes(pruned)
    val vBefore = pruned.currentVersion

    withPruneThreshold(1L) {
      pruned.merge(src(), Seq("id"), txn = Some("mgp.app" -> 7L))
    }
    full.merge(src(), Seq("id"), txn = Some("mgp.app" -> 7L))

    // identical logical results
    val a = pruned.read.orderBy("id").collect().toSeq
    val b = full.read.orderBy("id").collect().toSeq
    assert(a == b)
    assert(pruned.read.count() == 301)
    // identical change rows (2 updates = pre+post, 1 insert)
    val v = pruned.currentVersion
    val feed = pruned.readChangeFeed(v, Some(v))
      .select("id", "tag", "v", "_change_type").orderBy("id", "_change_type")
      .collect().toSeq
    val feedFull = full.readChangeFeed(v, Some(v))
      .select("id", "tag", "v", "_change_type").orderBy("id", "_change_type")
      .collect().toSeq
    assert(feed == feedFull)
    assert(feed.size == 5)
    // the a-range and c-range files were NOT rewritten: same physical files
    val after = inodes(pruned)
    val kept = before.filter { case (name, ino) => after.get(name).contains(ino) }
    assert(kept.size == 2,
      s"expected exactly the two non-admitting files kept, got $kept")
    // ledger advanced atomically with the pruned commit
    assert(pruned.lastTxnVersion("mgp.app").contains(7L))
    // a replay of the same txn is a no-op on the pruned path too
    withPruneThreshold(1L) {
      pruned.merge(src().withColumn("v", lit(9.9)), Seq("id"),
        txn = Some("mgp.app" -> 7L))
    }
    assert(pruned.read.filter(col("v") === 9.9).count() == 0)
    assert(pruned.currentVersion == v)
    assert(vBefore < v)
  }

  test("zone stats updated by the pruned commit keep pruning reads correctly") {
    val t = ranged()
    withPruneThreshold(1L) {
      t.merge(src(), Seq("id"))
    }
    // point reads through zone maps still see every row exactly once
    assert(t.read.filter("id = 1500")
      .collect().map(_.getString(1)).toSeq == Seq("B"))
    assert(t.read.filter("id = 50")
      .collect().map(_.getString(1)).toSeq == Seq("a"))
    assert(t.read.filter("id = 1605")
      .collect().map(_.getString(1)).toSeq == Seq("N"))
  }

  test("full-span sources, sub-threshold tables and null-safe NULL keys " +
      "keep the full-rewrite path (single data entry, correct rows)") {
    // full-span source: every file admits — plan reports no win, the
    // full rewrite collapses the table to one dir
    val t1 = ranged()
    withPruneThreshold(1L) {
      t1.merge(Seq((10L, "x", 0.1), (3000L, "y", 3.0)).toDF("id", "tag", "v"),
        Seq("id"))
    }
    assert(t1.read.count() == 300)
    assert(t1.read.filter(col("tag") === "x").count() == 1)
    // below the byte threshold: full rewrite even for a selective source
    val t2 = ranged()
    val i2 = inodes(t2)
    t2.merge(src(), Seq("id")) // default 64 MB threshold ≫ fixture
    assert(inodes(t2).keySet.intersect(i2.keySet).isEmpty)
    assert(t2.read.count() == 301)
    // null-safe matching with a NULL source key must see NULL target rows
    // wherever they hide — the pruned path bails, rows stay correct
    val t3 = LakeTable(spark, tmpDir("mgp"))
    t3.create(Seq((Option(0L), 0.0)).toDF("k", "v").schema,
      statsColumns = Seq("k"))
    t3.append(Seq((Option(1L), 1.0), (Option.empty[Long], 5.0)).toDF("k", "v")
      .coalesce(1))
    t3.append(Seq((Option(2L), 2.0)).toDF("k", "v").coalesce(1))
    withPruneThreshold(1L) {
      t3.merge(Seq((Option.empty[Long], 50.0)).toDF("k", "v"), Seq("k"),
        nullSafeKeys = true)
    }
    assert(t3.read.filter(col("k").isNull).collect()
      .map(_.getDouble(1)).toSeq == Seq(50.0))
    assert(t3.read.count() == 3)
  }

  test("a mixed-type merge key never prunes: an INT source key updates the " +
      "STRING target row the join's coercion matches, no duplicate insert") {
    // the join matches '07' = 7, but 7 rendered in the target's type sorts
    // outside the file's ['07', '08'] — pruning on it would skip the match
    val t = LakeTable(spark, tmpDir("mgp_mixed"))
    t.create(Seq(("", "")).toDF("id", "v").schema, statsColumns = Seq("id"))
    t.append(Seq(("07", "old"), ("08", "x")).toDF("id", "v").coalesce(1))
    t.append(Seq(("50", "y"), ("60", "z")).toDF("id", "v").coalesce(1))
    withPruneThreshold(1L) {
      t.merge(Seq((7, "new")).toDF("id", "v"), Seq("id"))
    }
    assert(t.read.count() == 4)
    assert(t.read.filter(col("v") === "old").count() == 0)
    assert(t.read.filter(col("v") === "new").count() == 1)
  }

  test("string keys prune in UTF8 byte order: a supplementary-plane key is " +
      "found by a filtered read, a SQL point SELECT and a pruned merge") {
    // "\uFFFF" (UTF8 EF BF BF) sorts BELOW the emoji (F0 9F 98 80) in byte
    // order — the order the file's stats record — but ABOVE it in UTF-16
    // code units (FFFF > D83D)
    val emoji = "\uD83D\uDE00"
    val t = LakeTable(spark, tmpDir("mgp_utf8"))
    t.create(Seq(("", 0)).toDF("k", "v").schema, statsColumns = Seq("k"))
    t.append(Seq(("\uFFFF", 1), (emoji, 2)).toDF("k", "v").coalesce(1))
    t.append(Seq(("a", 3), ("b", 4)).toDF("k", "v").coalesce(1))
    assert(t.read.filter(s"k = '$emoji'")
      .select("v").as[Int].collect().toSeq == Seq(2))
    LakeSql.register("utf8_keys", t)
    try assert(spark.sql(s"SELECT v FROM utf8_keys WHERE k = '$emoji'")
      .as[Int].collect().toSeq == Seq(2))
    finally LakeSql.unregister("utf8_keys")
    val before = inodes(t)
    withPruneThreshold(1L) {
      t.merge(Seq((emoji, 20)).toDF("k", "v"), Seq("k"))
    }
    assert(t.read.count() == 4)
    assert(t.read.filter(col("k") === emoji).select("v").as[Int].collect().toSeq ==
      Seq(20))
    // the pruned path ran: the a/b file was re-linked, not rewritten
    assert(before.toSet.intersect(inodes(t).toSet).size == 1)
  }

  test("TIMESTAMP stats written under one session zone still admit their " +
      "rows read and merged under another: no missed row, no duplicate") {
    // stats are CAST-to-STRING renderings in the writer's zone; read back
    // under a zone 8h behind UTC they parse 8h late — the 10th's file
    // would seem to start at 08:00 UTC and drop the 05:00 UTC row
    val zoneKey = "spark.sql.session.timeZone"
    val prevZone = spark.conf.get(zoneKey)
    val jan = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    def day(d: Int) = spark.range(24).select(
      timestamp_seconds(lit(jan + (d - 1) * 86400L) + col("id") * 3600).as("ts"),
      col("id").cast("int").as("v")).coalesce(1)
    val at0500 = timestamp_seconds(lit(jan + 9 * 86400L + 5 * 3600))
    val t = LakeTable(spark, tmpDir("mgp_tz"))
    try {
      spark.conf.set(zoneKey, "UTC")
      t.create(day(1).schema, statsColumns = Seq("ts"))
      Seq(1, 10, 20).foreach(d => t.append(day(d)))
      spark.conf.set(zoneKey, "America/Los_Angeles")
      assert(t.read.filter(col("ts") === at0500).select("v").as[Int]
        .collect().toSeq == Seq(5))
      withPruneThreshold(1L) {
        t.merge(spark.range(1).select(at0500.as("ts"), lit(500).as("v")), Seq("ts"))
      }
      assert(t.read.count() == 72)
      assert(t.read.filter(col("ts") === at0500).select("v").as[Int]
        .collect().toSeq == Seq(500))
    } finally spark.conf.set(zoneKey, prevZone)
  }
}
