package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * The manifest LOG discipline (Delta Lake's transaction log + checkpoint
 * cadence, `delta.checkpointInterval` = 10): commits between checkpoints are
 * DIFF-encoded against their parent manifest, so per-commit metadata bytes
 * scale with the files touched — at 100 TB a one-file append must not
 * rewrite a million-entry file list. These tests pin the format (checkpoint
 * cadence, delta smallness), the resolution (chain reads ≡ full snapshots,
 * across instances with cold caches), and every consumer of historical
 * manifests over chain-encoded histories (time travel, restore, clone,
 * vacuum, CDF).
 */
class ManifestDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def mfDir(root: String): Path = Paths.get(root, "_commits")

  private def mfFiles(root: String): Seq[Path] =
    Files.list(mfDir(root)).iterator().asScala.toList
      .filter(_.getFileName.toString.endsWith(".mf")).sortBy(_.getFileName.toString)

  private def linesOf(p: Path): Seq[String] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq

  private def isDelta(p: Path): Boolean = linesOf(p).exists(_.startsWith("base="))

  test("commits between checkpoints are deltas; every 10th is a full checkpoint") {
    val root = s"${tmpDir("mfd_cadence")}/t"
    val t = LakeTable(spark, root)
    (1 to 25).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val files = mfFiles(root)
    assert(files.size == 25)
    // v0 (first append creates the table) is a full checkpoint; chains of 9
    // deltas follow; v10 and v20 are checkpoints again
    val deltaFlags = files.map(isDelta)
    (0 until 25).foreach { v =>
      val expectDelta = v % LakeTable.ManifestCheckpointInterval != 0
      assert(deltaFlags(v) == expectDelta,
        s"v$v expected ${if (expectDelta) "delta" else "checkpoint"}")
    }
    // resolution across the chain reproduces the full snapshot
    assert(t.read.count() == 25)
    assert(t.read.agg(sum("k")).as[Long].head() == (1 to 25).map(_.toLong).sum)
  }

  test("delta manifests are O(files touched), not O(table)") {
    val root = s"${tmpDir("mfd_size")}/t"
    val t = LakeTable(spark, root)
    // a wide table: one append with many dirs' worth of entries, then
    // single-file appends on top
    (1 to 12).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val files = mfFiles(root)
    val checkpointBytes = Files.size(files(10)) // v10 is a checkpoint
    val deltaBytes = Files.size(files(11))      // v11 is a delta over 11 dirs
    assert(deltaBytes < checkpointBytes / 2,
      s"delta $deltaBytes B should be far below checkpoint $checkpointBytes B")
    // the delta names only what the commit touched
    val dl = linesOf(files(11))
    assert(dl.count(_.startsWith("adddir=")) == 1)
    assert(!dl.exists(_.startsWith("rmdir=")))
    assert(!dl.exists(_.startsWith("dir=")))
  }

  test("rewrite-class commits (overwrite, compact) fall back to checkpoints") {
    val root = s"${tmpDir("mfd_rewrite")}/t"
    val t = LakeTable(spark, root)
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    t.overwrite(Seq((99L, "z")).toDF("k", "v"))
    val files = mfFiles(root)
    assert(!isDelta(files(4)), "overwrite replaces every dir — full manifest")
    t.append(Seq((100L, "a")).toDF("k", "v"))
    t.compact()
    assert(!isDelta(mfFiles(root)(6)), "compact rewrites the dir set — full manifest")
    assert(t.read.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((99L, "z"), (100L, "a")))
  }

  test("time travel, history and restore work across chain-encoded versions") {
    val root = s"${tmpDir("mfd_restore")}/t"
    val t = LakeTable(spark, root)
    (1 to 15).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    // readVersion mid-chain (v6 = 7 appends)
    assert(t.readVersion(6).count() == 7)
    assert(t.history.map(_._2).distinct == Seq("append"))
    t.restore(6)
    assert(t.read.count() == 7)
    assert(t.history.last._2 == "restore")
    // and the restore commit itself resolves correctly from a cold cache
    val t2 = LakeTable(spark, root)
    assert(t2.read.agg(sum("k")).as[Long].head() == (1 to 7).map(_.toLong).sum)
  }

  test("deletes (DV), zone pruning and CDF survive delta encoding") {
    val root = s"${tmpDir("mfd_dv")}/t"
    val t = LakeTable(spark, root)
    t.create(Seq.empty[(Long, String)].toDF("k", "v").schema,
      enableChangeFeed = true, statsColumns = Seq("k"))
    (1 to 5).foreach(i =>
      t.append(Seq((i * 10L, s"v$i"), (i * 10L + 1, s"w$i")).toDF("k", "v")))
    val removed = t.deleteWhere("k = 31")
    assert(removed == 1)
    val files = mfFiles(root)
    assert(isDelta(files.last), "a MoR delete adds a DV dir — delta-sized commit")
    assert(t.read.count() == 9)
    // zone pruning consults chain-resolved per-file stats
    val (kept, pruned) = t.skippingStats("k = 40")
    assert(pruned > 0, s"expected pruned files, got kept=$kept pruned=$pruned")
    // CDF reads the delta commit's change dir
    val cdf = t.readChangeFeed(t.currentVersion, Some(t.currentVersion))
    assert(cdf.filter(col(LakeTable.ChangeTypeCol) === "delete").count() == 1)
  }

  test("clone of a chain-encoded table and vacuum over one stay correct") {
    val base = tmpDir("mfd_clone")
    val t = LakeTable(spark, s"$base/src")
    (1 to 13).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val c = t.shallowClone(s"$base/dst")
    assert(c.read.count() == 13)
    assert(!isDelta(mfFiles(s"$base/dst").head), "clone v0 is a full checkpoint")
    // overwrite drops every append dir from the snapshot; vacuum reclaims them
    t.overwrite(Seq((999L, "ow")).toDF("k", "v"))
    t.vacuum(keepVersions = 1)
    assert(t.read.count() == 1)
    // vacuumed mid-chain versions fail loudly, the current one reads fine
    assertThrows[IllegalArgumentException](t.readVersion(3).count())
    assert(t.readVersion(t.currentVersion).count() == 1)
    assert(c.read.count() == 13, "clone is independent of source vacuum")
  }

  test("a second instance (cold cache) resolves the same snapshot") {
    val root = s"${tmpDir("mfd_cold")}/t"
    val t = LakeTable(spark, root)
    (1 to 17).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    t.deleteWhere("k = 9")
    val fresh = LakeTable(spark, root)
    assert(fresh.read.count() == 16)
    assert(fresh.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(fresh.read.agg(sum("k")).as[Long].head() ==
      (1 to 17).map(_.toLong).sum - 9)
  }
}
