package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental liquid clustering: plain OPTIMIZE on a clustered table
 *  rewrites ONLY data written since the last clustering pass —
 *  already-clustered files keep their paths AND inodes (Delta's incremental
 *  clustering); `OPTIMIZE FULL` restores the global layout; a changed
 *  CLUSTER BY key invalidates the flags wholesale. */
class ClusterIncrementalSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def fileKeys(root: String): Map[String, Object] =
    Files.walk(Paths.get(root, "data")).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.getAttribute(p, "fileKey"))
      .toMap

  private def mk(prefix: String): LakeTable = {
    val t = LakeTable(spark, s"${tmpDir(prefix)}/t")
    val df = (1L to 20000L).map(k => (k, k % 997, s"v$k")).toDF("k", "b", "v")
    t.create(df.schema, statsColumns = Seq("k", "b"))
    t.append(df.coalesce(2))
    t.setClusterBy(Seq("k", "b"))
    t
  }

  test("second OPTIMIZE rewrites only the new append; clustered files keep inodes") {
    val t = mk("clinc")
    val s1 = t.optimizeClustered(Seq("k", "b"))      // first pass: everything
    assert(s1.filesRewritten > 0 && s1.filesLinked == 0, s1.toString)
    val keysAfterFirst = fileKeys(t.root)
    val trickle = (20001L to 20100L).map(k => (k, k % 997, s"v$k"))
      .toDF("k", "b", "v")
    t.append(trickle.coalesce(1))
    val s2 = t.optimizeClustered(Seq("k", "b"))      // second pass: the append
    assert(s2.filesRewritten >= 1, s2.toString)
    assert(s2.filesLinked == s1.filesRewritten, s2.toString)
    assert(s2.bytesRewritten < s1.bytesRewritten, s"$s1 vs $s2")
    // untouched proof: every first-pass output file survives at the SAME
    // path with the SAME inode — the pass never relinked, let alone rewrote
    val keysNow = fileKeys(t.root)
    keysAfterFirst.foreach { case (name, key) =>
      assert(keysNow.get(name).contains(key), s"clustered file $name was touched")
    }
    assert(t.read.count() == 20100)
    // idle third pass: nothing unclustered, zero work
    val s3 = t.optimizeClustered(Seq("k", "b"))
    assert(s3.filesRewritten == 0 && s3.bytesRewritten == 0L, s3.toString)
  }

  test("incremental pass reads new files THROUGH their deletion vectors; clustered-file DVs stay live") {
    val t = mk("clinc_dv")
    t.optimizeClustered(Seq("k", "b"))
    // DV on a CLUSTERED file — must stay live across the incremental pass
    t.deleteWhere("k = 5")
    val trickle = (20001L to 20100L).map(k => (k, k % 997, s"v$k"))
      .toDF("k", "b", "v")
    t.append(trickle.coalesce(1))
    // DV on the UNCLUSTERED append — the pass materializes it away
    t.deleteWhere("k = 20050")
    assert(t.deleteVectorDirs.size == 2)
    t.optimizeClustered(Seq("k", "b"))
    assert(t.read.count() == 20098)
    assert(t.read.filter(col("k") === 5 || col("k") === 20050).count() == 0)
    // the pass DRAINS the stale vector: the k=20050 DV addressed only the
    // rewritten append, so it leaves the manifest; the k=5 DV still
    // addresses a kept clustered file and stays. Without the drain the DV
    // list grows forever on a clustered table (maintain() never reaches
    // compact's DV-clearing path) and every read pays a dead anti-join.
    assert(t.deleteVectorDirs.size == 1, t.deleteVectorDirs.toString)
    // re-keying invalidates every clustered flag: the next pass rewrites
    // ALL entries, so the last DV drains too — and the rows stay deleted
    t.setClusterBy(Seq("b", "k"))
    t.optimizeClustered(Seq("b", "k"))
    assert(t.deleteVectorDirs.isEmpty, t.deleteVectorDirs.toString)
    assert(t.read.count() == 20098)
    assert(t.read.filter(col("k") === 5 || col("k") === 20050).count() == 0)
  }

  test("SQL: plain OPTIMIZE is incremental, OPTIMIZE FULL re-clusters globally") {
    val t = mk("clinc_sql")
    LakeSql.register("clinc_sql_t", t)
    try {
      spark.sql("OPTIMIZE clinc_sql_t")
      val clusteredFiles = t.detail.numFiles
      t.append((20001L to 20100L).map(k => (k, k % 997, s"v$k"))
        .toDF("k", "b", "v").coalesce(1))
      val inc = spark.sql("OPTIMIZE clinc_sql_t").collect().head
      assert(inc.getAs[String]("clustered_by") == "k,b")
      assert(inc.getAs[Int]("files_untouched") == clusteredFiles, inc.toString)
      assert(inc.getAs[Int]("files_rewritten") >= 1, inc.toString)
      // FULL: one global rewrite, then plain OPTIMIZE has nothing to do
      spark.sql("OPTIMIZE clinc_sql_t FULL")
      assert(t.read.count() == 20100)
      // and the FULL output is flagged: the next plain OPTIMIZE is a no-op
      val idle = spark.sql("OPTIMIZE clinc_sql_t").collect().head
      assert(idle.getAs[Int]("files_rewritten") == 0, idle.toString)
    } finally LakeSql.unregister("clinc_sql_t")
  }

  test("ALTER CLUSTER BY to a new key invalidates the flags — next OPTIMIZE re-clusters everything") {
    val t = mk("clinc_rekey")
    t.optimizeClustered(Seq("k", "b"))
    t.setClusterBy(Seq("b"))
    // small target-file size → several files, so the pruning probe below
    // has something to skip
    val s = t.optimizeClustered(Seq("b"), targetFileBytes = 64 * 1024)
    assert(s.filesLinked == 0, s.toString)           // nothing counted clustered
    assert(s.filesRewritten > 1, s.toString)
    assert(t.read.count() == 20000)
    // zone maps on the new leading key actually prune after the re-cluster
    val (kept, skipped) = t.skippingStats("b = 7")
    assert(skipped >= 1, s"kept=$kept skipped=$skipped")
  }

  test("clustered flags survive restore and ride shallow clones") {
    val t = mk("clinc_restore")
    t.optimizeClustered(Seq("k", "b"))               // v2: clustered
    val vClustered = t.currentVersion
    t.append(Seq((90001L, 1L, "x")).toDF("k", "b", "v"))
    t.restore(vClustered)
    // restored snapshot: every entry flagged — incremental pass is a no-op
    val s = t.optimizeClustered(Seq("k", "b"))
    assert(s.filesRewritten == 0, s.toString)
    val c = t.shallowClone(s"${tmpDir("clinc_clone")}/c")
    val sc = c.optimizeClustered(Seq("k", "b"))
    assert(sc.filesRewritten == 0, sc.toString)
  }
}
