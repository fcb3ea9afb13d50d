package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** OPTIMIZE bin-packing: small files coalesce, large files ride by hard
 *  link (byte-identical, zero I/O), deletion vectors materialize. */
class OptimizeSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def fileKeys(root: String): Map[String, Object] =
    Files.walk(Paths.get(root, "data")).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString ->
        Files.getAttribute(p, "fileKey"))
      .toMap

  test("small files pack; the large file is carried by hard link, not copied") {
    val root = s"${tmpDir("opt_pack")}/t"
    val t = LakeTable(spark, root)
    val big = (1L to 20000L).map(k => (k, s"v$k" * 10)).toDF("k", "v")
    t.create(big.schema, statsColumns = Seq("k"))
    t.append(big.coalesce(1))                       // one comfortably-large file
    (1 to 5).foreach(i =>                            // five tiny appends
      t.append(Seq((100000L + i, "tiny")).toDF("k", "v")))
    assert(t.detail.numFiles == 6)
    val beforeKeys = fileKeys(root)

    val stats = t.optimizeCompact(targetFileBytes = 256 * 1024)
    // the big file (well over 128KB min) linked; the 5 tiny ones rewrote to 1
    assert(stats.filesLinked == 1, stats.toString)
    assert(stats.filesRewritten == 1, stats.toString)
    assert(t.detail.numFiles == 2)
    assert(t.read.count() == 20005)
    // hard link proof: the surviving big file shares its fileKey (inode)
    // with a pre-optimize file — bytes were never copied
    val afterKeys = fileKeys(root)
    val sharedInodes = afterKeys.values.toSet intersect beforeKeys.values.toSet
    assert(sharedInodes.nonEmpty)
    // zone maps still prune after the pack (stats were carried/rebuilt)
    val (kept, skipped) = t.skippingStats("k = 100001")
    assert(skipped >= 1, s"kept=$kept skipped=$skipped")
  }

  test("OPTIMIZE ZORDER BY a DATE column keeps every row and narrows " +
      "per-file date ranges") {
    val t = LakeTable(spark, s"${tmpDir("opt_zdate")}/t")
    // a year of dates scattered over 8 files: every file spans the year
    val df = spark.range(0, 4096).select(col("id").as("k"),
      date_add(lit("2024-01-01").cast("date"),
        ((col("id") * 2654435761L) % 365).cast("int")).as("d"))
    t.create(df.schema, statsColumns = Seq("d"))
    t.append(df.repartition(8, col("k")))
    val before = t.read.select("k", "d").collect().toSet
    val window = "d >= DATE '2024-03-01' AND d <= DATE '2024-03-10'"
    val (_, skippedBefore) = t.skippingStats(window)
    LakeSql.register("opt_zdate_t", t)
    try spark.sql("OPTIMIZE opt_zdate_t ZORDER BY (d)").collect()
    finally LakeSql.unregister("opt_zdate_t")
    assert(t.read.select("k", "d").collect().toSet == before)
    // each rewritten file covers a contiguous date span: a 10-day window
    // now skips most files
    val (kept, skipped) = t.skippingStats(window)
    assert(skipped > skippedBefore && kept <= 3,
      s"kept=$kept skipped=$skipped (before: skipped $skippedBefore)")
  }

  test("optimize materializes deletion vectors and clears them") {
    val t = LakeTable(spark, s"${tmpDir("opt_dv")}/t")
    val df = (1L to 1000L).map(k => (k, k * 2.0)).toDF("k", "v")
    t.append(df.coalesce(1))
    t.append(Seq((2000L, 0.0)).toDF("k", "v"))
    t.deleteWhere("k <= 100")
    assert(t.deleteVectorDirs.nonEmpty)
    // the DV-carrying file is large enough to be "big", but MUST rewrite
    // anyway: a link would resurrect its deleted rows under a new path
    t.optimizeCompact(targetFileBytes = 1024)
    assert(t.deleteVectorDirs.isEmpty)
    assert(t.read.count() == 901)
    assert(t.read.filter(col("k") <= 100).count() == 0)
    // copy-on-write works again now that the vectors are gone
    t.update("k = 101", Map("v" -> lit(0.0)))
    assert(t.read.filter(col("v") === 0.0).count() == 2)
  }

  test("partitioned optimize packs per partition and keeps pruning + blooms") {
    val t = LakeTable(spark, s"${tmpDir("opt_part")}/t")
    val df = (1L to 300L).map(k => (k, s"u$k", s"p${k % 3}")).toDF("k", "uid", "pt")
    t.create(df.schema, partitionBy = Some("pt"), bloomFilterColumns = Seq("uid"))
    (0 until 4).foreach(s => t.append(df.filter(col("k") % 4 === s)))
    assert(t.detail.numFiles == 12) // 4 appends × 3 partitions
    val stats = t.optimizeCompact(targetFileBytes = 512 * 1024 * 1024)
    assert(stats.filesRewritten == 3, stats.toString) // one packed file per partition
    assert(t.detail.numFiles == 3)
    assert(t.read.count() == 300)
    // partition-scoped reads still prune; bloom sidecar rebuilt for the dir
    assert(t.read.filter("pt = 'p1'").count() == 100)
    val (kept, skipped) = t.skippingStats("uid = 'zzz'")
    assert(kept <= 1 && skipped >= 2, s"kept=$kept skipped=$skipped")
  }

  test("DESCRIBE DETAIL counts only the files a read can return") {
    // a merge touching partition a moves it to a new dir; the old dir keeps
    // a's file on disk until vacuum, but no longer owns it
    val t = LakeTable(spark, s"${tmpDir("opt_visible")}/t")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "pt")
    t.create(df.schema, partitionBy = Some("pt"))
    t.append(df)
    t.merge(Seq((1L, "a")).toDF("k", "pt"), Seq("k"))
    val read = t.read.select(input_file_name()).distinct().as[String].collect()
    assert(read.length == 2)
    assert(t.detail.numFiles == 2)
    assert(t.detail.sizeInBytes ==
      read.map(f => Files.size(Paths.get(f.stripPrefix("file:")))).sum)
  }

  test("scoped optimizeWhere rewrites one partition; the rest keep path AND inode") {
    val root = s"${tmpDir("opt_where")}/t"
    val t = LakeTable(spark, root)
    val df = (1L to 300L).map(k => (k, s"u$k", s"p${k % 3}")).toDF("k", "uid", "pt")
    t.create(df.schema, partitionBy = Some("pt"), statsColumns = Seq("k"))
    (0 until 4).foreach(s => t.append(df.filter(col("k") % 4 === s)))
    assert(t.detail.numFiles == 12) // 4 appends × 3 partitions
    import java.nio.file.{Files, Paths}
    def liveFiles(): Map[String, Object] =
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          p.toString.contains("pt="))
        .map(p => Paths.get(root).relativize(p).toString ->
          Files.getAttribute(p, "fileKey"))
        .toMap
    val before = liveFiles()
    val st = t.optimizeWhere("pt = 'p1'")
    assert(st.filesRewritten == 1, st.toString) // p1's 4 files packed to 1
    assert(st.filesLinked == 8, st.toString)    // p0+p2 files untouched
    // untouched partitions: SAME path, SAME inode — not even relinked
    val after = liveFiles()
    before.filter(e => !e._1.contains("pt=p1")).foreach { case (path, key) =>
      assert(after.get(path).contains(key), s"$path was touched")
    }
    assert(t.read.count() == 300)
    assert(t.read.filter("pt = 'p1'").count() == 100)
    // deletion vectors over the SCOPED partition materialize; vectors over
    // untouched partitions stay live and still filter
    t.deleteWhere("k = 5")   // p2 (5 % 3 = 2)
    t.deleteWhere("k = 7")   // p1
    assert(t.deleteVectorDirs.nonEmpty)
    val st2 = t.optimizeWhere("pt = 'p1'")
    assert(st2.filesRewritten >= 1)
    assert(t.read.count() == 298)               // both deletes still honored
    assert(t.read.filter(col("k").isin(5L, 7L)).count() == 0)
    // scoped Z-order: same rows, reorganized physically
    val st3 = t.optimizeWhere("pt = 'p0'",
      zcols = Seq("k"))
    assert(st3.filesRewritten >= 1)
    assert(t.read.count() == 298)
  }

  test("optimize is rowset-preserving: CDF spans it silently") {
    val t = LakeTable(spark, s"${tmpDir("opt_cdf")}/t")
      .create(Seq((1L, "a")).toDF("k", "v").schema, enableChangeFeed = true)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.optimizeCompact()
    t.append(Seq((3L, "c")).toDF("k", "v"))
    // the optimize commit contributes ZERO change rows; the feed spans it
    assert(t.readChangeFeed(0).count() == 3)
    assert(t.readChangeFeed(2, Some(2)).count() == 0)
    assert(t.readChangeFeed(3).count() == 1)
    assert(t.history.map(_._2) == Seq("create", "append", "optimize", "append"))
  }

  test("autoCompact fires after partition-scoped MERGES too — the one-dir-" +
      "per-run accumulation the property exists to bound") {
    val t = LakeTable(spark, s"${tmpDir("opt_auto_merge")}/t")
    val df = Seq((1L, "p1", 1.0)).toDF("k", "pt", "v")
    t.create(df.schema, partitionBy = Some("pt"))
    t.setTableProperties(Map(
      LakeTable.AutoCompactProp -> "true",
      LakeTable.AutoCompactMinFilesProp -> "4"))
    // each merge lands a NEW partition: owned dirs (one small file each)
    // accumulate run over run — the shape that crosses the threshold
    (1 to 5).foreach { i =>
      t.merge(Seq((i.toLong, s"p$i", i.toDouble)).toDF("k", "pt", "v"), Seq("k", "pt"))
    }
    assert(t.history.map(_._2).contains("optimize"), t.history.mkString(","))
    assert(t.read.count() == 5)
    assert(t.read.agg(org.apache.spark.sql.functions.sum("v"))
      .head().getDouble(0) == 15.0)
  }

  test("autoCompact TBLPROPERTIES: appends self-compact past the small-file " +
      "threshold; the switch is live both ways") {
    val t = LakeTable(spark, s"${tmpDir("opt_auto")}/t")
      .create(Seq((1L, "a")).toDF("k", "v").schema)
    t.setTableProperties(Map(
      LakeTable.AutoCompactProp -> "true",
      LakeTable.AutoCompactMinFilesProp -> "4"))
    def files: Int = t.detail.numFiles.toInt
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    assert(files == 3, "below the threshold nothing compacts")
    assert(!t.history.map(_._2).contains("optimize"))
    t.append(Seq((4L, "v4")).toDF("k", "v").coalesce(1)) // 4th small file → pack
    assert(t.history.last._2 == "optimize", t.history.mkString(","))
    assert(files == 1, "the four small files packed into one")
    assert(t.read.count() == 4)
    // switching the property off stops the behavior immediately
    t.unsetTableProperties(Seq(LakeTable.AutoCompactProp))
    (5 to 9).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    assert(files == 6, "disabled: small files accumulate again")
    assert(t.read.count() == 9)
  }

  test("autoCompact and readStream are mutually exclusive: the stream's " +
      "refusal names the property as the cause") {
    val t = LakeTable(spark, s"${tmpDir("opt_auto_stream")}/t")
      .create(Seq((1L, "a")).toDF("k", "v").schema)
    t.setTableProperties(Map(
      LakeTable.AutoCompactProp -> "true",
      LakeTable.AutoCompactMinFilesProp -> "4"))
    // the user only ever APPENDS — yet the property makes the 4th append
    // commit an optimize rewrite, permanently breaking the file stream
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    assert(t.history.map(_._2).contains("optimize"))
    val e = intercept[IllegalArgumentException](t.readStream)
    assert(e.getMessage.contains(LakeTable.AutoCompactProp), e.getMessage)
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }
}
