package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** O8 Change Data Feed: row-level deltas per commit with Delta CDF's
 *  `_change_type` / `_commit_version` columns. */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("seq", IntegerType)))

  private def cdfTable(name: String): LakeTable =
    LakeTable(spark, s"${tmpDir(name)}/t").create(schema, enableChangeFeed = true)

  private def feed(t: LakeTable, from: Long): Seq[(Long, String, Long)] =
    t.readChangeFeed(from).orderBy("_commit_version", "k", "_change_type")
      .select(col("k"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSeq

  test("merge emits insert / update_preimage / update_postimage; appends emit inserts") {
    val t = cdfTable("cdf_basic")
    t.append(Seq((1L, "a", 1), (2L, "b", 1)).toDF("k", "v", "seq"))      // v1: inserts
    // v2: k=2 updated (guard passes), k=3 inserted, k=1 untouched
    t.merge(Seq((2L, "b2", 2), (3L, "c", 2)).toDF("k", "v", "seq"),
      Seq("k"), Some("s.seq >= t.seq"))
    // NB "update_postimage" < "update_preimage" lexicographically
    assert(feed(t, 0) == Seq(
      (1L, "insert", 1L), (2L, "insert", 1L),
      (2L, "update_postimage", 2L), (2L, "update_preimage", 2L),
      (3L, "insert", 2L)))
    // reading from a later version narrows the feed
    assert(feed(t, 2).forall(_._3 == 2L))
    // pre/post images carry the right values
    val images = t.readChangeFeed(2).filter(col("k") === 2)
      .orderBy("_change_type").select("v").as[String].collect().toSeq
    assert(images == Seq("b2", "b"))
  }

  test("a BOOTSTRAP merge materializes no change images — its data dir IS the insert set") {
    val t = cdfTable("cdf_boot")
    // bootstrap merge into the empty table (every CDC flow's first batch)
    t.merge(Seq((1L, "a", 1), (2L, "b", 1)).toDF("k", "v", "seq"),
      Seq("k"), Some("s.seq >= t.seq"))
    // round-18 optimization: no _changes dir exists — the feed serves the
    // commit's added data files as inserts (writing the images too would
    // double every bootstrap's write bytes)
    val changesDir = java.nio.file.Paths.get(t.root, "_changes")
    assert(!java.nio.file.Files.isDirectory(changesDir) ||
      !java.nio.file.Files.list(changesDir).findFirst().isPresent, "images materialized")
    assert(t.feedReadable(1, 1))
    assert(feed(t, 0) == Seq((1L, "insert", 1L), (2L, "insert", 1L)))
    // a later REAL merge still records its mixed images
    t.merge(Seq((2L, "b2", 2)).toDF("k", "v", "seq"), Seq("k"), Some("s.seq >= t.seq"))
    assert(feed(t, 2) == Seq(
      (2L, "update_postimage", 2L), (2L, "update_preimage", 2L)))
  }

  test("_commit_timestamp carries the pinned commit clock per version") {
    val t0 = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    val tick = new java.util.concurrent.atomic.AtomicLong(0L)
    // each commit sees a strictly later clock (1s apart)
    val t = LakeTable.withClock(spark, s"${tmpDir("cdf_ts")}/t",
      () => t0.getTime + tick.getAndIncrement() * 1000L)
      .create(schema, enableChangeFeed = true)
    t.append(Seq((1L, "a", 1)).toDF("k", "v", "seq"))                    // v1
    t.merge(Seq((1L, "a2", 2)).toDF("k", "v", "seq"), Seq("k"))          // v2
    val got = t.readChangeFeed(0)
      .select(col("_commit_version"), col("_commit_timestamp").cast("string"))
      .distinct().orderBy("_commit_version")
      .as[(Long, String)].collect().toSeq
    // create consumed tick 0 → v1 stamped at +1s, v2 at +2s
    assert(got == Seq(
      (1L, "2030-01-01 00:00:01"), (2L, "2030-01-01 00:00:02")))
    // the schema carries all three Delta CDF columns
    assert(t.readChangeFeed(0).columns.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
  }

  test("guard-rejected matches produce NO change rows (stale source)") {
    val t = cdfTable("cdf_guard")
    t.merge(Seq((1L, "cur", 10)).toDF("k", "v", "seq"), Seq("k"))        // v1: bootstrap insert
    t.merge(Seq((1L, "stale", 5)).toDF("k", "v", "seq"),
      Seq("k"), Some("s.seq >= t.seq"))                                  // v2: rejected
    assert(feed(t, 0) == Seq((1L, "insert", 1L)))
    assert(t.readChangeFeed(2, Some(2)).count() == 0)
  }

  test("merge on a non-CDF table fails loudly when its feed is requested") {
    val t = LakeTable(spark, s"${tmpDir("cdf_off")}/t").create(schema)
    t.merge(Seq((1L, "a", 1)).toDF("k", "v", "seq"), Seq("k"))
    val e = intercept[RuntimeException](t.readChangeFeed(0).collect())
    assert(e.getMessage.contains("enableChangeFeed"), e.getMessage)
  }

  test("compact/optimize are rowset-preserving: the feed spans them " +
      "silently; a true rewrite (overwrite) still refuses") {
    val t = cdfTable("cdf_rewrite")
    t.append(Seq((1L, "a", 1)).toDF("k", "v", "seq"))  // v1
    t.compact()                                        // v2: file rewrite only
    t.append(Seq((2L, "b", 1)).toDF("k", "v", "seq"))  // v3
    // the feed spans the compact: both appends' inserts, nothing for v2
    assert(feed(t, 0) == Seq((1L, "insert", 1L), (2L, "insert", 3L)))
    assert(t.readChangeFeed(2, Some(2)).count() == 0)
    t.overwrite(Seq((9L, "z", 9)).toDF("k", "v", "seq")) // v4: true rewrite
    val e = intercept[RuntimeException](t.readChangeFeed(0).collect())
    assert(e.getMessage.contains("full-rewrite"), e.getMessage)
  }

  test("partitioned CDF merge records changes only for touched partitions") {
    val pschema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("seq", IntegerType), StructField("pt", StringType)))
    val t = LakeTable(spark, s"${tmpDir("cdf_part")}/t")
      .create(pschema, partitionBy = Some("pt"), enableChangeFeed = true)
    t.merge(Seq((1L, "a", 1, "p1"), (2L, "b", 1, "p2")).toDF("k", "v", "seq", "pt"), Seq("k"))
    t.merge(Seq((2L, "b2", 2, "p2")).toDF("k", "v", "seq", "pt"),
      Seq("k"), Some("s.seq >= t.seq"))
    assert(feed(t, 2) == Seq((2L, "update_postimage", 2L), (2L, "update_preimage", 2L)))
    assert(t.read.count() == 2)
  }

  test("CDF range spanning additive schema evolution reads under the latest schema") {
    val t = cdfTable("cdf_evolve")
    t.append(Seq((1L, "a", 1)).toDF("k", "v", "seq"))                    // v1: old schema
    t.append(Seq((2L, "b", 1, 9.5)).toDF("k", "v", "seq", "score"),
      mergeSchema = true)                                                // v2: adds score
    t.merge(Seq((1L, "a2", 2, 1.5)).toDF("k", "v", "seq", "score"),
      Seq("k"), Some("s.seq >= t.seq"))                                  // v3: update
    val cdf = t.readChangeFeed(0)
    // served under the LATEST schema: score present everywhere, NULL for
    // rows committed before the column existed
    assert(cdf.columns.contains("score"))
    val rows = cdf.orderBy("_commit_version", "k", "_change_type")
      .select(col("k"), col("_commit_version"), col("score"))
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(rows == Seq(
      (1L, 1L, None),                                   // v1 insert, pre-evolution
      (2L, 2L, Some(9.5)),                              // v2 insert carries score
      (1L, 3L, Some(1.5)), (1L, 3L, None)))             // post/pre images
  }

  test("vacuum keeps referenced change dirs, drops aged ones") {
    val t = cdfTable("cdf_vacuum")
    t.merge(Seq((1L, "a", 1)).toDF("k", "v", "seq"), Seq("k"))           // v1
    t.merge(Seq((1L, "a2", 2)).toDF("k", "v", "seq"), Seq("k"))          // v2
    t.merge(Seq((1L, "a3", 3)).toDF("k", "v", "seq"), Seq("k"))          // v3
    t.vacuum(keepVersions = 2)                                           // keeps v2, v3
    assert(feed(t, 2).map(_._3).distinct == Seq(2L, 3L))
    val e = intercept[RuntimeException](t.readChangeFeed(1, Some(1)).collect())
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("change images carry INT64 TIMESTAMP_MICROS like the data files, " +
      "whichever thread writes them") {
    import scala.jdk.CollectionConverters._
    val t = LakeTable(spark, s"${tmpDir("cdf_micros")}/t").create(
      StructType(Seq(StructField("k", LongType), StructField("p", StringType),
        StructField("ts", TimestampType))),
      partitionBy = Some("p"), enableChangeFeed = true)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
    t.append(Seq((1L, "a", ts), (2L, "b", ts)).toDF("k", "p", "ts"))
    // a partitioned merge writes its images on a second thread while the
    // data write runs; a merge-on-read delete writes them beside the
    // deletion vector
    t.merge(Seq((1L, "a", new java.sql.Timestamp(ts.getTime + 1000))).toDF("k", "p", "ts"),
      Seq("k"))
    t.deleteWhere("k = 2")
    val conf = spark.sessionState.newHadoopConf()
    val encodings = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "_changes"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val pt = r.getFooter.getFileMetaData.getSchema.getType(Array("ts"): _*).asPrimitiveType
          s"${pt.getPrimitiveTypeName} ${pt.getLogicalTypeAnnotation}"
        } finally r.close()
      }.toSet
    assert(encodings == Set("INT64 TIMESTAMP(MICROS,true)"), encodings.toString)
  }
}
