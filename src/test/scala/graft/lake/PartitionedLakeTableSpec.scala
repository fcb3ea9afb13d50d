package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

import scala.jdk.CollectionConverters._

class PartitionedLakeTableSpec extends SparkSpec {
  import spark.implicits._

  private def dataDirs(root: String): Set[String] = {
    val p = Paths.get(root, "data")
    if (!Files.isDirectory(p)) Set.empty
    else Files.list(p).iterator().asScala.map(_.getFileName.toString).toSet
  }

  test("partitioned overwrite + read round-trips values and types") {
    val root = s"${tmpDir("plt_rw")}/t"
    val t = LakeTable(spark, root)
    val df = Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
      (3L, "2024-01-02", 30.0)).toDF("k", "day", "v")
    t.overwrite(df, partitionBy = Some("day"))
    assert(t.partitionColumn.contains("day"))
    assert(t.read.orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0), (3L, "2024-01-02", 30.0)))
  }

  test("merge rewrites only touched partitions; untouched dirs stay in place") {
    val root = s"${tmpDir("plt_merge")}/t"
    val t = LakeTable(spark, root)
    t.overwrite(Seq(
      (1L, "d1", "old1"), (2L, "d1", "old2"),
      (3L, "d2", "keep3"), (4L, "d3", "keep4")).toDF("k", "day", "v"),
      partitionBy = Some("day"))
    val before = dataDirs(root)

    // source touches only partition d1 (update k=1, insert k=5)
    t.merge(Seq((1L, "d1", "new1"), (5L, "d1", "new5")).toDF("k", "day", "v"), Seq("k"))
    val added = dataDirs(root) -- before
    assert(added.size == 1, s"merge must add exactly one data dir, added=$added")
    // the new dir contains ONLY the touched partition
    val newDir = Paths.get(root, "data", added.head)
    val parts = Files.list(newDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("day=")).toSet
    assert(parts == Set("day=d1"), parts)
    // full table content is correct across old + new dirs
    assert(t.read.orderBy("k").as[(Long, String, String)].collect().toSeq == Seq(
      (1L, "d1", "new1"), (2L, "d1", "old2"), (3L, "d2", "keep3"),
      (4L, "d3", "keep4"), (5L, "d1", "new5")))
  }

  test("partition-scoped read prunes directories (PartitionFilters in plan)") {
    val root = s"${tmpDir("plt_prune")}/t"
    val t = LakeTable(spark, root)
    t.overwrite(Seq((1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d3", 3.0))
      .toDF("k", "day", "v"), partitionBy = Some("day"))
    val scoped = t.read.filter(col("day") === "d2")
    assert(scoped.as[(Long, String, Double)].collect().toSeq == Seq((2L, "d2", 2.0)))
    val plan = scoped.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("append accumulates rows in the same partition across dirs") {
    val root = s"${tmpDir("plt_append")}/t"
    val t = LakeTable(spark, root)
    t.overwrite(Seq((1L, "d1", 1.0)).toDF("k", "day", "v"), partitionBy = Some("day"))
    t.append(Seq((2L, "d1", 2.0), (3L, "d2", 3.0)).toDF("k", "day", "v"))
    assert(t.read.count() == 3)
    assert(t.read.filter(col("day") === "d1").count() == 2)
  }

  test("merge on a typed (date) partition column with guard semantics") {
    val root = s"${tmpDir("plt_date")}/t"
    val t = LakeTable(spark, root)
    val base = Seq((1L, "2024-01-01", 100), (2L, "2024-01-02", 100))
      .toDF("k", "day", "seq").withColumn("day", to_date(col("day")))
    t.overwrite(base, partitionBy = Some("day"))
    val src = Seq((1L, "2024-01-01", 50), (3L, "2024-01-01", 100))
      .toDF("k", "day", "seq").withColumn("day", to_date(col("day")))
    t.merge(src, Seq("k"), Some("s.seq >= t.seq"))
    val got = t.read.orderBy("k")
      .select(col("k"), col("day").cast("string"), col("seq"))
      .as[(Long, String, Int)].collect().toSeq
    // k=1 stale (50 < 100) keeps target; k=3 inserted; k=2 partition untouched
    assert(got == Seq((1L, "2024-01-01", 100), (2L, "2024-01-02", 100), (3L, "2024-01-01", 100)))
  }

  test("unescapePathName decodes multi-byte UTF-8 runs and tolerates bad escapes") {
    // multi-byte value: %C3%A9 must decode as ONE UTF-8 char, never two
    // mojibake chars (a mojibake manifest value is a partition no equality
    // filter can ever match — silent data invisibility)
    assert(LakeTable.unescapePathName("caf%C3%A9%2F%C3%A9t%C3%A9%3D1") == "café/été=1")
    assert(LakeTable.unescapePathName("%E4%B8%AD%E6%96%87") == "中文")
    // raw non-ASCII chars (Spark does not escape them) pass through
    assert(LakeTable.unescapePathName("café%2Fx") == "café/x")
    // Hive semantics: '%' not followed by two hex digits is literal
    assert(LakeTable.unescapePathName("100%") == "100%")
    assert(LakeTable.unescapePathName("%ZZ5") == "%ZZ5")
    assert(LakeTable.unescapePathName("a%2") == "a%2")
    assert(LakeTable.unescapePathName("50%25") == "50%")
  }

  test("escaped and non-ASCII partition values round-trip and stay merge-visible") {
    // '/' and '=' are %-escaped by Spark in the dir name; the non-ASCII
    // value is included only where the platform can create such filenames
    // (this sandbox runs a POSIX locale, where the JVM rejects them — a
    // UTF-8 deployment exercises the full path; unescapePathName's decode
    // is unit-tested above either way).
    val nonAsciiOk =
      try {
        val probe = Paths.get(tmpDir("plt_probe"), "café")
        Files.createDirectories(probe); Files.deleteIfExists(probe); true
      } catch { case _: Exception => false }
    val special = if (nonAsciiOk) "café/été=1" else "a/b=c 100%"
    val root = s"${tmpDir("plt_utf8")}/t"
    val t = LakeTable(spark, root)
    t.overwrite(Seq((1L, special, "a"), (2L, "plain", "b"))
      .toDF("k", "day", "v"), partitionBy = Some("day"))
    assert(t.read.orderBy("k").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, special, "a"), (2L, "plain", "b")))
    assert(t.read.filter(col("day") === special).as[(Long, String, String)]
      .collect().toSeq == Seq((1L, special, "a")))
    // merge touching the escaped partition must see and update its rows
    t.merge(Seq((1L, special, "a2"), (3L, special, "c")).toDF("k", "day", "v"),
      Seq("k"))
    assert(t.read.orderBy("k").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, special, "a2"), (2L, "plain", "b"), (3L, special, "c")))
  }

  test("null or empty-string partition value fails before commit, no orphan dir") {
    val root = s"${tmpDir("plt_null")}/t"
    val t = LakeTable(spark, root)
    val e1 = intercept[IllegalArgumentException] {
      t.overwrite(Seq((1L, null: String, "a"), (2L, "d1", "b"))
        .toDF("k", "day", "v"), partitionBy = Some("day"))
    }
    assert(e1.getMessage.contains("null or empty-string"))
    assert(dataDirs(root).isEmpty, "failed write must reclaim its data dir")
    assert(!t.exists, "nothing may have been committed")
    val e2 = intercept[IllegalArgumentException] {
      t.overwrite(Seq((1L, "", "a")).toDF("k", "day", "v"),
        partitionBy = Some("day"))
    }
    assert(e2.getMessage.contains("null or empty-string"))
    assert(dataDirs(root).isEmpty)
  }

  test("readStream rejects partitioned tables (partition column would be NULL)") {
    val root = s"${tmpDir("plt_stream")}/t"
    val df = Seq((1L, "d1", 1.0)).toDF("k", "day", "v")
    // append-only history (create + append) so the partition guard — not the
    // append-only guard — is what rejects the call
    val t = LakeTable(spark, root).create(df.schema, partitionBy = Some("day"))
    t.append(df)
    val e = intercept[IllegalArgumentException] { t.readStream }
    assert(e.getMessage.contains("partitioned"))
  }

  test("compact folds accumulated dirs into one") {
    val root = s"${tmpDir("plt_compact")}/t"
    val t = LakeTable(spark, root)
    t.overwrite(Seq((1L, "d1", 1.0)).toDF("k", "day", "v"), partitionBy = Some("day"))
    t.append(Seq((2L, "d2", 2.0)).toDF("k", "day", "v"))
    t.append(Seq((3L, "d3", 3.0)).toDF("k", "day", "v"))
    val snapshot = t.read.orderBy("k").collect().toSeq
    t.compact()
    t.vacuum(keepVersions = 1)
    assert(dataDirs(root).size == 1)
    assert(t.read.orderBy("k").collect().toSeq == snapshot)
  }
}
