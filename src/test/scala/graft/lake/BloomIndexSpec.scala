package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Bloom-filter file index: point-lookup pruning on high-cardinality
 * UNCLUSTERED columns — the case zone maps cannot help (every file's
 * [min, max] spans the domain). The invariant under test everywhere:
 * pruning only ever REMOVES files that provably lack the value; results
 * equal an unpruned filtered scan exactly.
 */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  /** Three appends of interleaved ids: id % 3 == slice, so every file's
   *  zone map on `uid` spans ~the whole domain (no range pruning possible),
   *  but each uid value lives in exactly ONE file. */
  private def interleaved(name: String): LakeTable = {
    val t = LakeTable(spark, s"${tmpDir(name)}/t")
    val df = (1L to 3000L).map(k => (k, s"u$k")).toDF("k", "uid")
    t.create(df.schema, statsColumns = Seq("k"), bloomFilterColumns = Seq("uid"))
    (0 until 3).foreach(s => t.append(df.filter(col("k") % 3 === s).coalesce(1)))
    t
  }

  test("point lookup on an unclustered indexed column prunes to ~one file") {
    val t = interleaved("bloom_point")
    val pred = "uid = 'u1234'"
    val (kept, skipped) = t.skippingStats(pred)
    assert(kept + skipped == 3)
    // u1234 lives in one file; the other two prune (fpp could keep an
    // extra at ~1%, never both at once for this fixed dataset)
    assert(kept <= 2, s"kept=$kept skipped=$skipped")
    assert(skipped >= 1)
    // zone maps alone CANNOT prune this predicate: uid min/max are
    // lexicographic over interleaved ids — prove the bloom is what pruned
    // by checking the k zone-map pred keeps everything
    val (keptZm, _) = t.skippingStats("k >= 1 AND k <= 3000")
    assert(keptZm == 3)
    // and the pruned read returns exactly the unpruned result
    assert(t.read.filter(pred).as[(Long, String)].collect().toSeq == Seq((1234L, "u1234")))
    // DESCRIBE DETAIL names the indexed columns
    assert(t.detail.bloomFilterColumns == Seq("uid"))
    // a value that exists nowhere prunes everything (modulo fpp)
    val (keptNone, _) = t.skippingStats("uid = 'nope'")
    assert(keptNone <= 1, s"phantom value kept $keptNone files")
    assert(t.read.filter("uid = 'nope'").count() == 0)
  }

  test("a many-file single commit indexes distributed: one merged bloom per file") {
    // a 64-file commit (the shape of an initial load) must build its index
    // through the executor-side reduceByKey merge — the driver only ever
    // collects the final per-file blooms it writes to the sidecar
    val t = LakeTable(spark, s"${tmpDir("bloom_manyfile")}/t")
    val df = (1L to 20000L).map(k => (k, s"u$k")).toDF("k", "uid").repartition(64)
    t.create(df.schema, bloomFilterColumns = Seq("uid"))
    t.append(df)
    val pred = "uid = 'u7777'"
    val (kept, skipped) = t.skippingStats(pred)
    assert(kept + skipped >= 60, s"expected a many-file commit, got ${kept + skipped}")
    assert(kept <= 4, s"kept=$kept of ${kept + skipped}") // 1 true file + ~1% fpp
    assert(t.read.filter(pred).as[(Long, String)].collect().toSeq == Seq((7777L, "u7777")))
  }

  test("bloom partial OR-merge (the reduceByKey combiner) unions value sets") {
    import org.apache.spark.util.sketch.BloomFilter
    def ser(vals: Seq[String]): Array[Byte] = {
      val bf = BloomFilter.create(100, 0.01)
      vals.foreach(bf.putString)
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
    }
    val merged = LakeTable.mergeBloomBytes(
      Array(ser(Seq("a")), ser(Seq("x"))),
      Array(ser(Seq("b")), ser(Seq("y"))))
    val bf0 = BloomFilter.readFrom(new java.io.ByteArrayInputStream(merged(0)))
    val bf1 = BloomFilter.readFrom(new java.io.ByteArrayInputStream(merged(1)))
    assert(bf0.mightContainString("a") && bf0.mightContainString("b"))
    assert(bf1.mightContainString("x") && bf1.mightContainString("y"))
    assert(!bf0.mightContainString("zzz-not-present"))
    intercept[IllegalArgumentException] {
      LakeTable.mergeBloomBytes(Array(ser(Seq("a"))), Array.empty)
    }
  }

  test("range predicates never consult blooms; missing sidecars never prune") {
    val t = interleaved("bloom_range")
    // RANGE pred on the bloom column: blooms answer only equality — all kept
    val (kept, _) = t.skippingStats("uid >= 'u1' AND uid <= 'u9999'")
    assert(kept == 3)
    // deleting the sidecars loses pruning, never correctness
    val bloomDir = Paths.get(t.root, "_bloom")
    Files.list(bloomDir).iterator().asScala.foreach(p => Files.delete(p))
    val fresh = LakeTable(spark, t.root) // no cached index
    val (keptNoIdx, _) = fresh.skippingStats("uid = 'u1234'")
    assert(keptNoIdx == 3)
    assert(fresh.read.filter("uid = 'u1234'").count() == 1)
  }

  test("addBloomFilterColumn indexes LATER writes only; old files never prune") {
    val t = LakeTable(spark, s"${tmpDir("bloom_add")}/t")
    val df = (1L to 1000L).map(k => (k, s"u$k")).toDF("k", "uid")
    t.append(df.filter(col("k") <= 500).coalesce(1))     // pre-index file
    t.addBloomFilterColumn("uid")                        // metadata-only DDL
    assert(t.history.last._2 == "index")
    t.append(df.filter(col("k") > 500).coalesce(1))      // indexed file
    // a key living in the POST-index file: the pre-index file has no
    // sidecar entry (never prunes), the other indexed file would prune if
    // there were one — here both files stay ≤ fpp noise
    val hit = "uid = 'u700'"
    assert(t.read.filter(hit).as[(Long, String)].collect().toSeq == Seq((700L, "u700")))
    // a phantom key prunes the indexed file but must keep the pre-index one
    val miss = "uid = 'nope'"
    val (kept, skipped) = t.skippingStats(miss)
    assert(kept >= 1 && skipped >= 1, s"kept=$kept skipped=$skipped")
    assert(t.read.filter(miss).count() == 0)
    // optimize rewrites everything under the index → full pruning
    t.optimizeCompact(targetFileBytes = 512 * 1024 * 1024)
    assert(t.read.filter(hit).count() == 1)
    // drop lifts the index; reads stay correct
    t.dropBloomFilterColumn("uid")
    assert(t.skippingStats(miss)._1 >= 1) // no bloom pruning anymore
    assert(t.read.filter(hit).count() == 1)
    intercept[IllegalArgumentException](t.dropBloomFilterColumn("uid"))
    // metadata-only commits don't break the append-only streaming guard
    val t2 = LakeTable(spark, s"${tmpDir("bloom_add2")}/t")
    t2.append(Seq((1L, "a")).toDF("k", "uid"))
    t2.addBloomFilterColumn("uid")
    t2.readStream // must not throw
  }

  test("blooms survive overwrite, partitioned merge, clone and vacuum") {
    val base = tmpDir("bloom_life")
    val t = LakeTable(spark, s"$base/t")
    val df = Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2")).toDF("k", "uid", "pt")
    t.create(df.schema, partitionBy = Some("pt"), bloomFilterColumns = Seq("uid"))
    t.append(df)
    assert(t.skippingStats("uid = 'zzz'")._1 <= 1)
    // partitioned merge rebuilds indexed files for touched partitions
    t.merge(Seq((3L, "c2", "p2")).toDF("k", "uid", "pt"), Seq("k"))
    val pred = "uid = 'c2'"
    assert(t.read.filter(pred).count() == 1)
    assert(t.skippingStats(pred)._2 >= 1) // p1's file pruned
    // clone carries the sidecars
    val c = t.shallowClone(s"$base/clone")
    assert(c.skippingStats(pred)._2 >= 1)
    assert(c.read.filter(pred).count() == 1)
    // vacuum keeps live sidecars, drops orphaned ones
    t.overwrite(t.read)
    t.vacuum(keepVersions = 1)
    val live = LakeTable(spark, t.root)
    assert(live.read.filter(pred).count() == 1)
    val idxFiles = Files.list(Paths.get(t.root, "_bloom")).iterator().asScala.toList
    assert(idxFiles.size == 1, idxFiles.toString) // only the overwrite's dir
  }
}
