package graft.lake

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[LakeTable.snapshotOf]]: a DataFrame names the lake snapshot it reads
 *  only when the same plan over that snapshot must compute the same rows. */
class SnapshotOfSpec extends SparkSpec {
  import spark.implicits._

  private def table(prefix: String, partitioned: Boolean = false) = {
    val t = LakeTable(spark, s"${tmpDir(prefix)}/t")
    t.overwrite(Seq((1L, "a", "p"), (2L, "b", "q")).toDF("k", "v", "part"),
      if (partitioned) Some("part") else None)
    t
  }

  test("a whole-snapshot read, filtered or projected, names its version and files") {
    val t = table("snap_read")
    t.append(Seq((3L, "c", "p")).toDF("k", "v", "part"))
    val s = LakeTable.snapshotOf(t.read).get
    assert(s.version == t.currentVersion && s.files.size == 2)
    assert(LakeTable.snapshotOf(t.read.filter(col("k") > 1).select("v")).contains(s))
    assert(LakeTable.snapshotOf(t.read.union(t.read)).contains(s))
    assert(LakeTable.snapshotOf(t.readVersion(0)).map(_.version).contains(0L))
    assert(LakeTable.snapshotOf(t.readVersion(0)).map(_.files.size).contains(1))
  }

  test("scoped, local, file, deletion-vector and multi-table reads have no snapshot") {
    val t = table("snap_none", partitioned = true)
    val u = table("snap_other")
    assert(LakeTable.snapshotOf(Seq(1L).toDF("k")).isEmpty)
    assert(LakeTable.snapshotOf(spark.read.parquet(s"${t.root}/data")).isEmpty)
    assert(LakeTable.snapshotOf(t.read.join(u.read, "k")).isEmpty)
    // a subquery's table is a leaf too
    t.read.createOrReplaceTempView("snap_u")
    assert(LakeTable.snapshotOf(u.read.filter(expr("k IN (SELECT k FROM snap_u)"))).isEmpty)
    val d = table("snap_dv")
    d.deleteWhere("k = 1")
    assert(LakeTable.snapshotOf(d.read).isEmpty)
  }

  test("nondeterministic, clock-reading and user-code plans have no snapshot") {
    val t = table("snap_impure")
    val twice = udf((k: Long) => k * 2)
    assert(LakeTable.snapshotOf(t.read.withColumn("r", rand())).isEmpty)
    assert(LakeTable.snapshotOf(t.read.withColumn("ts", current_timestamp())).isEmpty)
    assert(LakeTable.snapshotOf(t.read.filter(col("k") < unix_timestamp())).isEmpty)
    assert(LakeTable.snapshotOf(t.read.withColumn("k2", twice(col("k")))).isEmpty)
    assert(LakeTable.snapshotOf(t.read.as[(Long, String, String)].map(_._1).toDF()).isEmpty)
    // a typed aggregator runs user code inside an expression, no object node
    val sumK = new Aggregator[(Long, String, String), Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, r: (Long, String, String)): Long = b + r._1
      def merge(a: Long, b: Long): Long = a + b
      def finish(b: Long): Long = b
      def bufferEncoder: Encoder[Long] = Encoders.scalaLong
      def outputEncoder: Encoder[Long] = Encoders.scalaLong
    }
    assert(LakeTable.snapshotOf(t.read.as[(Long, String, String)].select(sumK.toColumn).toDF()).isEmpty)
  }

  test("a dimension ledger entry retires the table's previous one, nothing else") {
    val t = table("snap_ledger")
    val src = Seq((1L, "z", "p")).toDF("k", "v", "part")
    val (a, b) = (LakeTable.DimLedgerFamily + "a", LakeTable.DimLedgerFamily + "b")
    t.merge(src, Seq("k"), txn = Some(a -> 3L))
    t.merge(src, Seq("k"), txn = Some("other#a" -> 1L))
    t.merge(src, Seq("k"), txn = Some("other#b" -> 1L))
    t.merge(src, Seq("k"), txn = Some(b -> 1L))
    assert(t.lastTxnVersion(a).isEmpty)
    assert(t.lastTxnVersion(b).contains(1L))
    assert(t.lastTxnVersion("other#a").contains(1L) && t.lastTxnVersion("other#b").contains(1L))
    // the entry's own no-regress rule still holds
    t.overwrite(src, txn = Some(b -> 0L))
    assert(t.lastTxnVersion(b).contains(1L))
  }
}
