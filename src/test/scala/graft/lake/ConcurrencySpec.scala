package graft.lake

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkSpec

/**
 * Multi-writer optimistic-concurrency protocol: distinct [[LakeTable]]
 * instances over the same root (standing in for separate processes — the
 * commit CAS is a filesystem hard link, so nothing here relies on JVM-level
 * synchronization between instances) must never lose a committed write.
 */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("racing appends from many writer instances lose no rows") {
    val root = s"${tmpDir("conc_append")}/t"
    val writers = 8
    val perWriter = 3
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val results = (0 until writers).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          val t = LakeTable(spark, root) // own instance: no shared monitor
          (0 until perWriter).foreach { i =>
            t.append(Seq((w.toLong * 100 + i, s"w$w-$i")).toDF("k", "v"))
          }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    results.foreach(_.get()) // surface worker exceptions
    val t = LakeTable(spark, root)
    assert(t.read.count() == writers.toLong * perWriter)
    assert(t.currentVersion == writers.toLong * perWriter - 1) // one version per append
    assert(t.history.forall(_._2 == "append"))
  }

  test("a committed version can never be stomped: losers observe the winner") {
    val root = s"${tmpDir("conc_visible")}/t"
    val a = LakeTable(spark, root)
    a.append(Seq((1L, "one")).toDF("k", "v"))
    // a second instance commits; the first instance's NEXT snapshot read
    // must see it even though `a` never wrote the version it reads
    LakeTable(spark, root).append(Seq((2L, "two")).toDF("k", "v"))
    assert(a.currentVersion == 1)
    assert(a.read.count() == 2)
    // stale _VERSION pointer cannot hide a committed version (probe-forward)
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_VERSION"),
      "0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(a.currentVersion == 1)
    assert(LakeTable(spark, root).read.count() == 2)
  }

  test("concurrent merges on one table converge under recompute-and-retry") {
    val root = s"${tmpDir("conc_retry")}/t"
    LakeTable(spark, root).append(Seq((-1L, -1L)).toDF("k", "v"))
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val conflicts = new AtomicInteger(0)
    val futures = (0 until writers).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          val t = LakeTable(spark, root)
          val batch = Seq((w.toLong, w.toLong * 10)).toDF("k", "v")
          var attempts = 0
          var done = false
          while (!done && attempts < 50) {
            attempts += 1
            Try(t.merge(batch, Seq("k"))) match {
              case Success(_) => done = true
              case Failure(_: ConcurrentWriteException) =>
                conflicts.incrementAndGet() // recompute against new version
              case Failure(e) => throw e
            }
          }
          assert(done, s"writer $w never won in $attempts attempts")
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS))
    futures.foreach(_.get())
    info(s"observed ${conflicts.get()} ConcurrentWriteException retries")
    val got = LakeTable(spark, root).read.orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == ((-1L, -1L) +: (0 until writers).map(w => (w.toLong, w.toLong * 10))))
  }

  test("racing schema evolutions compose: every writer's new column survives") {
    val root = s"${tmpDir("conc_evolve")}/t"
    LakeTable(spark, root).append(Seq((0L, "base")).toDF("k", "v"))
    val writers = 4
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val results = (0 until writers).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          val t = LakeTable(spark, root)
          // each writer evolves a distinct column; the commit loop must
          // re-reconcile against whatever snapshot it lands on
          t.append(
            Seq((100L + w, s"w$w", w.toDouble)).toDF("k", "v", s"extra_$w"),
            mergeSchema = true)
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    results.foreach(_.get())
    val t = LakeTable(spark, root)
    assert(t.schema.fieldNames.toSet ==
      (Set("k", "v") ++ (0 until writers).map(w => s"extra_$w")))
    assert(t.read.count() == writers.toLong + 1)
    // each row carries its own column's value, NULL in every other writer's
    val rows = t.read.filter(col("k") >= 100).collect()
    rows.foreach { r =>
      val w = r.getAs[Long]("k") - 100
      assert(r.getAs[Double](s"extra_$w") == w.toDouble)
      (0 until writers).filter(_ != w).foreach { o =>
        assert(r.isNullAt(r.fieldIndex(s"extra_$o")))
      }
    }
  }

  test("racing renames of DISTINCT columns compose; a second rename of the " +
      "SAME column fails loudly after the winner moves it") {
    val root = s"${tmpDir("conc_rename")}/t"
    LakeTable(spark, root).append(Seq((1L, "a", 1.0)).toDF("k", "v", "w"))
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val results = Seq("v" -> "value", "w" -> "weight").map { case (from, to) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          LakeTable(spark, root).renameColumn(from, to)
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    results.foreach(_.get()) // both commit (commitWithRetry re-derives)
    val t = LakeTable(spark, root)
    assert(t.schema.fieldNames.toSeq == Seq("k", "value", "weight"))
    assert(t.columnMapping == Map("value" -> "v", "weight" -> "w"))
    assert(t.read.count() == 1)
    // the old name is GONE for a late writer: loud, never silent
    val e = intercept[IllegalArgumentException](t.renameColumn("v", "x"))
    assert(e.getMessage.contains("no column v"), e.getMessage)
  }

  private def liveFiles(df: DataFrame): Set[String] =
    df.select(input_file_name()).distinct().as[String].collect().toSet

  /** Three single-file appends of 50 ids each (1.., 1001.., 2001..) with
    * zone maps on `id`, tagged b0, b1, b2 — the partitions of the table
    * when `partitioned`. */
  private def threeFiles(root: String, partitioned: Boolean = false): LakeTable = {
    val t = LakeTable(spark, root)
    t.create(Seq((0L, "", 0L)).toDF("id", "tag", "n").schema,
      partitionBy = Option.when(partitioned)("tag"), statsColumns = Seq("id"))
    Seq(0, 1, 2).foreach(b => t.append((1 to 50)
      .map(i => (b * 1000L + i, s"b$b", 0L)).toDF("id", "tag", "n").coalesce(1)))
    t
  }

  private def winnerRow: DataFrame = Seq((5000L, "winner", 0L)).toDF("id", "tag", "n")

  /** Run `loser` here while `winner` commits from another thread exactly
    * when the loser's first row passes [[CasGate]] — inside a Spark task,
    * after the loser read its snapshot and before it commits. */
  private def loseRace[A](winner: => Unit)(loser: => A): Try[A] = {
    val gate = CasGate.arm()
    val pool = Executors.newSingleThreadExecutor()
    val won = pool.submit(new Runnable {
      def run(): Unit = {
        assert(gate.entered.await(120, TimeUnit.SECONDS), "the loser never reached the gate")
        try winner finally gate.resume.countDown()
      }
    })
    try Try(loser) finally {
      gate.resume.countDown()
      pool.shutdown()
      won.get(120, TimeUnit.SECONDS)
    }
  }

  /** The shared rewrite step's lost-CAS contract: the loser throws, the
    * snapshot is exactly the winner's (no file the loser wrote or
    * re-linked is in it), and a retry converges. */
  private def assertLostThenConverges[A](root: String, winnerRows: DataFrame)(
      loser: => A)(retry: LakeTable => Unit): LakeTable =
    assertLost(root)(loseRace(LakeTable(spark, root).append(winnerRows))(loser))(retry)

  /** [[assertLostThenConverges]] for writes no user expression reaches:
    * `loser` writes through an instance whose commit clock, on its first
    * reading, lets a concurrent append of [[winnerRow]] commit. The clock
    * is read inside each publish attempt, before the CAS, so the loser's
    * first CAS targets the version the winner just took. */
  private def assertClockLostThenConverges[A](root: String)(loser: LakeTable => A)(
      retry: LakeTable => Unit): LakeTable = {
    val (racer, fired) = racedByAppend(root)
    val t = assertLost(root)(Try(loser(racer)))(retry)
    assert(fired.get, "the loser never reached its publish")
    t
  }

  /** An instance over `root` whose commit clock appends [[winnerRow]]
    * through another instance on its first reading, and the flag that
    * reading sets. */
  private def racedByAppend(root: String): (LakeTable, AtomicBoolean) = {
    val fired = new AtomicBoolean(false)
    (LakeTable.withClock(spark, root, () => {
      if (fired.compareAndSet(false, true)) LakeTable(spark, root).append(winnerRow)
      System.currentTimeMillis()
    }), fired)
  }

  private def assertLost(root: String)(race: => Try[_])(retry: LakeTable => Unit): LakeTable = {
    val t = LakeTable(spark, root)
    val before = liveFiles(t.read)
    val lost = race
    assert(lost.failed.toOption.exists(_.isInstanceOf[ConcurrentWriteException]),
      lost.toString)
    val winnerFiles = liveFiles(t.read.filter(col("tag") === "winner"))
    assert(winnerFiles.size == 1)
    assert(liveFiles(t.read) == before ++ winnerFiles)
    assert(t.read.count() == 151)
    assert(t.read.filter(col("tag") === "upd" || col("n") =!= 0).count() == 0)
    retry(t)
    t
  }

  test("a PRUNED unpartitioned merge that loses its CAS throws, leaves the " +
      "winner's snapshot and converges on retry") {
    val root = s"${tmpDir("conc_pruned")}/t"
    val key = "spark.graft.merge.pruneMinBytes"
    val before = liveFiles(threeFiles(root).read)
    val src = Seq((1010L, "upd", 0L), (1020L, "upd", 0L)).toDF("id", "tag", "n")
      .withColumn("id", CasGate.pass(col("id")))
    spark.conf.set(key, "1")
    try {
      val t = assertLostThenConverges(root,
          Seq((5000L, "winner", 0L)).toDF("id", "tag", "n"))(
        LakeTable(spark, root).merge(src, Seq("id")))(_.merge(src, Seq("id")))
      assert(t.read.filter(col("tag") === "upd").count() == 2)
      assert(t.read.count() == 151)
      // the retry pruned too: only the 1001..1050 file was rewritten
      assert((before -- liveFiles(t.read)).size == 1)
    } finally spark.conf.unset(key)
  }

  test("a copy-on-write update spanning several dirs that loses its CAS " +
      "throws, leaves the winner's snapshot and converges on retry") {
    val root = s"${tmpDir("conc_cow")}/t"
    threeFiles(root)
    // 40..50 sit in the first file, 1001..1010 in the second
    val preds = "id >= 40 AND id <= 1010"
    val t = assertLostThenConverges(root,
        Seq((5000L, "winner", 0L)).toDF("id", "tag", "n"))(
      LakeTable(spark, root).update(preds, Map("n" -> (CasGate.pass(col("n")) + 1))))(
      t => assert(t.update(preds, Map("n" -> (col("n") + 1))) == 21))
    assert(t.read.filter(col("n") === 1).count() == 21)
    assert(t.read.filter(col("id").between(40, 1010) && col("n") =!= 1).count() == 0)
    assert(t.read.count() == 151)
  }

  // Every write computed against a snapshot (pinned): a lost CAS throws
  // ConcurrentWriteException, leaves the winner's snapshot and converges.

  test("a merge-on-read deleteWhere that loses its CAS throws, leaves the " +
      "winner's snapshot and converges on retry") {
    val root = s"${tmpDir("conc_dv_delete")}/t"
    threeFiles(root)
    val t = assertClockLostThenConverges(root)(_.deleteWhere("id <= 10"))(
      t => assert(t.deleteWhere("id <= 10") == 10))
    assert(t.read.count() == 141)
    assert(t.read.filter(col("id") <= 10).count() == 0)
  }

  test("a merge-on-read updateWhere that loses its CAS throws, leaves the " +
      "winner's snapshot and converges on retry") {
    val root = s"${tmpDir("conc_dv_update")}/t"
    threeFiles(root)
    val t = assertClockLostThenConverges(root)(
      _.updateWhere("id <= 10", Map("n" -> lit(1L))))(
      t => assert(t.updateWhere("id <= 10", Map("n" -> lit(1L))) == 10))
    assert(t.read.count() == 151)
    assert(t.read.filter(col("n") === 1).count() == 10)
  }

  test("an overwriteWhere that loses its CAS throws, leaves the winner's " +
      "snapshot and converges on retry") {
    val root = s"${tmpDir("conc_replace")}/t"
    threeFiles(root)
    val rows = (1 to 10).map(i => (i.toLong, "upd", 0L)).toDF("id", "tag", "n")
    val t = assertClockLostThenConverges(root)(_.overwriteWhere("id <= 10", rows))(
      t => assert(t.overwriteWhere("id <= 10", rows) == 10))
    assert(t.read.count() == 151)
    assert(t.read.filter(col("tag") === "upd").count() == 10)
  }

  test("an overwritePartitions that loses its CAS throws, leaves the " +
      "winner's snapshot and converges on retry") {
    val root = s"${tmpDir("conc_part_replace")}/t"
    threeFiles(root, partitioned = true)
    val b1 = "tag = 'b1'"
    val rows = (1 to 10).map(i => (1000L + i, "b1", 1L)).toDF("id", "tag", "n")
    val t = assertClockLostThenConverges(root)(_.overwritePartitions(b1, rows))(
      _.overwritePartitions(b1, rows))
    assert(t.read.count() == 111)
    assert(t.read.filter(col("tag") === "b1").agg(min("n"), count("*")).head() ==
      org.apache.spark.sql.Row(1L, 10L))
  }

  test("an optimizeCompact that loses its CAS throws, leaves the winner's " +
      "snapshot and converges on retry") {
    val root = s"${tmpDir("conc_opt_compact")}/t"
    threeFiles(root)
    val t = assertClockLostThenConverges(root)(_.optimizeCompact())(
      t => assert(t.optimizeCompact().filesRewritten == 1))
    assert(t.read.count() == 151)
    assert(liveFiles(t.read).size == 1)
  }

  test("a partition-scoped optimizeWhere that loses its CAS throws, leaves " +
      "the winner's snapshot and converges on retry") {
    val root = s"${tmpDir("conc_opt_where")}/t"
    threeFiles(root, partitioned = true)
    val b1 = "tag = 'b1'"
    val b1Files = liveFiles(LakeTable(spark, root).read.filter(col("tag") === "b1"))
    val t = assertClockLostThenConverges(root)(_.optimizeWhere(b1))(
      t => assert(t.optimizeWhere(b1).filesRewritten == 1))
    assert(t.read.count() == 151)
    assert((liveFiles(t.read.filter(col("tag") === "b1")) & b1Files).isEmpty)
  }

  test("a clustered OPTIMIZE that loses its CAS throws, leaves the winner's " +
      "snapshot and converges on retry") {
    val root = s"${tmpDir("conc_opt_clustered")}/t"
    threeFiles(root)
    val t = assertClockLostThenConverges(root)(_.optimizeClustered(Seq("id")))(
      t => assert(t.optimizeClustered(Seq("id")).filesRewritten == 1))
    assert(t.read.count() == 151)
    assert(liveFiles(t.read).size == 1)
  }

  test("an overwrite pinned to its version (compact) that loses its CAS " +
      "throws, leaves the winner's snapshot and converges on retry") {
    val root = s"${tmpDir("conc_compact")}/t"
    threeFiles(root)
    val t = assertClockLostThenConverges(root)(_.compact())(_.compact())
    assert(t.read.count() == 151)
    assert(t.read.filter(col("tag") === "winner").count() == 1)
    assert(t.history.last._2 == "compact")
  }

  test("a DDL commit that loses its CAS re-derives and lands on top of the winner") {
    val root = s"${tmpDir("conc_ddl")}/t"
    val t = threeFiles(root)
    val v0 = t.currentVersion
    val (racer, fired) = racedByAppend(root)
    racer.addColumns(Seq("extra" -> StringType))
    assert(fired.get)
    assert(t.currentVersion == v0 + 2)
    assert(t.history.takeRight(2).map(_._2) == Seq("append", "alter"))
    assert(t.schema.fieldNames.toSeq == Seq("id", "tag", "n", "extra"))
    assert(t.read.count() == 151)
    assert(t.read.filter(col("tag") === "winner" && col("extra").isNull).count() == 1)
  }
}

/** A one-shot pause inside a Spark task (tasks run in the driver JVM under a
  * local master): after [[CasGate.arm]], the first value through
  * [[CasGate.pass]] signals `entered` and waits for `resume`. */
private object CasGate extends Serializable {
  final class Latches {
    val entered = new CountDownLatch(1)
    val resume = new CountDownLatch(1)
  }
  private val armed = new AtomicReference[Latches](null)

  def arm(): Latches = { val l = new Latches; armed.set(l); l }

  val pass = udf { (x: Long) =>
    val l = armed.getAndSet(null)
    if (l != null) {
      l.entered.countDown()
      l.resume.await(120, TimeUnit.SECONDS)
    }
    x
  }
}
