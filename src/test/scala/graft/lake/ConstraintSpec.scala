package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): LakeTable =
    LakeTable(spark, s"${tmpDir(name)}/t")

  test("addCheckConstraint validates existing data first") {
    val t = fresh("ck_existing")
    t.append(Seq((1L, 10.0), (2L, -3.0)).toDF("k", "v"))
    intercept[IllegalArgumentException](t.addCheckConstraint("v_pos", "v > 0"))
    assert(t.checkConstraints.isEmpty) // refused, nothing committed
    t.addCheckConstraint("v_sane", "v > -100")
    assert(t.checkConstraints == Map("v_sane" -> "v > -100"))
    assert(t.history.last._2 == "constraint")
  }

  test("append/overwrite/merge enforce constraints before commit") {
    val t = fresh("ck_writes")
    t.append(Seq((1L, 10.0)).toDF("k", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    val v = t.currentVersion

    intercept[IllegalArgumentException](t.append(Seq((2L, -1.0)).toDF("k", "v")))
    intercept[IllegalArgumentException](t.overwrite(Seq((2L, -1.0)).toDF("k", "v")))
    intercept[IllegalArgumentException](
      t.merge(Seq((1L, -5.0)).toDF("k", "v"), Seq("k")))
    // NULL counts as a violation (three-valued logic)
    intercept[IllegalArgumentException](
      t.append(Seq((3L, None: Option[Double])).toDF("k", "v")))
    assert(t.currentVersion == v) // no partial commits
    assert(t.read.as[(Long, Double)].collect().toSeq == Seq((1L, 10.0)))

    t.append(Seq((2L, 5.0)).toDF("k", "v")) // clean batch passes
    assert(t.read.count() == 2)
  }

  test("UPDATE enforces constraints on rewritten values; DELETE is exempt") {
    val t = fresh("ck_update")
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    t.create(df.schema, statsColumns = Seq("k"))
    t.append(df)
    t.addCheckConstraint("v_capped", "v <= 100")
    intercept[IllegalArgumentException](
      t.update("k = 1", Map("v" -> (col("v") + 500))))
    assert(t.read.orderBy("k").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 20.0)))
    t.update("k = 1", Map("v" -> (col("v") + 50)))
    t.delete("k = 2")
    assert(t.read.as[(Long, Double)].collect().toSeq == Seq((1L, 60.0)))
  }

  test("constraints persist across instances, survive restore, carry to clones") {
    val root = tmpDir("ck_persist")
    val t = LakeTable(spark, s"$root/t")
    t.append(Seq((1L, 1.0)).toDF("k", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    t.append(Seq((2L, 2.0)).toDF("k", "v"))

    // fresh instance reads the manifest
    val reopened = LakeTable(spark, s"$root/t")
    assert(reopened.checkConstraints == Map("v_pos" -> "v > 0"))

    // restore to a pre-constraint version restores that version's (empty) set
    t.restore(0)
    assert(t.checkConstraints.isEmpty)
    t.restore(2) // back to the constrained snapshot
    assert(t.checkConstraints == Map("v_pos" -> "v > 0"))

    val clone = t.shallowClone(s"$root/clone")
    assert(clone.checkConstraints == Map("v_pos" -> "v > 0"))
    intercept[IllegalArgumentException](clone.append(Seq((3L, -1.0)).toDF("k", "v")))
  }

  test("detail reports current-snapshot facts (DESCRIBE DETAIL parity)") {
    val root = tmpDir("ck_detail")
    val t = LakeTable(spark, s"$root/t")
    val df = Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p")
    t.create(df.schema, partitionBy = Some("p"), statsColumns = Seq("k"),
      enableChangeFeed = true)
    t.append(df)
    t.addCheckConstraint("k_pos", "k > 0")
    val d = t.detail
    assert(d.version == 2 && d.lastOperation == "constraint")
    assert(d.numFiles == 2) // one file per owned partition
    assert(d.sizeInBytes > 0)
    assert(d.partitionColumns == Seq("p") && d.statsColumns == Seq("k"))
    assert(d.changeFeedEnabled && d.constraints == Map("k_pos" -> "k > 0"))
    // detail tracks the CURRENT snapshot: overwrite shrinks the file count
    t.overwrite(df.filter(col("k") === 1))
    assert(t.detail.numFiles == 1)
    assert(t.detail.lastOperation == "overwrite")
  }

  test("dropCheckConstraint lifts enforcement; streaming tail tolerates constraint commits") {
    val t = fresh("ck_drop")
    t.append(Seq((1L, 1.0)).toDF("k", "v"))
    t.addCheckConstraint("v_pos", "v > 0")
    intercept[IllegalArgumentException](t.append(Seq((2L, -1.0)).toDF("k", "v")))
    t.dropCheckConstraint("v_pos")
    t.append(Seq((2L, -1.0)).toDF("k", "v"))
    assert(t.read.count() == 2)
    // metadata-only commits don't break the append-only streaming guard
    t.readStream // must not throw
    intercept[IllegalArgumentException](t.dropCheckConstraint("nope"))
  }

  test("racing addCheckConstraint vs violating append never publishes both") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    // check-then-commit race: a constraint add and an append of data that
    // violates it race on the manifest CAS from SEPARATE instances (no
    // shared monitor). Whoever commits first must make the other fail its
    // re-validation — the published table may carry the constraint OR the
    // violating rows, never both.
    (1 to 5).foreach { round =>
      val root = s"${tmpDir(s"ck_race$round")}/t"
      LakeTable(spark, root).append(Seq((1L, 5.0)).toDF("k", "v")) // clean seed
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      def submit(body: => Unit) = pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          start.await()
          try { body; true }
          catch { case _: IllegalArgumentException | _: ConcurrentWriteException => false }
        }
      })
      val appendOk = submit(LakeTable(spark, root).append(Seq((2L, -1.0)).toDF("k", "v")))
      val addOk = submit(LakeTable(spark, root).addCheckConstraint("v_pos", "v > 0"))
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      assert(!(appendOk.get() && addOk.get()), s"round $round: both writers won")
      val t = LakeTable(spark, root)
      val hasConstraint = t.checkConstraints.contains("v_pos")
      val badRows = t.read.filter(col("v") <= 0).count()
      assert(!(hasConstraint && badRows > 0),
        s"round $round: constraint active over $badRows violating rows")
    }
  }
}
