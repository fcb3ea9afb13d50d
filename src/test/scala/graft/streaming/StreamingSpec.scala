package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.SparkSpec

/**
 * Structured Streaming coverage (SURVEY.md §2.8 north star): the reference's
 * streaming surface is trigger-once file streams into CDC tables; these specs
 * exercise the genuine streaming operators the engine adds on top —
 * watermarked tumbling windows, update-mode aggregation, and
 * flatMapGroupsWithState SCD1 state — through real `readStream` plans.
 */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: String, name: String, lines: String*): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private val eventSchema = "user_id LONG, ts TIMESTAMP, value DOUBLE"

  test("watermarked tumbling-window aggregation over a file stream") {
    val dir = tmpDir("st_window")
    writeCsv(dir, "b1.csv",
      "user_id,ts,value",
      "1,2024-01-01 00:05:00,10.0",
      "1,2024-01-01 00:20:00,5.0",
      "2,2024-01-01 01:10:00,7.0")
    val stream = spark.readStream.schema(eventSchema)
      .option("header", "true").csv(dir)
    val agg = stream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(sum("value").as("total"), count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("total"), col("n"))
    val q = agg.writeStream.format("memory").queryName("st_window")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("st_window").orderBy("w")
      .as[(Timestamp, Double, Long)].collect().toSeq
    assert(got == Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 15.0, 2L),
      (Timestamp.valueOf("2024-01-01 01:00:00"), 7.0, 1L)))
  }

  test("incremental restart: second batch only processes new files (checkpointed)") {
    val dir = tmpDir("st_incr"); val cp = tmpDir("st_incr_cp")
    val out = tmpDir("st_incr_out")
    writeCsv(dir, "b1.csv", "user_id,ts,value", "1,2024-01-01 00:00:00,1.0")

    def drain(): Unit = {
      val q = spark.readStream.schema(eventSchema)
        .option("header", "true").csv(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 1)
    drain() // no new files → no new rows (exactly-once per file)
    assert(spark.read.parquet(out).count() == 1)
    writeCsv(dir, "b2.csv", "user_id,ts,value", "2,2024-01-01 00:01:00,2.0")
    drain()
    assert(spark.read.parquet(out).count() == 2)
  }

  test("flatMapGroupsWithState: streaming SCD1 latest-per-key state") {
    val dir = tmpDir("st_state")
    writeCsv(dir, "b1.csv",
      "user_id,ts,value",
      "1,2024-01-01 00:00:00,10.0",
      "1,2024-01-02 00:00:00,20.0", // newer wins
      "2,2024-01-01 00:00:00,30.0",
      "2,2023-12-01 00:00:00,99.0") // older loses
    val stream = spark.readStream.schema(eventSchema)
      .option("header", "true").csv(dir)
      .as[(Long, Timestamp, Double)]

    // state = latest (ts, value) per user; emit current latest per batch
    def update(key: Long, rows: Iterator[(Long, Timestamp, Double)],
        state: GroupState[(Timestamp, Double)]): Iterator[(Long, Timestamp, Double)] = {
      val incoming = rows.map(r => (r._2, r._3)).toSeq
      val best = (state.getOption.toSeq ++ incoming).maxBy(_._1.getTime)
      state.update(best)
      Iterator((key, best._1, best._2))
    }
    val latest = stream.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
    val q = latest.writeStream.format("memory").queryName("st_state")
      .outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("st_state").orderBy("_1")
      .as[(Long, Timestamp, Double)].collect().toSeq
    assert(got == Seq(
      (1L, Timestamp.valueOf("2024-01-02 00:00:00"), 20.0),
      (2L, Timestamp.valueOf("2024-01-01 00:00:00"), 30.0)))
  }

  test("LakeTable.readStream tails an append-only bronze table exactly-once") {
    import graft.lake.LakeTable
    val root = tmpDir("st_tail")
    val tbl = LakeTable(spark, s"$root/bronze")
    tbl.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))

    val cp = s"$root/cp"; val out = s"$root/out"
    def drain(): Unit = {
      val q = tbl.readStream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 2)
    tbl.append(Seq((3L, "c")).toDF("k", "v"))
    drain() // only the new file's rows flow
    assert(spark.read.parquet(out).count() == 3)
    drain() // nothing new
    assert(spark.read.parquet(out).count() == 3)
  }

  test("incremental business join: second run joins only the new fact rows") {
    import graft.lake.LakeTable
    import graft.pipeline.Pipeline
    val root = tmpDir("st_bizjoin")
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-01-02 00:00:00")

    // silver dim snapshot + append-only silver fact (bookings)
    val customers = LakeTable(spark, s"$root/silver_customers")
    customers.append(Seq((10L, "alice"), (20L, "bob")).toDF("cust_id", "cust_name"))
    val bookings = LakeTable(spark, s"$root/silver_bookings")
    bookings.append(Seq((1L, 10L, 100.0, t1), (2L, 20L, 200.0, t1))
      .toDF("booking_id", "cust_id", "amount", "modified"))

    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bookings", bookings)
    p.streamingJoinTable("business_silver", "bookings",
      Seq("booking_id"), "modified")(
      batch => batch.join(customers.read, Seq("cust_id")))
    // one incremental run; the fact rows it joined come from the event log
    def run(): Long = {
      p.runIncremental()
      p.eventLog
        .filter(col("event_type") === "flow_progress" &&
          col("dataset") === "business_silver")
        .orderBy(col("run_id").desc).select("rows").as[Long].head()
    }

    assert(run() == 2) // bootstrap: both fact rows joined
    assert(p.table("business_silver").read.count() == 2)
    assert(run() == 0) // nothing new → zero fact rows processed

    bookings.append(Seq((3L, 10L, 300.0, t2))
      .toDF("booking_id", "cust_id", "amount", "modified"))
    assert(run() == 1) // restart: ONLY the new fact row flows through the join
    val got = p.table("business_silver").read
      .orderBy("booking_id")
      .select("booking_id", "cust_name", "amount")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "alice", 100.0), (2L, "bob", 200.0), (3L, "alice", 300.0)))
  }

  test("streaming dedup with watermark (dropDuplicates on key within horizon)") {
    val dir = tmpDir("st_dedup")
    writeCsv(dir, "b1.csv",
      "user_id,ts,value",
      "1,2024-01-01 00:00:00,1.0",
      "1,2024-01-01 00:00:00,1.0", // exact dup
      "2,2024-01-01 00:30:00,2.0")
    val stream = spark.readStream.schema(eventSchema)
      .option("header", "true").csv(dir)
    val q = stream.withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "ts")
      .writeStream.format("memory").queryName("st_dedup")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("st_dedup").count() == 2)
  }

  test("dropDuplicatesWithinWatermark bounds state: a key re-emits once the " +
      "watermark has expired its entry") {
    val dir = tmpDir("st_dedup_ww")
    // three files = three micro-batches (maxFilesPerTrigger=1), ordered by
    // explicit mtimes so the file source replays them in sequence
    writeCsv(dir, "b1.csv",
      "user_id,ts,value",
      "1,2024-01-01 00:00:00,1.0",
      "1,2024-01-01 00:10:00,1.5") // same-batch dup: dropped
    writeCsv(dir, "b2.csv",
      "user_id,ts,value",
      "2,2024-01-20 00:00:00,2.0") // advances watermark far past key 1 + delay
    writeCsv(dir, "b3.csv",
      "user_id,ts,value",
      "3,2024-01-20 00:01:00,9.0") // a batch under the advanced watermark
    // evicts key 1's expired state (cleanup runs post-dedup, so the eviction
    // lands one batch after the watermark passes the expiry)
    writeCsv(dir, "b4.csv",
      "user_id,ts,value",
      "1,2024-01-20 00:05:00,3.0") // state for key 1 expired → re-emitted
    Seq("b1.csv", "b2.csv", "b3.csv", "b4.csv").zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(dir, f),
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    val stream = spark.readStream.schema(eventSchema)
      .option("header", "true").option("maxFilesPerTrigger", "1").csv(dir)
    val q = stream.withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("user_id")
      .select("user_id", "value")
      .writeStream.format("memory").queryName("st_dedup_ww")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("st_dedup_ww").as[(Long, Double)].collect().toSeq.sorted
    // key 1 appears TWICE (bounded state, not global distinct); the
    // within-horizon duplicate at 00:10 was dropped
    assert(got == Seq((1L, 1.0), (1L, 3.0), (2L, 2.0), (3L, 9.0)))
  }
}
