package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.gold.{DimConfig, FactConfig, FactDim, GoldBuilder}
import graft.ingest.BronzeIngest
import graft.lake.LakeTable
import graft.pipeline.{Expectations, Pipeline}

/**
 * End-to-end medallion scenario in the reference's own shape (SURVEY.md §5,
 * FIXTURES.md §A): raw CSV → bronze (incremental ingest) → silver (re-type +
 * expectations + SCD1 latest-wins CDC) → gold (surrogate-key dim + fact).
 *
 * The three CSV batches replay the reference's base / `_increment` / `_scd`
 * fixture pattern, including the F0003-style latest-wins update and a
 * synthesized null-key row for the expectation gate (the shipped reference
 * data never violates its own expectations — FIXTURES.md:31-33).
 */
class MedallionE2ESpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: String, name: String, lines: String*): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  test("base → increment → scd through bronze/silver/gold") {
    val root = tmpDir("medallion")
    val landing = s"$root/landing/flights"
    val bLanding = s"$root/landing/bookings"
    val pLanding = s"$root/landing/passengers"

    // ---- batch 1: base data -------------------------------------------------
    writeCsv(landing, "flights_base.csv",
      "flight_id,airline,origin,destination,flight_date",
      "F0001,AirOne,AAA,BBB,2025-05-01",
      "F0002,AirTwo,AAA,CCC,2025-05-02",
      "F0003,AirOne,BBB,CCC,2025-05-11")
    writeCsv(bLanding, "bookings_base.csv",
      "booking_id,passenger_id,flight_id,amount,booking_date",
      "B0001,P001,F0001,100.50,2025-05-03",
      "B0002,P002,F0003,200.00,2025-05-04",
      "B0002,P003,F0003,150.00,2025-05-04", // same booking_id, different passenger
      "B0003,,F0002,99.99,2025-05-05")      // null key → expectation drop
    writeCsv(pLanding, "passengers_base.csv",
      "passenger_id,name,gender,nationality",
      "P001,Ada,Female,GB", "P002,Ben,Male,US", "P003,Cam,Female,CA")

    // S13: parameterized multi-source fan-out, the reference's for-each job
    val ingestedCounts = Seq(
      "flights" -> landing, "bookings" -> bLanding, "passengers" -> pLanding)
      .map { case (src, dir) =>
        src -> BronzeIngest.run(spark, dir, s"$root/bronze/$src", s"$root/cp/$src")
      }.toMap
    assert(ingestedCounts == Map("flights" -> 3L, "bookings" -> 4L, "passengers" -> 3L))

    // ---- silver pipeline: re-type, expectations, SCD1 CDC -------------------
    val pipeline = new Pipeline(spark, s"$root/silver")
    def clock(s: String) = lit(Timestamp.valueOf(s)).cast("timestamp")
    var batchTs = "2030-01-01 00:00:00"

    pipeline.view("flights_clean") {
      LakeTable(spark, s"$root/bronze/flights").read
        .withColumn("flight_date", to_date(col("flight_date")))
        .withColumn("modifiedDate", clock(batchTs))
        .drop(BronzeIngest.RescueCol)
    }
    pipeline.viewWithExpectations("bookings_clean",
      Map("booking_id_not_null" -> "booking_id IS NOT NULL",
          "passenger_id_not_null" -> "passenger_id IS NOT NULL")) {
      LakeTable(spark, s"$root/bronze/bookings").read
        .withColumn("amount", col("amount").cast(DoubleType))
        .withColumn("booking_date", to_date(col("booking_date")))
        .withColumn("modifiedDate", clock(batchTs))
        .drop(BronzeIngest.RescueCol)
    }
    pipeline.view("passengers_clean") {
      LakeTable(spark, s"$root/bronze/passengers").read
        .withColumn("modifiedDate", clock(batchTs))
        .drop(BronzeIngest.RescueCol)
    }
    pipeline.streamingTable("flights_silver")
    pipeline.streamingTable("bookings_silver")
    pipeline.streamingTable("passengers_silver")
    pipeline.autoCdcFlow("flights_silver", "flights_clean",
      Seq("flight_id"), "modifiedDate")
    pipeline.autoCdcFlow("bookings_silver", "bookings_clean",
      Seq("booking_id", "passenger_id"), "modifiedDate")
    pipeline.autoCdcFlow("passengers_silver", "passengers_clean",
      Seq("passenger_id"), "modifiedDate")
    pipeline.run()

    val silverFlights = pipeline.read("flights_silver")
    assert(silverFlights.count() == 3)
    // expectation gate dropped the null-key booking and counted it
    assert(pipeline.read("bookings_silver").count() == 3)
    assert(pipeline.lastGate("bookings_clean").get.violations("passenger_id_not_null") == 1)
    // composite CDC key kept both passengers of B0002
    assert(pipeline.read("bookings_silver")
      .filter(col("booking_id") === "B0002").count() == 2)

    // ---- business view (J1): denormalized silver join -----------------------
    pipeline.view("business_silver") {
      pipeline.read("bookings_silver").drop("modifiedDate")
        .join(pipeline.read("flights_silver").drop("modifiedDate"), Seq("flight_id"))
    }
    val business = pipeline.read("business_silver")
    assert(business.count() == 3) // all 3 valid bookings resolve their flight
    assert(business.filter(col("airline").isNull).count() == 0)

    // ---- gold: SCD1 dim + fact with surrogate lookup ------------------------
    val dimCfg = DimConfig(s"$root/gold/dim_flights", Seq("flight_id"),
      Seq("airline", "origin", "destination", "flight_date"), "modifiedDate", "DimFlightsKey")
    def goldAt(s: String) = GoldBuilder.fixed(spark, Timestamp.valueOf(s))
    goldAt("2030-01-01 12:00:00").buildDim(dimCfg, pipeline.read("flights_silver"))

    // second dimension (passengers) → the fact resolves BOTH surrogate FKs,
    // matching the reference's multi-dim star
    val paxCfg = DimConfig(s"$root/gold/dim_passengers", Seq("passenger_id"),
      Seq("name", "gender", "nationality"), "modifiedDate", "DimPassengersKey")
    goldAt("2030-01-01 12:00:00").buildDim(paxCfg, pipeline.read("passengers_silver"))

    val factCfg = FactConfig(s"$root/gold/fact_bookings",
      dims = Seq(
        FactDim(LakeTable(spark, dimCfg.targetPath),
          Seq("flight_id" -> "flight_id"), "DimFlightsKey"),
        FactDim(LakeTable(spark, paxCfg.targetPath),
          Seq("passenger_id" -> "passenger_id"), "DimPassengersKey")),
      payloadCols = Seq("booking_id", "passenger_id", "amount", "booking_date", "modifiedDate"),
      factKeys = Seq("booking_id", "passenger_id"),
      cdcCol = "modifiedDate")
    goldAt("2030-01-01 12:00:00").buildFact(factCfg, pipeline.read("bookings_silver"))

    val dim1 = LakeTable(spark, dimCfg.targetPath).read
    assert(dim1.count() == 3)
    // surrogate keys are unique and dense
    assert(dim1.groupBy("DimFlightsKey").count().filter(col("count") > 1).count() == 0)
    assert(dim1.agg(max("DimFlightsKey")).head().getLong(0) == 3L)
    // every fact row resolved BOTH dim surrogates
    val fact1 = LakeTable(spark, factCfg.targetPath).read
    assert(fact1.count() == 3)
    assert(fact1.filter(col("DimFlightsKey").isNull ||
      col("DimPassengersKey").isNull).count() == 0)

    // ---- batch 2: increment (new flight) + scd (F0003 latest-wins update) --
    writeCsv(landing, "flights_increment.csv",
      "flight_id,airline,origin,destination,flight_date",
      "F0004,AirFour,CCC,DDD,2025-06-01")
    writeCsv(landing, "flights_scd.csv",
      "flight_id,airline,origin,destination,flight_date",
      "F0003,JetAir,BBB,CCC,2025-07-03", // update: airline + date change
      "F0005,AirFive,DDD,EEE,2025-07-04") // brand new
    BronzeIngest.run(spark, landing, s"$root/bronze/flights", s"$root/cp/flights")
    batchTs = "2030-02-01 00:00:00"
    pipeline.run()

    val silver2 = pipeline.read("flights_silver")
    assert(silver2.count() == 5)
    // latest-wins: F0003 now JetAir with the new date
    val f3 = silver2.filter(col("flight_id") === "F0003")
      .select("airline", "flight_date").as[(String, java.sql.Date)].head()
    assert(f3 == (("JetAir", java.sql.Date.valueOf("2025-07-03"))))

    // incremental dim build: F0003 keeps its surrogate, new flights mint new ones
    goldAt("2030-02-01 12:00:00").buildDim(dimCfg, silver2)
    val dim2 = LakeTable(spark, dimCfg.targetPath).read
    assert(dim2.count() == 5)
    val sk3before = dim1.filter(col("flight_id") === "F0003").head().getAs[Long]("DimFlightsKey")
    val f3row = dim2.filter(col("flight_id") === "F0003").head()
    assert(f3row.getAs[Long]("DimFlightsKey") == sk3before)
    assert(f3row.getAs[String]("airline") == "JetAir")
    assert(f3row.getAs[Timestamp]("create_date") == Timestamp.valueOf("2030-01-01 12:00:00"))
    assert(f3row.getAs[Timestamp]("update_date") == Timestamp.valueOf("2030-02-01 12:00:00"))
    assert(dim2.groupBy("DimFlightsKey").count().filter(col("count") > 1).count() == 0)

    // re-running the same dim build is a no-op: same source snapshot, so
    // no commit either
    val dimVersion = LakeTable(spark, dimCfg.targetPath).currentVersion
    goldAt("2030-03-01 12:00:00").buildDim(dimCfg, silver2)
    assert(LakeTable(spark, dimCfg.targetPath).currentVersion == dimVersion)
    val dim3 = LakeTable(spark, dimCfg.targetPath).read
    assert(dim3.count() == 5)
    assert(dim3.select("flight_id", "DimFlightsKey", "airline").orderBy("flight_id").collect().toSeq ==
      dim2.select("flight_id", "DimFlightsKey", "airline").orderBy("flight_id").collect().toSeq)

    // ---- incremental business_silver (J1 streaming shape): the bookings
    // BRONZE delta since the last run joined against current silver
    // snapshots, merged into a business table — each run is O(new bookings)
    pipeline.inputTable("bookings_bronze", LakeTable(spark, s"$root/bronze/bookings"))
    def enrich(batch: DataFrame): DataFrame = batch
      .withColumn("amount", col("amount").cast(DoubleType))
      .withColumn("booking_date", to_date(col("booking_date")))
      .drop(BronzeIngest.RescueCol)
      .filter(col("booking_id").isNotNull && col("passenger_id").isNotNull)
      .join(pipeline.read("flights_silver").select("flight_id", "airline"), Seq("flight_id"))
      .join(pipeline.read("passengers_silver").select("passenger_id", "name"), Seq("passenger_id"))
    pipeline.streamingJoinTable("business_silver_tbl", "bookings_bronze",
      Seq("booking_id", "passenger_id"), "booking_date")(enrich)
    // one incremental run; the event log counts the enriched rows it merged
    def runBiz(): Long = {
      pipeline.runIncremental()
      pipeline.eventLog
        .filter(col("event_type") === "flow_progress" &&
          col("dataset") === "business_silver_tbl")
        .orderBy(col("run_id").desc).select("rows").as[Long].head()
    }

    // bootstrap drains all 4 bronze booking rows; the null-key row never
    // joins, so 3 enriched rows merge
    assert(runBiz() == 3)
    assert(pipeline.read("business_silver_tbl").count() == 3)
    assert(runBiz() == 0)  // ledger up to date: nothing new

    writeCsv(bLanding, "bookings_increment.csv",
      "booking_id,passenger_id,flight_id,amount,booking_date",
      "B0004,P001,F0003,300.00,2025-07-05")
    BronzeIngest.run(spark, bLanding, s"$root/bronze/bookings", s"$root/cp/bookings")
    assert(runBiz() == 1)  // ONLY the new booking flows through the join
    val biz = pipeline.read("business_silver_tbl")
    assert(biz.count() == 4)
    // the late booking sees the CURRENT silver snapshot: F0003 is JetAir now
    assert(biz.filter(col("booking_id") === "B0004")
      .select("airline").as[String].head() == "JetAir")
  }

  test("FULLY INCREMENTAL medallion loop: bronze → cleaned silver CDC → " +
      "gold aggregate, every layer O(new rows) per run — event-log proof, " +
      "no bronze rescan anywhere") {
    def ts(s: String) = Timestamp.valueOf(s)
    val root = tmpDir("medallion_inc")
    // bronze: the append-only lake table Auto Loader lands into
    val bronze = LakeTable(spark, s"$root/bronze")
    bronze.append(Seq(
      (Option("B0001"), "P001", 100.5, ts("2025-05-03 00:00:00")),
      (Option("B0002"), "P002", 200.0, ts("2025-05-04 00:00:00")),
      (Option.empty[String], "P003", 99.9, ts("2025-05-05 00:00:00")))
      .toDF("booking_id", "passenger_id", "amount", "modifiedDate"))

    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("bookings_bronze", bronze)
    // silver cleaning as a per-row streaming transform (the DLT view shape)
    p.streamingView("bookings_clean", "bookings_bronze")(df =>
      df.filter(col("booking_id").isNotNull))
    // silver CDC target records its change feed so gold can stream from it
    p.streamingTable("bookings_silver", enableChangeFeed = true)
    p.autoCdcFlow("bookings_silver", "bookings_clean",
      Seq("booking_id"), "modifiedDate")
    // gold: incrementally maintained aggregate over the SILVER change feed
    p.incrementalAggMv("gold_by_passenger", "bookings_silver",
      Seq("passenger_id"), Seq("amount"))
    // business join as a DECLARED node: enriches ONLY the silver delta
    // against the current passenger dim snapshot per run (O(new rows))
    p.view("passengers")(Seq(("P001", "Ada"), ("P002", "Ben"))
      .toDF("passenger_id", "name"))
    p.streamingJoinTable("business_silver", "bookings_silver",
      Seq("booking_id"), "modifiedDate")(batch =>
      batch.join(p.read("passengers"), Seq("passenger_id")))

    p.runIncremental()
    def gold: Seq[(String, Double, Long)] = p.read("gold_by_passenger")
      .select(col("passenger_id"), col("sum_amount").cast("double"), col("cnt"))
      .orderBy("passenger_id").as[(String, Double, Long)].collect().toSeq
    assert(p.read("bookings_silver").count() == 2) // null key filtered
    assert(gold == Seq(("P001", 100.5, 1L), ("P002", 200.0, 1L)))
    assert(p.read("business_silver").orderBy("booking_id")
      .select("booking_id", "name", "amount")
      .as[(String, String, Double)].collect().toSeq ==
      Seq(("B0001", "Ada", 100.5), ("B0002", "Ben", 200.0)))

    // batch 2: ONE update (B0002 re-priced) + ONE insert (B0004)
    bronze.append(Seq(
      ("B0002", "P002", 250.0, ts("2025-07-01 00:00:00")),
      ("B0004", "P001", 300.0, ts("2025-07-02 00:00:00")))
      .toDF("booking_id", "passenger_id", "amount", "modifiedDate"))
    p.runIncremental()
    // silver: latest-wins applied; gold: group deltas only
    assert(p.read("bookings_silver").count() == 3)
    assert(gold == Seq(("P001", 400.5, 2L), ("P002", 250.0, 1L)))
    // business: run 2 enriched ONLY the changed bookings — B0002's update
    // replaced its row (latest-wins), B0004 inserted enriched
    assert(p.read("business_silver").orderBy("booking_id")
      .select("booking_id", "name", "amount")
      .as[(String, String, Double)].collect().toSeq ==
      Seq(("B0001", "Ada", 100.5), ("B0002", "Ben", 250.0),
        ("B0004", "Ada", 300.0)))

    // EVENT-LOG PROOF of O(new rows): run 2's silver flow processed exactly
    // the 2 appended rows (not the 5-row bronze table), the gold MV
    // consumed exactly the 3 silver change images (1 insert + update
    // pre/post), and the business join enriched exactly the 2 upsert
    // images (insert + update postimage) — never rescanning silver
    def rowsOf(ds: String): Seq[Long] = p.eventLog
      .filter(col("event_type") === "flow_progress" && col("dataset") === ds)
      .orderBy("run_id").select("rows").as[Long].collect().toSeq
    assert(rowsOf("bookings_silver") == Seq(2L, 2L))
    assert(rowsOf("gold_by_passenger") == Seq(0L, 3L)) // bootstrap logs 0
    assert(rowsOf("business_silver") == Seq(2L, 2L))

    // idle run: every layer up to date, nothing processed, no new versions
    val vs = p.table("bookings_silver").currentVersion
    val vg = p.table("gold_by_passenger").currentVersion
    val vb = p.table("business_silver").currentVersion
    p.runIncremental()
    assert(p.table("bookings_silver").currentVersion == vs)
    assert(p.table("gold_by_passenger").currentVersion == vg)
    assert(p.table("business_silver").currentVersion == vb)
  }
}
