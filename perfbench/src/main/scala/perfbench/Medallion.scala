package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.gold.{DimConfig, FactConfig, FactDim, GoldBuilder}
import graft.ingest.BronzeIngest
import graft.lake.{LakeSql, LakeTable}
import graft.pipeline.{Pipeline, PipelineSql}

/**
 * The reference's medallion over one storage root, driven only through the
 * program's public entry points: `BronzeIngest.run` per source, one
 * declared-DAG `Pipeline` refreshed with `runIncremental`, and
 * `GoldBuilder.buildDim`/`buildFact`. Each method is one layer call, so the
 * benchmark can time and trace it.
 */
final class Medallion(spark: SparkSession, val root: String) {
  import Medallion._

  def landing(src: String): String = s"$root/landing/$src"
  def bronzeRoot: String = s"$root/bronze"
  def silverRoot: String = s"$root/silver"
  def goldRoot: String = s"$root/gold"

  /** Drain one source's landing directory into its bronze table. */
  def ingest(src: String): Long =
    BronzeIngest.run(spark, landing(src), s"$bronzeRoot/$src", s"$root/checkpoints/$src")

  lazy val pipeline: Pipeline = {
    val p = new Pipeline(spark, silverRoot)
    Seq("bookings", "passengers", "flights", "airports").foreach { s =>
      p.inputTable(s"${s}_bronze", LakeTable(spark, s"$bronzeRoot/$s"))
    }
    PipelineSql.script(p, SilverSql)
    p
  }

  /** One triggered update of the silver layer. */
  def silver(): Unit = pipeline.runIncremental()

  private def gold(batch: Int) = GoldBuilder.fixed(spark, batchTime(batch))
  private def dimPath(name: String) = s"$goldRoot/dim_$name"
  def factPath: String = s"$goldRoot/fact_bookings"

  val dims: Seq[(String, DimConfig)] = Seq(
    "passengers" -> DimConfig(dimPath("passengers"), Seq("passenger_id"),
      Seq("name", "gender", "nationality"), "modified_at", "DimPassengersKey"),
    "flights" -> DimConfig(dimPath("flights"), Seq("flight_id"),
      Seq("airline", "origin", "destination", "flight_date"), "modified_at",
      "DimFlightsKey"),
    "airports" -> DimConfig(dimPath("airports"), Seq("airport_id"),
      Seq("airport_name", "city", "country"), "modified_at", "DimAirportsKey"))

  def buildDim(name: String, batch: Int): Unit = {
    val cfg = dims.toMap.apply(name)
    gold(batch).buildDim(cfg, pipeline.read(s"${name}_silver"))
    ()
  }

  /** The fact is declared before its first build, with zone-map stats on
   *  the columns lookups filter on, so reads can skip files. */
  def buildFact(batch: Int): Unit = {
    val fact = LakeTable(spark, factPath)
    if (!fact.exists) {
      val silver = pipeline.read("bookings_silver").schema
      fact.create(StructType(dims.map { case (_, cfg) => StructField(cfg.surrogateCol, LongType) } ++
        BookingCols.map(silver(_))), statsColumns = Seq("booking_id", "booking_date"))
    }
    val factDims = dims.map { case (name, cfg) =>
      FactDim(LakeTable(spark, cfg.targetPath),
        cfg.keyCols.map(k => k -> k), cfg.surrogateCol)
    }
    gold(batch).buildFact(FactConfig(factPath, factDims,
      payloadCols = BookingCols, factKeys = Seq("booking_id"),
      cdcCol = "modified_at"), pipeline.read("bookings_silver"))
    ()
  }

  /** Register the gold and silver tables for `spark.sql` reads. */
  def registerForSql(): Unit = {
    LakeSql.register("fact_bookings", LakeTable(spark, factPath))
    dims.foreach { case (name, cfg) =>
      LakeSql.register(s"dim_$name", LakeTable(spark, cfg.targetPath))
    }
    LakeSql.register("bookings_silver", pipeline.table("bookings_silver"))
  }

  def read(dataset: String): DataFrame = pipeline.read(dataset)
}

object Medallion {
  val BookingCols: Seq[String] = Seq("booking_id", "passenger_id", "flight_id",
    "airport_id", "amount", "booking_date", "modified_at")

  /** Gold audit clock of batch `k`: one hour per batch after the base. */
  def batchTime(k: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2024-06-01 00:00:00").getTime + k * 3600000L)

  /** Silver: four SCD1 `APPLY CHANGES` targets (bookings behind an
   *  expectations gate and with change feed on) and one aggregate
   *  materialized view with a MAX. */
  val SilverSql: String =
    """CREATE TEMPORARY VIEW bookings_clean (
      |  CONSTRAINT booking_id_not_null EXPECT (booking_id IS NOT NULL) ON VIOLATION DROP ROW,
      |  CONSTRAINT passenger_id_not_null EXPECT (passenger_id IS NOT NULL) ON VIOLATION DROP ROW
      |) AS SELECT booking_id, passenger_id, flight_id, airport_id, amount,
      |  booking_date, modified_at FROM STREAM(bookings_bronze);
      |CREATE OR REFRESH STREAMING TABLE bookings_silver
      |  TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true');
      |APPLY CHANGES INTO bookings_silver FROM STREAM(bookings_clean)
      |  KEYS (booking_id) SEQUENCE BY modified_at;
      |CREATE OR REFRESH STREAMING TABLE passengers_silver;
      |APPLY CHANGES INTO passengers_silver FROM STREAM(passengers_bronze)
      |  KEYS (passenger_id) SEQUENCE BY modified_at COLUMNS * EXCEPT (_rescued_data);
      |CREATE OR REFRESH STREAMING TABLE flights_silver;
      |APPLY CHANGES INTO flights_silver FROM STREAM(flights_bronze)
      |  KEYS (flight_id) SEQUENCE BY modified_at COLUMNS * EXCEPT (_rescued_data);
      |CREATE OR REFRESH STREAMING TABLE airports_silver;
      |APPLY CHANGES INTO airports_silver FROM STREAM(airports_bronze)
      |  KEYS (airport_id) SEQUENCE BY modified_at COLUMNS * EXCEPT (_rescued_data);
      |CREATE OR REFRESH MATERIALIZED VIEW flight_revenue AS
      |  SELECT flight_id, COUNT(*) AS bookings, SUM(amount) AS revenue,
      |    MAX(amount) AS max_amount
      |  FROM bookings_silver GROUP BY flight_id
      |""".stripMargin
}
