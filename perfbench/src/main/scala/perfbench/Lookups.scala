package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeSql

/** One read: its kind, its SQL text and the answer it must return (rows
 *  rendered as `|`-joined cells, sorted). */
final case class Query(kind: String, sql: String, expected: Seq[String]) {
  /** `table_changes` does not resolve inside native `spark.sql` text (the
   *  built-in table-function lookup fails before the lake resolution rule
   *  runs), so that kind goes through `LakeSql.sql`; every other kind is
   *  plain `spark.sql`. */
  def run(spark: SparkSession): Seq[Row] =
    (if (kind == "changes") LakeSql.sql(spark, sql) else spark.sql(sql)).collect().toSeq
}

/**
 * The `lookups` query mix over the gold star and the silver change feed,
 * with every expected answer computed from the plain-Spark [[Reference]]:
 *  - point:   key equality on the fact (file skipping on booking_id);
 *  - range:   a 30-day booking_date range on the fact;
 *  - star:    fact ⋈ two dims with the predicates on the dims, above the
 *             join (nothing to skip on the fact);
 *  - asof:    a date range on the fact `VERSION AS OF` the base load;
 *  - changes: `table_changes` over one trickle batch's silver commits.
 * Range-style answers aggregate `CAST(amount AS DECIMAL(18,2))`, so they
 * are exact.
 */
object Lookups {
  val Kinds: Seq[String] = Seq("point", "range", "star", "asof", "changes")

  def render(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|")).sorted

  private def dec(d: Double): BigDecimal = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
  private def agg(xs: Iterable[Double]): String =
    if (xs.isEmpty) "0|null" else s"${xs.size}|${xs.map(dec).sum}"

  /**
   * @param baseVersion   fact version right after the base load
   * @param batchVersions silver version range (first, last) of each
   *                      trickle batch, by batch number
   */
  def queries(spark: SparkSession, ref: Reference, seed: Long, perKind: Int,
      baseVersion: Long, batchVersions: Map[Int, (Long, Long)]): Seq[Query] = {
    val rnd = new scala.util.Random(seed)
    val cols = Medallion.BookingCols.filterNot(_ == "modified_at")
    val fact = ref.state("bookings").select(cols.map(col): _*).collect()
    val base = ref.state("bookings", _ == 0)
      .select("amount", "booking_date").collect()
    val airline = ref.state("flights").select("flight_id", "airline").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nation = ref.state("passengers").select("passenger_id", "nationality").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nations = nation.values.toSeq.distinct.sorted

    def dateIn(r: Row, from: LocalDate, to: LocalDate): Boolean = {
      val d = r.getDate(r.length - 1).toLocalDate
      !d.isBefore(from) && !d.isAfter(to)
    }
    def window(): (LocalDate, LocalDate) = {
      val from = LocalDate.of(1992, 1, 1).plusDays(rnd.nextInt(2370).toLong)
      (from, from.plusDays(29))
    }
    val rangeSel = "SELECT COUNT(*), SUM(CAST(amount AS DECIMAL(18,2)))"

    val point = Seq.fill(perKind) {
      val r = fact(rnd.nextInt(fact.length))
      Query("point", "SELECT booking_id, passenger_id, flight_id, airport_id, " +
        "CAST(amount AS DECIMAL(18,2)), booking_date FROM fact_bookings " +
        s"WHERE booking_id = ${r.getLong(0)}",
        Seq((0 until r.length).map(i => r.get(i) match {
          case d: java.lang.Double => dec(d).toString
          case v => v.toString
        }).mkString("|")))
    }
    val range = Seq.fill(perKind) {
      val (from, to) = window()
      Query("range", s"$rangeSel FROM fact_bookings " +
        s"WHERE booking_date BETWEEN DATE'$from' AND DATE'$to'",
        Seq(agg(fact.filter(dateIn(_, from, to)).map(_.getDouble(4)))))
    }
    val star = Seq.fill(perKind) {
      val a = Gen.Airlines(rnd.nextInt(Gen.Airlines.size))
      val n = nations(rnd.nextInt(nations.size))
      Query("star", s"$rangeSel FROM fact_bookings f " +
        "JOIN dim_flights d ON f.DimFlightsKey = d.DimFlightsKey " +
        "JOIN dim_passengers p ON f.DimPassengersKey = p.DimPassengersKey " +
        s"WHERE d.airline = '$a' AND p.nationality = '$n'",
        Seq(agg(fact.filter(r => airline(r.getLong(2)) == a &&
          nation(r.getLong(1)) == n).map(_.getDouble(4)))))
    }
    val asof = Seq.fill(perKind) {
      val (from, to) = window()
      Query("asof", s"$rangeSel FROM fact_bookings VERSION AS OF $baseVersion " +
        s"WHERE booking_date BETWEEN DATE'$from' AND DATE'$to'",
        Seq(agg(base.filter(dateIn(_, from, to)).map(_.getDouble(0)))))
    }
    val changeAnswers = batchVersions.toSeq.sortBy(_._1).map { case (k, (v0, v1)) =>
      val before = ref.state("bookings", _ < k).select("booking_id")
      val keys = ref.state("bookings", _ == k).select("booking_id")
      val updated = keys.join(before, "booking_id").count()
      val inserted = keys.count() - updated
      val expected = Seq(s"insert|$inserted", s"update_postimage|$updated",
        s"update_preimage|$updated").filterNot(_.endsWith("|0")).sorted
      Query("changes", "SELECT _change_type, COUNT(*) FROM " +
        s"table_changes('bookings_silver', $v0, $v1) GROUP BY _change_type", expected)
    }
    val changes = Seq.fill(perKind)(changeAnswers(rnd.nextInt(changeAnswers.size)))
    // round-robin over the kinds, so every stretch of the loop has the mix
    (0 until perKind).flatMap(i => Seq(point(i), range(i), star(i), asof(i), changes(i)))
  }
}
