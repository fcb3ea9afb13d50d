package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

/** Sizes of one generated data set, TPC-H shaped: bookings are lineitems
 *  of `orders` orders (1..7 lines each, so about 4 per order), passengers
 *  are customers, flights are parts and airports are suppliers, with the
 *  TPC-H cardinality ratios. */
final case class Scale(orders: Int) {
  val newPerBatch = 2000
  val repricedPerBatch = 500
  val passengers: Int = (orders / 10) max 50
  val flights: Int = (orders * 2 / 15) max 50
  val airports: Int = (orders / 150) max 10
}

/** One CSV file waiting in staging, and where it lands. */
final case class Staged(source: String, staged: Path, bytes: Long, rows: Long)

/**
 * Seeded flight-booking input generator. Every value is a pure function of
 * (seed, key) — a booking's passenger, flight, airport and date never
 * change, only its amount and `modified_at` do — so a data set is the same
 * for the same seed no matter in which order its batches are built.
 *
 * Batch 0 is the base load; about 1% of its dimension keys appear twice,
 * the later copy with changed attributes. Batch k > 0 is a trickle batch of
 * bookings only, so every batch has the same shape: new bookings past the
 * base key range, re-priced existing bookings, a few in-batch duplicate
 * keys (the later copy wins) and a few rows with a null key (the silver
 * expectations drop them).
 */
final class Gen(seed: Long, scale: Scale) {
  import Gen._

  private def h(parts: Long*): Long =
    parts.foldLeft(mix(seed ^ 0x5DEECE66DL))((a, p) => mix(a ^ p))
  private def pick(n: Int, parts: Long*): Int = ((h(parts: _*) >>> 1) % n).toInt

  /** Lines of order `o` (1..7). */
  def lines(o: Long): Int = 1 + pick(7, 1, o)
  def bookingId(o: Long, line: Int): Long = o * 8 + line

  private def modifiedAt(batch: Int, second: Int): String =
    f"2024-01-01 ${batch / 60}%02d:${batch % 60}%02d:$second%02d"
  private def cents(v: Long): String = f"${v / 100}.${v % 100}%02d"

  private def bookingRow(o: Long, line: Int, price: Int, batch: Int,
      second: Int, id: String, pax: String): String = {
    val date = Epoch.plusDays(pick(2405, 2, o))
    val qty = 1 + pick(50, 3, o, line)
    val retail = 90000 + pick(110000, 4, o, line, price)
    s"$id,$pax,${1 + pick(scale.flights, 5, o, line)}," +
      s"${1 + pick(scale.airports, 6, o, line)},${cents(qty.toLong * retail / 100)}," +
      s"$date,${modifiedAt(batch, second)}"
  }

  private def booking(o: Long, line: Int, price: Int, batch: Int,
      second: Int = 0): String =
    bookingRow(o, line, price, batch, second, bookingId(o, line).toString,
      (1 + pick(scale.passengers, 7, o)).toString)

  private def passenger(id: Int, version: Int): String =
    f"$id,Customer#$id%09d,${Genders(pick(2, 10, id))}," +
      s"${Nations(pick(Nations.size, 11, id, version))},${modifiedAt(0, version)}"

  private def flight(id: Int, version: Int): String =
    s"$id,${Airlines(pick(Airlines.size, 20, id, version))}," +
      s"${code(pick(17576, 21, id))},${code(pick(17576, 22, id))}," +
      s"${Epoch.plusDays(pick(2405, 23, id))},${modifiedAt(0, version)}"

  private def airport(id: Int, version: Int): String =
    f"$id,Supplier#$id%09d,City${pick(250, 30, id, version)}," +
      s"${Nations(pick(Nations.size, 31, id))},${modifiedAt(0, version)}"

  /** Rows 1..n of a dimension, about 1% of them followed by a later copy. */
  private def dimension(n: Int, salt: Int)(row: (Int, Int) => String): Seq[String] =
    (1 to n).flatMap(id =>
      row(id, 0) +: (if (pick(100, salt, id) == 0) Seq(row(id, 1)) else Nil))

  /** Rows of batch `k` per source (header excluded). */
  def rows(k: Int): Map[String, Seq[String]] = {
    val out = Map.newBuilder[String, Seq[String]]
    if (k == 0) {
      val b = Vector.newBuilder[String]
      var o = 1L
      while (o <= scale.orders) {
        var l = 1
        while (l <= lines(o)) { b += booking(o, l, 0, 0); l += 1 }
        o += 1
      }
      out += "bookings" -> (b.result() ++ oddities(0, scale.orders / 100 max 5))
      out += "passengers" -> dimension(scale.passengers, 12)(passenger)
      out += "flights" -> dimension(scale.flights, 24)(flight)
      out += "airports" -> dimension(scale.airports, 32)(airport)
    } else {
      val b = Vector.newBuilder[String]
      // new orders continue past the base range and past earlier batches
      var o = scale.orders.toLong + (k - 1).toLong * scale.newPerBatch + 1
      var n = 0
      while (n < scale.newPerBatch) {
        var l = 1
        while (l <= lines(o) && n < scale.newPerBatch) {
          b += booking(o, l, 0, k); l += 1; n += 1
        }
        o += 1
      }
      // re-priced base bookings: same key and attributes, new amount
      (0 until scale.repricedPerBatch).foreach { i =>
        val ro = 1 + pick(scale.orders, 40, k, i)
        b += booking(ro, 1 + pick(lines(ro), 41, k, i), k, k)
      }
      out += "bookings" -> (b.result() ++ oddities(k, 5))
    }
    out.result()
  }

  /** In-batch duplicates of batch-`k` keys (the copy one second later
   *  wins) and rows whose booking or passenger key is null. */
  private def oddities(k: Int, n: Int): Seq[String] = {
    val first = if (k == 0) 1L else scale.orders.toLong + (k - 1).toLong * scale.newPerBatch + 1
    (0 until n).flatMap { i =>
      val o = first + i
      val nullId = bookingRow(o, 1, 900 + i, k, 0, "", "1")
      val nullPax = bookingRow(o, 1, 950 + i, k, 0, bookingId(o, 1).toString, "")
      Seq(booking(o, 1, 1000 + i, k, 1)) ++ (if (i % 2 == 0) Seq(nullId) else Seq(nullPax))
    }
  }

  /** Write batch `k` to `dir/<source>/` as CSV (bookings split into
   *  `parts` files so parsing spreads over the cores). */
  def stage(k: Int, dir: Path, parts: Int): Seq[Staged] =
    rows(k).toSeq.sortBy(_._1).flatMap { case (src, rs) =>
      val n = if (src == "bookings") parts else 1
      val size = (rs.size + n - 1) / n
      rs.grouped(size max 1).zipWithIndex.map { case (chunk, i) =>
        val f = dir.resolve(src).resolve(f"$src-b$k%04d-p$i%02d.csv")
        Files.createDirectories(f.getParent)
        val w = new BufferedWriter(new OutputStreamWriter(
          Files.newOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
        try {
          w.write(Headers(src)); w.write('\n')
          chunk.foreach { r => w.write(r); w.write('\n') }
        } finally w.close()
        Staged(src, f, Files.size(f), chunk.size.toLong)
      }.toSeq
    }
}

object Gen {
  val Headers: Map[String, String] = Map(
    "bookings" -> "booking_id,passenger_id,flight_id,airport_id,amount,booking_date,modified_at",
    "passengers" -> "passenger_id,name,gender,nationality,modified_at",
    "flights" -> "flight_id,airline,origin,destination,flight_date,modified_at",
    "airports" -> "airport_id,airport_name,city,country,modified_at")

  private val Epoch = LocalDate.of(1992, 1, 1)
  private val Genders = Vector("Female", "Male")
  private val Nations = Vector("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN",
    "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
    "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  val Airlines: Vector[String] = Vector("AirOne", "AirTwo", "JetAir",
    "SkyWays", "BlueLine", "NorthStar", "Coastal", "Summit", "Meridian",
    "Polar")
  private def code(i: Int): String =
    new String(Array(('A' + i / 676).toChar, ('A' + i / 26 % 26).toChar,
      ('A' + i % 26).toChar))

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Land a staged file: one atomic rename into the landing directory, so
   *  the ingest only ever sees complete files. */
  def land(s: Staged, landingRoot: Path): Unit = {
    val to = landingRoot.resolve(s.source).resolve(s.staged.getFileName)
    Files.createDirectories(to.getParent)
    Files.move(s.staged, to, StandardCopyOption.ATOMIC_MOVE)
  }
}
