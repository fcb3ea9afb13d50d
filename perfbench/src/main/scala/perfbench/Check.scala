package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

/**
 * Plain-Spark reference built from the generated CSV files alone (no
 * program code): null keys dropped, then latest `modified_at` wins per
 * key. The medallion's silver and gold tables must equal it.
 */
final class Reference(spark: SparkSession, landingRoot: String) {
  import Reference._

  /** Rows of `src` from the landed files whose batch passes `batches`. */
  def raw(src: String, batches: Int => Boolean = _ => true): DataFrame = {
    val dir = new java.io.File(s"$landingRoot/$src")
    val files = Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.endsWith(".csv") && batches(batchOf(n))).sorted
      .map(n => s"$landingRoot/$src/$n")
    spark.read.option("header", "true").schema(Schemas(src)).csv(files: _*)
  }

  /** Latest-wins state of `src` over the batches `batches` accepts. */
  def state(src: String, batches: Int => Boolean = _ => true): DataFrame = {
    val keys = NotNull(src)
    val df = raw(src, batches).filter(keys.map(col(_).isNotNull).reduce(_ && _))
    val w = Window.partitionBy(col(keys.head)).orderBy(col("modified_at").desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }
}

object Reference {
  val Schemas: Map[String, StructType] = Map(
    "bookings" -> StructType.fromDDL("booking_id BIGINT, passenger_id BIGINT, " +
      "flight_id BIGINT, airport_id BIGINT, amount DOUBLE, booking_date DATE, " +
      "modified_at TIMESTAMP"),
    "passengers" -> StructType.fromDDL("passenger_id BIGINT, name STRING, " +
      "gender STRING, nationality STRING, modified_at TIMESTAMP"),
    "flights" -> StructType.fromDDL("flight_id BIGINT, airline STRING, " +
      "origin STRING, destination STRING, flight_date DATE, modified_at TIMESTAMP"),
    "airports" -> StructType.fromDDL("airport_id BIGINT, airport_name STRING, " +
      "city STRING, country STRING, modified_at TIMESTAMP"))

  /** Columns that must be non-null; the first is the key. */
  val NotNull: Map[String, Seq[String]] = Map(
    "bookings" -> Seq("booking_id", "passenger_id"),
    "passengers" -> Seq("passenger_id"), "flights" -> Seq("flight_id"),
    "airports" -> Seq("airport_id"))

  /** Batch number encoded in a staged file name (`src-b0003-p00.csv`). */
  def batchOf(name: String): Int =
    name.substring(name.indexOf("-b") + 2, name.indexOf("-b") + 6).toInt

  /** `df` re-typed to the reference schema of `src`. */
  def typed(df: DataFrame, src: String): DataFrame =
    df.select(Schemas(src).fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
}

/** Output checks run after the timed window. Each failed check is one
 *  error message. */
object Check {
  /** Order-independent fingerprint of a frame's rows: the count and the
   *  sums of two independent row hashes. Equal multisets of rows give equal
   *  fingerprints; any differing row changes them. */
  private def fingerprint(cols: Seq[Column]): Seq[Column] =
    Seq(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      sum(hash(cols: _*).cast("decimal(38,0)")))
  private def fingerprintOf(df: DataFrame): Seq[Any] = {
    val fp = fingerprint(df.columns.toSeq.map(col))
    df.agg(fp.head, fp.tail: _*).head().toSeq
  }

  def medallion(spark: SparkSession, m: Medallion): Seq[String] = {
    val ref = new Reference(spark, s"${m.root}/landing")
    val errs = Seq.newBuilder[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) errs += what
    def same(what: String, got: Seq[Any], want: DataFrame): Unit = {
      val w = fingerprintOf(want)
      expect(got == w, s"$what differs from the reference: (count, hashes) $got != $w")
    }
    val state = Seq("bookings", "passengers", "flights", "airports")
      .map(src => src -> ref.state(src).cache()).toMap

    state.foreach { case (src, want) =>
      same(s"silver $src", fingerprintOf(Reference.typed(m.read(s"${src}_silver"), src)), want)
    }

    val fact = graft.lake.LakeTable(spark, m.factPath).read
    m.dims.foreach { case (name, cfg) =>
      val dim = graft.lake.LakeTable(spark, cfg.targetPath).read
      val sk = col(cfg.surrogateCol)
      val names = cfg.keyCols ++ cfg.attrCols
      val cols = names.map(col)
      val typedCols = Reference.Schemas(name).fields.toSeq.filter(f => names.contains(f.name))
        .map(f => col(f.name).cast(f.dataType).as(f.name))
      // one pass: the surrogate key range and the business rows' fingerprint
      val r = dim.select(typedCols :+ sk: _*)
        .agg(countDistinct(sk), (min(sk) +: max(sk) +: fingerprint(cols)): _*).head()
      val n = r.getLong(3)
      expect(n > 0 && r.getLong(0) == n && r.getLong(1) == 1L && r.getLong(2) == n,
        s"dim $name surrogate keys are not unique and dense 1..$n: $r")
      same(s"dim $name", r.toSeq.drop(3), state(name).select(cols: _*))
    }
    // every fact row carries the surrogate key its business key maps to
    val resolved = m.dims.foldLeft(fact) { case (df, (_, cfg)) =>
      val keyed = graft.lake.LakeTable(spark, cfg.targetPath).read.select(
        (cfg.keyCols.map(k => col(k).as(s"d_$k")) :+ col(cfg.surrogateCol).as(s"d_${cfg.surrogateCol}")): _*)
      df.join(keyed, cfg.keyCols.map(k => col(k) === col(s"d_$k")).reduce(_ && _), "left")
    }
    val wrongSk = resolved.filter(m.dims.map { case (_, cfg) =>
      val (sk, d) = (col(cfg.surrogateCol), col(s"d_${cfg.surrogateCol}"))
      d.isNull || sk.isNull || sk =!= d
    }.reduce(_ || _)).count()
    expect(wrongSk == 0, s"$wrongSk fact rows carry a wrong surrogate key")

    same("fact", fingerprintOf(Reference.typed(fact, "bookings")), state("bookings"))
    def totals(df: DataFrame) =
      df.agg(count(lit(1)), sum(col("amount").cast("decimal(18,2)"))).head()
    val (ft, st) = (totals(fact), totals(m.read("bookings_silver")))
    expect(ft == st, s"fact count/SUM(amount) $ft != silver $st")

    val expected = state("bookings").groupBy("flight_id").agg(count(lit(1)).as("e_n"),
      sum("amount").as("e_rev"), max("amount").as("e_max"))
    val bad = m.read("flight_revenue").join(expected, Seq("flight_id"), "full_outer")
      .filter(col("bookings").isNull || col("e_n").isNull ||
        col("bookings") =!= col("e_n") ||
        col("max_amount").cast(DoubleType) =!= col("e_max") ||
        abs(col("revenue").cast(DoubleType) - col("e_rev")) > lit(1e-6) * abs(col("e_rev")) + lit(1e-6))
      .count()
    expect(bad == 0, s"flight_revenue differs from the reference in $bad groups")
    state.values.foreach(_.unpersist())
    errs.result()
  }
}
