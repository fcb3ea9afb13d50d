package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession the dev mains (`Smoke`, `Verify`, `Bench`,
  * `Plans`) run on: `cores` worker threads and as many shuffle partitions,
  * UTC session time, no UI, WARN logging, and [[graft.expressions.GraftExtensions]]
  * (so `spark.sql` runs lake statements). `events.ts` is parquet
  * TIMESTAMP(NANOS): it is read as a long and re-typed in `graft.ops.t`. */
object DevSession {
  def apply(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
