package graft

/** t1 smoke stand-in: run the flagship `SparkEntry.entry` the way the driver
  * does and print its row count (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = DevSession("4")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
