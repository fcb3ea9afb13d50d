package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = DevSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // dev filter: SPARK_GRAFT_ONLY=x2,x18 runs just the named queries
    // (EXACT name match — prefix matching made 'x1' also select x10..x18).
    // Loud subset banner so a leaked env var can't silently shrink coverage.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    only.foreach { names =>
      System.err.println(s"[verify] WARNING: SPARK_GRAFT_ONLY set — running " +
        s"SUBSET ${selected.keys.toSeq.sorted.mkString(",")} " +
        s"(${selected.size}/${SparkEntry.queries.size} queries)")
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[verify] WARNING: unknown query names ignored: " +
          unknown.toSeq.sorted.mkString(","))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop per-query persisted intermediates so queries stay isolated,
      // and delete the query's fixture roots so repeated runs leave no
      // /tmp residue (r15: ~5,000 leftover dirs inflated bench ~1.22x)
      spark.catalog.clearCache()
      graft.ops.FixtureRoots.sweep()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
