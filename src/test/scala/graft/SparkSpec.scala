package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    graft.ops.FixtureRoots.create(prefix)

  val sfDir = "/root/testdata/sf0.001"

  // Self-cleaning fixtures: suites run sequentially in the one forked test
  // JVM (Test/fork, no testForkedParallel), so sweeping after each suite
  // deletes exactly that suite's roots. Repeated `sbt test` runs therefore
  // leave no /tmp residue (the r15 bench-drift root cause).
  override def afterAll(): Unit = {
    graft.ops.FixtureRoots.sweep()
    super.afterAll()
  }
}

object SparkSpec {
  // One session per JVM (tests fork one JVM): Spark re-init per suite is slow.
  lazy val session: SparkSession = {
    // the warehouse lives as long as the JVM (per-suite sweeping would
    // delete it under later suites) — a shutdown hook reclaims it, so
    // repeated `sbt test` runs leave no /tmp residue either
    val warehouse = Files.createTempDirectory("graft_warehouse")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (!Files.isSymbolicLink(f.toPath)) {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        }
        f.delete(): Unit
      }
      rm(warehouse.toFile)
    }))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // STRICT codegen: a generated function that fails to compile THROWS
      // instead of silently de-compiling the operator to interpreted mode —
      // the vector_dot nullability bug ran the whole IVF path interpreted
      // for five rounds without a single red test. Never again.
      .config("spark.sql.codegen.fallback", "false")
      // `spark.sql` is the SQL door to lake tables (LakeSqlParser)
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
