package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import graft.lake.{LakeSql, LakeTable}

/**
 * The medallion benchmark: one workload per process, one client thread,
 * everything in one JVM at `local[cores]`.
 *
 *  - backfill: the whole base load lands as CSV and goes through ingest →
 *    silver → gold into a fresh root, once per repetition.
 *  - trickle:  from a backfilled root, a closed loop of small batches; the
 *    next batch lands when the previous batch's fact build returns.
 *  - lookups:  a closed read-only loop of mixed `spark.sql` queries over
 *    the tables a backfill and one trickle batch left, laid out with
 *    OPTIMIZE ZORDER.
 *
 * Set-up generates the inputs, preloads the measured root and warms the
 * JIT outside the timed window: backfill runs one untimed repetition on a
 * separate root, trickle lands one untimed batch, lookups runs every query
 * kind once. Outputs are checked against a plain-Spark reference after the
 * timed window. The last stdout line is the JSON result.
 */
object Main {
  /** Trickle batches preloaded before measuring. */
  val PreloadBatches: Map[String, Int] = Map("backfill" -> 0, "trickle" -> 1, "lookups" -> 1)

  /** Base-load orders: about 20k bookings, 500 passengers, 666 flights
   *  and 33 airports. */
  val BaseOrders = 5000

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(PreloadBatches.contains(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    deleteTree(a.work)
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok =
      try new Bench(spark, a, cores).run()
      finally spark.stop()
    if (!ok) sys.exit(1)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with ten samples beyond it: the 11th largest
   *  sample, percentile 100·(n−10)/n. With fewer than 11 samples no
   *  percentile has ten beyond it, and the median stands in. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    if (n >= 11) (s(n - 11), f"p${100.0 * (n - 10) / n}%.1f of $n")
    else (median(xs), s"median of $n (fewer than 11 samples)")
  }
}

/** What set-up leaves for the timed loop: the measured root, the staged
 *  batches by number and, for lookups, the queries and the fact's file
 *  count. */
final case class Prepared(root: Path, m: Medallion,
    staged: Map[Int, Seq[Staged]], queries: Seq[Query], factFiles: Long)

/** One benchmark process: set-up, the timed loop, checks, report. */
final class Bench(spark: SparkSession, a: Main.Args, cores: Int) {
  import Main._

  private val tracer = new Tracer(spark)
  private val scale = Scale(BaseOrders)
  private val gen = new Gen(a.seed, scale)
  private val errors = mutable.ArrayBuffer[String]()
  private var attempted = 0
  private var failed = 0
  // (traced, unit milliseconds) of every unit in the timed window
  private val units = mutable.ArrayBuffer[(Boolean, Double)]()
  // GC milliseconds of each unit
  private val unitGc = mutable.ArrayBuffer[Double]()

  private def now = System.nanoTime()
  private def msSince(t0: Long) = (now - t0) / 1e6

  private def layers(m: Medallion, unit: Int, batch: Int, sources: Seq[String]): Unit = {
    sources.foreach { src =>
      tracer.span("ingest", unit, Seq(s"${m.bronzeRoot}/$src")) {
        tracer.add("rows", m.ingest(src).toDouble)
      }
    }
    tracer.span("pipeline", unit, Seq(m.silverRoot)) { m.silver() }
    if (tracer.tracing) {
      val runRows = m.pipeline.eventLog.filter(col("event_type") === "flow_progress")
        .groupBy("run_id").agg(sum("rows")).orderBy(col("run_id").desc).head()
      tracer.addToLast("pipeline", "rows_in", runRows.getLong(1).toDouble)
    }
    m.dims.foreach { case (name, cfg) =>
      tracer.span("gold.dim", unit, Seq(cfg.targetPath)) { m.buildDim(name, batch) }
    }
    tracer.span("gold.fact", unit, Seq(m.factPath)) { m.buildFact(batch) }
  }

  /** Link batch `k`'s staged files into `m`'s staging directory, land
   *  them and push them through every layer; returns the batch's
   *  freshness: first landing rename to `buildFact` return, in ms. */
  private def runBatch(m: Medallion, master: Seq[Staged], k: Int, unit: Int): Double = {
    val staged = master.map { s =>
      val f = Paths.get(m.root, "staging", s.source, s.staged.getFileName.toString)
      Files.createDirectories(f.getParent)
      Files.createLink(f, s.staged)
      s.copy(staged = f)
    }
    tracer.span(if (k == 0) "rep" else "batch", unit) {
      tracer.add("landed_bytes", staged.map(_.bytes).sum.toDouble)
      val t0 = now
      staged.foreach(Gen.land(_, Paths.get(m.root, "landing")))
      layers(m, unit, k, staged.map(_.source).distinct.sorted)
      msSince(t0)
    }
  }

  /** Stage the base load and the trickle batches a workload needs. */
  private def stage(root: Path, batches: Int): Map[Int, Seq[Staged]] =
    (0 to batches).map { k =>
      k -> gen.stage(k, root.resolve("master"), if (k == 0) 2 * cores else 1)
    }.toMap

  /** Set-up phases with their seconds, printed with the result. */
  private val setupPhases = mutable.ArrayBuffer[(String, Double)]()
  private var checkSeconds = 0.0
  private def phase[T](name: String)(body: => T): T = {
    val t0 = now
    try body finally setupPhases += ((name, msSince(t0) / 1000))
  }

  private def prepare(): Prepared = {
    val root = a.work.resolve("root")
    val preload = PreloadBatches(a.workload)
    val trickleCap = if (a.workload == "trickle") a.seconds * 2 + 8 else 0
    val staged = phase("generate")(stage(root, preload + trickleCap))
    val m = new Medallion(spark, root.toString)
    val baseFactVersion = phase("backfill") {
      runBatch(m, staged(0), 0, -1)
      LakeTable(spark, m.factPath).currentVersion
    }
    val versions = (1 to preload).map { k =>
      phase(s"batch $k") {
        val v0 = m.pipeline.table("bookings_silver").currentVersion
        runBatch(m, staged(k), k, -1)
        k -> (v0 + 1, m.pipeline.table("bookings_silver").currentVersion)
      }
    }.toMap
    if (a.workload != "lookups") Prepared(root, m, staged, Nil, 0)
    else {
      m.registerForSql()
      phase("optimize")(LakeSql.sql(spark, "OPTIMIZE fact_bookings ZORDER BY (booking_id)"))
      val ref = new Reference(spark, s"$root/landing")
      val qs = phase("answers")(
        Lookups.queries(spark, ref, a.seed, 24, baseFactVersion, versions))
      // one pass of every query kind: the read path's warm-up
      phase("warm-up")(qs.take(Lookups.Kinds.size).foreach(q => runQuery(q, -1)))
      Prepared(root, m, staged, qs, LakeTable(spark, m.factPath).detail.numFiles)
    }
  }

  /** Run one query; a wrong answer or an exception counts as failed. */
  private def runQuery(q: Query, unit: Int, factFiles: Long = 0): Double =
    tracer.span(s"lake.${q.kind}", unit) {
      if (q.kind == "point" || q.kind == "range") tracer.add("files_total", factFiles.toDouble)
      val t0 = now
      val got = Lookups.render(q.run(spark))
      val ms = msSince(t0)
      if (got != q.expected) {
        failed += 1
        errors += s"${q.kind} query returned $got, expected ${q.expected}: ${q.sql}"
      }
      ms
    }

  def run(): Boolean = {
    val t0 = now
    val p = prepare()
    val setup = msSince(t0) / 1000
    if (errors.nonEmpty) {
      errors.foreach(e => System.err.println(s"error: $e"))
      return false
    }

    val gc0 = gcMs()
    val deadline = now + a.seconds * 1000000000L
    var unit = 0
    var stop = false
    while (!stop && now < deadline) {
      val traced = a.trace && unit % 2 == 0
      if (traced) tracer.begin()
      attempted += 1
      val gcBefore = gcMs()
      val ms =
        try a.workload match {
          case "backfill" =>
            val root = a.work.resolve(s"rep-$unit")
            val t = runBatch(new Medallion(spark, root.toString), p.staged(0), 0, unit)
            if (unit > 0) deleteTree(a.work.resolve(s"rep-${unit - 1}"))
            t
          case "trickle" =>
            val k = PreloadBatches("trickle") + 1 + unit
            stop = !p.staged.contains(k + 1)
            runBatch(p.m, p.staged(k), k, unit)
          case "lookups" =>
            runQuery(p.queries(unit % p.queries.size), unit, p.factFiles)
        }
        catch {
          case e: Exception =>
            failed += 1
            errors += s"unit $unit: $e"
            stop = a.workload != "lookups"
            Double.NaN
        }
      if (traced) tracer.end()
      if (!ms.isNaN) { units += ((traced, ms)); unitGc += gcMs() - gcBefore }
      unit += 1
    }
    val gcWindow = gcMs() - gc0

    // correctness of everything the medallion wrote
    attempted += 1
    val checkRoot = if (a.workload == "backfill") a.work.resolve(s"rep-${unit - 1}") else p.root
    val checkStart = now
    val checkErrors =
      try Check.medallion(spark, new Medallion(spark, checkRoot.toString))
      catch { case e: Exception => Seq(s"check failed: $e") }
    checkSeconds = msSince(checkStart) / 1000
    if (checkErrors.nonEmpty) { failed += 1; errors ++= checkErrors }

    report(setup, gcWindow, p)
    errors.isEmpty
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def report(setup: Double, gcWindow: Double, p: Prepared): Unit = {
    val lat = units.map(_._2).toSeq
    val (tailV, tailWhich) = tail(lat)
    val p50 = median(lat)
    val rss = peakRssMb()
    val rows = p.staged(0).map(_.rows).sum.toDouble
    def na(applies: Boolean, v: => Double) = if (applies) f"$v%.1f" else "-"
    val w = a.workload
    println(s"workload $w  seed ${a.seed}  seconds ${a.seconds}  trace ${if (a.trace) 1 else 0}" +
      s"  cores $cores  base bookings ${p.staged(0).filter(_.source == "bookings").map(_.rows).sum}" +
      s"  units ${lat.size}  latency tail = $tailWhich  check ${f"$checkSeconds%.1f"} s")
    val table = Seq(
      ("backfill_rows_per_s", na(w == "backfill", rows / (p50 / 1000)), "rows/s"),
      ("freshness_p50_ms", na(w == "trickle", p50), "ms"),
      ("freshness_tail_ms", na(w == "trickle", tailV), "ms"),
      ("query_p50_ms", na(w == "lookups", p50), "ms"),
      ("query_tail_ms", na(w == "lookups", tailV), "ms"),
      ("error_rate", f"${failed.toDouble / attempted}%.4f", "failed/attempted"),
      ("peak_rss_mb", f"$rss%.1f", "MB"),
      ("setup_s", f"$setup%.2f",
        "s (" + setupPhases.map { case (n, t) => f"$n $t%.1f" }.mkString(", ") + ")"))
    table.foreach { case (n, v, u) => println(f"  $n%-22s $v%14s  $u") }
    if (w != "lookups")
      println("  unit ms (gc ms): " + units.zip(unitGc).map { case ((t, ms), gc) =>
        f"$ms%.0f${if (t) "*" else ""} ($gc%.0f)" }.mkString(" "))
    errors.foreach(e => println(s"  error: $e"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("latency_p50_ms", p50, "ms"), ("latency_tail_ms", tailV, "ms"),
        ("setup_s", setup, "s"), ("peak_rss_mb", rss, "MB"))
      else layerMetrics(gcWindow)
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
    }.mkString(", ")
    println(s"RESULT {${Json.str("correct")}: ${errors.isEmpty}, " +
      s"${Json.str("attempted")}: $attempted, ${Json.str("failed")}: $failed, " +
      s"${Json.str("metrics")}: {$body}}")
  }

  /** Per-layer metrics: each layer's counts summed per traced unit, then
   *  the median over units; layers a workload does not run read 0. */
  private def layerMetrics(gcWindow: Double): Seq[(String, Double, String)] = {
    val spans = tracer.finish()
    tracer.write(a.work.getParent.resolve(s"spans-${a.workload}.jsonl"), spans)
    val tracedUnits = spans.filter(_.unit >= 0).map(_.unit).distinct
    def perUnit(layer: String, key: String): Seq[Double] =
      tracedUnits.flatMap { u =>
        val ss = spans.filter(s => s.unit == u && s.name == layer)
        if (ss.isEmpty) None else Some(ss.map(_.counts.getOrElse(key, 0.0)).sum)
      }
    def unitLanded(u: Int): Double =
      spans.filter(s => s.unit == u && s.parent == -1).map(_.counts.getOrElse("landed_bytes", 0.0)).sum
    def ratioPerUnit(layer: String, num: String, den: Int => Double): Double =
      median(tracedUnits.flatMap { u =>
        val ss = spans.filter(s => s.unit == u && s.name == layer)
        val d = den(u)
        if (ss.isEmpty || d <= 0) None else Some(ss.map(_.counts.getOrElse(num, 0.0)).sum / d)
      })
    def m(layer: String, key: String) = median(perUnit(layer, key))
    val out = mutable.ArrayBuffer[(String, Double, String)]()
    def emit(layer: String, keys: Seq[String]): Unit = keys.foreach { k =>
      val unit = k match {
        case "jobs" | "tasks" | "commits" | "rows" | "rows_in" | "files_added" |
            "files_read" => "count"
        case "shuffle_bytes" | "bytes_written" | "bytes_read" => "B"
        case "write_amp" => "ratio"
        case _ => "ms"
      }
      val v = k match {
        case "write_amp" => ratioPerUnit(layer, "bytes_written", unitLanded)
        case "ms_per_commit" => ratioPerUnit(layer, "busy_ms", u =>
          spans.filter(s => s.unit == u && s.name == layer).map(_.counts.getOrElse("commits", 0.0)).sum)
        case "ms" => m(layer, "busy_ms")
        case other => m(layer, other)
      }
      out += ((s"$layer.$k", v, unit))
    }
    emit("ingest", Seq("busy_ms", "driver_ms", "jobs", "tasks", "task_ms", "rows",
      "commits", "bytes_written"))
    emit("pipeline", Seq("busy_ms", "driver_ms", "jobs", "tasks", "task_ms",
      "shuffle_bytes", "commits", "ms_per_commit", "rows_in", "files_added",
      "bytes_written", "write_amp"))
    emit("gold.dim", Seq("busy_ms", "driver_ms", "jobs", "task_ms", "commits"))
    emit("gold.fact", Seq("busy_ms", "driver_ms", "jobs", "tasks", "task_ms",
      "files_added", "bytes_written", "write_amp"))
    Lookups.Kinds.foreach(k => emit(s"lake.$k", Seq("ms", "jobs", "files_read", "bytes_read")))
    val skipped = spans.filter(s => s.name == "lake.point" || s.name == "lake.range")
    val total = skipped.map(_.counts.getOrElse("files_total", 0.0)).sum
    val read = skipped.map(_.counts.getOrElse("files_read", 0.0)).sum
    out += (("lake.skip_ratio", if (total > 0) 1 - read / total else 0.0, "ratio"))
    out += (("jvm.gc_ms", gcWindow, "ms"))
    val (tr, un) = units.partition(_._1)
    val overhead =
      if (tr.isEmpty || un.isEmpty) 0.0
      else (median(tr.map(_._2).toSeq) / median(un.map(_._2).toSeq) - 1) * 100
    out += (("trace.overhead_pct", overhead, "%"))

    println(f"  ${"per-layer metric"}%-28s ${"value"}%16s  unit   (median over ${tracedUnits.size} traced units)")
    out.foreach { case (n, v, u) => println(f"  $n%-28s ${Json.num(v)}%16s  $u") }
    out.toSeq
  }
}
