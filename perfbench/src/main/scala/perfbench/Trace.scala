package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced layer call: name, start, end, the span that caused it, and
 *  the unit of work (batch, repetition or query) it belongs to. `counts`
 *  holds what the benchmark measured at the boundary. */
final class Span(val id: Int, val name: String, val parent: Int, val unit: Int,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * Spans around each layer call plus a SparkListener and a
 * QueryExecutionListener whose job, task and scan counts are attributed to
 * the innermost span by time. Directory walks of each layer's tables give
 * its commits (new manifests), files added and bytes written. Tracing is
 * switched on per unit of work, so one traced run interleaves traced and
 * untraced units and measures its own overhead.
 */
final class Tracer(spark: SparkSession) {
  import Tracer.Job

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var on = false

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  // stage → (tasks, executor run ms, shuffle bytes written)
  private val stageTasks = new ConcurrentHashMap[Int, Array[Long]]()
  // (planning end ms, files read, bytes read) per executed query
  private val scans = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageTasks.computeIfAbsent(e.stageId, _ => new Array[Long](3))
      a(0) += 1
      if (e.taskMetrics != null) {
        a(1) += e.taskMetrics.executorRunTime
        a(2) += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val at = qe.tracker.phases.get("planning").map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      var files = 0L
      var bytes = 0L
      def visit(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case s: FileSourceScanExec =>
          files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          bytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case other =>
          other.children.foreach(visit)
          other.subqueries.foreach(visit)
      }
      visit(qe.executedPlan)
      scans.add((at, files, bytes))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def tracing: Boolean = on

  /** Start tracing the next unit of work. */
  def begin(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  /** Stop tracing, after every event posted so far has been delivered. */
  def end(): Unit = if (on) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    on = false
  }

  /** Run `body` as span `name` of `unit`; when tracing, the directories in
   *  `watch` are walked before and after to count commits and writes. */
  def span[T](name: String, unit: Int, watch: Seq[String] = Nil)(body: => T): T =
    if (!on) body
    else {
      val before = if (watch.isEmpty) Map.empty[String, Long] else Tracer.files(watch)
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), unit,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        if (watch.nonEmpty) {
          val added = Tracer.files(watch).filter { case (f, _) => !before.contains(f) }
          s.counts("commits") = added.keys.count(_.endsWith(".mf")).toDouble
          s.counts("files_added") = added.keys.count(_.endsWith(".parquet")).toDouble
          s.counts("bytes_written") = added.values.sum.toDouble
        }
      }
    }

  /** Add `v` to count `key` of the innermost open span. */
  def add(key: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Add `v` to count `key` of the latest span called `name`. */
  def addToLast(name: String, key: String, v: Double): Unit =
    if (on) spans.reverseIterator.find(_.name == name)
      .foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Attribute jobs, tasks and scans to spans (innermost span open when
   *  the job started or the query was planned) and return every span.
   *  Adds busy_ms, driver_ms (span time no Spark job covers), jobs, tasks,
   *  task_ms, shuffle_bytes, files_read and bytes_read to each span. */
  def finish(): Seq[Span] = {
    end()
    def innermost(t: Long): Option[Span] =
      spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startMs)
    val jobsOf = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
    jobs.asScala.foreach { j =>
      innermost(j.start).foreach { s =>
        val end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(s.endMs)
        jobsOf.getOrElseUpdate(s.id, mutable.ArrayBuffer()) += ((j.start, end))
        val c = s.counts
        def inc(k: String, v: Double) = c(k) = c.getOrElse(k, 0.0) + v
        inc("jobs", 1)
        j.stages.foreach { st =>
          Option(stageTasks.get(st)).foreach { a =>
            inc("tasks", a(0).toDouble); inc("task_ms", a(1).toDouble)
            inc("shuffle_bytes", a(2).toDouble)
          }
        }
      }
    }
    scans.asScala.foreach { case (t, files, bytes) =>
      innermost(t).foreach { s =>
        s.counts("files_read") = s.counts.getOrElse("files_read", 0.0) + files
        s.counts("bytes_read") = s.counts.getOrElse("bytes_read", 0.0) + bytes
      }
    }
    spans.foreach { s =>
      s.counts("busy_ms") = s.ms
      // union of the span's job intervals, clipped to the span
      val iv = jobsOf.getOrElse(s.id, mutable.ArrayBuffer())
        .map { case (a, b) => (a max s.startMs, b min s.endMs) }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      covered += curB - curA
      s.counts("driver_ms") = (s.ms - covered) max 0.0
    }
    spans.toSeq
  }

  /** Write spans as JSON lines. */
  def write(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""unit": ${s.unit}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""counts": {$counts}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  private final case class Job(id: Int, start: Long, stages: Seq[Int])

  /** Every regular file under `dirs` with its size. */
  def files(dirs: Seq[String]): Map[String, Long] =
    dirs.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }.toMap
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
