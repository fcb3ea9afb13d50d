package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ExplainMode

/** Dev measurement harness (optimization rounds; not part of the driver
  * contract): for each selected registry query, run the query function
  * once, dump the RETURNED DataFrame's `explain("formatted")` to
  * `<outDir>/<name>.txt`, and print one stats line per query —
  * wall-clock seconds plus the Spark job/stage/task counts the query
  * triggered (fixture builds, pipeline refreshes, merges AND the final
  * count). Job/stage/task counts are the scale-independent cost shape:
  * a refresh that launches 40 jobs at sf0.1 launches 40 passes at 100 TB.
  *
  *   runMain graft.Plans <outDir> [suffix] [name,name,...]
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 8).
  * `suffix` ("before"/"after") is appended to each plan file name.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r18")
    val suffix = if (args.length > 1 && args(1).nonEmpty) "_" + args(1) else ""
    val only = if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    Files.createDirectories(Paths.get(outDir))

    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var shuffleWrite = 0L
    val sites = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      private val jobExec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        jobStart.put(j.jobId, System.nanoTime())
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).foreach(id =>
          jobExec.put(j.jobId, id.toLong))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val dt = Option(jobStart.remove(e.jobId))
          .map(t0 => System.nanoTime() - t0).getOrElse(0L)
        val site = Option(jobExec.remove(e.jobId))
          .flatMap(id => Option(execSite.get(id))).getOrElse("<no-sql-exec>")
        // accumulate NANOS of job wall time per originating graft call site
        sites.merge(site, dt, (a, b) => a + b)
      }
      // SQL executions carry the USER stack in `details`; jobs submitted
      // through SQLExecution's future wrapper lose it at the stage level
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case es: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            val cs = es.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("graft.Plans"))
              .map(_.trim).getOrElse(es.details.linesIterator.take(1).mkString)
            execSite.put(es.executionId, cs)
          case ee: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
            // drop the site entry so a long run doesn't grow the map
            // unboundedly (jobs resolve their site at onJobEnd, which for
            // a finished execution has already fired)
            execSite.remove(ee.executionId)
            ()
          case _ => ()
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        shuffleWrite += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    })
    val dumpSites = sys.env.get("SPARK_GRAFT_PLANS_SITES").contains("1")

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      jobs = 0; stages = 0; tasks = 0; shuffleWrite = 0; sites.clear()
      val t0 = System.nanoTime()
      val res =
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          Files.write(Paths.get(outDir, s"$name$suffix.txt"),
            plan.getBytes("UTF-8"),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
          df.count()
          "ok"
        } catch { case e: Throwable => s"FAILED: ${e.getMessage}" }
      // settle straggler listener events before reading the counters
      Thread.sleep(300)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[plans] $name%-36s ${dt}%7.2fs jobs=$jobs%-4d stages=$stages%-5d tasks=$tasks%-6d shufKB=${shuffleWrite / 1024}%-8d $res")
      if (dumpSites) {
        import scala.jdk.CollectionConverters._
        sites.asScala.toSeq.sortBy(-_._2).foreach { case (cs, ns) =>
          println(f"[plans]   site ${ns / 1e9}%7.2fs  $cs")
        }
      }
      spark.catalog.clearCache()
      graft.ops.FixtureRoots.sweep()
    }
    spark.stop()
  }
}
