package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import java.util.concurrent.ConcurrentHashMap

/** Per-query profile: run one named query in the [[graft.Bench]] session
  * with a listener that records every Spark job's interval, and report
  * per run the wall time, the job count, the summed job time, the
  * wall time covered by at least one job (the UNION of job intervals)
  * and the driver gap = wall − that union — the time spent outside any
  * job (driver-side FS work, plan/analysis, collect round-trips).
  * Overlapped jobs count once in the union, so the gap stays honest
  * under concurrency. Diagnostic only — never on the bench path.
  *
  * Usage: ProfileOne <queryName> [reps]; SPARK_GRAFT_PROF_JOBS=1 also
  * prints one line per job.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session()
    EngineLog.echoToConsole = false

    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val verbose = sys.env.contains("SPARK_GRAFT_PROF_JOBS")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.map(si => s"${si.name.takeWhile(_ != '\n').take(60)}/${si.numTasks}t").mkString(" | ")
        starts.put(js.jobId, (System.nanoTime(), site)): Unit
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val rec = starts.remove(je.jobId)
        if (rec != null) {
          val end = System.nanoTime()
          intervals.add((rec._1, end))
          if (verbose)
            println(f"[job] ${je.jobId}%3d ${(end - rec._1) / 1e3}%9.0f us  ${rec._2}")
        }
      }
    })

    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to reps) {
      intervals.clear(); starts.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Thread.sleep(200) // let the listener bus drain
      val wall = (System.nanoTime() - t0) / 1e9 - 0.2
      val jobs = scala.jdk.CollectionConverters.IterableHasAsScala(intervals).asScala.toSeq
      val jobTime = jobs.map { case (s, e) => e - s }.sum / 1e9
      val union = unionNanos(jobs) / 1e9
      println(f"[prof] $name run$i wall=$wall%.2f s jobs=${jobs.size} " +
        f"jobTime=$jobTime%.2f s jobUnion=$union%.2f s driverGap=${wall - union}%.2f s")
      graft.core.CacheScope.releaseAll()
    }
    spark.stop()
  }

  /** Total length covered by the union of `[start, end)` intervals. */
  def unionNanos(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) {
        covered += e - math.max(s, reach)
        reach = e
      }
    }
    covered
  }
}
