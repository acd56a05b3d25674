package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Settings of one run, parsed from the command line run.py passes. */
final case class Run(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: Path, work: Path) {
  def deadlineNanos(startNanos: Long): Long = startNanos + seconds * 1000000000L
}

/** One operation's window, with the Spark job group its jobs carry. */
final case class OpWindow(group: String, start: Double, end: Double)

/** What a workload measured. `layers` holds its own per-layer values
  * (the ones the harness cannot derive from the listeners); `windows`
  * lets the harness attribute Spark jobs to operations.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    correct: Boolean,
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    windows: Seq[OpWindow],
    samples: Int,
    wallSeconds: Double)

/** A brought-up node of one workload, ready to be measured. */
trait Node extends AutoCloseable {
  def measure(): Outcome
}

trait Workload {
  def bringUp(spark: SparkSession, run: Run): Node
}

object Session {
  val Cores = 4

  /** The engine's benchmark configuration (the one `graft.Bench` uses),
    * with every scratch location inside the run's own directory.
    */
  def build(run: Run): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${run.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.smallResultSort", "true")
      .config("spark.graft.compactScans", "true")
      .config("spark.sql.warehouse.dir", run.work.resolve("warehouse").toString)
      .config("spark.local.dir", run.work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", run.work.resolve("hadoop").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Main {

  val BringUps = 5

  val workloads: Map[String, Workload] = Map(
    "task_fanout" -> TaskFanout,
    "store_churn" -> StoreChurn,
    "llm_verbs" -> LlmVerbs)

  private def parse(args: Array[String]): Run = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload")
    require(workloads.contains(wl),
      s"unknown workload '$wl' (known: ${workloads.keys.toSeq.sorted.mkString(", ")})")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Run(wl, need("seed").toLong, seconds, need("trace") == "1",
      Paths.get(need("data")), Paths.get(need("work")))
  }

  def main(args: Array[String]): Unit = {
    val t0Main = System.currentTimeMillis()
    graft.tools.EngineLog.echoToConsole = false
    val run = parse(args)
    Files.createDirectories(run.work)
    val wl = workloads(run.workload)

    // Set up several times and report the median: each bring-up starts a
    // fresh Spark session and the workload's node on it.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var node: Node = null
    (1 to BringUps).foreach { _ =>
      if (node != null) { node.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = Session.build(run)
      node = wl.bringUp(spark, run)
      setups += (System.nanoTime() - t0) / 1e9
    }

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val coldSetup = setups.head + (t0Main - jvmStart) / 1e3
    System.err.println(f"perfbench: ${run.workload} up ${(System.currentTimeMillis - jvmStart) / 1e3}%.1f s " +
      s"after process start; bring-ups ${setups.map(x => f"$x%.3f").mkString(" ")} s")
    val tracer = if (run.trace) Some(new Tracer) else None
    tracer.foreach { t => t.attach(spark); t.startWindow(); Trace.current = Some(t) }
    val m0 = System.nanoTime()
    val out = node.measure()
    System.err.println(f"perfbench: measured ${(System.nanoTime() - m0) / 1e9}%.1f s, " +
      s"${out.attempted} operations, ${out.failed} failed")
    val line = tracer match {
      case None =>
        val values = out.endToEnd + ("setup_s" -> Stats.median(setups.toSeq))
        Metrics.resultJson(out.correct, out.attempted, out.failed, Metrics.endToEnd, values)
      case Some(t) =>
        // the end-to-end figures of a traced run, for comparing with untraced runs
        System.err.println("perfbench: end-to-end under tracing: " +
          out.endToEnd.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
        t.drain(spark)
        val values = layerValues(t, out) + ("setup.cold_s" -> coldSetup)
        Metrics.resultJson(out.correct, out.attempted, out.failed, Metrics.perLayer, values)
    }
    Trace.current = None
    node.close()
    spark.stop()
    println(line)
    System.out.flush()
    sys.exit(0)
  }

  /** Per-layer values: the workload's own, then Spark, Catalyst and JVM
    * figures per operation, defaulting every untouched layer to 0.
    */
  def layerValues(t: Tracer, out: Outcome): Map[String, Double] = {
    val ops = math.max(1, out.windows.size).toDouble
    val groups = out.windows.map(_.group).toSet
    val jobs = t.jobs(groups.contains)
    val byGroup = jobs.groupBy(_.group)
    val unions = out.windows.map { w =>
      val js = byGroup.getOrElse(w.group, Nil).map(j =>
        (math.max(j.start, w.start), math.min(j.end, w.end)))
      Stats.unionLength(js)
    }
    val residuals = out.windows.map { w =>
      Stats.residual(w.start, w.end, byGroup.getOrElse(w.group, Nil).map(j => (j.start, j.end)))
    }
    val st = t.stageTotals(groups.contains)
    val spark = Map(
      "spark.jobs" -> jobs.size / ops,
      "spark.stages" -> st.stages / ops,
      "spark.tasks" -> st.tasks / ops,
      "spark.job_union_s" -> Stats.mean(unions),
      "spark.driver_residual_s" -> Stats.mean(residuals),
      "spark.executor_run_s" -> st.runS / ops,
      "spark.executor_cpu_s" -> st.cpuS / ops,
      "spark.shuffle_read_bytes" -> st.shuffleRead / ops,
      "spark.shuffle_write_bytes" -> st.shuffleWrite / ops,
      "spark.input_bytes" -> st.input / ops,
      "spark.spill_bytes" -> st.spill / ops,
      "catalyst.analysis_s" -> t.catalystSeconds("analysis") / ops,
      "catalyst.optimization_s" -> t.catalystSeconds("optimization") / ops,
      "catalyst.planning_s" -> t.catalystSeconds("planning") / ops,
      "catalyst.executions" -> t.catalystExecutions / ops,
      "jvm.gc_s" -> t.gcSeconds,
      "jvm.heap_peak_mb" -> t.heapPeakMb,
      "fail_frac" -> out.failed.toDouble / math.max(1L, out.attempted),
      "ops.samples" -> out.samples.toDouble,
      "trace.overhead_frac" -> t.overheadSeconds / math.max(1e-9, out.wallSeconds))
    val zeros = Metrics.perLayer.map(_.name -> 0.0).toMap
    // a layer the run never reached (no calls) reads 0, not NaN
    (zeros ++ spark ++ out.layers).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
  }
}
