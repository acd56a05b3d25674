package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder of a traced run. It is registered only when the run
  * is traced: a `SparkListener` for jobs, stages and task metrics, a
  * `QueryExecutionListener` for Catalyst phase times, and named spans the
  * workloads wrap around their calls into a layer. Jobs are attributed to
  * an operation by their Spark job group (the task id under `JobRunner`,
  * a benchmark-set group elsewhere). The time spent inside the recorder
  * itself is counted, so a traced run states its own overhead.
  */
final class Tracer extends SparkListener with QueryExecutionListener {

  private val selfNanos = new AtomicLong(0L)

  /** Run `f` and count its time as the recorder's own overhead. */
  def bookkeeping[T](f: => T): T = self(f)

  private def self[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally selfNanos.addAndGet(System.nanoTime() - t0)
  }

  /** Seconds the recorder spent on its own bookkeeping. */
  def overheadSeconds: Double = selfNanos.get / 1e9

  // ---- spans ------------------------------------------------------------

  private val spans = new ConcurrentHashMap[String, ArrayBuffer[Double]]()

  def record(name: String, seconds: Double): Unit = self {
    val buf = spans.computeIfAbsent(name, _ => ArrayBuffer.empty[Double])
    buf.synchronized { buf += seconds }: Unit
  }

  def spanValues(name: String): Seq[Double] =
    Option(spans.get(name)).map(b => b.synchronized(b.toList)).getOrElse(Nil)

  // ---- Spark jobs, stages, tasks -----------------------------------------

  final case class JobSpan(group: String, start: Double, end: Double)

  final class StageTotals {
    var stages = 0L; var tasks = 0L
    var runS = 0.0; var cpuS = 0.0
    var shuffleRead = 0L; var shuffleWrite = 0L; var input = 0L; var spill = 0L
  }

  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Double]()
  private val jobSpans = new ConcurrentHashMap[Int, JobSpan]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, StageTotals]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = self {
    val g = groupOf(e.properties)
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time / 1e3)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = self {
    val g = Option(jobGroup.get(e.jobId)).getOrElse("")
    val s = Option(jobStart.get(e.jobId)).map(_.doubleValue).getOrElse(e.time / 1e3)
    jobSpans.put(e.jobId, JobSpan(g, s, e.time / 1e3)): Unit
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = self {
    val info = e.stageInfo
    val g = Option(stageGroup.get(info.stageId)).getOrElse("")
    val t = totals.computeIfAbsent(g, _ => new StageTotals)
    val m = info.taskMetrics
    t.synchronized {
      t.stages += 1
      t.tasks += info.numTasks
      if (m != null) {
        t.runS += m.executorRunTime / 1e3
        t.cpuS += m.executorCpuTime / 1e9
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.input += m.inputMetrics.bytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Finished jobs of the groups accepted by `keep`. */
  def jobs(keep: String => Boolean): Seq[JobSpan] =
    jobSpans.values.asScala.filter(j => keep(j.group)).toSeq

  def stageTotals(keep: String => Boolean): StageTotals = {
    val out = new StageTotals
    totals.asScala.foreach { case (g, t) =>
      if (keep(g)) t.synchronized {
        out.stages += t.stages; out.tasks += t.tasks
        out.runS += t.runS; out.cpuS += t.cpuS
        out.shuffleRead += t.shuffleRead; out.shuffleWrite += t.shuffleWrite
        out.input += t.input; out.spill += t.spill
      }
    }
    out
  }

  // ---- Catalyst ------------------------------------------------------------

  private val phaseMs = new ConcurrentHashMap[String, java.lang.Long]()
  private val executions = new AtomicLong(0L)

  private def phases(qe: QueryExecution): Unit = self {
    executions.incrementAndGet()
    qe.tracker.phases.foreach { case (phase, summary) =>
      phaseMs.merge(phase, summary.durationMs, (a, b) => a + b)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  def catalystSeconds(phase: String): Double =
    Option(phaseMs.get(phase)).map(_.longValue / 1e3).getOrElse(0.0)

  def catalystExecutions: Long = executions.get

  // ---- JVM -----------------------------------------------------------------

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private var gcAtStart = 0L

  /** Reset the JVM counters at the start of the measured window. */
  def startWindow(): Unit = {
    gcAtStart = gcMillis
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  def gcSeconds: Double = (gcMillis - gcAtStart) / 1e3

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until the asynchronous listener bus has delivered every event
    * posted so far, so job and stage totals are complete.
    */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
}

/** Span helper used inside the benchmark's own models and clients. With no
  * tracer installed (untraced runs) a span is just the call.
  */
object Trace {
  @volatile var current: Option[Tracer] = None

  def span[T](name: String)(f: => T): T = current match {
    case None => f
    case Some(t) =>
      val t0 = System.nanoTime()
      try f finally t.record(name, (System.nanoTime() - t0) / 1e9)
  }
}
