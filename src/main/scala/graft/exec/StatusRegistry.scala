package graft.exec

import java.time.Instant
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.exec.Tasks._

/** Task status tables — the reference's shared-memory `process_table` /
  * `previous_tasks` (governor.py:60-63,281-315) rebuilt on a
  * `SparkListener`: every Spark job launched under a task's job group is
  * attributed to that task, giving live per-task job/stage progress the
  * way the reference exposes pids.
  */
final class StatusRegistry extends SparkListener {
  private val records = TrieMap.empty[String, TaskRecord]
  private val jobsByTask = TrieMap.empty[String, Vector[Int]]

  /** Register `spec` as running. An id that is already registered is
    * refused, never overwritten: the first task's record stays intact.
    */
  def markRunning(spec: TaskSpec): Unit =
    if (records.putIfAbsent(spec.taskId,
        TaskRecord(spec, "running", Instant.now(), None, None)).isDefined)
      throw new InvalidTaskSpec(s"task id '${spec.taskId}' is already registered")

  def markFinished(taskId: String, outcome: TaskOutcome): Unit =
    records.updateWith(taskId) {
      case Some(r) =>
        val status = outcome match {
          case _: TaskComplete => "complete"
          case _: TaskFailed => "failed"
        }
        Some(r.copy(status = status, finished = Some(Instant.now()),
          outcome = Some(outcome)))
      case None => None
    }: Unit

  /** status ∈ running/failed/complete/unknown (controller.py:32-37). */
  def status(taskId: String): String =
    records.get(taskId).map(_.status).getOrElse("unknown")

  def record(taskId: String): Option[TaskRecord] = records.get(taskId)

  def sparkJobs(taskId: String): Seq[Int] =
    jobsByTask.getOrElse(taskId, Vector.empty)

  /** Running tasks sorted by start time (controller.py:39-44). */
  def runningTasks: Seq[TaskRecord] =
    records.values.filter(_.status == "running").toSeq.sortBy(_.started)

  /** Recently finished, most recent first (controller.py:46-59). */
  def recentCompleted(limit: Int = 20): Seq[TaskRecord] =
    records.values.filter(_.finished.isDefined).toSeq
      .sortBy(_.finished.get).reverse.take(limit)

  override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
    val group = Option(jobStart.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(records.contains).foreach { taskId =>
      jobsByTask.updateWith(taskId) {
        case Some(v) => Some(v :+ jobStart.jobId)
        case None => Some(Vector(jobStart.jobId))
      }
    }
  }

  override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit = ()
}
