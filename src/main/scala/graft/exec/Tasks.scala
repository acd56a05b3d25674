package graft.exec

import java.time.Instant

/** Task-lifecycle data model — mirrors the reference's message/record
  * shapes (control/message.py:10-30, views/controller.py:5-80) minus the
  * broker plumbing Spark makes redundant.
  */
object Tasks {

  /** Unit of submitted work (TaskMessage analogue, control/message.py:
    * 10-19). `method` defaults to "go" = run the whole model
    * (views/api.py:45); `modelConstructionKwargs` parameterise the
    * per-task model instance (control/process.py:89) and
    * `partitionInitialiseKwargs` the per-worker init hook
    * (control/process.py:91-92) — both carried on the message like the
    * reference's TaskMessage (control/message.py:18-19).
    */
  final case class TaskSpec(
      modelClass: String,
      method: String = "go",
      methodKwargs: Map[String, String] = Map.empty,
      resolverContext: Map[String, String] = Map.empty,
      modelConstructionKwargs: Map[String, String] = Map.empty,
      partitionInitialiseKwargs: Map[String, String] = Map.empty,
      taskId: String = newTaskId())

  sealed trait TaskOutcome
  /** TaskComplete analogue (control/process.py:102-111). */
  final case class TaskComplete(rows: Long) extends TaskOutcome
  /** TaskFailed analogue: exception class, traceback lines, and the
    * failing subtask's id when a fan-out subtask caused the failure
    * (control/process.py:124-135,152-162).
    */
  final case class TaskFailed(
      exceptionClassName: String,
      traceback: Seq[String],
      failureOriginTaskId: Option[String]) extends TaskOutcome

  /** One row of the process/status tables (governor.py:281-285,311-315). */
  final case class TaskRecord(
      spec: TaskSpec,
      status: String, // running | complete | failed  (controller.py:32-37)
      started: Instant,
      finished: Option[Instant],
      outcome: Option[TaskOutcome])

  /** Random task id: the full 128-bit UUID in hex. The reference's
    * 5-char ident (governor.py:405-419) spans only ~1 M ids, so a busy
    * node collides (birthday bound ~1.2 k tasks for even odds).
    */
  def newTaskId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** Raised when a subtask exhausts its retries; carries the origin id the
    * parent's TaskFailed must expose (process.py:113-141).
    */
  final class SubTaskFailedException(val originTaskId: String, message: String)
    extends RuntimeException(message)

  /** Submission rejected: unknown/unregistered model (api.py:62-66 → 412). */
  final class InvalidTaskSpec(message: String) extends RuntimeException(message)

  /** Submission rejected: no capacity and non-blocking (api.py:32-34 → 503). */
  final class NoCapacity(message: String) extends RuntimeException(message)
}
