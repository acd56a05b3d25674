package graft.exec

import java.util.concurrent.{Executors, LinkedBlockingQueue, Semaphore, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.core.EngineContext
import graft.exec.Tasks._
import graft.model.{EtlModel, PartitionedEtlModel, SubTask, SubTaskResult}

/** Task execution engine — the governor + isolated-processor pair of the
  * reference (governor.py:200-320, process.py:57-168) mapped onto Spark:
  *
  *  - admission: accepted-class gate + bounded capacity (A3/A4); a full
  *    scoreboard raises [[Tasks.NoCapacity]] — the 503 analogue — instead
  *    of spin-waiting;
  *  - isolation: each task runs under its own Spark job group (the
  *    process-per-task analogue), so `cancel` kills exactly that task's
  *    jobs (A19);
  *  - fan-out: each attempt round of a partitioned model is ONE Spark job
  *    (`sc.submitJob` over `sc.parallelize(pending, k)`), so its k
  *    partitions run concurrently; the driver folds each partition's
  *    results as it finishes, in completion order, retries failed
  *    subtasks (`taskRetries`, default 1 — process_pool.py:27), and
  *    propagates exhausted failures to the parent with the failing
  *    subtask's id (A11/A12);
  *  - status: every transition lands in the [[StatusRegistry]] tables;
  *    every admitted task ends in exactly one terminal record, and its
  *    `submit` future completes, whatever the model throws. Any
  *    throwable, fatal ones included, becomes `TaskFailed` with its class
  *    name and none propagates, as the reference's processor turns any
  *    exception into a failed task (process.py:113-166); a
  *    `StackOverflowError` has unwound by the time it is caught, and an
  *    `InterruptedException` re-sets the thread's interrupt flag once the
  *    record is written.
  */
final class JobRunner(
    spark: SparkSession,
    registry: TaskRegistry,
    status: StatusRegistry,
    maxConcurrentTasks: Int = 8,
    taskRetries: Int = 1) {

  spark.sparkContext.addSparkListener(status)

  private val capacity = new Semaphore(maxConcurrentTasks)
  private val pool = Executors.newCachedThreadPool()
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(pool)

  def availableCapacity: Int = capacity.availablePermits()
  def hasCapacity: Boolean = availableCapacity > 0

  /** Validate + admit a task (api.py:28-72 semantics): unknown class →
    * InvalidTaskSpec (412), no capacity within `blockMillis` → NoCapacity
    * (503). Returns the future outcome; the task id is in the spec.
    */
  def submit(spec: TaskSpec, blockMillis: Long = 1000): Future[TaskOutcome] = {
    val model = validate(spec) // 412 before queueing
    if (!capacity.tryAcquire(blockMillis, TimeUnit.MILLISECONDS))
      throw new NoCapacity(
        s"no processing capacity for '${spec.modelClass}' within ${blockMillis}ms")
    register(spec)
    Future {
      try runAdmitted(spec, model)
      finally capacity.release()
    }
  }

  /** Synchronous execution (admission already done, `model` the single
    * per-task instance constructed at admission — factory constructors
    * with side effects must run exactly once per task).
    */
  private def runAdmitted(spec: TaskSpec, model: EtlModel): TaskOutcome = {
    val ctx = EngineContext(spark, spec.resolverContext)
    spark.sparkContext.setJobGroup(spec.taskId,
      s"graft task ${spec.taskId}: ${spec.modelClass}.${spec.method}",
      interruptOnCancel = true)
    graft.tools.EngineLog.log(
      s"task ${spec.taskId} ${spec.modelClass}.${spec.method} started")
    var interrupted = false
    val outcome =
      try {
        // Per-task cache + scratch scopes: any CacheScope.track/adopt the
        // model's query code performs is released when THIS task's action
        // completes (or fails) — and only this task's; concurrent tasks
        // each run in their own scope (the global-buffer alternative
        // would let one task's release unpersist another's live caches).
        // Scratch dirs the task registers are deleted immediately on
        // failure/cancel (nothing will ever read them) and kept until JVM
        // exit on success (the returned frame reads them lazily).
        graft.core.Scratch.taskScoped {
          graft.core.CacheScope.scoped {
            model match {
              case pm: PartitionedEtlModel => runPartitioned(spec, pm)
              // method dispatch — getattr(model, method)(**kwargs) analogue
              // (control/process.py:99-100); unknown method = InvalidTaskSpec
              case m => TaskComplete(
                dispatchable(m, spec)(ctx, spec.methodKwargs).count())
            }
          }
        }
      } catch {
        case e: SubTaskFailedException =>
          TaskFailed(e.getClass.getName, traceback(e), Some(e.originTaskId))
        case e: Throwable =>
          interrupted = e.isInstanceOf[InterruptedException]
          TaskFailed(e.getClass.getName, traceback(e), None)
      } finally {
        spark.sparkContext.clearJobGroup()
      }
    status.markFinished(spec.taskId, outcome)
    val (lvl, word) = outcome match {
      case _: TaskComplete => ("INFO", "complete")
      case _: TaskFailed => ("ERROR", "failed")
    }
    graft.tools.EngineLog.log(s"task ${spec.taskId} $word", lvl)
    if (interrupted) Thread.currentThread().interrupt()
    outcome
  }

  /** Blocking convenience wrapper used by tests and the model queries. */
  def runSync(spec: TaskSpec): TaskOutcome = {
    val model = validate(spec)
    capacity.acquire()
    register(spec)
    try runAdmitted(spec, model) finally capacity.release()
  }

  /** Register an admitted task as running on the CALLER's thread, before
    * it starts: a duplicate id is refused there as InvalidTaskSpec (the
    * 412 analogue) and gives its capacity permit back.
    */
  private def register(spec: TaskSpec): Unit =
    try status.markRunning(spec)
    catch { case e: InvalidTaskSpec => capacity.release(); throw e }

  /** Accepted-class + known-method gate (both are InvalidTaskSpec → the
    * 412 analogue). Partitioned models run via their slices, so the
    * top-level `method` is not dispatched there. Returns the constructed
    * instance so dispatch reuses it — model_cls(**model_construction_kwargs)
    * runs ONCE per task (control/process.py:89), not once per phase.
    *
    * A submission rejected later with NoCapacity has still constructed the
    * instance once: the 412-precedes-503 contract requires method
    * validation (which needs the factory's instance) before the capacity
    * verdict. Factories should therefore construct cheaply; heavy
    * resource acquisition belongs in partitionInitialise / first use.
    */
  private def validate(spec: TaskSpec): EtlModel = {
    val model = registry.resolve(spec.modelClass, spec.modelConstructionKwargs)
    model match {
      case _: PartitionedEtlModel => ()
      case m => dispatchable(m, spec): Unit
    }
    model
  }

  private def dispatchable(
      m: EtlModel, spec: TaskSpec): (EngineContext, Map[String, String]) => org.apache.spark.sql.DataFrame =
    m.methods.getOrElse(spec.method, throw new InvalidTaskSpec(
      s"model '${spec.modelClass}' has no method '${spec.method}' " +
        s"(has: ${m.methods.keys.toSeq.sorted.mkString(", ")})"))

  /** Scatter/gather for partitioned models (§3.3 of SURVEY): plea →
    * slice → one Spark job per attempt round → driver fold in completion
    * order (A9/A10).
    */
  private def runPartitioned(spec: TaskSpec, pm: PartitionedEtlModel): TaskOutcome = {
    val plea = pm.partitionPlea
    val workers = math.max(plea.minimum, math.min(plea.maximum, plea.optimal))
    var pending = pm.partitionSlice(workers)
    var attempt = 0
    var done = 0L
    while (pending.nonEmpty && attempt <= taskRetries) {
      val failed = Seq.newBuilder[SubTaskResult]
      foldRound(spec, pm, pending, math.min(workers, pending.size)) { r =>
        if (r.ok) { done += 1; pm.onSubtaskComplete(r) }
        else failed += r
      }
      val failedNow = failed.result()
      pending = failedNow.map(r => SubTask(r.method, r.kwargs))
      if (pending.nonEmpty && attempt == taskRetries) {
        val first = failedNow.head
        failedNow.foreach(pm.onSubtaskFailed)
        throw new SubTaskFailedException(
          s"${spec.taskId}::${first.method}",
          s"subtask '${first.method}' failed after ${taskRetries + 1} attempts: ${first.error}")
      }
      attempt += 1
    }
    TaskComplete(done)
  }

  /** One attempt round: `pending` split into `slices` partitions, run as a
    * single job submitted from the task thread (so it inherits the task's
    * job group and `cancel` reaches it). Spark's scheduler thread only
    * enqueues each finished partition's results; `fold` runs here, on the
    * task thread, in partition-completion order. A failed or cancelled job
    * surfaces through the job's completion; if `fold` throws, the job is
    * cancelled before the exception propagates.
    */
  private def foldRound(spec: TaskSpec, pm: PartitionedEtlModel,
      pending: Seq[SubTask], slices: Int)(fold: SubTaskResult => Unit): Unit = {
    val sc = spark.sparkContext
    val arrived = new LinkedBlockingQueue[Try[Array[SubTaskResult]]]()
    val job = sc.submitJob(sc.parallelize(pending, slices),
      JobRunner.runSlice(pm, spec.partitionInitialiseKwargs),
      0 until slices,
      (_: Int, rs: Array[SubTaskResult]) => arrived.put(Success(rs)),
      ())
    job.onComplete {
      case Failure(e) => arrived.put(Failure(e))
      case _ => ()
    }(ExecutionContext.parasitic)
    try (0 until slices).foreach(_ => arrived.take().get.foreach(fold))
    catch {
      case e: Throwable =>
        if (!job.isCompleted) {
          job.cancel()
          Await.ready(job, Duration.Inf): Unit
        }
        throw e
    }
  }

  /** Kill one running task's Spark jobs (A19; governor.py:421-451). */
  def cancel(taskId: String): Unit = spark.sparkContext.cancelJobGroup(taskId)

  private val sources =
    scala.collection.mutable.ArrayBuffer.empty[(TaskSource, Thread)]

  /** Attach a sidecar task source (A21; broker.py's `run_forever` contract):
    * the source runs on its own daemon thread for the runner's lifetime,
    * submitting into this governor as capacity allows.
    */
  def attachSource(src: TaskSource): Unit = synchronized {
    val th = new Thread(() =>
      try src.runForever(this)
      catch { case NonFatal(e) =>
        graft.tools.EngineLog.log(s"sidecar ${src.name} died: $e", "ERROR")
      }, s"graft-sidecar-${src.name}")
    th.setDaemon(true)
    th.start()
    sources += ((src, th)): Unit
  }

  private def stopSources(): Unit = synchronized {
    sources.foreach { case (s, th) => s.stop(); th.interrupt() }
    sources.clear()
  }

  /** Graceful shutdown: cancel everything still running. */
  def shutdown(): Unit = {
    stopSources()
    status.runningTasks.foreach(r => cancel(r.spec.taskId))
    pool.shutdown(): Unit
  }

  /** Detach from the SparkContext (listener) and stop the pool — call for
    * short-lived runners so listeners don't accumulate on the session.
    */
  def close(): Unit = {
    stopSources()
    spark.sparkContext.removeSparkListener(status)
    pool.shutdown(): Unit
  }

  private def traceback(e: Throwable): Seq[String] =
    e.getStackTrace.take(12).map(_.toString).toSeq
}

object JobRunner {

  /** The partition function of a fan-out round, kept off the runner so the
    * shipped closure holds only the model and its init kwargs: per-worker
    * init before any subtask (process.py:91-92), then each subtask's
    * outcome as a result envelope.
    */
  private def runSlice(pm: PartitionedEtlModel, initKwargs: Map[String, String])(
      sts: Iterator[SubTask]): Array[SubTaskResult] = {
    if (sts.hasNext) pm.partitionInitialise(initKwargs)
    sts.map { st =>
      try SubTaskResult(st.method, st.kwargs, ok = true,
        value = pm.runSubTask(st), error = "")
      catch {
        case NonFatal(e) => SubTaskResult(st.method, st.kwargs,
          ok = false, value = "", error = e.toString)
      }
    }.toArray
  }
}
