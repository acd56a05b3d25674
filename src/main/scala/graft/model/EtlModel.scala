package graft.model

import org.apache.spark.sql.DataFrame
import graft.core.EngineContext

/** User ETL model — the analogue of `ayeaye.Model` (reference
  * examples/example_etl.py:8-31: a class with a `build()` entry point,
  * executed by the engine). Here `build` declares a DataFrame plan; the
  * engine (exec layer) owns scheduling, status and failure handling.
  */
trait EtlModel extends Serializable {
  def name: String

  /** Declare the model's dataflow. Called once per task on the driver;
    * heavy lifting happens in the returned (lazy) plan.
    */
  def build(ctx: EngineContext): DataFrame

  /** Named entry points — the analogue of the reference's dynamic dispatch
    * `getattr(model, method)(**kwargs)` (control/process.py:99-100). The
    * engine runs `methods(spec.method)(ctx, spec.methodKwargs)`; `"go"` is
    * the whole-model default (views/api.py:45) and always maps to `build`.
    * Override (keeping the `"go"` entry) to expose more entry points.
    */
  def methods: Map[String, (EngineContext, Map[String, String]) => DataFrame] =
    Map("go" -> ((ctx, _) => build(ctx)))
}

/** Requested parallelism — mirror of ayeaye's `PartitionOption`
  * (examples/example_etl.py:148-155): the model states min/max/optimal
  * workers; the engine picks within the band.
  */
final case class PartitionOption(minimum: Int, maximum: Int, optimal: Int)

/** One subtask of a partitioned model: a named method + kwargs, the unit
  * the reference scatters over RabbitMQ (rabbit_mq/process_pool.py:45-57).
  */
final case class SubTask(method: String, kwargs: Map[String, String])

/** Result envelope for one subtask (the TaskComplete/TaskFailed payload
  * pair, control/process.py:102-168).
  */
final case class SubTaskResult(
    method: String, kwargs: Map[String, String],
    ok: Boolean, value: String, error: String)

/** Partitioned model — the analogue of `ayeaye.PartitionedModel`
  * (examples/example_etl.py:34-102): the model slices itself into
  * independent subtasks; the engine runs each attempt round as one Spark
  * job whose partitions (at most the pleaded worker count) execute
  * concurrently, and feeds the per-result callback on the driver as each
  * partition finishes, in completion order — same contract as the
  * reference's scatter/gather over the broker (A7–A13).
  */
trait PartitionedEtlModel extends EtlModel {

  /** Partitioned models execute through their slices (the engine never
    * calls `build`); override only if the model is also runnable whole.
    */
  override def build(ctx: EngineContext): DataFrame =
    throw new UnsupportedOperationException(
      s"partitioned model '$name' runs via partitionSlice, not build")

  def partitionPlea: PartitionOption

  /** Per-worker initialisation hook, invoked once on each executor
    * partition before any of its subtasks run, with the task's
    * `partition_initialise_kwargs` (the reference calls
    * `model.partition_initialise(**kwargs)` in the isolated process
    * before method dispatch, control/process.py:91-92; the kwargs ride
    * the TaskMessage, control/message.py:19) — open connections, load
    * codecs/dictionaries here.
    */
  def partitionInitialise(kwargs: Map[String, String]): Unit = ()

  /** Yield the subtask definitions for `n` workers. */
  def partitionSlice(n: Int): Seq[SubTask]

  /** Execute one subtask (runs on executors — must be serialisable logic
    * on the instance; keep state in the kwargs).
    */
  def runSubTask(st: SubTask): String

  /** Per-result callback, invoked on the driver's task thread in
    * partition-completion order (UNORDERED — reference gather semantics,
    * process_pool.py:159-168). A throw here fails the task and cancels
    * the round's still-running partitions.
    */
  def onSubtaskComplete(r: SubTaskResult): Unit = ()

  /** Invoked when a subtask has exhausted its retries. */
  def onSubtaskFailed(r: SubTaskResult): Unit = ()
}
