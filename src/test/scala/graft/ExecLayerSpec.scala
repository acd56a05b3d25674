package graft

import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import graft.core.EngineContext
import graft.exec.{JobRunner, StatusRegistry, TaskRegistry}
import graft.exec.Tasks._
import graft.model._

/** Execution-semantics tests mirroring the reference's suites:
  * accepted-class gate (tests/test_governor.py:40-68), task lifecycle to
  * `complete` (tests/integration_tests/test_basics.py:86-104), subtask
  * failure → parent failed with failure_origin (:129-156), retry success
  * on second attempt (:158-181, `SecondTimeLucky`), capacity 503
  * (views/api.py:32-34).
  */
object ExecLayerSpec {
  // cross-attempt scoreboard for the SecondTimeLucky model (executors and
  // driver share the JVM under local[*])
  val attempts = new ConcurrentHashMap[String, Integer]()
}

// Partitioned test models live at file level: their runSubTask closures are
// shipped to executors, so they must serialize without an outer Spec ref.
private class PartialFailure extends PartitionedEtlModel {
  override def name = "PartialFailure"
  override def partitionPlea: PartitionOption = PartitionOption(1, 4, 4)
  override def partitionSlice(n: Int): Seq[SubTask] =
    (0 until n).map(i => SubTask("crash_maybe", Map("i" -> i.toString)))
  override def runSubTask(st: SubTask): String = {
    val i = st.kwargs("i").toInt
    if (i == 2) (1 / (i - i)).toString // ZeroDivision analogue (:147-156)
    else s"ok$i"
  }
}

private class SecondTimeLucky extends PartitionedEtlModel {
  override def name = "SecondTimeLucky"
  override def partitionPlea: PartitionOption = PartitionOption(1, 3, 3)
  override def partitionSlice(n: Int): Seq[SubTask] =
    (0 until n).map(i => SubTask("flaky", Map("i" -> i.toString)))
  override def runSubTask(st: SubTask): String = {
    val k = "stl-" + st.kwargs("i")
    val n = ExecLayerSpec.attempts.merge(k, 1, (a, b) => a + b)
    if (n == 1) throw new RuntimeException("first attempt always fails")
    "lucky"
  }
}

private class Gathering extends PartitionedEtlModel {
  override def name = "Gathering"
  @transient val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
  override def partitionPlea: PartitionOption = PartitionOption(2, 12, 6)
  override def partitionSlice(n: Int): Seq[SubTask] =
    (0 until n).map(i => SubTask("go", Map("i" -> i.toString)))
  override def runSubTask(st: SubTask): String = "r" + st.kwargs("i")
  override def onSubtaskComplete(r: SubTaskResult): Unit =
    seen.add(r.value): Unit
}

// partitionInitialise must run on the worker before any of its subtasks,
// receiving the task's partition_initialise_kwargs (message.py:19)
private class NeedsInit extends PartitionedEtlModel {
  override def name = "NeedsInit"
  override def partitionPlea: PartitionOption = PartitionOption(1, 4, 4)
  override def partitionSlice(n: Int): Seq[SubTask] =
    (0 until n).map(i => SubTask("go", Map("i" -> i.toString)))
  @transient private lazy val inited = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }
  override def partitionInitialise(kwargs: Map[String, String]): Unit =
    inited.set(kwargs.getOrElse("dict", "missing"))
  override def runSubTask(st: SubTask): String = {
    if (inited.get() != "en-GB") throw new IllegalStateException(
      s"subtask ${st.kwargs("i")} ran before partitionInitialise " +
        s"or without its kwargs (got '${inited.get()}')")
    "ok"
  }
}

// Completion order + concurrency: subtask 1 waits until subtask 0 has
// started and subtask 0 waits until the driver has folded subtask 1, so the
// task completes only if both subtasks run at once and the driver folds
// each result as its partition finishes. A 30 s wait that times out turns
// into a subtask error.
private object FanOrder {
  @volatile var zeroStarted: java.util.concurrent.CountDownLatch = _
  @volatile var oneFolded: java.util.concurrent.CountDownLatch = _
  def reset(): Unit = {
    zeroStarted = new java.util.concurrent.CountDownLatch(1)
    oneFolded = new java.util.concurrent.CountDownLatch(1)
  }
  def await(l: java.util.concurrent.CountDownLatch, what: String): Unit =
    if (!l.await(30, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException(s"timed out waiting for $what")
}

private class CompletionOrder extends PartitionedEtlModel {
  override def name = "CompletionOrder"
  @transient val folded = new java.util.concurrent.CopyOnWriteArrayList[String]()
  override def partitionPlea: PartitionOption = PartitionOption(2, 2, 2)
  override def partitionSlice(n: Int): Seq[SubTask] =
    (0 until n).map(i => SubTask(s"sub-$i", Map("i" -> i.toString)))
  override def runSubTask(st: SubTask): String = st.kwargs("i") match {
    case "0" =>
      FanOrder.zeroStarted.countDown()
      FanOrder.await(FanOrder.oneFolded, "the driver to fold subtask 1")
      "r0"
    case i =>
      FanOrder.await(FanOrder.zeroStarted, "subtask 0 to start")
      "r" + i
  }
  override def onSubtaskComplete(r: SubTaskResult): Unit = {
    folded.add(r.value): Unit
    if (r.value == "r1") FanOrder.oneFolded.countDown()
  }
}

// every subtask but the first sleeps (interruptibly) far longer than any
// test waits, so its round's job is still running when the test acts
private class SleepyFan extends PartitionedEtlModel {
  override def name = "SleepyFan"
  override def partitionPlea: PartitionOption = PartitionOption(4, 4, 4)
  override def partitionSlice(n: Int): Seq[SubTask] =
    (0 until n).map(i => SubTask(s"sub-$i", Map("i" -> i.toString)))
  override def runSubTask(st: SubTask): String = {
    if (st.kwargs("i") != "0") Thread.sleep(60000)
    "r" + st.kwargs("i")
  }
}

private class FoldRefused(msg: String) extends RuntimeException(msg)

// the driver-side fold throws on the first result, while the round's other
// partitions still sleep
private class FailingFold extends SleepyFan {
  override def name = "FailingFold"
  override def onSubtaskComplete(r: SubTaskResult): Unit =
    throw new FoldRefused(s"fold refused ${r.value}")
}

// Two cache-owning models for the per-task CacheScope test. The slow one
// tracks a cache, then waits until the quick one has fully COMPLETED (its
// task scope released) before asserting its own cache is still live — the
// exact interleaving where a process-global cache registry would let one
// task's release unpersist the other's in-flight cache.
private object CacheOwnership {
  val slowTracked = new java.util.concurrent.CountDownLatch(1)
  val quickDone = new java.util.concurrent.CountDownLatch(1)
}

private class SlowCacheOwner extends EtlModel {
  override def name = "SlowCacheEtl"
  override def build(ctx: EngineContext): DataFrame = {
    val df = graft.core.CacheScope.track(ctx.spark.range(100).toDF())
    df.count(): Unit // materialise the cache entry
    CacheOwnership.slowTracked.countDown()
    require(CacheOwnership.quickDone.await(60,
        java.util.concurrent.TimeUnit.SECONDS),
      "peer task did not finish in time")
    require(df.storageLevel.useMemory,
      "peer task's completion released THIS task's live cache (cross-release)")
    df
  }
}

private class QuickCacheOwner extends EtlModel {
  override def name = "QuickCacheEtl"
  override def build(ctx: EngineContext): DataFrame = {
    require(CacheOwnership.slowTracked.await(60,
        java.util.concurrent.TimeUnit.SECONDS),
      "slow task never tracked its cache")
    val df = graft.core.CacheScope.track(ctx.spark.range(50).toDF())
    df.count(): Unit
    df
  }
}

// a deliberately slow distributed job (sleep per row) for cancel tests
private class CrawlModel extends EtlModel {
  override def name = "CrawlEtl"
  override def build(ctx: EngineContext): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    spark.range(0, 400, 1, 4).as[Long]
      .map { i => Thread.sleep(100); i }
      .toDF()
  }
}

// a model whose build runs two long jobs concurrently through Overlap
private class OverlapCrawlModel extends EtlModel {
  override def name = "OverlapCrawlEtl"
  override def build(ctx: EngineContext): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    def crawl(): Long = spark.range(0, 400, 1, 4).as[Long]
      .map { i => Thread.sleep(100); i }.count()
    graft.core.Overlap(crawl(), crawl())
    spark.range(1).toDF()
  }
}

// chaos: concurrency scoreboard for the stampede test
private object Stampede {
  val running = new java.util.concurrent.atomic.AtomicInteger(0)
  val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { running.set(0); maxSeen.set(0) }
}

private class StampedeModel extends EtlModel {
  override def name = "StampedeEtl"
  override def build(ctx: EngineContext): DataFrame = {
    val n = Stampede.running.incrementAndGet()
    Stampede.maxSeen.updateAndGet(m => math.max(m, n)): Unit
    try { Thread.sleep(80); ctx.spark.range(1).toDF() }
    finally Stampede.running.decrementAndGet(): Unit
  }
}

// chaos: a task that acquires scratch + cache, then runs a slow job the
// test cancels mid-flight — cleanup of both must run on the failure path
private object CancelCleanup {
  val scratchDir = new java.util.concurrent.atomic.AtomicReference[String]()
  @volatile var started: java.util.concurrent.CountDownLatch = _
}

private class ScratchCrawlModel extends EtlModel {
  override def name = "ScratchCrawlEtl"
  override def build(ctx: EngineContext): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cancel_scratch").toString
    graft.core.Scratch.deleteOnExit(dir): Unit
    CancelCleanup.scratchDir.set(dir)
    val df = graft.core.CacheScope.track(spark.range(100).toDF())
    df.count(): Unit
    CancelCleanup.started.countDown()
    spark.range(0, 400, 1, 4).as[Long]
      .map { i => Thread.sleep(100); i }
      .toDF()
  }
}

private class ScratchQuickModel extends EtlModel {
  override def name = "ScratchQuickEtl"
  override def build(ctx: EngineContext): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_keep_scratch").toString
    graft.core.Scratch.deleteOnExit(dir): Unit
    CancelCleanup.scratchDir.set(dir)
    ctx.spark.range(5).toDF()
  }
}

class ExecLayerSpec extends SparkSpec {

  private def freshRunner(maxConcurrent: Int = 2) = {
    val reg = new TaskRegistry
    val status = new StatusRegistry
    (reg, status, new JobRunner(spark, reg, status, maxConcurrent))
  }

  /** Records every job's group and whether it succeeded. */
  private class JobLog extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd,
      SparkListenerJobStart}
    private val groupOf = new ConcurrentHashMap[Int, String]()
    private val succeeded = new ConcurrentHashMap[Int, java.lang.Boolean]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => groupOf.put(js.jobId, g): Unit)
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      succeeded.put(je.jobId, je.jobResult == JobSucceeded): Unit
    def jobsOf(group: String): Seq[Int] = scala.jdk.CollectionConverters
      .MapHasAsScala(groupOf).asScala.collect { case (id, g) if g == group => id }.toSeq
    def ended(id: Int): Boolean = succeeded.containsKey(id)
    def succeededJob(id: Int): Boolean = succeeded.get(id) == java.lang.Boolean.TRUE
  }

  private def withJobLog[A](body: JobLog => A): A = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try body(log) finally spark.sparkContext.removeSparkListener(log)
  }

  private def awaitUntil(seconds: Int)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(50)
  }

  private class NothingModel extends EtlModel {
    override def name = "NothingEtl"
    override def build(ctx: EngineContext): DataFrame =
      ctx.spark.range(10).toDF()
  }

  test("registry rejects duplicate and unaccepted classes (A3)") {
    val reg = new TaskRegistry
    reg.register(new NothingModel)
    assertThrows[InvalidTaskSpec](reg.register(new NothingModel))
    assertThrows[InvalidTaskSpec](reg.resolve("NotRegistered"))
    assert(reg.isAccepted("NothingEtl"))
  }

  test("task lifecycle reaches complete with status tables updated (A5/A18)") {
    val (reg, status, runner) = freshRunner()
    reg.register(new NothingModel)
    val spec = TaskSpec(modelClass = "NothingEtl")
    assert(status.status(spec.taskId) == "unknown")
    val outcome = runner.runSync(spec)
    assert(outcome == TaskComplete(10))
    assert(status.status(spec.taskId) == "complete")
    val rec = status.record(spec.taskId).get
    assert(rec.finished.isDefined && !rec.finished.get.isBefore(rec.started))
  }


  test("subtask failure propagates to parent with failure origin (A11/A12)") {
    val (reg, status, runner) = freshRunner()
    reg.register(new PartialFailure)
    val spec = TaskSpec(modelClass = "PartialFailure")
    val outcome = runner.runSync(spec)
    outcome match {
      case TaskFailed(cls, _, origin) =>
        assert(cls.contains("SubTaskFailedException"))
        assert(origin.exists(_.startsWith(spec.taskId + "::")))
      case other => fail(s"expected TaskFailed, got $other")
    }
    assert(status.status(spec.taskId) == "failed")
  }


  test("failed subtasks are retried and succeed on attempt 2 (A11)") {
    ExecLayerSpec.attempts.clear()
    val (reg, status, runner) = freshRunner()
    reg.register(new SecondTimeLucky)
    val outcome = runner.runSync(TaskSpec(modelClass = "SecondTimeLucky"))
    assert(outcome == TaskComplete(3))
    assert(ExecLayerSpec.attempts.values().stream().allMatch(_ == 2))
  }


  test("scatter/gather folds every unordered subtask result (A7/A10/A13)") {
    val (reg, _, runner) = freshRunner()
    val m = new Gathering
    reg.register(m)
    assert(runner.runSync(TaskSpec(modelClass = "Gathering")) == TaskComplete(6))
    val got = scala.jdk.CollectionConverters.ListHasAsScala(m.seen).asScala.toSet
    assert(got == (0 until 6).map("r" + _).toSet)
  }

  test("fan-out subtasks run concurrently and fold in completion order (A9/A10)") {
    FanOrder.reset()
    // no retry round: a timed-out wait fails the task instead of passing
    // on a second attempt
    val reg = new TaskRegistry
    val runner = new JobRunner(spark, reg, new StatusRegistry, taskRetries = 0)
    val m = new CompletionOrder
    reg.register(m)
    assert(runner.runSync(TaskSpec(modelClass = "CompletionOrder")) == TaskComplete(2))
    assert(scala.jdk.CollectionConverters.ListHasAsScala(m.folded).asScala.toSeq
      == Seq("r1", "r0"))
    runner.close()
  }

  test("each fan-out attempt round is exactly one Spark job in the task's group") {
    import org.apache.spark.graft.ListenerBus
    val (reg, status, runner) = freshRunner()
    reg.register(new Gathering)
    reg.register(new SecondTimeLucky)
    val gather = TaskSpec(modelClass = "Gathering")
    assert(runner.runSync(gather) == TaskComplete(6))
    ExecLayerSpec.attempts.clear()
    val lucky = TaskSpec(modelClass = "SecondTimeLucky")
    assert(runner.runSync(lucky) == TaskComplete(3))
    ListenerBus.drain(spark.sparkContext)
    assert(status.sparkJobs(gather.taskId).size == 1,
      s"Gathering ran jobs ${status.sparkJobs(gather.taskId)}")
    assert(status.sparkJobs(lucky.taskId).size == 2,
      s"SecondTimeLucky ran jobs ${status.sparkJobs(lucky.taskId)}")
    runner.close()
  }

  test("cancel kills a running fan-out round's job") {
    val (reg, status, runner) = freshRunner()
    reg.register(new SleepyFan)
    val spec = TaskSpec(modelClass = "SleepyFan")
    withJobLog { log =>
      val fut = runner.submit(spec)
      awaitUntil(60)(log.jobsOf(spec.taskId).nonEmpty)
      assert(log.jobsOf(spec.taskId).size == 1,
        s"expected the round's one job, saw ${log.jobsOf(spec.taskId)}")
      Thread.sleep(300)
      runner.cancel(spec.taskId)
      Await.result(fut, 60.seconds) match {
        case TaskFailed(_, _, _) => ()
        case other => fail(s"expected TaskFailed after cancel, got $other")
      }
      assert(status.status(spec.taskId) == "failed")
      val job = log.jobsOf(spec.taskId).head
      awaitUntil(30)(log.ended(job))
      assert(log.ended(job) && !log.succeededJob(job),
        s"the fan-out job $job was not cancelled with its task")
    }
    runner.close()
  }

  test("a throwing fold fails the task with its exception and cancels the round") {
    import org.apache.spark.graft.ListenerBus
    val (reg, _, runner) = freshRunner()
    reg.register(new FailingFold)
    val spec = TaskSpec(modelClass = "FailingFold")
    withJobLog { log =>
      runner.runSync(spec) match {
        case TaskFailed(cls, _, origin) =>
          assert(cls == classOf[FoldRefused].getName)
          assert(origin.isEmpty)
        case other => fail(s"expected TaskFailed from the fold, got $other")
      }
      ListenerBus.drain(spark.sparkContext)
      val jobs = log.jobsOf(spec.taskId)
      assert(jobs.nonEmpty)
      awaitUntil(30)(jobs.forall(log.ended))
      jobs.foreach { id =>
        assert(log.ended(id) && !log.succeededJob(id),
          s"job $id of the failed task was left running")
      }
    }
    runner.close()
  }

  test("partitionInitialise runs on each worker before its subtasks (process.py:91-92)") {
    val (_, _, runner) = freshRunner()
    val reg2 = new TaskRegistry
    reg2.register(new NeedsInit)
    val (_, status2, runner2) = {
      val st = new StatusRegistry
      (reg2, st, new JobRunner(spark, reg2, st))
    }
    assert(runner2.runSync(TaskSpec(modelClass = "NeedsInit",
      partitionInitialiseKwargs = Map("dict" -> "en-GB"))) == TaskComplete(4))
    runner.close(); runner2.close()
  }

  // a model with per-task constructor state (model_construction_kwargs,
  // control/process.py:89): row count comes from construction, not method
  private class SizedModel(rows: Long) extends EtlModel {
    override def name = "SizedEtl"
    override def build(ctx: EngineContext): DataFrame =
      ctx.spark.range(rows).toDF()
  }

  test("factory registry constructs a differently-configured instance per task (process.py:89)") {
    val (reg, _, runner) = freshRunner()
    reg.registerFactory("SizedEtl",
      kwargs => new SizedModel(kwargs.getOrElse("rows", "1").toLong))
    val small = runner.runSync(TaskSpec(modelClass = "SizedEtl",
      modelConstructionKwargs = Map("rows" -> "3")))
    val large = runner.runSync(TaskSpec(modelClass = "SizedEtl",
      modelConstructionKwargs = Map("rows" -> "17")))
    assert(small == TaskComplete(3) && large == TaskComplete(17))
    runner.close()
  }

  test("factory constructors run EXACTLY once per task (validate + dispatch share the instance)") {
    val (reg, _, runner) = freshRunner()
    val constructions = new java.util.concurrent.atomic.AtomicInteger(0)
    reg.registerFactory("CountingEtl", kwargs => {
      constructions.incrementAndGet(): Unit
      new SizedModel(kwargs.getOrElse("rows", "2").toLong)
    })
    assert(runner.runSync(TaskSpec(modelClass = "CountingEtl")) == TaskComplete(2))
    assert(constructions.get() == 1,
      s"runSync constructed ${constructions.get()} instances, expected 1")
    Await.result(runner.submit(TaskSpec(modelClass = "CountingEtl")), 60.seconds): Unit
    assert(constructions.get() == 2,
      s"submit constructed ${constructions.get() - 1} more instances, expected 1")
    runner.close()
  }

  test("singleton registration rejects construction kwargs instead of dropping them") {
    val (reg, _, runner) = freshRunner()
    reg.register(new NothingModel)
    assertThrows[InvalidTaskSpec](runner.runSync(TaskSpec(
      modelClass = "NothingEtl",
      modelConstructionKwargs = Map("unexpected" -> "x"))))
    runner.close()
  }

  private class SlowModel extends EtlModel {
    override def name = "SlowEtl"
    override def build(ctx: EngineContext): DataFrame = {
      Thread.sleep(1500)
      ctx.spark.range(1).toDF()
    }
  }

  test("admission control: full scoreboard raises NoCapacity (A4, 503)") {
    val (reg, _, runner) = freshRunner(maxConcurrent = 1)
    reg.register(new SlowModel)
    val f1 = runner.submit(TaskSpec(modelClass = "SlowEtl"))
    assertThrows[NoCapacity](
      runner.submit(TaskSpec(modelClass = "SlowEtl"), blockMillis = 50))
    Await.result(f1, 60.seconds)
    assert(runner.availableCapacity == 1)
  }

  test("concurrent tasks own separate cache scopes and both release on completion") {
    import org.apache.spark.sql.graft.CacheProbe
    spark.catalog.clearCache()
    val (reg, _, runner) = freshRunner(maxConcurrent = 2)
    reg.register(new SlowCacheOwner)
    reg.register(new QuickCacheOwner)
    val fSlow = runner.submit(TaskSpec(modelClass = "SlowCacheEtl"))
    val fQuick = runner.submit(TaskSpec(modelClass = "QuickCacheEtl"))
    // quick finishes (and releases its task scope) while slow still holds
    // a live cache; any TaskFailed here means the in-task requires fired
    assert(Await.result(fQuick, 120.seconds) == TaskComplete(50))
    CacheOwnership.quickDone.countDown()
    assert(Await.result(fSlow, 120.seconds) == TaskComplete(100))
    assert(CacheProbe.cacheIsEmpty(spark),
      "task completion must release every task-scoped cache")
    runner.close()
  }

  test("cancel kills a running task's Spark jobs (A19, shutdown analogue)") {
    val (reg, status, runner) = freshRunner()
    reg.register(new CrawlModel)
    val spec = TaskSpec(modelClass = "CrawlEtl")
    val fut = runner.submit(spec)
    // wait until the task's job is actually running, then kill it
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (status.status(spec.taskId) != "running" && System.nanoTime() < deadline)
      Thread.sleep(50)
    Thread.sleep(300)
    runner.cancel(spec.taskId)
    val outcome = Await.result(fut, 60.seconds)
    outcome match {
      case TaskFailed(cls, _, _) => assert(cls.toLowerCase.contains("exception"))
      case other => fail(s"expected TaskFailed after cancel, got $other")
    }
    assert(status.status(spec.taskId) == "failed")
  }

  test("cancel kills EVERY job a task overlapped: Overlap's threads keep " +
      "the task's job group") {
    import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    val (reg, status, runner) = freshRunner()
    reg.register(new OverlapCrawlModel)
    val spec = TaskSpec(modelClass = "OverlapCrawlEtl")
    val groupOf = new ConcurrentHashMap[Int, String]()
    val succeeded = new ConcurrentHashMap[Int, java.lang.Boolean]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => groupOf.put(js.jobId, g): Unit)
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        succeeded.put(je.jobId, je.jobResult == JobSucceeded): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def mine: Seq[Int] = scala.jdk.CollectionConverters.MapHasAsScala(groupOf)
        .asScala.collect { case (id, g) if g == spec.taskId => id }.toSeq
      val fut = runner.submit(spec)
      // wait until BOTH overlapped jobs run under the task's group
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (mine.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(mine.size == 2, s"expected 2 overlapped jobs in the task's group, saw ${mine.size}")
      Thread.sleep(300)
      runner.cancel(spec.taskId)
      Await.result(fut, 60.seconds) match {
        case TaskFailed(cls, _, _) => assert(cls.toLowerCase.contains("exception"))
        case other => fail(s"expected TaskFailed after cancel, got $other")
      }
      assert(status.status(spec.taskId) == "failed")
      val ended = System.nanoTime() + 30L * 1000000000L
      while (!mine.forall(succeeded.containsKey) && System.nanoTime() < ended)
        Thread.sleep(50)
      mine.foreach { id =>
        assert(succeeded.get(id) == java.lang.Boolean.FALSE,
          s"overlapped job $id was not cancelled with its task")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Overlap awaits every thunk and rethrows the FIRST-declared failure") {
    // the second thunk fails first in time; the first-declared one wins
    val e = intercept[IllegalStateException] {
      graft.core.Overlap(
        { Thread.sleep(300); throw new IllegalStateException("first") },
        { throw new IllegalArgumentException("second") })
    }
    assert(e.getMessage == "first")
    // a failure does not abandon a still-running sibling
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[IllegalArgumentException] {
      graft.core.Overlap(
        { throw new IllegalArgumentException("fast") },
        { Thread.sleep(300); siblingDone.set(true) })
    }
    assert(siblingDone.get, "Overlap returned before its sibling thunk finished")
    assert(graft.core.Overlap(1, "b", 3.0) == ((1, "b", 3.0)))
  }

  test("a duplicate task id is refused and the first record stays intact") {
    val (reg, status, runner) = freshRunner()
    reg.register(new NothingModel)
    val first = TaskSpec(modelClass = "NothingEtl")
    assert(first.taskId.length == 32 && first.taskId.forall(c =>
      Character.digit(c, 16) >= 0), s"task id is not full UUID hex: ${first.taskId}")
    assert(runner.runSync(first) == TaskComplete(10))
    val before = status.record(first.taskId).get
    val dup = first.copy(methodKwargs = Map("again" -> "1"))
    assertThrows[InvalidTaskSpec](status.markRunning(dup))
    assertThrows[InvalidTaskSpec](runner.runSync(dup))
    // the async path refuses it on the caller's thread (the HTTP 412),
    // not inside the task's future
    assertThrows[InvalidTaskSpec](runner.submit(dup))
    assert(status.record(first.taskId).get == before,
      "a refused registration overwrote the first task's record")
    assert(runner.availableCapacity == 2, "a refused registration leaked capacity")
    runner.close()
  }

  test("chaos stampede: submitters racing one slot never exceed capacity; " +
      "every submission is admitted or 503'd; capacity fully drains " +
      "(test_basics.py:183-250 flood analogue)") {
    val (reg, _, runner) = freshRunner(maxConcurrent = 1)
    reg.register(new StampedeModel)
    Stampede.reset()
    val n = 24
    val admitted =
      new java.util.concurrent.ConcurrentLinkedQueue[scala.concurrent.Future[TaskOutcome]]()
    val rejected = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to n).map { _ =>
      new Thread(() => {
        gate.await()
        try admitted.add(
          runner.submit(TaskSpec(modelClass = "StampedeEtl"), blockMillis = 60)): Unit
        catch { case _: NoCapacity => rejected.incrementAndGet(): Unit }
      })
    }
    threads.foreach(_.start())
    gate.countDown() // release all submitters at once — max contention
    threads.foreach(_.join(60000))
    assert(admitted.size + rejected.get() == n,
      s"submissions lost: ${admitted.size} admitted + ${rejected.get()} rejected != $n")
    assert(!admitted.isEmpty, "at least the first racer must win the slot")
    admitted.forEach { f =>
      Await.result(f, 120.seconds) match {
        case TaskComplete(_) => ()
        case other => fail(s"admitted task did not complete: $other")
      }
    }
    assert(Stampede.maxSeen.get() <= 1,
      s"capacity ceiling breached under concurrency: ${Stampede.maxSeen.get()} " +
        "tasks ran simultaneously on a 1-slot runner")
    assert(runner.availableCapacity == 1,
      "capacity permits leaked after the stampede drained")
    runner.close()
  }

  test("chaos cancel: mid-query cancel runs scratch + cache cleanup " +
      "(test_basics.py:106-127 kill analogue)") {
    import org.apache.spark.sql.graft.CacheProbe
    spark.catalog.clearCache()
    graft.core.CacheScope.releaseAll()
    val (reg, status, runner) = freshRunner()
    reg.register(new ScratchCrawlModel)
    CancelCleanup.started = new java.util.concurrent.CountDownLatch(1)
    CancelCleanup.scratchDir.set(null)
    val spec = TaskSpec(modelClass = "ScratchCrawlEtl")
    val fut = runner.submit(spec)
    // wait until the task has acquired its scratch + cache and entered
    // the slow distributed job, then kill it mid-flight
    assert(CancelCleanup.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(300)
    runner.cancel(spec.taskId)
    Await.result(fut, 60.seconds) match {
      case TaskFailed(_, _, _) => ()
      case other => fail(s"expected TaskFailed after cancel, got $other")
    }
    val dir = CancelCleanup.scratchDir.get()
    assert(dir != null)
    assert(!new java.io.File(dir).exists(),
      s"cancelled task's scratch dir survived: $dir — failed tasks must " +
        "clean their scratch immediately, not leak it until JVM exit")
    assert(CacheProbe.cacheIsEmpty(spark),
      "cancelled task's tracked cache was not released")
    assert(status.status(spec.taskId) == "failed")
    runner.close()
  }

  test("completing task KEEPS its scratch (the returned frame reads it lazily)") {
    val (reg, _, runner) = freshRunner()
    reg.register(new ScratchQuickModel)
    CancelCleanup.scratchDir.set(null)
    val out = runner.runSync(TaskSpec(modelClass = "ScratchQuickEtl"))
    assert(out == TaskComplete(5))
    val dir = CancelCleanup.scratchDir.get()
    assert(dir != null && new java.io.File(dir).exists(),
      "success path must promote task scratch to JVM-exit cleanup, not delete it")
    runner.close()
  }

  test("submit validates the class before queueing (412 precedes 503)") {
    val (_, _, runner) = freshRunner()
    assertThrows[InvalidTaskSpec](runner.submit(TaskSpec(modelClass = "Nope")))
  }

  private class TwoMethodModel extends EtlModel {
    override def name = "TwoMethodEtl"
    override def build(ctx: EngineContext): DataFrame = ctx.spark.range(10).toDF()
    // second entry point, kwargs-driven — getattr(model, method) analogue
    override def methods = super.methods + ("head" -> { (ctx, kwargs) =>
      ctx.spark.range(kwargs.getOrElse("n", "3").toLong).toDF()
    })
  }

  test("task method dispatch honors TaskSpec.method + kwargs (process.py getattr)") {
    val (reg, _, runner) = freshRunner()
    reg.register(new TwoMethodModel)
    assert(runner.runSync(TaskSpec(modelClass = "TwoMethodEtl")) == TaskComplete(10))
    assert(runner.runSync(TaskSpec(modelClass = "TwoMethodEtl",
      method = "head", methodKwargs = Map("n" -> "4"))) == TaskComplete(4))
    // unknown method is rejected at submission (412), not run
    assertThrows[InvalidTaskSpec](
      runner.runSync(TaskSpec(modelClass = "TwoMethodEtl", method = "nope")))
  }

  test("sidecar task source: fetch → submit → result routed back (A21)") {
    import java.nio.file.{Files, Paths}
    val (reg, status, runner) = freshRunner()
    reg.register(new NothingModel)
    val spool = Paths.get(sys.props("java.io.tmpdir"), s"graft_spool_${System.nanoTime()}")
    runner.attachSource(new graft.exec.DirectoryTaskSource(spool, pollMillis = 50))
    try {
      // (i) external drop appears...
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!Files.isDirectory(spool) && System.nanoTime() < deadline) Thread.sleep(20)
      Files.write(spool.resolve("job1.task"), "NothingEtl:go".getBytes)
      // (ii)+(iii) ...is submitted and its result file comes back
      val result = spool.resolve("job1.result.json")
      while (!Files.exists(result) && System.nanoTime() < deadline) Thread.sleep(50)
      val body = new String(Files.readAllBytes(result))
      assert(body.contains("\"status\":\"complete\"") && body.contains("\"rows\":10"), body)
      val id = "\"task_id\":\"([a-f0-9]+)\"".r.findFirstMatchIn(body).get.group(1)
      assert(status.status(id) == "complete")
      // a bad drop gets a failed result instead of wedging the loop
      Files.write(spool.resolve("bad.task"), "NoSuchModel".getBytes)
      val badResult = spool.resolve("bad.result.json")
      while (!Files.exists(badResult) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(new String(Files.readAllBytes(badResult)).contains("\"status\":\"failed\""))
    } finally runner.shutdown()
  }

  test("spool handoff is durable: inflight drops are redelivered on restart (A17)") {
    import java.nio.file.{Files, Paths}
    val (reg, _, runner) = freshRunner()
    reg.register(new NothingModel)
    val spool = Paths.get(sys.props("java.io.tmpdir"), s"graft_spool_rec_${System.nanoTime()}")
    val inflight = spool.resolve("inflight")
    Files.createDirectories(inflight)
    // a drop consumed by a previous engine run that died before writing
    // its result (the crash window the r2 design lost silently)
    Files.write(inflight.resolve("lost.task"), "NothingEtl:go".getBytes)
    runner.attachSource(new graft.exec.DirectoryTaskSource(spool, pollMillis = 50))
    try {
      val result = spool.resolve("lost.result.json")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!Files.exists(result) && System.nanoTime() < deadline) Thread.sleep(50)
      val body = new String(Files.readAllBytes(result))
      assert(body.contains("\"status\":\"complete\"") && body.contains("\"rows\":10"), body)
      // ACK: once the result is durable the inflight copy must be gone
      while (Files.exists(inflight.resolve("lost.task"))
        && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!Files.exists(inflight.resolve("lost.task")), "inflight drop not acked")
    } finally runner.shutdown()
  }

  test("log fan-out reaches pluggable external sinks across a task run (A20)") {
    import graft.tools.EngineLog
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    EngineLog.echoToConsole = false
    EngineLog.addSink("q", (level: String, msg: String) => seen.add(s"$level:$msg"): Unit)
    try {
      val (reg, _, runner) = freshRunner()
      reg.register(new NothingModel)
      val spec = TaskSpec(modelClass = "NothingEtl")
      runner.runSync(spec)
      val msgs = scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala.toSeq
      assert(msgs.exists(m => m.startsWith("INFO:") && m.contains(s"${spec.taskId}") && m.contains("started")))
      assert(msgs.exists(m => m.contains(s"${spec.taskId} complete")))
      // broken sinks must not kill tasks
      EngineLog.addSink("broken", (_: String, _: String) => throw new RuntimeException("boom"))
      assert(runner.runSync(TaskSpec(modelClass = "NothingEtl")).isInstanceOf[TaskComplete])
    } finally {
      EngineLog.removeSink("q"); EngineLog.removeSink("broken")
      EngineLog.echoToConsole = true
    }
  }

  test("JSONL log sink persists the fan-out and re-attaches by path (A20)") {
    import graft.tools.{EngineLog, JsonlLogSink}
    val path = java.nio.file.Files.createTempFile("graft_log", ".jsonl")
    java.nio.file.Files.delete(path) // sink creates it lazily
    val sink = new JsonlLogSink(path.toString)
    EngineLog.echoToConsole = false
    EngineLog.addSink("jsonl", sink)
    try {
      val (reg, _, runner) = freshRunner()
      reg.register(new Gathering)
      val spec = TaskSpec(modelClass = "Gathering")
      // a subtask-side completion callback logging through the engine log
      // must land in the file too (the reference logs from model code
      // running inside the task, logging.py's whole point)
      EngineLog.log(s"subtask probe for ${spec.taskId}")
      assert(runner.runSync(spec).isInstanceOf[TaskComplete])
      sink.close()
      val lines = scala.jdk.CollectionConverters
        .ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala.toSeq
      assert(lines.nonEmpty, "sink wrote nothing")
      // every line is one parseable JSON object with the structured fields
      lines.foreach { l =>
        assert(l.startsWith("{") && l.endsWith("}"), s"not a JSON line: $l")
        assert(l.contains("\"ts\":") && l.contains("\"level\":") &&
          l.contains("\"pid\":") && l.contains("\"message\":"), s"missing fields: $l")
      }
      assert(lines.exists(l => l.contains(s"${spec.taskId} complete")),
        "task completion did not reach the file")
      assert(lines.exists(_.contains("subtask probe")), "probe line missing")
      // RE-ATTACH: a fresh instance on the same path (as a new process
      // would construct) appends to the same stream
      EngineLog.removeSink("jsonl")
      val again = new JsonlLogSink(path.toString)
      again.write("INFO", "re-attached")
      again.close()
      val all = scala.jdk.CollectionConverters
        .ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala.toSeq
      assert(all.size == lines.size + 1 && all.last.contains("re-attached"),
        "re-attached sink did not append to the existing stream")
    } finally {
      EngineLog.removeSink("jsonl")
      EngineLog.echoToConsole = true
      java.nio.file.Files.deleteIfExists(path): Unit
    }
  }

  test("engine-url templating resolves context vars and rejects unknowns") {
    val ctx = EngineContext(spark, Map("output_datasets" -> "/tmp/x"))
    assert(ctx.resolve("csv://{output_datasets}/r.csv") == "csv:///tmp/x/r.csv")
    assertThrows[IllegalArgumentException](ctx.resolve("{missing}/y"))
  }

  test("engine-url connector round-trips csv with header (Connect analogue)") {
    import graft.connect.EngineUrl
    val ctx = EngineContext(spark, Map("out" -> s"${sys.props("java.io.tmpdir")}/graft_test"))
    val df = spark.range(5).toDF("n")
    EngineUrl.write(df, "csv://{out}/nums?header=true", ctx)
    val back = EngineUrl.read(spark, "csv://{out}/nums?inferSchema=true", ctx)
    assert(back.count() == 5)
    assert(back.columns.toSeq == Seq("n"))
  }

  test("engine-url connector round-trips jsonl and parquet too") {
    import graft.connect.EngineUrl
    import spark.implicits._
    val ctx = EngineContext(spark, Map("out" -> s"${sys.props("java.io.tmpdir")}/graft_test"))
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    EngineUrl.write(df, "jsonl://{out}/kv_json", ctx)
    val j = EngineUrl.read(spark, "jsonl://{out}/kv_json", ctx)
    assert(j.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a"), (2L, "b")))
    EngineUrl.write(df, "parquet://{out}/kv_parquet", ctx)
    val p = EngineUrl.read(spark, "parquet://{out}/kv_parquet", ctx)
    // parquet read-back relaxes nullability; names+types must survive
    assert(p.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(p.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a"), (2L, "b")))
  }

  test("engine-url pass-through: a NON-built-in scheme reaches the DataSource " +
      "registry verbatim — orc:// (not in the scheme table) round-trips, and " +
      "a bogus scheme fails with the registry's lookup error, not a parse error") {
    import graft.connect.EngineUrl
    import spark.implicits._
    val ctx = EngineContext(spark, Map("out" -> s"${sys.props("java.io.tmpdir")}/graft_test"))
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // orc hits the `case other` fallback (EngineUrl.parse forwards the
    // scheme as the format name) — a real columnar DataSource the scheme
    // table never mentions, proving the "any DataSource name" claim
    assert(EngineUrl.parse("orc:///x", EngineContext(spark, Map.empty)).format == "orc")
    EngineUrl.write(df, "orc://{out}/kv_orc", ctx)
    val o = EngineUrl.read(spark, "orc://{out}/kv_orc", ctx)
    assert(o.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(o.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a"), (2L, "b")))
    // writer options flow through the pass-through too (orc compression)
    EngineUrl.write(df, "orc://{out}/kv_orc_z?compression=zlib", ctx)
    val files = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_test/kv_orc_z")
      .listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".zlib.orc")),
      s"compression option did not reach the orc writer: ${files.toSeq}")
    // an unknown scheme must surface Spark's DataSource lookup error —
    // the pass-through forwards it, it does not invent formats
    val e = intercept[Exception] {
      EngineUrl.read(spark, "nosuchformat://{out}/whatever", ctx)
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("nosuchformat") || e.getMessage.contains("Failed to find")),
      s"expected the registry's lookup failure, got: ${e.getMessage}")
  }
}
