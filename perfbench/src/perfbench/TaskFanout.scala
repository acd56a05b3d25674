package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{Duration, Instant}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod}

import graft.api.{EngineConfig, GraftApp}
import graft.connect.EngineUrl
import graft.core.EngineContext
import graft.exec.Tasks.{TaskComplete, TaskFailed, TaskRecord}
import graft.model.{EtlModel, PartitionOption, PartitionedEtlModel, SubTask, SubTaskResult}

/** Whole-model scan: read an sf0.01 table through an engine URL, bucket it
  * by `key % m`, write the buckets through another engine URL and read
  * them back. A correct run yields exactly `m` rows.
  */
final class BenchScan(table: String, key: String, m: Int, fmt: String, token: String)
    extends EtlModel {
  def name: String = "BenchScan"

  def build(ctx: EngineContext): DataFrame = {
    val src = Trace.span("connect.read") {
      EngineUrl.read(ctx.spark, s"parquet://{data}/$table.parquet", ctx)
    }
    val buckets = src.groupBy(pmod(col(key), lit(m)).as("bucket"))
      .agg(count(lit(1)).as("n"))
    val out = s"$fmt://{out}/$token"
    Trace.span("connect.write") { EngineUrl.write(buckets, out, ctx) }
    Trace.span("connect.read") { EngineUrl.read(ctx.spark, out, ctx) }
  }
}

object BenchFan {
  /** Attempts per (submission token, subtask): shared by the executors of
    * the local-mode node, the way `SecondTimeLucky` keeps its scoreboard.
    */
  val attempts = new ConcurrentHashMap[String, AtomicInteger]()

  def value(i: Int, work: Int): Long = {
    var acc = i.toLong
    var k = 0
    while (k < work) { acc = acc * 6364136223846793005L + 1442695040888963407L; k += 1 }
    acc
  }
}

/** Partitioned fan-out of `n` subtasks. Mode "ok" always succeeds,
  * "lucky" fails subtask `fail` on its first attempt only, "doomed" fails
  * it on every attempt, so the parent fails with that subtask as origin.
  */
final class BenchFan(n: Int, mode: String, fail: Int, work: Int, token: String)
    extends PartitionedEtlModel {
  def name: String = "BenchFan"

  def partitionPlea: PartitionOption = PartitionOption(1, n, n)

  def partitionSlice(workers: Int): Seq[SubTask] =
    (0 until n).map(i => SubTask(s"sub-$i", Map("i" -> i.toString)))

  def runSubTask(st: SubTask): String = {
    val i = st.kwargs("i").toInt
    if (i == fail) {
      val a = BenchFan.attempts
        .computeIfAbsent(s"$token/$i", _ => new AtomicInteger()).incrementAndGet()
      if (mode == "doomed" || (mode == "lucky" && a == 1))
        throw new IllegalStateException(s"subtask $i attempt $a fails by design")
    }
    BenchFan.value(i, work).toString
  }

  override def onSubtaskComplete(r: SubTaskResult): Unit = {
    val i = r.kwargs("i").toInt
    if (r.value != BenchFan.value(i, work).toString)
      throw new IllegalStateException(s"subtask $i returned ${r.value}")
  }
}

object TaskFanout extends Workload {

  val Clients = 4
  val Tables: Seq[(String, String)] = Seq(
    "lineitem" -> "l_partkey", "orders" -> "o_custkey",
    "customer" -> "c_custkey", "part" -> "p_partkey")
  val Formats: Seq[String] = Seq("csv", "jsonl", "parquet")
  val SubtaskWork = 20000
  val TaskTimeoutSeconds = 60L
  /** Unmeasured lead-in of every run: the first tasks of a fresh JVM run
    * cold (class loading, JIT, first code generation).
    */
  val WarmupSeconds = 8

  sealed trait Op
  final case class Scan(table: String, key: String, m: Int, fmt: String) extends Op
  final case class Fan(n: Int, mode: String, fail: Int) extends Op
  final case class Unregistered(modelClass: String) extends Op

  /** Fan-out widths of one block, one per fan-out. */
  val Widths: Seq[Int] = Seq(4, 7, 10, 13, 16)

  /** One block of the mix: a scan of each table, three fan-outs that
    * succeed, one that succeeds on retry, one that always fails and one
    * unregistered class. Every block holds the same kinds and widths; the
    * seed draws their order, the subtask that fails, the bucket counts and
    * the formats. So two seeds differ in order and detail, not in the
    * share of each kind of work.
    */
  def block(rnd: scala.util.Random): Seq[Op] = {
    val formats = rnd.shuffle(Formats :+ Formats(rnd.nextInt(Formats.size)))
    val scans = Tables.zip(formats).map { case ((t, k), f) => Scan(t, k, 2 + rnd.nextInt(31), f) }
    val Seq(a, b, c, d, e) = rnd.shuffle(Widths)
    val fans = Seq(Fan(a, "ok", -1), Fan(b, "ok", -1), Fan(c, "ok", -1),
      Fan(d, "lucky", rnd.nextInt(d)), Fan(e, "doomed", rnd.nextInt(e)))
    rnd.shuffle(scans ++ fans :+ Unregistered(s"Unregistered${rnd.nextInt(1000)}"))
  }

  /** The operation sequence of client `client` under `seed`. */
  def mix(seed: Long, client: Int): Iterator[Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + client)
    Iterator.continually(block(rnd)).flatten
  }

  def requestBody(op: Op, token: String, data: String, out: String): String = {
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    val (cls, kwargs) = op match {
      case Scan(t, k, m, f) =>
        ("BenchScan", Seq("table" -> t, "key" -> k, "m" -> m.toString, "fmt" -> f, "token" -> token))
      case Fan(n, mode, fail) =>
        ("BenchFan", Seq("n" -> n.toString, "mode" -> mode, "fail" -> fail.toString,
          "work" -> SubtaskWork.toString, "token" -> token))
      case Unregistered(c) => (c, Seq("token" -> token))
    }
    s"""{"model_class": "$cls", "model_construction_kwargs": ${obj(kwargs)}, """ +
      s""""resolver_context": ${obj(Seq("data" -> data, "out" -> out))}}"""
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def field(json: com.fasterxml.jackson.databind.JsonNode, name: String): Option[String] =
    Option(json.get(name)).filter(!_.isNull).map(_.asText)

  /** Check one finished task against its expected outcome, both in the
    * `StatusRegistry` record and in the HTTP task summary. None = correct.
    */
  def check(op: Op, id: String, record: TaskRecord, getStatus: Int,
      summary: String): Option[String] = {
    val json = scala.util.Try(mapper.readTree(summary)).toOption
    val httpStatus = json.flatMap(field(_, "status"))
    val httpOrigin = json.flatMap(field(_, "failure_origin_task_id"))
    val httpClass = json.flatMap(field(_, "exception_class_name"))
    val failedClass = "graft.exec.Tasks$SubTaskFailedException"
    def expectComplete(rows: Long): Option[String] = record.outcome match {
      case Some(TaskComplete(r)) if r == rows && record.status == "complete" &&
          getStatus == 200 && httpStatus.contains("complete") && httpOrigin.isEmpty => None
      case other => Some(s"expected complete with $rows rows, got $other / HTTP $getStatus $summary")
    }
    op match {
      case Scan(_, _, m, _) => expectComplete(m.toLong)
      case Fan(n, "ok" | "lucky", _) => expectComplete(n.toLong)
      case Fan(_, _, fail) =>
        val origin = s"$id::sub-$fail"
        record.outcome match {
          case Some(TaskFailed(cls, _, Some(o))) if o == origin && cls == failedClass &&
              record.status == "failed" && getStatus == 200 &&
              httpStatus.contains("failed") && httpOrigin.contains(origin) &&
              httpClass.contains(failedClass) => None
          case other => Some(s"expected failure from $origin, got $other / HTTP $getStatus $summary")
        }
      case Unregistered(_) => Some("an unregistered class has no task to check")
    }
  }

  def bringUp(spark: SparkSession, run: Run): Node = {
    val app = new GraftApp(spark, EngineConfig(appTitle = "perfbench", logToStdout = false))
    app.registry.registerFactory("BenchScan", kw =>
      new BenchScan(kw("table"), kw("key"), kw("m").toInt, kw("fmt"), kw("token")))
    app.registry.registerFactory("BenchFan", kw =>
      new BenchFan(kw("n").toInt, kw("mode"), kw("fail").toInt, kw("work").toInt, kw("token")))
    val port = app.start()
    new FanoutNode(spark, run, app, port)
  }

  /** Per-client tallies, merged after the clients stop. */
  final class Tally {
    val tasks = ArrayBuffer.empty[(Op, Double)] // (op, POST-send -> finished)
    val windows = ArrayBuffer.empty[OpWindow]
    val post = ArrayBuffer.empty[Double]
    val get = ArrayBuffer.empty[Double]
    val startWait = ArrayBuffer.empty[Double]
    val runWhole = ArrayBuffer.empty[Double]
    val runFan = ArrayBuffer.empty[Double]
    var fanOps = 0L
    var attempted = 0L
    var failed = 0L
    var wrong = 0L
  }

  private def seconds(a: Instant, b: Instant): Double =
    Duration.between(a, b).toNanos / 1e9

  private def epoch(i: Instant): Double = i.getEpochSecond + i.getNano / 1e9

  final class FanoutNode(spark: SparkSession, run: Run, app: GraftApp, port: Int) extends Node {
    private val ids = ConcurrentHashMap.newKeySet[String]()
    private val collisions = new AtomicInteger()
    private val base = s"http://127.0.0.1:$port/api/0.01/task"

    /** One closed-loop client. Operations sent before `measureFrom` are
      * checked like every other but kept out of the timings.
      */
    private def client(c: Int, measureFrom: Long, deadline: Long, t: Tally): Unit = {
      val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val ops = mix(run.seed, c)
      var k = 0
      while (System.nanoTime() < deadline) {
        val op = ops.next()
        val token = s"s${run.seed}-c$c-$k"
        k += 1
        t.attempted += 1
        val body = requestBody(op, token, run.data.resolve("sf0.01").toString,
          run.work.resolve("out").toString)
        val req = HttpRequest.newBuilder(URI.create(base))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        val sent = Instant.now()
        val p0 = System.nanoTime()
        val measured = p0 >= measureFrom
        val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
        if (measured) t.post += (System.nanoTime() - p0) / 1e9
        op match {
          case Unregistered(cls) =>
            if (resp.statusCode != 412 || app.registry.isAccepted(cls)) {
              t.failed += 1; t.wrong += 1
              System.err.println(s"[task_fanout] $cls: expected 412, got ${resp.statusCode}")
            }
          case _ if resp.statusCode != 200 =>
            t.failed += 1; t.wrong += 1
            System.err.println(s"[task_fanout] POST refused: ${resp.statusCode} ${resp.body}")
          case _ =>
            val id = mapper.readTree(resp.body).get("task_id").asText
            if (op.isInstanceOf[Fan]) t.fanOps += 1
            val collided = !ids.add(id)
            if (collided) collisions.incrementAndGet()
            val rec = awaitFinished(id, token)
            val g0 = System.nanoTime()
            val get = http.send(HttpRequest.newBuilder(URI.create(s"$base/$id")).GET().build(),
              HttpResponse.BodyHandlers.ofString())
            if (measured) t.get += (System.nanoTime() - g0) / 1e9
            val verdict = rec match {
              case None => Some(s"task $id did not finish within ${TaskTimeoutSeconds}s")
              case Some(r) => check(op, id, r, get.statusCode, get.body)
            }
            verdict.foreach { why =>
              t.failed += 1
              if (!collided) t.wrong += 1
              System.err.println(s"[task_fanout] task $id ($op)${if (collided) " [id collision]" else ""}: $why")
            }
            if (collided && verdict.isEmpty) t.failed += 1
            rec.filter(_ => measured).foreach { r =>
              val fin = r.finished.get
              t.tasks += ((op, seconds(sent, fin)))
              t.startWait += seconds(sent, r.started)
              (if (op.isInstanceOf[Fan]) t.runFan else t.runWhole) += seconds(r.started, fin)
              t.windows += OpWindow(id, epoch(r.started), epoch(fin))
            }
        }
      }
    }

    /** Wait for this submission's record (matched by its token, so an id
      * collision cannot pass another task's record off as ours) to finish.
      */
    private def awaitFinished(id: String, token: String): Option[TaskRecord] = {
      val until = System.nanoTime() + TaskTimeoutSeconds * 1000000000L
      while (System.nanoTime() < until) {
        app.status.record(id) match {
          case Some(r) if r.finished.isDefined &&
              r.spec.modelConstructionKwargs.get("token").contains(token) => return Some(r)
          case _ => LockSupport.parkNanos(200000L)
        }
      }
      None
    }

    def measure(): Outcome = {
      val pool = Executors.newFixedThreadPool(Clients)
      val tallies = Seq.fill(Clients)(new Tally)
      val t0 = System.nanoTime() + WarmupSeconds * 1000000000L
      val deadline = run.deadlineNanos(t0)
      val futures = tallies.zipWithIndex.map { case (t, c) =>
        pool.submit(new Runnable { def run(): Unit = client(c, t0, deadline, t) })
      }
      futures.foreach(_.get())
      val wall = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)

      val tasks = tallies.flatMap(_.tasks)
      val lat = tasks.map(_._2)
      val fanLat = tasks.collect { case (_: Fan, s) => s }
      val scanLat = tasks.collect { case (_: Scan, s) => s }
      // over every fan-out of the run, warm-up included
      val retries = BenchFan.attempts.asScala.collect {
        case (k, a) if k.startsWith(s"s${run.seed}-") => math.max(0, a.get - 1)
      }.sum
      val attempted = tallies.map(_.attempted).sum
      val failed = tallies.map(_.failed).sum
      val wrong = tallies.map(_.wrong).sum
      def all(f: Tally => Seq[Double]) = tallies.flatMap(f)
      Outcome(
        attempted = attempted,
        failed = failed,
        correct = wrong == 0 && tasks.nonEmpty,
        endToEnd = Map(
          "ops_per_s" -> tasks.size / wall,
          "op_p50_s" -> Stats.percentile(lat, 0.5).value,
          "op_p90_s" -> Stats.percentile(lat, 0.9).value,
          "group_a_s" -> Stats.percentile(fanLat, 0.5).value,
          "group_b_s" -> Stats.percentile(scanLat, 0.5).value),
        layers = Map(
          "api.post_s" -> Stats.median(all(_.post.toSeq)),
          "api.get_task_s" -> Stats.median(all(_.get.toSeq)),
          "exec.start_wait_s" -> Stats.median(all(_.startWait.toSeq)),
          "exec.run_s" -> Stats.median(all(_.runWhole.toSeq)),
          "exec.fanout_run_s" -> Stats.median(all(_.runFan.toSeq)),
          "exec.subtask_retries" -> retries.toDouble / math.max(1L, tallies.map(_.fanOps).sum),
          "exec.id_collisions" -> collisions.get.toDouble,
          "connect.read_s" -> Stats.median(Trace.current.map(_.spanValues("connect.read")).getOrElse(Nil)),
          "connect.write_s" -> Stats.median(Trace.current.map(_.spanValues("connect.write")).getOrElse(Nil))),
        windows = tallies.flatMap(_.windows),
        samples = lat.size,
        wallSeconds = wall)
    }

    def close(): Unit = app.stop()
  }
}
