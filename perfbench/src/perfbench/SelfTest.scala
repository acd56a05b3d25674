package perfbench

import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.exec.Tasks.{TaskComplete, TaskFailed, TaskRecord, TaskSpec}

/** Tests of the benchmark's own helpers; exits 1 on the first failure. */
object SelfTest {

  private var failures = 0

  private def expect(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (pass) "ok  " else "FAIL"} $what")
    if (!pass) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-12

  def main(args: Array[String]): Unit = {
    // percentiles and their sample counts
    val ten = (1 to 10).map(_.toDouble)
    expect("p50 of 1..10 is 5.5 over 10 samples") {
      val p = Stats.percentile(ten, 0.5); close(p.value, 5.5) && p.samples == 10
    }
    expect("p90 of 1..10 is 9.1") { close(Stats.percentile(ten, 0.9).value, 9.1) }
    expect("p90 ignores input order") {
      Stats.percentile(ten.reverse, 0.9) == Stats.percentile(ten, 0.9)
    }
    expect("one sample is every percentile, counted once") {
      val p = Stats.percentile(Seq(3.0), 0.9); p.value == 3.0 && p.samples == 1
    }
    expect("no samples give NaN with count 0, not 0") {
      val p = Stats.percentile(Nil, 0.5); p.value.isNaN && p.samples == 0
    }

    // union of job intervals versus the sum of job times
    val jobs = Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))
    expect("overlapping jobs count once in the union") { close(Stats.unionLength(jobs), 4.0) }
    expect("residual is wall minus the union, not minus the sum") {
      val sumGap = 10.0 - jobs.map { case (s, e) => e - s }.sum // 5.0, double-counts [1, 2)
      close(Stats.residual(0.0, 10.0, jobs), 6.0) && close(sumGap, 5.0)
    }
    expect("nested and touching intervals") {
      close(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0), (10.0, 12.0))), 12.0)
    }
    expect("jobs outside the window are clipped") {
      close(Stats.residual(1.0, 4.0, Seq((0.0, 2.0), (3.5, 9.0))), 1.5)
    }

    // seeded inputs
    expect("same seed, same task mix") {
      (0 until TaskFanout.Clients).forall(c =>
        TaskFanout.mix(7L, c).take(300).toList == TaskFanout.mix(7L, c).take(300).toList)
    }
    expect("another seed, another task mix") {
      TaskFanout.mix(7L, 0).take(50).toList != TaskFanout.mix(8L, 0).take(50).toList
    }
    expect("the task mix has every kind of operation") {
      val ops = TaskFanout.mix(1L, 0).take(400).toList
      ops.exists(_.isInstanceOf[TaskFanout.Scan]) &&
        ops.exists(_.isInstanceOf[TaskFanout.Unregistered]) &&
        Seq("ok", "lucky", "doomed").forall(m => ops.exists {
          case TaskFanout.Fan(_, `m`, _) => true
          case _ => false
        })
    }
    expect("same seed, same store batches") {
      StoreChurn.batches(7L).take(20).toList == StoreChurn.batches(7L).take(20).toList
    }
    expect("another seed, other store batches") {
      StoreChurn.batches(7L).next() != StoreChurn.batches(8L).next()
    }
    expect("same seed, same query order; the seed only permutes") {
      LlmVerbs.order(3L) == LlmVerbs.order(3L) &&
        LlmVerbs.order(3L).toSet == Metrics.members.toSet
    }

    // metric names
    val all = Metrics.endToEnd ++ Metrics.perLayer
    expect("every metric name matches [A-Za-z0-9_.-]+ and starts alphanumeric") {
      all.forall(m => m.name.matches(Metrics.NamePattern) && m.name.head.isLetterOrDigit &&
        m.name.length <= 64)
    }
    expect("metric names are unique") { all.map(_.name).distinct.size == all.size }
    expect("setup_s is an end-to-end metric in seconds") {
      Metrics.endToEnd.contains(Metrics.Metric("setup_s", "s"))
    }

    // every output check rejects a tampered output
    val schema = StructType(Seq(StructField("k", LongType), StructField("x", DoubleType)))
    val rows = Seq(Row(1L, 0.1), Row(2L, 0.2))
    val digests = Map("qx" -> (2L, Digest.of(schema, rows)))
    expect("llm check accepts the recorded output") {
      LlmVerbs.check("qx", rows, schema, digests).isEmpty
    }
    expect("llm check rejects a double changed in its last bit") {
      val bumped = Math.nextUp(0.2)
      LlmVerbs.check("qx", Seq(Row(1L, 0.1), Row(2L, bumped)), schema, digests).nonEmpty
    }
    expect("llm check rejects reordered rows") {
      LlmVerbs.check("qx", rows.reverse, schema, digests).nonEmpty
    }
    expect("llm check rejects an output with no recorded digest") {
      LlmVerbs.check("qy", rows, schema, digests).nonEmpty
    }

    val spec = TaskSpec("BenchFan", taskId = "abcde")
    val now = Instant.now()
    val origin = "abcde::sub-3"
    val failedJson =
      s"""{"task_id":"abcde","status":"failed","exception_class_name":"graft.exec.Tasks$$SubTaskFailedException","failure_origin_task_id":"$origin"}"""
    val failedRec = TaskRecord(spec, "failed", now, Some(now),
      Some(TaskFailed("graft.exec.Tasks$SubTaskFailedException", Nil, Some(origin))))
    val doomed = TaskFanout.Fan(8, "doomed", 3)
    expect("task check accepts the expected failure origin") {
      TaskFanout.check(doomed, "abcde", failedRec, 200, failedJson).isEmpty
    }
    expect("task check rejects a tampered failure origin") {
      TaskFanout.check(doomed, "abcde", failedRec, 200,
        failedJson.replace("sub-3", "sub-4")).nonEmpty &&
        TaskFanout.check(doomed, "abcde", failedRec.copy(outcome =
          Some(TaskFailed("graft.exec.Tasks$SubTaskFailedException", Nil, Some("abcde::sub-2")))),
          200, failedJson).nonEmpty
    }
    val okRec = TaskRecord(spec, "complete", now, Some(now), Some(TaskComplete(8)))
    val okJson = """{"task_id":"abcde","status":"complete"}"""
    expect("task check accepts a complete fan-out with every subtask") {
      TaskFanout.check(TaskFanout.Fan(8, "lucky", 2), "abcde", okRec, 200, okJson).isEmpty
    }
    expect("task check rejects a lost subtask and a status mismatch") {
      TaskFanout.check(TaskFanout.Fan(8, "ok", -1), "abcde",
        okRec.copy(outcome = Some(TaskComplete(7))), 200, okJson).nonEmpty &&
        TaskFanout.check(TaskFanout.Fan(8, "ok", -1), "abcde", okRec, 200,
          okJson.replace("complete", "failed")).nonEmpty
    }

    val b = StoreChurn.batches(1L).next()
    val model = StoreChurn.aggOf(b.rows)
    expect("store model sums to the sum of its cells") {
      StoreChurn.cellsOf(b).values.foldLeft(StoreChurn.Zero)(_ + _) == model
    }
    expect("store check rejects a read that lost one row") {
      StoreChurn.aggOf(b.rows.tail) != model
    }
    expect("store check rejects a read with one value changed") {
      val (i, g, v) = b.rows.head
      StoreChurn.aggOf((i, g, v + 1) +: b.rows.tail) != model
    }

    println(s"${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
