package perfbench

/** The metric catalogue. Every workload reports every metric of the list
  * its mode asks for: `endToEnd` untraced, `perLayer` traced. A layer a
  * workload does not touch reports 0 (zero calls, zero seconds, zero
  * bytes). `BENCHMARK.json` names the same metrics; run.py checks that the
  * two agree.
  */
object Metrics {

  final case class Metric(name: String, unit: String)

  val NamePattern = "[A-Za-z0-9_.-]+"

  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"),
    Metric("ops_per_s", "1/s"),
    Metric("op_p50_s", "s"),
    Metric("op_p90_s", "s"),
    Metric("group_a_s", "s"),
    Metric("group_b_s", "s"))

  /** Query members of the llm_verbs workload: (short name, registry key,
    * group). Group "driver" and "data" are timed into group_a_s and
    * group_b_s; "defect" members are known failures, run for correctness
    * only and kept out of every end-to-end sum.
    */
  val members: Seq[(String, String, String)] = Seq(
    ("q201", "q201_system_restore", "driver"),
    ("q178", "q178_sq8_refit", "driver"),
    ("q170", "q170_ivfpq_adc", "data"),
    ("q10", "q10_inner_join", "data"),
    ("q19", "q19_star_join", "data"),
    ("q20", "q20_groupby_multi_agg", "data"),
    ("q190", "q190_curated_stream_ingest", "defect"),
    ("q198", "q198_pq_curated_ingest", "defect"),
    ("q209", "q209_stream_simhash_gate", "defect"))

  val perLayer: Seq[Metric] = Seq(
    Metric("fail_frac", "ratio"),
    Metric("setup.cold_s", "s"),
    Metric("ops.samples", "count"),
    Metric("api.post_s", "s"),
    Metric("api.get_task_s", "s"),
    Metric("exec.start_wait_s", "s"),
    Metric("exec.run_s", "s"),
    Metric("exec.fanout_run_s", "s"),
    Metric("exec.subtask_retries", "count"),
    Metric("exec.id_collisions", "count"),
    Metric("connect.read_s", "s"),
    Metric("connect.write_s", "s"),
    Metric("store.resolve_s", "s"),
    Metric("store.scan_s", "s"),
    Metric("store.compact_s", "s"),
    Metric("store.delete_s", "s"),
    Metric("store.vacuum_s", "s"),
    Metric("store.restore_s", "s"),
    Metric("store.files_written", "count"),
    Metric("store.bytes_written", "bytes"),
    Metric("store.live_segments", "count"),
    Metric("store.bytes_on_disk", "bytes"),
    Metric("store.write_amp", "ratio"),
    Metric("store.space_amp", "ratio"),
    Metric("spark.jobs", "count"),
    Metric("spark.stages", "count"),
    Metric("spark.tasks", "count"),
    Metric("spark.job_union_s", "s"),
    Metric("spark.driver_residual_s", "s"),
    Metric("spark.executor_run_s", "s"),
    Metric("spark.executor_cpu_s", "s"),
    Metric("spark.shuffle_read_bytes", "bytes"),
    Metric("spark.shuffle_write_bytes", "bytes"),
    Metric("spark.input_bytes", "bytes"),
    Metric("spark.spill_bytes", "bytes"),
    Metric("catalyst.analysis_s", "s"),
    Metric("catalyst.optimization_s", "s"),
    Metric("catalyst.planning_s", "s"),
    Metric("catalyst.executions", "count")) ++
    members.flatMap { case (q, _, _) =>
      Seq(Metric(s"q.$q.s", "s"), Metric(s"q.$q.jobs", "count"),
        Metric(s"q.$q.residual_s", "s"))
    } ++ Seq(
    Metric("jvm.gc_s", "s"),
    Metric("jvm.heap_peak_mb", "MB"),
    Metric("trace.overhead_frac", "ratio"))

  /** The result line: `{"correct", "attempted", "failed", "metrics"}`.
    * Values are printed with all their digits; a metric missing from
    * `values` is an error, never a silent 0.
    */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      catalogue: Seq[Metric], values: Map[String, Double]): String = {
    val missing = catalogue.map(_.name).filterNot(values.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val extra = values.keySet -- catalogue.map(_.name)
    require(extra.isEmpty, s"metrics outside the catalogue: ${extra.mkString(", ")}")
    val body = catalogue.map { m =>
      val v = values(m.name)
      require(!v.isNaN && !v.isInfinite, s"metric ${m.name} is $v")
      s""""${m.name}": {"value": ${java.lang.Double.toString(v)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
