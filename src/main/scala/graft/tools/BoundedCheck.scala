package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables.t

/** Machine-readable verdicts for the four BOUNDED-oracle queries
  * (q23 / q122 / q123 / q135) — the approximate-sketch queries whose
  * correctness gate is an error bound against an exact twin rather than
  * a DuckDB hash match (`CORRECTNESS_r*.json` reports them as
  * `no_oracle`). Each check here is the SAME bound the ScalaTest specs
  * enforce (PlanSpec / PipelineOpsSpec / BehaviorOpsSpec /
  * ExportOpsSpec assert `pass` through [[all]], so the artifact's logic
  * cannot drift from the spec-enforced bounds); the main measures them
  * on a fixture dir and writes `BOUNDED.json`, turning the driver's
  * correctness picture into 140/140 machine-readable verdicts instead
  * of 136 hash matches + trust-the-specs.
  *
  * Usage: `graft.tools.BoundedCheck <sfDir> [outPath=BOUNDED.json]`
  */
object BoundedCheck {

  /** One measured bound: `pass` iff `measured <= bound`. */
  final case class Bound(query: String, check: String,
      measured: Double, bound: Double) {
    def pass: Boolean = measured <= bound
  }

  /** q23: per-status HLL++ (rsd 0.02) user NDV within 5% of exact. */
  def q23Bounds(spark: SparkSession, dir: String): Seq[Bound] = {
    val approx = graft.queries.Aggregates.q23(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val relErr = exact.map { case (k, n) =>
      math.abs(approx(k) - n).toDouble / n
    }.max
    Seq(Bound("q23_approx_distinct", "max_ndv_rel_err", relErr, 0.05))
  }

  /** q122 vs its exact twin q104: counts/min/max exact-equal, NDV within
    * 3·rsd = 6%, median within 2% (accuracy=10000 rank error).
    */
  def q122Bounds(spark: SparkSession, dir: String): Seq[Bound] = {
    val exact = graft.queries.PipelineOps.q104(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = graft.queries.PipelineOps.q122(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val keysMatch = if (exact.keySet == approx.keySet) 0.0 else 1.0
    val exactFieldsDiffer = exact.count { case (c, e) =>
      val a = approx(c)
      a.getAs[Long]("n") != e.getAs[Long]("n") ||
        a.getAs[Long]("n_null") != e.getAs[Long]("n_null") ||
        a.getAs[Double]("min6") != e.getAs[Double]("min6") ||
        a.getAs[Double]("max6") != e.getAs[Double]("max6")
    }.toDouble
    val ndvErr = exact.map { case (c, e) =>
      math.abs(approx(c).getAs[Long]("ndv").toDouble - e.getAs[Long]("ndv")) /
        e.getAs[Long]("ndv").toDouble
    }.max
    val p50Err = exact.map { case (c, e) =>
      val pe = e.getAs[Double]("p50_6")
      math.abs(approx(c).getAs[Double]("p50_6") - pe) /
        math.max(math.abs(pe), 1e-9)
    }.max
    Seq(
      Bound("q122_approx_profile", "column_sets_equal", keysMatch, 0.0),
      Bound("q122_approx_profile", "exact_fields_differing", exactFieldsDiffer, 0.0),
      Bound("q122_approx_profile", "max_ndv_rel_err", ndvErr, 0.06),
      Bound("q122_approx_profile", "max_p50_rel_err", p50Err, 0.02))
  }

  /** q123 vs its exact twin q118: quantiles monotone order statistics,
    * bands partition each language group, every band count within 10%
    * of the group size from the exact twin's count.
    */
  def q123Bounds(spark: SparkSession, dir: String): Seq[Bound] = {
    val exact = graft.queries.BehaviorOps.q118(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = graft.queries.BehaviorOps.q123(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val keysMatch = if (exact.keySet == approx.keySet) 0.0 else 1.0
    val bandCols = Seq("n_q1", "n_q2", "n_q3", "n_q4")
    val nonMonotone = approx.count { case (_, a) =>
      !(a.getAs[Double]("p25_6") <= a.getAs[Double]("p50_6") &&
        a.getAs[Double]("p50_6") <= a.getAs[Double]("p75_6"))
    }.toDouble
    val nonPartition = approx.count { case (lang, a) =>
      bandCols.map(a.getAs[Long](_)).sum != bandCols.map(exact(lang).getAs[Long](_)).sum
    }.toDouble
    val bandDev = approx.map { case (lang, a) =>
      val e = exact(lang)
      val total = bandCols.map(e.getAs[Long](_)).sum.toDouble
      bandCols.map(c => math.abs(a.getAs[Long](c) - e.getAs[Long](c)) / total).max
    }.max
    Seq(
      Bound("q123_approx_bands", "language_sets_equal", keysMatch, 0.0),
      Bound("q123_approx_bands", "non_monotone_groups", nonMonotone, 0.0),
      Bound("q123_approx_bands", "non_partitioning_groups", nonPartition, 0.0),
      Bound("q123_approx_bands", "max_band_count_dev_frac", bandDev, 0.10))
  }

  /** q135: merged daily sketches equal a direct global sketch (lossless
    * union) and the estimate stays within 5% of exact per event_type.
    */
  def q135Bounds(spark: SparkSession, dir: String): Seq[Bound] = {
    val out = graft.queries.ExportOps.q135(spark, dir)
      .select(col("event_type"), col("approx_users")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val events = t(spark, dir, "events")
    val direct = events.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mergedNeDirect = out.count { case (et, a) => a != direct(et) }.toDouble
    val relErr = out.map { case (et, a) =>
      math.abs(a - exact(et)).toDouble / exact(et)
    }.max
    Seq(
      Bound("q135_sketch_rollup", "merged_ne_direct_groups", mergedNeDirect, 0.0),
      Bound("q135_sketch_rollup", "max_users_rel_err", relErr, 0.05))
  }

  def all(spark: SparkSession, dir: String): Seq[Bound] =
    q23Bounds(spark, dir) ++ q122Bounds(spark, dir) ++
      q123Bounds(spark, dir) ++ q135Bounds(spark, dir)

  def toJson(sfDir: String, bounds: Seq[Bound]): String = {
    def fmt(d: Double): String =
      if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString
      else f"$d%.6f"
    val byQuery = bounds.groupBy(_.query).toSeq.sortBy(_._1)
    val qJson = byQuery.map { case (q, bs) =>
      val checks = bs.map { b =>
        s"""{"check":"${b.check}","measured":${fmt(b.measured)},""" +
          s""""bound":${fmt(b.bound)},"pass":${b.pass}}"""
      }.mkString("[", ",", "]")
      s""""$q":{"pass":${bs.forall(_.pass)},"checks":$checks}"""
    }.mkString(",\n    ")
    s"""{
       |  "sf": "$sfDir",
       |  "generated_by": "graft.tools.BoundedCheck",
       |  "all_pass": ${bounds.forall(_.pass)},
       |  "queries": {
       |    $qJson
       |  }
       |}
       |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = args.lift(1).getOrElse("BOUNDED.json")
    val spark = graft.core.GraftSession.local(32, "graft-bounded")
    try {
      val bounds = all(spark, sfDir)
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        toJson(sfDir, bounds).getBytes("UTF-8"))
      println(toJson(sfDir, bounds))
      if (!bounds.forall(_.pass)) sys.exit(1)
    } finally spark.stop()
  }
}
