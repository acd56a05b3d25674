package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.queries.{PipelineOps, StreamingQueries}

/** Round-6 pipeline operators (q100–q105): the semantic invariants the
  * DuckDB hash-gate can't see — boilerplate removal only deletes
  * repeated lines and preserves order, BM25 only scores docs containing
  * query terms, the CMS estimate NEVER undercounts, merge applies each
  * change class, exact and approx medians agree within bound, and the
  * chained streaming agg equals its batch twin.
  */
class PipelineOpsSpec extends SparkSpec {

  test("q100: removed lines are exactly the corpus-wide repeats; order survives") {
    import spark.implicits._
    val out = PipelineOps.q100(spark, sfDir).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter($"n_removed" < 0 || $"n_removed" > $"n_lines").isEmpty,
        "removed-line count outside [0, n_lines]")
      // at least one doc must lose a line on this corpus (near-dup
      // clusters share 10-token chunks) and at least one must keep all
      assert(out.filter($"n_removed" > 0).count() > 0, "no boilerplate found")
      assert(out.filter($"n_removed" === 0).count() > 0, "everything removed")
      // a doc with nothing removed reassembles to its own token stream
      val intact = out.filter($"n_removed" === 0).limit(1)
        .select($"doc_id", $"clean_md5").as[(Long, String)].head()
      val roundTrip = graft.core.Tables.t(spark, sfDir, "documents")
        .filter($"doc_id" === intact._1)
        .select(md5(concat_ws(" ", graft.ops.TextOps.tokens($"text"))).as("m"))
        .as[String].head()
      assert(roundTrip == intact._2,
        "untouched doc must reassemble to its original token stream")
    } finally out.unpersist(): Unit
  }

  test("q101: BM25 scores are positive, ranked 1..10, non-increasing") {
    import spark.implicits._
    val out = PipelineOps.q101(spark, sfDir).cache()
    try {
      val rows = out.orderBy($"rank").collect()
      assert(rows.length == 10, s"expected top-10, got ${rows.length}")
      assert(rows.map(_.getLong(0)).toSeq == (1L to 10L), "ranks not 1..10")
      val scores = rows.map(_.getDouble(2))
      assert(scores.forall(_ > 0.0), "BM25 score must be positive")
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "scores must be non-increasing in rank")
    } finally out.unpersist(): Unit
  }

  test("q102: count-min NEVER undercounts, and est==true when no collision") {
    import spark.implicits._
    val out = PipelineOps.q102(spark, sfDir).cache()
    try {
      assert(out.count() == 20)
      assert(out.filter($"est_cnt" < $"true_cnt").isEmpty,
        "CMS estimate below true count — impossible by construction")
      assert(out.filter($"overcount" =!= ($"est_cnt" - $"true_cnt")).isEmpty)
    } finally out.unpersist(): Unit
  }

  test("q103: merge applies updates, drops deletes, appends inserts") {
    import spark.implicits._
    val base = graft.core.Tables.t(spark, sfDir, "orders").cache()
    val out = PipelineOps.q103(spark, sfDir).cache()
    try {
      val nBase = base.count()
      val nDel = base.filter($"o_orderkey" % 10 === 1).count()
      val nIns = base.filter($"o_orderkey" % 100 === 2).count()
      assert(out.count() == nBase - nDel + nIns, "merge row accounting is off")
      assert(out.filter($"o_orderkey" % 10 === 1 && $"o_orderkey" > 0).isEmpty,
        "deleted keys survived the merge")
      assert(out.filter($"status" === "NEW").count() == nIns, "insert count wrong")
      // one updated key: price grew by exactly 10% (to the cent)
      val k = base.filter($"o_orderkey" % 10 === 0)
        .select($"o_orderkey", $"o_totalprice").as[(Long, Double)].head()
      val updated = out.filter($"o_orderkey" === k._1).select($"total").as[Double].head()
      val expected = (BigDecimal(k._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        * BigDecimal("1.1")).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      assert(math.abs(updated - expected.toDouble) < 1e-9,
        s"update must be +10%: base ${k._2}, got $updated, want $expected")
    } finally { out.unpersist(); base.unpersist(): Unit }
  }

  test("q104: profile is sane and approx_percentile stays near the exact median") {
    import spark.implicits._
    val out = PipelineOps.q104(spark, sfDir).cache()
    try {
      assert(out.count() == 3)
      assert(out.filter($"n_null" =!= 0L).isEmpty, "fixtures have no nulls")
      assert(out.filter($"p50_6" < $"min6" || $"p50_6" > $"max6").isEmpty,
        "median outside [min, max]")
      // the documented 100 TB swap: approx_percentile must land within the
      // value range neighbourhood of the exact median (rank error <= 1%)
      val l = graft.core.Tables.t(spark, sfDir, "lineitem")
      val approx = l.agg(expr("approx_percentile(l_quantity, 0.5, 10000)")).as[Double].head()
      val exact = out.filter($"col_name" === "l_quantity").select($"p50_6").as[Double].head()
      assert(math.abs(approx - exact) <= 1.0,
        s"approx median $approx vs exact $exact drifted beyond one quantity step")
    } finally out.unpersist(): Unit
  }

  test("q107: range-partitioned z-order layout yields pairwise-DISJOINT per-file key ranges") {
    import spark.implicits._
    PipelineOps.q107(spark, sfDir).write.format("noop").mode("overwrite").save()
    val out = PipelineOps.zorderOutDir(spark, sfDir)
    val files = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(files.size > 1, s"expected multiple range files, got ${files.size}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"zkey"), max($"zkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file key ranges overlap: $ranges — min/max skipping broken")
    }
  }

  test("q130: mergeSchema surfaces NULL for pre-evolution columns, both generations read") {
    val rows = PipelineOps.q130(spark, sfDir).collect()
    val legacy = rows.filter(r => r.getLong(1) == 1L)
    val modern = rows.filter(r => r.getLong(1) == 2L)
    assert(legacy.nonEmpty && modern.nonEmpty,
      s"expected both generations in the merged read, got ${rows.toSeq}")
    // sum_chars comes from a column absent in gen-1 files → NULL there
    assert(legacy.forall(_.isNullAt(3)),
      s"legacy generation should have NULL sum_chars: ${legacy.toSeq}")
    assert(modern.forall(!_.isNullAt(3)),
      s"modern generation lost its n_chars values: ${modern.toSeq}")
  }

  test("q130: generation key survives a NULL source in gen-2 data") {
    import spark.implicits._
    // A gen-2 row with NULL source would be misclassified by a
    // `source IS NOT NULL` proxy; the explicit generation column (the
    // write-time fact, surfaced as the gen=N partition) must not be.
    val docs = Seq(
      (2L, "even one", "en", "web", 8L),
      (4L, "even two", "en", "web", 8L),
      (1L, "odd with source", "en", "web", 15L),
      (3L, "odd NULL source", "en", null, 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Files.createTempDirectory("graft_genkey").toString
    val merged = PipelineOps.generationMergeRead(docs, out)
    val byGen = merged.groupBy($"gen".cast("long").as("generation"))
      .agg(count(lit(1)).as("n"),
        sum($"source".isNull.cast("long")).as("n_null_source"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // gen 1 = the two even docs (source column ABSENT → read as NULL);
    // gen 2 = both odd docs, INCLUDING the one whose source is NULL
    assert(byGen(1L) == ((2L, 2L)), s"gen-1 miscounted: $byGen")
    assert(byGen(2L) == ((2L, 1L)),
      s"gen-2 must keep its NULL-source row under the generation key: $byGen")
  }

  test("q131: compaction changes layout, never data — fragmented in, size-targeted files out") {
    PipelineOps.q131(spark, sfDir).write.format("noop").mode("overwrite").save()
    val out = PipelineOps.layoutDir(spark, sfDir, "compact")
    def parquetFiles(p: String) =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
    val small = parquetFiles(s"$out/small")
    val compacted = parquetFiles(s"$out/compacted")
    val bytes = small.map(_.length).sum
    val expected = math.max(1L,
      (bytes + PipelineOps.TargetFileBytes - 1) / PipelineOps.TargetFileBytes).toInt
    assert(small.length > compacted.length,
      s"compaction did not reduce file count: ${small.length} -> ${compacted.length}")
    assert(compacted.length == expected,
      s"expected $expected size-targeted files ($bytes bytes in), got ${compacted.length}")
    val nIn = spark.read.parquet(s"$out/small").count()
    val nOut = spark.read.parquet(s"$out/compacted").count()
    assert(nIn == nOut, s"compaction changed row count: $nIn -> $nOut")
  }

  test("q108: SCD2 intervals chain per customer and exactly one row is current") {
    import spark.implicits._
    val out = PipelineOps.q108(spark, sfDir).cache()
    try {
      val perKey = out.groupBy($"o_custkey")
        .agg(count(lit(1)).as("n"), sum($"is_current".cast("int")).as("cur"))
      assert(perKey.filter($"cur" =!= 1).isEmpty,
        "each customer must have exactly one current (open) interval")
      // every closed interval's valid_to equals the NEXT interval's valid_from
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"valid_from".asc, $"o_orderkey".asc)
      val chained = out.withColumn("next_from", lead($"valid_from", 1).over(w))
        .filter($"valid_to".isNotNull && $"valid_to" =!= $"next_from")
      assert(chained.isEmpty, "validity intervals do not chain")
    } finally out.unpersist(): Unit
  }

  test("q106: stream-stream semi join emits each matched view exactly once") {
    import spark.implicits._
    val out = StreamingQueries.q106(spark, sfDir).cache()
    try {
      assert(out.count() > 0, "no semi matches on the fixture")
      assert(out.groupBy($"view_id").count().filter($"count" > 1).isEmpty,
        "semi join emitted a view more than once")
    } finally out.unpersist(): Unit
  }

  test("q109: CDC-applied target equals batch latest-per-key; re-apply is deterministic") {
    import spark.implicits._
    val first = StreamingQueries.q109(spark, sfDir).collect().toSeq
    val second = StreamingQueries.q109(spark, sfDir).collect().toSeq
    assert(first == second, "re-applying the same change stream diverged")
    val twin = graft.core.Tables.t(spark, sfDir, "events")
      .filter($"event_type".isin("purchase", "view"))
      .groupBy($"user_id")
      .agg(max($"event_id").as("last_event_id"),
        max_by($"value", $"event_id").as("last_value"))
      .orderBy($"user_id".asc_nulls_first).collect().toSeq
    assert(first == twin, "CDC target diverges from batch latest-per-key")
  }

  test("q105: chained streaming agg equals its batch twin (closure rule applied)") {
    import spark.implicits._
    val streamed = StreamingQueries.q105(spark, sfDir)
    val ev = graft.core.Tables.t(spark, sfDir, "events")
      .select((unix_timestamp($"ts") / lit(300L)).cast("long").as("b5"),
        unix_timestamp($"ts").as("sec"))
    val cut = ev.agg(max($"sec")).as[Long].head() - 600L
    val batch = ev.groupBy(($"b5" * 300).as("s5")).agg(count(lit(1)).as("n5"))
      .groupBy((($"s5".cast("long") / 600L).cast("long") * 600L).as("s10"))
      .agg(max($"n5").as("peak5"), sum($"n5").as("tot"))
      .filter($"s10" + 600L <= cut)
      .select(date_format(timestamp_seconds($"s10"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        $"peak5", $"tot")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "chained streaming agg diverges from batch twin")
  }

  test("q122 approx profile tracks the exact q104 twin within sketch bounds") {
    val exact = PipelineOps.q104(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = PipelineOps.q122(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact.keySet == approx.keySet, "profiled column sets differ")
    exact.foreach { case (c, e) =>
      val a = approx(c)
      // count / nulls / min / max are exact under both estimators
      assert(a.getAs[Long]("n") == e.getAs[Long]("n"), s"$c: row count differs")
      assert(a.getAs[Long]("n_null") == e.getAs[Long]("n_null"), s"$c: null count differs")
      assert(a.getAs[Double]("min6") == e.getAs[Double]("min6"), s"$c: min differs")
      assert(a.getAs[Double]("max6") == e.getAs[Double]("max6"), s"$c: max differs")
      // HLL++ at rsd 0.02 (the measured-curve choice,
      // `tools/SketchCurve`, removed after 7154dcb):
      // bound = 3·rsd = 6%, a 3σ design margin; estimates are
      // deterministic per dataset (observed ≤2% at sf0.1)
      val ndvE = e.getAs[Long]("ndv").toDouble
      val ndvA = a.getAs[Long]("ndv").toDouble
      assert(math.abs(ndvA - ndvE) / ndvE <= 0.06,
        f"$c: approx NDV $ndvA%.0f off >6%% from exact $ndvE%.0f")
      // approx_percentile(accuracy=10000): rank error <= N/10000 -> the
      // returned order statistic sits within 2% of the interpolated median
      val p50E = e.getAs[Double]("p50_6")
      val p50A = a.getAs[Double]("p50_6")
      assert(math.abs(p50A - p50E) <= math.abs(p50E) * 0.02 + 1e-9,
        s"$c: approx p50 $p50A off >2% from exact $p50E")
    }
  }

  test("q148 quality gate: every rule rides ONE scan per dataset (no joins), " +
      "and the fixture trips exactly the two designed rules") {
    val out = PipelineOps.q148(spark, sfDir).collect()
    assert(out.length == 8, s"expected 8 rule rows, got ${out.length}")
    val tripped = out.filter(_.getLong(2) > 0)
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(tripped == Set(("documents", "lang_not_allowed"),
        ("documents", "short_doc")),
      s"unexpected violation pattern: $tripped")
    // n_checked is the full table count on every rule row of a dataset
    val byDs = out.groupBy(_.getString(0))
    byDs.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).distinct.length == 1,
        "rules of one dataset disagree on n_checked")
    }
    // single-pass shape: one scan per dataset, conditional sums folded
    // into the aggregate — no joins anywhere in the gate
    val plan = PipelineOps.q148(spark, sfDir).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllMatchIn(plan).size
    assert(scans == 2, s"expected 2 scans (events + documents), got $scans:\n$plan")
    assert(!plan.contains("Join"), s"quality gate must not join:\n$plan")
  }

  test("q149 referential gate: FK probes broadcast the key sets in one pass, " +
      "the fixture trips only the completeness check") {
    val out = PipelineOps.q149(spark, sfDir).collect()
    assert(out.length == 5)
    val tripped = out.filter(_.getLong(1) > 0).map(_.getString(0)).toSet
    assert(tripped == Set("orders_lineitem_complete"),
      s"unexpected orphan pattern: $tripped")
    // every dimension-sized key set probes via broadcast, and ALL checks
    // of one fact share one scan — pinned on the PROBE frames (q149 now
    // assembles its 5-row report driver-side, so the returned frame is a
    // LocalTableScan): the lineitem probe scans lineitem exactly once
    // (one fact pass for all three FK checks), the orders probe scans it
    // exactly once (the completeness key set)
    val (liWide, ordWide) = PipelineOps.q149Probes(spark, sfDir)
    def lineitemScans(plan: String): Int = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem.parquet"))
    val liPlan = liWide.queryExecution.executedPlan.toString
    assert(liPlan.contains("BroadcastHashJoin"),
      s"FK checks must broadcast the referenced keys:\n$liPlan")
    assert(lineitemScans(liPlan) == 1,
      s"all three FK checks must share ONE lineitem scan:\n$liPlan")
    val ordPlan = ordWide.queryExecution.executedPlan.toString
    assert(ordPlan.contains("BroadcastHashJoin"),
      s"the customer FK check must broadcast its key set:\n$ordPlan")
    assert(lineitemScans(ordPlan) == 1,
      s"the completeness key set must scan lineitem once:\n$ordPlan")
  }

  test("query-owned caches are freed by CacheScope.releaseAll (Verify/Bench hygiene)") {
    import org.apache.spark.sql.graft.CacheProbe
    spark.catalog.clearCache()
    graft.core.CacheScope.releaseAll() // drop stale registrations from other tests
    val out = PipelineOps.q100(spark, sfDir)
    assert(out.count() > 0)
    assert(!CacheProbe.cacheIsEmpty(spark),
      "q100 should hold its tokenized line cache while the frame is live")
    graft.core.CacheScope.releaseAll()
    assert(CacheProbe.cacheIsEmpty(spark),
      "query-owned cache survived CacheScope.releaseAll")
  }
}
