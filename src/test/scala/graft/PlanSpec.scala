package graft

import graft.queries._

/** Physical-plan shape assertions — the 100 TB posture checks from
  * SURVEY.md §4.2: broadcast where intended, partial aggregation, filter/
  * projection pushdown into the parquet scan, rank-limit pushdown,
  * top-k as TakeOrderedAndProject. A query that silently loses one of
  * these still passes the value oracle at sf0.01 but would fall over at
  * scale — these tests pin the plan.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("Q11 lineitem ⋈ part uses a broadcast hash join") {
    assert(plan(Joins.q11(spark, sfDir)).contains("BroadcastHashJoin"))
  }

  test("Q19 star join broadcasts the dimension tables") {
    val p = plan(Joins.q19(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("Q15 banded theta join plans as an equi-join, not a nested loop") {
    val p = plan(Joins.q15(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ survived banding:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join on the band bucket in:\n$p")
  }

  test("Q26 group-by runs map-side partial aggregation") {
    val p = plan(Aggregates.q26(spark, sfDir))
    assert(p.contains("partial_"), s"no partial agg in:\n$p")
  }

  test("Q07 predicates push into the parquet scan") {
    val p = plan(Projections.q07(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull"), s"no pushdown in:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), s"range not pushed:\n$p")
  }

  test("Q06 projection prunes the scan schema to referenced columns") {
    val p = plan(Projections.q06(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"scan not pruned: $readSchema")
  }

  test("Q32 rank filter pushes a window group limit") {
    val p = plan(Windows.q32(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("Q35 global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan(SortsLimits.q35(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
  }

  test("Q20 flagship stays inside whole-stage codegen") {
    val df = Aggregates.q20(spark, sfDir)
    df.collect() // materialise so AQE settles the final plan
    val p = plan(df)
    // codegen'd operators print as "*(n) Operator" in the plan string
    assert(p.contains("*("), s"no codegen span in:\n$p")
  }

  test("partitioned sink read-back prunes partitions on the filter") {
    import org.apache.spark.sql.functions._
    val out = s"${sys.props("java.io.tmpdir")}/graft_scratch/prune_test"
    graft.core.Tables.t(spark, sfDir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    val p = plan(spark.read.parquet(out).filter(col("o_orderstatus") === "F"))
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"no partition pruning in:\n$p")
  }

  test("Q59 MinHash LSH candidate join is an equi-join on band keys (no cartesian)") {
    val p = plan(LlmOps.q59(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the LSH pipeline:\n$p")
  }

  test("Q68 ANN probes join their bucket only (hash equi-join on the LSH key)") {
    val p = plan(LlmOps.q68(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ANN fell back to all-pairs:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), s"no equi-join:\n$p")
  }

  test("Q69 banded-LSH near-dup join is an equi-join on (band, value) keys (no cartesian)") {
    val p = plan(LlmOps.q69(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the banded-LSH pipeline:\n$p")
  }

  test("Q79 token-band fuzzy join is an equi-join on (band, value) keys (no cartesian)") {
    val p = plan(LlmOps.q79(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the token-band pipeline:\n$p")
  }

  test("Q83 composed pipeline fuses: map-only gates, partial dedup agg, no cartesian") {
    val p = plan(LlmOps.q83(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"composed pipeline fell back to all-pairs:\n$p")
    assert(p.contains("partial_"), s"dedup agg lost its map-side partial:\n$p")
  }

  test("Q85 bucketed join plans bucket-local: SMJ with no shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // run the query once so the bucketed catalog tables exist, then
      // re-plan the join itself and assert the buckets killed the shuffle
      Joins.q85(spark, sfDir).collect(): Unit
      import org.apache.spark.sql.functions.col
      val j = spark.table("graft_bkt_customer")
        .join(spark.table("graft_bkt_orders").hint("merge"),
          col("c_custkey") === col("o_custkey"))
      val p = plan(j)
      assert(p.contains("SortMergeJoin"), s"no SMJ over buckets:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Q128 sessionization is ONE hash exchange end-to-end (windows + agg share user_id)") {
    val p = plan(BehaviorOps.q128(spark, sfDir))
    val n = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(n == 1,
      s"expected exactly 1 hash exchange (lag, running sum and the session agg " +
        s"all cluster by user_id), got $n:\n$p")
  }

  test("Q143 mixture cap: doc stream shuffles once for the window; the budget " +
      "table comes back as a broadcast (no SMJ, no second doc-side exchange)") {
    val p = plan(ExportOps.q143(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"per-source budgets must broadcast onto the windowed doc stream:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"budget join must not re-shuffle the doc stream:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"running char total must be a window, not a self-join:\n$p")
  }

  test("Q86 n-gram Jaccard candidate join is an equi-join on band keys (no cartesian)") {
    val p = plan(LlmOps.q86(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the n-gram Jaccard pipeline:\n$p")
  }

  test("Q137 cross-corpus dedup joins on band keys only (no cartesian, no BNLJ)") {
    val p = plan(CurationOps.q137(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the cross-corpus dedup pipeline:\n$p")
  }

  test("Q84 salted join stays an equi-join on (key, salt) — no nested loop") {
    val p = plan(Joins.q84(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"salting broke the equi-join:\n$p")
    assert(p.contains("__salt"), s"salt key missing from the join plan:\n$p")
  }

  test("Q87 keeper reduction aggregates map-side before the final join") {
    val p = plan(LlmOps.q87(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the keeper pipeline:\n$p")
    assert(p.contains("partial_"), s"keeper min lost its map-side partial agg:\n$p")
  }

  test("Q76 pivot is a single aggregate pass (no join, partial agg present)") {
    val p = plan(Reshape.q76(spark, sfDir))
    assert(!p.contains("Join"), s"pivot should not join:\n$p")
    assert(p.contains("partial_"), s"no map-side partial agg in pivot:\n$p")
  }

  test("smallResultSort rewrites the root ORDER BY to a 1-partition sort (no sampling job)") {
    val key = "spark.graft.smallResultSort"
    val df = Aggregates.q20(spark, sfDir)
    val before = plan(df)
    assert(before.contains("rangepartitioning"),
      s"flag-off plan should range-partition the final sort:\n$before")
    spark.conf.set(key, "true")
    try {
      val df2 = Aggregates.q20(spark, sfDir)
      val after = plan(df2)
      assert(!after.contains("rangepartitioning"),
        s"flag-on plan still range-partitions (sampling job not cut):\n$after")
      assert(after.contains("SinglePartition"),
        s"expected a single-partition exchange for the final sort:\n$after")
      // identical rows in identical order — the determinism contract holds
      val a = df.collect().map(_.toString).toSeq
      val b = df2.collect().map(_.toString).toSeq
      assert(a == b, "optimized sort changed the result")
    } finally spark.conf.unset(key)
  }

  test("Q92 bloom probe lands on the fact side BEFORE the join") {
    val p = plan(Joins.q92(spark, sfDir))
    assert(p.contains("bloom_might_contain"),
      s"no bloom probe in the executed plan:\n$p")
    // the probe must be a Filter below the join, not a post-join residual:
    // the first bloom_might_contain occurrence sits deeper (later in the
    // printed tree) than the join node itself
    val joinAt = p.indexOf("Join")
    val probeAt = p.indexOf("bloom_might_contain")
    assert(joinAt >= 0 && probeAt > joinAt,
      s"bloom probe is not below the join in:\n$p")
  }

  test("Q90 contamination probe is an equi-join on the gram hash (no cartesian)") {
    val p = plan(LlmOps.q90(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination join exploded to all pairs:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join on the gram hash in:\n$p")
  }

  test("Q89 repetition score is map-only (no explode, no agg shuffle)") {
    val p = plan(LlmOps.q89(spark, sfDir))
    // the only exchange allowed is the final presentation ORDER BY
    // (rangepartitioning); the gate itself must not shuffle or explode
    assert(!p.contains("hashpartitioning"),
      s"repetition gate shuffles on a hash key (explode-agg shape):\n$p")
    assert(!p.contains("Generate"), s"repetition gate explodes shingles:\n$p")
    assert(!p.contains("Join"), s"repetition gate joins:\n$p")
  }

  test("q100 boiler-set anti-join broadcasts (no shuffle of the line stream for the filter)") {
    val p = plan(PipelineOps.q100(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"boilerplate filter is not a broadcast anti-join:\n$p")
  }

  test("q102 sketch probe broadcasts the 4096-row sketch") {
    val p = plan(PipelineOps.q102(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"CMS probe does not broadcast the sketch:\n$p")
  }

  test("q103 merge applies in ONE join pass over the base table") {
    val p = plan(PipelineOps.q103(spark, sfDir))
    val joins = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(joins == 1, s"CDC merge should be a single full-outer join, found $joins:\n$p")
    assert(p.contains("FullOuter"), s"merge join is not full-outer:\n$p")
  }

  test("q110 scores against a BROADCAST centroid table (no shuffle of the corpus)") {
    val p = plan(AnalyticsOps.q110(spark, sfDir))
    // k-row centroid side must broadcast (BNL for the unconditioned cross
    // is the intended shape); the corpus must never sort-merge against it
    assert(p.contains("Broadcast"), s"centroids not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus sort-merged against the k-row centroid table:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"centroid cross fell back to a non-broadcast cartesian:\n$p")
  }

  test("q118 quantile frame broadcasts back onto the corpus scan") {
    val p = plan(BehaviorOps.q118(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"per-lang quantiles not broadcast:\n$p")
  }

  test("q115 funnel aggregations run map-side partials on the user_id key") {
    val p = plan(BehaviorOps.q115(spark, sfDir))
    assert(p.contains("partial_"), s"no partial aggregation in funnel:\n$p")
    assert(!p.contains("CartesianProduct"), s"funnel joins exploded:\n$p")
  }

  test("q124 plain path broadcasts the fused dim — the fact side never shuffles for the join") {
    val p = plan(Joins.q124(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"counts-derived dim not broadcast onto the fact scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"fact side sort-merged against the per-key dim:\n$p")
    graft.core.CacheScope.releaseAll() // q124 tracks its counts frame
  }

  test("q122 approx profile runs as ONE scan with partial (sketch-merge) aggregation") {
    val p = plan(PipelineOps.q122(spark, sfDir))
    val scans = "FileScan|Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"approx profile should read lineitem once, found $scans scans:\n$p")
    assert(p.contains("partial_"),
      s"no map-side partial aggregation (sketches must merge, not recompute):\n$p")
  }

  test("q152 SQL text resolves to the NATIVE dedup expressions — no fallback") {
    // the point of the extension registry: the parser path must plan the
    // same codegen'd/JVM expressions as the Column API, not a slower
    // reimplementation. analyzed plan carries the expression names.
    val p = LlmOps.q152(spark, sfDir).queryExecution.analyzed.toString
      .toLowerCase
    for (fn <- Seq("charminhash", "chargramhashes", "sortedoverlapcount"))
      assert(p.contains(fn), s"SQL text lost the native $fn expression:\n$p")
  }

  test("q161 IVF-served hybrid: dense candidates equi-join on cell, no " +
      "cartesian anywhere in the fused plan") {
    val p = plan(LlmOps.q161(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"hybrid fusion exploded to all pairs:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join in the served hybrid plan:\n$p")
  }

  test("q162 int8 serve: cell-pruned candidate join and point-lookup " +
      "re-rank are equi-joins, never cartesian") {
    import spark.implicits._
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(8)
    val (index, cent) = graft.ops.Similarity.kmeansFit(e, "vec_id",
      "embedding", k = 8, iters = 2, materialize = true, withVec = true)
    try {
      val idx8 = graft.ops.Similarity.quantizeInt8(index, "vec_id", "embedding")
      val p = plan(graft.ops.IndexKind.Sq8Served(idx8,
          graft.ops.Similarity.localize(cent))
        .topK(e, e.filter($"vec_id" < 20), k = 3, prefetch = 6, nprobe = 2))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"SQ8 serve exploded to all pairs:\n$p")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"no equi-join in the SQ8 serve plan:\n$p")
    } finally index.unpersist(): Unit
  }

  /** A near-dup verb's plan: the band join is an equi-join on (band,
    * byte) with the exact `bit_count` post-filter, never cartesian.
    */
  private def assertBandJoin(label: String, key: String): Unit = {
    val p = plan(ModalityVerbs.all(key)(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"$label band join exploded to all pairs:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join on (band, byte) in:\n$p")
    assert(p.contains("bit_count"), s"exact Hamming post-filter missing:\n$p")
  }

  /** A dedup-apply verb's plan: band join and cluster contraction never go cartesian. */
  private def assertApplyNotCartesian(label: String, key: String): Unit = {
    val p = plan(ModalityVerbs.all(key)(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"$label cluster/apply plan exploded:\n$p")
  }

  test("q163 image near-dup: the aHash band join is an equi-join with the " +
      "exact bit_count post-filter, never cartesian") {
    assertBandJoin("image", "q163_image_neardup")
  }

  test("q166/q167 media dedup: band joins and the cluster contraction " +
      "stay equi-joins, never cartesian") {
    assertApplyNotCartesian("image", "q166_image_dedup_apply")
    assertBandJoin("audio", "q167_audio_neardup")
  }

  // image's two verbs are pinned by the q163 and q166/q167 tests above
  for (m <- graft.ops.Modality.values if m != graft.ops.Modality.Image) {
    val label = m.toString.toLowerCase
    /** The registered key of this modality's `verb`, e.g. "q173_video_neardup". */
    def keyOf(verb: String): String =
      ModalityVerbs.all.keys.filter(_.endsWith(s"_${label}_$verb")).toSeq match {
        case Seq(k) => k
        case ks => fail(s"expected one $label $verb key, got $ks")
      }
    test(s"$label near-dup + dedup apply: equi-join band join with bit_count, never cartesian") {
      assertBandJoin(label, keyOf("neardup"))
      assertApplyNotCartesian(label, keyOf("dedup_apply"))
    }
  }

  test("q165 streamed int8 serve: the wave off the versioned pointer is " +
      "equi-join + point-lookup re-rank, never cartesian") {
    val p = plan(IndexVerbs.all("q165_int8_lifecycle")(spark, sfDir))
    // the returned frame is the materialised k-bounded wave; pin the
    // SERVING plan itself instead: rebuild the served wave off the live
    // target the query just committed (same verbs, same shapes)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"streamed SQ8 result plan exploded:\n$p")
    import spark.implicits._
    import java.nio.file.Paths
    val out = PipelineOps.layoutDir(spark, sfDir, "ivfint8stream")
    val assignT = graft.ops.VersionedTarget.Segmented(
      Paths.get(out, "assignments8"), partitionCols = Seq("cell"),
      clusterCommits = true)
    val centT = graft.ops.VersionedTarget.Rewrite(Paths.get(out, "centroids"))
    val idx8 = assignT.current(spark).get
    val c = graft.ops.Similarity.pairedQuantizer(spark, assignT, centT).get
    val e = graft.core.Tables.t(spark, sfDir, "embeddings")
    val wave = plan(graft.ops.IndexKind.Sq8Served(idx8, c)
      .topK(e, e.filter($"vec_id" < 20), k = 3, prefetch = 6, nprobe = 2))
    assert(!wave.contains("CartesianProduct") && !wave.contains("BroadcastNestedLoopJoin"),
      s"SQ8 wave over the versioned index exploded to all pairs:\n$wave")
    assert(wave.contains("HashJoin") || wave.contains("SortMergeJoin"),
      s"no equi-join in the versioned SQ8 wave:\n$wave")
  }

  test("q169 SemDeDup: the within-cell pair generation is an equi-join " +
      "on cell, never cartesian") {
    val p = plan(CurationOps.q169(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"SemDeDup pair generation exploded to all pairs:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join on cell in:\n$p")
  }

  test("q183/q188 served hybrid compositions: every join is an equi-join " +
      "— served dense sides and diversification never go cartesian") {
    // unlike q159/q171 (whose BRUTE-FORCE dense baseline is a declared
    // non-equi scoring join), the served stacks read candidates off the
    // index's cell layout, so NO join in either plan may be cartesian
    val p183 = plan(IndexVerbs.all("q183_diversified_served")(spark, sfDir))
    assert(!p183.contains("CartesianProduct") && !p183.contains("BroadcastNestedLoopJoin"),
      s"q183 served diversification exploded to all pairs:\n$p183")
    val p188 = plan(IndexVerbs.all("q188_hybrid_pq")(spark, sfDir))
    assert(!p188.contains("CartesianProduct") && !p188.contains("BroadcastNestedLoopJoin"),
      s"q188 PQ-served hybrid exploded to all pairs:\n$p188")
  }

  test("q193 PQ-served diversification: every join is an equi-join (the " +
      "q183/q188 pin on their composition) and the band-candidacy cap's " +
      "live-bucket guard joins BROADCAST, adding no shuffle") {
    val p193 = plan(IndexVerbs.all("q193_diversified_pq")(spark, sfDir))
    assert(!p193.contains("CartesianProduct") && !p193.contains("BroadcastNestedLoopJoin"),
      s"q193 PQ-served diversification exploded to all pairs:\n$p193")
    // the df-cap guard (q163's banded Hamming family): the ≤2048-row
    // live-bucket side must broadcast — a shuffled guard would double
    // the band join's exchange count
    val pCap = plan(ModalityVerbs.all("q163_image_neardup")(spark, sfDir))
    assert(!pCap.contains("CartesianProduct") && !pCap.contains("BroadcastNestedLoopJoin"),
      s"capped banded Hamming join exploded:\n$pCap")
    assert(pCap.contains("BroadcastHashJoin") || pCap.contains("BroadcastExchange"),
      s"the df-cap live-bucket guard did not broadcast:\n$pCap")
  }

  test("q197 filtered ANN: the metadata predicate is a semi-join BELOW the " +
      "cell join (pre-filter inside the cell scan, never a post-filter on " +
      "the top-k), and nothing explodes to all pairs") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = IndexVerbs.all("q197_filtered_ann")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q197 filtered wave exploded to all pairs:\n$p")
    val lp = df.queryExecution.optimizedPlan
    val cellJoins = lp.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "cell")) => j
    }
    assert(cellJoins.nonEmpty, s"no cell equi-join in the filtered wave:\n$lp")
    assert(cellJoins.exists(_.collect {
        case s: Join if s.joinType == LeftSemi => s
      }.nonEmpty),
      s"the predicate semi-join is not BELOW the cell join — a post-filter " +
        s"would decimate recall at selective predicates:\n$lp")
  }

  test("q208 materialized hot-predicate serving: the serving wave carries " +
      "NO aggregate and NO semi-join of any kind — the predicate's " +
      "selectivity agg and index-wide semi-join were paid once at " +
      "materialization, not per wave (the q197 amortization contract)") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val df = LlmOps.q208(spark, sfDir)
    val lp = df.queryExecution.optimizedPlan
    assert(lp.collect { case j: Join if j.joinType == LeftSemi => j }.isEmpty,
      s"the materialized serving wave still runs a per-wave semi-join:\n$lp")
    assert(lp.collect { case a: Aggregate => a }.isEmpty,
      s"the materialized serving wave still runs a per-wave aggregate " +
        s"(the selectivity measurement must not survive materialization):\n$lp")
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q208 serving wave exploded to all pairs:\n$p")
  }

  test("q184 incremental SemDeDup: the cross-side pair generation is an " +
      "equi-join on cell, never cartesian") {
    val p = plan(CurationOps.q184(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross-pair generation exploded to all pairs:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join on cell in:\n$p")
  }

  test("q170 IVF-PQ: the ADC wave is equi-join + point-lookup re-rank, " +
      "never cartesian") {
    val p = plan(IndexVerbs.all("q170_ivfpq_adc")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PQ wave plan exploded to all pairs:\n$p")
  }

  test("q171 diversified retrieval: the within-list pair join is keyed " +
      "on probe_id, never cartesian") {
    val p = plan(LlmOps.q171(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      s"within-list pair generation exploded:\n$p")
    // exactly ONE non-equi join is allowed: the dense side's declared
    // brute-force baseline (q61's all-pairs scoring — the serving path
    // is the q161/q164 IVF shape); the diversification machinery itself
    // (pair join, components, keeper windows) must stay equi-keyed
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"$bnlj BNLJs — diversification exploded beyond " +
      s"the declared dense brute-force baseline:\n$p")
  }

  test("q172 winnowed substring dedup: postings join on fingerprint, " +
      "never cartesian") {
    val p = plan(LlmOps.q172(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnowed postings join exploded to all pairs:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join on fingerprint in:\n$p")
  }

  test("q174 streamed PQ serve: the ADC wave off the versioned pointer " +
      "is equi-join + point-lookup re-rank, never cartesian") {
    val p = plan(IndexVerbs.all("q174_pq_lifecycle")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"streamed PQ result plan exploded:\n$p")
    // pin the SERVING plan itself off the live target the query committed
    import spark.implicits._
    import java.nio.file.Paths
    val out = PipelineOps.layoutDir(spark, sfDir, "ivfpqstream")
    val assignT = graft.ops.VersionedTarget.Segmented(
      Paths.get(out, "codes"), partitionCols = Seq("cell"),
      clusterCommits = true)
    val bundleT = graft.ops.VersionedTarget.Rewrite(Paths.get(out, "bundle"))
    val idx = assignT.current(spark).get
    val (sc, sb) = graft.ops.Similarity.pairedPqBundle(spark, assignT, bundleT).get
    val e = graft.core.Tables.t(spark, sfDir, "embeddings")
    val wave = plan(graft.ops.IndexKind.PqServed(idx, sc, sb)
      .topK(e, e.filter($"vec_id" < 20), k = 3, prefetch = 48, nprobe = 2))
    assert(!wave.contains("CartesianProduct") && !wave.contains("BroadcastNestedLoopJoin"),
      s"ADC wave over the versioned index exploded to all pairs:\n$wave")
    assert(wave.contains("HashJoin") || wave.contains("SortMergeJoin"),
      s"no equi-join in the versioned ADC wave:\n$wave")
  }

  test("q175 pruned index: dedup, prune, build and serve stay equi-joins, " +
      "never cartesian") {
    val p = plan(CurationOps.q175(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pruned-index pipeline exploded to all pairs:\n$p")
  }

  test("q168 RAG lifecycle: the served fusion table's plan carries no " +
      "cartesian product") {
    val p = plan(LifecycleOps.q168(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"RAG serve plan exploded:\n$p")
  }

  test("Q23 approx distinct is within 5% of exact at sf0.001") {
    import org.apache.spark.sql.functions._
    val approx = Aggregates.q23(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.core.Tables.t(spark, sfDir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n < 0.05,
        s"approx off >5% for $k: ${approx(k)} vs $n")
    }
  }
}
