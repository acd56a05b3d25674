package graft

import org.apache.spark.sql.functions._
import graft.ops.Components
import graft.queries.CurationOps

/** Round-5 curation operators (q94–q99): semantics the DuckDB hash-gate
  * can't see on its own — multi-hop label propagation really propagates,
  * the declared round count converges on the corpus, packing bins respect
  * the budget, rebalancing hits its declared rates, quantization error is
  * bounded by scale/2, and the Z-order key round-trips its inputs.
  */
class CurationSpec extends SparkSpec {

  test("min-label propagation is multi-hop: a 4-chain needs 2+ rounds, 3 suffice") {
    import spark.implicits._
    // path graph 10-11-12-13: component min = 10, diameter 3
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L)).toDF("a", "b")
    val nodes = Seq(10L, 11L, 12L, 13L).toDF("id")
    val r1 = Components.minLabelRounds(edges, nodes, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one round: 13 only sees 12's ORIGINAL label
    assert(r1(13L) == 12L, s"round-1 label of 13 should be 12, got ${r1(13L)}")
    val r3 = Components.minLabelRounds(edges, nodes, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L),
      s"3 rounds must collapse the 4-chain to min 10: $r3")
  }

  test("q94 oracle validity: fixpoint == unrolled-3 on the corpus (3 rounds converge)") {
    import spark.implicits._
    val docs = graft.core.Tables.t(spark, sfDir, "documents")
    val pairs = graft.ops.MinHashDedup.ngramJaccardPairs(
      docs, "doc_id", "text", gramN = 5, rowsPerBand = 2, minJaccard = 0.5)
      .select($"d1".as("a"), $"d2".as("b")).cache()
    try {
      val nodes = docs.select($"doc_id".as("id"))
      val l3 = Components.minLabelRounds(pairs, nodes, 3)
      val con = Components.contractComponents(pairs, nodes)
      try assert(l3.exceptAll(con).isEmpty && con.exceptAll(l3).isEmpty,
        "production (contracted) labels differ from the 3-round unrolled " +
          "oracle twin — the q94 oracle SQL is no longer a valid gate for this corpus")
      finally { Components.release(l3); Components.release(con) }
    } finally pairs.unpersist(): Unit
  }

  /** In-memory union-find over collected pairs — the independent ground
    * truth the distributed drivers are pinned against.
    */
  private def unionFindTruth(pairRows: Seq[(Long, Long)],
      nodeIds: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodeIds.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairRows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodeIds.map(i => i -> find(i)).toMap
  }

  test("q125 graph: contraction == fixpoint == union-find ground truth") {
    import spark.implicits._
    val emb = graft.core.Tables.t(spark, sfDir, "embeddings")
    val pairs = graft.ops.Similarity.lshBandedPairs(emb, "vec_id", "embedding",
        planes = graft.queries.LlmOps.q69Planes,
        bands = graft.queries.LlmOps.q69Bands, minCos6 = 0.4)
      .select($"d1".as("a"), $"d2".as("b")).cache()
    try {
      val nodes = emb.select($"vec_id".as("id"))
      val truth = unionFindTruth(
        pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
        nodes.collect().map(_.getLong(0)).toSeq)
      val con = Components.contractComponents(pairs, nodes)
      val fix = Components.minLabelFixpoint(pairs, nodes)
      try {
        val conMap = con.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val fixMap = fix.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(conMap == truth,
          s"contraction diverges from union-find on ${conMap.count(kv => truth(kv._1) != kv._2)} nodes")
        assert(fixMap == truth,
          s"fixpoint diverges from union-find on ${fixMap.count(kv => truth(kv._1) != kv._2)} nodes")
      } finally { Components.release(con); Components.release(fix) }
    } finally pairs.unpersist(): Unit
  }

  test("contraction resolves long chains in O(log d) rounds and fails loudly past the cap") {
    import spark.implicits._
    // path graph of 13 nodes (diameter 12 — the measured q125 shape at sf0.1)
    val edges = (0L until 12L).map(i => (100L + i, 101L + i)).toDF("a", "b")
    val nodes = (100L to 112L).toDF("id")
    val con = Components.contractComponents(edges, nodes)
    val conMap = con.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Components.release(con)
    assert(conMap == (100L to 112L).map(_ -> 100L).toMap,
      s"diameter-12 chain must collapse to 100: $conMap")
    // log2(12) ~ 4 rounds needed; a cap of 1 must fail loudly, not under-merge
    spark.catalog.clearCache()
    val ex = intercept[IllegalStateException] {
      Components.contractComponents(edges, nodes, maxRounds = 1)
    }
    assert(ex.getMessage.contains("contraction rounds"),
      s"unexpected failure message: ${ex.getMessage}")
    // the exceptional exit must release every mid-loop intermediate — a
    // long-lived job server can't leak corpus-sized caches on failure
    assert(org.apache.spark.sql.graft.CacheProbe.cacheIsEmpty(spark),
      "contraction leaked persisted round frames on its failure path")
  }

  test("fixpoint resolves a diameter-5 chain that 3 unrolled rounds provably cannot") {
    import spark.implicits._
    // path graph 20-21-22-23-24-25: min = 20, node 25 is 5 hops away
    val edges = Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L))
      .toDF("a", "b")
    val nodes = (20L to 25L).toDF("id")
    val r3 = Components.minLabelRounds(edges, nodes, 3)
    val r3Map = r3.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Components.release(r3)
    assert(r3Map(25L) == 22L,
      s"after 3 rounds node 25 should only see distance-3 min 22, got ${r3Map(25L)}")
    val fix = Components.minLabelFixpoint(edges, nodes)
    val fixMap = fix.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Components.release(fix)
    assert(fixMap == (20L to 25L).map(_ -> 20L).toMap,
      s"fixpoint must collapse the whole chain to 20: $fixMap")
  }

  test("fixpoint fails loudly (not silently under-merged) when maxRounds is too small") {
    import spark.implicits._
    val edges = Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L))
      .toDF("a", "b")
    val nodes = (20L to 25L).toDF("id")
    spark.catalog.clearCache()
    val ex = intercept[IllegalStateException] {
      Components.minLabelFixpoint(edges, nodes, maxRounds = 2)
    }
    assert(ex.getMessage.contains("still changing"),
      s"unexpected failure message: ${ex.getMessage}")
    assert(org.apache.spark.sql.graft.CacheProbe.cacheIsEmpty(spark),
      "fixpoint leaked persisted round frames on its failure path")
  }

  test("q127 shrink report is self-consistent and keeps exactly one doc per cluster") {
    import spark.implicits._
    val out = CurationOps.q127(spark, sfDir).cache()
    try {
      assert(out.count() > 0)
      // bands: kept + dropped == total, chars likewise, nothing negative
      assert(out.filter($"n_kept" + $"n_dropped" =!= $"n_docs").isEmpty,
        "kept + dropped != total docs")
      assert(out.filter($"n_kept" < 1 || $"n_dropped" < 0 || $"chars_dropped" < 0).isEmpty,
        "impossible shrink numbers")
      // cross-check against the cluster structure: kept == number of clusters
      val docs = graft.core.Tables.t(spark, sfDir, "documents")
      val pairs = graft.ops.MinHashDedup.ngramJaccardPairs(docs, "doc_id", "text",
        gramN = 5, rowsPerBand = 2, minJaccard = 0.5)
      val cs = Components.clustersWithSize(
        pairs.select($"d1".as("a"), $"d2".as("b")),
        docs.select($"doc_id".as("id")))
      try {
        val nClusters = cs.select($"cluster").distinct().count()
        val totalKept = out.agg(sum($"n_kept")).head.getLong(0)
        assert(totalKept == nClusters,
          s"kept $totalKept docs but the graph has $nClusters clusters")
      } finally Components.release(cs)
    } finally out.unpersist(): Unit
  }

  test("q95 ranks are 1..5 and scores never increase within a doc") {
    import spark.implicits._
    val out = CurationOps.q95(spark, sfDir).cache()
    try {
      assert(out.filter($"rn" < 1 || $"rn" > 5).isEmpty, "rank outside 1..5")
      val bad = out.withColumn("prev",
          lag($"score6", 1).over(org.apache.spark.sql.expressions.Window
            .partitionBy($"doc_id").orderBy($"rn")))
        .filter($"prev".isNotNull && $"score6" > $"prev")
      assert(bad.isEmpty, "tf-idf score increased with rank")
    } finally out.unpersist(): Unit
  }

  test("q96 packing: first bin per language is 0 and bins never decrease") {
    import spark.implicits._
    val out = CurationOps.q96(spark, sfDir).cache()
    try {
      val firsts = out.withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy($"lang").orderBy($"doc_id")))
        .filter($"rn" === 1 && $"bin" =!= 0)
      assert(firsts.isEmpty, "a language's first document landed outside bin 0")
      val dec = out.withColumn("prev",
          lag($"bin", 1).over(org.apache.spark.sql.expressions.Window
            .partitionBy($"lang").orderBy($"doc_id")))
        .filter($"prev".isNotNull && $"bin" < $"prev")
      assert(dec.isEmpty, "bin number decreased within a language")
      // a doc never starts a new bin while the previous one is under budget
      val gap = out.filter($"cum_tok" - $"n_tok" < ($"bin") * 2048)
      assert(gap.isEmpty, "bin opened before the previous bin reached its budget")
    } finally out.unpersist(): Unit
  }

  test("q97 rebalancing downsamples only over-represented strata, deterministically") {
    import spark.implicits._
    val docs = graft.core.Tables.t(spark, sfDir, "documents")
    val total = docs.count().toDouble
    val counts = docs.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = CurationOps.q97(spark, sfDir).groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    CurationOps.q97Targets.foreach { case (lang, target) =>
      val rate = math.min(1.0, target * total / counts(lang))
      if (rate >= 1.0)
        assert(kept(lang) == counts(lang), s"$lang should pass whole")
      else {
        assert(kept(lang) < counts(lang), s"$lang should be downsampled")
        // md5 buckets are uniform-ish; allow generous tolerance on 100s of docs
        val frac = kept(lang).toDouble / counts(lang)
        assert(math.abs(frac - rate) < 0.15,
          f"$lang sampled $frac%.3f vs declared rate $rate%.3f")
      }
    }
    // reproducible: second run keeps the identical doc set
    val a = CurationOps.q97(spark, sfDir).select("doc_id").collect().map(_.getLong(0)).toSeq
    val b = CurationOps.q97(spark, sfDir).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(a == b, "q97 sample is not deterministic")
  }

  test("q98 quantization error is bounded by scale/2 and cosine stays near 1") {
    import spark.implicits._
    val out = CurationOps.q98(spark, sfDir).cache()
    try {
      assert(out.count() > 0)
      val badErr = out.filter($"err6" > $"scale6" * 0.5 + 1e-6)
      assert(badErr.isEmpty, "reconstruction error above scale/2")
      val badCos = out.filter($"cos6" < 0.995)
      assert(badCos.isEmpty, "int8 quantization lost more than 0.5% cosine")
    } finally out.unpersist(): Unit
  }

  test("q99 zkey de-interleaves back to its inputs and stays in 16 bits") {
    import spark.implicits._
    val out = CurationOps.q99(spark, sfDir).cache()
    try {
      assert(out.filter($"zkey" < 0 || $"zkey" > 65535).isEmpty, "zkey out of range")
      val xBack = (0 until 8).map(i =>
        shiftright($"zkey", 2 * i + 1).bitwiseAND(lit(1L)) * lit(1L << i)).reduce(_ + _)
      val yBack = (0 until 8).map(i =>
        shiftright($"zkey", 2 * i).bitwiseAND(lit(1L)) * lit(1L << i)).reduce(_ + _)
      val bad = out.filter(xBack =!= $"xb" || yBack =!= $"yb")
      assert(bad.isEmpty, "Morton round-trip failed")
    } finally out.unpersist(): Unit
  }

  test("bandingDecision: the q160 measurement drives the knob — a " +
      "recall-degraded corpus flips rowsPerBand, a lax floor keeps it") {
    import spark.implicits._
    import graft.ops.MinHashDedup
    def h(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("US-ASCII"))
      .map("%02x".format(_)).mkString
    // 30 near-dup pairs at gram-Jaccard ~0.66 — right where wide bands
    // (rowsPerBand=4 → 2 bands) collapse: P(candidate) = 1-(1-j^4)^2 ≈
    // 0.34 vs 1-(1-j^2)^4 ≈ 0.9 for rowsPerBand=2. Shared prefix 128
    // chars, unique suffix 32 chars per side, all md5-hex (deterministic,
    // lowercase alnum so the gram normalizer keeps every char).
    val rows = (0 until 30).flatMap { p =>
      val shared = (0 until 4).map(k => h(s"shared_${p}_$k")).mkString
      Seq((p.toLong * 2, shared + h(s"uniq_a_$p")),
        (p.toLong * 2 + 1, shared + h(s"uniq_b_$p")))
    }
    val corpus = rows.toDF("doc_id", "text").coalesce(4)
    val probes = corpus.filter($"doc_id" % 2 === 0)
    val ms = Seq(1, 2, 4).map(r => MinHashDedup.bandingMeasure(
      probes, corpus, "doc_id", "text", gramN = 5, rowsPerBand = r,
      minJaccard = 0.5))
    val byR = ms.map(m => m.rowsPerBand -> m).toMap
    assert(byR(4).nTrue == 30, s"fixture truth should be the 30 built " +
      s"pairs, got ${byR(4).nTrue}")
    assert(byR.values.forall(_.nCaught <= 30))
    // the degradation the decision must catch, and the recovery knob
    assert(byR(4).recall < 0.6,
      f"wide bands should miss ~0.5-jaccard pairs: ${byR(4).recall}%.3f")
    assert(byR(2).recall >= 0.6 && byR(1).recall >= 0.6)
    // candidate volume orders the passing configs: narrower bands cost more
    assert(byR(1).nCandidates >= byR(2).nCandidates)
    // floored at 0.6 the decision FLIPS off the degraded default to the
    // cheapest passing config (r=2, not the more candidate-heavy r=1)
    assert(MinHashDedup.bandingDecision(ms, minRecall = 0.6).rowsPerBand == 2)
    // a lax floor keeps the cheapest config of all
    assert(MinHashDedup.bandingDecision(ms, minRecall = 0.1).rowsPerBand == 4)
    // nothing passes an impossible floor → best recall wins
    assert(MinHashDedup.bandingDecision(ms, minRecall = 1.0).rowsPerBand == 1)
  }

  for (m <- graft.ops.Modality.values)
    test(s"${m.toString.toLowerCase} dedup: banded clusters equal all-pairs clusters, keeper = cluster min") {
      import spark.implicits._
      import graft.sources.Multimodal
      val hashes = m.fingerprints(
          Multimodal.readBinary(spark, s"${m.fixtures()}/${m.glob}"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
          col(m.bandCol), col(m.rideCol))
        .persist()
      try {
        val nodes = hashes.select($"fname".as("id"))
        def clustersOf(pairs: org.apache.spark.sql.DataFrame): Map[String, (String, Long)] = {
          val cs = Components.clustersWithSize(
            pairs.select($"d1".as("a"), $"d2".as("b")), nodes)
          try cs.collect()
            .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
          finally Components.release(cs)
        }
        // production path: banded candidates; reference: all-pairs
        // (scoped: the banded frame's adopted cache must not outlive the
        // test — later suites assert an empty CacheManager)
        val banded = graft.core.CacheScope.scoped { clustersOf(
          Multimodal.bandedHammingPairs(hashes, "fname", m.bandCol, m.rideCol,
            maxHamming = 6)) }
        val h2 = hashes.select($"fname".as("f2"), col(m.bandCol).as("a2"))
        val allPairs = hashes.select($"fname".as("d1"), col(m.bandCol).as("a1"))
          .crossJoin(h2).filter($"d1" < $"f2")
          .withColumn("ham", expr("bit_count(a1 ^ a2)"))
          .filter($"ham" <= 6)
          .select($"d1", $"f2".as("d2"))
        assert(banded == clustersOf(allPairs),
          s"banded $m clusters diverged from the all-pairs reference")
        // the keep rule: each cluster's lexicographic minimum keeps; on
        // this fixture every base keeps and every variant drops
        val keepers = banded.collect { case (id, (cl, _)) if id == cl => id }.toSet
        assert(keepers == (0 until 12).map(i => f"${m.prefix}_$i%02d_0.${m.ext}").toSet,
          s"keepers must be the 12 base files, got $keepers")
        assert(banded.values.forall(_._2 == 3L),
          "every fixture cluster is a base+2-variant triangle")
      } finally hashes.unpersist(): Unit
    }

  test("semanticCrossPairs == symmetric within-cell pairs restricted to " +
      "cross-side (q184's generator, q137's proof shape)") {
    import spark.implicits._
    import graft.ops.Similarity
    val e = graft.core.Tables.t(spark, sfDir, "embeddings").coalesce(4)
    val existing = e.filter($"vec_id" % 10 =!= 0)
    val incoming = e.filter($"vec_id" % 10 === 0)
    val (exAssign, cent) = Similarity.kmeansFit(existing, "vec_id",
      "embedding", k = 8, iters = 2, materialize = true, withVec = true)
    try {
      val centL = Similarity.localize(cent)
      val incAssign = Similarity.assignToCentroids(incoming, centL,
        "vec_id", "embedding", withVec = true)
      val cross = Similarity.semanticCrossPairs(incAssign, exAssign,
          "vec_id", "embedding", minCos6 = 0.4)
        .select($"in_id", $"ex_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // symmetric reference: EVERYONE placed into the same quantizer,
      // all within-cell pairs, then restricted to cross-side
      val all = Similarity.assignToCentroids(e, centL, "vec_id",
        "embedding", withVec = true)
      val x = all.select($"cell", $"vec_id".as("d1"), $"embedding".as("v1"))
      val y = all.select($"cell", $"vec_id".as("d2"), $"embedding".as("v2"))
      val sym = x.join(y, Seq("cell")).filter($"d1" < $"d2")
        .withColumn("cos6", round(Similarity.dot($"v1", $"v2")
          / (Similarity.norm($"v1") * Similarity.norm($"v2")), 6))
        .filter($"cos6" >= 0.4)
        .select($"d1", $"d2")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => (a % 10 == 0) != (b % 10 == 0) }
        .map { case (a, b) => if (a % 10 == 0) (a, b) else (b, a) }.toSet
      assert(cross.nonEmpty && cross == sym,
        s"cross pair set diverged: only-cross=${(cross -- sym).take(5)} " +
          s"only-sym=${(sym -- cross).take(5)}")
    } finally exAssign.unpersist(): Unit
  }

  test("crossNgramPairs == symmetric pairs restricted to cross-corpus") {
    // The asymmetric band join's whole claim: same candidate recall and
    // exact post-filter as the symmetric generator, minus within-side
    // work. So filtering the symmetric pair set to (odd, even) pairs
    // must give EXACTLY the cross join's output (orientation aside).
    import spark.implicits._
    val docs = graft.core.Tables.t(spark, sfDir, "documents")
    val sym = graft.ops.MinHashDedup
      .ngramJaccardPairs(docs, "doc_id", "text", 5, 2, 0.5)
      .filter(($"d1" % 2) =!= ($"d2" % 2))
      .select(
        when($"d1" % 2 === 1, $"d1").otherwise($"d2").as("in_id"),
        when($"d1" % 2 === 1, $"d2").otherwise($"d1").as("ex_id"))
    val cross = graft.ops.MinHashDedup.crossNgramPairs(
        docs.filter($"doc_id" % 2 === 1), docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", 5, 2, 0.5)
      .select($"in_id", $"ex_id")
    assert(sym.exceptAll(cross).isEmpty, "symmetric-only pairs exist")
    assert(cross.exceptAll(sym).isEmpty, "cross-only pairs exist")
  }

  test("q138 split leakage: classes partition the pair set, splits are valid") {
    import spark.implicits._
    val out = CurationOps.q138(spark, sfDir)
    val rows = out.collect()
    val valid = Set("test", "train", "val")
    assert(rows.forall(r => valid(r.getString(0)) && valid(r.getString(1))))
    // unordered class labels: split_a <= split_b always
    assert(rows.forall(r => r.getString(0) <= r.getString(1)))
    val nPairs = graft.ops.MinHashDedup
      .ngramJaccardPairs(graft.core.Tables.t(spark, sfDir, "documents"),
        "doc_id", "text", 5, 2, 0.5).count()
    assert(rows.map(_.getLong(2)).sum == nPairs,
      "per-class counts must partition the q86 pair set")
  }

  test("q140 decontamination: verdicts cover exactly the train split, drops are honest") {
    import spark.implicits._
    val out = CurationOps.q140(spark, sfDir).cache()
    try {
      val bucket = expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS INT) % 10")
      val docs = graft.core.Tables.t(spark, sfDir, "documents")
      val trainIds = docs.select($"doc_id", bucket.as("b"))
        .filter($"b" < 8).select($"doc_id").as[Long].collect().toSet
      val verdictIds = out.select($"doc_id").as[Long].collect().toSet
      assert(verdictIds == trainIds, "one verdict per train doc, train docs only")
      // every drop names an eval doc as its witness; every keep names none
      val badDrop = out.filter($"action" === "drop" &&
        ($"n_eval_dups" <= 0 || $"worst_eval_dup".isNull))
      val badKeep = out.filter($"action" === "keep" &&
        ($"n_eval_dups" =!= 0 || $"worst_eval_dup".isNotNull))
      assert(badDrop.isEmpty && badKeep.isEmpty, "verdict/witness mismatch")
      val witnessInTrain = out.filter($"action" === "drop")
        .select($"worst_eval_dup".as[Long]).collect().toSet.intersect(trainIds)
      assert(witnessInTrain.isEmpty, "a drop witness must be an eval doc")
    } finally out.unpersist(): Unit
  }

  test("q175 pruned index: drops gate candidacy — the index holds exactly " +
      "the keepers and the served wave never returns or probes a drop") {
    import spark.implicits._
    val verdict = CurationOps.q169(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(5)))
    graft.core.CacheScope.releaseAll()
    val keeps = verdict.filter(_._2 == "keep").map(_._1).toSet
    val drops = verdict.filter(_._2 == "drop").map(_._1).toSet
    assert(drops.nonEmpty, "fixture must produce drops")
    val wave = CurationOps.q175(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.core.CacheScope.releaseAll()
    assert(wave.forall { case (p, c) => keeps(p) && keeps(c) },
      "a dropped id reached the served wave as probe or candidate")
    // the persisted index holds exactly the kept corpus
    val out = graft.queries.PipelineOps.layoutDir(spark, sfDir, "semdedupindex")
    val idxIds = spark.read.parquet(s"$out/assignments")
      .select($"vec_id").as[Long].collect().toSet
    assert(idxIds == keeps,
      s"index content diverges from the keep set: " +
        s"extra=${(idxIds -- keeps).take(5)} missing=${(keeps -- idxIds).take(5)}")
  }

  test("q169 SemDeDup: groups are the union-find closure of within-cell " +
      "pairs; each group keeps exactly the (c2c6, id) argmin") {
    import spark.implicits._
    val verdict = CurationOps.q169(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5)))
    graft.core.CacheScope.releaseAll()
    // independent in-memory ground truth over the verdict's own cell
    // scoping: exact cosines as a left-to-right double fold
    // (FloatVecDot's documented contract) + HALF_UP 6dp rounding
    val vecs = graft.core.Tables.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pairs = verdict.groupBy(_._2).values.flatMap { members =>
      val ids = members.map(_._1).sorted
      for {
        i <- ids.indices.iterator; j <- (i + 1) until ids.size
        a = vecs(ids(i)); b = vecs(ids(j))
        if r6(dotd(a, b) /
          (math.sqrt(dotd(a, a)) * math.sqrt(dotd(b, b)))) >= 0.4
      } yield (ids(i), ids(j))
    }.toSeq
    assert(pairs.nonEmpty, "fixture must produce within-cell semantic dups")
    val truth = unionFindTruth(pairs, verdict.map(_._1).toSeq)
    verdict.foreach { case (id, _, grp, _, _, _) =>
      assert(grp == truth(id), s"grp of $id: $grp != union-find ${truth(id)}")
    }
    // keeper rule: exactly one keep per group, and it is the member with
    // the LOWEST cosine to its cell centroid (id tie-break) — SemDeDup's
    // least-redundant-survives; grp_size is the group cardinality
    verdict.groupBy(_._3).foreach { case (grp, members) =>
      val keeps = members.filter(_._6 == "keep")
      assert(keeps.length == 1, s"group $grp has ${keeps.length} keepers")
      val expected = members.minBy(m => (m._5, m._1))
      assert(keeps.head._1 == expected._1,
        s"group $grp keeper ${keeps.head._1} != (c2c6, id) argmin ${expected._1}")
      assert(members.forall(_._4 == members.length),
        s"grp_size mismatch in group $grp")
    }
  }
}
