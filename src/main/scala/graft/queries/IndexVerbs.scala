package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.Overlap
import graft.core.Tables._
import graft.ops.{IndexKind, Similarity, VersionedTarget}
import graft.ops.IndexKind.{Pq, Sq8}
import graft.ops.VersionedTarget.{Rewrite, Segmented}
import graft.streaming.StreamOps

/** The quantized-index verb family: build, serve, stream, take down,
  * refit, restore, feed and the system-wide rewind/erasure, each written
  * ONCE against an [[IndexKind]] and registered per payload (SQ8 and
  * PQ). The kind is fixed by the registered query — never by config.
  *
  * The oracles stay in [[LlmOps.oracles]], beside the CTE builders they
  * share with the rest of the similarity family.
  *
  * The full-precision IVF-flat verbs (q153/q156/q161) are not a third
  * kind: their wave is single-stage ([[Similarity.ivfTopK]]), with no
  * payload stage and no exact re-rank against the corpus, so every
  * shared body here would have to branch on them.
  */
object IndexVerbs {

  /** Width of the `embeddings` fixture vectors. */
  private val Dim = 64

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings").coalesce(8)

  private def vecId: Column = col("vec_id")

  /** Fresh versioned roots under `out` (wiped per invocation). */
  private def freshRoots(out: String, names: String*): Seq[Path] =
    names.map { n =>
      val r = Paths.get(out, n)
      if (Files.exists(r)) VersionedTarget.rmTree(r.toFile)
      Files.createDirectories(r)
    }

  /** The index target (cell-partitioned, clustered segments) and the
    * quantizer target of `kind` under `out`.
    */
  private def freshPair(kind: IndexKind, out: String): (Segmented, Rewrite) = {
    val Seq(aroot, qroot) = freshRoots(out, kind.indexDir, kind.quantDir)
    (Segmented(aroot, partitionCols = Seq("cell"), clusterCommits = true),
      Rewrite(qroot))
  }

  private def byRank(df: DataFrame): DataFrame =
    df.orderBy(col("probe_id").asc_nulls_first, col("rn").asc_nulls_first)

  /** The top-3/nprobe-2 probe wave, collected: it is k-bounded, and
    * collecting it means nothing holds the index scan open across the
    * next mutation.
    */
  private def wave(served: IndexKind.Served, corpus: DataFrame,
      probes: DataFrame, prefetch: Int): (Seq[Row], StructType) = {
    val res = byRank(served.topK(corpus, probes, k = 3, prefetch, nprobe = 2))
    (res.collect().toSeq, res.schema)
  }

  private def rowsFrame(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** Q162/Q170 — ONE-SHOT QUANTIZED SERVING INDEX: the persisted
    * cell-partitioned index stores the kind's payload (SQ8: 1 byte per
    * dimension + a per-vector scale, ~8× below float64; PQ: m = 4 one-byte
    * codes into per-subspace codebooks, 16× below SQ8) — at 100 TB the
    * difference between a memory-resident and a disk-bound serving node.
    * The wave is the standard two-stage search: candidates ranked on the
    * payload (dequantized vectors / per-probe ADC lookup tables), then
    * only the prefetch winners fetch full-precision vectors for the EXACT
    * re-rank, so returned scores carry no quantization error. The recall
    * cost of the approximate stage is measured in-query against the
    * full-precision wave over the SAME quantizer and nprobe and gated at
    * the kind's floor (PQ is the lossiest stage by design). Neither
    * payload can represent a zero vector (documented drop), so the truth
    * side excludes them rather than grade against the unservable.
    *
    * The oracle replays the unrolled k-means (PQ: and the m codebook
    * fits and code re-derivation) and both ranking stages.
    */
  def build(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val served = kind.buildStatic(e,
      PipelineOps.layoutDir(spark, dir, s"ivf${kind.tag}"), Dim)
    val probes = e.filter(vecId < 20)
    val res = byRank(served.topK(e, probes, k = 3,
      kind.prefetch(3, e.count()), nprobe = 2))
    val rows = res.collect().toSeq
    val fullIdx = Similarity.assignToCentroids(
      e.filter(array_max(transform(col("embedding"), x => abs(x))) > 0),
      served.coarse, "vec_id", "embedding", withVec = true)
    val fullWave = Similarity.ivfTopK(fullIdx.filter(vecId < 20), fullIdx,
        served.coarse, "vec_id", "embedding", k = 3, nprobe = 2)
      .select(col("probe_id"), col("cand_id"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val hits = Similarity.recallHits(fullWave,
      rows.map(r => (r.getLong(0), r.getLong(1))))
    require(!Similarity.refitDecision(hits.map(_._2), k = 3,
        minRecall = kind.minRecall),
      s"${kind.label} serving recall fell below ${kind.minRecall} of the " +
        "full-precision wave")
    rowsFrame(spark, rows, res.schema)
  }

  /** The dense side of the served hybrid stacks: the one-shot index's
    * two-stage wave at k = 10 for probes vec_id < 10, as `rn_d` ranks.
    */
  private def denseTopK(kind: IndexKind, spark: SparkSession, dir: String,
      layout: String): DataFrame = {
    val e = embeddings(spark, dir)
    val served = kind.buildStatic(e, PipelineOps.layoutDir(spark, dir, layout), Dim)
    served.topK(e, e.filter(vecId < 10), k = 10,
        kind.prefetch(10, e.count()), nprobe = 2)
      .select(col("probe_id"), col("cand_id"), col("rn").as("rn_d"))
  }

  /** Q164/Q188 — HYBRID RETRIEVAL SERVED FROM THE QUANTIZED INDEX: the
    * q161 composition with the memory-lean payload — the full stack of a
    * RAG serving node: the dense side reads the SQ8/PQ index (approximate
    * prefetch over each probe's nprobe cells, exact float re-rank, so
    * fused dense ranks carry no quantization error), the lexical side
    * stays banded, and RRF fuses at |probes|·k. The oracle replays the
    * payload math through both ranking stages into the same fusion.
    */
  def hybrid(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame =
    byRank(LlmOps.rrfFuse(denseTopK(kind, spark, dir, s"hybrid${kind.tag}"),
      LlmOps.lexicalTopK(spark, dir)))

  /** Q183/Q193 — DIVERSIFIED retrieval over the SERVED fusion: a serving
    * node diversifies what it actually retrieves, which is the q164/q188
    * stack. Same |probes|·k post-fusion machinery as q171
    * ([[LlmOps.diversifyFused]]); only the dense candidate generator
    * changes, in code and in the oracle (the served CTE stack chained
    * into q171's closure/keeper/re-rank tail).
    */
  def diversified(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val fused = LlmOps.rrfFuse(denseTopK(kind, spark, dir, s"hybrid${kind.tag}div"),
      LlmOps.lexicalTopK(spark, dir), topN = 20)
    byRank(LlmOps.diversifyFused(docs, fused))
  }

  /** Q197/Q202 — FILTERED ANN SEARCH over the quantized index: "top-k
    * WHERE <documents-side predicate>", joined on the shared id. The
    * predicate pre-filters INSIDE the cell scan (a semi-join on the index
    * BEFORE the cell equi-join — post-filtering the top-k would leave
    * ~k·s survivors at pass rate s) and the serving knobs scale with its
    * MEASURED selectivity. The oracle gate runs the wave at its exact
    * degenerate point at every scale: every cell probed and prefetch =
    * |corpus| (so ceil(prefetch/s) >= |allowed| and the clamp re-ranks
    * the WHOLE allowed set — the exact re-rank strips all quantization
    * error by construction), hash-matching a brute-force-FILTERED twin.
    * The two registrations use different predicates so they share no
    * answer key; the selective-predicate recall floor at real knobs is
    * OpsSpec's row.
    */
  def filtered(kind: IndexKind, allowedWhere: Column)(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val e = embeddings(spark, dir)
    val served = kind.buildStatic(e,
      PipelineOps.layoutDir(spark, dir, s"filteredann${kind.tag}"), Dim)
    val allowed = docs.filter(allowedWhere).select(col("doc_id").as("vec_id"))
    byRank(served.topKFiltered(e, e.filter(vecId < 10), allowed, k = 10,
      prefetch = e.count(), nprobe = 8))
  }

  /** Q205/Q210 — FILTERED HYBRID RETRIEVAL: the RAG query with a metadata
    * gate. The predicate is a RESULT contract, so BOTH arms pre-filter
    * their candidate sets before ranking (never the fused list): the
    * dense arm is the q197/q202 filtered wave at its scale-proof
    * degenerate point, the lexical arm restricts the candidate side of
    * the MinHash band join ([[LlmOps.lexicalTopKOver]] — signatures are
    * per-doc, so restricting the frame restricts the pair set exactly).
    * Probes stay unrestricted (a gated query is still a legal query);
    * every fused result is allowed BY CONSTRUCTION.
    */
  def filteredHybrid(kind: IndexKind, allowedWhere: Column)(
      spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val e = embeddings(spark, dir)
    val served = kind.buildStatic(e,
      PipelineOps.layoutDir(spark, dir, s"filteredhybrid${kind.tag}"), Dim)
    val allowed = docs.filter(allowedWhere).select(col("doc_id").as("vec_id"))
    val dense = served.topKFiltered(e, e.filter(vecId < 10), allowed, k = 10,
        prefetch = e.count(), nprobe = 8)
      .select(col("probe_id"), col("cand_id"), col("rn").as("rn_d"))
    val lex = LlmOps.lexicalTopKOver(docs.filter(col("doc_id") < 10),
      docs.filter(allowedWhere))
    byRank(LlmOps.rrfFuse(dense, lex))
  }

  /** Q165/Q174 — QUANTIZED INDEX LIFECYCLE (streaming ingest + serve): at
    * 100 TB the memory-lean index is the artifact actually served, so IT
    * needs atomic pointers, O(delta) appends, redelivery skip and
    * refit-safe placement. The nightly build fits the quantizer on the
    * base and commits segment 0 ALREADY ENCODED (no float copy of the
    * payload lands on disk; `warnOnDrops` makes a zero-vector corpus
    * shrink loudly); tonight's arrivals flow in as Structured Streaming
    * micro-batches through [[ingestIndexBatch]], each landing as one
    * immutable O(batch) segment behind the pointer transaction's tag
    * re-validation. The closing wave is the q162/q170 two-stage search
    * off the live pointer across ALL segments. Batch boundaries cannot
    * change a tag-pinned placement or the payload rule, so the oracle is
    * the one-shot wave with the fit-on-base split (the q158 pattern).
    */
  def lifecycle(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val (assignT, quantT) = freshPair(kind,
      PipelineOps.layoutDir(spark, dir, s"ivf${kind.tag}stream"))
    val fit = kind.fit(e.filter(vecId % 10 =!= 0), Dim)
    val (_, prefetch) = Overlap(
      kind.commitBase(fit, assignT, quantT, warnOnDrops = true),
      kind.prefetch(3, e.count()))
    val arrivals = StreamOps.embeddingsStream(spark, dir, maxFilesPerTrigger = 8)
      .filter(vecId % 10 === 0)
    StreamOps.runForeachBatch(arrivals, ingestIndexBatch(kind, assignT, quantT),
      outputMode = "append")
    val served = kind.served(spark, assignT, quantT)
    val curVer = VersionedTarget.currentVersion(assignT.root)
      .getOrElse(sys.error(s"${kind.label} index target has no CURRENT pointer"))
    require(assignT.segmentsOf(curVer).size >= 2,
      s"streaming ingestion must have appended at least one ${kind.label} segment")
    val (rows, schema) = wave(served, e, e.filter(vecId < 20), prefetch)
    rowsFrame(spark, rows, schema)
  }

  /** Q176/Q177 — QUANTIZED INDEX TAKEDOWN + COMPACTION (unlearning on the
    * served payload): q156/q151 proved `deleteWhere` and `compact` on the
    * FLOAT index; the maintenance verbs must hold on the payload actually
    * served (byte arrays, and the tagged quantizer they pair with, under
    * the `cell=` layout). Build = the q165/q174 lifecycle (base encoded at
    * commit, one O(delta) append), then: (1) TAKEDOWN — `deleteWhere`
    * rewrites only the touched segments copy-on-write, quantizer
    * UNTOUCHED (deletion changes candidacy, never geometry), tag carried
    * through; a revoked id stays legal as a QUERY but can never be
    * returned. (2) COMPACTION — the post-takedown segments fold into one
    * behind the same pointer, proven PROBE-IDENTICAL in-query (physical,
    * never semantic). The oracle is the fit-on-base wave with the
    * takedown set removed from CANDIDACY only.
    */
  def takedown(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val (assignT, quantT) = freshPair(kind,
      PipelineOps.layoutDir(spark, dir, s"ivf${kind.tag}takedown"))
    val fit = kind.fit(e.filter(vecId % 10 =!= 0), Dim)
    val (_, prefetch) = Overlap(kind.commitBase(fit, assignT, quantT),
      kind.prefetch(3, e.count()))
    // one O(delta) append → a second segment: the takedown gets a
    // multi-segment manifest to rewrite selectively
    kind.append(e.filter(vecId % 10 === 0), assignT, quantT, 1L, Dim)
    def served(): (Seq[Row], StructType) =
      wave(kind.served(spark, assignT, quantT), e, e.filter(vecId < 20), prefetch)
    // the takedown list lives in the BASE segment only: the rewrite
    // touches seg0 alone while the appended segment survives BY
    // REFERENCE, and the 2-segment post-takedown manifest gives the
    // compaction a real fold
    require(assignT.deleteWhere(spark,
        vecId % 7 === 3 && vecId % 10 =!= 0).isDefined,
      "takedown fixture must revoke at least one indexed vector")
    val (afterDelete, schema) = served()
    require(afterDelete.forall(r => r.getLong(1) % 7 != 3 || r.getLong(1) % 10 == 0),
      s"a revoked vector was served from the ${kind.label} index after the takedown")
    require(assignT.compact(spark).isDefined,
      s"post-takedown ${kind.label} index must have segments to fold")
    assignT.vacuum(1): Unit // retire the pre-fold versions
    val (afterFold, _) = served()
    require(afterFold == afterDelete,
      s"compacting the ${kind.label} index changed a probe wave — folds " +
        "must be probe-identical")
    rowsFrame(spark, afterFold, schema)
  }

  /** The q153 drift fixture on the quantized lifecycles: embeddings
    * augmented with the kind's one-hot cluster dims (cached), the nightly
    * base (clusters 0-1), the unseen clusters that arrive through the
    * O(delta) append, and the augmented width.
    */
  private def driftFixture(kind: IndexKind,
      e: DataFrame): (DataFrame, DataFrame, DataFrame, Int) = {
    val aug = LlmOps.augmentedEmbeddings(e, kind.driftClusters).persist()
    val cluster = pmod(vecId, lit(kind.driftClusters))
    (aug, aug.filter(cluster.isin(0, 1)),
      aug.filter(cluster.isin(2 until kind.driftClusters: _*)),
      Dim + kind.driftClusters)
  }

  /** Q178/Q179 — QUANTIZED INDEX REFIT (trigger → recover): q153 proved
    * the recall-floor → refit recovery on the FLOAT index; this measures
    * a served quantized wave against the floor on q153's drift fixture
    * and actually re-fits. The nightly build fits on 2 clusters (base
    * committed already encoded), the unseen clusters arrive via the
    * O(delta) append, the served wave's recall vs the brute-force truth
    * trips [[Similarity.refitDecision]]'s 0.8 floor, and the recovery is
    * the kind's refit: re-fit the whole quantizer (PQ: the coarse
    * centroids AND all m codebooks, one bundle) on the current corpus,
    * commit it, rebase ONE fresh encoded base whose manifest tag pairs it
    * with the new quantizer — old versions retired by vacuum, recall
    * re-measured above the floor before the restored wave ships.
    */
  def refit(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    // the augmented corpus feeds both fits, the append placement, every
    // probe wave and the brute-force truth — cached once (q153's rule)
    val (aug, base, unseen, dim) = driftFixture(kind, e)
    try {
      val (assignT, quantT) = freshPair(kind,
        PipelineOps.layoutDir(spark, dir, s"ivf${kind.tag}refit"))
      val fit = kind.fit(base, dim)
      val (_, prefetch) = Overlap(kind.commitBase(fit, assignT, quantT),
        kind.prefetch(3, e.count()))
      kind.append(unseen, assignT, quantT, 1L, dim)
      def served(): (Seq[Row], StructType) =
        wave(kind.served(spark, assignT, quantT), aug, aug.filter(vecId < 20),
          prefetch)
      // the degraded wave (reads the served index) and the brute-force
      // truth (reads only the cached corpus) are independent reads of
      // immutable state — overlapped; the refit mutates the index only
      // AFTER both complete
      val ((degraded, _), truth) = Overlap(
        served(),
        Similarity.bruteForceTopK(
            aug.filter(vecId < 20), aug, "vec_id", "embedding", k = 3)
          .select(col("probe_id"), col("cand_id"))
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
      def hitsOf(rows: Seq[Row]): Seq[Long] =
        Similarity.recallHits(truth,
          rows.map(r => (r.getLong(0), r.getLong(1)))).map(_._2)
      require(Similarity.refitDecision(hitsOf(degraded), k = 3, minRecall = 0.8),
        s"drift fixture failed to trip the ${kind.label} recall floor — " +
          "nothing to recover")
      kind.refit(aug, assignT, quantT, batchId = 3L, dim)
      // vacuums on DIFFERENT roots — independent, overlapped
      Overlap(assignT.vacuum(1), quantT.vacuum(1))
      require(VersionedTarget.currentVersion(assignT.root).contains("v3") &&
          assignT.segmentsOf("v3") == Seq("seg3"),
        s"refit must serve from ONE fresh ${kind.label}-coded base segment")
      val (restored, schema) = served()
      require(!Similarity.refitDecision(hitsOf(restored), k = 3, minRecall = 0.8),
        s"${kind.label} refit did not restore recall above the floor")
      rowsFrame(spark, restored, schema)
    } finally aug.unpersist(): Unit
  }

  /** Q189/Q196 — SERVING-INDEX TIME TRAVEL + RESTORE (the two-target
    * rewind): once the refit verbs ship, the realistic operator error is
    * a BAD refit, and its recovery is a CONSISTENT rewind of the index
    * PAIR — the index `Segmented` back to the pre-refit manifest and the
    * quantizer `Rewrite` (PQ: the whole bundle) back to the version that
    * manifest pairs with. The pairing TAG travels inside the index
    * manifest, so restoring the index alone already re-pairs serving
    * (the pairing reads the tag transactionally with the pointer): no
    * intermediate crash point serves a mismatched pair, and the in-query
    * waves `require` exactly that (mid-rewind == pre-refit == post-rewind
    * == post-vacuum). Retention is the time-travel window: restore runs
    * BEFORE any vacuum; afterwards the undone refit's versions are
    * crash-debris-shaped and the vacuum sweeps them without touching the
    * served wave. Restore moves pointers, never data.
    */
  def restore(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val (aug, base, unseen, dim) = driftFixture(kind, e)
    try {
      val (assignT, quantT) = freshPair(kind,
        PipelineOps.layoutDir(spark, dir, s"ivf${kind.tag}restore"))
      val fit = kind.fit(base, dim)
      val (_, prefetch) = Overlap(kind.commitBase(fit, assignT, quantT),
        kind.prefetch(3, e.count()))
      kind.append(unseen, assignT, quantT, 1L, dim)
      def served(): (Seq[Row], StructType) =
        wave(kind.served(spark, assignT, quantT), aug, aug.filter(vecId < 20),
          prefetch)
      val (preRefit, schema) = served()
      // the BAD refit (by stipulation — the operator decides to undo it)
      kind.refit(aug, assignT, quantT, batchId = 3L, dim)
      val (postRefit, _) = served()
      require(postRefit != preRefit,
        s"${kind.label} refit fixture must change the served wave — nothing to rewind")
      // the two-target rewind, index FIRST: the restored manifest's tag
      // re-pairs the old quantizer inside the same pointer swap
      assignT.restore("v1")
      val (midRewind, _) = served() // intermediate crash point: consistent
      require(midRewind == preRefit,
        s"${kind.label} index restore alone must re-pair the pre-refit " +
          "quantizer (the manifest-tag rule)")
      quantT.restore("v0") // quantizer clock cleanup completes the rewind
      val (restored, _) = served()
      require(restored == preRefit,
        s"the ${kind.label} two-target rewind did not reproduce the pre-refit wave")
      // vacuums on DIFFERENT roots — independent, overlapped
      Overlap(assignT.vacuum(1), quantT.vacuum(1))
      require(!assignT.versions.contains("v3"),
        s"the undone ${kind.label} refit's index version survived vacuum")
      val (swept, _) = served()
      require(swept == preRefit,
        s"vacuuming the undone ${kind.label} refit changed the served wave")
      rowsFrame(spark, restored, schema)
    } finally aug.unpersist(): Unit
  }

  /** Q190/Q198 — CONTINUOUS CURATED INGEST: q186's place→verdict→append
    * gate run as a Structured Streaming loop — the arrivals flow through
    * q158's file-source harness (`maxFilesPerTrigger` slicing the backlog
    * into REAL micro-batches), each batch through [[ingestCuratedBatch]].
    * Every verdict compares against the EXISTING corpus alone and appends
    * only change membership (the quantizer never moves), so batch
    * boundaries cannot change a verdict or a placement: the streamed
    * curated index equals the one-shot gate bit-for-bit. The in-query
    * gate re-derives the dup set corpus-wide and `require`s no served
    * candidate is in it.
    *
    * Scale shape: per micro-batch one map-only placement, one cell-scoped
    * O(batch·cell) verdict join and one O(keepers) segment commit —
    * ingest cost tracks arrival rate, not index size.
    */
  def curatedStream(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val existing = e.filter(vecId % 10 =!= 0)
    val (assignT, quantT) = freshPair(kind,
      PipelineOps.layoutDir(spark, dir, s"ivf${kind.tag}curstream"))
    val fit = kind.fit(existing, Dim)
    // the verdicts' existing side: the base placed into the fitted
    // quantizer (the fit's own argmin rule), cached once here
    val exAssign = Similarity.assignToCentroids(existing, fit.coarse,
      "vec_id", "embedding", withVec = true).persist()
    try {
      val (_, prefetch) = Overlap(kind.commitBase(fit, assignT, quantT),
        kind.prefetch(3, e.count()))
      val arrivals = StreamOps.embeddingsStream(spark, dir, maxFilesPerTrigger = 8)
        .filter(vecId % 10 === 0)
      StreamOps.runForeachBatch(arrivals,
        ingestCuratedBatch(kind, assignT, quantT, exAssign, fit.coarse),
        outputMode = "append")
      val curVer = VersionedTarget.currentVersion(assignT.root)
        .getOrElse(sys.error(s"curated ${kind.label} index target has no CURRENT pointer"))
      require(assignT.segmentsOf(curVer).size >= 3,
        "curated streaming ingest must be MULTI-batch (base + >= 2 batch " +
          "segments) — one batch swallowing the backlog proves nothing")
      val (rows, schema) = wave(kind.served(spark, assignT, quantT), e,
        e.filter(vecId < 20), prefetch)
      // re-derive the dup set corpus-wide and prove no dup arrival is
      // served from ANY batch's segment. Overlapping this audit with the
      // serve collect was A/B-measured slower (OPTIMIZATION_r20.md)
      val incAssign = Similarity.assignToCentroids(e.filter(vecId % 10 === 0),
        fit.coarse, "vec_id", "embedding", withVec = true)
      val dupIds = Similarity.semanticCrossPairs(incAssign, exAssign,
          "vec_id", "embedding", minCos6 = 0.4)
        .select(col("in_id").as("vec_id")).distinct()
      val servedIds = rows.map(_.getLong(1)).distinct
      require(servedIds.isEmpty || dupIds.filter(vecId.isin(servedIds: _*)).count() == 0,
        s"a semantically duplicate arrival was served from the curated ${kind.label} index")
      rowsFrame(spark, rows, schema)
    } finally exAssign.unpersist(): Unit
  }

  /** Q194/Q199 — INCREMENTAL FEED FROM THE SERVING INDEX: q157's delivery
    * verb ([[Segmented.appendedSince]]) on the `cell=`-partitioned index
    * target — the replica catch-up shape: a replica holding the index up
    * to epoch 1 pulls ONLY the rows batch 2 appended, straight off the
    * CURRENT manifest's segments (O(delta) I/O — append-only segments ARE
    * the change feed). The payload is the full serving shape (placement
    * cell + the payload bytes), both BY RULE, so the oracle re-derives
    * every byte. The feed lands DISTRIBUTED in the replica's own
    * artifact, never on the driver. The tail proves the failure
    * contract: after a compaction folds the post-cursor batch in with
    * older rows, the cursor is unanswerable and the verb must throw the
    * LOUD resync signal — never silently feed folded rows.
    */
  def feed(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val (assignT, quantT) = freshPair(kind,
      PipelineOps.layoutDir(spark, dir, s"ivf${kind.tag}feed"))
    kind.commitBase(kind.fit(e.filter(vecId % 10 =!= 0), Dim), assignT, quantT)
    kind.append(e.filter(vecId % 20 === 0), assignT, quantT, 1L, Dim)
    kind.append(e.filter(vecId % 20 === 10), assignT, quantT, 2L, Dim)
    val replica = graft.core.Scratch.deleteOnExit(
      Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-dedup",
        s"feed${kind.tag}_${spark.sparkContext.applicationId}").toString)
    assignT.appendedSince(spark, 1L)
      .getOrElse(sys.error("batch 2 must feed the replica"))
      .select(vecId, col("cell"),
        concat_ws(",", transform(col(kind.payloadCol),
          b => b.cast("int").cast("string"))).as("q"))
      .write.mode("overwrite").parquet(replica)
    require(assignT.compact(spark).isDefined,
      s"post-append ${kind.label} index must have segments to fold")
    val loud =
      try { assignT.appendedSince(spark, 1L); false }
      catch { case _: IllegalStateException => true }
    require(loud, "a fold crossing the cursor must raise the resync " +
      "signal — never silently feed folded rows")
    spark.read.parquet(replica).orderBy(vecId.asc_nulls_first)
  }

  /** The three roots of a system verb — the corpus `Segmented` (the
    * REFERENT) and the index pair whose rows cite corpus ids (the
    * REFERRER) — built from `existing` in reference order: the quantizer
    * and the corpus are mutually independent roots (overlapped, with the
    * prefetch sizing), the index commits strictly LAST, so
    * `index ⊆ corpus` and the tag pairing hold at every crash point.
    */
  private final class IndexedCorpus(kind: IndexKind, spark: SparkSession,
      out: String, existing: DataFrame, corpusSize: => Long) {
    private val Seq(croot, aroot, qroot) =
      freshRoots(out, "corpus", kind.indexDir, kind.quantDir)
    val corpusT: Segmented = Segmented(croot)
    val assignT: Segmented = Segmented(aroot, partitionCols = Seq("cell"),
      clusterCommits = true)
    val quantT: Rewrite = Rewrite(qroot)
    val prefetch: Int = {
      val fit = kind.fit(existing, Dim)
      val (_, _, p) = Overlap(kind.commitQuantizer(fit, quantT),
        corpusT.commit(existing, 0L), kind.prefetch(3, corpusSize))
      kind.commitIndex(fit, assignT)
      p
    }

    /** One wave of a batch hitting BOTH targets on the shared batch clock. */
    def ingest(rows: DataFrame, batchId: Long): Unit = {
      corpusT.commit(rows, batchId)
      kind.append(rows, assignT, quantT, batchId, Dim)
    }

    /** One pointer resolution per SYSTEM STATE: every read between two
      * mutations sees the same committed pair, so the dangling audit and
      * the served wave share the resolved frames.
      */
    def resolve(): (DataFrame, DataFrame) = (
      assignT.current(spark)
        .getOrElse(sys.error(s"${kind.label} index target committed no version")),
      corpusT.current(spark)
        .getOrElse(sys.error("corpus target committed no version")))

    def dangling(state: (DataFrame, DataFrame)): Long =
      state._1.select(vecId).join(state._2.select(vecId), Seq("vec_id"),
        "left_anti").count()

    def requireNoDangling(dangling: Long): Unit =
      require(dangling == 0L,
        s"$dangling index rows reference ids outside the live corpus — " +
          "the reference-order invariant broke")

    def wave(state: (DataFrame, DataFrame), probes: DataFrame): (Seq[Row], StructType) =
      IndexVerbs.wave(kind.pairedWith(spark, state._1, assignT, quantT),
        state._2, probes, prefetch)
  }

  /** Q201/Q206 — COHERENT CORPUS+INDEX RESTORE (the full-system rewind): a
    * BAD INGEST WAVE corrupts BOTH the corpus `Segmented` and the serving
    * index, and rewinding them independently can strand index rows
    * referencing corpus rows outside the restored state. This restores
    * both to ONE logical point on the batch-id clock they share, in
    * REFERENCE ORDER — the REFERRER (the index) rewinds FIRST, the
    * REFERENT (the corpus) last — so `index ids ⊆ corpus ids` holds at
    * EVERY intermediate crash point: index-restored-only leaves the bad
    * corpus rows present but UNREFERENCED (the wave ignores them —
    * `require`d identical), and the corpus restore then just drops
    * unreferenced segments. The VersionedTargetSpec row drives the wrong
    * order and proves the invariant breaks. Appends place against the
    * SERVED quantizer and never refit, so the tag keeps pairing v0
    * across the whole rewind. Every restore moves pointers, never data.
    */
  def systemRestore(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val existing = e.filter(vecId % 10 =!= 0).select(vecId, col("embedding"))
    val good = e.filter(vecId % 20 === 0).select(vecId, col("embedding"))
    // the bad wave: probe vectors re-arriving under fresh ids — they
    // cosine-1.0 their originals, so they TOP the pre-restore waves (the
    // corruption must be retrievable, else there is nothing to rewind)
    val bad = e.filter(vecId < 20)
      .select((vecId + lit(900000L)).as("vec_id"), col("embedding"))
    val system = new IndexedCorpus(kind, spark,
      PipelineOps.layoutDir(spark, dir, s"systemrestore${kind.tag}"), existing,
      e.count())
    system.ingest(good, 1L)
    system.ingest(bad, 2L)
    val probes = e.filter(vecId < 20)
    val stA = system.resolve()
    val (dangA, (postBad, schema)) = Overlap(system.dangling(stA), system.wave(stA, probes))
    system.requireNoDangling(dangA)
    system.assignT.restore("v1") // REFERRER first: the index stops referencing
    val stB = system.resolve() // crash point between targets
    val ((midRewind, _), dangB) = Overlap(system.wave(stB, probes), system.dangling(stB))
    system.requireNoDangling(dangB)
    system.corpusT.restore("v1") // REFERENT last: drops now-unreferenced rows
    val stC = system.resolve()
    val ((restored, _), dangC, corpusN) =
      Overlap(system.wave(stC, probes), system.dangling(stC), stC._2.count())
    system.requireNoDangling(dangC)
    require(postBad != restored,
      "bad-ingest fixture must change the served wave — nothing to rewind")
    require(midRewind == restored,
      "index-restored-only must already serve the pre-wave results (bad " +
        "corpus rows are unreferenced at the crash point)")
    require(corpusN == existing.count() + good.count(),
      "restored corpus must be existing + the good wave exactly")
    // the undone wave's versions are crash-debris-shaped: swept, not
    // served. Vacuums on DIFFERENT roots — independent, overlapped
    Overlap(system.assignT.vacuum(1), system.corpusT.vacuum(1))
    val stD = system.resolve() // the vacuum proof reads the POST-vacuum state
    val ((swept, _), dangD) = Overlap(system.wave(stD, probes), system.dangling(stD))
    require(swept == restored,
      "vacuuming the undone ingest wave changed the served wave")
    system.requireNoDangling(dangD)
    rowsFrame(spark, restored, schema)
  }

  /** Q203/Q207 — COHERENT CROSS-TARGET TAKEDOWN (system-wide erasure): the
    * right-to-be-forgotten request erases an id set from the WHOLE system
    * — the corpus `Segmented` AND the serving index — in q201's reference
    * order mirrored for removal: the REFERRER (the index) deletes FIRST
    * (the id stops being servable before its bytes move), the REFERENT
    * (the corpus) second, so `index ids ⊆ corpus ids` holds at every
    * crash point. Three proofs ride in-query: (1) candidacy — no erased
    * id is served after the index delete, and the corpus delete changes
    * NOTHING the wave can see; (2) coherence — no dangling index row at
    * any step; (3) PHYSICAL erasure — after vacuum sweeps the pre-delete
    * versions, a recursive scan of EVERY live parquet file under both
    * roots finds zero erased ids (`deleteWhere` rewrites copy-on-write;
    * vacuum is what removes the bytes). O(touched segments), never
    * O(corpus); quantizer and `cell=` layout untouched.
    */
  def systemTakedown(kind: IndexKind)(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val existing = e.filter(vecId % 10 =!= 0).select(vecId, col("embedding"))
    val batch = e.filter(vecId % 20 === 0).select(vecId, col("embedding"))
    val system = new IndexedCorpus(kind, spark,
      PipelineOps.layoutDir(spark, dir, s"systemtakedown${kind.tag}"), existing,
      e.count())
    system.ingest(batch, 1L)
    val probes = e.filter(vecId < 20)
    val erased = (id: Long) => id % 7 == 3
    val (preErase, schema) = system.wave(system.resolve(), probes)
    require(preErase.exists(r => erased(r.getLong(1))),
      "erasure fixture must have at least one served id to revoke")
    // REFERRER first: the id stops being SERVABLE before any byte moves
    require(system.assignT.deleteWhere(spark, vecId % 7 === 3).isDefined,
      "takedown must revoke at least one indexed vector")
    val stB = system.resolve()
    val ((afterIndex, _), dangB) = Overlap(system.wave(stB, probes), system.dangling(stB))
    require(afterIndex.forall(r => !erased(r.getLong(1))),
      "a revoked vector was served after the index-side erasure")
    system.requireNoDangling(dangB)
    // REFERENT second: dropping now-unreferenced corpus rows cannot
    // change anything the wave observes
    require(system.corpusT.deleteWhere(spark, vecId % 7 === 3).isDefined,
      "takedown must erase at least one corpus row")
    val stC = system.resolve()
    val ((afterCorpus, _), dangC) = Overlap(system.wave(stC, probes), system.dangling(stC))
    require(afterCorpus == afterIndex,
      "corpus-side erasure of unreferenced rows changed the served wave")
    system.requireNoDangling(dangC)
    // PHYSICAL erasure: vacuum sweeps the pre-delete versions (DIFFERENT
    // roots — overlapped), then the swept wave and the two per-root byte
    // audits run concurrently, required in declared order
    Overlap(system.assignT.vacuum(1), system.corpusT.vacuum(1))
    def auditOf(root: Path): (Int, Long) = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      val files =
        try walk.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(_.toString).toList
        finally walk.close()
      if (files.isEmpty) (0, 0L)
      else (files.size, spark.read.parquet(files: _*).filter(vecId % 7 === 3).count())
    }
    val stD = system.resolve()
    val ((swept, _), auditC, auditA) = Overlap(system.wave(stD, probes),
      auditOf(system.corpusT.root), auditOf(system.assignT.root))
    require(swept == afterIndex,
      "vacuuming the erased versions changed the served wave")
    Seq((system.corpusT.root, auditC), (system.assignT.root, auditA)).foreach {
      case (root, (nFiles, leak)) =>
        require(nFiles > 0, s"takedown audit found no live files under $root")
        require(leak == 0L,
          s"$leak erased row(s) physically survive under $root — takedown " +
            "without vacuum is unreachability, not erasure")
    }
    rowsFrame(spark, swept, schema)
  }

  /** The per-micro-batch ingest verb of [[lifecycle]], factored so
    * OpsSpec can drive arrival/redelivery schedules without the streaming
    * harness: skip batches the index epoch already covers (redelivery →
    * exactly-once), append the rest through the kind's refit-safe append,
    * each batch landing as one immutable O(batch) encoded segment. Batch
    * ids start at 0; epoch 0 is the base build's, so batch b commits as
    * epoch b+1.
    */
  private[graft] def ingestIndexBatch(kind: IndexKind, assignT: Segmented,
      quantT: Rewrite)(batch: DataFrame, id: Long): Unit = {
    val bid = id + 1L
    if (!assignT.applied(bid)) kind.append(batch, assignT, quantT, bid, Dim)
  }

  /** The per-micro-batch CURATED ingest verb of [[curatedStream]]: the
    * q186 place→verdict→append gate as a stream handler — place the batch
    * into the MAINTAINED coarse quantizer (never refit), verdict it
    * against the EXISTING corpus only ([[Similarity.semanticCrossPairs]]
    * — O(batch·cell), independent of every other batch, which is WHY
    * batch boundaries can never change a verdict), and append only the
    * keepers through the kind's refit-safe append. Redelivered batches
    * skip on the index epoch; a dropped arrival is absent from every
    * wave by construction because candidacy reads only the index.
    */
  private[graft] def ingestCuratedBatch(kind: IndexKind, assignT: Segmented,
      quantT: Rewrite, exAssign: DataFrame, coarse: IndexKind.Quantizer)(
      batch: DataFrame, id: Long): Unit = {
    val bid = id + 1L
    if (!assignT.applied(bid)) {
      val placed = Similarity.assignToCentroids(batch, coarse,
        "vec_id", "embedding", withVec = true)
      val dupIds = Similarity.semanticCrossPairs(placed, exAssign,
          "vec_id", "embedding", minCos6 = 0.4)
        .select(col("in_id").as("vec_id")).distinct()
      kind.append(batch.join(dupIds, Seq("vec_id"), "left_anti"),
        assignT, quantT, bid, Dim)
    }
  }

  private val lang = col("lang") === "en"
  private val sourceOne = col("source") < "src2" && col("source") >= "src1"

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_int8_index" -> build(Sq8) _,
    "q170_ivfpq_adc" -> build(Pq) _,
    "q164_hybrid_int8" -> hybrid(Sq8) _,
    "q188_hybrid_pq" -> hybrid(Pq) _,
    "q183_diversified_served" -> diversified(Sq8) _,
    "q193_diversified_pq" -> diversified(Pq) _,
    "q197_filtered_ann" -> filtered(Sq8, lang) _,
    "q202_filtered_ann_pq" -> filtered(Pq, sourceOne) _,
    "q205_filtered_hybrid" -> filteredHybrid(Sq8, lang) _,
    "q210_filtered_hybrid_pq" -> filteredHybrid(Pq, sourceOne) _,
    "q165_int8_lifecycle" -> lifecycle(Sq8) _,
    "q174_pq_lifecycle" -> lifecycle(Pq) _,
    "q176_int8_takedown" -> takedown(Sq8) _,
    "q177_pq_takedown" -> takedown(Pq) _,
    "q178_sq8_refit" -> refit(Sq8) _,
    "q179_pq_refit" -> refit(Pq) _,
    "q189_index_restore" -> restore(Sq8) _,
    "q196_pq_index_restore" -> restore(Pq) _,
    "q190_curated_stream_ingest" -> curatedStream(Sq8) _,
    "q198_pq_curated_ingest" -> curatedStream(Pq) _,
    "q194_index_feed" -> feed(Sq8) _,
    "q199_pq_index_feed" -> feed(Pq) _,
    "q201_system_restore" -> systemRestore(Sq8) _,
    "q206_system_restore_pq" -> systemRestore(Pq) _,
    "q203_system_takedown" -> systemTakedown(Sq8) _,
    "q207_system_takedown_pq" -> systemTakedown(Pq) _)
}
