package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection — SURVEY.md §2B.11 Q59, §4.3.
  *
  * Pipeline (all relational, one shuffle per stage, no quadratic step):
  *
  *   1. shingle each doc into word n-grams ([[TextOps.shingles]]);
  *   2. per (doc, distinct shingle): 32-bit portable hash x
  *      ([[TextOps.hash32]]);
  *   3. k permutations h_i(x) = (a_i·x + b_i) mod p (p prime > 2^32,
  *      a_i < 2^12 so a·x < 2^63 — no overflow); signature = per-doc mins
  *      (one hash-aggregate);
  *   4. split the signature into bands of r values; band key =
  *      md5(concat of the r mins); docs sharing any band key are candidate
  *      pairs (self-join on the band key — the LSH trick that keeps the
  *      candidate set ~linear instead of O(n²)).
  *
  * With k=8, r=2 (4 bands): P(candidate) = 1-(1-j²)⁴ for Jaccard j — steep
  * around j≈0.5. At 100 TB the band join shuffles only (band, key, doc_id)
  * triples. Skew note: AQE's skew-join splits oversized PARTITIONS, which
  * keeps the shuffle balanced but does NOT bound the O(bucket²) candidate
  * OUTPUT of a degenerate band key; where a fingerprint family can
  * degenerate (byte bands on media hashes, substring fingerprints), the
  * declared df cap is the guard — see
  * [[graft.sources.Multimodal.bandedHammingPairs]] (maxDf) and
  * [[TextOps.winnowedPairs]] (stop-fingerprints). MinHash band keys are
  * md5 over r signature mins, so a hot key requires identical signature
  * bands — i.e. genuinely near-identical docs, which ARE the answer, not
  * noise; the exact-dup pre-pass (q58/q83) is the declared guard there.
  */
object MinHashDedup {

  /** Fixed permutation coefficients (a_i, b_i) — must match the oracle. */
  val coeffs: Seq[(Long, Long)] = Seq(
    (737L, 1L), (947L, 12L), (1259L, 31L), (1511L, 47L),
    (1777L, 59L), (2003L, 73L), (2267L, 89L), (2531L, 101L))

  val prime = 4294967311L // smallest prime > 2^32

  /** Per-doc MinHash signature columns h0..h{k-1} from a docs frame —
    * ONE map-only pass via the native [[graft.functions.MinHashSig]]
    * expression (no shingle explode, no shuffle; min over the shingle
    * multiset equals min over the distinct set, so the result is
    * identical to the former explode→distinct→hash-agg build). Docs with
    * fewer than `shingleN` tokens yield NULL and drop out, matching the
    * oracle's UNNEST semantics.
    *
    * @param docs  input with `idCol` and `textCol`
    * @param shingleN word-n-gram size
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3): DataFrame = {
    val sig = graft.functions.MinHashSig.sig(col(textCol), shingleN, coeffs, prime)
    docs.select(col(idCol), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol) +:
        coeffs.indices.map(i => element_at(col("__sig"), i + 1).as(s"h$i")): _*)
  }

  /** Candidate near-duplicate pairs (d1 < d2) via banded LSH self-join. */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, rowsPerBand: Int = 2): DataFrame = {
    val sig = signatures(docs, idCol, textCol, shingleN)
    val nBands = coeffs.size / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val key = md5(concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*))
      struct(lit(b).as("band"), key.as("bh"))
    }
    val bands = sig
      .select(col(idCol), explode(array(bandStructs: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.bh").as("bh"))
    val a = bands.select(col("band"), col("bh"), col(idCol).as("d1"))
    val b = bands.select(col("band"), col("bh"), col(idCol).as("d2"))
    a.join(b, Seq("band", "bh"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  /** Character n-gram Jaccard near-duplicate pairs — the remaining dedup
    * modality (exact / MinHash-LSH / SimHash / embedding-cosine are
    * Q58/Q59/Q81/Q69): EXACT Jaccard over hashed char n-gram sets, with
    * banded char-gram MinHash as the candidate generator. "Hashed" is
    * part of the shared contract: both engines compare the 32-bit
    * first-8-md5-hex gram values (what the MinHash permutes anyway), so
    * the comparison is exact on both sides while each set element is a
    * long, not a string.
    *
    * Shape at 100 TB: the gram-hash set and the MinHash signature are
    * map-only native expressions ([[graft.functions.CharGramHashes]] /
    * [[graft.functions.CharMinHash]]) that fuse into the scan; the band
    * self-join exchanges only (band, key, id) triples; the post-filter
    * joins candidates back to the compact hash arrays and intersects by
    * LINEAR MERGE ([[graft.functions.SortedOverlapCount]], ~µs/pair).
    * The pair LISTING itself is inherently Ω(Σ cluster²) when the corpus
    * has k-doc near-dup clusters — that's the output's size, not a plan
    * artifact; when only the dedup decision is needed, [[ngramKeepers]]
    * reduces the same candidates to one keeper row per doc (linear
    * output). Recall is the declared property of the band generator
    * (same contract as Q59/Q69/Q81); precision is exact.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        gramN: Int = 5, rowsPerBand: Int = 2,
                        minJaccard: Double = 0.5): DataFrame = {
    val nBands = coeffs.size / rowsPerBand
    // Band keys are the raw minhash LONGS, not a hashed string: the
    // self-join shuffles narrow native columns and the join hashes
    // integers instead of md5 hex. The signature array rides along (8
    // longs) so band-duplicate candidates can be dropped map-side.
    val bands = ngramBands(docs, idCol, textCol, gramN, rowsPerBand)
    val joinKeys = "band" +: (0 until rowsPerBand).map(r => s"k$r")
    // A pair that collides in several bands would come out once per band;
    // instead of a distinct (a full extra shuffle of the pair set), emit
    // it only from its SMALLEST matching band: rows from a later band
    // whose signatures also collide in an earlier band are dropped by a
    // map-side filter right after the join.
    val left = bands.select(col("band") +:
      (0 until rowsPerBand).map(r => col(s"k$r")) :+
      col(idCol).as("d1") :+ col("__sig").as("__s1"): _*)
    val right = bands.select(col("band") +:
      (0 until rowsPerBand).map(r => col(s"k$r")) :+
      col(idCol).as("d2") :+ col("__sig").as("__s2"): _*)
    val earlierBandAlsoMatches = (0 until nBands - 1).map { bp =>
      col("band") > bp && (0 until rowsPerBand).map(r =>
        element_at(col("__s1"), bp * rowsPerBand + r + 1) ===
          element_at(col("__s2"), bp * rowsPerBand + r + 1))
        .reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false)) // nBands == 1: no earlier band exists
    val cand = left.join(right, joinKeys)
      .filter(col("d1") < col("d2") && !earlierBandAlsoMatches)
      .select(col("d1"), col("d2"))
    val grams = docs.select(col(idCol),
        graft.functions.CharGramHashes.hashes(col(textCol), gramN).as("__g"))
      .filter(col("__g").isNotNull)
    val overlap = graft.functions.SortedOverlapCount.overlap(col("g1"), col("g2"))
    cand
      .join(grams.select(col(idCol).as("d1"), col("__g").as("g1")), Seq("d1"))
      .join(grams.select(col(idCol).as("d2"), col("__g").as("g2")), Seq("d2"))
      .filter(sizeGate(col("g1"), col("g2"), minJaccard))
      .select(col("d1"), col("d2"), (overlap.cast("double") /
        (size(col("g1")) + size(col("g2")) - overlap)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Near-dup DEDUP DECISION from the same candidate generation: each doc
    * maps to keeper = min(own id, smallest DIRECT neighbor with Jaccard ≥
    * threshold). LINEAR output — the shape a 100 TB dedup actually wants
    * (the Ω(cluster²) pair set is aggregated away before it is ever
    * materialised as a result). Docs with no near-dup keep themselves;
    * one-hop keeper assignment is the declared contract (transitive
    * closure needs iteration and is out of scope).
    */
  def ngramKeepers(docs: DataFrame, idCol: String, textCol: String,
                   gramN: Int = 5, rowsPerBand: Int = 2,
                   minJaccard: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, gramN, rowsPerBand,
      minJaccard)
    // pairs are oriented d1 < d2, and only a SMALLER neighbor can lower
    // the min — so keeper(doc) = least(doc, min{d1 : (d1, doc) ∈ pairs}).
    // One aggregation pass over the pair set, referenced once (a
    // both-orientations union would compute the candidate pipeline twice).
    val neighbors = pairs.groupBy(col("d2").as("doc"))
      .agg(min(col("d1")).as("min_nb"))
    docs.select(col(idCol).as("doc"))
      .join(neighbors, Seq("doc"), "left")
      .select(col("doc"),
        least(col("doc"), coalesce(col("min_nb"), col("doc"))).as("keeper"))
  }

  /** Char-n-gram MinHash band rows for one side of a banded join:
    * (band, k0..k{r-1}, id, __sig). Shared by the symmetric
    * [[ngramJaccardPairs]] self-join and the asymmetric
    * [[crossNgramPairs]] two-corpus join.
    */
  /** The per-doc MinHash signature frame `(idCol, __sig)` — the
    * banding-INDEPENDENT half of band-row generation, factored so a
    * knob sweep ([[bandingMeasureAll]]) computes the corpus signatures
    * once and derives every operating point's bands from the cached
    * frame instead of re-hashing the corpus per point.
    */
  private def ngramSigs(docs: DataFrame, idCol: String, textCol: String,
                        gramN: Int): DataFrame =
    docs.select(col(idCol),
        graft.functions.CharMinHash.sig(col(textCol), gramN, coeffs, prime)
          .as("__sig"))
      .filter(col("__sig").isNotNull)

  /** Band rows `(id, __sig, band, k0..k{r-1})` from a signature frame —
    * map-only (one explode of nBands structs).
    */
  private def bandsFromSigs(sigs: DataFrame, idCol: String,
                            rowsPerBand: Int): DataFrame = {
    val nBands = coeffs.size / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band") +: (0 until rowsPerBand).map(r =>
        element_at(col("__sig"), b * rowsPerBand + r + 1).as(s"k$r")): _*)
    }
    sigs
      .select(col(idCol), col("__sig"), explode(array(bandStructs: _*)).as("__b"))
      .select(col(idCol) +: col("__sig") +:
        (col("__b.band").as("band") +:
          (0 until rowsPerBand).map(r => col(s"__b.k$r"))): _*)
  }

  private def ngramBands(docs: DataFrame, idCol: String, textCol: String,
                         gramN: Int, rowsPerBand: Int): DataFrame =
    bandsFromSigs(ngramSigs(docs, idCol, textCol, gramN), idCol, rowsPerBand)

  /** CROSS-CORPUS near-dup pairs: each `incoming` doc against the
    * `existing` corpus only — the dedup shape a production ingest
    * actually runs (dedup the new crawl against what is already kept).
    * Same candidate generator and exact char-n-gram Jaccard post-filter
    * as [[ngramJaccardPairs]], but the band join is ASYMMETRIC: incoming
    * bands against existing bands, so no within-side pair is ever
    * generated or carried — at 100 TB of existing corpus and a daily
    * incoming slice, the join output is sized by the slice's dup rate,
    * not the corpus' internal near-dup mass. Returns
    * (in_id, ex_id, jaccard), exact precision, band-generator recall.
    *
    * PRECONDITION: `incoming` and `existing` must be DISJOINT on
    * `idCol`. A doc present on both sides would collide with itself and
    * come out as a jaccard-1.0 "duplicate" — the ingest shape this op
    * models (new crawl vs kept corpus) guarantees disjointness, and the
    * callers (q137, q140) split one table by a partition rule, so no
    * runtime guard is paid for here; enforce it at the call site if
    * your corpora can overlap.
    */
  def crossNgramPairs(incoming: DataFrame, existing: DataFrame,
                      idCol: String, textCol: String,
                      gramN: Int = 5, rowsPerBand: Int = 2,
                      minJaccard: Double = 0.5): DataFrame = {
    val cand = crossNgramCandidates(incoming, existing, idCol, textCol,
      gramN, rowsPerBand)
    val gIn = incoming.select(col(idCol).as("in_id"),
        graft.functions.CharGramHashes.hashes(col(textCol), gramN).as("g1"))
      .filter(col("g1").isNotNull)
    val gEx = existing.select(col(idCol).as("ex_id"),
        graft.functions.CharGramHashes.hashes(col(textCol), gramN).as("g2"))
      .filter(col("g2").isNotNull)
    val overlap = graft.functions.SortedOverlapCount.overlap(col("g1"), col("g2"))
    cand
      .join(gIn, Seq("in_id"))
      .join(gEx, Seq("ex_id"))
      .filter(sizeGate(col("g1"), col("g2"), minJaccard))
      .select(col("in_id"), col("ex_id"), (overlap.cast("double") /
        (size(col("g1")) + size(col("g2")) - overlap)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The CANDIDATE stage of [[crossNgramPairs]] alone: the asymmetric
    * banded join's (in_id, ex_id) output before the exact Jaccard
    * post-filter — each pair emitted once, from its smallest matching
    * band. Exposed so [[bandingMeasure]] can count candidate VOLUME (the
    * cost side of the banding trade) without paying the post-filter.
    */
  def crossNgramCandidates(incoming: DataFrame, existing: DataFrame,
                           idCol: String, textCol: String,
                           gramN: Int, rowsPerBand: Int): DataFrame =
    crossCandidatesFromSigs(ngramSigs(incoming, idCol, textCol, gramN),
      ngramSigs(existing, idCol, textCol, gramN), idCol, rowsPerBand)

  /** [[crossNgramCandidates]] from precomputed signature frames — the
    * knob-sweep path: signatures are hashed once, each operating point
    * pays only its map-only banding + the band join.
    */
  private def crossCandidatesFromSigs(inSigs: DataFrame, exSigs: DataFrame,
                                      idCol: String,
                                      rowsPerBand: Int): DataFrame = {
    val nBands = coeffs.size / rowsPerBand
    val joinKeys = "band" +: (0 until rowsPerBand).map(r => s"k$r")
    val left = bandsFromSigs(inSigs, idCol, rowsPerBand)
      .select(col("band") +: (0 until rowsPerBand).map(r => col(s"k$r")) :+
        col(idCol).as("in_id") :+ col("__sig").as("__s1"): _*)
    val right = bandsFromSigs(exSigs, idCol, rowsPerBand)
      .select(col("band") +: (0 until rowsPerBand).map(r => col(s"k$r")) :+
        col(idCol).as("ex_id") :+ col("__sig").as("__s2"): _*)
    // A pair colliding in several bands must come out once: emit it only
    // from its SMALLEST matching band (map-side filter, no distinct
    // shuffle) — same trick as the symmetric join.
    val earlierBandAlsoMatches = (0 until nBands - 1).map { bp =>
      col("band") > bp && (0 until rowsPerBand).map(r =>
        element_at(col("__s1"), bp * rowsPerBand + r + 1) ===
          element_at(col("__s2"), bp * rowsPerBand + r + 1))
        .reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))
    left.join(right, joinKeys)
      .filter(!earlierBandAlsoMatches)
      .select(col("in_id"), col("ex_id"))
  }

  /** One measured operating point of the banded candidate generator —
    * the banding trade quantified on DATA (q160's report, kept for the
    * decision): `recall` is what the knob buys, `nCandidates` is what it
    * costs (the exact-Jaccard post-filter scans every candidate).
    */
  final case class BandingMeasurement(rowsPerBand: Int, nTrue: Long,
                                      nCaught: Long, nCandidates: Long) {
    def recall: Double = if (nTrue == 0) 1.0 else nCaught.toDouble / nTrue
    def bands: Int = coeffs.size / rowsPerBand
  }

  /** Measure ONE (bands, rowsPerBand) operating point against
    * brute-force truth (exact char-`gramN`-gram Jaccard ≥ `minJaccard`
    * of `probes` × `corpus` — q160's ground-truth shape; at 100 TB the
    * probe slice is a SAMPLE and this verb is the scheduled evaluation
    * pass, never the production path). Three counts in two jobs:
    * candidate volume from the banded join alone, truth and
    * caught-by-banding from one crossed scan.
    */
  def bandingMeasure(probes: DataFrame, corpus: DataFrame,
                     idCol: String, textCol: String, gramN: Int,
                     rowsPerBand: Int, minJaccard: Double): BandingMeasurement =
    bandingMeasureAll(probes, corpus, idCol, textCol, gramN,
      Seq(rowsPerBand), minJaccard).head

  /** [[bandingMeasure]] over SEVERAL operating points with the truth
    * pass paid ONCE: the brute-force probe×corpus exact-Jaccard side is
    * banding-INDEPENDENT (it is the expensive half — the candidate
    * counts are banded-join-sized), so a knob sweep (the
    * [[bandingDecision]] input, q168's stage 1) computes and persists
    * it once and scores every candidate set against the cached pairs,
    * instead of paying |points| cross scans.
    */
  def bandingMeasureAll(probes: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String, gramN: Int,
                        rowsPerBands: Seq[Int],
                        minJaccard: Double): Seq[BandingMeasurement] = {
    require(rowsPerBands.nonEmpty)
    rowsPerBands.foreach(r => require(coeffs.size % r == 0,
      s"rowsPerBand $r must divide the ${coeffs.size}-hash signature"))
    val gP = probes.select(col(idCol).as("__p"),
        graft.functions.CharGramHashes.hashes(col(textCol), gramN).as("__gp"))
      .filter(col("__gp").isNotNull)
    val gC = corpus.select(col(idCol).as("__c"),
        graft.functions.CharGramHashes.hashes(col(textCol), gramN).as("__gc"))
      .filter(col("__gc").isNotNull)
    val ov = graft.functions.SortedOverlapCount.overlap(col("__gp"), col("__gc"))
    val truth = gC.crossJoin(broadcast(gP))
      .filter(col("__p") =!= col("__c") &&
        sizeGate(col("__gp"), col("__gc"), minJaccard))
      .select(col("__p"), col("__c"), (ov.cast("double") /
        (size(col("__gp")) + size(col("__gc")) - ov)).as("__j"))
      .filter(col("__j") >= minJaccard)
      .select(col("__p"), col("__c"))
      .persist()
    // the MinHash signatures are banding-independent too — hash each
    // side once, derive every point's bands map-side off the cache
    val pSigs = ngramSigs(probes, idCol, textCol, gramN).persist()
    val cSigs = ngramSigs(corpus, idCol, textCol, gramN).persist()
    try {
      val nTrue = truth.count() // materialises the one shared truth pass
      // the per-point count jobs are INDEPENDENT reads of the shared
      // caches — submit them concurrently (guide §2.6: actions are only
      // sequential because the driver calls them sequentially) so the
      // tail of one point's stage back-fills with the next point's
      // tasks; results are deterministic scalars combined in knob order
      graft.core.Overlap.all(rowsPerBands.map { r => () =>
        // one job per point: candidate volume and caught-truth count off
        // the same candidate scan (truth is cached and pair-set sized)
        val counts = crossCandidatesFromSigs(pSigs, cSigs, idCol, r)
          .filter(col("in_id") =!= col("ex_id"))
          .join(truth.select(col("__p").as("in_id"), col("__c").as("ex_id"),
            lit(1).as("__hit")), Seq("in_id", "ex_id"), "left")
          .agg(count(lit(1)).as("n_cand"), count(col("__hit")).as("n_caught"))
          .head()
        BandingMeasurement(r, nTrue, counts.getLong(1), counts.getLong(0))
      })
    } finally {
      truth.unpersist(): Unit
      pSigs.unpersist(): Unit
      cSigs.unpersist(): Unit
    }
  }

  /** The KNOB-SELECTION verb the q160 report exists for (the
    * [[graft.ops.Similarity.refitDecision]] pattern applied to banding):
    * among measured operating points, pick the CHEAPEST one meeting the
    * recall floor — fewest candidates, then fewest band rows; if none
    * meets it, the best-recall point (then cheapest). The floor is the
    * dedup pipeline's SLO: candidates the generator never surfaces are
    * near-dups that survive dedup.
    */
  def bandingDecision(measurements: Seq[BandingMeasurement],
                      minRecall: Double): BandingMeasurement = {
    require(measurements.nonEmpty, "no operating points measured")
    require(minRecall >= 0.0 && minRecall <= 1.0)
    val passing = measurements.filter(_.recall >= minRecall)
    if (passing.nonEmpty)
      passing.minBy(m => (m.nCandidates, m.bands))
    else measurements.maxBy(m => (m.recall, -m.nCandidates))
  }

  /** Jaccard SIZE GATE — a necessary condition evaluated BEFORE the
    * O(|g1|+|g2|) sorted-merge intersection: for SETS, overlap ≤
    * min(|g1|,|g2|), so jaccard = ov/(|g1|+|g2|−ov) ≤ min/max; a pair
    * with min < t·max can never reach threshold t, and skipping it
    * changes no output (rows it removes fail the exact filter anyway).
    * Pure per-task work (guide §1.2 step 2): most candidate pairs fail
    * the two integer-compare gate and never pay the merge. Both sides
    * exact in double (set sizes < 2^53), so no boundary pair is lost.
    * At t = 0 the gate is vacuous — callers skip it there.
    */
  private[graft] def sizeGate(g1: Column, g2: Column, t: Double): Column =
    if (t <= 0.0) lit(true)
    else least(size(g1), size(g2)).cast("double") >=
      lit(t) * greatest(size(g1), size(g2)).cast("double")

  /** Exact duplicate groups on normalised text: md5(lower(trim(text))). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(lower(trim(col(textCol)))).as("h"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n"))

  /** Token-set Jaccard similarity between two text columns. */
  def jaccard(a: Column, b: Column): Column = {
    val ta = TextOps.tokenSet(a); val tb = TextOps.tokenSet(b)
    size(array_intersect(ta, tb)).cast("double") /
      size(array_union(ta, tb))
  }
}
