package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, sqrt, transform, typedlit}
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.core.Overlap
import graft.ops.VersionedTarget.{Rewrite, Segmented}

/** The payload of a quantized IVF serving index, as a PARAMETER of the
  * verbs that build, serve, append to, refit, restore and take it down
  * ([[graft.queries.IndexVerbs]]) — the "index structure is a parameter
  * of one search procedure" design of Continuously Adaptive Similarity
  * Search (SIGMOD 2020) and REPOSE (ICDE 2021). Two values:
  *
  *   - [[IndexKind.Sq8]]: 1 byte per dimension + a per-vector scale
  *     ([[Similarity.quantizeInt8]]), quantizer = the k coarse centroids;
  *   - [[IndexKind.Pq]]: m one-byte codes per vector
  *     ([[Similarity.pqEncode]]), quantizer = one BUNDLE of the coarse
  *     centroids and the m codebooks ([[Similarity.pqBundleDF]]).
  *
  * Each value bundles ONLY what differs between the two payloads: target
  * layout names, the base fit and its payload, the O(delta) append,
  * the quantizer pairing, the served two-stage wave and its prefetch
  * rule, and the refit. Everything else — lifecycles, audits, waves,
  * recall gates — is written once against this interface. Rows are the
  * embeddings-table pair `vec_id`/`embedding`; every index uses k = 8
  * coarse cells fitted in 2 Lloyd's rounds (PQ: m = 4 codebooks of 16).
  */
sealed abstract class IndexKind(
    /** Payload name in messages. */
    val label: String,
    /** Layout-name infix of the verbs' scratch directories. */
    val tag: String,
    /** Directory of the cell-partitioned index rows. */
    val indexDir: String,
    /** Directory of the quantizer the index rows are placed with. */
    val quantDir: String,
    /** The per-vector payload column. */
    val payloadCol: String,
    /** The in-query recall floor of a one-shot build vs the
      * full-precision wave over the same quantizer.
      */
    val minRecall: Double,
    /** One-hot cluster dims of the refit drift fixture (q153's rule):
      * PQ keeps the augmented width splittable into its subspaces.
      */
    val driftClusters: Int) {
  import IndexKind._

  /** Fit the quantizer on `base` (dim = the vector width). */
  def fit(base: DataFrame, dim: Int): Fit

  /** Commit the base build: quantizer version v0 and index segment 0
    * tagged with it. The two commits land on DIFFERENT roots (per-root
    * pointer locks) — independent actions, overlapped.
    */
  def commitBase(fit: Fit, assignT: Segmented, quantT: Rewrite,
      warnOnDrops: Boolean = false): Unit =
    Overlap(commitQuantizer(fit, quantT), commitIndex(fit, assignT, warnOnDrops)): Unit

  /** One-shot (unversioned) build into `out`: the index rows persist in
    * the probe-pruning `cell=` layout and are served read back.
    */
  def buildStatic(corpus: DataFrame, out: String, dim: Int): Served

  /** The O(delta) refit-safe append of `delta` at `batchId`. */
  def append(delta: DataFrame, assignT: Segmented, quantT: Rewrite,
      batchId: Long, dim: Int): Unit

  /** `index` paired with the quantizer its manifest tag names. */
  def pairedWith(spark: SparkSession, index: DataFrame, assignT: Segmented,
      quantT: Rewrite): Served

  /** Re-fit the quantizer on `corpus` and rebase the index at `batchId`. */
  def refit(corpus: DataFrame, assignT: Segmented, quantT: Rewrite,
      batchId: Long, dim: Int): Unit

  /** The candidate prefetch of a top-`k` wave; PQ sizes it by the corpus. */
  def prefetch(k: Int, corpusSize: => Long): Int

  def commitQuantizer(fit: Fit, quantT: Rewrite): Unit =
    quantT.commit(fit.quantizer, 0L)

  def commitIndex(fit: Fit, assignT: Segmented, warnOnDrops: Boolean = false): Unit =
    assignT.commit(fit.payload(warnOnDrops), 0L, tag = Some("v0"))

  /** The live index of `assignT`, paired with its quantizer. */
  def served(spark: SparkSession, assignT: Segmented, quantT: Rewrite): Served =
    pairedWith(spark, assignT.current(spark)
      .getOrElse(sys.error(s"$label index target committed no version")),
      assignT, quantT)

  protected def writeIndex(fit: Fit, out: String): Unit =
    fit.payload(warnOnDrops = false).repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/$indexDir")
}

object IndexKind {
  private val IdCol = "vec_id"
  private val VecCol = "embedding"
  private val Cells = 8
  private val Iters = 2
  private val Subspaces = 4
  private val Codes = 16

  type Quantizer = Seq[(Long, Seq[Double])]

  /** A fitted quantizer over a base corpus. */
  sealed trait Fit {
    /** The coarse centroids, on the driver. */
    def coarse: Quantizer
    /** The committable quantizer frame. */
    def quantizer: DataFrame
    /** The base corpus' index rows (lazy). */
    def payload(warnOnDrops: Boolean): DataFrame
  }

  /** An index frame paired with the quantizer it was placed with, and
    * the payload's stage of the two-stage wave
    * ([[Similarity.ivfTopKTwoStage]]): which columns a candidate reads
    * off the index and how they score approximately.
    */
  sealed trait Served {
    def index: DataFrame
    def coarse: Quantizer

    /** The candidate projection of `idx`: `cand_id`, `cell` and the
      * payload columns [[approx]] reads.
      */
    protected def candidates(idx: DataFrame): DataFrame
    /** The approximate cosine of a (probe, candidate) pair. */
    protected def approx: Column
    /** Per-probe columns [[approx]] reads, computed once per probe. */
    protected def probeCols: Seq[(String, Column)] = Nil

    /** Two-stage top-`k`: approximate ranking on the payload, exact
      * re-rank of the `prefetch` winners against `corpus`.
      */
    def topK(corpus: DataFrame, probes: DataFrame, k: Int, prefetch: Int,
        nprobe: Int): DataFrame =
      wave(index, corpus, probes, k, prefetch, nprobe)

    /** [[topK]] over the `allowed` ids only, knobs scaled by selectivity
      * ([[Similarity.ivfTopKFiltered]]).
      */
    def topKFiltered(corpus: DataFrame, probes: DataFrame, allowed: DataFrame,
        k: Int, prefetch: Long, nprobe: Int): DataFrame =
      Similarity.ivfTopKFiltered(index, allowed, IdCol, coarse.size, k,
        prefetch, nprobe)(wave(_, corpus, probes, k, _, _))

    private def wave(idx: DataFrame, corpus: DataFrame, probes: DataFrame,
        k: Int, prefetch: Int, nprobe: Int): DataFrame =
      Similarity.ivfTopKTwoStage(probes, candidates(idx), corpus, coarse,
        IdCol, VecCol, k, prefetch, nprobe, approx, probeCols)
  }

  /** SQ8 payload `(vec_id, qvec, scale, cell)`: candidates rank on their
    * DEQUANTIZED vectors (q·scale — 1 byte/dim read off the index
    * instead of 8).
    */
  final case class Sq8Served(index: DataFrame, coarse: Quantizer) extends Served {
    protected def candidates(idx: DataFrame): DataFrame =
      idx.select(col(IdCol).as("cand_id"),
          transform(col("qvec"), q => q.cast(DoubleType) * col("scale")).as("__dq"),
          col("cell"))
        .withColumn("__dn", Similarity.norm(col("__dq")))
    protected def approx: Column =
      Similarity.dot(col("__pv"), col("__dq")) / (col("__pn") * col("__dn"))
  }

  /** PQ payload `(vec_id, codes, cell)` ([[Similarity.pqEncode]]'s shape),
    * ranked by ASYMMETRIC DISTANCE COMPUTATION: each probe precomputes
    * its ADC lookup tables ONCE (lut[s][c] = ⟨probe subvector s,
    * codebook_s[c]⟩ — m·codes dots per probe, BEFORE the cell join), so
    * ranking a candidate costs m array lookups + adds instead of a
    * dim-wide dot; reconstructed norms are plain per-code constants.
    *
    * Code/LUT pairing contract: stored codes are 1-based POSITIONS in
    * the cell-id-sorted codebook ([[Similarity.pqEncode]]'s rule), and
    * the LUT and normSq arrays here are built in that same `sortBy(_._1)`
    * order — so a SPARSE codebook (a Lloyd's round emptied a cell without
    * renumbering) still pairs every code with its own entry.
    */
  final case class PqServed(index: DataFrame, coarse: Quantizer,
      books: Seq[Quantizer]) extends Served {
    private def sorted: Seq[Seq[Seq[Double]]] = books.map(_.sortBy(_._1).map(_._2))

    // the ADC tables as one array<array<double>> column via the native
    // [[graft.functions.AdcLut]]: the codebooks are ONE reference object,
    // so the plan carries one node instead of m·codes literal dot trees
    // and codegen caches across waves/bundle versions
    override protected def probeCols: Seq[(String, Column)] =
      Seq("__lut" -> graft.functions.AdcLut.lut(col("__pv"), sorted,
        books.head.head._2.size))

    protected def candidates(idx: DataFrame): DataFrame =
      idx.select(col(IdCol).as("cand_id"), col("codes"), col("cell"))

    protected def approx: Column = {
      // reconstructed norm² per (subspace, code): driver-side constants,
      // the same left-to-right fold as list_dot_product(centroid, centroid)
      val normSq: Seq[Seq[Double]] = sorted.map(_.map { cv =>
        var acc = 0.0; cv.foreach(x => acc += x * x); acc
      })
      def codeAt(s: Int): Column = element_at(col("codes"), s + 1).cast(IntegerType)
      val adot = books.indices.map(s =>
        element_at(element_at(col("__lut"), s + 1), codeAt(s))).reduce(_ + _)
      val anormSq = books.indices.map(s =>
        element_at(typedlit(normSq(s)), codeAt(s))).reduce(_ + _)
      adot / (col("__pn") * sqrt(anormSq))
    }
  }

  case object Sq8 extends IndexKind("SQ8", "int8", "assignments8", "centroids",
      "qvec", minRecall = 0.9, driftClusters = 5) {

    final case class Sq8Fit(assign: DataFrame, quantizer: DataFrame) extends Fit {
      def coarse: Quantizer = Similarity.localize(quantizer)
      def payload(warnOnDrops: Boolean): DataFrame =
        Similarity.quantizeInt8(assign, IdCol, VecCol, warnOnDrops)
    }

    def fit(base: DataFrame, dim: Int): Fit = {
      // write-through: the index commit materialises the fit
      val (assign, cent) = Similarity.kmeansFit(base, IdCol, VecCol,
        k = Cells, iters = Iters, materialize = false, withVec = true)
      Sq8Fit(assign, cent)
    }

    def buildStatic(corpus: DataFrame, out: String, dim: Int): Served = {
      val f = fit(corpus, dim)
      // the index write materialises the fit off its cached corpus; the
      // centroids are a driver-local k-row relation — overlapped
      Overlap(writeIndex(f, out),
        f.quantizer.write.mode("overwrite").parquet(s"$out/$quantDir"))
      val spark = corpus.sparkSession
      Sq8Served(spark.read.parquet(s"$out/$indexDir"),
        Similarity.localize(spark.read.parquet(s"$out/$quantDir")))
    }

    def append(delta: DataFrame, assignT: Segmented, quantT: Rewrite,
        batchId: Long, dim: Int): Unit =
      Similarity.appendToIndex(delta, IdCol, VecCol, assignT, quantT, batchId,
        int8 = true)

    def pairedWith(spark: SparkSession, index: DataFrame, assignT: Segmented,
        quantT: Rewrite): Served =
      Sq8Served(index, Similarity.pairedQuantizer(spark, assignT, quantT)
        .getOrElse(sys.error("no centroid version paired with the served index")))

    def refit(corpus: DataFrame, assignT: Segmented, quantT: Rewrite,
        batchId: Long, dim: Int): Unit =
      Similarity.refitIndex(corpus, IdCol, VecCol, k = Cells, iters = Iters,
        assignT, quantT, batchId = batchId, int8 = true)

    /** Dequantized candidates rank close to exact: 2k suffices. */
    def prefetch(k: Int, corpusSize: => Long): Int = 2 * k
  }

  case object Pq extends IndexKind("PQ", "pq", "codes", "bundle",
      "codes", minRecall = 0.8, driftClusters = 4) {

    final case class PqFit(base: DataFrame, coarse: Quantizer,
        books: Seq[Quantizer], dim: Int) extends Fit {
      def quantizer: DataFrame =
        Similarity.pqBundleDF(base.sparkSession, coarse, books)
      def payload(warnOnDrops: Boolean): DataFrame =
        Similarity.pqEncode(base, IdCol, VecCol, books, coarse, dim, warnOnDrops)
    }

    def fit(base: DataFrame, dim: Int): PqFit = {
      // fused bundle fit: coarse + m codebooks in one loop — one corpus
      // cache, one map+agg job per round (bit-identical to the separate
      // kmeansFit + pqFit the oracle CTEs replay)
      val (coarse, books) = Similarity.pqFitBundle(base, IdCol, VecCol,
        k = Cells, iters = Iters, dim = dim, m = Subspaces, codes = Codes)
      PqFit(base, coarse, books, dim)
    }

    // the bundle is metadata-sized and already on the driver: only the
    // codes persist, and the wave serves the fitted bundle
    def buildStatic(corpus: DataFrame, out: String, dim: Int): Served = {
      val f = fit(corpus, dim)
      writeIndex(f, out)
      PqServed(corpus.sparkSession.read.parquet(s"$out/$indexDir"), f.coarse, f.books)
    }

    def append(delta: DataFrame, assignT: Segmented, quantT: Rewrite,
        batchId: Long, dim: Int): Unit =
      Similarity.appendToIndexPq(delta, IdCol, VecCol, assignT, quantT, batchId,
        dim = dim)

    def pairedWith(spark: SparkSession, index: DataFrame, assignT: Segmented,
        quantT: Rewrite): Served = {
      val (coarse, books) = Similarity.pairedPqBundle(spark, assignT, quantT)
        .getOrElse(sys.error("no bundle version paired with the served index"))
      PqServed(index, coarse, books)
    }

    def refit(corpus: DataFrame, assignT: Segmented, quantT: Rewrite,
        batchId: Long, dim: Int): Unit =
      Similarity.refitIndexPq(corpus, IdCol, VecCol, k = Cells, iters = Iters,
        dim = dim, m = Subspaces, codes = Codes, assignT, quantT, batchId = batchId)

    /** Fixture compensation, not the production shape: near-uniform
      * random vectors are PQ's worst case (4 bytes of code carry almost
      * no signal, so ADC recall at a fixed prefetch decays as the corpus
      * grows — measured 0.87/0.97/0.70 at sf0.001/0.01/0.1 with 48, back
      * to 1.0 at n/10). On clustered embeddings the codes carry signal
      * and prefetch stays k-bounded. The oracles bake the same
      * GREATEST(48, n/10) cutoff.
      */
    def prefetch(k: Int, corpusSize: => Long): Int =
      math.max(48L, corpusSize / 10L).toInt
  }
}
