package graft.ops

import org.apache.spark.sql.DataFrame
import graft.sources.Multimodal

/** A media modality of the fixture corpora, as a PARAMETER of the
  * near-dup, dedup-apply and streaming-gate verbs that fingerprint it
  * ([[graft.queries.ModalityVerbs]]) — the "varying structure is a
  * parameter of one procedure" design of Continuously Adaptive
  * Similarity Search (SIGMOD 2020), as [[IndexKind]] does for index
  * payloads. Three values: [[Modality.Image]], [[Modality.Audio]] and
  * [[Modality.Video]].
  *
  * Each value bundles ONLY what differs between the modalities: the
  * fixture generator, the file extension and name prefix, the 64-bit
  * fingerprint function, the banded and riding fingerprint columns, the
  * apply's scratch prefix and the DuckDB CTEs that recompute the
  * fingerprints from the fixture rule. Every fixture is 12 base files
  * × 3 variants named `<prefix>_<ii>_<j>.<ext>`.
  */
sealed abstract class Modality(
    /** File extension of the fixture corpus. */
    val ext: String,
    /** File-name prefix of the fixture corpus. */
    val prefix: String,
    /** The fingerprint the byte-bands are cut from. */
    val bandCol: String,
    /** The second fingerprint, whose Hamming distance rides along. */
    val rideCol: String,
    /** Prefix of the dedup apply's scratch directory. */
    val scratch: String,
    /** The fixture-rule recompute, ending in `named(f, bandCol, rideCol)`.
      * Margin already stripped — concatenate, never re-stripMargin over
      * it (its `|| '_' ||` concat lines would lose their leading pipes).
      */
    val oracleCtes: String) {

  /** Generate the fixture corpus (idempotent); returns its directory. */
  def fixtures(): String

  /** `path` plus [[bandCol]] and [[rideCol]] per decodable file. */
  def fingerprints(binary: DataFrame): DataFrame

  /** The fixture files' glob. */
  def glob: String = s"*.$ext"
}

object Modality {

  /** 8×8-block aHash/dHash of 32×32 gray images ([[Multimodal.perceptualHashes]]). */
  case object Image extends Modality("png", "img", "ahash", "dhash",
      "imgs", phashOracleCtes) {
    def fixtures(): String = Multimodal.ensurePhashFixtures()
    def fingerprints(binary: DataFrame): DataFrame = Multimodal.perceptualHashes(binary)
  }

  /** Frame-energy fingerprints of 16-bit PCM clips ([[Multimodal.audioFingerprints]]). */
  case object Audio extends Modality("wav", "wav", "afp", "dfp",
      "wavs", audioFpOracleCtes) {
    def fixtures(): String = Multimodal.ensureAudioFpFixtures()
    def fingerprints(binary: DataFrame): DataFrame = Multimodal.audioFingerprints(binary)
  }

  /** Temporal fingerprints of every 2nd GVID frame ([[Multimodal.videoFingerprints]]). */
  case object Video extends Modality("gvid", "vid", "afp", "dfp",
      "vids", videoFpOracleCtes) {
    def fixtures(): String = Multimodal.ensureVideoFixtures()
    def fingerprints(binary: DataFrame): DataFrame =
      Multimodal.videoFingerprints(binary, stride = 2)
  }

  // a def, not a val: a case object's constructor reads this object's
  // CTE builders, so a val here could capture a case object that is
  // still being initialised (null)
  def values: Seq[Modality] = Seq(Image, Audio, Video)

  /** Recomputes the block sums + both hashes from the fixture rule
    * (every pixel of every image via range-unnest). The bit math runs in
    * HUGEINT because DuckDB's BIGINT `<<` traps at bit 63.
    */
  private def phashOracleCtes: String =
    """WITH imgs AS (
      |  SELECT i.i, j.j FROM UNNEST(range(0, 12)) i(i), UNNEST(range(0, 3)) j(j)),
      |px AS (
      |  SELECT i, j, (idx // 32) // 4 AS by, (idx % 32) // 4 AS bx,
      |    CASE WHEN j >= 1 AND (idx // 32) // 4 = j - 1 AND (idx % 32) // 4 = j
      |         THEN 255 - base - (idx * 7) % 64
      |         ELSE base + (idx * 7) % 64 END AS v
      |  FROM (
      |    SELECT i, j, idx,
      |      CASE WHEN substr(md5(CAST(((idx // 32) // 4) * 8 + (idx % 32) // 4 AS VARCHAR)
      |                 || '_' || CAST(i AS VARCHAR)), 1, 1) >= '8'
      |           THEN 160 ELSE 0 END AS base
      |    FROM imgs, UNNEST(range(0, 1024)) t(idx))),
      |blk AS (SELECT i, j, by, bx, SUM(v) AS bs FROM px GROUP BY i, j, by, bx),
      |tot AS (SELECT i, j, SUM(bs) AS ts FROM blk GROUP BY i, j),
      |hsh AS (
      |  SELECT b.i, b.j,
      |    BIT_OR(CASE WHEN b.bs * 64 > t.ts
      |                THEN CAST(1 AS HUGEINT) << (b.by * 8 + b.bx)
      |                ELSE CAST(0 AS HUGEINT) END) AS ahash,
      |    BIT_OR(CASE WHEN b.bs > n.bs
      |                THEN CAST(1 AS HUGEINT) << (b.by * 8 + b.bx)
      |                ELSE CAST(0 AS HUGEINT) END) AS dhash
      |  FROM blk b
      |  JOIN tot t ON t.i = b.i AND t.j = b.j
      |  JOIN blk n ON n.i = b.i AND n.j = b.j AND n.by = b.by
      |            AND n.bx = (b.bx + 1) % 8
      |  GROUP BY b.i, b.j),
      |named AS (SELECT printf('img_%02d_%d.png', i, j) AS f, ahash, dhash FROM hsh)""".stripMargin

  /** Recomputes frame energies + both audio fingerprints from the
    * fixture rule (every sample of every clip via range-unnest).
    */
  private def audioFpOracleCtes: String =
    """WITH recs AS (
      |  SELECT i.i, j.j FROM UNNEST(range(0, 12)) i(i), UNNEST(range(0, 3)) j(j)),
      |sm AS (
      |  SELECT i, j, idx // 16 AS f,
      |    CASE WHEN j >= 1 AND idx // 16 = (j - 1) * 8 + j
      |         THEN 16383 - base - (idx * 7) % 64
      |         ELSE base + (idx * 7) % 64 END AS v
      |  FROM (
      |    SELECT i, j, idx,
      |      CASE WHEN substr(md5(CAST(idx // 16 AS VARCHAR)
      |                 || '_' || CAST(i AS VARCHAR)), 1, 1) >= '8'
      |           THEN 15000 ELSE 0 END AS base
      |    FROM recs, UNNEST(range(0, 1024)) t(idx))),
      |frm AS (SELECT i, j, f, SUM(v) AS fs FROM sm GROUP BY i, j, f),
      |tot AS (SELECT i, j, SUM(fs) AS ts FROM frm GROUP BY i, j),
      |hsh AS (
      |  SELECT fm.i, fm.j,
      |    BIT_OR(CASE WHEN fm.fs * 64 > t.ts
      |                THEN CAST(1 AS HUGEINT) << fm.f
      |                ELSE CAST(0 AS HUGEINT) END) AS afp,
      |    BIT_OR(CASE WHEN fm.fs > nx.fs
      |                THEN CAST(1 AS HUGEINT) << fm.f
      |                ELSE CAST(0 AS HUGEINT) END) AS dfp
      |  FROM frm fm
      |  JOIN tot t ON t.i = fm.i AND t.j = fm.j
      |  JOIN frm nx ON nx.i = fm.i AND nx.j = fm.j AND nx.f = (fm.f + 1) % 64
      |  GROUP BY fm.i, fm.j),
      |named AS (SELECT printf('wav_%02d_%d.wav', i, j) AS f, afp, dfp FROM hsh)""".stripMargin

  /** Recomputes the sampled-frame pixel sums + both fingerprints from the
    * fixture rule (every pixel of every SAMPLED frame via range-unnest;
    * unsampled frames never enter, mirroring the stride). With 64
    * equal-size sampled frames the cross-multiplied mean comparisons
    * reduce to `fs·64 > total` and `fs > next fs` (identical truth values
    * to the engine's general fn-weighted form).
    */
  private def videoFpOracleCtes: String =
    """WITH recs AS (
      |  SELECT i.i, j.j FROM UNNEST(range(0, 12)) i(i), UNNEST(range(0, 3)) j(j)),
      |pxl AS (
      |  SELECT i, j, f,
      |    CASE WHEN j >= 1 AND f = (j - 1) * 8 + j
      |         THEN 255 - base - (x + 31 * y) % 16
      |         ELSE base + (x + 31 * y) % 16 END AS v
      |  FROM (
      |    SELECT i, j, f, x.x, y.y,
      |      CASE WHEN substr(md5(CAST(f AS VARCHAR)
      |                 || '_' || CAST(i AS VARCHAR)), 1, 1) >= '8'
      |           THEN 200 ELSE 10 END AS base
      |    FROM recs, UNNEST(range(0, 64)) t(f),
      |         UNNEST(range(0, 32)) x(x), UNNEST(range(0, 32)) y(y))),
      |frm AS (SELECT i, j, f, SUM(v) AS fs FROM pxl GROUP BY i, j, f),
      |tot AS (SELECT i, j, SUM(fs) AS ts FROM frm GROUP BY i, j),
      |hsh AS (
      |  SELECT fm.i, fm.j,
      |    BIT_OR(CASE WHEN fm.fs * 64 > t.ts
      |                THEN CAST(1 AS HUGEINT) << fm.f
      |                ELSE CAST(0 AS HUGEINT) END) AS afp,
      |    BIT_OR(CASE WHEN fm.fs > nx.fs
      |                THEN CAST(1 AS HUGEINT) << fm.f
      |                ELSE CAST(0 AS HUGEINT) END) AS dfp
      |  FROM frm fm
      |  JOIN tot t ON t.i = fm.i AND t.j = fm.j
      |  JOIN frm nx ON nx.i = fm.i AND nx.j = fm.j AND nx.f = (fm.f + 1) % 64
      |  GROUP BY fm.i, fm.j),
      |named AS (SELECT printf('vid_%02d_%d.gvid', i, j) AS f, afp, dfp FROM hsh)""".stripMargin
}
