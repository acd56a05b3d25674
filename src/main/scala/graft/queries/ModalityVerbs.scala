package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Components, Modality}
import graft.ops.Modality.{Audio, Image, Video}
import graft.sources.Multimodal
import graft.streaming.StreamOps

/** The media dedup verb family — near-dup pairs, dedup end to end and
  * the streaming near-dup gate — each written ONCE against a
  * [[Modality]] and registered per modality (image, audio, video). The
  * modality only changes the fixture and the fingerprint, never the
  * pipeline; it is fixed by the registered query, never by config.
  *
  * Every verb fingerprints its fixture corpus map-side into two 64-bit
  * fingerprints and finds candidates through q81's pigeonhole band
  * machinery on the first ([[Multimodal.bandedHammingPairs]]: 8
  * byte-bands, pigeonhole-complete for Hamming ≤ 7 over buckets that
  * survive the declared scale-aware hot-band df cap), with the exact
  * `bit_count` post-filter at Hamming ≤ 6. At 100 TB of media the band
  * join shuffles (band, byte, id) triples — never pixels, samples or
  * frames, never all-pairs.
  *
  * Each oracle recomputes the fingerprints from the fixture's generation
  * rule ([[Modality.oracleCtes]]), checking decode → fingerprint
  * end-to-end against what the generator wrote, and replays the capped
  * band candidacy.
  *
  * The text SimHash gates (q126/q209) are not a modality: 32-bit
  * fingerprints in 4 bands over the `documents` table, not a fixture of
  * files, so every shared body here would have to branch on them.
  */
object ModalityVerbs {

  private def fname: Column = regexp_extract(col("path"), "([^/]+)$", 1)

  private def fixtureFiles(spark: SparkSession, m: Modality, fix: String): DataFrame =
    Multimodal.readBinary(spark, s"$fix/${m.glob}")

  /** `fname` plus both fingerprints per fixture file. */
  private def fingerprinted(m: Modality, bin: DataFrame): DataFrame =
    m.fingerprints(bin).select(fname.as("fname"), col(m.bandCol), col(m.rideCol))

  private def bandedPairs(m: Modality, fps: DataFrame): DataFrame =
    Multimodal.bandedHammingPairs(fps, "fname", m.bandCol, m.rideCol, maxHamming = 6)

  /** NEAR-DUP PAIRS (q163 image, q167 audio, q173 video): every fixture
    * pair within Hamming ≤ 6 on the banded fingerprint, with both
    * distances (`ham_a` banded, `ham_d` riding along).
    */
  def nearDup(m: Modality)(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fix = m.fixtures()
    bandedPairs(m, fingerprinted(m, fixtureFiles(spark, m, fix)))
      .select($"d1".as("f1"), $"d2".as("f2"), $"ham_a", $"ham_d")
      .orderBy($"f1".asc_nulls_first, $"f2".asc_nulls_first)
  }

  /** DEDUP END-TO-END (q166 image, q180 audio, q181 video): the text
    * family's q86→q94→q87→q127 chain on media — banded fingerprint
    * pairs, TRUE duplicate clusters via the modality-agnostic
    * quotient-graph contraction (string ids work unchanged: min-label is
    * any total order), keeper = each cluster's lexicographic-minimum
    * file, and the APPLY materialises the surviving corpus (keeper
    * payloads, not just names) before the report reads the kept flags
    * BACK from the artifact ([[Components.applyDedup]]).
    *
    * Scale shape inherited stage by stage: the band join shuffles (band,
    * byte, id) triples, contraction is O(log diameter) rounds over an
    * Ω(Σ cluster²)-free edge list, the apply writes keeper payloads once.
    */
  def dedupApply(m: Modality)(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fix = m.fixtures()
    val bin = fixtureFiles(spark, m, fix)
    val fps = fingerprinted(m, bin)
    val pairs = bandedPairs(m, fps)
    Components.applyDedup(pairs.select($"d1".as("a"), $"d2".as("b")),
      fps.select($"fname".as("id")),
      bin.select(fname.as("fname"), $"content"), "fname", m.scratch)
  }

  /** STREAMING NEAR-DUP GATE (q182 image, q185 audio, q187 video): q126's
    * continuous-ingestion gate shape on media. Each arriving file (a
    * `binaryFile`-source micro-batch row) is decoded and fingerprinted
    * MAP-SIDE inside the stream, exploded into the 8 byte-bands and
    * stream-static joined against the corpus' banded fingerprint index
    * ([[capBands]]); candidates within Hamming ≤ 6 aggregate into a
    * per-file verdict (distinct dup count + nearest dup) in UPDATE mode
    * under an ingest-time watermark, so per-file state evicts as the
    * clock advances. Files with no candidates are restored by a batch
    * right join, so every arrival gets a verdict row.
    *
    * Scale shape: media never leave the map side — the only shuffled
    * rows are (band, byte, id) triples and the k-bounded verdicts. A
    * file's 8 band rows derive from ONE input row, so they land in the
    * same micro-batch and the verdict is complete when it first emits.
    */
  def streamGate(m: Modality, sink: String)(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val fix = m.fixtures()
    val names = fixtureFiles(spark, m, fix).select(fname.as("fname"))
    val index = capBands(m.fingerprints(fixtureFiles(spark, m, fix))
      .select(fname.as("idx_id"), col(m.bandCol).as("idx_fp"),
        explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("bv", expr("shiftright(idx_fp, band * 8) & 255")))
    val arrivals = StreamOps.binaryStream(spark, fix,
      pathGlob = m.glob, maxFilesPerTrigger = 16)
    // ingest-time clock for the oracle harness: derived from the fixture
    // ordinal so the run is deterministic (q126's rule, incl. the +1 day
    // shift past the initial watermark); a deployment passes arrival time
    val ord = regexp_extract($"fname", s"${m.prefix}_(\\d+)_", 1).cast("long") * 3 +
      regexp_extract($"fname", s"_(\\d)\\.${m.ext}$$", 1).cast("long")
    val verdicts = m.fingerprints(arrivals)
      .select(fname.as("fname"), col(m.bandCol))
      .withColumn("ing_ts", (ord + lit(86400L)).cast("timestamp"))
      .withWatermark("ing_ts", "60 seconds") // > the full ordinal span: source file-order can never watermark-drop a verdict
      .withColumn("band", explode(sequence(lit(0), lit(7))))
      .withColumn("bv", expr(s"shiftright(${m.bandCol}, band * 8) & 255"))
      .join(index, Seq("band", "bv"))
      .filter($"idx_id" =!= $"fname" &&
        expr(s"bit_count(${m.bandCol} ^ idx_fp)") <= 6)
      .groupBy($"fname", $"ing_ts")
      .agg(size(collect_set($"idx_id")).cast("long").as("n_dups"),
        min($"idx_id").as("nearest_dup"))
      .select($"fname", $"n_dups", $"nearest_dup")
    StreamOps.runToMemory(verdicts, sink, "update", finalWatermarkBatch = false)
      .join(names, Seq("fname"), "right")
      .select($"fname", coalesce($"n_dups", lit(0L)).as("n_dups"),
        $"nearest_dup")
      .orderBy($"fname".asc_nulls_first)
  }

  /** The declared hot-band df cap applied to a banded fingerprint
    * INDEX (the streaming gates' static side, columns incl. (band,
    * bv)): buckets hotter than the scale-aware effective cap
    * `max(maxDf, ceil(HotBandFactor·n/256))` are dropped from
    * candidacy BY RULE, bounding each arrival's join fan-out at
    * `bands`·effCap rows (8 byte-bands for the 64-bit media
    * fingerprints, 4 for the 32-bit SimHash). Mirrors
    * [[Multimodal.bandedHammingPairs]]'s cap; the ≤ 2048-group df
    * aggregate broadcasts back. Like that operator, the df agg is an
    * EAGER bounded action at construction time (the documented
    * localization trade) — call it when the gate is actually being
    * built, not speculatively.
    */
  private[queries] def capBands(index: DataFrame, maxDf: Int = 12,
      bands: Int = 8): DataFrame = {
    // scale-aware effective cap (Multimodal.bandedHammingPairs' rule):
    // max(maxDf, ceil(HotBandFactor·n/256)), n = banded rows / bands.
    // The ≤2048-group df agg localizes (driver-size by design) and the
    // live set rejoins as a broadcast literal frame — no cross join
    val spark = index.sparkSession
    import spark.implicits._
    val dfRows = index.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__df")).collect()
      .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).longValue,
        r.getLong(2)))
    val n = dfRows.map(_._3).sum / bands.toLong
    val effCap = math.max(maxDf.toLong, math.ceil(
      Multimodal.HotBandFactor.toDouble * n / 256.0).toLong)
    val live = dfRows.filter(_._3 <= effCap)
      .map { case (band, bv, _) => (band, bv) }.toSeq
      .toDF("band", "bv")
    // persisted (CacheScope-released after the query): the capped index
    // is the stream-static join's STATIC side, read once per micro-batch
    // — without the pin every batch re-decodes the corpus media; with it
    // the decode+fingerprint pass runs once per query
    graft.core.CacheScope.adopt(
      index.join(broadcast(live), Seq("band", "bv")).persist())
  }

  /** The multimodal band-candidacy CTEs with the DECLARED hot-band df
    * cap, mirroring [[Multimodal.bandedHammingPairs]] exactly: 8
    * byte-bands over the `named` CTE's `hCol`, (band, bv) buckets with
    * df > GREATEST(maxDf, CEIL(HotBandFactor·n/256)) dropped BY RULE
    * (the scale-aware effective cap; n = COUNT(*) FROM named),
    * `cand(d1, d2)` = the ordered candidate pairs. HUGEINT `>>`/`& 255`
    * equals Spark's arithmetic shiftright+mask on the signed long
    * bit-for-bit (verified for the bit-63 case). Margin already
    * stripped — concatenate.
    */
  private def bandCandCtes(hCol: String, maxDf: Int): String =
    s"""bnd AS (
       |  SELECT f, b.band, ($hCol >> CAST(b.band * 8 AS INT)) & 255 AS bv
       |  FROM named, UNNEST(range(0, 8)) b(band)),
       |hotb AS (
       |  SELECT band, bv FROM (SELECT band, bv, COUNT(*) AS df FROM bnd GROUP BY band, bv)
       |  WHERE df > GREATEST($maxDf, CAST(CEIL(${Multimodal.HotBandFactor} * (SELECT COUNT(*) FROM named) / 256.0) AS BIGINT))),
       |keptb AS (SELECT b.* FROM bnd b ANTI JOIN hotb h ON h.band = b.band AND h.bv = b.bv),
       |cand AS (
       |  SELECT DISTINCT a.f AS d1, b.f AS d2
       |  FROM keptb a JOIN keptb b ON a.band = b.band AND a.bv = b.bv AND a.f < b.f)""".stripMargin

  /** `cand` cut to true near-dups (`hp(d1, d2)`): the exact bit_count
    * post-filter over the capped candidacy. Margin already stripped.
    */
  private def bandPairCtes(hCol: String, maxDf: Int): String =
    bandCandCtes(hCol, maxDf) + ",\n" +
      s"""hp AS (
         |  SELECT c.d1, c.d2 FROM cand c
         |  JOIN named a ON a.f = c.d1 JOIN named b ON b.f = c.d2
         |  WHERE bit_count(xor(a.$hCol, b.$hCol)) <= 6)""".stripMargin

  /** The per-file dup-verdict tail over `hp` (the streaming gates'
    * batch replay): both directions, distinct dup count + min dup,
    * right-joined so every file gets a verdict row. Margin stripped.
    */
  private def bandVerdictSql(maxDf: Int, hCol: String): String =
    bandPairCtes(hCol, maxDf) + ",\n" +
      """cd AS (SELECT d1 AS d, d2 AS x FROM hp
        |        UNION ALL SELECT d2 AS d, d1 AS x FROM hp),
        |m AS (SELECT d, COUNT(DISTINCT x) AS n_dups, MIN(x) AS nearest
        |      FROM cd GROUP BY d)
        |SELECT n.f AS fname, CAST(COALESCE(m.n_dups, 0) AS BIGINT) AS n_dups,
        |  m.nearest AS nearest_dup
        |FROM named n LEFT JOIN m ON m.d = n.f
        |ORDER BY fname NULLS FIRST""".stripMargin

  /** The fingerprint recompute + the capped band candidacy at Hamming
    * ≤ 6; only the Hamming distances reach the output.
    */
  def nearDupSql(m: Modality): String =
    m.oracleCtes + ",\n" + bandPairCtes(m.bandCol, 12) + "\n" +
      s"""SELECT p.d1 AS f1, p.d2 AS f2,
         |  bit_count(xor(a.${m.bandCol}, b.${m.bandCol})) AS ham_a,
         |  bit_count(xor(a.${m.rideCol}, b.${m.rideCol})) AS ham_d
         |FROM hp p JOIN named a ON a.f = p.d1 JOIN named b ON b.f = p.d2
         |ORDER BY f1 NULLS FIRST, f2 NULLS FIRST""".stripMargin

  /** The fingerprint recompute + capped band candidacy at Hamming ≤ 6 +
    * the q94 3-round min-label unrolling (clusters here are
    * base+variant triangles, diameter 1) + the cluster-min keep rule,
    * with no layout write (layout independence is what the gate checks).
    */
  def dedupApplySql(m: Modality): String =
    m.oracleCtes + ",\n" +
      bandPairCtes(m.bandCol, 12) + ",\n" +
      s"""ipairs AS (SELECT d1, d2 FROM hp),
         |e AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM ipairs
         |      UNION ALL SELECT d2 AS a, d1 AS b FROM ipairs),
         |lab0 AS (SELECT f AS id, f AS cluster FROM named),
         |${CurationOps.labRound(1)},
         |${CurationOps.labRound(2)},
         |${CurationOps.labRound(3)},
         |sz AS (SELECT cluster, COUNT(*) AS n FROM lab3 GROUP BY cluster)
         |SELECT l.id AS fname, l.cluster, CAST(s.n AS BIGINT) AS cluster_size,
         |  (l.id = l.cluster) AS kept
         |FROM lab3 l JOIN sz s ON s.cluster = l.cluster
         |ORDER BY fname NULLS FIRST""".stripMargin

  /** The fingerprint recompute + the identical batch verdict (the capped
    * band candidacy cut at Hamming ≤ 6, per-file count + min) — batch
    * boundaries cannot change a verdict because it compares against the
    * WHOLE corpus index (q126's oracle argument), and the df cap is a
    * function of that same index.
    */
  def streamGateSql(m: Modality): String =
    m.oracleCtes + ",\n" + bandVerdictSql(12, m.bandCol)

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q163_image_neardup" -> nearDup(Image) _,
    "q167_audio_neardup" -> nearDup(Audio) _,
    "q173_video_neardup" -> nearDup(Video) _,
    "q166_image_dedup_apply" -> dedupApply(Image) _,
    "q180_audio_dedup_apply" -> dedupApply(Audio) _,
    "q181_video_dedup_apply" -> dedupApply(Video) _,
    "q182_stream_image_gate" -> streamGate(Image, "q182_sink") _,
    "q185_stream_audio_gate" -> streamGate(Audio, "q185_sink") _,
    "q187_stream_video_gate" -> streamGate(Video, "q187_sink") _)

  def oracles: Map[String, String] = Map(
    "q163_image_neardup" -> nearDupSql(Image),
    "q167_audio_neardup" -> nearDupSql(Audio),
    "q173_video_neardup" -> nearDupSql(Video),
    "q166_image_dedup_apply" -> dedupApplySql(Image),
    "q180_audio_dedup_apply" -> dedupApplySql(Audio),
    "q181_video_dedup_apply" -> dedupApplySql(Video),
    "q182_stream_image_gate" -> streamGateSql(Image),
    "q185_stream_audio_gate" -> streamGateSql(Audio),
    "q187_stream_video_gate" -> streamGateSql(Video))
}
