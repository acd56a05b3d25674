package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{EngineContext, Overlap, Tables}
import graft.core.Tables.t
import graft.exec.{JobRunner, StatusRegistry, TaskRegistry}
import graft.exec.Tasks.TaskSpec
import graft.model.EtlModel
import graft.ops.{IndexKind, MinHashDedup, TextOps}
import graft.streaming.StreamOps

/** Q141 — the END-TO-END CORPUS LIFECYCLE: the full training-corpus
  * pipeline composed as ONE registered model running through the task
  * lifecycle (A5–A13: registry gate, job group, status tables, per-task
  * cache + scratch scopes) — the demonstration that the exec layer and
  * the query library are one engine, the way the reference runs a
  * registered `ayeaye.Model` end-to-end
  * (/root/reference/lib/fossa/control/process.py:89-100).
  */
object LifecycleOps {

  /** The composed pipeline, one stage per shipped query's rule:
    *
    *  1. INGEST + DEDUP (q132): stream the documents through the
    *     SimHash near-dup gate and merge survivors into the segmented
    *     versioned target — exactly-once, arrival-order-free.
    *  2. SOURCE CAP (q133): at most [[ExportOps.SourceCap]] surviving
    *     docs per source by deterministic md5 priority.
    *  3. DECONTAMINATE (q140, scoped to the capped corpus): md5-bucket
    *     train/val/test split; drop every TRAIN doc that 5-gram-Jaccard
    *     near-duplicates any val/test doc.
    *  4. SHARD (q139): deterministic shuffled shard export of the final
    *     train corpus; the returned manifest carries each shard's
    *     order-sensitive checksum, so ANY wrong keep/drop decision in
    *     ANY stage changes the result.
    *
    * Scale shape is inherited stage-by-stage from the queries it
    * composes: (band,bv) equi-join gate + O(batch) segment merges, one
    * source shuffle with WindowGroupLimit, asymmetric train-vs-eval band
    * join sized by the contamination rate, and one shard shuffle with
    * per-shard parallel sorts. Intermediate corpora flow as DataFrames —
    * nothing materializes except the versioned dedup target and the
    * final shards, both task-scratch-scoped.
    */
  final class CorpusLifecycleModel extends EtlModel {
    override def name: String = "CorpusLifecycle"

    override def build(ctx: EngineContext): DataFrame = {
      val spark = ctx.spark
      import spark.implicits._
      val dir = ctx.resolve("{data_dir}")
      val out = graft.core.Scratch.deleteOnExit(ctx.resolve("{output}"))
      val docs = t(spark, dir, "documents")

      // stage 1 — streaming incremental dedup into a segmented target,
      // through the STATS path (q146): each batch commits its survivor
      // segment plus a per-segment (lang → docs, chars) artifact
      val dedupRoot = java.nio.file.Paths.get(out, "dedup")
      val statsRoot = dedupRoot.resolve("stats")
      java.nio.file.Files.createDirectories(dedupRoot)
      val banded = StreamingQueries.bandedDocs(
        StreamOps.docsStream(spark, dir)
          .select($"doc_id", $"text", $"lang", $"n_chars"))
      StreamOps.runForeachBatch(banded,
        StreamingQueries.statsMergeFn(
          StreamingQueries.neardupIndex(docs), dedupRoot, statsRoot))
      // ingest-cadence maintenance (q145 × q146): fold the per-batch
      // segments into one bin-packed segment — content-invariant (the
      // oracle doesn't change), the later stages read 1 segment instead
      // of 1/batch — and carry the stats forward by SUMMING the folded
      // artifacts inside the pointer transaction, so the metadata-only
      // rollup stays answerable after the fold
      val target = graft.ops.VersionedTarget.Segmented(dedupRoot)
      StreamingQueries.statsPreservingCompact(spark, dedupRoot, statsRoot): Unit
      StreamingQueries.statsVacuum(statsRoot,
        target.vacuum(graft.ops.VersionedTarget.DefaultRetain))
      val survivors = StreamingQueries.dedupCurrent(spark, dedupRoot)
        .getOrElse(sys.error("dedup stage committed no version"))
      // the composition invariant, checked in-line where a production
      // operator would alert on it: the metadata-only rollup over the
      // post-compaction artifacts must agree with the corpus itself
      // the metadata rollup (reads the stats artifacts) and the corpus
      // count (reads the committed segments) are independent scalar
      // actions — overlapped (guide §2.6)
      val (rolled, corpusDocs) = Overlap(
        StreamingQueries.statsRollup(spark, dedupRoot, statsRoot)
          .agg(sum($"n_docs")).head.getLong(0),
        survivors.count())
      require(rolled == corpusDocs,
        s"stats rollup ($rolled docs) diverged from corpus ($corpusDocs) after compaction")
      val survivorIds = survivors.select($"doc_id")

      // stage 2 — per-source cap over the survivors (q133 rule)
      val surv = docs.join(survivorIds, Seq("doc_id"), "left_semi")
      val pri = TextOps.hash32($"doc_id".cast(StringType))
      val capW = Window.partitionBy($"source").orderBy(pri.asc, $"doc_id".asc)
      val capped = surv
        .withColumn("keep_rank", row_number().over(capW))
        .filter($"keep_rank" <= ExportOps.SourceCap)
        .select($"doc_id", $"text")

      // stage 3 — split + decontaminate the capped corpus (q140 rule)
      val bucket = expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS INT) % 10")
      // train/eval/finalTrain all derive from this frame, and the
      // contamination join walks both sides — uncached, every consumer
      // re-runs the cap window + survivor semi-join upstream of it
      val withSplit = graft.core.CacheScope.adopt(capped.select($"doc_id", $"text",
        when(bucket < 8, "train").when(bucket === 8, "val")
          .otherwise("test").as("split")).persist())
      val train = withSplit.filter($"split" === "train")
      val eval = withSplit.filter($"split" =!= "train")
      val contaminated = MinHashDedup.crossNgramPairs(
          train, eval, "doc_id", "text",
          gramN = 5, rowsPerBand = 2, minJaccard = 0.5)
        .select($"in_id".as("doc_id")).distinct()
      val finalTrain = train.select($"doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")

      // stage 4 — shuffled shard export of the final corpus (q139 rule)
      val keyed = finalTrain.select($"doc_id",
          md5(concat(lit("shuf42:"), $"doc_id".cast(StringType))).as("k"))
        .withColumn("shard",
          expr(s"CAST(conv(substr(k, 1, 2), 16, 10) AS INT) % ${ExportOps.NumShufShards}"))
      keyed.repartition($"shard").sortWithinPartitions($"shard", $"k")
        .write.mode("overwrite").partitionBy("shard").parquet(s"$out/shards")
      val back = spark.read.parquet(s"$out/shards")
      val rnW = Window.partitionBy($"shard").orderBy($"k")
      val manifest = back.withColumn("rn", row_number().over(rnW))
        .groupBy($"shard".cast(LongType).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum($"rn".cast(LongType) * $"doc_id").cast(LongType).as("ord_checksum"),
          min_by($"doc_id", $"k").as("first_doc"),
          max_by($"doc_id", $"k").as("last_doc"))
      manifest.write.mode("overwrite").parquet(s"$out/manifest")
      spark.read.parquet(s"$out/manifest")
    }
  }

  /** Q141 — run [[CorpusLifecycleModel]] through the full task lifecycle
    * and return the final shard manifest (the q57 pattern: registry gate
    * → runSync under a job group → status must read `complete`).
    */
  def q141(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val registry = new TaskRegistry
    val status = new StatusRegistry
    val runner = new JobRunner(spark, registry, status, maxConcurrentTasks = 2)
    registry.register(new CorpusLifecycleModel)
    val spec = TaskSpec(modelClass = "CorpusLifecycle")
    val outBase = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
      s"/graft_scratch/q141_${spec.taskId}"
    val specWithCtx = spec.copy(
      resolverContext = Map("data_dir" -> dir, "output" -> outBase))
    try {
      runner.runSync(specWithCtx)
      require(status.status(spec.taskId) == "complete",
        s"lifecycle task ended ${status.status(spec.taskId)}")
    } finally runner.close()
    spark.read.parquet(s"$outBase/manifest")
      .orderBy($"shard".asc_nulls_first)
  }

  /** The composed batch rule: each stage's shipped oracle chained over
    * the previous stage's output (dedup over documents, cap over
    * survivors, split + contamination over the capped corpus, shard over
    * the final train set). The ngram pair CTEs are prefixed `n` to
    * coexist with the SimHash CTEs' names in one WITH list.
    */
  val q141Sql: String =
    s"""${StreamingQueries.simhashCtes},
       |dropped AS (
       |  SELECT DISTINCT a.doc_id AS d
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bv = b.bv AND b.doc_id < a.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
       |surv AS (
       |  SELECT doc_id, text, source FROM documents
       |  WHERE doc_id NOT IN (SELECT d FROM dropped)),
       |capped AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      ROW_NUMBER() OVER (PARTITION BY source
       |        ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT),
       |                 doc_id) AS kr
       |    FROM surv)
       |  WHERE kr <= ${ExportOps.SourceCap}),
       |${LlmOps.ngramPairCtesOver("capped", "n")},
       |sp AS (
       |  SELECT doc_id, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
       |                      ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) % 10 AS b
       |        FROM capped)),
       |cp AS (
       |  SELECT CASE WHEN sa.split = 'train' THEN p.d1 ELSE p.d2 END AS in_id
       |  FROM npairs p JOIN sp sa ON sa.doc_id = p.d1
       |               JOIN sp sb ON sb.doc_id = p.d2
       |  WHERE (sa.split = 'train') <> (sb.split = 'train')),
       |fin AS (
       |  SELECT doc_id FROM sp
       |  WHERE split = 'train' AND doc_id NOT IN (SELECT in_id FROM cp)),
       |keyed AS (
       |  SELECT doc_id, md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS k FROM fin),
       |sh AS (
       |  SELECT doc_id, k,
       |    CAST(('0x' || substr(k, 1, 2)) AS INT) % ${ExportOps.NumShufShards} AS shard
       |  FROM keyed),
       |r AS (
       |  SELECT doc_id, k, shard,
       |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k) AS rn
       |  FROM sh)
       |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
       |  CAST(SUM(rn * doc_id) AS BIGINT) AS ord_checksum,
       |  arg_min(doc_id, k) AS first_doc, arg_max(doc_id, k) AS last_doc
       |FROM r GROUP BY 1 ORDER BY shard NULLS FIRST""".stripMargin

  /** The banding-recall SLO the RAG model's dedup stage enforces
    * ([[graft.ops.MinHashDedup.bandingDecision]]'s floor): candidates
    * the generator never surfaces are near-dups that survive dedup.
    */
  val RagBandingFloor = 0.95

  /** Q168 — the RAG INGEST-TO-SERVE LIFECYCLE: the serving-stack
    * composition (dedup → chunk → int8 vector index → hybrid serve)
    * registered as ONE [[EtlModel]] through the A5–A13 task lifecycle —
    * the q141 pattern for the retrieval pipeline the r13–r15 rounds
    * built piecewise (q86/q94 → q134 → q142/q162/q165 → q164):
    *
    *  1. DEDUP at a MEASURED operating point: the q160 measurement
    *     ([[MinHashDedup.bandingMeasure]] over rowsPerBand ∈ {1,2,4} on
    *     a deterministic probe slice) feeds
    *     [[MinHashDedup.bandingDecision]] — the pipeline CONSULTS the
    *     actuator (the q151-refitDecision pattern) instead of shipping
    *     the static 4×2 default; the decided generator's pairs collapse
    *     into TRUE clusters, keeper = cluster-minimum doc. The oracle
    *     replays the knob-INDEPENDENT pair semantics (exact Jaccard ≥
    *     0.5), so the hash gate also proves the decided point loses no
    *     pair on this corpus.
    *  2. CHUNK the kept corpus (q134's rule) and MATERIALISE the chunk
    *     table — the retrieval serving payload; the final result reads
    *     each served doc's chunk summary BACK from the artifact.
    *  3. INT8 INDEX the kept embeddings through the VERSIONED target
    *     (q165's build shape: SQ8 payload behind the atomic pointer,
    *     quantizer tag-paired, zero-vector drops loud).
    *  4. HYBRID SERVE off the live pointer: dequantized prefetch +
    *     exact re-rank dense lists (q162) fused with banded lexical
    *     lists by RRF (q159), each hit joined to its chunk summary.
    *
    * Scale shape inherited stage-by-stage: banded candidates (never
    * all-pairs), O(log d) contraction, map-only chunking, one O(corpus)
    * index build behind a pointer, |probes|·k serving. The oracle
    * chains every stage's shipped CTEs in one WITH.
    */
  /** The RAG model's stage-1 knob selection — q160's measurement over
    * rowsPerBand ∈ {1, 2, 4} fed to the decision verb at the model's
    * recall SLO. Factored so LifecycleSpec can drive the SHIPPED
    * selection path with a degraded corpus and watch the operating
    * point flip off the wide-band default.
    */
  def ragBandingOperatingPoint(docs: DataFrame,
      probes: DataFrame): MinHashDedup.BandingMeasurement = {
    val points = MinHashDedup.bandingMeasureAll(probes, docs, "doc_id",
      "text", gramN = 5, rowsPerBands = Seq(1, 2, 4), minJaccard = 0.5)
    MinHashDedup.bandingDecision(points, RagBandingFloor)
  }

  final class RagLifecycleModel extends EtlModel {
    override def name: String = "RagLifecycle"

    override def build(ctx: EngineContext): DataFrame = {
      val spark = ctx.spark
      import spark.implicits._
      import java.nio.file.{Files, Paths}
      import graft.ops.{Components, VersionedTarget}
      val dir = ctx.resolve("{data_dir}")
      val out = graft.core.Scratch.deleteOnExit(ctx.resolve("{output}"))
      val docs = t(spark, dir, "documents")
      val emb = t(spark, dir, "embeddings").coalesce(8)

      // stage 1 — dedup, operating point CHOSEN BY MEASUREMENT: the
      // probe slice is a ~1% deterministic sample — the truth side of
      // the measurement is probe×corpus exact Jaccard, so the sample
      // size IS the evaluation budget (at 100 TB this is the scheduled
      // evaluation pass, never the production path; q160's shape)
      val op = ragBandingOperatingPoint(docs,
        docs.filter($"doc_id" % 100 === 3))
      require(op.recall >= RagBandingFloor, // loud: no point meets the SLO
        s"no banding operating point meets recall >= $RagBandingFloor " +
          s"(best: rowsPerBand=${op.rowsPerBand} at ${op.recall})")
      val pairs = MinHashDedup.ngramJaccardPairs(docs, "doc_id", "text",
        gramN = 5, rowsPerBand = op.rowsPerBand, minJaccard = 0.5)
      val cs = graft.core.CacheScope.adopt(Components.clustersWithSize(
        pairs.select($"d1".as("a"), $"d2".as("b")),
        docs.select($"doc_id".as("id"))))
      val keepIds = cs.filter($"id" === $"cluster").select($"id".as("doc_id"))
      // kept feeds THREE actions (the chunk-artifact write, the lexical
      // arm of the serve, and — via keepIds — nothing else reuses it, but
      // the lexical pipeline alone walks it twice): cache it so each
      // action reads the deduped corpus instead of re-running the
      // docs⋈keepers semi-join. Scope-released by the task's CacheScope.
      val kept = graft.core.CacheScope.adopt(
        docs.join(keepIds, Seq("doc_id"), "left_semi").persist())

      // stage 2 — chunk the kept corpus (q134 rule) into the serving
      // payload artifact. The chunk write and the whole stage-3 index
      // build are INDEPENDENT consumers of the deduped corpus (chunks
      // read `kept`, the index reads `keepIds`), so the pure chunk write
      // runs on one helper thread while stage 3 — whose kmeansFit adopts
      // its corpus cache into the ambient (task) CacheScope and so must
      // stay on THIS thread — proceeds below (guide §2.6).
      val chunkPool = java.util.concurrent.Executors.newFixedThreadPool(1)
      val chunkEc: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(chunkPool)
      val chunkF = scala.concurrent.Future {
        ExportOps.chunkDocs(kept)
          .write.mode("overwrite").parquet(s"$out/chunks")
      }(chunkEc)

      // stage 3 — int8 index of the kept embeddings through the
      // versioned target (q165's build shape)
      val keptEmb = emb.join(keepIds.select($"doc_id".as("vec_id")),
        Seq("vec_id"), "left_semi")
      val aroot = Paths.get(out, "assignments8")
      val croot = Paths.get(out, "centroids")
      Seq(aroot, croot).foreach(Files.createDirectories(_))
      val assignT = VersionedTarget.Segmented(aroot,
        partitionCols = Seq("cell"), clusterCommits = true)
      val centT = VersionedTarget.Rewrite(croot)
      try {
        // two commits on DIFFERENT roots, overlapped beside the
        // helper-thread chunk write above
        IndexKind.Sq8.commitBase(IndexKind.Sq8.fit(keptEmb, dim = 64),
          assignT, centT, warnOnDrops = true)
      } finally {
        // the serve below reads the chunk artifact: join the write before
        // either continuing or propagating a stage-3 failure
        scala.concurrent.Await.ready(chunkF,
          scala.concurrent.duration.Duration.Inf): Unit
        chunkPool.shutdown()
      }
      chunkF.value.get.get // rethrow a chunk-write failure, if any
      val csum = spark.read.parquet(s"$out/chunks")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          min_by($"chunk_md5", $"chunk_id").as("head_md5"))

      // stage 4 — hybrid serve off the live pointer; every hit carries
      // its chunk summary read back from the stage-2 artifact
      val dense = IndexKind.Sq8.served(spark, assignT, centT)
        .topK(keptEmb, keptEmb.filter($"vec_id" < 10), k = 10, prefetch = 20,
          nprobe = 2)
        .select($"probe_id", $"cand_id", $"rn".as("rn_d"))
      val served = LlmOps.rrfFuse(dense, LlmOps.lexicalTopKOf(kept))
        .join(csum.select($"doc_id".as("cand_id"), $"n_chunks", $"head_md5"),
          Seq("cand_id"), "left")
        .select($"probe_id", $"cand_id", $"rrf6", $"rn",
          coalesce($"n_chunks", lit(0L)).as("n_chunks"), $"head_md5")
      served.write.mode("overwrite").parquet(s"$out/served")
      spark.read.parquet(s"$out/served")
    }
  }

  /** Q168 — run [[RagLifecycleModel]] through the full task lifecycle
    * (registry gate → runSync under a job group → status `complete`)
    * and return the served fusion table.
    */
  def q168(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val registry = new TaskRegistry
    val status = new StatusRegistry
    val runner = new JobRunner(spark, registry, status, maxConcurrentTasks = 2)
    registry.register(new RagLifecycleModel)
    val spec = TaskSpec(modelClass = "RagLifecycle")
    val outBase = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
      s"/graft_scratch/q168_${spec.taskId}"
    val specWithCtx = spec.copy(
      resolverContext = Map("data_dir" -> dir, "output" -> outBase))
    try {
      runner.runSync(specWithCtx)
      require(status.status(spec.taskId) == "complete",
        s"RAG lifecycle task ended ${status.status(spec.taskId)}")
    } finally runner.close()
    spark.read.parquet(s"$outBase/served")
      .orderBy($"probe_id".asc_nulls_first, $"rn".asc_nulls_first)
  }

  /** Every stage's shipped oracle chained in ONE WITH: exact-Jaccard
    * dedup pairs (knob-independent — the measured operating point must
    * lose no pair for the hash to hold) → 3-round min-label clusters →
    * cluster-min keepers → kept-corpus lexical lists + kept-embedding
    * SQ8 dense lists → RRF fusion → per-hit chunk summary (q134's rule).
    */
  val q168Sql: String = {
    val dedup =
      s"""${LlmOps.ngramPairCtesOver("documents", "dd")},
         |e AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM ddpairs
         |      UNION ALL SELECT d2 AS a, d1 AS b FROM ddpairs),
         |lab0 AS (SELECT doc_id AS id, doc_id AS cluster FROM documents),
         |${CurationOps.labRound(1)},
         |${CurationOps.labRound(2)},
         |${CurationOps.labRound(3)},
         |keep AS MATERIALIZED (SELECT id FROM lab3 WHERE id = cluster),
         |kdocs AS MATERIALIZED (
         |  SELECT * FROM documents WHERE doc_id IN (SELECT id FROM keep))""".stripMargin
    val keptVecs = "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v " +
      "FROM embeddings WHERE vec_id IN (SELECT id FROM keep)"
    val tail =
      s"""csum AS (
         |  SELECT doc_id, COUNT(*) AS n_chunks,
         |    md5(substr(text, 1, ${ExportOps.ChunkChars})) AS head_md5
         |  FROM kdocs, UNNEST(range(0, CAST(n_chars AS BIGINT), ${ExportOps.ChunkStride})) g(s)
         |  WHERE n_chars > 0 GROUP BY doc_id, text)
         |SELECT r.probe_id, r.cand_id, r.rrf6, r.rn,
         |  COALESCE(c.n_chunks, 0) AS n_chunks, c.head_md5
         |FROM rrfranked r LEFT JOIN csum c ON c.doc_id = r.cand_id
         |WHERE r.rn <= 5
         |ORDER BY probe_id NULLS FIRST, rn NULLS FIRST""".stripMargin
    "WITH " + dedup + ",\n" +
      LlmOps.kmeansCtes("TRUE", keptVecs).stripPrefix("WITH ") + ",\n" +
      LlmOps.ngramPairCtesOver("kdocs") + ",\n" +
      LlmOps.lexTopKCtes + ",\n" +
      LlmOps.sq8DenseTopKCtes + ",\n" +
      LlmOps.rrfCoreCtes + ",\n" + tail
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_corpus_lifecycle" -> (q141 _),
    "q168_rag_lifecycle" -> (q168 _))

  def oracles: Map[String, String] = Map(
    "q141_corpus_lifecycle" -> q141Sql,
    "q168_rag_lifecycle" -> q168Sql)
}
