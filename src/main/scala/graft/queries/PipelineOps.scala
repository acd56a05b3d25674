package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables._
import graft.ops.TextOps

/** Round-6 pipeline additions (q100–q104): the remaining operations a
  * 100 TB training-data/lakehouse pipeline runs that the surface did not
  * yet cover — corpus-wide boilerplate line removal (the C4 shape),
  * BM25 relevance ranking, Count-Min sketch frequency estimation,
  * CDC-style MERGE/upsert, and column profiling. All oracle-gated
  * against DuckDB.
  */
object PipelineOps {

  /** Q100 — BOILERPLATE LINE REMOVAL (the C4/RefinedWeb shape): break
    * each document into "lines", count every line's occurrences across
    * the WHOLE corpus, delete lines that repeat ≥ 3 times anywhere, and
    * reassemble each document's surviving lines in their original order.
    *
    * The fixture text has no newlines, so a "line" here is a chunk of 10
    * consecutive tokens — the plumbing (explode → corpus-wide frequency →
    * anti-join → ordered reassembly) is byte-identical to newline-split
    * production text.
    *
    * Scale shape: the boiler set (distinct lines above threshold) is
    * small by construction — boilerplate is what repeats — so the
    * anti-join broadcasts; the only wide exchange is the line-frequency
    * hash-agg, which map-side combines. Reassembly is one partial-able
    * collect_list per doc keyed by the line ordinal.
    */
  def q100(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = t(spark, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .withColumn("n_lines", ceil(size($"toks") / lit(10.0)).cast(LongType))
    val lineArr = when($"n_lines" > lit(0L),
        transform(sequence(lit(0L), $"n_lines" - lit(1L)),
          i => array_join(slice($"toks", (i * 10 + 1).cast(IntegerType), lit(10)), " ")))
      .otherwise(array().cast(ArrayType(StringType)))
    // the line stream feeds BOTH the boiler-frequency agg and the keep
    // filter; persist so the corpus is tokenized once, not per subtree
    // (Catalyst does not CSE across join branches). CacheScope-tracked:
    // the consumer releases it after the action (see core.CacheScope).
    val lines = graft.core.CacheScope.track(
      base.select($"doc_id", posexplode(lineArr).as(Seq("line_no", "line"))))
    val boiler = lines.groupBy($"line").agg(count(lit(1)).as("c"))
      .filter($"c" >= 3).select($"line")
    val kept = lines.join(broadcast(boiler), Seq("line"), "left_anti")
    val clean = kept.groupBy($"doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(array_sort(collect_list(struct($"line_no", $"line"))),
        s => s.getField("line")), " ").as("text_clean"))
    base.join(clean, Seq("doc_id"), "left")
      .select($"doc_id", $"n_lines",
        ($"n_lines" - coalesce($"n_kept", lit(0L))).as("n_removed"),
        md5(coalesce($"text_clean", lit(""))).as("clean_md5"))
      .orderBy($"doc_id".asc_nulls_first)
  }

  val q100Sql: String =
    s"""${LlmOps.tokCte},
       |ln AS (SELECT doc_id, CAST(ceil(len(toks) / 10.0) AS BIGINT) AS n_lines, toks FROM tok),
       |lines AS (
       |  SELECT doc_id, r.i AS line_no,
       |    array_to_string(toks[(r.i*10+1):(r.i*10+10)], ' ') AS line
       |  FROM ln, UNNEST(range(0, n_lines)) AS r(i)),
       |freq AS (SELECT line, COUNT(*) AS c FROM lines GROUP BY line),
       |kept AS (SELECT l.doc_id, l.line_no, l.line FROM lines l
       |         WHERE l.line NOT IN (SELECT line FROM freq WHERE c >= 3)),
       |clean AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(line, ' ' ORDER BY line_no) AS text_clean
       |  FROM kept GROUP BY doc_id)
       |SELECT n.doc_id, n.n_lines,
       |  n.n_lines - COALESCE(c.n_kept, 0) AS n_removed,
       |  md5(COALESCE(c.text_clean, '')) AS clean_md5
       |FROM ln n LEFT JOIN clean c ON c.doc_id = n.doc_id
       |ORDER BY n.doc_id NULLS FIRST""".stripMargin

  /** Q101 — BM25 TOP-K RETRIEVAL for a fixed query over the corpus
    * (k1=1.2, b=0.75, idf = ln(1 + (N−df+0.5)/(df+0.5))): the ranking
    * function behind every lexical retrieval / RAG candidate stage.
    *
    * One token explode filtered to the query terms (the posting-list
    * scan), two slim broadcast frames (per-term df, global N/avgdl), and
    * a per-doc sum in FIXED term order — each term's contribution is
    * summed as `SUM(CASE term)` so floating addition order is
    * deterministic and engine-portable. Top-10 via TakeOrdered on the
    * 6dp-rounded score.
    */
  val bm25Terms: Seq[String] = Seq("spark", "merge", "vector")

  def q101(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = graft.core.CacheScope.track(t(spark, dir, "documents")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .withColumn("dl", size($"toks").cast(LongType))
    ) // feeds the N/avgdl stats AND the posting-list explode
    val stats = d.agg(count(lit(1)).as("__n"), sum($"dl").as("__sumdl"))
    val tf = d.select($"doc_id", $"dl", explode($"toks").as("term"))
      .filter($"term".isin(bm25Terms: _*))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfc), "term").crossJoin(broadcast(stats))
      .withColumn("avgdl", $"__sumdl".cast(DoubleType) / $"__n".cast(DoubleType))
      .withColumn("s",
        log(lit(1.0) + ($"__n".cast(DoubleType) - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
          * ($"tf" * lit(2.2))
          / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")))
    val termSum = bm25Terms.map(t => sum(when($"term" === t, $"s").otherwise(lit(0.0))))
      .reduce(_ + _)
    scored.groupBy($"doc_id").agg(round(termSum, 6).as("score6"))
      .orderBy($"score6".desc, $"doc_id".asc).limit(10)
      .withColumn("rank",
        row_number().over(Window.orderBy($"score6".desc, $"doc_id".asc)).cast(LongType))
      .select($"rank", $"doc_id", $"score6")
      .orderBy($"rank".asc_nulls_first)
  }

  val q101Sql: String = {
    val inList = bm25Terms.map(t => s"'$t'").mkString(", ")
    val termSum = bm25Terms
      .map(t => s"SUM(CASE WHEN term = '$t' THEN s ELSE 0.0 END)")
      .mkString(" + ")
    s"""${LlmOps.tokCte},
       |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM tok),
       |st AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM d),
       |tf AS (SELECT doc_id, dl, t.tok AS term, COUNT(*) AS tf
       |       FROM d, UNNEST(toks) AS t(tok) WHERE t.tok IN ($inList)
       |       GROUP BY doc_id, dl, t.tok),
       |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT f.doc_id, f.term,
       |         ln(1.0 + (CAST(s.n AS DOUBLE) - x.df + 0.5) / (x.df + 0.5))
       |           * (f.tf * 2.2)
       |           / (f.tf + 1.2 * (0.25 + 0.75 * f.dl / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))) AS s
       |       FROM tf f JOIN dfx x USING (term) CROSS JOIN st s),
       |agg AS (SELECT doc_id, ROUND($termSum, 6) AS score6 FROM sc GROUP BY doc_id),
       |top AS (SELECT doc_id, score6 FROM agg ORDER BY score6 DESC, doc_id ASC LIMIT 10)
       |SELECT ROW_NUMBER() OVER (ORDER BY score6 DESC, doc_id ASC) AS rank, doc_id, score6
       |FROM top ORDER BY rank NULLS FIRST""".stripMargin
  }

  /** Q102 — COUNT-MIN SKETCH frequency estimation: d=4 hash rows ×
    * w=1024 buckets over every token occurrence in the corpus; the
    * estimate for a token is the MIN over its 4 bucket counters —
    * always ≥ the true count, with collision overcount shrinking as w
    * grows. The sketch itself is a 4096-row frame built by ONE map-side-
    * combinable hash-agg — the mergeable-sketch shape that replaces an
    * exact (token → count) table when the vocabulary doesn't fit.
    *
    * Verified here against the 20 highest-frequency tokens: true count,
    * CMS estimate, and the overcount. Hashes are the engine-portable
    * md5-based [[TextOps.hash32]] so DuckDB reproduces the sketch
    * bit-for-bit.
    */
  private val cmParams: Seq[(Int, Long, Long)] =
    Seq((0, 131L, 57L), (1, 1031L, 17L), (2, 8191L, 3L), (3, 524287L, 11L))
  private val cmP = 1048573L // just under 2^20: a,b < p keep a*x < 2^52 (exact in i64)
  private val cmW = 1024L

  private def cmBuckets(x: Column): Column =
    array(cmParams.map { case (i, a, b) =>
      struct(lit(i).as("i"), (((lit(a) * x + lit(b)) % cmP) % cmW).as("bucket"))
    }: _*)

  def q102(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val occ = graft.core.CacheScope.track(t(spark, dir, "documents")
      .select(explode(TextOps.tokens($"text")).as("token"))
    ) // feeds the sketch build AND the true-count top-20
    val sketch = occ
      .select(explode(cmBuckets(TextOps.hash32($"token"))).as("h"))
      .select($"h.i".as("i"), $"h.bucket".as("bucket"))
      .groupBy($"i", $"bucket").agg(count(lit(1)).as("c"))
    val top = occ.groupBy($"token").agg(count(lit(1)).as("true_cnt"))
      .orderBy($"true_cnt".desc, $"token".asc).limit(20)
    val probes = top
      .select($"token", $"true_cnt",
        explode(cmBuckets(TextOps.hash32($"token"))).as("h"))
      .select($"token", $"true_cnt", $"h.i".as("i"), $"h.bucket".as("bucket"))
    probes.join(broadcast(sketch), Seq("i", "bucket"))
      .groupBy($"token", $"true_cnt").agg(min($"c").as("est_cnt"))
      .select($"token", $"true_cnt", $"est_cnt",
        ($"est_cnt" - $"true_cnt").as("overcount"))
      .orderBy($"true_cnt".desc, $"token".asc)
  }

  val q102Sql: String = {
    val paramRows = cmParams
      .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
    s"""${LlmOps.tokCte},
       |params(i, a, b) AS (VALUES $paramRows),
       |occ AS (SELECT t.tok AS token,
       |          CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) AS x
       |        FROM tok, UNNEST(toks) AS t(tok)),
       |sk AS (SELECT p.i, ((p.a * o.x + p.b) % $cmP) % $cmW AS bucket, COUNT(*) AS c
       |       FROM occ o CROSS JOIN params p GROUP BY 1, 2),
       |tru AS (SELECT token, MIN(x) AS x, COUNT(*) AS true_cnt FROM occ GROUP BY token
       |        ORDER BY true_cnt DESC, token ASC LIMIT 20),
       |est AS (SELECT t.token, t.true_cnt, MIN(s.c) AS est_cnt
       |        FROM tru t CROSS JOIN params p
       |        JOIN sk s ON s.i = p.i AND s.bucket = ((p.a * t.x + p.b) % $cmP) % $cmW
       |        GROUP BY t.token, t.true_cnt)
       |SELECT token, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
       |FROM est ORDER BY true_cnt DESC, token ASC""".stripMargin
  }

  /** Q103 — CDC MERGE / UPSERT (the Delta/Iceberg MERGE INTO shape,
    * expressed as one full-outer join): a deterministic change set —
    * updates (keys ≡0 mod 10: +10% price), deletes (keys ≡1 mod 10) and
    * inserts (keys ≡2 mod 100, re-keyed to the NEGATED key, disjoint
    * from the positive base domain at any scale factor) — applied
    * onto `orders` in a single pass. Update arithmetic runs in exact
    * DECIMAL and surfaces as DOUBLE.
    *
    * Scale shape: both sides shuffle-partition on the merge key once and
    * sort-merge — the layout a 100 TB nightly CDC apply uses (with
    * bucketed base tables the exchange on the base side disappears;
    * see q85).
    */
  def q103(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    q103Merged(spark, dir).orderBy($"o_orderkey".asc_nulls_first)
  }

  /** The q103 merge WITHOUT its presentation sort — what downstream
    * composition (q114's snapshot diff) consumes: the audit's own join
    * would destroy the order anyway, so sorting first is a wasted full
    * range-exchange.
    */
  private[queries] def q103Merged(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = t(spark, dir, "orders")
    // the CDC batch in ONE scan: the three change kinds are disjoint
    // key classes (%10=0 / %10=1 / %100=2), so each row emits at most
    // one change row — a single conditional projection replaces the
    // former three-scan union
    val ch = o.select(
        when($"o_orderkey" % 100 === 2, -$"o_orderkey")
          .otherwise($"o_orderkey").as("k"),
        when($"o_orderkey" % 10 === 0, "U")
          .when($"o_orderkey" % 10 === 1, "D")
          .when($"o_orderkey" % 100 === 2, "I").as("op"),
        when($"o_orderkey" % 10 === 0,
          round(dec2($"o_totalprice") * lit(new java.math.BigDecimal("1.1")), 2)
            .cast(DoubleType))
          .when($"o_orderkey" % 100 === 2, $"o_totalprice".cast(DoubleType))
          .as("nt"))
      .filter($"op".isNotNull)
    o.join(ch, $"o_orderkey" === $"k", "full_outer")
      .filter($"op".isNull || $"op" =!= "D")
      .select(coalesce($"o_orderkey", $"k").as("o_orderkey"),
        when($"op" === "I", lit("NEW")).otherwise($"o_orderstatus").as("status"),
        when($"op".isin("U", "I"), $"nt")
          .otherwise($"o_totalprice".cast(DoubleType)).as("total"))
  }

  val q103Sql: String =
    """WITH ch AS (
      |  SELECT o_orderkey AS k, 'U' AS op,
      |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE) AS nt
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'D', CAST(NULL AS DOUBLE) FROM orders WHERE o_orderkey % 10 = 1
      |  UNION ALL
      |  SELECT -o_orderkey, 'I', CAST(o_totalprice AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 100 = 2)
      |SELECT COALESCE(b.o_orderkey, c.k) AS o_orderkey,
      |  CASE WHEN c.op = 'I' THEN 'NEW' ELSE b.o_orderstatus END AS status,
      |  CASE WHEN c.op IN ('U','I') THEN c.nt ELSE CAST(b.o_totalprice AS DOUBLE) END AS total
      |FROM orders b FULL JOIN ch c ON c.k = b.o_orderkey
      |WHERE c.op IS NULL OR c.op <> 'D'
      |ORDER BY o_orderkey NULLS FIRST""".stripMargin

  /** Q104 — COLUMN PROFILING: count / nulls / exact NDV / min / max /
    * exact interpolated median for a set of columns in ONE scan — the
    * stats pass every ingest pipeline runs before planning (and the
    * numbers AQE-style optimizers feed on). This is the EXACT ORACLE
    * TWIN: the production default for profiling is [[q122]], the same
    * plan on constant-state sketches (decision + measured cost curve in
    * BASELINE.md / `tools/SketchCurve`, removed after 7154dcb — the curve also measured a
    * grouped distinct-value alternative to this multi-`countDistinct` +
    * `percentile` shape and found it SLOWER at sf0.1, so the built-in
    * plan stays). Exact NDV/median is inherently NDV-bounded state on
    * any engine; fine for bounded-domain columns like these, q122 for
    * unbounded 100 TB domains.
    */
  private val profileCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  def q104(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = t(spark, dir, "lineitem")
    // TWO single-row aggregations instead of one, on purpose. `percentile`
    // is an ObjectHashAggregate (imperative buffer, no codegen) and the
    // multi-column countDistinct plans an Expand (one row replica per
    // distinct group): fused, the ONE agg drags the Expand-multiplied
    // input through the interpreted object path — measured 7 s at sf0.1.
    // Split, the distinct/min/max side stays whole-stage-codegen'd over
    // the Expand and the object path sees only plain rows for 3
    // percentile buffers (~2 s total; the broadcast join of two 1-row
    // frames is free). Same results, same oracle.
    val exactAggs = profileCols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"ndv_$c"),
        round(min(col(c)), 6).as(s"min_$c"),
        round(max(col(c)), 6).as(s"max_$c"))
    }
    val medAggs = profileCols.map { c =>
      round(expr(s"percentile($c, 0.5)"), 6).as(s"p50_$c")
    }
    val row = l.agg(count(lit(1)).as("n"), exactAggs: _*)
      .join(broadcast(l.agg(medAggs.head, medAggs.tail: _*)))
    val stats = array(profileCols.map { c =>
      struct(lit(c).as("col_name"), $"n",
        ($"n" - col(s"nn_$c")).as("n_null"), col(s"ndv_$c").as("ndv"),
        col(s"min_$c").as("min6"), col(s"max_$c").as("max6"),
        col(s"p50_$c").as("p50_6"))
    }: _*)
    row.select(explode(stats).as("s")).select($"s.*")
      .orderBy($"col_name".asc_nulls_first)
  }

  val q104Sql: String = profileCols.map { c =>
    s"""SELECT '$c' AS col_name, COUNT(*) AS n,
       |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS ndv,
       |  ROUND(MIN($c), 6) AS min6, ROUND(MAX($c), 6) AS max6,
       |  ROUND(quantile_cont($c, 0.5), 6) AS p50_6
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name NULLS FIRST")

  /** Q122 — the q104 profile with the 100 TB PRODUCTION estimators
    * swapped in: `approx_count_distinct` (HLL++, fixed-size mergeable
    * sketch instead of an exact distinct whose hash table grows with
    * NDV) and `approx_percentile` (KLL-style quantile sketch instead of
    * `percentile`'s per-value count buffer). Same one-scan multi-agg
    * plan as q104; only the per-group state changes from unbounded to
    * constant. Sketches have no SQL-portable oracle (the q23 pattern):
    * the driver records rows>0 and PipelineOpsSpec bounds the error
    * against the exact q104 twin (NDV within 5%, p50 within the
    * declared 1/accuracy rank error).
    */
  def q122(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = t(spark, dir, "lineitem")
    val aggs = profileCols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        // rsd 0.02, from the measured curve (`tools/SketchCurve`
        // at 7154dcb, sf0.1):
        // rsd 0.01 costs 2.39 s vs 1.00 s at 0.02 — the HLL register
        // array quadruples per halving of rsd and its per-row update
        // dominated the whole query — while observed NDV deviation at
        // 0.02 stays ≤2% on every profiled column. The spec bounds NDV
        // at 3·rsd = 6% vs the exact q104 twin (estimates are
        // deterministic per dataset; the bound is a 3σ design margin,
        // not a per-run coin flip).
        approx_count_distinct(col(c), 0.02).as(s"ndv_$c"),
        round(min(col(c)), 6).as(s"min_$c"),
        round(max(col(c)), 6).as(s"max_$c"),
        round(expr(s"approx_percentile($c, 0.5, 10000)").cast(DoubleType), 6)
          .as(s"p50_$c"))
    }
    val row = l.agg(count(lit(1)).as("n"), aggs: _*)
    val stats = array(profileCols.map { c =>
      struct(lit(c).as("col_name"), $"n",
        ($"n" - col(s"nn_$c")).as("n_null"), col(s"ndv_$c").as("ndv"),
        col(s"min_$c").as("min6"), col(s"max_$c").as("max6"),
        col(s"p50_$c").as("p50_6"))
    }: _*)
    row.select(explode(stats).as("s")).select($"s.*")
      .orderBy($"col_name".asc_nulls_first)
  }

  /** Q107 — Z-ORDER LAYOUT WRITE + SKIPPING READ: materialise `orders`
    * range-partitioned AND sorted by the q99 Morton key
    * (`repartitionByRange(8) + sortWithinPartitions`), then answer a
    * zkey-range predicate from the laid-out copy. Range partitioning
    * makes the per-file zkey intervals pairwise DISJOINT (asserted in
    * PipelineOpsSpec), so the parquet reader's row-group min/max stats
    * skip every file outside the predicate — the mechanics Delta/Iceberg
    * OPTIMIZE ZORDER relies on, here as a plain Spark write. The oracle
    * answers the same predicate from the raw table: layout must never
    * change results.
    */
  /** The q107 layout location — application-scoped so concurrent processes on
    * the same fixture never overwrite each other's lazily-read files.
    * Shared with PipelineOpsSpec's per-file disjointness assertion.
    */
  def zorderOutDir(spark: SparkSession, dir: String): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    graft.core.Scratch.deleteOnExit(
      java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        "graft-zorder", s"orders_${slug}_${spark.sparkContext.applicationId}").toString)
  }

  def q107(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (xb, yb) = CurationOps.zBuckets(spark)
    val keyed = t(spark, dir, "orders")
      .select($"o_orderkey", xb.as("xb"), yb.as("yb"))
      .withColumn("zkey", CurationOps.zInterleave($"xb", $"yb"))
    val out = zorderOutDir(spark, dir)
    keyed.repartitionByRange(8, $"zkey")
      .sortWithinPartitions($"zkey", $"o_orderkey")
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .filter($"zkey" >= 1000L && $"zkey" < 5000L)
      .select($"o_orderkey", $"zkey")
      .orderBy($"o_orderkey".asc_nulls_first)
  }

  val q107Sql: String =
    s"""WITH ${CurationOps.zBucketsSqlCte},
       |z AS (SELECT o_orderkey, ${CurationOps.zInterleaveSql} AS zkey FROM b)
       |SELECT o_orderkey, zkey FROM z
       |WHERE zkey >= 1000 AND zkey < 5000
       |ORDER BY o_orderkey NULLS FIRST""".stripMargin

  /** Q108 — SCD2 DIMENSION BUILD: turn the order event log into
    * slowly-changing-dimension validity intervals per customer —
    * valid_from = the change date, valid_to = the NEXT change's date
    * (NULL = current) via one lead() window, the standard warehouse
    * versioned-dimension shape. One shuffle on the dimension key, then
    * the window streams each partition; at 100 TB the key count is the
    * parallelism and no state outlives a partition.
    */
  def q108(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    t(spark, dir, "orders").filter($"o_custkey" < 1000)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_orderstatus")
      .withColumn("valid_to", lead($"o_orderdate", 1).over(w))
      .select($"o_custkey", $"o_orderkey",
        $"o_orderdate".as("valid_from"), $"valid_to",
        $"o_orderstatus".as("status"), $"valid_to".isNull.as("is_current"))
      .orderBy($"o_custkey".asc_nulls_first, $"o_orderkey".asc_nulls_first)
  }

  val q108Sql: String =
    """WITH s AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
      |    LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS valid_to,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_custkey < 1000)
      |SELECT o_custkey, o_orderkey, valid_from, valid_to, status,
      |  (valid_to IS NULL) AS is_current
      |FROM s
      |ORDER BY o_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin

  /** Application-scoped scratch root for q130/q131 layout experiments
    * (same pattern as [[zorderOutDir]]; JVM-exit cleanup via Scratch).
    * Shared with PipelineOpsSpec's file-count assertions.
    */
  def layoutDir(spark: SparkSession, dir: String, op: String): String = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    graft.core.Scratch.deleteOnExit(
      java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft-$op", s"docs_${slug}_${spark.sparkContext.applicationId}").toString)
  }

  /** Write `docs` as two schema generations under `out` (gen=1: the
    * minimal pre-evolution 3-column schema, even doc_ids; gen=2: the
    * full current schema, odd doc_ids) and merge-read them back as one
    * table. The `gen` partition directory becomes an EXPLICIT generation
    * column on the merged read — the generation marker is the write-time
    * fact itself, never a data-dependent proxy like `source IS NOT NULL`
    * (which would misclassify a gen-2 row whose source happens to be
    * NULL). PipelineOpsSpec proves exactly that case.
    */
  def generationMergeRead(docs: DataFrame, out: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text", $"lang")
      .write.mode("overwrite").parquet(s"$out/gen=1")
    docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .write.mode("overwrite").parquet(s"$out/gen=2")
    s.read.option("mergeSchema", "true")
      .option("basePath", out)
      .parquet(s"$out/gen=1", s"$out/gen=2")
  }

  /** Q130 — SCHEMA-EVOLUTION READ: a corpus written in two generations
    * (an early batch with the minimal 3-column schema, a later batch
    * that added `source`/`n_chars`) read back as ONE table via parquet
    * `mergeSchema` — columns absent in old files surface as NULL, the
    * lakehouse schema-evolution contract every long-lived ingestion
    * pipeline depends on (at 100 TB you never rewrite old files to add
    * a column). The query proves the merged read end-to-end: write both
    * generations to scratch, merge-read, and summarise per (lang,
    * generation) — the oracle computes the same summary from the raw
    * table using the same write-split rule (doc_id parity), so any row
    * lost or column misaligned by the merge breaks the hash. Both sides
    * key off the explicit generation, not the presence of the evolved
    * columns ([[generationMergeRead]]).
    */
  def q130(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
    val out = layoutDir(spark, dir, "schemaevo")
    generationMergeRead(docs, out)
      .groupBy($"lang", $"gen".cast("long").as("generation"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        sum(length($"text")).as("sum_text_len"))
      .orderBy($"lang".asc_nulls_first, $"generation".asc_nulls_first)
  }

  val q130Sql: String =
    """SELECT lang,
      |       CAST(CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END AS BIGINT) AS generation,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars,
      |       CAST(SUM(length(text)) AS BIGINT) AS sum_text_len
      |FROM documents
      |GROUP BY lang, generation
      |ORDER BY lang NULLS FIRST, generation NULLS FIRST""".stripMargin

  /** Q131 — SMALL-FILE COMPACTION (the lakehouse OPTIMIZE shape): a
    * corpus fragmented into 64 tiny parquet files is rewritten into
    * ceil(bytes / target) range-partitioned files (floored at 1), and the
    * compacted copy is read back in full — the oracle is the raw table
    * itself, so compaction provably changes LAYOUT and never DATA.
    * Range partitioning by doc_id (not round-robin) so each output file
    * covers a disjoint key range and stays skippable by min/max stats,
    * like q107's z-order layout. The target-file-count rule is the real
    * production knob (size-based, not count-based); the 256 KiB target is
    * scaled to the fixture — at cluster scale the same code with a
    * 256 MiB–1 GiB target is exactly Delta/Iceberg OPTIMIZE.
    * PipelineOpsSpec asserts the file counts (64 before, the computed
    * target after) on disk.
    */
  def q131(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
    val out = layoutDir(spark, dir, "compact")
    docs.repartition(64, $"doc_id")
      .write.mode("overwrite").parquet(s"$out/small")
    val small = spark.read.parquet(s"$out/small")
    val fs = new org.apache.hadoop.fs.Path(s"$out/small")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/small"))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val target = math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt
    small.repartitionByRange(target, $"doc_id")
      .write.mode("overwrite").parquet(s"$out/compacted")
    spark.read.parquet(s"$out/compacted")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id".asc_nulls_first)
  }

  /** q131's size target, fixture-scaled (production: 256 MiB–1 GiB). */
  val TargetFileBytes: Long = 256L * 1024

  val q131Sql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** Q148 — DECLARATIVE DATA-QUALITY GATE: the expectations check a
    * pipeline runs before promoting a batch (Great-Expectations /
    * Deequ shape, declared as (rule, violation-predicate) pairs). Each
    * dataset is scanned ONCE: every rule folds into one conditional-sum
    * aggregate (map-side partials, no shuffle of the data — the report
    * shuffle moves #rules rows), then the wide agg row unpivots into the
    * (dataset, rule, n_violations, n_checked) long form a gate consumes.
    * Null predicate results count as non-violations in both engines
    * (CASE WHEN semantics) — a rule must say `IS NULL` explicitly to
    * catch nulls. The fixture trips two rules by design (zh docs outside
    * the lang allowlist, short docs under 200 chars) so pass AND fail
    * paths are both exercised.
    */
  private val eventRules: Seq[(String, Column)] = Seq(
    ("null_value", col("value").isNull),
    ("value_out_of_range", !(col("value") > 0.0 && col("value") <= 500.0)),
    ("unknown_event_type",
      !col("event_type").isin("click", "signup", "purchase", "error", "view")),
    ("ts_out_of_window",
      !(col("ts") >= lit("2024-01-01").cast(TimestampType) &&
        col("ts") < lit("2024-02-01").cast(TimestampType))))

  private val docRules: Seq[(String, Column)] = Seq(
    ("char_count_drift", col("n_chars") =!= length(col("text"))),
    ("empty_text", col("n_chars") === 0L),
    ("lang_not_allowed", !col("lang").isin("en", "de", "fr", "es")),
    ("short_doc", col("n_chars") < 200L))

  private def qualityGate(df: DataFrame, dataset: String,
      rules: Seq[(String, Column)]): DataFrame = {
    val wide = df.agg(count(lit(1)).as("n_checked"),
      rules.map { case (name, viol) =>
        sum(when(viol, 1L).otherwise(0L)).as(name)
      }: _*)
    val stackArgs = rules.map { case (name, _) => s"'$name', $name" }
      .mkString(", ")
    wide.select(lit(dataset).as("dataset"),
        expr(s"stack(${rules.size}, $stackArgs) as (rule, n_violations)"),
        col("n_checked"))
      .select(col("dataset"), col("rule"), col("n_violations"), col("n_checked"))
  }

  def q148(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    qualityGate(t(spark, dir, "events"), "events", eventRules)
      .unionByName(qualityGate(t(spark, dir, "documents"), "documents", docRules))
      .orderBy($"dataset".asc_nulls_first, $"rule".asc_nulls_first)
  }

  val q148Sql: String = {
    def side(table: String, rules: Seq[(String, String)]): String =
      rules.map { case (name, cond) =>
        s"""SELECT '$table' AS dataset, '$name' AS rule,
           |  CAST(SUM(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           |  CAST(COUNT(*) AS BIGINT) AS n_checked FROM $table""".stripMargin
      }.mkString("\nUNION ALL\n")
    side("events", Seq(
      ("null_value", "value IS NULL"),
      ("value_out_of_range", "NOT (value > 0.0 AND value <= 500.0)"),
      ("unknown_event_type",
        "event_type NOT IN ('click','signup','purchase','error','view')"),
      ("ts_out_of_window",
        "NOT (ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01')"))) +
      "\nUNION ALL\n" +
      side("documents", Seq(
        ("char_count_drift", "n_chars <> length(text)"),
        ("empty_text", "n_chars = 0"),
        ("lang_not_allowed", "lang NOT IN ('en','de','fr','es')"),
        ("short_doc", "n_chars < 200"))) +
      "\nORDER BY dataset NULLS FIRST, rule NULLS FIRST"
  }

  /** Q149 — REFERENTIAL-INTEGRITY GATE: the cross-table half of q148's
    * expectations check (Deequ's hasReferentialIntegrity / "orphan FK"
    * staple). Each relation is one LEFT ANTI join from the referencing
    * side onto the referenced keys, folded to a single (relation,
    * n_orphans, n_checked) row. Four FK checks ride broadcast anti
    * joins (the referenced key sets are dimension-sized — the fact side
    * never shuffles); the fifth is the COMPLETENESS direction (orders
    * with no lineitems — childless parents), where the referenced side
    * is the big table and the anti join correctly falls back to a
    * shuffle on the key. The fixture trips the completeness check by
    * construction (TPC-H-ish order keys are sparse in lineitem) and
    * passes all FK checks — both verdict paths exercised.
    */
  def q149(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (liWide, ordWide) = q149Probes(spark, dir)
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")
    // The no-distinct FK joins rest on the referenced keys BEING primary
    // keys — and a duplicated one is exactly the data-quality failure
    // this gate audits, so VERIFY it rather than assume it. The cheap
    // detector: a duplicated key that any fact row references MULTIPLIES
    // that row through its left join, so the probe's own n_checked
    // diverges from the pre-join fact count (a count-only parquet scan,
    // answered from footer metadata — no per-key distinct pass; a dup
    // key NO fact row references can't corrupt any count and is q148's
    // single-table uniqueness check's business, not this gate's).
    val (liCount, ordCount) = (lineitem.count(), orders.count())
    val (liRow, ordRow) = (liWide.head(), ordWide.head())
    require(liRow.getLong(0) == liCount && ordRow.getLong(0) == ordCount,
      s"referenced keys are not unique — the FK probes multiplied fact " +
        s"rows: lineitem ${liRow.getLong(0)} vs $liCount, " +
        s"orders ${ordRow.getLong(0)} vs $ordCount")
    Seq(
        ("lineitem_orders_fk", liRow.getLong(1), liRow.getLong(0)),
        ("lineitem_part_fk", liRow.getLong(2), liRow.getLong(0)),
        ("lineitem_supplier_fk", liRow.getLong(3), liRow.getLong(0)),
        ("orders_customer_fk", ordRow.getLong(1), ordRow.getLong(0)),
        ("orders_lineitem_complete", ordRow.getLong(2), ordRow.getLong(0)))
      .toDF("relation", "n_orphans", "n_checked")
      .orderBy($"relation".asc_nulls_first)
  }

  /** q149's two one-row probe aggregates `(liWide, ordWide)` — factored
    * so PipelineOpsSpec can pin their PLANS (broadcast FK probes, one
    * shared fact scan) now that q149 assembles its 5-row report
    * driver-side from the collected rows.
    */
  private[graft] def q149Probes(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    // A REFERENCED key column that is the referenced table's PRIMARY KEY
    // (every FK target here — the uniqueness Deequ asserts as its own
    // check) joins DIRECTLY: no defensive distinct(), which cost a full
    // dedup shuffle per key set for keys that were already unique. The
    // probe detects a miss by the referenced key's own null-ness after
    // the left join. Only the COMPLETENESS direction (orders with no
    // lineitems) probes a REPEATING key set, so only it dedups — and
    // that distinct map-side-combines 4:1 before its shuffle. Broadcast
    // hints go on truly dimension-sized sides; the orders/lineitem key
    // sets are left to the planner (broadcast at test scale via AQE,
    // correctly shuffled at 100 TB).
    // ALL checks of one fact share ONE pass: chained left joins, then a
    // single aggregate counts rows and every miss kind together — one
    // lineitem scan probes all three FK sets instead of one scan per
    // check, and n_checked/n_orphans of every relation come from the
    // same snapshot; the 5-row report is assembled driver-side from the
    // two collected aggregate rows.
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")
    def miss(m: String) = sum(when(col(m).isNull, 1L).otherwise(0L))
    val liWide = lineitem.select($"l_orderkey", $"l_partkey", $"l_suppkey")
      .join(orders.select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_outer")
      .join(broadcast(t(spark, dir, "part").select($"p_partkey")),
        $"l_partkey" === $"p_partkey", "left_outer")
      .join(broadcast(t(spark, dir, "supplier").select($"s_suppkey")),
        $"l_suppkey" === $"s_suppkey", "left_outer")
      .agg(count(lit(1)).as("n_checked"),
        miss("o_orderkey").as("lineitem_orders_fk"),
        miss("p_partkey").as("lineitem_part_fk"),
        miss("s_suppkey").as("lineitem_supplier_fk"))
    val ordWide = orders.select($"o_orderkey", $"o_custkey")
      .join(broadcast(t(spark, dir, "customer").select($"c_custkey")),
        $"o_custkey" === $"c_custkey", "left_outer")
      .join(lineitem.select($"l_orderkey").distinct().withColumnRenamed(
        "l_orderkey", "__l_key"), $"o_orderkey" === $"__l_key", "left_outer")
      .agg(count(lit(1)).as("n_checked"),
        miss("c_custkey").as("orders_customer_fk"),
        miss("__l_key").as("orders_lineitem_complete"))
    (liWide, ordWide)
  }

  val q149Sql: String = {
    def side(name: String, fact: String, fk: String,
        dim: String, dk: String): String =
      s"""SELECT '$name' AS relation,
         |  CAST((SELECT COUNT(*) FROM $fact f
         |        WHERE NOT EXISTS (SELECT 1 FROM $dim d WHERE d.$dk = f.$fk))
         |    AS BIGINT) AS n_orphans,
         |  CAST((SELECT COUNT(*) FROM $fact) AS BIGINT) AS n_checked""".stripMargin
    Seq(
      side("lineitem_orders_fk", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      side("lineitem_part_fk", "lineitem", "l_partkey", "part", "p_partkey"),
      side("lineitem_supplier_fk", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      side("orders_customer_fk", "orders", "o_custkey", "customer", "c_custkey"),
      side("orders_lineitem_complete", "orders", "o_orderkey", "lineitem", "l_orderkey"))
      .mkString("\nUNION ALL\n") + "\nORDER BY relation NULLS FIRST"
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q100_boiler_lines" -> (q100 _),
    "q101_bm25_topk" -> (q101 _),
    "q102_countmin_freq" -> (q102 _),
    "q103_merge_upsert" -> (q103 _),
    "q104_col_profile" -> (q104 _),
    "q107_zorder_layout" -> (q107 _),
    "q108_scd2_dimension" -> (q108 _),
    "q122_approx_profile" -> (q122 _),
    "q130_schema_evolution" -> (q130 _),
    "q131_compaction" -> (q131 _),
    "q148_quality_gate" -> (q148 _),
    "q149_referential_gate" -> (q149 _))

  def oracles: Map[String, String] = Map(
    "q100_boiler_lines" -> q100Sql,
    "q101_bm25_topk" -> q101Sql,
    "q102_countmin_freq" -> q102Sql,
    "q103_merge_upsert" -> q103Sql,
    "q104_col_profile" -> q104Sql,
    "q107_zorder_layout" -> q107Sql,
    "q108_scd2_dimension" -> q108Sql,
    "q130_schema_evolution" -> q130Sql,
    "q131_compaction" -> q131Sql,
    "q148_quality_gate" -> q148Sql,
    "q149_referential_gate" -> q149Sql)
}
