package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE compact JSON line {"metric":...,"queries":{...}}.
  *
  * Methodology (documented in BASELINE.md):
  *   - per query: TWO warmup runs (JVM/codegen JIT + page cache — DuckDB has
  *     no analogue of that one-time cost), then THREE timed runs;
  *   - the reported number is the MEDIAN of the three timed runs, so a single
  *     multi-second host stall (this box is multi-tenant) cannot fabricate an
  *     8–14× "regression" the way a min-of-2 could in round 2;
  *   - NOISY-WINDOW REFUSAL: if more than 6 queries show ≥30% run spread
  *     (a contended window, not a regression), every flagged query is
  *     re-measured and the calmer run set kept; a window still contended
  *     after retry is marked "contended":true in the artifact so its
  *     total is never quoted as a headline;
  *   - every run forces FULL materialisation through the `noop` sink so
  *     projections can't be pruned by a count-only action (which would
  *     under-measure; the DuckDB baseline fetches all rows too).
  *
  * Artifact contract: the final stdout line must survive a ~2 KB tail
  * capture, so it uses short keys and short values (see the emission
  * below). The full-name, full-precision per-run detail (all three timed
  * runs + min/median) goes to BENCH_DETAIL.json (override with
  * SPARK_GRAFT_BENCH_DETAIL), which is committed per round.
  */
object Bench {
  private val Warmups = 2
  private val TimedRuns = 3

  def main(args: Array[String]): Unit = {
    // stdout carries exactly ONE JSON line — engine logs must not leak there
    graft.tools.EngineLog.echoToConsole = false
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val cpus = GraftSession.cpus
    val spark = session(cpus)

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    final case class Timing(name: String, runs: Seq[Double]) {
      def failed: Boolean = runs.isEmpty
      def median: Double = if (failed) -1.0 else runs.sorted.apply(runs.size / 2)
      def min: Double = if (failed) -1.0 else runs.min
    }

    def timedRuns(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        warmups: Int): Seq[Double] =
      try {
        (1 to warmups).foreach(_ => once(fn))
        (1 to TimedRuns).map { _ =>
          val t0 = System.nanoTime()
          once(fn)
          (System.nanoTime() - t0) / 1e9
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Seq.empty[Double]
      } finally graft.core.CacheScope.releaseAll() // free query-owned caches

    def spreadPct(t: Timing): Long =
      if (t.failed || t.median <= 0) 0L
      else math.round(100.0 * (t.runs.max - t.runs.min) / t.median)

    // Optional substring filter for fast local iteration (mirrors
    // Verify's SPARK_GRAFT_ONLY); the driver never sets it, so its runs
    // always cover the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty)
      .map(_.split(',').toSeq.filter(_.nonEmpty))
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .map { case (name, fn) => Timing(name, timedRuns(name, fn, Warmups)) }

    // NOISY-WINDOW REFUSAL (BASELINE.md protocol, codified): a window
    // where many queries show ≥30% run spread is host contention, not
    // regression — r8 committed such a headline (20 flagged queries,
    // total 1.7× the same-day calm pair) and the round's bench read was
    // polluted. Instead of shipping it, re-measure every flagged query
    // (JIT is already hot — one warmup) and keep the calmer run set per
    // query; if the window is STILL contended after the retry, the
    // artifact says so ("contended":true) so no one quotes its total.
    val NoisySpreadPct = 30L
    val MaxNoisyQueries = 6
    val needRetry = firstPass.count(spreadPct(_) >= NoisySpreadPct) > MaxNoisyQueries
    var retried = 0
    val results =
      if (!needRetry) firstPass
      else firstPass.map { t =>
        if (spreadPct(t) < NoisySpreadPct) t
        else {
          retried += 1
          val again = Timing(t.name, timedRuns(t.name, SparkEntry.queries(t.name), 1))
          if (again.failed) t
          else if (spreadPct(again) < spreadPct(t) ||
            (spreadPct(again) == spreadPct(t) && again.median < t.median)) again
          else t
        }
      }
    val contended = results.count(spreadPct(_) >= NoisySpreadPct) > MaxNoisyQueries

    val ok = results.filterNot(_.failed)
    val total = ok.map(_.median).sum
    val totalMin = ok.map(_.min).sum

    // MEASURED FLOORS (FLOOR.json) — the fixed per-query cost this
    // harness pays before any data is touched, measured in THE SAME
    // SESSION as the query numbers so the 2× methodology's
    // floor-adjustment is data, not narrative:
    //   - batch floor: a 1-row no-scan plan through the same noop-sink
    //     materialisation every benched query uses (job submit + stage
    //     schedule + codegen/session overhead);
    //   - streaming floor: a 1-row file-source AvailableNow run with a
    //     fresh checkpoint through foreachBatch (the machinery every
    //     streaming query re-pays per run: offset log, commit log, batch
    //     planning), with the same warmup/median protocol.
    // DuckDB's analogue of both is microseconds, so at sf0.1 many
    // oracle-paired queries are floor-dominated; the marginal
    // (floor-subtracted) ratio is what projects to 100 TB, and
    // scripts/baseline_table.py quotes it from this artifact.
    val floorBatch = Timing("floor_batch",
      timedRuns("floor_batch", (s, _) => s.range(1).toDF("id"), Warmups))
    // the minimal END-TO-END query: a real (5-row) parquet table through
    // the same ingest + scan + materialise path every benched query
    // takes — file listing, footer decode, scan-stage scheduling. This
    // is the floor a data-touching query cannot go below, and the one
    // the marginal-ratio adjustment uses.
    val floorScan = Timing("floor_scan",
      timedRuns("floor_scan",
        (s, dir) => graft.core.Tables.t(s, dir, "region"), Warmups))
    val floorStream: Timing = {
      val src = graft.core.Scratch.deleteOnExit(
        Files.createTempDirectory("graft_floor_src").toString)
      spark.range(1).toDF("id").coalesce(1)
        .write.mode("overwrite").parquet(s"$src/t")
      def once(): Double = {
        val ckpt = graft.core.Scratch.deleteOnExit(
          Files.createTempDirectory("graft_floor_ckpt").toString)
        val t0 = System.nanoTime()
        val q = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType))))
          .parquet(s"$src/t")
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        (1 to Warmups).foreach(_ => once())
        Timing("floor_stream", (1 to TimedRuns).map(_ => once()))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] floor_stream failed: ${e.getMessage}")
        Timing("floor_stream", Seq.empty)
      }
    }
    val floorPath = sys.env.getOrElse("SPARK_GRAFT_FLOOR", "FLOOR.json")
    def floorJson(t: Timing): String = {
      val runs = t.runs.map(r => f"$r%.6f").mkString("[", ",", "]")
      s"""{"median_sec": ${f"${t.median}%.6f"}, "min_sec": ${f"${t.min}%.6f"}, "runs_sec": $runs}"""
    }
    val floorOut =
      s"""{
         |  "sf": "$sfDir",
         |  "cpus": $cpus,
         |  "warmups": $Warmups,
         |  "timed_runs": $TimedRuns,
         |  "stat": "median",
         |  "floor_batch": ${floorJson(floorBatch)},
         |  "floor_scan": ${floorJson(floorScan)},
         |  "floor_stream": ${floorJson(floorStream)}
         |}
         |""".stripMargin
    val floorTmp = Paths.get(floorPath + ".tmp")
    Files.write(floorTmp, floorOut.getBytes(StandardCharsets.UTF_8))
    Files.move(floorTmp, Paths.get(floorPath), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)

    // Full-precision detail artifact (committed per round as BENCH_DETAIL_r<N>.json)
    val detail = results.map { t =>
      val runs = t.runs.map(r => f"$r%.6f").mkString("[", ",", "]")
      s"""    "${t.name}": {"median_sec": ${f"${t.median}%.6f"}, "min_sec": ${f"${t.min}%.6f"}, "runs_sec": $runs}"""
    }.mkString(",\n")
    val detailJson =
      s"""{
         |  "sf": "$sfDir",
         |  "cpus": $cpus,
         |  "warmups": $Warmups,
         |  "timed_runs": $TimedRuns,
         |  "stat": "median",
         |  "total_median_sec": ${f"$total%.6f"},
         |  "total_min_sec": ${f"$totalMin%.6f"},
         |  "n_queries": ${results.size},
         |  "n_failed": ${results.size - ok.size},
         |  "noisy_retried": $retried,
         |  "contended_window": $contended,
         |  "queries": {
         |$detail
         |  }
         |}
         |""".stripMargin
    val tmp = Paths.get(detailPath + ".tmp")
    Files.write(tmp, detailJson.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(detailPath), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)

    // The final stdout line is the driver contract: it must survive the
    // driver's ~2 KB tail capture at the full query surface, and
    // RegistrySpec's width guard models its worst case. Hence keys are
    // the query ordinal in base 36 ("q197" → "5h"; full names and
    // full-precision runs live in the detail file), values are 1dp below
    // 10 s, integer seconds to 98 and clamp at "99" (3 chars at worst),
    // and the run-noise flags print only when set.
    val qs = results.map { t =>
      val short = Integer.toString(
        t.name.takeWhile(_ != '_').stripPrefix("q").toInt, 36)
      // boundary: a median in [9.95, 10) would %.1f-print 4-char "10.0",
      // so route it to the integer branch — 3-char worst case holds for
      // the ACTUAL formatted value, not just the pre-rounding magnitude
      val v = if (t.failed) "-1"
        else if (t.median >= 99) "99"
        else if (t.median >= 9.95) f"${t.median}%.0f" else f"${t.median}%.1f"
      "\"" + short + "\":" + v
    }.mkString("{", ",", "}")
    val noisyCount = results.filterNot(_.failed).count(spreadPct(_) >= NoisySpreadPct)
    val sfShort = sfDir.split('/').last
    val flags = (if (noisyCount > 0) s""","noisy":$noisyCount""" else "") +
      (if (contended) s""","cont":true""" else "")
    // "kb":36 declares the key base: artifacts without it use decimal
    // keys, which collide with base-36 ones on multi-digit values
    println(s"""{"metric":"total_warm_sec","value":${f"$total%.2f"},"unit":"sec","kb":36,"queries":$qs$flags,"sf":"$sfShort"}""")
    spark.stop()
  }

  /** The benchmark session — shared with [[graft.tools.ProfileOne]] so a
    * profile measures the configuration the bench times. Benchmark outputs
    * are report-sized by contract, so the final sort is single-partition
    * instead of a range exchange + its sampling job; single-row-group
    * fixtures otherwise scan single-threaded (a row group is the minimum
    * split), so one memoized ingest rewrite — absorbed by the warmups —
    * lets every scan parallelize (see `Tables.sourcePath`).
    */
  def session(cpus: Int = GraftSession.cpus): SparkSession =
    GraftSession.local(cpus, smallResultSort = true, compactScans = true)
}
