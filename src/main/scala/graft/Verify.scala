package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    graft.tools.EngineLog.echoToConsole = false // keep driver stdout clean
    val Array(sfDir, outDir) = args
    // oracle dumps are report-sized by contract → skip the range-sort
    // sampling job on every query's final ORDER BY; the oracle gate
    // exercises the same ingest-compacted scan path Bench measures,
    // proving compaction is row-identical to the raw layout
    val spark = graft.core.GraftSession.local(smallResultSort = true,
      compactScans = true)
    new java.io.File(outDir).mkdirs()
    // Optional substring filter for fast local iteration; the driver never
    // sets this so its runs always cover the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty)
      .map(_.split(',').toSeq.filter(_.nonEmpty))
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.contains))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.core.CacheScope.releaseAll() // free query-owned caches
    }
    // q192's oracle is a 6-round min-label unroll justified by a measured
    // fixpoint; re-measure on the ACTIVE sf and fail loudly if the margin
    // no longer covers it (a regenerated fixture trap, not a hash gate).
    if (selected.contains("q192_simhash_dedup_apply"))
      try graft.queries.LlmOps.q192UnrollGuard(spark, sfDir)
      finally graft.core.CacheScope.releaseAll()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
