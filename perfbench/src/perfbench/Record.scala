package perfbench

import java.nio.file.{Files, Paths}

/** Records the llm_verbs digests. For every timed member it writes the
  * query's output as parquet under `<out>/<registry key>` plus
  * `<out>/oracle_sql.json` (the layout `scripts/check.py` compares against
  * DuckDB) and prints the `digests.json` content for those outputs.
  *
  *   Record <data dir holding sf0.1> <out dir> <scratch dir>
  */
object Record {
  def main(args: Array[String]): Unit = {
    graft.tools.EngineLog.echoToConsole = false
    val Array(data, out, scratch) = args
    val run = Run("llm_verbs", 0L, 1, trace = false, Paths.get(data), Paths.get(scratch))
    val outDir = Paths.get(out)
    Files.createDirectories(outDir)
    val spark = Session.build(run)
    val dir = run.data.resolve("sf0.1").toString
    val entries = Metrics.members.filter(_._3 != "defect").map { case (short, key, _) =>
      val df = graft.SparkEntry.queries(key)(spark, dir)
      val rows = df.collect().toSeq
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(outDir.resolve(key).toString)
      graft.core.CacheScope.releaseAll()
      s"""  "$short": {"rows": ${rows.size}, "digest": "${Digest.of(df.schema, rows)}"}"""
    }
    val keys = Metrics.members.map(_._2).toSet
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    Files.writeString(outDir.resolve("oracle_sql.json"),
      mapper.writeValueAsString(java.util.Map.copyOf(
        scala.jdk.CollectionConverters.MapHasAsJava(oracles).asJava)))
    spark.stop()
    println(entries.mkString("{\n", ",\n", "\n}"))
  }
}
