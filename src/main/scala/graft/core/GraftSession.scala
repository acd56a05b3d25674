package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory — the engine's recommended Spark configuration
  * (SURVEY.md §7.1 `SparkProvider`): deterministic UTC semantics, AQE with
  * skew-join handling, and a shuffle-partition count sized to the
  * environment instead of Spark's legacy 200. Every entry point builds its
  * session here: `graft.Bench`, `graft.Verify`, the `graft.tools` mains and
  * the test session.
  *
  * Local mode is for development/tests; on a cluster, pass the builder
  * through `configure` so the same engine settings apply under any master.
  */
object GraftSession {

  /** Apply the engine's settings to any builder — including the engine's
    * SparkSessionExtensions (custom SQL functions + the SmallResultSort
    * rule), so cluster sessions get the same surface as [[local]].
    */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .withExtensions(new graft.functions.GraftExtensions)

  /** Local cores: SPARK_GRAFT_CPUS, else the host's, capped at 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** Local session: `local[cores]` with shuffle partitions = cores, the
    * UI off.
    *
    *   - `smallResultSort`: plan a report-sized final sort as one
    *     partition instead of a range exchange + its sampling job
    *     ([[graft.plans.SmallResultSort]]);
    *   - `compactScans`: rewrite a single-row-group fixture table once
    *     into `cores` splittable files ([[Tables]]' ingest compaction).
    */
  def local(cores: Int = cpus, appName: String = "graft",
            smallResultSort: Boolean = false,
            compactScans: Boolean = false): SparkSession = {
    val b = configure(SparkSession.builder(), cores)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.ui.enabled", "false")
    if (smallResultSort) b.config("spark.graft.smallResultSort", "true")
    if (compactScans) b.config("spark.graft.compactScans", "true")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
