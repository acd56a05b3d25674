package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-ingest contract (graft.core.Tables.t): `events.ts` has shipped
  * as BOTH int64 TIMESTAMP(NANOS) and plain µs TIMESTAMP across driver
  * fixture generations, and the round-9 regeneration flipped the type out
  * from under a hard-coded nanos path, breaking every events query at
  * analysis time. These tests pin both branches so the next flip is a
  * spec failure, not a mass correctness outage:
  *   - whatever the physical type, `ts` must surface as TimestampType
  *     (UTC session) with identical values;
  *   - on the µs path the TimestampType must come from the READ SCHEMA,
  *     not a post-read cast, so ts predicates keep reaching the scan.
  */
class IngestSpec extends SparkSpec {

  test("events.ts surfaces as TimestampType from the shipped fixture") {
    val df = graft.core.Tables.t(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"ts surfaced as ${df.schema("ts").dataType}")
    assert(df.filter(col("ts").isNotNull).count() > 0)
  }

  test("ns-as-long fixtures produce the same rows as the µs path") {
    // Rebuild the events table with ts as raw epoch-nanos int64 — the
    // physical shape of the pre-r9 fixtures (TIMESTAMP(NANOS) surfaces as
    // LongType under nanosAsLong) — and ingest it through the same door.
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_ns")
    try {
      val orig = graft.core.Tables.t(spark, sfDir, "events")
      orig.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
        .write.mode("overwrite")
        .parquet(tmp.resolve("events.parquet").toString)
      val viaNs = graft.core.Tables.t(spark, tmp.toString, "events")
      assert(viaNs.schema("ts").dataType == TimestampType)
      val a = orig.orderBy("event_id").collect()
      val b = viaNs.orderBy("event_id").collect()
      assert(a.sameElements(b), "ns-ingested rows differ from µs-ingested")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(tmp.toFile)
    }
  }

  test("µs path: ts predicate pushes down to the parquet scan") {
    val df = graft.core.Tables.t(spark, sfDir, "events")
      .filter(col("ts") > lit("2024-01-01 00:00:00").cast(TimestampType))
      .select(col("event_id"), col("ts"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts"),
      s"ts filter not pushed to scan:\n$plan")
  }

  test("compacted scan copies are keyed on their file count: two " +
      "parallelisms get two live copies of n files each") {
    import graft.core.Tables.compactedCopy
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_n")
    val dir = tmp.toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/embeddings.parquet"),
      tmp.resolve("embeddings.parquet"))
    def files(p: String): Int =
      new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    val two = compactedCopy(spark, dir, "embeddings", 2)
    val three = compactedCopy(spark, dir, "embeddings", 3)
    try {
      assert(two != three, "a 3-file scan must not be served the 2-file copy")
      // writing the 3-file copy evicted neither: both stay live
      assert(files(two) == 2 && files(three) == 3,
        s"copies hold ${files(two)} and ${files(three)} files")
      assert(compactedCopy(spark, dir, "embeddings", 2) == two)
    } finally Seq(two, three, dir).foreach(p =>
      graft.ops.VersionedTarget.rmTree(new java.io.File(p)))
  }
}
