package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table access + canonicalisation helpers shared by every query.
  *
  * Determinism contract (SURVEY.md §7.4): aggregates over money columns are
  * computed in exact DECIMAL arithmetic (bit-identical between Spark and the
  * DuckDB oracle) and only cast to DOUBLE at the end; every query output is
  * totally ordered with explicit NULLS FIRST so row order agrees with the
  * oracle's ORDER BY ... NULLS FIRST.
  */
object Tables {

  /** Load one of the driver-generated parquet tables (TESTDATA.md).
    *
    * `events.ts` has shipped as BOTH INT64 TIMESTAMP(NANOS) and plain µs
    * TIMESTAMP across fixture generations, so ingest adapts to the physical
    * type instead of hard-coding one:
    *   - nanos: Spark 4 refuses to map ns to its µs TimestampType, so read
    *     the raw long (`spark.sql.legacy.parquet.nanosAsLong`) and truncate
    *     to µs — exactly what DuckDB's TIMESTAMP_NS→TIMESTAMP cast does;
    *   - µs (isAdjustedToUTC=false, inferred TIMESTAMP_NTZ): request
    *     TimestampType in the read schema rather than casting post-read, so
    *     `ts` predicates still push down to the parquet scan (a cast on the
    *     column would fence them off). Session timezone is pinned UTC at
    *     every entry point, so NTZ-vs-instant wall clocks agree, matching
    *     DuckDB's naive TIMESTAMP read.
    *
    * The table schema is inferred once per (dir, table) and cached — the
    * catalog-metadata pattern: immutable ingested data never needs its
    * parquet footers re-read for every query that scans it.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val inferred = cachedSchema(spark, dir, name)
      inferred("ts").dataType match {
        case LongType =>
          spark.read.schema(inferred)
            .parquet(sourcePath(spark, dir, name))
            .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType | TimestampNTZType =>
          spark.read.schema(tsAsTimestamp(inferred))
            .parquet(sourcePath(spark, dir, name))
        case other =>
          // a fixture generation shipping ts as a non-temporal physical
          // type must fail LOUDLY here, not as an opaque parquet cast
          // error three operators downstream
          throw new IllegalStateException(
            s"events.ts drifted to unsupported inferred type $other " +
              s"(expected INT64 nanos, TIMESTAMP or TIMESTAMP_NTZ) — " +
              s"extend Tables.t's ingest adaptation for the new fixture")
      }
    } else {
      spark.read.schema(cachedSchema(spark, dir, name))
        .parquet(sourcePath(spark, dir, name))
    }

  /** Requested read schema with `ts` surfaced as TimestampType (µs-fixture
    * path — see [[t]]).
    */
  def tsAsTimestamp(inferred: StructType): StructType =
    StructType(inferred.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  /** Ingest-time compaction (the lakehouse auto-OPTIMIZE shape, applied in
    * reverse): a parquet row group is Spark's minimum split unit, so a table
    * delivered as ONE small file with ONE row group scans single-threaded no
    * matter how many cores the cluster has. When
    * `spark.graft.compactScans=true`, the first touch of such a table
    * rewrites it once into `defaultParallelism` splittable files (memoized
    * per (dir, table, mtime, size, content, file count) —
    * [[compactedCopy]]); every later scan — and the partial
    * aggregates/joins fused into it — runs cluster-wide.
    *
    * Deliberately size-gated: inputs over the threshold (default 1 GiB) or
    * already multi-file keep their layout, so at 100 TB — where parquet
    * arrives as many multi-row-group files — this is a no-op and scans
    * split natively. Row data is byte-identical either way (the oracle gate
    * runs with compaction ON).
    *
    * ROW-ORDER CAVEAT: `repartition(n)` round-robins rows, so the compacted
    * copy's physical order differs from the raw file's. Every query in the
    * declared surface ends in a total ORDER BY (the oracle contract), so no
    * caller observes it — but an order-sensitive op (first/limit without
    * sort) must read the raw path.
    */
  private val compactCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sourcePath(spark: SparkSession, dir: String,
                         name: String): String = {
    val raw = s"$dir/$name.parquet"
    if (!spark.conf.getOption("spark.graft.compactScans").contains("true"))
      return raw
    val f = new java.io.File(raw)
    val maxBytes = spark.conf.getOption("spark.graft.compactScans.maxBytes")
      .map(_.toLong).getOrElse(1L << 30)
    if (!f.isFile || f.length > maxBytes) return raw
    compactedCopy(spark, dir, name, spark.sparkContext.defaultParallelism)
  }

  /** The copy of `dir/name.parquet` rewritten into `n` files, under
    * `java.io.tmpdir/graft-compact`. The copy is keyed on the raw file's
    * (path, mtime, size, head/tail md5) AND on `n`: a JVM at 16 cores
    * must not serve the 4-file copy a 4-core run left in the same tmpdir.
    */
  private[graft] def compactedCopy(spark: SparkSession, dir: String,
                                  name: String, n: Int): String = {
    val raw = s"$dir/$name.parquet"
    val f = new java.io.File(raw)
    // content fingerprint, not just (mtime, size): a regenerated fixture
    // copied with preserved timestamps must not serve a stale compacted copy
    val key = s"$raw@${f.lastModified}:${f.length}:${headTailMd5(f)}:$n"
    compactCache.computeIfAbsent(key, _ => {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      // the eviction scope is (table, raw path, n), not just table: two
      // JVMs reading the same table name from DIFFERENT source dirs
      // (sf0.01 vs sf0.001), or at different parallelism, must not evict
      // each other's live compacted copy
      val pathHash = java.security.MessageDigest.getInstance("MD5")
        .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val scope = s"$name-$pathHash-$n-"
      val out = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft-compact", s"$scope$digest")
      // evict stale digests for the same scope before writing afresh,
      // plus any LEGACY dir of the table (an earlier layout: no eviction
      // rule ever matches them again, so they would accumulate in
      // java.io.tmpdir forever); a current-layout dir for the same table
      // under a DIFFERENT pathHash or n is another live copy and stays.
      // Legacy dirs are swept only past a 1 h mtime TTL: a concurrently
      // running OLDER-build JVM still reading its legacy copy must not be
      // raced mid-read — after the upgrade window the dir is cold and the
      // sweep reclaims it.
      val parent = out.getParent.toFile
      val newLayout =
        s"^${java.util.regex.Pattern.quote(name)}-[0-9a-f]{8}-[0-9]+-[0-9a-f]{32}$$".r
      val legacyTtlMs = 60L * 60 * 1000
      val now = System.currentTimeMillis
      Option(parent.listFiles).getOrElse(Array.empty)
        .filter(_.getName != out.getFileName.toString)
        .filter { d =>
          val dn = d.getName
          dn.startsWith(scope) ||
            (dn.startsWith(s"$name-") && newLayout.findFirstIn(dn).isEmpty &&
              now - d.lastModified > legacyTtlMs)
        }
        .foreach(deleteRecursively)
      if (!java.nio.file.Files.exists(out.resolve("_SUCCESS"))) {
        // raw column values preserved: events.ts is rewritten at its
        // inferred type (int64 nanos-as-long or µs NTZ); the TimestampType
        // surfacing happens at read time exactly as on the uncompacted path
        spark.read.schema(cachedSchema(spark, dir, name)).parquet(raw)
          .repartition(n)
          .write.mode("overwrite").parquet(out.toString)
      }
      out.toString
    })
  }

  /** The compacted multi-file DIRECTORY for a table, when ingest
    * compaction applies (triggering the one-time rewrite if needed) —
    * the STREAMING file source consumes this layout so a micro-batch's
    * scan and the map work fused into it split across the cluster
    * exactly like the batch path; a raw single-row-group fixture file
    * is one unsplittable task no matter the core count. None when
    * compaction is off or inapplicable — the stream stages the raw
    * file instead.
    */
  private[graft] def streamSourceDir(spark: SparkSession, dir: String,
      name: String): Option[String] = {
    val p = sourcePath(spark, dir, name)
    if (p == s"$dir/$name.parquet") None else Some(p)
  }

  /** md5 of the first and last 64 KiB — a cheap content fingerprint that
    * catches regenerated-but-timestamp-preserved files without a full read.
    */
  private def headTailMd5(f: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val chunk = 64 * 1024
      val head = new Array[Byte](math.min(chunk.toLong, raf.length).toInt)
      raf.readFully(head); md.update(head)
      if (raf.length > chunk) {
        raf.seek(raf.length - chunk)
        val tail = new Array[Byte](chunk)
        raf.readFully(tail); md.update(tail)
      }
    } finally raf.close()
    md.digest().map("%02x".format(_)).mkString
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Inferred physical schema of a fixture table (cached; `events.ts`
    * surfaces as LongType on nanos fixtures, TIMESTAMP_NTZ on µs ones).
    * Streaming ingest uses this to pick the same ts normalization as [[t]].
    */
  def inferredSchema(spark: SparkSession, dir: String,
                     name: String): StructType =
    cachedSchema(spark, dir, name)

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def cachedSchema(spark: SparkSession, dir: String,
                           name: String): StructType = {
    // the cache key carries the file's (mtime, size): rewritten data at
    // the same path re-infers instead of silently reading NULLs for
    // renamed columns through a stale explicit schema
    val f = new java.io.File(s"$dir/$name.parquet")
    val key = s"$dir/$name@${f.lastModified}:${f.length}"
    schemaCache.computeIfAbsent(key, _ => {
      if (name == "events") // nanos column must surface as long pre-cache too
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$dir/$name.parquet").schema
    })
  }

  /** Money/quantity column → exact decimal(18,2); mirrors
    * CAST(x AS DECIMAL(18,2)) in the oracle SQL. Input doubles carry 2
    * decimals, so this is a lossless recovery in both engines.
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal sum surfaced as double: identical in Spark and DuckDB
    * because the decimal sum is exact and double conversion is
    * round-to-nearest in both.
    */
  def sumDec2(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Deterministic total order, Spark side: ascending, NULLS FIRST on every
    * key (oracle SQL must say ORDER BY k1 NULLS FIRST, ...).
    */
  def ordered(df: DataFrame, keys: String*): DataFrame =
    df.orderBy(keys.map(k => col(k).asc_nulls_first): _*)
}
