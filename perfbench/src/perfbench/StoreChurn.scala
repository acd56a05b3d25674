package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ops.VersionedTarget

object StoreChurn extends Workload {

  val Groups = 16
  /** Retained versions. The writer never creates keepLast - 1 versions
    * while one read is in flight (it defers vacuum instead), so the
    * vacuum contract keeps every version a reader resolved readable.
    */
  val KeepLast = 6
  val CompactEvery = 4
  val DeleteEvery = 7
  val VacuumEvery = 3
  val RestoreAt = 0.75
  /** Unmeasured lead-in: the first commits and reads of a fresh JVM run cold. */
  val WarmupSeconds = 5

  /** One batch of user rows `(id, grp, val)`. `seq` is its generation
    * index; the batch id it commits under is assigned by the writer.
    */
  final case class Batch(seq: Int, rows: IndexedSeq[(Long, Int, Long)])

  /** Batch sizes of one block of five batches; the seed draws their order. */
  val Sizes: Seq[Int] = Seq(1000, 1500, 2000, 2500, 3000)

  def batches(seed: Long): Iterator[Batch] = {
    val rnd = new scala.util.Random(seed * 7919L + 17)
    val sizes = Iterator.continually(rnd.shuffle(Sizes)).flatten
    Iterator.from(0).map { s =>
      val n = sizes.next()
      Batch(s, (0 until n).map { i =>
        (s * 10000000L + i, rnd.nextInt(Groups), rnd.nextInt(1000000).toLong)
      })
    }
  }

  /** The aggregate a reader computes over the whole table. */
  final case class Agg(rows: Long, sumId: Long, sumVal: Long, mix: Long) {
    def +(o: Agg): Agg = Agg(rows + o.rows, sumId + o.sumId, sumVal + o.sumVal, mix + o.mix)
  }
  val Zero = Agg(0, 0, 0, 0)

  def mixOf(id: Long, v: Long): Long = Math.floorMod(id * 7919L + v * 104729L, 1000003L)

  def aggOf(rows: Seq[(Long, Int, Long)]): Agg =
    rows.foldLeft(Zero) { case (a, (id, _, v)) => a + Agg(1, id, v, mixOf(id, v)) }

  def aggregate(df: DataFrame): Agg = {
    val r = df.agg(count(lit(1)), sum(col("id")), sum(col("val")),
      sum(pmod(col("id") * 7919L + col("val") * 104729L, lit(1000003L)))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Agg(l(0), l(1), l(2), l(3))
  }

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", IntegerType, nullable = false),
    StructField("val", LongType, nullable = false)))

  def cellsOf(b: Batch): Map[(Int, Int), Agg] =
    b.rows.groupBy(_._2).map { case (g, rs) => (b.seq, g) -> aggOf(rs) }

  def regularFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_): Unit)
      finally s.close()
    }

  private def frame(spark: SparkSession, rows: Seq[(Long, Int, Long)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (i, g, v) => Row(i, g, v) }.asJava, schema)

  def bringUp(spark: SparkSession, run: Run): Node = {
    val root = Files.createTempDirectory(run.work, "store-")
    val target = VersionedTarget.Segmented(root)
    val gen = batches(run.seed)
    val first = gen.next()
    target.commit(frame(spark, first.rows), 0L)
    new ChurnNode(spark, run, root, target, gen, first)
  }

  final class ChurnNode(spark: SparkSession, run: Run, root: Path,
      target: VersionedTarget.Segmented, gen: Iterator[Batch], first: Batch) extends Node {

    private val cells = mutable.Map.empty[(Int, Int), Agg] ++= cellsOf(first)
    /** Aggregates of every state the writer has published or is about to. */
    private val valid = ConcurrentHashMap.newKeySet[Agg]()
    private var live: Set[(Int, Int)] = cellsOf(first).keySet
    private def stateAgg(l: Set[(Int, Int)]): Agg = l.toSeq.map(cells).foldLeft(Zero)(_ + _)
    valid.add(stateAgg(live))

    private val versionState = mutable.Map.empty[String, Set[(Int, Int)]]
    versionState(VersionedTarget.currentVersion(root).get) = live
    private val batchRows = mutable.Map(first.seq -> first.rows)

    // writer-side version counter and the reader's in-flight marker
    private val versionsMade = new AtomicLong(0L)
    private val restoredAt = new AtomicLong(-1L)
    private val readingSince = new AtomicLong(-1L)

    // installed after bring-up, so read at measurement time
    private def tracer: Option[Tracer] = Trace.current

    // per-layer bookkeeping of the traced run: files created under the root
    private val seen = mutable.Set.empty[String]
    private var filesWritten = 0L
    private var bytesWritten = 0L
    private def scanRoot(count: Boolean = true): Unit = tracer.foreach { t =>
      t.bookkeeping {
        regularFiles(root).foreach { p =>
          if (seen.add(p.toString) && count) {
            filesWritten += 1; bytesWritten += Files.size(p)
          }
        }
      }
    }

    private def group[T](g: String)(f: => T): T =
      if (tracer.isEmpty) f
      else {
        spark.sparkContext.setJobGroup(g, g)
        try f finally spark.sparkContext.clearJobGroup()
      }

    private def now(): Double = System.currentTimeMillis() / 1e3

    final class WriterLog {
      val commits = ArrayBuffer.empty[Double]
      val windows = ArrayBuffer.empty[OpWindow]
      var rows = 0L
      var ops = 0L
      var failed = 0L
      var wrong = 0L
    }

    private def publish(next: Set[(Int, Int)]): Unit = {
      live = next
      valid.add(stateAgg(next))
    }

    private def recordVersion(): Unit = {
      VersionedTarget.currentVersion(root).foreach(v => versionState(v) = live)
      versionsMade.incrementAndGet()
    }

    /** The writer. Work before `start` (the warm-up) is checked but not timed. */
    private def writer(deadline: Long, start: Long, log: WriterLog): Unit = {
      var epoch = 0L
      var commitsDone = 0
      var restored = false
      val rnd = new scala.util.Random(run.seed * 31L + 5)
      def op(name: String)(f: => Unit): Unit = {
        log.ops += 1
        val g = s"w${log.ops}"
        val s0 = now()
        try group(g)(f)
        catch {
          case e: Exception =>
            log.failed += 1; log.wrong += 1
            System.err.println(s"[store_churn] $name failed: $e")
        }
        log.windows += OpWindow(g, s0, now())
        scanRoot()
      }
      while (System.nanoTime() < deadline) {
        val measuring = System.nanoTime() >= start
        val elapsed = (System.nanoTime() - start).toDouble / (deadline - start)
        if (!restored && elapsed >= RestoreAt) {
          restored = true
          // roll back a few versions, then check the table is that version
          val vs = target.versions
          val back = 2 + rnd.nextInt(KeepLast - 3)
          val to = vs(math.max(0, vs.size - 1 - back))
          op("restore") {
            val state = versionState(to)
            valid.add(stateAgg(state))
            Trace.span("store.restore") { target.restore(to) }
            restoredAt.set(versionsMade.incrementAndGet())
            // re-commits reuse the undone batch ids, replacing their
            // segments: let a read that resolved an undone version finish
            while ({ val r = readingSince.get; r >= 0 && r < restoredAt.get })
              Thread.sleep(1)
            live = state
            epoch = VersionedTarget.epochOf(to)
            val got = aggregate(target.current(spark).get)
            if (got != stateAgg(state)) {
              log.failed += 1; log.wrong += 1
              System.err.println(s"[store_churn] table after restore to $to is $got, model ${stateAgg(state)}")
            }
          }
        } else {
          val b = gen.next()
          batchRows(b.seq) = b.rows
          cells ++= cellsOf(b)
          val df = frame(spark, b.rows)
          epoch += 1
          op("commit") {
            publish(live ++ cellsOf(b).keySet)
            val c0 = System.nanoTime()
            target.commit(df, epoch)
            if (measuring) {
              log.commits += (System.nanoTime() - c0) / 1e9
              log.rows += b.rows.size
            }
            recordVersion()
          }
          commitsDone += 1
          if (commitsDone % CompactEvery == 0) op("compact") {
            Trace.span("store.compact") { target.compact(spark) }
            recordVersion()
          }
          if (commitsDone % DeleteEvery == 0) {
            val g = rnd.nextInt(Groups)
            op("deleteWhere") {
              publish(live.filterNot(_._2 == g))
              Trace.span("store.delete") { target.deleteWhere(spark, col("grp") === g) }
              recordVersion()
            }
          }
          if (commitsDone % VacuumEvery == 0) {
            val since = readingSince.get
            val safe = since < 0 ||
              (versionsMade.get - since < KeepLast - 1 && restoredAt.get < since)
            if (safe) op("vacuum") { Trace.span("store.vacuum") { target.vacuum(KeepLast) }: Unit }
          }
        }
      }
    }

    final class ReaderLog {
      val reads = ArrayBuffer.empty[Double]
      val windows = ArrayBuffer.empty[OpWindow]
      var ops = 0L
      var failed = 0L
      var wrong = 0L
    }

    private def reader(start: Long, deadline: Long, log: ReaderLog): Unit = {
      while (System.nanoTime() < deadline) {
        log.ops += 1
        val g = s"r${log.ops}"
        val s0 = now()
        readingSince.set(versionsMade.get)
        val r0 = System.nanoTime()
        try group(g) {
          val df = Trace.span("store.resolve") { target.current(spark).get }
          val got = Trace.span("store.scan") { aggregate(df) }
          if (r0 >= start) log.reads += (System.nanoTime() - r0) / 1e9
          if (!valid.contains(got)) {
            log.failed += 1; log.wrong += 1
            System.err.println(s"[store_churn] read $got matches no committed version")
          }
        } catch {
          case e: Exception =>
            log.failed += 1; log.wrong += 1
            System.err.println(s"[store_churn] read failed: $e")
        } finally readingSince.set(-1L)
        log.windows += OpWindow(g, s0, now())
      }
    }

    def measure(): Outcome = {
      scanRoot(count = false)
      val pool = Executors.newFixedThreadPool(2)
      val w = new WriterLog
      val r = new ReaderLog
      val t0 = System.nanoTime() + WarmupSeconds * 1000000000L
      val deadline = run.deadlineNanos(t0)
      var writerWall = 0.0
      val wf = pool.submit(new Runnable {
        def run(): Unit = { writer(deadline, t0, w); writerWall = (System.nanoTime() - t0) / 1e9 }
      })
      val rf = pool.submit(new Runnable { def run(): Unit = reader(t0, deadline, r) })
      wf.get(); rf.get()
      val wall = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)

      val layers = tracer.map { t =>
        val liveSegs = VersionedTarget.currentVersion(root).map(target.segmentsOf(_).size).getOrElse(0)
        val onDisk = regularFiles(root).map(Files.size(_)).sum
        val committedRows = batchRows.keys.toSeq.sorted.flatMap(batchRows)
        val liveRows = live.toSeq.sorted.flatMap { case (s, g) => batchRows(s).filter(_._2 == g) }
        val once = writeOnceBytes(committedRows, "all")
        val liveOnce = writeOnceBytes(liveRows, "live")
        def p50(name: String) = Stats.median(t.spanValues(name))
        Map(
          "store.resolve_s" -> p50("store.resolve"),
          "store.scan_s" -> p50("store.scan"),
          "store.compact_s" -> p50("store.compact"),
          "store.delete_s" -> p50("store.delete"),
          "store.vacuum_s" -> p50("store.vacuum"),
          "store.restore_s" -> p50("store.restore"),
          "store.files_written" -> filesWritten.toDouble,
          "store.bytes_written" -> bytesWritten.toDouble,
          "store.live_segments" -> liveSegs.toDouble,
          "store.bytes_on_disk" -> onDisk.toDouble,
          "store.write_amp" -> bytesWritten.toDouble / once,
          "store.space_amp" -> onDisk.toDouble / liveOnce)
      }.getOrElse(Map.empty)

      Outcome(
        attempted = w.ops + r.ops,
        failed = w.failed + r.failed,
        correct = w.wrong + r.wrong == 0 && w.commits.nonEmpty && r.reads.nonEmpty,
        endToEnd = Map(
          "ops_per_s" -> w.rows / writerWall,
          "op_p50_s" -> Stats.percentile(w.commits.toSeq, 0.5).value,
          "op_p90_s" -> Stats.percentile(w.commits.toSeq, 0.9).value,
          "group_a_s" -> Stats.percentile(r.reads.toSeq, 0.5).value,
          "group_b_s" -> Stats.percentile(r.reads.toSeq, 0.9).value),
        layers = layers,
        windows = (w.windows ++ r.windows).toSeq,
        samples = w.commits.size,
        wallSeconds = wall)
    }

    /** Bytes of `rows` written once as a single parquet file. */
    private def writeOnceBytes(rows: Seq[(Long, Int, Long)], tag: String): Double = {
      val dir = Files.createTempDirectory(run.work, s"once-$tag-")
      frame(spark, rows).coalesce(1).write.mode("overwrite").parquet(dir.resolve("t").toString)
      regularFiles(dir).filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size(_)).sum.toDouble
    }

    def close(): Unit = deleteTree(root)
  }
}
