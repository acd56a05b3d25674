package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Order-sensitive digest of a query result: schema plus every row with
  * doubles compared bit for bit (the engine's determinism contract).
  */
object Digest {

  private def cell(v: Any): String = v match {
    case null => "N"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => "f" + Integer.toHexString(java.lang.Float.floatToIntBits(f))
    case b: java.math.BigDecimal => "m" + b.toPlainString
    case b: scala.math.BigDecimal => "m" + b.bigDecimal.toPlainString
    case a: Array[Byte] => "b" + a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case s: String => "s" + s
    case other => other.getClass.getSimpleName.take(1) + other.toString
  }

  def of(schema: StructType, rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").getBytes(StandardCharsets.UTF_8))
    rows.foreach { r =>
      md.update('\n'.toByte)
      md.update(r.toSeq.map(cell).mkString("|").getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

object LlmVerbs extends Workload {

  /** Recorded digests: `short -> (rows, digest)`, from `digests.json`
    * next to the sources (see README.md for how they were recorded).
    */
  def loadDigests(file: Path): Map[String, (Long, String)] = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    json.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }

  /** The check of one member's result. None = the output is the recorded
    * one; a defect member has no recorded output.
    */
  def check(short: String, rows: Seq[Row], schema: StructType,
      digests: Map[String, (Long, String)]): Option[String] =
    digests.get(short) match {
      case None => Some(s"$short completed but has no recorded digest to check against")
      case Some((n, d)) =>
        val got = Digest.of(schema, rows)
        if (rows.size != n || got != d) Some(s"$short: ${rows.size} rows, digest $got; recorded $n rows, $d")
        else None
    }

  /** The failure a defect member is known to raise at this tree. */
  def knownDefect(e: Throwable): Boolean =
    e.isInstanceOf[IllegalArgumentException] && String.valueOf(e.getMessage).contains("MULTI-batch")

  /** The order of one pass: the defect members, then the driver group,
    * then the data group, each part in a seeded order. The first queries
    * of a fresh JVM pay the JIT and code-generation warm-up of code they
    * share with later ones (Spark SQL basics, k-means, PQ). Leading with
    * the untimed defect members keeps most of that cost out of both group
    * sums, and a fixed group order puts the rest in the same group on
    * every seed, instead of letting the seed decide which group pays it.
    */
  def order(seed: Long): Seq[(String, String, String)] = {
    val rnd = new scala.util.Random(seed)
    Seq("defect", "driver", "data").flatMap(g => rnd.shuffle(Metrics.members.filter(_._3 == g)))
  }

  def bringUp(spark: SparkSession, run: Run): Node = {
    val dir = run.data.resolve("sf0.1")
    // ingest: schema inference and the one-time compacted copy of every
    // input table, so no member pays it depending on its place in the
    // order; the tables are independent, so they are ingested concurrently
    val listing = Files.list(dir)
    val tables = try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toList.sorted
    finally listing.close()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Session.Cores)
    try tables.map { f =>
      pool.submit(new Runnable {
        def run(): Unit = graft.core.Tables.t(spark, dir.toString, f.stripSuffix(".parquet")): Unit
      })
    }.foreach(_.get())
    finally pool.shutdown()
    new VerbsNode(spark, run, dir.toString,
      loadDigests(run.data.resolve("digests.json")))
  }

  final class VerbsNode(spark: SparkSession, run: Run, dir: String,
      digests: Map[String, (Long, String)]) extends Node {

    def measure(): Outcome = {
      val tracer = Trace.current
      val walls = mutable.Map.empty[String, ArrayBuffer[Double]]
      val windows = ArrayBuffer.empty[OpWindow]
      val perPass = ArrayBuffer.empty[(Double, Double)]
      var attempted = 0L
      var failed = 0L
      var wrong = 0L
      val t0 = System.nanoTime()
      val deadline = run.deadlineNanos(t0)
      var pass = 0
      while (pass == 0 || System.nanoTime() < deadline) {
        var driver = 0.0
        var data = 0.0
        order(run.seed + pass).foreach { case (short, key, group) =>
          attempted += 1
          val g = s"q:$short:$pass"
          tracer.foreach(_ => spark.sparkContext.setJobGroup(g, g))
          val s0 = System.currentTimeMillis() / 1e3
          val q0 = System.nanoTime()
          val verdict =
            try {
              val df = graft.SparkEntry.queries(key)(spark, dir)
              val rows = df.collect().toSeq
              val wall = (System.nanoTime() - q0) / 1e9
              walls.getOrElseUpdate(short, ArrayBuffer.empty) += wall
              if (group == "driver") driver += wall
              if (group == "data") data += wall
              check(short, rows, df.schema, digests)
            } catch {
              case e: Exception if group == "defect" && knownDefect(e) =>
                walls.getOrElseUpdate(short, ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e9
                Some(s"$short raised its known defect: ${e.getMessage.take(100)}")
              case e: Exception => Some(s"$short raised $e")
            } finally {
              graft.core.CacheScope.releaseAll()
              tracer.foreach(_ => spark.sparkContext.clearJobGroup())
            }
          windows += OpWindow(g, s0, System.currentTimeMillis() / 1e3)
          System.err.println(f"[llm_verbs] $short ${(System.nanoTime() - q0) / 1e9}%.2f s")
          verdict.foreach { why =>
            failed += 1
            if (group != "defect") wrong += 1
            System.err.println(s"[llm_verbs] $why")
          }
        }
        perPass += ((driver, data))
        pass += 1
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val timed = Metrics.members.filter(_._3 != "defect").map(_._1)
      val timedWalls = timed.flatMap(q => walls.getOrElse(q, Nil))
      // the unit operation is one pass over the timed members
      val passWalls = perPass.map { case (a, b) => a + b }.toSeq

      val layers = tracer.map { t =>
        val jobs = t.jobs(_.startsWith("q:")).groupBy(_.group.split(":")(1))
        Metrics.members.flatMap { case (q, _, _) =>
          val ws = windows.filter(_.group.split(":")(1) == q)
          val residual = Stats.mean(ws.map { w =>
            Stats.residual(w.start, w.end,
              jobs.getOrElse(q, Nil).filter(_.group == w.group).map(j => (j.start, j.end)))
          }.toSeq)
          Seq(s"q.$q.s" -> Stats.median(walls.getOrElse(q, Nil).toSeq),
            s"q.$q.jobs" -> jobs.getOrElse(q, Nil).size.toDouble / pass,
            s"q.$q.residual_s" -> residual)
        }.toMap
      }.getOrElse(Map.empty)

      Outcome(
        attempted = attempted,
        failed = failed,
        correct = wrong == 0,
        endToEnd = Map(
          "ops_per_s" -> timedWalls.size / timedWalls.sum,
          "op_p50_s" -> Stats.percentile(passWalls, 0.5).value,
          "op_p90_s" -> Stats.percentile(passWalls, 0.9).value,
          "group_a_s" -> Stats.median(perPass.map(_._1).toSeq),
          "group_b_s" -> Stats.median(perPass.map(_._2).toSeq)),
        layers = layers,
        windows = windows.toSeq,
        samples = timedWalls.size,
        wallSeconds = wall)
    }

    def close(): Unit = ()
  }
}
