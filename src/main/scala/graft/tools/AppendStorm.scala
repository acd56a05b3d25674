package graft.tools

import java.nio.file.Paths

/** Test fixture main: a SECOND-PROCESS APPENDER for the persisted IVF
  * index pair (assignments [[graft.ops.VersionedTarget.Segmented]] +
  * centroids [[graft.ops.VersionedTarget.Rewrite]]) — runs
  * [[graft.ops.Similarity.appendToIndex]] batches from a separate JVM
  * while the spawning spec executes [[graft.ops.Similarity.refitIndex]]
  * rebases against the same store.
  *
  * [[CommitStorm]] stresses the corpus target's commit/compact paths;
  * this drives the subtler index coupling: `appendToIndex` reads the
  * served quantizer tag OUTSIDE any lock and re-validates it INSIDE the
  * commit's pointer transaction — its retry loop was only ever exercised
  * through the in-process `onPlaced` seam, and this main makes the race
  * real across processes. `onPlaced` sleeps 25 ms per placement to widen
  * the placement→commit window the refits must be caught in, and every
  * race outcome (tag moved / epoch advanced / commit raced) re-places
  * against the fresh state with a fresh batch id — exactly what a
  * streaming ingester on another node does when nightly maintenance
  * rebases the index under it. The spec's end invariant: every row the
  * final manifest serves sits in the cell the TAGGED quantizer assigns.
  *
  * Usage: AppendStorm <assignRoot> <centRoot> <nAppends>. Prints `READY`
  * once its SparkSession is up, `APPENDED <i>` per landed batch, exits 0.
  */
object AppendStorm {
  /** Deterministic dim-4 test vector — shared with the spec's corpus
    * rule so both processes agree on every vector by id.
    */
  def vec(id: Long): Array[Double] = Array(
    (id * 37 % 101) / 101.0, (id * 53 % 97) / 97.0,
    (id * 71 % 89) / 89.0, (id * 13 % 83) / 83.0)

  def main(args: Array[String]): Unit = {
    val aroot = Paths.get(args(0))
    val croot = Paths.get(args(1))
    val nAppends = args(2).toInt
    val spark = graft.core.GraftSession.local(2, "graft-append-storm")
    try {
      import spark.implicits._
      val assignT = graft.ops.VersionedTarget.Segmented(aroot,
        partitionCols = Seq("cell"), clusterCommits = true)
      val centT = graft.ops.VersionedTarget.Rewrite(croot)
      println("READY")
      System.out.flush()
      (0 until nAppends).foreach { i =>
        val delta = (0 until 5).map { j =>
          val id = 1000L + i * 10 + j
          (id, vec(id))
        }.toDF("vec_id", "embedding")
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          // batch id from the live epoch, re-read per attempt: the spec's
          // refits advance it concurrently, so collisions are expected
          // and every loser re-places from scratch
          val bid = graft.ops.VersionedTarget.currentEpoch(aroot)
            .getOrElse(-1L) + 1L
          try {
            // maxAttempts=1: every race surfaces HERE (not in the verb's
            // own retry) so the re-place picks up a fresh bid too
            graft.ops.Similarity.appendToIndex(delta, "vec_id", "embedding",
              assignT, centT, bid, maxAttempts = 1,
              onPlaced = () => Thread.sleep(25), withVec = true)
            done = true
          } catch {
            case e: Exception if attempts < 120 && {
              val m = Option(e.getMessage).getOrElse("")
              m.contains("raced this append") ||
                m.contains("advance the epoch") ||
                m.contains("raced a newer commit")
            } => Thread.sleep(10) // a refit/commit won — re-place
          }
        }
        println(s"APPENDED $i")
        System.out.flush()
      }
    } finally spark.stop()
  }
}
