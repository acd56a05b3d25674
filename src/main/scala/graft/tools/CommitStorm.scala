package graft.tools

import java.nio.file.Paths

/** Test fixture main: a SECOND-PROCESS WRITER for
  * [[graft.ops.VersionedTarget.Segmented]] — commits `nBatches`
  * consecutive batches (each two rows, ids `b*10` and `b*10+1`, the
  * VersionedTargetSpec shape) into an existing target root while the
  * spawning JVM runs compactions and vacuums against the same store.
  *
  * [[LockHold]] proves the pointer lock BLOCKS cross-process; this main
  * proves the interesting half — that real interleaved commits,
  * reconciles (a fold racing these commits must fold them into its
  * manifest) and vacuums across two JVMs never lose a committed row.
  * The spec asserts the final manifest reads as the union of both
  * processes' batches.
  *
  * Usage: CommitStorm <rootDir> <firstBatch> <nBatches>. Prints `READY`
  * once its SparkSession is up (the spec waits for that line before
  * starting its maintenance cadence), `COMMITTED <b>` after each commit,
  * exits 0 on success.
  */
object CommitStorm {
  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0))
    val first = args(1).toLong
    val n = args(2).toInt
    val spark = graft.core.GraftSession.local(2, "graft-commit-storm")
    try {
      import spark.implicits._
      val target = graft.ops.VersionedTarget.Segmented(root)
      println("READY")
      System.out.flush()
      (0 until n).foreach { i =>
        val b = first + i
        target.commit(
          Seq(b * 10L, b * 10L + 1L).map(x => (x, s"row$x")).toDF("id", "payload"), b)
        println(s"COMMITTED $b")
        System.out.flush()
      }
    } finally spark.stop()
  }
}
