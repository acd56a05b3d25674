package graft.tools

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Test fixture main: RESUME the q132 incremental-dedup stream from an
  * existing checkpoint in a genuinely FRESH JVM — the real restart the
  * in-suite replay tests cannot give (a same-JVM restart can reuse
  * loaded state and caches; a fresh process must recover everything
  * from the checkpoint's offsets WAL + the target's CURRENT pointer).
  *
  * StreamingSemanticsSpec crashes the stream BETWEEN the target commit
  * and the streaming checkpoint commit (the exactly-once window), then
  * runs this main: the WAL redelivers the uncommitted batch, the
  * target's epoch guard skips the re-merge, and the checkpoint
  * converges — the reference's durable-handoff recovery analogue
  * (/root/reference/lib/fossa/control/rabbit_mq/pika_client.py:75).
  *
  * Usage: DedupResume <dataDir> <checkpointDir> <targetRoot> <corpusParquet>.
  * Prints `RESUMED_OK` after the stream drains, exits 0 on success.
  */
object DedupResume {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, ckpt, root, corpusPath) = args.take(4)
    val spark = graft.core.GraftSession.local(2, "graft-dedup-resume")
    try {
      val corpus = spark.read.parquet(corpusPath)
      val index = graft.queries.StreamingQueries.neardupIndex(corpus)
      val merge = graft.queries.StreamingQueries.dedupMergeFn(index, Paths.get(root))
      val q = spark.readStream.schema(corpus.schema).parquet(dataDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          merge(graft.queries.StreamingQueries.bandedDocs(b), id)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println("RESUMED_OK")
      System.out.flush()
    } finally spark.stop()
  }
}
