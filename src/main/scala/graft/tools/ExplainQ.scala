package graft.tools
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(8, smallResultSort = true,
      compactScans = true)
    spark.conf.set("spark.sql.shuffle.partitions", 32)
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(args(0))(spark, "/root/testdata/sf0.1")
    df.explain("formatted")
    spark.stop()
  }
}
