package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the suite runtime dominated by actual work, not session spin-up).
  */
object SparkSpec {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4, "graft-test")
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir

  /** Command line for a child JVM running one of the `graft.tools`
    * fixture mains against this test JVM's classpath, forwarding its
    * --add-opens set (Spark 4 on JDK 17 needs it when the child creates
    * a SparkSession) — shared by every cross-process spec so the
    * forwarding logic cannot drift between spawn sites.
    */
  def childJvmCmd(mainClass: String, args: Seq[String],
      xmx: String = "2g"): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val addOpens = jvmArgs.filter(_.contains("--add-opens=")) ++
      jvmArgs.zip(jvmArgs.drop(1))
        .collect { case ("--add-opens", v) => Seq("--add-opens", v) }.flatten
    Seq(javaBin) ++ addOpens ++ Seq(s"-Xmx$xmx",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
  }
}
