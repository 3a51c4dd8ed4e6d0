package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for integration suites (one per JVM). A failed
  * task is tried up to 3 times, as on a cluster, so a suite can show that a
  * retried task leaves the outputs as they were.
  */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4,3]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
