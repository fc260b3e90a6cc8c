package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The Spark jobs `f` starts, counted between two marker jobs. */
  def jobsDuring(f: => Unit): Int = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add((js.jobId, Option(js.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")))
        ()
      }
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("START")
      f
      marker("END")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      // a marker's count may run more than one job (adaptive execution
      // runs its shuffle stage as a job of its own)
      def idsOf(name: String) = seen.toArray(Array.empty[(Int, String)])
        .filter(_._2 == name).map(_._1)
      while (idsOf("END").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      val (start, end) = (idsOf("START").max, idsOf("END").min)
      seen.toArray(Array.empty[(Int, String)])
        .count { case (id, _) => id > start && id < end }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
