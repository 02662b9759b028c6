package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftDatasetFactory
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (forked JVM, see build.sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // plan like the registered entries from the first test on, whichever
    // suite runs first
    graft.plans.GraftStrategies.install(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** Jobs this thread starts while running `action`: the listener counts
    * only jobs carrying a local property set on this thread, so jobs of
    * other threads and suites do not count. */
  def jobsOf(action: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobsOf"
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null) jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try {
      sc.setLocalProperty(tag, "1")
      try action finally sc.setLocalProperty(tag, null)
      GraftDatasetFactory.drainListenerBus(spark)
      jobs.get
    } finally sc.removeSparkListener(counter)
  }
}
