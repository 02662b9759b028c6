package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftDatasetFactory
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (forked JVM, see build.sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    // the warehouse lives as long as the session, so it goes at JVM exit
    val warehouse = Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
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

  /** Runs `body` on a fresh temp dir named `prefix`…, then stops every
    * active streaming query and deletes the dir recursively. Tests run
    * one after another in one JVM, so any query still active here was
    * started by this body, whether or not it finished a batch. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally {
      spark.streams.active.foreach(_.stop())
      FileUtils.deleteQuietly(dir)
    }
  }

  /** Runs `body` on a temp corpus dir holding the named tables of
    * `sfDir`, each written as two parquet files, so Spark reads every one
    * in two or more partitions. A plan-shape assertion that counts
    * exchanges above a scan needs this: a one-file table plans none
    * (graft.plans.OnePartitionScan). */
  def withTwoFileTables[T](tables: String*)(body: String => T): T =
    withTempDir("graft-two-file") { dir =>
      tables.foreach(t => Tables(spark, sfDir, t).repartition(2).write.parquet(s"$dir/$t.parquet"))
      body(dir)
    }

  /** Runs `body` with each `key -> value` set in the shared session's
    * conf, then restores every key's earlier value or unsets it. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val before = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The temp views registered in session `s`. */
  def tempViews(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

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

  /** Classes Spark's codegen compiles while running `action`: its
    * compile-count delta (`CodegenMetrics`, one per codegen cache miss,
    * at planning time and in tasks alike). A plan whose code the cache already holds
    * compiles none. Counts every thread's compiles; suites run one at a
    * time. */
  def compilesOf(action: => Unit): Long = {
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiled.getCount
    action
    compiled.getCount - before
  }
}
