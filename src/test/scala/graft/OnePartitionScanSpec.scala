package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Bucketed
import graft.plans.{GraftStrategies, OnePartitionScan}

/** A scan Spark reads in one task (one small file) keeps the aggregate,
  * window or sort above it in that task: no exchange, one job, the same
  * rows as Spark's own plan. Every other scan keeps its exchange. */
class OnePartitionScanSpec extends SparkTestBase {

  private object Aqe extends AdaptiveSparkPlanHelper

  private def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Runs `body` with the rule out of the session's optimizer, and puts
    * it back. */
  private def withoutRule[T](body: => T): T = {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before.filterNot(_ == OnePartitionScan)
    try body finally spark.experimental.extraOptimizations = before
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** 3000 rows: a key `k` of 17 values, a group `g` of 3, a double `v`. */
  private def table(n: Int = 3000): DataFrame = spark.range(0, n, 1, 1).select(
    (col("id") * 7919 % 17).as("k"), (col("id") % 3).as("g"),
    (col("id") * 0.37 - 100.0).as("v"))

  /** `table` written as `files` parquet files under `dir`. */
  private def written(dir: String, files: Int): DataFrame = {
    table().repartition(files).write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    assert(new java.io.File(s"$dir/t").listFiles().count(_.getName.endsWith(".parquet")) == files)
    df
  }

  private def assertExchangeStays(what: String, df: DataFrame): Unit = {
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("Exchange"), s"$what lost its exchange:\n$p")
    assert(!p.contains("OnePartition"), s"$what was coalesced:\n$p")
  }

  private val shapes: Seq[(String, DataFrame => DataFrame, Boolean)] = Seq(
    ("groupBy", _.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n")), false),
    ("rollup", _.rollup("g", "k").agg(sum("v").as("s")), false),
    ("cube", _.cube("g", "k").agg(count(lit(1)).as("n"), max("v").as("m")), false),
    // beside a distinct count, a double sum merges its per-(g, k)
    // partials in shuffle-partition order on Spark's plan and in one hash
    // map's order here: equal up to reassociation, not bit for bit
    ("countDistinct", _.groupBy("g").agg(countDistinct("k").as("nk"), max("v").as("m")), false),
    ("window", _.withColumn("rk",
      row_number().over(Window.partitionBy("k").orderBy(col("v").desc))), false),
    ("orderBy", _.orderBy(col("v").desc, col("k")), true),
    // a double sum over a union would merge the branches' partial sums
    // in another association; the union case sums an integer column
    ("union", t => t.union(t).groupBy("g").agg(sum("k").as("s")), false))

  test("one small file: every shape runs in the scan's task, one job, Spark's rows") {
    withTempDir("graft-one-scan") { dir =>
      val t = written(dir, 1)
      shapes.foreach { case (name, shape, ordered) =>
        val df = shape(t)
        var got: Seq[Row] = null
        val jobs = jobsOf { got = rowsOf(df) }
        val p = finalPlan(df)
        assert(!p.contains("Exchange"), s"$name planned an exchange:\n$p")
        assert(jobs == 1, s"$name ran $jobs jobs:\n$p")
        val (want, plain) = withoutRule {
          val off = shape(t)
          (rowsOf(off), finalPlan(off))
        }
        // Spark's own plan shuffles (a small sort is OnePartitionSort's)
        if (!ordered) assert(plain.contains("Exchange"), s"$name without the rule:\n$plain")
        def key(rows: Seq[Row]) = if (ordered) rows else rows.sortBy(_.toString)
        assert(key(got) == key(want), s"$name rows differ from the rule-off plan")
      }
    }
  }

  test("the exchange stays: two files, a file over the split size, rand(), a generator, a non-broadcast join") {
    withTempDir("graft-one-scan-keep") { dir =>
      val agg: DataFrame => DataFrame = _.groupBy("k").agg(sum("v").as("s"))
      assertExchangeStays("a two-file table", agg(written(s"$dir/two", 2)))
      val one = written(s"$dir/one", 1)
      val len = new java.io.File(s"$dir/one/t").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.length
      withConf("spark.sql.files.maxPartitionBytes" -> (len - 1).toString) {
        assertExchangeStays("a file over the split size", agg(spark.read.parquet(s"$dir/one/t")))
      }
      assertExchangeStays("rand()", one.withColumn("r", rand(7))
        .groupBy("k").agg(sum("r").as("s")))
      assertExchangeStays("a generator below the aggregate",
        one.select(col("k"), explode(array(col("v"), col("v") + 1)).as("x"))
          .groupBy("k").agg(sum("x").as("s")))
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val join = one.join(one.filter(col("g") === 0).select(col("k"), col("g").as("g2")), "k")
          .groupBy("g2").agg(count(lit(1)).as("n"))
        assertExchangeStays("a sort-merge join", join)
        assert(finalPlan(join).contains("SortMergeJoin"), finalPlan(join))
      }
    }
  }

  test("a bucketed one-file table keeps its exchange") {
    val name = "one_scan_bkt"
    try {
      table().coalesce(1).write.bucketBy(1, "k").saveAsTable(name)
      assertExchangeStays("a bucketed table", spark.table(name).groupBy("g").agg(sum("v").as("s")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("q40's bucketed scans plan as without the rule") {
    val plain = withoutRule(Bucketed.q40.run(spark, sfDir).queryExecution.optimizedPlan)
    assert(OnePartitionScan(plain) == plain)
    val df = Bucketed.q40.run(spark, sfDir)
    assert(df.queryExecution.optimizedPlan.collectFirst { case r: Repartition => r }.isEmpty,
      df.queryExecution.optimizedPlan.toString)
    df.collect()
    val scans = Aqe.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.count(_.relation.bucketSpec.nonEmpty) == 2, finalPlan(df))
  }

  test("a streaming aggregate over one file keeps its exchange") {
    withTempDir("graft-one-scan-stream") { src =>
      val q = spark.readStream.schema(table().schema).parquet(src)
        .groupBy("k").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("one_scan_stream").outputMode("complete").start()
      try {
        table().coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        assert(p.toString.contains("Exchange"), s"the streaming aggregate lost its exchange:\n$p")
        assert(!p.toString.contains("Coalesce") && !p.toString.contains("OnePartition"),
          s"the streaming scan was coalesced:\n$p")
      } finally q.stop()
      assert(spark.table("one_scan_stream").count() == 17)
    }
  }

  test("GraftStrategies.install adds the rule once") {
    def count = spark.experimental.extraOptimizations.count(_ == OnePartitionScan)
    assert(count == 1)
    GraftStrategies.install(spark)
    GraftStrategies.install(spark)
    assert(count == 1)
  }
}
