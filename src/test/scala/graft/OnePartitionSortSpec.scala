package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.plans.{GraftStrategies, OnePartitionExec, OnePartitionSort}
import graft.streaming.Pipelines

/** A global sort whose input is at most AQE's minimum partition size is
  * planned over a one-partition coalesce (`OnePartitionExec`), with no sampling job and no
  * range shuffle; above that size Spark's range sort is unchanged. */
class OnePartitionSortSpec extends SparkTestBase {

  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Runs `body` with AQE's minimum partition size at one byte, so no
    * input fits one partition, and restores the session's setting. */
  private def withRangeSort[T](body: => T): T = withConf(MinPartitionSize -> "1b")(body)

  /** q15 over orders written as two files, so the rollup shuffles:
    * over one file it runs in the scan's task (OnePartitionScan). */
  private def q15TwoFiles[T](body: DataFrame => T): T =
    withTwoFileTables("orders")(dir => body(Analytics.q15.run(spark, dir)))

  test("q15 sorts in one partition: no range exchange, 2 jobs") {
    q15TwoFiles { df =>
      val jobs = jobsOf(df.collect())
      val p = finalPlan(df)
      assert(!p.contains("rangepartitioning"), s"q15 kept its range exchange:\n$p")
      assert(p.contains("OnePartition"), s"q15 is not coalesced to one partition:\n$p")
      // the rollup's map stage and the result: no sampling job, no range map stage
      assert(jobs == 2, s"q15 ran $jobs jobs:\n$p")
    }
    // over one file: no exchange at all, one job
    val one = Analytics.q15.run(spark, sfDir)
    val jobs = jobsOf(one.collect())
    assert(!finalPlan(one).contains("Exchange"), finalPlan(one))
    assert(jobs == 1, s"one-file q15 ran $jobs jobs:\n${finalPlan(one)}")
  }

  test("the size gate is live: at a 1-byte minimum partition size q15 range-sorts again") {
    val p = withRangeSort {
      q15TwoFiles { df =>
        df.collect()
        finalPlan(df)
      }
    }
    assert(p.contains("rangepartitioning"), s"no range exchange above the threshold:\n$p")
    assert(!p.contains("OnePartition"), p)
    // and the setting is restored
    q15TwoFiles { after =>
      after.collect()
      assert(!finalPlan(after).contains("rangepartitioning"))
    }
    // a sort over a one-partition input needs no exchange either way
    val one = withRangeSort {
      val df = Analytics.q15.run(spark, sfDir)
      df.collect()
      finalPlan(df)
    }
    assert(!one.contains("Exchange"), s"one-file q15 exchanged above the threshold:\n$one")
  }

  test("duplicate sort keys over 8 input partitions: same rows, same key order on both paths") {
    def sorted: DataFrame = spark.range(0, 5000, 1, 8)
      .select((col("id") * 7919 % 41).as("k"), col("id").as("v"))
      .orderBy("k")
    val one = sorted
    val onePart = one.collect().toSeq
    assert(finalPlan(one).contains("OnePartition"), finalPlan(one))
    val (rangePart, rangePlan) = withRangeSort {
      val df = sorted
      (df.collect().toSeq, finalPlan(df))
    }
    assert(rangePlan.contains("rangepartitioning"), rangePlan)
    assert(onePart.size == 5000)
    val keys = onePart.map(_.getLong(0))
    assert(keys == keys.sorted, "one-partition result is not in key order")
    assert(keys == rangePart.map(_.getLong(0)))
    assert(onePart.map(r => (r.getLong(0), r.getLong(1))).sorted ==
      rangePart.map(r => (r.getLong(0), r.getLong(1))).sorted)
  }

  test("a complete-mode streaming sort gets no one-partition coalesce") {
    withTempDir("graft-sort-stream-src") { src =>
      val events = Tables.events(spark, sfDir)
      val stream = Pipelines.hourlyTypeCounts(Pipelines.eventStream(spark, src, events.schema))
        .orderBy("ws", "event_type")
      val q = Pipelines.startToMemory(stream, "one_partition_sort_stream", "complete")
      try {
        events.write.mode("append").parquet(src)
        q.processAllAvailable()
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        assert(plan.collectFirst { case c: CoalesceExec => c; case o: OnePartitionExec => o }.isEmpty,
          s"the streaming sort was coalesced:\n$plan")
        assert(plan.toString.contains("Sort ["), plan.toString)
      } finally q.stop()
      val got = spark.table("one_partition_sort_stream").collect().toSeq
      val want = Pipelines.hourlyTypeCounts(events).orderBy("ws", "event_type").collect().toSeq
      assert(got == want)
    }
  }

  test("the test session plans with each graft strategy exactly once") {
    def counts = GraftStrategies.all.map(s => spark.sessionState.planner.strategies.count(_ == s))
    assert(counts.forall(_ == 1), counts)
    GraftStrategies.install(spark)
    Analytics.q15.run(spark, sfDir)
    assert(counts.forall(_ == 1), counts)
    // a plain DataFrame sort, built outside any registered entry
    val df = spark.range(10).toDF().orderBy(col("id").desc)
    assert(spark.sessionState.planner.strategies.contains(OnePartitionSort))
    assert(finalPlan(df).contains("OnePartition"), finalPlan(df))
  }
}
