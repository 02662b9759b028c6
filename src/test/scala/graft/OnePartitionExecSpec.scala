package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Expand
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.{Analytics, EventTime}
import graft.plans.{GraftExtensions, OnePartitionExec, OnePartitionScan}

/** The one-partition coalesce fuses into whole-stage codegen where its
  * input allows it, runs as Spark's `CoalesceExec(1)` elsewhere, and
  * yields one partition on both paths; plans graft builds twice compile
  * once. */
class OnePartitionExecSpec extends SparkTestBase {

  private object Aqe extends AdaptiveSparkPlanHelper

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Each OnePartitionExec of `df`'s plan, with whether a codegen stage
    * holds it (reached from the stage without crossing an InputAdapter). */
  private def coalesces(df: DataFrame): Seq[(OnePartitionExec, Boolean)] = {
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(inStage)
    }
    val fused = Aqe.collectWithSubqueries(finalPlan(df)) {
      case w: WholeStageCodegenExec => inStage(w.child)
    }.flatten
    Aqe.collectWithSubqueries(finalPlan(df)) { case o: OnePartitionExec => o }
      .map(o => (o, fused.exists(_ eq o)))
  }

  private def stages(df: DataFrame): Int =
    Aqe.collectWithSubqueries(finalPlan(df)) { case w: WholeStageCodegenExec => w }.size

  private val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))

  test("count(*) over an empty input coalesced to one partition is 0 on both paths") {
    val rdd = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema).coalesce(1)
      .selectExpr("count(*) AS n")
    assert(rdd.collect().toSeq == Seq(Row(0L)))
    assert(coalesces(rdd).map(_._2) == Seq(false), finalPlan(rdd))
    withTempDir("graft-one-empty") { dir =>
      // a file scan of no file: zero input partitions under a fused coalesce
      val files = spark.read.schema(schema).parquet(dir).coalesce(1).selectExpr("count(*) AS n")
      assert(files.collect().toSeq == Seq(Row(0L)))
      assert(coalesces(files).map(_._2) == Seq(true), finalPlan(files))
      assert(files.queryExecution.toRdd.getNumPartitions == 1)
    }
  }

  test("a zero-row one-file table: q15 and q24 equal their rule-off results") {
    withTempDir("graft-zero-rows") { dir =>
      Seq("orders", "lineitem").foreach { t =>
        Tables(spark, sfDir, t).limit(0).coalesce(1).write.parquet(s"$dir/$t.parquet")
      }
      Seq("q15_rollup", "q24_count_distinct").foreach { name =>
        def run() = {
          val df = Tables.sql(spark, dir, SparkEntry.oracleSql(name))
          (df.collect().toSeq, df)
        }
        val (got, df) = run()
        assert(coalesces(df).nonEmpty && coalesces(df).forall(_._2), s"$name:\n${finalPlan(df)}")
        val before = spark.experimental.extraOptimizations
        spark.experimental.extraOptimizations = before.filterNot(_ == OnePartitionScan)
        val (want, off) = try run() finally spark.experimental.extraOptimizations = before
        assert(finalPlan(off).toString.contains("Exchange"), s"$name:\n${finalPlan(off)}")
        assert(got == want, s"$name over zero rows")
      }
    }
  }

  test("an 8-partition range chain coalesced to one partition: the same rows in one partition") {
    def chain = spark.range(0, 10000, 1, 8).filter(col("id") % 7 === 3)
      .select(col("id"), (col("id") * 3).as("x"))
    val df = chain.coalesce(1)
    assert(df.queryExecution.toRdd.getNumPartitions == 1)
    assert(df.collect().toSeq == chain.collect().toSeq)
    // a range reads its partition index, so its chain is not fused
    assert(coalesces(df).map(_._2) == Seq(false), finalPlan(df))
  }

  test("a sort-merge-join child stays unfused and keeps its rows") {
    def side(n: Int) = spark.range(0, 2000, 1, 4).select((col("id") % 97).as("k"), (col("id") * n).as(s"v$n"))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val joined = side(1).join(side(2), "k")
      val df = joined.coalesce(1)
      val got = df.collect().toSeq
      assert(finalPlan(df).toString.contains("SortMergeJoin"), finalPlan(df))
      assert(coalesces(df).map(_._2) == Seq(false), finalPlan(df))
      assert(coalesces(df).forall(!_._1.supportCodegen))
      assert(df.queryExecution.toRdd.getNumPartitions == 1)
      assert(got.sortBy(_.toString) == joined.collect().toSeq.sortBy(_.toString))
    }
  }

  test("one-file q15 and s05 each run as one whole-stage codegen stage") {
    Seq(Analytics.q15, EventTime.s05).foreach { q =>
      val df = q.run(spark, sfDir)
      df.collect()
      assert(!finalPlan(df).toString.contains("Exchange"), finalPlan(df))
      assert(stages(df) == 1, s"${q.name}:\n${finalPlan(df)}")
      assert(coalesces(df).nonEmpty && coalesces(df).forall(_._2), finalPlan(df))
    }
  }

  test("q24's distinct groups are numbered in the outer aggregate's order in every build") {
    def shape(df: DataFrame) = df.queryExecution.optimizedPlan.collectFirst {
      case e: Expand => (e.output.map(_.name), e.projections.map(_.map {
        case Literal(null, _) => "null"
        case Literal(v, _) => v.toString
        case a: Attribute => a.name
        case other => other.sql
      }))
    }.get
    val shapes = Seq.fill(6)(shape(Analytics.q24.run(spark, sfDir)))
    assert(shapes.distinct.size == 1, shapes.distinct.mkString("\n"))
    val (names, rows) = shapes.head
    assert(names == Seq("l_returnflag", "l_suppkey", "l_partkey", "l_orderkey", "gid"), names)
    assert(rows.map(_.last) == Seq("1", "2", "3"), rows)
    rows.zipWithIndex.foreach { case (row, i) =>
      assert(row.slice(1, 4) == names.slice(1, 4).zipWithIndex.map { case (c, j) => if (i == j) c else "null" },
        row)
    }
  }

  test("a second build and run of q24 compiles no class") {
    Analytics.q24.run(spark, sfDir).collect()
    val compiles = compilesOf(Analytics.q24.run(spark, sfDir).collect())
    assert(compiles == 0, s"the second q24 compiled $compiles classes")
  }

  test("a GraftExtensions session plans one-file q15 with no exchange, as one fused stage") {
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    try {
      val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
      val df = Tables.sql(ext, sfDir, SparkEntry.oracleSql("q15_rollup"))
      val got = df.collect().toSeq
      // nothing was installed: the extension alone planned it
      assert(ext.experimental.extraOptimizations.isEmpty && ext.experimental.extraStrategies.isEmpty)
      assert(!finalPlan(df).toString.contains("Exchange"), finalPlan(df))
      assert(stages(df) == 1, finalPlan(df))
      assert(got == Analytics.q15.run(spark, sfDir).collect().toSeq)
    } finally {
      // the shared session's active and default state, as before
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    }
  }
}
