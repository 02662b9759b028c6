package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{ExplainUtils, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Plan-evidence dumper (r16 optimization round): runs registered
  * queries and writes the `.explain("formatted")` text of the plan each
  * one ran (AQE's final plan) to `<outDir>/<name>.txt`, so plan-shape
  * claims in OPTIMIZATION_rN.md are checkable without running Spark.
  * Usage:
  *
  *   tools/run.sh graft.PlanDump <sfDir> <outDir> <query>[,<query>...]
  *
  * A name suffixed `:prod` (`r02_als:prod`) dumps the entry's production
  * twin from [[SparkEntry.prodQueries]] to `<outDir>/<name>_prod.txt`.
  * Each dumped entry also appends one line
  * `name<TAB>jobs<TAB>stages<TAB>tasks<TAB>input_bytes<TAB>wscg<TAB>compiles`
  * to `<outDir>/JOBS.tsv` (the entry's name as given, `:prod` included),
  * so job tables are built from that file. `input_bytes` sums every
  * task's input-metrics bytes (file scans, cached or checkpointed blocks)
  * and shuffle read: a dropped materialization shows there as its
  * rescans. `wscg` counts the whole-stage codegen stages of the dumped
  * plan (AQE's query stages and subqueries included); `compiles` is the
  * number of classes Spark's codegen compiled while the entry was built
  * and run (`CodegenMetrics`, cache misses only), so a warm line shows
  * what the codegen cache failed to keep.
  * Exits 2 when any named entry failed (unknown name or a throw), after
  * dumping the others.
  *
  * Notes: this dumps the plan of the DataFrame the registered entry
  * RETURNS. Driver-iterated trainers do their heavy work in actions
  * inside the entry (the returned frame is often a small certificate
  * table); for those the evidence lives in the per-iteration job
  * structure, which the dump still reflects through the final frame's
  * lineage (checkpointed leaves vs composed projections).
  */
object PlanDump {
  private object Aqe extends AdaptiveSparkPlanHelper

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.PlanDump <sfDir> <outDir> <query>[:prod][,<query>[:prod]...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    val names = args.drop(2).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val spark = SparkEntry.localSession(defaultCpus = 8)
    Files.createDirectories(Paths.get(outDir))
    // execution-shape evidence: count the jobs/stages/tasks/input bytes
    // the whole entry submits (driver-iterated trainers do their work in
    // actions, not in the returned frame's plan — the job count IS the claim)
    val Seq(jobs, stages, tasks, bytes) = Seq.fill(4)(new java.util.concurrent.atomic.AtomicLong)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks.toLong)
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m =>
          bytes.addAndGet(m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead))
    })
    val failed = names.filterNot { n =>
      try {
        val before = Seq(jobs, stages, tasks, bytes).map(_.get)
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val (fn, file) = n.split(":") match {
          case Array(q, "prod") => (SparkEntry.prodQueries(q), s"${q}_prod")
          case _ => (SparkEntry.queries(n), n)
        }
        val df = fn(spark, sfDir)
        // run the frame's OWN QueryExecution (a write would plan a fresh
        // one), so the dump is AQE's final plan: the plan that ran, not
        // the initial plan with exchanges a re-plan may have dropped
        df.queryExecution.toRdd.foreach(_ => ())
        val ran = df.queryExecution.executedPlan match {
          case aqe: AdaptiveSparkPlanExec => aqe.finalPhysicalPlan
          case p => p
        }
        val plan = new StringBuilder("== Physical Plan (final) ==\n")
        ExplainUtils.processPlan(ran, s => plan.append(s))
        // listener events are async; block until the bus has delivered
        // everything (deterministic, unlike a fixed sleep — r16 advisor)
        org.apache.spark.sql.graftshim.GraftDatasetFactory.drainListenerBus(spark)
        val Seq(nj, ns, nt, nb) = Seq(jobs, stages, tasks, bytes).zip(before).map(c => c._1.get - c._2)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
        val wscg = Aqe.collectWithSubqueries(ran) { case w: WholeStageCodegenExec => w }.size
        Files.writeString(Paths.get(s"$outDir/$file.txt"), plan.toString +
          s"\n\n# executed end-to-end: jobs=$nj stages=$ns tasks=$nt input_bytes=$nb" +
          s" wscg=$wscg compiles=$compiles\n")
        Files.writeString(Paths.get(s"$outDir/JOBS.tsv"),
          s"$n\t$nj\t$ns\t$nt\t$nb\t$wscg\t$compiles\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        System.err.println(
          s"[plandump] wrote $n jobs=$nj stages=$ns input_bytes=$nb wscg=$wscg compiles=$compiles")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    // as in Verify: a crashed entry must not pass for a complete dump
    if (failed.nonEmpty) sys.exit(2)
  }
}
