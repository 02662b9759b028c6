package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** graft's benchmark harness: one workload per JVM, a fresh SparkSession,
  * inputs made by perfbench/gen.py from the seed.
  *
  *   graftbench.Harness --workload W --data DIR --out DIR --seed N
  *                      --seconds S --trace 0|1 --launched-ms MS [--setup-only 1]
  *
  * Writes `<out>/result.json` (metrics, per-op samples, failures) and,
  * for batch workloads, each op's result under `<out>/check/<op>` with
  * `<out>/check/oracle_sql.json` for the DuckDB oracle compare. With
  * `--trace 1` it also writes the span log `<out>/spans.jsonl` and the
  * per-layer report `<out>/layers.json`.
  */
object Harness {
  val OpKey = "graftbench.op"
  /** Fewest timed passes of a batch run (twice that when traced). */
  val MinPasses = 2
  /** Layer metrics of the cold pass (or cold stream start), reported
    * with a `cold.` prefix: the layers that first use pays for. */
  val ColdLayers = Seq("catalyst.analysis_s", "catalyst.optimizer_s", "catalyst.planning_s",
    "codegen.compile_s", "codegen.compiles", "operators.build_s", "exec.cpu_s")

  /** Batch workloads: registered query names, and the ones whose output
    * goes to parquet shards instead of the noop sink. `analytics` leaves
    * out q01, q03, q05 and q25: each rounds an order-dependent double sum,
    * average or interpolated percentile to 2 dp, which on some generated
    * inputs lands on a .xx5 tie that Spark and the DuckDB oracle round
    * apart (seen for q03 and q25), so a run would fail its check. */
  val batch: Map[String, Seq[String]] = Map(
    "analytics" -> Seq("q13_window_rank", "q15_rollup", "q16_cube", "q24_count_distinct",
      "q40_bucketed_join", "q46_sql_nation_volume", "q49_sql_big_orders",
      "s03_session_window", "s05_user_activity", "s10_asof_join", "lb01_salted_join"),
    "corpus" -> Seq("pl01_training_pipeline", "t02_quality_score", "t10_repetition",
      "t11_quality_rules", "d01_exact_dedup", "d03_minhash_lsh", "d17_segment_dedup",
      "d18_cdc_dedup", "ct01_contamination", "pii01_redact", "d02_ngram_jaccard",
      "d07_dup_clusters", "d09_semantic_dedup", "d16_ivf_ann"),
    "trainers" -> Seq("r02_als", "r04_als_implicit", "scc01_strong_components",
      "rf01_random_forest", "gbt01_gbt_regression", "lda01_topics",
      "pic01_power_iteration", "t05_word2vec", "gm01_gaussian_mixture", "rg02_logistic"))
  val parquetSink = Set("pl01_training_pipeline", "d01_exact_dedup")

  /** Tables each batch workload loads during set-up. */
  val inputs: Map[String, Seq[String]] = Map(
    "analytics" -> Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events"),
    "corpus" -> Seq("documents", "embeddings"),
    "trainers" -> Seq("customer", "part", "orders", "lineitem", "events", "documents",
      "embeddings"))

  /** `launchedMs`: epoch millis at which the caller launched this JVM;
    * set-up time is measured from it. `setupOnly`: start the session, load
    * the inputs, report the set-up time and exit. */
  final case class Conf(workload: String, data: String, out: String, seed: Long,
                        seconds: Double, trace: Boolean, cpus: Int, launchedMs: Long,
                        setupOnly: Boolean)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(kv("workload"), kv("data"), kv("out"), kv("seed").toLong,
      kv("seconds").toDouble, kv("trace") == "1", Runtime.getRuntime.availableProcessors,
      kv("launched-ms").toLong, kv.get("setup-only").contains("1"))
    Files.createDirectories(Paths.get(c.out))
    // exit explicitly: after a failure, Spark's non-daemon threads would
    // otherwise keep the JVM alive until run.py's timeout
    val code =
      try {
        val res =
          if (c.setupOnly) setUpOnly(c)
          else if (c.workload == "stream") Stream.run(c)
          else runBatch(c)
        res.e2e("peak_rss_mb") = peakRssMb
        Files.writeString(Paths.get(c.out, "result.json"), res.json)
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  // --------------------------------------------------------------- session

  def session(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName(s"graftbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.out}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${c.out}/stream/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Starts the run's one SparkSession and loads its inputs. Returns the
    * session and the set-up time: from the launch of the process to here,
    * just before the first op. */
  def setUp[T](c: Conf)(load: SparkSession => T): (SparkSession, T, Double) = {
    val spark = session(c)
    val loaded = load(spark)
    (spark, loaded, (System.currentTimeMillis() - c.launchedMs) / 1e3)
  }

  def loadTable(spark: SparkSession, dir: String, t: String): DataFrame =
    if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t)

  def loadInputs(c: Conf)(spark: SparkSession): Unit =
    inputs(c.workload).foreach(t => loadTable(spark, c.data, t).count())

  /** A set-up-only run: one more sample of `setup_s` for run.py's median. */
  def setUpOnly(c: Conf): Result = {
    val (spark, _, setupS) =
      if (c.workload == "stream") setUp(c)(Stream.load(c)) else setUp(c)(loadInputs(c))
    stop(spark)
    val res = new Result(c.workload)
    res.e2e("setup_s") = setupS
    res
  }

  // ----------------------------------------------------------------- batch

  def runBatch(c: Conf): Result = {
    val ops = batch(c.workload)
    val (spark, _, setupS) = setUp(c)(loadInputs(c))
    val sc = spark.sparkContext
    // `tracer` records the traced timed passes, `coldTracer` the cold pass
    val tracer = new Tracer
    val coldTracer = new Tracer
    if (c.trace) Seq(tracer, coldTracer).foreach { t =>
      sc.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.qeListener)
    }
    val res = new Result(c.workload)
    var opId = 0
    final case class Sample(pass: Int, name: String, s: Double, traced: Boolean, id: Int,
                            startNs: Long, endNs: Long)
    val samples = mutable.ArrayBuffer.empty[Sample]

    def runOp(pass: Int, name: String, t: Tracer, sink: DataFrame => Unit): Option[Sample] = {
      opId += 1
      val id = opId
      val traced = t.enabled
      sc.setLocalProperty(OpKey, id.toString)
      res.attempted += 1
      val t0 = t.nowNs
      try {
        t.span("op", id) {
          val df = t.span("operators.build", id)(SparkEntry.queries(name)(spark, c.data))
          t.span("sink.write", id)(sink(df))
          // the built plan was analyzed while it was built, outside any
          // action the QueryExecutionListener sees: take its phase here
          if (traced) t.phase("analysis", df.queryExecution.tracker.phases.get("analysis"))
        }
        val t1 = t.nowNs
        Some(Sample(pass, name, (t1 - t0) / 1e9, traced, id, t0, t1))
      } catch {
        case e: Throwable =>
          res.failed += 1
          res.errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      } finally sc.setLocalProperty(OpKey, null)
    }
    def timedSink(name: String)(df: DataFrame): Unit =
      if (parquetSink(name)) df.write.mode("overwrite").parquet(s"${c.out}/sink/$name")
      else df.write.format("noop").mode("overwrite").save()

    def order(pass: Int): Seq[String] = new scala.util.Random(c.seed * 7919 + pass).shuffle(ops)

    /** One pass over the ops in the pass's order; returns its wall time
      * and the codegen compiles it caused. */
    def runPass(pass: Int, t: Tracer, traced: Boolean): (Double, Long) = {
      t.enabled = traced
      val cg0 = t.codegen._1
      val t0 = System.nanoTime()
      order(pass).foreach(n => runOp(pass, n, t, timedSink(n)).foreach(samples += _))
      val wall = (System.nanoTime() - t0) / 1e9
      t.enabled = false
      (wall, t.codegen._1 - cg0)
    }

    // cold pass: the first use of every op in this fresh JVM and session
    val (coldS, coldCompiles) = runPass(0, coldTracer, c.trace)
    // timed section: whole passes until the budget is spent, at least
    // MinPasses (twice that when traced: a traced run alternates untraced
    // and traced passes so both see the same warmth)
    var pass = 1
    var timedWall = 0.0
    var untracedWall = 0.0
    var tracedWall = 0.0
    var tracedCompiles = 0L
    while (timedWall < c.seconds || pass <= (if (c.trace) 2 * MinPasses else MinPasses)) {
      val traced = c.trace && pass % 2 == 0
      val (w, compiles) = runPass(pass, tracer, traced)
      timedWall += w
      if (traced) { tracedWall += w; tracedCompiles += compiles } else untracedWall += w
      pass += 1
    }
    val timed = samples.filter(s => s.pass > 0 && !s.traced).map(_.s).toSeq
    res.e2e("setup_s") = setupS
    res.e2e("ops_per_s") = timed.size / untracedWall
    res.e2e("op_p50_s") = median(timed)
    val (tailP, tail) = tailOf(timed)
    res.e2e("op_tail_s") = tail
    res.e2e("cold_pass_s") = coldS
    res.detail("ops") = ops
    res.detail("op_tail_percentile") = tailP
    res.detail("op_samples") = timed.size
    res.detail("passes") = pass - 1
    res.detail("timed_wall_s") = timedWall
    res.detail("per_op_median_s") = samples.filter(_.pass > 0).groupBy(_.name)
      .map { case (k, v) => k -> median(v.map(_.s).toSeq) }
    res.detail("cold_op_s") = samples.filter(_.pass == 0).map(s => s.name -> s.s).toMap

    if (c.trace) {
      org.apache.spark.BenchBus.drain(sc)
      val traced = samples.filter(s => s.traced && s.pass > 0).toSeq
      val tracedPasses = traced.map(_.pass).distinct.size
      res.layers ++= layerMetrics(tracer, traced.map(s => (s.id, s.startNs, s.endNs)),
        tracedPasses, traced.size, traced.map(_.s).sum, c.cpus, tracedCompiles)
      noStreamLayers(res)
      val cold = samples.filter(_.pass == 0).toSeq
      res.layers ++= coldLayers(layerMetrics(coldTracer, cold.map(s => (s.id, s.startNs, s.endNs)),
        1, cold.size, coldS, c.cpus, coldCompiles))
      val tracedOpsPerS = traced.size / tracedWall
      res.layers("trace.overhead_pct") = 100.0 * (res.e2e("ops_per_s") - tracedOpsPerS) / res.e2e("ops_per_s")
      Seq(tracer, coldTracer).foreach(_.attachListenerSpans())
      Tracer.writeSpans(Paths.get(c.out, "spans.jsonl"), Seq("cold" -> coldTracer, "timed" -> tracer))
      writeLayerReport(c, res, Seq("cold" -> coldTracer, "timed" -> tracer), tracedPasses)
    }

    // correctness, after the timed section: one untimed, untraced pass
    // writes every result as parquet, with the oracle SQL beside it, for
    // the repository's DuckDB gate (tools/check_oracle.py, run by run.py)
    val check = s"${c.out}/check"
    Files.createDirectories(Paths.get(check))
    Files.writeString(Paths.get(check, "oracle_sql.json"),
      Result.obj(ops.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))))
    ops.foreach(n => runOp(-1, n, tracer, _.write.mode("overwrite").parquet(s"$check/$n")))

    stop(spark)
    res
  }

  /** Per-layer metrics, normalized per traced pass (one pass = every op of
    * the workload once; for the stream workload, one micro-batch). */
  def layerMetrics(t: Tracer, ops: Seq[(Int, Long, Long)], passes: Int, opCount: Int,
                   opWallS: Double, cpus: Int, compiles: Long): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    val tot = t.totals
    val within = ops.map(o => (o._2, o._3))
    val L = mutable.LinkedHashMap.empty[String, Double]
    L("sources.input_mb") = tot.inBytes / 1e6 / n
    L("sources.input_rows") = tot.inRows / n
    L("sources.scan_task_s") = tot.scanTaskMs / 1e3 / n
    L("catalyst.analysis_s") = t.phaseSeconds("analysis", within) / n
    L("catalyst.optimizer_s") = t.phaseSeconds("optimization", within) / n
    L("catalyst.planning_s") = t.phaseSeconds("planning", within) / n
    L("codegen.compiles") = compiles / n
    L("codegen.compile_s") = compiles * t.codegen._2 / 1e3 / n
    val spans = t.spans.asScala.toSeq
    L("operators.build_s") = spans.filter(_.name == "operators.build").map(_.durS).sum / n
    val opIds = ops.map(_._1).toSet
    val jobCount = t.synchronized(t.jobs.count(j => opIds(j._1)))
    L("operators.jobs") = jobCount / n
    L("operators.jobs_per_op") = jobCount.toDouble / math.max(1, opCount)
    L("operators.driver_gap_s") = ops.map { case (id, s, e) =>
      val busy = t.jobIntervals(Set(id)).map { case (a, b) =>
        math.max(0L, math.min(b, e) - math.max(a, s)) }.sum
      math.max(0.0, (e - s - busy) / 1e9)
    }.sum / n
    L("exec.tasks") = tot.tasks / n
    L("exec.run_s") = tot.runMs / 1e3 / n
    L("exec.cpu_s") = tot.cpuNs / 1e9 / n
    L("exec.gc_s") = tot.gcMs / 1e3 / n
    L("exec.busy_frac") = tot.runMs / 1e3 / math.max(1e-9, opWallS * cpus)
    L("shuffle.write_mb") = tot.shWrite / 1e6 / n
    L("shuffle.read_mb") = tot.shRead / 1e6 / n
    L("shuffle.fetch_wait_s") = tot.fetchWaitMs / 1e3 / n
    L("shuffle.spill_mb") = tot.spill / 1e6 / n
    L("sink.write_s") = spans.filter(_.name == "sink.write").map(_.durS).sum / n
    L("sink.output_mb") = tot.outBytes / 1e6 / n
    L.toMap
  }

  def coldLayers(all: Map[String, Double]): Seq[(String, Double)] =
    ColdLayers.map(k => s"cold.$k" -> all(k))

  /** Batch workloads have no micro-batches and no Lever: those layers are 0. */
  def noStreamLayers(res: Result): Unit = {
    for (k <- Seq("batches", "batch_s", "add_batch_s", "plan_s", "wal_s", "state_rows",
                  "state_mb", "state_commit_s", "backlog_files"))
      res.layers(s"streaming.$k") = 0.0
    for (k <- Seq("capacities_read_s", "nodes_seen", "share_max", "task_skew"))
      res.layers(s"lever.$k") = 0.0
  }

  /** Human-readable per-layer report: self time per span name for each
    * tracer (cold and timed), and the layer metrics. */
  def writeLayerReport(c: Conf, res: Result, tracers: Seq[(String, Tracer)], passes: Int): Unit =
    Files.writeString(Paths.get(c.out, "layers.json"), Result.obj(Seq(
      "workload" -> c.workload, "traced_units" -> passes,
      "self_time_s" -> tracers.map { case (k, t) => k -> t.selfTimes }.toMap,
      "layers" -> res.layers.toMap)) + "\n")

  // ----------------------------------------------------------------- stats

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile at the highest whole percent that still
    * leaves at least ten samples above it (p50 floor). */
  def tailOf(xs: Seq[Double]): (Int, Double) = {
    if (xs.isEmpty) return (50, Double.NaN)
    val s = xs.sorted
    val n = s.size
    val p = (99 to 50 by -1).find { p =>
      val idx = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
      n - (idx + 1) >= 10
    }.getOrElse(50)
    (p, s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)))
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** Everything one run reports, serialized as JSON for run.py. */
final class Result(val workload: String) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.LinkedHashMap.empty[String, String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  def json: String = Result.obj(Seq(
    "workload" -> workload, "attempted" -> attempted, "failed" -> failed,
    "errors" -> errors.toMap, "e2e" -> e2e.toMap, "layers" -> layers.toMap,
    "detail" -> detail.toMap))
}

object Result {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
