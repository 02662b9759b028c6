package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints per-query seconds as JSON on stdout
  * (three lines — full named map, heaviest-queries named map, compact
  * array LAST; see `emit`).
  *
  * Each query is forced through a `noop` sink so the full result is
  * materialized (a bare count() would let Catalyst prune the computed
  * columns and undercount the work). A warmup query first absorbs JVM /
  * codegen / parquet-footer startup cost so per-query numbers reflect
  * steady-state throughput.
  *
  * De-noising: every query runs once per round for `rounds` (default 3)
  * full interleaved passes, and the reported number is the per-query
  * MEDIAN. Interleaving (round-robin, not back-to-back repeats) means a
  * transient contention spike on a shared machine hits at most one of a
  * query's samples, so the median survives a contended sandbox.
  *
  * Drift-prone iterative trainers (`driftProne` below) get TWO extra
  * defenses — the r10–r12 lesson, where their in-suite medians read up
  * to 2.7× their isolated medians on a contended host with zero code
  * change:
  *   - a DEDICATED fixed-order pass right after round 1 (quiet, warmed
  *     JVM, GC before each entry, twins skipped) adds one clean sample;
  *   - their reported number is the per-query MINIMUM across all
  *     samples, not the median. These queries are deterministic fixed
  *     work; external contention only ever ADDS time, so the minimum is
  *     the estimator of uncontended steady-state cost — the quantity
  *     the benchmark exists to publish. (Normal queries keep the
  *     median: they are cheap enough that interleaving already protects
  *     them, and min would just reward scheduling luck on sub-second
  *     numbers.)
  *
  * Measurement record: besides the two stdout summary lines, every raw
  * (pass-label, seconds) sample is written to BENCH_SAMPLES.json, so a
  * flagged median can be mechanically attributed to contention (one
  * inflated sample) or regression (all samples inflated) from the
  * artifact alone. One-time layout/cache stages that are NOT part of
  * any query's steady-state plan are warmed before round 1 and
  * published as their own fields: `cov_shared_cold` (d13/d14/d15/corr01
  * shared covariance), `bucketed_write_cold` (q40's bucketed-table
  * write), `pairs_shared_cold` (the d02/d07/lp01 shared candidate-pair
  * stage).
  *
  * Kill-safety: the harness may SIGTERM this process before it finishes
  * (an external wall-clock smaller than one contended pass). Samples
  * accumulate in a concurrent map and a JVM shutdown hook prints the
  * JSON line from whatever has been gathered, so a truncated run still
  * reports every query measured so far (un-measured queries read -1 and
  * the line carries "partial":true). Exactly ONE emit ever reaches
  * stdout — the hook and the normal path race through an AtomicBoolean.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 4 rounds by default: the budget check stops whatever doesn't fit,
    // and when a 4th warm round DOES fit it gives every cheap query a
    // 4th sample — the median then survives contention landing on any
    // single round (the r13 q21/s02 class of flags).
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "4").toInt
    // 149 queries × several codegen'd stages each round blow through
    // the default 100-entry generated-class cache — every round then
    // recompiles every plan (janino + fresh JIT state each time).
    // Keeping the classes cached removes that churn from rounds 2-3.
    val spark = SparkEntry.localSession(defaultCpus = 4,
      "spark.sql.codegen.cache.maxEntries" -> "2000")

    val allNames = SparkEntry.queries.keys.toSeq.sorted
    // local-iteration filter (comma-separated names); the driver never
    // sets it, so official runs always cover the full registry; the
    // output lines record a filter as "only" (tools/check_bench.py)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).distinct.sorted.toSeq)
    val names = only.fold(allNames)(keep => allNames.filter(keep.toSet))
    val onlyField = only.fold("")(o => o.map("\"" + _ + "\"").mkString(",\"only\":[", ",", "]"))

    // per-query RAW samples, each labeled with the pass that took it
    // ("1","2",… rounds, "iso" quiet pass, "twin" backstop) — published
    // whole in BENCH_SAMPLES.json so contention (one inflated sample)
    // and regression (every sample inflated) are mechanically
    // distinguishable from the artifact alone (r13 verdict item 1b)
    val samples =
      new java.util.concurrent.ConcurrentHashMap[String, List[(String, Double)]]()
    // production twins (SparkEntry.prodQueries): the 23
    // certificate-carrying entries' own bodies re-timed with audit off
    // (no oracle certificate work), reported as "t_prod" so the
    // throughput criterion can be read against production plans directly
    val prodFns = SparkEntry.prodQueries
    val prodSamples =
      new java.util.concurrent.ConcurrentHashMap[String, List[(String, Double)]]()
    @volatile var roundsDone = 0
    // cold cost of the three shared one-time stages (graft.Shared),
    // measured once before round 1 (see coldStage below)
    @volatile var covSharedCold = -1.0
    @volatile var bucketedWriteCold = -1.0
    @volatile var pairsSharedCold = -1.0
    val printed = new java.util.concurrent.atomic.AtomicBoolean(false)

    // DRIVER-ITERATED entries: queries whose wall time is many small
    // jobs (one per training round / tree level / relaxation step), so
    // every iteration pays driver scheduling latency and host
    // contention compounds per round instead of amortizing — the class
    // that drifted 40-170% with unchanged code across the r10-r13
    // verdict cycles. Each gets the dedicated quiet pass + min
    // reporting (see the object doc). r14 completes the set by the
    // RULE (driver-iterated loop) rather than by which members
    // happened to flag so far: the r13-verdict additions (lp01, pic01,
    // lda01, nb01, the mm parser family) plus the remaining iterative
    // trainers (logistic/isotonic/lasso/SVM loops, tree level loops,
    // Lloyd's, semantic dedup's composed stages, Bellman-Ford,
    // frequent-itemset passes).
    val driftProne: Set[String] = Set(
      "t05_word2vec", "q59_spearman", "scc01_strong_components",
      "r01_svdpp", "r02_als", "r03_als_nonneg", "gm01_gaussian_mixture",
      "rf01_random_forest", "opt01_lbfgs_ls", "gbt01_gbt_regression",
      "gbt02_gbt_logloss", "gbt03_gbt_lad",
      "lp01_label_propagation", "pic01_power_iteration", "lda01_topics",
      "nb01_naive_bayes", "mm02_frame_sample", "mm03_audio_windows",
      "mm04_wav_parse", "mm05_bmp_parse", "mm06_y4m_parse",
      "rg02_logistic", "rg03_isotonic", "rg04_lasso", "svm01_linear_svm",
      "dt01_decision_tree", "dt02_entropy_tree", "d08_kmeans",
      "d09_semantic_dedup", "gp01_shortest_paths", "fp01_freq_itemsets",
      // r15 additions, by the same rule: r04 is an iterative trainer
      // (2 solves + 2 Gramian jobs per round), t12 a per-merge-round
      // driver loop (one pair-count job per merge)
      "r04_als_implicit", "t12_bpe_vocab",
      // r16: r05 trains r02's ALS loop before serving
      "r05_als_recommend")

    // LOWER median: with an even sample count (e.g. one cold + one warm
    // round before the budget cut) report the faster middle sample —
    // steady-state throughput is the quantity of interest, and the cold
    // first-round sample is the known outlier.
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2)
    }
    def best(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    def results(): Seq[(String, Double)] = names.map { n =>
      val xs = Option(samples.get(n)).getOrElse(Nil).map(_._2)
      n -> r3(if (driftProne(n)) best(xs) else median(xs))
    }
    def prodResults(): Seq[(String, Double)] =
      names.filter(prodFns.contains).map { n =>
        val xs = Option(prodSamples.get(n)).getOrElse(Nil).map(_._2)
        n -> r3(if (driftProne(n)) best(xs) else median(xs))
      }
    // BENCH_SAMPLES.json: every raw (pass-label, seconds) sample per
    // query and per twin, plus the cold-stage fields — the full
    // measurement record behind the two stdout summary lines
    def writeSamplesFile(): Unit = try {
      def m(cm: java.util.concurrent.ConcurrentHashMap[String, List[(String, Double)]]) =
        names.flatMap(n => Option(cm.get(n)).map { xs =>
          "\"" + n + "\":" +
            xs.map { case (l, v) => "[\"" + l + "\"," + r3(v) + "]" }
              .mkString("[", ",", "]")
        }).mkString("{", ",", "}")
      val body =
        s"""{"sf":"$sfDir","rounds":$roundsDone,"estimator":{"driftProne":"min","default":"median"},
           |"cov_shared_cold":$covSharedCold,"bucketed_write_cold":$bucketedWriteCold,"pairs_shared_cold":$pairsSharedCold,
           |"driftProne":${driftProne.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},
           |"samples":${m(samples)},
           |"prod_samples":${m(prodSamples)}}""".stripMargin
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_SAMPLES_FILE", "BENCH_SAMPLES.json")),
        body)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] samples file write failed: ${e.getMessage}")
    }
    def renderProd(): String =
      prodResults().map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    // Headline fields (total, rounds actually completed) come FIRST so a
    // tail-truncated capture still carries the number that matters.
    def render(rs: Seq[(String, Double)]): String = {
      val total = r3(rs.map(_._2).filter(_ >= 0).sum)
      // a hole in EITHER map (main query or twin) marks the line partial
      val partial = rs.exists(_._2 < 0) || prodResults().exists(_._2 < 0) ||
        roundsDone == 0
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","rounds":$roundsDone,"partial":$partial,"cov_shared_cold":$covSharedCold,"bucketed_write_cold":$bucketedWriteCold,"pairs_shared_cold":$pairsSharedCold,"sf":"$sfDir","queries":$qs,"t_prod":${renderProd()}$onlyField}"""
    }
    // The harness keeps only the LAST ~2 KB of stdout, and the named
    // per-query line above is ~2.4 KB at 99 queries — so whichever end is
    // cut, one line alone can't carry everything. A compact line is
    // printed LAST: total plus every per-query median as a plain JSON
    // array in sorted-query-name order ("order":"name-asc" — the same
    // order as the named line's keys). ~1.5 KB at 159 queries with the
    // t_prod map, so the captured tail always contains this line whole
    // (check_bench names it from CORRECTNESS_rN.json and gates every
    // query); the named line remains the human-readable record when
    // nothing is truncated.
    def renderCompact(rs: Seq[(String, Double)]): String = {
      val total = r3(rs.map(_._2).filter(_ >= 0).sum)
      val partial = rs.exists(_._2 < 0) || prodResults().exists(_._2 < 0) ||
        roundsDone == 0
      def short(v: Double): String = {
        val s2 = math.round(v * 100.0) / 100.0
        if (s2 == s2.toLong) s2.toLong.toString else s2.toString
      }
      val ts = rs.map(r => short(r._2)).mkString("[", ",", "]")
      s"""{"metric":"total","value":$total,"unit":"sec","rounds":$roundsDone,"partial":$partial,"cov_shared_cold":$covSharedCold,"bucketed_write_cold":$bucketedWriteCold,"pairs_shared_cold":$pairsSharedCold,"n":${rs.size},"order":"name-asc","t":$ts,"t_prod":${renderProd()}$onlyField}"""
    }
    // r17 (r16 verdict item 6): the external capture keeps only the LAST
    // ~2000 bytes of stdout, and a fully-NAMED per-query map cannot fit
    // that window (the 159 query names alone are ~2.5 KB), which is why
    // the r16 comparator recovered zero named rows from the compact
    // line's bare `t` array. This line is self-describing: headline
    // total + t_prod + a `queries` map of the SLOWEST entries, greedily
    // filled until the line reaches ~1100 bytes (the heavy queries are
    // the ones a regression comparison can resolve; sub-second entries
    // drown in host noise). It is printed BEFORE the compact line, which
    // therefore ends the output and always survives the tail window
    // whole. `queries_omitted` records the truncation; the full named
    // map stays on line 1 and every raw sample in BENCH_SAMPLES.json.
    def renderTopNamed(rs: Seq[(String, Double)]): String = {
      val total = r3(rs.map(_._2).filter(_ >= 0).sum)
      val partial = rs.exists(_._2 < 0) || prodResults().exists(_._2 < 0) ||
        roundsDone == 0
      val head = s"""{"metric":"total","value":$total,"unit":"sec","rounds":$roundsDone,"partial":$partial,"sf":"$sfDir","n":${rs.size},"t_prod":${renderProd()}$onlyField,"queries_omitted":NNN,"queries":{"""
      val tail = "}}"
      val budget = 1100 - head.length - tail.length
      val byCost = rs.filter(_._2 >= 0).sortBy { case (n, v) => (-v, n) }
      val sb = new StringBuilder
      var kept = 0
      for ((n, v) <- byCost) {
        val entry = (if (kept == 0) "" else ",") + "\"" + n + "\":" + v
        if (sb.length + entry.length <= budget) { sb.append(entry); kept += 1 }
      }
      head.replace("NNN", (rs.size - kept).toString) + sb.result() + tail
    }
    def emit(): Unit = if (printed.compareAndSet(false, true)) {
      // three parse-friendly JSON lines, flushed straight to stdout (the
      // forked JVM inherits stdout — no sbt [info] prefix, see
      // build.sbt): full named line first (the human record), the
      // heaviest-queries NAMED line, then the compact total+array line
      // (every per-query median, name-asc) LAST, so the tail-kept
      // capture window always holds the full registry's medians.
      val rs = results()
      println(render(rs))
      println(renderTopNamed(rs))
      println(renderCompact(rs))
      Console.flush()
      writeSamplesFile()
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => emit()))

    def exec(r: String, name: String, withTwin: Boolean = true): Unit = {
      val t0 = System.nanoTime()
      val sec =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      samples.merge(name, List(r -> sec), (a, b) => a ++ b)
      System.err.println(f"[bench] round $r $name%-28s ${sec}%.3f s")
      // the production twin runs right after its gated entry (same
      // warm state), its own timed section and GC discipline
      if (withTwin) prodFns.get(name).foreach { fn =>
        System.gc()
        val p0 = System.nanoTime()
        val psec =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - p0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name (prod) failed: ${e.getMessage}")
            -1.0
          }
        prodSamples.merge(name, List(r -> psec), (a, b) => a ++ b)
        System.err.println(f"[bench] round $r $name%-28s ${psec}%.3f s (prod)")
      }
      // Between-queries GC, OUTSIDE the timed section: the iterative
      // trainers (r01, scc01, gm01, …) leave localCheckpoint blocks that
      // the ContextCleaner only reclaims after a driver GC, and a bench
      // run is far shorter than spark.cleaner.periodicGC.interval
      // (30 min) — without this, executor storage pressure accumulates
      // across rounds and inflates whatever queries happen to run after
      // a trainer (the round-6 s01–s03 regression, measured 1.4→4.3 s
      // round-over-round when r01 precedes them).
      System.gc()
    }

    // warmup: one scan-agg absorbs session setup, then every table is
    // touched once so no query's ROUND-1 sample carries a table's
    // parquet-footer/scan initialization. (Measured caveat: a query's
    // first execution still pays its OWN stage codegen/JIT — q21's
    // cold sample stays ~1.4 s vs 0.17 warm with customer pre-touched —
    // which is exactly why round 2 runs cheap-first: the warm second
    // sample, not the warmup, is what retires the cold number.)
    try SparkEntry.queries("q01_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")) {
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
                 else Tables(spark, sfDir, t)
        df.write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => () }
    }

    // The one-time shared stages (graft.Shared) are warmed here, before
    // round 1, each only when one of its consumers is in this run, and
    // their cold cost is recorded as its own field: every consumer's
    // samples are then uniformly warm steady-state numbers, whatever the
    // round's shuffled order (the r13 lp01 5.1x flag was the pair stage's
    // cold pass landing in one of its samples). q40's bucketed-table
    // write is a one-time data-layout investment, like building an index,
    // not part of the join the query demonstrates (r13 verdict item 1a).
    def coldStage(field: String, consumers: String*)(stage: => Unit): Double =
      if (!consumers.exists(names.contains)) -1.0
      else {
        val t0 = System.nanoTime()
        val sec =
          try { stage; r3((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $field failed: ${e.getMessage}")
            -1.0
          }
        System.err.println(f"[bench] $field ${sec}%.3f s")
        sec
      }
    covSharedCold = coldStage("cov_shared_cold",
        "d13_pca", "d14_covariance", "d15_svd", "corr01_correlation_matrix") {
      operators.PCA.covarianceShared(spark, sfDir)
    }
    bucketedWriteCold = coldStage("bucketed_write_cold", "q40_bucketed_join") {
      operators.Bucketed.bucketedOrdersLineitem(spark, sfDir)
    }
    pairsSharedCold = coldStage("pairs_shared_cold",
        "d02_ngram_jaccard", "d07_dup_clusters", "lp01_label_propagation") {
      operators.Similarity.jaccardPairsShared(spark, sfDir,
        dfCap = operators.Similarity.d02DfCap, minJaccard = 0.5).count()
    }

    // time budget: always complete round 1 (full coverage); a later round
    // starts only if it is PREDICTED to finish within budget (elapsed +
    // the slowest round so far), so the process exits cleanly with
    // whatever rounds fit instead of being killed mid-round by an
    // external wall-clock. Default 700 s: the round-4 harness kill
    // arrived ~840 s in, so the last round must be underway no later
    // than budget − one round. The shutdown hook remains the backstop
    // for a kill that arrives anyway.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "700").toDouble
    System.err.println(
      s"[bench] budget=${budgetSec}s rounds=$rounds queries=${names.size} " +
        "(round 1 always completes; later rounds stop at the first query " +
        "past the budget)")
    val start = System.nanoTime()
    // wall-clock spent in the budget-EXEMPT iso pass is credited back,
    // so exempt work consumes none of the later rounds' budget (it is
    // the published number for its queries either way)
    @volatile var exemptSec = 0.0
    def rawElapsed: Double = (System.nanoTime() - start) / 1e9
    def elapsed: Double = rawElapsed - exemptSec
    // HARD raw-wall cap: budget + exempt credit + the twin backstop
    // could otherwise stack past the external kill margin the 700 s
    // default was derived from (~840 s). 780 leaves room for the
    // bounded backstop and the final emit before any kill arrives.
    val wallCapSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_WALL", "780").toDouble
    // Round 1 always completes (full coverage — every query gets at
    // least one sample). Later rounds run query-by-query until the
    // budget is EXHAUSTED rather than being skipped by a prediction: a
    // warm round is several times faster than the cold first pass, so a
    // whole-round predictor based on the cold round forfeits warm
    // samples the budget actually had room for. A query cut off by the
    // budget mid-round simply keeps its earlier samples.
    var stopped = false
    for (r <- 1 to rounds if !stopped) {
      // Execution order is shuffled per round with a FIXED seed (the
      // round number), so a heavy trainer precedes DIFFERENT queries
      // each round and any residual adjacency cost lands on at most
      // one of a query's samples — the median discards it. Output
      // stays name-asc (the shuffle only reorders execution).
      //
      // EXCEPT round 2, which runs in ASCENDING round-1-time order
      // (cheapest first): a query's round-1 sample is its COLD sample,
      // and a budget cut mid-round-2 used to leave every unreached
      // query reporting that single cold number (a cheap query's cold
      // sample alone can read 4x its warm pin — the r13 driver
      // artifact's flag signature). Cheap-first, the entire
      // flag-prone cheap class banks its warm second sample in the
      // first minute of round 2. The tail a cut can strand is (a) the
      // driftProne set, which already holds a clean min-reported iso
      // sample, and (b) the most EXPENSIVE median-reported queries —
      // benign by construction, because a query's cold/warm ratio
      // shrinks as compute dominates setup (measured ≤1.25x cold/pin
      // for every non-driftProne query over 1.5 s; the large ratios
      // all live in the sub-second class that runs first).
      // Twins ride with their entries wherever they land; the
      // budget-exempt backstop covers any twin the cut skips.
      val order =
        if (r == 2) names.sortBy { n =>
          val r1 = Option(samples.get(n)).getOrElse(Nil)
            .collectFirst { case ("1", s) if s >= 0 => s }
            .getOrElse(Double.MaxValue / 4)
          // driftProne entries already hold a clean iso-pass sample and
          // publish the MIN — their warm round-2 sample is the least
          // urgent, so they all go LAST and the cut-exposed front of
          // round 2 is purely the median-reported cheap class
          if (driftProne(n)) Double.MaxValue / 2 + r1 else r1
        }
        else new scala.util.Random(42L + r).shuffle(names)
      for (n <- order if !stopped) {
        if (r > 1 && (elapsed > budgetSec || rawElapsed > wallCapSec)) {
          System.err.println(
            f"[bench] budget exhausted at ${elapsed}%.1f s non-exempt / " +
              f"${rawElapsed}%.1f s wall (round $r); stopping")
          stopped = true
        } else {
          // twins run from round 2 (same warm state — the entry just
          // ran): round 1's budget goes to full coverage, so a
          // contended host still reaches a warm second round. A
          // single-round config keeps twins in round 1.
          exec(r.toString, n, withTwin = r >= 2 || rounds == 1)
          if (r > roundsDone) roundsDone = r
        }
      }
      // Dedicated quiet pass for the drift-prone trainers right after
      // round 1: fixed name-asc order, GC + warmed JVM, no twins — one
      // clean back-to-back sample each, so the min-reported number has a
      // sample taken OUTSIDE the interleave even when later rounds land
      // in a contended window. Bounded (~130 s at sf0.1 for the 31
      // entries; wall time credited back to the budget) and exempt from
      // the budget: it IS the published number for these queries.
      if (r == 1 && !stopped) {
        val iso0 = System.nanoTime()
        for (n <- names.filter(driftProne).sorted) exec("iso", n, withTwin = false)
        exemptSec += (System.nanoTime() - iso0) / 1e9
      }
    }
    // Twin-coverage backstop: twins normally sample in round 2+, so a
    // budget cut after round 1 would leave t_prod holes. Any twin still
    // unsampled runs ONCE here (entry first for warm state, then twin) —
    // budget-exempt like the iso pass, because it IS the published
    // number; bounded by the twin count.
    val missingTwins = names.filter(n =>
      prodFns.contains(n) && !prodSamples.containsKey(n))
    if (missingTwins.nonEmpty) {
      System.err.println(
        s"[bench] twin backstop: ${missingTwins.size} unsampled twin(s)")
      for (n <- missingTwins) exec("twin", n)
    }
    emit()
    // a -1 median means a registered query (or twin, post-backstop) never
    // ran (crash, not slow) — exit nonzero so the round record can't show
    // rc:0 over missing data
    val anyUnmeasured = results().exists(_._2 < 0) ||
      prodResults().exists(_._2 < 0)
    spark.stop()
    if (anyUnmeasured) sys.exit(2)
  }
}
