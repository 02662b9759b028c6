package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Recommender

class RecommenderSpec extends SparkTestBase {

  private def planted() = {
    import TestSpark.spark.implicits._
    // 40 users × 30 items, planted block structure: group-A users (even)
    // rate items 0-14 high and 15-29 low; group-B users the inverse.
    // Every user rates 15 items of each half -> strong low-rank signal.
    val rows = for {
      u <- 0 until 40
      i <- 0 until 30
      if (u + i) % 2 == 0 // thin it out; keeps both blocks covered
    } yield {
      val likes = (u % 2 == 0) == (i < 15)
      (u.toLong, i.toLong, if (likes) 5.0 else 1.0)
    }
    rows.toDF("u", "i", "r")
  }

  private def rmse(df: org.apache.spark.sql.DataFrame, predCol: String): Double =
    math.sqrt(df.select(avg(pow(col("r") - col(predCol), 2.0))).head.getDouble(0))

  /** (u, i, r, pred) over the training edges of an explicit ALS fit. */
  private def alsPreds(ratings: DataFrame, dim: Int, iters: Int,
                       reg: Double = 0.1): DataFrame = {
    val (userF, itemF, _) = Recommender.alsFactors(ratings, dim, iters, reg)
    Recommender.alsPredict(ratings, userF, itemF)
  }

  /** A factor table as sorted (id, raw IEEE bits of f) — bit-exact equality. */
  private def bits(f: DataFrame): Seq[(Long, Seq[Long])] =
    f.collect().map(r => (r.getLong(0),
      r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits))).sortBy(_._1).toSeq

  test("SVD++ learns the planted block structure well below the mean-only baseline") {
    val ratings = planted()
    val out = Recommender.svdPlusPlusModel(ratings, dim = 8, iters = 20, lr = 0.1,
      track = false).preds.cache()
    val mu = ratings.agg(avg("r")).head.getDouble(0)
    val base = rmse(ratings.withColumn("base", lit(mu)), "base")
    val trained = rmse(out, "pred")
    assert(trained < 0.6 * base,
      s"SVD++ RMSE $trained not clearly below mean-only baseline $base")
    // block structure recovered: liked items predict higher than disliked
    // for the same user
    val perUser = out
      .withColumn("liked", col("r") === 5.0)
      .groupBy("u", "liked").agg(avg("pred").as("m"))
      .groupBy("u").pivot("liked", Seq("true", "false")).agg(first("m"))
    val bad = perUser.filter(col("true") <= col("false")).count()
    assert(bad == 0, s"$bad users predict disliked >= liked")
  }

  test("SVD++ diverges at the old lr=0.05 on quantity-scale ratings and sse_monotone catches it") {
    // the r10 certificate's finding, pinned as a regression: residuals of
    // ~15 (quantity scale) make the p·q cross term overshoot at lr=0.05 —
    // the shipped default until r11. 10× the planted ratings reproduces
    // the failure mode at spec scale.
    val big = planted().withColumn("r", col("r") * 10.0)
    val diverging = Recommender.svdPlusPlusModel(
      big, dim = 8, iters = 5, lr = 0.05).sse
    val monotone = diverging.sliding(2)
      .forall(p => p.length < 2 || p(1) <= p(0) * (1 + 1e-9))
    assert(!monotone,
      s"lr=0.05 unexpectedly stable on quantity-scale ratings: $diverging")
    // the measured-stable default holds the descent claim on the same data
    val stable = Recommender.svdPlusPlusModel(
      big, dim = 8, iters = 5).sse
    assert(stable.sliding(2).forall(p => p.length < 2 || p(1) <= p(0) * (1 + 1e-9)),
      s"default lr not monotone on quantity-scale ratings: $stable")
  }

  /** `body`'s result and the messages the DAGScheduler and the
    * accumulator registry logged meanwhile. */
  private def withSchedulerLog[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("scheduler-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val loggers = Seq("org.apache.spark.scheduler.DAGScheduler",
        "org.apache.spark.util.AccumulatorContext")
      .map(org.apache.logging.log4j.LogManager.getLogger(_).asInstanceOf[Logger])
    loggers.foreach(_.addAppender(app))
    val out = try body finally { loggers.foreach(_.removeAppender(app)); app.stop() }
    (out, seen.toArray(Array.empty[String]).toSeq)
  }

  test("no task of a fit reports to an accumulator the driver collected") {
    // SVD++'s lazy cuts are read by concurrent AQE stages; the first job
    // to materialize one drops its lineage, and a stage still running
    // over that lineage reports its origin plan's SQL metrics when it
    // ends. Unless LoopState holds the origin plans, the driver may have
    // collected those metrics by then ("attempted to access non-existent
    // accumulator", ~40 times in this fit). Collecting garbage all
    // through the fit makes the race show on every run.
    val big = planted().withColumn("r", col("r") * 10.0)
    @volatile var fitting = true
    val gc = new Thread(() => while (fitting) { System.gc(); Thread.sleep(20) })
    gc.setDaemon(true)
    gc.start()
    val (_, log) = try withSchedulerLog {
      Recommender.svdPlusPlusModel(big, dim = 8, iters = 5, lr = 0.05).sse
    } finally { fitting = false; gc.join() }
    val lost = log.filter(_.contains("accumulator"))
    assert(lost.isEmpty, s"${lost.size} accumulator errors, first: ${lost.headOption}")
  }

  test("SVD++ training is seeded-deterministic") {
    val ratings = planted()
    def run() = Recommender.svdPlusPlusModel(ratings, dim = 4, iters = 3, track = false).preds
      .select(col("u"), col("i"), round(col("pred"), 9).as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(run() == run(), "same seed must reproduce identical predictions")
  }

  test("r01: one row per training edge with a certified per-iteration descent") {
    val out = Recommender.r01.run(spark, sfDir).cache()
    assert(out.count() > 0)
    // the measured claim that caught the lr=0.05 divergence: training
    // SSE must have decreased at every iteration (finite predictions
    // are pinned by the planted SVD++ tests above)
    assert(out.filter(!col("sse_monotone")).count() == 0)
    val dup = out.groupBy("u", "i").count().filter(col("count") > 1).count()
    assert(dup == 0, "one row per (user, item)")
  }

  test("ALS fits planted exact low-rank ratings to near-zero training error") {
    import TestSpark.spark.implicits._
    // r(u, i) = pTrue(u) · qTrue(i) with deterministic factors in
    // [0.5, 1.5] — exact rank-3 data, so ALS with tiny reg must fit it
    val dim = 3
    def fac(id: Int, salt: Int): Array[Double] =
      Array.tabulate(dim)(d => 0.5 + ((id * 31 + d * 17 + salt * 7) % 100) / 100.0)
    val rows = for { u <- 0 until 25; i <- 0 until 20; if (u + i) % 3 != 0 }
      yield (u.toLong, i.toLong,
        fac(u, 1).zip(fac(i, 2)).map { case (a, b) => a * b }.sum)
    val ratings = rows.toDF("u", "i", "r")
    val out = alsPreds(ratings, dim = 3, iters = 10, reg = 1e-3).cache()
    val err = rmse(out, "pred")
    val scale = ratings.agg(avg("r")).head.getDouble(0)
    assert(err < 0.02 * scale, s"ALS RMSE $err on exact rank-$dim data (scale $scale)")
  }

  test("ALS beats the gradient SVD++ trainer on the planted blocks and is deterministic") {
    val ratings = planted()
    val alsOut = alsPreds(ratings, dim = 8, iters = 10, reg = 0.01).cache()
    val alsErr = rmse(alsOut, "pred")
    val svdErr = rmse(
      Recommender.svdPlusPlusModel(ratings, dim = 8, iters = 20, lr = 0.1,
        track = false).preds, "pred")
    assert(alsErr <= svdErr + 0.05,
      s"ALS RMSE $alsErr must not trail the gradient trainer's $svdErr")
    def run() = alsPreds(ratings, dim = 4, iters = 3)
      .select(col("u"), col("i"), col("pred"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(run() == run(), "sorted-group accumulation must make ALS bit-deterministic")
  }

  test("implicit kernel: Gramian decomposition reproduces the dense HKV normal equations") {
    // 3 items, dim 2: the kernel's (G + Σ(c−1)qqᵀ + λnI)x = Σ c·p·q must
    // equal the DENSE system built over ALL items with c=1, p=0 off the
    // observed edges — the decomposition that makes implicit ALS bounded
    val items = Seq(Array(1.0, 0.5), Array(-0.3, 0.8), Array(0.6, -0.4))
    val dim = 2
    val gram = new Array[Double](dim * dim)
    for (q <- items; a <- 0 until dim; b <- 0 until dim)
      gram(a * dim + b) += q(a) * q(b)
    // user observed items 0 (r=3) and 2 (r=1); item 1 unobserved
    val obs = Seq((3.0, items(0).toSeq), (1.0, items(2).toSeq))
    val alpha = 1.5; val reg = 0.1
    val x = Recommender.solveNormalEq(obs.iterator, gram, null, dim, reg,
      Recommender.implicitLaw(alpha), nonnegative = false).toArray
    // dense reference: A = Σ_all c qqᵀ + λnI, b = Σ_all c p q
    val a = Array.ofDim[Double](dim, dim); val b = new Array[Double](dim)
    val cs = Map(0 -> (1.0 + alpha * 3.0), 1 -> 1.0, 2 -> (1.0 + alpha * 1.0))
    val ps = Map(0 -> 1.0, 1 -> 0.0, 2 -> 1.0)
    for (k <- items.indices; i0 <- 0 until dim) {
      for (j0 <- 0 until dim) a(i0)(j0) += cs(k) * items(k)(i0) * items(k)(j0)
      b(i0) += cs(k) * ps(k) * items(k)(i0)
    }
    for (d0 <- 0 until dim) a(d0)(d0) += reg * obs.size
    // residual of the kernel's solution against the dense system
    for (i0 <- 0 until dim) {
      val lhs = (0 until dim).map(j0 => a(i0)(j0) * x(j0)).sum
      assert(math.abs(lhs - b(i0)) < 1e-10,
        s"row $i0: dense-system residual ${lhs - b(i0)}")
    }
  }

  test("implicit ALS ranks observed interactions above unobserved and is seeded-deterministic") {
    import TestSpark.spark.implicits._
    // planted implicit matrix: 20 users × 15 items, user u interacted
    // with items where (u + i) % 3 == 0, count 1 + (u + i) % 4
    val rows = for { u <- 0 until 20; i <- 0 until 15; if (u + i) % 3 == 0 }
      yield (u.toLong, i.toLong, (1 + (u + i) % 4).toDouble)
    val ratings = rows.toDF("u", "i", "r")
    val (userF, itemF, js) = Recommender.alsImplicitFactors(
      ratings, dim = 4, iters = 6, reg = 0.05, alpha = 2.0, track = true)
    // provable certificate measured: J never increased
    assert(js.size == 6)
    js.sliding(2).foreach(p =>
      assert(p(1) <= p(0) * (1 + 1e-9) + 1e-9, s"objective rose: $js"))
    // score EVERY (u, i) pair and compare observed vs unobserved means
    val allPairs = (for { u <- 0 until 20; i <- 0 until 15 }
      yield (u.toLong, i.toLong)).toDF("u", "i")
    val obsSet = rows.map(t => (t._1, t._2)).toSet
    val preds = Recommender.alsPredict(allPairs, userF, itemF)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val (obsP, unP) = preds.partition { case (k, _) => obsSet(k) }
    val obsMean = obsP.values.sum / obsP.size
    val unMean = unP.values.sum / unP.size
    assert(obsMean > unMean + 0.2,
      s"observed mean pref $obsMean must clearly beat unobserved $unMean")
    // stronger confidence pulls observed preferences harder toward 1
    val (u2, i2, _) = Recommender.alsImplicitFactors(
      ratings, dim = 4, iters = 6, reg = 0.05, alpha = 40.0)
    val obsMean2 = Recommender.alsPredict(allPairs, u2, i2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .filter(t => obsSet(t._1)).map(_._2)
    assert(obsMean2.sum / obsMean2.size > obsMean,
      "alpha=40 must pull observed preferences harder toward 1 than alpha=2")
    // seeded determinism
    def run() = Recommender.alsImplicitFactors(ratings, dim = 4, iters = 3)
      ._1.select(col("u"), col("f").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(run() == run(), "implicit ALS must be bit-deterministic")
  }

  test("r04: one row per training edge with a certified monotone implicit objective") {
    val out = Recommender.r04.run(spark, sfDir).cache()
    assert(out.count() > 0)
    assert(out.filter(!col("monotone_obj")).count() == 0,
      "the implicit ALS objective must be provably non-increasing")
    assert(out.select("u", "i").distinct().count() == out.count())
    out.unpersist()
  }

  test("r04's tracked fit reuses each round's item Gramian: 102 jobs") {
    // the objective's G_Y seeds the next user half-round: iters − 1 = 4
    // Gramian shuffle-and-collect passes fewer than recollecting it each
    // round, which ran 114 jobs here
    val jobs = jobsOf(Recommender.r04.run(spark, sfDir).collect())
    assert(jobs == 102, s"r04 ran $jobs jobs")
  }

  test("NNLS kernel: interior solutions match the unconstrained solve; active constraints satisfy KKT") {
    // interior case: A = [[4,1],[1,3]], b = [1,2] → x* = (1/11, 7/11),
    // strictly positive, so NNLS must equal the unconstrained optimum
    val a1 = Array(Array(4.0, 1.0), Array(1.0, 3.0))
    val x1 = graft.ml.NNLS.solve(a1.map(_.clone()), Array(1.0, 2.0))
    assert(math.abs(x1(0) - 1.0 / 11) < 1e-12 && math.abs(x1(1) - 7.0 / 11) < 1e-12,
      s"interior NNLS ${x1.toList}")
    // active-constraint case: b = [-1, 2] drives x0 negative
    // unconstrained → NNLS clamps it at 0 and re-solves the free block
    val x2 = graft.ml.NNLS.solve(a1.map(_.clone()), Array(-1.0, 2.0))
    assert(x2(0) == 0.0 && math.abs(x2(1) - 2.0 / 3) < 1e-12, s"clamped ${x2.toList}")
    // KKT on random PSD systems: x ≥ 0, gradient g = Ax − b has g_j ≥ 0
    // wherever x_j = 0 and |g_j| ≈ 0 wherever x_j > 0
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val d = 2 + rnd.nextInt(6)
      val m = Array.fill(d, d)(rnd.nextGaussian())
      val a = Array.tabulate(d, d)((i, j) =>
        (0 until d).map(k => m(i)(k) * m(j)(k)).sum + (if (i == j) 0.1 else 0.0))
      val b = Array.fill(d)(rnd.nextGaussian() * 2)
      // ill-conditioned random Grams converge linearly — give the
      // fixed-point iteration room and judge KKT at a matched tolerance
      val x = graft.ml.NNLS.solve(a.map(_.clone()), b.clone(), sweeps = 5000)
      val g = Array.tabulate(d)(j => (0 until d).map(k => a(j)(k) * x(k)).sum - b(j))
      (0 until d).foreach { j =>
        assert(x(j) >= 0.0, s"x($j) = ${x(j)} negative")
        if (x(j) > 1e-10) assert(math.abs(g(j)) < 1e-6, s"active g($j) = ${g(j)}")
        else assert(g(j) >= -1e-6, s"bound g($j) = ${g(j)} violates KKT")
      }
    }
  }

  test("nonnegative ALS recovers planted NONNEGATIVE low-rank ratings with factors in the cone") {
    import TestSpark.spark.implicits._
    // same exact rank-3 law as the unconstrained test — the planted
    // factors are already nonnegative, so the constraint costs nothing
    // and recovery must still be near-exact
    val dim = 3
    def fac(id: Int, salt: Int): Array[Double] =
      Array.tabulate(dim)(d => 0.5 + ((id * 31 + d * 17 + salt * 7) % 100) / 100.0)
    val rows = for { u <- 0 until 25; i <- 0 until 20; if (u + i) % 3 != 0 }
      yield (u.toLong, i.toLong,
        fac(u, 1).zip(fac(i, 2)).map { case (a, b) => a * b }.sum)
    val ratings = rows.toDF("u", "i", "r")
    val (userF, itemF, js) = Recommender.alsFactors(
      ratings, dim = 3, iters = 10, reg = 1e-3, track = true, nonnegative = true)
    def minEntry(f: org.apache.spark.sql.DataFrame): Double =
      f.agg(min(array_min(col("f")))).head.getDouble(0)
    assert(minEntry(userF) >= 0.0 && minEntry(itemF) >= 0.0,
      "a factor entry escaped the nonnegative cone")
    // warm-started NNLS half-rounds: objective provably non-increasing
    js.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * (1 + 1e-9) + 1e-9, s"objective rose: $js") }
    val preds = Recommender.alsPredict(
      ratings.select(col("u"), col("i"), col("r").cast("double").as("r")),
      userF, itemF)
    val err = rmse(preds, "pred")
    val scale = ratings.agg(avg("r")).head.getDouble(0)
    assert(err < 0.05 * scale,
      s"nonnegative ALS RMSE $err on exact nonneg rank-$dim data (scale $scale)")
  }

  test("r03: certified monotone objective AND all-nonnegative factors on the corpus slice") {
    val out = Recommender.r03.run(spark, sfDir).cache()
    assert(out.count() > 0)
    assert(out.filter(!col("monotone_obj")).count() == 0)
    assert(out.filter(!col("all_nonneg")).count() == 0)
    assert(out.groupBy("u", "i").count().filter(col("count") > 1).count() == 0)
  }

  test("r02: one row per training edge with a certified monotone ALS objective") {
    val out = Recommender.r02.run(spark, sfDir).cache()
    assert(out.count() > 0)
    // the certificate is the provable claim: each ALS-WR half-round is
    // an exact normal-equations solve, so the regularized objective the
    // entry measured after every full round never increased (finite
    // predictions are pinned by the planted ALS tests above)
    assert(out.filter(!col("monotone_obj")).count() == 0)
    assert(out.groupBy("u", "i").count().filter(col("count") > 1).count() == 0)
  }

  test("recommendProducts matches a driver-side brute force on planted factors") {
    import TestSpark.spark.implicits._
    // hand-planted factor tables: scores are exact small integers, so
    // the rounded-score ranking is unambiguous and fully checkable
    def fv(seed: Int) = Seq.tabulate(4)(j => ((seed * 13 + j * 7) % 9 - 4).toDouble)
    val users = (0L until 12L).map(u => (u, fv(u.toInt))).toDF("u", "f")
    val items = (0L until 9L).map(i => (i, fv(i.toInt + 100))).toDF("i", "f")
    val got = Recommender.recommendProducts(users, items, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val itemArr = (0 until 9).map(i => fv(i + 100))
    val expect = (0 until 12).flatMap { u =>
      val p = fv(u)
      itemArr.zipWithIndex
        .map { case (q, i) => (i.toLong, p.zip(q).map { case (a, b) => a * b }.sum) }
        .sortBy { case (i, s) => (-s, i) }
        .take(3).zipWithIndex
        .map { case ((i, s), rk) => (u.toLong, i, s, rk + 1) }
    }
    assert(got == expect, s"got $got")
    // transposed serving: recommendUsers is recommendProducts with the
    // roles swapped
    val gotU = Recommender.recommendUsers(users, items, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val userArr = (0 until 12).map(fv)
    val expectU = (0 until 9).flatMap { i =>
      val q = itemArr(i)
      userArr.zipWithIndex
        .map { case (p, u) => (u.toLong, p.zip(q).map { case (a, b) => a * b }.sum) }
        .sortBy { case (u, s) => (-s, u) }
        .take(2).zipWithIndex
        .map { case ((u, s), rk) => (i.toLong, u, s, rk + 1) }
    }
    assert(gotU == expectU, s"got $gotU")
    // k past the catalog: every item comes back, ranks stay contiguous
    val all9 = Recommender.recommendProducts(users, items, k = 50)
    assert(all9.count() == 12 * 9)
    assert(all9.groupBy("u").agg(max("rk").as("m"))
      .filter(col("m") =!= 9).count() == 0)
  }

  test("r05: per-user top-3 rows with the serving path certified against the window recount") {
    val out = Recommender.r05.run(spark, sfDir).cache()
    assert(out.count() > 0)
    assert(out.filter(!col("topk_exact")).count() == 0,
      "native TopK + double_dot serving must equal the HOF + window recount")
    // exactly min(3, catalog) contiguous ranks per user
    val perUser = out.groupBy("u")
      .agg(count(lit(1)).as("n"), max("rk").as("mx"), min("rk").as("mn"))
    assert(perUser.filter(col("n") =!= col("mx") || col("mn") =!= 1).count() == 0)
    assert(perUser.filter(col("mx") > 3).count() == 0)
  }

  test("every tracked trainer measures 0 on an empty ratings frame and trains empty tables") {
    import TestSpark.spark.implicits._
    // Σ over no ratings is 0: the measured objectives must be defined,
    // not a null sum read as a double
    val empty = Seq.empty[(Long, Long, Double)].toDF("u", "i", "r")
    val svd = Recommender.svdPlusPlusModel(empty, dim = 4, iters = 2)
    assert(svd.sse == Seq(0.0, 0.0, 0.0), s"SVD++ SSE ${svd.sse}")
    assert(svd.preds.count() == 0)
    val trained = Seq(
      "explicit" -> Recommender.alsFactors(empty, dim = 4, iters = 2, track = true),
      "nonnegative" -> Recommender.alsFactors(empty, dim = 4, iters = 2, track = true,
        nonnegative = true),
      "implicit" -> Recommender.alsImplicitFactors(empty, dim = 4, iters = 2, track = true))
    for ((name, (userF, itemF, js)) <- trained) {
      assert(js == Seq(0.0, 0.0), s"$name ALS objective $js")
      assert(userF.count() == 0 && itemF.count() == 0, s"$name ALS factors")
    }
  }

  test("ALS: a repeated (u, i) row enters the normal equations once per copy, bit-deterministically") {
    // the contract alsFactors documents: a duplicate is not rejected, it
    // weighs its key's solve once more — and sort_array orders the equal
    // structs alike, so two runs stay bit-equal
    val ratings = planted()
    val dup = ratings.union(ratings.filter(col("u") === 0 && col("i") === 0))
    val trainers = Seq[(String, DataFrame => (DataFrame, DataFrame, Seq[Double]))](
      "explicit" -> (r => Recommender.alsFactors(r, dim = 4, iters = 3)),
      "implicit" -> (r => Recommender.alsImplicitFactors(r, dim = 4, iters = 3)))
    for ((name, train) <- trainers) {
      def run(r: DataFrame) = { val (u, i, _) = train(r); (bits(u), bits(i)) }
      val once = run(dup)
      assert(once == run(dup), s"$name ALS on a repeated row is not bit-deterministic")
      assert(once != run(ratings), s"$name ALS ignored the repeated row")
    }
  }
}
