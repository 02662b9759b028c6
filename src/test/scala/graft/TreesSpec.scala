package graft

import org.apache.spark.sql.functions._
import graft.operators.Trees

class TreesSpec extends SparkTestBase {

  test("tree recovers planted axis-aligned splits exactly") {
    import TestSpark.spark.implicits._
    // four quadrants with distinct labels: x0 <=> 0.5, x1 <=> 0.3
    val df = (0 until 800).map { i =>
      val x0 = (i % 40) / 40.0
      val x1 = ((i * 13) % 40) / 40.0
      val label = (if (x0 <= 0.5) "a" else "b") + (if (x1 <= 0.3) "0" else "1")
      (x0, x1, label)
    }.toDF("x0", "x1", "label")
    val (assigned, model) = Trees.train(
      df, Seq(col("x0"), col("x1")), col("label"), depth = 2, bins = 40)
    // all four leaves pure: training accuracy 1.0
    val leafPred = model.leafClass.toSeq.toDF("node", "pred")
    val correct = assigned.join(broadcast(leafPred), Seq("node"))
      .select(avg((col("label") === col("pred")).cast("double"))).head.getDouble(0)
    assert(correct == 1.0, s"planted quadrant accuracy $correct")
    assert(model.leafClass.size == 4 && model.splits.size == 3,
      s"want 3 splits + 4 leaves, got ${model.splits.size}/${model.leafClass.size}")
  }

  test("entropy and gini pick different splits on the planted disagreement corpus") {
    import TestSpark.spark.implicits._
    // label counts engineered so the two impurities genuinely disagree
    // (gain margins >= 0.03, far above the 1e-12 epsilon):
    //   parent (4 A, 21 B)
    //   f0: left (2A, 0B) | right (2A, 21B)  -> Gini's argmax
    //   f1: left (4A, 5B) | right (0A, 16B)  -> entropy's argmax
    // (Gini gains 0.1227 vs 0.0910; entropy gains 0.2422 vs 0.2775.)
    val rows =
      Seq.fill(2)((0.0, 0.0, "A")) ++ Seq.fill(2)((1.0, 0.0, "A")) ++
        Seq.fill(5)((1.0, 0.0, "B")) ++ Seq.fill(16)((1.0, 1.0, "B"))
    val df = rows.toDF("x0", "x1", "label")
    val fts = Seq(col("x0"), col("x1"))
    val gm = Trees.train(df, fts, col("label"), depth = 1, bins = 32,
      guardGainGaps = true)._2
    val em = Trees.train(df, fts, col("label"), depth = 1, bins = 32,
      guardGainGaps = true, impurity = "entropy")._2
    assert(gm.splits(0).feature == 0, s"gini split ${gm.splits(0)}")
    assert(em.splits(0).feature == 1, s"entropy split ${em.splits(0)}")
    // both trees' leaves carry the correct majority classes
    assert(gm.leafClass == Map(1 -> "A", 2 -> "B"), s"gini leaves ${gm.leafClass}")
    assert(em.leafClass == Map(1 -> "B", 2 -> "B"), s"entropy leaves ${em.leafClass}")
    // forest plumbing takes the same parameter (both features allowed,
    // 1 tree, deterministic weights — argmax must match the entropy tree
    // up to bootstrap reweighting being nonzero)
    val (fm, _) = Trees.forest(df, fts, col("label"),
      idCols = Seq(col("x0") * 2 + col("x1")), depth = 1, bins = 32,
      nTrees = 1, featuresPerTree = 2, impurity = "entropy")
    assert(fm.head.splits.get(0).forall(_.feature >= 0)) // trains without error
    // unknown impurity fails loudly
    intercept[IllegalArgumentException] {
      Trees.train(df, fts, col("label"), depth = 1, bins = 32, impurity = "mse")
    }
  }

  test("an empty frame fails with a named require; a single row trains one leaf") {
    import TestSpark.spark.implicits._
    val fts = Seq(col("x0"), col("x1"))
    val empty = Seq.empty[(Long, Double, Double, String, Double)]
      .toDF("id", "x0", "x1", "label", "y")
    for (fit <- Seq[() => Any](
      () => Trees.train(empty, fts, col("label"), depth = 2, bins = 8),
      () => Trees.forest(empty, fts, col("label"), Seq(col("id")), depth = 2, bins = 8,
        nTrees = 3, featuresPerTree = 1),
      () => Trees.trainGbt(empty, fts, col("y"), rounds = 2, depth = 2, bins = 8,
        shrink = 0.5))) {
      val e = intercept[IllegalArgumentException](fit())
      assert(e.getMessage.contains("feature 0"), e.getMessage)
    }
    val one = Seq((0.25, 3.0, "a", 7.5)).toDF("x0", "x1", "label", "y")
    val (assigned, model) = Trees.train(one, fts, col("label"), depth = 2, bins = 8)
    assert(model.splits.isEmpty && model.leafClass == Map(0 -> "a"), s"$model")
    assert(assigned.select("node").as[Int].collect().toSeq == Seq(0))
    val rmodel = Trees.trainRegressionBinned(
      Trees.binForRegression(one, fts, col("y"), bins = 8), d = 2, depth = 2, bins = 8)
    assert(rmodel.splits.isEmpty && rmodel.leafValue == Map(0 -> 7.5), s"$rmodel")
  }

  test("the gain-gap guard fires through train and forest when the width exceeds every gain") {
    import TestSpark.spark.implicits._
    // the planted-quadrant corpus: every Gini gain sits below 0.9, so the
    // widened-band positivity assert (max gain > width) must fail
    val df = (0 until 800).map { i =>
      val x0 = (i % 40) / 40.0
      val x1 = ((i * 13) % 40) / 40.0
      (i.toLong, x0, x1, (if (x0 <= 0.5) "a" else "b") + (if (x1 <= 0.3) "0" else "1"))
    }.toDF("id", "x0", "x1", "label")
    val fts = Seq(col("x0"), col("x1"))
    val e1 = intercept[AssertionError] {
      Trees.train(df, fts, col("label"), depth = 2, bins = 40,
        guardGainGaps = true, gainGapWidth = 0.9)
    }
    val e2 = intercept[AssertionError] {
      Trees.forest(df, fts, col("label"), Seq(col("id")), depth = 2, bins = 40,
        nTrees = 5, featuresPerTree = 2, guardGainGaps = true, gainGapWidth = 0.9)
    }
    Seq(e1, e2).foreach(e =>
      assert(e.getMessage.contains("ambiguous positivity window"), e.getMessage))
  }

  test("training is deterministic across runs") {
    import TestSpark.spark.implicits._
    val df = (0 until 500).map { i =>
      ((i % 23).toDouble, ((i * 7) % 19).toDouble, if ((i * 3) % 7 < 3) "x" else "y")
    }.toDF("x0", "x1", "label")
    val m1 = Trees.train(df, Seq(col("x0"), col("x1")), col("label"), 3, 16)._2
    val m2 = Trees.train(df, Seq(col("x0"), col("x1")), col("label"), 3, 16)._2
    assert(m1.splits == m2.splits && m1.leafClass == m2.leafClass)
  }

  test("regression tree recovers a planted step function exactly") {
    import TestSpark.spark.implicits._
    // y is a 4-level step in x0; x1 is noise
    val df = (0 until 800).map { i =>
      val x0 = (i % 40) / 40.0
      val x1 = ((i * 13) % 40) / 40.0
      val y = if (x0 < 0.25) 1.0 else if (x0 < 0.5) 3.0 else if (x0 < 0.75) 7.0 else 9.0
      (x0, x1, y)
    }.toDF("x0", "x1", "y")
    val binned = Trees.binForRegression(df, Seq(col("x0"), col("x1")), col("y"), bins = 40)
    val model = Trees.trainRegressionBinned(binned, d = 2, depth = 2, bins = 40)
    val mse = binned
      .select(pow(col("y") - Trees.regressExpr(model, col("b")), 2.0).as("e"))
      .agg(avg("e")).head.getDouble(0)
    assert(mse < 1e-18, s"planted step function must fit exactly, mse $mse")
    assert(model.splits.size == 3, s"want 3 splits, got ${model.splits}")
  }

  test("forest is deterministic and recovers the planted quadrants through bagging") {
    import TestSpark.spark.implicits._
    val df = (0 until 800).map { i =>
      val x0 = (i % 40) / 40.0
      val x1 = ((i * 13) % 40) / 40.0
      (i.toLong, x0, x1, (if (x0 <= 0.5) "a" else "b") + (if (x1 <= 0.3) "0" else "1"))
    }.toDF("id", "x0", "x1", "label")
    val fts = Seq(col("x0"), col("x1"))
    val (m1, frame1) = Trees.forest(df, fts, col("label"), Seq(col("id")),
      depth = 2, bins = 40, nTrees = 5, featuresPerTree = 2)
    val (m2, _) = Trees.forest(df, fts, col("label"), Seq(col("id")),
      depth = 2, bins = 40, nTrees = 5, featuresPerTree = 2)
    assert(m1.map(_.splits) == m2.map(_.splits) &&
      m1.map(_.leafClass) == m2.map(_.leafClass), "bagging must be deterministic")
    // vote accuracy: every tree sees a weighted bootstrap of cleanly
    // separable quadrants, so the plurality vote recovers them.
    // Bins rebuilt with the trainer's fixed-width formula (lo=0,
    // hi=39/40 for both features here).
    val raw = df.select(array(fts.map(_.cast("double")): _*).as("x"), col("label"))
    val w = 0.975 / 40
    val b2 = raw.select(array(
      least(floor(col("x")(0) / w).cast("int"), lit(39)),
      least(floor(col("x")(1) / w).cast("int"), lit(39))).as("b"),
      col("label"))
    val acc = b2
      .select(avg((Trees.voteExpr(m1, col("b")) === col("label")).cast("double")))
      .head.getDouble(0)
    assert(acc >= 0.97, s"forest vote accuracy $acc")
    // the trainer's returned frame votes identically — its bins must
    // equal the independently rebuilt ones (what rf01 now relies on)
    val accFrame = frame1
      .select(avg((Trees.voteExpr(m1, col("b")) === col("label")).cast("double")))
      .head.getDouble(0)
    assert(accFrame == acc,
      s"returned-frame vote $accFrame != rebinned vote $acc")
  }

  test("logistic GBT separates a planted ±1 corpus and its deviance is monotone") {
    import TestSpark.spark.implicits._
    // separable in x0 with a nuisance feature: sign(F) must recover the
    // labels and the deviance chain must realize the smoothness theorem
    val df = (0 until 800).map { i =>
      val x0 = (i % 40) / 40.0
      val x1 = ((i * 13) % 40) / 40.0
      (x0, x1, if (x0 < 0.5) -1.0 else 1.0)
    }.toDF("x0", "x1", "y")
    val fts = Seq(col("x0"), col("x1"))
    val (trees, losses, frame) = Trees.trainGbtLoss(df, fts, col("y"),
      rounds = 4, depth = 2, bins = 40, shrink = 0.5, loss = "logistic")
    assert(trees.length == 4 && trees.head._2 == 1.0 &&
      trees.tail.forall(_._2 == 0.5), "tree0 weight 1.0, later trees shrink")
    val prior = 2.0 * math.log(2.0)
    val chain = prior +: losses
    chain.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * (1 + 1e-9) + 1e-12, s"deviance rose: $chain") }
    val acc = frame
      .select(avg((signum(col("F")) === col("y")).cast("double")))
      .head.getDouble(0)
    assert(acc == 1.0, s"separable corpus must classify perfectly, acc $acc")
  }

  test("LAD GBT pulls toward the planted medians despite gross outliers") {
    import TestSpark.spark.implicits._
    // two plateaus at 1 and 9 with 5% gross (+1000) outliers: absolute
    // loss must keep chasing the plateau (sign residuals bound each
    // round's pull to ±shrink) while squared loss chases the outliers
    val df = (0 until 800).map { i =>
      val x0 = (i % 40) / 40.0
      val base = if (x0 < 0.5) 1.0 else 9.0
      val y = if (i % 20 == 0) base + 1000.0 else base
      (x0, ((i * 13) % 40) / 40.0, y)
    }.toDF("x0", "x1", "y")
    val fts = Seq(col("x0"), col("x1"))
    val (_, maes, frame) = Trees.trainGbtLoss(df, fts, col("y"),
      rounds = 6, depth = 2, bins = 40, shrink = 0.5, loss = "absolute")
    // tree0 is a raw-label mean fit (outlier-shifted); the LAD rounds
    // then step by at most ±shrink each, monotonically shrinking MAE
    assert(maes.last < maes.head,
      s"LAD rounds must reduce MAE, got $maes")
    // clean-row predictions approach the plateaus, not the means
    // (mean of the x0<0.5 half including outliers is ~51)
    val cleanErr = frame.filter(col("y") < 100)
      .select(avg(abs(col("F") - col("y")))).head.getDouble(0)
    assert(cleanErr < 30.0,
      s"LAD must resist the +1000 outliers on clean rows, err $cleanErr")
  }

  test("gbt02 on the real table: deviance flags all true") {
    val out = Trees.gbt02.run(spark, sfDir).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getBoolean(3), s"monotone flag false at round ${r.getInt(0)}")
      assert(r.getBoolean(4), s"below_prior flag false at round ${r.getInt(0)}")
    }
  }

  test("gbt01 on the real table: per-round MSE is non-increasing") {
    val out = Trees.gbt01.run(spark, sfDir).collect()
    assert(out.length == 4)
    // (round, mse0, monotone, below_initial): the monotone flags ARE the
    // per-round MSE comparisons, computed from the measured aggregates
    assert(out.forall(r => r.getBoolean(2)),
      s"boosting must not increase training MSE: ${out.toSeq}")
    assert(out.forall(r => r.getBoolean(3)),
      s"every round must sit at or below the initial MSE: ${out.toSeq}")
    assert(out.head.getDouble(1) > 0.0, "initial-MSE anchor must be positive")
  }

  test("dt01 oracle assumption: no two distinct split gains within 2e-12 at any node") {
    // the DuckDB CTE replay of the induction is exact only while the
    // gain multiset has no near-ties; the guard asserts it at every
    // node of dt01's exact configuration so corpus drift fails here —
    // at the spec corpus AND at sf0.01, the driver's oracle SF
    import org.apache.spark.sql.functions._
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01"))
      Trees.train(
        Tables.lineitem(spark, dir),
        Seq(col("l_quantity"), col("l_discount"), col("l_tax"),
          year(col("l_shipdate"))),
        col("l_returnflag"), depth = 3, bins = 32, guardGainGaps = true)
  }

  test("rf01 oracle assumption: no near-tied gains in any tree's weighted cubes") {
    // same exactness condition as dt01's, but over the forest's
    // weighted (tree, node) cubes and per-tree feature subsets — the
    // r10 full SQL replay of the induction is exact only while it
    // holds; asserted at the spec corpus AND the driver's oracle SF
    import org.apache.spark.sql.functions._
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01"))
      Trees.forest(
        Tables.lineitem(spark, dir),
        Seq(col("l_quantity"), col("l_discount"), col("l_tax"),
          year(col("l_shipdate"))),
        col("l_returnflag"),
        idCols = Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
        depth = 3, bins = 32, nTrees = 5, featuresPerTree = 2,
        guardGainGaps = true)
  }

  test("rf01 on the real table: bounded confusion matrix covering the table") {
    val out = Trees.rf01.run(spark, sfDir).collect()
    assert(out.length <= 9 && out.nonEmpty)
    val total = out.map(_.getLong(2)).sum
    assert(total == Tables.lineitem(spark, sfDir).count())
  }

  test("dt01, rf01 and gbt01 job counts at the spec corpus") {
    // one grower serves all three: a level costs one cube collect, the
    // forest's per-level cut fuses into that collect, and each boosting
    // round is one depth-2 tree plus its MSE head
    val dt = jobsOf(Trees.dt01.run(spark, sfDir).collect())
    val rf = jobsOf(Trees.rf01.run(spark, sfDir).collect())
    val gbt = jobsOf(Trees.gbt01.run(spark, sfDir).collect())
    assert(dt == 13, s"dt01 ran $dt jobs")
    assert(rf == 11, s"rf01 ran $rf jobs")
    assert(gbt == 39, s"gbt01 ran $gbt jobs")
  }

  test("dt01 on the real table: bounded leaf summary, accuracy >= majority") {
    val out = Trees.dt01.run(spark, sfDir).collect()
    assert(out.length <= 8 && out.nonEmpty, s"${out.length} leaves")
    val li = Tables.lineitem(spark, sfDir)
    val total = li.count()
    assert(out.map(_.getLong(2)).sum == total, "leaf rows must cover the table")
    val majority = li.groupBy("l_returnflag").count()
      .agg(max("count")).head.getLong(0)
    val correct = out.map(_.getLong(3)).sum
    assert(correct >= majority,
      s"majority-vote leaves can never undercut the majority class: $correct < $majority")
  }
}
