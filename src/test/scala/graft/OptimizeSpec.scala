package graft

import org.apache.spark.sql.functions._
import graft.ml.Optimize

/** Standalone optimizer surface (mllib/optimization LBFGS /
  * GradientDescent / Gradient parity): convex-quadratic closed-form
  * recovery, monotone Armijo history, gradient-family algebra, L2
  * updater, and the L-BFGS-beats-GD convergence contract. */
class OptimizeSpec extends SparkTestBase {

  private def planted(n: Int) = {
    import TestSpark.spark.implicits._
    // exact linear law, no noise: y = 2 + 3x1 − 1.5x2
    (0 until n).map { i =>
      val x1 = (i % 50) / 25.0
      val x2 = ((i * 7) % 50) / 25.0
      (x1, x2, 2.0 + 3.0 * x1 - 1.5 * x2)
    }.toDF("x1", "x2", "y")
  }

  test("lbfgs recovers the planted least-squares optimum to closed-form precision") {
    val df = planted(600)
    val obj = Optimize.objective(df,
      array(lit(1.0), col("x1"), col("x2")), col("y"), d = 3,
      kind = "leastSquares")
    val (w, hist) = Optimize.lbfgs(obj, Array(0.0, 0.0, 0.0), maxIter = 60)
    // exact law → optimal loss 0; quadratic objective → L-BFGS nails it
    assert(hist.last < 1e-10, s"final loss ${hist.last}, hist $hist")
    assert(math.abs(w(0) - 2.0) < 1e-5 && math.abs(w(1) - 3.0) < 1e-5 &&
      math.abs(w(2) + 1.5) < 1e-5, s"weights ${w.toList}")
    // Armijo accepts only decreases: the history is non-increasing
    hist.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-15, s"loss rose in $hist") }
  }

  test("leastSquaresObjective (moment statistics) agrees with the row-pass objective") {
    val df = planted(600)
    val x = array(lit(1.0), col("x1"), col("x2"))
    val rowObj = Optimize.objective(df, x, col("y"), d = 3, kind = "leastSquares")
    val momObj = Optimize.leastSquaresObjective(df, x, col("y"), d = 3)
    for (w <- Seq(Array(0.0, 0.0, 0.0), Array(1.0, -2.0, 0.5), Array(2.0, 3.0, -1.5))) {
      val (fR, gR) = rowObj.eval(w)
      val (fM, gM) = momObj.eval(w)
      assert(math.abs(fR - fM) <= 1e-9 * math.max(1.0, math.abs(fR)),
        s"loss mismatch at ${w.toList}: row $fR vs moments $fM")
      gR.zip(gM).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)),
          s"gradient mismatch at ${w.toList}: ${gR.toList} vs ${gM.toList}") }
    }
    // and L-BFGS on the moment objective still nails the planted optimum
    val (w, hist) = Optimize.lbfgs(momObj, Array(0.0, 0.0, 0.0), maxIter = 60)
    assert(hist.last < 1e-10 && math.abs(w(0) - 2.0) < 1e-5 &&
      math.abs(w(1) - 3.0) < 1e-5 && math.abs(w(2) + 1.5) < 1e-5,
      s"moment-objective lbfgs: loss ${hist.last}, weights ${w.toList}")
  }

  test("leastSquaresObjective fails by name, not NPE, on an all-null label column") {
    val df = planted(20).withColumn("y", lit(null).cast("double"))
    val e = intercept[IllegalArgumentException](
      Optimize.leastSquaresObjective(df, array(lit(1.0), col("x1"), col("x2")), col("y"), d = 3))
    assert(e.getMessage.contains("all-null feature/label"), e.getMessage)
  }

  test("lbfgs converges far faster than sqrt-decay gradient descent") {
    val df = planted(600)
    def freshObj() = Optimize.objective(df,
      array(lit(1.0), col("x1"), col("x2")), col("y"), d = 3,
      kind = "leastSquares")
    val (_, lh) = Optimize.lbfgs(freshObj(), Array(0.0, 0.0, 0.0), maxIter = 25)
    val (_, gh) = Optimize.gradientDescent(freshObj(), Array(0.0, 0.0, 0.0),
      stepSize = 0.5, maxIter = 25)
    assert(lh.last < gh.last / 100.0,
      s"lbfgs ${lh.last} must beat GD ${gh.last} by orders of magnitude")
  }

  test("logistic objective separates a planted corpus; history monotone") {
    import TestSpark.spark.implicits._
    val df = (0 until 400).map { i =>
      val x = (i % 40) / 20.0 - 1.0 // [-1, 1)
      (x, if (x >= 0) 1.0 else 0.0)
    }.toDF("x", "y")
    val obj = Optimize.objective(df, array(lit(1.0), col("x")), col("y"),
      d = 2, kind = "logistic")
    val (w, hist) = Optimize.lbfgs(obj, Array(0.0, 0.0), maxIter = 30)
    hist.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-15, s"loss rose in $hist") }
    assert(hist.last < hist.head, "logistic loss must improve from w=0")
    assert(w(1) > 0, s"separating slope must be positive, got ${w.toList}")
  }

  test("hinge objective drives the planted margin; L2 updater shrinks weights") {
    import TestSpark.spark.implicits._
    val df = (0 until 400).map { i =>
      val x = (i % 40) / 20.0 - 1.0
      (x, if (x >= 0.0) 1.0 else 0.0)
    }.toDF("x", "y")
    val hinge = Optimize.objective(df, array(lit(1.0), col("x")), col("y"),
      d = 2, kind = "hinge")
    val (wH, histH) = Optimize.lbfgs(hinge, Array(0.0, 0.0), maxIter = 30)
    assert(histH.last < histH.head && wH(1) > 0,
      s"hinge must learn the margin: hist $histH w ${wH.toList}")
    // SquaredL2Updater: strong regularization pulls the norm down
    val reg = Optimize.objective(df, array(lit(1.0), col("x")), col("y"),
      d = 2, kind = "logistic", regParam = 10.0)
    val (wR, _) = Optimize.lbfgs(reg, Array(0.0, 0.0), maxIter = 30)
    val free = Optimize.objective(df, array(lit(1.0), col("x")), col("y"),
      d = 2, kind = "logistic")
    val (wF, _) = Optimize.lbfgs(free, Array(0.0, 0.0), maxIter = 30)
    def norm(a: Array[Double]) = math.sqrt(a.map(v => v * v).sum)
    assert(norm(wR) < norm(wF) / 2.0,
      s"λ=10 must shrink ‖w‖: reg ${wR.toList} vs free ${wF.toList}")
  }

  test("L1 updater: proximal step yields EXACT zeros and agrees with rg04's coordinate descent at matched λ") {
    val df = planted(400)
    def freshObj() = Optimize.objective(df,
      array(lit(1.0), col("x1"), col("x2")), col("y"), d = 3,
      kind = "leastSquares") // UNregularized smooth part; penalty in the updater
    val lam = 8.0
    // lasso2's objective (1/2n)‖y−Xb‖² + λ(|b1|+|b2|): intercept unpenalized
    val (w, hist) = Optimize.gradientDescentL1(freshObj(), Array(0.0, 0.0, 0.0),
      stepSize = 0.5, maxIter = 120, l1Param = lam, penalize = _ != 0)
    assert(w(1) == 0.0 && w(2) == 0.0,
      s"soft threshold must produce EXACT zero slopes at λ=$lam, got ${w.toList}")
    val (b0, b1, b2) = graft.operators.Regression.lasso2(
      df, col("x1"), col("x2"), col("y"), lambda = lam, sweeps = 50)
    assert(b1 == 0.0 && b2 == 0.0, s"coordinate descent fixed point ($b0,$b1,$b2)")
    assert(math.abs(w(0) - b0) < 1e-3,
      s"proximal GD intercept ${w(0)} must match coordinate descent $b0")
    assert(hist.last < hist.head, s"full objective must improve: $hist")
    // λ = 0 contrast: the same iteration leaves the slopes ACTIVE
    val (wFree, _) = Optimize.gradientDescentL1(freshObj(), Array(0.0, 0.0, 0.0),
      stepSize = 0.5, maxIter = 30, l1Param = 0.0, penalize = _ != 0)
    assert(math.abs(wFree(1)) > 0.1,
      s"sparsity must come from λ, not the step: ${wFree.toList}")
  }

  test("opt01 on the real table: closed-form coefficients + optimum certificate") {
    val out = Optimize.opt01.run(spark, sfDir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getBoolean(3), "lbfgs_at_optimum must hold")
    // coefficients are finite, rounded values (the oracle re-derives
    // their exact values; here just pin the shape)
    (0 to 2).foreach(j => assert(!r.getDouble(j).isNaN && !r.getDouble(j).isInfinite))
  }
}
