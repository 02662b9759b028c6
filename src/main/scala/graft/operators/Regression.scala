package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{LoopState, Q, Tables}

/** The reference's generalized-linear regression surface
  * (mllib/src/main/scala/org/apache/spark/mllib/regression/
  * RidgeRegression.scala:1, LinearRegression.scala:1,
  * classification/LogisticRegression.scala:1,
  * regression/IsotonicRegression.scala:1) re-expressed Spark-first.
  *
  * The reference trains every GLM by distributed SGD
  * (GeneralizedLinearAlgorithm.scala:1 + optimization/
  * GradientDescent.scala — sampled minibatch gradients aggregated per
  * step). On Spark 4 the idiomatic shapes differ by model:
  *
  *  - ridge/linear (d ≪ n): the normal equations collapse the WHOLE
  *    dataset into one bounded (d+1)×(d+1) aggregate — a single
  *    partial-agg pass, driver-side solve of a d+1 system (the d14
  *    covariance discipline). No iteration at all.
  *  - logistic: the loss has no closed form, so it keeps the
  *    full-batch gradient loop — but each step is ONE bounded
  *    aggregate (d+1 sums) with the current weights as plan literals
  *    (gm01's E-step discipline), not a sampled minibatch.
  *  - isotonic: order-constrained least squares — per-partition
  *    pool-adjacent-violators on range-partitioned x, then one bounded
  *    driver merge of the surviving blocks (exactly MLlib's
  *    parallel-PAV shape, IsotonicRegression.scala's
  *    parallelPoolAdjacentViolators).
  */
object Regression {

  // ---------------------------------------------------------------- ridge

  /** 3×3 determinant, written as the one fixed expression tree that the
    * DuckDB oracle repeats verbatim — identical IEEE operation order on
    * identical inputs gives bit-identical coefficients. */
  private def det3(a: Array[Array[Double]]): Double =
    a(0)(0) * (a(1)(1) * a(2)(2) - a(1)(2) * a(2)(1)) -
      a(0)(1) * (a(1)(0) * a(2)(2) - a(1)(2) * a(2)(0)) +
      a(0)(2) * (a(1)(0) * a(2)(1) - a(1)(1) * a(2)(0))

  /** Ridge regression of `y` on two features via the normal equations
    * (X'X + λI')β = X'y, intercept unpenalized (I' zeroes the
    * intercept row/col — the standard convention; the reference
    * regularizes exactly the weight vector, RidgeRegression.scala:40).
    *
    * Every moment (Σx, Σx², Σxy, …) is accumulated in EXACT decimal —
    * decimal products and sums are order-independent, so the normal
    * equations are bit-identical across engines and partition layouts,
    * with no rounded-aggregate tolerance dance. The decimal(18,6) input
    * cast keeps Σx·y within decimal(38,12) up to ~10⁹ rows of this
    * magnitude; the registered entry's scaled y keeps products ≤ 10⁴.
    * The 3×3 Cramer solve runs driver-side on the nine collected sums
    * (the eigen-solve placement of d13/d15).
    *
    * @return one row (b0, b1, b2) rounded 6dp
    */
  def ridge2(data: DataFrame, x1: Column, x2: Column, y: Column,
             lambda: Double): (Double, Double, Double) = {
    val d = (c: Column) => c.cast("decimal(18,6)")
    val row = data.select(d(x1).as("x1"), d(x2).as("x2"), d(y).as("y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"))
      .select(col("n").cast("double"), col("s1").cast("double"),
        col("s2").cast("double"), col("sy").cast("double"),
        col("s11").cast("double"), col("s12").cast("double"),
        col("s22").cast("double"), col("s1y").cast("double"),
        col("s2y").cast("double"))
      .head
    val Seq(n, s1, s2, sy, s11, s12, s22, s1y, s2y) =
      (0 until 9).map(row.getDouble)
    val a = Array(
      Array(n, s1, s2),
      Array(s1, s11 + lambda, s12),
      Array(s2, s12, s22 + lambda))
    val b = Array(sy, s1y, s2y)
    val det = det3(a)
    def repl(j: Int) = Array.tabulate(3, 3)((r, c) => if (c == j) b(r) else a(r)(c))
    (det3(repl(0)) / det, det3(repl(1)) / det, det3(repl(2)) / det)
  }

  /** Registered pass: ridge fit of the scaled extended price
    * (l_extendedprice/1000) on quantity and discount, λ = 1 — the
    * price curve a pipeline fits to spot mispriced rows. FULL value
    * oracle: DuckDB accumulates the identical decimal moments and
    * solves the identical Cramer expressions. */
  val rg01 = Q.sql(
    "rg01_ridge",
    """WITH m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
      |    CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(x1 * x1) AS DOUBLE) AS s11, CAST(sum(x1 * x2) AS DOUBLE) AS s12,
      |    CAST(sum(x2 * x2) AS DOUBLE) AS s22,
      |    CAST(sum(x1 * y) AS DOUBLE) AS s1y, CAST(sum(x2 * y) AS DOUBLE) AS s2y
      |  FROM (SELECT CAST(l_quantity AS DECIMAL(18,6)) AS x1,
      |               CAST(l_discount AS DECIMAL(18,6)) AS x2,
      |               CAST(l_extendedprice / 1000.0 AS DECIMAL(18,6)) AS y
      |        FROM lineitem)),
      |s AS (
      |  SELECT n, s1, s2, sy, s11 + 1.0 AS a11, s12, s22 + 1.0 AS a22, s1y, s2y
      |  FROM m),
      |c AS (
      |  SELECT *,
      |    n * (a11 * a22 - s12 * s12) - s1 * (s1 * a22 - s12 * s2)
      |      + s2 * (s1 * s12 - a11 * s2) AS det
      |  FROM s)
      |SELECT
      |  round((sy * (a11 * a22 - s12 * s12) - s1 * (s1y * a22 - s12 * s2y)
      |    + s2 * (s1y * s12 - a11 * s2y)) / det, 6) AS b0,
      |  round((n * (s1y * a22 - s12 * s2y) - sy * (s1 * a22 - s12 * s2)
      |    + s2 * (s1 * s2y - s1y * s2)) / det, 6) AS b1,
      |  round((n * (a11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
      |    + sy * (s1 * s12 - a11 * s2)) / det, 6) AS b2
      |FROM c""".stripMargin) { (s, dir) =>
    import s.implicits._
    val (b0, b1, b2) = ridge2(
      Tables.lineitem(s, dir),
      col("l_quantity"), col("l_discount"), col("l_extendedprice") / 1000.0,
      lambda = 1.0)
    Seq((math.rint(b0 * 1e6) / 1e6, math.rint(b1 * 1e6) / 1e6,
      math.rint(b2 * 1e6) / 1e6)).toDF("b0", "b1", "b2")
  }

  // ------------------------------------------------------------- logistic

  /** Full-batch logistic regression: β ← β − η·∇, ∇ = Σ(σ(x'β) − y)x/n.
    *
    * Shape at scale: the feature frame is pinned once
    * ([[graft.LoopState.pin]]); each of the `iters` steps is ONE partial-agg
    * pass computing d+1 gradient sums with the current β as plan
    * LITERALS — no driver data beyond the (d+1)-vector per step, no
    * sampled minibatch variance (the reference's GradientDescent
    * samples; full-batch is exact and one pass is cheap when d is
    * tiny). Features should arrive pre-scaled to O(1).
    *
    * @return learned weights, intercept first
    */
  def logistic(feats: DataFrame, xCols: Seq[String], yCol: String,
               eta: Double, iters: Int): Array[Double] = {
    val d = xCols.length
    val xs = lit(1.0) +: xCols.map(c => col(c).cast("double"))
    val data = LoopState.pin(feats.select(
      array(xs: _*).as("x"), col(yCol).cast("double").as("y")),
      eager = false) // iteration 1's gradient agg materializes (r16)
    var beta = Array.fill(d + 1)(0.0)
    for (_ <- 0 until iters) {
      val margin = (0 to d).map(j => col("x")(j) * lit(beta(j))).reduce(_ + _)
      val resid = lit(1.0) / (lit(1.0) + exp(-margin)) - col("y")
      val g = data.agg(
        count(lit(1)).as("n"),
        (0 to d).map(j => sum(resid * col("x")(j)).as(s"g$j")): _*).head
      val n = g.getLong(0).toDouble
      beta = Array.tabulate(d + 1)(j => beta(j) - eta * g.getDouble(j + 1) / n)
    }
    beta
  }

  /** Shared (f_words, f_wlen, f_sym, y) language-feature projection over
    * the documents corpus (rg02 + svm01, entries and twins): the
    * tokenizer split is STAGED as an attribute (r15 — the t10/pl01
    * lesson; the former per-entry copies inlined it 3x per row). */
  private def langFeatures(docs: org.apache.spark.sql.DataFrame,
                           keepLang: Boolean): org.apache.spark.sql.DataFrame = {
    import graft.functions.TextFunctions.tokens
    val w = col("w")
    val head = Seq(col("doc_id")) ++ (if (keepLang) Seq(col("lang")) else Nil)
    docs
      .select(col("doc_id"), col("lang"), col("text"), tokens(col("text")).as("w"))
      .select(head ++ Seq(
        (size(w).cast("double") / 100.0).as("f_words"),
        (aggregate(w, lit(0), (acc, x) => acc + length(x)).cast("double") /
          size(w) / 10.0).as("f_wlen"),
        (length(regexp_replace(col("text"), lit("[a-z0-9\\s]"), lit(""))).cast("double") /
          length(col("text"))).as("f_sym"),
        (col("lang") === "en").cast("double").as("y")): _*)
  }

  private val langCols = Seq("f_words", "f_wlen", "f_sym")

  /** rg02 and svm01's one body: `train` learns β (intercept first) over
    * [[langFeatures]], the margin β·(1, x) is the shared decision
    * function, `predicts` is the entry's own "is English" rule on it
    * (kept per entry: sigmoid(m) >= 0.5 and m >= 0 are not bit-identical
    * near 0), and `serve` is the column the production twin emits per
    * doc_id. The certificate is `acc_ge_majority`, from ONE in-plan
    * confusion aggregate; the twin runs no confusion aggregate. */
  private def langClassifier(name: String, train: DataFrame => Array[Double],
                             predicts: Column => Column, serve: Column => Column): Q =
    Q.audited(name,
      """SELECT doc_id, lang, TRUE AS acc_ge_majority
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir, audit) =>
      val feats = langFeatures(Tables.documents(s, dir), keepLang = audit)
      val beta = train(feats)
      val margin = lit(beta(0)) + col("f_words") * lit(beta(1)) +
        col("f_wlen") * lit(beta(2)) + col("f_sym") * lit(beta(3))
      if (!audit) feats.select(col("doc_id"), serve(margin))
      else {
        val acc = feats.agg(
          sum(when(predicts(margin) === (col("y") === 1.0), 1L).otherwise(0L)).as("correct"),
          sum(col("y")).cast("long").as("pos"),
          count(lit(1)).as("n")).head
        val n = acc.getLong(2)
        val floor = acc.getLong(0) >=
          math.max(acc.getLong(1), n - acc.getLong(1)) - n / 50
        feats.select(col("doc_id"), col("lang"),
          lit(floor).as("acc_ge_majority"))
          .orderBy("doc_id")
      }
    }

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))

  /** Registered pass: is this document English? Logistic regression on
    * three O(1) text-quality features (t02's measures). The sigmoid
    * loop is engine-local float iteration, but the entry carries the
    * d08 claim-flag pattern: (doc_id, lang) are exact values DuckDB
    * re-derives row-for-row, and `acc_ge_majority` certifies — from
    * ONE in-plan confusion aggregate over the learned margin — that
    * learned accuracy does not fall below the majority class minus the
    * 2%-of-n slack the spec contract has always carried (fixed-step
    * descent on a near-signal-free corpus may legitimately misfit a
    * handful of docs; on this corpus the calibrated majority fit IS
    * the correct answer, so the floor is the meaningful claim).
    * RegressionSpec pins planted separable recovery, determinism, the
    * probability surface, and the same floor independently. */
  val rg02 = langClassifier("rg02_logistic",
    logistic(_, langCols, "y", eta = 2.0, iters = 40),
    m => sigmoid(m) >= 0.5, m => sigmoid(m).as("p_en"))

  // ------------------------------------------------------------- isotonic

  /** Weighted pool-adjacent-violators over (x asc)-ordered points held
    * as exact (Σwy, Σw) numerator/denominator pairs — pooling is
    * rational-exact, and the final numerator/denominator double
    * division is the one place floating point enters, mirroring the
    * oracle's CAST(decimal)/CAST(decimal). */
  private[graft] def pav(points: Seq[(Double, BigDecimal, Long)])
      : Seq[(Double, Double)] = {
    // stack of pooled blocks: (xLast, num, den, fromIdx)
    val st = scala.collection.mutable.ArrayBuffer.empty[(Double, BigDecimal, Long, Int)]
    points.zipWithIndex.foreach { case ((x, num, den), i) =>
      var cn = num; var cd = den; var from = i
      // merge while the new block's mean undercuts its predecessor's
      while (st.nonEmpty && {
        val (_, pn, pd, _) = st.last
        pn.toDouble / pd.toDouble >= cn.toDouble / cd.toDouble
      }) {
        val (_, pn, pd, pf) = st.remove(st.length - 1)
        cn = pn + cn; cd = pd + cd; from = pf
      }
      st.append((x, cn, cd, from))
    }
    // expand each surviving block over its index range
    val fit = Array.ofDim[Double](points.length)
    val ends = st.map(_._4).drop(1) :+ points.length
    st.zip(ends).foreach { case ((_, num, den, from), end) =>
      val v = num.toDouble / den.toDouble
      (from until end).foreach(i => fit(i) = v)
    }
    points.map(_._1).zip(fit.toSeq)
  }

  /** Isotonic fit of mean scaled extended price over the quantity axis.
    *
    * Shape at scale: the corpus collapses FIRST to one weighted point
    * per distinct x (exact decimal Σy and count — one partial-agg
    * groupBy, the only pass that sees row count); PAV then runs on the
    * bounded point set. For continuous x the same code runs
    * per-partition on range-partitioned x and the driver merges the
    * surviving blocks — MLlib's parallel-PAV (IsotonicRegression
    * .scala:308); with 50 distinct quantities the partition step is
    * degenerate and the driver pass IS the fit.
    *
    * FULL value oracle via the max-min characterization
    * ŷ_i = max_{j≤i} min_{k≥i} avg(y, j..k) — O(points³) in DuckDB,
    * fine for a bounded point set, and every average is the same
    * exact-decimal ratio the PAV blocks carry. */
  def isotonicQuantityCurve(lineitem: DataFrame): Seq[(Double, Double, Long)] = {
    val pts = lineitem
      .groupBy(col("l_quantity").cast("double").as("x"))
      .agg(sum((col("l_extendedprice") / 1000.0).cast("decimal(18,6)")).as("sy"),
        count(lit(1)).as("w"))
      .orderBy("x")
      .collect()
      .map(r => (r.getDouble(0), BigDecimal(r.getDecimal(1)), r.getLong(2)))
      .toSeq
    pav(pts).zip(pts).map { case ((x, fit), (_, _, w)) => (x, fit, w) }
  }

  val rg03 = Q.sql(
    "rg03_isotonic",
    """WITH pts AS (
      |  SELECT CAST(l_quantity AS DOUBLE) AS x,
      |    sum(CAST(l_extendedprice / 1000.0 AS DECIMAL(18,6))) AS sy,
      |    count(*) AS w
      |  FROM lineitem GROUP BY 1),
      |idx AS (SELECT x, sy, w, row_number() OVER (ORDER BY x) AS rn FROM pts),
      |pre AS (
      |  SELECT rn, x, w,
      |    sum(sy) OVER (ORDER BY rn) AS cs,
      |    sum(w) OVER (ORDER BY rn) AS cw
      |  FROM idx),
      |avgs AS (
      |  SELECT j.rn AS j, k.rn AS k,
      |    CAST(k.cs - coalesce(jp.cs, 0) AS DOUBLE)
      |      / CAST(k.cw - coalesce(jp.cw, 0) AS DOUBLE) AS v
      |  FROM pre j JOIN pre k ON j.rn <= k.rn
      |  LEFT JOIN pre jp ON jp.rn = j.rn - 1),
      |mins AS (
      |  SELECT a.j, i.rn AS i, min(a.v) AS mv
      |  FROM avgs a JOIN pre i ON a.j <= i.rn AND a.k >= i.rn
      |  GROUP BY a.j, i.rn)
      |SELECT p.x, round(max(m.mv), 6) AS fit, p.w
      |FROM mins m JOIN pre p ON p.rn = m.i
      |GROUP BY p.x, p.w
      |ORDER BY p.x""".stripMargin) { (s, dir) =>
    import s.implicits._
    isotonicQuantityCurve(Tables.lineitem(s, dir))
      .map { case (x, fit, w) => (x, math.rint(fit * 1e6) / 1e6, w) }
      .toDF("x", "fit", "w")
      .orderBy("x")
  }

  // ----------------------------------------------------------------- lasso

  /** L1 regression via cyclic coordinate descent on the normal-equation
    * moments (reference mllib/regression/Lasso.scala:1 — trained there
    * by subgradient minibatch SGD; the d ≪ n Spark-first shape is
    * sharper): the SAME nine exact-decimal moments as [[ridge2]] are
    * collected in ONE distributed pass, then coordinate descent —
    * b_j ← soft(ρ_j/n, λ)/(X'X_jj/n), intercept unthresholded —
    * iterates DRIVER-side on the 3×3 system (the glmnet solver shape;
    * exact per-coordinate minimization, so it converges fast even when
    * the moments are ill-conditioned, unlike proximal gradient). Zero
    * extra cluster passes regardless of sweep count, bit-deterministic,
    * and the soft threshold yields EXACT zeros — the sparsity the L1
    * penalty exists for. Objective: (1/2n)·||y − Xb||² + λ·(|b1|+|b2|).
    */
  def lasso2(data: DataFrame, x1: Column, x2: Column, y: Column,
             lambda: Double, sweeps: Int): (Double, Double, Double) = {
    val d = (c: Column) => c.cast("decimal(18,6)")
    val row = data.select(d(x1).as("x1"), d(x2).as("x2"), d(y).as("y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"))
      .select(col("n").cast("double"), col("s1").cast("double"),
        col("s2").cast("double"), col("sy").cast("double"),
        col("s11").cast("double"), col("s12").cast("double"),
        col("s22").cast("double"), col("s1y").cast("double"),
        col("s2y").cast("double"))
      .head
    val Seq(n, s1, s2, sy, s11, s12, s22, s1y, s2y) =
      (0 until 9).map(row.getDouble)
    // X'X (with intercept col) and X'y
    val xtx = Array(
      Array(n, s1, s2), Array(s1, s11, s12), Array(s2, s12, s22))
    val xty = Array(sy, s1y, s2y)
    def soft(v: Double, t: Double) =
      if (v > t) v - t else if (v < -t) v + t else 0.0
    val b = Array(0.0, 0.0, 0.0)
    for (_ <- 0 until sweeps; j <- 0 until 3) {
      val rho = xty(j) - (0 until 3).collect { case k if k != j => xtx(j)(k) * b(k) }.sum
      b(j) =
        if (j == 0) rho / xtx(0)(0)
        else soft(rho / n, lambda) / (xtx(j)(j) / n)
    }
    (b(0), b(1), b(2))
  }

  /** Registered pass: lasso on rg01's axes with λ strong enough that
    * both (noise-level) slopes collapse to EXACT zeros and the
    * intercept carries the fit — the sparse-recovery behavior itself.
    *
    * FULL oracle via the KKT optimality conditions (the q30/q41 claim
    * pattern): coordinate descent's fixed point is certified by pure
    * arithmetic on the SAME nine exact-decimal moments DuckDB already
    * replays for rg01 — a zeroed coordinate needs |ρ_j|/n ≤ λ
    * (subgradient condition), an active one ρ_j/n − λ·sign(b_j) =
    * b_j·s_jj/n (stationarity), and the unpenalized intercept
    * b_0 = ρ_0/n. The entry emits the learned coefficients plus the
    * three flags computed IN-PLAN from a fresh moment aggregate with
    * the learned β as plan literals; DuckDB asserts the coefficients
    * (at this λ the unique fixed point is b₁=b₂=0, b₀=Σy/n — bitwise,
    * since the moments are exact decimal and both engines run the
    * identical double ops) and re-derives the identical flags from its
    * own moments. RegressionSpec still pins planted support recovery,
    * the exact-zero property, and λ→0 agreement with the ridge solve. */
  val rg04 = Q.audited(
    "rg04_lasso",
    """WITH m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
      |    CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(x1 * x1) AS DOUBLE) AS s11, CAST(sum(x1 * x2) AS DOUBLE) AS s12,
      |    CAST(sum(x2 * x2) AS DOUBLE) AS s22,
      |    CAST(sum(x1 * y) AS DOUBLE) AS s1y, CAST(sum(x2 * y) AS DOUBLE) AS s2y
      |  FROM (SELECT CAST(l_quantity AS DECIMAL(18,6)) AS x1,
      |               CAST(l_discount AS DECIMAL(18,6)) AS x2,
      |               CAST(l_extendedprice / 1000.0 AS DECIMAL(18,6)) AS y
      |        FROM lineitem))
      |SELECT round(sy / n, 6) AS b0, 0.0 AS b1, 0.0 AS b2,
      |  (abs((sy / n) * n - sy) <= 1e-9 * (abs(sy) + 1.0)) AS kkt_b0,
      |  (abs((s1y - s1 * (sy / n)) / n) <= 5.0) AS kkt_b1,
      |  (abs((s2y - s2 * (sy / n)) / n) <= 5.0) AS kkt_b2
      |FROM m""".stripMargin) { (s, dir, audit) =>
    val lambda = 5.0
    val li = Tables.lineitem(s, dir)
    val (b0, b1, b2) = lasso2(
      li, col("l_quantity"), col("l_discount"), col("l_extendedprice") / 1000.0,
      lambda = lambda, sweeps = 200)
    // the twin emits the coefficients of the one moment pass + driver
    // coordinate descent, with no second moment aggregate certifying KKT
    if (!audit) s.range(1).select(lit(b0).as("b0"), lit(b1).as("b1"), lit(b2).as("b2"))
    else {
      val dc = (c: Column) => c.cast("decimal(18,6)")
      val moments = li.select(
        dc(col("l_quantity")).as("x1"), dc(col("l_discount")).as("x2"),
        dc(col("l_extendedprice") / 1000.0).as("y"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x1")).cast("double").as("s1"), sum(col("x2")).cast("double").as("s2"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x1") * col("x1")).cast("double").as("s11"),
          sum(col("x1") * col("x2")).cast("double").as("s12"),
          sum(col("x2") * col("x2")).cast("double").as("s22"),
          sum(col("x1") * col("y")).cast("double").as("s1y"),
          sum(col("x2") * col("y")).cast("double").as("s2y"))
      // KKT flags in-plan: ρ_j with the learned β as literals; the Scala
      // branch picks which CONDITION applies (the coefficient is a plan-time
      // constant), the arithmetic all runs inside the plan
      def rho(sjy: Column, sj0: Column, sjk: Column, bk: Double): Column =
        (sjy - sj0 * lit(b0) - sjk * lit(bk)) / col("n")
      def kktSlope(bj: Double, r: Column, sjj: Column): Column =
        if (bj == 0.0) abs(r) <= lit(lambda)
        else abs(r - lit(lambda * math.signum(bj)) - lit(bj) * sjj / col("n")) <=
          lit(1e-9) * (abs(r) + 1.0)
      moments.select(
        lit(math.rint(b0 * 1e6) / 1e6).as("b0"),
        lit(math.rint(b1 * 1e6) / 1e6).as("b1"),
        lit(math.rint(b2 * 1e6) / 1e6).as("b2"),
        (abs(lit(b0) * col("n") - (col("sy") - col("s1") * lit(b1) - col("s2") * lit(b2))) <=
          lit(1e-9) * (abs(col("sy")) + 1.0)).as("kkt_b0"),
        kktSlope(b1, rho(col("s1y"), col("s1"), col("s12"), b2), col("s11")).as("kkt_b1"),
        kktSlope(b2, rho(col("s2y"), col("s2"), col("s12"), b1), col("s22")).as("kkt_b2"))
    }
  }

  // ------------------------------------------------------------------- svm

  /** Linear SVM by full-batch subgradient descent on the hinge loss
    * (reference mllib/classification/SVM.scala:1 — minibatch SGD there;
    * full-batch is exact and each step is still ONE bounded aggregate):
    * labels s ∈ {−1,+1}, step g_j = avg(1[s·β'x < 1]·(−s·x_j)) + λβ_j
    * (intercept unpenalized), current β as plan literals. Driver state
    * d+1 doubles — rg02's discipline with the hinge in place of the
    * sigmoid. */
  def svmHinge(feats: DataFrame, xCols: Seq[String], yCol: String,
               eta: Double, lambda: Double, iters: Int): Array[Double] = {
    val d = xCols.length
    val xs = lit(1.0) +: xCols.map(c => col(c).cast("double"))
    val data = LoopState.pin(feats.select(
      array(xs: _*).as("x"),
      (col(yCol).cast("double") * 2.0 - 1.0).as("s")),
      eager = false) // iteration 1's gradient agg materializes (r16)
    var beta = Array.fill(d + 1)(0.0)
    for (_ <- 0 until iters) {
      val margin = (0 to d).map(j => col("x")(j) * lit(beta(j))).reduce(_ + _)
      val active = (col("s") * margin) < 1.0
      val aggs = (0 to d).map(j =>
        sum(when(active, -col("s") * col("x")(j)).otherwise(0.0)).as(s"g$j"))
      val g = data.agg(count(lit(1)).as("n"), aggs: _*).head
      val n = g.getLong(0).toDouble
      beta = Array.tabulate(d + 1) { j =>
        val reg = if (j == 0) 0.0 else lambda * beta(j)
        beta(j) - eta * (g.getDouble(j + 1) / n + reg)
      }
    }
    beta
  }

  /** Registered pass: the SVM twin of rg02 on the same three
    * text-quality features. Same claim-flag upgrade as rg02: exact
    * (doc_id, lang) coverage plus `acc_ge_majority` (majority minus
    * the spec contract's 2%-of-n slack) certified from one in-plan
    * confusion aggregate over the learned decision function;
    * RegressionSpec pins planted max-margin recovery, determinism, the
    * decision surface, and the same floor independently (the synthetic
    * corpus is near-signal-free, see rg02). */
  val svm01 = langClassifier("svm01_linear_svm",
    svmHinge(_, langCols, "y", eta = 0.5, lambda = 0.01, iters = 40),
    _ >= 0.0, _.as("decision"))

  val all: Seq[Q] = Seq(rg01, rg02, rg03, rg04, svm01)
}
