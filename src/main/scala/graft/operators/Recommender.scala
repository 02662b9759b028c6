package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{LoopState, Q, Tables}
import graft.plans.GraftFunctions.doubleDot

/** SVD++ recommender factorization (reference graphx/src/main/scala/org/
  * apache/spark/graphx/lib/SVDPlusPlus.scala:1 — Koren's
  * "Factorization Meets the Neighborhood", KDD'08) re-expressed as
  * DataFrame iteration:
  *
  *   r̂(u,i) = μ + b_u + b_i + q_i · (p_u + |N(u)|^-1/2 Σ_{j∈N(u)} y_j)
  *
  * trained by full-batch mean-gradient descent (the [[Word2Vec]]
  * pattern). Everything stays DISTRIBUTED: user and item factor tables
  * are DataFrames keyed by id (the reference keeps them in graph
  * vertex attributes; MLlib's ALS does the same two-table layout), the
  * global mean rides as a 1-row broadcast, and each iteration is a
  * fixed set of key-equality joins + bounded aggregates:
  *
  *  - the implicit-feedback term Σ y_j is ONE join on item + one
  *    element-wise aggregate on user — and the y-gradient, which
  *    naively fans each rating out to ALL of its user's items
  *    (Σ_u |N(u)|² messages — the reference's Pregel send pattern),
  *    here folds to a per-user 1-row term g_u joined back along the
  *    rating edges: strictly LINEAR in |ratings|, the shape that
  *    survives a skewed power-user at 100 TB.
  *  - element-wise array math is zip_with/transform (codegen'd);
  *    arrays explode only inside the gradient aggregates and
  *    reassemble with sort_array(collect_list(struct(dim, v)))
  *    (deterministic).
  *
  * Init is hash-derived (word2vec's trick) so training is seeded
  * end-to-end; factors never touch the driver.
  */
object Recommender {

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Deterministic uniform(-0.5, 0.5)/dim init from (id, dim, salt). */
  private def initArr(id: Column, dim: Int, salt: Long): Column =
    transform(sequence(lit(0), lit(dim - 1)), j =>
      (pmod(xxhash64(id, j, lit(salt)), lit(100000L)).cast("double") / 100000.0 - 0.5)
        / dim)

  /** Reassemble an exploded (key, dimIdx, v) gradient into an array. */
  private def asArr(c: String): Column =
    transform(sort_array(collect_list(struct(col("p"), col(c)))), s => s.getField(c))

  /** The trained SVD++ SERVING state: user table (u, x, bu) with
    * x = p_u + w_u·Σ_{j∈N(u)} y_j already folded (the per-user implicit
    * profile is a training-set property, so serving needs no edge join),
    * item table (i, q, bi), and the 1-row global-mean frame. Prediction
    * is [[Recommender.svdPlusPlusPredict]]'s pure join + dot; the tables
    * are the persistence surface [[graft.ml.ModelIO.saveSvdpp]] writes.
    * All three frames are LAZY plans over the trainer's checkpointed
    * state — callers that only read `preds`/`sse` (r01) never pay for
    * them. */
  final case class SvdppModel(preds: DataFrame, sse: Seq[Double],
                              userX: DataFrame, itemQ: DataFrame, mu: DataFrame)

  /** Score (u, i, ...) pairs against a trained/loaded SVD++ model:
    * pred = μ + b_u + b_i + q_i·x_u. Inner joins — users/items unseen in
    * training drop out (cold-start is the caller's policy). */
  def svdPlusPlusPredict(pairs: DataFrame, userX: DataFrame,
                         itemQ: DataFrame, mu: DataFrame): DataFrame =
    pairs.join(userX, "u").join(itemQ, "i").crossJoin(broadcast(mu))
      .withColumn("pred",
        col("mu") + col("bu") + col("bi") + dot(col("q"), col("x")))
      .drop("x", "bu", "q", "bi", "mu")

  /** Per-user implicit profile w_u·Σ_{j∈N(u)} y_j (user-level table). */
  private def impProfile(r2: DataFrame, nu: DataFrame, iF: DataFrame): DataFrame =
    r2.join(iF.select(col("i"), col("y")), "i")
      .select(col("u"), posexplode(col("y")).as(Seq("p", "v")))
      .groupBy("u", "p").agg(sum("v").as("v"))
      .groupBy("u").agg(asArr("v").as("imp0"))
      .join(nu, "u")
      .select(col("u"), transform(col("imp0"), v => v * col("w")).as("imp"))

  /** Train SVD++ and return its [[SvdppModel]]: `preds` is (u, i, r,
    * pred) over the training edges; when `track` is set, `sse` holds the
    * training SSE measured on each iteration's scored frame (the err
    * column is already materialized there — one extra bounded aggregate
    * per iteration) with the final model's SSE appended: sse.head is the
    * SSE at init, sse.last the SSE of the returned predictions — the
    * descent claim [[r01]] certifies. An empty ratings frame trains to
    * empty tables with every measured SSE 0 (Σ over no ratings).
    *
    * The default lr=0.02 is the MEASURED-STABLE step on quantity-scale
    * ratings (residuals ~15): r01's sse_monotone certificate proved the
    * former default 0.05 diverges (SSE 1.7e6 → 1.5e27 over five
    * iterations at sf0.1), so a bare call now gets the configuration
    * the certificate validates; RecommenderSpec pins the diverging-lr
    * regression (tracked SSE at lr=0.05 breaks monotonicity — the
    * exact failure the certificate catches).
    *
    * @param ratings (u: long, i: long, r: double), unique per (u, i)
    */
  def svdPlusPlusModel(ratings: DataFrame, dim: Int = 8, iters: Int = 8,
                       lr: Double = 0.02, reg: Double = 0.05,
                       seed: Long = 42L, track: Boolean = true): SvdppModel = {
    val r2 = LoopState.pin(
      ratings.select(col("u"), col("i"), col("r").cast("double").as("r")), eager = true)
    val mu = r2.agg(avg("r").as("mu"))
    val nu = LoopState.pin(
      r2.groupBy("u").agg(pow(count(lit(1)).cast("double"), -0.5).as("w")), eager = true)

    var userF = LoopState.cut(r2.select("u").distinct()
      .select(col("u"), initArr(col("u"), dim, seed).as("p"), lit(0.0).as("bu")),
      eager = true)
    var itemF = LoopState.cut(r2.select("i").distinct()
      .select(col("i"), initArr(col("i"), dim, seed + 1).as("q"),
        initArr(col("i"), dim, seed + 2).as("y"), lit(0.0).as("bi")), eager = true)

    def scored(uF: DataFrame, iF: DataFrame): DataFrame = {
      val imp = impProfile(r2, nu, iF)
      r2.join(uF, "u").join(iF, "i").join(imp, "u").join(nu, "u")
        .crossJoin(broadcast(mu))
        .withColumn("x", zip_with(col("p"), col("imp"), (a, b) => a + b))
        .withColumn("pred",
          col("mu") + col("bu") + col("bi") + dot(col("q"), col("x")))
        .withColumn("err", col("r") - col("pred"))
    }

    val js = scala.collection.mutable.ArrayBuffer.empty[Double]
    def sse(f: DataFrame): Double =
      f.agg(coalesce(sum(pow(col("err"), 2)), lit(0.0))).head.getDouble(0)
    for (_ <- 1 to iters) {
      val s = LoopState.cut(scored(userF, itemF), eager = false)
      if (track) js += sse(s)
      // r16: the three user-keyed gradients (bias avg, p-gradient, the
      // y-gradient's per-user term) FUSE into one (u, p) aggregation —
      // they group the same exploded rows by the same keys, so the
      // former three shuffle chains (plus a re-join of nu for w, which
      // already rides `s`) collapse into one two-stage chain; the two
      // item-keyed gradients fuse the same way. The bias avg is read
      // from the p=0 cell (every p-cell of a user sees the same row
      // multiset), keeping one deterministic evaluation per key.
      val uAgg = s.select(col("u"), col("w"), col("err"),
          posexplode(col("q")).as(Seq("p", "qv")))
        .groupBy("u", "p").agg(avg(col("err") * col("qv")).as("g"),
          sum(col("err") * col("qv")).as("g0"),
          avg(col("err")).as("db0"), max(col("w")).as("w"))
        .groupBy("u").agg(asArr("g").as("dp"), asArr("g0").as("g1"),
          max(when(col("p") === 0, col("db0"))).as("db"),
          max(col("w")).as("w"))
      val iAgg = s.select(col("i"), col("err"),
          posexplode(col("x")).as(Seq("p", "xv")))
        .groupBy("i", "p").agg(avg(col("err") * col("xv")).as("g"),
          avg(col("err")).as("db0"))
        .groupBy("i").agg(asArr("g").as("dq"),
          max(when(col("p") === 0, col("db0"))).as("db"))
      // y-gradient: per-user term g_u = w_u · Σ_i err_ui·q_i, joined back
      // along the user's rating edges (LINEAR in |ratings|)
      val gU = uAgg.select(col("u"),
        transform(col("g1"), v => v * col("w")).as("gy"))
      val dY = r2.join(gU, "u")
        .select(col("i"), posexplode(col("gy")).as(Seq("p", "v")))
        .groupBy("i", "p").agg(avg("v").as("g"))
        .groupBy("i").agg(asArr("g").as("dy"))

      userF = LoopState.cut(userF.join(uAgg, Seq("u"), "left")
        .select(col("u"),
          when(col("dp").isNull, col("p")).otherwise(
            zip_with(col("p"), col("dp"), (p, g) => p + lit(lr) * (g - lit(reg) * p))).as("p"),
          (col("bu") + lit(lr) * (coalesce(col("db"), lit(0.0)) - lit(reg) * col("bu"))).as("bu")),
        eager = false)
      itemF = LoopState.cut(itemF.join(iAgg, Seq("i"), "left")
        .join(dY, Seq("i"), "left")
        .select(col("i"),
          when(col("dq").isNull, col("q")).otherwise(
            zip_with(col("q"), col("dq"), (q, g) => q + lit(lr) * (g - lit(reg) * q))).as("q"),
          when(col("dy").isNull, col("y")).otherwise(
            zip_with(col("y"), col("dy"), (y, g) => y + lit(lr) * (g - lit(reg) * y))).as("y"),
          (col("bi") + lit(lr) * (coalesce(col("db"), lit(0.0)) - lit(reg) * col("bi"))).as("bi")),
        eager = false)
    }
    val finS = scored(userF, itemF)
    val fin = if (track) { val c = LoopState.cut(finS, eager = false); js += sse(c); c } else finS
    // serving factors (lazy plans — only evaluated if the caller uses them)
    val userX = userF.join(impProfile(r2, nu, itemF), Seq("u"), "left")
      .select(col("u"),
        when(col("imp").isNull, col("p"))
          .otherwise(zip_with(col("p"), col("imp"), (a, b) => a + b)).as("x"),
        col("bu"))
    SvdppModel(fin.select(col("u"), col("i"), col("r"), col("pred")), js.toSeq,
      userX, itemF.select(col("i"), col("q"), col("bi")), mu)
  }

  /** The deterministic 200-smallest-customer co-purchase slice r01–r05
    * train on (scale-invariant cost, t05's registered-entry rule): one
    * (u, i, r) row per (customer, part) from orders⋈lineitem, `r` the
    * given aggregate over the pair's lines. With
    * `moments` it also carries the exact rating moments r_sum
    * (Σ l_quantity) and n (count) that [[sliceOracle]] re-derives. */
  private def ratingSlice(s: SparkSession, dir: String, rating: Column,
                          moments: Boolean): DataFrame = {
    val exact =
      if (moments) Seq(sum("l_quantity").cast("double").as("r_sum"), count(lit(1)).as("n"))
      else Nil
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_custkey") < 200)
      .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .agg(rating.as("r"), exact: _*)
  }

  /** Oracle of r01–r04: [[ratingSlice]]'s (u, i) edge set and exact
    * rating moments row-for-row, plus the entry's certificate `flags`
    * asserted as literal TRUE. */
  private def sliceOracle(flags: String): String =
    s"""WITH r AS (
      |  SELECT o_custkey AS u, l_partkey AS i,
      |         CAST(sum(l_quantity) AS DOUBLE) AS r_sum, count(*) AS n
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_custkey < 200
      |  GROUP BY 1, 2)
      |SELECT u, i, r_sum, n, $flags
      |FROM r ORDER BY u, i""".stripMargin

  /** The descent certificate over a measured objective sequence: every
    * step non-increasing up to a relative 1e-9 (summation-order noise)
    * plus the absolute `slack`. */
  private def monotone(js: Seq[Double], slack: Double): Boolean =
    js.nonEmpty && js.sliding(2).forall(p => p.length < 2 || p(1) <= p(0) * (1 + 1e-9) + slack)

  /** Registered pass: co-purchase ratings (customer, part, mean
    * quantity) from orders⋈lineitem, trained on the deterministic
    * 200-smallest-customer slice so cost is scale-invariant (t05's
    * registered-entry rule). Same claim-flag shape as [[r02]]: the
    * (u, i) training-edge set and the exact rating moments are
    * DuckDB-verified values, and `sse_monotone` certifies the training
    * SSE decreased at EVERY iteration (each measured as one bounded
    * aggregate on a scored frame the trainer materializes anyway).
    * Unlike r02's provably monotone alternating minimization, gradient
    * descent with a fixed step carries no guarantee — this is a
    * measured claim the driver re-checks every round, and it has
    * teeth: building it exposed that the previous lr=0.05 DIVERGED on
    * the real corpus at sf0.1 (SSE 1.7e6 → 1.5e27 in five iterations —
    * quantity-scale residuals ~15 make the p·q cross term overshoot),
    * which three rounds of rows-only checking never saw. lr=0.02 is
    * monotone at sf0.01 AND sf0.1 with a far better fit (sf0.1 final
    * SSE 0.49e6 vs the mean baseline's 1.69e6). RecommenderSpec pins
    * planted-structure recovery, seeded determinism, and the
    * prediction surface. */
  val r01 = Q.audited("r01_svdpp", sliceOracle("TRUE AS sse_monotone")) { (s, dir, audit) =>
    val pairs = ratingSlice(s, dir, avg("l_quantity"), moments = audit)
    // the twin trains with SSE tracking OFF (no per-iteration
    // measured-claim aggregate) and emits the scored predictions
    val m = svdPlusPlusModel(pairs.select("u", "i", "r"),
      dim = 8, iters = 5, lr = 0.02, track = audit)
    if (!audit) m.preds
    else pairs
      .select(col("u"), col("i"), col("r_sum"), col("n"),
        lit(monotone(m.sse, slack = 0.0)).as("sse_monotone"))
      .orderBy("u", "i")
  }

  /** Deterministic in-place Gaussian elimination with partial pivoting
    * for the dim×dim normal equations — the per-key bounded solve. */
  private def solveLinear(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    for (c <- 0 until n) {
      var piv = c
      for (r <- c + 1 until n) if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
      if (piv != c) {
        val t = a(c); a(c) = a(piv); a(piv) = t
        val tb = b(c); b(c) = b(piv); b(piv) = tb
      }
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        if (f != 0.0) {
          for (k <- c until n) a(r)(k) -= f * a(c)(k)
          b(r) -= f * b(c)
        }
      }
    }
    val x = new Array[Double](n)
    for (c <- n - 1 to 0 by -1) {
      var s = b(c)
      for (k <- c + 1 until n) s -= a(c)(k) * x(k)
      x(c) = s / a(c)(c)
    }
    x
  }

  /** The per-key normal-equations kernel every ALS variant solves (the
    * reference's one NormalEquation accumulator, ml/recommendation/
    * ALS.scala:453): over the group's partner-sorted (rating, factor)
    * rows, with (w, t) = `law(r)`,
    *
    *   (A0 + Σ w·qqᵀ + reg·n·I) x = Σ t·q,
    *
    * A0 the row-major dim² `a0` (zero when null), n the key's row count
    * (the ALS-WR weighted-λ ridge); solved by elimination, or by NNLS
    * warm-started from `x0` when `nonnegative`. The explicit law (1, r)
    * accumulates bit for bit what a plain Σqqᵀ / Σr·q kernel does:
    * (1.0·q_x)·q_y is exactly q_x·q_y, and a skipped zero target leaves
    * b unchanged (0·q is ±0 for a finite factor, and b, starting at
    * +0.0, is never −0.0, so adding ±0.0 to it is the identity). All
    * state is explicit parameters so executor lambdas calling it capture
    * nothing but `law`'s constants. */
  private[graft] def solveNormalEq(rows: Iterator[(Double, Seq[Double])],
                                   a0: Array[Double], x0: Array[Double], dim: Int,
                                   reg: Double, law: Double => (Double, Double),
                                   nonnegative: Boolean): Seq[Double] = {
    val a = Array.tabulate(dim, dim)((x, y) => if (a0 == null) 0.0 else a0(x * dim + y))
    val b = new Array[Double](dim)
    var n = 0
    rows.foreach { case (r, q) =>
      n += 1
      val (w, t) = law(r)
      var x = 0
      while (x < dim) {
        val wqx = w * q(x)
        var y = 0
        while (y < dim) { a(x)(y) += wqx * q(y); y += 1 }
        if (t != 0.0) b(x) += t * q(x)
        x += 1
      }
    }
    var d = 0
    while (d < dim) { a(d)(d) += reg * n; d += 1 }
    (if (nonnegative) graft.ml.NNLS.solve(a, b, x0)
     else solveLinear(a, b)).toSeq
  }

  /** The explicit-feedback law of [[solveNormalEq]]: weight 1, target r. */
  private val explicitLaw: Double => (Double, Double) = r => (1.0, r)

  /** The implicit-feedback law of [[solveNormalEq]] (Hu, Koren &
    * Volinsky, "Collaborative Filtering for Implicit Feedback Datasets",
    * ICDM'08 — the reference's NormalEquation addImplicit,
    * ml/recommendation/ALS.scala:453): confidence c = 1 + α·|r| (the
    * reference's |r| extension for r < 0), weight c − 1 on top of the
    * shared Gramian, target c when the preference is 1 (r > 0), else 0. */
  private[graft] def implicitLaw(alpha: Double): Double => (Double, Double) = { r =>
    val c = 1.0 + alpha * math.abs(r)
    (c - 1.0, if (r > 0) c else 0.0)
  }

  /** Score (u, i, ...) pairs against ALS factor tables (u, f) / (i, f):
    * pred = p·q — a pure join + codegen dot, the serving path for
    * factors loaded back via [[graft.ml.ModelIO]]. */
  def alsPredict(pairs: DataFrame, userF: DataFrame, itemF: DataFrame): DataFrame =
    pairs.join(userF.select(col("u"), col("f").as("p")), "u")
      .join(itemF.select(col("i"), col("f").as("q")), "i")
      .withColumn("pred", dot(col("p"), col("q")))
      .drop("p", "q")

  /** Bulk top-N recommendation serving over the full catalog (reference
    * mllib/recommendation/MatrixFactorizationModel.scala:116
    * `recommendProducts`, generalized to every user at once — the
    * batch-serving surface of the factor tables [[alsFactors]] trains and
    * [[graft.ml.ModelIO.saveAlsFactors]] persists): for every user in
    * `userF`, the k best catalog items by factor dot product.
    *
    * Scale shape: the CATALOG side broadcasts (|catalog|·dim doubles —
    * model-sized, the reference blockifies for the same reason; it must
    * never cartesian-MATERIALIZE), so scoring is one broadcast
    * nested-loop expansion whose per-pair cost is a single native
    * codegen `double_dot`. Per-user exact top-k runs through the native
    * [[graft.plans.TopK]] operator: a map-side partial heap cuts each
    * partition to k rows per user BEFORE the one planned exchange, so
    * the shuffle carries O(k·|users|) rows, never users × catalog.
    * Ranking is on the 6dp-ROUNDED score with an id-asc tiebreak (t06's
    * rule: a last-ulp dot-product difference between runs or engines
    * cannot flip an order); `score` in the output is that rounded
    * value, `+ 0.0`-normalized so a −0.0 dot cannot split engines.
    *
    * @return (u, i, score, rk) — rk in 1..min(k, |catalog|), rows
    *         already unique per (u, rk) */
  def recommendProducts(userF: DataFrame, itemF: DataFrame, k: Int): DataFrame =
    topKByDot(userF.select(col("u"), col("f")),
      itemF.select(col("i"), col("f")), "u", "i", k)

  /** [[recommendProducts]] transposed (reference
    * MatrixFactorizationModel.scala:132 `recommendUsers`): the k best
    * USERS per catalog item — audience selection. Same plan shape with
    * the user side broadcast, so it expects |users| model-sized.
    *
    * @return (i, u, score, rk) */
  def recommendUsers(userF: DataFrame, itemF: DataFrame, k: Int): DataFrame =
    topKByDot(itemF.select(col("i"), col("f")),
      userF.select(col("u"), col("f")), "i", "u", k)

  /** Shared serving kernel: per `keyCol` row, top-k `candCol` rows by
    * rounded factor dot product with candidate-id tiebreak. The
    * candidate side is the broadcast one. */
  private def topKByDot(keys: DataFrame, cands: DataFrame,
                        keyCol: String, candCol: String, k: Int): DataFrame = {
    val scored = keys.select(col(keyCol), col("f").as("_p"))
      .crossJoin(broadcast(cands.select(col(candCol), col("f").as("_q"))))
      .select(col(keyCol), col(candCol),
        (round(doubleDot(col("_p"), col("_q")), 6) + 0.0)
          .as("score"))
    val top = graft.plans.TopK.perKey(scored, keyCol, "score", candCol, k)
    // rank within the kept k rows only — the window input is already
    // hash-partitioned on the key by TopK's exchange, so no new shuffle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("score").desc, col(candCol))
    top.withColumn("rk", row_number().over(w))
  }

  /** The one ALS trainer every variant runs (the reference trains
    * explicit and implicit ALS through one computeFactors loop): item
    * factors start at `init`; each round solves the users against the
    * fixed items, then the items against the new users, and with
    * `track` measures the objective J after the full round.
    *
    * A half-round is ONE key-equality join (ratings ⋈ fixed side) + ONE
    * groupBy assembling each key's row list natively
    * (sort_array(collect_list(struct(partner, r, f))) keeps the
    * pre-solve pipeline in codegen and partial-aggregates the lists
    * map-side, with no Dataset encoder around the exchange), then one
    * typed map into [[solveNormalEq]] — the genuinely per-key
    * sequential kernel (t07's rule), bounded at dim² per rating + dim³
    * per key, never corpus-sized. Factors live in two distributed
    * id-keyed tables (MLlib's layout) and never touch the driver.
    * sort_array orders the structs lexicographically, partner first, so
    * every key's float summation order — and therefore the whole
    * trainer — is bit-deterministic; equal structs (a repeated (u, i)
    * row) sort alike.
    *
    * A variant is only its arguments:
    *  - `gram`: the kernel starts from the fixed side's Gramian
    *    ([[gramian]], one bounded collect per half-round) instead of
    *    zero, and J gains the unobserved pairs' ⟨G_X, G_Y⟩_F; a tracked
    *    fit's objective collects G_Y of the same item table the next
    *    user half-round solves against, so that half-round reuses it;
    *  - `law`: a rating's (weight, target) in the kernel;
    *  - `nonnegative`: NNLS warm-started from the solving side's
    *    previous factors instead of elimination (joined AFTER the
    *    aggregation: one row per key, never riding the exchange);
    *  - `loss`: J's per-rating term over the columns r and xy = p·q, to
    *    which J adds reg·(‖p_u‖² + ‖q_i‖²) per rating. Σ over no ratings
    *    is 0, so an empty ratings frame measures J = 0. */
  private def alsLoop(ratings: DataFrame, dim: Int, iters: Int, reg: Double,
                      track: Boolean, init: Column, gram: Boolean,
                      law: Double => (Double, Double), nonnegative: Boolean,
                      loss: Column): (DataFrame, DataFrame, Seq[Double]) = {
    val spark = ratings.sparkSession
    import spark.implicits._
    val r2 = LoopState.pin(ratings.select(col("u"), col("i"), col("r").cast("double").as("r")),
      eager = false) // the item init cut below materializes (r16)
    def start(fixed: DataFrame): Array[Double] = if (gram) gramian(fixed, dim) else null

    def halfRound(fixed: DataFrame, fixedKey: String, solveKey: String,
                  a0: Array[Double], prev: Option[DataFrame]): DataFrame = {
      val (d0, r0, law0, nn0) = (dim, reg, law, nonnegative) // plain captures, not `this`
      val rows = r2.join(fixed, fixedKey).groupBy(col(solveKey)).agg(
        sort_array(collect_list(struct(
          col(fixedKey).as("_1"), col("r").as("_2"), col("f").as("_3"))))
          .as("_rows"))
      prev.fold(rows.withColumn("_f0", lit(null).cast("array<double>")))(p =>
          rows.join(p.select(col(solveKey), col("f").as("_f0")), Seq(solveKey), "left"))
        .as[(Long, Seq[(Long, Double, Seq[Double])], Option[Seq[Double]])]
        .map { case (key, rs, f0) =>
          (key, Recommender.solveNormalEq(rs.iterator.map(t => (t._2, t._3)),
            a0, f0.map(_.toArray).orNull, d0, r0, law0, nn0))
        }
        .toDF(solveKey, "f")
    }

    /** J after a full round, with the item Gramian G_Y it collected
      * (null without `gram`): the next user half-round starts from it. */
    def objective(uF: DataFrame, iF: DataFrame, gX: Array[Double]): (Double, Array[Double]) = {
      val gY = start(iF)
      var dense = 0.0
      if (gram) {
        var k = 0
        while (k < gX.length) { dense += gX(k) * gY(k); k += 1 }
      }
      // xy staged as an attribute: composing the dot Column directly
      // would inline the aggregate HOF into both consumers (t10 lesson)
      (dense + r2.join(uF.select(col("u"), col("f").as("p")), "u")
        .join(iF.select(col("i"), col("f").as("q")), "i")
        .withColumn("xy", dot(col("p"), col("q")))
        .agg(coalesce(sum(loss +
          lit(reg) * (dot(col("p"), col("p")) + dot(col("q"), col("q")))), lit(0.0)))
        .head.getDouble(0), gY)
    }

    val js = scala.collection.mutable.ArrayBuffer.empty[Double]
    var itemF = LoopState.cut(r2.select("i").distinct()
      .select(col("i"), init.as("f")), eager = true)
    var userF: DataFrame = null
    // the item Gramian the last objective collected from this itemF
    var itemGram: Array[Double] = null
    for (_ <- 1 to iters) {
      userF = LoopState.cut(halfRound(itemF, "i", "u", Option(itemGram).getOrElse(start(itemF)),
        Option(userF).filter(_ => nonnegative)), eager = false)
      val gX = start(userF)
      itemF = LoopState.cut(halfRound(userF, "u", "i", gX,
        Some(itemF).filter(_ => nonnegative)), eager = false)
      itemGram = if (!track) null else {
        val (j, gY) = objective(userF, itemF, gX)
        js += j
        gY
      }
    }
    (userF, itemF, js.toSeq)
  }

  /** Alternating least squares (reference mllib/src/main/scala/org/
    * apache/spark/mllib/recommendation/ALS.scala:1), returning the
    * distributed FACTOR TABLES (u, f: array<double>) / (i, f) — the
    * reference MatrixFactorizationModel's state (mllib/recommendation/
    * MatrixFactorizationModel.scala:1) and the persistence surface
    * [[graft.ml.ModelIO.saveAlsFactors]] writes; [[alsPredict]] scores
    * them. Each half-round of [[alsLoop]] solves every key's dim×dim
    * normal equations (Σ qqᵀ + λ·n_u·I) p = Σ r·q — the ALS-WR
    * weighted-λ form the reference implements.
    *
    * With `track`, the third value is the ALS-WR regularized objective
    * J = Σ_ratings [(r − p·q)² + reg·(‖p_u‖² + ‖q_i‖²)] after every FULL
    * round — ONE bounded join+agg each (each half-round is an exact
    * normal-equations solve, so J is non-increasing at every half-step
    * and therefore across any composition of them; measuring per
    * half-round would double the job count for the same guarantee). The
    * sequence is provably non-increasing — the claim [[r02]] certifies.
    *
    * `nonnegative` (reference ALS.scala:78-79,154 `setNonnegative`)
    * initializes in the feasible cone (|init|, the reference's
    * abs-of-random convention, so round 1's item warm start is
    * clamp-free) and solves each key by NNLS warm-started from that
    * side's previous factors — what keeps the constrained half-round
    * non-increasing: coordinate descent only ever improves on its start,
    * so J(new) <= J(old) even if the sweep budget stops short of the
    * exact constrained optimum.
    *
    * @param ratings (u: long, i: long, r), ONE row per (u, i) — every
    *                ALS trainer here assumes unique pairs (the registered
    *                entries aggregate per (u, i) first); a repeated pair
    *                is not rejected, it enters its keys' normal
    *                equations once per copy
    */
  def alsFactors(ratings: DataFrame, dim: Int = 8, iters: Int = 5,
                 reg: Double = 0.1, seed: Long = 42L,
                 track: Boolean = false,
                 nonnegative: Boolean = false): (DataFrame, DataFrame, Seq[Double]) = {
    val init = initArr(col("i"), dim, seed)
    alsLoop(ratings, dim, iters, reg, track,
      if (nonnegative) transform(init, v => abs(v)) else init,
      gram = false, explicitLaw, nonnegative, pow(col("r") - col("xy"), 2))
  }

  /** Registered ALS pass over the same deterministic 200-customer
    * co-purchase slice as r01 (scale-invariant cost, t05's rule).
    * The factors are engine-local float iteration, but the entry
    * carries the claim-flag pattern: the (u, i) training-edge set and
    * the exact rating moments (Σ l_quantity, count) are values DuckDB
    * re-derives row-for-row, and `monotone_obj` certifies the ALS-WR
    * regularized objective measured after every FULL round never
    * increased — PROVABLE, since each half-round solves its side's
    * normal equations exactly (alternating exact minimization; J is
    * non-increasing at every half-step, so any composition of them is
    * too — measuring per round halves the job count for the same
    * guarantee).
    * RecommenderSpec pins planted exact-low-rank recovery, that ALS
    * out-fits r01's gradient trainer on its own objective, seeded
    * determinism, and the prediction surface. */
  val r02 = Q.audited("r02_als", sliceOracle("TRUE AS monotone_obj")) { (s, dir, audit) =>
    val pairs = ratingSlice(s, dir, avg("l_quantity"), moments = audit)
    // the twin runs alternating minimization with objective tracking OFF
    // (no per-round measured-claim join+agg) and emits the predictions
    val ratings = pairs.select("u", "i", "r")
    val (userF, itemF, js) = alsFactors(ratings, dim = 8, iters = 5, track = audit)
    if (!audit) alsPredict(ratings, userF, itemF).select("u", "i", "r", "pred")
    else pairs
      .select(col("u"), col("i"), col("r_sum"), col("n"),
        lit(monotone(js, slack = 1e-9)).as("monotone_obj"))
      .orderBy("u", "i")
  }

  /** Registered NONNEGATIVE ALS pass (reference ALS.scala:78-79,154
    * `setNonnegative` + the NNLS solver it routes each per-key system
    * through, mllib/optimization/NNLS.scala:1) on r02's deterministic
    * 200-customer co-purchase slice. r02's claim-oracle pattern plus
    * the mode's OWN provable flag:
    *
    *  - edge set and exact rating moments (Σ l_quantity, count):
    *    DuckDB re-derives row-for-row;
    *  - `monotone_obj`: the ALS-WR objective measured after every full
    *    round never increased — PROVABLE here even at a finite sweep
    *    budget, because each half-round's NNLS warm-starts from that
    *    side's previous factors and coordinate descent only ever
    *    improves on its start;
    *  - `all_nonneg`: every entry of BOTH factor tables is >= 0 — the
    *    constraint the mode exists for, checked over the actual
    *    trained state (two bounded array_min aggregates).
    *
    * RecommenderSpec pins planted nonnegative low-rank recovery and the
    * NNLS kernel's KKT conditions. */
  val r03 = Q.audited("r03_als_nonneg",
      sliceOracle("TRUE AS monotone_obj, TRUE AS all_nonneg")) { (s, dir, audit) =>
    val pairs = ratingSlice(s, dir, avg("l_quantity"), moments = audit)
    val ratings = pairs.select("u", "i", "r")
    // the twin runs constrained alternating minimization with objective
    // tracking OFF and emits the predictions
    val (userF, itemF, js) = alsFactors(ratings, dim = 8, iters = 5,
      track = audit, nonnegative = true)
    if (!audit) alsPredict(ratings, userF, itemF).select("u", "i", "r", "pred")
    else {
      def minEntry(f: DataFrame): Double =
        f.agg(min(array_min(col("f")))).head.getDouble(0)
      val allNonneg = minEntry(userF) >= 0.0 && minEntry(itemF) >= 0.0
      pairs
        .select(col("u"), col("i"), col("r_sum"), col("n"),
          lit(monotone(js, slack = 1e-9)).as("monotone_obj"),
          lit(allNonneg).as("all_nonneg"))
        .orderBy("u", "i")
    }
  }

  /** Gramian Σ f fᵀ of a factor table as a row-major dim² driver array
    * — the BOUNDED shared state each implicit half-round broadcasts (the
    * reference's computeYtY, ml/recommendation/ALS.scala:1111): the
    * [[Matrices.upperTriangle]] kernel's dim(dim+1)/2 cells, mirrored
    * (x·y and y·x are the same double), collected regardless of corpus
    * size. */
  private def gramian(f: DataFrame, dim: Int): Array[Double] =
    Matrices.symmetric(dim,
      Matrices.triangleCells(Matrices.upperTriangle(f, col("f"))(sum))).flatten

  /** Implicit-feedback ALS trainer (reference trainImplicit,
    * mllib/recommendation/ALS.scala:338; setImplicitPrefs/setAlpha at
    * :130,138) returning the factor tables plus, when `track` is set,
    * the confidence-weighted objective after every FULL round.
    *
    * The dense per-key system ranges over ALL items, but decomposes as
    * the SHARED Gramian G = ΣyyᵀY (identical for every key — a bounded
    * dim² array) plus corrections from the key's OBSERVED edges only,
    * which is [[alsLoop]] with the Gramian start and [[implicitLaw]]:
    *
    *   (G + Σ_obs (c−1)·qqᵀ + λ·n·I) x = Σ_obs[r>0] c·q,
    *   c = 1 + α·|r|,  preference p = 1 iff r > 0.
    *
    * λ·n (n = the key's observed-edge count) is graft's ALS-WR
    * weighting, as in [[alsFactors]] — a documented delta from the
    * reference's λ·(total factor count) quirk; it is the regularizer the
    * monotone-objective certificate is proved against. The objective
    *
    *   J(X,Y) = Σ_u Σ_i c_ui (p_ui − x_u·y_i)²
    *          + λ (Σ_u n_u‖x_u‖² + Σ_i n_i‖y_i‖²),
    *
    * c_ui = 1 and p_ui = 0 off the observed edges, ranges over every
    * (user, item) pair, but measures EXACTLY with bounded work via
    * Σ_u Σ_i (x_u·y_i)² = ⟨G_X, G_Y⟩_F (a dim² Frobenius dot of the two
    * Gramians) plus observed-edge corrections — one join + one
    * aggregate:
    *
    *   J = ⟨G_X, G_Y⟩_F
    *     + Σ_obs [c·(p − x·y)² − (x·y)² + λ(‖x_u‖² + ‖y_i‖²)].
    *
    * Each half-round solves its side's per-key system EXACTLY, so J is
    * non-increasing at every half-step — the same
    * alternating-exact-minimization argument as [[r02]], extended to the
    * weighted objective (the ALS-WR argument the r14 verdict cites): the
    * provable certificate [[r04]] carries. */
  def alsImplicitFactors(ratings: DataFrame, dim: Int = 8, iters: Int = 5,
                         reg: Double = 0.1, alpha: Double = 1.0,
                         seed: Long = 42L, track: Boolean = false)
      : (DataFrame, DataFrame, Seq[Double]) = {
    val c = lit(1.0) + lit(alpha) * abs(col("r"))
    val pref = when(col("r") > 0, lit(1.0)).otherwise(lit(0.0))
    alsLoop(ratings, dim, iters, reg, track, initArr(col("i"), dim, seed + 1),
      gram = true, implicitLaw(alpha), nonnegative = false,
      c * pow(pref - col("xy"), 2) - pow(col("xy"), 2))
  }

  /** Registered IMPLICIT-feedback ALS pass (reference trainImplicit,
    * ALS.scala:338) — the Hu-Koren-Volinsky confidence-weighted
    * factorization over implicit interactions DERIVED FROM ORDER
    * EVENTS: on r02's deterministic 200-customer slice, the implicit
    * "rating" is the (customer, part) interaction count (how many
    * lineitems — a purchase-frequency signal, the canonical implicit
    * input), never an explicit score. r02's claim-oracle pattern:
    *
    *  - the (u, i) edge set and exact interaction moments
    *    (Σ l_quantity, count): DuckDB re-derives row-for-row;
    *  - `monotone_obj`: the confidence-weighted objective J measured
    *    after every full round never increased — PROVABLE, because
    *    each half-round solves its side's dense normal equations
    *    exactly (alternating exact minimization on the weighted
    *    objective; the Σ-over-all-pairs term is measured exactly via
    *    the Gramian Frobenius identity, see [[alsImplicitFactors]]).
    *
    * RecommenderSpec pins observed-above-unobserved ranking on a
    * planted interaction matrix, confidence monotonicity in α, seeded
    * determinism, and the kernel against a driver-side dense solve. */
  val r04 = Q.audited("r04_als_implicit", sliceOracle("TRUE AS monotone_obj")) {
      (s, dir, audit) =>
    val pairs = ratingSlice(s, dir, count(lit(1)).cast("double"), moments = audit)
    val ratings = pairs.select("u", "i", "r")
    val (userF, itemF, js) = alsImplicitFactors(ratings, dim = 8, iters = 5,
      track = audit)
    // the twin tracks no objective and emits the preference scores x·y
    // over the training edges (the serving surface)
    if (!audit) alsPredict(ratings, userF, itemF)
    else pairs
      .select(col("u"), col("i"), col("r_sum"), col("n"),
        lit(monotone(js, slack = 1e-9)).as("monotone_obj"))
      .orderBy("u", "i")
  }

  /** Registered top-N serving pass (r16 — reference
    * MatrixFactorizationModel.scala:116 recommendProducts parity in
    * bulk): train r02's configuration on the deterministic
    * 200-customer slice, then serve every user's top-3 catalog items
    * through [[recommendProducts]] — broadcast catalog, native
    * double_dot scoring, map-side-partial TopKPerKey.
    *
    * The claim-oracle pattern with an INDEPENDENT exact recount: the
    * user set, per-user rating counts and the catalog size are values
    * DuckDB re-derives row-for-row, and `topk_exact` certifies that
    * the served (u, i, score, rk) set equals — both directions of
    * exceptAll empty — a declarative re-derivation that shares NO
    * mechanism with the serving path: interpreted HOF dot (vs the
    * native codegen expression) ranked by a row_number window over the
    * full cross product (vs the bounded-heap partial/final operator).
    * The dot arithmetic is bit-identical by construction (same
    * left-fold op order, DoubleDotSpec pins it), so the equality is
    * exact, not toleranced. The raw scores stay engine-local (trained
    * float state, like every factor-model entry); RecommenderSpec pins
    * the serving surface against a driver-side brute force. */
  val r05 = Q.audited(
    "r05_als_recommend",
    """WITH r AS (
      |  SELECT o_custkey AS u, l_partkey AS i
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_custkey < 200
      |  GROUP BY 1, 2),
      |users AS (SELECT u, count(*) AS n_rated FROM r GROUP BY u),
      |cat AS (SELECT count(DISTINCT i) AS n_candidates FROM r)
      |SELECT u, CAST(k AS INT) AS rk, n_rated, n_candidates,
      |       TRUE AS topk_exact
      |FROM users, cat, range(1, 4) t(k)
      |WHERE k <= n_candidates
      |ORDER BY u, rk""".stripMargin) { (s, dir, audit) =>
    val pairs = ratingSlice(s, dir, avg("l_quantity"), moments = false)
    val (userF, itemF, _) = alsFactors(pairs.select("u", "i", "r"),
      dim = 8, iters = 5)
    val top = recommendProducts(userF, itemF, k = 3)
    // the twin trains and serves, with no recount cross product
    if (!audit) top
    else {
      // independent recount: HOF dot + full-cross-product window ranking
      val hofScored = userF.select(col("u"), col("f").as("_p"))
        .crossJoin(broadcast(itemF.select(col("i"), col("f").as("_q"))))
        .select(col("u"), col("i"),
          (round(dot(col("_p"), col("_q")), 6) + 0.0).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("score").desc, col("i"))
      val windowed = hofScored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("u", "i", "score", "rk")
      val served = top.select("u", "i", "score", "rk")
      // r16: ONE signed-multiplicity pass replaces the two exceptAll
      // directions (A ≡ B as multisets ⟺ every (row → +1/−1) group sums
      // to zero — the same predicate, one shuffle + take(1) instead of
      // two anti-join jobs), which also lets the 600-row window recount
      // stay an unmaterialized plan consumed exactly once.
      val topkExact = served.withColumn("_s", lit(1L))
        .unionByName(windowed.withColumn("_s", lit(-1L)))
        .groupBy("u", "i", "score", "rk").agg(sum("_s").as("_d"))
        .filter(col("_d") =!= 0L)
        .isEmpty
      val nCand = itemF.count()
      top.select(col("u"), col("rk"))
        .join(pairs.groupBy("u").agg(count(lit(1)).as("n_rated")), "u")
        .select(col("u"), col("rk"), col("n_rated"),
          lit(nCand).as("n_candidates"), lit(topkExact).as("topk_exact"))
        .orderBy("u", "rk")
    }
  }

  val all: Seq[Q] = Seq(r01, r02, r03, r04, r05)
}
