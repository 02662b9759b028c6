package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{LoopState, Q, Tables}
import graft.plans.GraftFunctions.{floatCosine, floatDot}

/** Embedding clustering — distributed spherical k-means over the
  * `embeddings` table (SURVEY.md §2.4): semantic bucketing for
  * training-data pipelines (dedup within topic, stratified sampling,
  * diversity filtering).
  *
  * Re-expresses the reference's MLlib KMeans
  * (mllib/src/main/scala/org/apache/spark/mllib/clustering/KMeans.scala:1)
  * as DataFrame aggregation with Lloyd's iterations driven from the
  * driver: centroids are k×dim doubles living on the driver, shipped to
  * executors as plan literals each iteration (MLlib broadcasts the same
  * array). Assignment is a single codegen'd map stage — one native
  * [[graft.plans.FloatCosine]] per centroid per row — and the centroid
  * update is one shuffle whose output is bounded by k×dim, never by row
  * count. That per-iteration shape (map + tiny agg) is exactly what
  * scales to 100 TB; nothing driver-side grows with the corpus.
  *
  * Cosine assignment is scale-invariant in the centroid, so per-cluster
  * unnormalized means serve directly as spherical centroids. Seeding is
  * k-means|| ([[Embeddings.kmeansParallelSeeds]]) with hash-derived coin
  * flips, so init, like the fixed iteration count, is fully
  * reproducible without driver-side randomness.
  */
object Embeddings {

  /** Cluster id per row: argmax over cosine(embedding, centroid_j),
    * ties to the larger j (deterministic struct ordering). */
  private def withCluster(base: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    if (centroids.length == 1) return base.withColumn("cluster", lit(0))
    val scored: Seq[Column] = centroids.toIndexedSeq.zipWithIndex.map { case (c, j) =>
      struct(
        floatCosine(col("embedding"), typedlit(c.toSeq)).as("s"),
        lit(j).as("c"))
    }
    base.withColumn("cluster", greatest(scored: _*).getField("c"))
  }

  /** Assign rows to FIXED centers (e.g. loaded back via
    * [[graft.ml.ModelIO.loadKMeans]]): (vec_id, cluster) — the same
    * codegen argmax the trainer's final pass uses, map-only. */
  def assignToCenters(emb: DataFrame, centers: Array[Array[Float]]): DataFrame =
    withCluster(emb.select(col("vec_id"), col("embedding")), centers)
      .select(col("vec_id"), col("cluster"))

  private def maxSim(centers: Array[Array[Float]]): Column = {
    val sims = centers.toIndexedSeq.map(c =>
      floatCosine(col("embedding"), typedlit(c.toSeq)))
    if (sims.length == 1) sims.head else greatest(sims: _*)
  }

  private def cosSim(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** k-means|| seeding (Bahmani et al., "Scalable K-Means++", VLDB'12 —
    * the init MLlib's KMeans uses, KMeans.scala initKMeansParallel),
    * re-expressed over DataFrames and made fully deterministic:
    *
    *  1. seed with the smallest-vec_id vector;
    *  2. for each round, every point joins the candidate set
    *     independently with probability min(1, l·cost(x)/Σcost) where
    *     cost = 1 − cosine to the nearest current candidate and l = 2k.
    *     The "coin flip" is a hash of (vec_id, round), so the sample is
    *     reproducible and needs no driver-side randomness;
    *  3. candidates (≈ l per round, NOT corpus-sized) come to the
    *     driver, get weighted by how many points each is closest to
    *     (one distributed pass), and a greedy weighted D² selection
    *     reduces them to k spread seeds.
    *
    * Unlike first-k init, the seeds land in distinct dense regions even
    * when small vec_ids all share one region — the failure mode that
    * makes naive init collapse clusters. Each round is one codegen'd
    * map + a 1-row agg; driver state is O(k·dim). */
  def kmeansParallelSeeds(base: DataFrame, k: Int, rounds: Int = 2): Array[Array[Float]] = {
    val l = 2 * k
    var centers: Array[Array[Float]] = base.orderBy("vec_id").limit(1)
      .collect().map(_.getSeq[Float](1).toArray)
    for (r <- 1 to rounds) {
      val withCost = base.withColumn("cost", lit(1.0) - maxSim(centers))
      val total = math.max(
        withCost.agg(sum("cost")).head.getDouble(0), 1e-12)
      val draw = (abs(xxhash64(col("vec_id"), lit(r))) % 1000000007L)
        .cast("double") / lit(1000000007.0)
      val picked = withCost
        .filter(draw < least(lit(1.0), lit(l.toDouble) * col("cost") / lit(total)))
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      centers = centers ++ picked
    }
    if (centers.length < k) {
      // degenerate corpus (near-zero costs everywhere): pad with the k
      // smallest vec_ids so downstream always has k seeds
      centers = (centers ++ base.orderBy("vec_id").limit(k)
        .collect().map(_.getSeq[Float](1).toArray)).take(math.max(k, centers.length))
    }
    // weight candidates by closest-point counts
    val w = Array.fill(centers.length)(0L)
    withCluster(base, centers).groupBy("cluster").count().collect()
      .foreach(r => w(r.getInt(0)) = r.getLong(1))
    // greedy weighted D² reduction to k, deterministic tie-break on index
    val sel = scala.collection.mutable.ArrayBuffer(
      w.indices.maxBy(i => (w(i), -i.toLong)))
    while (sel.size < k) {
      val next = centers.indices.filterNot(sel.contains).maxBy { i =>
        val d = 1.0 - sel.map(j => cosSim(centers(i), centers(j))).max
        (w(i) * d, -i.toLong)
      }
      sel += next
    }
    sel.map(centers).toArray
  }

  /** Lloyd's spherical k-means seeded by [[kmeansParallelSeeds]]:
    * returns (final centroids, assignment (vec_id, cluster)). */
  def kmeansModel(emb: DataFrame, k: Int, iters: Int): (Array[Array[Float]], DataFrame) = {
    require(k >= 2, "k-means needs k >= 2")
    val base = emb.select(col("vec_id"), col("embedding"))
    var centroids = kmeansParallelSeeds(base, k)
    val dim = centroids.head.length
    for (_ <- 1 to iters) {
      // per-dimension means, k×dim rows back to the driver
      val sums = withCluster(base, centroids)
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(avg("x").as("m"))
        .collect()
      val next = Array.tabulate(k)(j => centroids(j).clone()) // empty clusters keep their centroid
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      centroids = next
    }
    (centroids, withCluster(base, centroids).select(col("vec_id"), col("cluster")))
  }

  /** Lloyd's spherical k-means assignment: (vec_id, cluster). */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansModel(emb, k, iters)._2

  /** k=8 spherical k-means over the embeddings table.
    *
    * FULL oracle via the assignment-optimality claim (the q30/q41
    * pattern): every vector's cluster must be the argmax of cosine
    * similarity over the k EMITTED centroids. The flag is computed
    * IN-PLAN by an INDEPENDENT formulation — HOF zip_with/aggregate
    * cosine with double accumulation against the same centroid
    * literals — so a bug in the native float_cosine codegen, the
    * greatest-struct argmax, or the trainer's final assignment pass
    * surfaces as a FALSE (1e-6 absorbs float-vs-double accumulation
    * noise); DuckDB asserts the claim as literal TRUE per vec_id.
    * Cluster recovery on planted data, determinism, and the assignment
    * surface itself stay pinned in EmbeddingsSpec. */
  val d08 = Q.audited(
    "d08_kmeans",
    """SELECT vec_id, TRUE AS assigned_argmax
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir, audit) =>
    val emb = Tables.embeddings(s, dir)
    val (centroids, assigned) = kmeansModel(emb, k = 8, iters = 10)
    // the twin trains and assigns, with no HOF re-derivation scoring
    // each assignment against an independent cosine formulation
    if (!audit) assigned
    else {
      def hofCos(c: Array[Float]): Column = {
        val nc = math.sqrt(c.map(v => v.toDouble * v).sum)
        val dot = aggregate(
          zip_with(col("embedding"), typedlit(c.toSeq), (x, y) => (x * y).cast("double")),
          lit(0.0d), _ + _)
        val nx = sqrt(aggregate(
          transform(col("embedding"), x => (x * x).cast("double")), lit(0.0d), _ + _))
        when(nx === 0.0 || lit(nc) === 0.0, lit(0.0)).otherwise(dot / (nx * lit(nc)))
      }
      val sims = array(centroids.toIndexedSeq.map(hofCos): _*)
      // same map stage the production assignment runs: argmax via the
      // native float_cosine greatest-struct, certified against the HOF
      // sims — STAGED as an attribute so the k HOF cosines run once per
      // row, not once per reference (r15, the t10 lesson)
      withCluster(emb.select(col("vec_id"), col("embedding")), centroids)
        .select(col("vec_id"), col("cluster"), sims.as("sims"))
        .select(col("vec_id"),
          (element_at(col("sims"), col("cluster") + 1) >=
            array_max(col("sims")) - lit(1e-6))
            .as("assigned_argmax"))
        .orderBy("vec_id")
    }
  }

  /** Gaussian mixture EM (reference mllib/src/main/scala/org/apache/
    * spark/mllib/clustering/GaussianMixture.scala:1) with DIAGONAL
    * covariance — the high-dimension variant that scales (the
    * reference's full dim×dim Σ per component is a deliberate
    * simplification here; at embedding dims a dense Σ is mostly noise
    * and its driver-side inversion O(k·dim³)).
    *
    * Soft k-means shape: the E-step is one codegen'd map computing each
    * row's responsibilities against k×dim plan LITERALS (log-density +
    * max-shifted softmax, d08's assignment pattern made soft); the
    * M-step is one explode + groupBy(dim) whose output is dim rows ×
    * 3k aggregates — so what returns to the driver is O(k·dim), never
    * row count. Means seed from [[kmeansParallelSeeds]], each
    * component's variances from the per-dimension variance over its
    * seed's hard Voronoi cell (a GLOBAL variance makes the components'
    * densities nearly indistinguishable and EM collapses them toward
    * the corpus mean), weights uniform — fully deterministic.
    *
    * @return (vec_id, cluster, resp) — hard argmax assignment plus its
    *         responsibility (rounded), ties to the smaller component
    */
  def gmmAssign(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = gmmBase(emb)
    val (means, vars, weights) = gmmFit(base, k, iters)
    gmmHardAssign(gmmRespFrame(base, means, vars, weights), k)
  }

  /** The (vec_id, embedding) frame a GMM fit reads once per round,
    * checkpointed once before the fit. */
  private def gmmBase(emb: DataFrame): DataFrame =
    LoopState.pin(emb.select(col("vec_id"), col("embedding")), eager = true)

  /** The winning component of a responsibilities row `rs` as a struct
    * (r = its responsibility, nc = −index, so `greatest` breaks ties to
    * the smaller component). */
  private def gmmBest(k: Int): Column =
    greatest((0 until k).map(j => struct(col("rs")(j).as("r"), lit(-j).as("nc"))): _*)

  /** (vec_id, cluster, resp) from a [[gmmRespFrame]] output. */
  private def gmmHardAssign(resp: DataFrame, k: Int): DataFrame =
    resp.select(col("vec_id"), gmmBest(k).as("b"))
      .select(col("vec_id"), (-col("b.nc")).as("cluster"),
        round(col("b.r"), 6).as("resp"))

  /** The staged softmax both E-steps share: appends `out` (array of k
    * responsibilities) to df, preserving its columns. `logDensity(p)`
    * is the variant's own part — its prep columns and its k
    * log-densities (one per component), any temp names built on the
    * prefix `p`.
    *
    * STAGED (r15 — the t10/pl01 inlining lesson at its worst: the
    * former Seq[Column] form textually nested every reference — each
    * of the k softmax outputs inlined its own logd, the k-way max (k
    * more logd copies), and the z-sum (k·(k+1) more) — ~k²
    * log-density subtrees per row instead of k; codegen CSE recovers
    * only part of it). Here each tier — the prep columns, the k
    * log-densities, their max, the k shifted exps, the z sum — becomes
    * an ATTRIBUTE before the next consumes it, so every quantity is
    * computed once per row; CollapseProject keeps the tiers apart
    * because each alias is referenced by 2+ non-cheap consumers.
    * Intermediate names are derived collision-free from df.columns
    * (r15 advisor: fixed `_xx`/`_ld*`/… names broke on frames that
    * already carried one); `out` colliding with an existing column
    * fails loudly. */
  private def softmaxFrame(df: DataFrame, out: String)(
      logDensity: String => (Seq[Column], Seq[Column])): DataFrame = {
    require(!df.columns.contains(out),
      s"output column '$out' already exists — pass a different `out`")
    // shortest underscore run no caller column starts with → every
    // s"${p}..." temp name is fresh by construction
    val p = Iterator.iterate("_")(_ + "_")
      .find(u => !df.columns.exists(_.startsWith(u))).get
    val keep = df.columns.map(col).toSeq
    val (prep, ldCols) = logDensity(p)
    val ldNames = ldCols.indices.map(j => s"${p}ld$j")
    val eNames = ldCols.indices.map(j => s"${p}e$j")
    val (lds, es) = (ldNames.map(col), eNames.map(col))
    df
      .select(keep ++ prep: _*)
      .select(keep ++ ldCols.zip(ldNames).map { case (c, n) => c.as(n) }: _*)
      .select(keep ++ lds :+ greatest(lds: _*).as(s"${p}m"): _*)
      .select(keep ++ lds.zip(eNames).map { case (ld, n) => exp(ld - col(s"${p}m")).as(n) }: _*)
      .select(keep ++ es :+ es.reduce(_ + _).as(s"${p}z"): _*)
      .select(keep :+ array(es.map(_ / col(s"${p}z")): _*).as(out): _*)
  }

  /** Diagonal E-step responsibilities against the model as plan
    * LITERALS, via the EXPANDED quadratic form: Σ(x−μ)²/v = Σx²·(1/v) −
    * 2Σx·(μ/v) + Σμ²/v — two NATIVE float_dot products per component
    * (graft.plans codegen) over the staged x², instead of nested
    * zip_with/aggregate HOFs which run on the interpreted path and
    * dominated the first implementation; then [[softmaxFrame]], which
    * appends `out` (array of k responsibilities) to df. */
  def gmmRespFrame(df: DataFrame, means: Array[Array[Double]],
                   vars: Array[Array[Double]], weights: Array[Double],
                   out: String = "rs"): DataFrame =
    softmaxFrame(df, out) { p =>
      val ld = weights.indices.map { j =>
        val a = vars(j).map(v => (1.0 / v).toFloat).toSeq
        val b = means(j).zip(vars(j)).map { case (m, v) => (m / v).toFloat }.toSeq
        val cTerm = means(j).zip(vars(j)).map { case (m, v) => m * m / v }.sum
        val logDet = vars(j).map(math.log).sum
        lit(math.log(weights(j)) - 0.5 * (logDet + cTerm)) -
          lit(0.5) * floatDot(col(s"${p}xx"), typedlit(a)) +
          floatDot(col("embedding"), typedlit(b))
      }
      (Seq(transform(col("embedding"), x => x * x).as(s"${p}xx")), ld)
    }

  /** The EM loop both GMM fits run over a pre-checkpointed (vec_id,
    * embedding) frame. Init, written once: means from
    * [[kmeansParallelSeeds]] (the width read off the seeds, so no probe
    * job), each component's per-dimension variances over its seed's hard
    * Voronoi cell (one bounded k×dim agg — MLlib's
    * init-from-cluster-sample shape; a GLOBAL variance init makes the
    * components' densities nearly indistinguishable and EM collapses
    * them toward the corpus mean), which `spread` turns into the
    * variant's own spread parameter, and uniform weights. Each round
    * scores `resp`, runs the variant's `mStep` — (mass, means, spread),
    * keeping an empty component's old values — and re-weights by mass/n. */
  private def gmmEm[S](base: DataFrame, k: Int, iters: Int)(
      spread: Array[Array[Double]] => S)(
      resp: (Array[Array[Double]], S, Array[Double]) => DataFrame)(
      mStep: (DataFrame, Array[Array[Double]], S) => (Array[Double], Array[Array[Double]], S))
      : (Array[Array[Double]], S, Array[Double]) = {
    require(k >= 2, "GMM needs k >= 2")
    val seeds = kmeansParallelSeeds(base, k)
    val cellVar = Array.fill(k, seeds.head.length)(1e-2)
    withCluster(base, seeds)
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy("cluster", "p").agg(var_pop(col("x").cast("double")).as("v"))
      .collect()
      .foreach(r => cellVar(r.getInt(0))(r.getInt(1)) = math.max(
        if (r.isNullAt(2)) 1e-2 else r.getDouble(2), 1e-6))
    var means: Array[Array[Double]] = seeds.map(_.map(_.toDouble))
    var sp = spread(cellVar)
    var weights: Array[Double] = Array.fill(k)(1.0 / k)
    val n = base.count().toDouble
    for (_ <- 1 to iters) {
      val (mass, nextMeans, nextSp) = mStep(resp(means, sp, weights), means, sp)
      means = nextMeans
      sp = nextSp
      weights = Array.tabulate(k)(j => math.max(mass(j) / n, 1e-12))
    }
    (means, sp, weights)
  }

  /** The diagonal fit of [[gmmAssign]]: (means, vars, weights) over a
    * pre-checkpointed (vec_id, embedding) frame through [[gmmEm]].
    * Driver state is O(k·dim) throughout. */
  def gmmFit(base: DataFrame, k: Int, iters: Int)
      : (Array[Array[Double]], Array[Array[Double]], Array[Double]) =
    gmmEm(base, k, iters)(v => v)((m, v, w) => gmmRespFrame(base, m, v, w)) {
        (withR, means, vars) =>
      // ONE pass: per-dim rows carry (Σ r·x, Σ r·x²) for every
      // component, plus Σ r (identical across dims — the component
      // mass, read from the p=0 row) — dim rows × 3k aggregates total
      val aggs =
        (0 until k).map(j => sum(col("rs")(j) * col("x").cast("double")).as(s"sx$j")) ++
          (0 until k).map(j =>
            sum(col("rs")(j) * col("x").cast("double") * col("x").cast("double")).as(s"sxx$j")) ++
          (0 until k).map(j => sum(col("rs")(j)).as(s"m$j"))
      val stats = withR
        .select(col("rs"), posexplode(col("embedding")).as(Seq("p", "x")))
        .groupBy("p")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val mass = Array.tabulate(k)(j => stats.head.getDouble(1 + 2 * k + j))
      val newMeans = means.map(_.clone())
      val newVars = vars.map(_.clone())
      stats.foreach { r =>
        val p = r.getInt(0)
        for (j <- 0 until k) {
          val w = mass(j)
          if (w > 1e-9) {
            val mu = r.getDouble(1 + j) / w
            newMeans(j)(p) = mu
            newVars(j)(p) =
              math.max(r.getDouble(1 + k + j) / w - mu * mu, 1e-6)
          }
        }
      }
      (mass, newMeans, newVars)
    }

  /** FULL-covariance E-step responsibilities (r16 — the reference's
    * actual model, mllib/clustering/GaussianMixture.scala:1 +
    * stat/distribution/MultivariateGaussian.scala:1; [[gmmRespFrame]]
    * is the diagonal restriction): per component one
    * [[graft.functions.MultivariateGaussian]] logpdf — Σ⁻¹ and
    * ln det Σ computed once on the driver, embedded as plan literals,
    * the per-row quadratic form a bounded nested fold — then
    * [[softmaxFrame]], which appends `out` to df. Each component's
    * CENTERED vector is a prep column, so the d² quadratic-form fold
    * reads elements in O(1) instead of re-deriving the zip_with per
    * element (the inlining pitfall inside a single Column function). */
  def gmmFullRespFrame(df: DataFrame, means: Array[Array[Double]],
                       covs: Array[Array[Array[Double]]], weights: Array[Double],
                       out: String = "rs"): DataFrame =
    softmaxFrame(df, out) { p =>
      val gs = weights.indices.map(j => graft.functions.MultivariateGaussian(
        means(j).toSeq, covs(j).map(_.toSeq).toSeq))
      (gs.indices.map(j => gs(j).centered(col("embedding")).as(s"${p}u$j")),
        gs.indices.map(j =>
          lit(math.log(weights(j))) + gs(j).logpdfFromCentered(col(s"${p}u$j"))))
    }

  /** Full-covariance GMM EM (r16 — reference GaussianMixture.scala's
    * model; [[gmmFit]] is the diagonal restriction the registered gm01
    * keeps): fit (means, covariances, weights) over a pre-checkpointed
    * (vec_id, embedding) frame through [[gmmEm]], the covariances
    * starting diagonal at the seeds' hard-cell variances.
    *
    * Scale shape: the E-step is [[gmmFullRespFrame]]'s one codegen'd
    * map against O(k·dim²) plan literals; the M-step is ONE
    * explode-to-upper-triangle + groupBy((p, q)) pass whose output is
    * dim(dim+1)/2 rows × 3k aggregates — Σ rⱼ·xₚxq per cell, Σ rⱼ·xₚ
    * read off the diagonal rows, component mass off cell (0,0) — so the
    * driver sees O(k·dim²) per round, never rows. `dim ≤ 16` keeps the
    * literal footprint (k·dim² doubles in every task) and the driver
    * dim³ inversions model-sized; wider embeddings belong to the
    * diagonal path (the reference caps full-Σ use the same way in
    * practice — its docs flag the dim² blowup). Each Σ update adds a
    * 1e-6 ridge on the diagonal, so the driver inversion stays positive
    * definite (the reference's pseudo-inverse tolerance serves the same
    * purpose). */
  def gmmFullFit(base: DataFrame, k: Int, iters: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]], Array[Double]) =
    gmmEm(base, k, iters) { v =>
      val dim = v.head.length
      require(dim <= 16,
        s"gmmFull embeds k·dim² literals per task and inverts k dim×dim " +
          s"matrices per round on the driver — dim $dim > 16; use gmmFit")
      Array.tabulate(k, dim, dim)((j, a, b) => if (a == b) v(j)(a) else 0.0)
    }((m, c, w) => gmmFullRespFrame(base, m, c, w)) { (withR, means, covs) =>
      val dim = means.head.length
      val cellCount = dim * (dim + 1) / 2
      // upper-triangle cells (p ≤ q) as one staged explode: the x array
      // becomes an attribute first so the dim²/2 products read it once
      val cells = withR
        .select(col("rs"),
          transform(col("embedding"), x => x.cast("double")).as("xd"))
        .select(col("rs"), explode(flatten(
          transform(sequence(lit(0), lit(dim - 1)), pi =>
            transform(sequence(pi, lit(dim - 1)), qi =>
              struct(pi.as("p"), qi.as("q"),
                (element_at(col("xd"), pi + 1) *
                  element_at(col("xd"), qi + 1)).as("xx"),
                element_at(col("xd"), pi + 1).as("xp")))))).as("c"))
      // row layout after groupBy(p, q): [p, q, sxx_0..k-1, sx_0..k-1, m_0..k-1]
      val aggs =
        (0 until k).map(j => sum(col("rs")(j) * col("c.xx")).as(s"sxx$j")) ++
          (0 until k).map(j => sum(col("rs")(j) * col("c.xp")).as(s"sx$j")) ++
          (0 until k).map(j => sum(col("rs")(j)).as(s"m$j"))
      val stats = cells
        .groupBy(col("c.p").as("p"), col("c.q").as("q"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      require(stats.length == cellCount, s"expected $cellCount cells")
      val byCell = stats.map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
      // mass: every base row contributes to every cell exactly once
      val mass = Array.tabulate(k)(j => byCell((0, 0)).getDouble(2 + 2 * k + j))
      val newMeans = means.map(_.clone())
      val newCovs = covs.map(_.map(_.clone()))
      for (j <- 0 until k if mass(j) > 1e-9) {
        val w = mass(j)
        for (pp <- 0 until dim)
          newMeans(j)(pp) = byCell((pp, pp)).getDouble(2 + k + j) / w
        for (pp <- 0 until dim; qq <- pp until dim) {
          val exq = byCell((pp, qq)).getDouble(2 + j) / w
          val c = exq - newMeans(j)(pp) * newMeans(j)(qq) +
            (if (pp == qq) 1e-6 else 0.0)
          newCovs(j)(pp)(qq) = c
          newCovs(j)(qq)(pp) = c
        }
      }
      (mass, newMeans, newCovs)
    }

  /** Hard assignment through [[gmmFullFit]] — [[gmmAssign]]'s
    * full-covariance sibling.
    *
    * @return (vec_id, cluster, resp) — ties to the smaller component */
  def gmmFullAssign(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = gmmBase(emb)
    val (means, covs, weights) = gmmFullFit(base, k, iters)
    gmmHardAssign(gmmFullRespFrame(base, means, covs, weights), k)
  }

  /** k=8 diagonal-covariance GMM over the embeddings table. The EM fit
    * itself is engine-local float iteration, but the per-row E-step
    * surface is certifiable — so the entry carries the d08 claim-flag
    * pattern: `argmax_vs_hof` re-derives each row's log-densities
    * through an INDEPENDENT direct Σ(x−μ)²/v quadratic form in
    * interpreted double HOFs (vs the production path's expanded
    * float_dot codegen) and asserts the assigned component argmaxes
    * them within 1e-3 + 1e-6·|max| (magnitude-scaled: the float path's
    * absolute error grows with the quadratic form, so a fixed band
    * would flip on legitimately huge densities); `resp_floor` asserts
    * the winning softmax
    * responsibility ≥ 1/k (a provable invariant of any argmax over k
    * values summing to 1). DuckDB asserts both claims as literal TRUE
    * per vec_id. Planted unequal-spread blob recovery with calibrated
    * weights, and the (cluster, resp) assignment surface itself, stay
    * pinned in EmbeddingsSpec via [[gmmAssign]]. */
  val gm01 = Q.audited(
    "gm01_gaussian_mixture",
    """SELECT vec_id, TRUE AS argmax_vs_hof, TRUE AS resp_floor
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir, audit) =>
    val k = 8
    val base = gmmBase(Tables.embeddings(s, dir))
    val (means, vars, weights) = gmmFit(base, k, iters = 6)
    val resp = gmmRespFrame(base, means, vars, weights)
    // the twin is the EM fit + hard assignment, with no independent HOF
    // log-density re-derivation scoring the argmax
    if (!audit) gmmHardAssign(resp, k)
    else {
      def hofLogd(j: Int): Column = {
        val mu = typedlit(means(j).toSeq)
        val vv = typedlit(vars(j).toSeq)
        val q = aggregate(
          zip_with(
            zip_with(col("embedding"), mu, (x, m) => x.cast("double") - m),
            vv, (d, v) => d * d / v),
          lit(0.0d), _ + _)
        lit(math.log(weights(j)) - 0.5 * vars(j).map(math.log).sum) -
          lit(0.5) * q
      }
      val hof = array((0 until k).map(hofLogd): _*)
      resp.select(col("vec_id"), gmmBest(k).as("b"), hof.as("hl"))
        .select(col("vec_id"),
          // tolerance scales with the log-density magnitude: the float
          // path's absolute error is relative to the quadratic-form terms
          // (up to ~1e-7·|logd| when a variance sits at its 1e-6 floor),
          // so a fixed 1e-3 band would flip on legitimately huge
          // densities while a disagreement beyond 1e-3 + 1e-6·|max|
          // is a genuine argmax bug
          (element_at(col("hl"), -col("b.nc") + 1) >=
            array_max(col("hl")) -
              (lit(1e-3) + lit(1e-6) * abs(array_max(col("hl")))))
            .as("argmax_vs_hof"),
          (col("b.r") >= lit(1.0 / k - 1e-6)).as("resp_floor"))
        .orderBy("vec_id")
    }
  }

  /** L2 normalization of the embedding table (MLlib feature/Normalizer
    * parity) — the standard prep before cosine ANN / spherical k-means
    * (on unit vectors, cosine == dot). Pure map-side column math, no
    * shuffle; emitted EXPLODED to scalar (vec_id, dim_idx, v) rows so
    * the oracle compares plainly (array columns don't hash driver-side).
    * Precision discipline is d05's: float elements, double
    * accumulation — identical in both engines, so round(6) is safe.
    * An all-zero vector divides by nullif(nrm, 0) → NULL rows in BOTH
    * engines (d11's guard), never 0/0 NaN whose handling is
    * engine-setting-dependent. */
  val d10 = Q.sql(
    "d10_normalize",
    """WITH stats AS (
      |  SELECT vec_id, sqrt(list_sum(list_transform(embedding, x -> x*x))) AS nrm
      |  FROM embeddings)
      |SELECT e.vec_id, i AS dim_idx,
      |  round(e.embedding[i] / nullif(s.nrm, 0.0), 6) AS v
      |FROM embeddings e JOIN stats s ON e.vec_id = s.vec_id,
      |  unnest(range(1, 65)) t(i)
      |ORDER BY e.vec_id, dim_idx""".stripMargin) { (s, dir) =>
    // float×float product, double accumulation — exactly what DuckDB's
    // list_sum(list_transform(x -> x*x)) computes (d05's discipline)
    val nrm = sqrt(aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + (x * x).cast("double")))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), nrm.as("nrm"))
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("_p", "x")), col("nrm"))
      .select(col("vec_id"), (col("_p") + 1).cast("long").as("dim_idx"),
        round(col("x").cast("double") / nullif(col("nrm"), lit(0.0)), 6).as("v"))
      .orderBy("vec_id", "dim_idx")
  }

  /** Symmetric int8 scalar quantization per vector (the ANN memory
    * lever: 4× smaller vectors, SIMD int dot products — what a
    * 100 TB-scale index stores instead of float32): per-vector scale
    * max|x|/127, code floor(x/scale + 0.5) ∈ [-127, 127]. floor(+0.5),
    * NOT round(): per-row round() is the known engine-mismatch trap,
    * while this floor runs the same IEEE double ops in both engines.
    * nullif guards the all-zero vector (NULL codes, not ±inf). Map-only;
    * exploded to scalar rows for the driver compare. */
  val d11 = Q.sql(
    "d11_quantize_int8",
    """WITH scales AS (
      |  SELECT vec_id, list_max(list_transform(embedding, x -> abs(x))) / 127.0 AS scale
      |  FROM embeddings)
      |SELECT e.vec_id, i AS dim_idx,
      |  CAST(floor(e.embedding[i] / nullif(s.scale, 0.0) + 0.5) AS BIGINT) AS q
      |FROM embeddings e JOIN scales s ON e.vec_id = s.vec_id,
      |  unnest(range(1, 65)) t(i)
      |ORDER BY e.vec_id, dim_idx""".stripMargin) { (s, dir) =>
    val scale = array_max(transform(col("embedding"), x => abs(x))) / lit(127.0)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), scale.as("scale"))
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("_p", "x")), col("scale"))
      .select(col("vec_id"), (col("_p") + 1).cast("long").as("dim_idx"),
        floor(col("x") / nullif(col("scale"), lit(0.0)) + 0.5).cast("long").as("q"))
      .orderBy("vec_id", "dim_idx")
  }

  /** Per-dimension mean/variance standardization (x−μ)/σ of the
    * embedding table — MLlib feature/StandardScaler parity (reference
    * mllib/src/main/scala/org/apache/spark/mllib/feature/
    * StandardScaler.scala:1), the most common feature prep besides d10's
    * L2. Sample stddev (n−1), matching the reference's column-summary
    * variance.
    *
    * Shape at scale: the stats pass reduces the exploded table to ONE
    * row per dimension (map-side partial agg → 64 rows), which rides
    * back as a broadcast — the apply stage stays map-only, nothing
    * driver-side grows with the corpus.
    *
    * Oracle discipline: μ and σ are dimension-level AGGREGATES, so both
    * are rounded (6 dp) on both sides BEFORE the per-row apply — the two
    * engines then run identical IEEE ops on identical constants, making
    * the final round(6) safe (d10's rule: per-row arithmetic must be
    * bit-identical, only aggregates absorb summation-order noise).
    * σ=0 (a constant dimension) divides via nullif → NULL, d11's guard. */
  val d12 = Q.sql(
    "d12_standardize",
    """WITH x AS (
      |  SELECT e.vec_id, i AS dim_idx, CAST(e.embedding[i] AS DOUBLE) AS x
      |  FROM embeddings e, unnest(range(1, 65)) t(i)),
      |stats AS (
      |  SELECT dim_idx, round(avg(x), 6) AS mu,
      |         round(stddev_samp(x), 6) AS sigma
      |  FROM x GROUP BY dim_idx)
      |SELECT x.vec_id, x.dim_idx,
      |  round((x.x - s.mu) / nullif(s.sigma, 0.0), 6) AS v
      |FROM x JOIN stats s ON x.dim_idx = s.dim_idx
      |ORDER BY x.vec_id, x.dim_idx""".stripMargin) { (s, dir) =>
    val x = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("_p", "xf")))
      .select(col("vec_id"), (col("_p") + 1).cast("long").as("dim_idx"),
        col("xf").cast("double").as("x"))
    val stats = x.groupBy("dim_idx")
      .agg(round(avg("x"), 6).as("mu"), round(stddev_samp("x"), 6).as("sigma"))
    x.join(broadcast(stats), Seq("dim_idx"))
      .select(col("vec_id"), col("dim_idx"),
        round((col("x") - col("mu")) / nullif(col("sigma"), lit(0.0)), 6).as("v"))
      .orderBy("vec_id", "dim_idx")
  }

  val all: Seq[Q] = Seq(d08, gm01, d10, d11, d12)
}
