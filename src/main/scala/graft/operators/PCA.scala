package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.GraftFunctions.{exactSum, floatDot}

/** Principal component analysis over the embedding table — the
  * RowMatrix surface of the reference (mllib/src/main/scala/org/apache/
  * spark/mllib/linalg/distributed/RowMatrix.scala:111
  * `computeGramianMatrix`, :321 `computeCovariance`, :374
  * `computePrincipalComponents`) re-expressed Spark-first. In an LLM
  * data pipeline this is the dimensionality-reduction lever in front of
  * ANN: projecting 64-dim embeddings onto the top-m components shrinks
  * the index and denoises distances.
  *
  * Scale shape, exactly the reference's decomposition:
  *  - the per-dimension MEANS collapse to one bounded 64-value
  *    aggregate (d12's stats discipline) and ride as plan literals;
  *  - the centered covariance accumulates as ONE partial-aggregated
  *    pass: each row expands to its dim·(dim+1)/2 upper-triangle
  *    products (the in-row equivalent of MLlib's `dspr` into a
  *    treeAggregate buffer) and hash-aggregates map-side, so the
  *    shuffle carries 2 080 rows per partition, never row count;
  *  - the 64×64 eigen-solve runs on the DRIVER (MLlib calls Breeze SVD
  *    there; here a cyclic Jacobi — no linalg dependency), O(dim³)
  *    work on an O(dim²) matrix, independent of corpus size;
  *  - the projection is map-only: m native `float_dot` products
  *    against component literals minus a precomputed mean offset
  *    (gm01's E-step pattern).
  */
object PCA {

  /** Per-dimension means, rounded 6 dp before any use (d12's aggregate-
    * rounding rule): a bounded dim-value collect that rides as plan
    * literals, constant in corpus size. */
  private[graft] def means(emb: DataFrame): Seq[Double] =
    emb.select(posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy("p").agg(round(avg(col("x").cast("double")), 6).as("mu"))
      .orderBy("p").collect().map(_.getDouble(1)).toSeq

  private def covarianceData(emb: DataFrame): (Seq[Double], Array[(Long, Long, Double)]) = {
    val mus = means(emb)
    (mus, covarianceUpper(emb, mus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  /** The centered covariance (means, upper-triangle entries) as driver
    * data, built once per corpus version for d13, d14, d15 and corr01
    * (see [[graft.Shared]]). */
  def covarianceShared(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[Double], Array[(Long, Long, Double)]) =
    graft.Shared(s, "covariance", dir)(_ => covarianceData(graft.Tables.embeddings(s, dir)))

  /** Centered upper-triangle covariance entries (i, j, cov) around the
    * means `mus` (from [[means]]; their count is the width), 1-based
    * dims, i ≤ j, sample normalization (n−1). Means are rounded BEFORE
    * centering on both engines, so the per-row arithmetic is identical
    * IEEE ops on identical constants, and the centered products sum
    * through [[exactSum]] (rg01's rule): order-independent, so the
    * aggregate is bit-identical across engines, partition layouts and
    * core counts. */
  def covarianceUpper(emb: DataFrame, mus: Seq[Double]): DataFrame =
    Matrices.upperTriangle(emb,
        zip_with(col("embedding"), typedlit(mus), (xv, m) => xv.cast("double") - m)) { p =>
      // + 0.0 normalizes signed zero: DuckDB's binary round keeps the
      // sign of a tiny negative sum (-0.0) while Spark's decimal
      // HALF_UP round emits +0.0 — numerically equal, hash-different.
      // IEEE: -0.0 + 0.0 = +0.0; every other value is unchanged.
      round(exactSum(p) / (count(lit(1)) - 1), 6) + lit(0.0d)
    }.select((col("i") + 1).cast("long").as("i"), (col("j") + 1).cast("long").as("j"),
      col("v").as("cov"))

  /** (eigenvalues, components) of the covariance given as (means,
    * 1-based upper-triangle entries) — the one path from a covariance to
    * its components. */
  private def covarianceEigen(mus: Seq[Double], entries: Array[(Long, Long, Double)])
      : (Array[Double], Array[Array[Double]]) =
    symmetricEigen(Matrices.symmetric(mus.length,
      entries.map { case (i, j, c) => ((i - 1).toInt, (j - 1).toInt, c) }))

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-rows) sorted by eigenvalue
    * descending, each vector sign-canonicalized (largest-|component|
    * entry positive) so the decomposition is unique and deterministic.
    * Driver-side by design — the reference eigen-solves its covariance
    * on the driver too (RowMatrix.scala:378, Breeze SVD). */
  def symmetricEigen(a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a.length
    val m = Array.tabulate(n, n)((i, j) => a(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      for (p <- 0 until n; q <- p + 1 until n) s += m(p)(q) * m(p)(q)
      s
    }
    var sweep = 0
    while (sweep < 100 && offNorm > 1e-18) {
      for (p <- 0 until n - 1; q <- p + 1 until n) {
        val apq = m(p)(q)
        if (math.abs(apq) > 1e-15) {
          val theta = (m(q)(q) - m(p)(p)) / (2.0 * apq)
          val t =
            if (theta == 0.0) 1.0
            else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until n) {
            val mip = m(i)(p); val miq = m(i)(q)
            m(i)(p) = c * mip - s * miq
            m(i)(q) = s * mip + c * miq
          }
          for (i <- 0 until n) {
            val mpi = m(p)(i); val mqi = m(q)(i)
            m(p)(i) = c * mpi - s * mqi
            m(q)(i) = s * mpi + c * mqi
          }
          for (i <- 0 until n) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(j => (-m(j)(j), j))
    val eig = order.map(j => m(j)(j)).toArray
    val vecs = order.map { j =>
      val col = Array.tabulate(n)(i => v(i)(j))
      val pivot = col.indices.maxBy(i => (math.abs(col(i)), -i))
      if (col(pivot) < 0) col.map(x => -x) else col
    }.toArray
    (eig, vecs)
  }

  /** Top-m principal components of the embedding table: per-dimension
    * means, component variances (eigenvalues, descending) and the
    * components themselves (rows, unit-norm, sign-canonicalized). */
  def principalComponents(emb: DataFrame, m: Int): (Array[Double], Array[Double], Array[Array[Double]]) = {
    val (mus, entries) = covarianceData(emb)
    val (eig, vecs) = covarianceEigen(mus, entries)
    (mus.toArray, eig.take(m), vecs.take(m))
  }

  /** Projection from precomputed means + eigenvectors: map-only, one
    * native codegen `float_dot` per component against plan literals
    * minus the (scalar) mean offset. Output (vec_id, pc0..pc{m-1}),
    * rounded 5 dp for cross-run stability. */
  private def projectExpr(emb: DataFrame, mus: Seq[Double],
                          comps: Array[Array[Double]], m: Int): DataFrame = {
    val projCols = (0 until m).map { k =>
      val vf: Seq[Float] = comps(k).map(_.toFloat).toSeq
      val offset = mus.zip(vf).map { case (mu, vkf) => mu * vkf.toDouble }.sum
      round(floatDot(col("embedding"), typedlit(vf)) - lit(offset), 5)
        .as(s"pc$k")
    }
    emb.select(col("vec_id") +: projCols: _*)
  }

  /** Top-m PCA projection. */
  def pcaProject(emb: DataFrame, m: Int): DataFrame = {
    val (mus, _, comps) = principalComponents(emb, m)
    projectExpr(emb, mus, comps, m)
  }

  /** Eigen-decomposition of the uncentered Gramian AᵀA —
    * RowMatrix.computeGramianMatrix (RowMatrix.scala:111) through the
    * [[Matrices.upperTriangle]] kernel, cells rounded 6 dp; the width is
    * the collected triangle's. */
  private def gramianEigen(emb: DataFrame): (Array[Double], Array[Array[Double]]) = {
    val cells = Matrices.triangleCells(Matrices.upperTriangle(emb,
      transform(col("embedding"), x => x.cast("double")))(p => round(sum(p), 6)))
    symmetricEigen(Matrices.symmetric(cells.iterator.map(_._2).max + 1, cells))
  }

  /** Top-m thin SVD of the embedding table — RowMatrix.computeSVD
    * (RowMatrix.scala:181) re-expressed: the Gramian's eigen-solve
    * gives σ_k = √λ_k and V driver-side (the reference solves AᵀA on
    * the driver for exactly this n ≫ dim regime); U's rows are then a
    * map-only projection u_k = (x·v_k)/σ_k — never materialized as a
    * matrix, exactly MLlib's `computeU` shape.
    *
    * @return (singularValues desc, right vectors as rows) */
  def singularValues(emb: DataFrame, m: Int): (Array[Double], Array[Array[Double]]) = {
    val (eig, vecs) = gramianEigen(emb)
    (eig.take(m).map(l => math.sqrt(math.max(l, 0.0))), vecs.take(m))
  }

  /** Left-singular coordinates per row: u_k = (x·v_k)/σ_k, map-only
    * native float_dot against plan literals. */
  def svdProject(emb: DataFrame, m: Int): DataFrame = {
    val (sv, vecs) = singularValues(emb, m)
    val projCols = (0 until m).map { k =>
      val vf: Seq[Float] = vecs(k).map(_.toFloat).toSeq
      round(floatDot(col("embedding"), typedlit(vf)) / lit(sv(k)), 6)
        .as(s"u$k")
    }
    emb.select(col("vec_id") +: projCols: _*)
  }

  /** SVD with a FULL per-row value oracle on the Parseval invariant:
    * the full right-singular basis V is orthonormal, so
    * Σ_k (x·v_k)² = ‖x‖² for every row — the entry projects each vector
    * onto all 64 right vectors (native float_dot per component) and
    * emits a per-row conservation flag at 1e-3 relative tolerance
    * (measured float_dot + 6dp-round noise is ~2e-5; a wrong V or a
    * non-orthogonal solve breaks it at O(1)). DuckDB asserts the claim
    * as literal TRUE per vec_id. Top-m left coordinates (the production
    * surface) and σ recovery stay spec'd in PCASpec. */
  val d15 = Q.sql(
    "d15_svd",
    """SELECT vec_id, TRUE AS energy_conserved
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val (_, vecs) = gramianEigen(emb)
    val energyProj = vecs.indices.map { k =>
      val vf: Seq[Float] = vecs(k).map(_.toFloat).toSeq
      val d = floatDot(col("embedding"), typedlit(vf))
      d * d
    }.reduce(_ + _)
    val ssq = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + (x * x).cast("double"))
    emb.select(col("vec_id"),
      (abs(energyProj - ssq) <= ssq * 1e-3).as("energy_conserved"))
      .orderBy("vec_id")
  }

  /** PCA variance accounting with a FULL value oracle: project onto all
    * 64 components and compare the projected total variance against the
    * input trace — an orthogonal rotation preserves total variance, so
    * the invariant checks the whole pipeline (means, covariance,
    * eigen-solve orthogonality, float_dot projection) against a value
    * DuckDB computes from the raw table alone. Per-row top-m projections
    * (the production surface) remain spec'd in PCASpec, which recovers
    * planted low-rank structure and pins determinism; the covariance
    * input to the eigen-solve is itself fully oracled as d14. */
  val d13 = Q.sql(
    "d13_pca",
    """WITH x AS (
      |  SELECT CAST(e.embedding[i] AS DOUBLE) AS x, i AS dim_idx
      |  FROM embeddings e, unnest(range(1, 65)) t(i)),
      |v AS (SELECT sum(vv) AS tot FROM (
      |  SELECT var_samp(x) AS vv FROM x GROUP BY dim_idx))
      |SELECT CAST(64 AS BIGINT) AS dims,
      |  round(tot, 2) AS total_var_input,
      |  round(tot, 2) AS total_var_projected
      |FROM v""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val (mus, entries) = covarianceShared(s, dir)
    val dim = mus.length
    val proj = projectExpr(emb, mus, covarianceEigen(mus, entries)._2, dim)
    val totProj = proj
      .agg((0 until dim).map(k => var_samp(col(s"pc$k"))).reduce(_ + _).as("tp"))
    val totIn = emb
      .select(posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy("p").agg(var_samp(col("x").cast("double")).as("vv"))
      .agg(sum(col("vv")).as("ti"))
    totProj.crossJoin(totIn).select(
      lit(dim.toLong).as("dims"),
      round(col("ti"), 2).as("total_var_input"),
      round(col("tp"), 2).as("total_var_projected"))
  }

  /** The centered sample covariance matrix (upper triangle) — the
    * bounded distributed half of PCA, fully SQL-expressible so it
    * carries a complete DuckDB value oracle. */
  val d14 = Q.sql(
    "d14_covariance",
    """WITH x AS (
      |  SELECT e.vec_id, i AS dim_idx, CAST(e.embedding[i] AS DOUBLE) AS x
      |  FROM embeddings e, unnest(range(1, 65)) t(i)),
      |m AS (SELECT dim_idx, round(avg(x), 6) AS mu FROM x GROUP BY dim_idx),
      |c AS (SELECT x.vec_id, x.dim_idx, x.x - m.mu AS cx
      |      FROM x JOIN m ON x.dim_idx = m.dim_idx)
      |SELECT a.dim_idx AS i, b.dim_idx AS j,
      |  round(CAST(sum(CAST(a.cx * b.cx AS DECIMAL(18,12))) AS DOUBLE)
      |        / (count(*) - 1), 6) + 0.0 AS cov
      |FROM c a JOIN c b ON a.vec_id = b.vec_id AND b.dim_idx >= a.dim_idx
      |GROUP BY 1, 2
      |ORDER BY i, j""".stripMargin) { (s, dir) =>
    // session-shared stage (d13 consumes the identical triangle); the
    // collected 2080-row result localizes back to a DataFrame, so a
    // second consumer in the same session pays zero distributed work
    val (_, entries) = covarianceShared(s, dir)
    import s.implicits._
    entries.toSeq.toDF("i", "j", "cov").orderBy("i", "j")
  }

  /** Pearson correlation MATRIX of the embedding columns (reference
    * mllib/stat/Statistics.scala:1 `corr(X)` matrix form /
    * correlation/PearsonCorrelation.scala:1 — q31/q59 are the scalar
    * pairwise surface, this is the d×d matrix): corr(i,j) =
    * cov(i,j)/√(cov(i,i)·cov(j,j)), derived entirely from the
    * session-shared covariance triangle — a FOURTH consumer of that one
    * distributed pass, so the entry costs zero cluster work after
    * d13/d14/d15 (the reference recomputes its Gramian per call). The
    * inputs are the 6dp-rounded covariance cells (identical doubles on
    * both engines by d14's oracle) and sqrt/divide are correctly
    * rounded, so the raw quotients carry a FULL bit-exact oracle with
    * no further rounding. Upper triangle i<j (the diagonal is
    * identically 1). */
  val corr01: Q = Q.sql(
    "corr01_correlation_matrix",
    """WITH x AS (
      |  SELECT e.vec_id, i AS dim_idx, CAST(e.embedding[i] AS DOUBLE) AS x
      |  FROM embeddings e, unnest(range(1, 65)) t(i)),
      |m AS (SELECT dim_idx, round(avg(x), 6) AS mu FROM x GROUP BY dim_idx),
      |c AS (SELECT x.vec_id, x.dim_idx, x.x - m.mu AS cx
      |      FROM x JOIN m ON x.dim_idx = m.dim_idx),
      |cov AS (
      |  SELECT a.dim_idx AS i, b.dim_idx AS j,
      |    round(CAST(sum(CAST(a.cx * b.cx AS DECIMAL(18,12))) AS DOUBLE)
      |          / (count(*) - 1), 6) + 0.0 AS cov
      |  FROM c a JOIN c b ON a.vec_id = b.vec_id AND b.dim_idx >= a.dim_idx
      |  GROUP BY 1, 2),
      |d AS (SELECT i, sqrt(cov) AS sd FROM cov WHERE i = j)
      |SELECT cov.i, cov.j, cov.cov / (da.sd * db.sd) AS corr
      |FROM cov JOIN d da ON cov.i = da.i JOIN d db ON cov.j = db.i
      |WHERE cov.i < cov.j
      |ORDER BY cov.i, cov.j""".stripMargin) { (s, dir) =>
    val (_, entries) = covarianceShared(s, dir)
    val cov = entries.map(e => (e._1, e._2) -> e._3).toMap
    val dims = entries.map(_._1).distinct.sorted
    val sd = dims.map(i => i -> math.sqrt(cov((i, i)))).toMap
    import s.implicits._
    (for { i <- dims; j <- dims if i < j }
      yield (i, j, cov((i, j)) / (sd(i) * sd(j)))).toSeq
      .toDF("i", "j", "corr").orderBy("i", "j")
  }

  val all: Seq[Q] = Seq(d13, d14, d15, corr01)
}
