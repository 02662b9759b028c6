package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import graft.operators.PCA

class PCASpec extends SparkTestBase {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** 400 vectors in 8 dims lying (up to 1% noise) in the plane spanned
    * by two orthonormal directions u and w, with var(along u) ≫
    * var(along w) ≫ noise — the planted low-rank structure PCA must
    * recover. */
  private def plantedLowRank(): org.apache.spark.sql.DataFrame = {
    val dim = 8
    val u = Array.fill(dim)(1.0 / math.sqrt(dim))
    val w = Array.tabulate(dim)(i => (if (i % 2 == 0) 1.0 else -1.0) / math.sqrt(dim))
    val rows: java.util.List[Row] = new java.util.ArrayList()
    for (i <- 0 until 400) {
      val a = 5.0 * math.cos(i * 0.7)   // dominant amplitude
      val b = 2.0 * math.sin(i * 1.3)   // second amplitude
      val v = Array.tabulate(dim) { d =>
        (a * u(d) + b * w(d) + 0.01 * math.cos(i * 3.1 + d * 1.7)).toFloat
      }
      rows.add(Row(i.toLong, v.toSeq))
    }
    spark.createDataFrame(rows, embSchema)
  }

  test("principal components recover the planted plane, ordered and orthonormal") {
    val df = plantedLowRank()
    val (mus, eig, comps) = PCA.principalComponents(df, m = 4)
    assert(mus.length == 8 && comps.forall(_.length == 8))
    // eigenvalues descending, top-2 carry essentially all variance
    assert(eig.zip(eig.tail).forall { case (a, b) => a >= b - 1e-12 },
      s"eigenvalues must be descending: ${eig.toSeq}")
    val (totEig, _) = PCA.symmetricEigen({
      val entries = PCA.covarianceUpper(df, PCA.means(df)).collect()
      val cov = Array.ofDim[Double](8, 8)
      entries.foreach { r =>
        val i = r.getLong(0).toInt - 1; val j = r.getLong(1).toInt - 1
        cov(i)(j) = r.getDouble(2); cov(j)(i) = r.getDouble(2)
      }
      cov
    })
    assert(eig.take(2).sum / totEig.sum > 0.99,
      "top-2 components must capture the planted 2-dim structure")
    // unit norm + mutual orthogonality
    for (k <- comps.indices) {
      val n2 = comps(k).map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-9, s"component $k not unit norm: $n2")
      for (l <- k + 1 until comps.length) {
        val d = comps(k).zip(comps(l)).map { case (a, b) => a * b }.sum
        assert(math.abs(d) < 1e-9, s"components $k,$l not orthogonal: $d")
      }
    }
    // the top component is the planted dominant direction (up to sign)
    val u = Array.fill(8)(1.0 / math.sqrt(8))
    val w = Array.tabulate(8)(i => (if (i % 2 == 0) 1.0 else -1.0) / math.sqrt(8))
    val du = math.abs(comps(0).zip(u).map { case (a, b) => a * b }.sum)
    val dw = math.abs(comps(1).zip(w).map { case (a, b) => a * b }.sum)
    assert(du > 0.999, s"pc0 must align with the planted u, |dot| = $du")
    assert(dw > 0.999, s"pc1 must align with the planted w, |dot| = $dw")
  }

  test("projections have descending variance and recover the planted amplitudes") {
    val df = plantedLowRank()
    val out = PCA.pcaProject(df, m = 3).orderBy("vec_id").collect()
    assert(out.length == 400)
    val byK = (0 until 3).map(k => out.map(_.getDouble(1 + k)))
    def variance(xs: Array[Double]): Double = {
      val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1)
    }
    val vars = byK.map(variance)
    assert(vars(0) > vars(1) && vars(1) > vars(2),
      s"projection variance must descend with component rank: $vars")
    // pc0 tracks the planted dominant amplitude a_i (up to sign)
    val a = Array.tabulate(400)(i => 5.0 * math.cos(i * 0.7))
    def corr(x: Array[Double], y: Array[Double]): Double = {
      val mx = x.sum / x.length; val my = y.sum / y.length
      val cov = x.zip(y).map { case (p, q) => (p - mx) * (q - my) }.sum
      val sx = math.sqrt(x.map(p => (p - mx) * (p - mx)).sum)
      val sy = math.sqrt(y.map(q => (q - my) * (q - my)).sum)
      cov / (sx * sy)
    }
    assert(math.abs(corr(byK(0), a)) > 0.999,
      "pc0 scores must recover the planted dominant amplitude")
    // cross-component projections are uncorrelated
    assert(math.abs(corr(byK(0), byK(1))) < 0.02,
      "pc0 and pc1 scores must be uncorrelated")
  }

  test("d13 is deterministic and conserves total variance on the real table") {
    val run1 = operators.PCA.d13.run(spark, sfDir).collect().toSeq
    val run2 = operators.PCA.d13.run(spark, sfDir).collect().toSeq
    assert(run1 == run2, "rounded stats + Jacobi must make PCA reproducible")
    assert(run1.size == 1)
    // the full-dim rotation preserves the trace (2dp, the oracle's bound)
    assert(run1.head.getDouble(1) == run1.head.getDouble(2),
      s"projected total variance drifted from input trace: ${run1.head}")
  }

  test("SVD recovers planted singular structure with orthonormal left coordinates") {
    val df = plantedLowRank()
    val (sv, vecs) = PCA.singularValues(df, m = 3)
    assert(sv(0) > sv(1) && sv(1) > sv(2), s"singular values must descend: ${sv.toSeq}")
    // planted: dominant energy along u = 1/sqrt(8) * ones; amplitudes
    // a_i = 5cos(.7i) -> sigma_0 ~ sqrt(sum a_i^2) ~ 5*sqrt(200) ~ 70.7
    assert(sv(0) > 60 && sv(0) < 80, s"sigma_0 = ${sv(0)} out of the planted range")
    // right vectors orthonormal
    for (k <- vecs.indices; l <- k until vecs.length) {
      val d = vecs(k).zip(vecs(l)).map { case (a, b) => a * b }.sum
      val want = if (k == l) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-9, s"v$k . v$l = $d, want $want")
    }
    // U columns orthonormal: sum of squares of each left coordinate = 1,
    // cross-column dot = 0 (up to the planted 1% noise floor)
    val u = PCA.svdProject(df, m = 2).orderBy("vec_id").collect()
    val u0 = u.map(_.getDouble(1)); val u1 = u.map(_.getDouble(2))
    assert(math.abs(u0.map(x => x * x).sum - 1.0) < 1e-3)
    assert(math.abs(u1.map(x => x * x).sum - 1.0) < 1e-3)
    assert(math.abs(u0.zip(u1).map { case (a, b) => a * b }.sum) < 1e-3)
  }

  test("rank-2 reconstruction from the thin SVD matches the planted rows") {
    val df = plantedLowRank()
    val (sv, vecs) = PCA.singularValues(df, m = 2)
    val rows = df.orderBy("vec_id").collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val u = PCA.svdProject(df, m = 2).orderBy("vec_id").collect()
    var errSq = 0.0; var totSq = 0.0
    for (i <- rows.indices) {
      val rec = Array.tabulate(8)(d =>
        sv(0) * u(i).getDouble(1) * vecs(0)(d) + sv(1) * u(i).getDouble(2) * vecs(1)(d))
      for (d <- 0 until 8) {
        errSq += math.pow(rows(i)(d) - rec(d), 2); totSq += math.pow(rows(i)(d), 2)
      }
    }
    assert(errSq / totSq < 1e-4,
      s"rank-2 reconstruction error ${errSq / totSq} on planted rank-2 (+1% noise) data")
  }

  test("covariance diagonal is the per-dimension sample variance") {
    val df = plantedLowRank()
    val entries = PCA.covarianceUpper(df, PCA.means(df)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(entries.size == 8 * 9 / 2)
    // independent check of one diagonal entry
    val xs = df.collect().map(_.getSeq[Float](1).head.toDouble)
    val mu = math.round(xs.sum / xs.length * 1e6) / 1e6
    val v = xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1)
    assert(math.abs(entries((1L, 1L)) - v) < 1e-4,
      s"cov(1,1) = ${entries((1L, 1L))} must match direct variance $v")
  }

  test("corr01 matrix agrees with the built-in pairwise corr and stays in [-1, 1]") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.PCA.corr01.run(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.size == 64 * 63 / 2)
    assert(got.values.forall(v => v >= -1.0 - 1e-6 && v <= 1.0 + 1e-6))
    val emb = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("p", "x")))
    def dim(i: Long) = emb.filter(col("p") === i)
      .select(col("x").cast("double").as(s"x$i"))
    Seq((1L, 2L), (5L, 40L), (63L, 64L)).foreach { case (i, j) =>
      val joined = Tables.embeddings(spark, sfDir).select(
        col("embedding")(i.toInt - 1).cast("double").as("a"),
        col("embedding")(j.toInt - 1).cast("double").as("b"))
      val want = joined.agg(corr("a", "b")).head.getDouble(0)
      assert(math.abs(got((i, j)) - want) < 1e-3,
        s"corr($i,$j) ${got((i, j))} vs built-in $want")
    }
  }
}
