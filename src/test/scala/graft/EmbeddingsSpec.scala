package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import graft.operators.Embeddings

class EmbeddingsSpec extends SparkTestBase {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  test("k-means recovers planted orthogonal blobs exactly") {
    val dim = 64
    // 3 near-orthogonal blobs, interleaved ids (i % 3)
    val rows: java.util.List[Row] = new java.util.ArrayList()
    for (i <- 0 until 30) {
      val g = i % 3
      val v = Array.fill(dim)(0.001f * ((i * 7 + 3) % 5))
      v(g * 20) = 1.0f
      rows.add(Row(i.toLong, v.toSeq))
    }
    val df = spark.createDataFrame(rows, embSchema)
    val out = Embeddings.kmeansAssign(df, k = 3, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (i <- 0 until 30)
      assert(out(i) == out(i % 3), s"vec $i must cluster with its blob seed ${i % 3}")
    assert(Set(out(0L), out(1L), out(2L)).size == 3, "blobs must map to distinct clusters")
  }

  test("k-means|| seeding recovers blobs even when all small ids share one blob") {
    val dim = 64
    // ids 0-9 are ALL in blob 0 — first-k init would put every seed in
    // one dense region; k-means|| must still spread seeds across blobs
    val rows: java.util.List[Row] = new java.util.ArrayList()
    for (i <- 0 until 30) {
      val g = i / 10
      val v = Array.fill(dim)(0.001f * ((i * 7 + 3) % 5))
      v(g * 20) = 1.0f
      rows.add(Row(i.toLong, v.toSeq))
    }
    val df = spark.createDataFrame(rows, embSchema)
    val out = Embeddings.kmeansAssign(df, k = 3, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (i <- 0 until 30)
      assert(out(i) == out((i / 10) * 10), s"vec $i must cluster with its blob")
    assert(Set(out(0L), out(10L), out(20L)).size == 3,
      "k-means|| seeds must land in all three blobs")
  }

  test("d08 certifies argmax assignment, is deterministic, and uses multiple clusters") {
    val run1 = Embeddings.d08.run(spark, sfDir).collect().toSeq
    val run2 = Embeddings.d08.run(spark, sfDir).collect().toSeq
    assert(run1 == run2, "fixed init + fixed iterations must be reproducible")
    assert(run1.size == Tables.embeddings(spark, sfDir).count())
    assert(run1.forall(_.getBoolean(1)),
      "every assignment must be the argmax over the emitted centroids")
    val assign = Embeddings.kmeansAssign(Tables.embeddings(spark, sfDir), k = 8, iters = 10)
    assert(assign.select("cluster").distinct().count() >= 2,
      "clustering must not collapse to one cluster")
  }

  test("d11 int8 codes reconstruct within scale/2 and preserve nearest neighbors") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val codes = Embeddings.d11.run(spark, sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getLong(2).toInt)
      }
    assert(codes.size == emb.size)
    // symmetric quantization bound: |x - q*scale| <= scale/2, codes in [-127,127]
    emb.foreach { case (id, v) =>
      val scale = v.map(math.abs).max / 127.0
      val q = codes(id)
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $id code out of range")
      v.zip(q).foreach { case (x, c) =>
        assert(math.abs(x - c * scale) <= scale / 2 + 1e-9,
          s"vec $id reconstruction error beyond scale/2")
      }
    }
    // the index built from int8 codes must find (almost) the same top-5
    // cosine neighbors as float32 for the d05 query set
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = emb.keys.toSeq.sorted
    var hits = 0
    for (qid <- ids.take(10)) {
      def top5(vecs: Map[Long, Array[Double]]) =
        ids.filter(_ != qid)
          .map(c => (cos(vecs(qid), vecs(c)), c)).sortBy(t => (-t._1, t._2))
          .take(5).map(_._2).toSet
      val exact = top5(emb.map { case (k, v) => k -> v.map(_.toDouble) })
      val quant = top5(codes.map { case (k, q) => k -> q.map(_.toDouble) })
      hits += exact.intersect(quant).size
    }
    assert(hits >= 40, s"int8 recall@5 too low: $hits/50")
  }

  test("GMM recovers planted unequal blobs with calibrated weights, deterministically") {
    val dim = 8
    // three axis-aligned blobs with different sizes AND spreads:
    // 100 tight at e0, 60 medium at e1, 40 loose at e2 — deterministic
    // per-point jitter from (i, p) hashing
    def jitter(i: Int, p: Int, scale: Float): Float =
      scale * (((i * 31 + p * 7 + 13) % 11) - 5) / 10.0f
    val sizes = Seq(100, 60, 40)
    val spread = Seq(0.02f, 0.05f, 0.1f)
    val rows: java.util.List[Row] = new java.util.ArrayList()
    var id = 0L
    for (g <- 0 until 3; _ <- 0 until sizes(g)) {
      val v = Array.tabulate(dim)(p => jitter(id.toInt, p, spread(g)))
      v(g) = 1.0f + v(g)
      rows.add(Row(id, v.toSeq)); id += 1
    }
    val emb = spark.createDataFrame(rows, embSchema)
    val got = Embeddings.gmmAssign(emb, k = 3, iters = 8).cache()
    // each planted blob maps to ONE component, components are distinct
    val byBlob = got.collect().map { r =>
      val blob = if (r.getLong(0) < 100) 0 else if (r.getLong(0) < 160) 1 else 2
      (blob, r.getInt(1))
    }
    val majority = (0 until 3).map { b =>
      byBlob.filter(_._1 == b).groupBy(_._2).maxBy(_._2.length)._1
    }
    assert(majority.distinct.length == 3, s"blobs merged into components: $majority")
    val mismatches = byBlob.count { case (b, c) => c != majority(b) }
    assert(mismatches <= 10, s"$mismatches/200 points misassigned")
    // responsibilities must be confident for tight clusters
    assert(got.filter(org.apache.spark.sql.functions.col("resp") < 0.9).count() <= 20)
    val again = Embeddings.gmmAssign(emb, k = 3, iters = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val first = got.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(first == again, "EM must be deterministic")
  }

  test("full-covariance GMM recovers planted correlated blobs with the right covariance signs") {
    val dim = 4
    // two blobs whose SHAPE (not just location) carries signal: blob 0
    // has strongly positively correlated dims (0,1), blob 1 negatively —
    // deterministic per-point jitter, no RNG
    def t(i: Int, salt: Int): Double = (((i * 7 + salt * 13) % 21) - 10) / 10.0
    val rows: java.util.List[Row] = new java.util.ArrayList()
    var id = 0L
    for (g <- 0 until 2; _ <- 0 until 120) {
      val i = id.toInt
      val sgn = if (g == 0) 1.0 else -1.0
      val c = if (g == 0) 2.0 else -2.0
      val v = Array(
        (c + 0.5 * t(i, 1)).toFloat,
        (c + sgn * 0.5 * t(i, 1) + 0.1 * t(i, 2)).toFloat,
        (0.1 * t(i, 3)).toFloat,
        (0.1 * t(i, 4)).toFloat)
      rows.add(Row(id, v.toSeq)); id += 1
    }
    val emb = spark.createDataFrame(rows, embSchema)
    val base = emb.select(
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding")).localCheckpoint()
    val (means, covs, weights) = Embeddings.gmmFullFit(base, k = 2, iters = 6)
    // map planted blobs to components by mean sign on dim 0
    val compOf = (g: Int) => {
      val want = if (g == 0) 1.0 else -1.0
      (0 until 2).maxBy(j => means(j)(0) * want)
    }
    val cA = compOf(0)
    val cB = compOf(1)
    assert(cA != cB, s"components collapsed: means ${means.map(_.toSeq).toSeq}")
    assert(math.abs(means(cA)(0) - 2.0) < 0.2 && math.abs(means(cB)(0) + 2.0) < 0.2,
      s"means off: ${means.map(_.toSeq).toSeq}")
    // the full-Σ payoff: recovered off-diagonal signs match the plant
    assert(covs(cA)(0)(1) > 0.05,
      s"blob-0 cov(0,1) should be strongly positive, got ${covs(cA)(0)(1)}")
    assert(covs(cB)(0)(1) < -0.05,
      s"blob-1 cov(0,1) should be strongly negative, got ${covs(cB)(0)(1)}")
    assert(math.abs(weights(cA) - 0.5) < 0.05 && math.abs(weights(cB) - 0.5) < 0.05)
    // assignment recovers the blobs through the full-Σ densities
    val got = Embeddings.gmmFullAssign(emb, k = 2, iters = 6).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val wrong = (0 until 240).count { i =>
      got(i.toLong) != (if (i < 120) cA else cB)
    }
    assert(wrong <= 5, s"$wrong/240 points misassigned")
    // deterministic end-to-end
    val again = Embeddings.gmmFullAssign(emb, k = 2, iters = 6).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == again, "full-covariance EM must be deterministic")
  }

  test("gmmRespFrame temp names never collide with caller columns; taken `out` fails loudly") {
    import org.apache.spark.sql.functions._
    val rows: java.util.List[Row] = new java.util.ArrayList()
    rows.add(Row(0L, Seq(1.0f, 0.0f))); rows.add(Row(1L, Seq(0.0f, 1.0f)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val base = spark.createDataFrame(rows, schema)
    val means = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val vars = Array(Array(0.1, 0.1), Array(0.1, 0.1))
    val ws = Array(0.5, 0.5)
    val clean = Embeddings.gmmRespFrame(base, means, vars, ws)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    // a frame already carrying the r15-era fixed temp names (_xx, _m,
    // _ld0, …) must produce the SAME responsibilities, columns intact
    val noisy = base.withColumn("_xx", lit("taken"))
      .withColumn("_m", lit(7)).withColumn("_ld0", lit(0.0))
    val got = Embeddings.gmmRespFrame(noisy, means, vars, ws)
    assert(got.columns.toSeq ==
      Seq("vec_id", "embedding", "_xx", "_m", "_ld0", "rs"))
    val vals = got.collect().map(r => r.getLong(0) -> r.getSeq[Double](5)).toMap
    assert(vals == clean, "caller columns shadowing temp names changed the math")
    val err = intercept[IllegalArgumentException] {
      Embeddings.gmmRespFrame(base.withColumn("rs", lit(1)), means, vars, ws)
    }
    assert(err.getMessage.contains("already exists"), err.getMessage)
  }

  test("gmmRespFrame returns responsibilities on a session nothing was registered into") {
    val fresh = spark.newSession()
    val rows: java.util.List[Row] = new java.util.ArrayList()
    rows.add(Row(0L, Seq(1.0f, 0.0f))); rows.add(Row(1L, Seq(0.0f, 1.0f)))
    val base = fresh.createDataFrame(rows, embSchema)
    val got = Embeddings.gmmRespFrame(base, Array(Array(1.0, 0.0), Array(0.0, 1.0)),
        Array(Array(0.1, 0.1), Array(0.1, 0.1)), Array(0.5, 0.5))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    // each point sits on its own component's mean: responsibilities sum
    // to one and favor that component
    assert(got.keySet == Set(0L, 1L))
    got.values.foreach(rs => assert(math.abs(rs.sum - 1.0) < 1e-12, rs))
    assert(got(0L)(0) > 0.99 && got(1L)(1) > 0.99, got)
  }

  test("d12 standardization: per-dimension mean ~0, stddev ~1, zero-variance dim -> NULL") {
    import org.apache.spark.sql.functions._
    val out = Embeddings.d12.run(spark, sfDir).cache()
    val stats = out.groupBy("dim_idx")
      .agg(avg("v").as("m"), stddev_samp("v").as("s"))
      .collect()
    assert(stats.length == 64)
    stats.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-4, s"dim ${r.getLong(0)} mean ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-3, s"dim ${r.getLong(0)} stddev ${r.getDouble(2)}")
    }
    // planted constant dimension: sigma = 0 must yield NULL, never ±inf/NaN
    val rows: java.util.List[Row] = new java.util.ArrayList()
    for (i <- 0 until 8) {
      val v = Array.fill(4)(i.toFloat); v(2) = 7.5f
      rows.add(Row(i.toLong, v.toSeq))
    }
    val docs = spark.createDataFrame(rows, embSchema)
    docs.createOrReplaceTempView("graft_d12_tmp")
    val x = docs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("_p", "xf")))
      .select(col("vec_id"), (col("_p") + 1).cast("long").as("dim_idx"),
        col("xf").cast("double").as("x"))
    val st = x.groupBy("dim_idx")
      .agg(round(avg("x"), 6).as("mu"), round(stddev_samp("x"), 6).as("sigma"))
    val z = x.join(broadcast(st), Seq("dim_idx"))
      .select(col("dim_idx"),
        round((col("x") - col("mu")) / nullif(col("sigma"), lit(0.0)), 6).as("v"))
    assert(z.filter(col("dim_idx") === 3 && col("v").isNotNull).count() == 0,
      "constant dimension must standardize to NULL")
    assert(z.filter(col("dim_idx") =!= 3 && col("v").isNull).count() == 0)
  }
}
