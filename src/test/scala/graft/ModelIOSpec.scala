package graft

import org.apache.spark.sql.functions._
import graft.ml.ModelIO
import graft.operators.{Embeddings, Recommender, Trees, Word2Vec}

/** One save→load→bit-identical-predictions round-trip per model family
  * (reference mllib/util/modelSaveLoad.scala:1's Saveable/Loader
  * contract). */
class ModelIOSpec extends SparkTestBase {

  test("k-means centers round-trip bit-exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val (centers, assign) = Embeddings.kmeansModel(emb, k = 4, iters = 2)
    withTempDir("graft-modelio-kmeans") { path =>
      ModelIO.saveKMeans(spark, path, centers)
      val loaded = ModelIO.loadKMeans(spark, path)
      assert(loaded.length == centers.length)
      centers.zip(loaded).foreach { case (a, b) => assert(a.sameElements(b)) }
      // identical centers => identical assignments (the predict surface)
      val again = Embeddings.assignToCenters(emb, loaded)
      assert(assign.exceptAll(again).isEmpty && again.exceptAll(assign).isEmpty)
    }
  }

  test("GMM parameters round-trip bit-exactly") {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val (means, vars, weights) = Embeddings.gmmFit(base, k = 2, iters = 2)
    withTempDir("graft-modelio-gmm") { path =>
      ModelIO.saveGmm(spark, path, means, vars, weights)
      val (m2, v2, w2) = ModelIO.loadGmm(spark, path)
      means.zip(m2).foreach { case (a, b) => assert(a.sameElements(b)) }
      vars.zip(v2).foreach { case (a, b) => assert(a.sameElements(b)) }
      assert(weights.sameElements(w2))
    }
  }

  test("classification tree, forest, regression tree and GBT round-trip exactly") {
    import TestSpark.spark.implicits._
    val df = (0 until 400).map { i =>
      val x0 = (i % 20) / 20.0; val x1 = ((i * 7) % 20) / 20.0
      (x0, x1, if (x0 <= 0.5) "a" else "b", x0 * 3 + (if (x1 < 0.5) 1.0 else 5.0))
    }.toDF("x0", "x1", "label", "y")
    val fts = Seq(col("x0"), col("x1"))

    val model = Trees.train(df, fts, col("label"), depth = 2, bins = 20)._2
    withTempDir("graft-modelio-tree") { p1 =>
      ModelIO.saveTree(spark, p1, model)
      assert(ModelIO.loadTree(spark, p1) == model)

      val forest = Trees.forest(df, fts, col("label"),
        idCols = Seq(col("x0") * 100 + col("x1")), depth = 2, bins = 20,
        nTrees = 3, featuresPerTree = 2)._1
      withTempDir("graft-modelio-forest") { p2 =>
        ModelIO.saveForest(spark, p2, forest)
        assert(ModelIO.loadForest(spark, p2) == forest)

        val binned = Trees.binForRegression(df, fts, col("y"), bins = 20)
        val rmodel = Trees.trainRegressionBinned(binned, d = 2, depth = 2, bins = 20)
        withTempDir("graft-modelio-rtree") { p3 =>
          ModelIO.saveRegressionTree(spark, p3, rmodel)
          assert(ModelIO.loadRegressionTree(spark, p3) == rmodel)

          // a REAL trained GBT: train -> save -> load -> bit-identical predictions
          val (tf0, tshrink, ttrees, tmses, _) =
            Trees.trainGbt(df, fts, col("y"), rounds = 3, depth = 2, bins = 20, shrink = 0.5)
          assert(tmses.zip(tmses.drop(1)).forall { case (a, b) => b <= a * (1 + 1e-9) },
            "squared-loss GBT training MSE must be non-increasing")
          withTempDir("graft-modelio-gbt") { p4 =>
            ModelIO.saveGbt(spark, p4, tf0, tshrink, ttrees)
            val (f0, shrink, trees) = ModelIO.loadGbt(spark, p4)
            assert(f0 == tf0 && shrink == tshrink && trees == ttrees)
            val predBefore = binned
              .select(Trees.gbtPredictExpr(tf0, tshrink, ttrees, col("b")).as("p"))
              .collect().map(_.getDouble(0)).sorted
            val predAfter = binned
              .select(Trees.gbtPredictExpr(f0, shrink, trees, col("b")).as("p"))
              .collect().map(_.getDouble(0)).sorted
            assert(predBefore.sameElements(predAfter),
              "loaded GBT must predict bit-identically")

            // wrong-class load fails loudly with the stored class name
            val e = intercept[IllegalArgumentException](ModelIO.loadTree(spark, p4))
            assert(e.getMessage.contains("GradientBoostedTreesModel"))
          }
        }
      }
    }
  }

  test("word2vec vectors round-trip bit-exactly") {
    import TestSpark.spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, s"alpha beta ${if (i % 2 == 0) "gamma" else "delta"} epsilon zeta")
    }.toDF("doc_id", "text")
    val vecs = Word2Vec.train(docs, vocabSize = 8, dim = 4, iters = 2).cache()
    withTempDir("graft-modelio-w2v") { path =>
      ModelIO.saveWord2Vec(path, vecs)
      val loaded = ModelIO.loadWord2Vec(spark, path)
      assert(vecs.select("word", "embedding").exceptAll(loaded).isEmpty &&
        loaded.exceptAll(vecs.select("word", "embedding")).isEmpty)
      vecs.unpersist()
    }
  }

  test("ALS factor tables round-trip with bit-identical predictions") {
    import TestSpark.spark.implicits._
    val ratings = (for { u <- 0 until 20; i <- 0 until 15 if (u + i) % 3 == 0 }
      yield (u.toLong, i.toLong, ((u % 4) * (i % 3) + 1).toDouble))
      .toDF("u", "i", "r")
    val (uF, iF, _) = Recommender.alsFactors(ratings, dim = 4, iters = 2)
    val before = Recommender.alsPredict(ratings, uF, iF)
      .select("u", "i", "pred").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    withTempDir("graft-modelio-als") { path =>
      ModelIO.saveAlsFactors(path, uF, iF)
      val (u2, i2) = ModelIO.loadAlsFactors(spark, path)
      val after = Recommender.alsPredict(ratings, u2, i2)
        .select("u", "i", "pred").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(before.sameElements(after), "loaded ALS factors must predict bit-identically")
      // r16: the top-N serving surface round-trips too — saved factor
      // tables drive recommendProducts bit-identically (the r05 serving
      // path: broadcast catalog + native double_dot + TopKPerKey)
      val recsBefore = Recommender.recommendProducts(uF, iF, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sorted
      val recsAfter = Recommender.recommendProducts(u2, i2, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sorted
      assert(recsBefore.sameElements(recsAfter),
        "loaded ALS factors must serve bit-identical recommendations")
    }
  }

  test("SVD++ serving state round-trips with bit-identical predictions") {
    import TestSpark.spark.implicits._
    val ratings = (for { u <- 0 until 15; i <- 0 until 10 if (u + i) % 2 == 0 }
      yield (u.toLong, i.toLong, ((u + i) % 5 + 1).toDouble))
      .toDF("u", "i", "r")
    val model = Recommender.svdPlusPlusModel(ratings, dim = 4, iters = 2, track = false)
    val pairs = ratings.select("u", "i")
    val before = Recommender.svdPlusPlusPredict(pairs, model.userX, model.itemQ, model.mu)
      .select("u", "i", "pred").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    withTempDir("graft-modelio-svdpp") { path =>
      ModelIO.saveSvdpp(path, model)
      val (uX, iQ, mu) = ModelIO.loadSvdpp(spark, path)
      val after = Recommender.svdPlusPlusPredict(pairs, uX, iQ, mu)
        .select("u", "i", "pred").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(before.sameElements(after), "loaded SVD++ state must predict bit-identically")
      // the serving form agrees with the trainer's own scored predictions
      val trained = model.preds.select("u", "i", "pred").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(before.sameElements(trained),
        "serving-factor predictions must equal the trainer's scored frame")
    }
  }
}
