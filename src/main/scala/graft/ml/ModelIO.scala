package graft.ml

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Trees

/** Model persistence (reference mllib/src/main/scala/org/apache/spark/
  * mllib/util/modelSaveLoad.scala:1 — `Saveable`/`Loader` with a
  * versioned metadata file beside parquet data), re-expressed for the
  * driver-held and distributed models this library trains.
  *
  * Layout per model under a caller-supplied `path`:
  *   path/metadata/   — ONE json line {class, version, params...},
  *                      written through Spark (works on any
  *                      Hadoop-visible filesystem, exactly the
  *                      reference's sc.parallelize(..., 1).saveAsTextFile
  *                      placement)
  *   path/<table>/    — parquet data, distributed write (factor tables
  *                      stay cluster-sized; driver-held structs are
  *                      bounded k×dim / node-count rows by construction)
  *
  * Loads VALIDATE class + format version before touching data, so a
  * wrong-path load fails loudly with the stored class name. Doubles and
  * floats round-trip parquet bit-exactly — every loader is
  * save→load→predict bit-identical (ModelIOSpec pins one round-trip per
  * family).
  */
object ModelIO {

  val FormatVersion = "1.0"

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def writeMeta(spark: SparkSession, path: String, clazz: String,
                        params: (String, String)*): Unit = {
    import spark.implicits._
    val json = (Seq("class" -> clazz, "version" -> FormatVersion) ++ params)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    Seq(json).toDS().coalesce(1).write.mode(SaveMode.Overwrite)
      .text(s"$path/metadata")
  }

  /** Parse the flat string-to-string metadata object (no nested values
    * by construction) and check class + version. */
  private def readMeta(spark: SparkSession, path: String,
                       expectClazz: String): Map[String, String] = {
    val txt = spark.read.textFile(s"$path/metadata").head()
    val m = """"((?:[^"\\]|\\.)+)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(txt)
      .map(mm => unescape(mm.group(1)) -> unescape(mm.group(2))).toMap
    require(m.get("class").contains(expectClazz),
      s"model at $path is class ${m.getOrElse("class", "?")}, expected $expectClazz")
    require(m.get("version").contains(FormatVersion),
      s"model at $path has format version ${m.getOrElse("version", "?")}, " +
        s"this reader supports $FormatVersion")
    m
  }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  // ---- k-means centers (k×dim floats, driver-held) ----

  def saveKMeans(spark: SparkSession, path: String,
                 centers: Array[Array[Float]]): Unit = {
    import spark.implicits._
    writeMeta(spark, path, "KMeansModel",
      "k" -> centers.length.toString, "dim" -> centers.head.length.toString)
    centers.zipWithIndex.toSeq
      .map { case (c, j) => (j, c.toSeq) }
      .toDF("cluster", "center").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centers")
  }

  def loadKMeans(spark: SparkSession, path: String): Array[Array[Float]] = {
    val meta = readMeta(spark, path, "KMeansModel")
    val k = meta("k").toInt
    val rows = spark.read.parquet(s"$path/centers").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
    require(rows.size == k, s"expected $k centers, found ${rows.size}")
    Array.tabulate(k)(rows)
  }

  // ---- GMM (diagonal covariance: means, vars, weights) ----

  def saveGmm(spark: SparkSession, path: String, means: Array[Array[Double]],
              vars: Array[Array[Double]], weights: Array[Double]): Unit = {
    import spark.implicits._
    writeMeta(spark, path, "GaussianMixtureModel",
      "k" -> means.length.toString, "dim" -> means.head.length.toString)
    means.indices.toSeq
      .map(j => (j, means(j).toSeq, vars(j).toSeq, weights(j)))
      .toDF("component", "mean", "variance", "weight").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/gaussians")
  }

  def loadGmm(spark: SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Double]], Array[Double]) = {
    val meta = readMeta(spark, path, "GaussianMixtureModel")
    val k = meta("k").toInt
    val rows = spark.read.parquet(s"$path/gaussians").collect()
      .map(r => r.getInt(0) ->
        (r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray, r.getDouble(3)))
      .toMap
    require(rows.size == k, s"expected $k components, found ${rows.size}")
    (Array.tabulate(k)(rows(_)._1), Array.tabulate(k)(rows(_)._2),
      Array.tabulate(k)(rows(_)._3))
  }

  // ---- decision trees / forests / boosted ensembles ----

  private type TreeRows = (Seq[(Int, Trees.Split)], Seq[(Int, String)], Seq[(Int, Double)])

  /** The one writer behind every tree family: metadata, then the one-file
    * `nodes` table — split rows carry (feature, bin), leaf rows carry the
    * payload; `tree` distinguishes ensemble members (0 for a single tree). */
  private def writeTrees(spark: SparkSession, path: String, clazz: String,
                         trees: Seq[TreeRows], params: (String, String)*): Unit = {
    import spark.implicits._
    writeMeta(spark, path, clazz, params: _*)
    trees.zipWithIndex.flatMap { case ((splits, leafC, leafV), t) =>
      splits.map { case (n, s) =>
        (t, "split", n, s.feature, s.thresholdBin, null: String, null: java.lang.Double) } ++
        leafC.map { case (n, c) =>
          (t, "leafc", n, -1, -1, c, null: java.lang.Double) } ++
        leafV.map { case (n, v) =>
          (t, "leafv", n, -1, -1, null: String, java.lang.Double.valueOf(v)) }
    }.toDF("tree", "kind", "node", "feature", "bin", "cls", "value")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/nodes")
  }

  private def readTreeRows(spark: SparkSession, path: String)
      : Map[Int, (Map[Int, Trees.Split], Map[Int, String], Map[Int, Double])] = {
    val rows = spark.read.parquet(s"$path/nodes").collect()
    rows.groupBy(_.getInt(0)).map { case (t, rs) =>
      val splits = rs.filter(_.getString(1) == "split")
        .map(r => r.getInt(2) -> Trees.Split(r.getInt(2), r.getInt(3), r.getInt(4)))
        .toMap
      val leafC = rs.filter(_.getString(1) == "leafc")
        .map(r => r.getInt(2) -> r.getString(5)).toMap
      val leafV = rs.filter(_.getString(1) == "leafv")
        .map(r => r.getInt(2) -> r.getDouble(6)).toMap
      t -> ((splits, leafC, leafV))
    }
  }

  def saveTree(spark: SparkSession, path: String, model: Trees.Model): Unit =
    writeTrees(spark, path, "DecisionTreeModel",
      Seq((model.splits.toSeq, model.leafClass.toSeq, Nil)), "depth" -> model.depth.toString)

  def loadTree(spark: SparkSession, path: String): Trees.Model = {
    val meta = readMeta(spark, path, "DecisionTreeModel")
    val (splits, leafC, _) = readTreeRows(spark, path)(0)
    Trees.Model(splits, leafC, meta("depth").toInt)
  }

  def saveForest(spark: SparkSession, path: String,
                 models: Seq[Trees.Model]): Unit =
    writeTrees(spark, path, "RandomForestModel",
      models.map(m => (m.splits.toSeq, m.leafClass.toSeq, Nil)),
      "numTrees" -> models.size.toString, "depth" -> models.head.depth.toString)

  def loadForest(spark: SparkSession, path: String): Seq[Trees.Model] = {
    val meta = readMeta(spark, path, "RandomForestModel")
    val depth = meta("depth").toInt
    val byTree = readTreeRows(spark, path)
    (0 until meta("numTrees").toInt).map { t =>
      val (splits, leafC, _) = byTree(t)
      Trees.Model(splits, leafC, depth)
    }
  }

  def saveRegressionTree(spark: SparkSession, path: String,
                         model: Trees.RModel): Unit =
    writeTrees(spark, path, "RegressionTreeModel",
      Seq((model.splits.toSeq, Nil, model.leafValue.toSeq)), "depth" -> model.depth.toString)

  def loadRegressionTree(spark: SparkSession, path: String): Trees.RModel = {
    val meta = readMeta(spark, path, "RegressionTreeModel")
    val (splits, _, leafV) = readTreeRows(spark, path)(0)
    Trees.RModel(splits, leafV, meta("depth").toInt)
  }

  /** GBT ensemble: F(x) = f0 + shrink·Σ trees(x). */
  def saveGbt(spark: SparkSession, path: String, f0: Double, shrink: Double,
              trees: Seq[Trees.RModel]): Unit =
    writeTrees(spark, path, "GradientBoostedTreesModel",
      trees.map(m => (m.splits.toSeq, Nil, m.leafValue.toSeq)),
      "numTrees" -> trees.size.toString, "depth" -> trees.head.depth.toString,
      "f0" -> java.lang.Double.toHexString(f0),
      "shrink" -> java.lang.Double.toHexString(shrink))

  def loadGbt(spark: SparkSession, path: String)
      : (Double, Double, Seq[Trees.RModel]) = {
    val meta = readMeta(spark, path, "GradientBoostedTreesModel")
    val depth = meta("depth").toInt
    val byTree = readTreeRows(spark, path)
    val trees = (0 until meta("numTrees").toInt).map { t =>
      val (splits, _, leafV) = byTree(t)
      Trees.RModel(splits, leafV, depth)
    }
    // hex round-trip keeps f0/shrink bit-exact through the string metadata
    (java.lang.Double.parseDouble(meta("f0")),
      java.lang.Double.parseDouble(meta("shrink")), trees)
  }

  // ---- word2vec vocabulary vectors (a DataFrame already) ----

  def saveWord2Vec(path: String, vectors: DataFrame): Unit = {
    val spark = vectors.sparkSession
    val dim = vectors.select(size(col("embedding"))).head().getInt(0)
    writeMeta(spark, path, "Word2VecModel", "dim" -> dim.toString)
    vectors.select("word", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/vectors")
  }

  def loadWord2Vec(spark: SparkSession, path: String): DataFrame = {
    readMeta(spark, path, "Word2VecModel")
    spark.read.parquet(s"$path/vectors")
  }

  // ---- ALS factor tables (distributed, MatrixFactorizationModel.scala:1) ----

  def saveAlsFactors(path: String, userF: DataFrame, itemF: DataFrame): Unit = {
    val spark = userF.sparkSession
    val dim = userF.select(size(col("f"))).head().getInt(0)
    writeMeta(spark, path, "MatrixFactorizationModel", "dim" -> dim.toString)
    userF.select("u", "f").write.mode(SaveMode.Overwrite).parquet(s"$path/userFactors")
    itemF.select("i", "f").write.mode(SaveMode.Overwrite).parquet(s"$path/itemFactors")
  }

  def loadAlsFactors(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    readMeta(spark, path, "MatrixFactorizationModel")
    (spark.read.parquet(s"$path/userFactors"),
      spark.read.parquet(s"$path/itemFactors"))
  }

  // ---- SVD++ serving state (graft.operators.Recommender.SvdppModel) ----

  def saveSvdpp(path: String, model: graft.operators.Recommender.SvdppModel): Unit = {
    val spark = model.userX.sparkSession
    writeMeta(spark, path, "SvdppModel")
    model.userX.select("u", "x", "bu")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/userFactors")
    model.itemQ.select("i", "q", "bi")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/itemFactors")
    model.mu.write.mode(SaveMode.Overwrite).parquet(s"$path/mu")
  }

  /** @return (userX, itemQ, mu) ready for
    *         [[graft.operators.Recommender.svdPlusPlusPredict]] */
  def loadSvdpp(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame) = {
    readMeta(spark, path, "SvdppModel")
    (spark.read.parquet(s"$path/userFactors"),
      spark.read.parquet(s"$path/itemFactors"),
      spark.read.parquet(s"$path/mu"))
  }
}
