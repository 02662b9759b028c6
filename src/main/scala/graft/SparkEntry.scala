package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every registered operator (SURVEY.md §2) from the module
  * registries. Each entry pairs a Spark implementation with, where
  * SQL-expressible, a DuckDB oracle over the same parquet tables.
  */
object SparkEntry {

  private def registry: Seq[Q] =
    operators.Relational.all ++ operators.Analytics.all ++
      operators.EventTime.all ++ operators.SkewTools.all ++
      operators.TextOps.all ++ operators.Bpe.all ++ operators.Perplexity.all ++
      operators.Word2Vec.all ++
      operators.Classify.all ++
      operators.Features.all ++ operators.Recommender.all ++
      operators.Regression.all ++ operators.Trees.all ++
      operators.Matrices.all ++
      operators.Topics.all ++ operators.Patterns.all ++
      operators.Similarity.all ++
      operators.Clusters.all ++ operators.Bucketed.all ++
      operators.Embeddings.all ++ operators.PCA.all ++
      operators.SemanticDedup.all ++
      operators.Graphs.all ++
      operators.Multimodal.all ++ operators.Stats.all ++
      operators.Evaluation.all ++ sources.RandomData.all ++
      ml.Optimize.all ++ operators.Sketches.all ++ operators.Layout.all

  /** The local session of the mains (Verify, Bench, PlanDump, ScaleGen):
    * `local[N]` with N shuffle partitions, N from `SPARK_GRAFT_CPUS` or
    * else `defaultCpus`; UTC session time zone, no UI, WARN logging.
    * `conf` adds settings. */
  def localSession(defaultCpus: Int, conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q01.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Production twins of the certificate-carrying entries (the 23
    * built by [[Q.audited]]): each is its entry's own body run with
    * `audit = false`, so the oracle certificate (exact recounts, in-plan
    * re-derivations, per-iteration measured claims) is left out and the
    * operator's serving output comes back instead. Bench times these
    * alongside the gated plans and reports them as `t_prod`, so
    * throughput can be read against production plans directly. */
  def prodQueries: Map[String, (SparkSession, String) => DataFrame] =
    registry.flatMap(q => q.prod.map(q.name -> _)).toMap
}
