package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Skew mitigation — the query-layer face of the Lever re-expression
  * (SURVEY.md §2.3). Where the reference re-placed *input blocks* before
  * scheduling (JobMonitor.sendDataToCertainLocation), a shuffle engine
  * mitigates the same stragglers by changing the *shuffle key space*:
  * salting hot keys and re-aggregating, or bucketing rows by a weighted
  * range so faster nodes own more buckets. All transforms are
  * semantically invisible — each lb query's oracle is the *plain*
  * equivalent, which is exactly the property that makes them safe at
  * 100 TB.
  */
object SkewTools {

  /** Salted equi-join: fact rows fan out over `nSalts` sub-keys (derived
    * from a non-key column so one hot key spreads across partitions); the
    * dim side is exploded once per salt. Result == plain inner join. */
  def saltedJoin(
      fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String,
      saltSrc: String, nSalts: Int): DataFrame = {
    val salted = fact.withColumn("_salt", pmod(xxhash64(col(saltSrc)), lit(nSalts)).cast("int"))
    val exploded = dim.withColumn("_salt", explode(array((0 until nSalts).map(lit): _*)))
    salted.join(exploded, salted("_salt") === exploded("_salt") &&
        col(factKey) === col(dimKey))
      .drop("_salt")
  }

  /** Two-phase aggregation: partial agg on (key, salt), final agg on key.
    * A hot group is computed by nSalts tasks instead of one. */
  def twoPhaseAgg(
      df: DataFrame, key: String, valueCol: String,
      saltSrc: String, nSalts: Int): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(col(saltSrc)), lit(nSalts)).cast("int"))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(valueCol).as("_sum"))
      .groupBy(col(key))
      .agg(sum("_n").as("n"), round(sum("_sum"), 2).as("total_value"))

  /** Weighted range bucketing: rows land in `weights.size` buckets with
    * frequency proportional to weight, using a deterministic uniform
    * derived from `uniformCol` (k mod 1000 / 1000). Combined with
    * repartitionByRange ([[weightedRepartition]]) this grants capable
    * nodes more rows: Lever's capacity placement, with weights from
    * [[graft.streaming.Capacity.Assignment.shares]]. */
  def weightedBucket(uniformCol: Column, weights: Seq[Double]): Column = {
    val total = weights.sum
    // integer thresholds out of 1000 — float cumulative sums would move a
    // boundary by one ulp and misplace an entire residue class
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(w => math.round(w / total * 1000).toInt)
    val m = pmod(uniformCol, lit(1000))
    cum.init.zipWithIndex.reverse.foldLeft(lit(weights.size - 1): Column) {
      case (acc, (c, i)) => when(m < c, i).otherwise(acc)
    }
  }

  def weightedRepartition(df: DataFrame, uniformCol: String, weights: Seq[Double]): DataFrame =
    df.withColumn("_bucket", weightedBucket(col(uniformCol), weights))
      .repartitionByRange(weights.size, col("_bucket"))

  // ---- registered queries (oracle = the UNsalted plain equivalent) ----

  /** Salted fact-dim join must equal the plain join+agg. */
  val lb01 = Q.sql(
    "lb01_salted_join",
    """SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    saltedJoin(Tables.events(s, dir), Tables.customer(s, dir),
      "user_id", "c_custkey", "event_id", 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("c_mktsegment")
  }

  /** Two-phase salted aggregation must equal the plain GROUP BY. */
  val lb02 = Q.sql(
    "lb02_skew_agg",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    twoPhaseAgg(Tables.events(s, dir), "event_type", "value", "event_id", 16)
      .orderBy("event_type")
  }

  /** Weighted bucketing is deterministic, so even the physical placement
    * input (bucket histogram) is oracle-checkable in SQL. */
  val lb03 = Q.sql(
    "lb03_weighted_repartition",
    """SELECT bucket, count(*) AS n FROM (
      |  SELECT CASE WHEN (l_orderkey % 1000) < 400 THEN 0
      |              WHEN (l_orderkey % 1000) < 700 THEN 1
      |              WHEN (l_orderkey % 1000) < 900 THEN 2
      |              ELSE 3 END AS bucket
      |  FROM lineitem) t
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (s, dir) =>
    weightedRepartition(Tables.lineitem(s, dir), "l_orderkey", Seq(0.4, 0.3, 0.2, 0.1))
      .groupBy(col("_bucket").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  val all: Seq[Q] = Seq(lb01, lb02, lb03)
}
