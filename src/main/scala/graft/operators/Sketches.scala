package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.GraftFunctions.{bloomFilterAgg, mightContain}

/** Probabilistic sketch operators — the two classic 100 TB pruning /
  * frequency tools alongside q30's HLL and q41's percentile sketch:
  * Bloom-filter semi-join pruning (Spark's own runtime-filter shape,
  * reference analog: the broadcast-hash-set pruning a native engine
  * does before a big probe) and Count-Min frequency estimation.
  *
  * Both follow the q30/q41 claim-flag oracle pattern: exact values the
  * oracle re-derives (integer counts) plus in-plan certificates of the
  * sketch's guarantee — the PROVABLE side asserted exactly (no false
  * negatives; CMS never underestimates) and the probabilistic side as a
  * documented measured bound.
  */
object Sketches {

  /** Build a Bloom filter over `keyCol` of `build` as a ONE-ROW binary
    * sketch (`bloomFilterAgg` — executor-side aggregation, the sketch
    * never round-trips through the driver) and return `probe` rows
    * passing `mightContain` on `probeCol`. The sketch is a scalar
    * subquery (the runtime-filter contract: the Bloom argument must be
    * foldable or one): it executes once, and its result reaches every
    * probe task as a literal. This is Spark's runtime row-level-filter
    * shape made explicit: at 100 TB the probe-side parquet scan drops
    * non-candidate rows BEFORE the shuffle/join, at the cost of a
    * bounded bit array per executor. The plan names nothing in the
    * session, so concurrent callers cannot clobber each other. */
  def bloomPrune(build: DataFrame, keyCol: String,
                 probe: DataFrame, probeCol: String,
                 expectedItems: Long, numBits: Long): DataFrame = {
    val bloom = build.agg(bloomFilterAgg(xxhash64(col(keyCol)), expectedItems, numBits))
    probe.filter(mightContain(bloom.scalar(), xxhash64(col(probeCol))))
  }

  /** Registered pass: prune lineitem to rows whose order is URGENT via
    * a Bloom filter built on the urgent orderkeys — the semi-join
    * runtime-filter pattern. Per returnflag the entry emits the EXACT
    * match count (a true semi-join, DuckDB-verified integer) plus two
    * certificates: `no_false_negatives` asserts the Bloom-passed count
    * is >= the exact count in every group (the Bloom property — a
    * false negative would break it exactly), and `fp_rate_bounded`
    * asserts the spill (passed − exact) stays under 10% of the
    * non-member population (at 8 bits/key the theoretical fp rate is
    * ~2%; the 10% band absorbs hash-seed variance, documented
    * measured-claim). SketchesSpec pins the raw fp rate and the
    * planted-membership behavior. */
  val bf01 = Q.sql(
    "bf01_bloom_prune",
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS exact_matches,
      |  TRUE AS no_false_negatives, TRUE AS fp_rate_bounded
      |FROM lineitem
      |WHERE l_orderkey IN
      |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val passed = bloomPrune(urgent, "o_orderkey", li, "l_orderkey",
      expectedItems = 200000L, numBits = 1600000L)
      .groupBy("l_returnflag").agg(count(lit(1)).as("bloom_cnt"))
    val exact = li.join(urgent.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("exact_matches"))
    val totals = li.groupBy("l_returnflag").agg(count(lit(1)).as("total"))
    exact.join(passed, "l_returnflag").join(totals, "l_returnflag")
      .select(col("l_returnflag"), col("exact_matches"),
        (col("bloom_cnt") >= col("exact_matches")).as("no_false_negatives"),
        (col("bloom_cnt") - col("exact_matches") <=
          (col("total") - col("exact_matches")) * 0.10).as("fp_rate_bounded"))
      .orderBy("l_returnflag")
  }.withProd { (s, dir) =>
    // production path: build + broadcast + pruned scan — no exact
    // semi-join scoring the sketch
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    bloomPrune(urgent, "o_orderkey", Tables.lineitem(s, dir), "l_orderkey",
      expectedItems = 200000L, numBits = 1600000L)
      .groupBy("l_returnflag").agg(count(lit(1)).as("candidate_cnt"))
  }

  /** Count-Min frequency estimates for a candidate key set: ONE
    * count_min_sketch aggregation pass (executor-side partial merge,
    * fixed eps×conf cells), the bounded sketch deserialized once on the
    * driver, candidate keys scored against it as plan literals. */
  def cmsEstimates(df: DataFrame, keyCol: Column, eps: Double, conf: Double,
                   seed: Int, candidates: Seq[String]): Map[String, Long] = {
    val bytes = df.agg(
      expr(s"count_min_sketch($keyCol, ${eps}d, ${conf}d, $seed)").as("s"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    candidates.map(k => k -> cms.estimateCount(k)).toMap
  }

  /** Registered pass: Count-Min estimates of the order-priority
    * frequencies. The candidate set is the 5 known priorities (bounded,
    * DuckDB-enumerable); the entry emits each key's EXACT count (the
    * oracle-verified integer) plus `overestimate` — CMS can NEVER
    * undercount, a provable guarantee asserted exactly — and
    * `within_eps`, the probabilistic bound est <= exact + eps·N at
    * eps=0.001 / conf=0.99 (measured claim; one sketch over ~N rows
    * makes the slack eps·N ≈ 0.1% of the table). */
  val cm01 = Q.sql(
    "cm01_count_min",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS exact_cnt,
      |  TRUE AS overestimate, TRUE AS within_eps
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val exact = orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("exact_cnt"))
    val n = orders.count()
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val est = cmsEstimates(orders, col("o_orderpriority"),
      eps = 0.001, conf = 0.99, seed = 42, candidates = prios)
    val estDf = prios.map(p => (p, est(p))).toDF("o_orderpriority", "est")
    exact.join(broadcast(estDf), "o_orderpriority")
      .select(col("o_orderpriority"), col("exact_cnt"),
        (col("est") >= col("exact_cnt")).as("overestimate"),
        (col("est") <= col("exact_cnt") + lit(0.001 * n)).as("within_eps"))
      .orderBy("o_orderpriority")
  }

  val all: Seq[Q] = Seq(bf01, cm01)
}
