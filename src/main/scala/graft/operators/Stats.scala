package graft.operators

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.GraftFunctions.exactSum

/** Statistical aggregates and ordered selection — the DataFrame.stat /
  * min_by surface of the reference (SURVEY.md §2.1 q31-q33). */
object Stats {

  /** Pearson correlation, sample covariance and stddev per group. Both
    * engines use streaming co-moment formulas whose low bits differ, so
    * results are rounded at 6 dp (values are O(1)-O(1e4)). */
  val q31 = Q.sql(
    "q31_stat_agg",
    """SELECT l_returnflag,
      |  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
      |  round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_cov,
      |  round(stddev_samp(l_extendedprice), 4) AS price_sd,
      |  round(var_samp(l_quantity), 4) AS qty_var
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 6).as("qty_price_corr"),
        round(covar_samp("l_quantity", "l_discount"), 6).as("qty_disc_cov"),
        round(stddev_samp("l_extendedprice"), 4).as("price_sd"),
        round(var_samp("l_quantity"), 4).as("qty_var"))
      .orderBy("l_returnflag")
  }

  /** argmin/argmax with a tie-proof ordering key: prices have 2 decimals,
    * so price·10^5 + (orderkey mod 10^5) is unique and exactly
    * representable in a double on both engines. */
  val q32 = Q.sql(
    "q32_min_by",
    """SELECT o_orderpriority,
      |  arg_max(o_orderkey, o_totalprice * 100000 + (o_orderkey % 100000)) AS priciest_order,
      |  arg_min(o_orderkey, o_totalprice * 100000 + (o_orderkey % 100000)) AS cheapest_order,
      |  round(max(o_totalprice), 2) AS max_price
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val key = col("o_totalprice") * 100000 + pmod(col("o_orderkey"), lit(100000))
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        max_by(col("o_orderkey"), key).as("priciest_order"),
        min_by(col("o_orderkey"), key).as("cheapest_order"),
        round(max("o_totalprice"), 2).as("max_price"))
      .orderBy("o_orderpriority")
  }

  /** Regex extraction/replacement feeding an aggregate: customer id
    * parsed back out of the name, bucketed mod 7. */
  val q33 = Q.sql(
    "q33_regexp",
    """SELECT CAST(CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) % 7 AS BIGINT) AS id_bucket,
      |  count(*) AS n,
      |  min(regexp_replace(c_name, '[0-9]', '', 'g')) AS stripped
      |FROM customer
      |GROUP BY id_bucket
      |ORDER BY id_bucket""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .groupBy((regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long") % 7).as("id_bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(regexp_replace(col("c_name"), lit("[0-9]"), lit(""))).as("stripped"))
      .orderBy("id_bucket")
  }

  final case class CoGroupOut(key: Long, n_events: Long, n_orders: Long)

  /** Typed cogroup (the DStream/PairRDD cogroup surface): events and
    * orders grouped by their key meet in one function per key. The oracle
    * is the relational equivalent — a full outer join of two aggregates —
    * which is also the shape Catalyst would pick; cogroup exists for
    * per-key logic joins can't express, verified here on one it can. */
  val q34 = Q.sql(
    "q34_cogroup",
    """SELECT coalesce(e.user_id, o.o_custkey) AS key,
      |  coalesce(e.n, 0) AS n_events,
      |  coalesce(o.n, 0) AS n_orders
      |FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id) e
      |FULL JOIN (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) o
      |  ON e.user_id = o.o_custkey
      |ORDER BY key""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.{Encoders, Row}
    val evKV = Tables.events(s, dir).select(col("user_id"))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    val ordKV = Tables.orders(s, dir).select(col("o_custkey"))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
    implicit val outEnc = Encoders.product[CoGroupOut]
    evKV.cogroup(ordKV) { (key: Long, evs: Iterator[Row], ords: Iterator[Row]) =>
      Iterator.single(CoGroupOut(key, evs.size.toLong, ords.size.toLong))
    }.toDF().orderBy("key")
  }

  /** FULL OUTER join with side-tagging: customers vs event activity. */
  val q35 = Q.sql(
    "q35_full_outer",
    """SELECT coalesce(c_custkey, user_id) AS key,
      |  CASE WHEN c_custkey IS NULL THEN 'event_only'
      |       WHEN user_id IS NULL THEN 'customer_only'
      |       ELSE 'both' END AS side,
      |  coalesce(n_events, 0) AS n_events
      |FROM customer
      |FULL JOIN (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) e
      |  ON c_custkey = user_id
      |ORDER BY key""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir).groupBy("user_id").agg(count(lit(1)).as("n_events"))
    Tables.customer(s, dir)
      .join(e, col("c_custkey") === col("user_id"), "full")
      .select(
        coalesce(col("c_custkey"), col("user_id")).as("key"),
        when(col("c_custkey").isNull, "event_only")
          .when(col("user_id").isNull, "customer_only")
          .otherwise("both").as("side"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("key")
  }

  /** Bounded cartesian product: every (region, order status) cell. */
  val q36 = Q.sql(
    "q36_cross_join",
    """SELECT r_name, o_orderstatus, r_regionkey
      |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
      |ORDER BY r_name, o_orderstatus""".stripMargin) { (s, dir) =>
    Tables.region(s, dir)
      .crossJoin(Tables.orders(s, dir).select("o_orderstatus").distinct())
      .select("r_name", "o_orderstatus", "r_regionkey")
      .orderBy("r_name", "o_orderstatus")
  }

  final case class WAvgBuf(num: Double, den: Double)

  /** Custom typed Aggregator (the UDAF extension surface): weighted
    * average with an explicit merge — the same partial/final shape
    * Spark's built-ins use, so it distributes without a second shuffle. */
  object WeightedAvg extends org.apache.spark.sql.expressions.Aggregator[(Double, Double), WAvgBuf, Double] {
    override def zero: WAvgBuf = WAvgBuf(0.0, 0.0)
    override def reduce(b: WAvgBuf, in: (Double, Double)): WAvgBuf =
      WAvgBuf(b.num + in._1 * in._2, b.den + in._2)
    override def merge(a: WAvgBuf, b: WAvgBuf): WAvgBuf =
      WAvgBuf(a.num + b.num, a.den + b.den)
    override def finish(b: WAvgBuf): Double = b.num / b.den
    override def bufferEncoder: org.apache.spark.sql.Encoder[WAvgBuf] =
      org.apache.spark.sql.Encoders.product[WAvgBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  /** Quantity-weighted average discount per return flag via the custom
    * Aggregator; the oracle is the algebraic identity sum(xw)/sum(w). */
  val q37 = Q.sql(
    "q37_weighted_avg",
    """SELECT l_returnflag,
      |  round(sum(l_discount * l_quantity) / sum(l_quantity), 6) AS wavg_disc,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val wavg = udaf(WeightedAvg)
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(wavg(col("l_discount"), col("l_quantity")), 6).as("wavg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Seeded Bernoulli sample, deterministic BY CONSTRUCTION (r11): the
    * engine-RNG `df.sample` (placement-dependent membership) is replaced
    * with [[Sampling.sample]]'s pure column predicate
    * u = (xxhash64(42, l_orderkey, l_linenumber) >>> 11)·2⁻⁵³ < 0.1 —
    * partition-, retry-, and engine-invariant, so the entry gets a FULL
    * VALUE oracle: DuckDB replays the two-field xxhash64 fold through the
    * chained hashLong CTEs (constant fold seed hashLong(42, 42), then the
    * variable-seed second field — exactly Spark's multi-argument
    * accumulation) and derives the identical membership bit per row.
    * Rate/determinism/partition-invariance stay spec'd in StatsSpec. */
  val q38: Q = {
    import graft.functions.DuckXxhash
    val foldSeed = DuckXxhash.hashLong(42L, 42L)
    val (c1, f1) = DuckXxhash.hashLongCtes("inp", foldSeed, "s1")
    val (c2, f2) = DuckXxhash.hashLongCtesExpr("mid", "hseed", "s2")
    Q.sql(
      "q38_sample",
      s"""WITH inp AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    (CASE WHEN l_orderkey < 0 THEN l_orderkey::HUGEINT + ${DuckXxhash.M64}
        |          ELSE l_orderkey::HUGEINT END) AS v,
        |    (CASE WHEN l_linenumber < 0 THEN l_linenumber::HUGEINT + ${DuckXxhash.M64}
        |          ELSE l_linenumber::HUGEINT END) AS vb
        |  FROM lineitem),
        |$c1,
        |mid AS MATERIALIZED (
        |  SELECT l_orderkey, l_linenumber, l_quantity, vb AS v, h AS hseed
        |  FROM $f1),
        |$c2
        |SELECT l_orderkey, l_linenumber, l_quantity
        |FROM $f2
        |WHERE CAST(h // 2048 AS DOUBLE) / 9007199254740992.0 < CAST(0.1 AS DOUBLE)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Sampling.sample(Tables.lineitem(s, dir), fraction = 0.1, seed = 42L,
          col("l_orderkey"), col("l_linenumber").cast("long"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }
  }

  /** Native per-key top-k via the custom LogicalPlan/Strategy/SparkPlan
    * (graft.plans.TopK): bounded heaps instead of a full windowed sort.
    * Same oracle shape as q13 — the results must be identical. */
  val q39 = Q.sql(
    "q39_native_topk",
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin) { (s, dir) =>
    graft.plans.TopK.perKey(
      Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
      keyCol = "o_custkey", orderCol = "o_totalprice", tiebreak = "o_orderkey", k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  /** Stratified sampling (DataFrameStatFunctions.sampleBy, the
    * PairRDDFunctions.sampleByKey surface): per-stratum Bernoulli
    * fractions in one map-side pass — the training-data move for
    * rebalancing a language/domain mix without a shuffle. Deterministic
    * by construction since r11 ([[Sampling.sampleBy]]'s hash predicate on
    * doc_id), so the entry gets a FULL VALUE oracle: DuckDB replays
    * xxhash64(42, doc_id) through one constant-seed hashLong chain and
    * applies the identical per-stratum threshold; unlisted strata drop
    * out on both engines (null fraction ⇒ null predicate). Per-stratum
    * rates, determinism and partition invariance stay spec'd. */
  val q52: Q = {
    import graft.functions.DuckXxhash
    val foldSeed = DuckXxhash.hashLong(42L, 42L)
    val (c1, f1) = DuckXxhash.hashLongCtes("inp", foldSeed, "s1")
    Q.sql(
      "q52_sample_by",
      s"""WITH inp AS (
        |  SELECT doc_id, lang,
        |    (CASE WHEN doc_id < 0 THEN doc_id::HUGEINT + ${DuckXxhash.M64}
        |          ELSE doc_id::HUGEINT END) AS v
        |  FROM documents),
        |$c1
        |SELECT doc_id, lang
        |FROM $f1
        |WHERE CAST(h // 2048 AS DOUBLE) / 9007199254740992.0 <
        |  CASE lang WHEN 'en' THEN CAST(0.8 AS DOUBLE)
        |            WHEN 'de' THEN CAST(0.5 AS DOUBLE)
        |            WHEN 'fr' THEN CAST(0.25 AS DOUBLE)
        |            WHEN 'es' THEN CAST(0.1 AS DOUBLE) END
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.sampleBy(graft.Tables.documents(s, dir), "lang",
          Map("en" -> 0.8, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.1),
          seed = 42L, col("doc_id"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }
  }

  /** Per-distinct-value average Spearman ranks of column `c` — the
    * fractional (average-over-ties) rank table. Numbering comes from
    * q54's range-partitioned zipWithIndex (never a one-reducer global
    * window — the reference's SpearmanCorrelation sorts with a range
    * partitioner for exactly this reason); equal values land in one
    * range partition, so their index run is contiguous and the per-value
    * AVG equals the classic firstRank + (ties−1)/2 exactly (the mean of
    * consecutive integers is a representable half-integer). The table
    * has one row per DISTINCT value — it joins back by value, small
    * domains broadcast. */
  def spearmanRanks(df: org.apache.spark.sql.DataFrame, c: String): org.apache.spark.sql.DataFrame =
    Relational.withGlobalIndex(df.select(col(c)), c)
      .groupBy(c).agg(avg(col("idx") + 1).as(s"rk_$c"))

  /** Spearman rank correlation (reference mllib/src/main/scala/org/
    * apache/spark/mllib/stat/correlation/SpearmanCorrelation.scala:1):
    * average-rank ties, then Pearson on the ranks — q31's robust
    * sibling for monotone-but-nonlinear relationships. The oracle
    * computes the same fractional ranks with window functions; the
    * Spark side ranks each column distributedly and joins the rank
    * tables back by value, so no stage funnels the table through one
    * task. */
  val q59 = Q.sql(
    "q59_spearman",
    """WITH r AS (
      |  SELECT
      |    rank() OVER (ORDER BY l_quantity) +
      |      (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rk_q,
      |    rank() OVER (ORDER BY l_extendedprice) +
      |      (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rk_p,
      |    rank() OVER (ORDER BY l_discount) +
      |      (count(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS rk_d
      |  FROM lineitem)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  round(corr(rk_q, rk_p), 6) AS s_qty_price,
      |  round(corr(rk_q, rk_d), 6) AS s_qty_disc
      |FROM r""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
      .select("l_quantity", "l_extendedprice", "l_discount")
    li.join(spearmanRanks(li, "l_quantity"), "l_quantity")
      .join(spearmanRanks(li, "l_extendedprice"), "l_extendedprice")
      .join(spearmanRanks(li, "l_discount"), "l_discount")
      .agg(count(lit(1)).as("n"),
        round(corr("rk_l_quantity", "rk_l_extendedprice"), 6).as("s_qty_price"),
        round(corr("rk_l_quantity", "rk_l_discount"), 6).as("s_qty_disc"))
  }

  /** k-fold assignment surface (MLUtils.kFold parity, r11 — see
    * [[Sampling.kFold]]): the ENTIRE fold assignment is emitted and
    * oracle-verified — fold = pmod(xxhash64(42, l_orderkey,
    * l_linenumber), 5), exact integer arithmetic replayed through the
    * same chained hashLong CTEs as q38, so the k validation sets are
    * proven to partition the table identically on both engines (the
    * reference's per-partition Bernoulli fold sampler is
    * placement-dependent and only partitions in expectation).
    * Train/validation complementarity, determinism and placement
    * invariance are spec'd (StatsSpec). */
  val kf01: Q = {
    import graft.functions.DuckXxhash
    val foldSeed = DuckXxhash.hashLong(42L, 42L)
    val (c1, f1) = DuckXxhash.hashLongCtes("inp", foldSeed, "s1")
    val (c2, f2) = DuckXxhash.hashLongCtesExpr("mid", "hseed", "s2")
    Q.sql(
      "kf01_kfold",
      s"""WITH inp AS (
        |  SELECT l_orderkey, l_linenumber,
        |    (CASE WHEN l_orderkey < 0 THEN l_orderkey::HUGEINT + ${DuckXxhash.M64}
        |          ELSE l_orderkey::HUGEINT END) AS v,
        |    (CASE WHEN l_linenumber < 0 THEN l_linenumber::HUGEINT + ${DuckXxhash.M64}
        |          ELSE l_linenumber::HUGEINT END) AS vb
        |  FROM lineitem),
        |$c1,
        |mid AS MATERIALIZED (
        |  SELECT l_orderkey, l_linenumber, vb AS v, h AS hseed
        |  FROM $f1),
        |$c2
        |SELECT l_orderkey, l_linenumber,
        |  ((((CASE WHEN h >= ${DuckXxhash.pow2(63)} THEN (h - ${DuckXxhash.M64})::BIGINT
        |           ELSE h::BIGINT END) % 5) + 5) % 5) AS fold
        |FROM $f2
        |ORDER BY l_orderkey, l_linenumber, fold""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          Sampling.foldId(42L, 5,
            col("l_orderkey"), col("l_linenumber").cast("long")).as("fold"))
        .orderBy("l_orderkey", "l_linenumber", "fold")
    }
  }

  /** Per-dimension summary statistics of the embedding matrix
    * (reference mllib/stat/Statistics.scala:1 `colStats` over
    * MultivariateOnlineSummarizer.scala:1 — count/mean/variance/
    * numNonzeros/max/min per column, r11). ONE partial-aggregated pass:
    * each dimension's sums accumulate in EXACT decimal (d14's rule —
    * decimal addition is order-independent, so the aggregate is
    * bit-identical across engines, partition layouts and core counts;
    * the reference's pairwise-merged double summarizer is order-
    * DEPENDENT), and mean/variance derive from the two exact sums with
    * identical scalar IEEE ops on both engines. Output is dim rows —
    * bounded, corpus-size-invariant. */
  val st01: Q = Q.sql(
    "st01_colstats",
    """WITH x AS (
      |  SELECT i AS p, CAST(e.embedding[i] AS DOUBLE) AS x
      |  FROM embeddings e, unnest(range(1, 65)) t(i)),
      |s AS (
      |  SELECT p, count(*) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(18,12))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(x * x AS DECIMAL(18,12))) AS DOUBLE) AS sxx,
      |    CAST(count(*) FILTER (WHERE x <> 0) AS BIGINT) AS nnz,
      |    max(x) AS max_x, min(x) AS min_x
      |  FROM x GROUP BY p)
      |SELECT (p - 1) AS p, n, round(sx / n, 6) + 0.0 AS mean,
      |  round((sxx - sx * (sx / n)) / (n - 1), 6) + 0.0 AS variance,
      |  nnz, max_x, min_x
      |FROM s ORDER BY p""".stripMargin) { (s, dir) =>
    graft.Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("p", "xf")))
      .select(col("p"), col("xf").cast("double").as("x"))
      .groupBy("p")
      .agg(
        count(lit(1)).as("n"),
        exactSum(col("x")).as("sx"),
        exactSum(col("x") * col("x")).as("sxx"),
        count(when(col("x") =!= 0.0, 1)).as("nnz"),
        max("x").as("max_x"), min("x").as("min_x"))
      .select(col("p"), col("n"),
        // 6dp aggregate rounding + signed-zero normalization (d14's
        // rule): the float->decimal cast rounds HALF_UP on Spark and
        // half-even in DuckDB, so the exact sums differ at ~1e-12 over
        // 32k terms - far below the 6dp emit precision
        (round(col("sx") / col("n"), 6) + 0.0).as("mean"),
        (round((col("sxx") - col("sx") * (col("sx") / col("n"))) / (col("n") - 1), 6) + 0.0)
          .as("variance"),
        col("nnz"), col("max_x"), col("min_x"))
      .orderBy("p")
  }

  /** Even-width histogram (reference core/src/main/scala/org/apache/
    * spark/rdd/DoubleRDDFunctions.scala:1 `histogram(bucketCount)`,
    * r11): the reference's two-pass shape — one bounded min/max
    * aggregate, then one groupBy over the bucket expression
    * least(floor((x−lo)/w), n−1) with the max value closing the last
    * bucket, empty buckets densified (the reference returns a dense
    * array). All double arithmetic is the identical IEEE ops on the
    * identical (lo, hi) aggregates on both engines, so bucket ids,
    * edges and integer counts carry a FULL exact oracle. Two bounded
    * passes at any scale; counts shuffle as one n_buckets-row partial
    * aggregate. */
  val hist01: Q = Q.sql(
    "hist01_histogram",
    """WITH mm AS (
      |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
      |    (max(l_extendedprice) - min(l_extendedprice)) / 20.0 AS w
      |  FROM lineitem),
      |b AS (
      |  SELECT least(CAST(floor((l_extendedprice - lo) / w) AS INT), 19) AS bucket,
      |    count(*) AS n
      |  FROM lineitem, mm GROUP BY 1)
      |SELECT r.bucket, mm.lo + r.bucket * mm.w AS lo_edge,
      |  mm.lo + (r.bucket + 1) * mm.w AS hi_edge,
      |  CAST(coalesce(b.n, 0) AS BIGINT) AS n
      |FROM (SELECT CAST(range AS INT) AS bucket FROM range(0, 20)) r
      |CROSS JOIN mm
      |LEFT JOIN b ON b.bucket = r.bucket
      |ORDER BY r.bucket""".stripMargin) { (s, dir) =>
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val mm = li.agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi")).head
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val w = (hi - lo) / 20.0
    val counts = li
      .groupBy(least(floor((col("l_extendedprice") - lo) / w).cast("int"), lit(19))
        .as("bucket"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until 20).map(b => (b, lo + b * w, lo + (b + 1) * w, counts.getOrElse(b, 0L)))
      .toDF("bucket", "lo_edge", "hi_edge", "n")
      .orderBy("bucket")
  }

  val all: Seq[Q] =
    Seq(q31, q32, q33, q34, q35, q36, q37, q38, q39, q52, q59, kf01, st01, hist01)
}
