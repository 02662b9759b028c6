package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Window functions, grouping analytics (rollup/cube/pivot), subquery
  * shapes and set operations — SURVEY.md §2.1 (q13-q30).
  *
  * Window specs always carry a unique tiebreak column so ranks and frames
  * are deterministic across engines; grouping-null orderings are made
  * explicit (Spark defaults NULLS FIRST, DuckDB NULLS LAST).
  */
object Analytics {

  /** Top-3 orders per customer by price: partitioned row_number. At scale
    * this is one hash-partitioned sort per customer group — no global sort. */
  val q13 = Q.sql(
    "q13_window_rank",
    """SELECT o_custkey, o_orderkey, o_totalprice, rk
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
      .orderBy("o_custkey", "rk")
  }

  /** Running total + 3-row moving average per customer ordered by time.
    * Frame sums run in DECIMAL(18,2): exact and summation-order-free, so
    * both engines produce bit-identical doubles with no rounding games
    * (prices have 2 decimals, so the decimal cast is unambiguous). */
  val q14 = Q.sql(
    "q14_window_running",
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / count(*) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg3
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val ord = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val last3 = ord.rowsBetween(-2, Window.currentRow)
    val dec = col("o_totalprice").cast("decimal(18,2)")
    Tables.orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(dec).over(cum).cast("double").as("running_spend"),
        (sum(dec).over(last3).cast("double") / count(lit(1)).over(last3)).as("mov_avg3"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** ROLLUP over (status, priority): hierarchical subtotals + grand total. */
  val q15 = Q.sql(
    "q15_rollup",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** CUBE over (returnflag, linestatus): all grouping-set combinations. */
  val q16 = Q.sql(
    "q16_cube",
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  round(sum(l_quantity), 2) AS qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** HAVING: post-aggregation filter stays after the partial+final agg. */
  val q17 = Q.sql(
    "q17_having",
    """SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY l_suppkey
      |HAVING sum(l_quantity) > 1000
      |ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_suppkey")
      .agg(sum("l_quantity").as("_raw_qty"), count(lit(1)).as("n"))
      .filter(col("_raw_qty") > 1000)
      .select(col("l_suppkey"), round(col("_raw_qty"), 2).as("total_qty"), col("n"))
      .orderBy("l_suppkey")
  }

  /** IN-subquery → Catalyst rewrites to a left semi join. */
  val q18 = Q.sql(
    "q18_subquery_in",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val rich = Tables.customer(s, dir).filter(col("c_acctbal") > 9000).select("c_custkey")
    Tables.orders(s, dir)
      .join(rich, col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Scalar aggregate subquery: compare each row against a global avg.
    * Implemented as a broadcast of the 1-row aggregate (no driver collect). */
  val q19 = Q.sql(
    "q19_scalar_subquery",
    """SELECT l_returnflag, count(*) AS n_above
      |FROM lineitem
      |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val avgQty = li.agg(avg("l_quantity").as("avg_qty"))
    li.join(broadcast(avgQty))
      .filter(col("l_quantity") > col("avg_qty"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_above"))
      .orderBy("l_returnflag")
  }

  /** CASE WHEN conditional aggregation (manual pivot shape). */
  val q20 = Q.sql(
    "q20_case_when",
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk,
      |  CAST(sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
      |  round(sum(CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0 END), 2) AS taxed_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("l_quantity") > 25, 1).otherwise(0)).cast("long").as("n_bulk"),
        sum(when(col("l_discount") >= 0.05, 1).otherwise(0)).cast("long").as("n_discounted"),
        round(sum(when(col("l_tax") > 0.04, col("l_extendedprice")).otherwise(0)), 2).as("taxed_price"))
      .orderBy("l_returnflag")
  }

  /** String functions: upper/substr/concat/like/length. */
  val q21 = Q.sql(
    "q21_string_funcs",
    """SELECT c_custkey,
      |  upper(c_mktsegment) AS seg_upper,
      |  substr(c_name, 1, 8) AS name_prefix,
      |  concat(c_name, '#', c_mktsegment) AS tagged,
      |  CAST(length(c_name) AS BIGINT) AS name_len
      |FROM customer
      |WHERE c_name LIKE '%1%' AND c_mktsegment IN ('BUILDING', 'MACHINERY')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .filter(col("c_name").like("%1%") && col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat(col("c_name"), lit("#"), col("c_mktsegment")).as("tagged"),
        length(col("c_name")).cast("long").as("name_len"))
      .orderBy("c_custkey")
  }

  /** Date extraction + truncation aggregation (monthly revenue). */
  val q22 = Q.sql(
    "q22_date_funcs",
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mo,
      |  count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      |GROUP BY yr, mo
      |ORDER BY yr, mo""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("yr", "mo")
  }

  /** NULL semantics: nullif/coalesce round-trip + null-aware counting. */
  val q23 = Q.sql(
    "q23_null_handling",
    """SELECT coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
      |  count(nullif(o_orderpriority, '3-MEDIUM')) AS n_nonmedium,
      |  count(*) AS n
      |FROM orders
      |GROUP BY status_label
      |ORDER BY status_label""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_label"))
      .agg(
        count(nullif(col("o_orderpriority"), lit("3-MEDIUM"))).as("n_nonmedium"),
        count(lit(1)).as("n"))
      .orderBy("status_label")
  }

  /** Exact multi-column COUNT(DISTINCT). */
  val q24 = Q.sql(
    "q24_count_distinct",
    """SELECT l_returnflag,
      |  count(DISTINCT l_suppkey) AS n_supp,
      |  count(DISTINCT l_partkey) AS n_part,
      |  count(DISTINCT l_orderkey) AS n_ord
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct("l_suppkey").as("n_supp"),
        countDistinct("l_partkey").as("n_part"),
        countDistinct("l_orderkey").as("n_ord"))
      .orderBy("l_returnflag")
  }

  /** Exact interpolated percentiles (median / p90) per group. */
  val q25 = Q.sql(
    "q25_percentiles",
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90_price"))
      .orderBy("o_orderpriority")
  }

  /** Approximate percentiles — the scale path of q25: exact `percentile`
    * buffers every group value (fine for bounded groups, unbounded memory
    * on a 100 TB fact table); approx_percentile keeps a fixed-size
    * sketch per group regardless of row count. Sketch VALUES are
    * engine-specific, so (q30's pattern) the entry emits the exact
    * percentiles plus in-plan 3%-error-bound flags for the sketch, and
    * the oracle asserts the bound claims as literal TRUE — the exact
    * side exists only to score the sketch; the approx path is the
    * production surface. AnalyticsSpec additionally bounds raw error. */
  val q41 = Q.sql(
    "q41_approx_percentiles",
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
      |  TRUE AS median_in_bound, TRUE AS p90_in_bound
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90_price"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("am"),
        expr("approx_percentile(o_totalprice, 0.9, 10000)").as("a9"))
      .select(col("o_orderpriority"), col("median_price"), col("p90_price"),
        (abs(col("am") - col("median_price")) <= col("median_price") * 0.03)
          .as("median_in_bound"),
        (abs(col("a9") - col("p90_price")) <= col("p90_price") * 0.03)
          .as("p90_in_bound"))
      .orderBy("o_orderpriority")
  }.withProd { (s, dir) =>
    // production path: the fixed-size percentile sketch alone — no
    // exact value-buffering percentile to score it
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("median_price"),
        expr("approx_percentile(o_totalprice, 0.9, 10000)").as("p90_price"))
      .orderBy("o_orderpriority")
  }

  /** Array explode (UNNEST) + re-aggregation: per-vector mean over the
    * 64 embedding elements, fully distributed (no collect). */
  val q26 = Q.sql(
    "q26_explode",
    """SELECT vec_id, count(*) AS n_dims, round(sum(val), 4) AS vec_sum
      |FROM (SELECT vec_id, unnest(embedding) AS val FROM embeddings) t
      |GROUP BY vec_id
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("vec_id"), explode(col("embedding")).as("val"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dims"), round(sum("val"), 4).as("vec_sum"))
      .orderBy("vec_id")
  }

  /** Composed correlated existence: customers active in 1997 but silent in
    * 1998 — EXISTS ∧ NOT EXISTS as a semi-join/anti-join chain. */
  val q27 = Q.sql(
    "q27_correlated_exists",
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |              AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |              AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val ord = Tables.orders(s, dir)
    val in97 = ord.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val in98 = ord.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    Tables.customer(s, dir)
      .join(in97, col("c_custkey") === in97("o_custkey"), "left_semi")
      .join(in98, col("c_custkey") === in98("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** INTERSECT / EXCEPT set algebra, tagged and unioned into one result. */
  val q28 = Q.sql(
    "q28_intersect_except",
    """SELECT 'both' AS tag, l_suppkey FROM (
      |  SELECT DISTINCT l_suppkey FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
      |  INTERSECT
      |  SELECT DISTINCT l_suppkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01')
      |UNION ALL
      |SELECT 'early_only' AS tag, l_suppkey FROM (
      |  SELECT DISTINCT l_suppkey FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
      |  EXCEPT
      |  SELECT DISTINCT l_suppkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01')
      |ORDER BY tag, l_suppkey""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val early = li.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")).select("l_suppkey").distinct()
    val late = li.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")).select("l_suppkey").distinct()
    early.intersect(late).select(lit("both").as("tag"), col("l_suppkey"))
      .unionAll(early.except(late).select(lit("early_only").as("tag"), col("l_suppkey")))
      .orderBy("tag", "l_suppkey")
  }

  /** Pivot: order counts per priority, statuses as columns. Cells with no
    * rows are coalesced to 0 to match SQL conditional-count semantics. */
  val q29 = Q.sql(
    "q29_pivot",
    """SELECT o_orderpriority,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
      |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
      |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select(
        col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy("o_orderpriority")
  }

  /** HLL approx_count_distinct — the scale path of q24. Sketch VALUES
    * differ across engines, so the raw estimate can't be hash-compared;
    * instead the entry emits the exact count plus the HLL error-bound
    * CLAIM (|approx−exact|/exact ≤ 5% at rsd 2%) evaluated in-plan, and
    * the oracle asserts that claim as a literal TRUE — a sketch that
    * drifts out of bound flips the flag and fails the hash. The
    * ScalaTest spec additionally bounds the raw relative error. */
  val q30 = Q.sql(
    "q30_approx_distinct",
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_ord,
      |  TRUE AS within_bound
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    // approx and exact run as separate aggregations then join: mixing a
    // distinct and a non-distinct aggregate in one agg forces an Expand
    // (row duplication) that multiplies the HLL update cost
    val li = Tables.lineitem(s, dir)
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct("l_orderkey", 0.02).as("approx_ord"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("exact_ord"))
    approx.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("exact_ord"),
        (abs(col("approx_ord") - col("exact_ord")) <=
          col("exact_ord") * 0.05).as("within_bound"))
      .orderBy("l_returnflag")
  }.withProd { (s, dir) =>
    // production path: the HLL sketch alone — no exact countDistinct
    // scoring join
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct("l_orderkey", 0.02).as("approx_ord"))
      .orderBy("l_returnflag")
  }

  /** GROUPING SETS — the explicit-set surface distinct from q15's ROLLUP
    * and q16's CUBE: an arbitrary set list including the two single-column
    * sets a rollup would never produce together, with `grouping()` flags
    * disambiguating aggregate NULLs from (absent here) data NULLs. The
    * same engine-portable text runs on both engines; Spark plans it as
    * one Expand (4 replicas) over a single partial+final agg — per-set
    * re-scans would read the fact table four times. */
  private val q47Text =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_status, g_prio,
      |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  val q47 = Q.sqlText("q47_grouping_sets", q47Text)

  /** collect_set / collect_list — the groupByKey-materializing surface
    * (PairRDD groupByKey parity). The set is sorted then serialized to
    * one string so the comparison is scalar (and because emitting
    * unordered arrays is exactly how collect_list results become
    * nondeterministic downstream — ordering before use is the
    * contract). Distinct-per-group state is bounded by the priority
    * domain here; an unbounded-cardinality collect_list is the
    * anti-pattern this query deliberately avoids. */
  val q55 = Q.sql(
    "q55_collect_agg",
    """SELECT o_custkey,
      |  count(*) AS n_orders,
      |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        array_join(sort_array(collect_set("o_orderpriority")), ",").as("priorities"))
      .orderBy("o_custkey")
  }

  /** The remaining window-function surface in one query: lead / lag,
    * ntile, percent_rank, cume_dist — each partitioned per customer with
    * a unique (ts-equivalent) tiebreak. percent_rank/cume_dist are exact
    * small-integer ratios, bit-identical across engines, so no
    * rounding. */
  val q56 = Q.sql(
    "q56_window_suite",
    """SELECT o_custkey, o_orderkey,
      |  lag(o_orderkey) OVER w AS prev_order,
      |  lead(o_orderkey) OVER w AS next_order,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cdist
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        lag("o_orderkey", 1).over(w).as("prev_order"),
        lead("o_orderkey", 1).over(w).as("next_order"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** EXCEPT ALL / INTERSECT ALL — the MULTISET set ops (q28 covers the
    * distinct-set forms): a customer with 3 open and 1 filled order
    * appears twice in the except branch, once per surplus copy. Planned
    * as a replicate-by-count aggregate, not a distinct + join. */
  val q57 = Q.sql(
    "q57_set_all",
    """SELECT o_custkey, 'except_all' AS op FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  EXCEPT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |UNION ALL
      |SELECT o_custkey, 'intersect_all' AS op FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  INTERSECT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |ORDER BY op, o_custkey""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val filled = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    open.exceptAll(filled).withColumn("op", lit("except_all"))
      .unionByName(open.intersectAll(filled).withColumn("op", lit("intersect_all")))
      .orderBy("op", "o_custkey")
  }

  /** unpivot/melt — pivot's inverse (q29 covers the forward direction):
    * the wide per-status counts fold back to (priority, status, n) rows.
    * The oracle builds the same long shape from the domain cross product
    * left-joined to the counts (zero-filled), which is what unpivot of a
    * zero-filled pivot must equal. */
  val q58 = Q.sql(
    "q58_unpivot",
    """WITH p AS (SELECT DISTINCT o_orderpriority FROM orders),
      |s AS (SELECT unnest(['F', 'O', 'P']) AS status),
      |c AS (SELECT o_orderpriority, o_orderstatus AS status, count(*) AS n
      |      FROM orders GROUP BY 1, 2)
      |SELECT p.o_orderpriority, s.status, coalesce(c.n, 0) AS n
      |FROM p CROSS JOIN s
      |LEFT JOIN c ON c.o_orderpriority = p.o_orderpriority AND c.status = s.status
      |ORDER BY p.o_orderpriority, s.status""".stripMargin) { (s, dir) =>
    val wide = Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L)
    wide.unpivot(Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")), "status", "n")
      .orderBy("o_orderpriority", "status")
  }

  val all: Seq[Q] = Seq(q13, q14, q15, q16, q17, q18, q19, q20, q21, q22,
    q23, q24, q25, q26, q27, q28, q29, q30, q41, q47, q55, q56, q57, q58)
}
