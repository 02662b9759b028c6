package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Core relational operator suite — the Spark 1.3 DataFrame/SQL surface of
  * the reference (see SURVEY.md §2.1), re-expressed declaratively on the
  * Spark 4 Dataset API so Catalyst handles pushdown, join selection and
  * whole-stage codegen.
  *
  * Conventions shared with the DuckDB oracles:
  *  - every computed column is aliased identically on both sides;
  *  - double aggregates are rounded (2 dp) on both sides to absorb float
  *    summation-order differences between engines;
  *  - every query ends in a deterministic ORDER BY with a unique tiebreak;
  *    a result of at most AQE's minPartitionSize (1 MB) is sorted in one
  *    partition, with no range exchange (plans.OnePartitionSort);
  *  - computed integers are cast to long (DuckDB ints are 64-bit).
  */
object Relational {

  /** TPC-H Q1 shape: scan-heavy groupBy agg with map-side partial
    * aggregation. At scale this is a single shuffle of ~|groups| rows. */
  val q01 = Q.sql(
    "q01_agg",
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 2) AS avg_qty,
      |  round(avg(l_extendedprice), 2) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        round(avg("l_extendedprice"), 2).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Filter + projection — both must reach the parquet scan (PushedFilters
    * + 2-column ReadSchema; verified in RelationalPlanSpec). */
  // Per-row arithmetic is bit-identical across engines (same parquet
  // doubles, same IEEE ops) — no rounding, unlike aggregates.
  val q02 = Q.sql(
    "q02_filter_project",
    """SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net_price
      |FROM lineitem
      |WHERE l_quantity >= 45 AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 45 && col("l_discount") > 0.05)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Discounted revenue, summed in DECIMAL(18,4) and rounded to cents: a
    * double sum depends on the order of addition and can land on a
    * half-cent tie that Spark (decimal HALF_UP) and DuckDB (binary) round
    * apart, while the decimal sum is exact in any order. q03 and q05 use
    * it; their oracles, and q46's SQL, spell the same CASTs. */
  private def decimalRevenue =
    round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")), 2)
      .cast("double")

  /** TPC-H Q3 shape: filter-reduced shuffle joins + agg + top-k. */
  val q03 = Q.sql(
    "q03_join_agg",
    """SELECT l_orderkey,
      |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
      |       AS DOUBLE) AS revenue,
      |  CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15'
      |  AND l_shipdate > TIMESTAMP '1998-03-15'
      |GROUP BY l_orderkey, orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 20""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"), col("o_orderpriority"))
      .agg(decimalRevenue.as("revenue"))
      .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  /** Broadcast hash join against small dimensions — nation and region are
    * tiny at any scale factor, so the hint keeps them off the shuffle. */
  val q04 = Q.sql(
    "q04_broadcast_join",
    """SELECT r_name, n_name, count(*) AS customers, round(sum(c_acctbal), 2) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("customers"), round(sum("c_acctbal"), 2).as("total_bal"))
      .orderBy("r_name", "n_name")
  }

  /** TPC-H Q5 shape: 5-way join, dims broadcast, facts shuffled once. */
  val q05 = Q.sql(
    "q05_multi_join",
    """SELECT n_name,
      |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
      |       AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(decimalRevenue.as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q6 shape: highly selective scan + global agg — no shuffle at
    * all beyond the final single-row combine. */
  val q06 = Q.sql(
    "q06_selective_agg",
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** Global top-k: Spark plans orderBy+limit as TakeOrderedAndProject —
    * per-partition heaps, no full sort shuffle. */
  val q07 = Q.sql(
    "q07_sort_limit",
    """SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 25""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
  }

  /** DISTINCT = shuffle dedup on the projected keys. */
  val q08 = Q.sql(
    "q08_distinct",
    """SELECT DISTINCT l_returnflag, l_linestatus, l_suppkey
      |FROM lineitem
      |ORDER BY l_returnflag, l_linestatus, l_suppkey""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus", "l_suppkey")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus", "l_suppkey")
  }

  /** UNION ALL of two tagged branches then re-agg. */
  val q09 = Q.sql(
    "q09_union",
    """SELECT src, count(*) AS n, round(sum(v), 2) AS total
      |FROM (
      |  SELECT 'high_qty' AS src, l_extendedprice AS v FROM lineitem WHERE l_quantity > 40
      |  UNION ALL
      |  SELECT 'big_order' AS src, o_totalprice AS v FROM orders WHERE o_totalprice > 300000
      |) u
      |GROUP BY src
      |ORDER BY src""".stripMargin) { (s, dir) =>
    val a = Tables.lineitem(s, dir).filter(col("l_quantity") > 40)
      .select(lit("high_qty").as("src"), col("l_extendedprice").as("v"))
    val b = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
      .select(lit("big_order").as("src"), col("o_totalprice").as("v"))
    a.unionAll(b)
      .groupBy("src")
      .agg(count(lit(1)).as("n"), round(sum("v"), 2).as("total"))
      .orderBy("src")
  }

  /** LEFT SEMI join (EXISTS): customers that placed at least one urgent
    * order. Semi join keeps build side small — no row multiplication. */
  val q10 = Q.sql(
    "q10_semi_join",
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** LEFT ANTI join (NOT EXISTS): parts with no deep-discount bulk
    * shipment. The filter keeps the probe side selective so the anti join
    * has a non-trivial survivor set at every scale factor. */
  val q11 = Q.sql(
    "q11_anti_join",
    """SELECT p_partkey, p_name
      |FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_partkey = p_partkey
      |                    AND l_discount > 0.09 AND l_quantity > 45)
      |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    Tables.part(s, dir)
      .join(
        Tables.lineitem(s, dir).filter(col("l_discount") > 0.09 && col("l_quantity") > 45),
        col("l_partkey") === col("p_partkey"), "left_anti")
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")
  }

  /** LEFT OUTER join + null-aware agg: order count per customer including
    * customers with no orders (count of nulls must be 0, not 1). */
  val q12 = Q.sql(
    "q12_outer_join",
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |  round(coalesce(sum(o_totalprice), 0), 2) AS spend
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0)), 2).as("spend"))
      .orderBy("c_custkey")
  }

  /** The `spark.sql` text surface — how the reference's users actually
    * drive it (Spark 1.3 SQLContext.sql, sql/core/src/main/scala/org/
    * apache/spark/sql/SQLContext.scala): the TPC-H Q10 shape (returned-
    * item revenue per customer) submitted as one SQL string over the
    * corpus tables ([[Tables.sql]]). The text is engine-portable, so the oracle runs the SAME
    * query; Catalyst still gets full pushdown/broadcast freedom from the
    * declarative text. */
  private val q42Text =
    """SELECT c_custkey, c_name, n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  val q42 = Q.sqlText("q42_sql_surface", q42Text)

  /** TPC-H Q14 shape (promo revenue share) as engine-portable SQL text:
    * conditional aggregation computing a ratio of sums per ship-year.
    * `year()` is cast to BIGINT in the text because Spark returns INT
    * and DuckDB BIGINT for the same function. */
  private val q44Text =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  round(100.0 * sum(CASE WHEN p_type = 'PROMO'
      |                         THEN l_extendedprice * (1 - l_discount)
      |                         ELSE 0.0 END)
      |        / sum(l_extendedprice * (1 - l_discount)), 2) AS promo_share
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY l_year
      |ORDER BY l_year""".stripMargin

  val q44 = Q.sqlText("q44_sql_promo_share", q44Text)

  /** TPC-H Q15 shape (top supplier by revenue): a CTE consumed twice —
    * once as the join input, once under a scalar `max` subquery. The
    * revenue equality compares each engine's own unrounded sums (exact
    * within an engine); rounding happens only in the projection. */
  private val q45Text =
    """WITH revenue AS (
      |  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  val q45 = Q.sqlText("q45_sql_top_supplier", q45Text)

  /** TPC-H Q7 shape (volume shipped between nation pairs per year): a
    * 6-way join with the nation dim joined TWICE under different
    * aliases — self-join disambiguation through the text surface.
    * The revenue is summed in DECIMAL(18,4): double sums land near
    * half-cent boundaries where Spark (decimal HALF_UP) and DuckDB
    * (binary) round apart, while a decimal sum is exact and
    * order-free so both engines round the same value. */
  private val q46Text =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)
      |       AS DOUBLE) AS volume
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_name < n2.n_name
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  val q46 = Q.sqlText("q46_sql_nation_volume", q46Text)

  /** The DataFrameNaFunctions surface (`df.na.drop/fill/replace`,
    * Spark 1.3 DataFrameNaFunctions.scala parity) — the standard
    * null-scrubbing pass of a training-data pipeline, exercised in the
    * documented order drop("all") → fill → replace. Nulls are
    * synthesized deterministically so the oracle can mirror each step
    * with CASE/COALESCE; all values pass through untouched (no
    * arithmetic), keeping the compare bit-exact. */
  val q43 = Q.sql(
    "q43_na_clean",
    """WITH w AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN value < 0.2 THEN NULL ELSE value END AS vn,
      |    CASE WHEN event_type = 'click' THEN NULL ELSE event_type END AS tn
      |  FROM events)
      |SELECT event_id, user_id,
      |  coalesce(vn, -1.0) AS vn,
      |  CASE coalesce(tn, 'unknown') WHEN 'purchase' THEN 'buy'
      |       ELSE coalesce(tn, 'unknown') END AS tn
      |FROM w
      |WHERE vn IS NOT NULL OR tn IS NOT NULL
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val withNulls = Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      when(col("value") < 0.2, lit(null)).otherwise(col("value")).as("vn"),
      when(col("event_type") === "click", lit(null)).otherwise(col("event_type")).as("tn"))
    withNulls.na.drop("all", Seq("vn", "tn"))
      .na.fill(Map("vn" -> -1.0, "tn" -> "unknown"))
      .na.replace("tn", Map("purchase" -> "buy"))
      .orderBy("event_id")
  }

  /** TPC-H Q18 shape (large-volume orders): the IN-subquery carries its
    * own GROUP BY + HAVING, so Catalyst must plan agg → semi join → agg.
    * l_quantity is summed twice (once to qualify, once to report) — the
    * engine, not the author, decides whether to reuse the aggregate. */
  private val q49Text =
    """SELECT c_name, c_custkey, o_orderkey, round(sum(l_quantity), 2) AS total_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
      |GROUP BY c_name, c_custkey, o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  val q49 = Q.sqlText("q49_sql_big_orders", q49Text)

  /** TPC-H Q22 shape (rich-but-idle customers): a scalar AVG subquery in
    * the predicate AND a correlated NOT EXISTS (anti join) in the same
    * WHERE, grouped output. The reference's market segments stand in for
    * Q22's country codes; "idle" = no order above the high-value bar
    * (every synthetic customer has SOME order, so the classic
    * no-orders-at-all predicate would be vacuously empty). */
  private val q50Text =
    """SELECT c_mktsegment, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  val q50 = Q.sqlText("q50_sql_rich_idle", q50Text)

  /** TPC-H Q11 shape (revenue concentration): a CTE aggregated once,
    * filtered against a scalar fraction of ITS OWN total — the
    * agg-vs-scalar-of-same-agg pattern. BOTH sides of the threshold
    * compare are rounded to cents: the per-supplier and grand sums are
    * order-of-addition dependent, so comparing raw doubles lets a
    * supplier within an ulp of the bar appear in one engine only. */
  private val q51Text =
    """WITH rev AS (
      |  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS r
      |  FROM lineitem GROUP BY l_suppkey)
      |SELECT l_suppkey, round(r, 2) AS revenue
      |FROM rev
      |WHERE round(r, 2) > (SELECT round(sum(r) * 0.0102, 2) FROM rev)
      |ORDER BY l_suppkey""".stripMargin

  val q51 = Q.sqlText("q51_sql_revenue_share", q51Text)

  /** NOT IN — the NULL-AWARE anti join, a genuinely different operator
    * from q11's NOT EXISTS: one NULL in the subquery list legally empties
    * the whole result, so Catalyst cannot plan a plain anti join unless
    * it proves the list non-null; it plans the specialized
    * null-aware broadcast anti join instead (plan-locked in PlanSpec).
    * o_totalprice is emitted RAW — per-row rounding is the known
    * engine-mismatch trap; IEEE doubles are bit-identical already. */
  private val q53Text =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
      |                        WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin

  val q53 = Q.sqlText("q53_null_aware_anti", q53Text)

  /** Global row numbering WITHOUT a one-reducer sort — the RDD
    * `zipWithIndex` surface (reference core rdd/ZippedWithIndexRDD.scala:1)
    * re-expressed over a Dataset. `row_number() OVER (ORDER BY ...)`
    * funnels every row through a single partition; this instead
    * range-partitions + locally sorts, then zipWithIndex runs ONE small
    * count job for per-partition offsets and tags rows in place — the
    * only way to number 100 TB. Index = global rank in `sortCol` order,
    * independent of partition boundaries, so the (sampled,
    * run-varying) range split never changes the result; the combined
    * `sortCols` must be unique or ties make the rank ill-defined. The
    * deliberate `.rdd` drop-down: zipWithIndex's offset pass has no
    * Dataset equivalent. */
  def withGlobalIndex(df: DataFrame, sortCols: String*): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val parted = df.repartitionByRange(n, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
    val rdd = parted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i)
    }
    spark.createDataFrame(rdd,
      parted.schema.add("idx", org.apache.spark.sql.types.LongType, nullable = false))
  }

  val q54 = Q.sql(
    "q54_zip_index",
    """SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS idx
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    withGlobalIndex(Tables.orders(s, dir).select("o_orderkey"), "o_orderkey")
      .orderBy("o_orderkey")
  }

  /** The catalog cache surface (reference sql/core CacheManager.scala:1,
    * SQLContext.cacheTable): a named temp view is registered in the
    * session catalog and cached through `spark.catalog.cacheTable`, so
    * EVERY query that touches the name — this one, later SQL text, other
    * sessions' jobs on the same SparkSession — reads the columnar
    * in-memory copy instead of re-scanning parquet. The cache is lazy
    * (populated by this query's own first materialization) and columnar
    * with per-batch min/max stats, so downstream filters still prune.
    * RelationalSpec plan-locks the InMemoryRelation and the uncache path.
    * The oracle is the identical aggregation over the raw table — caching
    * must be semantically invisible.
    *
    * The registered entry UNCACHES before returning: the aggregate is
    * materialized eagerly through the cache via `localCheckpoint` (data
    * stays on executors — no driver collect), then the table is
    * uncached and its view dropped, so a long-lived Bench/Verify session
    * carries no resident columnar copy of orders into later queries,
    * repeated runs never hit the "already cached" warning, and the
    * session's catalog is left as the entry found it. */
  /** The lazy cache-reading aggregate (PlanSpec plan-locks this shape:
    * pruned `Scan In-memory table`). Leaves the table cached — callers
    * own the uncache. */
  def cachedOrdersAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders_cached")
    s.catalog.cacheTable("graft_orders_cached")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total, round(avg(o_totalprice), 2) AS avg_price
        |FROM graft_orders_cached
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val q48 = Q.sql(
    "q48_cached_table",
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total, round(avg(o_totalprice), 2) AS avg_price
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    try {
      cachedOrdersAgg(s, dir)
        .localCheckpoint() // eager: populates + reads the cache NOW
        .orderBy("o_orderpriority")
    } finally {
      s.catalog.uncacheTable("graft_orders_cached")
      s.catalog.dropTempView("graft_orders_cached")
    }
  }

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12,
    q42, q43, q44, q45, q46, q48, q49, q50, q51, q53, q54)
}
