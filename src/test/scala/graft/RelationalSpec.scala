package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.Relational

class RelationalSpec extends SparkTestBase {

  test("every registered query runs and respects its declared contract") {
    // a session nothing was registered into, holding a caller's own
    // `orders` view: each entry plans on its own and leaves the
    // session's temp views exactly as it found them
    val fresh = spark.newSession()
    fresh.range(3).createOrReplaceTempView("orders")
    val views = tempViews(fresh)
    (Relational.all ++ graft.operators.Analytics.all).foreach { q =>
      val df = q.run(fresh, sfDir)
      assert(df.columns.nonEmpty, s"${q.name}: no columns")
      assert(df.count() >= 0, s"${q.name}: failed to execute")
      assert(tempViews(fresh) == views, s"${q.name} changed the session's temp views")
    }
    assert(fresh.table("orders").count() == 3, "the caller's own view was replaced")
  }

  test("every production twin runs on a fresh session, and the twins are BASELINE.md's pinned set") {
    val fresh = spark.newSession()
    val views = tempViews(fresh)
    val twins = SparkEntry.prodQueries
    twins.toSeq.sortBy(_._1).foreach { case (name, prod) =>
      val df = prod(fresh, sfDir)
      assert(df.columns.nonEmpty, s"$name twin: no columns")
      assert(df.count() >= 0, s"$name twin: failed to execute")
      assert(tempViews(fresh) == views, s"$name twin changed the session's temp views")
    }
    // the rows of BASELINE.md's "Production-twin baseline" table: a lost
    // twin fails here before it fails the bench gate
    val pinned = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("BASELINE.md"),
        java.nio.charset.StandardCharsets.UTF_8).asScala.iterator
      .dropWhile(!_.startsWith("## Production-twin baseline"))
      .drop(1).dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|"))
      .drop(2).map(_.split('|')(1).trim).toSet
    assert(pinned.size == 23, s"BASELINE.md pins ${pinned.size} twins")
    assert(twins.keySet == pinned)
  }

  test("Tables.sql binds tables in CTE bodies and subqueries; a CTE named like a table wins") {
    val fresh = spark.newSession()
    val urgent = Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "1-URGENT")
    val expected = Tables.lineitem(spark, sfDir)
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val got = Tables.sql(fresh, sfDir,
      """WITH li AS (SELECT l_orderkey FROM lineitem
        |            WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                                 WHERE o_orderpriority = '1-URGENT'))
        |SELECT count(*) FROM li""".stripMargin).head.getLong(0)
    assert(got == expected)
    val shadowed = Tables.sql(fresh, sfDir,
      "WITH orders AS (SELECT 1 AS o_orderkey) SELECT count(*) FROM orders").head.getLong(0)
    assert(shadowed == 1)
    assert(tempViews(fresh).isEmpty)
  }

  test("q01_agg matches hand-computed aggregate") {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
    val expectRows = li.select("l_returnflag", "l_linestatus").distinct().count()
    val got = Relational.q01.run(spark, sfDir)
    assert(got.count() == expectRows)
    val totalOrders = got.agg(sum("count_order")).head.getLong(0)
    assert(totalOrders == li.count())
  }

  test("q07 top-k returns exactly k rows in descending price order") {
    val rows = Relational.q07.run(spark, sfDir).collect()
    assert(rows.length == 25)
    val prices = rows.map(_.getDouble(1))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q12 outer join keeps customers with zero orders at n_orders=0") {
    val got = Relational.q12.run(spark, sfDir)
    assert(got.count() == Tables.customer(spark, sfDir).count())
    assert(got.filter(col("n_orders") === 0 && col("spend") =!= 0).count() == 0)
  }

  test("q10 semi join row count equals distinct matching customers") {
    val expected = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").distinct().count()
    assert(Relational.q10.run(spark, sfDir).count() == expected)
  }

  test("oracle map only references registered queries and vice versa") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
}
