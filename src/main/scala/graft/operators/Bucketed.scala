package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.sources.Sources

/** Bucketed-layout join: the end-to-end demonstration that a co-located
  * physical layout removes the join shuffle entirely (SURVEY.md §2.1 /
  * the q03 join shape on a bucketed warehouse).
  *
  * At 100 TB the orders⋈lineitem shuffle is the single largest data
  * movement in the TPC-H-shaped queries; writing both tables bucketed by
  * the order key once lets every subsequent join on that key read
  * co-partitioned buckets with zero Exchange (reference shape: Spark's
  * own bucketing, sql/core/.../datasources/BucketingUtils.scala — the
  * 1.3-era reference had no bucketing, making this a Spark-4-native
  * upgrade of its repeated-join workloads).
  */
object Bucketed {

  val nBuckets = 8

  /** Bucketed copies of `dir`'s orders and lineitem, keyed by the order
    * key, written once per corpus version (see [[graft.Shared]]): table
    * names and scratch paths carry the stage's tag, and a superseded
    * version's tables are dropped and their files deleted. Returns the
    * two table names. */
  def bucketedOrdersLineitem(s: SparkSession, dir: String): (String, String) =
    graft.Shared[(String, String, String)](s, "bucketed", dir, nBuckets)({ tag =>
      val suf = tag.getOrElse(java.util.UUID.randomUUID.toString.replace("-", ""))
      val scratch = s"${sys.props("java.io.tmpdir")}/graft-bucketed-$suf"
      val (oTbl, lTbl) = (s"orders_bkt_$suf", s"lineitem_bkt_$suf")
      Sources.writeBucketedAt(Tables.orders(s, dir), oTbl, s"$scratch/orders",
        nBuckets, "o_orderkey", Seq("o_orderkey"))
      Sources.writeBucketedAt(Tables.lineitem(s, dir), lTbl, s"$scratch/lineitem",
        nBuckets, "l_orderkey", Seq("l_orderkey"))
      (oTbl, lTbl, scratch)
    }, { case (oTbl, lTbl, scratch) =>
      val path = new org.apache.hadoop.fs.Path(scratch)
      path.getFileSystem(s.sparkContext.hadoopConfiguration).delete(path, true)
      Seq(oTbl, lTbl).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }) match { case (oTbl, lTbl, _) => (oTbl, lTbl) }

  /** The q03 join shape on the bucketed layout: orders⋈lineitem joins
    * bucket-to-bucket (no Exchange on the join key — asserted in
    * SourcesSpec), the customer dim broadcasts. Oracle = the plain join
    * on the unbucketed tables: bucketing must be semantically invisible.
    *
    * FOUND: at small scale the bucket-to-bucket join never happens. At
    * sf0.02 the planner broadcasts `orders_bkt` (static estimate
    * 2.2 MiB, under the 10 MB `autoBroadcastJoinThreshold`) and streams
    * `lineitem_bkt`, so the layout only costs: q40's cold run, which
    * builds it, took 2.8–5.6 s against about 0.6 s warm, in cold
    * analytics passes with a median of 12.6–13.6 s (sf0.02, 4-core
    * host). SourcesSpec's zero-exchange check holds because it turns
    * broadcast off. [[graft.plans.OnePartitionScan]] leaves both
    * bucketed scans as Spark plans them (OnePartitionScanSpec). */
  val q40 = Q.sql(
    "q40_bucketed_join",
    """SELECT o_orderpriority, c_mktsegment, count(*) AS n,
      |  round(sum(l_extendedprice), 2) AS total_price
      |FROM orders
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY o_orderpriority, c_mktsegment
      |ORDER BY o_orderpriority, c_mktsegment""".stripMargin) { (s, dir) =>
    val (oTbl, lTbl) = bucketedOrdersLineitem(s, dir)
    s.table(oTbl)
      .join(s.table(lTbl), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority", "c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total_price"))
      .orderBy("o_orderpriority", "c_mktsegment")
  }

  val all: Seq[Q] = Seq(q40)
}
