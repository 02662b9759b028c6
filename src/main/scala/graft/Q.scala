package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.GraftStrategies

/** One registered operator/query: a Spark implementation plus, when the
  * semantics are ANSI-SQL-expressible, a DuckDB oracle over the same
  * parquet tables. Column names and row order must match between the two
  * (the driver sorts columns by name and hash-compares values).
  *
  * The factories wrap `run` and `prod` so that every entry plans with
  * graft's strategies ([[GraftStrategies]]) whichever session calls it.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    prod: Option[(SparkSession, String) => DataFrame] = None) {

  /** Attach the PRODUCTION-ONLY plan: the same operator with its oracle
    * certificate columns (exact recounts, in-plan re-derivations,
    * per-iteration measured claims) left out. `run` stays the gated
    * entry; `prod` exists so the benchmark can report what the operator
    * costs when it is trusted rather than audited. Only meaningful for
    * entries whose certificates add DISTRIBUTED work — map-only flag
    * columns cost nothing and need no twin. */
  def withProd(p: (SparkSession, String) => DataFrame): Q = copy(prod = Some(Q.planned(p)))
}

object Q {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, planned(run), Some(oracle))
  /** An entry whose oracle text is also its run, through [[Tables.sql]]. */
  def sqlText(name: String, text: String): Q =
    sql(name, text)((spark, dir) => Tables.sql(spark, dir, text))
  def rowsOnly(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, planned(run), None)

  private def planned(
      run: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => { GraftStrategies.install(spark); run(spark, dir) }
}
