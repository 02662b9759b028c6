package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.GraftStrategies

/** One registered operator/query: a Spark implementation plus, when the
  * semantics are ANSI-SQL-expressible, a DuckDB oracle over the same
  * parquet tables. Column names and row order must match between the two
  * (the driver sorts columns by name and hash-compares values).
  *
  * `prod`, set only by [[Q.audited]], is the PRODUCTION twin: the same
  * body run with `audit = false`, so its oracle certificate (exact
  * recounts, in-plan re-derivations, per-iteration measured claims) is
  * left out and it serves the operator's own output instead. The
  * benchmark reports it as what the operator costs when it is trusted
  * rather than audited.
  *
  * The factories wrap `run` and `prod` so that every entry plans with
  * graft's strategies and its [[graft.plans.OnePartitionScan]] optimizer
  * rule ([[GraftStrategies.install]]) whichever session calls it.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    prod: Option[(SparkSession, String) => DataFrame] = None)

object Q {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, planned(run), Some(oracle))
  /** An entry whose oracle text is also its run, through [[Tables.sql]]. */
  def sqlText(name: String, text: String): Q =
    sql(name, text)((spark, dir) => Tables.sql(spark, dir, text))

  /** A certificate-carrying entry written once: `body(spark, dir, audit)`
    * shares inputs, training and serving between its two runs, and only
    * the certificate branches on `audit`. `run` is the body with
    * `audit = true` (the oracle-gated entry); `prod` is the same body
    * with `audit = false`, which starts none of the certificate's jobs.
    * Only meaningful for entries whose certificates add DISTRIBUTED
    * work — map-only flag columns cost nothing and need no twin. */
  def audited(name: String, oracle: String)(
      body: (SparkSession, String, Boolean) => DataFrame): Q =
    Q(name, planned(body(_, _, true)), Some(oracle), Some(planned(body(_, _, false))))

  private def planned(
      run: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => { GraftStrategies.install(spark); run(spark, dir) }
}
