package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftshim.GraftDatasetFactory

/** Every materialization in graft — how the re-expressed iterative
  * surface (GraphX Pregel, the MLlib trainers) carries what its driver
  * loops read more than once. A loop-INVARIANT input (an edge list, a
  * feature frame) is [[pin]]ned once; the frames a loop reassigns each
  * round go through [[cut]]; fingerprint-converged loops run [[fixpoint]].
  *
  * Why the cut drops statistics: a `localCheckpoint` leaf inherits
  * stats computed from its origin plan. In a loop those stats COMPOUND —
  * round r's plan joins round r−1's leaf, the size-only visitor
  * MULTIPLIES children sizes, and the product is attached to round r's
  * leaf — so the BigInt's bit-length grows geometrically with the round
  * count (nested loops square it per outer round) until Catalyst spends
  * minutes in BigInteger.multiplyToomCook3 at PLANNING time (observed:
  * SCC's double loop at round ~4, SVD++ at iteration ~7). A leaf without
  * origin stats reports `spark.sql.defaultSizeInBytes`, the conservative
  * "unknown" that is right for loop state: planning cost stays constant
  * per round and joins against the state are never wrongly
  * auto-broadcast. A pin's stats cannot compound (nothing feeds back into
  * it), so it keeps them.
  *
  * Durability: `localCheckpoint` keeps the blocks on the executors that
  * computed them, so losing one fails the next job that reads them.
  * [[pin]]'s body is the one place that decides how a frame is
  * materialized: reliable checkpointing (a checkpoint directory, or a
  * replicated persist) swapped in there covers every pin and cut.
  */
object LoopState {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A local checkpoint of `df` that keeps its origin stats: a one-shot
    * input read more than once. `eager = false` only marks the frame (its
    * shuffle-map stages still run now) and the next action materializes
    * it in its own job (the r16 fusion); use it only where one follows.
    * The origin's execution lives as long as the pinned RDD: a stage that
    * still runs over a lazy pin's lineage after another job materialized
    * it must not report to SQL metrics the driver has collected. */
  def pin(df: DataFrame, eager: Boolean): DataFrame = {
    val pinned = df.localCheckpoint(eager)
    GraftDatasetFactory.checkpointedRdd(pinned).foreach(origins.put(_, df.queryExecution))
    pinned
  }

  // pinned RDD → origin execution (which holds no reference back to it)
  private val origins =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[AnyRef, AnyRef])

  /** The lineage cut for loop state: a [[pin]] without origin stats. */
  def cut(df: DataFrame, eager: Boolean): DataFrame =
    GraftDatasetFactory.withoutOriginStats(pin(df, eager))

  /** Iterates `step` from `init` until a round leaves the state's
    * fingerprint unchanged, or `maxRounds` rounds ran. The fingerprint is
    * the row count plus the wrapping sums of the long-valued per-row
    * `terms`; it must be SOUND for the loop — an unchanged fingerprint
    * must imply an unchanged state (a sum over monotone labels, or a
    * count + order-free checksum of a set).
    *
    * Every state, the init included, is [[cut]] lazily and fingerprinted
    * in ONE job with no exchange: that job materializes the state's
    * blocks and returns the convergence signal (the r16 fusion, and one
    * barrier fewer than a 1-row `agg`, whose partial aggregate is a
    * separate shuffle-map job under AQE). Hitting the cap logs one
    * warning naming `what`.
    *
    * @return (final state, rounds run, converged)
    */
  def fixpoint(init: DataFrame, maxRounds: Int, what: String)(
      step: DataFrame => DataFrame)(terms: Column*): (DataFrame, Int, Boolean) = {
    def fingerprint(df: DataFrame): Seq[Long] = {
      val n = terms.size
      df.select(terms.map(_.cast("long")): _*).queryExecution.toRdd
        .aggregate(new Array[Long](n + 1))(
          (acc, row) => {
            acc(0) += 1
            var j = 0
            while (j < n) { if (!row.isNullAt(j)) acc(j + 1) += row.getLong(j); j += 1 }
            acc
          },
          (a, b) => { var j = 0; while (j <= n) { a(j) += b(j); j += 1 }; a })
        .toSeq
    }
    var state = cut(init, eager = false)
    var last = fingerprint(state)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      state = cut(step(state), eager = false)
      val fp = fingerprint(state)
      converged = fp == last
      last = fp
      rounds += 1
    }
    if (!converged)
      log.warn(s"$what stopped at its $maxRounds-round cap before reaching a fixpoint")
    (state, rounds, converged)
  }
}
