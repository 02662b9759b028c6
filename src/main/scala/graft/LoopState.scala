package graft

import org.apache.spark.sql.{Column, DataFrame}

/** How state is carried between the rounds of a driver-iterated
  * DataFrame loop — the re-expression of the reference's iterative
  * surface (GraphX Pregel, the MLlib trainers). This object owns
  * LOOP-CARRIED state: every trainer hands the frames it reassigns
  * inside a driver loop to [[cut]], and fingerprint-converged loops run
  * through [[fixpoint]].
  *
  * It does not own the one-shot pins: 29 plain `.localCheckpoint()`
  * calls in 13 files (Graphs, Recommender, Embeddings, Optimize and
  * others) materialize loop-INVARIANT inputs once, before a loop or a
  * multi-pass fit. Their origin stats cannot compound (nothing feeds
  * back into them), and a durability policy (below) must visit them too.
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
  * auto-broadcast.
  *
  * Durability: `localCheckpoint` keeps the blocks on the executors that
  * computed them, so losing one of those executors fails the next
  * round. At cluster scale this object is the place to swap in reliable
  * checkpointing (a checkpoint directory, or a replicated persist) for
  * loop state; the one-shot pins above need the same swap at their own
  * sites.
  */
object LoopState {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The lineage cut for loop state: a local checkpoint whose leaf
    * carries no origin stats. `eager = false` only marks the frame — the
    * caller's next action materializes the blocks inside its own job (the
    * r16 fusion: "checkpoint the round" and "read its 1-row fingerprint"
    * cost one job, not two). Use the lazy form only where a consuming
    * action follows promptly; otherwise the materialization cascades into
    * whichever job reads the state next. */
  def cut(df: DataFrame, eager: Boolean): DataFrame =
    org.apache.spark.sql.graftshim.GraftDatasetFactory
      .withoutOriginStats(df.localCheckpoint(eager))

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
