package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Recommender, Relational}

/** Physical-plan hygiene: the properties that decide whether these
  * operators survive a 100× scale-up — pushdown reaching the scan,
  * dimensions broadcast, top-k not globally sorted, aggregates partial.
  */
class PlanSpec extends SparkTestBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 pushes filters and prunes columns at the parquet scan") {
    val p = plan(Relational.q02.run(spark, sfDir))
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"no pushed filters in:\n$p")
    assert(p.contains("ReadSchema") &&
      !p.contains("l_returnflag"), s"unpruned scan read l_returnflag:\n$p")
  }

  test("q04/q05 broadcast the small dimensions") {
    assert(plan(Relational.q04.run(spark, sfDir)).contains("BroadcastHashJoin"))
    val p5 = plan(Relational.q05.run(spark, sfDir))
    assert(p5.contains("BroadcastHashJoin"), s"q05 lost its broadcasts:\n$p5")
  }

  test("t10/t11/pii01 plan as scan + ONE map-only projection stage (no join, no hash exchange)") {
    // the oracle's ORDER BY sorts in one partition when its input is at
    // most AQE's minPartitionSize (OnePartitionSort) and behind a range
    // exchange above it; anything else — a hash exchange, a join, an
    // aggregate — would mean the 'map-only' 100 TB claim in SURVEY §2 is
    // false
    for (q <- Seq(graft.operators.TextOps.t10, graft.operators.TextOps.t11,
                  graft.operators.TextOps.pii01)) {
      val p = plan(q.run(spark, sfDir))
      assert(!p.contains("Exchange hashpartitioning"),
        s"${q.name} gained a hash shuffle:\n$p")
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"${q.name} must be pure projection:\n$p")
      assert(p.contains("ReadSchema"), s"${q.name} lost its parquet scan:\n$p")
    }
    // the staged-projection fix holds: the split is evaluated by ONE
    // project, not inlined into every gram element (the 22 s regression
    // shape shows as several split() occurrences in the plan)
    val t10p = plan(graft.operators.TextOps.t10.run(spark, sfDir))
    val splits = "split\\(".r.findAllIn(t10p).length
    assert(splits <= 2, s"tokenize inlined $splits times — staging collapsed:\n$t10p")
  }

  test("d17/ct01 stage the tokenizer once; ct01 probes eval grams by broadcast") {
    // d17: the split feeds a per-element slice — inlining it recomputes
    // the tokenizer O(segments) per row (the t10 lesson); the dedup
    // itself is one hash aggregate + one join on the SAME key
    for (q <- Seq(graft.operators.TextOps.d17, graft.operators.TextOps.d18)) {
      val p = plan(q.run(spark, sfDir))
      // d18's wordFold legitimately splits each token into chars inside
      // its boundary lambda; the guard is on the TOKENIZER split of the
      // raw text column — rendered `split(trim(text#N)...` in the plan —
      // which must stay staged (two occurrences: the two scan branches
      // of the groupBy/join; inlining would multiply it per segment)
      val docSplits = "split\\(trim\\(text".r.findAllIn(p).length
      assert(docSplits >= 1 && docSplits <= 2,
        s"${q.name} tokenizer staged $docSplits times (0 = guard regex rotted, " +
          s">2 = staging collapsed):\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"${q.name} must join on the segment hash, not all-pairs:\n$p")
    }
    // ct01: ONE pass over the training grams (train tokenizer appears
    // once, eval's once — the r14 self-review removed the double scan)
    // and the eval membership probe broadcasts instead of shuffling the
    // corpus side
    val ctp = plan(graft.operators.TextOps.ct01.run(spark, sfDir))
    val ctsplits = "split\\(".r.findAllIn(ctp).length
    assert(ctsplits <= 2, s"ct01 tokenize inlined/recomputed $ctsplits times:\n$ctp")
    assert(ctp.contains("BroadcastHashJoin"),
      s"ct01 eval probe must broadcast:\n$ctp")
  }

  test("q07 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q07.run(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"q07 plan:\n$p")
  }

  test("q01 aggregates partially before the shuffle (map-side combine)") {
    val p = plan(Relational.q01.run(spark, sfDir))
    assert(p.contains("partial_"), s"no partial aggregation in:\n$p")
  }

  test("q41 scores the sketch against exact percentiles in ONE scan") {
    // exact percentile + approx_percentile share a single ObjectHashAgg
    // pass — the entry must not pay two scans of the fact table for the
    // bound flags
    val p = plan(Analytics.q41.run(spark, sfDir))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"q41 scans orders $scans times:\n$p")
  }

  test("q06 global agg reads only the four needed columns") {
    val p = plan(Relational.q06.run(spark, sfDir))
    assert(!p.contains("l_orderkey") && !p.contains("l_tax"),
      s"q06 scan reads unneeded columns:\n$p")
  }

  test("q19 scalar subquery broadcasts the one-row aggregate") {
    val p = plan(Analytics.q19.run(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"scalar compare not broadcast:\n$p")
  }

  test("q47 grouping sets plan one Expand over a single partial+final agg") {
    val p = plan(Analytics.q47.run(spark, sfDir))
    assert(p.contains("Expand"), s"grouping sets must Expand, not re-scan per set:\n$p")
    assert(p.contains("partial_"), s"expanded agg lost map-side combine:\n$p")
  }

  test("q48 reads the cached in-memory copy; uncache restores the scan") {
    val p = plan(Relational.cachedOrdersAgg(spark, sfDir))
    assert(p.contains("In-memory table") || p.contains("InMemoryTableScan"),
      s"q48 did not hit the columnar cache:\n$p")
    // column pruning must reach THROUGH the cache: the scan reads the two
    // needed columns, not the full cached relation
    assert(p.contains("Scan In-memory table graft_orders_cached [o_totalprice"),
      s"cache scan is unpruned:\n$p")
    assert(spark.catalog.isCached("graft_orders_cached"))
    spark.catalog.uncacheTable("graft_orders_cached")
    assert(!spark.catalog.isCached("graft_orders_cached"))
    val p2 = plan(spark.sql("SELECT count(*) AS n FROM graft_orders_cached"))
    assert(!p2.contains("In-memory table") && !p2.contains("InMemoryTableScan"),
      s"uncacheTable must drop the in-memory copy:\n$p2")
  }

  test("q48's registered entry leaves nothing cached behind") {
    Relational.q48.run(spark, sfDir).count()
    assert(!spark.catalog.tableExists("graft_orders_cached"),
      "registered q48 must drop its view before returning")
    assert(Tables.orders(spark, sfDir).storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "registered q48 must uncache before returning")
  }

  test("d12 broadcasts the 64-row dimension stats; the apply stage stays map-side") {
    val p = plan(graft.operators.Embeddings.d12.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"per-dimension stats must join back as a broadcast:\n$p")
    assert(p.contains("partial_"),
      s"dimension stats must partial-aggregate before their shuffle:\n$p")
  }

  test("fs01 broadcasts the label margin and keeps the vocabulary shuffled, never broadcast") {
    val p = plan(graft.operators.Features.fs01.run(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"L-row label margin must broadcast:\n$p")
    // the (term, label) presence table must reach its agg partially
    assert(p.contains("partial_"), s"presence counts lost map-side combine:\n$p")
    // top-k over the χ² table must be distributed heaps, never a
    // one-reducer global sort of the vocabulary
    assert(p.contains("TakeOrderedAndProject"),
      s"fs01 top-k lost TakeOrderedAndProject:\n$p")
  }

  test("d08's argmax-flag entry stays map-only: one scan, no join") {
    // the optimality flag is computed per row against centroid plan
    // literals — adding a join (e.g. assignment re-joined to embeddings)
    // would put a shuffle in a provably map-only stage
    val p = plan(graft.operators.Embeddings.d08.run(spark, sfDir))
    assert(!p.contains("Join"), s"d08 flag plan grew a join:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"d08 flag plan scans more than once:\n$p")
  }

  test("rg04's KKT flags cost ONE partial-aggregated scan of lineitem") {
    val p = plan(graft.operators.Regression.rg04.run(spark, sfDir))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"rg04 flag plan scans more than once:\n$p")
    assert(p.contains("partial_"),
      s"rg04 moments lost map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"rg04 flag plan grew a shuffled join:\n$p")
  }

  test("gbt01's MSE anchor costs ONE partial-aggregated scan of lineitem") {
    val p = plan(graft.operators.Trees.gbt01.run(spark, sfDir))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"gbt01 anchor plan scans more than once:\n$p")
    assert(p.contains("partial_"),
      s"gbt01 anchor lost map-side combine:\n$p")
  }

  test("q53 NOT IN plans the null-aware anti join, not a nested loop") {
    val p = plan(Relational.q53.run(spark, sfDir))
    assert(p.contains("NullAwareAntiJoin") ||
      (p.contains("BroadcastHashJoin") && p.contains("LeftAnti")),
      s"NOT IN lost its specialized anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"NOT IN fell back to the nested-loop plan:\n$p")
  }

  test("q38/q52/kf01 hash sampling stays a map-side filter - no shuffle before the sort") {
    // the predicate/projection is pure codegen'd column arithmetic; the
    // only exchange allowed is the final orderBy's range partitioning,
    // and none when its input is at most AQE's minPartitionSize
    // (OnePartitionSort sorts that in one partition)
    Seq(graft.operators.Stats.q38, graft.operators.Stats.q52,
      graft.operators.Stats.kf01).foreach { q =>
      val p = plan(q.run(spark, sfDir))
      assert(!p.contains("Exchange hashpartitioning"),
        s"${q.name}: sampling shuffled: ${p.take(1200)}")
      assert(!p.contains("Join"), s"${q.name}: unexpected join")
    }
  }

  test("st01 partial-aggregates before its single shuffle; cs01 localizes the bounded Gramian") {
    val p = plan(graft.operators.Stats.st01.run(spark, sfDir))
    assert(p.contains("partial_"), s"st01: no map-side combine: ${p.take(1200)}")
    assert(!p.contains("Join"), "st01: colstats must not join")
    // cs01's distributed Gramian pass runs inside the entry and collects
    // only 2080 cells; the RETURNED frame is that bounded local table -
    // consuming it costs zero distributed work (the covariance-cache
    // class), and there is no join anywhere
    val pc = plan(graft.operators.Matrices.cs01.run(spark, sfDir))
    assert(pc.contains("LocalTableScan") && !pc.contains("Join") &&
      !pc.contains("FileScan"),
      s"cs01: returned frame should be the localized cells: ${pc.take(1200)}")
  }

  test("gen01's generator plan has no scan, no join, one bounded moment aggregate") {
    val p = plan(graft.sources.RandomData.gen01.run(spark, sfDir))
    assert(!p.contains("FileScan"), s"generator read a table: ${p.take(800)}")
    assert(p.contains("BroadcastExchange"),
      s"moment flags must broadcast the 1-row aggregate: ${p.take(1200)}")
  }

  test("t13 broadcasts the bounded model sides and reads only doc_id+text") {
    // the vocabulary mapping, unigram model and totals are bounded →
    // broadcast; the only corpus-scale joins are the bigram-key scoring
    // join and the doc-key assembly. No column beyond (doc_id, text)
    // may reach any documents scan.
    val df = SparkEntry.queries("t13_lm_perplexity")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.split("\n").count(_.contains("BroadcastHashJoin")) >= 4,
      s"model sides not broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), "unexpected cartesian")
    val reads = p.split("\n").filter(_.contains("ReadSchema"))
    assert(reads.nonEmpty && reads.forall(r =>
      !r.contains("lang") && !r.contains("url")),
      s"unpruned documents scan:\n${reads.mkString("\n")}")
  }

  test("whole-stage codegen is active on the scan-agg path") {
    // AQE finalizes the physical plan only on execution; run the query
    // first, then the adaptive plan shows its codegen stages as "*(n)"
    val df = Relational.q01.run(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true") && p.contains("*("),
      s"codegen disabled?\n${p.take(800)}")
  }

  /** Executed plans of every Dataset action `body` runs (the trainer's
    * per-round checkpoints and collects included, not just the returned
    * frame). */
  private def plansDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = seen.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.sql.graftshim.GraftDatasetFactory.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(l)
    seen.toArray(Array.empty[String]).toSeq
  }

  test("r02/r04 ALS half-rounds plan a partial collect_list, no AppendColumns or MapGroups") {
    for (q <- Seq(Recommender.r02, Recommender.r04)) {
      val plans = plansDuring(q.run(spark, sfDir).collect())
      assert(plans.exists(_.contains("partial_collect_list")),
        s"${q.name}: no half-round with a map-side collect_list among ${plans.size} plans")
      val typed = plans.filter(p => p.contains("AppendColumns") || p.contains("MapGroups"))
      assert(typed.isEmpty, s"${q.name}: typed group hop is back:\n${typed.mkString("\n")}")
    }
  }
}
