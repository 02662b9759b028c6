package graft

import org.apache.spark.sql.functions._
import graft.streaming.Capacity
import graft.streaming.Capacity.Assignment

class CapacitySpec extends SparkTestBase {

  test("proportional shares sum to total and track capacity ratios (100 random cases)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 100) {
      val n = 1 + rnd.nextInt(12)
      val caps = (0 until n).map(i => s"node$i" -> (1.0 + rnd.nextDouble() * 99)).toMap
      val total = rnd.nextLong(100000L)
      val shares = Assignment.proportional(caps, total)
      assert(shares.values.sum == total)
      val capSum = caps.values.sum
      shares.foreach { case (k, s) =>
        val ideal = total * caps(k) / capSum
        assert(math.abs(s - ideal) <= caps.size, s"$k got $s, ideal $ideal")
      }
    }
  }

  test("proportional zero-total fallback still sums EXACTLY to totalItems") {
    // all-zero capacities: uniform split through largest-remainder
    // rounding (integer division alone loses the remainder: 3×10 → 9)
    val caps = Map("a" -> 0.0, "b" -> 0.0, "c" -> 0.0)
    val shares = Assignment.proportional(caps, 10L)
    assert(shares.values.sum == 10L, s"shares $shares")
    assert(shares.values.forall(s => s == 3L || s == 4L), s"shares $shares")
    assert(Assignment.proportional(Map.empty[String, Double], 10L).isEmpty)
  }

  test("greedy assigns every item exactly once and beats uniform makespan on skewed nodes") {
    val caps = Map("fast" -> 10.0, "slow" -> 1.0)
    val items = Seq.fill(110)(100L)
    val placed = Assignment.greedy(caps, items)
    assert(placed.values.flatten.toSeq.sorted == items.indices)
    val fastN = placed("fast").size
    // fast node should take ~10x the slow node's items
    assert(fastN > 90, s"fast node only got $fastN of 110")
    val makespan = placed.map { case (k, is) => is.size * 100.0 / caps(k) }.max
    val uniformMakespan = 55 * 100.0 / 1.0
    assert(makespan < uniformMakespan / 2)
  }

  test("shares() reduces all four strategies to exact-sum per-node shares") {
    val caps = Map("n0" -> 3.0, "n1" -> 1.0)
    for (st <- Seq[Capacity.Strategy](Capacity.Proportional, Capacity.Greedy,
        Capacity.TwoChoice, Capacity.PowerOfTwo)) {
      val s = Assignment.shares(st, caps, 1000L)
      assert(s.keySet == caps.keySet, s"$st missing nodes")
      assert(s.values.sum == 1000L, s"$st shares sum ${s.values.sum}")
    }
    // proportional / greedy / power-of-two all track a 3:1 capacity skew:
    // the fast node lands near 75% of the work
    for (st <- Seq[Capacity.Strategy](Capacity.Proportional, Capacity.Greedy,
        Capacity.PowerOfTwo)) {
      val frac = Assignment.shares(st, caps, 1000L)("n0") / 1000.0
      assert(frac > 0.65 && frac < 0.85, s"$st placed $frac on the fast node")
    }
    // two-choice with only two nodes has no pair of helpers to shed to —
    // shares stay uniform (the reference strategy's precondition, not a
    // fallback)
    val tc2 = Assignment.shares(Capacity.TwoChoice, caps, 1000L)
    assert(tc2("n0") == 500L && tc2("n1") == 500L)
    // power-of-two is deterministic under its seed, different across seeds
    assert(Assignment.shares(Capacity.PowerOfTwo, caps, 1000L, seed = 7L) ==
      Assignment.shares(Capacity.PowerOfTwo, caps, 1000L, seed = 7L))
  }

  test("TwoChoice shares shed uniform load from the helpee toward the two most-idle helpers") {
    // one straggler (cap 1), two median nodes (cap 5) and two helpers
    // (caps 10/9) around median capability 5: helpee = s, helpers =
    // {h1, h2} (h1 the most idle under uniform load)
    val caps = Map("s" -> 1.0, "a" -> 5.0, "b" -> 5.0,
      "h1" -> 10.0, "h2" -> 9.0)
    val cls = Capacity.classify(caps)
    assert(cls.helpees == Set("s") && cls.helpers == Set("h1", "h2"))
    val s = Assignment.shares(Capacity.TwoChoice, caps, 1000L)
    assert(s.values.sum == 1000L)
    val uniform = 200L
    assert(s("s") < uniform / 2, s"helpee kept ${s("s")} of its uniform $uniform")
    assert(s("h1") > uniform && s("h2") > uniform,
      s"the two most-idle helpers must absorb the shed load: $s")
    assert(s("a") == uniform && s("b") == uniform,
      "non-chosen nodes' shares are untouched")
    // capacity-normalized finish time tightens vs the uniform placement
    def makespan(sh: Map[String, Long]): Double =
      sh.map { case (k, v) => v / caps(k) }.max
    assert(makespan(s) < makespan(caps.map { case (k, _) => k -> uniform }),
      "shedding must improve the projected makespan")
  }

  test("twoChoice sheds to the two most-idle helpers, shares proportional to idleness") {
    // idleness = capability/load (the direction JobMonitor.twoChoiceStrategy's
    // sequential recomputation uses):
    // helpee a: cap 1, load 8  -> σ 0.125
    // helpers: h3 cap 10 load 1 -> σ 10 ; h2 cap 8 load 8 -> σ 1 ;
    //          h1 cap 4 load 8 -> σ 0.5 (NOT picked: two-choice takes the
    //          two MOST-IDLE helpers, and h1 is the busiest)
    val caps = Map("a" -> 1.0, "h1" -> 4.0, "h2" -> 8.0, "h3" -> 10.0)
    val loads = Map("a" -> 8.0, "h1" -> 8.0, "h2" -> 8.0, "h3" -> 1.0)
    val (plan, after) = Assignment.twoChoice(caps, loads, Seq("a"), Set("h1", "h2", "h3"))
    // denominator = 0.125 + 10 + 1; shares proportional to idleness, so
    // the overloaded helpee keeps almost nothing and idle h3 takes most
    val d = 0.125 + 10.0 + 1.0
    val shares = plan("a")
    assert(math.abs(shares("a") - 0.125 / d) < 1e-12)
    assert(math.abs(shares("h3") - 10.0 / d) < 1e-12)
    assert(math.abs(shares("h2") - 1.0 / d) < 1e-12)
    assert(!shares.contains("h1"))
    // loads updated sequentially: helpee keeps load*share(a), each chosen
    // helper gains load*share(h)
    assert(math.abs(after("a") - 8.0 * 0.125 / d) < 1e-12)
    assert(math.abs(after("h3") - (1.0 + 8.0 * 10.0 / d)) < 1e-12)
    assert(math.abs(after("h2") - (8.0 + 8.0 * 1.0 / d)) < 1e-12)
    assert(after("h1") == 8.0)
    // no load created or destroyed
    assert(math.abs(after.values.sum - loads.values.sum) < 1e-9)
  }

  test("twoChoice is sequential: a later helpee sees loads shifted by an earlier one") {
    val caps = Map("a" -> 1.0, "b" -> 1.0, "h1" -> 10.0, "h2" -> 10.0)
    val loads = Map("a" -> 10.0, "b" -> 10.0, "h1" -> 1.0, "h2" -> 0.5)
    val (plan, after) = Assignment.twoChoice(caps, loads, Seq("a", "b"), Set("h1", "h2"))
    // helpee a sheds first (mostly to h2, the idler helper), lowering
    // h1/h2 idleness; b's denominator and shares must reflect the POST-a
    // loads, not the originals
    assert(plan.contains("a") && plan.contains("b"))
    assert(plan("a")("h2") > plan("a")("h1"), "a must favor the idler helper h2")
    val bShares = plan("b")
    val s1AfterA = caps("h1") / (loads("h1") + 10.0 * plan("a")("h1"))
    val s2AfterA = caps("h2") / (loads("h2") + 10.0 * plan("a")("h2"))
    val denomB = caps("b") / loads("b") + s1AfterA + s2AfterA
    assert(math.abs(bShares("b") - (caps("b") / loads("b")) / denomB) < 1e-12)
    assert(math.abs(bShares("h1") - s1AfterA / denomB) < 1e-12)
    assert(math.abs(bShares("h2") - s2AfterA / denomB) < 1e-12)
    // after a's shed h1 is now the idler of the two, so b flips preference
    assert(bShares("h1") > bShares("h2"), "b must track the post-a idleness order")
    assert(math.abs(after.values.sum - loads.values.sum) < 1e-9)
  }

  test("power-of-two-choice is deterministic under a seed and covers all items") {
    val caps = Map("a" -> 5.0, "b" -> 5.0, "c" -> 1.0)
    val items = Seq.tabulate(500)(i => (i % 7 + 1) * 10L)
    val p1 = Assignment.powerOfTwoChoice(caps, items, seed = 7)
    val p2 = Assignment.powerOfTwoChoice(caps, items, seed = 7)
    assert(p1 == p2)
    assert(p1.values.flatten.toSeq.sorted == items.indices)
    // capacity-normalized load should be reasonably balanced
    val loads = p1.map { case (k, is) => is.map(items).sum / caps(k) }
    assert(loads.max / loads.min < 3.0)
  }

  test("classify splits nodes around the median capability") {
    val caps = Map("s1" -> 1.0, "s2" -> 1.1, "m" -> 5.0, "f1" -> 9.0, "f2" -> 10.0)
    val c = Capacity.classify(caps, tolerance = 0.2)
    assert(c.helpees == Set("s1", "s2"))
    assert(c.helpers == Set("f1", "f2"))
    assert(c.medians == Set("m"))
  }

  test("CapacityMonitor observes real task metrics from a spark job") {
    val mon = new Capacity.CapacityMonitor()
    spark.sparkContext.addSparkListener(mon)
    try {
      Tables.lineitem(spark, sfDir).agg(sum("l_quantity")).collect()
      // listener bus is async; poll until task-end events are delivered
      val deadline = System.currentTimeMillis() + 10000
      while (mon.capacities.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val caps = mon.capacities
      assert(caps.nonEmpty, "no executor metrics observed")
      assert(caps.values.forall(_ >= 0))
      assert(mon.totals.values.map(_._1).sum > 0, "no bytes read observed")
    } finally spark.sparkContext.removeSparkListener(mon)
  }

  test("AQE splits a pathologically skewed join partition (Lever's straggler case)") {
    import org.apache.spark.sql.functions.when
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.forceOptimizeSkewedJoin").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // 100k rows, 95% on one hot key — the straggler Lever pre-scheduled around
      val skewed = spark.range(100000)
        .withColumn("k", when(col("id") % 100 < 95, 0L).otherwise(col("id") % 50))
      val dim = spark.range(50).withColumn("payload", col("id") * 2)
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // collect() executes this DataFrame's own QueryExecution (a write
      // plans a fresh one and leaves this plan un-finalized); no op after
      // the join — a distribution-dependent agg would veto the skew split
      val joined = skewed.join(dim, skewed("k") === dim("id"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"))
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${p.take(1200)}")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("Lever closed loop: capacity measurements drive next-batch placement, results unchanged") {
    val src = java.nio.file.Files.createTempDirectory("graft-lever-src").toString
    val ev = Tables.events(spark, TestSpark.sfDir).cache()
    val schema = ev.schema

    // injectable measurement (the live-monitor path is covered by the
    // CapacityMonitor test above): batch 0 sees a 3:1 capacity skew,
    // batch 1 sees recovered 1:1 — placement must follow the CURRENT
    // measurement each batch, which is the closed loop
    val caps = new java.util.concurrent.atomic.AtomicReference(
      Map("n0" -> 3.0, "n1" -> 1.0))
    val perBatch = new java.util.concurrent.ConcurrentHashMap[Long, Map[Int, Long]]()

    val q = graft.streaming.Pipelines.startCapacityBalanced(
      spark.readStream.schema(schema).parquet(src),
      "lever_loop", () => caps.get(), "event_id") { (batch, id) =>
      val counts = batch
        .withColumn("_pid", spark_partition_id())
        .groupBy("_pid").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      perBatch.put(id, counts)
    }
    ev.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    q.processAllAvailable()
    caps.set(Map("n0" -> 1.0, "n1" -> 1.0))
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    def share0(counts: Map[Int, Long]): Double =
      counts.getOrElse(0, 0L).toDouble / counts.values.sum
    val s0 = share0(perBatch.get(0L))
    val s1 = share0(perBatch.get(1L))
    assert(s0 > 0.65 && s0 < 0.85, s"3:1 capacity should place ~75% on node 0, got $s0")
    assert(s1 > 0.40 && s1 < 0.60, s"1:1 capacity should place ~50% on node 0, got $s1")
    // semantically invisible: every row processed exactly once
    val totalPlaced = perBatch.values().stream()
      .mapToLong(m => m.values.sum).sum()
    assert(totalPlaced == ev.count(), "balancing must only move rows, never drop or duplicate")
  }

  test("closed loop: each selectable strategy places per its property, lossless") {
    val ev = Tables.events(spark, TestSpark.sfDir)
      .limit(2000).cache()
    val schema = ev.schema
    val nEv = ev.count()

    // (strategy, capacity map, assertion on the fraction placed on the
    // straggler-or-fast node). Proportional is covered by the original
    // closed-loop test; here the other three selectable strategies prove
    // their placement property through the SAME measured-capacity loop.
    val cases: Seq[(Capacity.Strategy, Map[String, Double], Map[Int, Long] => Unit)] = Seq(
      (Capacity.Greedy, Map("n0" -> 3.0, "n1" -> 1.0), counts => {
        val f = counts.getOrElse(0, 0L).toDouble / counts.values.sum
        assert(f > 0.65 && f < 0.85, s"greedy placed $f on the 3x node")
      }),
      (Capacity.PowerOfTwo, Map("n0" -> 3.0, "n1" -> 1.0), counts => {
        val f = counts.getOrElse(0, 0L).toDouble / counts.values.sum
        assert(f > 0.60 && f < 0.90, s"power-of-two placed $f on the 3x node")
      }),
      (Capacity.TwoChoice,
        // sorted node order: h1, h2, m0, m1, s -> straggler s owns the
        // LAST weight slot; helpers h1/h2 own the first two
        Map("s" -> 1.0, "m0" -> 5.0, "m1" -> 5.0, "h1" -> 10.0, "h2" -> 9.0),
        counts => {
          val total = counts.values.sum.toDouble
          val sFrac = counts.getOrElse(4, 0L) / total
          val hFrac = (counts.getOrElse(0, 0L) + counts.getOrElse(1, 0L)) / total
          assert(sFrac < 0.10, s"two-choice left $sFrac on the helpee")
          assert(hFrac > 0.45, s"helpers absorbed only $hFrac")
        }))

    for (((st, caps, check), i) <- cases.zipWithIndex) {
      val src = java.nio.file.Files.createTempDirectory(s"graft-lever-st$i").toString
      val got = new java.util.concurrent.atomic.AtomicReference[Map[Int, Long]](Map.empty)
      val q = graft.streaming.Pipelines.startCapacityBalanced(
        spark.readStream.schema(schema).parquet(src),
        s"lever_strategy_$i", () => caps, "event_id", st) { (batch, _) =>
        got.set(batch
          .withColumn("_pid", spark_partition_id())
          .groupBy("_pid").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
      }
      ev.write.mode("append").parquet(src)
      q.processAllAvailable()
      q.stop()
      val counts = got.get()
      assert(counts.values.sum == nEv, s"$st dropped or duplicated rows")
      check(counts)
    }
  }

  test("salted join equals plain join; two-phase agg equals plain agg") {
    val ev = Tables.events(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val plain = ev.join(cust, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment").collect().toSeq
    val salted = graft.operators.SkewTools
      .saltedJoin(ev, cust, "user_id", "c_custkey", "event_id", 8)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment").collect().toSeq
    assert(salted == plain)
  }
}
