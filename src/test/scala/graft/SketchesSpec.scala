package graft

import org.apache.spark.sql.functions._
import graft.operators.Sketches

class SketchesSpec extends SparkTestBase {

  test("bloomPrune never drops a true member and keeps the fp rate near theory") {
    // 10k build keys (evens), 20k probe keys: every even must pass
    // (no false negatives — the Bloom guarantee), odd spill stays well
    // under the ~2% theoretical rate at 16 bits/key
    val build = spark.range(0, 20000, 2).toDF("k")
    val probe = spark.range(0, 20000).toDF("j")
    val passed = Sketches.bloomPrune(build, "k", probe, "j",
      expectedItems = 10000L, numBits = 160000L)
      .select("j").collect().map(_.getLong(0)).toSet
    assert((0L until 20000L by 2).forall(passed.contains),
      "a build member failed might_contain — impossible for a Bloom filter")
    val falsePos = passed.count(_ % 2 == 1)
    assert(falsePos < 10000 * 0.05, s"fp rate ${falsePos / 10000.0} too high")
  }

  test("bloomPrune output equals the exact semi-join after re-filtering") {
    val build = spark.range(100, 200).toDF("k")
    val probe = spark.range(0, 1000).toDF("j")
    val pruned = Sketches.bloomPrune(build, "k", probe, "j", 100L, 4000L)
    // candidate set ⊇ exact; exact re-filter of the candidates IS exact
    val exact = pruned.join(build, col("j") === col("k"), "left_semi")
      .select("j").collect().map(_.getLong(0)).toSet
    assert(exact == (100L until 200L).toSet)
  }

  test("two concurrent bloomPrune calls with different builds don't clobber each other") {
    // interleaved construction THEN interleaved execution — a plan
    // that reached its build side through a session-global name would
    // let the second call silently swap the first call's build side
    val evens = spark.range(0, 2000, 2).toDF("k")
    val odds = spark.range(1, 2000, 2).toDF("k")
    val probe = spark.range(0, 2000).toDF("j")
    val prunedEven = Sketches.bloomPrune(evens, "k", probe, "j", 1000L, 40000L)
    val prunedOdd = Sketches.bloomPrune(odds, "k", probe, "j", 1000L, 40000L)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fe = Future(prunedEven.select("j").collect().map(_.getLong(0)).toSet)
    val fo = Future(prunedOdd.select("j").collect().map(_.getLong(0)).toSet)
    val (pe, po) = (Await.result(fe, 120.seconds), Await.result(fo, 120.seconds))
    assert((0L until 2000L by 2).forall(pe.contains), "even build lost members")
    assert((1L until 2000L by 2).forall(po.contains), "odd build lost members")
    // cross-contamination check: each side's spill stays a small fp tail,
    // impossible if the builds were swapped/clobbered (then 100% pass)
    assert(pe.count(_ % 2 == 1) < 200, s"even-call fp tail ${pe.count(_ % 2 == 1)}")
    assert(po.count(_ % 2 == 0) < 200, s"odd-call fp tail ${po.count(_ % 2 == 0)}")
  }

  test("bf01 leaves the session catalog unchanged") {
    val fresh = spark.newSession()
    def functions = fresh.catalog.listFunctions().collect().map(_.name).toSet
    val (views, before) = (tempViews(fresh), functions)
    assert(Sketches.bf01.run(fresh, sfDir).collect().nonEmpty)
    assert(tempViews(fresh) == views, "bf01 left a temp view behind")
    val added = functions -- before
    assert(added.isEmpty, s"bf01 registered $added")
  }

  test("cmsEstimates never underestimates and respects the eps bound") {
    val words = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        java.util.Arrays.asList(Seq.tabulate(5000)(i => Row(s"w${i % 7}")): _*),
        StructType(Seq(StructField("w", StringType))))
    }
    val exact = words.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.cmsEstimates(words, col("w"),
      eps = 0.001, conf = 0.99, seed = 7, candidates = exact.keys.toSeq)
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"$k underestimated: ${est(k)} < $n")
      assert(est(k) <= n + (0.001 * 5000).toLong + 1,
        s"$k over eps bound: ${est(k)} vs $n")
    }
    // a key never seen estimates (near) zero — bounded by eps*N
    val unseen = Sketches.cmsEstimates(words, col("w"),
      0.001, 0.99, 7, Seq("absent"))("absent")
    assert(unseen <= (0.001 * 5000).toLong + 1)
  }

  test("bf01/cm01 entries and the bf01 prod twin run green on the corpus") {
    val bf = Sketches.bf01.run(spark, sfDir).collect()
    assert(bf.nonEmpty)
    assert(bf.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      "a bloom certificate flag flipped")
    val cm = Sketches.cm01.run(spark, sfDir).collect()
    assert(cm.length == 5)
    assert(cm.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      "a count-min certificate flag flipped")
    val prod = Sketches.bf01.prod.get(spark, sfDir).collect()
    assert(prod.nonEmpty)
  }
}
