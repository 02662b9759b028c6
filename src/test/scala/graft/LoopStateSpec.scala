package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The materialization primitives every driver-iterated trainer uses:
  * the fixpoint driver's round/convergence accounting and cap warning,
  * the pin and the stats-free lineage cut, and the rule that nothing
  * else in graft materializes a frame. */
class LoopStateSpec extends SparkTestBase {

  /** Min-label propagation over an undirected edge list: the same
    * monotone step as connected components. */
  private def minLabelFixpoint(n: Long, edges: Seq[(Long, Long)], maxRounds: Int) = {
    import TestSpark.spark.implicits._
    val e = edges.toDF("src", "dst")
    val bidir = e.union(e.select(col("dst"), col("src")))
    LoopState.fixpoint((1L to n).toDF("id").select(col("id"), col("id").as("label")),
        maxRounds, "minLabel") { labels =>
      labels.union(bidir.join(labels, bidir("src") === labels("id"))
          .select(col("dst").as("id"), col("label")))
        .groupBy("id").agg(min("label").as("label"))
    }(col("label"))
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body`'s result and the messages `graft.LoopState` logged meanwhile. */
  private def withLoopStateLog[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("loop-state-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger(LoopState.getClass.getName).asInstanceOf[Logger]
    logger.addAppender(app)
    val out = try body finally { logger.removeAppender(app); app.stop() }
    (out, seen.toArray(Array.empty[String]).toSeq)
  }

  test("fixpoint on a 5-chain converges after the round that changes nothing") {
    // labels per round: 12345 → 11234 → 11123 → 11112 → 11111 → 11111
    val chain = (1L until 5L).map(i => (i, i + 1))
    val ((state, rounds, converged), log) =
      withLoopStateLog(minLabelFixpoint(5, chain, maxRounds = 10))
    assert((rounds, converged) == (5, true))
    assert(labelsOf(state) == (1L to 5L).map(_ -> 1L).toMap)
    assert(log.isEmpty, s"a converged loop must not warn: $log")
  }

  test("fixpoint on an edgeless graph converges in its first round") {
    val (state, rounds, converged) = minLabelFixpoint(3, Seq.empty, maxRounds = 10)
    assert((rounds, converged) == (1, true))
    assert(labelsOf(state) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("fixpoint stops at its round cap, unconverged, with one warning") {
    val chain = (1L until 5L).map(i => (i, i + 1))
    val ((state, rounds, converged), log) =
      withLoopStateLog(minLabelFixpoint(5, chain, maxRounds = 2))
    assert((rounds, converged) == (2, false))
    assert(labelsOf(state) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    assert(log == Seq("minLabel stopped at its 2-round cap before reaching a fixpoint"),
      s"expected exactly one cap warning, got $log")
  }

  test("a cut leaf reports spark.sql.defaultSizeInBytes, not its origin plan's stats") {
    val default = BigInt(org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get("spark.sql.defaultSizeInBytes")))
    def size(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val base = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
    for (eager <- Seq(true, false)) {
      assert(size(LoopState.pin(base, eager)) < default, s"a pin keeps origin stats, eager=$eager")
      val leaf = LoopState.cut(base, eager)
      assert(size(leaf) == default, s"eager=$eager")
      // a join over two cut leaves estimates their PRODUCT; its cut must
      // not inherit it (the compounding that hung planning)
      val joined = leaf.join(LoopState.cut(base, eager), "k")
      assert(size(joined) > default)
      val next = LoopState.cut(joined, eager)
      assert(size(next) == default, s"eager=$eager")
      // ids 0..999 by id % 7: six keys of 143 rows, one of 142
      assert(next.count() == 6L * 143 * 143 + 142L * 142)
    }
  }

  test("an eager pin costs one job, a lazy pin none until an action reads it") {
    val base = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
    var eager: DataFrame = null
    assert(jobsOf { eager = LoopState.pin(base, eager = true) } == 1)
    assert(jobsOf(eager.collect()) == 1)
    var lazyPin: DataFrame = null
    assert(jobsOf { lazyPin = LoopState.pin(base, eager = false) } == 0)
    // the first action materializes the blocks inside its own job
    assert(jobsOf(assert(lazyPin.collect().length == 1000)) == 1)
  }

  test("no file under src/main/scala but LoopState.scala calls localCheckpoint") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root, not $root")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "LoopState.scala"))
    val offenders = files.filter(_.getFileName.toString != "LoopState.scala")
      .filter(f => java.nio.file.Files.readString(f).contains(".localCheckpoint("))
    assert(offenders.isEmpty,
      s"materialize through LoopState.pin or LoopState.cut instead: ${offenders.mkString(", ")}")
  }

  test("d07 reads its components' edges unpinned: 19 jobs") {
    // d07 lost its connected-components pin (plans/r28/JOBS.md) and builds
    // its shared candidate pairs cold here. r04 is pinned in
    // RecommenderSpec; r03, r05 and t05 move by up to three jobs run to run
    graft.Shared.evict()
    val jobs = jobsOf(operators.Clusters.d07.run(spark, sfDir).collect())
    assert(jobs == 19, s"d07 ran $jobs jobs")
  }
}
