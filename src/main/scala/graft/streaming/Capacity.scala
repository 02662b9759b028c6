package graft.streaming

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Spark-4-native re-expression of Lever's capacity-aware load balancing
  * (reference: core/src/main/scala/org/apache/spark/monitor/
  * JobMonitor.scala and WorkerMonitor.scala).
  *
  * The reference measures per-worker handle speed (bytes/ms,
  * WorkerMonitor.scala:44), classifies nodes into helpee/median/helper
  * sets (JobMonitor.scala:204-302) and re-places the next micro-batch's
  * input with proportional / greedy / two-choice / power-of-two-choice
  * strategies (JobMonitor.scala:389-548). Spark 4 has no receiver layer
  * to re-place into, so the same policy plugs in as:
  *   - [[CapacityMonitor]] — a SparkListener computing per-executor
  *     bytes/ms from real task metrics (no actors needed);
  *   - [[Assignment]] — the four placement strategies as pure partition
  *     math, whose shares size a weighted repartition before a heavy
  *     stage ([[graft.operators.SkewTools.weightedRepartition]], the
  *     placement path the capacity-balanced stream uses).
  */
object Capacity {

  /** Strategy selector — the reference's JobMonitor chooses among four
    * placement strategies (JobMonitor.scala:389-548); [[Assignment.shares]]
    * reduces each to per-node work shares for a weighted repartition. */
  sealed trait Strategy
  case object Proportional extends Strategy
  case object Greedy extends Strategy
  case object TwoChoice extends Strategy
  case object PowerOfTwo extends Strategy

  /** Helpee = straggler candidate, helper = spare capacity — the node
    * classification of JobMonitor.decidestraggler, driven off relative
    * distance from the median capability. */
  final case class Classification(
      helpees: Set[String], medians: Set[String], helpers: Set[String])

  def classify(caps: Map[String, Double], tolerance: Double = 0.2): Classification = {
    if (caps.isEmpty) return Classification(Set.empty, Set.empty, Set.empty)
    val sorted = caps.values.toSeq.sorted
    val median = sorted(sorted.size / 2)
    val helpees = caps.filter(_._2 < median * (1 - tolerance)).keySet
    val helpers = caps.filter(_._2 > median * (1 + tolerance)).keySet
    Classification(helpees, caps.keySet -- helpees -- helpers, helpers)
  }

  /** Placement strategies: split `totalItems` work units across nodes.
    * Every strategy returns shares summing exactly to totalItems. */
  object Assignment {

    /** Largest-remainder rounding of ideal (fractional) shares so the
      * integral shares sum exactly to `totalItems`. */
    private def roundToTotal(ideal: Map[String, Double], totalItems: Long): Map[String, Long] = {
      val floors = ideal.view.mapValues(_.toLong).toMap
      var remaining = totalItems - floors.values.sum
      val byRemainder = ideal.toSeq.sortBy { case (k, v) => (-(v - v.toLong), k) }
      val out = mutable.Map(floors.toSeq: _*)
      for ((k, _) <- byRemainder if remaining > 0) { out(k) += 1; remaining -= 1 }
      out.toMap
    }

    /** proportionStrategy (JobMonitor.scala:389): share ∝ capacity, with
      * largest-remainder correction so shares sum exactly. */
    def proportional(caps: Map[String, Double], totalItems: Long): Map[String, Long] = {
      val total = caps.values.sum
      // zero-total fallback goes through the same largest-remainder
      // rounding as the normal path so shares still sum EXACTLY to
      // totalItems (integer division alone loses the remainder: 3 nodes,
      // 10 items -> 9)
      if (total <= 0) {
        if (caps.isEmpty) return Map.empty
        return roundToTotal(
          caps.view.mapValues(_ => totalItems.toDouble / caps.size).toMap, totalItems)
      }
      roundToTotal(caps.view.mapValues(c => totalItems * c / total).toMap, totalItems)
    }

    /** Unified entry the closed loop calls: reduce any of the four
      * strategies to per-node shares of `totalItems` uniform work units
      * (shares sum exactly to totalItems; every node present in the
      * result).
      *
      *  - [[Proportional]]: share ∝ measured capacity, directly.
      *  - [[Greedy]]: totalItems unit items placed largest-first on the
      *    lowest projected finish time — with uniform items this load-
      *    balances finish times, converging to ∝ capacity.
      *  - [[TwoChoice]]: the batch is modeled as currently uniform
      *    (totalItems/n per node — what an unweighted repartition gives),
      *    nodes are classified around the median capability, and each
      *    helpee sheds across itself and the two most-idle helpers; the
      *    post-shed loads become the shares. Needs ≥2 helpers to act
      *    (the reference's precondition) — otherwise shares stay
      *    uniform, which IS the strategy's semantics, not a fallback.
      *  - [[PowerOfTwo]]: each unit item probes a seeded random pair and
      *    picks the lower capacity-normalized load; counts become shares.
      */
    def shares(
        strategy: Strategy,
        caps: Map[String, Double],
        totalItems: Long = 1000L,
        seed: Long = 42L,
        tolerance: Double = 0.2): Map[String, Long] = strategy match {
      case Proportional => proportional(caps, totalItems)
      case Greedy =>
        greedy(caps, Seq.fill(totalItems.toInt)(1L))
          .view.mapValues(_.size.toLong).toMap
      case PowerOfTwo =>
        powerOfTwoChoice(caps, Seq.fill(totalItems.toInt)(1L), seed)
          .view.mapValues(_.size.toLong).toMap
      case TwoChoice =>
        val n = math.max(1, caps.size)
        val uniform = caps.view.mapValues(_ => totalItems.toDouble / n).toMap
        val cls = classify(caps, tolerance)
        val (_, finalLoads) = twoChoice(
          caps, uniform, cls.helpees.toSeq.sorted, cls.helpers)
        roundToTotal(finalLoads, totalItems)
    }

    /** greedyStrategy (JobMonitor.scala:427): items (largest first) go to
      * the node with the lowest projected finish time load/capacity. */
    def greedy(caps: Map[String, Double], itemSizes: Seq[Long]): Map[String, Seq[Int]] = {
      val load = mutable.Map(caps.keys.map(_ -> 0.0).toSeq: _*)
      val out = mutable.Map(caps.keys.map(_ -> mutable.Buffer.empty[Int]).toSeq: _*)
      val order = itemSizes.zipWithIndex.sortBy { case (sz, i) => (-sz, i) }
      for ((sz, i) <- order) {
        val best = load.keys.minBy(k => ((load(k) + sz) / math.max(caps(k), 1e-9), k))
        load(best) += sz
        out(best) += i
      }
      out.view.mapValues(_.toSeq).toMap
    }

    /** twoChoiceStrategy (JobMonitor.scala:471): DETERMINISTIC shedding —
      * each helpee `a` reallocates its load across itself and the two
      * MOST-IDLE helpers, proportionally to idleness: with
      * σ(k) = capability(k)/load(k) and h1, h2 the top-2 helpers by σ,
      * the split is σ(k)/(σ(a)+σ(h1)+σ(h2)) for k ∈ {a, h1, h2} — the
      * overloaded helpee (low σ) keeps little, spare capacity (high σ)
      * absorbs most. Loads are updated after each helpee (helpee keeps
      * load·share(a); each helper gains load·share(h)), so later helpees
      * see the shifted load and pick the CURRENTLY least-loaded helpers —
      * the reference's sequential bytesInputRate update. (The reference's
      * two ratio definitions disagree — load/capability on the first
      * helpee, capability/load after it; the first would shed toward the
      * BUSIEST helpers. This implementation keeps the capability/load
      * direction throughout: it is the one the strategy's sequential
      * recomputation actually uses, and the only one that moves load
      * toward idle capacity.)
      *
      * @return (plan, finalLoads): plan(a) maps each of {a, h1, h2} to its
      *         share of a's original load; finalLoads is the load map
      *         after all helpees shed. */
    def twoChoice(
        caps: Map[String, Double],
        loads: Map[String, Double],
        helpees: Seq[String],
        helpers: Set[String]): (Map[String, Map[String, Double]], Map[String, Double]) = {
      val load = mutable.Map(loads.toSeq: _*)
      def idleness(k: String): Double =
        caps.getOrElse(k, 0.0) / math.max(load.getOrElse(k, 0.0), 1e-9)
      val plan = mutable.Map.empty[String, Map[String, Double]]
      for (a <- helpees) {
        val cands = (helpers - a).toSeq.sortBy(k => (-idleness(k), k))
        if (cands.size >= 2) {
          val (h1, h2) = (cands(0), cands(1))
          val denom = idleness(a) + idleness(h1) + idleness(h2)
          if (denom > 0) {
            val shares = Map(
              a -> idleness(a) / denom,
              h1 -> idleness(h1) / denom,
              h2 -> idleness(h2) / denom)
            val orig = load.getOrElse(a, 0.0)
            load(h1) = load.getOrElse(h1, 0.0) + orig * shares(h1)
            load(h2) = load.getOrElse(h2, 0.0) + orig * shares(h2)
            load(a) = orig * shares(a)
            plan(a) = shares
          }
        }
      }
      (plan.toMap, load.toMap)
    }

    /** powerOfTwoChoiceStrategy (JobMonitor.scala:524): each item probes a
      * RANDOM pair of nodes and picks the one with the lower projected
      * capacity-normalized load; a seeded RNG keeps runs repeatable. The
      * randomized counterpart of [[twoChoice]]. */
    def powerOfTwoChoice(
        caps: Map[String, Double], itemSizes: Seq[Long], seed: Long = 42L): Map[String, Seq[Int]] = {
      val nodes = caps.keys.toIndexedSeq.sorted
      val rnd = new scala.util.Random(seed)
      val load = mutable.Map(nodes.map(_ -> 0.0): _*)
      val out = mutable.Map(nodes.map(_ -> mutable.Buffer.empty[Int]): _*)
      for ((sz, i) <- itemSizes.zipWithIndex) {
        val a = nodes(rnd.nextInt(nodes.size))
        val b = nodes(rnd.nextInt(nodes.size))
        val best = if ((load(a) + sz) / math.max(caps(a), 1e-9) <=
                       (load(b) + sz) / math.max(caps(b), 1e-9)) a else b
        load(best) += sz
        out(best) += i
      }
      out.view.mapValues(_.toSeq).toMap
    }
  }

  /** Live capability estimation from task metrics — WorkerMonitor's
    * bytes/ms handle speed, without the actor plumbing: listens to task
    * completions and keeps an exponentially-decayed per-executor rate. */
  final class CapacityMonitor(alpha: Double = 0.3) extends SparkListener {
    private val speed = mutable.Map.empty[String, Double] // executorId -> bytes/ms

    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = synchronized {
      val m = taskEnd.taskMetrics
      if (m != null) {
        val ex = taskEnd.taskInfo.executorId
        val read = m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead
        val ms = math.max(1L, m.executorRunTime)
        val inst = read.toDouble / ms
        speed(ex) = speed.get(ex).map(s => s * (1 - alpha) + inst * alpha).getOrElse(inst)
      }
    }

    def capacities: Map[String, Double] = synchronized { speed.toMap }
  }
}
