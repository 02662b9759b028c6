package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.{LoopState, Q, Tables}

/** Distributed tree-family training (reference mllib/src/main/scala/org/
  * apache/spark/mllib/tree/DecisionTree.scala:1, RandomForest.scala:1,
  * GradientBoostedTrees.scala:1) re-expressed Spark-first: MLlib's core
  * trick — bin the features once, then train each LEVEL with ONE
  * aggregation pass that collects per (node, feature, bin, label|moment)
  * statistics — maps directly onto a DataFrame groupBy. The driver only
  * ever sees the bounded histogram cube (nodes × features × bins ×
  * stats), never rows; split choice is driver-side arithmetic on those
  * counts (the reference's findBestSplits placement,
  * DecisionTree.scala:1136).
  *
  * ONE level-wise grower ([[grow]]) trains T trees together, as the
  * reference's `DecisionTree.run` is a one-tree RandomForest: the single
  * classification tree and the regression tree are T = 1, the forest is
  * T = nTrees with per-tree deterministic Poisson(1) bootstrap WEIGHTS
  * (RandomForest.scala's baggedInput — weights, not resampled copies)
  * and per-tree feature subsets, and boosting calls the regression tree
  * once per round on a residual column updated in-plan. A family is a
  * [[Law]]: its cell statistic, its split choice and its leaf value.
  * Rows carry their current node id as a COLUMN (updated per level by a
  * bounded when-chain on the binned feature), so the tree state lives
  * in the data — no shuffling by node, no per-node passes.
  */
object Trees {

  /** One trained split: route bin ≤ thresholdBin left. */
  final case class Split(node: Int, feature: Int, thresholdBin: Int)

  final case class Model(splits: Map[Int, Split], leafClass: Map[Int, String],
                         depth: Int)

  /** Regression tree: leaves carry the weighted mean response. */
  final case class RModel(splits: Map[Int, Split], leafValue: Map[Int, Double],
                          depth: Int)

  private def gini(counts: Seq[Long]): Double = {
    val n = counts.sum.toDouble
    if (n == 0) 0.0 else 1.0 - counts.map(c => (c / n) * (c / n)).sum
  }

  /** Shannon entropy in bits (reference mllib/src/main/scala/org/apache/
    * spark/mllib/tree/impurity/Entropy.scala:1 — −Σ p·log₂p). */
  private def entropy(counts: Seq[Long]): Double = {
    val n = counts.sum.toDouble
    if (n == 0) 0.0
    else -counts.filter(_ > 0).map { c =>
      val p = c / n; p * math.log(p)
    }.sum / math.log(2.0)
  }

  /** Resolve an impurity name (the reference's `Impurities.fromString`,
    * mllib/tree/impurity/Impurities.scala:1): classification trees take
    * "gini" (default) or "entropy"; regression uses weighted variance
    * ([[sseSplit]]), as the reference does. */
  private def impurityFn(name: String): Seq[Long] => Double = name match {
    case "gini"    => gini
    case "entropy" => entropy
    case other => throw new IllegalArgumentException(
      s"impurity '$other' (supported: gini, entropy)")
  }

  /** Fixed-width bin columns from ONE global min/max aggregate —
    * deterministic, unlike sampled quantiles. */
  private def binColumns(raw: DataFrame, d: Int, bins: Int): Seq[Column] = {
    val mmExprs = (0 until d).flatMap(j =>
      Seq(min(col("x")(j)).as(s"lo$j"), max(col("x")(j)).as(s"hi$j")))
    val mm = raw.agg(mmExprs.head, mmExprs.tail: _*).head
    (0 until d).map { j =>
      require(!mm.isNullAt(2 * j),
        s"feature $j has no non-null value: cannot bin an empty or all-null column")
      val lo = mm.getDouble(2 * j); val hi = mm.getDouble(2 * j + 1)
      val w = (hi - lo) / bins
      if (w == 0) lit(0)
      else least(floor((col("x")(j) - lit(lo)) / lit(w)).cast("int"), lit(bins - 1))
    }
  }

  /** One column per tree, or the array of them when there are several:
    * T = 1 carries its weight and node id as scalars. */
  private def perTree(cs: Seq[Column]): Column =
    if (cs.size == 1) cs.head else array(cs: _*)

  /** The binned, checkpointed training frame (b, `value`, w, node = 0)
    * with one weight column per tree. */
  private def binned(data: DataFrame, fts: Seq[Column], value: String,
                     valueCol: Column, w: Seq[Column], bins: Int): DataFrame = {
    val raw = data.select(array(fts.map(_.cast("double")): _*).as("x"),
      valueCol.as(value), perTree(w).as("w"))
    LoopState.cut(raw.select(array(binColumns(raw, fts.length, bins): _*).as("b"),
      col(value), col("w"), perTree(w.map(_ => lit(0))).as("node")),
      eager = false) // the first level's cube collect materializes (r16)
  }

  /** A tree walk as a pure when-chain over the binned feature array
    * column (map-only application); `leaf` gives each leaf's literal. */
  private def walk(splits: Map[Int, Split], depth: Int, b: Column)
                  (leaf: Int => Column): Column = {
    def go(node: Int, level: Int): Column = splits.get(node) match {
      case Some(s) if level < depth =>
        when(b(s.feature) <= s.thresholdBin, go(2 * node + 1, level + 1))
          .otherwise(go(2 * node + 2, level + 1))
      case _ => leaf(node)
    }
    go(0, 0)
  }

  /** Classification-tree prediction. */
  def classifyExpr(model: Model, b: Column): Column = {
    val fallback = model.leafClass.values.toSeq.sorted.headOption.getOrElse("")
    walk(model.splits, model.depth, b)(n => lit(model.leafClass.getOrElse(n, fallback)))
  }

  /** Regression-tree prediction, same walk with double leaves. */
  def regressExpr(model: RModel, b: Column): Column =
    walk(model.splits, model.depth, b)(n => lit(model.leafValue.getOrElse(n, 0.0)))

  /** A tree family as the grower's arguments.
    *
    * @param value the frame's response column (`label` or `y`)
    * @param keys  cell grouping keys after (node, feature, bin)
    * @param stats the cell statistic, aggregates over `w` and `value`
    * @param cell  decodes a collected (keys, stats) tail starting at the index
    * @param split a node's (feature, bin, cell) histogram and its tree's
    *              allowed features → Right(split) or Left(leaf)
    * @param leaf  a still-open node's leaf from its (keys, stats) cells */
  private final case class Law[C, L](value: String, keys: Seq[String],
                                     stats: Seq[Column], cell: (Row, Int) => C,
                                     split: (Seq[(Int, Int, C)], Set[Int]) => Either[L, Split],
                                     leaf: Seq[C] => Option[L])

  /** Weighted class counts: Gini/entropy splits, weighted-majority leaves. */
  private def classLaw(bins: Int, guardGaps: Boolean, impurity: String,
                       gapWidth: Double): Law[(String, Long), String] = {
    val imp = impurityFn(impurity)
    Law("label", Seq("label"), Seq(sum(col("w")).as("c")),
      (r, i) => (r.getString(i), r.getLong(i + 1)),
      chooseSplit(_, _, bins, guardGaps, imp, gapWidth),
      cells => Some(majority(cells)))
  }

  /** Weighted moments (Σw, Σwy, Σwy²): SSE-reduction splits, weighted-
    * mean leaves. */
  private def meanLaw(bins: Int): Law[(Double, Double, Double), Double] =
    Law("y", Nil,
      Seq(sum(col("w")).as("cw"), sum(col("w") * col("y")).as("sy"),
        sum(col("w") * col("y") * col("y")).as("syy")),
      (r, i) => (r.getLong(i).toDouble, r.getDouble(i + 1), r.getDouble(i + 2)),
      sseSplit(_, _, bins),
      _.collectFirst { case (w, sy, _) if w > 0 => sy / w })

  /** The level-wise grower: `depth` levels of T = `allowed.length` trees
    * over `base` (b, `law.value`, w, node), tree t splitting only on
    * `allowed(t)` among d features. Per level ONE partial-agg groupBy
    * collects the (tree, node, feature, bin, law keys) → statistic cube —
    * the posexplode multiplies rows by d (×T), both bounded, and combines
    * map-side — then every open node splits or becomes a leaf on the
    * driver, and one when-chain per tree routes the rows. Nodes still open
    * after the last level get leaves from one (tree, node) pass.
    *
    * T = 1 groups by exactly (node, feature, bin, law keys), with no tree
    * key (a constant key would still change the hash aggregate's output
    * order, which the regression totals are summed in), and keeps the
    * routed node a STAGED projection over the one checkpoint (r16: a
    * per-level re-materialization bought a job + I/O for an integer
    * derivable from `b`; node is computed once per row per job, and every
    * job scans the same checkpointed partitions in the same order).
    * T > 1 CUTS every level instead (lazily: the next collect
    * materializes it in the same job): the route is a T-wide array
    * feeding a T-way explode, and recomputing every earlier level's array
    * per scan measured 6.1 s → 9.2 s at sf0.1 (r16).
    *
    * @return per-tree (splits, leaves) and the final routed frame */
  private def grow[C, L](base: DataFrame, law: Law[C, L], d: Int, depth: Int,
                         allowed: Seq[Set[Int]])
      : (Seq[(Map[Int, Split], Map[Int, L])], DataFrame) = {
    val nTrees = allowed.length
    require(allowed.forall(a => a.nonEmpty && a.forall(f => f >= 0 && f < d)))
    val splits = Array.fill(nTrees)(Map.empty[Int, Split])
    val leaves = Array.fill(nTrees)(Map.empty[Int, L])
    val tKey = if (nTrees == 1) Nil else Seq("t")
    // one (t, node, value, w) row per input row and tree, plus `gen`
    def rows(df: DataFrame, gen: Column*): DataFrame =
      if (nTrees == 1) df.select(Seq(col("node"), col(law.value), col("w")) ++ gen: _*)
      else df.select(col("b"), col(law.value), col("w"), col("node"),
          explode(sequence(lit(0), lit(nTrees - 1))).as("t"))
        .select(Seq(col("t"), element_at(col("node"), col("t") + 1).as("node"),
          col(law.value), element_at(col("w"), col("t") + 1).as("w")) ++ gen: _*)
    // (t, node, row); the row's columns after node start at `at`
    val at = tKey.size + 1
    def collectStats(frame: DataFrame, keys: String*): Array[(Int, Int, Row)] =
      frame.groupBy((tKey ++ ("node" +: keys) ++ law.keys).map(col): _*)
        .agg(law.stats.head, law.stats.tail: _*).collect()
        .map(r => (if (nTrees == 1) 0 else r.getInt(0), r.getInt(at - 1), r))
    def open(t: Int, node: Int) = !splits(t).contains(node) && !leaves(t).contains(node)
    // only a tree's ALLOWED features ever compete (the split law's
    // weight carrier is allowed.min, also in the set), so the level cube
    // drops the others before the shuffle (r17: exploding the allowed
    // (t, f) pairs directly as a struct-array literal measured ~15%
    // slower — it leaves flat codegen)
    val keep = allowed.zipWithIndex.map { case (a, t) =>
      val inTree = col("f").isin(a.toSeq.sorted.map(Int.box): _*)
      if (nTrees == 1) inTree else col("t") === t && inTree
    }.reduce(_ || _)
    var df = base
    for (_ <- 0 until depth) {
      val cells = rows(df, posexplode(col("b")).as(Seq("f", "bin")))
      val cube = collectStats(
        if (allowed.exists(_.size < d)) cells.filter(keep) else cells, "f", "bin")
        .map { case (t, node, r) =>
          (t, node, (r.getInt(at), r.getInt(at + 1), law.cell(r, at + 2)))
        }
      val routes = (0 until nTrees).map { t =>
        val level = cube.filter(_._1 == t).groupBy(_._2).toSeq.sortBy(_._1).flatMap {
          case (node, cs) if open(t, node) =>
            law.split(cs.map(_._3).toSeq, allowed(t)) match {
              case Right(s) => Some(s.copy(node = node))
              case Left(leaf) => leaves(t) += node -> leaf; None
            }
          case _ => None
        }
        splits(t) ++= level.map(s => s.node -> s)
        val nodeT = if (nTrees == 1) col("node") else element_at(col("node"), t + 1)
        level.foldLeft(nodeT) { (acc, s) =>
          when(nodeT === s.node,
            lit(s.node * 2 + 1) + (col("b")(s.feature) > s.thresholdBin).cast("int"))
            .otherwise(acc)
        }
      }
      val next = df.select(col("b"), col(law.value), col("w"), perTree(routes).as("node"))
      df = if (nTrees == 1) next else LoopState.cut(next, eager = false)
    }
    collectStats(rows(df)).groupBy(r => (r._1, r._2)).foreach { case ((t, node), rs) =>
      if (open(t, node))
        law.leaf(rs.toSeq.map(c => law.cell(c._3, at)))
          .foreach(leaf => leaves(t) += node -> leaf)
    }
    ((0 until nTrees).map(t => (splits(t), leaves(t))), df)
  }

  /** Train a depth-`depth` Gini (or entropy) tree over `fts` (d doubles,
    * binned here) against string label `labelCol`: the grower at T = 1.
    * Ties break (gain desc, feature asc, bin asc) so training is
    * deterministic end-to-end.
    *
    * @return the final binned frame (b, label, w, node: int) and the model */
  def train(data: DataFrame, fts: Seq[Column], labelCol: Column,
            depth: Int, bins: Int,
            guardGainGaps: Boolean = false,
            impurity: String = "gini",
            gainGapWidth: Double = 2e-12): (DataFrame, Model) = {
    val law = classLaw(bins, guardGainGaps, impurity, gainGapWidth)
    val d = fts.length
    val (Seq((splits, leaves)), df) = grow(
      binned(data, fts, "label", labelCol.cast("string"), Seq(lit(1L)), bins),
      law, d, depth, Seq((0 until d).toSet))
    (df, Model(splits, leaves, depth))
  }

  /** Regression tree on a PRE-BINNED frame (columns `b` array<int>,
    * `y` double, `w` long, `node` int): the grower at T = 1 over the
    * (Σw, Σwy, Σwy²) moment cube. The boosting loop calls this once per
    * round on the residual column. */
  def trainRegressionBinned(binned: DataFrame, d: Int, depth: Int,
                            bins: Int): RModel = {
    val (Seq((splits, leaves)), _) =
      grow(binned, meanLaw(bins), d, depth, Seq((0 until d).toSet))
    RModel(splits, leaves, depth)
  }

  /** Bin a raw (features, y) frame once for the regression/boosting
    * loops. Returns the checkpointed frame (b, y, w, node=0). */
  def binForRegression(data: DataFrame, fts: Seq[Column], yCol: Column,
                       bins: Int): DataFrame =
    binned(data, fts, "y", yCol.cast("double"), Seq(lit(1L)), bins)

  /** The weighted-majority class, ties to the smallest label. */
  private def majority(counts: Iterable[(String, Long)]): String =
    counts.minBy { case (l, c) => (-c, l) }._1

  /** Classification split choice for one node from its histogram cells
    * ((f, bin, (label, weight)) tuples). Returns Right(split) or
    * Left(majority leaf class).
    *
    * `guardGaps` asserts the dt01-oracle assumption at every node: the
    * DuckDB CTE replay (`g >= mg - 1e-12` + (f,t) argmin) equals this
    * sequential epsilon update (`g > best + 1e-12`) only while no two
    * DISTINCT gain values sit within (0, 2e-12] of each other (exact
    * ties are safe — both tie-breaks pick the smallest (f,t)). The
    * guard makes corpus drift fail HERE, loudly, instead of as an
    * opaque verify hash mismatch (TreesSpec runs it on the real
    * table with dt01's exact configuration). */
  private def chooseSplit(rows: Seq[(Int, Int, (String, Long))],
                          allowed: Set[Int], bins: Int,
                          guardGaps: Boolean,
                          imp: Seq[Long] => Double,
                          gapWidth: Double): Either[String, Split] = {
    val f0 = allowed.min
    val labels = rows.groupBy(_._3._1).map { case (l, rs) =>
      // feature f0 cells carry each row's weight exactly once
      l -> rs.filter(_._1 == f0).map(_._3._2).sum
    }
    val total = labels.values.sum
    val parentG = imp(labels.values.toSeq)
    if (labels.count(_._2 > 0) <= 1) Left(majority(labels))
    else {
      // materialize every candidate (bounded: d·bins entries) so the
      // guard can inspect the full gain multiset
      val candidates = scala.collection.mutable.ArrayBuffer.empty[(Double, Int, Int)]
      for (f <- allowed.toSeq.sorted) {
        val cells = rows.filter(_._1 == f)
        val labelsSeq = labels.keys.toSeq.sorted
        val prefix = scala.collection.mutable.Map(labelsSeq.map(_ -> 0L): _*)
        for (t <- 0 until bins - 1) {
          cells.filter(_._2 == t).foreach { case (_, _, (l, c)) => prefix(l) += c }
          val left = labelsSeq.map(prefix)
          val nL = left.sum
          if (nL > 0 && nL < total) {
            val right = labelsSeq.zip(left).map { case (l, c) => labels(l) - c }
            val g = parentG -
              (nL.toDouble / total) * imp(left) -
              ((total - nL).toDouble / total) * imp(right)
            candidates += ((g, f, t))
          }
        }
      }
      if (guardGaps) {
        // sufficient condition for the replay to be exact: every pair of
        // DISTINCT gain values sits > 2·ε apart (ε = 1e-12), so a ±ε band
        // around the max holds exactly one distinct value and both
        // argmax formulations collapse to the same (f, t); exact ties
        // are safe (both tie-breaks pick the smallest (f, t))
        val distinctGains = candidates.map(_._1).distinct.sorted
        if (gapWidth <= 1e-10) {
          // exact-value replays (gini: rational arithmetic, bit-identical
          // across engines): the all-pairs sufficient condition
          distinctGains.zip(distinctGains.drop(1)).foreach { case (a, b) =>
            assert(b - a > gapWidth,
              f"two distinct split gains within $gapWidth%g ($a%.15g vs $b%.15g): " +
                "the oracle's epsilon argmax is no longer exact on this corpus")
          }
        } else if (distinctGains.nonEmpty) {
          // widened-band replays (entropy: cross-engine log noise up to
          // ~1e-13) need only the conditions the argmax actually uses:
          // (1) the runner-up distinct gain sits > gapWidth below the
          // max, so the replay's band around ITS max holds exactly the
          // exact-tie group; (2) positivity thresholds agree — a
          // splitting max must clear the replay's g > band filter too
          // (a non-splitting node has all gains <= 1e-12, which stays
          // below the band on any engine). Gaps far below the max are
          // irrelevant — only the top of the ladder decides the split.
          val mg = distinctGains.last
          if (mg > 1e-12) {
            assert(mg > gapWidth,
              f"max split gain $mg%.15g inside the ambiguous positivity " +
                f"window (1e-12, $gapWidth%g]: split/leaf decision is not " +
                "engine-portable on this corpus")
            distinctGains.dropRight(1).lastOption.foreach { runnerUp =>
              assert(mg - runnerUp > gapWidth,
                f"runner-up split gain within $gapWidth%g of the max " +
                  f"($runnerUp%.15g vs $mg%.15g): the widened-band argmax " +
                  "is no longer exact on this corpus")
            }
          }
        }
      }
      var best: Option[(Double, Int, Int)] = None
      candidates.foreach { case (g, f, t) =>
        if (g > 1e-12 && best.forall(b => g > b._1 + 1e-12))
          best = Some((g, f, t))
      }
      best.map { case (_, f, t) => Split(-1, f, t) }.toRight(majority(labels))
    }
  }

  /** Regression split choice for one node from its (f, bin, (Σw, Σwy,
    * Σwy²)) cells: the largest weighted-SSE reduction, scanning the
    * thresholds of each allowed feature in order. The node totals are
    * summed over the weight carrier `allowed.min`'s cells in collect
    * order. Returns Right(split) or Left(weighted-mean leaf). */
  private def sseSplit(rows: Seq[(Int, Int, (Double, Double, Double))],
                       allowed: Set[Int], bins: Int): Either[Double, Split] = {
    def sse(w: Double, sy: Double, syy: Double): Double =
      if (w <= 0) 0.0 else syy - sy * sy / w
    val f0cells = rows.filter(_._1 == allowed.min).map(_._3)
    val tw = f0cells.map(_._1).sum
    val tsy = f0cells.map(_._2).sum
    val tsyy = f0cells.map(_._3).sum
    val parent = sse(tw, tsy, tsyy)
    if (tw <= 0) Left(0.0)
    else {
      var best: Option[(Double, Int, Int)] = None
      for (f <- allowed.toSeq.sorted) {
        val cells = rows.filter(_._1 == f)
        var cw = 0.0; var cy = 0.0; var cyy = 0.0
        for (t <- 0 until bins - 1) {
          cells.filter(_._2 == t).foreach { case (_, _, (w, sy, syy)) =>
            cw += w; cy += sy; cyy += syy
          }
          if (cw > 0 && cw < tw) {
            val gain = parent - sse(cw, cy, cyy) -
              sse(tw - cw, tsy - cy, tsyy - cyy)
            if (gain > 1e-9 && best.forall(b => gain > b._1 + 1e-9))
              best = Some((gain, f, t))
          }
        }
      }
      best.map { case (_, f, t) => Split(-1, f, t) }.toRight(tsy / tw)
    }
  }

  /** The forest's deterministic per-tree feature subset. */
  private def featureSubset(t: Int, d: Int, k: Int): Set[Int] = {
    val s = (0 until k).map(i => (t * 31 + i * 17 + i) % d).distinct
    if (s.size < k)
      ((0 until d).filterNot(s.contains).take(k - s.size) ++ s).toSet
    else s.toSet
  }

  /** Random forest (RandomForest.scala:1 parity): `nTrees` Gini trees,
    * each seeing deterministic per-row Poisson(1) bootstrap WEIGHTS
    * (xxhash64 of the id columns + tree index, the reference's
    * baggedInput-by-weights — no data copies) and a per-tree feature
    * subset (featureSubsetStrategy).
    *
    * All trees train TOGETHER in the grower, one aggregation pass per
    * LEVEL for the whole forest (the reference's node-group batching,
    * RandomForest.scala's findBestSplits over a node queue): rows carry
    * a per-tree node-id ARRAY and a per-tree weight ARRAY, so the whole
    * forest costs `depth` cluster passes, not nTrees·depth. Prediction
    * is the per-row plurality vote folded as a pure column expression —
    * map-only application, models live in the plan.
    *
    * @return (per-tree models, the final binned frame (b, label, w,
    *         node; w and node are arrays when nTrees > 1) — already
    *         checkpointed, so a consumer scoring the training set votes
    *         over it directly instead of re-scanning and re-binning the
    *         source (one min/max pass + one full scan saved; bins are
    *         identical by construction)) */
  def forest(data: DataFrame, fts: Seq[Column], labelCol: Column,
             idCols: Seq[Column], depth: Int, bins: Int, nTrees: Int,
             featuresPerTree: Int,
             guardGainGaps: Boolean = false,
             impurity: String = "gini",
             gainGapWidth: Double = 2e-12): (Seq[Model], DataFrame) = {
    val law = classLaw(bins, guardGainGaps, impurity, gainGapWidth)
    val d = fts.length
    // deterministic Poisson(1) weights: P(0)=.368 P(1)=.368 P(2)=.184 ...
    val wCols = (0 until nTrees).map { t =>
      val h = pmod(xxhash64((idCols :+ (lit(t): Column)): _*), lit(1000L))
      when(h < 368, 0L).when(h < 736, 1L).when(h < 920, 2L)
        .when(h < 981, 3L).otherwise(4L)
    }
    val (trees, df) = grow(
      binned(data, fts, "label", labelCol.cast("string"), wCols, bins), law, d, depth,
      (0 until nTrees).map(t => featureSubset(t, d, featuresPerTree)))
    (trees.map { case (splits, leaves) => Model(splits, leaves, depth) }, df)
  }

  /** Plurality vote over a per-tree prediction ARRAY column, ties to
    * the lexicographically smallest class (deterministic). Pass a
    * STAGED attribute (r15 — the t10 lesson): `preds` is referenced by
    * array_distinct plus once per distinct class inside the fold, so a
    * composed classifier array would re-evaluate every tree's
    * when-chain per reference. */
  def voteFromPreds(preds: Column): Column = {
    // count occurrences of each distinct prediction, pick (max count, min class)
    val best = aggregate(
      array_distinct(preds),
      struct(lit(-1).as("c"), lit("").as("cls")),
      (acc, cls) => {
        val c = size(filter(preds, p => p === cls))
        when(c > acc.getField("c") ||
          (c === acc.getField("c") && cls < acc.getField("cls")),
          struct(c.as("c"), cls.as("cls"))).otherwise(acc)
      })
    best.getField("cls")
  }

  /** Compose-form of [[voteFromPreds]] over the models' classifier
    * expressions — convenient for small frames/tests; hot paths should
    * stage the prediction array first (rf01 does). */
  def voteExpr(models: Seq[Model], b: Column): Column =
    voteFromPreds(array(models.map(m => classifyExpr(m, b)): _*))

  /** The dt01/dt02 induction replay, parameterized on the impurity.
    *
    * Gini gains are rational arithmetic on integer counts — bit-identical
    * across engines — so the replay's argmax band is the trainer's own
    * 1e-12 epsilon. Entropy gains contain p·log₂p, and log is NOT
    * correctly-rounded-portable across libms (DuckDB's log2 vs the JVM's
    * Math.log/ln2 differ in final ULPs, ~1e-15 absolute on these gains),
    * so the dt02 replay widens the band to 1e-9 and the trainer asserts
    * distinct gains sit > 2e-9 apart (`gainGapWidth`): within the band
    * both engines see exactly the max-tied group (identical count
    * configurations are exact ties on BOTH engines — same rational
    * inputs, same expression), and the shared (f, t) argmin picks the
    * same split. The epsilon-exactness argument is dt01's, with the
    * cross-engine log noise absorbed by the widened, guarded gap. */
  private def dtOracleSql(impurity: String): String = {
    val eps = if (impurity == "entropy") "1e-9" else "1e-12"
    // impurity of (a, b, c) label counts over denominator expression den
    def imp(a: String, b: String, c: String, den: String): String =
      impurity match {
        case "entropy" =>
          def term(x: String) =
            s"(CASE WHEN $x > 0 THEN -($x/($den))*log2($x/($den)) ELSE 0 END)"
          s"(${term(a)} + ${term(b)} + ${term(c)})"
        case _ =>
          s"(1.0 - (pow($a/($den),2) + pow($b/($den),2) + pow($c/($den),2)))"
      }
    val parent = imp("tA", "tN", "tR", "tA+tN+tR")
    val left = imp("lA", "lN", "lR", "lA+lN+lR")
    val right = imp("(tA-lA)", "(tN-lN)", "(tR-lR)", "tA+tN+tR-lA-lN-lR")
    val prefix =
      """WITH raw AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS x0, CAST(l_discount AS DOUBLE) AS x1,
        |         CAST(l_tax AS DOUBLE) AS x2, CAST(year(l_shipdate) AS DOUBLE) AS x3,
        |         l_returnflag AS label
        |  FROM lineitem),
        |mm AS (
        |  SELECT min(x0) AS lo0, max(x0) AS hi0, min(x1) AS lo1, max(x1) AS hi1,
        |         min(x2) AS lo2, max(x2) AS hi2, min(x3) AS lo3, max(x3) AS hi3
        |  FROM raw),
        |routed0 AS (
        |  SELECT
        |    CASE WHEN hi0=lo0 THEN 0 ELSE least(CAST(floor((x0-lo0)/((hi0-lo0)/32)) AS INT), 31) END AS b0,
        |    CASE WHEN hi1=lo1 THEN 0 ELSE least(CAST(floor((x1-lo1)/((hi1-lo1)/32)) AS INT), 31) END AS b1,
        |    CASE WHEN hi2=lo2 THEN 0 ELSE least(CAST(floor((x2-lo2)/((hi2-lo2)/32)) AS INT), 31) END AS b2,
        |    CASE WHEN hi3=lo3 THEN 0 ELSE least(CAST(floor((x3-lo3)/((hi3-lo3)/32)) AS INT), 31) END AS b3,
        |    label, 0 AS node
        |  FROM raw, mm)""".stripMargin
    val levels = (1 to 3).map { i =>
      val src = s"routed${i - 1}"
      s""",
        |cells$i AS (
        |  SELECT node, f, bin, label, count(*) AS c FROM (
        |    SELECT node, 0 AS f, b0 AS bin, label FROM $src
        |    UNION ALL SELECT node, 1, b1, label FROM $src
        |    UNION ALL SELECT node, 2, b2, label FROM $src
        |    UNION ALL SELECT node, 3, b3, label FROM $src)
        |  GROUP BY node, f, bin, label),
        |tot$i AS (
        |  SELECT node,
        |    sum(CASE WHEN label='A' THEN c ELSE 0 END) AS tA,
        |    sum(CASE WHEN label='N' THEN c ELSE 0 END) AS tN,
        |    sum(CASE WHEN label='R' THEN c ELSE 0 END) AS tR
        |  FROM cells$i WHERE f = 0 GROUP BY node),
        |lefts$i AS (
        |  SELECT c.node, c.f, t.t AS t,
        |    sum(CASE WHEN c.label='A' THEN c.c ELSE 0 END) AS lA,
        |    sum(CASE WHEN c.label='N' THEN c.c ELSE 0 END) AS lN,
        |    sum(CASE WHEN c.label='R' THEN c.c ELSE 0 END) AS lR
        |  FROM cells$i c JOIN range(0, 31) t(t) ON c.bin <= t.t
        |  GROUP BY c.node, c.f, t.t),
        |gains$i AS (
        |  SELECT l.node, l.f, l.t,
        |    $parent
        |    - ((lA+lN+lR)*1.0/(tA+tN+tR)) * $left
        |    - ((tA+tN+tR-lA-lN-lR)*1.0/(tA+tN+tR)) * $right AS g
        |  FROM lefts$i l JOIN tot$i USING (node)
        |  WHERE (lA+lN+lR) > 0 AND (lA+lN+lR) < (tA+tN+tR)),
        |best$i AS (
        |  SELECT node, f, t FROM (
        |    SELECT node, f, t, g, max(g) OVER (PARTITION BY node) AS mg
        |    FROM gains$i WHERE g > $eps) q
        |  WHERE g >= mg - $eps
        |  QUALIFY row_number() OVER (PARTITION BY node ORDER BY f, t) = 1),
        |routed$i AS (
        |  SELECT r.b0, r.b1, r.b2, r.b3, r.label,
        |    CASE WHEN b.node IS NULL THEN r.node
        |         ELSE r.node*2 + 1 + CASE WHEN (CASE b.f WHEN 0 THEN r.b0 WHEN 1 THEN r.b1
        |                                        WHEN 2 THEN r.b2 ELSE r.b3 END) > b.t
        |                             THEN 1 ELSE 0 END
        |    END AS node
        |  FROM $src r LEFT JOIN best$i b ON r.node = b.node)""".stripMargin
    }.mkString
    prefix + levels +
      """,
        |leafc AS (
        |  SELECT node AS leaf, label, count(*) AS c FROM routed3 GROUP BY node, label),
        |pred AS (
        |  SELECT leaf, label AS pred FROM (
        |    SELECT leaf, label, c,
        |      row_number() OVER (PARTITION BY leaf ORDER BY c DESC, label) AS rn
        |    FROM leafc) q WHERE rn = 1)
        |SELECT l.leaf, p.pred, CAST(sum(l.c) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN l.label = p.pred THEN l.c ELSE 0 END) AS BIGINT) AS n_correct
        |FROM leafc l JOIN pred p USING (leaf)
        |GROUP BY l.leaf, p.pred
        |ORDER BY l.leaf""".stripMargin
  }

  /** Registered pass: depth-3 Gini tree predicting `l_returnflag` from
    * (quantity, discount, tax, ship year). Output is the bounded
    * per-leaf summary (leaf, rows, predicted class, correct rows);
    * TreesSpec pins exact planted-split recovery, determinism, and the
    * training-accuracy ≥ majority-class invariant (which holds by
    * construction for majority-vote leaves; the synthetic returnflag is
    * uniform noise, so accuracy sits AT the majority floor).
    * FULL value oracle: [[dtOracleSql]] (gini) replays the whole induction —
    * binning, level-order Gini split selection, routing, majority
    * leaves — in DuckDB. */
  val dt01 = returnflagTree("dt01_decision_tree", "gini", gainGapWidth = 2e-12)

  /** The registered body of [[dt01]] and [[dt02]], which differ only in
    * the impurity and the gain-gap width their oracle replay needs. */
  private def returnflagTree(name: String, impurity: String, gainGapWidth: Double): Q =
    Q.sql(name, dtOracleSql(impurity)) { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val (assigned, model) = train(
        li,
        Seq(col("l_quantity"), col("l_discount"), col("l_tax"),
          year(col("l_shipdate"))),
        col("l_returnflag"), depth = 3, bins = 32,
        // free driver-side assert over the already-collected candidate
        // gains (r11 advice): the SQL replay's exactness rests on gains
        // sitting more than `gainGapWidth` apart — guard it in the
        // REGISTERED run at the driver's SF, not only in TreesSpec's corpora
        guardGainGaps = true, impurity = impurity, gainGapWidth = gainGapWidth)
      val leafPred = model.leafClass.toSeq.toDF("node", "pred")
      assigned.groupBy("node", "label").agg(count(lit(1)).as("c"))
        .join(broadcast(leafPred), Seq("node"))
        .groupBy(col("node").as("leaf"), col("pred"))
        .agg(sum("c").as("n"),
          sum(when(col("label") === col("pred"), col("c")).otherwise(0L)).as("n_correct"))
        .orderBy("leaf")
    }

  /** The whole 5-tree forest induction of [[rf01]] replayed in SQL
    * (r10): dt01's level replay, parameterized per tree, PLUS the
    * deterministic Poisson(1) bootstrap weights re-derived by a chained
    * XXH64 replay — hashLong(l_orderkey, 42) → hashInt(l_linenumber) →
    * hashLong(l_partkey) → hashInt(t), exactly Spark's multi-argument
    * `xxhash64` fold ([[graft.functions.DuckXxhash]] arithmetic:
    * HUGEINT modular multiplies, exact rotations) — then pmod-1000
    * Poisson buckets, per-tree feature subsets, weighted Gini cubes
    * (one shared cells chain per level with a tree column), weighted-
    * majority leaves, and the plurality vote (ties to the smallest
    * class) folded over the bounded (label, p0..p4) combinations.
    *
    * Chained CTEs are `MATERIALIZED`: DuckDB inlines single-reference
    * CTEs, and a ~40-deep modular-arithmetic chain inlines into an
    * exponentially large expression tree (measured: minutes/17 GB
    * unmaterialized → 16 s at sf0.01 materialized).
    *
    * Exactness rests on the same two measured assumptions as dt01,
    * both guarded: gain gaps ≫ 2e-12 (TreesSpec runs the forest with
    * `guardGainGaps` on the real table) and integer weighted counts. */
  private def rf01OracleSql: String = {
    import graft.functions.DuckXxhash.{M64, P1, P2, P3, P4, P5, u, mul64c, rot, xor}
    val keep = "b0, b1, b2, b3, label"
    val nTrees = 5
    val allowed = (0 until nTrees).map(t => featureSubset(t, 4, 2))
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    // fused three-step fmix over columns x0..x{n-1} -> h0..h{n-1}
    def fmix(n: Int, src: String, keepCols: String, tag: String): String = {
      val c1 = (0 until n).map(j =>
        s"${mul64c(xor(s"x$j", s"x$j//${graft.functions.DuckXxhash.pow2(33)}"), P2)} AS y$j")
        .mkString(", ")
      ctes += s"${tag}1 AS MATERIALIZED (SELECT $keepCols, $c1 FROM $src)"
      val c2 = (0 until n).map(j =>
        s"${mul64c(xor(s"y$j", s"y$j//${graft.functions.DuckXxhash.pow2(29)}"), P3)} AS z$j")
        .mkString(", ")
      ctes += s"${tag}2 AS MATERIALIZED (SELECT $keepCols, $c2 FROM ${tag}1)"
      val c3 = (0 until n).map(j =>
        s"${xor(s"z$j", s"z$j//${graft.functions.DuckXxhash.pow2(32)}")} AS h$j")
        .mkString(", ")
      ctes += s"${tag}3 AS MATERIALIZED (SELECT $keepCols, $c3 FROM ${tag}2)"
      s"${tag}3"
    }
    val head =
      s"""WITH raw AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         CAST(l_quantity AS DOUBLE) AS x0, CAST(l_discount AS DOUBLE) AS x1,
        |         CAST(l_tax AS DOUBLE) AS x2, CAST(year(l_shipdate) AS DOUBLE) AS x3,
        |         l_returnflag AS label
        |  FROM lineitem),
        |mm AS (
        |  SELECT min(x0) AS lo0, max(x0) AS hi0, min(x1) AS lo1, max(x1) AS hi1,
        |         min(x2) AS lo2, max(x2) AS hi2, min(x3) AS lo3, max(x3) AS hi3
        |  FROM raw),
        |binned AS MATERIALIZED (
        |  SELECT
        |    CASE WHEN hi0=lo0 THEN 0 ELSE least(CAST(floor((x0-lo0)/((hi0-lo0)/32)) AS INT), 31) END AS b0,
        |    CASE WHEN hi1=lo1 THEN 0 ELSE least(CAST(floor((x1-lo1)/((hi1-lo1)/32)) AS INT), 31) END AS b1,
        |    CASE WHEN hi2=lo2 THEN 0 ELSE least(CAST(floor((x2-lo2)/((hi2-lo2)/32)) AS INT), 31) END AS b2,
        |    CASE WHEN hi3=lo3 THEN 0 ELSE least(CAST(floor((x3-lo3)/((hi3-lo3)/32)) AS INT), 31) END AS b3,
        |    label,
        |    (CASE WHEN l_orderkey < 0 THEN l_orderkey::HUGEINT + $M64 ELSE l_orderkey::HUGEINT END) AS uok,
        |    (CASE WHEN l_linenumber < 0 THEN l_linenumber::HUGEINT + 4294967296 ELSE l_linenumber::HUGEINT END) AS uln,
        |    (CASE WHEN l_partkey < 0 THEN l_partkey::HUGEINT + $M64 ELSE l_partkey::HUGEINT END) AS upk
        |  FROM raw, mm)""".stripMargin
    // hashLong(uok, seed 42)
    ctes += s"""ha AS MATERIALIZED (SELECT $keep, uln, upk,
      |  ${xor(u(42L + P5 + 8L), mul64c(rot(mul64c("uok", P2), 31), P1))} AS s FROM binned)""".stripMargin
    ctes += s"""hb AS MATERIALIZED (SELECT $keep, uln, upk,
      |  (${mul64c(rot("s", 27), P1)} + ${u(P4)}) % $M64 AS x0 FROM ha)""".stripMargin
    var src = fmix(1, "hb", s"$keep, uln, upk", "hc")
    // hashInt(uln, h0)
    ctes += s"""hd AS MATERIALIZED (SELECT $keep, upk,
      |  ${xor(s"(h0 + ${u(P5 + 4L)}) % $M64", s"(uln * ${u(P1)}) % $M64")} AS s FROM $src)""".stripMargin
    ctes += s"""he AS MATERIALIZED (SELECT $keep, upk,
      |  (${mul64c(rot("s", 23), P2)} + ${u(P3)}) % $M64 AS x0 FROM hd)""".stripMargin
    src = fmix(1, "he", s"$keep, upk", "hf")
    // hashLong(upk, h0)
    ctes += s"""hg AS MATERIALIZED (SELECT $keep, h0 AS hseed,
      |  ${mul64c(rot(mul64c("upk", P2), 31), P1)} AS r FROM $src)""".stripMargin
    ctes += s"""hh AS MATERIALIZED (SELECT $keep,
      |  (${mul64c(rot(xor(s"(hseed + ${u(P5 + 8L)}) % $M64", "r"), 27), P1)} + ${u(P4)}) % $M64 AS x0
      |  FROM hg)""".stripMargin
    src = fmix(1, "hh", keep, "hi")
    // per-tree hashInt(t, H), fused across the nTrees columns
    val perTree = (0 until nTrees).map(t =>
      s"(${mul64c(rot(xor(s"(h0 + ${u(P5 + 4L)}) % $M64", s"(${t.toLong} * ${u(P1)}) % $M64"), 23), P2)} + ${u(P3)}) % $M64 AS x$t")
      .mkString(", ")
    ctes += s"hj AS MATERIALIZED (SELECT $keep, $perTree FROM $src)"
    src = fmix(nTrees, "hj", keep, "hk")
    // pmod-1000 Poisson buckets
    def pm(t: Int) =
      s"((((CASE WHEN h$t >= ${graft.functions.DuckXxhash.pow2(63)} THEN (h$t - $M64)::BIGINT ELSE h$t::BIGINT END) % 1000) + 1000) % 1000)"
    val wc = (0 until nTrees).map(t =>
      s"(CASE WHEN ${pm(t)} < 368 THEN 0::BIGINT WHEN ${pm(t)} < 736 THEN 1 " +
        s"WHEN ${pm(t)} < 920 THEN 2 WHEN ${pm(t)} < 981 THEN 3 ELSE 4 END) AS w$t")
      .mkString(", ")
    ctes += s"routed0 AS MATERIALIZED (SELECT $keep, $wc, " +
      (0 until nTrees).map(t => s"0 AS n$t").mkString(", ") + s" FROM $src)"

    val nodeCase = "CASE tr.t " +
      (0 until nTrees).map(t => s"WHEN $t THEN n$t").mkString(" ") + " END"
    val wCase = "CASE tr.t " +
      (0 until nTrees).map(t => s"WHEN $t THEN w$t").mkString(" ") + " END"
    val treeVals = (0 until nTrees).map(t => s"($t)").mkString(",")
    val allowPred = (0 until nTrees).map(t =>
      s"(l.tree = $t AND l.f IN (${allowed(t).toSeq.sorted.mkString(", ")}))")
      .mkString(" OR ")
    for (i <- 1 to 3) {
      val prev = s"routed${i - 1}"
      ctes += s"""cells$i AS MATERIALIZED (
        |  SELECT tr.t AS tree, $nodeCase AS node, fv.f AS f,
        |         CASE fv.f WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bin,
        |         label, sum($wCase) AS c
        |  FROM $prev, (VALUES $treeVals) tr(t), (VALUES (0),(1),(2),(3)) fv(f)
        |  GROUP BY tree, node, f, bin, label)""".stripMargin
      ctes += s"""tot$i AS (
        |  SELECT tree, node,
        |    sum(CASE WHEN label='A' THEN c ELSE 0 END) AS tA,
        |    sum(CASE WHEN label='N' THEN c ELSE 0 END) AS tN,
        |    sum(CASE WHEN label='R' THEN c ELSE 0 END) AS tR
        |  FROM cells$i WHERE f = 0 GROUP BY tree, node)""".stripMargin
      ctes += s"""lefts$i AS (
        |  SELECT c.tree, c.node, c.f, t.t AS t,
        |    sum(CASE WHEN c.label='A' THEN c.c ELSE 0 END) AS lA,
        |    sum(CASE WHEN c.label='N' THEN c.c ELSE 0 END) AS lN,
        |    sum(CASE WHEN c.label='R' THEN c.c ELSE 0 END) AS lR
        |  FROM cells$i c JOIN range(0, 31) t(t) ON c.bin <= t.t
        |  GROUP BY c.tree, c.node, c.f, t.t)""".stripMargin
      ctes += s"""gains$i AS (
        |  SELECT l.tree, l.node, l.f, l.t,
        |    (1.0 - (pow(tA/(tA+tN+tR),2) + pow(tN/(tA+tN+tR),2) + pow(tR/(tA+tN+tR),2)))
        |    - ((lA+lN+lR)*1.0/(tA+tN+tR)) *
        |      (1.0 - (pow(lA/(lA+lN+lR),2) + pow(lN/(lA+lN+lR),2) + pow(lR/(lA+lN+lR),2)))
        |    - ((tA+tN+tR-lA-lN-lR)*1.0/(tA+tN+tR)) *
        |      (1.0 - (pow((tA-lA)/(tA+tN+tR-lA-lN-lR),2)
        |            + pow((tN-lN)/(tA+tN+tR-lA-lN-lR),2)
        |            + pow((tR-lR)/(tA+tN+tR-lA-lN-lR),2))) AS g
        |  FROM lefts$i l JOIN tot$i USING (tree, node)
        |  WHERE (lA+lN+lR) > 0 AND (lA+lN+lR) < (tA+tN+tR) AND ($allowPred))""".stripMargin
      ctes += s"""best$i AS MATERIALIZED (
        |  SELECT tree, node, f, t FROM (
        |    SELECT tree, node, f, t, g, max(g) OVER (PARTITION BY tree, node) AS mg
        |    FROM gains$i WHERE g > 1e-12) q
        |  WHERE g >= mg - 1e-12
        |  QUALIFY row_number() OVER (PARTITION BY tree, node ORDER BY f, t) = 1)""".stripMargin
      val routes = (0 until nTrees).map(t =>
        s"""CASE WHEN bt$t.node IS NULL THEN r.n$t
          |         ELSE r.n$t*2 + 1 + CASE WHEN (CASE bt$t.f WHEN 0 THEN r.b0 WHEN 1 THEN r.b1
          |                                        WHEN 2 THEN r.b2 ELSE r.b3 END) > bt$t.t
          |                             THEN 1 ELSE 0 END END AS n$t""".stripMargin)
        .mkString(",\n    ")
      val joins = (0 until nTrees).map(t =>
        s"LEFT JOIN best$i bt$t ON bt$t.tree = $t AND r.n$t = bt$t.node")
        .mkString("\n  ")
      ctes += s"""routed$i AS MATERIALIZED (
        |  SELECT r.b0, r.b1, r.b2, r.b3, r.label, ${(0 until nTrees).map(t => s"r.w$t").mkString(", ")},
        |    $routes
        |  FROM $prev r
        |  $joins)""".stripMargin
    }
    val leafSel = (0 until nTrees).map(t =>
      s"SELECT $t AS tree, n$t AS leaf, label, w$t AS w FROM routed3")
      .mkString(" UNION ALL ")
    ctes += s"""leafc AS MATERIALIZED (
      |  SELECT tree, leaf, label, sum(w) AS c FROM ($leafSel) GROUP BY tree, leaf, label)""".stripMargin
    ctes += """preds AS MATERIALIZED (
      |  SELECT tree, leaf, label AS p FROM (
      |    SELECT tree, leaf, label, c,
      |      row_number() OVER (PARTITION BY tree, leaf ORDER BY c DESC, label) AS rn
      |    FROM leafc) q WHERE rn = 1)""".stripMargin
    val predJoins = (0 until nTrees).map(t =>
      s"JOIN preds p$t ON p$t.tree = $t AND r.n$t = p$t.leaf").mkString("\n  ")
    ctes += s"""combos AS (
      |  SELECT r.label AS actual, ${(0 until nTrees).map(t => s"p$t.p AS c$t").mkString(", ")},
      |         count(*) AS cnt
      |  FROM routed3 r
      |  $predJoins
      |  GROUP BY ALL)""".stripMargin
    def cnt(lab: String) = (0 until nTrees)
      .map(t => s"(CASE WHEN c$t = '$lab' THEN 1 ELSE 0 END)").mkString(" + ")
    ctes += s"""voted AS (
      |  SELECT actual, cnt,
      |    (CASE WHEN (${cnt("A")}) >= (${cnt("N")})
      |           AND (${cnt("A")}) >= (${cnt("R")}) THEN 'A'
      |          WHEN (${cnt("N")}) >= (${cnt("R")}) THEN 'N'
      |          ELSE 'R' END) AS pred
      |  FROM combos)""".stripMargin
    head + ",\n" + ctes.mkString(",\n") + "\n" +
      """SELECT actual, pred, CAST(sum(cnt) AS BIGINT) AS n
        |FROM voted GROUP BY actual, pred ORDER BY actual, pred""".stripMargin
  }

  /** Registered pass: 5-tree random forest on dt01's task — the
    * bounded confusion matrix (actual, pred, n). FULL value oracle via
    * [[rf01OracleSql]] (the induction replayed in SQL); TreesSpec pins
    * planted recovery through bagging noise, determinism, the majority
    * floor, and the forest gain-gap exactness guard. */
  val rf01 = Q.sql("rf01_random_forest", rf01OracleSql) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val fts = Seq(col("l_quantity"), col("l_discount"), col("l_tax"),
      year(col("l_shipdate")))
    val (models, frame) = forest(li, fts, col("l_returnflag"),
      idCols = Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
      depth = 3, bins = 32, nTrees = 5, featuresPerTree = 2,
      // same near-tie guard as dt01's registered run (r11): a corpus
      // drift shows as this targeted assert, not an opaque hash mismatch
      guardGainGaps = true)
    // vote over the trainer's own binned frame (r10): no second min/max
    // pass, no re-scan of lineitem; the per-tree prediction array is
    // STAGED so each tree's when-chain evaluates once per row (r15)
    frame
      .select(col("label").as("actual"),
        array(models.map(m => classifyExpr(m, col("b"))): _*).as("preds"))
      .select(col("actual"), voteFromPreds(col("preds")).as("pred"))
      .groupBy("actual", "pred").agg(count(lit(1)).as("n"))
      .orderBy("actual", "pred")
  }

  /** Gradient-boosted regression (GradientBoostedTrees.scala:1 parity,
    * squared loss): F(x) = f0 + shrink·Σ_m tree_m(x), each round fitting
    * a regression tree to the current residual column (updated in-plan,
    * so round m is one bounded level-training on a frame that never
    * leaves the cluster). Returns (f0, shrink, trees, mses, frame) —
    * the [[graft.ml.ModelIO.saveGbt]] persistence shape, then, when
    * `track` is set, the measured training MSEs (mses.head at F0, then
    * one per round; provably non-increasing for squared loss with mean
    * leaves, see [[gbt01]]; empty when not tracking), and the final
    * binned frame (b, y = residual, w, node) for serving.
    *
    * Predict on a frame binned with the SAME bin edges via
    * [[gbtPredictExpr]]. */
  def trainGbt(data: DataFrame, fts: Seq[Column], yCol: Column,
               rounds: Int, depth: Int, bins: Int, shrink: Double,
               track: Boolean = true)
      : (Double, Double, Seq[RModel], Seq[Double], DataFrame) = {
    var frame = binForRegression(data, fts, yCol, bins)
    val f0 = frame.agg(avg("y")).head.getDouble(0)
    // r16: staged residual projection over the one binned checkpoint
    // (same IEEE ops and scan order → bit-identical aggregates), no
    // per-round full-frame re-materialization
    frame = frame.withColumn("y", col("y") - f0)
    val trees = scala.collection.mutable.ArrayBuffer.empty[RModel]
    val mses = scala.collection.mutable.ArrayBuffer.empty[Double]
    def mse(): Unit = if (track) mses += frame.agg(avg(col("y") * col("y"))).head.getDouble(0)
    mse()
    for (_ <- 1 to rounds) {
      val tree = trainRegressionBinned(frame, d = fts.length, depth, bins)
      trees += tree
      frame = frame
        .select(col("b"),
          (col("y") - lit(shrink) * regressExpr(tree, col("b"))).as("y"),
          col("w"), lit(0).as("node"))
      mse()
    }
    (f0, shrink, trees.toSeq, mses.toSeq, frame)
  }

  /** Ensemble prediction over a binned feature column: the whole model
    * lives in the plan (a when-chain per tree), map-only application. */
  def gbtPredictExpr(f0: Double, shrink: Double, trees: Seq[RModel],
                     b: Column): Column =
    trees.foldLeft(lit(f0))((acc, t) => acc + lit(shrink) * regressExpr(t, b))

  /** The reference's pseudo-residual −∂loss/∂F as a pure column
    * (mllib/tree/loss: SquaredError.scala:1, AbsoluteError.scala:1,
    * LogLoss.scala:1). For "logistic" the target must already be in
    * {−1,+1} (the Classification remap 2y−1, GradientBoostedTrees
    * .scala:66, happens in the caller). "absolute" keeps the
    * reference's tie convention: residual exactly 0 → +1. */
  private def pseudoResidual(loss: String, y: Column, f: Column): Column =
    loss match {
      case "squared"  => y - f
      case "absolute" => when(y - f < 0, lit(-1.0)).otherwise(lit(1.0))
      case "logistic" => lit(4.0) * y / (lit(1.0) + exp(lit(2.0) * y * f))
      case other => throw new IllegalArgumentException(
        s"loss '$other' (supported: squared, absolute, logistic)")
    }

  /** Per-row training loss of the current ensemble (Loss.computeError's
    * integrand; the logistic form is the reference's numerically-stable
    * 2·log1p(exp(−2yF)) deviance). */
  private def lossValue(loss: String, y: Column, f: Column): Column =
    loss match {
      case "squared"  => (y - f) * (y - f)
      case "absolute" => abs(y - f)
      case "logistic" => lit(2.0) * log1p(exp(lit(-2.0) * y * f))
      case other => throw new IllegalArgumentException(s"loss '$other'")
    }

  /** Loss-generalized gradient boosting (GradientBoostedTrees.scala:120
    * `boost` parity): tree 0 is fit on the RAW target with ensemble
    * weight 1.0 (the reference's firstTreeWeight), every later tree on
    * the CURRENT ensemble's pseudo-residual with weight `shrink`, and
    * leaves are mean pseudo-residuals — Stochastic Gradient Boosting,
    * NOT TreeBoost: the reference documents (GradientBoostedTrees
    * .scala:40 and the baseLearnerWeights note at :174) that leaf
    * values are not refit per loss. `loss` ∈ squared | absolute |
    * logistic (AbsoluteError = LAD regression, LogLoss = binary
    * classification over ±1 labels; predict the class as sign(F)).
    *
    * Scale shape is dt01's: each round = one bounded level-cube
    * groupBy per tree level plus one map-only residual update, the
    * driver holds only (trees × nodes) doubles, rows never leave the
    * cluster. Per-round losses are one avg aggregate each.
    *
    * For `logistic` with 0 < shrink ≤ 1 the training deviance is
    * PROVABLY non-increasing round over round (and below the F=0
    * prior 2·log 2): the deviance is pointwise 2-smooth in F
    * (L″ = 8σ(1−σ) ≤ 2), so a leaf stepping its n points by
    * ν·p̄ (mean pseudo-residual p̄, the leaf's value) changes it by
    * ΔL ≤ Σᵢ(−pᵢ·ν·p̄) + (2/2)·n·ν²p̄² = −n·ν(1−ν)·p̄² ≤ 0; tree 0's
    * raw-label fit is the same bound at ν=1 with g(0) = −2y giving
    * ΔL ≤ −n·μ² ≤ 0. gbt02 turns this theorem into its oracle flags.
    *
    * @return (trees paired with their ensemble weights, per-round mean
    *         training loss, final frame (b, y, F, w) for serving) */
  def trainGbtLoss(data: DataFrame, fts: Seq[Column], yCol: Column,
                   rounds: Int, depth: Int, bins: Int, shrink: Double,
                   loss: String, track: Boolean = true)
      : (Seq[(RModel, Double)], Seq[Double], DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(shrink > 0 && shrink <= 1, s"shrink must be in (0,1], got $shrink")
    pseudoResidual(loss, lit(0), lit(0)) // validate the loss name eagerly
    // r16: ONE checkpoint (the binned base) for the whole boost. The
    // ensemble margin F is carried as a staged projection built tree by
    // tree — F_m = F_{m-1} + ν·t_m(b), the same left-to-right IEEE
    // additions the former per-round re-materialization stored — so
    // every cube/loss job scans the SAME checkpointed partitions in the
    // same order and all sums stay bit-identical, while the loop stops
    // paying one full-frame localCheckpoint write per round for a
    // column that is a cheap when-chain over `b`.
    var frame = binForRegression(data, fts, yCol, bins)
      .select(col("b"), col("y"), lit(0.0).as("F"), col("w"))
    val weights = 1.0 +: Seq.fill(rounds - 1)(shrink)
    val trees = scala.collection.mutable.ArrayBuffer.empty[RModel]
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (m <- 0 until rounds) {
      val target = if (m == 0) col("y") else pseudoResidual(loss, col("y"), col("F"))
      val fit = frame.select(col("b"), target.cast("double").as("y"),
        col("w"), lit(0).as("node"))
      val tree = trainRegressionBinned(fit, d = fts.length, depth, bins)
      trees += tree
      frame = frame.select(col("b"), col("y"),
          (col("F") + lit(weights(m)) * regressExpr(tree, col("b"))).as("F"),
          col("w"))
      if (track) losses += frame.agg(avg(lossValue(loss, col("y"), col("F"))))
        .head.getDouble(0)
    }
    (trees.toSeq.zip(weights), losses.toSeq, frame)
  }

  /** The GBT certificates' comparison bound: the theorems are exact real
    * arithmetic, and this slack absorbs double-agg summation-order noise
    * (e.g. when a round's true decrease is ~0 because no split is found). */
  private def withSlack(a: Double): Double = a * (1 + 1e-9) + 1e-12

  /** Registered pass (r12): 4-round depth-2 LogLoss classification GBT
    * (mllib/tree/loss/LogLoss.scala:1 + GradientBoostedTrees.scala:66's
    * ±1 remap) of "was the line returned-neither-accepted" (l_returnflag
    * = 'N') from gbt01's feature set.
    *
    * FULL oracle via the smoothness theorem proved at [[trainGbtLoss]]:
    * the training deviance provably never increases (tree 0 included)
    * and never exceeds the F=0 prior 2·log 2, so the entry emits
    * per-round `monotone` / `below_prior` flags the oracle asserts as
    * literal TRUE, anchored by the EXACT class counts n_pos/n_neg
    * (integers, recomputed by DuckDB from the raw table — they pin that
    * the remapped target really is the claimed ±1 labeling). The raw
    * per-round deviances stay engine-local (exp is not bit-portable)
    * and are pinned in TreesSpec instead (planted separable recovery). */
  val gbt02 = Q.audited(
    "gbt02_gbt_logloss",
    """WITH c AS (
      |  SELECT CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |         CAST(sum(CASE WHEN l_returnflag <> 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      |  FROM lineitem)
      |SELECT CAST(r AS INT) AS round, n_pos, n_neg,
      |  TRUE AS monotone, TRUE AS below_prior
      |FROM c, range(0, 4) t(r)
      |ORDER BY round""".stripMargin) { (s, dir, audit) =>
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val fts = Seq(col("l_quantity"), col("l_discount"), col("l_tax"),
      year(col("l_shipdate")))
    val y = when(col("l_returnflag") === "N", 1.0).otherwise(-1.0)
    val (_, losses, frame) = trainGbtLoss(li, fts, y,
      rounds = 4, depth = 2, bins = 32, shrink = 0.5, loss = "logistic",
      track = audit)
    // the twin tracks no per-round deviance and serves the classification
    // (sign of the final ensemble margin)
    if (!audit) frame.select(col("y"), signum(col("F")).as("pred"))
    else {
      val prior = 2.0 * math.log(2.0)
      // flags from the measured per-round deviances
      val flags = losses.zipWithIndex.map { case (l, m) =>
        val prev = if (m == 0) prior else losses(m - 1)
        (m, l <= withSlack(prev), l <= withSlack(prior))
      }.toDF("round", "monotone", "below_prior")
      val counts = li.agg(
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("l_returnflag") =!= "N", 1L).otherwise(0L)).as("n_neg"))
      flags.crossJoin(counts)
        .select(col("round"), col("n_pos"), col("n_neg"),
          col("monotone"), col("below_prior"))
        .orderBy("round")
    }
  }

  /** Registered pass (r12): 4-round depth-2 LAD (absolute-error) GBT of
    * the scaled extended price — the third reference loss
    * (mllib/tree/loss/AbsoluteError.scala:1) on the same binned
    * residual-update trainer as gbt01/gbt02: tree 0 fits the raw
    * target, later trees fit the ±1 sign pseudo-residual with mean
    * leaves (Stochastic Gradient Boosting, leaves NOT refit per loss —
    * the reference's own documented design).
    *
    * Unlike LogLoss there is NO smoothness theorem for LAD with mean
    * leaves, so the flags are MEASURED claims the driver re-checks
    * every round against deterministic values: `monotone` (per-round
    * training MAD non-increasing — holds with strict decreases at both
    * SFs) and `below_initial` (every round far under the F=0 prior:
    * tree 0's raw-target fit halves the MAD, 53.05 → 26.08 at sf0.01).
    * The anchor `mad0` is the exact-decimal F=0 loss (gbt01's moment
    * discipline — order-independent decimal sum, identical final
    * double ops), DuckDB-recomputed from the raw table. TreesSpec pins
    * planted recovery for the absolute loss separately. */
  val gbt03 = Q.audited(
    "gbt03_gbt_lad",
    """WITH m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(ay) AS DOUBLE) AS say
      |  FROM (SELECT abs(CAST(l_extendedprice / 1000.0 AS DECIMAL(18,6))) AS ay
      |        FROM lineitem))
      |SELECT CAST(r AS INT) AS round, round(say / n, 6) AS mad0,
      |  TRUE AS monotone, TRUE AS below_initial
      |FROM m, range(1, 5) t(r)
      |ORDER BY round""".stripMargin) { (s, dir, audit) =>
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val fts = Seq(col("l_quantity"), col("l_discount"), col("l_tax"),
      year(col("l_shipdate")))
    val (_, losses, frame) = trainGbtLoss(li, fts, col("l_extendedprice") / 1000.0,
      rounds = 4, depth = 2, bins = 32, shrink = 0.5, loss = "absolute",
      track = audit)
    // the twin tracks no loss and serves the final ensemble prediction
    if (!audit) frame.select(col("y"), col("F").as("pred"))
    else {
      val anchor = li
        .select(abs((col("l_extendedprice") / 1000.0).cast("decimal(18,6)")).as("ay"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("ay")).cast("double").as("say"))
        .select((col("say") / col("n")).as("mad0raw"),
          round(col("say") / col("n"), 6).as("mad0"))
      val mad0 = anchor.head.getDouble(0)
      val flags = losses.zipWithIndex.map { case (l, m) =>
        val prev = if (m == 0) mad0 else losses(m - 1)
        (m + 1, l <= withSlack(prev), l <= withSlack(mad0))
      }.toDF("round", "monotone", "below_initial")
      flags.crossJoin(anchor.select("mad0"))
        .select(col("round"), col("mad0"), col("monotone"), col("below_initial"))
        .orderBy("round")
    }
  }

  /** Registered pass: 4-round depth-2 gradient-boosted regression of the
    * scaled extended price (GradientBoostedTrees.scala:1 parity,
    * squared loss: each round fits a regression tree to the CURRENT
    * residual column — updated in-plan, shrinkage 0.5 — so round m is
    * dt01's bounded level-training on a frame that never leaves the
    * cluster).
    *
    * FULL oracle via the boosting invariant (the q30/q41 claim pattern):
    * squared-loss GBT with mean leaves provably never increases training
    * MSE (per leaf with mean μ and shrinkage ν: ΔSSE = −ν(2−ν)·n_leaf·μ²
    * ≤ 0), so the entry emits per-round monotone and below-initial flags
    * plus the INITIAL MSE as an exact-decimal anchor ((Σy² − Σy·(Σy/n))/n
    * — rg01's moment discipline, order-independent so both engines run
    * identical doubles through identical ops); DuckDB recomputes the
    * anchor from the raw table and asserts the flags as literal TRUE.
    * The raw per-round MSE path stays pinned in TreesSpec (planted-step
    * exact recovery + non-increasing MSE). */
  val gbt01 = Q.audited(
    "gbt01_gbt_regression",
    """WITH m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(y * y) AS DOUBLE) AS syy
      |  FROM (SELECT CAST(l_extendedprice / 1000.0 AS DECIMAL(18,6)) AS y
      |        FROM lineitem))
      |SELECT CAST(r AS INT) AS round,
      |  round((syy - sy * (sy / n)) / n, 6) AS mse0,
      |  TRUE AS monotone, TRUE AS below_initial
      |FROM m, range(1, 5) t(r)
      |ORDER BY round""".stripMargin) { (s, dir, audit) =>
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val fts = Seq(col("l_quantity"), col("l_discount"), col("l_tax"),
      year(col("l_shipdate")))
    // the twin boosts WITHOUT the initial and per-round MSE heads and the
    // exact-decimal anchor aggregate, and serves F0 + ν·Σ trees
    val (f0, shrink, trees, mses, frame) = trainGbt(li, fts,
      col("l_extendedprice") / 1000.0, rounds = 4, depth = 2, bins = 32,
      shrink = 0.5, track = audit)
    if (!audit) frame.select(gbtPredictExpr(f0, shrink, trees, col("b")).as("pred"))
    else {
      // flags from the measured MSEs (aggregates computed in the cluster;
      // the comparison is driver arithmetic on those bounded values)
      val flags = (1 until mses.length).map { m =>
        (m, mses(m) <= withSlack(mses(m - 1)), mses(m) <= withSlack(mses.head))
      }.toDF("round", "monotone", "below_initial")
      // the exact-decimal anchor, computed in-plan with the oracle's ops
      val anchor = li
        .select((col("l_extendedprice") / 1000.0).cast("decimal(18,6)").as("y"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("y") * col("y")).cast("double").as("syy"))
        .select(round((col("syy") - col("sy") * (col("sy") / col("n"))) / col("n"), 6)
          .as("mse0"))
      flags.crossJoin(anchor)
        .select(col("round"), col("mse0"), col("monotone"), col("below_initial"))
        .orderBy("round")
    }
  }

  /** Registered pass (r11): dt01's configuration trained with ENTROPY
    * impurity — the same level-cube machinery, the entropy gain
    * function, and a FULL value oracle via the parameterized
    * [[dtOracleSql]] replay. Cross-engine soundness is the widened
    * 1e-9 band + the 2e-9 gain-gap AND positivity-window guards
    * asserted IN this registered run (log2 is not bit-portable across
    * libms; see [[dtOracleSql]]); TreesSpec separately proves the two
    * impurities genuinely differ on a planted corpus, so this is not
    * dt01 re-labeled. */
  val dt02 = returnflagTree("dt02_entropy_tree", "entropy", gainGapWidth = 2e-9)

  val all: Seq[Q] = Seq(dt01, dt02, rf01, gbt01, gbt02, gbt03)
}
