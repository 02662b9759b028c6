package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{LoopState, Q, Tables}

/** Model-evaluation metrics (reference mllib/src/main/scala/org/apache/
  * spark/mllib/evaluation/ — BinaryClassificationMetrics.scala:1,
  * MulticlassMetrics.scala:1, RegressionMetrics.scala:1,
  * RankingMetrics.scala:1) re-expressed Spark-first. Every metric here is
  * a bounded aggregate over (prediction, label) pairs — exactly the shape
  * a 100 TB training-data pipeline needs to score its quality/language
  * filter models on held-out data without ever collecting rows:
  *
  *  - binary: AUC-ROC computed as the Mann-Whitney rank-sum statistic
  *    whose fractional average ranks are DERIVED from the bounded
  *    per-distinct-score curve (one aggregated row per threshold — the
  *    reference's own curve cardinality) via a single-partition window
  *    over those ~|distinct scores| rows — algebraically identical to
  *    the reference's trapezoid-over-cumulative-counts (ties handled by
  *    the average rank exactly as the trapezoid handles the tied-score
  *    vertical), with no ordered scan of the RAW rows; AUC-PR from the
  *    same curve (fs01's discipline).
  *  - multiclass: confusion-cell aggregates → per-class precision /
  *    recall / F1 + overall accuracy.
  *  - regression: one exact-decimal moment aggregate (rg01's rule, so
  *    both engines fit the identical line) + one residual aggregate.
  *  - ranking: per-user windows partitioned by user (never global),
  *    Poisson-free and fully deterministic: spend ranked on EXACT decimal
  *    sums so both engines produce the identical ranking.
  *
  * All four carry FULL DuckDB value oracles.
  */
object Evaluation {

  /** Binary-classification metrics (BinaryClassificationMetrics.scala:1
    * parity) for the "was it returned" task: score = quantity + discount
    * (a deterministic baseline scorer with ~550 distinct thresholds —
    * ties exercise the averaged-rank path), label = returnflag 'R'.
    *
    * AUC-ROC = (Σ ranks of positives − P(P+1)/2) / (P·N) on fractional
    * average ranks (Mann-Whitney U). Equal to the reference's
    * trapezoidal area under the per-threshold ROC including its tie
    * handling; the ranks derive from the bounded per-distinct-score
    * curve via a single-partition window over ~|distinct scores| rows,
    * so no stage funnels the RAW rows through one task. AUC-PR
    * follows the reference exactly: points (recall, precision) per
    * distinct score descending with (0, 1) prepended, trapezoid sum —
    * the cumulative window runs over the aggregated curve (one row per
    * distinct score), bounded by construction. */
  val ev01 = Q.sql(
    "ev01_binary_metrics",
    """WITH sl AS (
      |  SELECT l_quantity + l_discount AS score,
      |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      |  FROM lineitem),
      |tot AS (SELECT CAST(sum(pos) AS DOUBLE) AS p,
      |               CAST(count(*) - sum(pos) AS DOUBLE) AS n FROM sl),
      |rk AS (SELECT pos,
      |         rank() OVER (ORDER BY score) +
      |           (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS r
      |       FROM sl),
      |curve AS (SELECT score, CAST(sum(pos) AS DOUBLE) AS cp,
      |                 CAST(count(*) AS DOUBLE) AS ct
      |          FROM sl GROUP BY score),
      |cum AS (SELECT score,
      |          sum(cp) OVER (ORDER BY score DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
      |          sum(ct) OVER (ORDER BY score DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt
      |        FROM curve),
      |pr AS (SELECT tp / (SELECT p FROM tot) AS rec, tp / cnt AS prec,
      |         lag(tp / (SELECT p FROM tot), 1, 0.0)
      |           OVER (ORDER BY score DESC) AS prev_rec,
      |         lag(tp / cnt, 1, 1.0) OVER (ORDER BY score DESC) AS prev_prec
      |       FROM cum)
      |SELECT (SELECT CAST(p AS BIGINT) FROM tot) AS n_pos,
      |       (SELECT CAST(n AS BIGINT) FROM tot) AS n_neg,
      |       (SELECT CAST(count(*) AS BIGINT) FROM curve) AS n_thresholds,
      |       (SELECT round((sum(CASE WHEN pos = 1 THEN r ELSE 0 END) -
      |                      (SELECT p FROM tot) * ((SELECT p FROM tot) + 1) / 2.0) /
      |                     ((SELECT p FROM tot) * (SELECT n FROM tot)), 6) FROM rk) AS auc_roc,
      |       (SELECT round(sum((rec - prev_rec) * (prec + prev_prec) / 2.0), 6)
      |        FROM pr) AS auc_pr""".stripMargin) { (s, dir) =>
    val sl = Tables.lineitem(s, dir).select(
      (col("l_quantity") + col("l_discount")).as("score"),
      when(col("l_returnflag") === "R", 1).otherwise(0).as("pos"))
    binaryMetrics(sl)
  }

  /** The metric computation behind ev01, over any (score, pos∈{0,1})
    * frame — spec'd on planted curves with hand-computed areas.
    *
    * r16: EVERYTHING derives from the bounded per-distinct-score curve
    * in ONE raw-data pass. The former shape scanned the frame ~5×
    * (totals, the q54 global-index sort, the rank join-back, the curve,
    * the threshold count). The Mann-Whitney rank sum restructures
    * EXACTLY: positives at score s all carry the fractional rank
    * r̄(s) = cum_lt(s) + (c(s)+1)/2, so Σ ranks of positives =
    * Σ_s cp(s)·r̄(s) — and every quantity in that identity (counts,
    * half-integer ranks, their products ≤ n², partial sums ≤ n·(n+1))
    * is exactly representable in double at any n < 2^26, so the
    * per-curve-row sum is BIT-IDENTICAL to the per-raw-row sum it
    * replaces (both are exact). p/n totals likewise (integer sums).
    * The PR curve path is unchanged; its threshold count folds into
    * the same bounded aggregate. */
  def binaryMetrics(sl: DataFrame): DataFrame = {
    // one full-data pass; everything after is per-distinct-score
    val curve = LoopState.pin(sl.groupBy("score").agg(
      sum(col("pos")).cast("double").as("cp"),
      count(lit(1)).cast("double").as("ct")), eager = true)
    val t = curve.agg(sum(col("cp")).as("p"),
      (sum(col("ct")) - sum(col("cp"))).as("n"), count(lit(1)).as("nt")).head
    val (p, n, nThresh) = (t.getDouble(0), t.getDouble(1), t.getLong(2))
    // fractional average rank per distinct score, over the bounded curve
    val wLt = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val aucRoc = curve
      .select(col("cp"),
        (coalesce(sum(col("ct")).over(wLt), lit(0.0)) +
          (col("ct") + 1.0) / 2.0).as("r"))
      .agg(((sum(col("cp") * col("r")) - lit(p) * (lit(p) + 1) / 2.0) /
        lit(p * n)).as("v")).head.getDouble(0)
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = curve.select(col("score"),
      sum(col("cp")).over(w).as("tp"), sum(col("ct")).over(w).as("cnt"))
    val lagW = Window.orderBy(col("score").desc)
    val pr = cum.select(
      (col("tp") / p).as("rec"), (col("tp") / col("cnt")).as("prec"),
      lag(col("tp") / p, 1, 0.0).over(lagW).as("prev_rec"),
      lag(col("tp") / col("cnt"), 1, 1.0).over(lagW).as("prev_prec"))
    val aucPr = pr.agg(
      sum((col("rec") - col("prev_rec")) * (col("prec") + col("prev_prec")) / 2.0))
      .head.getDouble(0)
    val spark = sl.sparkSession
    import spark.implicits._
    Seq((p.toLong, n.toLong, nThresh,
      math.rint(aucRoc * 1e6) / 1e6, math.rint(aucPr * 1e6) / 1e6))
      .toDF("n_pos", "n_neg", "n_thresholds", "auc_roc", "auc_pr")
  }

  private val langPred: Column =
    when(col("text").contains(" the "), "en")
      .when(col("text").contains("data"), "de")
      .when(col("text").contains("merge"), "fr")
      .when(col("text").contains("query"), "es")
      .otherwise("zh")

  private val langPredSql =
    """CASE WHEN text LIKE '% the %' THEN 'en'
      |     WHEN text LIKE '%data%' THEN 'de'
      |     WHEN text LIKE '%merge%' THEN 'fr'
      |     WHEN text LIKE '%query%' THEN 'es'
      |     ELSE 'zh' END""".stripMargin

  /** Multiclass metrics (MulticlassMetrics.scala:1 parity) scoring a
    * deterministic stopword-rule language classifier against the `lang`
    * label: per-class precision / recall / F1 plus overall accuracy —
    * all confusion-cell aggregates (the whole computation collapses to
    * one 5×5 matrix). precision is NULL-guarded per class exactly like
    * the reference's 0/0 case. The corpus' lang label is near-random
    * w.r.t. its text (SURVEY §8), so the values sit at the base-rate
    * floor — the METRIC arithmetic is what the oracle pins. */
  val ev02 = Q.sql(
    "ev02_multiclass_metrics",
    s"""WITH pl AS (SELECT lang AS actual, $langPredSql AS pred FROM documents),
      |acc AS (SELECT round(CAST(sum(CASE WHEN actual = pred THEN 1 ELSE 0 END) AS DOUBLE)
      |                     / count(*), 6) AS a FROM pl),
      |cls AS (SELECT actual AS label,
      |          CAST(count(*) AS BIGINT) AS n_actual,
      |          CAST(sum(CASE WHEN actual = pred THEN 1 ELSE 0 END) AS BIGINT) AS tp
      |        FROM pl GROUP BY actual),
      |prd AS (SELECT pred AS label, CAST(count(*) AS BIGINT) AS n_pred
      |        FROM pl GROUP BY pred)
      |SELECT cls.label, n_actual,
      |       CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
      |       tp,
      |       round(CAST(tp AS DOUBLE) / nullif(n_pred, 0), 6) AS prec,
      |       round(CAST(tp AS DOUBLE) / n_actual, 6) AS recall,
      |       round(CASE WHEN coalesce(n_pred, 0) + n_actual > 0 AND tp > 0
      |               THEN 2.0 * (CAST(tp AS DOUBLE) / n_pred) * (CAST(tp AS DOUBLE) / n_actual)
      |                    / (CAST(tp AS DOUBLE) / n_pred + CAST(tp AS DOUBLE) / n_actual)
      |               ELSE 0.0 END, 6) AS f1,
      |       (SELECT a FROM acc) AS accuracy
      |FROM cls LEFT JOIN prd ON cls.label = prd.label
      |ORDER BY cls.label""".stripMargin) { (s, dir) =>
    val pl = Tables.documents(s, dir)
      .select(col("lang").as("actual"), langPred.as("pred"))
    multiclassMetrics(pl)
  }

  /** Per-class precision/recall/F1 + accuracy from an (actual, pred)
    * frame. */
  def multiclassMetrics(pl: DataFrame): DataFrame = {
    val acc = pl.agg(round(
      sum(when(col("actual") === col("pred"), 1).otherwise(0)).cast("double") /
        count(lit(1)), 6)).head.getDouble(0)
    val cls = pl.groupBy(col("actual").as("label")).agg(
      count(lit(1)).as("n_actual"),
      sum(when(col("actual") === col("pred"), 1L).otherwise(0L)).as("tp"))
    val prd = pl.groupBy(col("pred").as("label")).agg(count(lit(1)).as("n_pred"))
    val prec = col("tp").cast("double") / col("n_pred")
    val rec = col("tp").cast("double") / col("n_actual")
    cls.join(prd, Seq("label"), "left")
      .select(col("label"), col("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("tp"),
        round(when(col("n_pred") > 0, prec), 6).as("prec"),
        round(rec, 6).as("recall"),
        round(when(col("tp") > 0 && coalesce(col("n_pred"), lit(0L)) + col("n_actual") > 0,
          lit(2.0) * prec * rec / (prec + rec)).otherwise(0.0), 6).as("f1"),
        lit(acc).as("accuracy"))
      .orderBy("label")
  }

  /** Regression metrics (RegressionMetrics.scala:1 parity) for the d=1
    * OLS line of extendedprice/1000 on quantity: MSE, RMSE, MAE, R²,
    * explained variance (1 − var(resid)/var(y), sample variances — the
    * reference's summarizer definition). The line is fit from ONE
    * exact-decimal moment aggregate (rg01's rule: both engines see
    * bit-identical sums, so the fitted coefficients — and hence every
    * per-row residual — are bit-identical); the metrics are one more
    * bounded aggregate. y is scaled by 1000 so a 6-decimal rounding of
    * MSE stays inside double precision. */
  val ev03 = Q.sql(
    "ev03_regression_metrics",
    """WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_extendedprice / 1000.0 AS DECIMAL(18,6))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6)) *
      |             CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6)) *
      |             CAST(l_extendedprice / 1000.0 AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(l_extendedprice / 1000.0 AS DECIMAL(18,6)) *
      |             CAST(l_extendedprice / 1000.0 AS DECIMAL(18,6))) AS DOUBLE) AS syy
      |  FROM lineitem),
      |c AS (SELECT n, sy, syy,
      |        (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1,
      |        sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * (sx / n) AS b0
      |      FROM m),
      |r AS (SELECT l_extendedprice / 1000.0 AS y,
      |        (SELECT b0 FROM c) + (SELECT b1 FROM c) * l_quantity AS fx
      |      FROM lineitem)
      |SELECT (SELECT CAST(n AS BIGINT) FROM c) AS n,
      |  round(avg((y - fx) * (y - fx)), 6) AS mse,
      |  round(sqrt(avg((y - fx) * (y - fx))), 6) AS rmse,
      |  round(avg(abs(y - fx)), 6) AS mae,
      |  round(1 - sum((y - fx) * (y - fx)) /
      |    (SELECT syy - sy * sy / n FROM c), 6) AS r2,
      |  round(1 - (sum((y - fx) * (y - fx)) - sum(y - fx) * sum(y - fx) /
      |              (SELECT n FROM c)) /
      |    (SELECT syy - sy * sy / n FROM c), 6) AS explained_variance
      |FROM r""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val xDec = col("l_quantity").cast("decimal(18,6)")
    val yDec = (col("l_extendedprice") / 1000.0).cast("decimal(18,6)")
    val m = li.agg(
      count(lit(1)).cast("double").as("n"),
      sum(xDec).cast("double").as("sx"), sum(yDec).cast("double").as("sy"),
      sum(xDec * xDec).cast("double").as("sxx"),
      sum(xDec * yDec).cast("double").as("sxy"),
      sum(yDec * yDec).cast("double").as("syy")).head
    val (n, sx, sy, sxx, sxy, syy) = (m.getDouble(0), m.getDouble(1),
      m.getDouble(2), m.getDouble(3), m.getDouble(4), m.getDouble(5))
    val b1 = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val b0 = sy / n - b1 * (sx / n)
    val ssTot = syy - sy * sy / n
    val resid = col("l_extendedprice") / 1000.0 -
      (lit(b0) + lit(b1) * col("l_quantity"))
    regressionMetricsAgg(li, resid, ssTot, n)
  }

  /** The RegressionMetrics aggregate over any frame given its residual
    * expression, total sum of squares, and row count — one bounded pass. */
  def regressionMetricsAgg(df: DataFrame, resid: Column, ssTot: Double,
                           n: Double): DataFrame =
    df.agg(
      count(lit(1)).as("n"),
      round(avg(resid * resid), 6).as("mse"),
      round(sqrt(avg(resid * resid)), 6).as("rmse"),
      round(avg(abs(resid)), 6).as("mae"),
      round(lit(1.0) - sum(resid * resid) / ssTot, 6).as("r2"),
      round(lit(1.0) - (sum(resid * resid) - sum(resid) * sum(resid) / n) / ssTot, 6)
        .as("explained_variance"))

  /** Ranking metrics (RankingMetrics.scala:1 parity) for a
    * recommend-next-period task: per customer, the predicted ranking is
    * the top-10 parts by FIRST-period spend (ranked on EXACT decimal
    * sums so both engines order identically; part id tiebreak) and the
    * ground-truth set is the parts actually bought in the SECOND period.
    * precision@5/@10, MAP and NDCG@10 follow the reference exactly:
    * /k even with fewer predictions, AP normalized by |truth|, NDCG
    * gain 1/ln(pos+1) with ideal DCG over min(|truth|, 10) positions,
    * empty-truth users contribute 0 to every mean. All per-user work
    * runs under windows PARTITIONED BY customer; the final mean is one
    * aggregate. */
  val ev04 = Q.sql(
    "ev04_ranking_metrics",
    """WITH joined AS (
      |  SELECT o_custkey AS c, l_partkey AS part, o_orderdate,
      |         CAST(l_extendedprice AS DECIMAL(18,6)) *
      |         CAST(1.0 - l_discount AS DECIMAL(18,6)) AS rev
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |fh AS (SELECT c, part, sum(rev) AS spend
      |       FROM joined WHERE o_orderdate < DATE '1998-07-01' GROUP BY c, part),
      |preds AS (SELECT c, part, pos FROM (
      |    SELECT c, part, row_number() OVER (PARTITION BY c
      |      ORDER BY spend DESC, part) AS pos FROM fh)
      |  WHERE pos <= 10),
      |truth AS (SELECT DISTINCT c, part
      |          FROM joined WHERE o_orderdate >= DATE '1998-07-01'),
      |ts AS (SELECT c, CAST(count(*) AS BIGINT) AS tsz FROM truth GROUP BY c),
      |cumg AS (SELECT a.i, sum(1.0 / ln(b.i + 1)) AS ideal
      |         FROM range(1, 11) a(i) JOIN range(1, 11) b(i) ON b.i <= a.i
      |         GROUP BY a.i),
      |ideals AS (SELECT ts.c, ts.tsz, cumg.ideal
      |           FROM ts JOIN cumg ON cumg.i = least(ts.tsz, 10)),
      |hits AS (SELECT p.c, p.pos,
      |           CASE WHEN t.part IS NOT NULL THEN 1 ELSE 0 END AS hit
      |         FROM preds p LEFT JOIN truth t ON p.c = t.c AND p.part = t.part),
      |aug AS (SELECT c, pos, hit,
      |          sum(hit) OVER (PARTITION BY c ORDER BY pos) AS cumh
      |        FROM hits),
      |per AS (SELECT a.c,
      |          sum(CASE WHEN a.pos <= 5 THEN a.hit ELSE 0 END) / 5.0 AS p5,
      |          sum(a.hit) / 10.0 AS p10,
      |          CASE WHEN coalesce(max(i.tsz), 0) > 0
      |            THEN coalesce(sum(CASE WHEN a.hit = 1
      |                   THEN CAST(a.cumh AS DOUBLE) / a.pos END), 0.0) / max(i.tsz)
      |            ELSE 0.0 END AS ap,
      |          CASE WHEN coalesce(max(i.tsz), 0) > 0
      |            THEN coalesce(sum(CASE WHEN a.hit = 1
      |                   THEN 1.0 / ln(a.pos + 1) END), 0.0) / max(i.ideal)
      |            ELSE 0.0 END AS ndcg
      |        FROM aug a LEFT JOIN ideals i ON a.c = i.c GROUP BY a.c)
      |SELECT CAST(count(*) AS BIGINT) AS users,
      |  round(avg(p5), 6) AS precision_at_5,
      |  round(avg(p10), 6) AS precision_at_10,
      |  round(avg(ap), 6) AS mean_ap,
      |  round(avg(ndcg), 6) AS ndcg_at_10
      |FROM per""".stripMargin) { (s, dir) =>
    val joined = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("part"),
        col("o_orderdate"),
        (col("l_extendedprice").cast("decimal(18,6)") *
          (lit(1.0) - col("l_discount")).cast("decimal(18,6)")).as("rev"))
    val split = lit("1998-07-01").cast("date")
    // r17 note: two single-scan fusions of the preds and truth branches
    // were built and MEASURED WORSE here, then reverted (the r16
    // pic01/ev04 materialize-vs-recompute rule, third data point):
    // (a) one (c, part) period-conditional aggregate + localCheckpoint
    //     shared by both branches — 1.7 → 2.6 s;
    // (b) the same aggregate consumed in ONE plan via customer windows
    //     (tsz/pos/cumh over the agg, no checkpoint) — 1.7 → 2.4 s.
    // Both lose because the branches are ASYMMETRIC: o_orderdate >= split
    // keeps ~3% of rows and both period filters push down to the scans,
    // so the "duplicated" truth scan costs ~3% of a pass while the fused
    // shapes pay full-width aggregation plus extra window sorts over the
    // whole pair set. The two-branch shape below is the measured floor.
    val preds = joined.filter(col("o_orderdate") < split)
      .groupBy("c", "part").agg(sum("rev").as("spend"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("c").orderBy(col("spend").desc, col("part"))))
      .filter(col("pos") <= 10)
      .select("c", "part", "pos")
    val truth = joined.filter(col("o_orderdate") >= split)
      .select("c", "part").distinct()
    rankingMetrics(preds, truth)
  }

  /** precision@5/@10, MAP, NDCG@10 from a (c, part, pos≤10) prediction
    * frame and a (c, part) ground-truth frame — reference semantics as
    * documented on ev04. */
  def rankingMetrics(preds: DataFrame, truth: DataFrame): DataFrame = {
    // ideal DCG: Σ_{i=1..min(|truth|,10)} 1/ln(i+1) — a ≤10-term fold,
    // evaluated in the same ascending order as the oracle's range() sum
    val ts = truth.groupBy("c").agg(count(lit(1)).as("tsz"))
      .withColumn("ideal",
        aggregate(sequence(lit(1L), least(col("tsz"), lit(10L))),
          lit(0.0), (a, i) => a + lit(1.0) / log(i.cast("double") + 1.0)))
    val hits = preds.join(
      truth.withColumn("hit_", lit(1)), Seq("c", "part"), "left")
      .select(col("c"), col("pos"),
        coalesce(col("hit_"), lit(0)).as("hit"))
    val aug = hits.withColumn("cumh",
      sum(col("hit")).over(Window.partitionBy("c").orderBy("pos")))
    val tszC = coalesce(max(col("tsz")), lit(0L))
    val per = aug.join(ts, Seq("c"), "left")
      .groupBy("c").agg(
        (sum(when(col("pos") <= 5, col("hit")).otherwise(0)) / 5.0).as("p5"),
        (sum(col("hit")) / 10.0).as("p10"),
        when(tszC > 0,
          coalesce(sum(when(col("hit") === 1,
            col("cumh").cast("double") / col("pos"))), lit(0.0)) / tszC)
          .otherwise(0.0).as("ap"),
        when(tszC > 0,
          coalesce(sum(when(col("hit") === 1,
            lit(1.0) / log(col("pos").cast("double") + 1.0))), lit(0.0)) /
            max(col("ideal")))
          .otherwise(0.0).as("ndcg"))
    per.agg(count(lit(1)).as("users"),
      round(avg("p5"), 6).as("precision_at_5"),
      round(avg("p10"), 6).as("precision_at_10"),
      round(avg("ap"), 6).as("mean_ap"),
      round(avg("ndcg"), 6).as("ndcg_at_10"))
  }

  /** Multilabel metrics (MultilabelMetrics.scala:1 parity — with ev01–
    * ev04 this completes the reference's whole evaluation package) for a
    * per-order task over the label space {A, N, R}: the actual label set
    * is the order's distinct returnflags, the predicted set comes from a
    * deterministic per-order rule (any-discount>.05 → R, any-qty>25 → A,
    * any-tax<.04 → N). Because both sets live in a 3-label space, every
    * set statistic folds to SIX 0/1 columns per order (one bounded
    * groupBy over lineitem), and the metric suite — subset accuracy,
    * mean Jaccard, Hamming loss, doc-averaged P/R/F1, micro P/R/F1 — is
    * one more aggregate. numLabels follows the reference: distinct
    * labels across ACTUAL sets. */
  val ev05 = Q.sql(
    "ev05_multilabel_metrics",
    """WITH per AS (
      |  SELECT l_orderkey,
      |    max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS la,
      |    max(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS ln,
      |    max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS lr,
      |    max(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS pa,
      |    max(CASE WHEN l_tax < 0.04 THEN 1 ELSE 0 END) AS pn,
      |    max(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS pr
      |  FROM lineitem GROUP BY l_orderkey),
      |d AS (SELECT la, ln, lr, pa, pn, pr,
      |        la * pa + ln * pn + lr * pr AS inter,
      |        la + ln + lr AS lsz, pa + pn + pr AS psz
      |      FROM per),
      |nl AS (SELECT CAST(max(la) + max(ln) + max(lr) AS DOUBLE) AS n_labels FROM d)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  (SELECT CAST(n_labels AS BIGINT) FROM nl) AS n_labels,
      |  round(avg(CASE WHEN lsz = psz AND inter = lsz THEN 1.0 ELSE 0.0 END), 6)
      |    AS subset_accuracy,
      |  round(avg(CAST(inter AS DOUBLE) / (lsz + psz - inter)), 6) AS accuracy,
      |  round(sum(CAST(lsz + psz - 2 * inter AS DOUBLE)) /
      |        (count(*) * (SELECT n_labels FROM nl)), 6) AS hamming_loss,
      |  round(avg(CASE WHEN psz > 0 THEN CAST(inter AS DOUBLE) / psz ELSE 0.0 END), 6)
      |    AS doc_precision,
      |  round(avg(CAST(inter AS DOUBLE) / lsz), 6) AS doc_recall,
      |  round(avg(2.0 * inter / (psz + lsz)), 6) AS doc_f1,
      |  round(CAST(sum(inter) AS DOUBLE) / sum(psz), 6) AS micro_precision,
      |  round(CAST(sum(inter) AS DOUBLE) / sum(lsz), 6) AS micro_recall,
      |  round(2.0 * sum(inter) / (sum(lsz) + sum(psz)), 6) AS micro_f1
      |FROM d""".stripMargin) { (s, dir) =>
    val per = Tables.lineitem(s, dir).groupBy("l_orderkey").agg(
      max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("la"),
      max(when(col("l_returnflag") === "N", 1).otherwise(0)).as("ln"),
      max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("lr"),
      max(when(col("l_quantity") > 25, 1).otherwise(0)).as("pa"),
      max(when(col("l_tax") < 0.04, 1).otherwise(0)).as("pn"),
      max(when(col("l_discount") > 0.05, 1).otherwise(0)).as("pr"))
    multilabelMetrics(per)
  }

  /** The multilabel metric aggregate over a frame of six 0/1 columns
    * (la/ln/lr actual, pa/pn/pr predicted) — reference formulas; micro
    * F1 = 2·Σtp/(2·Σtp + Σfp + Σfn) simplifies to 2·Σ|∩|/(Σ|L| + Σ|P|). */
  def multilabelMetrics(per: DataFrame): DataFrame = {
    val d = per.select(col("la"), col("ln"), col("lr"),
      col("pa"), col("pn"), col("pr"),
      (col("la") * col("pa") + col("ln") * col("pn") + col("lr") * col("pr"))
        .as("inter"),
      (col("la") + col("ln") + col("lr")).as("lsz"),
      (col("pa") + col("pn") + col("pr")).as("psz"))
    val nLabels = d.agg((max(col("la")) + max(col("ln")) + max(col("lr")))
      .cast("double")).head.getDouble(0)
    d.agg(
      count(lit(1)).as("n_docs"),
      lit(nLabels.toLong).as("n_labels"),
      round(avg(when(col("lsz") === col("psz") &&
        col("inter") === col("lsz"), 1.0).otherwise(0.0)), 6).as("subset_accuracy"),
      round(avg(col("inter").cast("double") /
        (col("lsz") + col("psz") - col("inter"))), 6).as("accuracy"),
      round(sum((col("lsz") + col("psz") - lit(2) * col("inter")).cast("double")) /
        (count(lit(1)) * nLabels), 6).as("hamming_loss"),
      round(avg(when(col("psz") > 0,
        col("inter").cast("double") / col("psz")).otherwise(0.0)), 6)
        .as("doc_precision"),
      round(avg(col("inter").cast("double") / col("lsz")), 6).as("doc_recall"),
      round(avg(lit(2.0) * col("inter") / (col("psz") + col("lsz"))), 6).as("doc_f1"),
      round(sum(col("inter")).cast("double") / sum(col("psz")), 6)
        .as("micro_precision"),
      round(sum(col("inter")).cast("double") / sum(col("lsz")), 6)
        .as("micro_recall"),
      round(lit(2.0) * sum(col("inter")) / (sum(col("lsz")) + sum(col("psz"))), 6)
        .as("micro_f1"))
  }

  val all: Seq[Q] = Seq(ev01, ev02, ev03, ev04, ev05)
}
