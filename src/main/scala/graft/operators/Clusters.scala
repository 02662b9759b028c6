package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{LoopState, Q, Tables}

/** Duplicate-cluster resolution: candidate pairs → canonical keep/drop
  * sets — the last step of the dedup pipeline (d02/d03/d04 emit pairs;
  * a training-data pipeline needs one survivor per duplicate cluster).
  *
  * Re-expresses the reference's connected components
  * (graphx/src/main/scala/org/apache/spark/graphx/lib/
  * ConnectedComponents.scala:1, Graph.scala:505) as iterative min-label
  * propagation over plain DataFrames: no GraphX dependency, every step
  * a shuffle-on-key join/agg that AQE can re-plan.
  */
object Clusters {

  /** Connected components by min-label propagation to fixpoint.
    *
    * @param vertices single-column DataFrame `id`
    * @param edges    two-column DataFrame `src`,`dst` (undirected; both
    *                 orientations are generated internally)
    * @return (id, label) where label = min id of the component
    *
    * Each round (a [[LoopState.fixpoint]] step): every vertex takes
    * the min of its own label and its neighbors' labels (one shuffle
    * join + one shuffle agg). Round count = graph diameter — tiny for
    * dup clusters (chains of near-identical docs). The fingerprint
    * exploits monotonicity: labels only ever DECREASE, so sum(label)
    * strictly decreases iff any label changed — one pass per round
    * instead of a join+count. Driver-coordinated loops are how iterative
    * graph algorithms run on Spark (GraphX Pregel does the same); the
    * data itself never leaves the executors. For adversarially deep
    * graphs use [[connectedComponentsStar]] (large-star/small-star
    * contraction, O(log² n) rounds).
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val bidir = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    LoopState.fixpoint(vertices.select(col("id"), col("id").as("label")), maxIter,
        "connectedComponents (deep graphs: connectedComponentsStar)") { labels =>
      val msgs = bidir.join(labels, bidir("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      labels.select(col("id"), col("label")).union(msgs)
        .groupBy("id").agg(min("label").as("label"))
    }(col("label"))._1
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the deep-graph path: O(log² n) rounds on ANY
    * graph, where [[connectedComponents]]' min-label propagation needs
    * diameter rounds (a 1M-link chain would need 1M iterations there,
    * ~40 here).
    *
    * Each round is two join+agg passes over the canonical edge set
    * (u > v, distinct, no self-loops):
    *  - large-star: every node connects its LARGER neighbors to
    *    min(N(u) ∪ u) — long tails fold toward minima;
    *  - small-star: every node connects its smaller neighbors (and
    *    itself) to its minimum neighbor — stars flatten.
    * At fixpoint the edges are exactly {(v, component_min)}.
    *
    * The per-round fingerprint is the edge count + an order-free
    * wrapping sum of xxhash64(u, v). Canonical edge sets are distinct, so
    * set equality reduces to (count, checksum) equality (collision odds
    * ~2⁻⁶⁴).
    *
    * @return (id, label) with label = component minimum, identical to
    *         [[connectedComponents]] output on any graph.
    */
  def connectedComponentsStar(
      vertices: DataFrame, edges: DataFrame, maxRounds: Int = 40): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
    val (e, _, _) = LoopState.fixpoint(
        canon(edges.select(col("src").as("u"), col("dst").as("v"))), maxRounds,
        "connectedComponentsStar") { e =>
      // large-star over both orientations
      val b = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val minsL = b.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = b.join(minsL, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val e1 = LoopState.cut(canon(large), eager = true)
      // small-star over the canonical (u > v) orientation
      val minsS = e1.groupBy("u").agg(min("v").as("m"))
      canon(e1.join(minsS, "u").select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v"))))
    }(xxhash64(col("u"), col("v")))
    vertices.select(col("id"))
      .join(e.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Dup-cluster resolution over the exact near-dup pair graph (d02's
    * df-capped trigram Jaccard >= 0.5, which subsumes exact duplicates at
    * jaccard 1.0): every document gets its component's min doc_id as
    * cluster_id; `keep` marks the canonical survivor. Singleton docs keep
    * themselves. The oracle recomputes the same graph and closes it with
    * a recursive CTE. */
  val d07 = Q.sql(
    "d07_dup_clusters",
    s"""WITH RECURSIVE words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
      |grams0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |          FROM words, unnest(range(1, greatest(len(w) - 1, 1))) t(i)),
      |grams AS (SELECT doc_id, g FROM grams0
      |          QUALIFY count(*) OVER (PARTITION BY g) <= ${Similarity.d02DfCap}),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY d1, d2),
      |pairs AS (SELECT d1, d2 FROM inter
      |          JOIN sizes s1 ON s1.doc_id = d1
      |          JOIN sizes s2 ON s2.doc_id = d2
      |          WHERE c * 1.0 / (s1.sz + s2.sz - c) >= 0.5),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach AS (SELECT doc_id, doc_id AS label FROM documents
      |          UNION
      |          SELECT e.b, r.label FROM reach r JOIN edges e ON r.doc_id = e.a
      |          WHERE r.label < e.b)
      |SELECT doc_id, min(label) AS cluster_id,
      |  CAST(min(label) = doc_id AS BIGINT) AS keep
      |FROM reach GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // shared persisted stage: reuses d02's candidate pairs when both run
    // in one session (Verify/Bench and any real dedup pipeline do)
    val pairs = Similarity
      .jaccardPairsShared(s, dir, dfCap = Similarity.d02DfCap, minJaccard = 0.5)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val labels = connectedComponents(docs.select(col("doc_id").as("id")), pairs)
    labels.select(
        col("id").as("doc_id"),
        col("label").as("cluster_id"),
        (col("label") === col("id")).cast("long").as("keep"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(d07)
}
