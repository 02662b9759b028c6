package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.GraftFunctions.floatCosine

/** Cluster-scoped semantic dedup — the end-to-end near-duplicate pattern
  * a 100 TB training-data pipeline actually runs, composed from stages
  * that each already exist and scale:
  *
  *   1. [[Embeddings.kmeansAssign]] buckets the corpus into k semantic
  *      clusters (driver state O(k·dim), assignment one codegen'd map);
  *   2. [[Similarity.hyperplaneBuckets]] LSH-buckets every vector, and
  *      candidate pairs are generated by an equality join keyed by
  *      (cluster, table, bucket) — scoring NEVER crosses a k-means
  *      cluster, so the candidate volume is bounded per cluster and the
  *      shuffle key is narrow;
  *   3. candidates are re-checked with the exact native codegen cosine
  *      ([[graft.plans.FloatCosine]]) and kept at sim >= tau;
  *   4. [[Clusters.connectedComponents]] closes the surviving edges into
  *      duplicate components; each vector gets its component's min
  *      vec_id and `keep` marks the canonical survivor.
  *
  * Why cluster-scope instead of LSH alone: at corpus scale a popular LSH
  * bucket can still be huge; intersecting it with a semantic cluster
  * caps each join group at (cluster ∩ bucket), and clusters are the
  * natural dedup scope anyway (near-dups are semantically close, so the
  * recall loss at cluster boundaries is the same trade every production
  * semantic-dedup pipeline makes). Reference shape: the reference's
  * MLlib KMeans (mllib/clustering/KMeans.scala:1) feeding its
  * ConnectedComponents (graphx/lib/ConnectedComponents.scala:1).
  */
object SemanticDedup {

  /** Effective hyperplane count for one cluster: enough planes that the
    * EXPECTED bucket occupancy is ≤ `targetOccupancy`
    * (ceil(log2(size/target)), clamped to [1, maxPlanes]) — so in-cell
    * pair volume is ~target²/2 by CONSTRUCTION at any corpus size,
    * instead of growing with cluster population under a constant plane
    * count (the one watched 100 TB design point from SCALING.md: d09's
    * 3.39× at 10× was exactly this in-cell pair growth). */
  def planesFor(clusterSize: Long, targetOccupancy: Int, maxPlanes: Int): Int = {
    val ratio = math.max(clusterSize.toDouble / targetOccupancy, 1.0)
    math.max(1, math.min(maxPlanes,
      math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** Scored candidate edges: pairs that share BOTH a k-means cluster and
    * at least one LSH-table bucket, re-checked by exact cosine and kept
    * at sim >= tau. `assign` is (vec_id, cluster) — injected so tests
    * can prove cluster scoping structurally (a cross-cluster pair never
    * reaches the scoring join, whatever the assignment says).
    *
    * With `targetOccupancy` > 0, each cluster masks its bucket ids down
    * to its own [[planesFor]] bit count (`nPlanes` becomes the maximum):
    * population-proportional bucketing — big clusters get fine buckets,
    * small ones coarse (higher recall), and the join-group size is
    * bounded by the target everywhere. The per-cluster mask table is k
    * rows, broadcast; masking the low bits of a sign-bucket is itself a
    * valid hyperplane bucket (it simply drops the high planes).
    *
    * @return (d1, d2, cluster, sim), d1 < d2, one row per pair.
    */
  def edges(
      emb: DataFrame, assign: DataFrame,
      nPlanes: Int, nTables: Int, tau: Double,
      targetOccupancy: Int = 0): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    // narrow bucketing rows (vec_id, tbl, bucket, cluster): the self-join
    // shuffles longs + ints only; embeddings are re-joined per side after
    // pair-dedup so each wide vector crosses the shuffle once
    val allBuckets = Similarity.hyperplaneBuckets(base, nPlanes, nTables)
      .join(assign.select(col("vec_id"), col("cluster")), "vec_id")
    val buckets =
      if (targetOccupancy <= 0) allBuckets
      else {
        import emb.sparkSession.implicits._
        // k-row bounded collect (one row per k-means cluster)
        val masks = assign.groupBy("cluster").count().collect()
          .map { r =>
            val p = planesFor(r.getLong(1), targetOccupancy, nPlanes)
            (r.getInt(0), (1L << p) - 1)
          }.toSeq.toDF("cluster", "mask")
        allBuckets.join(broadcast(masks), "cluster")
          .withColumn("bucket", col("bucket").bitwiseAND(col("mask")))
          .drop("mask")
      }
    val a = buckets.as("a")
    val b = buckets.as("b")
    val cand = a.join(b,
        col("a.cluster") === col("b.cluster") && col("a.tbl") === col("b.tbl") &&
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        col("a.cluster").as("cluster"))
      .distinct()
    cand
      .join(base.select(col("vec_id").as("d1"), col("embedding").as("e1")), "d1")
      .join(base.select(col("vec_id").as("d2"), col("embedding").as("e2")), "d2")
      .select(col("d1"), col("d2"), col("cluster"),
        floatCosine(col("e1"), col("e2")).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** Full pipeline: (vec_id, cluster_id, keep) where cluster_id is the
    * duplicate component's min vec_id (d07 semantics over semantic-space
    * edges) and keep = 1 marks the one survivor per component.
    * Singletons keep themselves. */
  def semanticDedup(
      emb: DataFrame, k: Int, iters: Int,
      nPlanes: Int, nTables: Int, tau: Double,
      targetOccupancy: Int = 0): DataFrame = {
    val assign = Embeddings.kmeansAssign(emb, k, iters)
    val e = edges(emb, assign, nPlanes, nTables, tau, targetOccupancy)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val labels = Clusters.connectedComponents(
      emb.select(col("vec_id").as("id")), e)
    labels.select(
      col("id").as("vec_id"),
      col("label").as("cluster_id"),
      (col("label") === col("id")).cast("long").as("keep"))
  }

  /** Registered entry over the embeddings table. The duplicate
    * components derive from float k-means + LSH (engine-local), but
    * the STRUCTURE is certifiable (the d08 claim-flag pattern): the
    * vec_id coverage is exact (every embeddings row, DuckDB-enumerated
    * row-for-row), `label_le_id` asserts every component label is the
    * component's MINIMUM member id (each row's label ≤ its id — the
    * min-label CC contract), and `one_keeper` asserts exactly one
    * surviving representative per component, checked by an independent
    * in-plan per-label keeper count rather than by construction.
    * SemanticDedupSpec keeps pinning planted duplicate groups,
    * survivor sets, and cluster scoping via [[semanticDedup]]. Plane
    * count auto-scales with cluster population (occupancy target 64,
    * up to 16 planes): at sf0.1 (~625 per cluster) that derives the
    * same 4 planes the constant used to pin, and at any larger corpus
    * the in-cell pair volume stays ~64²/2. */
  val d09 = Q.audited(
    "d09_semantic_dedup",
    """SELECT vec_id, TRUE AS label_le_id, TRUE AS one_keeper
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir, audit) =>
    val out = semanticDedup(Tables.embeddings(s, dir),
      k = 8, iters = 5, nPlanes = 16, nTables = 4, tau = 0.99,
      targetOccupancy = 64)
    // the twin is the dedup pipeline's own output, with no independent
    // per-label keeper recount join scoring the structure
    if (!audit) out
    else {
      val keepers = out.groupBy(col("cluster_id"))
        .agg(sum(col("keep")).as("n_keep"))
      out.join(keepers, "cluster_id")
        .select(col("vec_id"),
          (col("cluster_id") <= col("vec_id")).as("label_le_id"),
          (col("n_keep") === 1L).as("one_keeper"))
        .orderBy("vec_id")
    }
  }

  val all: Seq[Q] = Seq(d09)
}
