package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{LoopState, Q, Tables}

/** Graph algorithms over plain edge DataFrames — the GraphX surface of
  * the reference (graphx/src/main/scala/org/apache/spark/graphx/lib/
  * PageRank.scala:1, LabelPropagation.scala:1) re-expressed as
  * driver-coordinated DataFrame iteration, the same pattern as
  * [[Clusters.connectedComponents]] and [[Embeddings.kmeansAssign]]: per
  * iteration one join on the edge key + one aggregate, lineage cut each
  * round, nothing driver-side scaling with graph size (the dangling-mass
  * scalar is a 1-row aggregate).
  */
object Graphs {

  /** Standard damped PageRank with uniform dangling-mass redistribution.
    *
    * The dangling mass (rank parked on sink nodes) rides INSIDE the
    * round's plan as a broadcast 1-row aggregate instead of a separate
    * driver-side action, so each iteration costs exactly one job (the
    * state's lineage cut) — half the per-round job count of collecting
    * the scalar first. Runs [[pageRankUntilConvergenceTracked]]'s loop in
    * its fixed-iteration mode.
    *
    * @param vertices single column `id`
    * @param edges    directed edges `src`,`dst`
    * @return (id, rank); ranks sum to 1 over the vertex set
    */
  def pageRank(vertices: DataFrame, edges: DataFrame,
               iters: Int = 10, damping: Double = 0.85): DataFrame =
    pageRankUntilConvergenceTracked(vertices, edges, tol = 0, maxIter = iters, damping)._1

  /** [[pageRank]] run to CONVERGENCE instead of a fixed round count
    * (reference graphx/src/main/scala/org/apache/spark/graphx/lib/
    * PageRank.scala:135 `runUntilConvergence` — tolerance-driven
    * dynamic iteration; the reference halts when no vertex has a
    * delta > tol left to send, the same early-stop machinery
    * [[pregel]]'s activeMessages==0 check exposes). Each round is
    * [[pageRank]]'s one-job plan plus one bounded max-|Δrank|
    * aggregate (the halt decision needs a driver-side scalar either
    * way); rounds stop once max |Δrank| ≤ tol or `maxIter` is hit.
    * tol ≤ 0 is an EXPLICIT fixed-iteration mode (r15 advisor: "tol=0
    * never converges in floats" is not guaranteed — ranks can hit an
    * exact floating-point fixed point): exactly `maxIter` rounds with the
    * per-round delta aggregate skipped — [[pageRank]] itself. */
  def pageRankUntilConvergence(vertices: DataFrame, edges: DataFrame,
                               tol: Double, maxIter: Int = 100,
                               damping: Double = 0.85): DataFrame =
    pageRankUntilConvergenceTracked(vertices, edges, tol, maxIter, damping)._1

  /** [[pageRankUntilConvergence]] plus the number of rounds actually
    * run — the observable the early-stop spec asserts on. */
  def pageRankUntilConvergenceTracked(vertices: DataFrame, edges: DataFrame,
                                      tol: Double, maxIter: Int = 100,
                                      damping: Double = 0.85): (DataFrame, Int) = {
    val n = vertices.count().toDouble
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val e = LoopState.pin(edges.join(deg, "src"), eager = true)
    var ranks = LoopState.cut(
      vertices.select(col("id"), lit(1.0 / n).as("rank")), eager = true)
    var rounds = 0
    var converged = false
    while (rounds < maxIter && !converged) {
      val contribs = e.join(ranks, e("src") === ranks("id"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum("c").as("c"))
      val dangling = ranks.join(deg, ranks("id") === deg("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
      val next = LoopState.cut(vertices.select(col("id"))
        .join(contribs, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit((1 - damping) / n) +
            lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dm") / n))
            .as("rank")), eager = true)
      if (tol > 0) {
        val maxDelta = next
          .join(ranks.select(col("id"), col("rank").as("prev")), "id")
          .agg(max(abs(col("rank") - col("prev")))).head.getDouble(0)
        converged = maxDelta <= tol
      }
      ranks = next
      rounds += 1
    }
    (ranks, rounds)
  }

  /** One round of vertex-centric message passing (reference
    * graphx/src/main/scala/org/apache/spark/graphx/Graph.scala's
    * aggregateMessages surface): joins vertex state onto both edge
    * endpoints to form TRIPLETS (src, dst, edge attrs, src_attr,
    * dst_attr), lets `sendMsg` turn them into (id, msg) rows, and
    * reduces per vertex with `mergeMsg`. One edge-key join pair + one
    * aggregate — the bounded per-round shape every bespoke loop in this
    * file already uses, factored out for callers with custom messages.
    *
    * @param vertices (id, attr)
    * @param edges    (src, dst, any edge attrs)
    * @param sendMsg  triplets → (id, msg) rows (emit to either/both
    *                 endpoints; emit nothing to stay silent)
    * @param mergeMsg (id, msg) rows → ONE row per id (the commutative/
    *                 associative reduction, e.g.
    *                 `_.groupBy("id").agg(sum("msg").as("msg"))`)
    */
  def aggregateMessages(vertices: DataFrame, edges: DataFrame)(
      sendMsg: DataFrame => DataFrame,
      mergeMsg: DataFrame => DataFrame): DataFrame = {
    val triplets = edges
      .join(vertices.select(col("id").as("src"), col("attr").as("src_attr")), "src")
      .join(vertices.select(col("id").as("dst"), col("attr").as("dst_attr")), "dst")
    mergeMsg(sendMsg(triplets))
  }

  /** Generic Pregel driver (reference graphx/src/main/scala/org/apache/
    * spark/graphx/Pregel.scala:56 — the public vertex-program API every
    * graphx/lib algorithm is written against): driver-iterated rounds of
    * [[aggregateMessages]] followed by the vertex program, until
    * `maxIter` rounds ran or no vertex received a message (the
    * reference's `activeMessages == 0` stop). Each round is one
    * edge-key join pair + one aggregate + one vertex-side left join,
    * lineage cut per round — the loop this file's bespoke algorithms
    * (labelPropagation, shortestPaths, pageRank) each contain, offered
    * as a combinator a user can hand a CUSTOM sendMsg/mergeMsg/vprog.
    *
    * Deltas from the reference, by design: vertex state and messages
    * are DataFrame columns (codegen'd expressions, not closures), and
    * `initialMsg` is optional — when present, `vprog` runs once over
    * every vertex with it before round 1, exactly the reference's
    * bootstrap.
    *
    * @param vertices (id, attr) initial state
    * @param edges    (src, dst, any edge attrs)
    * @param maxIter  round cap
    * @param initialMsg bootstrap message literal (reference semantics)
    * @param sendMsg  triplets → (id, msg); a round's silent vertices
    *                 see a NULL merged message in `vprog`… and when NO
    *                 vertex gets a message the loop stops early
    * @param mergeMsg (id, msg) rows → one (id, msg) row per id
    * @param vprog    (old attr, merged msg | null) → new attr
    * @return (id, attr) after the final round
    */
  def pregel(vertices: DataFrame, edges: DataFrame, maxIter: Int,
             initialMsg: Option[org.apache.spark.sql.Column] = None)(
      sendMsg: DataFrame => DataFrame,
      mergeMsg: DataFrame => DataFrame,
      vprog: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column): DataFrame = {
    val e = LoopState.pin(edges, eager = true)
    var v = LoopState.cut(vertices.select(col("id"),
        initialMsg.fold(col("attr"))(m => vprog(col("attr"), m)).as("attr")), eager = true)
    var halted = false
    var round = 0
    while (round < maxIter && !halted) {
      val merged = LoopState.cut(aggregateMessages(v, e)(sendMsg, mergeMsg)
        .select(col("id"), col("msg")), eager = true)
      if (merged.isEmpty) halted = true // the reference's activeMessages==0 stop
      else {
        v = LoopState.cut(v.join(merged, Seq("id"), "left")
          .select(col("id"), vprog(col("attr"), col("msg")).as("attr")), eager = true)
      }
      round += 1
    }
    v
  }

  // ---------------------------------------------------------------------
  // Structural combinators (reference graphx/src/main/scala/org/apache/
  // spark/graphx/Graph.scala — subgraph, mask, outerJoinVertices,
  // reverse): the graph-algebra surface every graphx/lib algorithm
  // composes with. On the (vertices(id, …), edges(src, dst, …))
  // convention of [[pregel]] each is a thin filter/semi-join/projection
  // — key-equality plans only, nothing driver-side, so they inherit
  // whatever partitioning the caller's graph already has.
  // ---------------------------------------------------------------------

  /** Restrict the graph to vertices satisfying `vpred` and edges
    * satisfying `epred` WHOSE BOTH ENDPOINTS survive the vertex
    * predicate — the reference's subgraph contract (an edge never
    * outlives an endpoint). Two semi-joins against the filtered vertex
    * set; a broadcast when the surviving vertex set is small.
    *
    * NARROWING vs the reference: `epred` here sees EDGE COLUMNS ONLY
    * (src, dst, edge attrs) — the cheap path. The reference's epred is
    * a full triplet predicate that may also reference endpoint
    * attributes; port those to [[subgraphTriplets]]. */
  def subgraph(vertices: DataFrame, edges: DataFrame,
               vpred: org.apache.spark.sql.Column = lit(true),
               epred: org.apache.spark.sql.Column = lit(true)): (DataFrame, DataFrame) = {
    val v = vertices.filter(vpred)
    val ids = v.select(col("id"))
    val e = edges.filter(epred)
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select(edges.columns.map(col): _*)
    (v, e)
  }

  /** [[subgraph]] with the reference's FULL triplet edge predicate
    * (Graph.scala's subgraph epred is EdgeTriplet => Boolean — it may
    * reference BOTH endpoint attributes, e.g. "keep edges whose
    * endpoints share an attribute"; [[subgraph]]'s epred sees edge
    * columns only, a documented narrowing). Here `epred` evaluates
    * over the TRIPLET columns — src, dst, the edge attrs, `src_attr`,
    * `dst_attr` — at the cost of the [[aggregateMessages]] attribute-
    * attachment join pair instead of two semi-joins; joining against
    * the vpred-FILTERED vertex set enforces the same both-endpoints-
    * survive contract.
    *
    * The vertex attribute column is `attrCol` (default "attr", taken
    * from the vertices frame — r15 advisor: the name was hardcoded);
    * the injected triplet columns are `src_attr`/`dst_attr`, and the
    * edges frame must not already carry them (the attachment joins
    * would otherwise produce ambiguous references under epred) — that
    * collision fails loudly here instead. */
  def subgraphTriplets(vertices: DataFrame, edges: DataFrame,
                       vpred: org.apache.spark.sql.Column = lit(true),
                       epred: org.apache.spark.sql.Column = lit(true),
                       attrCol: String = "attr")
      : (DataFrame, DataFrame) = {
    require(vertices.columns.contains(attrCol),
      s"vertices has no '$attrCol' column (columns: ${vertices.columns.mkString(", ")})")
    val clash = edges.columns.toSet.intersect(Set("src_attr", "dst_attr"))
    require(clash.isEmpty,
      s"edges already carries ${clash.mkString(", ")} — rename before subgraphTriplets")
    val v = vertices.filter(vpred)
    val e = edges
      .join(v.select(col("id").as("src"), col(attrCol).as("src_attr")), "src")
      .join(v.select(col("id").as("dst"), col(attrCol).as("dst_attr")), "dst")
      .filter(epred)
      .select(edges.columns.map(col): _*)
    (v, e)
  }

  /** Project this graph onto `other`'s structure: keep THIS graph's
    * vertex/edge attributes, but only for vertices and edges also
    * present in `other` (reference Graph.mask — the idiom for running
    * an algorithm on a subgraph and restricting the answer back). */
  def mask(vertices: DataFrame, edges: DataFrame,
           otherVertices: DataFrame, otherEdges: DataFrame): (DataFrame, DataFrame) = {
    val v = vertices.join(otherVertices.select("id"), Seq("id"), "left_semi")
    val e = edges.join(otherEdges.select("src", "dst"), Seq("src", "dst"), "left_semi")
    (v, e)
  }

  /** Join an external per-vertex table into the vertex attributes,
    * keeping EVERY vertex (reference Graph.outerJoinVertices — the
    * degree/rank-attachment idiom): `other` is (id, attr); vertices
    * missing from it see a NULL other-side column in `f`.
    *
    * @param f (vertex attr, other attr | null) → new attr
    */
  def outerJoinVertices(vertices: DataFrame, other: DataFrame)(
      f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column): DataFrame =
    vertices
      .join(other.select(col("id"), col("attr").as("_other")), Seq("id"), "left")
      .select(col("id"), f(col("attr"), col("_other")).as("attr"))

  /** Per-vertex degree tables (reference GraphOps.degrees /
    * inDegrees / outDegrees — the companions every ranking/orientation
    * algorithm joins in via [[outerJoinVertices]]): one partial-agg
    * groupBy each; vertices with no qualifying edge are absent, the
    * reference contract (outer-join them back for a 0 default). */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("attr"))
  def inDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("attr"))
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("attr"))

  /** Reverse every edge's direction, keeping attributes (reference
    * Graph.reverse). Pure projection — no shuffle. */
  def reverse(edges: DataFrame): DataFrame =
    edges.select(
      (col("dst").as("src") +: col("src").as("dst") +:
        edges.columns.filterNot(c => c == "src" || c == "dst")
          .map(col).toSeq): _*)

  /** [[labelPropagation]] re-expressed THROUGH [[pregel]] — the factoring
    * proof (GraphsSpec asserts bit-identical output to the bespoke loop):
    * undirected edges message both endpoints, the merge is the
    * deterministic frequency argmax (ties to the smallest label), and
    * the vertex program adopts the merged vote. */
  def labelPropagationPregel(vertices: DataFrame, edges: DataFrame,
                             iters: Int = 5): DataFrame =
    pregel(vertices.select(col("id"), col("id").as("attr")), edges, iters)(
      sendMsg = t => t.select(col("dst").as("id"), col("src_attr").as("msg"))
        .union(t.select(col("src").as("id"), col("dst_attr").as("msg"))),
      mergeMsg = m => m.groupBy("id", "msg").agg(count(lit(1)).as("n"))
        .groupBy("id")
        .agg(max(struct(col("n"), (-col("msg")).as("negl"))).as("b"))
        .select(col("id"), (-col("b.negl")).as("msg")),
      vprog = (attr, msg) => coalesce(msg, attr))
      .select(col("id"), col("attr").as("label"))

  /** Synchronous label propagation (reference graphx/lib/
    * LabelPropagation.scala:1): every vertex starts as its own label;
    * each iteration it adopts the most frequent label among its
    * neighbors — the community-detection pass a near-dup pipeline runs
    * over its pair graph to find loosely-knit duplicate families that
    * strict connected components would split or that transitive closure
    * would over-merge.
    *
    * Deterministic where GraphX is arbitrary: frequency ties go to the
    * SMALLEST label (max over struct(count, -label)). Isolated vertices
    * keep their own label. Synchronous LPA can oscillate on bipartite
    * structures, hence the fixed iteration cap instead of a fixpoint
    * test — the GraphX contract. Per iteration: one join on the edge key
    * + two aggregates, all bounded by the edge/vertex count, lineage cut
    * per round.
    *
    * @param vertices single column `id`
    * @param edges    undirected pairs `src`,`dst` (both orientations
    *                 generated internally)
    * @return (id, label)
    */
  def labelPropagation(vertices: DataFrame, edges: DataFrame, iters: Int = 5): DataFrame = {
    val bidir = LoopState.pin(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"))),
      eager = false) // round 1 materializes (r16)
    // the initial labels stay a plan over `vertices` (round 1 reads them
    // once, with the vertex scan's real size estimate); each round's lazy
    // cut is materialized by the next round's first job, or the caller's
    var labels = vertices.select(col("id"), col("id").as("label"))
    for (_ <- 1 to iters) {
      val msgs = bidir.join(labels, bidir("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val votes = msgs.groupBy("id", "label").agg(count(lit(1)).as("n"))
      val best = votes.groupBy("id")
        .agg(max(struct(col("n"), (-col("label")).as("negl"))).as("b"))
        .select(col("id"), (-col("b.negl")).as("label"))
      labels = LoopState.cut(vertices.select(col("id"))
        .join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label")), eager = false)
    }
    labels
  }

  /** The 5 synchronous LPA rounds of [[lp01]] unrolled as chained CTEs:
    * each round is one edge⋈labels join, a (id,label) vote count, and
    * the deterministic argmax (max count, ties to smallest label) —
    * pure integer arithmetic, so DuckDB replays the whole fixed-round
    * iteration exactly over the same d02 pair graph (d07's oracle CTE
    * prefix). */
  private val lp01OracleSql: String = {
    val prefix =
      s"""WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
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
        |l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents)""".stripMargin
    val rounds = (1 to 5).map { i =>
      val p = i - 1
      s""",
        |v$i AS (SELECT e.b AS id, l.label, count(*) AS n
        |        FROM edges e JOIN l$p l ON l.id = e.a GROUP BY e.b, l.label),
        |b$i AS (SELECT id, min(label) AS label FROM (
        |          SELECT id, label, n, max(n) OVER (PARTITION BY id) AS mx FROM v$i) t
        |        WHERE n = mx GROUP BY id),
        |l$i AS (SELECT d.doc_id AS id, coalesce(b$i.label, d.doc_id) AS label
        |        FROM documents d LEFT JOIN b$i ON b$i.id = d.doc_id)""".stripMargin
    }.mkString
    prefix + rounds +
      "\nSELECT id AS doc_id, label AS community FROM l5 ORDER BY doc_id"
  }

  /** Community labels over the d02 near-dup pair graph (the shared
    * persisted candidate stage). FULL value oracle: the fixed-round
    * synchronous iteration with deterministic tie-breaks is integer
    * arithmetic end-to-end, so [[lp01OracleSql]] unrolls it in SQL.
    * GraphsSpec asserts community recovery on a planted barbell graph. */
  val lp01 = Q.sql("lp01_label_propagation", lp01OracleSql) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pairs = Similarity
      .jaccardPairsShared(s, dir, dfCap = Similarity.d02DfCap, minJaccard = 0.5)
      .select(col("d1").as("src"), col("d2").as("dst"))
    labelPropagation(docs.select(col("doc_id").as("id")), pairs, iters = 5)
      .select(col("id").as("doc_id"), col("label").as("community"))
      .orderBy("doc_id")
  }

  /** Per-vertex triangle counts (reference graphx/lib/TriangleCount.scala:1)
    * by DEGREE-ORIENTED wedge enumeration, the shape that survives scale:
    * every undirected edge is oriented from its (degree, id)-smaller
    * endpoint toward the larger, wedges are built only between
    * out-neighbors, and a wedge closes iff the oriented closing edge
    * exists. Orienting by degree bounds each vertex's out-degree by
    * O(√|E|) regardless of how skewed the raw degree distribution is —
    * a celebrity node with 10M followers contributes no wedges from its
    * own fanout, so the wedge join never explodes on hubs (the naive
    * id-ordered orientation does). Every step is a key-equality join or
    * aggregate; nothing is driver-side.
    *
    * Orientation changes only the enumeration order, never the triangle
    * set, so an id-oriented SQL oracle counts the same triangles.
    *
    * @param edges undirected `src`,`dst` (either orientation, duplicates
    *              and self-loops tolerated)
    * @return (id, triangles) for vertices in at least one triangle
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val keyed = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    // total order on vertices: (degree, id) — packed as a comparable
    // struct so ties between equal-degree vertices stay deterministic
    val ku = struct(col("du").as("d"), col("u").as("i"))
    val kv = struct(col("dv").as("d"), col("v").as("i"))
    val oriented = keyed.select(
      when(ku < kv, col("u")).otherwise(col("v")).as("src"),
      when(ku < kv, col("v")).otherwise(col("u")).as("dst"),
      when(ku < kv, kv).otherwise(ku).as("dk"))
    // wedges fan out from each oriented source over its (bounded)
    // out-neighborhood; dk-ordering means the closing edge, if present,
    // is oriented exactly (b → c)
    val wedges = oriented.as("x")
      .join(oriented.as("y"), col("x.src") === col("y.src") && col("x.dk") < col("y.dk"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tri = wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
  }

  /** Triangle counts over the co-purchase graph: parts are connected when
    * they appear in the same order at least twice (the support threshold
    * keeps the graph at real co-occurrence instead of one dense clique
    * per order). Pair generation happens IN-ROW: items collect per order
    * (bounded by order size) and the ordered pairs are expanded with
    * array HOFs before one support aggregate — one shuffle on orderkey,
    * one on the pair, no self-join of the item stream (which would
    * shuffle lineitem twice and join it against itself). */
  /** Co-purchase edges shared by tc01/gp01: parts sharing >= 2 orders,
    * ordered pairs (ps[i], ps[j]) for i < j expanded IN-ROW with array
    * HOFs — one shuffle on orderkey + one on the pair, no self-join of
    * the item stream. */
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val itemsByOrder = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set("l_partkey")).as("ps"))
    val pairsPerOrder = flatten(transform(col("ps"), (x, i) =>
      transform(slice(col("ps"), i + lit(2), size(col("ps"))),
        y => struct(x.as("src"), y.as("dst")))))
    itemsByOrder
      .select(explode(pairsPerOrder).as("pr"))
      .groupBy(col("pr.src").as("src"), col("pr.dst").as("dst"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .select("src", "dst")
  }

  val tc01 = Q.sql(
    "tc01_triangle_count",
    """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (SELECT a.p AS u, b.p AS v
      |          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |          GROUP BY u, v HAVING count(*) >= 2),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |        FROM pairs e1 JOIN pairs e2 ON e2.u = e1.v
      |        JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
      |verts AS (SELECT a AS partkey FROM tri
      |          UNION ALL SELECT b FROM tri
      |          UNION ALL SELECT c FROM tri)
      |SELECT partkey, count(*) AS triangles
      |FROM verts GROUP BY partkey ORDER BY partkey""".stripMargin) { (s, dir) =>
    triangleCounts(copurchaseEdges(s, dir))
      .select(col("id").as("partkey"), col("triangles"))
      .orderBy("partkey")
  }

  /** Landmark shortest paths (reference graphx/lib/ShortestPaths.scala:1):
    * unweighted min-hop distance from every vertex to each landmark by
    * parallel Bellman-Ford relaxation — per round, one join on the edge
    * key + one (id, landmark) min-aggregate, lineage cut per round.
    * Relaxing only the current minima is sufficient (a shortest ≤ h+1-hop
    * path extends a shortest ≤ h-hop prefix), so state stays at one row
    * per reached (vertex, landmark) — never a path enumeration. `maxHops`
    * bounds the rounds the way GraphX's Pregel iterations do; vertices
    * farther than that (or disconnected) simply don't appear.
    *
    * @param edges     undirected `src`,`dst` (both orientations generated)
    * @param landmarks single column `lm`
    * @return (id, lm, d) — min hops from id to lm, d <= maxHops
    */
  def shortestPaths(edges: DataFrame, landmarks: DataFrame, maxHops: Int): DataFrame = {
    val bidir = LoopState.pin(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"))),
      eager = false) // round 1 materializes (r16)
    // early exit on the (row count, Σd) fingerprint: relaxation only ever
    // ADDS pairs or DECREASES a d, so an unchanged pair is a sound
    // fixpoint — most graphs converge well before the hop cap, and each
    // skipped round saves a join+aggregate+checkpoint pass
    LoopState.fixpoint(landmarks.select(col("lm").as("id"), col("lm"), lit(0L).as("d")),
        maxHops, "shortestPaths") { dist =>
      val relaxed = bidir.join(dist, bidir("src") === dist("id"))
        .select(col("dst").as("id"), col("lm"), (col("d") + 1L).as("d"))
      dist.unionByName(relaxed).groupBy("id", "lm").agg(min("d").as("d"))
    }(col("d"))._1
  }

  /** Hop distances from the three smallest co-purchase vertices — the
    * landmark-distance features a graph-aware ranker consumes. The
    * oracle is DuckDB's capped recursive CTE over the same edge set:
    * min over all ≤8-hop paths must equal what relaxation computes. */
  val gp01 = Q.sql(
    "gp01_shortest_paths",
    """WITH RECURSIVE
      |items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (SELECT a.p AS u, b.p AS v
      |          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |          GROUP BY u, v HAVING count(*) >= 2),
      |bidir AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      |landmarks AS (SELECT DISTINCT u AS lm FROM bidir ORDER BY lm LIMIT 3),
      |r(id, lm, d) AS (
      |  SELECT lm, lm, 0 FROM landmarks
      |  UNION
      |  SELECT e.v, r.lm, r.d + 1 FROM r JOIN bidir e ON e.u = r.id WHERE r.d < 8)
      |SELECT id AS partkey, lm AS landmark, CAST(min(d) AS BIGINT) AS dist
      |FROM r GROUP BY id, lm ORDER BY partkey, landmark""".stripMargin) { (s, dir) =>
    val copurchase = LoopState.pin(copurchaseEdges(s, dir), eager = true)
    val landmarks = copurchase
      .select(col("src").as("lm")).union(copurchase.select(col("dst").as("lm")))
      .distinct().orderBy("lm").limit(3)
    shortestPaths(copurchase, landmarks, maxHops = 8)
      .select(col("id").as("partkey"), col("lm").as("landmark"), col("d").as("dist"))
      .orderBy("partkey", "landmark")
  }

  /** Directed min-label propagation to fixpoint, in BOTH directions at
    * once: fmin(v) = min id with a directed path to v (along
    * `src`→`dst`), bmin(v) = min id reachable from v, v included in
    * both. Per round the edges and their reversal relax one loop state
    * (id, fmin, bmin), and both labels take a pointer-jumping shortcut
    * (label ← min(label, label(label)) — sound because the composition of
    * two reaching paths is a reaching path). One checkpoint + one
    * convergence action per round covers both directions, so the driver
    * pays max(d_f, d_b) round-trips instead of d_f + d_b — at any scale,
    * half the barriers. Labels only DECREASE, so an unchanged
    * (Σfmin, Σbmin) over a fixed vertex set is a sound fixpoint — the
    * fingerprint pass buys the early exit. Rounds are capped like
    * GraphX's Pregel iterations. */
  private def minPropagateBoth(vertices: DataFrame, edges: DataFrame, maxIter: Int,
      smallState: Boolean = false): DataFrame = {
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    // r16: when the DRIVER already knows the remaining vertex set is
    // small (it counts it every outer round), say so — the label state
    // side of the message joins broadcasts instead of shuffling, which
    // removes two sort-merge exchanges per relaxation (guide §3.1: the
    // caller knows a size the optimizer only estimates). Large graphs
    // keep the pure shuffle path.
    def st(state: DataFrame): DataFrame = if (smallState) broadcast(state) else state
    def relax(state: DataFrame): DataFrame = {
      val fMsgs = edges.join(st(state.select(col("id"), col("fmin"))), edges("src") === col("id"))
        .select(col("dst").as("id"), col("fmin"), lit(Long.MaxValue).as("bmin"))
      val bMsgs = rev.join(st(state.select(col("id"), col("bmin"))), rev("src") === col("id"))
        .select(col("dst").as("id"), lit(Long.MaxValue).as("fmin"), col("bmin"))
      state.unionByName(fMsgs).unionByName(bMsgs)
        .groupBy("id").agg(min("fmin").as("fmin"), min("bmin").as("bmin"))
    }
    LoopState.fixpoint(
        vertices.select(col("id"), col("id").as("fmin"), col("id").as("bmin")),
        maxIter, "minPropagateBoth") { m =>
      // r16: TWO relaxations per round in one plan — the tail rounds of
      // this loop are relaxation-limited (a label must physically travel
      // the remaining cycle edges; the pointer jump already covers the
      // chain-limited part), so folding a second edge pass into the same
      // checkpointed round halves the number of driver barriers the
      // longest cycle needs. Fixpoint and labels unchanged (min is
      // idempotent/associative; R∘R's fixpoints are R's — labels are
      // monotone non-increasing).
      val m1 = relax(relax(m))
      // (r17 note: broadcasting the yf/yb lookup sides under smallState
      // was measured NEUTRAL here (8.37 vs 8.34 s) and rejected: m1 is an
      // unmaterialized plan, so each broadcast build re-evaluates the
      // relax chain, trading two exchanges for two extra computations.)
      // (r16 note: a SECOND in-plan pointer jump was measured here and
      // REVERTED — it did not cut the round count on this graph (the
      // tail rounds are relaxation-limited, not chain-limited) while the
      // two extra joins raised per-round cost ~1.6×.)
      m1.as("x")
        .join(m1.select(col("id").as("fid"), col("fmin").as("ff")).as("yf"),
          col("x.fmin") === col("yf.fid"))
        .join(m1.select(col("id").as("bid"), col("bmin").as("bb")).as("yb"),
          col("x.bmin") === col("yb.bid"))
        .select(col("x.id").as("id"),
          least(col("x.fmin"), col("yf.ff")).as("fmin"),
          least(col("x.bmin"), col("yb.bb")).as("bmin"))
    }(col("fmin"), col("bmin"))._1
  }

  /** Strongly connected components (reference graphx/lib/
    * StronglyConnectedComponents.scala:1) over a directed edge set,
    * re-expressed as driver-iterated double min-propagation:
    *
    * per outer round, compute f(v) = min id REACHING v (forward
    * propagation) and b(v) = min id REACHABLE FROM v (propagation along
    * reversed edges) over the still-unassigned subgraph. f(v) = b(v) = m
    * proves mutual reachability with m (m →* v and v →* m), so v joins
    * SCC(m); in particular the subgraph's minimum id and its whole SCC
    * finalize every round, as do all locally-minimal SCCs and the
    * singleton sources/sinks of the condensation DAG, so each round
    * strips a full layer off the condensation. Assigned vertices leave
    * the graph and the remainder iterates.
    *
    * Like the reference (which runs its forward/backward phases under
    * `numIter` Pregel caps), rounds are CAPPED, not open-ended — a
    * pathological n-vertex path condensation needs O(n) outer rounds;
    * real link/citation graphs have shallow condensations and converge
    * in a handful. Non-convergence at the caps logs a warning and
    * returns only the proven assignments (never a guess).
    *
    * State per round: one (id, label) row per unassigned vertex — no
    * reachability sets, no path enumeration; everything is key-equality
    * joins + bounded aggregates.
    *
    * @param vertices single column `id`
    * @param edges    directed `src`,`dst`
    * @return (id, scc) — scc = min vertex id of the component
    */
  def stronglyConnectedComponents(vertices: DataFrame, edges: DataFrame,
      maxOuter: Int = 30, maxPropagate: Int = 30): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    var remaining = LoopState.cut(vertices.select("id"), eager = false) // count below materializes (r16)
    var nRemaining = remaining.count()
    var assigned = Seq.empty[(Long, Long)].toDF("id", "scc")
    var outer = 0
    while (nRemaining > 0 && outer < maxOuter) {
      outer += 1
      // TRIM (the Trim of FW-BW-Trim): a vertex with no in-edge or no
      // out-edge in the remaining subgraph cannot sit on a cycle — it is
      // its own SCC. Peeling to fixpoint eats the condensation's DAG
      // tails, leaving the expensive double propagation to run only on
      // the 2-core where cycles can live — without it, every DAG layer
      // costs two full propagate fixpoints.
      //
      // r16: the peel iterates on the EDGE SET ALONE — e ← e restricted
      // to src ∈ dsts(e) ∧ dst ∈ srcs(e) — one checkpoint + one cheap
      // count per layer (the former shape also checkpointed and counted
      // a per-layer vertex frame and stacked per-layer anti-join peel
      // plans: 2 more jobs a layer for bookkeeping the fixpoint makes
      // free). At the fixpoint srcs(e) = dsts(e) = the 2-core, so ALL
      // peeled singletons fall out of one anti-join afterwards. Same
      // fixpoint, same assignments — the subgraph where every vertex
      // keeps in- and out-support is layer-order-independent.
      //
      // r17: TWO peels per round in one plan (the double-relax argument
      // applied to trim): the peel operator P(e) = e restricted to
      // src ∈ dsts(e) ∧ dst ∈ srcs(e) is monotone-decreasing and P∘P has
      // exactly P's fixpoints, so the fixpoint — and therefore every
      // assignment — is unchanged while the driver pays ⌈layers/2⌉
      // checkpoint+count barriers instead of one per layer. At any
      // scale the trim depth is the condensation's tail length, so the
      // barrier count is the 100 TB quantity here (sf0.1: 7 → 4 rounds).
      // The edge count is a sound fingerprint: P only ever removes edges.
      def peel(ed: DataFrame): DataFrame = ed
        .join(ed.select(col("dst").as("src")).distinct(), Seq("src"), "left_semi")
        .join(ed.select(col("src").as("dst")).distinct(), Seq("dst"), "left_semi")
      val (e, _, _) = LoopState.fixpoint(edges
          .join(remaining.select(col("id").as("src")), "src")
          .join(remaining.select(col("id").as("dst")), "dst")
          .select("src", "dst"), Int.MaxValue, "scc trim")(ed => peel(peel(ed)))()
      // 2-core vertex set (= srcs(e) at the fixpoint); everything else
      // still remaining is a singleton SCC, assigned in one batch
      val core = LoopState.cut(e.select(col("src").as("id")).distinct(), eager = false)
      val nCore = core.count()
      if (nCore < nRemaining) {
        assigned = LoopState.cut(assigned.unionByName(
          remaining.join(core, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("scc"))), eager = true)
        remaining = core
        nRemaining = nCore
      }
      if (nRemaining > 0) {
        // 400k-vertex threshold (r17, r16 advisor): each propagate round
        // builds FOUR broadcasts of the (id, fmin, bmin) state (2 per
        // relax × 2 relaxations), dozens per fixpoint, all collected on
        // the driver — so the bound is sized like a broadcast-join
        // threshold (~10 MB of 24-byte rows), not "whatever fits".
        // Beyond it the pure shuffle path stands.
        val lab = minPropagateBoth(remaining, e, maxPropagate,
          smallState = nRemaining <= 400000L)
        assigned = LoopState.cut(assigned.unionByName(
          lab.filter(col("fmin") === col("bmin"))
            .select(col("id"), col("fmin").as("scc"))), eager = true)
        remaining = LoopState.cut(
          lab.filter(col("fmin") =!= col("bmin")).select("id"), eager = true)
        nRemaining = remaining.count()
      }
    }
    val exhausted = nRemaining == 0
    if (!exhausted)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"stronglyConnectedComponents hit the $maxOuter-round cap with vertices unassigned")
    assigned
  }

  /** The directed part-succession graph scc01 runs on: within each
    * order, the (previous part → next part) pointer under the
    * (l_linenumber, l_partkey) sort — the part key breaks linenumber
    * ties, which the synthetic data DOES contain, identically in both
    * engines — kept only between parts of the same `% 8` class. Pairs are built
    * IN-ROW (sort per order, zip with its own tail) — one shuffle on
    * orderkey, never a lineitem self-join. The class restriction shards
    * the otherwise near-complete graph into 8 bounded subgraphs, which
    * keeps the oracle's transitive closure small while leaving eight
    * genuinely nontrivial SCCs plus hundreds of singleton tails at
    * sf0.01. */
  private def successionEdges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val seqs = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey")))).as("ls"))
    val pairs = zip_with(
      col("ls"), slice(col("ls"), lit(2), greatest(size(col("ls")) - 1, lit(0))),
      (x, y) => struct(x.getField("l_partkey").as("src"), y.getField("l_partkey").as("dst")))
    seqs.select(explode(pairs).as("pr"))
      .select(col("pr.src").as("src"), col("pr.dst").as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst") &&
        col("src") % 8 === col("dst") % 8)
      .distinct()
  }

  /** SCCs of the part-succession graph. The oracle proves the iterative
    * assignment equals ground-truth mutual reachability: DuckDB builds
    * the (bounded, see [[successionEdges]]) transitive closure with a
    * recursive CTE and labels each vertex with the min id it mutually
    * reaches. */
  val scc01 = Q.sql(
    "scc01_strong_components",
    """WITH RECURSIVE
      |seq AS (SELECT l_orderkey, l_partkey AS src,
      |               lead(l_partkey) OVER (PARTITION BY l_orderkey
      |                                     ORDER BY l_linenumber, l_partkey) AS dst
      |        FROM lineitem),
      |e AS (SELECT DISTINCT src, dst FROM seq
      |      WHERE dst IS NOT NULL AND src <> dst AND src % 8 = dst % 8),
      |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION SELECT dst FROM e)),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      |mutual AS (SELECT a.src AS v, a.dst AS u
      |           FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
      |scc AS (SELECT verts.v, least(verts.v, coalesce(min(m.u), verts.v)) AS scc_id
      |        FROM verts LEFT JOIN mutual m ON m.v = verts.v
      |        GROUP BY verts.v)
      |SELECT v AS partkey, scc_id FROM scc ORDER BY partkey""".stripMargin) { (s, dir) =>
    val e = LoopState.pin(successionEdges(s, dir), eager = true)
    val verts = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
    stronglyConnectedComponents(verts, e)
      .select(col("id").as("partkey"), col("scc").as("scc_id"))
      .orderBy("partkey")
  }

  /** Power iteration clustering (reference mllib/src/main/scala/org/
    * apache/spark/mllib/clustering/PowerIterationClustering.scala:1 —
    * Lin & Cohen, ICML'10): cluster the vertices of an affinity graph
    * by power-iterating the row-normalized affinity, v ← D⁻¹W·v (with
    * L1 re-normalization each round, PageRank's broadcast-1-row
    * pattern), then segmenting the resulting 1-D embedding into k
    * groups. Spectral clustering without ever materializing a matrix:
    * per round one edge join + one vertex aggregate, lineage cut, and
    * the pseudo-eigenvector converges to a piecewise-constant embedding
    * whose plateaus ARE the clusters.
    *
    * Segmentation: the reference runs k-means on the scalar embedding;
    * 1-D k-means is exactly "split at the k−1 largest gaps" (a classic
    * equivalence for well-separated plateaus), which needs only a rank
    * window over the VERTEX set and a top-(k−1) gap selection — fully
    * distributed and deterministic, no iterative refinement.
    *
    * @param edges undirected weighted `src`,`dst`,`w` (one orientation;
    *              both are generated internally)
    * @return (id, cluster) — cluster ids are 0..k−1 in ascending
    *         embedding order
    */
  def powerIterationClustering(edges: DataFrame, k: Int, iters: Int = 12): DataFrame = {
    val (ranked, cutRanks, _) = picRanked(edges, k, iters)
    val clusterExpr = cutRanks.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (cut, i)) => when(col("rn") >= cut, lit(i + 1)).otherwise(acc)
    }
    ranked.select(col("id"), clusterExpr.as("cluster"))
  }

  /** The shared interior of [[powerIterationClustering]]: the ranked
    * 1-D embedding with adjacent gaps, plus the selected cut ranks and
    * the smallest selected cut gap (the certificate bound [[pic01]]
    * asserts per row). */
  private def picRanked(edges: DataFrame, k: Int, iters: Int)
      : (DataFrame, Array[Int], Double) = {
    val bidir = LoopState.pin(edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"), col("w").cast("double").as("w"))),
      eager = true)
    val deg = bidir.groupBy("src").agg(sum("w").as("deg"))
    val norm = LoopState.pin(bidir.join(deg, "src")
      .select(col("src"), col("dst"), (col("w") / col("deg")).as("a")),
      eager = false) // round 1 materializes (r16)
    // reference init: degree / total-degree (already L1-normalized)
    val totalDeg = deg.agg(sum("deg").as("t"))
    var v = LoopState.cut(deg.crossJoin(broadcast(totalDeg))
      .select(col("src").as("id"), (col("deg") / col("t")).as("v")),
      eager = false) // round 1 materializes (r16)
    // (r16 note: materializing the matvec result once per round via a
    // lazy localCheckpoint — so the broadcast L1 subtree and the main
    // stream share it — was measured and REVERTED: the bounded
    // join+aggregate is cheaper to compute twice than to store/reload,
    // 4.5 s → 5.4 s at sf0.1.)
    for (_ <- 1 to iters) {
      val next = norm.join(v, norm("dst") === v("id"))
        .select(col("src").as("id"), (col("a") * col("v")).as("c"))
        .groupBy("id").agg(sum("c").as("v0"))
      val l1 = next.agg(sum(abs(col("v0"))).as("l1"))
      v = LoopState.cut(next.crossJoin(broadcast(l1))
        .select(col("id"), (col("v0") / col("l1")).as("v")), eager = true)
    }
    // split the sorted embedding at the k−1 largest adjacent gaps
    // (id-asc tiebreaks keep every step deterministic). Numbering via
    // q54's range-partitioned zipWithIndex — no single-partition Window
    // ever sees the vertex set; the lag becomes an equi-join on rank.
    val idx = Relational.withGlobalIndex(v.select(col("id"), col("v")), "v", "id")
      .select(col("id"), col("v"), (col("idx") + 1).cast("int").as("rn"))
    val prev = idx.select((col("rn") + 1).as("rn"), col("v").as("v_prev"))
    val ranked = LoopState.pin(idx.join(prev, Seq("rn"), "left")
      .select(col("id"), col("v"), col("rn"), (col("v") - col("v_prev")).as("gap")),
      eager = false) // the bounded cuts collect materializes (r16)
    val cuts = ranked.filter(col("gap").isNotNull)
      .orderBy(col("gap").desc, col("rn")).limit(k - 1)
      .select(col("rn").as("cut"), col("gap"))
      .orderBy("cut").collect() // k−1 bounded rows
    val cutRanks = cuts.map(_.getInt(0))
    val minCutGap =
      if (cuts.isEmpty) Double.NegativeInfinity else cuts.map(_.getDouble(1)).min
    (ranked, cutRanks, minCutGap)
  }

  /** PIC over the weighted co-purchase graph (support as affinity).
    * The pseudo-eigenvector is engine-local float iteration, but two
    * surfaces are certifiable (the d08/gm01 claim-flag pattern): the
    * VERTEX SET is exact integer arithmetic — DuckDB re-derives the
    * co-purchase pairs (distinct partkeys per order, support ≥ 2) and
    * their vertex union row-for-row — and the SEGMENTATION is
    * certified optimal per row: `gap_cut_optimal` asserts every
    * within-cluster adjacent embedding gap ≤ the smallest selected cut
    * gap, which is exactly the statement that the k−1 cuts are the
    * k−1 largest gaps (1-D k-means optimality for plateaued
    * embeddings). DuckDB asserts the claim as literal TRUE per vertex.
    * Planted two-clique recovery and determinism stay pinned in
    * GraphsSpec; embedding ranks come from q54's range-partitioned
    * numbering (withGlobalIndex) — no stage funnels the vertex set
    * through one task. */
  val pic01 = Q.sql(
    "pic01_power_iteration",
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM op a JOIN op b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |w AS (SELECT src, dst FROM pairs GROUP BY src, dst HAVING count(*) >= 2),
      |v AS (SELECT src AS id FROM w UNION SELECT dst FROM w)
      |SELECT id AS partkey, TRUE AS gap_cut_optimal
      |FROM v ORDER BY partkey""".stripMargin) { (s, dir) =>
    val weighted = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set("l_partkey")).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("src"), y.as("dst")))))).as("pr"))
      .groupBy(col("pr.src").as("src"), col("pr.dst").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
      .filter(col("w") >= 2)
    val (ranked, cutRanks, minCutGap) = picRanked(weighted, k = 8, iters = 12)
    val atCut =
      if (cutRanks.isEmpty) lit(false) else col("rn").isin(cutRanks.toSeq: _*)
    ranked
      .select(col("id").as("partkey"),
        (col("gap").isNull || atCut || col("gap") <= lit(minCutGap))
          .as("gap_cut_optimal"))
      .orderBy("partkey")
  }

  val all: Seq[Q] = Seq(lp01, tc01, gp01, scc01, pic01)
}
