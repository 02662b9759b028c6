package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.GraftFunctions.exactSum

/** The reference's distributed-matrix surface (mllib/src/main/scala/org/
  * apache/spark/mllib/linalg/distributed/RowMatrix.scala `multiply`,
  * BlockMatrix.scala:336 `multiply`, CoordinateMatrix.scala) re-expressed
  * Spark-first. Three shapes, by density and operand size:
  *
  *  - tall-skinny × small dense (RowMatrix.multiply): B broadcasts as
  *    plan literals and the product is a MAP-ONLY per-row fold — no
  *    shuffle at all, the shape ANN/PCA projection pipelines use.
  *  - sparse × sparse (CoordinateMatrix): entries join on the inner
  *    index + partial-agg groupBy on (i, j) — Catalyst's join/agg
  *    machinery IS the SUMMA pattern for sparse data.
  *  - dense blocked (BlockMatrix.multiply): fixed-size dense blocks
  *    join on the inner block index, a per-pair sequential gemm kernel
  *    (the genuinely imperative part, mapGroups like r02's solver), and
  *    an element-wise block reduce — amortizing per-entry overhead by
  *    blockSize² exactly as the reference's Breeze `gemm` per block
  *    pair.
  */
object Matrices {

  /** Deterministic dim×m projection matrix used by the registered
    * entries: B(k, j) = ((k·17 + j·29) mod 7 − 3) / 10, k 0-based —
    * exact in IEEE on both engines (small integer / 10.0). */
  def projB(dim: Int, m: Int): Array[Array[Double]] =
    Array.tabulate(dim, m)((k, j) => ((k * 17 + j * 29) % 7 - 3) / 10.0)

  /** RowMatrix.multiply(B) parity: rows stay rows, B rides in the plan,
    * C's row i is a per-row SEQUENTIAL fold over k — bit-reproducible
    * against DuckDB's list_sum(list_transform(...)) because both
    * engines promote the float to double, multiply by the identical
    * double constant, and accumulate in array order (d10's oracle
    * discipline). Map-only: the 100 TB plan is a parquet scan plus
    * projection, nothing else. */
  def rowMultiply(emb: DataFrame, b: Array[Array[Double]]): DataFrame = {
    val m = b(0).length
    val cols = (0 until m).map { j =>
      val bj: Seq[Double] = b.map(_(j)).toSeq
      aggregate(
        zip_with(col("embedding"), typedlit(bj), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, p) => acc + p).as(s"c$j")
    }
    emb.select(col("vec_id") +: cols: _*)
  }

  /** IndexedRowMatrix adjudication (reference linalg/distributed/
    * IndexedRowMatrix.scala:1): the repo's id-keyed (vec_id, embedding)
    * DataFrame IS the indexed-row layout, so the reference surface maps
    * member-for-member — `multiply(B)` = [[rowMultiply]] (map-only,
    * indices ride along), `toRowMatrix()` = dropping the id column,
    * `numRows`/`numCols` = count()/array length, and the conversions to
    * the other two distributed layouts go through THIS function:
    * `toCoordinateMatrix()` = its output directly, `toBlockMatrix()` =
    * its output fed to [[blockMultiply]]'s blockify (which is how the
    * reference converts too — IndexedRowMatrix.toBlockMatrix walks
    * per-entry). Explicit zeros are dropped, the sparse-entry contract. */
  def toCoordinateEntries(rows: DataFrame, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame =
    rows.select(col(idCol).cast("long").as("i"),
        posexplode(col(vecCol)).as(Seq("k", "v")))
      .filter(col("v") =!= 0.0)
      .select(col("i"), col("k").cast("long").as("k"),
        col("v").cast("double").as("v"))

  /** CoordinateMatrix multiply: sparse entries (i, k, v) ⋈ (k, j, v) on
    * the inner index, partial-agg sum on (i, j). Shuffle carries only
    * present products; skew on a hot inner index is AQE's skew-join
    * case. The sparse path of the operator family — used as the
    * independent check that the blocked kernel below is correct. */
  def coordinateMultiply(a: DataFrame, b: DataFrame): DataFrame = {
    val aE = a.select(col("i"), col("k"), col("v").cast("double").as("av"))
    val bE = b.select(col("k"), col("j"), col("v").cast("double").as("bv"))
    aE.join(bE, "k")
      .groupBy("i", "j")
      .agg(sum(col("av") * col("bv")).as("v"))
  }

  /** BlockMatrix.multiply parity (BlockMatrix.scala:336): entries fold
    * into dense bs×bs blocks (zero-padded at the ragged edges), blocks
    * join on the inner block index kb, each joined pair runs one local
    * row-major gemm (the genuinely sequential kernel → mapGroups), and
    * product blocks reduce element-wise per output block. Per-entry
    * overhead amortizes by bs²; the shuffle moves O(nBlocks·mBlocks·
    * kBlocks) fixed-size arrays, never single entries — the reference's
    * grid-partitioned Breeze-gemm shape on DataFrames.
    *
    * Indices must be ≥ 0. Returns entries (i, j, v) with explicit
    * zeros dropped.
    */
  def blockMultiply(a: DataFrame, b: DataFrame, bs: Int): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    require(bs > 0)

    def blockify(m: DataFrame, rowCol: String, colCol: String): DataFrame =
      m.select(
        call_function("div", col(rowCol), lit(bs.toLong)).as("rb"),
        call_function("div", col(colCol), lit(bs.toLong)).as("cb"),
        (col(rowCol) % bs).cast("int").as("lr"),
        (col(colCol) % bs).cast("int").as("lc"),
        col("v").cast("double").as("v"))
        .as[(Long, Long, Int, Int, Double)]
        .groupByKey(t => (t._1, t._2))
        .mapGroups { (key, rows) =>
          val arr = new Array[Double](bs * bs)
          rows.foreach(t => arr(t._3 * bs + t._4) += t._5)
          (key._1, key._2, arr.toSeq)
        }
        .toDF("rb", "cb", "block")

    val aB = blockify(a, "i", "k").withColumnsRenamed(
      Map("rb" -> "ib", "cb" -> "kb", "block" -> "ablk"))
    val bB = blockify(b, "k", "j").withColumnsRenamed(
      Map("rb" -> "kb", "cb" -> "jb", "block" -> "bblk"))

    val products = aB.join(bB, "kb")
      .select(col("ib"), col("jb"), col("ablk"), col("bblk"))
      .as[(Long, Long, Seq[Double], Seq[Double])]
      .map { case (ib, jb, ablk, bblk) =>
        val av = ablk.toArray; val bv = bblk.toArray
        val out = new Array[Double](bs * bs)
        var x = 0
        while (x < bs) {
          var k = 0
          while (k < bs) {
            val axk = av(x * bs + k)
            if (axk != 0.0) {
              var y = 0
              while (y < bs) { out(x * bs + y) += axk * bv(k * bs + y); y += 1 }
            }
            k += 1
          }
          x += 1
        }
        (ib, jb, out.toSeq)
      }

    products
      .groupByKey(t => (t._1, t._2))
      .mapGroups { (key, rows) =>
        val acc = new Array[Double](bs * bs)
        rows.foreach { t =>
          var p = 0
          val blk = t._3
          while (p < acc.length) { acc(p) += blk(p); p += 1 }
        }
        (key._1, key._2, acc.toSeq)
      }
      .toDF("ib", "jb", "cblk")
      .select(col("ib"), col("jb"),
        posexplode(col("cblk")).as(Seq("p", "v")))
      .where(col("v") =!= 0.0)
      .select(
        (col("ib") * bs + call_function("div", col("p"), lit(bs.toLong))).as("i"),
        (col("jb") * bs + col("p") % bs).as("j"),
        col("v"))
  }

  /** Registered pass: project the full embedding table through the
    * deterministic 64×16 B — RowMatrix.multiply's map-only broadcast
    * shape, C = A·B emitted as 16 columns per row. FULL DuckDB value
    * oracle: the per-row folds are bit-identical (d10's rule), rounded
    * 6 dp like every aggregate-free float surface. MatricesSpec proves
    * the blocked and coordinate paths compute the same product. */
  val bm01 = Q.sql(
    "bm01_row_matmul",
    s"""SELECT vec_id,
       |${(0 until 16).map(j =>
          s"  round(list_sum(list_transform(range(1, 65), k -> " +
            s"embedding[k] * ((((k - 1) * 17 + $j * 29) % 7 - 3) / 10.0))), 6) AS c$j")
          .mkString(",\n")}
       |FROM embeddings
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val b = projB(64, 16)
    val raw = rowMultiply(Tables.embeddings(s, dir), b)
    raw.select(col("vec_id") +:
      (0 until 16).map(j => round(col(s"c$j"), 6).as(s"c$j")): _*)
      .orderBy("vec_id")
  }

  /** Upper-triangle product sums of the array<double> column `x` — the
    * one kernel of RowMatrix.computeGramianMatrix (RowMatrix.scala:111)
    * behind PCA's covariance and Gramian, cs01 and implicit ALS. Each
    * row expands to its n(n+1)/2 products x_i·x_j, i ≤ j, n = size(x),
    * through nested posexplode (the in-row form of MLlib's `dspr` into a
    * treeAggregate buffer: no self-join, no shuffle of the expansion),
    * and one partial-aggregated groupBy(i, j) applies `cell` to the
    * product column, so the shuffle carries one partial per cell per
    * partition, never row count. Rows (i, j, v), 0-based int dims. */
  def upperTriangle(rows: DataFrame, x: Column)(cell: Column => Column): DataFrame =
    rows.select(x.as("x"))
      .select(col("x"), posexplode(col("x")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
        posexplode(slice(col("x"), col("i") + 1, size(col("x")) - col("i")))
          .as(Seq("d", "xj")))
      .groupBy(col("i"), (col("i") + col("d")).as("j"))
      .agg(cell(col("xi") * col("xj")).as("v"))

  /** The collected cells (i, j, v) of an [[upperTriangle]]: bounded at
    * n(n+1)/2 rows, corpus-size-invariant. */
  def triangleCells(tri: DataFrame): Array[(Int, Int, Double)] =
    tri.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))

  /** The dim×dim symmetric matrix of upper-triangle cells (i, j, v),
    * 0-based; a cell absent from `cells` is 0. */
  def symmetric(dim: Int, cells: Iterable[(Int, Int, Double)]): Array[Array[Double]] = {
    val m = Array.ofDim[Double](dim, dim)
    cells.foreach { case (i, j, v) => m(i)(j) = v; m(j)(i) = v }
    m
  }

  /** (i, j, cos_sim) rows for the upper triangle of a collected
    * symmetric Gramian — bounded driver arithmetic, d14's rounding rule. */
  private def cosineRows(s: org.apache.spark.sql.SparkSession,
                         g: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val nrm = g.indices.map(i => math.sqrt(g(i)(i)))
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    (for { i <- g.indices; j <- i + 1 until g.length }
      yield (i, j, r6(g(i)(j) / (nrm(i) * nrm(j)))))
      .toDF("i", "j", "cos_sim").orderBy("i", "j")
  }

  /** Exact pairwise cosine similarity between the embedding matrix's
    * COLUMNS (reference RowMatrix.scala:1 `columnSimilarities` /
    * `computeColumnSimilarities`, r11). One distributed pass builds the
    * uncentered upper-triangle Gramian with EXACT decimal accumulation
    * (d14's rule — order-independent, bit-identical at any parallelism),
    * then cos(i,j) = s_ij / (√s_ii·√s_jj) derives from the bounded
    * dim²/2 entries with identical scalar IEEE ops on both engines
    * (sqrt is correctly rounded, so it IS bit-portable — unlike log).
    *
    * Scale: the shuffle carries only dim²/2 partial sums per partition
    * regardless of row count — at 100 TB this is one map-side-combined
    * pass. The reference's DIMSUM sampling exists for matrices with
    * MILLIONS of columns (quadratic in columns, not rows); at
    * embedding-width columns the exact Gramian is both cheaper and
    * deterministic, so that is the registered path. */
  val cs01: Q = Q.audited(
    "cs01_column_similarities",
    """WITH x AS (
      |  SELECT e.vec_id, i AS p, CAST(e.embedding[i] AS DOUBLE) AS x
      |  FROM embeddings e, unnest(range(1, 65)) t(i)),
      |g AS (
      |  SELECT a.p AS i, b.p AS j,
      |    CAST(sum(CAST(a.x * b.x AS DECIMAL(18,12))) AS DOUBLE) AS s
      |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.p >= a.p
      |  GROUP BY 1, 2),
      |d AS (SELECT i AS p, sqrt(s) AS nrm FROM g WHERE i = j)
      |SELECT (g.i - 1) AS i, (g.j - 1) AS j,
      |  round(g.s / (da.nrm * db.nrm), 6) + 0.0 AS cos_sim
      |FROM g JOIN d da ON g.i = da.p JOIN d db ON g.j = db.p
      |WHERE g.i < g.j
      |ORDER BY i, j""".stripMargin) { (s, dir, audit) =>
    // join-free Gramian ([[upperTriangle]]): one map + partial agg.
    // 6dp aggregate rounding + signed-zero normalization (d14's rule):
    // the double->decimal product cast rounds HALF_UP on Spark and
    // half-even in DuckDB; a halfway product at sf0.1 shifts the exact
    // sum ~1e-13 - far below the emit precision. Spark-side decimal
    // HALF_UP rounding replicated driver-side via BigDecimal.
    // The twin accumulates in plain DOUBLE (no per-product decimal
    // conversion in the hot loop): the decimal path exists so the oracle
    // can replay the sum order-independently; production trusts IEEE
    // summation.
    val x = transform(col("embedding"), v => v.cast("double"))
    cosineRows(s, symmetric(64, triangleCells(
      upperTriangle(Tables.embeddings(s, dir), x)(if (audit) exactSum else sum))))
  }

  /** DIMSUM sampled column similarities (reference RowMatrix.scala:497
    * `columnSimilarities(threshold)` → `columnSimilaritiesDIMSUM`,
    * Zadeh & Goel arXiv:1206.2082 / 1304.1467): the wide-matrix scale
    * path — instead of the exact Gramian's O(cols²) per-row work, each
    * row keeps column i with probability p_i = min(1, √γ/‖c_i‖) and
    * emits (x_i/q_i)(x_j/q_j) for its sampled pairs, q_i = min(√γ,
    * ‖c_i‖), γ = 10·log(n)/threshold. Because p̃_i/q_i = 1/‖c_i‖
    * identically, the summed emissions are an unbiased estimate of the
    * COSINE itself, with per-entry sample counts bounded by γ — total
    * work grows with γ·rows, not cols²·rows, and high-magnitude
    * columns are sampled hardest down.
    *
    * Two deltas from the reference, both deliberate:
    *  - coins are the repo's hash predicate u(xxhash64(seed, row_id,
    *    col)) < p_i (q38's construction) instead of a per-partition
    *    XORShift stream — membership is partition-, retry- and
    *    ENGINE-invariant, which upgrades the estimate itself to a full
    *    value oracle;
    *  - one coin per (row, column) rather than the reference's fresh
    *    inner-loop draw per (row, i, j): every pair's marginal
    *    emission probability is the same p_i·p_j (unbiasedness
    *    unchanged), coins across pairs of one row are shared — the
    *    form the DIMSUM paper itself analyzes.
    *
    * Plan shape: one bounded norm aggregate (cols cells), then ONE
    * map-side pass that filters each row's columns by the coin,
    * scales by 1/q, expands the surviving pairs array-natively
    * (cs01's nested posexplode — no self-join, no shuffle of the
    * expansion), and partial-aggregates (i, j) sums in exact decimal.
    */
  def dimsumColumnSimilarities(emb: DataFrame, idCol: String, dim: Int,
                               threshold: Double, seed: Long,
                               exactDecimal: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold $threshold")
    val gamma = 10.0 * math.log(dim.toDouble) / threshold
    val sg = math.sqrt(gamma)
    // pass 1: exact column norms (decimal sums — bit-identical at any
    // parallelism), corrected per the reference's colMagsCorrected
    val xs = transform(col("embedding"), v => v.cast("double"))
    val normRows = emb.select(posexplode(xs).as(Seq("i", "x")))
      .groupBy("i").agg(exactSum(col("x") * col("x")).as("ss"))
      .collect().map(r => (r.getInt(0), math.sqrt(r.getDouble(1)))).toMap
    val nrm = Array.tabulate(dim)(i => {
      val n = normRows.getOrElse(i, 0.0); if (n == 0.0) 1.0 else n
    })
    val p = nrm.map(n => math.min(1.0, sg / n)).toSeq
    val q = nrm.map(n => math.min(sg, n)).toSeq
    // pass 2: coin-filter + scale each row's columns array-natively,
    // expand sampled pairs, exact-decimal partial aggregation
    val sumOf: Column => Column = if (exactDecimal) exactSum else sum
    val pairsOf = (e: Column) => struct(e.getField("i").as("i"),
      (e.getField("x") / element_at(typedlit(q), e.getField("i") + 1)).as("s"))
    val sampledArr = transform(
      filter(
        zip_with(sequence(lit(0), lit(dim - 1)), xs,
          (i, x) => struct(i.as("i"), x.as("x"))),
        e => graft.operators.Sampling.hashU(seed, col(idCol),
          e.getField("i").cast("long")) <
          element_at(typedlit(p), e.getField("i") + 1)),
      pairsOf)
    emb.select(col(idCol), sampledArr.as("arr"))
      .select(col("arr"), posexplode(col("arr")).as(Seq("pa", "ea")))
      .select(col("ea"),
        explode(slice(col("arr"), col("pa") + 2, lit(dim))).as("eb"))
      .groupBy(col("ea.i").as("i"), col("eb.i").as("j"))
      .agg(sumOf(col("ea.s") * col("eb.s")).as("s"))
      .select(col("i"), col("j"), (round(col("s"), 6) + 0.0).as("sim_est"))
  }

  /** Registered pass (r12): DIMSUM estimates over the embedding
    * columns at threshold 0.5 — the sampled twin of cs01's exact path
    * (which stays the right call at dim = 64; this entry exists
    * because the reference's million-column scale path must too, and
    * its per-entry work bound γ = 10·log(n)/t is the 100 TB story).
    * FULL value oracle: the hash coins, 1/q scaling, pair expansion
    * and exact-decimal sums replay in DuckDB — norms re-derived from
    * the same parquet with the same decimal arithmetic, √γ embedded
    * as one static literal, membership via the chained hashLong
    * replay. MatricesSpec separately certifies estimate accuracy
    * against cs01's exact values and the planted wide-matrix case. */
  val cs02: Q = {
    import graft.functions.DuckXxhash
    val dim = 64
    val threshold = 0.5
    val sg = math.sqrt(10.0 * math.log(dim.toDouble) / threshold)
    val sgLit = sg.toString // round-trip-exact double literal
    val foldSeed = DuckXxhash.hashLong(42L, 42L)
    val (c1, f1) = DuckXxhash.hashLongCtes("inp", foldSeed, "s1")
    val (c2, f2) = DuckXxhash.hashLongCtesExpr("mid", "hseed", "s2")
    Q.audited(
      "cs02_dimsum",
      s"""WITH raw AS MATERIALIZED (
        |  SELECT vec_id, (i - 1) AS ci, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(range(1, 65)) t(i)),
        |nrm AS (
        |  SELECT ci,
        |    sqrt(CAST(sum(CAST(x * x AS DECIMAL(18,12))) AS DOUBLE)) AS nrm0
        |  FROM raw GROUP BY ci),
        |pq AS (
        |  SELECT ci,
        |    LEAST(1.0, CAST($sgLit AS DOUBLE) /
        |      (CASE WHEN nrm0 = 0 THEN 1.0 ELSE nrm0 END)) AS p,
        |    LEAST(CAST($sgLit AS DOUBLE),
        |      (CASE WHEN nrm0 = 0 THEN 1.0 ELSE nrm0 END)) AS q
        |  FROM nrm),
        |inp AS (
        |  SELECT r.vec_id, r.ci, r.x, pq.p, pq.q,
        |    (CASE WHEN r.vec_id < 0 THEN r.vec_id::HUGEINT + ${DuckXxhash.M64}
        |          ELSE r.vec_id::HUGEINT END) AS v,
        |    r.ci::HUGEINT AS vb
        |  FROM raw r JOIN pq ON r.ci = pq.ci),
        |$c1,
        |mid AS MATERIALIZED (
        |  SELECT vec_id, ci, x, p, q, vb AS v, h AS hseed FROM $f1),
        |$c2,
        |samp AS MATERIALIZED (
        |  SELECT vec_id, ci, x / q AS s
        |  FROM $f2
        |  WHERE CAST(h // 2048 AS DOUBLE) / 9007199254740992.0 < p),
        |est AS (
        |  SELECT a.ci AS i, b.ci AS j,
        |    CAST(sum(CAST(a.s * b.s AS DECIMAL(18,12))) AS DOUBLE) AS s
        |  FROM samp a JOIN samp b ON a.vec_id = b.vec_id AND b.ci > a.ci
        |  GROUP BY 1, 2)
        |SELECT i, j, round(s, 6) + 0.0 AS sim_est
        |FROM est ORDER BY i, j""".stripMargin) { (s, dir, audit) =>
      // the twin: identical sampling, plain DOUBLE accumulation (the
      // decimal sum is oracle-imposed order-independence)
      dimsumColumnSimilarities(Tables.embeddings(s, dir), "vec_id",
        dim = 64, threshold = 0.5, seed = 42L, exactDecimal = audit)
        .orderBy("i", "j")
    }
  }

  val all: Seq[Q] = Seq(bm01, cs01, cs02)
}
