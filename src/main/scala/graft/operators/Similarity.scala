package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftDatasetFactory
import graft.{LoopState, Q, Tables}
import graft.plans.GraftFunctions.{floatCosine, hashedWordGrams, hyperplaneSign,
  minhashSignature, simhash63}
import graft.functions.TextFunctions._

/** Near-duplicate detection and similarity search — SURVEY.md §2.4.
  *
  * Scale design: candidate generation is always a key-equality join
  * (shared shingle, LSH band, hyperplane bucket) so Spark shuffles on the
  * candidate key instead of computing O(n²) pairs; the exact re-check
  * runs only on candidates. Brute-force cosine is kept as the verified
  * baseline and bounds a small query set, not the full cross product.
  */
object Similarity {

  /** Max document frequency for a shingle to participate in the d02
    * candidate join. A gram shared by m docs contributes m²/2 candidate
    * rows — one stop-phrase shingle across 1M docs is a quadratic blowup
    * that no placement strategy fixes (it's semantic fanout, not skew).
    * Capping df bounds the worst gram's fanout at dfCap²/2; the cap is
    * applied identically in the DuckDB oracle, so results stay
    * hash-equal (and at test scale no gram reaches the cap anyway). */
  val d02DfCap = 1000

  /** Exact word-trigram Jaccard over shingle-join candidates, computed on
    * the df-capped shingle space (see [[d02DfCap]]). Non-vacuous on the
    * test corpus (it contains planted near-duplicate pairs). */
  val d02 = Q.sql(
    "d02_ngram_jaccard",
    s"""WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
      |grams0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |          FROM words, unnest(range(1, greatest(len(w) - 1, 1))) t(i)),
      |grams AS (SELECT doc_id, g FROM grams0
      |          QUALIFY count(*) OVER (PARTITION BY g) <= $d02DfCap),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY d1, d2)
      |SELECT d1, d2, c * 1.0 / (s1.sz + s2.sz - c) AS jaccard
      |FROM inter
      |JOIN sizes s1 ON s1.doc_id = d1
      |JOIN sizes s2 ON s2.doc_id = d2
      |WHERE c * 1.0 / (s1.sz + s2.sz - c) >= 0.5
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    jaccardPairsShared(s, dir, dfCap = d02DfCap, minJaccard = 0.5).orderBy("d1", "d2")
  }

  /** The candidate-pair stage the dedup pipeline consumes more than once
    * (d02 emits the pairs, d07 and lp01 build graphs on them), built once
    * per corpus version and persisted (see [[graft.Shared]]). The pair set
    * is tiny (near-duplicate pairs, not the corpus), so MEMORY_AND_DISK
    * costs nothing at any scale. The frame is returned in the caller's
    * session, which reads the persisted blocks through the shared cache.
    * An unversionable corpus gets unpersisted pairs whose shingle stage is
    * checkpointed within the query (see `shareShingleStage`). */
  def jaccardPairsShared(
      spark: SparkSession, dir: String, dfCap: Int, minJaccard: Double): DataFrame = {
    val pairs = graft.Shared[DataFrame](spark, "pairs", dir, dfCap, minJaccard)({ tag =>
      val docs = Tables.documents(spark, dir)
      if (tag.isEmpty) jaccardPairs(docs, dfCap, minJaccard, shareShingleStage = true)
      else jaccardPairs(docs, dfCap, minJaccard)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }, _.unpersist(blocking = true))
    if (pairs.sparkSession eq spark) pairs
    else GraftDatasetFactory.ofRows(spark, pairs.queryExecution.analyzed)
  }

  /** Exact n-gram Jaccard pairs over the df-capped shingle space: grams
    * with document frequency > dfCap are removed (from sizes AND the
    * join, so the Jaccard stays self-consistent) before the candidate
    * self-join.
    *
    * @param shareShingleStage eagerly pin ([[graft.LoopState.pin]]) the
    *        df-capped gram stage so its three consumers (sizes + both self-join
    *        sides) read one materialization instead of re-running the
    *        explode each. Default false: [[jaccardPairsShared]]'s kept
    *        pairs are persisted lazily, so building them starts no job,
    *        and their plan stays the one the persisted blocks match. The
    *        unkept path sets it true. */
  def jaccardPairs(docs: DataFrame, dfCap: Int, minJaccard: Double,
      shareShingleStage: Boolean = false): DataFrame = {
    // native shingle hashing: the candidate join shuffles longs, not
    // gram strings (oracle still joins strings — equal modulo 64-bit
    // hash collisions)
    val grams0 = docs
      .select(col("doc_id"),
        explode(hashedWordGrams(col("text"), 3)).as("g"))
    // partial-agg the df counts (map-side combine collapses each gram to
    // one row per partition) and remove hot grams with a left_anti join.
    // No broadcast hint: the hot-gram set scales as totalGrams/dfCap, so
    // at corpus scale it can exceed broadcast limits — let AQE pick
    // broadcast when the set is actually small
    val hot = grams0.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select("g")
    val grams1 = grams0.join(hot, Seq("g"), "left_anti")
    val grams = if (shareShingleStage) LoopState.pin(grams1, eager = true) else grams1
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = grams.as("a")
    val b = grams.as("b")
    val inter = a.join(b, col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") /
      (col("s1.sz") + col("s2.sz") - col("c"))
    inter
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .filter(jac >= minJaccard)
      .select(col("d1"), col("d2"), jac.as("jaccard"))
  }

  /** FULL value oracle for d03 (r10): DuckDB re-derives every MinHash
    * signature from the raw text — word 3-grams, the XXH64 replay
    * ([[graft.functions.DuckXxhash]]), the k=32 affine family
    * h_s(x) = ((2s+1)·x + b_s) mod P — then re-joins LSH bands as raw
    * 4-slot signature equality. The engine joins on `xxhash64` of the
    * composed band string instead, so the two candidate sets agree
    * modulo a 64-bit band-hash collision (the same documented
    * equivalence the engine's own gram-hash dedup rests on); the
    * estimated Jaccard matches/32 is an exact binary fraction on both
    * engines. */
  private def d03Oracle: String = {
    val P = graft.plans.MinhashSignature.P
    val B0 = graft.plans.MinhashSignature.B0
    val (xxh, fin) = graft.functions.DuckXxhash.ctes("inp")
    val sigCols = (0 until 32).map { s =>
      val a = 2 * s + 1
      val b = (s * B0) % P
      s"COALESCE(MIN(($a*hp + $b) % $P), $P) AS g$s"
    }.mkString(",\n    ")
    val bandRows = (0 until 8).map { b =>
      val base = b * 4
      s"SELECT doc_id, $b AS band, g${base} AS r0, g${base + 1} AS r1, " +
        s"g${base + 2} AS r2, g${base + 3} AS r3 FROM sigs"
    }.mkString("\n  UNION ALL ")
    val matches = (0 until 32)
      .map(s => s"(CASE WHEN sa.g$s = sb.g$s THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM words, unnest(range(1, greatest(len(w) - 1, 1))) t(i)),
      |inp AS (SELECT DISTINCT s FROM grams),
      |$xxh,
      |gramh AS (
      |  -- COALESCE poisons the >=32-byte NULL contract loudly (r11): a
      |  -- corpus-guard regression must error, not shrink the signature
      |  SELECT g.doc_id,
      |    ((COALESCE(x.hash, error('xxh64 oracle: gram >= 32 bytes')) % $P) + $P) % $P AS hp
      |  FROM grams g JOIN $fin x ON x.s = g.s),
      |sigs AS (
      |  SELECT d.doc_id,
      |    $sigCols
      |  FROM (SELECT DISTINCT doc_id FROM documents) d
      |  LEFT JOIN gramh ON gramh.doc_id = d.doc_id
      |  GROUP BY d.doc_id),
      |bandrows AS (
      |  $bandRows),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bandrows a JOIN bandrows b
      |    ON a.band = b.band AND a.r0 = b.r0 AND a.r1 = b.r1
      |   AND a.r2 = b.r2 AND a.r3 = b.r3 AND a.doc_id < b.doc_id),
      |scored AS (
      |  SELECT d1, d2, ($matches)::DOUBLE / 32 AS est_jaccard
      |  FROM cands
      |  JOIN sigs sa ON sa.doc_id = d1
      |  JOIN sigs sb ON sb.doc_id = d2)
      |SELECT d1, d2, est_jaccard FROM scored
      |WHERE est_jaccard >= 0.5 ORDER BY d1, d2""".stripMargin
  }

  /** MinHash(k=32) + LSH(8 bands × 4 rows) near-dup candidates with the
    * signature-estimated Jaccard. Full value oracle (r10): the whole
    * signature pipeline is replayed in DuckDB via the XXH64 CTE chain —
    * see [[d03Oracle]]; SimilaritySpec additionally asserts recall
    * against exact d02 pairs. */
  val d03 = Q.sql("d03_minhash_lsh", d03Oracle) { (s, dir) =>
    minhashLshPairs(Tables.documents(s, dir), k = 32, bands = 8, minEstJaccard = 0.5)
      .orderBy("d1", "d2")
  }

  def minhashLshPairs(docs: DataFrame, k: Int, bands: Int, minEstJaccard: Double): DataFrame = {
    val rowsPerBand = k / bands
    // native codegen signature (graft.plans.MinhashSignature) — bit-
    // identical to TextFunctions.minhashFromHashes but one tight loop
    // per row instead of k×|grams| interpreted lambda calls
    val sigs = docs.select(
      col("doc_id"),
      minhashSignature(hashedWordGrams(col("text"), 3), k).as("sig"))
    // band join carries only (doc_id, band, bh): the shuffle stays narrow
    // and pair-dedup happens before the signature compare, so each
    // candidate pair is scored exactly once
    val banded = sigs.select(
      col("doc_id"),
      posexplode(lshBands(col("sig"), bands, rowsPerBand)).as(Seq("band", "bh")))
    val aB = banded.as("a")
    val bB = banded.as("b")
    val candidates = aB.join(bB,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    candidates
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .select(col("d1"), col("d2"),
        minhashJaccard(col("sig1"), col("sig2"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** FULL value oracle for d04 (r10): DuckDB recomputes every 63-bit
    * SimHash fingerprint from the raw text — per-token XXH64 via
    * [[graft.functions.DuckXxhash]], ±1 votes per bit over the token
    * multiset, sign-packed — then replays the 4×16-bit band join and the
    * hamming≤6 filter with native integer ops. Unlike d03 there is no
    * collision caveat: the engine's bands are raw fingerprint slices on
    * both sides. */
  private def d04Oracle: String = {
    val (xxh, fin) = graft.functions.DuckXxhash.ctes("inp")
    val M64 = "18446744073709551616"
    val votes = (0 until 63).map(j =>
      s"SUM(CASE WHEN (uh // ${BigInt(2).pow(j)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n    ")
    val shSum = (0 until 63)
      .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j}::BIGINT ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      |  FROM documents),
      |inp AS (SELECT DISTINCT tok AS s FROM toks),
      |$xxh,
      |toksh AS (
      |  -- COALESCE poisons the >=32-byte NULL contract loudly (r11): a
      |  -- corpus-guard regression must error, not vote -1 on every bit
      |  SELECT t.doc_id,
      |    (CASE WHEN COALESCE(x.hash, error('xxh64 oracle: token >= 32 bytes')) < 0
      |          THEN x.hash::HUGEINT + $M64
      |          ELSE x.hash::HUGEINT END) AS uh
      |  FROM toks t JOIN $fin x ON x.s = t.tok),
      |votes AS (
      |  SELECT doc_id,
      |    $votes
      |  FROM toksh GROUP BY doc_id),
      |sh AS (SELECT doc_id, ($shSum) AS sh FROM votes),
      |banded AS (
      |  SELECT doc_id, sh, band, (sh // divisor) % 65536 AS bh
      |  FROM sh, (VALUES (0, 1::BIGINT), (1, 65536::BIGINT),
      |                   (2, 4294967296::BIGINT),
      |                   (3, 281474976710656::BIGINT)) AS bands(band, divisor)),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |         bit_count(xor(a.sh, b.sh))::INT AS hamming
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
      |SELECT d1, d2, hamming FROM pairs
      |WHERE hamming <= 6 ORDER BY d1, d2""".stripMargin
  }

  /** SimHash near-dup pairs: 63-bit fingerprints, candidates via matching
    * 16-bit bands, kept when hamming distance <= 6. Full value oracle
    * (r10) — the fingerprints themselves are re-derived in DuckDB, see
    * [[d04Oracle]].
    *
    * Fingerprinting is the native scalar [[graft.plans.SimHash63]]
    * (bit-identical to the explode+vote aggregate it replaced, but
    * map-only — no shuffle to build fingerprints). */
  val d04 = Q.sql("d04_simhash", d04Oracle) { (s, dir) =>
    val hashed = Tables.documents(s, dir).select(
      col("doc_id"),
      simhash63(tokens(col("text"))).as("sh"))
    // unlike minhash (32-long signature), the simhash fingerprint is a
    // single long: carrying it through the band join is cheaper than
    // re-joining, which would recompute the simhash aggregation twice
    val banded = hashed.select(
      col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * 16).bitwiseAND(0xFFFF)): _*)).as(Seq("band", "bh")))
    val aB = banded.as("a")
    val bB = banded.as("b")
    aB.join(bB,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("d1", "d2")
  }

  /** Brute-force cosine top-5 for a bounded query set. Float multiplies +
    * double left-fold accumulation — bit-identical with the oracle's
    * list_sum(list_transform(...)) computation; ranking ties broken by
    * candidate id. */
  val d05 = Q.sql(
    "d05_embedding_topk",
    """WITH sims AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    list_sum(list_transform(range(1, 65), i -> q.embedding[i] * c.embedding[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.embedding[i] * q.embedding[i])))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.embedding[i] * c.embedding[i])))) AS sim
      |  FROM embeddings q JOIN embeddings c
      |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id
      |), ranked AS (
      |  SELECT qid, cid, round(sim, 6) AS sim6,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
      |  FROM sims)
      |SELECT qid, cid, sim6, rk FROM ranked WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val sims = broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        floatCosine(col("qe"), col("ce")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    sims.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("cid"), round(col("sim"), 6).as("sim6"), col("rk"))
      .orderBy("qid", "rk")
  }

  /** FULL value oracle for d06 (r10): the seeded hyperplanes are
    * re-embedded as SQL double literals (shortest-roundtrip decimal →
    * bit-identical doubles), DuckDB recomputes every sign bucket with
    * the d05-proven list_sum/list_transform double fold (same IEEE op
    * sequence as [[graft.plans.HyperplaneSign]]), replays home+1-bit
    * multi-probe via xor, and scores candidates with the d05 cosine +
    * round(,6) discipline. */
  private def d06Oracle(nPlanes: Int, k: Int, nTables: Int): String = {
    val planeRows = (for {
      t <- 0 until nTables
      planes = planesFor(t, nPlanes)
      p <- 0 until nPlanes
    } yield {
      val vec = planes.slice(p * 64, (p + 1) * 64).mkString("[", ", ", "]::DOUBLE[]")
      s"($t, $p, $vec)"
    }).mkString(",\n    ")
    val bitOf = (0 until nPlanes)
      .map(p => s"WHEN $p THEN ${1L << p}").mkString("CASE p ", " ", " END")
    val probeList = ("bucket" +: (0 until nPlanes).map(p => s"xor(bucket, ${1L << p})"))
      .mkString("[", ", ", "]")
    s"""WITH planes(tbl, p, pv) AS (VALUES
      |    $planeRows),
      |dots AS (
      |  SELECT e.vec_id, pl.tbl, pl.p,
      |    list_sum(list_transform(range(1, 65),
      |      i -> e.embedding[i]::DOUBLE * pl.pv[i])) AS dot
      |  FROM embeddings e, planes pl),
      |bucketed AS (
      |  SELECT vec_id, tbl,
      |    SUM(CASE WHEN dot >= 0 THEN $bitOf ELSE 0 END)::BIGINT AS bucket
      |  FROM dots GROUP BY vec_id, tbl),
      |probes AS (
      |  SELECT vec_id AS qid, tbl, unnest($probeList) AS bucket
      |  FROM bucketed WHERE vec_id < 10),
      |cands AS (
      |  SELECT DISTINCT pr.qid, c.vec_id AS cid
      |  FROM probes pr JOIN bucketed c
      |    ON c.tbl = pr.tbl AND c.bucket = pr.bucket
      |  WHERE c.vec_id <> pr.qid),
      |sims AS (
      |  SELECT cd.qid, cd.cid,
      |    list_sum(list_transform(range(1, 65), i -> q.embedding[i] * c.embedding[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.embedding[i] * q.embedding[i])))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> c.embedding[i] * c.embedding[i])))) AS sim
      |  FROM cands cd
      |  JOIN embeddings q ON q.vec_id = cd.qid
      |  JOIN embeddings c ON c.vec_id = cd.cid),
      |ranked AS (
      |  SELECT qid, cid, round(sim, 6) AS sim6,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
      |  FROM sims)
      |SELECT qid, cid, sim6, rk FROM ranked WHERE rk <= $k
      |ORDER BY qid, rk""".stripMargin
  }

  /** Random-hyperplane LSH ANN: fixed seeded hyperplanes bucket every
    * vector by sign pattern; top-k runs inside each bucket only. The
    * scale path of d05 — candidate generation is a bucket-equality join.
    * Bucket count must track corpus size (≈√n): 4 planes → 16 buckets
    * for the 500-5000-vector test tables; at 100 TB you'd raise planes
    * so buckets stay ~1k vectors and add multi-probe for recall.
    * Full value oracle (r10): buckets, probes, and scores all re-derived
    * in DuckDB — see [[d06Oracle]]; SimilaritySpec additionally asserts
    * agreement with brute force. */
  val d06 = Q.sql("d06_ann_lsh", d06Oracle(nPlanes = 4, k = 5, nTables = 4)) {
    (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      annLshTopK(emb, queries, nPlanes = 4, k = 5, nTables = 4)
        .orderBy("qid", "rk")
  }

  /** Multi-table, multi-probe random-hyperplane ANN: `nTables`
    * independently seeded plane sets each bucket every vector via the
    * native codegen [[graft.plans.HyperplaneSign]] (a long sign bitmask —
    * the interpreted aggregate/zip_with per plane per table it replaces
    * never entered codegen). A pair is a candidate if it collides in ANY
    * table (union → recall compounds: 1-(1-p)^T), and the query side
    * additionally probes every 1-bit-flipped neighbor bucket
    * (`bits ^ (1<<p)`) — multi-probe buys recall on the near-orthogonal
    * planes without growing the candidate side. The candidate set is
    * deduped narrow (qid,cid) before scoring, and the wide embedding
    * columns are re-joined from the base projection. */
  /** (vec_id, tbl, bucket) hyperplane-LSH bucketing shared by the ANN
    * top-k and the cluster-scoped semantic dedup: `nTables` independently
    * seeded gaussian plane sets, each hashed by the native codegen
    * [[graft.plans.HyperplaneSign]]. Planes are literal-encoded so
    * executors get them via the plan (no closure serialization). */
  /** Seeded gaussian hyperplanes for LSH table `table` (flattened
    * row-major, nPlanes×dim). Deterministic (java.util.Random's specified
    * LCG + StrictMath Box-Muller), so the d06 oracle can re-embed the
    * SAME constants as SQL literals — they are model spec, like a band
    * count, not hidden engine state. */
  def planesFor(table: Int, nPlanes: Int, dim: Int = 64): Seq[Double] = {
    val rnd = new scala.util.Random(20240812L + table * 7919L)
    Seq.fill(nPlanes * dim)(rnd.nextGaussian())
  }

  def hyperplaneBuckets(emb: DataFrame, nPlanes: Int, nTables: Int): DataFrame = {
    def bucketOf(v: org.apache.spark.sql.Column, table: Int) =
      hyperplaneSign(v, planesFor(table, nPlanes), nPlanes)
    emb.select(
      col("vec_id"),
      posexplode(array((0 until nTables).map(t => bucketOf(col("embedding"), t)): _*))
        .as(Seq("tbl", "bucket")))
  }

  /** Top-`k` hyperplane-LSH neighbors of each query. `queries` carries
    * (qid, qe) — [[ivfTopK]]'s contract — so the query set is the
    * CALLER's choice (any ids, any vectors, not necessarily corpus
    * members); the corpus side is bucketed once and probed per query. */
  def annLshTopK(emb: DataFrame, queries: DataFrame, nPlanes: Int, k: Int,
                 nTables: Int = 2): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val bucketed = hyperplaneBuckets(base, nPlanes, nTables)
    // query vectors bucket through the SAME deterministic plane sets,
    // then fan out to the home bucket plus each 1-bit probe
    val qBucketed = hyperplaneBuckets(
      queries.select(col("qid").as("vec_id"), col("qe").as("embedding")),
      nPlanes, nTables)
    val probeArr = array((col("bucket") +:
      (0 until nPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))): _*)
    val q = qBucketed
      .select(col("vec_id").as("qid"), col("tbl"), explode(probeArr).as("bucket"))
    val c = bucketed.select(col("vec_id").as("cid"), col("tbl"), col("bucket"))
    val candidates = broadcast(q).join(c, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
      .distinct()
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    candidates
      .join(queries.select(col("qid"), col("qe")), "qid")
      .join(base.select(col("vec_id").as("cid"), col("embedding").as("ce")), "cid")
      .select(col("qid"), col("cid"),
        floatCosine(col("qe"), col("ce")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), round(col("sim"), 6).as("sim6"), col("rk"))
  }

  /** IVF (inverted-file) approximate nearest neighbors — the OTHER
    * named ANN scale path beside d06's hyperplane LSH: a k-means coarse
    * quantizer assigns every vector to a cell, each query probes its
    * `nProbe` closest cells, and exact cosine runs only inside probed
    * cells. Candidate generation is ONE cell-equality join (the
    * bucketed 100 TB shape: per-query candidate volume is
    * nProbe·n/k, never n), centroid scoring is k native float_cosine
    * calls against plan literals.
    *
    * @return (qid, cid, sim, rk) top-`k` rows per query */
  def ivfTopK(emb: DataFrame, queries: DataFrame, nCells: Int, iters: Int,
              nProbe: Int, k: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells)
    val (centroids, assign) = Embeddings.kmeansModel(emb, nCells, iters)
    val cellSims = array(centroids.toIndexedSeq.map(c =>
      floatCosine(col("qe"), typedlit(c.toSeq))): _*)
    val sorted = array_sort(transform(cellSims, (s, j) =>
      struct(s.as("s"), j.as("j"))))
    val probes = queries
      .select(col("qid"), col("qe"),
        slice(sorted, -nProbe, nProbe).as("_cells"))
      .select(col("qid"), col("qe"),
        explode(col("_cells")).as("_c"))
      .select(col("qid"), col("qe"), col("_c.j").as("cluster"))
    val cands = probes.join(
        assign.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .select(col("vec_id").as("cid"), col("cluster"),
            col("embedding").as("ce")),
        Seq("cluster"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        floatCosine(col("qe"), col("ce")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    cands.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Registered pass: 16-cell IVF, 2-probe, top-5 over d05's query set.
    * The cells derive from float k-means (engine-local), so (the
    * d08/d09 claim pattern) the oracle asserts STRUCTURE and
    * certificates: the exact (qid, rk) grid — ten queries × exactly
    * five ranks each, which fails if any probed pair of cells runs dry —
    * plus `rank_consistent` (similarity non-increasing down each
    * query's ranking, asserted in-plan via lag) and `recall_floor`
    * (top-1 IVF cosine within 0.25 of the in-plan brute-force top-1 —
    * a measured claim with a wide documented band; SimilaritySpec pins
    * EXACT brute-force agreement on planted well-separated clusters,
    * where probing the top cells provably contains the true
    * neighbors). The brute-force pass is the certificate side — the
    * production twin runs the IVF path alone. */
  val d16 = Q.audited(
    "d16_ivf_ann",
    """SELECT q.vec_id AS qid, CAST(t.r AS INT) AS rk,
      |  TRUE AS rank_consistent, TRUE AS recall_floor
      |FROM embeddings q, range(1, 6) t(r)
      |WHERE q.vec_id < 10
      |ORDER BY qid, rk""".stripMargin) { (s, dir, audit) =>
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ivf = ivfTopK(emb, queries, nCells = 16, iters = 5, nProbe = 2, k = 5)
    // the twin is quantize + probe + in-cell top-k, with no brute-force
    // certificate pass
    if (!audit)
      ivf.select(col("qid"), col("cid"), round(col("sim"), 6).as("sim6"), col("rk"))
    else {
      // certificate 1: the ranking really is non-increasing
      val w = Window.partitionBy("qid").orderBy(col("rk"))
      val ranked = ivf.withColumn("rank_consistent",
        coalesce(col("sim") <= lag(col("sim"), 1).over(w) + lit(1e-9), lit(true)))
      // certificate 2: brute-force top-1 per query (the d05 pass), wide
      // recall band — the documented measured claim
      val brute = broadcast(queries)
        .join(emb.select(col("vec_id").as("cid"), col("embedding").as("ce")),
          col("qid") =!= col("cid"))
        .groupBy("qid")
        .agg(max(floatCosine(col("qe"), col("ce"))).as("brute1"))
      val ivfTop1 = ranked.filter(col("rk") === 1)
        .select(col("qid"), col("sim").as("ivf1"))
      ranked
        .join(brute, "qid").join(ivfTop1, "qid")
        .select(col("qid"), col("rk"), col("rank_consistent"),
          (col("ivf1") >= col("brute1") - 0.25).as("recall_floor"))
        .orderBy("qid", "rk")
    }
  }

  val all: Seq[Q] = Seq(d02, d03, d04, d05, d06, d16)
}
