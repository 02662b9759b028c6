package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.GraftFunctions.floatDot
import graft.functions.TextFunctions.tokens

/** Word2Vec-lite: distributed skip-gram with negative sampling over the
  * `documents` table — the embedding-producing slice of the reference's
  * MLlib feature package (mllib/src/main/scala/org/apache/spark/mllib/
  * feature/Word2Vec.scala:1), re-expressed in the repo's standard
  * driver-coordinated shape (the [[Embeddings.kmeansAssign]] pattern):
  *
  *  - the MODEL (two vocab×dim float matrices) lives on the driver,
  *    bounded by the vocab cap, and ships to executors as a broadcast
  *    join each iteration — exactly how MLlib broadcasts syn0/syn1;
  *  - the DATA (labeled skip-gram pairs) is built once as narrow
  *    (center, context, label) int rows — positives from a ±window
  *    OFFSET-EQUALITY join (never a quadratic within-document
  *    self-join), negatives hash-drawn per positive — then collapsed to
  *    its distinct (c, t, label) triples with a count weight and
  *    checkpointed (r17): the iterated frame is bounded by 2·vocab²
  *    rows at any corpus size;
  *  - each iteration is one codegen'd map (native `float_dot` logit +
  *    sigmoid) and ONE shuffle: both gradient streams (dU keyed by
  *    center scaled by v, dV keyed by context scaled by u) go through a
  *    single union + groupBy(side, key, dim) whose output is bounded by
  *    2×vocab×dim, so the collect never grows with the corpus.
  *
  * Updates use the per-key MEAN gradient (full-batch GD), not summed
  * per-sample SGD: deterministic, stable for any corpus size at a fixed
  * learning rate, and converging to the same SGNS stationary points —
  * the right trade for a reproducible distributed trainer (per-sample
  * SGD order is inherently racy; MLlib accepts non-determinism instead).
  *
  * Everything is seeded: vocab order, init, and negative draws are
  * hash-derived, so runs are reproducible end to end.
  */
object Word2Vec {

  /** Top-`vocabSize` words by corpus frequency with a dense 0-based
    * index; ties break on the word. The global sort runs AFTER the
    * distributed count and is LIMIT-ed, so only vocabSize rows ever
    * gather anywhere. */
  def vocabulary(docs: DataFrame, vocabSize: Int): DataFrame = {
    val top = docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(vocabSize)
    top.withColumn("idx",
        row_number().over(Window.orderBy(col("n").desc, col("word"))) - 1)
      .select("word", "idx")
  }

  /** Labeled SGNS training rows (c, t, label): one positive per
    * (center, offset) hit via an equality join on (doc_id, pos+off),
    * plus `negatives` uniform hash-drawn negatives per positive. A
    * negative occasionally collides with the true context — standard
    * SGNS noise, tolerated by every implementation. */
  def trainingPairs(docs: DataFrame, vocab: DataFrame, vocabSize: Int,
                    window: Int, negatives: Int, seed: Long): DataFrame = {
    require(negatives >= 0, s"negatives must be >= 0, got $negatives")
    val indexed = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .join(broadcast(vocab), "word")
      .select(col("doc_id"), col("pos"), col("idx"))
    val offs = (-window to window).filterNot(_ == 0).map(lit(_))
    val probes = indexed
      .withColumn("off", explode(array(offs: _*)))
      .select(col("doc_id"), (col("pos") + col("off")).as("cpos"), col("idx").as("c"))
    val pos = probes.join(
        indexed.select(col("doc_id"), col("pos").as("cpos"), col("idx").as("t")),
        Seq("doc_id", "cpos"))
      .select(col("doc_id"), col("cpos"), col("c"), col("t"), lit(1.0).as("label"))
    // the draw hashes the OCCURRENCE (doc, position), not just the word
    // pair: a pair that recurs across the corpus gets fresh negatives
    // each time, keeping the noise distribution diverse — hashing only
    // (c, t, i) would nail every recurrence to the same 3 words.
    // negatives=0 must skip the explode entirely: sequence(1, 0) defaults
    // to step -1 and would silently emit TWO draws per positive
    if (negatives == 0) pos.select("c", "t", "label")
    else {
      val neg = pos
        .withColumn("i", explode(sequence(lit(1), lit(negatives))))
        .select(col("doc_id"), col("cpos"), col("c"),
          pmod(xxhash64(col("doc_id"), col("cpos"), col("c"), col("i"), lit(seed)),
            lit(vocabSize.toLong)).cast("int").as("t"),
          lit(0.0).as("label"))
      pos.unionByName(neg).select("c", "t", "label")
    }
  }

  /** Train and return the (word, embedding array<float>) vocab table.
    * Defaults picked by simulating the exact mean-gradient dynamics:
    * planted synonym pairs separate from cross-family pairs within ~15
    * full-batch iterations at lr 3-4; mean gradients keep that stable at
    * any corpus size. */
  def train(docs: DataFrame, vocabSize: Int = 256, dim: Int = 16,
            window: Int = 2, negatives: Int = 3, iters: Int = 15,
            lr: Double = 3.0, seed: Long = 42L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = vocabulary(docs, vocabSize).localCheckpoint(false) // lazy: count() materializes (r16)
    val nVocab = vocab.count().toInt
    require(nVocab >= 2, s"need at least 2 in-vocab words, got $nVocab")
    // checkpoint the pair MULTISET COLLAPSED to its distinct (c, t, label)
    // triples with a count weight (r17, guide §2.3 "aggregate before you
    // iterate"): the 15 per-iteration gradient jobs re-scan this exact
    // data, and every quantity they compute — the per-key mean gradients —
    // depends on a (c, t) pair only through g(c,t) and the fixed model
    // rows, so duplicate occurrences fold into a weight once at build
    // time. The checkpointed frame is bounded by 2·vocab² rows (vocab is
    // capped) REGARDLESS of corpus size, where the raw pair set grows
    // linearly with the corpus: at 100 TB the iteration cost becomes
    // scale-invariant instead of corpus-sized. The per-key means are
    // computed as Σ w·g·x / Σ w — the same value as the former per-row
    // avg up to float summation order (the embedding floats are
    // engine-local; the entry's published columns are exact integer
    // counts and a finiteness flag, both unchanged).
    val nPart = math.max(1, (docs.sparkSession.sparkContext.defaultParallelism / 4))
    // (EAGER on purpose: the per-iteration plan consumes `data` twice —
    // the dU/dV union branches — so a lazy mark would double-compute
    // the pair build inside the first materializing job)
    val data = trainingPairs(docs, vocab, nVocab, window, negatives, seed)
      .groupBy("c", "t", "label").agg(count(lit(1)).cast("double").as("w"))
      .repartition(nPart)
      .localCheckpoint()

    // deterministic init: BOTH matrices uniform(-0.5, 0.5)/dim from a
    // hash. word2vec.c zeroes the context vectors, which works for
    // per-sample SGD but stalls full-batch means (dU ∝ v is identically
    // zero on iteration 1 and u barely ever moves); random v bootstraps
    // both sides immediately.
    def h(salt: Long)(i: Int, j: Int): Float = {
      val x = scala.util.hashing.MurmurHash3.productHash((i, j, seed + salt))
      (((x & 0xFFFF).toFloat / 0xFFFF.toFloat) - 0.5f) / dim
    }
    val u = Array.tabulate(nVocab, dim)(h(0L))
    val v = Array.tabulate(nVocab, dim)(h(1L))

    for (_ <- 1 to iters) {
      val model = (0 until nVocab)
        .map(i => (i, u(i).toSeq, v(i).toSeq)).toDF("idx", "u", "v")
      val scored = data
        .join(broadcast(model.select(col("idx").as("c"), col("u"))), "c")
        .join(broadcast(model.select(col("idx").as("t"), col("v"))), "t")
        .withColumn("g",
          // float_dot truncates to min(length) on mismatch (FloatCosine's
          // documented contract); here both sides come from the same
          // `model` literal, so lengths are equal by construction — a
          // mismatch can't silently corrupt gradients
          lit(1.0) / (lit(1.0) + exp(-floatDot(col("u"), col("v"))))
            - col("label"))
      // both gradient streams through one shuffle; map-side combine
      // collapses each partition to <= 2*vocab*dim rows. The mean over
      // raw occurrences is the weight-w weighted mean over the distinct
      // triples (each occurrence of a triple contributes the same g·x).
      val dU = scored.select(lit(0).as("side"), col("c").as("key"),
        (col("w") * col("g")).as("wg"), col("w"),
        posexplode(col("v")).as(Seq("p", "x")))
      val dV = scored.select(lit(1).as("side"), col("t").as("key"),
        (col("w") * col("g")).as("wg"), col("w"),
        posexplode(col("u")).as(Seq("p", "x")))
      val grads = dU.unionByName(dV)
        .groupBy("side", "key", "p")
        .agg((sum(col("wg") * col("x")) / sum(col("w"))).as("d"))
        .collect()
      grads.foreach { r =>
        val (side, k, p, d) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))
        if (side == 0) u(k)(p) = (u(k)(p) - lr * d).toFloat
        else v(k)(p) = (v(k)(p) - lr * d).toFloat
      }
    }
    val emb = (0 until nVocab).map(i => (i, u(i).toSeq)).toDF("idx", "embedding")
    vocab.join(broadcast(emb), "idx")
      .select(col("word"), col("embedding").cast("array<float>").as("embedding"))
  }

  /** Registered entry: the trained vocab table over `documents`. The
    * vectors are engine-local float iteration, but the VOCABULARY is
    * exact integer arithmetic — so the entry carries the claim-flag
    * pattern (d08/gm01's): DuckDB re-derives the top-vocabSize word set
    * and each word's corpus frequency row-for-row (count desc, word-asc
    * tiebreak — the trainer's own selection), and `finite_vec` asserts
    * every trained coordinate is finite. The embedding geometry itself
    * (planted synonyms closer than random pairs, seeded determinism)
    * stays pinned in Word2VecSpec via [[train]].
    *
    * The training slice is a DETERMINISTIC doc_id bound — like d05's
    * fixed query set — so the entry's cost is constant across scale
    * factors instead of 15 full-corpus iterations at bench scale. */
  val t05 = Q.sql(
    "t05_word2vec",
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      |  FROM documents WHERE doc_id < 500),
      |cnt AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY word),
      |top AS (SELECT word, n FROM cnt ORDER BY n DESC, word LIMIT 256)
      |SELECT word, n, TRUE AS finite_vec FROM top ORDER BY word""".stripMargin) {
    (s, dir) =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val counts = docs.select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      train(docs)
        .join(counts, "word")
        .select(col("word"), col("n"),
          forall(col("embedding"), x =>
            !isnan(x) && abs(x) < lit(Float.MaxValue)).as("finite_vec"))
        .orderBy("word")
  }

  val all: Seq[Q] = Seq(t05)
}
