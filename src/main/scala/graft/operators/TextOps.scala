package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table — SURVEY.md §2.4.
  * Everything is column expressions (codegen'd, fully distributed); the
  * language-ID model is trained distributedly from the corpus itself.
  */
object TextOps {

  /** Exact dedup by content: one row per distinct text, keeping the
    * smallest doc_id (deterministic winner). At 100 TB the groupBy key
    * would be xxhash64(text) to keep shuffle rows narrow; key collisions
    * are then resolved per-bucket. Here the oracle groups the raw text. */
  val d01 = Q.sql(
    "d01_exact_dedup",
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY text
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens + BPE-ish subword count. */
  val t01 = Q.sql(
    "t01_token_count",
    s"""SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '$subwordPattern')) AS BIGINT) AS n_subwords
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(subwordPattern), lit(0))).cast("long").as("n_subwords"))
      .orderBy("doc_id")
  }

  private val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Quality scoring: length, word stats, symbol/stopword ratios — all
    * integer-derived double divisions, so the oracle is exact. */
  val t02 = Q.sql(
    "t02_quality_score",
    s"""SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
      |  list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> length(w)))
      |    * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_word_len,
      |  length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) * 1.0 / length(text) AS symbol_ratio,
      |  len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
      |      w -> list_contains([${stops.map(w => s"'$w'").mkString(",")}], w)))
      |    * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) AS stopword_ratio
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // the split STAGED as an attribute (r15 — the t10/pl01 lesson): the
    // former single-select shape inlined the tokenizer 5× per row
    // (counts, the length fold, the stopword filter, two denominators);
    // size() over the staged array attribute is O(1)
    val w = col("w")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("w"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(w).cast("long").as("n_words"),
        (aggregate(w, lit(0), (acc, x) => acc + length(x)).cast("double") / size(w))
          .as("avg_word_len"),
        (length(regexp_replace(col("text"), lit("[a-z0-9\\s]"), lit(""))).cast("double") /
          length(col("text"))).as("symbol_ratio"),
        (size(filter(w, x => x.isInCollection(stops))).cast("double") / size(w))
          .as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** Self-trained unigram language ID, now with a FULL value oracle: the
    * entire model fit (per-(lang,word) Laplace log-probabilities over the
    * capped vocabulary) and the per-doc argmax are deterministic
    * arithmetic, so DuckDB replays them end-to-end — pivot as CASE sums,
    * the same smoothing, the same greatest-struct tie-break (score ties
    * fall to the lexicographically greatest lang). Scores sit ≥5e-4
    * apart at the argmax boundary (measured), 9 orders above cross-engine
    * log-sum noise. Accuracy vs ground truth stays asserted in TextSpec. */
  val t03 = Q.sql(
    "t03_lang_id",
    """WITH w AS (
      |  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      |  FROM documents),
      |counts AS (
      |  SELECT word,
      |    CAST(sum(CASE WHEN lang='de' THEN 1 ELSE 0 END) AS DOUBLE) AS de,
      |    CAST(sum(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS DOUBLE) AS en,
      |    CAST(sum(CASE WHEN lang='es' THEN 1 ELSE 0 END) AS DOUBLE) AS es,
      |    CAST(sum(CASE WHEN lang='fr' THEN 1 ELSE 0 END) AS DOUBLE) AS fr,
      |    CAST(sum(CASE WHEN lang='zh' THEN 1 ELSE 0 END) AS DOUBLE) AS zh
      |  FROM w GROUP BY word),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS vocab,
      |    sum(de) AS tot_de, sum(en) AS tot_en, sum(es) AS tot_es,
      |    sum(fr) AS tot_fr, sum(zh) AS tot_zh
      |  FROM counts),
      |model AS (
      |  SELECT word, de, en, es, fr, zh
      |  FROM counts ORDER BY (de+en+es+fr+zh) DESC, word LIMIT 20000),
      |logp AS (
      |  SELECT word,
      |    ln((de+1.0)/(tot_de+vocab)) AS lp_de,
      |    ln((en+1.0)/(tot_en+vocab)) AS lp_en,
      |    ln((es+1.0)/(tot_es+vocab)) AS lp_es,
      |    ln((fr+1.0)/(tot_fr+vocab)) AS lp_fr,
      |    ln((zh+1.0)/(tot_zh+vocab)) AS lp_zh
      |  FROM model, stats),
      |scored AS (
      |  SELECT w.doc_id, sum(lp_de) AS s_de, sum(lp_en) AS s_en,
      |    sum(lp_es) AS s_es, sum(lp_fr) AS s_fr, sum(lp_zh) AS s_zh
      |  FROM w JOIN logp USING(word) GROUP BY w.doc_id)
      |SELECT d.doc_id, d.lang AS actual,
      |  CASE WHEN s_en IS NULL THEN 'unk'
      |       WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
      |       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
      |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
      |       WHEN s_en >= s_de THEN 'en'
      |       ELSE 'de' END AS pred
      |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    langIdPredictions(Tables.documents(s, dir), topNVocab = 20000).orderBy("doc_id")
  }

  val langIdLangs = Seq("de", "en", "es", "fr", "zh")

  /** Per-(lang, word) Laplace-smoothed log-probabilities fitted from the
    * corpus, scored per document, argmax.
    *
    * One fully distributed pass — no driver-side actions anywhere:
    * corpus totals and vocabulary size are a 1-row aggregate cross-joined
    * back (broadcast of one row), and the model is capped to the
    * `topNVocab` highest-total-count words via a distributed
    * TakeOrdered, so the scoring join broadcasts a bounded model no
    * matter how large the corpus vocabulary grows (an unbounded-vocab
    * broadcast dies at 100 TB). Out-of-model words simply don't vote;
    * docs with no in-model words predict "unk". */
  def langIdPredictions(docs: DataFrame, topNVocab: Int): DataFrame = {
    val langs = langIdLangs
    val words = docs.select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("word"))

    val counts = words.groupBy("word").pivot("lang", langs).count().na.fill(0L)
    // Laplace denominators over the FULL vocab (cap changes the model,
    // not the smoothing), as one broadcastable row
    val stats = counts.agg(
      count(lit(1)).as("_vocab"),
      langs.map(lg => sum(col(lg)).as(s"_tot_$lg")): _*)
    val model = counts
      .withColumn("_tot", langs.map(col).reduce(_ + _))
      .orderBy(col("_tot").desc, col("word")) // deterministic tiebreak
      .limit(topNVocab)
    val logp = model.crossJoin(broadcast(stats)).select(
      col("word") +: langs.map(lg =>
        log((col(lg) + 1.0) / (col(s"_tot_$lg") + col("_vocab").cast("double")))
          .as(s"lp_$lg")): _*)

    val scored = words
      .join(broadcast(logp), "word")
      .groupBy("doc_id")
      .agg(langs.map(lg => sum(s"lp_$lg").as(s"s_$lg")).head,
        langs.map(lg => sum(s"lp_$lg").as(s"s_$lg")).tail: _*)

    val best = langs.map(lg => struct(col(s"s_$lg").as("score"), lit(lg).as("lang")))
    // greatest() over structs with a null score field falls through to the
    // lang field and never returns null, so out-of-model/empty docs must be
    // guarded explicitly (all s_* are null together: one check suffices)
    docs.select(col("doc_id"), col("lang").as("actual"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("actual"),
        when(col(s"s_${langs.head}").isNull, lit("unk"))
          .otherwise(greatest(best: _*).getField("lang")).as("pred"))
  }

  /** Order-sensitive rolling content fingerprint per document — a scalar
    * per-row expression, so the whole operator is one map-only
    * projection: no join, no shuffle. The hash is
    * [[graft.functions.TextFunctions.crossEngineFingerprint]]: a
    * character fold per word, a word fold per document, all modular
    * integer arithmetic — which is what upgrades this entry from a
    * rows-only check to a FULL value oracle (DuckDB reproduces the fold
    * bit-for-bit with list_reduce; the empty word is pinned to 0 on both
    * sides since the engines' char-split of '' disagree). The sibling
    * 63-bit SimHash fingerprint stays covered by d04 and TextSpec (its
    * xxhash64 base is engine-local, so it cannot carry a value oracle). */
  val t04 = Q.sql(
    "t04_fingerprint",
    """WITH words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
      |SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT), list_transform(w, t ->
      |      CASE WHEN t = '' THEN CAST(0 AS BIGINT) ELSE
      |        list_reduce(
      |          list_prepend(CAST(0 AS BIGINT),
      |            list_transform(string_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
      |          (a, cp) -> (a * 33 + cp) % 2147483647)
      |      END)),
      |    (acc, wh) -> (acc * 1000003 + wh) % 2147483647) AS fingerprint
      |FROM words
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
        col("doc_id"),
        crossEngineFingerprint(tokens(col("text"))).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** TF-IDF document keywords (reference mllib/feature/HashingTF.scala:1 +
    * IDF.scala:1 semantics, unhashed): per-(doc, term) raw counts, corpus
    * document frequency, idf = ln(N/df), top-3 terms per doc by rounded
    * tfidf with a term-asc tiebreak. Every stage is a partial-aggregating
    * groupBy or key-equality join; the corpus size N travels as a 1-row
    * broadcast (no driver action). The df join shuffles on term — the
    * vocabulary-safe choice (a broadcast model caps vocab like t03; the
    * shuffle join never needs to). Ranking happens on the ROUNDED score so
    * a last-ulp ln() difference between engines cannot flip an order. */
  /** Hashed term frequencies (reference mllib/feature/HashingTF.scala:1
    * parity): term → feature index by hash mod numFeatures, tf counts
    * per (doc, feature) — the fixed-width bag-of-words that needs no
    * vocabulary pass at all (the property HashingTF exists for: at
    * 100 TB there is no dictionary to build, broadcast, or keep
    * consistent; the map side is stateless). The reference hashes with
    * String.hashCode; here the hash is t04's cross-engine djb2 char
    * fold, which is what upgrades this from a rows-only check to a FULL
    * DuckDB value oracle (identical indices on both engines). One
    * explode + one partial-agg groupBy; collisions are part of the
    * operator's contract (1024 features vs ~a few hundred corpus
    * terms). */
  val ht01 = Q.sql(
    "ht01_hashing_tf",
    """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      |              FROM documents)
      |SELECT doc_id,
      |  (CASE WHEN t = '' THEN CAST(0 AS BIGINT) ELSE
      |     list_reduce(
      |       list_prepend(CAST(0 AS BIGINT),
      |         list_transform(string_split(t, ''), c -> CAST(unicode(c) AS BIGINT))),
      |       (a, cp) -> (a * 33 + cp) % 2147483647)
      |   END) % 1024 AS feature,
      |  count(*) AS tf
      |FROM toks
      |GROUP BY 1, 2
      |ORDER BY doc_id, feature""".stripMargin) { (s, dir) =>
    val idx = pmod(when(col("t") === "", 0L).otherwise(wordFold(col("t"))), lit(1024L))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), idx.as("feature"))
      .groupBy("doc_id", "feature").agg(count(lit(1)).as("tf"))
      .orderBy("doc_id", "feature")
  }

  val t06 = Q.sql(
    "t06_tfidf",
    """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |              FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df, round(tf * ln(n * 1.0 / df), 6) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, tf, df, tfidf,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      |  FROM scored)
      |SELECT doc_id, term, tf, df, tfidf, rk FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
    tfidfTopTerms(Tables.documents(s, dir), k = 3).orderBy("doc_id", "rk")
  }

  /** Top-k TF-IDF terms per document — see [[t06]] for the scale notes. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count_distinct(col("doc_id")).as("n"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("n") * lit(1.0) / col("df")), 6).as("tfidf"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("doc_id", "term", "tf", "df", "tfidf", "rk")
  }

  /** Greedy sequence packing for training-context assembly: documents are
    * deterministically sliced by `doc_id % nParts` (NOT repartitionByRange,
    * whose sampled boundaries change run-to-run), sorted within each
    * slice, and filled first-fit into bins of `capacity` tokens. Bin ids
    * are namespaced by the SLICE KEY (`slice << 32 | local`), a pure
    * function of the data — never by TaskContext partition id, which is
    * not stable under plan composition (inside a union — e.g. the one
    * `exceptAll` builds — a branch's partitions get union-wide indexes).
    * Packing is SLICE-LOCAL — zero cross-slice coordination, which is the
    * whole 100 TB design: the only shuffle is the slice assignment, then
    * every executor packs its slices independently; the result is
    * byte-identical under ANY physical placement, coalescing included.
    * The per-slice imperative fill is the rare genuinely-sequential
    * kernel mapPartitions exists for (a bin's remaining space depends on
    * every prior doc in the slice).
    *
    * A doc longer than `capacity` gets a bin of its own (chunking it is
    * the tokenizer/trainer's call, not the packer's). Sequential
    * first-fit guarantees any two consecutive bins in a slice overflow
    * `capacity` together, so bin count < 2·total/capacity + P.
    */
  def packSequences(docs: DataFrame, capacity: Int, nParts: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      pmod(col("doc_id"), lit(nParts.toLong)).as("slice"))
    sized.repartition(nParts, col("slice"))
      .sortWithinPartitions("slice", "doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        // a physical partition may hold several slices (hash collisions);
        // the sort groups them contiguously, so one pass with a reset on
        // slice change packs each slice independently
        var cur = -1L
        var bin = 0L
        var used = 0L
        it.map { case (docId, n, slice) =>
          if (slice != cur) { cur = slice; bin = 0L; used = 0L }
          else if (used > 0 && used + n > capacity) { bin += 1; used = 0 }
          used += n
          (docId, n, (slice << 32) | bin)
        }
      }
      .toDF("doc_id", "n_tokens", "bin_id")
  }

  /** Registered packing pass: 256-token bins over 8 slices. The bin ids
    * are a pure function of the data (slice-local first-fit over the
    * doc_id order — see [[packSequences]]), so the whole assignment IS
    * SQL-expressible: the oracle replays the fold as a recursive CTE
    * stepping one document per slice per iteration (8 slices advance in
    * parallel; depth = largest slice, not the corpus). TextSpec keeps the
    * packing invariants — capacity, coverage, bin bound, determinism. */
  val t07 = Q.sql(
    "t07_pack_sequences",
    """WITH RECURSIVE docs2 AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n,
      |    doc_id % 8 AS slice,
      |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      |  FROM documents),
      |pack(slice, rn, doc_id, n, bin, used) AS (
      |  SELECT slice, rn, doc_id, n, CAST(0 AS BIGINT), n FROM docs2 WHERE rn = 1
      |  UNION ALL
      |  SELECT d.slice, d.rn, d.doc_id, d.n,
      |    CASE WHEN p.used + d.n > 256 THEN p.bin + 1 ELSE p.bin END,
      |    CASE WHEN p.used + d.n > 256 THEN d.n ELSE p.used + d.n END
      |  FROM pack p JOIN docs2 d ON d.slice = p.slice AND d.rn = p.rn + 1)
      |SELECT doc_id, n AS n_tokens, slice * 4294967296 + bin AS bin_id
      |FROM pack
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    packSequences(Tables.documents(s, dir), capacity = 256, nParts = 8)
      .orderBy("doc_id")
  }

  /** Approximate heavy hitters over the term stream
    * (DataFrameStatFunctions.freqItems — the Karp/Misra-Gries
    * one-pass sketch): the boilerplate/stopword-discovery primitive for
    * corpus cleaning. The sketch guarantees a SUPERSET of every term
    * with frequency > support using O(1/support) memory in one
    * distributed pass — no exact groupBy over an unbounded vocabulary.
    * The driver holds ≤ 1/support candidate terms (bounded by
    * construction, like k-means' centroid set). Rows-only (sketch
    * contents are engine-specific beyond the guarantee); TextSpec
    * asserts the superset property against exact counts. */
  def freqTerms(docs: DataFrame, support: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col("text"))).as("term"))
    toks.stat.freqItems(Seq("term"), support)
      .head.getSeq[String](0)
      .sorted.toDF("term")
  }

  /** The standard TWO-PASS exact heavy hitters built on [[freqTerms]]:
    * pass 1 is the Misra-Gries sketch (bounded O(1/support) candidate
    * superset, no exact groupBy over an unbounded vocabulary); pass 2
    * recounts ONLY the candidates (an isin filter over ≤1/support
    * literals, then a bounded groupBy) and keeps terms with frequency
    * strictly > support·N. By the sketch's superset guarantee the
    * result equals the exact heavy-hitter set — which is what makes the
    * r10 FULL value oracle sound: if the sketch ever dropped a true
    * heavy hitter, the output would miss a term DuckDB finds, so the
    * oracle verifies the guarantee itself, not just the recount. */
  def freqTermsExact(docs: DataFrame, support: Double): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("term"))
    val cands = toks.stat.freqItems(Seq("term"), support)
      .head.getSeq[String](0)
    val total = toks.count()
    toks.filter(col("term").isin(cands: _*))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").cast("double") > lit(total.toDouble) * lit(support))
  }

  val t08 = Q.sql(
    "t08_freq_terms",
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks)
      |SELECT term, count(*) AS cnt
      |FROM toks, tot
      |GROUP BY term, n
      |HAVING count(*) > n * 0.01
      |ORDER BY term""".stripMargin) { (s, dir) =>
    freqTermsExact(Tables.documents(s, dir), support = 0.01).orderBy("term")
  }

  /** Overlapping document chunking — the context-window prep that feeds
    * [[t07]]'s packer: token windows of 64 with stride 48 (16-token
    * overlap so no boundary context is lost), the partial tail kept
    * (unlike mm02's fixed frames — a trainer wants the text's end). All
    * column expressions: the token array is built once per row, the
    * chunk grid explodes from a closed-form count, slices are engine
    * `slice`/list ops — map-only until the final sort, fully
    * SQL-expressible, hence a full value oracle rather than a spec. */
  val t09 = Q.sql(
    "t09_chunk_overlap",
    """WITH words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w,
      |         len(regexp_split_to_array(trim(text), '\s+')) AS n
      |  FROM documents),
      |grid AS (
      |  SELECT doc_id, w, n,
      |    CASE WHEN n <= 64 THEN 1 ELSE (n - 17) // 48 + 1 END AS n_chunks
      |  FROM words)
      |SELECT doc_id, i AS chunk_idx,
      |  CAST(len(w[i * 48 + 1 : i * 48 + 64]) AS BIGINT) AS n_tokens,
      |  array_to_string(w[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
      |FROM grid, unnest(range(0, n_chunks)) t(i)
      |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    chunkGrid(Tables.documents(s, dir)).orderBy("doc_id", "chunk_idx")
  }

  /** t09's 64/48 overlapping chunk grid over any (doc_id, text) frame.
    * The tokenizer split is STAGED as an attribute before anything
    * consumes it (the t10 inlining lesson, applied here in r15): the
    * former single-select shape referenced the split Column three times
    * (`w` plus twice inside the chunk-count arithmetic), so the split —
    * the dominant per-row cost — ran 3× per row in both t09 and pl01.
    * `size` on an array ATTRIBUTE is O(1), so the chunk-count stage may
    * collapse freely once `w` is staged. */
  def chunkGrid(docs: DataFrame): DataFrame = {
    val n = size(col("w"))
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        when(n <= 64, lit(1L))
          .otherwise(((n - 17).cast("long") / 48).cast("long") + 1L).as("n_chunks"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("w", slice(col("w"), (col("chunk_idx") * 48 + 1).cast("int"), lit(64)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("w")).cast("long").as("n_tokens"),
        array_join(col("w"), " ").as("chunk_text"))
  }

  /** Composite training-data pipeline (r12): the end-to-end path a
    * pretraining corpus actually takes, as ONE registered query —
    * quality gate (t02's word-count measure, threshold 30 keeps ~80%
    * of this corpus: non-vacuous) → exact dedup (d01's keep-min rule)
    * → overlapping chunking (t09's 64/48 grid). Each stage reuses the
    * operator the suite already certifies; the value here is the
    * COMPOSITION: one declarative plan — filter, one shuffle for the
    * dedup groupBy, map-only chunk explode — that Catalyst pipelines
    * end-to-end, versus three materialized passes in an imperative
    * engine. FULL value oracle: DuckDB chains the same three stages. */
  val pl01 = Q.sql(
    "pl01_training_pipeline",
    """WITH kept AS (
      |  SELECT doc_id, text
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 30),
      |dedup AS (
      |  SELECT text, min(doc_id) AS doc_id FROM kept GROUP BY text),
      |words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w,
      |         len(regexp_split_to_array(trim(text), '\s+')) AS n
      |  FROM dedup),
      |grid AS (
      |  SELECT doc_id, w, n,
      |    CASE WHEN n <= 64 THEN 1 ELSE (n - 17) // 48 + 1 END AS n_chunks
      |  FROM words)
      |SELECT doc_id, i AS chunk_idx,
      |  CAST(len(w[i * 48 + 1 : i * 48 + 64]) AS BIGINT) AS n_tokens,
      |  array_to_string(w[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
      |FROM grid, unnest(range(0, n_chunks)) t(i)
      |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    val kept = Tables.documents(s, dir)
      .filter(size(tokens(col("text"))) >= 30)
    val dedup = kept.groupBy("text").agg(min("doc_id").as("doc_id"))
    chunkGrid(dedup).orderBy("doc_id", "chunk_idx")
  }

  /** Repetition-based quality signals (r13) — the Gopher-rules family
    * of filters a pretraining pipeline runs beside t02's length/punct
    * ratios: per-document duplicate-word and duplicate-3-gram fractions,
    * emitted as EXACT integer counts (total vs distinct) so the oracle
    * is pure integer arithmetic, plus the gate itself (`keep` iff
    * distinct 3-grams ≥ 30% of total — i.e. duplicate-gram fraction
    * ≤ 0.7, as 10·distinct ≥ 3·total in integers). Map-only: words,
    * grams, array_distinct and the flag are one codegen'd projection —
    * the 100 TB shape is a parquet scan plus projection. */
  val t10 = Q.sql(
    "t10_repetition",
    """WITH words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, w,
      |    list_transform(range(1, greatest(len(w) - 1, 1)),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g
      |  FROM words)
      |SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS total_words,
      |  CAST(len(list_distinct(w)) AS BIGINT) AS distinct_words,
      |  CAST(len(g) AS BIGINT) AS total_grams,
      |  CAST(len(list_distinct(g)) AS BIGINT) AS distinct_grams,
      |  len(list_distinct(g)) * 10 >= len(g) * 3 AS keep
      |FROM grams ORDER BY doc_id""".stripMargin) { (s, dir) =>
    repetitionStats(Tables.documents(s, dir)).orderBy("doc_id")
  }

  /** t10's computation over any (doc_id, text) frame: exact total vs
    * distinct word/3-gram counts + the keep gate (duplicate-3-gram
    * fraction ≤ 0.7 as 10·distinct ≥ 3·total). One map-only projection. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // STAGED projections so `w` and `g` are attribute references, not
    // inlined expressions: composing the Columns directly re-evaluates
    // the split inside every element_at (3 × n_grams splits per row —
    // measured 22 s vs 1.3 s at sf0.1). CollapseProject keeps the
    // stages apart because each alias is referenced several times by
    // non-cheap consumers.
    val w = col("w")
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), w,
        when(size(w) >= 3,
          transform(sequence(lit(0), size(w) - 3), i =>
            concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2),
              element_at(w, i + 3))))
          .otherwise(typedlit(Seq.empty[String])).as("g"))
      .select(col("doc_id"),
        size(w).cast("long").as("total_words"),
        size(array_distinct(w)).cast("long").as("distinct_words"),
        size(col("g")).cast("long").as("total_grams"),
        size(array_distinct(col("g"))).cast("long").as("distinct_grams"))
      .withColumn("keep", col("distinct_grams") * 10 >= col("total_grams") * 3)
  }

  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** General phone shape (r14, generalized from the planted-footer-only
    * `\+1-555-\d{4}` per the r13 verdict): three anchored alternatives —
    * +country prefix, parenthesized area, or a word-boundary-guarded
    * bare form — each ending at a word boundary, covering +1-555-0042,
    * 415-555-2671, (415) 555-2671, +1 415 555 2671. The `\b` guards
    * (ASCII word boundary in BOTH Java and RE2) keep the core
    * 3-sep-4 window from firing INSIDE longer digit runs (ZIP+4
    * '94107-1234', spaced card numbers), and '.' separators are
    * excluded so no IPv4 substring can match (the phone pass runs
    * BEFORE the IP pass). No backreferences/lookaround, and RE2's
    * leftmost preference order matches Java's backtracking preference
    * on this syntax, so Spark and the DuckDB oracle redact identical
    * spans. */
  private val phonePat =
    "\\+[0-9]{1,3}[- ](\\([0-9]{3}\\) ?|[0-9]{3}[- ])?[0-9]{3}[- ][0-9]{4}\\b" +
      "|\\([0-9]{3}\\) ?[0-9]{3}[- ][0-9]{4}\\b" +
      "|\\b[0-9]{3}[- ]([0-9]{3}[- ])?[0-9]{4}\\b"
  private val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII scrubbing (r13) — the redaction pass a training-data pipeline
    * runs before anything ships to a tokenizer: count and mask emails,
    * phone numbers and IPv4 addresses. The synthetic corpus carries no
    * PII, so the entry PLANTS a deterministic footer derived from doc_id
    * as column expressions (the mm04 wavPayload pattern — both engines
    * build the identical string, then the parser/redactor reads it back
    * from the data); the patterns avoid backtracking-only syntax so
    * Java regex (Spark) and RE2 (DuckDB) agree. FULL value oracle: the
    * per-kind match counts AND the redacted text itself hash-compare.
    * Map-only over the corpus — scan + projection at any scale. */
  val pii01 = Q.sql(
    "pii01_redact",
    s"""WITH planted AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |    '@example.com or +1-555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.0.' ||
      |    CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |    CAST((doc_id * 7) % 256 AS VARCHAR) AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '$emailPat')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '$phonePat')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(t, '$ipPat')) AS BIGINT) AS n_ips,
      |  regexp_replace(regexp_replace(regexp_replace(t,
      |    '$emailPat', '[EMAIL]', 'g'),
      |    '$phonePat', '[PHONE]', 'g'),
      |    '$ipPat', '[IP]', 'g') AS redacted
      |FROM planted ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val t = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" at 10.0."), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") * 7) % 256).cast("string"))
    redactPii(Tables.documents(s, dir).select(col("doc_id"), t.as("t")), "t")
      .orderBy("doc_id")
  }

  /** pii01's computation over any frame: per-kind match counts + the
    * redacted text (emails → [EMAIL], +1-555 phones → [PHONE], IPv4 →
    * [IP], replaced in that order). Patterns are RE2-compatible so the
    * DuckDB oracle replays them verbatim. */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.select(
      col("*"),
      size(regexp_extract_all(col(textCol), lit(emailPat), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(phonePat), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(col(textCol), lit(ipPat), lit(0)))
        .cast("long").as("n_ips"),
      regexp_replace(regexp_replace(regexp_replace(col(textCol),
        emailPat, "[EMAIL]"),
        phonePat, "[PHONE]"),
        ipPat, "[IP]").as("redacted"))
      .drop(textCol)

  /** The remaining Gopher document-level quality rules (r15 — Rae et
    * al. 2021, "Scaling Language Models: ... Gopher", Appendix A;
    * completing the public gate beside t02's length/punct/stopword
    * ratios and t10's repetition rules): word-count bounds [50, 1e5],
    * mean word length in [3, 10], symbol-to-word ratio ('#'/'...')
    * ≤ 0.1, ≤ 90% of lines bullet-led, ≤ 30% of lines
    * ellipsis-ended, ≥ 80% alphabetic words, and ≥ 2 distinct
    * stop words present (the stop list is t02's corpus-aware list —
    * Gopher's own {the, be, to, of, and, that, have, with} has ONE
    * member in this corpus's 31-word vocabulary, which would
    * fail every document; the rule's structure is what's ported).
    * Every rule is emitted as EXACT integer counts plus an
    * integer-comparison flag (mean word length as 3n ≤ chars ≤ 10n —
    * no float division anywhere), so the oracle replays all of it;
    * `keep` is the conjunction. Map-only: one staged projection, the
    * same 100 TB shape as t10. Non-vacuous on this corpus through the
    * word-count bound (documents run 10–99 words) and the ≥2-stops
    * rule; the line/symbol/alpha rules are exercised by planted
    * documents in TextSpec (this corpus has no newlines or symbols). */
  val t11 = Q.sql(
    "t11_quality_rules",
    s"""WITH parts AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w,
      |         string_split(text, chr(10)) AS ln
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(w) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_word_chars,
      |    CAST(len(list_filter(w, x -> contains(x, '#') OR contains(x, '...'))) AS BIGINT) AS n_symbol_words,
      |    CAST(len(ln) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(ln, l -> starts_with(l, '•') OR starts_with(l, '- '))) AS BIGINT) AS n_bullet_lines,
      |    CAST(len(list_filter(ln, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS BIGINT) AS n_ellipsis_lines,
      |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
      |    CAST(len(list_filter([${stops.map(w0 => s"'$w0'").mkString(",")}],
      |        s -> list_contains(w, s))) AS BIGINT) AS n_stop_hits
      |  FROM parts)
      |SELECT doc_id, n_words, sum_word_chars, n_symbol_words, n_lines,
      |  n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_stop_hits,
      |  n_words BETWEEN 50 AND 100000 AS wc_ok,
      |  3 * n_words <= sum_word_chars AND sum_word_chars <= 10 * n_words AS mwl_ok,
      |  10 * n_symbol_words <= n_words AS sym_ok,
      |  10 * n_bullet_lines <= 9 * n_lines AS bullet_ok,
      |  10 * n_ellipsis_lines <= 3 * n_lines AS ellipsis_ok,
      |  5 * n_alpha_words >= 4 * n_words AS alpha_ok,
      |  n_stop_hits >= 2 AS stops_ok,
      |  (n_words BETWEEN 50 AND 100000)
      |    AND (3 * n_words <= sum_word_chars AND sum_word_chars <= 10 * n_words)
      |    AND (10 * n_symbol_words <= n_words)
      |    AND (10 * n_bullet_lines <= 9 * n_lines)
      |    AND (10 * n_ellipsis_lines <= 3 * n_lines)
      |    AND (5 * n_alpha_words >= 4 * n_words)
      |    AND (n_stop_hits >= 2) AS keep
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    qualityRules(Tables.documents(s, dir)).orderBy("doc_id")
  }

  /** t11's computation over any (doc_id, text) frame: the Gopher rule
    * counts and flags, one map-only staged projection (tokens and lines
    * staged as attributes — the t10 inlining lesson — then integer
    * counts, then flags over count attributes, which collapse freely
    * because integer comparisons are cheap). */
  def qualityRules(docs: DataFrame): DataFrame = {
    val w = col("w")
    val ln = col("ln")
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"),
        split(col("text"), "\n").as("ln"))
      .select(col("doc_id"),
        size(w).cast("long").as("n_words"),
        aggregate(w, lit(0L), (a, x) => a + length(x)).as("sum_word_chars"),
        size(filter(w, x => x.contains("#") || x.contains("...")))
          .cast("long").as("n_symbol_words"),
        size(ln).cast("long").as("n_lines"),
        size(filter(ln, l => l.startsWith("•") || l.startsWith("- ")))
          .cast("long").as("n_bullet_lines"),
        size(filter(ln, l => l.endsWith("...") || l.endsWith("…")))
          .cast("long").as("n_ellipsis_lines"),
        size(filter(w, x => x.rlike("[a-zA-Z]")))
          .cast("long").as("n_alpha_words"),
        size(filter(typedlit(stops), s0 => array_contains(w, s0)))
          .cast("long").as("n_stop_hits"))
      .select(col("doc_id"), col("n_words"), col("sum_word_chars"),
        col("n_symbol_words"), col("n_lines"), col("n_bullet_lines"),
        col("n_ellipsis_lines"), col("n_alpha_words"), col("n_stop_hits"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("wc_ok"),
        (lit(3) * col("n_words") <= col("sum_word_chars") &&
          col("sum_word_chars") <= lit(10) * col("n_words")).as("mwl_ok"),
        (lit(10) * col("n_symbol_words") <= col("n_words")).as("sym_ok"),
        (lit(10) * col("n_bullet_lines") <= lit(9) * col("n_lines")).as("bullet_ok"),
        (lit(10) * col("n_ellipsis_lines") <= lit(3) * col("n_lines")).as("ellipsis_ok"),
        (lit(5) * col("n_alpha_words") >= lit(4) * col("n_words")).as("alpha_ok"),
        (col("n_stop_hits") >= 2).as("stops_ok"))
      .withColumn("keep",
        col("wc_ok") && col("mwl_ok") && col("sym_ok") && col("bullet_ok") &&
          col("ellipsis_ok") && col("alpha_ok") && col("stops_ok"))
  }

  /** Segment width (words) for [[d17]]: the synthetic corpus has no
    * newline structure, so fixed non-overlapping word windows stand in
    * for paragraphs. 20 words gives most documents 2–5 segments —
    * between d01's whole-doc granularity and d03/d04's near-dup grain. */
  val d17SegWidth = 20

  /** Segment-level exact dedup (r14) — the dedup granularity between d01
    * (whole document) and d03/d04 (near-duplicate): documents are cut
    * into fixed non-overlapping word windows (the paragraph proxy, see
    * [[d17SegWidth]]), each window is hashed, and duplicates are resolved
    * globally keep-first by (doc_id, seg_idx). Public pattern: Lee et
    * al. 2022's exact-substring/paragraph dedup levels, re-expressed
    * Spark-first as one explode + one hash groupBy + one hash join —
    * candidates meet only inside equal hash buckets, never all-pairs,
    * the same discipline as d01 (reference parity hook: the d01 groupBy,
    * TextOps.scala:19). FULL value oracle: segmentation, md5 and the
    * keep-first rule are pure string/hash arithmetic DuckDB replays. */
  val d17 = Q.audited(
    "d17_segment_dedup",
    s"""WITH words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      |  FROM documents),
      |segs AS (
      |  SELECT doc_id, i AS seg_idx,
      |    md5(array_to_string(w[i*$d17SegWidth+1 : i*$d17SegWidth+$d17SegWidth], ' ')) AS seg_hash
      |  FROM words, unnest(range(0, (len(w) + ${d17SegWidth - 1}) // $d17SegWidth)) t(i))
      |SELECT doc_id, seg_idx, seg_hash,
      |  count(*) OVER (PARTITION BY seg_hash) AS n_copies,
      |  row_number() OVER (PARTITION BY seg_hash ORDER BY doc_id, seg_idx) = 1 AS keep
      |FROM segs ORDER BY doc_id, seg_idx""".stripMargin) { (s, dir, audit) =>
    // the twin: identical plan with the 8-byte xxhash64 segment hash
    // riding the shuffle instead of oracle-imposed 32-char md5 hex
    segmentDedup(Tables.documents(s, dir), d17SegWidth, prodHash = !audit)
      .orderBy("doc_id", "seg_idx")
  }

  /** d17's computation over any (doc_id, text) frame: per-segment hash,
    * global copy count and the keep-first flag. Scale shape: the token
    * array is STAGED as an attribute (the t10 inlining lesson), segments
    * explode from a closed-form count, and the winner election is one
    * groupBy on the segment hash whose result joins back on the SAME
    * key. At bench SFs AQE plans the join as a broadcast (observed:
    * BroadcastHashJoin, segments side built); past the broadcast
    * threshold it falls back to a shuffled join where the probe-side
    * exchange is the identical subplan already feeding the aggregate —
    * either way candidates meet only inside equal hash buckets, whose
    * volume is the duplicate multiplicity, never a cross product. At
    * 100 TB the hash (32-char md5 hex; a trusted deployment would use
    * 8-byte xxhash64) rides the shuffle instead of the segment text.
    *
    * @param normalize apply the standard dedup-preprocessing fold
    *        before segmentation (Lee et al. 2022 §3: case-fold +
    *        whitespace-collapse), so segments differing only in casing
    *        or spacing hash equal. The REGISTERED entry keeps raw text
    *        (its oracle replays the raw bytes); pipelines wanting the
    *        normalized behavior opt in.
    * @param prodHash ship the PRODUCTION segment hash — 8-byte xxhash64
    *        instead of 32-char md5 hex — through the groupBy/join
    *        shuffle. md5 exists only so the DuckDB oracle can replay
    *        the hash; the d17 prod twin runs this path so the narrower
    *        shuffle is a measured number (t_prod), not a comment. */
  def segmentDedup(docs: DataFrame, width: Int,
                   normalize: Boolean = false,
                   prodHash: Boolean = false): DataFrame = {
    val w = col("w")
    val t0 = if (normalize) lower(col("text")) else col("text")
    def segHash(s: org.apache.spark.sql.Column) =
      if (prodHash) xxhash64(s) else md5(s)
    val segs = docs
      .select(col("doc_id"), tokens(t0).as("w"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            ((size(w) + lit(width - 1)) / lit(width)).cast("int") - 1),
          i => segHash(array_join(slice(w, i * width + 1, lit(width)), " "))))
          .as(Seq("seg_idx", "seg_hash")))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
        col("seg_hash"))
    val winners = segs.groupBy("seg_hash").agg(
      min(struct(col("doc_id"), col("seg_idx"))).as("win"),
      count(lit(1)).as("n_copies"))
    segs.join(winners, "seg_hash")
      .select(col("doc_id"), col("seg_idx"), col("seg_hash"), col("n_copies"),
        (col("win.doc_id") === col("doc_id") &&
          col("win.seg_idx") === col("seg_idx")).as("keep"))
  }

  /** Boundary modulus for [[d18]]: a token opens a new chunk when its
    * cross-engine char fold ≡ 0 (mod 8) — expected chunk length ~8
    * tokens. Shared by the Spark side and the oracle SQL. */
  val d18BoundaryMod = 8

  /** Content-defined chunking dedup (r14) — the ALIGNMENT-ROBUST
    * sibling of [[d17]]: d17's fixed windows miss a duplicated passage
    * that re-occurs at a shifted word offset (its windows tile from
    * position 0), while CDC (the rsync/LBFS/backup-dedup technique)
    * derives chunk boundaries from the CONTENT — a token opens a new
    * chunk iff its hash ≡ 0 mod [[d18BoundaryMod]] — so identical runs
    * produce identical interior chunks at ANY offset. Chunking is
    * row-local HOFs (map-only, zero shuffle); dedup is d17's one hash
    * groupBy + one same-key join. The boundary hash is t04/ht01's
    * cross-engine djb2 fold, which is what lets the FULL value oracle
    * replay boundary selection, slicing, md5 and keep-first exactly. */
  val d18 = Q.audited(
    "d18_cdc_dedup",
    s"""WITH words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      |  FROM documents),
      |marked AS (
      |  SELECT doc_id, w,
      |    list_filter(range(1, len(w)+1), i ->
      |      (CASE WHEN w[i]='' THEN 0 ELSE list_reduce(
      |         list_prepend(CAST(0 AS BIGINT),
      |           list_transform(string_split(w[i],''), c -> CAST(unicode(c) AS BIGINT))),
      |         (a,cp) -> (a*33+cp) % 2147483647) END) % $d18BoundaryMod = 0) AS bp
      |  FROM words),
      |st AS (
      |  SELECT doc_id, w,
      |    CASE WHEN len(bp) > 0 AND bp[1] = 1 THEN bp
      |         ELSE list_prepend(1, bp) END AS starts
      |  FROM marked),
      |segs AS (
      |  SELECT doc_id, j-1 AS seg_idx,
      |    md5(array_to_string(
      |      w[starts[j] : coalesce(starts[j+1], len(w)+1) - 1], ' ')) AS seg_hash
      |  FROM st, unnest(range(1, len(starts)+1)) t(j))
      |SELECT doc_id, seg_idx, seg_hash,
      |  count(*) OVER (PARTITION BY seg_hash) AS n_copies,
      |  row_number() OVER (PARTITION BY seg_hash ORDER BY doc_id, seg_idx) = 1 AS keep
      |FROM segs ORDER BY doc_id, seg_idx""".stripMargin) { (s, dir, audit) =>
    // the twin: xxhash64 chunk hash through the dedup shuffle
    cdcDedup(Tables.documents(s, dir), d18BoundaryMod, prodHash = !audit)
      .orderBy("doc_id", "seg_idx")
  }

  /** d18's computation over any (doc_id, text) frame: content-defined
    * chunks (boundary = wordFold(token) % mod == 0, the first chunk
    * starting at position 1 regardless), global keep-first + copy
    * counts by chunk hash. STAGED projections keep w/bp/starts as
    * attribute references (the t10 inlining lesson — each is consumed
    * by several non-cheap lambdas). `prodHash` ships 8-byte xxhash64
    * chunk hashes through the dedup shuffle instead of oracle-imposed
    * md5 hex (the d18 prod twin's measured path). */
  def cdcDedup(docs: DataFrame, boundaryMod: Int,
               prodHash: Boolean = false): DataFrame = {
    val w = col("w")
    val tokFold = (t: org.apache.spark.sql.Column) =>
      when(t === "", 0L).otherwise(graft.functions.TextFunctions.wordFold(t))
    def segHash(s: org.apache.spark.sql.Column) =
      if (prodHash) xxhash64(s) else md5(s)
    val segs = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), w,
        filter(sequence(lit(1), size(w)),
          i => pmod(tokFold(element_at(w, i)), lit(boundaryMod.toLong)) === 0)
          .as("bp"))
      .select(col("doc_id"), w,
        array_distinct(concat(array(lit(1)), col("bp"))).as("starts"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("starts")) - 1), j => {
          val s0 = get(col("starts"), j)
          val e0 = coalesce(get(col("starts"), j + 1), size(w) + 1)
          segHash(array_join(slice(w, s0, e0 - s0), " "))
        })).as(Seq("seg_idx", "seg_hash")))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
        col("seg_hash"))
    val winners = segs.groupBy("seg_hash").agg(
      min(struct(col("doc_id"), col("seg_idx"))).as("win"),
      count(lit(1)).as("n_copies"))
    segs.join(winners, "seg_hash")
      .select(col("doc_id"), col("seg_idx"), col("seg_hash"), col("n_copies"),
        (col("win.doc_id") === col("doc_id") &&
          col("win.seg_idx") === col("seg_idx")).as("keep"))
  }

  /** Eval-set membership modulus for [[ct01]]: documents with
    * doc_id % 10 == 0 play the held-out benchmark; the planted near-dup
    * pairs make the overlap non-vacuous at every SF. */
  val ct01EvalMod = 10

  /** Gram width for [[ct01]] — shared by the Spark side and the oracle
    * SQL so the two can never silently diverge. 13 is the public
    * decontamination standard (the GPT-3 appendix recipe). */
  val ct01N = 13

  /** Benchmark-contamination screen (r14) — the pretraining hygiene
    * check that keeps eval benchmarks out of the training set: every
    * training document's distinct 13-gram hashes are probed against the
    * eval set's 13-gram hash set (the public n-gram-overlap decontamination
    * recipe popularized by the GPT-3 appendix), and a document is flagged
    * when ≥10% of its distinct grams appear in the eval set. FULL value
    * oracle: tokenization, 13-gram slicing, md5 and the integer gate
    * (n_hit·10 ≥ n_grams) replay exactly in DuckDB. */
  val ct01 = Q.audited(
    "ct01_contamination",
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, md5(array_to_string(tk[i : i+${ct01N - 1}], ' ')) AS gh
      |  FROM toks, unnest(range(1, greatest(len(tk) - ${ct01N - 2}, 1))) t(i)),
      |evalg AS (SELECT DISTINCT gh FROM grams WHERE doc_id % $ct01EvalMod = 0),
      |base AS (SELECT doc_id, gh FROM grams WHERE doc_id % $ct01EvalMod <> 0)
      |SELECT b.doc_id, count(*) AS n_grams, count(e.gh) AS n_hit,
      |  count(e.gh) * 10 >= count(*) AS contaminated
      |FROM base b LEFT JOIN evalg e ON b.gh = e.gh
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, dir, audit) =>
    // the twin: xxhash64 gram hashes — narrow probe rows and a narrow
    // broadcast eval set instead of oracle-imposed md5 hex
    val docs = Tables.documents(s, dir)
    contaminationScreen(
      docs.filter(col("doc_id") % ct01EvalMod =!= 0),
      docs.filter(col("doc_id") % ct01EvalMod === 0),
      n = ct01N, prodHash = !audit)
      .orderBy("doc_id")
  }

  /** ct01's computation over any (doc_id, text) frames: per training doc
    * the distinct-n-gram count, how many of those grams appear anywhere
    * in the eval set, and the ≥10% contamination flag. Scale shape: the
    * gram sets are hashed (md5 here so the oracle replays it; a
    * trusted deployment would use xxhash64 to keep the shuffle narrow)
    * and de-duplicated per doc MAP-SIDE with array_distinct before the
    * explode, so each (doc, gram) rides once; ONE pass over the
    * training grams — a single left join against the eval gram set
    * feeds a single per-doc aggregate counting rows (n_grams) and
    * non-null hits (n_hit) together. With `broadcastEval` (default)
    * the probe is a broadcast join, the right shape when the eval set
    * is a fixed benchmark; the REGISTERED entry's doc_id%10 slice is a
    * corpus-fraction STAND-IN for one (fine at bench SFs, and the
    * driver's correctness SF), so a deployment whose eval side does
    * grow with the corpus must pass broadcastEval=false and take the
    * shuffled hash join. Docs shorter than `n` tokens have no grams
    * and drop out (same on both engines). `prodHash` switches both
    * sides' gram hashes to 8-byte xxhash64 — narrow probe rows and a
    * narrow eval set (the ct01 prod twin's measured path). */
  def contaminationScreen(train: DataFrame, evalDocs: DataFrame,
                          n: Int = 13,
                          broadcastEval: Boolean = true,
                          prodHash: Boolean = false): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val w = col("w")
      def gramHash(s: org.apache.spark.sql.Column) =
        if (prodHash) xxhash64(s) else md5(s)
      val empty =
        if (prodHash) typedlit(Seq.empty[Long]) else typedlit(Seq.empty[String])
      df.select(col("doc_id"), tokens(col("text")).as("w"))
        .select(col("doc_id"),
          explode(array_distinct(
            when(size(w) >= n,
              transform(sequence(lit(0), size(w) - n),
                i => gramHash(array_join(slice(w, i + 1, lit(n)), " "))))
              .otherwise(empty))).as("gh"))
    }
    val tr = grams(train)
    val ev0 = grams(evalDocs).select("gh").distinct().withColumn("hit", lit(1))
    val ev = if (broadcastEval) broadcast(ev0) else ev0
    tr.join(ev, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .withColumn("contaminated", col("n_hit") * 10 >= col("n_grams"))
  }

  val all: Seq[Q] = Seq(d01, t01, t02, t03, t04, t06, t07, t08, t09, ht01,
    pl01, t10, t11, pii01, d17, d18, ct01)
}
