package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{LoopState, Q, Tables}
import graft.functions.TextFunctions.tokens

/** Byte-pair-encoding vocabulary induction (r15) — the standard
  * LLM-pipeline tokenizer-training stage (Sennrich, Haddow & Birch,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016): repeatedly count adjacent symbol pairs over the corpus
  * word frequencies and merge the most frequent pair into one symbol.
  *
  * Scale shape (the lda01 loop discipline): the CORPUS-scale work is
  * exactly one tokenize + one groupBy(word) count — after that every
  * round runs on the VOCABULARY-scale (word, n) table, each round ONE
  * partial-aggregated pair count whose winner (a single row) comes
  * back as bounded driver state and is applied to the segmentation as
  * a plan-literal string replace. Driver state is the merge list
  * itself — `merges` rows, never corpus- or vocabulary-sized.
  *
  * Cross-engine exactness: a word's segmentation is ONE STRING of
  * bracket-wrapped symbols ("low" → "(l)(o)(w)" with angle brackets),
  * so applying a merge is a plain string replace of "(l)(r)" by
  * "(lr)" — left-to-right non-overlapping in BOTH engines, and the
  * brackets make occurrence tests exact: a pair match always spans
  * two complete symbols, never the interior of one. Pair
  * counts are integer sums with (count DESC, lhs, rhs) lexicographic
  * tie-breaks, so the full merge table carries a FULL value oracle:
  * the DuckDB SQL unrolls the rounds as materialized CTEs (lp01's
  * pattern). Sentinels require '&lt;'/'&gt;'-free tokens — given on this
  * corpus ([a-z] only); a general deployment would map bytes first.
  * Both the trainer and [[encode]] ENFORCE that precondition in-plan
  * (r15 advisor): a token containing a bracket raises an error at the
  * vocabulary boundary instead of silently mis-segmenting — the check
  * rides the existing projection (no extra job, no hot-path regex).
  */
object Bpe {

  /** In-plan sentinel guard: `word` must not contain the '&lt;'/'&gt;'
    * bracket sentinels the segmentation strings are built from — a
    * bracketed token would let a pair replace span symbol boundaries
    * and corrupt the segmentation with no error. Evaluates to `word`
    * or raises. */
  private def guarded(word: Column): Column =
    when(contains(word, lit("<")) || contains(word, lit(">")),
      raise_error(concat(
        lit("BPE tokens must not contain '<' or '>' (map bytes first): "),
        word)).cast("string"))
      .otherwise(word)

  /** Merge rounds for [[t12]] — far below the corpus's ~100+ available
    * pair slots at every SF, so a winning pair always exists; shared
    * with the oracle SQL through the generator below. */
  val t12Merges = 32

  /** The bracket-segmented word-frequency table (seg, n) every trainer
    * round iterates over — the corpus-scale work happens exactly once
    * here (tokenize + groupBy(word)); everything after is
    * vocabulary-scale. */
  private def initialSegs(docs: DataFrame): DataFrame =
    LoopState.cut(docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(regexp_replace(guarded(col("w")), "(.)", "<$1>").as("seg"), col("n")),
      eager = true)

  /** Weighted adjacent-pair counts (l, r, cnt) of a segmentation table:
    * stage the symbol array (the t10 inlining lesson), explode adjacent
    * pairs weighted by word count, ONE partial-aggregated groupBy. */
  private def pairCounts(segs: DataFrame): DataFrame =
    segs
      .select(col("n"),
        split(regexp_replace(col("seg"), "^<|>$", ""), "><").as("sym"))
      .filter(size(col("sym")) >= 2)
      .select(col("n"),
        explode(transform(sequence(lit(0), size(col("sym")) - 2),
          i => struct(element_at(col("sym"), i + 1).as("l"),
            element_at(col("sym"), i + 2).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("n").as("cnt"))

  /** One merge applied to a segmentation column: a plain left-to-right
    * non-overlapping string replace of the bracket-wrapped pair. */
  private def applyMerge(seg: Column, l: String, r: String): Column =
    replace(seg, lit("<" + l + "><" + r + ">"), lit("<" + l + r + ">"))

  /** The learned merge table (step, lhs, rhs, cnt) over any
    * (doc_id, text) frame. One pair-count job + one collect per merge —
    * the exact sequential definition; [[bpeVocabBatched]] collapses the
    * round count for production vocabulary sizes. */
  def bpeVocab(docs: DataFrame, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var segs = initialSegs(docs)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (step <- 0 until merges) {
      // the winner is deterministic by (cnt DESC, lhs, rhs)
      val win = pairCounts(segs)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      require(win.nonEmpty,
        s"BPE ran dry after $step merges — lower the merge count")
      val (l, r, cnt) =
        (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
      out += ((step.toLong, l, r, cnt))
      segs = segs.select(applyMerge(col("seg"), l, r).as("seg"), col("n"))
      // lineage cut every few rounds: the chain is one thin projection
      // per round over a vocabulary-sized table
      if ((step + 1) % 8 == 0) segs = LoopState.cut(segs, eager = false) // next round's count materializes (r16)
    }
    out.toSeq.toDF("step", "lhs", "rhs", "cnt")
  }

  /** [[bpeVocab]] with BATCHED rounds — the production path for 32k+
    * merge vocabularies, where one driver round-trip per merge is the
    * wall-clock (each round is a full pair-count job over the
    * vocabulary table). Per round it takes a PREFIX of the sorted
    * candidate list and applies all of it in ONE plan, collapsing the
    * round count by the accepted-prefix length while returning the
    * EXACT sequential merge table (BpeSpec pins batched ≡ sequential on
    * the classic, adversarial and seeded random corpora).
    *
    * Why a prefix of sorted candidates c₁ ≥ c₂ ≥ … (by cnt DESC, l, r)
    * is exactly equivalent to running them sequentially — cⱼ is accepted
    * only while BOTH hold:
    *
    *  1. SYMBOL-DISJOINT from every accepted cᵢ (i<j), with NO skipping
    *     — the batch STOPS at the first overlap. Merging cᵢ never
    *     changes the count of a symbol-disjoint pair (the replaced
    *     two-symbol block neither contains nor creates an adjacency of
    *     other symbols), and only ever DECREASES counts of overlapping
    *     pairs — so at cⱼ's sequential step every original pair still
    *     ranks where the prefix order put it: strictly after cⱼ (equal
    *     counts resolve by the same (l, r) lex order, and decreases
    *     only push them further back).
    *  2. cnt(cⱼ) is STRICTLY above every accepted cᵢ's new-pair bound
    *     Bᵢ = max(maxIn(lᵢ), maxOut(rᵢ)), where maxIn(s)/maxOut(s) are
    *     the max ORIGINAL counts over pairs (·,s)/(s,·). A merge mᵢ =
    *     lᵢrᵢ creates only pairs (x, mᵢ) — each occurrence was
    *     (x, lᵢ), so its count ≤ maxIn(lᵢ) — or (mᵢ, y) ≤ maxOut(rᵢ)
    *     (this also covers (mᵢ, mᵢ) ≤ cnt(rᵢ, lᵢ) and cross-member
    *     (mᵢ, mⱼ) ≤ cnt(rᵢ, lⱼ)). Strictness sidesteps lex comparison
    *     against synthetic symbols entirely.
    *
    *  3. no EARLIER accepted member's merged STRING lᵢrᵢ is an existing
    *     symbol occurring in a current pair. The segmentation conflates
    *     symbols by their string, so if "ab" already pairs somewhere,
    *     merging (a,b) INCREASES the count of the original pairs
    *     (·,"ab")/("ab",·) — the one way a "symbol-disjoint" pair's
    *     count can move up, which would break the prefix ranking for
    *     members AFTER it; such a member is valid at its own step and
    *     closes the batch. (Two batch members may still produce the
    *     same fresh string: their bracket patterns are disjoint by
    *     rule 1, so the replaces — and hence the next round's table —
    *     equal the sequential ones.)
    *
    * Under 1+2+3, cⱼ is the (cnt DESC, l, r) argmax of the table the
    * sequential trainer would see at its step, with its ORIGINAL count
    * (disjointness invariance) — so batch replay = sequential replay,
    * merge for merge, count for count. Every round costs ONE job, the
    * same as a sequential round: candidates and per-symbol max tables
    * are two aggregations of the same pair-count shuffle (union +
    * ReuseExchange), collected together (≤ batch + 2·|symbols| rows —
    * symbols grow one per merge, so driver state stays model-sized);
    * when the data defeats batching the prefix legitimately degenerates
    * to length 1 and the round equals a sequential round.
    *
    * @param batch max candidates fetched per round (accepted prefix is
    *              usually shorter); driver state stays O(batch + merges)
    */
  def bpeVocabBatched(docs: DataFrame, merges: Int, batch: Int = 8): DataFrame =
    bpeVocabBatchedTracked(docs, merges, batch)._1

  /** [[bpeVocabBatched]] plus the number of ROUNDS actually run (driver
    * round-trips = pair-count jobs) — the observable the batching
    * exists to shrink; BpeSpec and SCALING.md read it. */
  def bpeVocabBatchedTracked(docs: DataFrame, merges: Int, batch: Int = 8)
      : (DataFrame, Int) = {
    require(batch >= 1, s"batch $batch")
    val spark = docs.sparkSession
    import spark.implicits._
    var rounds = 0
    var segs = initialSegs(docs)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var sinceCut = 0
    while (out.length < merges) {
      val want = math.min(batch, merges - out.length)
      // ONE job per round, same as a sequential round: the top-`want`
      // candidates and the per-symbol max tables are two aggregations
      // of the SAME pair-count shuffle, unioned so ReuseExchange shares
      // the vocabulary-scale pass; the collect is bounded by
      // want + 2·|symbols| rows (symbols grow by one per merge)
      val pc = pairCounts(segs)
      val topB = pc.orderBy(col("cnt").desc, col("l"), col("r")).limit(want)
        .select(lit("top").as("kind"), col("l").as("a"), col("r").as("b"),
          col("cnt"))
      val sym = pc.select(explode(array(
          struct(lit("in").as("side"), col("r").as("s"), col("cnt").as("c")),
          struct(lit("out").as("side"), col("l").as("s"), col("cnt").as("c"))))
          .as("e"))
        .groupBy(col("e.side").as("a"), col("e.s").as("b"))
        .agg(max(col("e.c")).as("cnt"))
        .select(lit("sym").as("kind"), col("a"), col("b"), col("cnt"))
      val rows = topB.unionAll(sym).collect()
      // the union does not preserve branch ordering, so re-sort driver-
      // side — by UNSIGNED UTF-8 BYTES, Spark's string order (Java's
      // UTF-16 compareTo diverges on supplementary characters, which
      // would silently flip tie-breaks vs the sequential trainer)
      def u8 = (s: String) => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      def less(a: (String, String, Long), b: (String, String, Long)): Boolean = {
        if (a._3 != b._3) return a._3 > b._3
        val cl = java.util.Arrays.compareUnsigned(u8(a._1), u8(b._1))
        if (cl != 0) return cl < 0
        java.util.Arrays.compareUnsigned(u8(a._2), u8(b._2)) < 0
      }
      val top = rows.filter(_.getString(0) == "top")
        .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
        .sortWith(less)
      require(top.nonEmpty,
        s"BPE ran dry after ${out.length} merges — lower the merge count")
      val maxIn = rows.filter(r => r.getString(0) == "sym" && r.getString(1) == "in")
        .map(r => r.getString(2) -> r.getLong(3)).toMap
      val maxOut = rows.filter(r => r.getString(0) == "sym" && r.getString(1) == "out")
        .map(r => r.getString(2) -> r.getLong(3)).toMap
      // rule 3: symbols occurring in any pair (either side's max table
      // lists them all) whose string a candidate merge would reproduce
      val colliding: String => Boolean =
        s => maxIn.contains(s) || maxOut.contains(s)
      // greedy PREFIX: stop at the first overlap or non-strict bound; a
      // member whose own merged string collides (rule 3) is still valid
      // AT ITS OWN STEP but taints every later one, so it closes the
      // batch after being accepted
      val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val used = scala.collection.mutable.HashSet.empty[String]
      var maxB = Long.MinValue
      var go = true
      for (c @ (l, r, cnt) <- top if go) {
        if (accepted.nonEmpty && (used(l) || used(r) || cnt <= maxB)) {
          go = false
        } else {
          accepted += c
          used += l
          used += r
          maxB = math.max(maxB,
            math.max(maxIn.getOrElse(l, 0L), maxOut.getOrElse(r, 0L)))
          if (colliding(l + r)) go = false
        }
      }
      for ((l, r, cnt) <- accepted)
        out += ((out.length.toLong, l, r, cnt))
      // all accepted merges in ONE projection, applied in batch order
      segs = segs.select(
        accepted.foldLeft(col("seg")) { case (acc, (l, r, _)) =>
          applyMerge(acc, l, r)
        }.as("seg"), col("n"))
      sinceCut += 1
      rounds += 1
      // a batched round appends up to `batch` replaces to the projection
      // chain, so cut twice as often as the sequential trainer
      if (sinceCut % 2 == 0) segs = LoopState.cut(segs, eager = false) // next round's count materializes (r16)
    }
    (out.toSeq.toDF("step", "lhs", "rhs", "cnt"), rounds)
  }

  /** The SERVING side of [[bpeVocab]] — apply a learned merge list to
    * tokenize text (Sennrich et al.'s subword encoding): each word is
    * bracket-wrapped per character and the merges apply IN TRAINING
    * ORDER as chained left-to-right string replaces (identical
    * semantics to the trainer's own segmentation update), then the
    * bracket string splits back into subword tokens. Entirely map-only
    * — one codegen'd projection, zero shuffle — the 100 TB tokenization
    * shape; the merge list rides in the plan as literals. Each word
    * evaluates the whole chain once (the fold builds one nested
    * expression per array element — no multi-reference inlining).
    *
    * @return (doc_id, subwords: array&lt;string&gt;) */
  def encode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    require(merges.forall { case (l, r) =>
      !(l + r).exists(c => c == '<' || c == '>') },
      "BPE merge symbols must not contain '<' or '>'")
    def segmented(word: org.apache.spark.sql.Column) =
      merges.foldLeft(regexp_replace(guarded(word), "(.)", "<$1>")) {
        case (acc, (l, r)) =>
          replace(acc, lit("<" + l + "><" + r + ">"), lit("<" + l + r + ">"))
      }
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        flatten(transform(col("w"), word =>
          // an empty token (whitespace-only doc) yields NO subwords —
          // split("") would emit [""] where the char-map emits nothing
          when(word === "", typedlit(Seq.empty[String]))
            .otherwise(
              split(regexp_replace(segmented(word), "^<|>$", ""), "><"))))
          .as("subwords"))
  }

  /** The oracle replays every round: s_k = segmentations after k
    * merges, p_k = weighted pair counts, m_k = round k's winner; all
    * MATERIALIZED so the chain can't inline exponentially. */
  private def oracleSql(merges: Int): String = {
    val rounds = (0 until merges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT sym[i] AS l, sym[i+1] AS r, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(seg, '<>'), '><') AS sym, n FROM s$k),
         |       unnest(range(1, len(sym))) t(i)
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (
         |  SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |s${k + 1} AS MATERIALIZED (
         |  SELECT replace(seg, '<' || m.l || '><' || m.r || '>',
         |                 '<' || m.l || m.r || '>') AS seg, n
         |  FROM s$k, m$k m)""".stripMargin
    }.mkString(",\n")
    val union = (0 until merges)
      .map(k => s"SELECT CAST($k AS BIGINT) AS step, l AS lhs, r AS rhs, cnt FROM m$k")
      .mkString("\nUNION ALL ")
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, count(*) AS n FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents)
       |  GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS seg, n FROM words),
       |$rounds
       |SELECT * FROM ($union)
       |ORDER BY step""".stripMargin
  }

  /** Registered BPE pass: [[t12Merges]] merges over the documents
    * corpus, FULL value oracle (the merge table is deterministic
    * integer counting — the oracle SQL above is generated from the
    * same constant, so widths can never drift). */
  val t12 = Q.sql("t12_bpe_vocab", oracleSql(t12Merges)) { (s, dir) =>
    bpeVocab(Tables.documents(s, dir), t12Merges).orderBy("step")
  }

  val all: Seq[Q] = Seq(t12)
}
