package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.TextOps

class TextSpec extends SparkTestBase {

  test("t03 self-trained language ID beats chance, matching the ideal NB bound") {
    // The synthetic corpus draws all languages from one shared vocabulary
    // with mildly different weights: an *ideal* unigram NB tops out at
    // ~34% here (5 classes, 20% chance). The distributed implementation
    // must reach that bound, not a number the data cannot support.
    val got = TextOps.t03.run(spark, sfDir).cache()
    val total = got.count()
    val correct = got.filter(col("pred") === col("actual")).count()
    assert(total > 0)
    val acc = correct.toDouble / total
    assert(acc >= 0.30, s"lang-id accuracy $acc vs 0.2 chance / ~0.34 ideal")
  }

  test("t03 builds its whole plan with zero driver-side jobs") {
    val sc = spark.sparkContext
    // table read happens outside the group: parquet footer/schema
    // inference may run a scan-layer job, which is not operator logic
    val docs = Tables.documents(spark, sfDir)
    sc.setJobGroup("t03-build", "t03 plan construction must be lazy")
    val df = TextOps.langIdPredictions(docs, topNVocab = 20000)
    sc.clearJobGroup()
    Thread.sleep(500) // let the listener bus drain any (unexpected) job events
    assert(sc.statusTracker.getJobIdsForGroup("t03-build").isEmpty,
      "constructing t03 must not run collect()/count() driver actions")
    assert(df.count() > 0)
  }

  test("t03 vocab cap keeps one row per doc even when most words fall out of the model") {
    val docs = Tables.documents(spark, sfDir)
    val capped = TextOps.langIdPredictions(docs, topNVocab = 50)
    assert(capped.count() == docs.count(), "left join + unk fallback must keep coverage")
  }

  test("t03 predicts 'unk' for empty and fully out-of-model docs") {
    val base = Tables.documents(spark, sfDir).limit(20)
    val planted = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(9000001L, "", "en"),
        org.apache.spark.sql.Row(9000002L, "zzqx9 vvkk7 qqpp3", "fr")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType))))
    val docs = base.select("doc_id", "text", "lang").unionByName(planted)
    // cap the vocab so the planted nonsense words cannot enter the model
    val preds = TextOps.langIdPredictions(docs, topNVocab = 30)
      .filter(col("doc_id") >= 9000000L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(preds(9000001L) == "unk", "empty doc must predict unk, not a struct-ordering artifact")
    assert(preds(9000002L) == "unk", "out-of-model doc must predict unk")
  }

  test("rolling fingerprint is order-sensitive; simhash is order-invariant") {
    import java.util.Collections
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "alpha beta gamma delta"),
        org.apache.spark.sql.Row(2L, "delta gamma beta alpha"),
        org.apache.spark.sql.Row(3L, "alpha beta gamma delta")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
    val fp = df.select(col("doc_id"),
        TextFunctions.rollingFingerprint(TextFunctions.tokens(col("text"))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1) == fp(3), "identical text must fingerprint equal")
    assert(fp(1) != fp(2), "permuted text must fingerprint differently")

    // the cross-engine (t04) variant keeps the same contract
    val xfp = df.select(col("doc_id"),
        TextFunctions.crossEngineFingerprint(TextFunctions.tokens(col("text"))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(xfp(1) == xfp(3), "identical text must fingerprint equal (cross-engine)")
    assert(xfp(1) != xfp(2), "permuted text must fingerprint differently (cross-engine)")

    val sh = TextFunctions.simhash63Agg(df, "doc_id", TextFunctions.tokens(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1) == sh(2), "simhash over the token multiset is permutation-invariant")
    assert(sh(1) == sh(3))
  }

  test("chi-squared selection ranks a label-tied term first and a label-blind term nowhere") {
    import TestSpark.spark.implicits._
    // 200 docs, two labels; "marker" appears iff label == aa (perfectly
    // discriminative), "common" appears everywhere (χ² = 0), fillers
    // vary the vocabulary
    val docs = (0 until 200).map { i =>
      val label = if (i % 2 == 0) "aa" else "bb"
      val marker = if (label == "aa") " marker" else ""
      (i.toLong, s"common filler$i$marker", label)
    }.toDF("doc_id", "text", "lang")
    val top = operators.Features.chiSqSelect(docs, "lang", k = 5, minDf = 10L)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(top.head._2 == "marker", s"discriminative term must rank 1: ${top.mkString(",")}")
    assert(top.head._3 > 100.0, "perfect 100/100-vs-0 split must score high")
    val common = top.find(_._2 == "common")
    assert(common.forall(_._3 == 0.0), "label-blind term must score 0")
    // determinism across runs (ranking on rounded χ², term tiebreak)
    val again = operators.Features.chiSqSelect(docs, "lang", k = 5, minDf = 10L)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(top.toSeq == again.toSeq)
  }

  test("d01 exact dedup collapses planted duplicates to the smallest doc_id") {
    val docs = Tables.documents(spark, sfDir)
    val planted = docs.limit(5)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val withDups = docs.unionByName(planted)
    val deduped = withDups.groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    assert(deduped.filter(col("n_copies") >= 2).count() == 5)
    assert(deduped.filter(col("doc_id") >= 1000000L).count() == 0,
      "winner must be the original, smaller doc_id")
  }

  test("t01/t02 emit one row per document with sane ranges") {
    val t1 = TextOps.t01.run(spark, sfDir)
    val t2 = TextOps.t02.run(spark, sfDir)
    val n = Tables.documents(spark, sfDir).count()
    assert(t1.count() == n && t2.count() == n)
    assert(t1.filter(col("n_ws_tokens") <= 0 || col("n_subwords") < col("n_ws_tokens")).count() == 0)
    assert(t2.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1).count() == 0)
  }

  test("ht01 hashing-TF: indices in range, mass equals token count, hash stable") {
    import TestSpark.spark.implicits._
    val out = TextOps.ht01.run(spark, sfDir).cache()
    try {
      assert(out.filter(col("feature") < 0 || col("feature") >= 1024).count() == 0)
      // total tf mass == total whitespace tokens (collisions merge cells,
      // never drop counts)
      val mass = out.agg(sum("tf")).head.getLong(0)
      val toks = Tables.documents(spark, sfDir)
        .select(sum(size(graft.functions.TextFunctions.tokens(col("text")))))
        .head.getLong(0)
      assert(mass == toks, s"tf mass $mass vs $toks tokens")
      // the same term hashes to the same feature everywhere: hashing one
      // known word twice through the column fold is stable
      val idx = Seq("spark", "spark").toDF("t")
        .select(pmod(graft.functions.TextFunctions.wordFold(col("t")), lit(1024L)))
        .collect().map(_.getLong(0))
      assert(idx.distinct.length == 1 && idx.head >= 0 && idx.head < 1024)
    } finally out.unpersist()
  }

  test("t06 tfidf ranks the rare term above the ubiquitous one") {
    import TestSpark.spark.implicits._
    // "banana" appears in every doc (idf = ln 1 = 0); each doc's rare term
    // must outrank it no matter how often banana repeats
    val docs = Seq(
      (1L, "apple apple banana banana banana"),
      (2L, "cherry banana banana"),
      (3L, "durian banana")).toDF("doc_id", "text")
    val top = TextOps.tfidfTopTerms(docs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top == Map(1L -> "apple", 2L -> "cherry", 3L -> "durian"),
      s"rare terms must win on idf, got $top")
    // exact scores: tf * ln(3/1) for the winners
    val scores = TextOps.tfidfTopTerms(docs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(math.abs(scores(1L) - math.round(2 * math.log(3.0) * 1e6) / 1e6) < 1e-9)
    assert(math.abs(scores(3L) - math.round(math.log(3.0) * 1e6) / 1e6) < 1e-9)
  }

  test("t08 freqItems returns a superset of every truly-frequent term") {
    val docs = Tables.documents(spark, sfDir)
    val sketch = TextOps.freqTerms(docs, support = 0.01)
      .collect().map(_.getString(0)).toSet
    val toks = docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    val total = toks.count()
    val exactHot = toks.groupBy("term").count()
      .filter(col("count") > total * 0.01)
      .collect().map(_.getString(0)).toSet
    assert(exactHot.nonEmpty, "corpus must have at least one frequent term")
    assert(exactHot.subsetOf(sketch),
      s"sketch missed frequent terms: ${exactHot -- sketch}")
    // the two-pass recount (the registered t08) equals the exact
    // heavy-hitter set, counts included
    val twoPass = TextOps.freqTermsExact(docs, support = 0.01)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactCounts = toks.groupBy("term").count()
      .filter(col("count") > total * 0.01)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(twoPass == exactCounts,
      s"two-pass heavy hitters must equal the exact set: $twoPass vs $exactCounts")
  }

  test("t07 packing respects capacity, covers every doc, stays near the bin lower bound") {
    val docs = Tables.documents(spark, sfDir)
    val packed = TextOps.packSequences(docs, capacity = 256, nParts = 8).cache()
    val nDocs = docs.count()
    assert(packed.count() == nDocs, "every doc packed exactly once")
    assert(packed.select("doc_id").distinct().count() == nDocs)
    // a bin may exceed capacity ONLY as a single oversized doc
    val overfull = packed.groupBy("bin_id")
      .agg(sum("n_tokens").as("fill"), count(lit(1)).as("n"))
      .filter(col("fill") > 256 && col("n") > 1)
    assert(overfull.count() == 0, "multi-doc bins must fit the capacity")
    // sequential first-fit: consecutive bins overflow together, so
    // binCount < 2*total/capacity + nParts
    val total = packed.agg(sum("n_tokens")).head.getLong(0)
    val bins = packed.select("bin_id").distinct().count()
    assert(bins < 2 * total / 256 + 8 + 1, s"$bins bins for $total tokens is too loose")
    val again = TextOps.packSequences(docs, capacity = 256, nParts = 8)
    assert(packed.exceptAll(again).isEmpty && again.exceptAll(packed).isEmpty,
      "packing must be deterministic")
    packed.unpersist()
  }

  test("t10 repetition counts are exact on planted docs and the gate fires on loops") {
    import TestSpark.spark.implicits._
    // doc 1: 'a b c a b c a b c' — 9 words / 3 distinct, 7 3-grams of
    // which 3 distinct ('a b c','b c a','c a b') → 3·10 ≥ 7·3 → keep.
    // doc 2: 'x x x x x x x x x x' — 10 words / 1 distinct, 8 grams /
    // 1 distinct → 10 < 24 → drop. doc 3: 2 words → 0 grams → keep.
    val docs = Seq((1L, "a b c a b c a b c"),
      (2L, "x x x x x x x x x x"), (3L, "hi there")).toDF("doc_id", "text")
    val got = graft.operators.TextOps.repetitionStats(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(got(1L) == ((9L, 3L, 7L, 3L, true)), s"doc1 ${got(1L)}")
    assert(got(2L) == ((10L, 1L, 8L, 1L, false)), s"doc2 ${got(2L)}")
    assert(got(3L) == ((2L, 2L, 0L, 0L, true)), s"doc3 ${got(3L)}")
  }

  test("t11 Gopher rules: each planted violation trips exactly its own flag") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      // 0: clean — 50 words, sane lengths, two stops, no lines/symbols
      (0L, (Seq("the", "a") ++ (1 to 48).map(i => s"word$i")).mkString(" ")),
      // 1: too short (10 words) — wc_ok fails, everything else passes
      (1L, "the a tiny doc of ten small plain words here"),
      // 2: mean word length > 10 — mwl_ok fails
      (2L, (Seq("the", "a") ++ (1 to 48).map(_ => "extraordinarily")).mkString(" ")),
      // 3: symbol-heavy — >10% words contain '#' or '...'
      (3L, (Seq("the", "a") ++ (1 to 8).map(_ => "#tag") ++
        (1 to 40).map(i => s"word$i")).mkString(" ")),
      // 4: bullet-led lines — every line starts '- '
      (4L, (1 to 5).map(i => s"- the a bullet item $i " +
        (1 to 6).map(j => s"w$i$j").mkString(" ")).mkString("\n")),
      // 5: ellipsis-ended lines — 2 of 5 lines end '...'
      (5L, Seq("the a start", "trailing off...", "more words here...",
        "solid line here", "the a final words " + (1 to 36).map(i => s"w$i").mkString(" "))
        .mkString("\n")),
      // 6: numeric — most words have no alphabetic char
      (6L, (Seq("the", "a") ++ (1 to 48).map(i => (i * 137).toString)).mkString(" ")),
      // 7: no stop words at all
      (7L, (1 to 50).map(i => s"word$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.qualityRules(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    def flags(id: Long) = Seq("wc_ok", "mwl_ok", "sym_ok", "bullet_ok",
      "ellipsis_ok", "alpha_ok", "stops_ok")
      .map(f => f -> got(id).getAs[Boolean](f)).toMap
    assert(flags(0L).values.forall(identity) && got(0L).getAs[Boolean]("keep"))
    assert(!flags(1L)("wc_ok") && flags(1L)("mwl_ok") && flags(1L)("stops_ok"))
    assert(!flags(2L)("mwl_ok") && flags(2L)("wc_ok"))
    assert(!flags(3L)("sym_ok") && got(3L).getAs[Long]("n_symbol_words") == 8L)
    assert(!flags(4L)("bullet_ok") && got(4L).getAs[Long]("n_bullet_lines") == 5L)
    assert(!flags(5L)("ellipsis_ok") && got(5L).getAs[Long]("n_ellipsis_lines") == 2L
      && got(5L).getAs[Long]("n_lines") == 5L)
    assert(!flags(6L)("alpha_ok") && flags(6L)("wc_ok"))
    assert(!flags(7L)("stops_ok") && got(7L).getAs[Long]("n_stop_hits") == 0L)
    (1L to 7L).foreach(i => assert(!got(i).getAs[Boolean]("keep"), s"doc $i must be gated"))
    // integer certificates: counts reconcile with the flag arithmetic
    assert(got(2L).getAs[Long]("sum_word_chars") >
      10 * got(2L).getAs[Long]("n_words"))
  }

  test("pii01 redaction masks every planted email/phone/IP and leaves clean text alone") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "reach me at alice.smith+work@sub.example.org today"),
      (2L, "call +1-555-0142 or visit 192.168.1.255 now"),
      (3L, "no pii here at all")).toDF("doc_id", "t")
    val got = graft.operators.TextOps.redactPii(docs, "t").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got(1L) == ((1L, 0L, 0L, "reach me at [EMAIL] today")), s"${got(1L)}")
    assert(got(2L) == ((0L, 1L, 1L, "call [PHONE] or visit [IP] now")), s"${got(2L)}")
    assert(got(3L) == ((0L, 0L, 0L, "no pii here at all")), s"${got(3L)}")
    // the registered entry plants one of each per document — counts must
    // be exactly (1,1,1) everywhere and no raw pattern survives
    val entry = graft.operators.TextOps.pii01.run(spark, sfDir).cache()
    assert(entry.filter(col("n_emails") =!= 1 || col("n_phones") =!= 1 ||
      col("n_ips") =!= 1).count() == 0)
    assert(entry.filter(col("redacted").rlike("@|\\+1-555|[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"))
      .count() == 0, "raw PII survived redaction")
  }

  test("pii01 generalized phone shapes redact whole; IPs and plain numbers stay intact") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "dial 415-555-2671 now"),
      (2L, "office (415) 555-2671 ext 9"),
      (3L, "intl +1 415 555 2671 works"),
      (4L, "footer form +1-555-0042 kept"),
      (5L, "ip 10.0.36.252 is not a phone"),
      (6L, "year 2024 and zip 94107 alone are not phones"),
      (7L, "zip plus four 94107-1234 is not a phone"),
      (8L, "card 4111 1111 1111 1111 is not a phone")).toDF("doc_id", "t")
    val got = graft.operators.TextOps.redactPii(docs, "t").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(4))).toMap
    assert(got(1L) == ((1L, "dial [PHONE] now")), s"${got(1L)}")
    assert(got(2L) == ((1L, "office [PHONE] ext 9")), s"${got(2L)}")
    assert(got(3L) == ((1L, "intl [PHONE] works")), s"${got(3L)}")
    assert(got(4L) == ((1L, "footer form [PHONE] kept")), s"${got(4L)}")
    assert(got(5L) == ((0L, "ip [IP] is not a phone")), s"${got(5L)}")
    assert(got(6L) == ((0L, "year 2024 and zip 94107 alone are not phones")),
      s"${got(6L)}")
    // the word-boundary guards: the 3-sep-4 core must not fire INSIDE
    // longer digit runs (ZIP+4, spaced card numbers)
    assert(got(7L) == ((0L, "zip plus four 94107-1234 is not a phone")),
      s"${got(7L)}")
    assert(got(8L) == ((0L, "card 4111 1111 1111 1111 is not a phone")),
      s"${got(8L)}")
  }

  test("pl01 composes gate -> dedup -> chunk with one aggregation shuffle, non-vacuous stages") {
    val docs = Tables.documents(spark, sfDir)
    // plan shape FIRST (before .cache() — the cache manager would
    // substitute an InMemoryRelation into any identical later plan):
    // the only width-changing shuffle is the dedup groupBy (plus the
    // final presentation sort); gate and chunk explode stay map-side
    // on documents written as two files: over one file the dedup
    // groupBy runs in the scan's task (asserted below)
    val plan0 = withTwoFileTables("documents") { dir =>
      graft.operators.TextOps.pl01.run(spark, dir).queryExecution.executedPlan.toString
    }
    val exchanges0 = "Exchange hashpartitioning".r.findAllIn(plan0).length
    assert(exchanges0 == 1,
      s"expected exactly one hash shuffle, got $exchanges0:\n${plan0.take(900)}")
    val onePlan = graft.operators.TextOps.pl01.run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!onePlan.contains("Exchange"),
      s"one-file documents still shuffle:\n${onePlan.take(900)}")
    // r15: the tokenizer split is STAGED — once in the gate filter, once
    // in the post-dedup chunk grid (the former single-select shape
    // inlined it 3× post-shuffle; bounds guard against regex rot too)
    val plSplits = "split\\(trim\\(text".r.findAllIn(plan0).length
    assert(plSplits >= 1 && plSplits <= 2,
      s"pl01 tokenizer staged $plSplits times (0 = guard regex rotted, " +
        s">2 = staging collapsed):\n${plan0.take(900)}")
    val t09plan = graft.operators.TextOps.t09.run(spark, sfDir)
      .queryExecution.executedPlan.toString
    val t09Splits = "split\\(trim\\(text".r.findAllIn(t09plan).length
    assert(t09Splits == 1,
      s"t09 tokenizer staged $t09Splits times:\n${t09plan.take(900)}")
    val out = graft.operators.TextOps.pl01.run(spark, sfDir).cache()
    val total = docs.count()
    val kept = docs
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= 30)
      .count()
    // the gate and the dedup both actually remove something
    assert(kept < total, "quality gate must be non-vacuous")
    assert(kept > total / 2, "quality gate must not gut the corpus")
    val survivors = out.select("doc_id").distinct().count()
    // dedup exactness: one survivor per distinct gated text (at this
    // spec SF the planted duplicates may all be short docs the gate
    // removes, so assert the identity, not strict shrinkage)
    val distinctTexts = docs
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= 30)
      .select("text").distinct().count()
    assert(survivors == distinctTexts, "dedup must keep exactly one doc per text")
    // chunks reconstruct their documents: per doc, chunk 0 starts it and
    // token counts follow the 64/48 grid
    assert(out.filter(col("chunk_idx") === 0).count() == survivors)
    assert(out.filter(col("n_tokens") > 64 || col("n_tokens") < 1).count() == 0)
    out.unpersist()
  }

  test("d17/d18/ct01 production twins (xxhash64 shuffle) agree with the md5 entries verdict-for-verdict") {
    // the twin changes ONLY the hash riding the shuffle (32-char md5 hex
    // → 8-byte xxhash64); every verdict column must be identical
    for (q <- Seq(graft.operators.TextOps.d17, graft.operators.TextOps.d18)) {
      val entry = q.run(spark, sfDir)
        .select("doc_id", "seg_idx", "n_copies", "keep")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      val twin = q.prod.get(spark, sfDir)
        .select("doc_id", "seg_idx", "n_copies", "keep")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(entry.toSeq == twin.toSeq,
        s"${q.name} twin diverged from its entry")
    }
    val ct = graft.operators.TextOps.ct01
    val ctEntry = ct.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val ctTwin = ct.prod.get(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(ctEntry.toSeq == ctTwin.toSeq, "ct01 twin diverged from its entry")
  }

  test("d17 segment dedup: keep-first by (doc_id, seg_idx), exact copy counts, partial tails") {
    import TestSpark.spark.implicits._
    // width 3: doc 1 → [a b c][d e f]; doc 2 → [a b c][x]; doc 3 → [x]
    // 'a b c' duplicates across docs 1,2 (winner (1,0)); the PARTIAL
    // tail 'x' of doc 2 equals the whole of doc 3 (winner (2,1) — the
    // struct min orders by doc_id first).
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c x"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.segmentDedup(docs, width = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(got.size == 5, s"5 segments expected, got $got")
    assert(got((1L, 0L)) == ((2L, true)), "first writer keeps 'a b c'")
    assert(got((2L, 0L)) == ((2L, false)), "doc 2's copy of 'a b c' drops")
    assert(got((1L, 1L)) == ((1L, true)))
    assert(got((2L, 1L)) == ((2L, true)), "earliest doc keeps the shared tail")
    assert(got((3L, 0L)) == ((2L, false)))
    // deterministic across runs
    val again = graft.operators.TextOps.segmentDedup(docs, width = 3)
    val first = graft.operators.TextOps.segmentDedup(docs, width = 3)
    assert(first.exceptAll(again).isEmpty && again.exceptAll(first).isEmpty)
    // normalize=true folds case and spacing before hashing (Lee et al.
    // preprocessing), so casing/spacing twins dedup; raw mode keeps them
    val twins = Seq((1L, "The Quick Fox"), (2L, "the  quick   fox"))
      .toDF("doc_id", "text")
    val raw = graft.operators.TextOps.segmentDedup(twins, width = 3)
    assert(raw.filter(col("n_copies") === 2).count() == 0, "raw mode must not fold")
    val norm = graft.operators.TextOps.segmentDedup(twins, width = 3, normalize = true)
    val nm = norm.collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(nm == Map(1L -> true, 2L -> false), s"normalized twins must dedup: $nm")
  }

  test("d17 matches a driver-side reference implementation on a seeded random corpus") {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(1414L)
    // small vocab forces plenty of cross-doc segment collisions
    val docs = (0L until 80L).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i, (0 until n).map(_ => s"w${rnd.nextInt(4)}").mkString(" "))
    }
    val width = 3
    // reference: segment → md5 → global keep-first by (doc_id, seg_idx)
    val refSegs = docs.flatMap { case (id, text) =>
      val w = text.trim.split("\\s+").toSeq
      val nSeg = (w.size + width - 1) / width
      (0 until nSeg).map { s =>
        val seg = w.slice(s * width, s * width + width).mkString(" ")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(seg.getBytes("UTF-8")).map("%02x".format(_)).mkString
        (id, s.toLong, md)
      }
    }
    val byHash = refSegs.groupBy(_._3)
    val ref = refSegs.map { case (id, s, h) =>
      val grp = byHash(h)
      (id, s, h, grp.size.toLong, grp.minBy(g => (g._1, g._2)) == ((id, s, h)))
    }.toSet
    val got = graft.operators.TextOps
      .segmentDedup(docs.toDF("doc_id", "text"), width).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(got == ref, s"diff: ${(got diff ref).take(3)} / ${(ref diff got).take(3)}")
  }

  test("d18 CDC chunks align at any offset: interior duplicates found where d17 misses them") {
    import TestSpark.spark.implicits._
    // classify words by the same djb2 fold the operator uses
    def fold(t: String): Long =
      t.foldLeft(0L)((a, c) => (a * 33 + c.toLong) % 2147483647L)
    val words = (0 until 200).map(i => s"t$i")
    val bWords = words.filter(w => fold(w) % 8 == 0)
    val xWords = words.filter(w => fold(w) % 8 != 0)
    assert(bWords.size >= 2 && xWords.size >= 6, "word pool too small")
    val (b1, b2) = (bWords(0), bWords(1))
    val Seq(x1, x2, x3, x4, x5, p) = xWords.take(6)
    // A's chunks: [x1 x2][b1 x3 x4][b2 x5]; B = p-prefixed A, so its
    // chunks are [p x1 x2][b1 x3 x4][b2 x5] — the two INTERIOR chunks
    // are identical to A's despite the 1-token offset
    val a = s"$x1 $x2 $b1 $x3 $x4 $b2 $x5"
    val docs = Seq((1L, a), (2L, s"$p $a")).toDF("doc_id", "text")
    val cdc = graft.operators.TextOps
      .cdcDedup(docs, graft.operators.TextOps.d18BoundaryMod).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(cdc.size == 6, s"3 chunks per doc expected: $cdc")
    assert(cdc((1L, 1L)) == ((2L, true)) && cdc((2L, 1L)) == ((2L, false)),
      s"interior chunk [b1 x3 x4] must dedup across the offset: $cdc")
    assert(cdc((1L, 2L)) == ((2L, true)) && cdc((2L, 2L)) == ((2L, false)),
      s"interior chunk [b2 x5] must dedup across the offset: $cdc")
    assert(cdc((1L, 0L)) == ((1L, true)) && cdc((2L, 0L)) == ((1L, true)),
      "the offset-bearing first chunks differ and both survive")
    // the SAME pair through d17's aligned windows: no duplicate at all —
    // the alignment sensitivity d18 exists to fix
    val aligned = graft.operators.TextOps.segmentDedup(docs, width = 3)
    assert(aligned.filter(col("n_copies") > 1).count() == 0,
      "aligned windows must miss the shifted duplicate (else this spec is vacuous)")
  }

  test("ct01 matches a driver-side reference implementation on a seeded random corpus") {
    import TestSpark.spark.implicits._
    val rnd = new scala.util.Random(2828L)
    val n = 4
    val docs = (0L until 60L).map { i =>
      val len = 1 + rnd.nextInt(15)
      (i, (0 until len).map(_ => s"w${rnd.nextInt(3)}").mkString(" "))
    }
    def gramsOf(text: String): Set[String] = {
      val w = text.trim.split("\\s+").toSeq
      if (w.size < n) Set.empty
      else (0 to w.size - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
    }
    val isEval = (id: Long) => id % 5 == 0
    val evalGrams = docs.filter(d => isEval(d._1)).flatMap(d => gramsOf(d._2)).toSet
    val ref = docs.filterNot(d => isEval(d._1)).flatMap { case (id, text) =>
      val g = gramsOf(text)
      if (g.isEmpty) None
      else {
        val hit = g.count(evalGrams)
        Some((id, g.size.toLong, hit.toLong, hit * 10 >= g.size))
      }
    }.toSet
    val df = docs.toDF("doc_id", "text")
    val got = graft.operators.TextOps.contaminationScreen(
      df.filter(col("doc_id") % 5 =!= 0), df.filter(col("doc_id") % 5 === 0), n = n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == ref, s"diff: ${(got diff ref).take(3)} / ${(ref diff got).take(3)}")
  }

  test("ct01 contamination screen: exact distinct-gram hit counts and the 10% gate") {
    import TestSpark.spark.implicits._
    val evalDocs = Seq((100L, "q w e r t")).toDF("doc_id", "text")
    // doc 1 shares 2 of its 5 distinct 3-grams with eval (2·10 ≥ 5);
    // doc 2 shares none; doc 3 is shorter than n and must drop out
    val train = Seq(
      (1L, "q w e r z z z"), (2L, "a b c d"), (3L, "a b"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps
      .contaminationScreen(train, evalDocs, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.size == 2, s"doc 3 has no 3-grams and must be absent: $got")
    assert(got(1L) == ((5L, 2L, true)), s"doc1 ${got(1L)}")
    assert(got(2L) == ((2L, 0L, false)), s"doc2 ${got(2L)}")
    // the registered entry is non-vacuous on the corpus: at least one
    // contaminated doc (the planted near-dup pairs straddle the eval
    // modulus) and the eval docs themselves are excluded
    val entry = graft.operators.TextOps.ct01.run(spark, sfDir).cache()
    assert(entry.filter(col("doc_id") % graft.operators.TextOps.ct01EvalMod === 0)
      .count() == 0)
    assert(entry.filter(col("contaminated")).count() >= 1,
      "contamination screen is vacuous on the test corpus")
    entry.unpersist()
  }
}
