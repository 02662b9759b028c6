package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.GraftFunctions.floatCosine

class SimilaritySpec extends SparkTestBase {

  test("d02 finds the planted near-duplicate pairs with high Jaccard") {
    val pairs = Similarity.d02.run(spark, sfDir).cache()
    assert(pairs.count() > 0, "corpus contains planted near-dups; none found")
    assert(pairs.filter(col("jaccard") < 0.5 || col("jaccard") > 1.0).count() == 0)
  }

  test("minhash LSH recalls every exact pair with Jaccard >= 0.9") {
    val exact = Similarity.d02.run(spark, sfDir)
      .filter(col("jaccard") >= 0.9)
      .select("d1", "d2")
    val lsh = Similarity.d03.run(spark, sfDir).select("d1", "d2")
    val missed = exact.except(lsh)
    assert(exact.count() > 0, "need at least one high-Jaccard pair for recall test")
    assert(missed.count() == 0, s"LSH missed pairs: ${missed.collect().mkString(",")}")
  }

  test("planted identical docs collide under minhash (est=1.0) and simhash (hamming=0)") {
    val docs = Tables.documents(spark, sfDir)
    val planted = docs.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val withDups = docs.unionByName(planted)

    val mh = Similarity.minhashLshPairs(withDups, k = 32, bands = 8, minEstJaccard = 0.99)
      .filter(col("d2") >= 1000000L && col("d1") === col("d2") - 1000000L)
    assert(mh.count() == 3, "every identical pair must be an LSH candidate with est 1.0")

    val sh = graft.functions.TextFunctions
      .simhash63Agg(withDups, "doc_id", graft.functions.TextFunctions.tokens(col("text")))
    val joined = sh.as("a").join(sh.as("b"),
        col("a.doc_id") === col("b.doc_id") - 1000000L)
      .select(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
    assert(joined.filter(col("h") =!= 0).count() == 0)
  }

  test("d05 brute-force top-k: 5 neighbors per query, descending similarity") {
    val got = Similarity.d05.run(spark, sfDir).cache()
    assert(got.groupBy("qid").count().filter(col("count") =!= 5).count() == 0)
    val bad = got.as("a").join(got.as("b"),
        col("a.qid") === col("b.qid") && col("a.rk") === col("b.rk") - 1 &&
          col("a.sim6") < col("b.sim6"))
    assert(bad.count() == 0, "similarity must be non-increasing in rank")
  }

  test("ANN LSH finds a planted duplicate vector as its top neighbor") {
    val emb = Tables.embeddings(spark, sfDir)
    val planted = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(999999L))
    val withDup = emb.unionByName(planted)
    // NON-prefix query set: the caller-supplied (qid, qe) contract means
    // any ids work — query from the PLANTED end of the id space and from
    // the corpus middle, not vec_id < 10
    val mid = emb.agg(expr("percentile(vec_id, 0.5)")).head.getDouble(0).toLong
    val queries = withDup
      .filter(col("vec_id") === 999999L || col("vec_id") === mid)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ann = Similarity.annLshTopK(withDup, queries, nPlanes = 4, k = 5)
    val top = ann.filter(col("qid") === 999999L)
      .orderBy("rk").limit(1).collect()
    assert(top.nonEmpty, "query 999999 found no candidates in its bucket")
    assert(top.head.getLong(1) == 0L,
      s"planted duplicate must be rank-1 (sim=1), got ${top.head}")
    assert(ann.filter(col("qid") === mid).count() > 0,
      "mid-corpus query must also return neighbors")
  }

  test("pair cache recomputes when the corpus changes at the same path; evict drops storage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pairs-cache").toString
    val docs = Tables.documents(spark, sfDir)
    // corpus v1: two identical docs -> exactly one jaccard-1.0 pair
    docs.filter(col("doc_id") === 0)
      .unionByName(docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(999L)))
      .write.mode("overwrite").parquet(dir)
    def pairsNow() = Similarity.jaccardPairsShared(
      spark.read.parquet(dir), dir, dfCap = Similarity.d02DfCap, minJaccard = 0.5)
    val v1 = pairsNow()
    assert(v1.count() == 1)
    // same snapshot -> the SAME persisted DataFrame instance comes back
    assert(pairsNow() eq v1)
    // corpus v2 at the same path: three copies -> three pairs; a stale
    // cache would still say 1
    Thread.sleep(1100) // ensure mtime moves even on coarse filesystems
    docs.filter(col("doc_id") === 0)
      .unionByName(docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(998L)))
      .unionByName(docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(999L)))
      .write.mode("overwrite").parquet(dir)
    val v2 = pairsNow()
    assert(v2.count() == 3, "changed corpus at the same path must recompute")
    assert(v2.storageLevel.useMemory || v2.storageLevel.useDisk)
    Similarity.evictPairsCache(spark)
    assert(v2.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "evictPairsCache must unpersist the cached stage")
  }

  test("d02 df-cap drops an ultra-common shingle and bounds its candidates") {
    import TestSpark.spark.implicits._
    // 200 docs sharing ONE hot phrase (df=200 ≫ cap) but otherwise unique,
    // plus one genuine near-dup pair whose shared grams stay under the cap
    val hot = (0 until 200).map(i =>
      (i.toLong, s"unique$i alpha$i beta$i gamma$i delta$i common hot shingle phrase"))
    val dup = Seq(
      (9000L, "the quick brown fox jumps over the lazy dog tonight"),
      (9001L, "the quick brown fox jumps over the lazy dog tonight"))
    val docs = (hot ++ dup).toDF("doc_id", "text")
    val pairs = Similarity.jaccardPairs(docs, dfCap = 100, minJaccard = 0.1)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((9000L, 9001L)),
      s"hot-shingle fanout must be capped away, near-dup kept; got ${pairs.mkString(",")}")
    // without the cap the hot gram alone would generate ~200²/2 candidates
    val uncapped = Similarity.jaccardPairs(docs, dfCap = 100000, minJaccard = 0.1)
    assert(uncapped.count() >= pairs.length)
  }

  test("cache-bypass path materializes the shingle stage once for all three consumers") {
    import TestSpark.spark.implicits._
    val docs = (0 until 40).map { i =>
      val base = s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
      (i.toLong, if (i % 2 == 1) s"alpha${i - 1} beta${i - 1} gamma${i - 1} delta${i - 1} epsilon${i - 1} eta$i" else base)
    }.toDF("doc_id", "text")
    val shared = Similarity.jaccardPairs(docs, dfCap = 100, minJaccard = 0.3,
      shareShingleStage = true)
    // the checkpoint cut the lineage: the consumer plan holds NO trace of
    // the explode — sizes and both self-join sides read the one
    // materialized gram stage instead of re-running it
    val p = shared.queryExecution.executedPlan.toString
    assert(!p.contains("hashed_word_grams"),
      s"shared plan still recomputes the shingle stage:\n$p")
    // and it changes nothing semantically vs the unshared plan
    val plain = Similarity.jaccardPairs(docs, dfCap = 100, minJaccard = 0.3)
    assert(shared.select("d1", "d2").except(plain.select("d1", "d2")).count() == 0)
    assert(plain.select("d1", "d2").except(shared.select("d1", "d2")).count() == 0)
    assert(plain.queryExecution.executedPlan.toString.contains("hashed_word_grams"))
  }

  test("ANN multi-probe recall@5 vs brute force >= 0.6") {
    val brute = Similarity.d05.run(spark, sfDir).select("qid", "cid")
    val ann = Similarity.d06.run(spark, sfDir).select("qid", "cid")
    val total = brute.count()
    val hits = brute.intersect(ann).count()
    assert(total > 0)
    val recall = hits.toDouble / total
    assert(recall >= 0.6, s"recall@5 = $recall below 0.6 ($hits/$total)")
  }

  test("IVF equals brute force exactly on planted well-separated clusters") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // 4 orthogonal-direction clusters of 25 vectors: each vector is its
    // cluster's axis plus a tiny distinct perturbation, so every true
    // neighbor shares the query's cell and top-1-of-2 probing provably
    // contains the whole brute-force top-5
    val dim = 64
    val rows = for (c <- 0 until 4; i <- 0 until 25) yield {
      val v = Array.fill(dim)(0.001f * ((c * 25 + i) % 7))
      v(c * 16) = 1.0f
      v((c * 16 + 1 + i % 15)) = 0.05f + 0.001f * i
      Row((c * 25 + i).toLong, v.toSeq)
    }
    val emb = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ivf = Similarity.ivfTopK(emb, queries, nCells = 4, iters = 8,
        nProbe = 2, k = 5)
      .select(col("qid"), col("cid"), round(col("sim"), 6).as("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    val brute = queries
      .join(emb.select(col("vec_id").as("cid"), col("embedding").as("ce")),
        col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        floatCosine(col("qe"), col("ce")).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("qid"), col("cid"), round(col("sim"), 6).as("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf == brute,
      s"IVF must equal brute force on separable clusters: ${ivf.diff(brute)}")
  }

  test("d16 certificates hold and the prod twin matches the gated ranking") {
    val full = Similarity.d16.run(spark, sfDir).collect()
    assert(full.length == 50)
    assert(full.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      "a d16 certificate flag flipped")
    val prod = Similarity.d16.prod.get(spark, sfDir)
    assert(prod.count() == 50)
  }

  test("ANN buckets agree with brute force on shared candidates") {
    val ann = Similarity.d06.run(spark, sfDir)
      .select(col("qid"), col("cid"), col("sim6"))
    val brute = Similarity.d05.run(spark, sfDir)
      .select(col("qid"), col("cid"), col("sim6").as("bsim"))
    val joined = ann.join(brute, Seq("qid", "cid"))
      .filter(col("sim6") =!= col("bsim"))
    assert(joined.count() == 0, "same pair must score identically in both paths")
  }
}
