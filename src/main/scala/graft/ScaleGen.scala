package graft

import org.apache.spark.sql.functions._

/** Scale-up generator for the in-sandbox scaling experiment (SCALING.md):
  * replicates an sf directory `factor`× with remapped keys so the heavy
  * queries can be timed at 10× the data WITHOUT changing the data's
  * CHARACTER — the point is to measure the ENGINE's scaling, not to
  * manufacture denser duplicate families or heavier co-purchase support:
  *
  *  - documents: per-replica token suffix ("the_3 quick_3 ...") keeps
  *    every intra-replica near-dup pair exactly as in the source but
  *    drives cross-replica Jaccard to 0 — pair volume scales ×factor
  *    (linear), never ×factor² (which identical copies would produce).
  *  - embeddings: vec_ids offset per replica; elements get a small
  *    deterministic per-replica jitter so replicas are near but not
  *    identical (ANN buckets keep realistic density).
  *  - lineitem: order AND part keys offset per replica (the part offset
  *    a multiple of 8, preserving scc01's class sharding), so the
  *    co-purchase/succession graphs become `factor` disjoint copies —
  *    triangle, SCC and shortest-path work scales linearly by
  *    construction and any super-linear runtime is the ENGINE's fault.
  *
  * Usage: ScaleGen <srcSfDir> <dstDir> <factor>
  * Only the three tables the heavy queries read are generated.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = SparkEntry.localSession(defaultCpus = 32)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    val docsUp = (0 until factor).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(transform(split(trim(col("text")), "\\s+"),
          t => concat(t, lit(s"_$k"))), " ")
      val rest = docs.columns.filter(c => c != "doc_id" && c != "text").map(col)
      docs.select(
        (Seq((col("doc_id") + k * maxDoc).as("doc_id"), text.as("text")) ++ rest): _*)
    }.reduce(_ unionByName _)
    docsUp.write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    val embUp = (0 until factor).map { k =>
      val jittered = transform(col("embedding"), (x, i) =>
        (x + lit(0.003f) * ((pmod(col("vec_id") * 11 + i * 13 + k * 31, lit(7)) - 3)
          .cast("float"))).cast("float"))
      emb.select((col("vec_id") + k * maxVec).as("vec_id"), jittered.as("embedding"))
    }.reduce(_ unionByName _)
    embUp.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // one shared order-key offset keeps orders⋈lineitem joinable per
    // replica (orders' key space is the superset); ONE shared customer
    // offset spans orders.o_custkey, events.user_id AND customer.c_custkey
    // so both the orders⋈customer and events⋈customer join RATES stay
    // constant per replica (customer is replicated below with the same
    // offset)
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val evSrc = spark.read.parquet(s"$src/events.parquet")
    val maxOrd = math.max(
      ord.agg(max("o_orderkey")).head.getLong(0),
      li.agg(max("l_orderkey")).head.getLong(0)) + 1
    val custOff = Seq(
      ord.agg(max("o_custkey")).head.getLong(0),
      cust.agg(max("c_custkey")).head.getLong(0),
      evSrc.agg(max("user_id")).head.getLong(0)).max + 1
    val ordUp = (0 until factor).map { k =>
      val rest = ord.columns.filter(c => c != "o_orderkey" && c != "o_custkey").map(col)
      ord.select(
        (Seq((col("o_orderkey") + k * maxOrd).as("o_orderkey"),
          (col("o_custkey") + k * custOff).as("o_custkey")) ++ rest): _*)
    }.reduce(_ unionByName _)
    ordUp.write.mode("overwrite").parquet(s"$dst/orders.parquet")
    val custUp = (0 until factor).map { k =>
      val rest = cust.columns.filter(_ != "c_custkey").map(col)
      cust.select((Seq((col("c_custkey") + k * custOff).as("c_custkey")) ++ rest): _*)
    }.reduce(_ unionByName _)
    custUp.write.mode("overwrite").parquet(s"$dst/customer.parquet")
    // ONE shared part offset spans l_partkey AND p_partkey: part is
    // replicated below with the same offset (mirroring custUp), so the
    // lineitem⋈part join RATE stays constant per replica — without this,
    // only replica 0 of lineitem would match any part row and the join
    // rate would collapse to 1/factor (q11 anti join, q44 promo share),
    // flattering scaling ratios for the wrong reason.
    val part = spark.read.parquet(s"$src/part.parquet")
    val maxPart = {
      val m = math.max(
        li.agg(max("l_partkey")).head.getLong(0),
        part.agg(max("p_partkey")).head.getLong(0)) + 1
      (m + 7) / 8 * 8 // multiple of 8: replicas keep their %8 classes
    }
    val liUp = (0 until factor).map { k =>
      val rest = li.columns.filter(c => c != "l_orderkey" && c != "l_partkey").map(col)
      li.select(
        (Seq((col("l_orderkey") + k * maxOrd).as("l_orderkey"),
          (col("l_partkey") + k * maxPart).as("l_partkey")) ++ rest): _*)
    }.reduce(_ unionByName _)
    liUp.write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    val partUp = (0 until factor).map { k =>
      val rest = part.columns.filter(_ != "p_partkey").map(col)
      part.select((Seq((col("p_partkey") + k * maxPart).as("p_partkey")) ++ rest): _*)
    }.reduce(_ unionByName _)
    partUp.write.mode("overwrite").parquet(s"$dst/part.parquet")

    // events: scale by EXTENDING THE TIMELINE — each replica shifts ts by
    // a whole-day-aligned span and offsets user/event ids, so per-window
    // density, per-user session shapes and as-of adjacency stay exactly
    // as in the source while window count and user count grow ×factor
    // (the way a real event stream grows). Day alignment keeps every
    // hour/minute-granular window boundary congruent across replicas.
    val ev = evSrc
    val span = ev.agg(
      (ceil((unix_timestamp(max("ts")) - unix_timestamp(min("ts"))) / 86400.0)
        .cast("long") + 1) * 86400L).head.getLong(0)
    val maxEvt = ev.agg(max("event_id")).head.getLong(0) + 1
    val evUp = (0 until factor).map { k =>
      val rest = ev.columns
        .filter(c => c != "event_id" && c != "user_id" && c != "ts").map(col)
      ev.select(
        (Seq((col("event_id") + k * maxEvt).as("event_id"),
          // interval add preserves sub-second precision (dedup/as-of
          // semantics key on exact microsecond timestamps)
          expr(s"timestampadd(SECOND, ${k * span}, ts)").as("ts"),
          (col("user_id") + k * custOff).as("user_id")) ++ rest): _*)
        .select(ev.columns.map(col): _*) // original column order
    }.reduce(_ unionByName _)
    evUp.write.mode("overwrite").parquet(s"$dst/events.parquet")

    // remaining small dims pass through unchanged — only the truly
    // broadcast-static ones whose keys lineitem/orders don't offset
    // (part is replicated above because l_partkey IS offset)
    Seq("region", "nation", "supplier").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    println(s"""{"scaled": "$src -> $dst", "factor": $factor}""")
    spark.stop()
  }
}
