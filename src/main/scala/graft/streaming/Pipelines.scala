package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType
import graft.plans.GraftFunctions.{hashedWordGrams, minhashSignature}

/** Live Structured Streaming pipelines — the Spark-4 re-expression of the
  * reference's DStream programs (file/receiver input → windowed transform
  * → output; /root/reference/streaming/.../StreamingContext.scala).
  * Micro-batch sources replace receivers; watermarks bound state exactly
  * where the reference bounded DStream window retention.
  */
object Pipelines {

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserRunning(n: Long, total: Double)
  final case class UserSnapshot(user_id: Long, n: Long, total_value: Double)

  /** File-source stream of events with a known schema (streaming sources
    * cannot infer schemas; at scale this is a bucketed landing dir fed by
    * upstream writers). */
  def eventStream(spark: SparkSession, srcDir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(srcDir)

  /** Tumbling window counts with a watermark bounding state: late data
    * beyond the delay is dropped instead of growing state forever. */
  def hourlyTypeCountsWatermarked(events: DataFrame, delay: String = "2 hours"): DataFrame =
    EventTimeOps.tumblingAgg(events.withWatermark("ts", delay), "ts", "1 hour", "event_type")

  /** Same aggregate without watermark, for complete-mode verification
    * against the batch-verified tumblingAgg. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    EventTimeOps.tumblingAgg(events, "ts", "1 hour", "event_type")

  /** Custom keyed state (updateStateByKey shape): per-user running count +
    * total maintained across micro-batches via mapGroupsWithState.
    *
    * `idleTimeout` bounds state on a real stream: a user silent for that
    * long gets a final snapshot and their state removed (per-key state is
    * otherwise immortal, which on an unbounded key space means unbounded
    * state). None keeps the unbounded behavior for bounded key spaces.
    *
    * `eventTimeIdle = true` measures the idle gap on the EVENT-TIME clock
    * (timer = newest event seen for the key + idleTimeout, fired when the
    * watermark passes it; the input must carry `withWatermark("ts", …)`).
    * This is the scale-correct default: expiry is deterministic under
    * replay and backfill, and the engine only runs batches when data or
    * the watermark moves. Processing-time expiry (`eventTimeIdle =
    * false`) keeps wall-clock semantics, at the cost of the engine
    * re-triggering empty batches purely to poll wall-clock timers. */
  def runningUserAgg(
      events: Dataset[UserEvent],
      idleTimeout: Option[String] = None,
      eventTimeIdle: Boolean = false): Dataset[UserSnapshot] = {
    implicit val stateEnc = Encoders.product[UserRunning]
    implicit val outEnc = Encoders.product[UserSnapshot]
    implicit val keyEnc = Encoders.scalaLong
    val timeoutConf =
      if (idleTimeout.isEmpty) GroupStateTimeout.NoTimeout()
      else if (eventTimeIdle) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.ProcessingTimeTimeout()
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(timeoutConf) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            UserSnapshot(uid, last.n, last.total)
          } else {
            val prev = state.getOption.getOrElse(UserRunning(0L, 0.0))
            var n = prev.n
            var total = prev.total
            var maxTsMs = Long.MinValue
            batch.foreach { e =>
              n += 1; total += e.value
              if (e.ts != null) maxTsMs = math.max(maxTsMs, e.ts.getTime)
            }
            state.update(UserRunning(n, total))
            idleTimeout.foreach { gap =>
              if (eventTimeIdle) {
                if (maxTsMs != Long.MinValue) state.setTimeoutTimestamp(maxTsMs, gap)
              } else state.setTimeoutDuration(gap)
            }
            UserSnapshot(uid, n, total)
          }
      }
  }

  /** Start a query into an in-memory table (testing / interactive). */
  def startToMemory(df: DataFrame, name: String, mode: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** Production-shaped sink: partitioned parquet with checkpointing —
    * exactly-once per micro-batch, resumable after failure. */
  def startToParquet(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Watermarked stream-stream inner join: each side keeps only the state
    * the 10-minute join window needs — the DStream-era join(otherStream)
    * with bounded state instead of unbounded RDD retention. */
  def streamStreamJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clickPurchaseJoin(clicks, purchases, "inner")

  /** Watermarked stream-stream LEFT OUTER join — the behavior the inner
    * join cannot give: a click with no purchase in its 10-minute window
    * still emits, null-padded, but only AFTER the watermark passes the
    * window's end (that is what makes the null CORRECT rather than
    * premature — a matching purchase can no longer arrive). State stays
    * bounded exactly as in [[streamStreamJoin]]; the join watermark is
    * the min of the two sides'. */
  def streamStreamLeftJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clickPurchaseJoin(clicks, purchases, "left_outer")

  /** Clicks joined to the same user's purchases in the 10 minutes after
    * them, both sides watermarked at 10 minutes. */
  private def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                                joinType: String): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    c.join(p, expr(
      """c_user = p_user AND
        |p_ts >= c_ts AND
        |p_ts <= c_ts + interval 10 minutes""".stripMargin), joinType)
  }

  final case class TaggedEvent(user_id: Long, ts: java.sql.Timestamp,
                               is_purchase: Boolean, event_id: Long, value: Double)
  final case class LatestPurchase(tsMs: Long, id: Long, value: Double)
  final case class ClickEnriched(user_id: Long, click_id: Long, click_ts_ms: Long,
                                 purchase_id: Option[Long], purchase_value: Option[Double])

  /** LIVE as-of enrichment — the streaming counterpart of the batch
    * [[graft.operators.EventTime.asofJoin]]: each click is annotated with
    * the same user's most recent purchase at or before it, from O(1)
    * per-key state (just the newest purchase), not a buffered window.
    * Within a micro-batch, events process in event-time order (purchases
    * first at equal ts — `<=` semantics; equal-ts purchases resolve to
    * the max event id, the batch operator's exact tie contract), so
    * results match the batch as-of whenever cross-batch arrival respects
    * event-time order; a late purchase (older than one already applied)
    * is ignored rather than rewriting emitted history — the standard
    * streaming-enrichment contract. */
  def streamingAsOf(tagged: Dataset[TaggedEvent]): Dataset[ClickEnriched] = {
    implicit val stateEnc = Encoders.product[LatestPurchase]
    implicit val outEnc = Encoders.product[ClickEnriched]
    implicit val keyEnc = Encoders.scalaLong
    tagged
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[TaggedEvent], state: GroupState[LatestPurchase]) =>
          val evs = batch.toArray.sortBy(e => (e.ts.getTime, !e.is_purchase, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[ClickEnriched]
          var cur = state.getOption
          evs.foreach { e =>
            if (e.is_purchase) {
              if (cur.forall(c => e.ts.getTime > c.tsMs ||
                  (e.ts.getTime == c.tsMs && e.event_id > c.id)))
                cur = Some(LatestPurchase(e.ts.getTime, e.event_id, e.value))
            } else {
              out += ClickEnriched(uid, e.event_id, e.ts.getTime,
                cur.map(_.id), cur.map(_.value))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  final case class TypedEvent(event_type: String, ts: java.sql.Timestamp, value: Double)
  final case class SliceWindowState(slices: Map[Long, (Long, Double)])
  final case class WindowEmit(event_type: String, ws: Long, n: Long, total_value: Double)

  /** Live incremental sliding window — reduceByKeyAndWindow WITH inverse
    * reduce (reference streaming/dstream/PairDStreamFunctions.scala:290),
    * re-expressed as flatMapGroupsWithState over slide-slice partials:
    * each raw event folds ONCE into its (key, slice) partial; every
    * update emits the sliding windows covering the touched slices by
    * combining the duration/slide slice partials they span. Adding
    * partials (the "panes" formulation) keeps the one-touch-per-row
    * property of inverse reduce without the float drift of literally
    * subtracting expired slices from a running aggregate. State is
    * bounded: slices older than `retainSlices` behind the newest seen
    * slice are dropped (the DStream rememberDuration analog).
    */
  def incrementalSlidingAgg(
      events: Dataset[TypedEvent], durUs: Long, slideUs: Long,
      retainSlices: Int = 1000): Dataset[WindowEmit] = {
    require(durUs % slideUs == 0, "duration must be a multiple of slide")
    val k = (durUs / slideUs).toInt
    implicit val stateEnc = Encoders.product[SliceWindowState]
    implicit val outEnc = Encoders.product[WindowEmit]
    implicit val keyEnc = Encoders.STRING
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[TypedEvent], state: GroupState[SliceWindowState]) =>
          val slices = scala.collection.mutable.Map.empty[Long, (Long, Double)]
          state.getOption.foreach(s => slices ++= s.slices)
          val touched = scala.collection.mutable.Set.empty[Long]
          batch.foreach { e =>
            val us = e.ts.getTime * 1000L
            val slice = Math.floorDiv(us, slideUs) * slideUs
            val (n, tot) = slices.getOrElse(slice, (0L, 0.0))
            slices(slice) = (n + 1, tot + e.value)
            touched += slice
          }
          if (slices.nonEmpty) {
            val horizon = slices.keys.max - retainSlices.toLong * slideUs
            slices.filterInPlace((s, _) => s >= horizon)
          }
          state.update(SliceWindowState(slices.toMap))
          touched.toSeq
            .flatMap(s => (0 until k).map(i => s - i.toLong * slideUs))
            .distinct.sorted.iterator
            .map { ws =>
              var n = 0L
              var tot = 0.0
              var i = 0
              while (i < k) {
                slices.get(ws + i.toLong * slideUs).foreach { case (pn, pt) => n += pn; tot += pt }
                i += 1
              }
              WindowEmit(key, ws, n, tot)
            }
      }
  }

  /** The Lever closed loop — measurement driving placement (reference
    * JobMonitor.scala:345-390: batch stats arrive, a strategy sizes the
    * next batch's per-node share, data is re-placed before processing).
    * Here each micro-batch reads the CURRENT capacity estimates (by
    * default [[Capacity.CapacityMonitor]]'s live task-metric rates),
    * sizes per-node shares with Assignment.proportional, and applies
    * weightedRepartition so node i's partition receives work ∝ its
    * measured capacity — then hands the re-placed batch to `handle`.
    * The transform is semantically invisible: rows are only moved, so
    * results equal the unbalanced run.
    */
  def startCapacityBalanced(
      df: DataFrame, name: String,
      capacities: () => Map[String, Double],
      uniformCol: String,
      strategy: Capacity.Strategy = Capacity.Proportional)(
      handle: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .queryName(name)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val caps = capacities()
        val balanced =
          if (caps.size < 2) batch.toDF()
          else {
            val nodes = caps.keys.toSeq.sorted
            // shares out of 1000 work units -> repartition weights
            val shares = Capacity.Assignment.shares(strategy, caps, 1000L)
            graft.operators.SkewTools.weightedRepartition(
              batch.toDF(), uniformCol, nodes.map(n => math.max(1L, shares(n)).toDouble))
          }
        handle(balanced, id)
      }
      .start()

  // ------------------------------------------------- streaming near-dedup

  final case class BandedDoc(doc_id: Long, band: Int, bh: Long, sig: Seq[Long])
  /** `updatedAtMs` = processing time of the last batch that touched the
    * bucket: the TTL horizon is enforced on DATA batches against this
    * stamp (exact regardless of when the engine schedules a timeout
    * batch — the r14 advisor's finding), with the ProcessingTimeTimeout
    * eviction kept as the memory-reclaim path for buckets no data ever
    * touches again. */
  final case class BucketIncumbents(ids: Seq[Long], sigs: Seq[Seq[Long]],
                                    updatedAtMs: Long)
  /** One per (doc, band): did this band's bucket already hold a
    * near-duplicate incumbent? `match_id`/`est` are −1 when unmatched. */
  final case class BandVerdict(doc_id: Long, band: Int, bh: Long,
                               matched: Boolean, match_id: Long, est: Double)

  /** (doc_id, band, bh, sig) banding of a (doc_id, text) frame — d03's
    * MinHash+LSH front end (native codegen signature + band slices),
    * shared by the batch pair-join and the streaming dedup below. */
  def bandDocs(docs: DataFrame, k: Int, bands: Int): Dataset[BandedDoc] = {
    implicit val enc = Encoders.product[BandedDoc]
    val rowsPerBand = k / bands
    docs
      .select(col("doc_id"),
        minhashSignature(hashedWordGrams(col("text"), 3), k).as("sig"))
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.lshBands(
          col("sig"), bands, rowsPerBand)).as(Seq("band", "bh")),
        col("sig"))
      .as[BandedDoc]
  }

  /** CONTINUOUS near-duplicate suppression over a document stream — the
    * ingestion-time form of d03's batch MinHash+LSH dedup: a doc is a
    * near-duplicate of the corpus seen SO FAR if any of its band
    * buckets holds an earlier incumbent whose signature agreement is ≥
    * `minEst` (first-writer-wins, the d01 keep-min discipline in
    * arrival order).
    *
    * Scale shape: state is sharded BY BAND BUCKET — no global
    * structure — and bounded per bucket (`maxPerBucket` incumbent
    * signatures of k longs each; buckets are ~corpus/√buckets docs, so
    * the cap binds only on pathological bucket skew, where dropping
    * extra incumbents only costs recall, never correctness of the
    * "matched" verdicts it does emit). Per micro-batch each doc costs
    * `bands` state lookups — one shuffled stateful operator, nothing
    * rescans history. Intra-batch arrivals process in doc_id order so
    * the operator is deterministic given the batch split.
    *
    * Emits one [[BandVerdict]] per (doc, band); reduce with
    * [[dedupDecision]] (any matched band ⇒ duplicate).
    *
    * Operability (r13 advisor): a bucket that hits `maxPerBucket` stops
    * admitting incumbents — on skewed buckets recall degrades, so every
    * such drop is COUNTED in the `droppedIncumbents` accumulator (shown
    * in the Spark UI; pass your own to read it programmatically) and
    * logged once per batch-group. `ttlMs` > 0 bounds the dedup horizon:
    * a bucket idle longer than the TTL forgets its incumbents — checked
    * EXACTLY on every data batch against the state's own
    * `updatedAtMs` stamp (so the horizon never depends on the engine
    * having scheduled a timeout batch for the key), with
    * ProcessingTimeTimeout eviction as the memory-reclaim path for
    * buckets nothing touches again — turning the global dedup into a
    * windowed one (the production default at an unbounded-retention
    * ingest); ttlMs = 0 keeps the reference semantics of a global
    * dedup. */
  def streamingNearDedup(docs: DataFrame, k: Int = 32, bands: Int = 8,
                         minEst: Double = 0.5,
                         maxPerBucket: Int = 8,
                         ttlMs: Long = 0L,
                         dropped: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[BandVerdict] = {
    implicit val keyEnc = Encoders.product[(Int, Long)]
    implicit val stateEnc = Encoders.product[BucketIncumbents]
    implicit val outEnc = Encoders.product[BandVerdict]
    val kk = k
    val droppedAcc = dropped.getOrElse(docs.sparkSession.sparkContext
      .longAccumulator("graft.streamingNearDedup.droppedIncumbents"))
    val timeoutConf =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    def agreement(a: Seq[Long], b: Seq[Long]): Double =
      a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / kk
    bandDocs(docs, k, bands)
      .groupByKey(d => (d.band, d.bh))
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf) {
        (key: (Int, Long), batch: Iterator[BandedDoc],
         state: GroupState[BucketIncumbents]) =>
          if (state.hasTimedOut) {
            // TTL eviction: the bucket's incumbents age out of the
            // dedup horizon; nothing to emit
            state.remove()
            Iterator.empty
          } else {
          val incoming = batch.toArray.sortBy(_.doc_id)
          // exact TTL horizon: incumbents from a bucket idle longer
          // than ttlMs are discarded BEFORE matching, so a post-TTL
          // duplicate can never match stale state even when no
          // timeout-evaluation batch fired for the key in between
          val nowMs = state.getCurrentProcessingTimeMs()
          var inc = state.getOption
            .filter(s => ttlMs <= 0 || nowMs - s.updatedAtMs <= ttlMs)
            .getOrElse(BucketIncumbents(Nil, Nil, nowMs))
          var droppedHere = 0L
          val out = scala.collection.mutable.ArrayBuffer.empty[BandVerdict]
          incoming.foreach { d =>
            // best incumbent: highest agreement, ties to the OLDEST
            // (smallest position — first-writer-wins)
            var bestI = -1
            var bestE = -1.0
            var i = 0
            while (i < inc.sigs.length) {
              val e = agreement(inc.sigs(i), d.sig)
              if (e > bestE) { bestE = e; bestI = i }
              i += 1
            }
            if (bestI >= 0 && bestE >= minEst) {
              out += BandVerdict(d.doc_id, d.band, d.bh, matched = true,
                inc.ids(bestI), bestE)
            } else {
              if (inc.ids.length < maxPerBucket)
                inc = BucketIncumbents(inc.ids :+ d.doc_id, inc.sigs :+ d.sig,
                  nowMs)
              else droppedHere += 1
              out += BandVerdict(d.doc_id, d.band, d.bh, matched = false,
                -1L, -1.0)
            }
          }
          if (droppedHere > 0) {
            droppedAcc.add(droppedHere)
            System.err.println(s"[streamingNearDedup] bucket (band=${key._1}, " +
              s"bh=${key._2}) full at $maxPerBucket: dropped $droppedHere " +
              "incumbent(s) this batch — recall degrades on this bucket")
          }
          state.update(inc.copy(updatedAtMs = nowMs))
          if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
          out.iterator
          }
      }
  }

  /** Per-doc reduction of [[streamingNearDedup]]'s band verdicts:
    * duplicate iff ANY band matched; best_est is the strongest match. */
  def dedupDecision(verdicts: DataFrame): DataFrame =
    verdicts.groupBy("doc_id").agg(
      max(col("matched").cast("int")).cast("boolean").as("is_duplicate"),
      max(when(col("matched"), col("est"))).as("best_est"))

  /** foreachBatch escape hatch: arbitrary batch-DataFrame logic per
    * micro-batch (multi-sink writes, upserts) with the batch id for
    * idempotence — the DStream foreachRDD analog. */
  def startForeachBatch(df: DataFrame, name: String)(
      handle: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .queryName(name)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        handle(batch.toDF(), id)
      }
      .start()
}
