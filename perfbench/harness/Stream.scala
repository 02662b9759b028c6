package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{Capacity, Pipelines}

/** The stream workload: a generator thread lands slices of `events` as
  * parquet files at a fixed rate (open loop, each event stamped with its
  * creation time) while two queries read the landing directory:
  *
  *  - `balanced`: Pipelines.startCapacityBalanced driven by a live
  *    CapacityMonitor; its handle writes a per-batch one-hour tumbling
  *    aggregate to parquet;
  *  - `windows`: Pipelines.hourlyTypeCountsWatermarked into
  *    Pipelines.startToParquet (watermark, state store, append sink).
  *
  * One op is one committed micro-batch of `balanced`. Event latency is
  * taken per landed file: from its events' creation to the commit of the
  * `balanced` batch that read it. */
object Stream {
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("created_ms", LongType)))
  private val parquetType = MessageTypeParser.parseMessageType(
    """message event {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required int64 created_ms;
      |}""".stripMargin)

  /** Landing rate, and the most events one landed file holds: 16 files/s
    * of 50 events is 800 events/s (see perfbench/README.md for where that
    * sits against the pipeline's capacity). */
  val FilesPerS = 16
  val MaxFileRows = 50

  final class Events(val id: Array[Long], val tsUs: Array[Long], val user: Array[Long],
                     val kind: Array[String], val value: Array[Double])

  /** Set-up: reads the generated `events` table into the generator's arrays. */
  def load(c: Harness.Conf)(s: org.apache.spark.sql.SparkSession): Events = {
    val rows = Harness.loadTable(s, c.data, "events")
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id").collect()
    new Events(rows.map(_.getLong(0)), rows.map(_.getLong(1)), rows.map(_.getLong(2)),
      rows.map(_.getString(3)), rows.map(_.getDouble(4)))
  }

  def run(c: Harness.Conf): Result = {
    val (spark, ev, setupS) = Harness.setUp(c)(load(c))
    val sc = spark.sparkContext
    val res = new Result(c.workload)
    val root = s"${c.out}/stream"
    val landing = s"$root/landing"
    Files.createDirectories(Paths.get(landing))

    // ---- generator: contiguous slices (event-time order), seed-chosen start;
    // files hold fewer events when the table is too small to last the run
    val n = ev.id.length
    val filesNeeded = ((c.seconds + 20) * FilesPerS).toInt + 1
    val fileRows = math.max(1, math.min(MaxFileRows, n / filesNeeded))
    val maxFiles = math.min(filesNeeded, n / fileRows)
    val start = new scala.util.Random(c.seed).nextInt(n - maxFiles * fileRows + 1)
    val landed = new AtomicLong(0)
    val createdMs = new Array[Long](maxFiles)
    val stopGen = new AtomicBoolean(false)
    val hconf = new Configuration()
    GroupWriteSupport.setSchema(parquetType, hconf)
    val groups = new SimpleGroupFactory(parquetType)
    /** Writes slice `i` as one parquet file into `dir` (hidden, then
      * renamed into place), every event stamped with creation time `created`. */
    def land(dir: String, i: Int, created: Long): Unit = {
      val tmp = s"$dir/.tmp-$i.parquet"
      val w = ExampleParquetWriter.builder(new Path(s"file://$tmp")).withConf(hconf)
        .withType(parquetType).build()
      var r = start + i * fileRows
      val end = r + fileRows
      while (r < end) {
        w.write(groups.newGroup().append("event_id", ev.id(r)).append("ts", ev.tsUs(r))
          .append("user_id", ev.user(r)).append("event_type", ev.kind(r))
          .append("value", ev.value(r)).append("created_ms", created))
        r += 1
      }
      w.close()
      Files.move(Paths.get(tmp), Paths.get(f"$dir/part-$i%06d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // open loop: file i is due at start + i / rate, and its events are
    // stamped with that due time, so a generator stall counts as latency
    val lateMs = new Array[Long](maxFiles)
    val gen = new Thread(() => {
      val startMs = System.currentTimeMillis()
      var i = 0
      while (!stopGen.get && i < maxFiles) {
        val due = startMs + (i * 1000.0 / FilesPerS).toLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stopGen.get) {
          createdMs(i) = due
          land(landing, i, due)
          lateMs(i) = System.currentTimeMillis() - due
          landed.incrementAndGet()
          i += 1
        }
      }
    }, "graftbench-generator")
    gen.setDaemon(true)

    // ---- listeners: progress always (latency), tracers only when traced:
    // `coldTracer` records the cold start, `tracer` the measured window
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = new Tracer
    val coldTracer = new Tracer
    if (c.trace) Seq(tracer, coldTracer).foreach { t =>
      sc.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.qeListener)
    }
    val monitor = new Capacity.CapacityMonitor()
    sc.addSparkListener(monitor)
    val capNs = new AtomicLong(0)
    @volatile var nodesSeen = 0
    @volatile var shareMax = 0.0
    val capacities = () => tracer.span("lever.capacities", -1) {
      val t0 = System.nanoTime()
      val caps = monitor.capacities
      if (tracer.enabled) {
        nodesSeen = math.max(nodesSeen, math.max(1, caps.size))
        shareMax = math.max(shareMax,
          if (caps.size < 2) 1.0
          else Capacity.Assignment.shares(Capacity.Proportional, caps, 1000L).values.max / 1000.0)
      }
      capNs.addAndGet(System.nanoTime() - t0)
      caps
    }

    /** Starts both queries over `dir`; outputs and checkpoints go under
      * `out`, `tag` keeps query names (checkpoint dirs) apart, and `t`
      * records the batch handle's sink spans. */
    def startQueries(dir: String, out: String, tag: String, t: Tracer) = {
      val src = Pipelines.eventStream(spark, dir, schema)
      val balanced = Pipelines.startCapacityBalanced(src, s"balanced$tag", capacities, "user_id") {
        (df, id) => t.span("sink.write", id.toInt) {
          df.groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
            .select(unix_micros(col("window.start")).as("ws"), col("event_type"), col("n"),
              col("total_value"), lit(id).as("batch"))
            .write.mode("append").parquet(s"$out/balanced")
        }
      }
      val windows = Pipelines.startToParquet(
        Pipelines.hourlyTypeCountsWatermarked(src.drop("created_ms")),
        s"$out/windows", s"$out/windows-ckpt")
      (balanced, windows)
    }
    def commitsOf(q: org.apache.spark.sql.streaming.StreamingQuery) =
      progress.of(q).filter(_.numInputRows > 0).map { p =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        p.batchId -> (startMs + p.durationMs.get("triggerExecution").toLong)
      }
    def awaitCommits(qs: (org.apache.spark.sql.streaming.StreamingQuery,
                          org.apache.spark.sql.streaming.StreamingQuery), k: Int, t0: Long): Unit = {
      while (commitsOf(qs._1).size < k && System.currentTimeMillis() - t0 < 120000L &&
             qs._1.exception.isEmpty && qs._2.exception.isEmpty) Thread.sleep(2)
      qs._1.exception.orElse(qs._2.exception).foreach(e => throw e)
      require(commitsOf(qs._1).size >= k, "stream made no progress in 120 s")
    }

    // cold: the first start of both queries in this fresh JVM and session,
    // over four already-landed files, timed to `balanced`'s first commit
    val coldDir = s"$root/cold"
    Files.createDirectories(Paths.get(s"$coldDir/landing"))
    (0 until 4).foreach(i => land(s"$coldDir/landing", i, System.currentTimeMillis()))
    val coldCg0 = coldTracer.codegen._1
    coldTracer.enabled = c.trace
    val coldT0 = System.currentTimeMillis()
    val coldQs = startQueries(s"$coldDir/landing", coldDir, "_cold", coldTracer)
    awaitCommits(coldQs, 1, coldT0)
    val coldCommit = commitsOf(coldQs._1).head._2
    coldTracer.enabled = false
    val coldCompiles = coldTracer.codegen._1 - coldCg0
    val coldS = (coldCommit - coldT0) / 1e3
    coldQs._1.stop(); coldQs._2.stop()
    capNs.set(0)

    // measured run: the generator lands files at the fixed rate; the window
    // starts one second after the second commit, and a traced run traces
    // its second half
    val t0 = System.currentTimeMillis()
    gen.start()
    val (balanced, windows) = startQueries(landing, root, "", tracer)
    def commits = commitsOf(balanced)
    awaitCommits((balanced, windows), 2, t0)
    val w0 = System.currentTimeMillis() + 1000L
    val wEnd = w0 + (c.seconds * 1000).toLong
    val wMid = if (c.trace) w0 + (c.seconds * 500).toLong else wEnd
    var traceCg0 = 0L
    while (System.currentTimeMillis() < wEnd) {
      if (c.trace && !tracer.enabled && System.currentTimeMillis() >= wMid) {
        traceCg0 = tracer.codegen._1
        tracer.enabled = true
      }
      Thread.sleep(5)
    }
    tracer.enabled = false
    val traceCg = tracer.codegen._1 - traceCg0
    val landedAtEnd = landed.get
    val rowsDoneAtEnd = progress.of(balanced).filter { p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").toLong <= wEnd
    }.map(_.numInputRows).sum
    stopGen.set(true)
    gen.join()
    balanced.processAllAvailable()
    windows.processAllAvailable()
    balanced.stop()
    windows.stop()
    org.apache.spark.BenchBus.drain(sc)

    // ---- event latency: each landed file's creation to the commit of the
    // batch that read it (the file source log maps files to batches)
    val fileBatch = mutable.Map.empty[Int, Long]
    val logDir = Paths.get(s"$root/checkpoints/balanced/sources/0")
    Files.list(logDir).iterator.asScala.filter(!_.getFileName.toString.startsWith(".")).foreach { f =>
      Files.readAllLines(f).asScala.filter(_.startsWith("{")).foreach { line =>
        val path = "part-(\\d+)\\.parquet".r.findFirstMatchIn(line).map(_.group(1).toInt)
        val batch = "\"batchId\":(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong)
        for (p <- path; b <- batch) fileBatch(p) = b
      }
    }
    val allCommits = commits
    val commitAt = allCommits.toMap
    def lat(from: Long, to: Long) = fileBatch.toSeq.flatMap { case (f, b) =>
      commitAt.get(b).filter(t => t >= from && t < to).map(t => (t - createdMs(f)) / 1e3)
    }
    def batchRate(from: Long, to: Long) = {
      val ts = allCommits.map(_._2).filter(t => t >= from && t < to).sorted
      if (ts.size < 2) 0.0 else (ts.size - 1) / ((ts.last - ts.head) / 1e3)
    }
    val untraced = lat(w0, wMid)
    res.e2e("setup_s") = setupS
    res.e2e("ops_per_s") = batchRate(w0, wMid)
    res.e2e("op_p50_s") = Harness.median(untraced)
    val (tailP, tail) = Harness.tailOf(untraced)
    res.e2e("op_tail_s") = tail
    res.e2e("cold_pass_s") = coldS
    res.detail("op_tail_percentile") = tailP
    res.detail("op_samples") = untraced.size
    res.detail("rate_eps") = FilesPerS * fileRows
    res.detail("file_rows") = fileRows
    res.detail("files_landed") = landed.get
    val late = lateMs.take(landed.get.toInt).map(_.toDouble).toSeq
    res.detail("generator_late_ms_p50") = Harness.median(late)
    res.detail("generator_late_ms_max") = if (late.isEmpty) 0.0 else late.max
    res.detail("backlog_files_at_end") = landedAtEnd - rowsDoneAtEnd / fileRows
    res.detail("lever_nodes") = monitor.capacities.size

    // ---- correctness: every landed event counted exactly once by
    // `balanced`, and every window `windows` emitted matches the truth
    val rowsLanded = landed.get * fileRows
    val batchIds = allCommits.map(_._1)
    res.attempted += batchIds.size + 1
    val perBatch = spark.read.parquet(s"$root/balanced").groupBy("batch").agg(sum("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counted = perBatch.values.sum
    if (counted != rowsLanded || perBatch.size != batchIds.distinct.size) {
      res.failed += 1
      res.errors("balanced") = s"counted $counted events in ${perBatch.size} batches; " +
        s"landed $rowsLanded in ${batchIds.distinct.size} batches"
    }
    val truth = mutable.Map.empty[(Long, String), Long]
    for (r <- start until start + rowsLanded.toInt) {
      val ws = Math.floorDiv(ev.tsUs(r), 3600000000L) * 3600000000L
      truth((ws, ev.kind(r))) = truth.getOrElse((ws, ev.kind(r)), 0L) + 1
    }
    val emitted = spark.read.parquet(s"$root/windows").select("ws", "event_type", "n").collect()
    res.attempted += 1
    val wrong = emitted.filter(r => truth.get((r.getLong(0), r.getString(1))) != Some(r.getLong(2)))
    if (emitted.isEmpty || wrong.nonEmpty ||
        emitted.map(r => (r.getLong(0), r.getString(1))).distinct.length != emitted.length) {
      res.failed += 1
      res.errors("windows") = s"${wrong.length} of ${emitted.length} emitted windows disagree"
    }
    res.detail("windows_emitted") = emitted.length

    if (c.trace) {
      val traced = lat(wMid, wEnd)
      val tracedBatches = allCommits.count { case (_, t) => t >= wMid && t < wEnd }
      val midNs = wMid * 1000000L
      val endNs = wEnd * 1000000L
      res.layers ++= Harness.layerMetrics(tracer, Seq((-1, midNs, endNs)), tracedBatches,
        tracedBatches, (wEnd - wMid) / 1e3, c.cpus, traceCg)
      res.layers ++= Harness.coldLayers(Harness.layerMetrics(coldTracer,
        Seq((-1, coldT0 * 1000000L, coldCommit * 1000000L)), 1, 1, coldS, c.cpus, coldCompiles))
      val inWin = (q: org.apache.spark.sql.streaming.StreamingQuery) => progress.of(q).filter { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli
        s >= wMid && s < wEnd
      }
      val ps = inWin(balanced) ++ inWin(windows)
      def mean(k: String) =
        if (ps.isEmpty) 0.0 else ps.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum / 1e3 / ps.size
      val L = res.layers
      L("streaming.batches") = ps.size.toDouble
      L("streaming.batch_s") = mean("triggerExecution")
      L("streaming.add_batch_s") = mean("addBatch")
      L("streaming.plan_s") = mean("queryPlanning")
      L("streaming.wal_s") = mean("walCommit")
      val st = inWin(windows).flatMap(_.stateOperators.headOption)
      L("streaming.state_rows") = st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      L("streaming.state_mb") = st.lastOption.map(_.memoryUsedBytes / 1e6).getOrElse(0.0)
      L("streaming.state_commit_s") =
        if (st.isEmpty) 0.0 else st.map(_.commitTimeMs).sum / 1e3 / st.size
      L("streaming.backlog_files") = (landedAtEnd - rowsDoneAtEnd / fileRows).toDouble
      L("lever.capacities_read_s") = capNs.get / 1e9 / math.max(1, allCommits.size)
      L("lever.nodes_seen") = nodesSeen.toDouble
      L("lever.share_max") = shareMax
      val qid = balanced.id.toString
      val skews = tracer.synchronized(tracer.batchTaskMs.toSeq).collect {
        case (k, ts) if k.startsWith(qid + "/") && ts.nonEmpty =>
          ts.max.toDouble / math.max(1.0, Harness.median(ts.map(_.toDouble).toSeq))
      }
      L("lever.task_skew") = if (skews.isEmpty) 0.0 else Harness.median(skews)
      L("trace.overhead_pct") =
        100.0 * (Harness.median(traced) - Harness.median(untraced)) / Harness.median(untraced)
      Seq(tracer, coldTracer).foreach(_.attachListenerSpans())
      val parts = Seq("cold" -> coldTracer, "timed" -> tracer)
      Tracer.writeSpans(Paths.get(c.out, "spans.jsonl"), parts)
      Harness.writeLayerReport(c, res, parts, tracedBatches)
    }
    Harness.stop(spark)
    res
  }
}
