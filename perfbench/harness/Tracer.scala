package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is the op id the span
  * belongs to (-1 outside any op); `parent` is the id of the enclosing
  * span (-1 for a root). Times are epoch nanoseconds on the driver. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the listeners the traced run registers:
  * task/stage/job metrics (SparkListener), Catalyst phases from
  * `qe.tracker` (QueryExecutionListener) and codegen compile counts
  * (Spark's CodegenMetrics). Nothing here runs unless `enabled`. */
final class Tracer {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Wall-clock epoch nanos: spans, job times and listener timestamps
    * share one clock so they can be intersected afterwards. */
  private val wall0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs: Long = wall0 + (System.nanoTime() - nano0)

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = nowNs
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, nowNs))
        stack.set(stack.get.tail)
      }
    }

  def add(parent: Int, op: Int, name: String, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, op, name, startNs, endNs))

  // ---------------------------------------------------------- counters
  final class Counters {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L; var scanTaskMs = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    var outBytes = 0L
  }
  val byOp = mutable.Map.empty[Int, Counters]
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (op, startNs, endNs)
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** per "queryId/batchId": task durations in ms (for the skew ratio) */
  val batchTaskMs = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  private val jobBatch = mutable.Map.empty[Int, String]
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)] // (phase, startMs, endMs)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (enabled) {
        val props = Option(e.properties)
        val op = props.flatMap(p => Option(p.getProperty(Harness.OpKey))).map(_.toInt).getOrElse(-1)
        jobOp(e.jobId) = op
        jobStart(e.jobId) = e.time * 1000000L
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        for (p <- props; b <- Option(p.getProperty("streaming.sql.batchId"));
             q <- Option(p.getProperty("sql.streaming.queryId")))
          jobBatch(e.jobId) = s"$q/$b"
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { s =>
        jobs += ((jobOp.getOrElse(e.jobId, -1), s, e.time * 1000000L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (enabled && m != null) {
        val job = stageJob.get(e.stageId)
        val op = job.flatMap(jobOp.get).getOrElse(-1)
        val c = byOp.getOrElseUpdate(op, new Counters)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inBytes += m.inputMetrics.bytesRead
        c.inRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) c.scanTaskMs += m.executorRunTime
        c.shWrite += m.shuffleWriteMetrics.bytesWritten
        c.shRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
        job.flatMap(jobBatch.get).foreach { b =>
          batchTaskMs.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        }
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) Tracer.this.synchronized {
        qe.tracker.phases.foreach { case (name, p) =>
          if (name != "analysis") phases += ((name, p.startTimeMs, p.endTimeMs)) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def phase(name: String, p: Option[org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary]): Unit =
    p.foreach(ps => synchronized { phases += ((name, ps.startTimeMs, ps.endTimeMs)) })

  /** Spark's own codegen histogram (milliseconds per compile). */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  def totals: Counters = synchronized {
    val t = new Counters
    byOp.values.foreach { c =>
      t.tasks += c.tasks; t.runMs += c.runMs; t.cpuNs += c.cpuNs; t.gcMs += c.gcMs
      t.inBytes += c.inBytes; t.inRows += c.inRows; t.scanTaskMs += c.scanTaskMs
      t.shWrite += c.shWrite; t.shRead += c.shRead; t.fetchWaitMs += c.fetchWaitMs
      t.spill += c.spill; t.outBytes += c.outBytes
    }
    t
  }

  /** Sum of phase time that lies inside any of the given op intervals. */
  def phaseSeconds(name: String, within: Seq[(Long, Long)]): Double = synchronized {
    phases.iterator.filter(_._1 == name).map { case (_, s, e) =>
      if (within.exists { case (a, b) => s * 1000000L >= a && s * 1000000L <= b }) (e - s) / 1e3 else 0.0
    }.sum
  }

  /** Job intervals of the given ops, merged, as (startNs, endNs). */
  def jobIntervals(ops: Set[Int]): Seq[(Long, Long)] = synchronized {
    Tracer.merge(jobs.iterator.filter(j => ops(j._1)).map(j => (j._2, j._3)).toSeq)
  }

  /** Turns what the listeners saw into spans under the benchmark's own:
    * each job (`exec.job`) and Catalyst phase (`catalyst.<phase>`) becomes
    * a child of the innermost span that contains its start. */
  def attachListenerSpans(): Unit = {
    val own = spans.asScala.toSeq
    def parentOf(op: Int, atNs: Long): (Int, Int) = {
      val inside = own.filter(s => s.startNs <= atNs && atNs <= s.endNs && (op < 0 || s.op == op))
      if (inside.isEmpty) (-1, op) else { val p = inside.maxBy(_.startNs); (p.id, p.op) }
    }
    val (js, ps) = synchronized((jobs.toSeq, phases.toSeq))
    js.foreach { case (op, s, e) =>
      val (parent, o) = parentOf(op, s)
      add(parent, o, "exec.job", s, e)
    }
    ps.foreach { case (name, s, e) =>
      val (parent, o) = parentOf(-1, s * 1000000L)
      if (parent >= 0) add(parent, o, s"catalyst.$name", s * 1000000L, e * 1000000L)
    }
  }

  /** Per-layer self time: each span minus the time its children cover. */
  def selfTimes: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Tracer.merge(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))
          .map { case (a, b) => math.max(0L, math.min(b, s.endNs) - math.max(a, s.startNs)) }.sum
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }
}

object Tracer {
  def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Writes every span of the named tracers as one JSON object per line;
    * `part` names the tracer (span ids are unique within one). */
  def writeSpans(path: java.nio.file.Path, tracers: Seq[(String, Tracer)]): Unit = {
    val sb = new StringBuilder
    for ((part, t) <- tracers; s <- t.spans.asScala.toSeq.sortBy(_.startNs))
      sb ++= s"""{"part":"$part","id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Records micro-batch progress for the stream workload (always on: the
  * end-to-end event latency is computed from it). */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    events.asScala.toSeq.map(_.progress).filter(_.id == q.id).sortBy(_.batchId)
}
