package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded around the benchmark's own calls into the engine, plus the
  * Spark work those calls caused, heard through Spark's public listener APIs.
  *
  * A span is (id, parent, name, start, end). The span id rides on the calling
  * thread's Spark local property, so every job a span starts carries it and
  * its task metrics are attributed to that span. Everything is kept in memory
  * and summarised once at the end. With tracing off, [[span]] only runs its
  * body: no listener is registered and nothing is recorded. */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var measuring = false
  private val measuredSpans = mutable.HashSet.empty[Long]

  /** Spans opened while measuring count toward the per-layer totals;
    * set-up and warm-up spans do not. */
  def measure(on: Boolean): Unit = measuring = on

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      if (measuring) spans.synchronized(measuredSpans += id)
      sc.setLocalProperty(SpanKey, id.toString)
      stack.set(id :: stack.get)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val dur = (System.nanoTime() - n0) / 1e6
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanKey, prev)
        spans.synchronized(spans += Span(id, parent, name, t0, t0 + math.max(1L, dur.round), dur))
      }
    }

  // ---- Spark scheduler events -------------------------------------------
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobTimes = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val work = mutable.HashMap.empty[Long, Work]
  private val running = mutable.HashSet.empty[Int]
  private var stagesDone = 0L
  private var jobsDone = 0L
  private val lock = new Object

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val s = spanOf(e.properties)
      running += e.jobId
      jobSpan(e.jobId) = s
      jobTimes(e.jobId) = (e.time, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      running -= e.jobId
      jobTimes.get(e.jobId).foreach { case (t0, _) => jobTimes(e.jobId) = (t0, e.time) }
      if (counted(jobSpan.getOrElse(e.jobId, 0L))) jobsDone += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      if (counted(stageSpan.getOrElse(e.stageInfo.stageId, 0L))) stagesDone += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stageSpan.getOrElse(e.stageId, 0L)
      val m = e.taskMetrics
      if (m != null && counted(s)) {
        val w = work.getOrElseUpdate(s, new Work)
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
        w.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Work with no span (Spark-internal jobs) counts when it happens while
    * measuring; work under a span counts when the span was opened while
    * measuring. */
  private def counted(s: Long): Boolean =
    if (s == 0L) measuring else spans.synchronized(measuredSpans(s))

  // ---- Structured Streaming progress -------------------------------------
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (measuring) progress.synchronized { progress += e }
  }

  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Waits (bounded) until the listener bus has delivered the events of jobs
    * already finished: the bus is asynchronous. */
  def settle(): Unit = if (on) {
    val deadline = System.currentTimeMillis() + 5000
    def pending = lock.synchronized(running.nonEmpty)
    Thread.sleep(200)
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Measured spans named `name`. */
  def durations(name: String): Seq[Double] = spans.synchronized {
    spans.filter(s => s.name == name && measuredSpans(s.id)).map(_.ms).toSeq
  }

  /** The `spark.*` per-layer totals over the measured spans, with driver
    * self time: each measured root span's wall time minus the union of the
    * job intervals attributed to it or to its descendants. */
  def sparkLayer(): Seq[(String, Double)] = lock.synchronized {
    spans.synchronized {
      val byId = spans.map(s => s.id -> s).toMap
      def root(id: Long): Long = byId.get(id) match {
        case Some(s) if s.parent != 0L && byId.contains(s.parent) => root(s.parent)
        case _ => id
      }
      val jobsByRoot = jobSpan.toSeq.filter(_._2 != 0L).groupBy { case (_, s) => root(s) }
      val driverSelf = spans.filter(s => s.parent == 0L && measuredSpans(s.id)).map { s =>
        val iv = jobsByRoot.getOrElse(s.id, Nil).flatMap { case (j, _) => jobTimes.get(j) }
        math.max(0.0, s.ms - covered(iv, s.t0, s.t1))
      }.sum
      val w = work.values.foldLeft(new Work)(_ + _)
      Seq(
        "spark.jobs" -> jobsDone.toDouble,
        "spark.stages" -> stagesDone.toDouble,
        "spark.tasks" -> w.tasks.toDouble,
        "spark.executor_run_ms" -> w.runMs.toDouble,
        "spark.executor_cpu_ms" -> w.cpuNs / 1e6,
        "spark.gc_ms" -> w.gcMs.toDouble,
        "spark.shuffle_read_bytes" -> w.shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> w.shuffleWrite.toDouble,
        "spark.spill_bytes" -> w.spill.toDouble,
        "spark.input_bytes" -> w.input.toDouble,
        "spark.output_bytes" -> w.output.toDouble,
        "spark.driver_self_ms" -> driverSelf)
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, t0: Long, t1: Long, ms: Double)

  final class Work {
    var tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L
    def +(o: Work): Work = {
      val r = new Work
      r.tasks = tasks + o.tasks; r.runMs = runMs + o.runMs; r.cpuNs = cpuNs + o.cpuNs
      r.gcMs = gcMs + o.gcMs; r.shuffleRead = shuffleRead + o.shuffleRead
      r.shuffleWrite = shuffleWrite + o.shuffleWrite; r.spill = spill + o.spill
      r.input = input + o.input; r.output = output + o.output
      r
    }
  }

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total.toDouble
  }
}
