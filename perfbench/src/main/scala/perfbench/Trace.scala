package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The program's modules as benchmark layers, and the per-layer metric names. */
object Layers {
  val All: Seq[String] = Seq(
    "sources", "operators.Batching", "translate", "operators.Reconcile",
    "streaming.Ingest", "streaming.NearDupSink", "ext.MinHashLSH",
    "streaming.StatsSink", "streaming.BloomSidecar", "ext.ManifestTable",
    "ext.ManifestRowOps", "plans.GraftDml", "ext.ManifestMaintenance",
    "ext.VectorStore")

  val Quantities: Seq[(String, String)] = Seq(
    "busy_s" -> "s", "wait_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "shuffle_mb" -> "MB", "scan_mb" -> "MB", "write_mb" -> "MB")

  val Extra: Seq[(String, String)] = Seq(
    "spark.plan_s" -> "s", "spark.idle_frac" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_job" -> "count",
    "operators.Batching.fill_ratio" -> "ratio",
    "ext.ManifestTable.files_live" -> "count",
    "ext.ManifestTable.files_per_lookup" -> "count",
    "trace.overhead_frac" -> "ratio", "trace.coverage_frac" -> "ratio")

  /** Every per-layer metric name with its unit, in report order. */
  val Metrics: Seq[(String, String)] =
    All.flatMap(l => Quantities.map { case (q, u) => s"$l.$q" -> u }) ++ Extra

  /** A frame belongs to a layer by the source file of a `graft.` class:
    * trait methods (ManifestRowOps, ManifestMaintenance) and the DML
    * commands keep their own file names on the stack.
    */
  private val byFile: Map[String, String] = Map(
    "CsvIO.scala" -> "sources", "JsonlIO.scala" -> "sources",
    "Batching.scala" -> "operators.Batching",
    "Translator.scala" -> "translate",
    "Reconcile.scala" -> "operators.Reconcile",
    "Ingest.scala" -> "streaming.Ingest",
    "NearDupSink.scala" -> "streaming.NearDupSink",
    "MinHashLSH.scala" -> "ext.MinHashLSH",
    "StatsSink.scala" -> "streaming.StatsSink",
    "BloomSidecar.scala" -> "streaming.BloomSidecar",
    "ManifestTable.scala" -> "ext.ManifestTable",
    "ManifestRowOps.scala" -> "ext.ManifestRowOps",
    "GraftDml.scala" -> "plans.GraftDml",
    "ManifestMaintenance.scala" -> "ext.ManifestMaintenance",
    "VectorStore.scala" -> "ext.VectorStore")

  def ofFrame(e: StackTraceElement): Option[String] =
    if (e.getClassName.startsWith("graft.")) Option(e.getFileName).flatMap(byFile.get)
    else None

  /** The innermost frame on the stack that belongs to a layer. */
  def innermost(stack: Array[StackTraceElement]): Option[String] = {
    var i = 0
    while (i < stack.length) {
      val l = ofFrame(stack(i))
      if (l.isDefined) return l
      i += 1
    }
    None
  }
}

/** Per-job counters gathered from listener events (single listener-bus thread). */
final class JobRec(val id: Int, val span: Long, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var scanBytes = 0L
  var writeBytes = 0L
}

/** Counts jobs, tasks, executor time and bytes per benchmark span, and
  * planning time per query execution. Jobs find their span through the
  * `perfbench.span` local property, which Spark copies into the threads
  * that submit AQE and broadcast jobs.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  /** (start ms, end ms) of each planning phase. */
  val planPhases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageToJob.get(e.stageId)
    val rec = if (stageToJob.containsKey(e.stageId)) jobs.get(j) else null
    if (rec != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      rec.tasks += 1
      rec.taskMs += m.executorRunTime
      rec.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      rec.scanBytes += m.inputMetrics.bytesRead
      rec.writeBytes += m.outputMetrics.bytesWritten
    }
  }

  private def plan(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => planPhases.add((p.startTimeMs, p.endTimeMs)))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
}

object Tracer {
  val SpanProperty = "perfbench.span"
  private val SampleEveryNs = 5000000L

  /** `parent` is the enclosing span's id, or -1 for a span directly under its op. */
  final case class Span(id: Long, parent: Long, op: Int, layer: String, call: String,
                        startMs: Double, endMs: Double)
  final case class Sample(tMs: Double, span: Long, layer: Option[String])
  final case class OpWindow(op: Int, kind: String, startMs: Double, endMs: Double, traced: Boolean)
}

/** In-memory spans around the benchmark's calls into the program, plus a
  * sampler of the calling thread's stack that splits a span whose call
  * composes several modules. Spans are recorded only while an op is
  * traced; everything is aggregated when the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val client = Thread.currentThread()
  private val sc = spark.sparkContext
  private val counters = new SparkCounters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ops = mutable.ArrayBuffer.empty[OpWindow]
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val observations = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var nextId = 0L
  private var curOp = -1
  private var opStart = 0.0
  private var tracedOp = false
  @volatile private var activeSpan = -1L
  @volatile private var running = false
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Wall clock in ms on the listener events' time base, at ns resolution. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val sampler = new Thread(() => {
    while (running) {
      val s = activeSpan
      if (s >= 0) {
        val layer = Layers.innermost(client.getStackTrace)
        val t = nowMs
        samples.synchronized(samples += Sample(t, s, layer))
      }
      LockSupport.parkNanos(SampleEveryNs)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)

  def start(): Unit = {
    sc.addSparkListener(counters)
    spark.listenerManager.register(counters)
    running = true
    sampler.start()
  }

  def stop(): Unit = {
    running = false
    sampler.join()
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    sc.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
  }

  def active: Boolean = tracedOp

  def beginOp(op: Int, traced: Boolean): Unit = {
    curOp = op; tracedOp = traced; opStart = nowMs
  }

  def endOp(kind: String): Unit = {
    ops += OpWindow(curOp, kind, opStart, nowMs, tracedOp)
    tracedOp = false
  }

  /** Runs `body` as one span of `layer` when the current op is traced.
    * Spans nest: an enclosing span is charged only the time outside its
    * children.
    */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!tracedOp) body
    else {
      val id = nextId
      nextId += 1
      val parent = activeSpan
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, id.toString)
      activeSpan = id
      val t0 = nowMs
      try body
      finally {
        spans += Span(id, parent, curOp, layer, name, t0, nowMs)
        activeSpan = parent
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  /** Records a value for a metric that is a mean over traced ops. */
  def observe(metric: String, v: Double): Unit =
    observations.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.quantile(xs, 0.5)

  /** Per-layer metrics over the traced ops, each a mean per traced op
    * (times in s, bytes in MB), plus the Spark-wide and trace figures.
    */
  def perLayer(extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced).toSeq
    val untraced = ops.filterNot(_.traced).toSeq
    val nOps = math.max(1, traced.size)
    val jobsBySpan = counters.jobs.values.asScala.toSeq.filter(_.span >= 0).groupBy(_.span)
    val samplesBySpan = samples.synchronized(samples.toSeq).groupBy(_.span)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(layer: String, q: String, v: Double): Unit = acc(s"$layer.$q") += v
    val allJobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
    val childMs = spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endMs - c.startMs).sum }

    spans.foreach { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val iv = js.map(j => (math.max(j.startMs.toDouble, s.startMs),
        math.min((if (j.endMs < 0) s.endMs else j.endMs.toDouble), s.endMs)))
      allJobIntervals ++= iv
      val dur = s.endMs - s.startMs - childMs.getOrElse(s.id, 0.0)
      val waitMs = math.min(dur, unionLength(iv))
      val busyMs = math.max(0.0, dur - waitMs)
      val ss = samplesBySpan.getOrElse(s.id, Nil)
      def inJob(t: Double) = iv.exists { case (a, b) => t >= a && t <= b }
      def split(part: Seq[Sample], ms: Double, q: String): Unit =
        if (part.isEmpty) add(s.layer, q, ms / 1000)
        else part.groupBy(_.layer.getOrElse(s.layer)).foreach { case (l, xs) =>
          add(l, q, ms / 1000 * xs.size / part.size)
        }
      val (waiting, busy) = ss.partition(x => inJob(x.tMs))
      split(busy, busyMs, "busy_s")
      split(waiting, waitMs, "wait_s")
      js.foreach { j =>
        val end = if (j.endMs < 0) s.endMs else j.endMs.toDouble
        val during = ss.filter(x => x.tMs >= j.startMs && x.tMs <= end)
        val layer =
          if (during.nonEmpty) during.groupBy(_.layer.getOrElse(s.layer)).maxBy(_._2.size)._1
          else if (ss.nonEmpty) ss.minBy(x => math.abs(x.tMs - j.startMs)).layer.getOrElse(s.layer)
          else s.layer
        add(layer, "jobs", 1)
        add(layer, "tasks", j.tasks.toDouble)
        add(layer, "task_s", j.taskMs / 1000.0)
        add(layer, "shuffle_mb", j.shuffleBytes / 1e6)
        add(layer, "scan_mb", j.scanBytes / 1e6)
        add(layer, "write_mb", j.writeBytes / 1e6)
      }
    }

    val tracedMs = traced.map(o => o.endMs - o.startMs).sum
    val jobsTotal = Layers.All.map(l => acc(s"$l.jobs")).sum
    val tasksTotal = Layers.All.map(l => acc(s"$l.tasks")).sum
    val planMs = counters.planPhases.asScala.toSeq.filter { case (st, _) =>
      traced.exists(o => st >= o.startMs - 1 && st <= o.endMs + 1)
    }.map { case (a, b) => (b - a).toDouble }.sum
    val attributed = Layers.All.map(l => acc(s"$l.busy_s") + acc(s"$l.wait_s")).sum
    // overhead per op kind (reads and writes differ), weighted by traced ops
    val kinds = traced.groupBy(_.kind).toSeq.flatMap { case (k, ts) =>
      val us = untraced.filter(_.kind == k)
      if (us.isEmpty) None
      else Some((ts.size, median(ts.map(o => o.endMs - o.startMs)) /
        median(us.map(o => o.endMs - o.startMs)) - 1.0))
    }
    val overhead = if (kinds.isEmpty) 0.0 else kinds.map(x => x._1 * x._2).sum / kinds.map(_._1).sum
    val derived = Map(
      "spark.plan_s" -> planMs / 1000 / nOps,
      "spark.idle_frac" -> (if (tracedMs > 0) 1.0 - unionLength(allJobIntervals.toSeq) / tracedMs else 0.0),
      "spark.jobs_per_op" -> jobsTotal / nOps,
      "spark.tasks_per_job" -> (if (jobsTotal > 0) tasksTotal / jobsTotal else 0.0),
      "trace.overhead_frac" -> overhead,
      "trace.coverage_frac" -> (if (tracedMs > 0) attributed * 1000 / tracedMs else 0.0)) ++
      observations.map { case (k, v) => k -> v.sum / v.size } ++ extra

    Layers.Metrics.map { case (name, unit) =>
      val v =
        if (derived.contains(name)) derived(name)
        else acc(name) / nOps
      (name, v, unit)
    }
  }

  /** Span log for the report: one entry per traced span. */
  def spanLog: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "op" -> s.op, "parent" -> (if (s.parent >= 0) s"span-${s.parent}" else s"op-${s.op}"), "layer" -> s.layer, "call" -> s.call,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}
