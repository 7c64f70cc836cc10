package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Call boundaries of the traced run. `call` wraps one call into a
  * module's public function; `phase` splits a call into its build and
  * action parts. The untraced run uses [[NoTrace]], which only runs the
  * body, so both runs issue the same program calls.
  */
trait Trace {
  def op[T](opId: Int, name: String)(body: => T): T
  def call[T](layer: String, name: String, kind: String)(body: => T): T
  def phase[T](kind: String)(body: => T): T
  /** Marks call `name` of `layer` in op `opId` as failed (wrong output). */
  def fail(opId: Int, layer: String, name: String): Unit
}

object NoTrace extends Trace {
  def op[T](opId: Int, name: String)(body: => T): T = body
  def call[T](layer: String, name: String, kind: String)(body: => T): T = body
  def phase[T](kind: String)(body: => T): T = body
  def fail(opId: Int, layer: String, name: String): Unit = ()
}

object Tracer {
  /** Spark local property carrying the innermost open span id. Spark
    * copies local properties into threads created under a span, so jobs
    * started from operator-internal pools carry the span too.
    */
  val SpanProperty = "graft.perfbench.span"

  val Layers: Seq[String] = Seq("sources", "pipeline", "queries", "operators",
    "streaming")

  /** Per-layer measures, in report order, with units. */
  val Measures: Seq[(String, String)] = Seq(
    "calls" -> "count", "jobs" -> "count", "eager_jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "failed" -> "count",
    "self_s" -> "s", "build_s" -> "s", "action_s" -> "s",
    "driver_gap_s" -> "s", "task_run_s" -> "s", "task_cpu_s" -> "s",
    "cpu_busy_ratio" -> "ratio", "gc_s" -> "s", "shuffle_read_mb" -> "MB",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "input_mb" -> "MB",
    "output_mb" -> "MB")

  final class Span(val id: Long, val parent: Long, val op: Int,
      val layer: String, val name: String, val kind: String,
      val isCall: Boolean, val start: Long) {
    @volatile var end: Long = Long.MaxValue
    @volatile var failed = false
  }

  /** Task-level totals of one job (or of a span or layer). */
  final class Totals {
    var stages, tasks = 0L
    var runMs, gcMs, cpuNs = 0L
    var shufRead, shufWrite, spill, input, output = 0L
    def add(o: Totals): Unit = {
      stages += o.stages; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
      cpuNs += o.cpuNs; shufRead += o.shufRead; shufWrite += o.shufWrite
      spill += o.spill; input += o.input; output += o.output
    }
  }

  final class Job(val propSpan: Option[Long], val start: Long) {
    var end: Long = -1L
    val totals = new Totals
  }

  private val MB = 1024.0 * 1024.0
}

/** The traced-run recorder: a span around each public call and a
  * `SparkListener` whose job, stage and task counts are attributed to
  * spans. Spans stay in memory; [[resolve]] attributes jobs once the
  * listener bus has drained.
  *
  * Attribution: a job belongs to the span named by its local property
  * when that span was open at the job's start. A pool thread created
  * under an earlier span carries a stale id; such jobs, and jobs with no
  * id, go to the innermost span open at their start time and are counted
  * as `reattributed`. The client issues calls from one thread, so at any
  * instant one chain of spans is open.
  */
final class Tracer(sc: SparkContext) extends SparkListener with Trace {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  sc.addSparkListener(this)

  private def now(): Long = System.currentTimeMillis()

  private def open[T](layer: String, name: String, kind: String, isCall: Boolean,
      op: Int)(body: => T): T = {
    val parent = stack.headOption
    val s = synchronized {
      val s = new Span(nextId, parent.map(_.id).getOrElse(0L), op, layer, name,
        kind, isCall, now())
      nextId += 1
      spans += s
      s
    }
    stack = s :: stack
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.end = now()
      stack = stack.tail
      sc.setLocalProperty(SpanProperty, parent.map(_.id.toString).orNull)
    }
  }

  def op[T](opId: Int, name: String)(body: => T): T =
    open("op", name, "op", isCall = false, opId)(body)

  def call[T](layer: String, name: String, kind: String)(body: => T): T =
    open(layer, name, kind, isCall = true,
      stack.headOption.map(_.op).getOrElse(-1))(body)

  def phase[T](kind: String)(body: => T): T = {
    val parent = stack.head
    open(parent.layer, s"${parent.name}.$kind", kind, isCall = false,
      parent.op)(body)
  }

  def fail(opId: Int, layer: String, name: String): Unit = synchronized {
    spans.reverseIterator
      .find(s => s.op == opId && s.layer == layer && s.name == name && s.isCall)
      .foreach(_.failed = true)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toLong)
    val j = new Job(prop, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.totals.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = j.totals
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shufRead += m.shuffleReadMetrics.totalBytesRead
      t.shufWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.output += m.outputMetrics.bytesWritten
    }
  }

  /** Per-span resolution, computed after the listener bus drained. */
  final class SpanStats(val span: Span) {
    var jobs = 0L
    var eagerJobs = 0L
    var reattributed = 0L
    val totals = new Totals
    var selfMs = 0L
    var gapMs = 0L
  }

  /** Total length of a set of [start, end) intervals. */
  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  private def clip(iv: Seq[(Long, Long)], s: Long, e: Long): Seq[(Long, Long)] =
    iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(x => x._2 > x._1)

  /** Resolve attribution and return stats per span, in start order. */
  def resolve(): Seq[SpanStats] = {
    // drain before locking: the listener callbacks take the same lock
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    synchronized(resolveDrained())
  }

  private def resolveDrained(): Seq[SpanStats] = {
    val all = spans.toVector
    val byId = all.map(s => s.id -> s).toMap
    val stats = all.map(s => s.id -> new SpanStats(s)).toMap
    // innermost span open at time t: latest start among spans containing t
    def innermostAt(t: Long): Option[Span] =
      all.filter(s => s.start <= t && t <= s.end).sortBy(s => (s.start, s.id)).lastOption
    val children = all.groupBy(_.parent)
    val ownJobs = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Job]]
    jobs.values.foreach { j =>
      val viaProp = j.propSpan.flatMap(byId.get).filter(s => s.start <= j.start && j.start <= s.end)
      val target = viaProp.orElse(innermostAt(j.start))
      target.foreach { s =>
        val st = stats(s.id)
        st.jobs += 1
        if (viaProp.isEmpty) st.reattributed += 1
        if (s.kind == "build") st.eagerJobs += 1
        st.totals.add(j.totals)
        ownJobs.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j
      }
    }
    all.foreach { s =>
      val st = stats(s.id)
      val end = if (s.end == Long.MaxValue) now() else s.end
      val kids = children.getOrElse(s.id, Vector.empty)
        .map(k => (k.start, if (k.end == Long.MaxValue) end else k.end))
      val kidsLen = unionLength(clip(kids, s.start, end))
      st.selfMs = (end - s.start) - kidsLen
      // time inside the span's own (non-child) intervals when none of
      // its own jobs was running
      val jobIv = ownJobs.getOrElse(s.id, Nil).toSeq
        .map(j => (j.start, if (j.end < 0) end else j.end))
      val jobsInSelf = unionLength(clip(jobIv, s.start, end)) -
        unionLength(clip(kids, s.start, end).flatMap { case (ks, ke) =>
          clip(jobIv, ks, ke) })
      st.gapMs = math.max(0L, st.selfMs - jobsInSelf)
    }
    all.map(s => stats(s.id))
  }

  /** Per-layer metrics over resolved span stats. */
  def layerMetrics(stats: Seq[SpanStats]): Seq[(String, Double, String)] = {
    Layers.flatMap { layer =>
      val ss = stats.filter(_.span.layer == layer)
      val t = new Totals
      ss.foreach(s => t.add(s.totals))
      def secs(f: SpanStats => Boolean): Double =
        ss.filter(f).map(_.selfMs).sum / 1000.0
      val values = Map(
        "calls" -> ss.count(_.span.isCall).toDouble,
        "jobs" -> ss.map(_.jobs).sum.toDouble,
        "eager_jobs" -> ss.map(_.eagerJobs).sum.toDouble,
        "stages" -> t.stages.toDouble,
        "tasks" -> t.tasks.toDouble,
        "failed" -> ss.count(s => s.span.isCall && s.span.failed).toDouble,
        "self_s" -> secs(_ => true),
        "build_s" -> secs(_.span.kind == "build"),
        "action_s" -> secs(_.span.kind == "action"),
        "driver_gap_s" -> ss.map(_.gapMs).sum / 1000.0,
        "task_run_s" -> t.runMs / 1000.0,
        "task_cpu_s" -> t.cpuNs / 1e9,
        "cpu_busy_ratio" -> (if (t.runMs > 0) t.cpuNs / 1e6 / t.runMs else 0.0),
        "gc_s" -> t.gcMs / 1000.0,
        "shuffle_read_mb" -> t.shufRead / MB,
        "shuffle_write_mb" -> t.shufWrite / MB,
        "spill_mb" -> t.spill / MB,
        "input_mb" -> t.input / MB,
        "output_mb" -> t.output / MB)
      Measures.map { case (m, unit) => (s"$layer.$m", values(m), unit) }
    }
  }

  /** One JSON object per op: its spans with their attributed counts.
    * Jobs outside every span (harness checks) are not listed.
    */
  def opTrace(stats: Seq[SpanStats]): Seq[String] = {
    val t0 = stats.headOption.map(_.span.start).getOrElse(0L)
    stats.groupBy(_.span.op).toSeq.sortBy(_._1).map { case (op, ss) =>
      val spansJson = ss.map { s =>
        val sp = s.span
        val t = s.totals
        s"""{"id":${sp.id},"parent":${sp.parent},"layer":"${sp.layer}",""" +
          s""""name":${Json.str(sp.name)},"kind":"${sp.kind}",""" +
          s""""start_ms":${sp.start - t0},"end_ms":${sp.end - t0},""" +
          s""""self_ms":${s.selfMs},"gap_ms":${s.gapMs},"jobs":${s.jobs},""" +
          s""""eager_jobs":${s.eagerJobs},"reattributed_jobs":${s.reattributed},""" +
          s""""stages":${t.stages},"tasks":${t.tasks},"task_run_ms":${t.runMs},""" +
          s""""task_cpu_ms":${t.cpuNs / 1000000},"gc_ms":${t.gcMs},""" +
          s""""shuffle_read_b":${t.shufRead},"shuffle_write_b":${t.shufWrite},""" +
          s""""spill_b":${t.spill},"input_b":${t.input},"output_b":${t.output},""" +
          s""""failed":${sp.failed}}"""
      }.mkString("[", ",", "]")
      s"""{"op":$op,"spans":$spansJson}"""
    }
  }
}
