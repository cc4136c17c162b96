package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One closed span: a call from the benchmark into a graft module. Times are
  * epoch milliseconds (the clock Spark stamps job events with) plus a
  * nanosecond wall duration. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startMs: Long, endMs: Long, wallNs: Long, fileIoOps: Long) {
  def seconds: Double = wallNs / 1e9
}

/** Task totals of one Spark job, filled by the listener. */
final class JobStats(val jobId: Int, val spanId: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** What one span (with its descendants) launched on Spark. */
final case class SpanCost(jobs: Int, tasks: Long, taskSeconds: Double,
    shuffleMb: Double, spillMb: Double, gapSeconds: Double)

/**
 * Spans around the benchmark's calls into graft's public functions, with the
 * Spark jobs each call launched. Disabled, `span` only runs its body, so an
 * untraced run pays nothing and installs no listener.
 *
 * A job is credited to the span that launched it through a thread-local
 * Spark property, which threads started inside the span inherit. A job whose
 * property names a span that was not open when the job started is credited
 * by time instead, to the innermost span open then.
 */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  private val Prop = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Long, Long, Long)] // id, startMs, startNs, fileIo
  private var nextId = 1
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private var selfNs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)
      jobs.put(e.jobId, new JobStats(e.jobId, sid, e.time))
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = jobs.get(stageToJob.getOrDefault(e.stageId, -1))
      if (j != null) j.synchronized {
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private var paused = false

  /** Run `body` without recording spans (set-up work that is not measured). */
  def suspended[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  /** Run `body` inside a span named `layer.name`. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled || paused) return body
    val t0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = if (open.isEmpty) 0 else open.top._1
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    open.push((id, System.currentTimeMillis(), System.nanoTime(), graft.table.FileIO.opCount.get()))
    selfNs += System.nanoTime() - t0
    try body
    finally {
      val t1 = System.nanoTime()
      val (_, startMs, startNs, io0) = open.pop()
      spans += Span(id, parent, layer, name, startMs, System.currentTimeMillis(),
        System.nanoTime() - startNs, graft.table.FileIO.opCount.get() - io0)
      sc.setLocalProperty(Prop, prevProp)
      selfNs += System.nanoTime() - t1
    }
  }

  /** Wall time the tracer itself spent on the driver thread. */
  def selfSeconds: Double = selfNs / 1e9

  def allSpans: Seq[Span] = spans.toSeq

  /** Drain pending listener events and settle every job's owning span. */
  def finish(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    selfNs += System.nanoTime() - t0
  }

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  private lazy val jobOwner: Seq[(JobStats, Int)] = {
    def innermostAt(ms: Long): Int = {
      val c = spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      if (c.isEmpty) 0 else c.maxBy(_.startMs).id
    }
    jobs.values.asScala.toSeq.sortBy(_.jobId).map { j =>
      val owner = byId.get(j.spanId) match {
        case Some(s) if s.startMs <= j.startMs && j.startMs <= s.endMs => s.id
        case _ => innermostAt(j.startMs)
      }
      j -> owner
    }
  }

  private def isWithin(id: Int, ancestor: Int): Boolean = {
    var cur = id
    while (cur != 0) {
      if (cur == ancestor) return true
      cur = byId.get(cur).map(_.parent).getOrElse(0)
    }
    false
  }

  /** Jobs, task time, shuffle, spill and driver gap of a span, counting the
    * jobs its descendants launched. The gap is the span's wall time minus
    * the union of those jobs' intervals. */
  def cost(s: Span): SpanCost = {
    val js = jobOwner.collect { case (j, o) if isWithin(o, s.id) => j }
    val intervals = js.map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))).filter(i => i._2 > i._1).sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    for ((a, b) <- intervals) {
      if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) busy += curE - curS
    SpanCost(js.size, js.map(_.tasks).sum, js.map(_.taskMs).sum / 1e3,
      js.map(_.shuffleWriteBytes).sum / 1e6, js.map(_.spillBytes).sum / 1e6,
      math.max(0.0, s.seconds - busy / 1e3))
  }

  /** Spans as JSON lines: name, start, end, parent and run id, plus cost. */
  def jsonLines: Seq[String] = spans.toSeq.sortBy(_.id).map { s =>
    val c = cost(s)
    f"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
      f""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.seconds}%.6f,"fileio_ops":${s.fileIoOps},""" +
      f""""jobs":${c.jobs},"tasks":${c.tasks},"task_s":${c.taskSeconds}%.4f,"shuffle_mb":${c.shuffleMb}%.4f,""" +
      f""""spill_mb":${c.spillMb}%.4f,"gap_s":${c.gapSeconds}%.4f}"""
  }
}
