package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into each graft layer, plus
  * the two listeners that attribute Spark work to them.
  *
  * A span holds a name, start, end, parent span and the benchmark job
  * it ran in. Spans stay in memory; [[stats]] turns them into per-span
  * figures once the timed phase is over. Nothing inside the engine is
  * instrumented: a Spark job is charged to the span whose id it carries
  * as a local property (inherited by threads the call starts), or,
  * failing that, to the innermost span open when the job started.
  *
  * When tracing is off, [[span]] is a plain call and no listener is
  * registered.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var on = false
  private var benchJob = -1

  // written on the listener-bus thread, read after a drain
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, planning ms)

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = new JobRec(e.time, sp)
      e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.records += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private object planListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)
    private def note(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Tracer.this.synchronized {
        plans += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
      }
    }
  }

  /** Start recording: spans open from now on are kept, and both
    * listeners are registered.
    */
  def start(job: Int): Unit = {
    benchJob = job
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    on = true
  }

  /** Stop recording. Drains the listener bus first, so no event of the
    * traced job is lost when the listeners are removed.
    */
  def stop(): Unit = if (on) {
    on = false
    ListenerBusDrain(sc)
    spark.listenerManager.unregister(planListener)
    sc.removeSparkListener(sparkListener)
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        benchJob, System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Per-span figures, one entry per span occurrence. */
  def stats(): Seq[SpanStat] = synchronized {
    val children = spans.groupBy(_.parent)
    def innermost(t: Long): Int = {
      var best = -1
      spans.foreach(s => if (s.startMs <= t && t <= s.endMs) best = s.id) // later = deeper
      best
    }
    val jobSpan = jobs.map { case (id, j) =>
      id -> (if (j.span >= 0 && j.span < spans.size) j.span else innermost(j.startMs))
    }
    val jobsBySpan = jobs.toSeq.groupBy { case (id, _) => jobSpan(id) }
    val plansBySpan = plans.groupBy { case (t, _) => innermost(t) }
    val jobIntervals = union(jobs.values.map(j => (j.startMs, math.max(j.startMs, j.endMs))).toSeq)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      val selfNs = (s.endNs - s.startNs) - kids.map(k => k.endNs - k.startNs).sum
      val selfIv = subtract(Seq((s.startMs, s.endMs)),
        union(kids.map(k => (k.startMs, k.endMs)).toSeq))
      val covered = intersectLen(selfIv, jobIntervals)
      val driverMs = selfIv.map { case (a, b) => b - a }.sum - covered
      val js = jobsBySpan.getOrElse(s.id, Nil).map(_._2)
      SpanStat(s.name, s.job, s.parent < 0 || spans(s.parent).parent < 0,
        selfNs / 1e9, (s.endNs - s.startNs) / 1e9,
        js.size, js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e9,
        plansBySpan.getOrElse(s.id, Nil).map(_._2).sum / 1e3,
        math.max(0L, driverMs) / 1e3,
        js.map(_.shuffleBytes).sum / 1e6, js.map(_.records).sum,
        js.map(_.gcMs).sum / 1e3)
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  final class Span(val id: Int, val name: String, val parent: Int, val job: Int,
      val startNs: Long, val startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
  }

  final class JobRec(val startMs: Long, val span: Int) {
    var endMs: Long = startMs
    var tasks: Long = 0L
    var cpuNs: Long = 0L
    var gcMs: Long = 0L
    var shuffleBytes: Long = 0L
    var records: Long = 0L
  }

  /** `topLevel`: the span is a direct child of the benchmark job's root
    * span (or is the root itself).
    */
  final case class SpanStat(
      name: String, job: Int, topLevel: Boolean, selfS: Double, totalS: Double,
      jobs: Long, tasks: Long, cpuS: Double, planS: Double, driverS: Double,
      shuffleMb: Double, recordsRead: Long, gcS: Double)

  private[graftbench] def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private[graftbench] def subtract(
      base: Seq[(Long, Long)], cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    cut.foldLeft(base) { case (acc, (c, d)) =>
      acc.flatMap { case (a, b) =>
        if (d <= a || c >= b) Seq((a, b))
        else Seq((a, c), (d, b)).filter { case (x, y) => y > x }
      }
    }

  private[graftbench] def intersectLen(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    (for ((x, y) <- a; (u, v) <- b) yield math.max(0L, math.min(y, v) - math.max(x, u))).sum
}
