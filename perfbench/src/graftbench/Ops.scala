package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Thrown to abandon the rest of a job once one of its calls failed. */
final class OpFailed(msg: String) extends RuntimeException(msg)

/** Operation accounting for `fail_ratio`.
  *
  * Every public call the client makes is one operation. It fails when
  * it throws, or when a check on its answer does not hold. Checks are
  * queued while the job runs and evaluated by [[settle]] once the job's
  * clock has stopped, so checking costs no job time. A failure is
  * never retried or swallowed: it is counted, and the job stops there.
  */
final class Ops(tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** The job being run (negative during warm-up). */
  var jobIndex = 0

  private var serial = 0L
  private val latencies = mutable.ArrayBuffer.empty[(String, Double)]
  private val failedOps = mutable.HashSet.empty[Long]
  private val pending = mutable.ArrayBuffer.empty[(Long, String, () => Option[String])]

  /** One call into the engine, inside its span. */
  def call[A](name: String)(body: => A): A = {
    attempted += 1
    serial += 1
    val id = serial
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name)(body)
      if (jobIndex >= 0) latencies += ((name, (System.nanoTime() - t0) / 1e6))
      r
    } catch {
      case NonFatal(e) =>
        markFailed(id, s"$name threw ${e.getClass.getName}: ${e.getMessage}")
        throw new OpFailed(name)
    }
  }

  /** Queue a check on the answer of the most recent call: `problem`
    * returns a description of what is wrong, or None.
    */
  def check(what: String)(problem: => Option[String]): Unit = {
    val id = serial
    pending += ((id, what, () => problem))
  }

  /** `check` for a plain equality. */
  def expectEq[A](what: String)(got: => A, want: => A): Unit =
    check(what) {
      val (g, w) = (got, want)
      if (g == w) None else Some(s"got $g, want $w")
    }

  /** Wall times (ms) of the timed jobs' successful calls named `names`. */
  def latenciesMs(names: Seq[String]): Seq[Double] =
    latencies.collect { case (n, ms) if names.contains(n) => ms }.toSeq

  /** Evaluate every queued check; returns the failures this job added. */
  def settle(): Int = {
    val before = failed
    pending.foreach { case (id, what, p) =>
      val r = try p() catch { case NonFatal(e) => Some(s"check threw $e") }
      r.foreach(msg => markFailed(id, s"$what: $msg"))
    }
    pending.clear()
    (failed - before).toInt
  }

  private def markFailed(id: Long, msg: String): Unit = {
    if (failures.size < 20) failures += msg
    if (failedOps.add(id)) failed += 1
  }
}
