package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Everything a workload needs from the harness. */
final case class Ctx(
    spark: SparkSession, ops: Ops, seed: Long, work: String, smoke: Boolean) {
  def dir(name: String): String = s"$work/$name"
}

/** One closed-loop workload: the single client runs [[job]] after
  * [[job]] until the run's time is up.
  */
trait Workload {
  /** Write the inputs for set-up repetition `rep` from the seed; the
    * last repetition's inputs are the ones the jobs use.
    */
  def prepare(rep: Int): Unit
  /** Jobs run before the clock starts (their cost is part of set-up). */
  def warmupJobs: Int
  /** Untimed work before job `i` (making its inputs). */
  def beforeJob(i: Int): Unit = ()
  /** One job; its calls go through `ctx.ops`. */
  def job(i: Int): Unit
  /** Untimed work after job `i` and its checks. */
  def afterJob(i: Int): Unit = ()
  /** Input rows the job just run processed. */
  def rowsPerJob: Long
  /** Latency classes (label -> span names) reported as p50 and tail. */
  def latencyClasses: Seq[(String, Seq[String])] = Nil
  /** Workload-specific figures: (name, unit, value), end-to-end side. */
  def endToEndExtras(): Seq[(String, String, Double)] = Nil
  /** Workload-specific per-layer figures, from the traced jobs' spans. */
  def layerExtras(traced: Seq[Tracer.SpanStat]): Seq[(String, String, Double)] = Nil
}

/** Batch jobs run one after the other as one job, the way a nightly
  * batch runs them in one application.
  */
final class Batch(parts: Workload*) extends Workload {
  def prepare(rep: Int): Unit = parts.foreach(_.prepare(rep))
  def warmupJobs: Int = parts.map(_.warmupJobs).max
  def job(i: Int): Unit = parts.foreach(_.job(i))
  def rowsPerJob: Long = parts.map(_.rowsPerJob).sum
  override def layerExtras(traced: Seq[Tracer.SpanStat]): Seq[(String, String, Double)] =
    parts.flatMap(_.layerExtras(traced))
}

object Main {

  /** The spans the benchmark records, one per public call it makes. */
  val Spans: Seq[String] = Seq(
    "core.counts", "core.integrity", "core.reports", "core.asof",
    "ext.dedup", "ext.simsearch", "stream.land",
    "sources.v2.append", "sources.v2.rowlevel", "sources.v2.compact",
    "sources.v2.scan")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val out = args("out")
    val smoke = args.getOrElse("smoke", "0") == "1"
    val setupReps = args.getOrElse("setup-reps", "3").toInt

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.configure(
      GraftSession.builder(s"local[$cores]", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(spark)
    val ops = new Ops(tracer)
    val ctx = Ctx(spark, ops, seed, work, smoke)
    val w: Workload = workload match {
      case "batch"     => new Batch(new ReconcileWorkload(ctx), new CurateWorkload(ctx))
      case "reconcile" => new ReconcileWorkload(ctx)
      case "curate"    => new CurateWorkload(ctx)
      case "ingest"    => new IngestWorkload(ctx)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val prepS = (0 until setupReps).map(r => timeS(w.prepare(r)))
    val warmTimes = (-w.warmupJobs until 0).map(i => runJob(w, ops, tracer, i, traced = false))
    val setupS = sessionS + median(prepS) + warmTimes.map(_._1).sum

    // timed phase: one client, jobs back to back
    val jobs = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var rows = 0L
    val minJobs = if (trace && !smoke) 3 else 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (jobs.size < minJobs || System.nanoTime() < deadline) {
      val traced = trace && (smoke || i % 2 == 1)
      val (dt, _) = runJob(w, ops, tracer, i, traced)
      jobs += ((dt, traced))
      rows += w.rowsPerJob
      i += 1
    }
    // live heap: the lowest of three readings, each after a full GC
    val heapLiveMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min

    val plain = jobs.filterNot(_._2).map(_._1).toSeq
    val all = jobs.map(_._1).toSeq
    val e2e = mutable.ArrayBuffer[(String, String, Any)](
      ("setup_s", "s", setupS),
      ("job_s", "s", median(if (plain.nonEmpty) plain else all)),
      ("rows_per_s", "rows/s", rows / all.sum),
      ("heap_live_mb", "MB", heapLiveMb),
      ("fail_ratio", "ratio", ops.failed.toDouble / math.max(1L, ops.attempted)))
    w.latencyClasses.foreach { case (label, names) =>
      val xs = ops.latenciesMs(names)
      e2e += ((s"${label}_p50_ms", "ms", pct(xs, 50.0)))
      val (tp, tv) = tail(xs)
      e2e += ((s"${label}_tail_ms", "ms", tv))
      e2e += ((s"${label}_tail_pct", "percentile", tp))
      e2e += ((s"${label}_samples", "count", xs.size.toDouble))
    }
    w.endToEndExtras().foreach { case (n, u, v) => e2e += ((n, u, v)) }

    val layer = mutable.ArrayBuffer.empty[(String, String, Any)]
    if (trace) {
      val st = tracer.stats()
      val tracedJobs = jobs.indices.filter(jobs(_)._2)
      for (name <- Spans) {
        val by = tracedJobs.map(j => st.filter(s => s.job == j && s.name == name))
        def m(f: Tracer.SpanStat => Double) = median(by.map(_.map(f).sum))
        layer += ((s"$name.self_s", "s", m(_.selfS)))
        layer += ((s"$name.jobs", "count", m(_.jobs.toDouble)))
        layer += ((s"$name.tasks", "count", m(_.tasks.toDouble)))
        layer += ((s"$name.cpu_s", "s", m(_.cpuS)))
        layer += ((s"$name.plan_s", "s", m(_.planS)))
        layer += ((s"$name.driver_s", "s", m(_.driverS)))
        layer += ((s"$name.shuffle_mb", "MB", m(_.shuffleMb)))
        layer += ((s"$name.records_read", "count", m(_.recordsRead.toDouble)))
        layer += ((s"$name.gc_s", "s", m(_.gcS)))
      }
      w.layerExtras(st.filter(s => tracedJobs.contains(s.job)))
        .foreach { case (n, u, v) => layer += ((n, u, v)) }
      // the first timed job is untraced and may still be cold: leave it out
      val warm = jobs.drop(1)
      val (on, off) = (warm.filter(_._2).map(_._1).toSeq, warm.filterNot(_._2).map(_._1).toSeq)
      layer += (("trace_overhead_pct", "%",
        if (on.isEmpty || off.isEmpty) Double.NaN else (median(on) / median(off) - 1.0) * 100.0))
      // each job's top-level spans must account for its wall time
      val cover = tracedJobs.map { j =>
        val mine = st.filter(_.job == j)
        val root = mine.find(_.name == "job").map(_.totalS).getOrElse(Double.NaN)
        mine.filter(s => s.topLevel && s.name != "job").map(_.selfS).sum / root * 100.0
      }
      layer += (("trace.span_cover_pct", "%", if (cover.isEmpty) Double.NaN else cover.min))
    }

    val json = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "jobs" -> jobs.size, "job_times_s" -> all, "traced" -> jobs.map(_._2).toSeq,
      "session_s" -> sessionS, "prepare_s" -> prepS, "warm_s" -> warmTimes.map(_._1),
      "rows_per_job" -> rows / jobs.size,
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "failures" -> ops.failures.toSeq,
      "end_to_end" -> e2e.map { case (n, u, v) => Json.obj(Seq("name" -> n, "unit" -> u, "value" -> v)) }.toSeq,
      "per_layer" -> layer.map { case (n, u, v) => Json.obj(Seq("name" -> n, "unit" -> u, "value" -> v)) }.toSeq))
    Files.writeString(Paths.get(out), json.json)
    val t0 = System.nanoTime()
    spark.stop()
    System.err.println(f"graftbench: result written; session stopped in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** One job inside its root span; returns (wall seconds, failed ops). */
  private def runJob(w: Workload, ops: Ops, tracer: Tracer, i: Int, traced: Boolean): (Double, Int) = {
    w.beforeJob(i)
    ops.jobIndex = i
    if (traced) tracer.start(i)
    val t0 = System.nanoTime()
    try tracer.span("job")(w.job(i))
    catch { case _: OpFailed => () }
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.stop()
    val failed = ops.settle()
    w.afterJob(i)
    (dt, failed)
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50.0)

  /** Linear-interpolated percentile (NaN on no samples). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The highest whole percentile with at least ten samples beyond it:
    * (percentile, value). NaN under 20 samples, where that percentile
    * would lie below the median.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 20) (Double.NaN, Double.NaN)
    else {
      val p = math.floor(100.0 * (1.0 - 10.0 / xs.size))
      (p, pct(xs, p))
    }
}

/** Minimal JSON rendering for the result file. */
object Json {
  final case class Raw(json: String)

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${render(v)}" }.mkString("{", ", ", "}"))

  def render(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
