package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, ReconcilePipeline}

/** `reconcile`: the paper's source-vs-target job.
  *
  * Five of the warehouse tables are generated from the seed: nation
  * (reconciled whole), customer, orders, lineitem (two partition
  * levels) and events; lineitem, orders and events are amplified with
  * id-offset copies. The target differs from the source in three
  * seed-chosen ways: rows dropped from one lineitem partition, one
  * orders partition missing, and one mutated cell in customer or
  * events. Each job runs `report`, `integrity()` and `writeReports` on
  * a fresh pipeline.
  */
final class ReconcileWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  private val sizes = Gen.Sizes(if (ctx.smoke) 1500L else 5000L)
  private val amp = if (ctx.smoke) 1 else 2

  val tables: Seq[(String, Seq[String])] = Seq(
    "nation" -> Nil, "customer" -> Seq("c_mktsegment"),
    "orders" -> Seq("o_orderstatus"),
    "lineitem" -> Seq("l_returnflag", "l_linestatus"),
    "events" -> Seq("event_type"))

  // what the seed plants, fixed in prepare()
  private val rnd = new scala.util.Random(ctx.seed)
  private val droppedPart = {
    val flags = Seq("A", "N", "R"); val st = Seq("F", "O")
    s"l_returnflag=${flags(rnd.nextInt(3))}/l_linestatus=${st(rnd.nextInt(2))}"
  }
  private val missingStatus = Seq("F", "O", "P")(rnd.nextInt(3))
  private val mutTable = Seq("customer", "events")(rnd.nextInt(2))
  private val mutKey = 1L + rnd.nextInt(100)
  private var mutPart = ""
  private var src = ""
  private var tgt = ""
  private var rows = 0L

  private def source(name: String): DataFrame = {
    val s = ctx.seed
    name match {
      case "nation"   => Gen.nation(spark)
      case "customer" => Gen.customer(spark, s, sizes)
      case "orders"   => Gen.amplify(Gen.orders(spark, s, sizes), amp, "o_orderkey")
      case "lineitem" => Gen.amplify(Gen.lineitem(spark, s, sizes), amp, "l_orderkey")
      case "events"   => graft.ext.Amplify.events(Gen.events(spark, s, sizes), amp)
    }
  }

  private def target(name: String, df: DataFrame): DataFrame = {
    val dropped = lit(name == "lineitem") &&
      concat(lit("l_returnflag="), col("l_returnflag"), lit("/l_linestatus="), col("l_linestatus")) === droppedPart &&
      Gen.pick(ctx.seed, 71, 50, col("l_orderkey"), col("l_linenumber")) === 0
    val out = name match {
      case "lineitem" => df.filter(!dropped)
      case "orders"   => df.filter(col("o_orderstatus") =!= missingStatus)
      case _          => df
    }
    if (name != mutTable) out
    else {
      val (key, c) = mutTable match {
        case "customer" => ("c_custkey", "c_acctbal")
        case "events"   => ("event_id", "value")
      }
      out.withColumn(c, when(col(key) === mutKey, col(c) + 1.0).otherwise(col(c)))
    }
  }

  def prepare(rep: Int): Unit = {
    val root = ctx.dir(s"reconcile-in$rep")
    src = s"$root/src"; tgt = s"$root/tgt"
    // the writes are independent: run them side by side; a target table
    // the seed leaves alone is a copy of the source files
    val changed = Set("lineitem", "orders", mutTable)
    def inParallel(tasks: Seq[() => Unit]): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
      finally pool.shutdown()
    }
    inParallel(tables.map { case (name, _) => () => source(name).write.parquet(s"$src/$name.parquet") } ++
      tables.collect { case (name, _) if changed(name) =>
        () => target(name, source(name)).write.parquet(s"$tgt/$name.parquet") })
    for ((name, _) <- tables if !changed(name)) copyTree(s"$src/$name.parquet", s"$tgt/$name.parquet")
    val (key, part) = mutTable match {
      case "customer" => ("c_custkey", "c_mktsegment")
      case "events"   => ("event_id", "event_type")
    }
    mutPart = s"$part=" + spark.read.parquet(s"$src/$mutTable.parquet")
      .filter(col(key) === mutKey).select(part).head().getString(0)
    val srcRows = 25L + sizes.nCustomers + amp * (sizes.nOrders * 5 + sizes.nEvents)
    rows = 2 * srcRows - Seq("orders", "lineitem").map { n =>
      spark.read.parquet(s"$src/$n.parquet").count() - spark.read.parquet(s"$tgt/$n.parquet").count()
    }.sum
  }

  def warmupJobs: Int = 0
  def rowsPerJob: Long = rows

  def job(i: Int): Unit = CacheScope.withCached {
    val ops = ctx.ops
    val p = new ReconcilePipeline(spark, src, tgt, tables)
    val report = ops.call("core.counts") { p.report.collect() }
    val wantOdd = Set(
      ("lineitem", droppedPart, "mismatched"),
      ("orders", s"o_orderstatus=$missingStatus", "missing_in_target"))
    ops.expectEq("report statuses other than matched")(
      report.filter(_.getAs[String]("status") != "matched")
        .map(r => (r.getAs[String]("table"), r.getAs[String]("partition"), r.getAs[String]("status"))).toSet,
      wantOdd)
    val nMatched = report.count(_.getAs[String]("status") == "matched")
    val integrity = ops.call("core.integrity") { p.integrity().collect() }
    val wantBad = Set(("lineitem", droppedPart), ("orders", s"o_orderstatus=$missingStatus"),
      (mutTable, mutPart))
    ops.expectEq("integrity inconsistent partitions")(
      integrity.filter(r => !r.getAs[Boolean]("consistent"))
        .map(r => (r.getAs[String]("table"), r.getAs[String]("partition"))).toSet,
      wantBad)
    val out = ctx.dir("reports")
    ops.call("core.reports") { p.writeReports(out) }
    ops.expectEq("report file rows (matched, mismatched, not consistent)")(
      (csvRows(s"$out/MatchedData"), csvRows(s"$out/TableMismatchedData"),
        csvRows(s"$out/TableDataNotConsistent")),
      (nMatched, wantOdd.size, wantBad.size))
  }

  private def copyTree(from: String, to: String): Unit = {
    val root = Paths.get(from)
    val s = Files.walk(root)
    try s.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(root.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }

  /** Data rows across the CSV part files of one report (header excluded). */
  private def csvRows(dir: String): Int = {
    val files = Files.list(Paths.get(dir))
    try files.iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".csv"))
      .map((p: Path) => math.max(0, Files.readAllLines(p).size - 1)).sum
    finally files.close()
  }

  override def layerExtras(traced: Seq[Tracer.SpanStat]): Seq[(String, String, Double)] = {
    val perJob = traced.filter(s => s.name.startsWith("core."))
      .groupBy(_.job).values.map(_.map(_.recordsRead).sum.toDouble / rows).toSeq
    Seq(("core.records_read_per_row", "count/row", Main.median(perJob)))
  }
}
