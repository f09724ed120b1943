package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.core.AsOfJoin
import graft.sources.v2.DelimCompact
import graft.stream.EventWindows

/** `ingest`: writes beside reads on the graft-delim table format.
  *
  * Each job is one cycle. It lands the cycle's event chunks with an
  * AvailableNow stream through a watermark dedup (RocksDB state) into a
  * graft-delim sink that commits once per trigger; issues client
  * commits against a merge-on-read orders table (append, MERGE, DELETE,
  * and a compaction every third cycle); and reads while the table is
  * being written: key and partition reads, full aggregates and one
  * `AsOfJoin.latestPrior` enrichment.
  *
  * The orders table is mirrored by a plain in-memory model that gets
  * the same mutations; every read is checked against it.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  private val Table = "graft_cat.default.bench_orders"
  private val nBase = if (ctx.smoke) 2000 else 10000
  private val nCust = nBase / 10
  private val chunks = 4
  private val perChunk = if (ctx.smoke) 500 else 1000
  private val Epoch2024 = 1704067200L

  private final case class Order(cust: Long, price: Double, date: Long, status: String)

  private val model = mutable.HashMap.empty[Long, Order]
  private var nextKey = 0L
  private var root = ""
  private def ordersPath = s"$root/orders"
  private def landedPath = s"$root/landed"
  private def incomingPath = s"$root/incoming"
  private var landedRows = 0L
  private var landedIdSum = 0L

  // per-cycle inputs made before the job's clock starts
  private var stream: DataFrame = _
  private var cycleEvents: Seq[(Long, Long, Long)] = Nil // distinct (event_id, user_id, ts_s)

  // per-job figures for the per-layer report
  private val streamStats = mutable.ArrayBuffer.empty[(Int, Seq[StreamingQueryProgress])]
  private val bytesWritten = mutable.ArrayBuffer.empty[(Int, Long)]
  private var lastBytes = 0L

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", LongType), StructField("o_orderstatus", StringType)))

  private def newOrder(rnd: Random, key: Long): Order =
    Order(1L + rnd.nextInt(nCust), math.round(rnd.nextDouble() * 4500000.0) / 100.0 + 10.0,
      Epoch2024 + key * 7, Seq("F", "O", "P")(rnd.nextInt(3)))

  private def frame(rows: Seq[(Long, Order)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (k, o) =>
      Row(k, o.cust, o.price, o.date, o.status)
    }, 2), orderSchema)

  def prepare(rep: Int): Unit = {
    root = ctx.dir(s"ingest-in$rep")
    model.clear()
    landedRows = 0L; landedIdSum = 0L
    stream = null
    val rnd = new Random(ctx.seed)
    (1L to nBase.toLong).foreach(k => model(k) = newOrder(rnd, k))
    nextKey = nBase + 1L
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"""CREATE TABLE $Table
      (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, o_totalprice DOUBLE,
       o_orderdate BIGINT, o_orderstatus STRING)
      USING `graft-delim` PARTITIONED BY (o_orderstatus)
      OPTIONS (mergeMode 'merge-on-read', rowId 'o_orderkey')
      LOCATION '$ordersPath'""")
    frame(model.toSeq.sortBy(_._1)).writeTo(Table).append()
    lastBytes = dirBytes(ordersPath)
  }

  def warmupJobs: Int = 2
  /** The cycle's events plus the orders table the reads cover. */
  def rowsPerJob: Long = chunks.toLong * perChunk + model.size

  override def latencyClasses: Seq[(String, Seq[String])] = Seq(
    "commit" -> Seq("sources.v2.append", "sources.v2.rowlevel", "sources.v2.compact"),
    "scan" -> Seq("sources.v2.scan", "core.asof"))

  /** Land cycle `i`'s events as `chunks` new files in the landing
    * directory, in event-time order; about a tenth are sent twice.
    */
  override def beforeJob(i: Int): Unit = {
    val rnd = new Random(ctx.seed * 7919L + i)
    val n = chunks * perChunk
    val cycle = i + 100L // warm-up cycles have negative i
    val first = cycle * 1000000L
    val events = (0 until n).map { j =>
      (first + j, 1L + rnd.nextInt(nCust), Epoch2024 + 60000L + cycle * n * 3 + j * 3L,
        Gen.EventTypes(rnd.nextInt(Gen.EventTypes.size)), math.round(rnd.nextDouble() * 50000) / 100.0)
    }
    cycleEvents = events.map(e => (e._1, e._2, e._3))
    import spark.implicits._
    events.grouped(perChunk).foreach { chunk =>
      val resent = chunk.filter(_ => rnd.nextInt(10) == 0)
      (chunk ++ resent).toDF("event_id", "user_id", "ts_s", "event_type", "value")
        .withColumn("ts", timestamp_seconds(col("ts_s")))
        .coalesce(1).write.mode("append").parquet(incomingPath)
    }
    if (stream == null)
      stream = spark.readStream.schema(spark.read.parquet(incomingPath).schema)
        .option("maxFilesPerTrigger", "1").parquet(incomingPath)
  }

  def job(i: Int): Unit = {
    val ops = ctx.ops
    val rnd = new Random(ctx.seed * 104729L + i)

    // 1. land the cycle's events
    val sinkGen = manifestGen(landedPath)
    val progress = ops.call("stream.land") {
      val q = EventWindows.dedupStream(stream, Seq("event_id"), "2 hours")
        .select(col("event_id"), col("user_id"), col("ts_s"), col("value"), col("event_type"))
        .writeStream.format("graft-delim")
        .option("path", landedPath)
        .option("partitionBy", "event_type")
        .option("checkpointLocation", s"$root/checkpoint")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }
    if (i >= 0) streamStats += ((i, progress))
    landedRows += cycleEvents.size
    landedIdSum += cycleEvents.map(_._1).sum
    ops.expectEq("sink generations advanced, one per trigger")(
      manifestGen(landedPath) - sinkGen, progress.size.toLong)
    ops.expectEq("data triggers, one per chunk")(progress.count(_.numInputRows > 0), chunks)

    // 2. client commits, each checked to advance the generation by one
    def commit(name: String)(body: => Unit): Unit = {
      val g = manifestGen(ordersPath)
      ops.call(name)(body)
      val after = manifestGen(ordersPath)
      ops.expectEq(s"$name advanced the generation by one")(after - g, 1L)
    }
    val appended = (0 until 400).map { _ => val k = nextKey; nextKey += 1; k -> newOrder(rnd, k) }
    commit("sources.v2.append") { frame(appended).writeTo(Table).append() }
    model ++= appended

    val keys = model.keysIterator.toIndexedSeq
    val updated = (0 until 200).map(_ => keys(rnd.nextInt(keys.size))).distinct
      .map(k => k -> model(k).copy(price = model(k).price + 1.0))
    val inserted = (0 until 100).map { _ => val k = nextKey; nextKey += 1; k -> newOrder(rnd, k) }
    commit("sources.v2.rowlevel") {
      frame(updated ++ inserted).createOrReplaceTempView("bench_merge_src")
      spark.sql(s"""MERGE INTO $Table t USING bench_merge_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
        WHEN NOT MATCHED THEN INSERT *""")
    }
    model ++= updated ++ inserted

    val lo = 1L + rnd.nextInt(nBase)
    commit("sources.v2.rowlevel") {
      spark.sql(s"DELETE FROM $Table WHERE o_orderkey BETWEEN $lo AND ${lo + 149}")
    }
    (lo to lo + 149).foreach(model.remove)

    if (Math.floorMod(i, 3) == 2) commit("sources.v2.compact") { DelimCompact.compact(spark, ordersPath) }

    // 3. reads while the table is being written
    val want = model.toMap
    val probe = (0 until 5).map(_ => keys(rnd.nextInt(keys.size)))
    val got = ops.call("sources.v2.scan") {
      spark.table(Table).filter(col("o_orderkey").isin(probe: _*)).collect()
    }
    ops.expectEq("key read")(
      got.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3), r.getString(4))).toMap,
      probe.distinct.flatMap(k => want.get(k).map(o => k -> (o.cust, o.price, o.date, o.status))).toMap)
    scanned(i) += probe.distinct.count(want.contains).toLong

    val status = Seq("F", "O", "P")(rnd.nextInt(3))
    val part = ops.call("sources.v2.scan") {
      spark.table(Table).filter(col("o_orderstatus") === status)
        .agg(count(lit(1)), sum("o_totalprice")).head()
    }
    val inPart = want.values.filter(_.status == status)
    check("partition read", (part.getLong(0), part.getDouble(1)), (inPart.size.toLong, inPart.map(_.price).sum))
    scanned(i) += inPart.size

    val full = ops.call("sources.v2.scan") {
      spark.table(Table).groupBy("o_orderstatus")
        .agg(count(lit(1)), sum("o_orderkey"), sum("o_totalprice")).collect()
    }
    ops.expectEq("live rows and key checksum per status")(
      full.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      want.groupBy(_._2.status).map { case (s, m) => (s, m.size.toLong, m.keys.sum) }.toSet)
    check("price checksum", ((), full.map(_.getDouble(3)).sum), ((), want.values.map(_.price).sum))
    scanned(i) += want.size

    val landed = ops.call("sources.v2.scan") {
      spark.read.format("graft-delim")
        .schema("event_id BIGINT, user_id BIGINT, ts_s BIGINT, value DOUBLE, event_type STRING")
        .load(landedPath).agg(count(lit(1)), sum("event_id")).head()
    }
    ops.expectEq("landed events after dedup")((landed.getLong(0), landed.getLong(1)), (landedRows, landedIdSum))
    scanned(i) += landedRows

    // 4. enrich this cycle's events with the latest prior order of the user
    val enriched = ops.call("core.asof") {
      val first = cycleEvents.head._1
      val left = spark.read.format("graft-delim")
        .schema("event_id BIGINT, user_id BIGINT, ts_s BIGINT, value DOUBLE, event_type STRING")
        .load(landedPath).filter(col("event_id").between(first, first + 999999L))
        .select("event_id", "user_id", "ts_s")
      val right = spark.table(Table).select("o_custkey", "o_orderdate", "o_totalprice")
      AsOfJoin.latestPrior(left, right, "user_id", "o_custkey", "ts_s", "o_orderdate", Seq("o_totalprice"))
        .agg(count(lit(1)), count(col("o_totalprice")), sum("o_totalprice")).head()
    }
    check("as-of enrichment", ((enriched.getLong(0), enriched.getLong(1)),
      if (enriched.isNullAt(2)) 0.0 else enriched.getDouble(2)), asOf(want))
  }

  /** Rows qualifying for the reads of each timed job. */
  private val scanned = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)

  /** `got == want` on the exact part, within a cent (relative 1e-9)
    * on the trailing sum of prices.
    */
  private def check(what: String, got: => (Any, Double), want: => (Any, Double)): Unit =
    ctx.ops.check(what) {
      val (g, w) = (got, want)
      if (g._1 == w._1 && math.abs(g._2 - w._2) <= 0.01 + 1e-9 * math.abs(w._2)) None
      else Some(s"got $g, want $w")
    }

  /** ((events, events with a prior order), sum of those orders' prices). */
  private def asOf(orders: Map[Long, Order]): ((Long, Long), Double) = {
    val byCust = orders.values.groupBy(_.cust).map { case (c, os) =>
      c -> os.toSeq.sortBy(_.date).toIndexedSeq
    }
    var (matched, total) = (0L, 0.0)
    cycleEvents.foreach { case (_, user, ts) =>
      byCust.get(user).foreach { os =>
        val prior = os.lastIndexWhere(_.date <= ts)
        if (prior >= 0) { matched += 1; total += os(prior).price }
      }
    }
    ((cycleEvents.size.toLong, matched), total)
  }

  override def afterJob(i: Int): Unit = if (i >= 0) {
    val b = dirBytes(ordersPath) + dirBytes(landedPath)
    bytesWritten += ((i, math.max(0L, b - lastBytes)))
    lastBytes = b
  } else lastBytes = dirBytes(ordersPath) + dirBytes(landedPath)

  /** The table's current generation, from its manifest header. */
  private def manifestGen(table: String): Long = {
    val f = Paths.get(table, "_manifest")
    if (!Files.exists(f)) 0L
    else {
      val lines = Files.readAllLines(f).asScala.takeWhile(_.startsWith("#"))
      lines.flatMap(_.split(' ')).collectFirst {
        case a if a.startsWith("gen=") => a.stripPrefix("gen=").toLong
      }.getOrElse(throw new IllegalStateException(s"no generation in $f"))
    }
  }

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
  }

  private def dirBytes(dir: String): Long = files(dir).map(Files.size).sum

  override def layerExtras(traced: Seq[Tracer.SpanStat]): Seq[(String, String, Double)] = {
    val tracedJobs = traced.map(_.job).toSet
    val mine = streamStats.filter { case (j, _) => tracedJobs.contains(j) }.map(_._2)
    val triggerMs = mine.flatten.map(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0))
    val scans = traced.filter(_.name == "sources.v2.scan")
    val dataFiles = files(ordersPath).count { p =>
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith(".crc")
    }
    Seq(
      ("stream.triggers", "count", Main.median(mine.map(_.size.toDouble).toSeq)),
      ("stream.trigger_p50_ms", "ms", Main.pct(triggerMs.toSeq, 50.0)),
      ("stream.state_rows", "count", Main.median(mine.map(ps =>
        ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)).toSeq)),
      ("stream.state_commit_ms", "ms", Main.median(mine.map(ps =>
        ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum.toDouble).toSeq)),
      ("sources.v2.files", "count", dataFiles.toDouble),
      ("sources.v2.bytes_written", "bytes", Main.median(
        bytesWritten.filter { case (j, _) => tracedJobs.contains(j) }.map(_._2.toDouble).toSeq)),
      ("sources.v2.scan.records_per_row_returned", "count/row",
        scans.map(_.recordsRead).sum.toDouble / math.max(1L, tracedJobs.toSeq.map(scanned).sum)))
  }

  override def endToEndExtras(): Seq[(String, String, Double)] =
    Seq(("stored_bytes_per_row", "bytes/row", dirBytes(ordersPath) / model.size.toDouble))
}
