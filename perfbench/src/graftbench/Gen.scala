package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the warehouse fixture tables the benchmark
  * uses (nation, customer, orders, lineitem and events, with the
  * fixtures' schemas). Every column is a pure function of (seed, row
  * id), so one seed always gives the same tables.
  *
  * Sizes are set by `nOrders`: lineitem has four lines per order,
  * customer a tenth of the orders, events one per order.
  */
object Gen {

  /** Spacing between the id ranges of amplified copies. */
  val IdOffset: Long = graft.ext.Amplify.IdOffset

  private def h(seed: Long, salt: Int, ids: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: ids): _*)

  /** Uniform in [0, 1). */
  def unif(seed: Long, salt: Int, ids: Column*): Column =
    pmod(h(seed, salt, ids: _*), lit(1L << 30)).cast("double") / (1L << 30).toDouble

  /** Uniform integer in [0, n). */
  def pick(seed: Long, salt: Int, n: Long, ids: Column*): Column =
    pmod(h(seed, salt, ids: _*), lit(n))

  private def choose(seed: Long, salt: Int, values: Seq[String], ids: Column*): Column =
    element_at(array(values.map(lit): _*), (pick(seed, salt, values.size.toLong, ids: _*) + 1).cast("int"))

  private def money(u: Column, lo: Double, hi: Double): Column =
    round(u * (hi - lo) + lo, 2)

  private val Epoch1992 = 694224000L // 1992-01-01T00:00:00Z
  private val Epoch2024 = 1704067200L

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val EventTypes = Seq("click", "view", "purchase", "signup", "logout")

  final case class Sizes(nOrders: Long) {
    def nCustomers: Long = math.max(10L, nOrders / 10)
    def nEvents: Long = nOrders
  }

  def nation(s: SparkSession): DataFrame =
    s.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(s: SparkSession, seed: Long, z: Sizes): DataFrame = {
    val k = col("id") + 1
    s.range(z.nCustomers).select(k.as("c_custkey"),
      concat(lit("Customer#"), lpad(k.cast("string"), 9, "0")).as("c_name"),
      pick(seed, 11, 25, k).cast("int").as("c_nationkey"),
      money(unif(seed, 12, k), -999.99, 9999.99).as("c_acctbal"),
      choose(seed, 13, Segments, k).as("c_mktsegment"))
  }

  /** Status F and O split evenly; P (pending) is about 3 %. */
  def orders(s: SparkSession, seed: Long, z: Sizes): DataFrame = {
    val k = col("id") + 1
    val u = unif(seed, 41, k)
    s.range(z.nOrders).select(k.as("o_orderkey"),
      (pick(seed, 42, z.nCustomers, k) + 1).as("o_custkey"),
      when(u < 0.03, "P").when(u < 0.515, "F").otherwise("O").as("o_orderstatus"),
      money(unif(seed, 43, k), 1000.0, 450000.0).as("o_totalprice"),
      timestamp_seconds(lit(Epoch1992) + pick(seed, 44, 2400, k) * 86400).as("o_orderdate"),
      choose(seed, 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), k)
        .as("o_orderpriority"))
  }

  def lineitem(s: SparkSession, seed: Long, z: Sizes): DataFrame = {
    val ok = (col("id") / 4).cast("long") + 1
    val ln = (col("id") % 4).cast("int") + 1
    val q = pick(seed, 51, 50, ok, ln) + 1
    s.range(z.nOrders * 4).select(ok.as("l_orderkey"),
      (pick(seed, 52, 20000, ok, ln) + 1).as("l_partkey"),
      (pick(seed, 53, 1000, ok, ln) + 1).as("l_suppkey"),
      ln.as("l_linenumber"),
      q.cast("double").as("l_quantity"),
      round(q * money(unif(seed, 54, ok, ln), 900.0, 2100.0), 2).as("l_extendedprice"),
      round(pick(seed, 55, 11, ok, ln) / 100.0, 2).as("l_discount"),
      round(pick(seed, 56, 9, ok, ln) / 100.0, 2).as("l_tax"),
      choose(seed, 57, Seq("R", "A", "N"), ok, ln).as("l_returnflag"),
      choose(seed, 58, Seq("O", "F"), ok, ln).as("l_linestatus"),
      timestamp_seconds(lit(Epoch1992) + pick(seed, 59, 2500, ok, ln) * 86400).as("l_shipdate"))
  }

  /** Events in id order, about one a second from 2024-01-01. */
  def events(s: SparkSession, seed: Long, z: Sizes): DataFrame = {
    val k = col("id") + 1
    s.range(z.nEvents).select(k.as("event_id"),
      timestamp_seconds(lit(Epoch2024) + k + pick(seed, 61, 5, k)).as("ts"),
      (pick(seed, 62, z.nCustomers, k) + 1).as("user_id"),
      choose(seed, 63, EventTypes, k).as("event_type"),
      money(unif(seed, 64, k), 0.0, 500.0).as("value"))
  }

  /** `n` id-offset copies of a table (key columns shifted per copy). */
  def amplify(df: DataFrame, n: Int, keys: String*): DataFrame =
    (0 until n).map { c =>
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(c * IdOffset)))
    }.reduce(_ unionByName _)
}
