package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet table loaders for the driver test fixtures (TESTDATA.md).
  *
  * The reference resolves tables by name against a Hive metastore
  * (`use $db; select ... from $tbl` — verizon_automation_script.sh:104,119);
  * here a "database" is a directory of parquet tables and a table is a
  * `DataFrame` with the schema taken from the parquet footer.
  *
  * Scale note: `spark.read.parquet` on a directory-partitioned layout gives
  * partition pruning + column pruning + predicate pushdown for free; nothing
  * here ever materializes rows on the driver.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The column with exactly this name: quoted, so a dot or backtick in
    * the name is part of it (`col("a.b")` would look for a field `b`
    * of a column `a`).
    */
  def column(name: String): Column = col(s"`${name.replace("`", "``")}`")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** The events fixture has stored `ts` two ways across driver
    * regenerations: parquet TIMESTAMP(NANOS) (rejected by Spark by
    * default, so read as raw nanos via legacy long mode and truncated
    * ns→µs with integer division — `/ 1000` in double would lose
    * precision on ~1.7e18 nano values; DuckDB truncates the same way)
    * and, since 2026-08-13, TIMESTAMP_NTZ (µs, no UTC adjustment, which
    * Spark surfaces as TimestampNTZType). Both are normalized to plain
    * TimestampType so every downstream consumer — `withWatermark`,
    * `unix_micros`, `Row.getTimestamp` — sees one type. The NTZ→TZ cast
    * is value-preserving because every entry point pins
    * `spark.sql.session.timeZone=UTC`.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(load(spark, sfDir, "events"))

  /** ts: nanos-as-long or TIMESTAMP_NTZ → TimestampType (µs); no-op if
    * already timestamp. The nanos flavor additionally requires
    * `spark.sql.legacy.parquet.nanosAsLong=true` in the SESSION BUILDER
    * (GraftSession/Bench/Verify all set it) — the loader no longer
    * mutates session conf as a side effect.
    */
  def normalizeEvents(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    case TimestampNTZType =>
      // the NTZ→TZ cast reinterprets the wall-clock value in the session
      // timezone; it is value-preserving ONLY under UTC. Every entry
      // point pins UTC, but this method is public — fail loudly rather
      // than silently shifting every event timestamp if a future entry
      // point forgets the pin.
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
      require(tz == "UTC",
        s"normalizeEvents requires spark.sql.session.timeZone=UTC (got '$tz'): " +
          "the TIMESTAMP_NTZ→TIMESTAMP cast shifts values under any other zone")
      df.withColumn("ts", col("ts").cast("timestamp"))
    case _                => df
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
