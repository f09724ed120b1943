package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One count record per (table, partition) — the central IR of the
  * reference's UC#1 (SURVEY.md §1.1).
  *
  * Reference emits these as colon-delimited text lines
  * `tbl:count[:k='v']` (verizon_automation_script.sh:120,125,154,159);
  * here they stay a typed Dataset end-to-end.
  *
  * @param table     table name
  * @param partition canonical `k=v[/k2=v2]` spec, null for the whole table.
  *                  Multi-level partitions are supported (the reference
  *                  mis-parses them, verizon_automation_script.sh:111-115).
  * @param cnt       row count
  */
case class CountRecord(table: String, partition: String, cnt: Long)

/** Row-count operators A1/A2 (SURVEY.md §2a).
  *
  * The reference runs ONE `hive -e "select count(*) ... where k='v'"`
  * subprocess per partition (verizon_automation_script.sh:111-122) — O(P)
  * cluster jobs. Here per-partition counting is a single grouped
  * aggregation: map-side partial count → one shuffle on the partition
  * columns → final count. At 100 TB this is the difference between P scan
  * jobs and exactly one scan.
  */
object PartitionCounts {

  /** A1: whole-table count as a 1-row DataFrame (table, partition=null, cnt).
    * On parquet, Catalyst serves `count(1)` from footer row-group metadata
    * when `spark.sql.parquet.aggregatePushdown` is on — no data scan.
    */
  def total(df: DataFrame, table: String): DataFrame =
    df.agg(count(lit(1)).as("cnt"))
      .select(lit(table).as("table"), lit(null).cast("string").as("partition"), col("cnt"))

  /** A2: one count per partition value combination, single shuffle.
    * Partition spec is rendered canonically as `k=v/k2=v2` so it round-trips
    * arbitrary depth (SURVEY.md §7.4 #3).
    */
  def perPartition(df: DataFrame, table: String, partCols: Seq[String]): DataFrame = {
    require(partCols.nonEmpty, "perPartition requires at least one partition column")
    df.groupBy(partCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(lit(table).as("table"), spec(partCols).as("partition"), col("cnt"))
  }

  /** The canonical `k=v[/k2=v2]` spec of a row's partition values. A NULL
    * value renders as the bare key (`concat_ws` skips nulls).
    */
  def spec(partCols: Seq[String]): Column =
    concat_ws("/", partCols.map(c => concat_ws("=", lit(c), col(c).cast("string"))): _*)

  /** Counts for a list of tables in one DataFrame: per-partition where
    * partition columns are given, whole-table otherwise. Mirrors the
    * reference's table loop (verizon_automation_script.sh:96-127) as a
    * union inside ONE query. Each branch keeps its own aggregation, so
    * the plan has one shuffle per table, each table is scanned once, and
    * adaptive execution submits the T shuffle stages side by side.
    * `ReconcilePipeline` does not use this: it folds every table and both
    * sides into a single aggregation.
    */
  def forTables(
      spark: SparkSession,
      sfDir: String,
      tables: Seq[(String, Seq[String])]): DataFrame = {
    val parts = tables.map { case (name, partCols) =>
      val df = Tables.load(spark, sfDir, name)
      if (partCols.isEmpty) total(df, name) else perPartition(df, name, partCols)
    }
    parts.reduce(_ unionByName _)
  }
}
