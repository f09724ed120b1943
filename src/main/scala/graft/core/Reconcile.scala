package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Source-vs-target reconciliation (SURVEY.md §2 J1/J2).
  *
  * The reference realizes these as file-level text ops on count records:
  * `grep -Fxf src tgt` for the matched set (verizon_automation_script.sh:179)
  * and `diff --side-by-side --suppress-common-lines` for the mismatched
  * report (:170). Here both are views over ONE full outer join keyed on
  * (table, partition) — a single shuffle over count records (T×P rows,
  * tiny at any data scale, since the heavy per-partition counting has
  * already reduced 100 TB of rows to per-partition counts).
  *
  * Status semantics reproduce diff's two-column output:
  *  - `matched`            — both sides present, equal counts (J1)
  *  - `mismatched`         — both sides present, different counts (J2)
  *  - `missing_in_target`  — src-only row (diff's `<`)
  *  - `missing_in_source`  — tgt-only row (diff's `>`)
  */
object Reconcile {

  val Matched = "matched"
  val Mismatched = "mismatched"
  val MissingInTarget = "missing_in_target"
  val MissingInSource = "missing_in_source"

  /** Full reconciliation report from two CountRecord DataFrames
    * (columns: table, partition, cnt).
    */
  def counts(src: DataFrame, tgt: DataFrame): DataFrame = {
    val s = src.select(col("table"), col("partition"), col("cnt").as("src_cnt"))
    val t = tgt.select(col("table"), col("partition"), col("cnt").as("tgt_cnt"))
    // <=> join on partition: null partition (whole-table records) must
    // match null, which === would drop.
    val joined = s.alias("s").join(t.alias("t"),
      col("s.table") === col("t.table") && col("s.partition") <=> col("t.partition"),
      "full_outer")
    joined.select(
      coalesce(col("s.table"), col("t.table")).as("table"),
      coalesce(col("s.partition"), col("t.partition")).as("partition"),
      col("src_cnt"),
      col("tgt_cnt"),
      status(col("src_cnt"), col("tgt_cnt")).as("status"))
  }

  /** A cell's status from its two counts; a NULL count is a missing side. */
  def status(srcCnt: Column, tgtCnt: Column): Column =
    when(srcCnt.isNull, MissingInSource)
      .when(tgtCnt.isNull, MissingInTarget)
      .when(srcCnt === tgtCnt, Matched)
      .otherwise(Mismatched)

  /** J1: the reference's MatchedData report. */
  def matched(report: DataFrame): DataFrame =
    report.filter(col("status") === Matched)
      .select(col("table"), col("partition"), col("src_cnt").as("cnt"))

  /** J2: the reference's TableMismatchedData report (both sides shown,
    * like diff --side-by-side).
    */
  def mismatched(report: DataFrame): DataFrame =
    report.filter(col("status") =!= Matched)
      .select(col("table"), col("partition"), col("src_cnt"), col("tgt_cnt"), col("status"))
}
