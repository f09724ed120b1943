package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Source-vs-target reconciliation (SURVEY.md §2 J1/J2).
  *
  * The reference realizes these as file-level text ops on count records:
  * `grep -Fxf src tgt` for the matched set (verizon_automation_script.sh:179)
  * and `diff --side-by-side --suppress-common-lines` for the mismatched
  * report (:170).
  *
  * Every comparison here — per-partition counts, content digests, the
  * pipeline's fused pass and the warehouse-width report — goes through
  * ONE primitive, [[cells]]: weighted rows `(keys…, in_src, in_tgt, n, h)`
  * grouped once by the cell keys, with a conditional `sum` of `n` and a
  * conditional `bit_xor` of `h` per side. A row may count for either side
  * or both (one scan then feeds both sides); a data row weighs 1, a
  * pre-aggregated count record weighs its count.
  *
  * Missing-side rule: a side with no rows in a cell has a NULL count,
  * because a sum over no rows is NULL — which is how diff shows a line on
  * one side only. A NULL key is one cell, as group-by makes it. A cell
  * that must exist with nothing on either side (a whole-table entry of
  * an empty table, 0/0) gets one zero-weight row on both sides.
  *
  * Status semantics reproduce diff's two-column output:
  *  - `matched`            — both sides present, equal counts (J1)
  *  - `mismatched`         — both sides present, different counts (J2)
  *  - `missing_in_target`  — src-only cell (diff's `<`)
  *  - `missing_in_source`  — tgt-only cell (diff's `>`)
  */
object Reconcile {

  val Matched = "matched"
  val Mismatched = "mismatched"
  val MissingInTarget = "missing_in_target"
  val MissingInSource = "missing_in_source"

  /** `df` as input rows of [[cells]]: the (aliased) cell keys, the
    * predicates for counting the row on each side, its weight and its
    * hash. No key may be named `in_src`, `in_tgt`, `n` or `h`.
    */
  def weighted(df: DataFrame, keys: Seq[Column], inSrc: Column, inTgt: Column,
      n: Column = lit(1L), h: Column = lit(null).cast("long")): DataFrame =
    df.select(keys ++ Seq(inSrc.as("in_src"), inTgt.as("in_tgt"),
      n.cast("long").as("n"), h.cast("long").as("h")): _*)

  /** The one cell comparison: one row per distinct `keys` value of
    * [[weighted]] rows, with `src_cnt`, `tgt_cnt` (NULL for a side with no
    * rows in the cell), `src_xor` and `tgt_xor`. One shuffle.
    */
  def cells(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val (src, tgt, n, h) = (col("in_src"), col("in_tgt"), col("n"), col("h"))
    rows.groupBy(keys.map(Tables.column): _*).agg(
      sum(when(src, n)).as("src_cnt"),
      sum(when(tgt, n)).as("tgt_cnt"),
      bit_xor(when(src, h)).as("src_xor"),
      bit_xor(when(tgt, h)).as("tgt_xor"))
  }

  /** Full reconciliation report from two CountRecord DataFrames
    * (columns: table, partition, cnt).
    */
  def counts(src: DataFrame, tgt: DataFrame): DataFrame = {
    def side(df: DataFrame, isSrc: Boolean) =
      weighted(df, Seq(col("table"), col("partition")), lit(isSrc), lit(!isSrc), col("cnt"))
    cells(side(src, isSrc = true).union(side(tgt, isSrc = false)), Seq("table", "partition"))
      .select(col("table"), col("partition"), col("src_cnt"), col("tgt_cnt"),
        status(col("src_cnt"), col("tgt_cnt")).as("status"))
  }

  /** A cell's status from its two counts; a NULL count is a missing side. */
  def status(srcCnt: Column, tgtCnt: Column): Column =
    when(srcCnt.isNull, MissingInSource)
      .when(tgtCnt.isNull, MissingInTarget)
      .when(srcCnt === tgtCnt, Matched)
      .otherwise(Mismatched)

  /** A [[cells]] row's content verdict: both sides hold the same multiset
    * of row hashes. A missing side is never consistent.
    */
  def consistent: Column =
    col("src_cnt") <=> col("tgt_cnt") && col("src_xor") <=> col("tgt_xor")

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
