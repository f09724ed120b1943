package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's full job, end-to-end (SURVEY.md §3.1 + §3.2):
  * UC#1 row-count reconciliation feeding UC#2 integrity checks, with the
  * three CSV reports.
  *
  * Reference shape: ~2 + 4·T + 2·P sequential `hive` CLI forks plus
  * driver-side diff/grep/md5sum over text files
  * (verizon_automation_script.sh:90-255).
  *
  * Engine shape: one scan and one shuffle for the whole job. Every table
  * on both sides is projected to the same narrow row of
  * [[Reconcile.cells]], the one source-vs-target comparison:
  * `(table, partition, in_src, in_tgt, n = 1, h)`, where `partition` is
  * the canonical [[PartitionCounts.spec]] (null for a whole-table entry)
  * and `h` is the [[Fingerprint.rowHash]] of the data columns. The 2·T
  * projections are unioned and grouped once by (table, partition) into
  * per-side counts and XORs. That per-cell relation (T×P rows) is cached;
  * [[report]], [[integrity]] and [[writeReports]] are views over it, so
  * each source and target row is read once however many of them run,
  * and only per-cell records leave the executors.
  *
  * Missing sides follow the primitive's rule: a partition with no rows
  * on one side has a NULL count there (missing on that side, and
  * inconsistent). A whole-table entry adds one zero-weight row counted
  * on both sides, so the table's cell exists even when both sides are
  * empty (matched 0/0, consistent).
  *
  * Integrity hashes every table in that same pass, not only the
  * count-matched ones: the hash rides the scan the counts need anyway,
  * and a second pass over the matched tables would be a second scan.
  * Only tables with at least one matched cell are reported.
  *
  * @param tables (name, partitionColumns) — empty partitionColumns means
  *               whole-table reconciliation, like the reference's
  *               unpartitioned branch (:213).
  */
class ReconcilePipeline(
    spark: SparkSession,
    srcDir: String,
    tgtDir: String,
    tables: Seq[(String, Seq[String])],
    sampleSize: Int = 10) {

  /** [[Reconcile.cells]] of `tables` by (table, partition), each table
    * passed through `rows` on both sides before it is hashed.
    */
  private def cellsOf(
      tables: Seq[(String, Seq[String])],
      rows: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    def side(dir: String, isSrc: Boolean): Seq[DataFrame] = tables.map { case (name, partCols) =>
      val df = rows(Tables.load(spark, dir, name))
      val partition =
        if (partCols.isEmpty) lit(null).cast("string") else PartitionCounts.spec(partCols)
      Reconcile.weighted(df, Seq(lit(name).as("table"), partition.as("partition")),
        lit(isSrc), lit(!isSrc),
        h = Fingerprint.rowHash(df.columns.filterNot(partCols.contains).toSeq))
    }
    val wholeTables = Reconcile.weighted(
      tables.collect { case (name, partCols) if partCols.isEmpty => name }.toDF("table"),
      Seq(col("table"), lit(null).cast("string").as("partition")),
      lit(true), lit(true), n = lit(0L))
    Reconcile.cells((wholeTables +: (side(srcDir, isSrc = true) ++ side(tgtDir, isSrc = false)))
      .reduce(_ union _), Seq("table", "partition"))
  }

  /** One row per (table, partition): src_cnt, tgt_cnt, src_xor, tgt_xor. */
  private lazy val cells: DataFrame = CacheScope.cached(cellsOf(tables, identity))

  /** UC#1: per-(table, partition) count reconciliation report. */
  lazy val report: DataFrame =
    cells.select(col("table"), col("partition"), col("src_cnt"), col("tgt_cnt"),
      Reconcile.status(col("src_cnt"), col("tgt_cnt")).as("status"))

  private def verdicts(byCell: DataFrame): DataFrame =
    byCell.select(col("table"), col("partition"), col("src_cnt"), col("tgt_cnt"),
      Reconcile.consistent.as("consistent"))

  private lazy val consistency: DataFrame =
    verdicts(cells.join(Reconcile.matched(report).select("table"), Seq("table"), "left_semi"))

  /** UC#2: content consistency of every cell of the tables with at least
    * one count-matched cell. The reference hashes a 10-row sample per
    * matched (table, partition) (verizon_automation_script.sh:219-243);
    * the default digest covers ALL rows, because it rides the single scan
    * the counts already pay for. `sampled = true` is the faithful form:
    * the same comparison over a deterministic `sampleSize`-row sample per
    * table and side ([[Sample.limitN]]); only the matched tables, found
    * by a driver collect of at most T names, are sampled.
    */
  def integrity(sampled: Boolean = false): DataFrame =
    if (sampled) sampledIntegrity else consistency

  private def sampledIntegrity: DataFrame = {
    val matchedTables = Reconcile.matched(report)
      .select("table").distinct().collect().map(_.getString(0)).toSet // ≤ T rows
    verdicts(cellsOf(tables.filter { case (name, _) => matchedTables(name) },
      Sample.limitN(_, sampleSize)))
  }

  /** Write the reference's three reports (K2): MatchedData,
    * TableMismatchedData, TableDataNotConsistent.
    */
  def writeReports(outDir: String): Unit = {
    Reports.writeCsv(Reconcile.matched(report), s"$outDir/MatchedData")
    Reports.writeCsv(Reconcile.mismatched(report), s"$outDir/TableMismatchedData")
    Reports.writeCsv(consistency.filter(!col("consistent")),
      s"$outDir/TableDataNotConsistent")
  }
}
