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
  * on both sides is projected to the same narrow row
  * `(table, partition, is_src, h)`: `partition` is the canonical
  * `k=v[/k2=v2]` spec (null for a whole-table entry) and `h` is the
  * [[Fingerprint.rowHash]] of the data columns. The 2·T projections are
  * unioned into one relation and grouped once by (table, partition), with
  * a conditional count and `bit_xor` per side. That per-cell relation
  * (T×P rows) is cached; [[report]], [[integrity]] and [[writeReports]]
  * are views over it, so each source and target row is read once however
  * many of them run, and only per-cell records leave the executors.
  *
  * Whole-table entries keep global-aggregate semantics: the union carries
  * one sentinel row per unpartitioned table that counts as neither side,
  * so the table's cell exists even when both sides are empty (matched
  * 0/0, consistent). A partition present on one side only has a zero
  * count on the other; the cell relation turns that zero back into NULL,
  * which is how a full outer join of the two sides' counts shows a
  * missing side.
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

  /** One row per (table, partition): src_cnt, tgt_cnt, src_xor, tgt_xor.
    * A partition missing on one side has a NULL count there.
    */
  private lazy val cells: DataFrame = {
    import spark.implicits._
    def side(dir: String, isSrc: Boolean): Seq[DataFrame] = tables.map { case (name, partCols) =>
      val df = Tables.load(spark, dir, name)
      val partition =
        if (partCols.isEmpty) lit(null).cast("string") else PartitionCounts.spec(partCols)
      df.select(lit(name).as("table"), partition.as("partition"), lit(isSrc).as("is_src"),
        Fingerprint.rowHash(df.columns.filterNot(partCols.contains).toSeq).as("h"))
    }
    val sentinels = tables.collect { case (name, partCols) if partCols.isEmpty => name }
      .toDF("table")
      .select(col("table"), lit(null).cast("string").as("partition"),
        lit(null).cast("boolean").as("is_src"), lit(null).cast("long").as("h"))
    val rows = (side(srcDir, isSrc = true) ++ side(tgtDir, isSrc = false) :+ sentinels)
      .reduce(_ union _)
    val (src, tgt) = (col("is_src"), !col("is_src"))
    def present(c: String) = when(col("partition").isNull || col(c) > 0, col(c)).as(c)
    CacheScope.cached(rows.groupBy("table", "partition")
      .agg(
        count(when(src, 1)).as("src_cnt"),
        count(when(tgt, 1)).as("tgt_cnt"),
        bit_xor(when(src, col("h"))).as("src_xor"),
        bit_xor(when(tgt, col("h"))).as("tgt_xor"))
      .select(col("table"), col("partition"), present("src_cnt"), present("tgt_cnt"),
        col("src_xor"), col("tgt_xor")))
  }

  /** UC#1: per-(table, partition) count reconciliation report. */
  lazy val report: DataFrame =
    cells.select(col("table"), col("partition"), col("src_cnt"), col("tgt_cnt"),
      Reconcile.status(col("src_cnt"), col("tgt_cnt")).as("status"))

  private lazy val consistency: DataFrame =
    cells.join(Reconcile.matched(report).select("table"), Seq("table"), "left_semi")
      .select(col("table"), col("partition"), col("src_cnt"), col("tgt_cnt"),
        (col("src_cnt") <=> col("tgt_cnt") && col("src_xor") <=> col("tgt_xor"))
          .as("consistent"))

  /** UC#2: content consistency of every cell of the tables with at least
    * one count-matched cell. The reference hashes a 10-row sample per
    * matched (table, partition) (verizon_automation_script.sh:219-243);
    * the default digest covers ALL rows, because it rides the single scan
    * the counts already pay for. `sampled = true` is the faithful form:
    * a deterministic `sampleSize`-row sample per table and side.
    */
  def integrity(sampled: Boolean = false): DataFrame =
    if (sampled) sampledIntegrity else consistency

  private def sampledIntegrity: DataFrame = {
    val matchedTables = Reconcile.matched(report)
      .select("table").distinct().collect().map(_.getString(0)) // ≤ T rows
    val checks = tables.filter { case (n, _) => matchedTables.contains(n) }
      .map { case (name, partCols) =>
        val sv = Sample.limitN(Tables.load(spark, srcDir, name), sampleSize)
        val tv = Sample.limitN(Tables.load(spark, tgtDir, name), sampleSize)
        if (partCols.nonEmpty) {
          Fingerprint.compare(sv, tv, partCols)
            .select(lit(name).as("table"), PartitionCounts.spec(partCols).as("partition"),
              col("src_cnt"), col("tgt_cnt"), col("consistent"))
        } else {
          val sd = Fingerprint.table(sv, name)
            .select(col("table"), col("cnt").as("src_cnt"), col("digest").as("src_digest"))
          val td = Fingerprint.table(tv, name)
            .select(col("table"), col("cnt").as("tgt_cnt"), col("digest").as("tgt_digest"))
          sd.join(td, Seq("table"), "full_outer")
            .select(col("table"), lit(null).cast("string").as("partition"),
              col("src_cnt"), col("tgt_cnt"),
              (col("src_digest") <=> col("tgt_digest")).as("consistent"))
        }
      }
    if (checks.isEmpty) emptyIntegrity else checks.reduce(_ unionByName _)
  }

  private def emptyIntegrity: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Long, Long, Boolean)]
      .toDF("table", "partition", "src_cnt", "tgt_cnt", "consistent")
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
