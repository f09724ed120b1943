package graft.core

import org.apache.spark.sql.DataFrame

/** Sampling (SURVEY.md §2 L1, §7.4 #1).
  *
  * The reference's config key is named `SampleDataPercentage` but its
  * value feeds a row `LIMIT` (verizon_automation_script.sh:220) — the
  * "percentage" is a misnomer. Both semantics are exposed:
  *
  *  - [[limitN]]  — the faithful form, made deterministic: `LIMIT n`
  *    without ORDER BY is engine-order-dependent, so rows are ordered by
  *    all columns first. Catalyst executes orderBy+limit as TakeOrdered
  *    (per-partition top-N + merge on the driver of N rows only) — safe
  *    at 100 TB because only n rows ever cross the shuffle.
  *  - [[fraction]] — the documented-intent form: Bernoulli sample with a
  *    fixed seed, fully distributed, no shuffle at all.
  */
object Sample {

  def limitN(df: DataFrame, n: Int): DataFrame =
    df.orderBy(df.columns.sorted.map(Tables.column).toSeq: _*).limit(n)

  def fraction(df: DataFrame, pct: Double, seed: Long = 42L): DataFrame =
    df.sample(withReplacement = false, pct / 100.0, seed)
}
