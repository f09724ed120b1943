package graft.core

import graft.SparkFunSuite
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

class ReconcilePipelineSpec extends SparkFunSuite {
  import spark.implicits._

  /** A fresh directory holding each given relation as `<name>.parquet`. */
  private def warehouse(tables: (String, DataFrame)*): String = {
    val dir = tempDir("pipeline_wh")
    for ((name, df) <- tables) df.write.parquet(s"$dir/$name.parquet")
    dir
  }

  private def rowsOf(df: DataFrame): Set[Row] = df.collect().toSet

  // src = sf0.001, tgt = same dir → everything must match and be consistent.
  test("identical source and target: all matched, all consistent, empty inconsistent report") {
    val p = new ReconcilePipeline(spark, sf001, sf001,
      Seq("region" -> Nil, "nation" -> Nil, "lineitem" -> Seq("l_returnflag")))
    assert(p.report.filter(col("status") =!= "matched").count() == 0)
    val integ = p.integrity()
    assert(integ.count() > 0)
    assert(integ.filter(!col("consistent")).count() == 0)
  }

  test("writeReports produces the three CSV reports") {
    val out = java.nio.file.Files.createTempDirectory("pipeline").toString
    val p = new ReconcilePipeline(spark, sf001, sf001, Seq("region" -> Nil))
    p.writeReports(out)
    for (r <- Seq("MatchedData", "TableMismatchedData", "TableDataNotConsistent")) {
      val files = new java.io.File(s"$out/$r").listFiles()
      assert(files != null && files.exists(_.getName.endsWith(".csv")), s"missing $r")
    }
    val matched = spark.read.option("header", "true").csv(s"$out/MatchedData")
    assert(matched.count() == 1)
  }

  test("sampled integrity variant works (UC#2 faithful form)") {
    val p = new ReconcilePipeline(spark, sf001, sf001, Seq("customer" -> Nil), sampleSize = 5)
    val integ = p.integrity(sampled = true)
    assert(integ.filter(!col("consistent")).count() == 0)
  }

  test("a NULL partition value is one cell, matched and consistent on identical tables") {
    val dir = warehouse("t" -> Seq((1, Some("x")), (2, None), (3, None)).toDF("id", "p"))
    val p = new ReconcilePipeline(spark, dir, dir, Seq("t" -> Seq("p")))
    assert(rowsOf(p.report) == Set(
      Row("t", "p=x", 1L, 1L, "matched"), Row("t", "p", 2L, 2L, "matched")))
    assert(rowsOf(p.integrity()) == Set(
      Row("t", "p=x", 1L, 1L, true), Row("t", "p", 2L, 2L, true)))
    assert(rowsOf(p.integrity(sampled = true)) == Set(
      Row("t", "p=x", 1L, 1L, true), Row("t", "p", 2L, 2L, true)))
  }

  test("an empty unpartitioned table on both sides is matched 0/0 and consistent") {
    val dir = warehouse("e" -> Seq.empty[(Int, String)].toDF("id", "s"))
    val p = new ReconcilePipeline(spark, dir, dir, Seq("e" -> Nil))
    assert(rowsOf(p.report) == Set(Row("e", null, 0L, 0L, "matched")))
    assert(rowsOf(p.integrity()) == Set(Row("e", null, 0L, 0L, true)))
  }

  test("one-sided partitions are missing and inconsistent; unmatched tables skip integrity") {
    val src = warehouse(
      "t" -> Seq((1, "a"), (2, "b")).toDF("id", "p"),
      "u" -> Seq((1, "a"), (2, "a")).toDF("id", "p"))
    val tgt = warehouse(
      "t" -> Seq((1, "a"), (3, "c")).toDF("id", "p"),
      "u" -> Seq((1, "a")).toDF("id", "p"))
    val p = new ReconcilePipeline(spark, src, tgt, Seq("t" -> Seq("p"), "u" -> Seq("p")))
    assert(rowsOf(p.report) == Set(
      Row("t", "p=a", 1L, 1L, "matched"),
      Row("t", "p=b", 1L, null, "missing_in_target"),
      Row("t", "p=c", null, 1L, "missing_in_source"),
      Row("u", "p=a", 2L, 1L, "mismatched")))
    // u has no matched cell, so integrity leaves it out entirely
    assert(rowsOf(p.integrity()) == Set(
      Row("t", "p=a", 1L, 1L, true),
      Row("t", "p=b", 1L, null, false),
      Row("t", "p=c", null, 1L, false)))
  }

  test("distinct multi-level partitions whose values hold / and = stay distinct cells") {
    val dir = warehouse("t" -> Seq((1, "a/p2=b", "c"), (2, "a", "b/p2=c")).toDF("id", "p1", "p2"))
    val p = new ReconcilePipeline(spark, dir, dir, Seq("t" -> Seq("p1", "p2")))
    assert(rowsOf(p.report) == Set(
      Row("t", "p1=a%2Fp2%3Db/p2=c", 1L, 1L, "matched"),
      Row("t", "p1=a/p2=b%2Fp2%3Dc", 1L, 1L, "matched")))
  }

  test("column names holding a dot or a backtick reconcile on every path") {
    val t = Seq((1, "x", "k1"), (2, "y", "k1"), (3, "z", "k2")).toDF("id", "a.b", "p.`q")
    val u = Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "a.b")
    val src = warehouse("t" -> t, "u" -> u)
    val tgt = warehouse("t" -> t.filter("id <> 3"), "u" -> u)
    val p = new ReconcilePipeline(spark, src, tgt, Seq("t" -> Seq("p.`q"), "u" -> Nil))
    assert(rowsOf(p.report) == Set(
      Row("t", "p.`q=k1", 2L, 2L, "matched"),
      Row("t", "p.`q=k2", 1L, null, "missing_in_target"),
      Row("u", null, 3L, 3L, "matched")))
    val expected = Set(
      Row("t", "p.`q=k1", 2L, 2L, true),
      Row("t", "p.`q=k2", 1L, null, false),
      Row("u", null, 3L, 3L, true))
    assert(rowsOf(p.integrity()) == expected)
    assert(rowsOf(p.integrity(sampled = true)) == expected)
  }

  test("report, integrity and writeReports read each source and target row once") {
    val src = warehouse(
      "t" -> spark.range(2000).selectExpr("id", "cast(id % 7 AS string) AS p", "id * 3 AS v"),
      "u" -> spark.range(1000).selectExpr("id", "cast(id AS string) AS s"))
    val tgt = warehouse(
      // rows dropped from one partition only: every table keeps matched
      // cells, so integrity covers all of them
      "t" -> spark.range(2000).where("NOT (id % 7 = 3 AND id % 11 = 0)")
        .selectExpr("id", "cast(id % 7 AS string) AS p", "id * 3 AS v"),
      "u" -> spark.range(1000).selectExpr("id", "cast(id AS string) AS s"))
    val inputRows = Seq(src, tgt).flatMap(d => Seq("t", "u").map(n => Tables.load(spark, d, n).count())).sum
    val sc = spark.sparkContext
    val recordsRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try CacheScope.withCached {
      val p = new ReconcilePipeline(spark, src, tgt, Seq("t" -> Seq("p"), "u" -> Nil))
      p.report.collect()
      p.integrity().collect()
      p.writeReports(tempDir("pipeline_out"))
    } finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(recordsRead.get <= 1.05 * inputRows,
      s"read ${recordsRead.get} records for $inputRows input rows")
  }
}
