package graft.core

import graft.SparkFunSuite
import org.apache.spark.sql.functions.col

class FingerprintSpec extends SparkFunSuite {
  import spark.implicits._

  test("table digest is invariant under row permutation") {
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "s")
    val b = Seq((3, "z"), (1, "x"), (2, "y")).toDF("id", "s")
    val da = Fingerprint.table(a, "t").select("digest").head.getString(0)
    val db = Fingerprint.table(b, "t").select("digest").head.getString(0)
    assert(da == db)
  }

  test("table digest detects a single mutated cell") {
    val a = Seq((1, "x"), (2, "y")).toDF("id", "s")
    val b = Seq((1, "x"), (2, "Y")).toDF("id", "s")
    val da = Fingerprint.table(a, "t").select("digest").head.getString(0)
    val db = Fingerprint.table(b, "t").select("digest").head.getString(0)
    assert(da != db)
  }

  test("digest distinguishes null position across columns") {
    val a = Seq((Some("a"), None: Option[String])).toDF("c1", "c2")
    val b = Seq((None: Option[String], Some("a"))).toDF("c1", "c2")
    val da = Fingerprint.table(a, "t").select("digest").head.getString(0)
    val db = Fingerprint.table(b, "t").select("digest").head.getString(0)
    assert(da != db)
  }

  test("digest counts duplicate pairs (XOR-cancellation guarded by cnt)") {
    val a = Seq((1, "x"), (1, "x")).toDF("id", "s")
    val b = a.limit(0)
    val da = Fingerprint.table(a, "t").select("digest").head.getString(0)
    val db = Fingerprint.table(b, "t").select("digest").head.getString(0)
    assert(da != db)
  }

  test("compare flags exactly the perturbed group") {
    val src = Seq(("a", 1), ("a", 2), ("b", 3), ("b", 4)).toDF("k", "v")
    val tgt = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val got = Fingerprint.compare(src, tgt, Seq("k"))
      .collect().map(r => (r.getString(0), r.getBoolean(3))).toMap
    assert(got == Map("a" -> true, "b" -> false))
  }

  test("compare handles groups missing on one side") {
    val src = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val tgt = Seq(("a", 1), ("c", 3)).toDF("k", "v")
    val got = Fingerprint.compare(src, tgt, Seq("k"))
      .collect().map(r => (r.getString(0), r.getBoolean(3))).toMap
    assert(got == Map("a" -> true, "b" -> false, "c" -> false))
  }

  test("compare treats a NULL group key as one group present on both sides") {
    val rows = Seq((1, Some("x")), (2, None), (3, None)).toDF("id", "p")
    val got = Fingerprint.compare(rows, rows, Seq("p")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == Set((Some("x"), 1L, 1L, true), (None, 2L, 2L, true)))
  }

  test("sampled digest is deterministic across physical layouts") {
    val df = Tables.lineitem(spark, sf001)
    val d1 = Fingerprint.sampled(df, "lineitem", 10).select("digest").head.getString(0)
    val d2 = Fingerprint.sampled(df.repartition(7), "lineitem", 10).select("digest").head.getString(0)
    assert(d1 == d2)
  }
}
