package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.CacheScope
import graft.ext.{Amplify, Dedup, SimSearch}

/** `curate`: the LLM-data operators over a cached working set.
  *
  * Near-dup clustering runs `Dedup.nearDupClusters` over an
  * `Amplify.documentsDisjoint` view of a seeded corpus with planted
  * near-duplicate groups, with `maxDriverEdges = 0` so the distributed
  * connected-components loop runs. Similarity search runs
  * `SimSearch.ivfTopK` over seeded clustered embeddings for a query
  * batch the seed chooses, one batch per job.
  */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  private val baseDocs = if (ctx.smoke) 300 else 600
  private val amp = if (ctx.smoke) 1 else 2
  private val nVecs = if (ctx.smoke) 500 else 1000
  private val dim = 64
  private val k = 10
  private val poolSize = 100
  private val batchSize = poolSize / 2
  private val threshold = 0.6
  /** Recall@10 of IVF against exact top-10, over each batch. */
  val RecallFloor = 0.9

  private var docsPath = ""
  private var vecsPath = ""
  private var planted = (0L, 0L, 0L) // (clusters, clustered docs, pairs) at 1x
  private var pool: IndexedSeq[Long] = IndexedSeq.empty
  /** Exact top-k for every query the jobs may ask, computed once, at
    * the first check.
    */
  private lazy val truth: Map[Long, Set[Long]] = {
    val vecs = spark.read.parquet(vecsPath)
    SimSearch.topKBruteForce(vecs.filter(col("vec_id").isin(pool: _*)), vecs, "vec_id", "embedding", k)
      .select("id_q", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  }

  /** Documents in groups of 1-4: members of a group are copies of one
    * template with up to two tokens replaced, so every pair inside a
    * group is above the threshold and every pair across groups shares
    * almost nothing.
    */
  private def documents(rnd: Random): (Seq[(Long, String, String)], (Long, Long, Long)) = {
    val vocab = 20000
    val docs = Seq.newBuilder[(Long, String, String)]
    var id = 0L
    var (clusters, clustered, pairs) = (0L, 0L, 0L)
    while (id < baseDocs) {
      val size = math.min(baseDocs - id, Seq(1, 1, 1, 1, 1, 2, 2, 3, 4)(rnd.nextInt(9))).toInt
      val template = Array.fill(24 + rnd.nextInt(17))(rnd.nextInt(vocab))
      for (_ <- 0 until size) {
        val t = template.clone()
        for (_ <- 0 until rnd.nextInt(3)) t(rnd.nextInt(t.length)) = rnd.nextInt(vocab)
        id += 1
        docs += ((id, t.map(w => s"w$w").mkString(" "), "en"))
      }
      if (size > 1) { clusters += 1; clustered += size; pairs += size.toLong * (size - 1) / 2 }
    }
    (docs.result(), (clusters, clustered, pairs))
  }

  /** Unit-free vectors around 40 random centres. */
  private def embeddings(rnd: Random): Seq[Row] = {
    val centres = Array.fill(40, dim)(rnd.nextGaussian().toFloat)
    (1 to nVecs).map { id =>
      val c = centres(rnd.nextInt(centres.length))
      Row(id.toLong, c.map(x => x + 0.35f * rnd.nextGaussian().toFloat).toSeq)
    }
  }

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def prepare(rep: Int): Unit = {
    val rnd = new Random(ctx.seed)
    val (docs, p) = documents(rnd)
    planted = p
    docsPath = ctx.dir(s"curate-in$rep/documents.parquet")
    vecsPath = ctx.dir(s"curate-in$rep/embeddings.parquet")
    import spark.implicits._
    docs.toDF("doc_id", "text", "lang").repartition(4).write.parquet(docsPath)
    spark.createDataFrame(spark.sparkContext.parallelize(embeddings(rnd), 4), vecSchema)
      .write.parquet(vecsPath)
    pool = rnd.shuffle((1L to nVecs.toLong).toIndexedSeq).take(poolSize)
  }

  def warmupJobs: Int = 0
  def rowsPerJob: Long = baseDocs.toLong * amp + nVecs

  /** (clusters, clustered docs, pairs inside clusters) of one run. */
  private def clusterCounts(n: Int): (Long, Long, Long) = CacheScope.withCached {
    val docs = Amplify.documentsDisjoint(spark.read.parquet(docsPath), n)
    val r = Dedup.nearDupClusters(docs, "doc_id", "text", threshold, maxDriverEdges = 0L)
      .groupBy("cluster_rep").agg(count(lit(1)).as("sz"))
      .agg(sum(when(col("sz") > 1, 1L).otherwise(0L)),
        sum(when(col("sz") > 1, col("sz")).otherwise(0L)),
        sum(col("sz") * (col("sz") - 1) / 2).cast("long"))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def job(i: Int): Unit = {
    val ops = ctx.ops
    // the planted groups are the 1x counts; disjoint copies multiply them
    val got = ops.call("ext.dedup") { clusterCounts(amp) }
    val (c, d, p) = planted
    ops.expectEq(s"cluster counts at ${amp}x")(got, (c * amp, d * amp, p * amp))

    val rnd = new Random(ctx.seed * 1000003L + i)
    val batch = rnd.shuffle(pool).take(batchSize)
    val found = ops.call("ext.simsearch") {
      CacheScope.withCached {
        val emb = spark.read.parquet(vecsPath)
        SimSearch.ivfTopK(emb, "vec_id", "embedding", k, probeFrac = 0.1,
          corpusCount = nVecs.toLong, queries = Some(emb.filter(col("vec_id").isin(batch: _*))))
          .select("id_q", "neighbor_id").collect()
      }
    }
    ops.check(s"IVF recall@$k >= $RecallFloor") {
      val hits = found.count(r => truth(r.getLong(0)).contains(r.getLong(1)))
      val recall = hits.toDouble / (batch.size * k)
      if (recall >= RecallFloor) None else Some(f"recall $recall%.3f")
    }
  }
}
