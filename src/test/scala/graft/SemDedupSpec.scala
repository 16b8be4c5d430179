package graft

import graft.operators.{Ann, Dedup, SemDedup}
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // three well-separated direction clusters in 4-d, with planted
  // exact duplicates inside two of them
  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
  private def corpus = Seq(
    (1L, vec(1, 0, 0, 0)), (2L, vec(0.99, 0.05, 0, 0)),
    (3L, vec(0, 1, 0, 0)), (4L, vec(0.02, 0.99, 0, 0)),
    (5L, vec(0, 0, 1, 0)), (6L, vec(0, 0, 0.97, 0.1)),
    (11L, vec(1, 0, 0, 0)),   // exact dup of 1
    (14L, vec(0.02, 0.99, 0, 0)) // exact dup of 4
  ).toDF("vec_id", "embedding")

  test("semdedup drops planted in-cluster duplicates, keeps lowest id") {
    val out = SemDedup.semdedup(corpus, "vec_id", "embedding",
      nlist = 3, minCosine = 0.9999, iters = 5, sampleLimit = 1000)
    val dropped = out.filter(!col("is_survivor"))
      .select("vec_id").as[Long].collect().sorted
    assert(dropped.toSeq == Seq(11L, 14L), s"dropped ${dropped.toSeq}")
    val kept = out.filter(col("is_survivor")).count()
    assert(kept == 6)
  }

  test("intra-cluster pairs == exact pairs restricted to same cluster (bit-identical cos)") {
    val embs = Tables.embeddings(spark, sf0001)
    val cents = Ann.trainCentroids(embs, "embedding", nlist = 4,
      iters = 5, sampleLimit = 1000)
    val assigned = Ann.assignLists(embs, "vec_id", "embedding", cents).cache()
    val intra = SemDedup.intraClusterPairs(assigned, "vec_id", "embedding",
        minCosine = 0.4)
      .select("id_a", "id_b", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val clusters = assigned.select(col("vec_id"), col("list_id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exactSameCluster = Dedup.embeddingPairs(embs, "vec_id", "embedding",
        minCosine = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter { case ((a, b), _) => clusters(a) == clusters(b) }.toMap
    assert(intra == exactSameCluster,
      s"intra=${intra.size} exactSame=${exactSameCluster.size}")
    assert(intra.nonEmpty, "degenerate test: no same-cluster pairs at 0.4")
  }

  test("skewed cluster sub-blocks: every pair exactly once, no straggler key") {
    // 60 near-identical vectors all land in one cluster; targetBlock 16
    // forces ceil(60/16)=4 sub-blocks -> 10 combos
    val many = (1L to 60L).map(i => (i, vec(1, i * 1e-6, 0, 0)))
      .toDF("vec_id", "embedding")
      .withColumn("list_id", lit(0))
    val pairs = SemDedup.intraClusterPairs(many, "vec_id", "embedding",
      minCosine = 0.99, targetBlock = 16)
    val got = pairs.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.distinct.length, "pair emitted more than once")
    assert(got.length == 60 * 59 / 2, s"expected all pairs, got ${got.length}")
  }

  test("intra-cluster kernel rounds a 7th-decimal tie HALF_UP, as Spark's round does") {
    val out = SemDedup.intraClusterPairs(cosineTie.withColumn("list_id", lit(3)),
        "vec_id", "embedding", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.toSeq == Seq((1L, 2L, 0.950001, 3)))
  }

  test("no cross-cluster pairs even for identical vectors in different clusters") {
    val df = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(1, 0, 0, 0))
    ).toDF("vec_id", "embedding")
    val a = df.filter(col("vec_id") === 1).withColumn("list_id", lit(0))
    val b = df.filter(col("vec_id") === 2).withColumn("list_id", lit(1))
    val pairs = SemDedup.intraClusterPairs(a.union(b), "vec_id", "embedding",
      minCosine = 0.5)
    assert(pairs.count() == 0)
  }
}
