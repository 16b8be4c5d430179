package graft

import graft.operators.Skew
import graft.plans.GraftExtensions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class PlansAndSkewSpec extends SparkSpec {
  import spark.implicits._

  test("graft_cosine expression matches the HOF formulation and codegens") {
    GraftExtensions.ensureRegistered(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)))
      .toDF("a", "b")
    val got = df.select(expr("graft_cosine(a, b)")).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(got(1) == 0.0)
    val hof = df.select(graft.functions.VectorFunctions.cosine(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(got.toSeq == hof.toSeq, "native expression must match HOF math exactly")
    // whole-stage codegen must cover the projection (use a parquet-
    // backed frame; a local relation folds to LocalTableScan)
    val emb = Tables.embeddings(spark, sf0001)
    val plan = emb.select(expr("graft_cosine(embedding, embedding)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("graft_bucket equals the aggregate fold it replaced, and codegens") {
    GraftExtensions.ensureRegistered(spark)
    val inf = Double.PositiveInfinity
    // ties among the boundaries, both zeros, both infinities and NaN
    val bs = Array(-inf, -1.0, -0.0, 0.0, 1.0, 1.0, 1.0, 2.5, inf, Double.NaN)
    val xs = Seq[Option[Double]](None, Some(Double.NaN), Some(inf), Some(-inf),
      Some(-0.0), Some(0.0), Some(1.0), Some(2.5), Some(0.5), Some(3.0), Some(-5.0))
    // the pre-kernel z-order bucketing: count the boundaries below x
    def fold(x: Column, b: Array[Double]): Column =
      aggregate(lit(b), lit(0), (acc, y) => acc + when(x > y, 1).otherwise(0))
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    xs.toDF("x").write.mode("overwrite").parquet(dir)
    // local relation (interpreted eval) and parquet scan (generated code)
    for (df <- Seq(xs.toDF("x"), spark.read.parquet(dir)); b <- Seq(bs, bs.reverse)) {
      val got = df.select(col("x"),
          call_function("graft_bucket", col("x"), lit(b)), fold(col("x"), b))
        .collect()
      assert(got.length == xs.size)
      got.foreach(r => assert(r.getInt(1) == r.getInt(2), r.toString))
      assert(got.filter(_.isNullAt(0)).forall(_.getInt(1) == 0), "null lands in bucket 0")
    }
    val plan = spark.read.parquet(dir)
      .select(call_function("graft_bucket", col("x"), lit(bs)))
      .queryExecution.executedPlan
    assert(plan.toString.contains("*(1)"), plan.toString)
    assert(org.apache.spark.sql.execution.debug.codegenString(plan)
      .contains("BucketKernel.rank"), "the kernel must run inside generated code")
  }

  test("bucketed join elides the shuffle on both sides") {
    import graft.operators.Bucketing
    val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Bucketing.writeBucketed(li, "li_b", Seq("l_orderkey"), numBuckets = 4)
    Bucketing.writeBucketed(ord, "ord_b", Seq("l_orderkey"), numBuckets = 4)
    val joined = Bucketing.bucketedJoin(spark, "li_b", "ord_b", Seq("l_orderkey"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"bucketed join should not shuffle:\n${joined.queryExecution.executedPlan}")
    assert(joined.count() ==
      li.join(ord, Seq("l_orderkey")).count())
  }

  test("knn join salt-splits a degenerate hot bucket without losing or duplicating pairs") {
    import graft.operators.Ann
    // 300 identical vectors: every row lands in ONE bucket no matter
    // how many planes — the worst-case reducer hotspot
    val n = 300
    val embs = (0 until n).map(i => (i.toLong, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val cands = Ann.knnCandidates(embs, "vec_id", "embedding",
      planes = 4, targetBucket = 1024, bucketCap = 100)
    // correctness: each ordered pair meets exactly once across salts
    val total = cands.count()
    assert(total == n.toLong * (n - 1), s"expected ${n * (n - 1)} pairs, got $total")
    assert(cands.select("id_a", "id_b").distinct().count() == total,
      "salt replication must not duplicate pairs")
    // skew: the pair generation is spread over ceil(300/100) = 3
    // reducer keys, and no single (bucket, salt) key does all the work
    val perKey = cands.groupBy("bucket", "salt").count()
      .collect().map(_.getLong(2))
    assert(perKey.length == 3, s"expected 3 salt splits, got ${perKey.length}")
    assert(perKey.max < total, "one reducer key still generates every pair")
    // end to end: top-k output is well-formed on the degenerate input
    val knn = Ann.knnJoin(embs, "vec_id", "embedding", k = 3,
      planes = 4, bucketCap = 100)
    val byA = knn.collect().groupBy(_.getLong(0))
    assert(byA.size == n && byA.values.forall(_.length == 3))
  }

  test("salted join returns the same rows as the plain join") {
    val large = (1 to 1000).map(i => (if (i % 3 == 0) 1L else i.toLong, i))
      .toDF("k", "v") // key 1 is hot
    val small = Seq((1L, "hot"), (2L, "a"), (5L, "b")).toDF("k", "name")
    val plain = large.join(small, Seq("k")).count()
    val salted = Skew.saltedJoin(large, small, Seq("k"), buckets = 8).count()
    assert(salted == plain)
    // and the salt actually spreads the hot key
    val salts = Skew.saltLarge(large.filter(col("k") === 1L), 8)
      .select("__salt").distinct().count()
    assert(salts > 1)
  }
}
