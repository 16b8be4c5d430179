package graft

import graft.operators.{Pq, Similarity}
import graft.Tables
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  test("ADC is exact when vectors sit exactly at sub-centroids") {
    // 4-dim vectors, m=2: each half is one of two prototypes; with
    // ksub=2 k-means recovers the prototypes exactly, so quantization
    // error is zero and ADC ordering == exact ordering
    val protos = Seq(
      Array(1f, 0f), Array(0f, 1f))
    val vecs = for {
      a <- protos; b <- protos
    } yield a ++ b
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val cb = Pq.train(df, "vec", m = 2, ksub = 2, iters = 5)
    val encoded = Pq.encode(df, "id", "vec", cb)
    // query = first prototype pair; its own code distance must be 0
    val q = Seq(Tuple1(vecs.head)).toDF("vec")
    val top = Pq.search(encoded, q, "id", "vec", cb, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head._1 == 0L && top.head._2 == 0.0)
    // the two half-matching vectors tie at the same positive distance
    assert(top(1)._2 == top(2)._2 && top(1)._2 > 0.0)
    // the fully-opposite vector is last and strictly farther
    assert(top(3)._1 == 3L && top(3)._2 > top(1)._2)
  }

  test("codes have m entries in [0, ksub)") {
    val embs = Tables.embeddings(spark, sf0001)
    val cb = Pq.train(embs, "embedding", m = 8, ksub = 16, iters = 5)
    assert(cb.m == 8 && cb.ksub == 16 && cb.dsub == 8)
    val codes = Pq.encode(embs, "vec_id", "embedding", cb)
      .select(col("pq_code")).as[Array[Short]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
  }

  test("recall@10 vs brute force is high on the real embeddings") {
    val embs = Tables.embeddings(spark, sf0001).filter(col("vec_id") =!= 0)
    val q = Tables.embeddings(spark, sf0001).filter(col("vec_id") === 0)
      .select(col("embedding"))
    val exact = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", k = 10)
      .select("vec_id").as[Long].collect().toSet
    val cb = Pq.train(embs, "embedding", m = 16, ksub = 32, iters = 10)
    val encoded = Pq.encode(embs, "vec_id", "embedding", cb)
    // raw ADC: near-ties in the synthetic clusters jumble the exact
    // ordering, so only a moderate floor is honest here
    val approx = Pq.search(encoded, q, "vec_id", "embedding", cb, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val rawRecall = (exact & approx).size.toDouble / exact.size
    assert(rawRecall >= 0.3, s"raw ADC recall $rawRecall below 0.3")
    // shortlist + exact re-rank (the deployment path): recall only
    // drops when a true neighbor misses the whole 100-wide shortlist
    val refined = Pq.searchRefined(encoded, embs, q, "vec_id", "embedding",
        cb, k = 10, shortlist = 100)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & refined).size.toDouble / exact.size
    assert(recall >= 0.9, s"refined recall $recall below 0.9 (got $refined vs $exact)")
  }

  test("stored IVF+PQ index: partition-pruned probe matches refined search quality") {
    val embs = Tables.embeddings(spark, sf0001).filter(col("vec_id") =!= 0)
    val q = Tables.embeddings(spark, sf0001).filter(col("vec_id") === 0)
      .select(col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    Pq.buildPqIndex(embs, "vec_id", "embedding", dir,
      m = 16, ksub = 32, nlist = 8, iters = 5)
    // probing all lists must equal the flat refined search's recall
    val exact = graft.operators.Similarity.bruteForceTopK(
        embs, q, "vec_id", "embedding", k = 10)
      .select("vec_id").as[Long].collect().toSet
    val allProbe = Pq.pqIndexTopK(spark, dir, embs, q, "vec_id", "embedding",
        k = 10, nprobe = 8, shortlist = 100)
      .select("vec_id").as[Long].collect().toSet
    assert((exact & allProbe).size >= 9,
      s"all-list probe lost recall: $allProbe vs $exact")
    // nprobe=3: the list filter must land as PARTITION pruning on the
    // code scan (inside the refine join's broadcast subtree)
    val probed = Pq.pqIndexTopK(spark, dir, embs, q, "vec_id", "embedding",
      k = 10, nprobe = 3, shortlist = 50)
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [list_id"),
      s"list probe not pushed to partition pruning:\n$scan")
    assert(probed.count() == 10)
    // a non-index path fails with the actionable message
    val e = intercept[IllegalArgumentException] {
      Pq.pqIndexTopK(spark, dir + "/nope", embs, q, "vec_id", "embedding", k = 5)
    }
    assert(e.getMessage.contains("not a buildPqIndex index"))
  }

  test("flat (nlist=0) PQ index probes without list pruning") {
    val embs = Tables.embeddings(spark, sf0001).filter(col("vec_id") =!= 0)
    val q = Tables.embeddings(spark, sf0001).filter(col("vec_id") === 0)
      .select(col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_flat").toString
    Pq.buildPqIndex(embs, "vec_id", "embedding", dir, m = 8, ksub = 16)
    val out = Pq.pqIndexTopK(spark, dir, embs, q, "vec_id", "embedding",
      k = 10, shortlist = 100)
    assert(out.count() == 10)
  }

  test("searchRefined evaluates the query frame once") {
    val embs = Tables.embeddings(spark, sf0001)
    val cb = Pq.train(embs, "embedding", m = 8, ksub = 16, iters = 3)
    val encoded = Pq.encode(embs, "vec_id", "embedding", cb)
    val evals = spark.sparkContext.longAccumulator("pq_query_evals")
    val counted = udf { (v: Seq[Float]) => evals.add(1); v }.asNondeterministic()
    val q = embs.filter(col("vec_id") === 0)
      .select(counted(col("embedding")).as("embedding"))
    val top = Pq.searchRefined(encoded, embs, q, "vec_id", "embedding", cb, k = 5)
      .collect()
    assert(top.head.getLong(0) == 0L)
    assert(evals.value == 1L, s"query frame evaluated ${evals.value} times")
  }

  test("refined and indexed probes drop a zero-norm vector's NaN cosine") {
    val embs = Tables.embeddings(spark, sf0001)
    val zero = embs.filter(col("vec_id") === 0).select((col("vec_id") - 1).as("vec_id"),
      transform(col("embedding"), x => x * 0f).as("embedding"))
    val corpus = embs.select("vec_id", "embedding").union(zero)
    val q = embs.filter(col("vec_id") === 0).select(col("embedding"))
    val n = corpus.count().toInt
    val cb = Pq.train(corpus, "embedding", m = 8, ksub = 16, iters = 3)
    val encoded = Pq.encode(corpus, "vec_id", "embedding", cb)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_nan").toString
    Pq.buildPqIndex(corpus, "vec_id", "embedding", dir, m = 8, ksub = 16, iters = 3)
    // shortlists cover the whole corpus, so only the re-rank's NaN
    // filter keeps the zero vector out
    for (out <- Seq(
        Pq.searchRefined(encoded, corpus, q, "vec_id", "embedding", cb,
          k = n, shortlist = n),
        Pq.pqIndexTopK(spark, dir, corpus, q, "vec_id", "embedding",
          k = n, shortlist = n))) {
      val rows = out.collect()
      assert(rows.length == n - 1)
      assert(!rows.exists(r => r.getLong(0) == -1L || r.getDouble(1).isNaN))
    }
  }

  test("multi-row query frame is rejected loudly") {
    val embs = Tables.embeddings(spark, sf0001)
    val cb = Pq.train(embs, "embedding", m = 8, ksub = 16, iters = 3)
    val encoded = Pq.encode(embs, "vec_id", "embedding", cb)
    val twoQ = Tables.embeddings(spark, sf0001).filter(col("vec_id") <= 1)
      .select(col("embedding"))
    val e = intercept[IllegalArgumentException] {
      Pq.search(encoded, twoQ, "vec_id", "embedding", cb, k = 5)
    }
    assert(e.getMessage.contains("exactly one query row"))
  }
}
