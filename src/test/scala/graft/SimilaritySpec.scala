package graft

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class SimilaritySpec extends SparkSpec {

  private def embs = Tables.embeddings(spark, sf0001)

  test("brute-force top-k: self-similarity is 1, results ordered") {
    val q = embs.filter(col("vec_id") === 0)
    val out = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", k = 5)
      .collect()
    assert(out.length == 5)
    assert(out.head.getLong(0) == 0L && out.head.getDouble(1) == 1.0)
    val sims = out.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse, "results must be descending")
  }

  test("LSH top-k recalls a reasonable share of the true top-k") {
    val q = embs.filter(col("vec_id") === 0)
    val others = embs.filter(col("vec_id") =!= 0)
    val truth = Similarity.bruteForceTopK(others, q, "vec_id", "embedding", 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(others, q, "vec_id", "embedding", 10,
      planes = 8, maxBitDiff = 3).collect().map(_.getLong(0)).toSet
    assert(approx.nonEmpty, "LSH should return candidates")
    assert((truth intersect approx).nonEmpty,
      s"LSH recall zero: truth=$truth approx=$approx")
  }

  test("bucket-partitioned index: probe prunes partitions and finds the self-match") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_index").toString
    Similarity.buildLshIndex(embs, "vec_id", "embedding", dir, planes = 6)
    val q = embs.filter(col("vec_id") === 0)
    val out = Similarity.lshIndexTopK(spark, dir, q, "vec_id", "embedding",
      k = 5, maxBitDiff = 2)
    val plan = out.queryExecution.executedPlan.toString
    // the probe must prune at the partition (directory) level — the
    // bucket predicate belongs in PartitionFilters, not a post-scan
    // Filter over the full corpus
    assert(plan.contains("PartitionFilters: [bucket"),
      s"bucket probe not pushed to partition pruning:\n$plan")
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.head.getLong(0) == 0L && rows.head.getDouble(1) == 1.0,
      s"query's own bucket must be probed: ${rows.toSeq}")
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("range search: threshold binds exactly and matches the brute-force prefix") {
    val q = embs.filter(col("vec_id") === 0)
    val others = embs.filter(col("vec_id") =!= 0)
    val ranged = Similarity.rangeSearch(others, q, "vec_id", "embedding",
        minCos = 0.2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ranged.nonEmpty, "0.2 should match something on the gate corpus")
    assert(ranged.forall(_._2 >= 0.2), s"threshold must bind: ${ranged.toSeq}")
    // equals the >= 0.2 slice of an exact full ranking
    val full = Similarity.bruteForceTopK(others, q, "vec_id", "embedding",
        k = 10000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(_._2 >= 0.2)
    assert(ranged.toSeq == full.toSeq, "range = thresholded exact ranking")
    // multi-row query rejected like the top-k form
    intercept[IllegalArgumentException] {
      Similarity.rangeSearch(embs, embs.filter(col("vec_id") < 2),
        "vec_id", "embedding", 0.5).collect()
    }
  }

  test("filtered ANN composition pushes the metadata predicate to the scan") {
    val q = embs.filter(col("vec_id") === 0)
    val out = Similarity.bruteForceTopK(
      embs.filter(col("vec_id") =!= 0 && col("label") % 2 === 1),
      q, "vec_id", "embedding", k = 5)
    assert(out.collect().nonEmpty)
    // every result really satisfies the predicate
    val labels = out.join(embs.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select("label").collect().map(_.getInt(0))
    assert(labels.forall(_ % 2 == 1), labels.toSeq.toString)
    // and the isnotnull/vec_id part reaches the parquet scan as a
    // pushed filter (the label % 2 residue stays a codegen Filter —
    // modulo isn't a parquet predicate — but the scan must not be
    // bare)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("IsNotNull"), s"no pushdown visible:\n$plan")
  }

  test("multi-row query frames are rejected loudly, not silently first-row'd") {
    val q2 = embs.filter(col("vec_id") < 2)
    intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(embs, q2, "vec_id", "embedding", 5).collect()
    }
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(embs, q2, "vec_id", "embedding", 5).collect()
    }
    val dir = java.nio.file.Files.createTempDirectory("lsh_multi").toString
    Similarity.buildLshIndex(embs, "vec_id", "embedding", dir, planes = 6)
    intercept[IllegalArgumentException] {
      Similarity.lshIndexTopK(spark, dir, q2, "vec_id", "embedding", 5).collect()
    }
    val cents = graft.operators.Ann.trainCentroids(embs, "embedding", nlist = 4)
    val assigned = graft.operators.Ann.assignLists(embs, "vec_id", "embedding", cents)
    intercept[IllegalArgumentException] {
      graft.operators.Ann.ivfSearch(assigned, q2, "vec_id", "embedding",
        cents, 5, 2).collect()
    }
  }

  test("single-query probes drop a zero-norm vector's NaN cosine") {
    // NaN sorts ABOVE every real descending and passes `>=` in Spark,
    // so without the NaN filter the zero vector heads both results
    val zero = embs.filter(col("vec_id") === 0).select((col("vec_id") - 1).as("vec_id"),
      transform(col("embedding"), x => x * 0f).as("embedding"))
    val corpus = embs.select("vec_id", "embedding").union(zero)
    val q = embs.filter(col("vec_id") === 0).select(col("embedding"))
    val n = corpus.count().toInt
    for (out <- Seq(
        Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", k = n),
        Similarity.rangeSearch(corpus, q, "vec_id", "embedding", minCos = -1.0))) {
      val rows = out.collect()
      assert(rows.length == n - 1)
      assert(!rows.exists(r => r.getLong(0) == -1L || r.getDouble(1).isNaN))
    }
  }

  test("batch top-k matches per-query single probes") {
    val queries = embs.filter(col("vec_id") < 3)
    val corpus = embs.filter(col("vec_id") >= 3)
    def single(qid: Long) = Similarity.bruteForceTopK(corpus,
        embs.filter(col("vec_id") === qid), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Similarity.bruteForceTopKEach(corpus, queries,
        "vec_id", "vec_id", "embedding", 5)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    (0L to 2L).foreach { q =>
      assert(batch(q) == single(q), s"query $q: ${batch(q)} vs ${single(q)}")
    }
  }

  test("batch index probe matches single probes per query") {
    val dir = java.nio.file.Files.createTempDirectory("lsh_batch").toString
    val corpus = embs.filter(col("vec_id") >= 3)
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", dir, planes = 6)
    val queries = embs.filter(col("vec_id") < 3)
    def single(qid: Long) = Similarity.lshIndexTopK(spark, dir,
        embs.filter(col("vec_id") === qid), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Similarity.lshIndexTopKEach(spark, dir, queries,
        "vec_id", "vec_id", "embedding", 5)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    (0L to 2L).foreach { q =>
      assert(batch(q) == single(q), s"query $q: ${batch(q)} vs ${single(q)}")
    }
  }

  test("batch IVF probe matches single probes per query") {
    val cents = graft.operators.Ann.trainCentroids(embs, "embedding", nlist = 4)
    val assigned = graft.operators.Ann
      .assignLists(embs, "vec_id", "embedding", cents).persist()
    val corpus = assigned.filter(col("vec_id") >= 3)
    val queries = embs.filter(col("vec_id") < 3)
    def single(qid: Long) = graft.operators.Ann.ivfSearch(corpus,
        embs.filter(col("vec_id") === qid), "vec_id", "embedding", cents, 5, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = graft.operators.Ann.ivfSearchEach(corpus, queries,
        "vec_id", "vec_id", "embedding", cents, 5, 2)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    (0L to 2L).foreach { q =>
      assert(batch(q) == single(q), s"query $q: ${batch(q)} vs ${single(q)}")
    }
    assigned.unpersist()
  }

  test("stored IVF index: probe prunes list partitions, recalls the self-match") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    graft.operators.Ann.buildIvfIndex(embs, "vec_id", "embedding", dir, nlist = 4)
    val q = embs.filter(col("vec_id") === 0)
    val out = graft.operators.Ann.ivfIndexTopK(spark, dir, q,
      "vec_id", "embedding", k = 5, nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [list_id"),
      s"list probe not pushed to partition pruning:\n$plan")
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.head.getLong(0) == 0L && rows.head.getDouble(1) == 1.0,
      s"query's own list must be probed: ${rows.toSeq}")
    // a mismatched index (no metadata) fails loudly instead of
    // probing wrong lists
    intercept[IllegalArgumentException] {
      graft.operators.Ann.ivfIndexTopK(spark,
        java.nio.file.Files.createTempDirectory("not_an_index").toString,
        q, "vec_id", "embedding", 5, 2)
    }
  }

  test("IVF append: delta lands in the frozen index and is probed") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    val initial = embs.filter(col("vec_id") < 100)
    val delta = embs.filter(col("vec_id") >= 100)
    graft.operators.Ann.buildIvfIndex(initial, "vec_id", "embedding", dir,
      nlist = 4)
    def meta(): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_ivf_meta.json")), "UTF-8")
    val metaBefore = meta()
    graft.operators.Ann.appendIvfIndex(delta, "vec_id", "embedding", dir)
    // quantizer frozen: metadata byte-identical
    assert(meta() == metaBefore, "append must not touch the centroids")
    // every row present exactly once
    assert(spark.read.parquet(dir).count() == embs.count())
    // an appended vector is probed and recalls itself at cos 1.0
    val appendedId = delta.select(min(col("vec_id"))).collect()(0).getLong(0)
    val q = embs.filter(col("vec_id") === appendedId)
    val rows = graft.operators.Ann.ivfIndexTopK(spark, dir, q,
      "vec_id", "embedding", k = 3, nprobe = 2).collect()
    assert(rows.head.getLong(0) == appendedId && rows.head.getDouble(1) == 1.0,
      s"appended row must be probed: ${rows.toSeq}")
    // appending to a non-index path fails loudly
    intercept[IllegalArgumentException] {
      graft.operators.Ann.appendIvfIndex(delta, "vec_id", "embedding",
        java.nio.file.Files.createTempDirectory("not_an_index2").toString)
    }
  }

  test("IVF append lifecycle: files proliferate per batch, compaction restores them") {
    import graft.operators.Ann
    val dir = java.nio.file.Files.createTempDirectory("ivf_lifecycle").toString
    val initial = embs.filter(col("vec_id") < 100)
    Ann.buildIvfIndex(initial, "vec_id", "embedding", dir, nlist = 4)
    def listFiles(path: String): Map[String, Int] = {
      val root = java.nio.file.Paths.get(path)
      java.nio.file.Files.list(root).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("list_id="))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.list(p).iterator().asScala
            .count(f => f.getFileName.toString.endsWith(".parquet")))
        .toMap
    }
    val before = listFiles(dir)
    // 10 append batches — the per-epoch cadence the operator documents
    val rest = embs.filter(col("vec_id") >= 100)
    for (b <- 0 until 10)
      Ann.appendIvfIndex(rest.filter(pmod(col("vec_id"), lit(10)) === b),
        "vec_id", "embedding", dir)
    val after = listFiles(dir)
    // every batch that touched a list added at least one file there;
    // total file count grows with batch count — the debris compaction
    // exists to clear
    assert(after.values.sum > before.values.sum + 5,
      s"appends must proliferate files: $before -> $after")
    val q = embs.filter(col("vec_id") === 0)
    val probeBefore = Ann.ivfIndexTopK(spark, dir, q, "vec_id", "embedding",
        k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val out = java.nio.file.Files.createTempDirectory("ivf_compacted").toString
    val stats = Ann.compactIvfIndex(spark, dir, out)
    // one file per list at this size, quantizer carried over verbatim
    val compacted = listFiles(out)
    assert(compacted.values.forall(_ == 1), s"compacted layout: $compacted")
    assert(stats.map(_._2.filesIn).sum == after.values.sum.toLong)
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, "_graft_ivf_meta.json")), "UTF-8") ==
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_graft_ivf_meta.json")), "UTF-8"),
      "compaction must not touch the centroids")
    // identical answers from the compacted index: same rows, same cos
    val probeAfter = Ann.ivfIndexTopK(spark, out, q, "vec_id", "embedding",
        k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeAfter == probeBefore,
      s"compacted probe diverged: $probeBefore vs $probeAfter")
    // row conservation across the rewrite
    assert(spark.read.parquet(out).count() == embs.count())
  }

  test("LSH prunes the candidate set vs brute force") {
    val q = embs.filter(col("vec_id") === 0)
    val others = embs.filter(col("vec_id") =!= 0)
    val total = others.count()
    val candidates = Similarity.lshTopK(others, q, "vec_id", "embedding",
      k = Int.MaxValue, planes = 12, maxBitDiff = 2).count()
    assert(candidates < total, s"bucketing should prune ($candidates vs $total)")
  }
}
