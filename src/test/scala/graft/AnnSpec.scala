package graft

import graft.Tables
import graft.operators.{Ann, Similarity}
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {

  private def embs = Tables.embeddings(spark, sf0001)

  test("IVF: centroid training deterministic, probe finds near-neighbors") {
    val cents1 = Ann.trainCentroids(embs, "embedding", nlist = 4, iters = 5)
    val cents2 = Ann.trainCentroids(embs, "embedding", nlist = 4, iters = 5)
    assert(cents1.flatten.toSeq == cents2.flatten.toSeq, "training must be deterministic")
    val assigned = Ann.assignLists(embs, "vec_id", "embedding", cents1)
    assert(assigned.select("list_id").distinct().count() == 4)
    val q = embs.filter(col("vec_id") === 0)
    val full = Ann.ivfSearch(assigned, q, "vec_id", "embedding", cents1,
      k = 5, nprobe = 4).collect()
    assert(full.head.getLong(0) == 0L && full.head.getDouble(1) == 1.0)
    // probing all lists == brute force
    val brute = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 5)
      .collect().map(_.getLong(0)).toSeq
    assert(full.map(_.getLong(0)).toSeq == brute)
    // probing fewer lists prunes work but still finds the self-match
    val pruned = Ann.ivfSearch(assigned, q, "vec_id", "embedding", cents1,
      k = 5, nprobe = 1).collect()
    assert(pruned.head.getLong(0) == 0L)
  }

  test("IVF delete: touched lists rewritten, others' files untouched, meta frozen (r11)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_del").toString
    val clean = embs.select(col("vec_id"), col("embedding"))
    Ann.buildIvfIndex(clean, "vec_id", "embedding", dir, nlist = 4)
    val before = spark.read.parquet(dir)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // delete 3 ids from (typically) fewer than 4 lists
    val doomedIds = before.keys.toSeq.sorted.take(3)
    val doomedLists = doomedIds.map(before).toSet
    val metaBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/_graft_ivf_meta.json"))
    def fileTimes(): Map[String, Long] = {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("list_id="))
        .flatMap(d => fs.listStatus(d.getPath).filter(_.isFile).map(f =>
          f.getPath.toString -> f.getModificationTime))
        .toMap
    }
    val timesBefore = fileTimes()
    val touched = Ann.deleteFromIvfIndex(spark, dir,
      doomedIds.toDF("vec_id"), "vec_id")
    assert(touched.map(_.toInt).toSet == doomedLists, s"touched=$touched")
    // doomed rows gone, everything else intact
    val after = spark.read.parquet(dir)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(doomedIds.forall(!after.contains(_)))
    assert(after == before -- doomedIds, "only the doomed ids may go")
    // untouched lists' data files were not rewritten
    val timesAfter = fileTimes()
    val untouchedBefore = timesBefore.filterNot { case (p, _) =>
      doomedLists.exists(l => p.contains(s"list_id=$l/")) }
    untouchedBefore.foreach { case (p, t) =>
      assert(timesAfter.get(p).contains(t), s"untouched file rewritten: $p") }
    // quantizer metadata byte-identical; probes still answer
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/_graft_ivf_meta.json")) == metaBefore)
    val survivor = after.keys.head
    val q = clean.filter(col("vec_id") === survivor)
    val probed = Ann.ivfIndexTopK(spark, dir, q, "vec_id", "embedding",
      k = 3, nprobe = 4).collect()
    assert(probed.head.getLong(0) == survivor && probed.head.getDouble(1) == 1.0)
    // deleting every remaining row of one list empties that partition
    val wholeList = after.collect { case (id, l) if l == after(survivor) => id }.toSeq
    Ann.deleteFromIvfIndex(spark, dir, wholeList.toDF("vec_id"), "vec_id")
    val lists = spark.read.parquet(dir).select("list_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(!lists.contains(after(survivor)), "emptied list must vanish")
    // takedown hygiene (r14): the deleted vectors' bytes are gone —
    // the rewritten lists' OLD files were removed, not just hidden,
    // and the copy-on-write swap left zero backup/staging residue
    val timesFinal = fileTimes()
    doomedLists.foreach { l =>
      timesBefore.keys.filter(_.contains(s"list_id=$l/")).foreach(p =>
        assert(!timesFinal.contains(p), s"superseded file still on disk: $p"))
    }
    assert(graft.operators.Cdc.swapResidue(spark, dir).isEmpty)
  }

  test("knn join: k rows per id, self excluded, ranked by cosine") {
    val knn = Ann.knnJoin(embs.limit(100), "vec_id", "embedding", k = 3,
      planes = 4)
    val rows = knn.collect()
    assert(rows.nonEmpty)
    val byA = rows.groupBy(_.getLong(0))
    assert(byA.values.forall(_.length <= 3))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    byA.values.foreach { rs =>
      val sims = rs.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("knn join multi-probe: same output shape, strictly better recall vs exact (r11)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val corpus = embs.select(col("vec_id"), col("embedding")).persist()
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b"))
    val exact = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), expr("graft_cosine(va, vb)").as("cos"))
      .filter(!isnan(col("cos")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def recallOf(pb: Int): Double = {
      val got = Ann.knnJoin(corpus, "vec_id", "embedding", k = 3,
          planes = 4, probeBits = pb)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      (got & exact).size.toDouble / exact.size
    }
    val r0 = recallOf(0); val r1 = recallOf(1)
    assert(r1 > r0, s"multi-probe must beat single-bucket: $r1 vs $r0")
    assert(r1 >= 0.4, s"multi-probe recall floor: $r1")
    // shape invariants hold under multi-probe: <= k rows per id,
    // no self pairs, descending rank order
    val rows = Ann.knnJoin(corpus, "vec_id", "embedding", k = 3,
      planes = 4, probeBits = 1).collect()
    val byA = rows.groupBy(_.getLong(0))
    assert(byA.values.forall(_.length <= 3))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    byA.values.foreach { rs =>
      val sims = rs.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse)
    }
    // and a pair never surfaces twice for the same probe id
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length ==
      rows.length, "duplicate (id_a, id_b) — a pair met more than once")
  }

  test("knn kernel rounds a 7th-decimal tie HALF_UP, as the candidates formulation does") {
    val kernel = Ann.knnJoin(cosineTie, "vec_id", "embedding", k = 1, planes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val reference = Ann.knnCandidates(cosineTie, "vec_id", "embedding",
        planes = 1, targetBucket = 1024, bucketCap = 8192)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(kernel == Set((1L, 2L, 0.950001), (2L, 1L, 0.950001)))
    assert(kernel == reference)
  }

  test("knn kernel matches the candidates+window formulation exactly") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val corpus = embs.limit(300)
    val kernel = Ann.knnJoin(corpus, "vec_id", "embedding", k = 5, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    val reference = Ann.knnCandidates(corpus, "vec_id", "embedding",
        planes = 4, targetBucket = 1024, bucketCap = 8192)
      .select(col("id_a"), col("id_b"), col("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(kernel == reference,
      s"kernel-only: ${(kernel -- reference).take(5)}; " +
        s"window-only: ${(reference -- kernel).take(5)}")
  }
}
