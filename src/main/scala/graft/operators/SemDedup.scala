package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication (the SemDedup recipe, public literature:
  * cluster the embedding space with k-means, then drop near-duplicate
  * members WITHIN each cluster). Complements [[Dedup.embeddingPairs]]
  * (exact, all-pairs) and [[Dedup.embeddingPairsLsh]] (recall-tuned
  * LSH): here the candidate structure is the semantic clustering
  * itself, so the pair work is Σ size(cluster)² instead of n² — the
  * standard curation step for web-scale training corpora.
  *
  * Scale shape: centroids train on a driver-bounded sample
  * ([[Ann.trainCentroids]]), assignment is one scan with the centroid
  * matrix broadcast, and intra-cluster pairing runs
  * [[Dedup.embeddingPairs]]' pair kernel ([[Dedup.comboPairs]]) keyed
  * by (cluster, block-combo): rows replicate row-local to their combos,
  * ONE explicit-count shuffle pins the work, and a primitive-float
  * loop scores pairs without materializing them as rows. Sub-block
  * counts come from a per-cluster occupancy pass, so a skewed cluster
  * splits into more combos instead of becoming one straggler task.
  */
object SemDedup {

  /** Intra-cluster exact cosine pairs at or above `minCosine` from an
    * [[Ann.assignLists]]-shaped frame (idCol, vecCol, list_id).
    * Every unordered same-cluster pair is scored exactly once; pairs
    * across clusters are never candidates (that is the semantics, not
    * an approximation — SemDedup trades them away by design).
    *
    * `targetBlock` bounds a sub-block's size: cluster c splits into
    * ceil(size_c / targetBlock) blocks, so one combo's pair loop is
    * at most ~targetBlock² regardless of cluster skew.
    */
  def intraClusterPairs(assigned: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double, targetBlock: Int = 4096): DataFrame = {
    val spark = assigned.sparkSession
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val base = assigned.filter(col(vecCol).isNotNull)
      .select(col("list_id").cast("int"), col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"))
    // occupancy pass: per-cluster sub-block counts (bare ids shuffle,
    // nlist output rows — broadcasts back onto the corpus). Persisted
    // and counted once so the combo total below reads the cached
    // nlist rows instead of re-running the corpus aggregate.
    val nsub = base.groupBy(col("list_id"))
      .agg(count(lit(1)).as("cn"))
      .select(col("list_id"),
        ceil(col("cn").cast("double") / targetBlock).cast("int").as("nsub"))
      .persist()
    // r16 (guide §2): the pair exchange was pinned at defaultParallelism
    // * 8 — a cluster-oriented constant that schedules hundreds of
    // near-empty tasks when the corpus yields a handful of combos.
    // Size it from the ACTUAL combo count (cluster c contributes
    // nsub_c (nsub_c+1)/2 keys — exact, from the nlist-row occupancy
    // frame), clamped to [defaultParallelism, defaultParallelism * 8]:
    // a 100 TB corpus with thousands of combos still gets the full
    // spread, a 16-combo corpus stops paying for 256 tasks. Combo
    // work per key is (targetBlock)² regardless, which is why this
    // stays an explicit count — AQE's byte-based coalescing would
    // fuse combos into a few tasks (the exact kernel's documented
    // blind spot).
    val totalCombos = Option(nsub.agg(
        sum(expr("CAST(nsub AS BIGINT) * (nsub + 1) DIV 2"))).head().get(0))
      .fold(0L)(_.asInstanceOf[Long])
    val par = spark.sparkContext.defaultParallelism
    val pairParts = math.max(par,
      math.min(par * 8L, totalCombos).toInt)
    // explicit partition count (combo-derived, see pairParts above)
    val copies = Dedup.comboCopies(base.join(broadcast(nsub), Seq("list_id"))
        .select(col("list_id").as("grp"), col("id"), col("vec"),
          pmod(xxhash64(col("id")), col("nsub")).cast("int").as("g"), col("nsub")))
      .repartition(pairParts, col("grp"), col("ba"), col("bb"))
    Dedup.comboPairs(copies, minCosine).withColumnRenamed("grp", "list_id")
  }

  /** Full SemDedup pass: train the quantizer, assign clusters, find
    * intra-cluster near-dups, and resolve survivorship (lowest id per
    * duplicate group survives; singletons pass through). Returns the
    * assigned frame annotated with (group_label, is_survivor).
    */
  def semdedup(embs: DataFrame, idCol: String, vecCol: String, nlist: Int,
               minCosine: Double, iters: Int = 10, targetBlock: Int = 4096,
               sampleLimit: Int = 100000): DataFrame = {
    val cents = Ann.trainCentroids(embs, vecCol, nlist, iters, sampleLimit)
    // persisted: the assignment feeds both the pair generation (two
    // kernel passes over it) and the resolve joins — recomputing it
    // re-runs the centroid broadcast map per consumer
    val assigned = Ann.assignLists(embs, idCol, vecCol, cents).persist()
    val pairs = intraClusterPairs(assigned, idCol, vecCol, minCosine, targetBlock)
    Dedup.resolve(assigned, pairs.select(col("id_a"), col("id_b")), idCol)
  }
}
