package graft.operators

import graft.plans.GraftExtensions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2). Brute-force cosine top-k is the exact baseline (one
  * broadcast of the query vector, zero shuffles, a single global
  * top-k); the SRP-LSH variant prunes candidates by hyperplane
  * bucket so the same query touches only a bucket's worth of rows —
  * the path that survives 100 TB.
  */
object Similarity {

  /** The one query vector of a single-query probe, collected ONCE:
    * the caller reuses it for routing and scoring. A count-then-
    * crossJoin (or head()+crossJoin) would evaluate the query frame
    * twice, so a non-deterministic source could pass the guard, or
    * pick one vector's lists/buckets, and score a different vector.
    * A multi-row frame fails loudly — a silent global top-k over
    * mixed queries is a wrong answer, not a looser one — naming the
    * batch form when there is one.
    */
  private[operators] def collectOneQuery(query: DataFrame, vecCol: String,
      what: String, batchForm: Option[String] = None): Array[Float] = {
    val spark = query.sparkSession
    import spark.implicits._
    val qs = query.select(col(vecCol)).as[Array[Float]].take(2)
    require(qs.length == 1,
      s"$what expects exactly one query row, got ${qs.length}" +
        batchForm.fold("")(b => s" (use $b for a batch of queries)"))
    qs.head
  }

  /** A collected query vector as the 1-row `q_vec` frame. */
  private[operators] def queryFrame(spark: SparkSession, qv: Array[Float]): DataFrame = {
    import spark.implicits._
    Seq(qv).toDF("q_vec")
  }

  /** `cands` scored against the 1-row query frame `q` (broadcast):
    * (idCol, cos, keep...) with `cos` the native codegen'd
    * [[graft.plans.CosineSimilarity]] rounded to 6 places, over the
    * crossed rows that pass `where`.
    */
  private[operators] def scored(cands: DataFrame, q: DataFrame, idCol: String,
      vecCol: String, keep: Seq[String] = Nil,
      where: Option[Column] = None): DataFrame = {
    GraftExtensions.ensureRegistered(cands.sparkSession)
    val crossed = cands.crossJoin(broadcast(q))
    where.fold(crossed)(crossed.filter)
      .select(col(idCol) +: round(expr(s"graft_cosine(`$vecCol`, `q_vec`)"), 6).as("cos") +:
        keep.map(col): _*)
      // zero-norm vectors give NaN, which Spark sorts ABOVE all reals
      // descending — drop them or they'd squat in the top-k
      .filter(!isnan(col("cos")))
  }

  /** The exact re-rank tail of every single-query probe: [[scored]],
    * then the top k by (cos desc, id) — ties resolve by id so results
    * are deterministic.
    */
  private[operators] def exactTopK(cands: DataFrame, q: DataFrame, idCol: String,
      vecCol: String, k: Int, keep: Seq[String] = Nil,
      where: Option[Column] = None): DataFrame =
    scored(cands, q, idCol, vecCol, keep, where)
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /** Exact top-k by cosine to one query vector. The query side is a
    * 1-row broadcast; ordering ties resolve by id so results are
    * deterministic. Loudly rejects a multi-row query frame (a silent
    * global top-k over mixed queries is a wrong answer, not a looser
    * one) — for a batch of queries use [[bruteForceTopKEach]].
    */
  def bruteForceTopK(embs: DataFrame, query: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val qv = collectOneQuery(query, vecCol, "bruteForceTopK", Some("bruteForceTopKEach"))
    exactTopK(embs, queryFrame(embs.sparkSession, qv), idCol, vecCol, k)
  }

  /** Exact RANGE search: every vector with cosine >= `minCos` to the
    * single query vector — the "all near-duplicates of this item"
    * probe (top-k bounds the RESULT size, range search bounds the
    * SIMILARITY; retrieval pipelines want the latter when the answer
    * set's size is the signal, e.g. how many near-copies exist).
    * Same scale shape as [[bruteForceTopK]]: 1-row query broadcast,
    * zero shuffles, the scan streams and the filter is codegen'd —
    * output size is data-bounded by the threshold, so no global
    * top-k sort is needed at all (the presentation orderBy is the
    * only exchange). Composes with the IVF/LSH indexes the same way
    * top-k does: probe the pruned lists, range-filter inside them.
    */
  def rangeSearch(embs: DataFrame, query: DataFrame, idCol: String,
                  vecCol: String, minCos: Double): DataFrame = {
    val qv = collectOneQuery(query, vecCol, "rangeSearch")
    scored(embs, queryFrame(embs.sparkSession, qv), idCol, vecCol)
      .filter(col("cos") >= minCos)
      .orderBy(col("cos").desc, col(idCol))
  }

  /** Exact per-query top-k for a BATCH of query rows: the query frame
    * broadcasts, every (query, corpus) cosine is scored in one
    * shuffle-free pass over the corpus, and a window ranks within
    * each query id. The corpus is scanned once no matter how many
    * queries ride along — the batch form a 100 TB pipeline should use
    * instead of looping single probes. Output: (q_id, idCol, cos).
    */
  def bruteForceTopKEach(embs: DataFrame, query: DataFrame, qIdCol: String,
                         idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = query.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"))
    BatchProbe.topKPerQuery(embs.crossJoin(broadcast(q)), idCol, vecCol, k)
  }

  /** Build a bucket-partitioned ANN index: embeddings written to
    * parquet PARTITIONED BY their SRP bucket, so the bucket is a
    * storage-layout column rather than something recomputed per
    * query. This is the 100 TB form of [[lshTopK]] — a probe against
    * the index scans only the probed buckets' directories (partition
    * pruning at the file listing, verified in PlanSpec), instead of
    * streaming the whole corpus through a bucket filter.
    */
  def buildLshIndex(embs: DataFrame, idCol: String, vecCol: String,
                    path: String, planes: Int = 8): Unit = {
    GraftExtensions.ensureRegistered(embs.sparkSession)
    embs.select(col(idCol), col(vecCol))
      .withColumn("bucket", expr(s"graft_srp_buckets(`$vecCol`, $planes, 1)")(0))
      .write.mode("overwrite")
      .partitionBy("bucket")
      .parquet(path)
    // the plane count is part of the index layout: persist it next to
    // the data so probes can't silently use a mismatched count (which
    // would probe buckets that don't exist and return wrong neighbors)
    Ann.writeIndexMeta(embs.sparkSession, path, "_graft_lsh_meta.json",
      s"""{"planes":$planes}""")
  }

  /** Read the plane count a [[buildLshIndex]] index was built with. */
  private def indexPlanes(spark: SparkSession, indexPath: String): Int =
    Ann.readIndexMeta(spark, indexPath, "_graft_lsh_meta.json",
        "buildLshIndex", "LSH")(_.path("planes").isInt)
      .get("planes").asInt()

  /** Probe a [[buildLshIndex]] index: multi-probe bucket set (all
    * buckets within `maxBitDiff` of the query's) is computed on the
    * driver from the query vector alone, then pushed as a partition
    * filter — the scan lists only those directories. Exact cosine
    * ranks the survivors.
    */
  def lshIndexTopK(spark: SparkSession, indexPath: String,
                   query: DataFrame, idCol: String, vecCol: String, k: Int,
                   maxBitDiff: Int = 2): DataFrame = {
    GraftExtensions.ensureRegistered(spark)
    // the plane count comes from the index's own metadata — taking it
    // as a parameter invited silent mismatches with buildLshIndex
    // (wrong-bucket probes returning wrong neighbors with no error)
    val planes = indexPlanes(spark, indexPath)
    // collect the query ONCE and reuse the same row for the bucket set
    // and the broadcast side: the previous head()+crossJoin evaluated
    // the query frame twice, so a non-deterministic source could probe
    // one vector's buckets and score a different vector — and a
    // multi-row query silently probed only the first row's buckets
    val qRows = query
      .select(col(vecCol).as("q_vec"),
        expr(s"graft_srp_buckets(`$vecCol`, $planes, 1)")(0).as("q_bucket"))
      .take(2)
    require(qRows.length == 1,
      s"lshIndexTopK expects exactly one query row, got ${qRows.length}" +
        " (use lshIndexTopKEach for a batch of queries)")
    val qVec = qRows.head.getAs[scala.collection.Seq[Float]]("q_vec").toArray
    val qBucket = qRows.head.getAs[Long]("q_bucket")
    val bucketSet = probeSet(qBucket, planes, maxBitDiff)
    exactTopK(spark.read.parquet(indexPath).filter(col("bucket").isin(bucketSet: _*)),
      queryFrame(spark, qVec), idCol, vecCol, k)
  }

  /** Batch probe of a [[buildLshIndex]] index: one collect computes
    * every query's multi-probe bucket set (the query batch is
    * driver-sized by contract — it is a probe list, not a corpus),
    * the scan partition-prunes to the UNION of all probed buckets,
    * and an equi-join on the bucket id routes each index row only to
    * the queries that actually probed its bucket. Per-query ranking
    * is a rank-limited window (Spark turns it into a map-side group
    * limit, so the shuffle carries at most k rows per query per map
    * partition). Output: (q_id, idCol, cos).
    */
  def lshIndexTopKEach(spark: SparkSession, indexPath: String,
                       query: DataFrame, qIdCol: String, idCol: String,
                       vecCol: String, k: Int, maxBitDiff: Int = 2): DataFrame = {
    GraftExtensions.ensureRegistered(spark)
    val planes = indexPlanes(spark, indexPath)
    val (probeDf, allBuckets) = BatchProbe.probeFrame(spark,
      query.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec"),
        expr(s"graft_srp_buckets(`$vecCol`, $planes, 1)")(0).as("q_bucket")),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType, nullable = false),
      r => probeSet(r.getAs[Long]("q_bucket"), planes, maxBitDiff))
    val joined = spark.read.parquet(indexPath)
      .filter(col("bucket").isin(allBuckets: _*))
      .join(broadcast(probeDf), Seq("bucket"))
    BatchProbe.topKPerQuery(joined, idCol, vecCol, k)
  }

  /** Multi-probe bucket enumeration: all bucket ids within hamming
    * `budget` of `base` (small: sum of C(planes, d) for d <= budget).
    */
  private def probeSet(base: Long, planes: Int, budget: Int): Seq[Long] = {
    def rec(b: Long, fromBit: Int, left: Int): Seq[Long] =
      if (left == 0) Seq(b)
      else Seq(b) ++ (fromBit until planes).flatMap(bit =>
        rec(b ^ (1L << bit), bit + 1, left - 1))
    rec(base, 0, budget).distinct
  }

  /** SRP-LSH bucketed ANN: candidates = rows whose `planes`-bit
    * hyperplane signature is within `maxBitDiff` bits of the query's
    * (multi-probe by hamming distance), then exact cosine on the
    * survivors. Recall < 1.0 by design; bump `maxBitDiff` or lower
    * `planes` to trade cost for recall.
    */
  def lshTopK(embs: DataFrame, query: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 12,
              maxBitDiff: Int = 2): DataFrame = {
    val spark = embs.sparkSession
    GraftExtensions.ensureRegistered(spark)
    val qv = collectOneQuery(query, vecCol, "lshTopK")
    // native one-pass signature (codegen'd, cached plane matrix)
    def sig(c: String): Column = expr(s"graft_srp_buckets(`$c`, $planes, 1)")(0)
    val q = queryFrame(spark, qv).select(col("q_vec"), sig("q_vec").as("q_bucket"))
    exactTopK(embs.withColumn("bucket", sig(vecCol)), q, idCol, vecCol, k,
      where = Some(bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= maxBitDiff))
  }
}
