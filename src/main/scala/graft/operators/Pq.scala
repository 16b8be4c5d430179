package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", PAMI 2011): vectors L2-normalize, split
  * into `m` subspaces, and each subspace quantizes independently to
  * one of `ksub` codebook entries — a d-dim float vector becomes an
  * m-byte code, and search scans CODES with a per-query lookup table
  * instead of floats.
  *
  * Why this is the 100 TB memory story (complementing IVF's scan
  * story): 64-dim float32 embeddings are 256 bytes/vector; m=8 PQ
  * codes are 8 bytes — a 32× shrink that turns a 25 TB embedding
  * column into 800 GB of codes. On normalized vectors, L2 ranking
  * equals cosine ranking (||a-b||² = 2 − 2·cos), so asymmetric
  * distance (ADC: query stays un-quantized, per-subspace distances
  * precompute into an m × ksub table) approximates the cosine
  * ordering with table lookups only.
  *
  * Scale shape mirrors [[Ann]]: codebooks train on a bounded
  * hash-mod sample on the driver (m × ksub × d/m doubles — KBs),
  * encoding is one shuffle-free scan, search is one shuffle-free
  * scan of the code column plus a driver-side top-k of k rows.
  * PqSpec measures recall vs brute force and pins the exactness
  * case (vectors AT sub-centroids ⇒ ADC is exact).
  */
object Pq {

  /** Per-subspace codebooks: `books(s)(c)` is the c-th centroid of
    * subspace s, length d/m.
    */
  final case class Codebooks(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def ksub: Int = books.head.length
    def dsub: Int = books.head.head.length
  }

  /** Train per-subspace k-means codebooks over [[Ann.trainingSample]]
    * (the sample IVF centroids train on). `dim` must split evenly into
    * `m`.
    */
  def train(embs: DataFrame, vecCol: String, m: Int, ksub: Int,
            iters: Int = 10, sampleLimit: Int = 100000): Codebooks =
    trainBooks(Ann.trainingSample(embs, vecCol, sampleLimit), m, ksub, iters)

  private def trainBooks(sample: Array[Array[Double]], m: Int, ksub: Int,
                         iters: Int): Codebooks = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide evenly into m=$m subspaces")
    require(sample.length >= ksub,
      s"need >= $ksub sample vectors to train, got ${sample.length}")
    val dsub = dim / m
    val books = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      kmeans(sub, ksub, iters)
    }
    Codebooks(books)
  }

  /** Plain L2 k-means with deterministic evenly-spaced init — runs on
    * the bounded driver-side sample only.
    */
  private def kmeans(xs: Array[Array[Double]], k: Int,
                     iters: Int): Array[Array[Double]] = {
    var cents = Array.tabulate(k)(i => xs(i * (xs.length / k)))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](xs.head.length))
      val counts = new Array[Long](k)
      xs.foreach { v =>
        val c = nearestSub(v, cents)
        counts(c) += 1
        val s = sums(c)
        var i = 0; while (i < v.length) { s(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    cents
  }

  /** Index of the nearest centroid by squared L2. */
  private def nearestSub(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** A vector's m sub-centroid indices: normalize, then the nearest
    * codebook entry per subspace.
    */
  private def encodeRow(v: Array[Float], books: Array[Array[Array[Double]]],
                        dsub: Int): (Array[Double], Array[Short]) = {
    val n = Ann.normalize(v.map(_.toDouble))
    val code = new Array[Short](books.length)
    var s = 0
    while (s < books.length) {
      val sub = java.util.Arrays.copyOfRange(n, s * dsub, (s + 1) * dsub)
      code(s) = nearestSub(sub, books(s)).toShort
      s += 1
    }
    (n, code)
  }

  /** Encode every vector to its m sub-centroid indices. One
    * shuffle-free scan; codebooks broadcast. Codes are `short`
    * (ksub ≤ 256 fits a byte, but short keeps the column readable
    * and DuckDB-friendly at 2 bytes/subspace).
    */
  def encode(embs: DataFrame, idCol: String, vecCol: String,
             cb: Codebooks): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    val dsub = cb.dsub
    embs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, encodeRow(v, bc.value.books, dsub)._2) }
      .toDF(idCol, "pq_code")
  }

  /** The per-query ADC distance table:
    * dist(s, c) = ||q_sub(s) − book(s)(c)||².
    */
  private def distanceTable(q: Array[Double], cb: Codebooks): Array[Array[Double]] = {
    val dsub = cb.dsub
    Array.tabulate(cb.m) { s =>
      val qsub = java.util.Arrays.copyOfRange(q, s * dsub, (s + 1) * dsub)
      cb.books(s).map { cent =>
        var d = 0.0; var i = 0
        while (i < qsub.length) { val t = qsub(i) - cent(i); d += t * t; i += 1 }
        d
      }
    }
  }

  /** ADC distance column over a code column, built from BUILTIN HOF
    * expressions (aggregate over a literal m × ksub table) — the hot
    * scan stays inside whole-stage codegen with no typed-map SerDe
    * boundary; the table rides the plan as a literal (m·ksub doubles,
    * KBs).
    */
  private def adcExpr(table: Array[Array[Double]],
                      codeCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val t = typedLit(table.map(_.toSeq).toSeq)
    aggregate(
      sequence(lit(0), lit(table.length - 1)),
      lit(0.0),
      (acc, s) => acc + element_at(element_at(t, s + 1),
        element_at(codeCol, s + 1).cast("int") + 1))
  }

  private def normalizedQuery(query: DataFrame, vecCol: String,
                              what: String): Array[Double] =
    Ann.normalize(Similarity.collectOneQuery(query, vecCol, what).map(_.toDouble))

  /** ADC top-k: the query builds an m × ksub distance table on the
    * driver (tiny), every encoded row sums m table lookups — no
    * float vectors are read at search time. Returns (idCol, adc)
    * with `adc` the approximate squared L2 distance (ascending =
    * most similar first on normalized vectors).
    */
  def search(encoded: DataFrame, query: DataFrame, idCol: String,
             vecCol: String, cb: Codebooks, k: Int): DataFrame =
    adcTopK(encoded, normalizedQuery(query, vecCol, "Pq.search"), idCol, cb, k)

  private def adcTopK(encoded: DataFrame, q: Array[Double], idCol: String,
                      cb: Codebooks, k: Int): DataFrame =
    encoded
      .select(col(idCol).cast("long").as(idCol),
        round(adcExpr(distanceTable(q, cb), col("pq_code")), 6).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(k)

  /** Build a stored IVF+PQ index — the composed 100 TB ANN shape
    * (FAISS's IVFPQ): vectors encode to m-short codes AND assign to
    * an IVF list in ONE scan (no join), and the codes write to
    * parquet PARTITIONED BY list_id; codebooks + centroids persist in
    * index metadata so a probe needs only the path (mismatched
    * quantizers would return wrong neighbors silently). A probe then
    * (a) prunes the file listing to nprobe/nlist of the CODE table
    * and (b) scans 2·m bytes per row instead of 4·d — both reductions
    * compound: 64-dim floats at nlist=1024, nprobe=8, m=16 touch
    * ~1/1000 of the bytes a brute-force scan reads.
    *
    * `nlist = 0` skips IVF: a flat code table, every probe scans all
    * codes (still the 8× byte shrink).
    */
  def buildPqIndex(embs: DataFrame, idCol: String, vecCol: String,
                   path: String, m: Int, ksub: Int, nlist: Int = 0,
                   iters: Int = 10, sampleLimit: Int = 100000): Unit = {
    val spark = embs.sparkSession
    import spark.implicits._
    // one sample (one sizing count, one collect) trains both quantizers
    val sample = Ann.trainingSample(embs, vecCol, sampleLimit)
    val cb = trainBooks(sample, m, ksub, iters)
    val cents: Option[Array[Array[Double]]] =
      if (nlist > 0) Some(Ann.sphericalKmeans(sample, nlist, iters))
      else None
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcCents = spark.sparkContext.broadcast(cents)
    val dsub = cb.dsub
    val coded = embs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (n, code) = encodeRow(v, bcCb.value.books, dsub)
        (id, code, bcCents.value.fold(0)(c => Ann.nearestCentroid(n, c)))
      }
      .toDF(idCol, "pq_code", "list_id")
    val w = coded.write.mode("overwrite")
    (if (nlist > 0) w.partitionBy("list_id") else w).parquet(path)

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val centsJson = cents.fold("null")(om.writeValueAsString)
    Ann.writeIndexMeta(spark, path, "_graft_pq_meta.json",
      s"""{"books":${om.writeValueAsString(cb.books)},"centroids":$centsJson}""")
  }

  /** Codebooks (+ optional IVF centroids) a [[buildPqIndex]] index
    * was built with.
    */
  private def readIndexMeta(spark: SparkSession,
                            path: String): (Codebooks, Option[Array[Array[Double]]]) = {
    val tree = Ann.readIndexMeta(spark, path, "_graft_pq_meta.json",
      "buildPqIndex", "PQ")(Ann.nonEmptyArray(_, "books"))
    val books = tree.get("books")
    val cents = tree.path("centroids")
    (Codebooks(Array.tabulate(books.size())(s => Ann.matrix(books.get(s)))),
      if (cents.isMissingNode || cents.isNull) None else Some(Ann.matrix(cents)))
  }

  /** Probe a [[buildPqIndex]] index: nearest `nprobe` lists prune the
    * scan at the file listing (when the index is IVF-partitioned),
    * codegen'd ADC over the code column produces a `shortlist`, and
    * exact cosine over ONLY those ids (semi-joined against the
    * original vector table) orders the final k.
    */
  def pqIndexTopK(spark: SparkSession, indexPath: String, embs: DataFrame,
                  query: DataFrame, idCol: String, vecCol: String, k: Int,
                  nprobe: Int = 4, shortlist: Int = 100): DataFrame = {
    val (cb, centsOpt) = readIndexMeta(spark, indexPath)
    val q = normalizedQuery(query, vecCol, "Pq.pqIndexTopK")
    val idx = spark.read.parquet(indexPath)
    val pruned = centsOpt.fold(idx) { cents =>
      idx.filter(col("list_id").isin(Ann.nearestLists(q, cents, nprobe): _*))
    }
    val cand = pruned
      .select(col(idCol), adcExpr(distanceTable(q, cb), col("pq_code")).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(shortlist)
      .select(col(idCol))
    Similarity.exactTopK(embs.join(broadcast(cand), Seq(idCol), "left_semi"),
      Similarity.queryFrame(spark, q.map(_.toFloat)), idCol, vecCol, k)
  }

  /** ADC shortlist + exact re-rank (the standard PQ deployment:
    * Jégou 2011 §V): [[search]] produces a `shortlist`-sized
    * candidate set from codes alone, then ONLY those rows' float
    * vectors are fetched (broadcast semi-join on the k ids — the
    * corpus-wide float scan never happens) and exact cosine orders
    * the final k. Quantization error then only costs recall when a
    * true neighbor falls outside the whole shortlist, not when ADC
    * jumbles near-ties.
    */
  def searchRefined(encoded: DataFrame, embs: DataFrame, query: DataFrame,
                    idCol: String, vecCol: String, cb: Codebooks, k: Int,
                    shortlist: Int = 100): DataFrame = {
    // one collect: the ADC table takes the normalized vector, the
    // re-rank the raw one
    val qv = Similarity.collectOneQuery(query, vecCol, "Pq.searchRefined")
    val cand = adcTopK(encoded, Ann.normalize(qv.map(_.toDouble)), idCol, cb, shortlist)
      .select(col(idCol))
    Similarity.exactTopK(embs.join(broadcast(cand), Seq(idCol), "left_semi"),
      Similarity.queryFrame(embs.sparkSession, qv), idCol, vecCol, k)
  }
}
