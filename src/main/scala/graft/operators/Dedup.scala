package graft.operators

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.plans.GraftExtensions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication family for the training-data pipeline (SURVEY §2):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Shuffle budget at scale:
  *  - exact: one hash-partitioned groupBy on the fingerprint
  *    (uniform keys by construction — md5 output);
  *  - minhash/simhash: signatures row-local, then ONE shuffle on
  *    (band, bucket); pairs are generated per-bucket, never O(n²);
  *  - jaccard verify runs only on LSH candidates;
  *  - embedding: block-partitioned exact all-pairs for
  *    oracle-checkable correctness; [[Dedup.embeddingPairsLsh]] for
  *    the candidate-pruned scale path.
  *
  * Cache lifecycle: the pair generators persist their signature
  * frames (consumed by both self-join sides) at MEMORY_AND_DISK and
  * rely on LRU eviction rather than explicit unpersist — the results
  * are lazy, so an eager unpersist would fire at plan-build time.
  * Sessions that loop over many distinct corpora should
  * `spark.catalog.clearCache()` between batches.
  */
object Dedup {

  /** Exact dedup on normalized-content fingerprint: keep the lowest
    * id per group, count the copies. Null-text docs are excluded —
    * grouping them would report distinct records as copies of each
    * other (and a dedup-and-drop consumer would delete them).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("doc_id_kept"), count(lit(1)).as("n_copies"))

  /** SOFT dedup (r11): instead of dropping duplicates, every doc
    * gets its exact-duplicate group's size and a fractional weight —
    * the duplicate-aware SAMPLING primitive (train on everything,
    * downweight repeats so a million-copy boilerplate page carries
    * one page's worth of gradient; or keep the canonical row and
    * sample it at group mass). Output: one row per non-null-text
    * input doc — (idCol, group_n, weight_e6 = floor(1e6 / group_n),
    * is_canonical = this id is the group's min).
    *
    * Integer e6 weights keep the table hash-verifiable; consumers
    * needing exact mass conservation should weight the CANONICAL row
    * by group_n instead of summing the floored per-copy weights.
    *
    * Scale shape: one map-side-combined groupBy(fp) — NOT a window
    * over fp, which would funnel a million-copy clump through one
    * task — then one fp-keyed join back whose shape is GATED
    * ([[TextFilters.useMinedBroadcast]] on the corpus: the group
    * frame is one row per distinct fingerprint, corpus-mined and
    * unbounded by contract). Below the ceiling the group frame
    * broadcasts and the corpus pays ZERO exchanges — R11Probe3
    * measured the ungated form leaving a pre-AQE ENSURE_REQUIREMENTS
    * fp-shuffle in place even after AQE converted the join to
    * broadcast, parking a 1 M-copy clump in one task; the explicit
    * hint plans the broadcast up front, so the clump never leaves
    * its scan partitions. Above the ceiling it degrades to a plain
    * shuffle join where AQE's skew split engages once the clump
    * partition crosses the skew threshold.
    */
  def softWeights(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
    val groups = keyed.groupBy(col("fp"))
      .agg(count(lit(1)).as("group_n"), min(col(idCol)).as("__canon"))
    // factor 4, not the mined-shingle 32 (r11 review): groups has NO
    // minDf divisor — worst case (all-unique corpus of tiny docs) is
    // ~one 48-byte row per corpus row, so the ceiling must stay within
    // a few broadcast thresholds of the corpus bytes themselves
    val hinted =
      if (TextFilters.useMinedBroadcast(docs, factor = 4))
        broadcast(groups)
      else groups
    keyed.join(hinted, Seq("fp"))
      .select(col(idCol),
        col("group_n"),
        floor(lit(1000000L) / col("group_n")).cast("long").as("weight_e6"),
        (col(idCol) === col("__canon")).as("is_canonical"))
  }

  /** Incremental exact dedup of a new BATCH against an existing
    * CORPUS: returns the batch rows whose content fingerprint does
    * not appear anywhere in the corpus — the rows an append-only
    * ingest would actually add. Exact (identical to a plain
    * left-anti join on the fingerprint), but shaped so NEITHER side
    * ever rides a shuffle:
    *
    *  1. a Bloom filter over the corpus fingerprints (built with
    *     `DataFrame.stat.bloomFilter`, a tree-aggregated sketch; no
    *     false negatives) is broadcast and applied row-local to the
    *     batch. Rows the sketch rejects are DEFINITELY new and pass
    *     straight through;
    *  2. the surviving candidates — true re-submissions plus an fpp
    *     fraction of the batch — are broadcast back against the
    *     corpus scan to find which fingerprints REALLY exist
    *     (broadcast hash join, corpus side stays put), and that
    *     matched set, smaller still, is broadcast for the final
    *     row-local anti filter of the batch.
    *
    * At 100 TB the corpus is scanned (pruned to one column) but never
    * shuffled, the batch never leaves its partitions, and the only
    * data that moves is candidates (|true dups| + fpp * |batch|) and
    * matched fingerprints — versus a full corpus-wide exchange for
    * the naive anti-join. A deployment builds the corpus sketch once
    * per ingest epoch and reuses it across batches (the query layer
    * memoizes it per corpus dir, the ANN-index discipline); size the
    * sketch via `expectedItems`/`fpp` — 10^9 items at 1% fpp is
    * ~1.2 GB, the practical broadcast ceiling.
    *
    * Intra-batch duplicates are NOT collapsed (both copies of a new
    * text are returned): batch-internal dedup is [[exact]]'s job and
    * composes BEFORE this pass, mirroring the reference's
    * dedup-then-append ingest ordering.
    *
    * A corpus within [[TextFilters.useMinedBroadcast]]'s ceiling at
    * factor 64 takes the plain fingerprint anti-join instead (Catalyst
    * broadcasts it), a larger one the bloom path above
    * ([[incrementalNewBloom]]) — identical rows (spec-pinned).
    *
    * Output: (idCol, fp) per surviving batch row.
    */
  def incrementalNew(corpus: DataFrame, batch: DataFrame,
                     idCol: String, textCol: String,
                     expectedItems: Long = 1L << 20,
                     fpp: Double = 0.01): DataFrame = {
    // measured in SCALING.md (graft.IncrAb): at 250 k docs the plain
    // anti-join beats the bloom path 2.2 s to 5.4 s — small corpora
    // shuffle (or broadcast) for free and the prefilter's extra stages
    // are the whole bill. The bloom path exists for the corpus that
    // can NEITHER broadcast its fp set nor afford a corpus-wide
    // exchange; its sketch is ~10 bits/doc vs ~50 B/doc for a
    // broadcast fp set. Raw text bytes >> fp bytes, so corpora under
    // 64x the broadcast threshold keep the join form — Catalyst turns
    // it into a broadcast anti-join well before that line.
    if (TextFilters.useMinedBroadcast(corpus, factor = 64))
      batch.filter(col(textCol).isNotNull)
        .select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
        .join(corpus.filter(col(textCol).isNotNull)
          .select(T.fingerprint(col(textCol)).as("fp")).distinct(),
          Seq("fp"), "left_anti")
        .select(col(idCol), col("fp"))
    else incrementalNewBloom(corpus, batch, idCol, textCol, expectedItems, fpp)
  }

  /** [[incrementalNew]]'s bloom path at any corpus size: the corpus
    * sketch prefilter, the broadcast verify of the surviving
    * candidates against the corpus scan, and the row-local anti filter
    * of the batch. Same rows as [[incrementalNew]]; neither side ever
    * rides a shuffle.
    */
  def incrementalNewBloom(corpus: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          expectedItems: Long = 1L << 20,
                          fpp: Double = 0.01): DataFrame = {
    val batchFp = batch.filter(col(textCol).isNotNull)
      .select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
    val bc = batch.sparkSession.sparkContext.broadcast(
      corpusSketch(corpus, textCol, expectedItems, fpp))
    val matched = matchedFingerprints(corpus, textCol,
      batchFp.select(col("fp")), bc)
    batchFp.join(broadcast(matched), Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
  }

  /** The [[incrementalNew]] prefilter sketch as a standalone
    * artifact: a Bloom filter over the corpus content fingerprints
    * (tree-aggregated; no false negatives). Build once per ingest
    * epoch, broadcast, and reuse across every batch / micro-batch
    * checked against the same corpus — the eager corpus scan this
    * performs is the thing reuse amortizes.
    */
  def corpusSketch(corpus: DataFrame, textCol: String,
                   expectedItems: Long = 1L << 20,
                   fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    require(expectedItems > 0, s"expectedItems must be > 0: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    corpus.filter(col(textCol).isNotNull)
      .select(T.fingerprint(col(textCol)).as("fp"))
      .stat.bloomFilter("fp", expectedItems, fpp)
  }

  /** Which of `fps` (a single-column frame named `fp`) REALLY exist
    * in the corpus: the broadcast sketch prunes `fps` row-local to
    * candidates (true hits + the fpp fraction), and only those ride
    * a broadcast against the corpus scan. Distinct output; the
    * corpus is never shuffled.
    */
  def matchedFingerprints(corpus: DataFrame, textCol: String,
                          fps: DataFrame,
                          sketch: org.apache.spark.broadcast.Broadcast[
                            org.apache.spark.util.sketch.BloomFilter]): DataFrame = {
    // sketch membership is the one per-row op the builtin function set
    // can't express (the sketch lives in a broadcast, not a column);
    // row-local, no shuffle, and only the prefilter — exactness never
    // depends on it
    val mightContain = udf((fp: String) => sketch.value.mightContainString(fp))
    // null fingerprints (null-text rows upstream) can't exist in the
    // corpus and would NPE the sketch probe — drop them here so every
    // caller gets the same "null never matches" join semantics
    val candidates = fps.filter(col("fp").isNotNull)
      .filter(mightContain(col("fp")))
      .select(col("fp")).distinct()
    corpus.filter(col(textCol).isNotNull)
      .select(T.fingerprint(col(textCol)).as("fp"))
      .join(broadcast(candidates), Seq("fp"))
      .select(col("fp")).distinct()
  }

  /** NEAR-dup incremental gate: batch rows whose content is not a
    * near-duplicate (exact shingle-Jaccard >= `minJaccard`) of ANY
    * corpus document — the crawl-increment counterpart of
    * [[incrementalNew]], which only stops exact re-submissions; a
    * re-crawl that gained a timestamp or lost a footer sails through
    * the fingerprint gate and lands here.
    *
    * Scale shape (the corpus NEVER shuffles):
    *  1. candidates come from joining the batch's banded MinHash
    *     signatures against the corpus band index on (band, bucket).
    *     Pass `corpusBanded` to reuse a PERSISTED index built once
    *     per ingest epoch ([[bandedSignatures]] — the corpusSketch /
    *     ANN-index discipline); the batch side goes through the
    *     [[TextFilters.useMinedBroadcast]] gate (broadcast while the
    *     batch is small — the contract case for an increment — plain
    *     shuffle join on the skinny band rows beyond);
    *  2. the exact verify is candidates-only: each side's shingle
    *     sets are fetched by a broadcast semi-join on its candidate
    *     id set (bounded by |batch| x band collisions, not by the
    *     corpus), and near-dup batch ids fall out of one integer
    *     filter — the [[jaccardVerify]] math, bilateral.
    *
    * Like [[minhashPairs]], recall is the LSH banding contract: a
    * jac >= j pair is seen with P = 1-(1-j^r)^b (0.9998 at j = 0.8
    * with 16x4; 1-2.6e-10 at j = 0.93) and false candidates are
    * killed by the EXACT verify, so precision is exact. Null-text
    * batch rows are excluded from the output ([[incrementalNew]]'s
    * rule); empty-but-non-null text has no signature and passes.
    *
    * Output: the surviving batch rows, all columns.
    */
  def incrementalNewNear(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      perms: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      minJaccard: Double = 0.8,
      corpusBanded: Option[DataFrame] = None): DataFrame = {
    // ONE gate decision covers every batch-derived frame below: the
    // candidate-id sets and the near-dup id set all scale with batch
    // size (times collision density), so when the batch is too big
    // to broadcast its band rows, force-broadcasting its derivatives
    // would OOM the same way — above the ceiling they all join
    // unhinted and Catalyst plans from stats (r10 review).
    val small = TextFilters.useMinedBroadcast(batch)
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val cb = corpusBanded
      .getOrElse(bandedSignatures(corpus, idCol, textCol, perms, bands,
        shingleSize))
      .select(col("id").as("corpus_id"), col("band"), col("bucket"))
    val bb = bandedSignatures(batch, idCol, textCol, perms, bands,
        shingleSize)
      .select(col("id").as("batch_id"), col("band"), col("bucket"))
    // persisted: three consumers (both shingle-set semi-joins + the
    // verify join) — unpersisted, each would re-run the batch
    // signature pipeline AND the corpus band-index build on the
    // inline path (the minhashPairs persist precedent); left to LRU
    // like every kernel cache (object scaladoc)
    val cand = cb.join(hinted(bb), Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id")).distinct()
      .persist()
    val shB = spread(nonEmptyText(batch, textCol))
      .join(hinted(cand.select(col("batch_id").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("batch_id"),
        T.shingles(col(textCol), shingleSize).as("sh_b"))
    val shC = spread(nonEmptyText(corpus, textCol))
      .join(hinted(cand.select(col("corpus_id").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("corpus_id"),
        T.shingles(col(textCol), shingleSize).as("sh_c"))
    val dupIds = cand
      .join(shB, Seq("batch_id"))
      .join(shC, Seq("corpus_id"))
      .filter(size(array_intersect(col("sh_b"), col("sh_c"))).cast("double") /
        size(array_union(col("sh_b"), col("sh_c"))).cast("double")
        >= minJaccard)
      .select(col("batch_id").as(idCol)).distinct()
    batch.filter(col(textCol).isNotNull)
      .join(hinted(dupIds), Seq(idCol), "left_anti")
  }

  /** Spread compute-heavy per-row work across all cores: a small
    * input (one parquet file) otherwise yields one task and the
    * shingle/hash pipeline runs single-threaded. Only widens — a
    * large input that already has more partitions than cores is left
    * alone (shrinking it would shuffle the whole corpus and lose
    * parallelism).
    */
  private def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // plan-time stats instead of df.rdd.getNumPartitions — touching
    // .rdd materializes the RDD lineage per call. An input bigger than
    // target * maxPartitionBytes already yields >= target scan
    // partitions, so only small inputs get the widening shuffle.
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val perPartition = spark.sessionState.conf.filesMaxPartitionBytes
    // sources with no size statistics (JDBC, some views) report the
    // defaultSizeInBytes sentinel — treating that huge value as "big
    // enough, skip widening" would leave e.g. a 1-partition JDBC read
    // running the whole pipeline on one core; fall back to the actual
    // partition count for those
    val unknown = bytes >= BigInt(spark.sessionState.conf.defaultSizeInBytes)
    if (unknown) {
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    } else if (bytes > BigInt(perPartition) * target) df
    // small by size, but possibly already wide: a frame fresh off an
    // upstream shuffle has >= target partitions and repartitioning it
    // again would be a pointless extra shuffle. The .rdd peek is only
    // paid on this small-input branch.
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** LSH dedup only makes sense on non-empty text: empty/null docs
    * all share one degenerate signature and would pair O(n²) (use
    * [[exact]] / validation gates for those).
    */
  private def nonEmptyText(df: DataFrame, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)

  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        perms: Int, shingleSize: Int): DataFrame = {
    GraftExtensions.ensureRegistered(docs.sparkSession)
    // Row-local one-pass signature via the native graft_minhash
    // expression: no explode fan-out, no 64-wide hash-aggregate, no
    // shuffle to regroup by id. Hash math is bit-identical to the
    // previous min(xxhash64(xxhash64(sh), i)) aggregation, so every
    // downstream band/bucket/estimate is unchanged. No isNotNull
    // filter on sig: nonEmptyText guarantees >= 1 word, so the
    // shingle array is never empty (a filter on the alias would also
    // make the optimizer evaluate the whole chain twice).
    spread(nonEmptyText(docs, textCol))
      .select(col(idCol).as("id"),
        call_function("graft_minhash",
          T.shingles(col(textCol), shingleSize), lit(perms)).as("sig"))
  }

  /** (id, sig, band, bucket) — one row per document per band: the
    * join-ready form of the MinHash signatures, for consumers that
    * match against a PERSISTED signature corpus (e.g. the streaming
    * incremental dedup gate) rather than self-joining one frame.
    */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
                       perms: Int = 64, bands: Int = 16,
                       shingleSize: Int = 3): DataFrame =
    minhashSignatures(docs, idCol, textCol, perms, shingleSize)
      .select(col("id"), col("sig"),
        explode(H.minhashBands(col("sig"), bands, perms / bands)).as("b"))
      .select(col("id"), col("sig"), col("b.band"), col("b.bucket"))

  /** Candidate near-dup pairs via MinHash LSH banding, annotated with
    * the signature-estimated Jaccard.
    *
    * Persists the signature frame for the bucket self-join and leaves
    * it to LRU/`spark.catalog.clearCache()` — see the object scaladoc
    * for the lifecycle rationale.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   perms: Int = 64, bands: Int = 16,
                   shingleSize: Int = 3): DataFrame = {
    val rows = perms / bands
    // persist: consumed three times (band explode + the two sig
    // lookups below) and each consumer would otherwise re-run the
    // full scan→shingle→signature pipeline. Small frame: one sig
    // array per doc; MEMORY_AND_DISK evicts under pressure.
    val sigs = minhashSignatures(docs, idCol, textCol, perms, shingleSize)
      .persist()
    // The bucket self-join moves SKINNY (band, bucket, id) rows only.
    // Carrying the 64-long signature through it (the pre-r6 shape)
    // shuffled every sig `bands` times on BOTH join sides — 32x the
    // signature bytes — which held flat to ~sf3 and then fell off the
    // memory cliff into shuffle spill at sf10 (scaling ladder, r6:
    // 2.3s -> 18.6s for 3.3x data). Ids shuffle at ~1/20th the
    // volume; signatures are attached afterwards, once, to the far
    // smaller DISTINCT candidate set (collisions collapse first, so
    // a pair colliding in 8 bands computes its estimate once, not 8
    // times). Same pair set, same estimates, linear shuffle volume.
    val exploded = sigs
      .select(col("id"),
        explode(H.minhashBands(col("sig"), bands, rows)).as("b"))
      .select(col("id"), col("b.band"), col("b.bucket"))
    val cand = exploded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(exploded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        H.minhashEstimate(col("sig_a"), col("sig_b"), perms).as("est_jaccard"))
  }

  /** 64-bit SimHash signatures via the native one-pass
    * [[graft.plans.SimHashSignature]] expression — row-local, no
    * explode fan-out, no 64-wide hash-aggregate, no shuffle. Hash
    * math is bit-identical to the previous
    * sum(±1 per (word-hash >> j) & 1) aggregation, so bands/buckets
    * downstream are unchanged. nonEmptyText guarantees >= 1 word, so
    * the signature is never null.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    GraftExtensions.ensureRegistered(docs.sparkSession)
    spread(nonEmptyText(docs, textCol))
      .select(col(idCol).as("id"),
        call_function("graft_simhash", T.words(col(textCol))).as("sig"))
  }

  /** Near-dup pairs via 64-bit SimHash: bucket on 16-bit bands
    * (pigeonhole guarantees hamming<=3 pairs collide), verify the
    * actual hamming distance.
    *
    * Persists the signature frame for the bucket self-join and leaves
    * it to LRU/`spark.catalog.clearCache()` — see the object scaladoc
    * for the lifecycle rationale.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // persist for the same two-sided-self-join reason as minhashPairs
    val sigs = simhashSignatures(docs, idCol, textCol)
      .withColumn("banded", H.simhashBands(col("sig")))
      .persist()
    val exploded = sigs.select(col("id"), col("sig"), explode(col("banded")).as("b"))
      .select(col("id"), col("sig"), col("b.band"), col("b.bucket"))
    val a = exploded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = exploded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        H.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** GROUP-contract MinHash near-dup edges — [[minhashPairs]]' pair
    * semantics with [[SigPairs.hammingStarEdges]]' output shape:
    * per identical-signature group, a canonical representative (min
    * id) with member→representative star edges (est_jaccard 1.0 —
    * identical signatures estimate 1 by construction), plus ONE edge
    * per candidate representative pair with the usual estimate.
    * Output is O(docs + distinct-sig candidate pairs): an m-copy
    * near-exact clump (identical signature, e.g. boilerplate pages
    * whose differences vanish in shingling) emits m−1 rows where
    * [[minhashPairs]] emits m(m−1)/2. Connected components — hence
    * [[resolve]] survivorship — are identical (spec'd in DedupSpec).
    *
    * Cost shape: ONE extra array-keyed shuffle (the window that
    * assigns representatives) on top of [[minhashPairs]]' skinny-id
    * band join, which then runs over DISTINCT signatures only. Per
    * the r6 measured rule (SCALING.md): on clump-free corpora the
    * extra stage is pure overhead — keep [[minhashPairs]] as the
    * default there, and reach for this form when the corpus carries
    * near-exact clumps that [[exact]] cannot pre-collapse (identical
    * signature but different bytes).
    */
  def minhashStarEdges(docs: DataFrame, idCol: String, textCol: String,
                       perms: Int = 64, bands: Int = 16,
                       shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = perms / bands
    // one array-keyed shuffle assigns every doc its signature-group
    // representative; persisted — read by intra edges, reps, and the
    // estimate attachment
    val sigs = minhashSignatures(docs, idCol, textCol, perms, shingleSize)
      .withColumn("rep", min(col("id")).over(Window.partitionBy(col("sig"))))
      .persist()
    val intra = sigs.filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"),
        lit(1.0).as("est_jaccard"))
    val reps = sigs.filter(col("id") === col("rep"))
      .select(col("id"), col("sig"))
    // minhashPairs' skinny-id band join, over DISTINCT signatures
    val exploded = reps
      .select(col("id"), explode(H.minhashBands(col("sig"), bands, rows)).as("b"))
      .select(col("id"), col("b.band"), col("b.bucket"))
    val cand = exploded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(exploded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val cross = cand
      .join(reps.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(reps.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        H.minhashEstimate(col("sig_a"), col("sig_b"), perms).as("est_jaccard"))
    intra.unionByName(cross)
  }

  /** GROUP-contract SimHash near-dup edges (id_a, id_b, hamming):
    * [[simhashPairs]]' semantics through the modality-independent
    * [[SigPairs.hammingStarEdges]] kernel — the signature is already
    * a skinny 64-bit long, which is exactly the kernel's input shape.
    * Output is O(docs + verified sig pairs); components match the
    * all-pairs form (kernel contract, spec'd). Same usage rule as
    * [[minhashStarEdges]]: [[simhashPairs]] stays the flat-corpus
    * default (the r6 A/B measured the kernel's extra stages 3-8×
    * slower when no clump is present — SCALING.md); this form is for
    * corpora with near-exact clumps exact byte dedup can't collapse.
    */
  def simhashStarEdges(docs: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 3): DataFrame =
    SigPairs.hammingStarEdges(
      simhashSignatures(docs, idCol, textCol).persist(), maxHamming)

  /** Exact n-gram Jaccard verification over candidate pairs:
    * |A ∩ B| / |A ∪ B| on distinct shingle sets. `candidates` must
    * have (id_a, id_b); shingle sets are joined in (two broadcast-or-
    * shuffle hash joins on the doc id — candidates are the small side
    * after LSH).
    */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame,
                    idCol: String, textCol: String,
                    shingleSize: Int = 3): DataFrame = {
    GraftExtensions.ensureRegistered(docs.sparkSession)
    // cache the shingle sets: they are joined twice (id_a and id_b
    // sides) and the shingle computation is the expensive part —
    // without the cache both joins recompute the full text pass
    // MEMORY_AND_DISK with LRU eviction: the sets frame is one array
    // column per doc — bounded, and evicted under pressure. An eager
    // unpersist here would fire at plan-BUILD time (the result is
    // lazy) and defeat the cache.
    val sets = spread(nonEmptyText(docs, textCol)).select(col(idCol).as("id"),
      T.shingles(col(textCol), shingleSize).as("sh")).persist()
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("jaccard"))
  }

  /** Directional CONTAINMENT scoring over candidate pairs — the
    * partial-copy detector Jaccard structurally misses: an excerpt
    * wholly inside a 4x-longer source scores containment 1.0 but
    * Jaccard ~0.25, below every dedup threshold. C(A in B) =
    * |sh_A ∩ sh_B| / |sh_A|; both directions emitted alongside the
    * symmetric Jaccard so a consumer thresholds either. Same plan
    * shape as [[jaccardVerify]] (shared shingle-set cache, two
    * id-keyed joins against the candidate list — candidates only,
    * never all pairs).
    */
  def containmentVerify(docs: DataFrame, candidates: DataFrame,
                        idCol: String, textCol: String,
                        shingleSize: Int = 3): DataFrame = {
    GraftExtensions.ensureRegistered(docs.sparkSession)
    // zero-shingle docs are EXCLUDED (their candidate pairs emit no
    // row), mirroring nonEmptyText's empty-text rule: containment
    // divides by |sh_a| / |sh_b|, and a 0-sized set would otherwise
    // yield silent null scores under non-ANSI division (r9 advice).
    // The shingle kernel returns >= 1 shingle for any non-empty text,
    // so the filter only fires on degenerate inputs.
    val sets = spread(nonEmptyText(docs, textCol)).select(col(idCol).as("id"),
      T.shingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0).persist()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (inter / size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("jaccard"),
        (inter / size(col("sh_a")).cast("double")).as("containment_a"),
        (inter / size(col("sh_b")).cast("double")).as("containment_b"))
  }

  /** Candidate pairs for PARTIAL-copy detection via a df-capped
    * inverted shingle index — the candidate source MinHash banding
    * structurally cannot be for containment: an excerpt wholly inside
    * a 4x-longer source has jaccard (and est_jaccard) ~0.25, far
    * under any banding threshold, yet containment 1.0. Pairs sharing
    * >= `minShared` distinct shingles become candidates for
    * [[containmentVerify]] / [[jaccardVerify]].
    *
    * Scale shape: one explode to distinct (doc, shingle) postings,
    * one hash-partitioned groupBy(shingle) that DROPS shingles with
    * df > `maxDf` (boilerplate/stop shingles — exactly the postings
    * whose self-join would explode; a true partial copy shares many
    * RARE shingles with its source, so the cap costs recall only for
    * pairs that jaccard-style dedup already catches), then the
    * per-shingle self-join over capped postings: pair work is
    * Σ_shingle df² with df <= maxDf, i.e. linear in corpus size times
    * a constant — never all-pairs. The `minShared` count filter runs
    * map-side-combined on skinny (id_a, id_b) rows.
    */
  def sharedShingleCandidates(docs: DataFrame, idCol: String, textCol: String,
                              shingleSize: Int = 3, minShared: Int = 5,
                              maxDf: Long = 50): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2 (df 1 shingles pair nothing): $maxDf")
    GraftExtensions.ensureRegistered(docs.sparkSession)
    // r16 (guide §2.4): df is a COUNT WINDOW over the same `sh` key
    // the self-join below needs — the window's one exchange
    // establishes the partitioning, the df-cap filters in place, and
    // the self-join reuses that exchange on both sides (identical
    // subtrees -> ReusedExchange), so the postings cross the wire
    // ONCE where the old groupBy-df + prune-join plan moved them
    // twice (and needed a persist to stop the shingle pipeline
    // running three times — now the shared exchange is the single
    // materialization). Never collect_list: a stop shingle's postings
    // do land in one window task, but that is the same single-`sh`
    // partition the old prune JOIN already shuffled them into — the
    // window sorts and counts the group (spillable), it does not
    // materialize a posting list on the heap.
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    val pruned = spread(nonEmptyText(docs, textCol))
      .select(col(idCol).as("id"),
        explode(T.shingles(col(textCol), shingleSize)).as("sh"))
      .withColumn("__df", count(lit(1)).over(wSh))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .drop("__df")
    pruned.select(col("sh"), col("id").as("id_a"))
      .join(pruned.select(col("sh"), col("id").as("id_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id_a"), col("id_b"))
  }

  /** Resolve pairwise near-dup output into duplicate GROUPS:
    * connected components over the pair graph via the
    * large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"). Returns (id, label) for
    * every node that appears in a pair; the label is the component's
    * minimum id, i.e. the canonical survivor a keep-lowest-id dedup
    * would retain.
    *
    * The edge set is kept oriented large→small. Per round:
    *  - large-star: every node u computes m = min(N(u) ∪ {u}) (one
    *    partial-aggregating groupBy — skew-safe even for a star
    *    center) and re-points its strictly-larger neighbors at m;
    *  - small-star: every node re-points its smaller neighbors (and
    *    itself) at the minimum of its smaller neighborhood.
    * Both preserve connectivity; the fixpoint is a star forest whose
    * centers are the component minima, reached in O(log²) rounds even
    * for deep chains and giant components — no per-node label chase,
    * so no late-round reducer hotspot on the component minima beyond
    * the star joins themselves (hot u keys there are split by AQE's
    * skew-join handling).
    *
    * One Spark job per round: each round's edge set carries a `chg`
    * flag (true iff the emitting transform actually moved the edge),
    * is lazily `localCheckpoint`ed, and the single
    * `filter(chg).count()` action both materializes the checkpoint
    * (truncating the plan — round-over-round lineage nesting
    * otherwise blows the driver heap, measured in round 1) and
    * returns the convergence signal. Zero chg rows ⟺ neither star
    * changed an edge ⟺ star-forest fixpoint. Superseded round
    * checkpoints are freed by the ContextCleaner once the driver
    * drops the reference; each is O(|E|) ids.
    *
    * `checkpointDir` selects the truncation policy (see
    * [[IterCheckpoint]]): None (default) = localCheckpoint — fastest,
    * but the blocks die with their executor, so a 15-round run on a
    * cluster with executor loss or dynamic allocation fails
    * unrecoverably mid-iteration; Some(dir) = reliable checkpoint —
    * each round lands on shared storage and an executor killed
    * mid-loop costs one stage retry, not the run (ClusterFaultSpec
    * kills a real executor JVM between rounds under local-cluster and
    * asserts identical convergence). The caller owns `dir` cleanup.
    * `checkpointInterval` (reliable mode's amortization knob, the
    * MLlib PeriodicRDDCheckpointer discipline) checkpoints every k-th
    * round and persists the rounds between un-truncated: lineage
    * depth stays <= k (bounded plan size), recovery replays at most
    * k-1 rounds from the last files, and the per-round file-write tax
    * — the dominant reliable-mode cost, priced in SCALING.md — is
    * paid once per k rounds.
    *
    * The graph is union-found on the driver ([[componentsLocal]]: one
    * job instead of ~10 per-round jobs, ~90 MB of driver state at the
    * default) when its ids are long and its normalized edge set has at
    * most `localEdgeThreshold` rows, and runs the distributed star
    * loop otherwise — identical labels either way (spec-pinned).
    */
  def components(pairs: DataFrame, maxIter: Int = 20,
                 checkpointDir: Option[String] = None,
                 checkpointInterval: Int = 1,
                 localEdgeThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val ck = new IterCheckpoint(spark, checkpointDir, checkpointInterval)
    val initCk = ck(normalizedInit(pairs))
    val longIds = initCk.schema("u").dataType ==
      org.apache.spark.sql.types.LongType
    // the ONE materializing action either way: the count truncates
    // the checkpoint exactly like the loop's first round would
    val nEdges = initCk.count()
    ck.roundDone()
    if (longIds && nEdges <= localEdgeThreshold) componentsLocal(initCk)
    else starLoop(initCk, ck, maxIter, _ => ())._1
  }

  /** The loop/local-shared edge normalization: one scan of the
    * (possibly expensive) pairs input — orient large→small, drop
    * null-only pairs, dedup. Self-pairs ride along so label
    * extraction can recover self-paired-only nodes without re-running
    * the pair pipeline.
    */
  private def normalizedInit(pairs: DataFrame): DataFrame =
    pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .withColumn("chg", lit(true))

  /** Driver union-find over a materialized edge checkpoint: weighted
    * quick-union with path compression, then per-root minimum so the
    * output contract (label = component minimum id) matches the star
    * loop exactly. Bounded by the caller ([[components]]' auto
    * threshold): <= 2 * localEdgeThreshold node slots — the same
    * driver-memory class as the k-means sample cap in Ann. Returns a
    * LocalRelation-backed frame: accurate row stats for downstream
    * broadcast decisions, zero jobs to build.
    */
  private def componentsLocal(initCk: DataFrame): DataFrame = {
    val spark = initCk.sparkSession
    // primitive tuples, not Rows: Tuple2 is @specialized on Long, so
    // the collected edge array is ~40 B/edge (object header + two
    // primitive longs + array slot) — ~40 MB at the 1e6-edge default
    // threshold — where GenericRow boxing was ~10x that
    val rows = initCk.select(col("u"), col("v"))
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect()
    // LongMap, not java.util.HashMap[Long, Int]: the latter's get
    // unboxes a missing key's null to 0 silently in Scala
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val ids = new scala.collection.mutable.ArrayBuffer[Long](rows.length * 2)
    val parent = new scala.collection.mutable.ArrayBuffer[Int](rows.length * 2)
    val rank = new scala.collection.mutable.ArrayBuffer[Byte](rows.length * 2)
    def node(id: Long): Int = idx.getOrElseUpdate(id, {
      val i = ids.length
      ids += id; parent += i; rank += 0
      i
    })
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    var r = 0
    while (r < rows.length) {
      val row = rows(r)
      val a = find(node(row._1))
      val b = find(node(row._2))
      if (a != b) {
        if (rank(a) < rank(b)) parent(a) = b
        else if (rank(b) < rank(a)) parent(b) = a
        else { parent(b) = a; rank(a) = (rank(a) + 1).toByte }
      }
      r += 1
    }
    val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
    var i = 0
    while (i < ids.length) {
      val root = find(i).toLong
      if (ids(i) < minOfRoot.getOrElse(root, Long.MaxValue))
        minOfRoot(root) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](ids.length)
    i = 0
    while (i < ids.length) {
      out(i) = (ids(i), minOfRoot(find(i).toLong))
      i += 1
    }
    import spark.implicits._
    // representation is size-dependent: a LocalRelation gives accurate
    // stats (downstream broadcast gates keep firing) but is EMBEDDED
    // in every consuming logical plan — fine at broadcast-dim size,
    // a per-query analysis/serialization tax at millions of rows. Past
    // the cap the labels ship once as a parallelized RDD instead; its
    // default (huge) stats make resolve's gate fall back to a shuffle
    // join, which is the right call for a label table that big anyway.
    if (out.length <= localRelationMaxLabelRows) out.toSeq.toDF("id", "label")
    else spark.sparkContext
      .parallelize(scala.collection.immutable.ArraySeq.unsafeWrapArray(out),
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          out.length / 65536 + 1)))
      .toDF("id", "label")
  }

  /** Label-table rows above which [[componentsLocal]] stops returning
    * a plan-embedded LocalRelation: ~200k (id, label) rows is the same
    * ~10 MB class as a broadcastable dimension — small enough to embed
    * and serialize with every consuming plan, big enough that the
    * driver path's win still covers most gate-scale graphs.
    */
  private val localRelationMaxLabelRows = 200000

  /** [[components]] plus the number of rounds it took — exposed for
    * specs asserting the O(log) convergence behavior. `onRound` fires
    * after each round's action (the fault spec injects its executor
    * kill there — deterministic mid-iteration timing).
    */
  private[graft] def componentsWithRounds(pairs: DataFrame, maxIter: Int = 20,
      checkpointDir: Option[String] = None,
      onRound: Int => Unit = _ => (),
      checkpointInterval: Int = 1): (DataFrame, Int) = {
    val ck = new IterCheckpoint(pairs.sparkSession, checkpointDir,
      checkpointInterval)
    // greatest/least skip nulls, so a half-null pair degrades to a
    // self-pair of its non-null side; fully-null pairs are dropped
    // (see normalizedInit).
    starLoop(ck(normalizedInit(pairs)), ck, maxIter, onRound)
  }

  /** The large-star/small-star alternation over a checkpointed
    * normalized edge frame — shared by [[componentsWithRounds]] and
    * [[components]] (which checkpoints + counts the init
    * before deciding, so the loop never re-runs the pair pipeline).
    */
  private def starLoop(initCk: DataFrame, ck: IterCheckpoint,
      maxIter: Int, onRound: Int => Unit): (DataFrame, Int) = {
    var edges = initCk.filter(col("u") =!= col("v"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: m(u) = min over the full neighborhood; neighbors
      // v > u re-point to m. Edge (u,v) is emitted exactly once (from
      // its smaller endpoint's perspective), so the edge count never
      // grows. chg records whether the edge actually moved (m != u).
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lMin = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // NOT deduped here: two different u can emit the same (v, m),
      // but duplicates are harmless to the min/max aggregates below
      // and the round-final groupBy collapses them — skipping the
      // dedup saves a whole shuffle per round
      val large = sym.filter(col("v") > col("u"))
        .join(lMin, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"),
          (col("m") =!= col("u")).as("chg"))
      // small-star: m = min of u's smaller neighborhood; non-min
      // smaller neighbors re-point to m (each such emission IS a
      // change), u itself keeps (u, m). max(chg) on the self row
      // carries the large-star phase's flags through to the count.
      val sMin = large.groupBy(col("u"))
        .agg(min(col("v")).as("m"), max(col("chg")).as("chg_l"))
      val rewrites = large.join(sMin.select(col("u"), col("m")), Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u2"), col("m").as("v2"), lit(true).as("chg"))
      val self = sMin.select(col("u").as("u2"), col("m").as("v2"),
        col("chg_l").as("chg"))
      val next = ck(rewrites.union(self)
        .groupBy(col("u2"), col("v2")).agg(max(col("chg")).as("chg"))
        .select(col("u2").as("u"), col("v2").as("v"), col("chg")))
      // the ONE action per round: materializes the checkpoint and
      // reads the convergence signal off the same job
      val changed = next.filter(col("chg")).count()
      ck.roundDone()
      edges = next
      converged = changed == 0
      i += 1
      onRound(i)
    }
    if (!converged) throw new IllegalStateException(
      s"components did not converge within $maxIter rounds — the " +
        "large-star/small-star alternation converges in O(log²) rounds, " +
        "so this graph is astronomically deep or maxIter is tiny; raise it")
    // deterministic end-of-loop release: a run that ended between
    // marks (interval > 1) would otherwise leave its final cache to
    // the ContextCleaner's whim on a long-lived session
    edges = ck.seal(edges)
    // fixpoint is a star forest oriented member→minimum: members are
    // the u side, each component minimum appears only as v
    val starLabels = edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")))
      .distinct()
    // the u =!= v iteration filter dropped nodes whose ONLY pairs are
    // self-pairs — the contract is a row for EVERY (non-null) node
    // that appears in a pair, and a self-paired node is its own
    // component minimum. Read off the materialized init checkpoint,
    // NOT the raw pairs input (that would re-run the pair pipeline).
    val selfOnly = initCk.filter(col("u") === col("v"))
      .select(col("u").as("id"))
      .join(starLabels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    (starLabels.union(selfOnly), i)
  }

  /** End-to-end duplicate-group resolution: annotate every doc with
    * its duplicate group and whether a keep-lowest-id dedup keeps it.
    * `pairs` is any near-dup pair frame (id_a, id_b) from the
    * generators above; docs in no pair are their own group and
    * trivially survive. Returns docs plus (group_label, is_survivor)
    * — filter on is_survivor for the deduped corpus, or on
    * !is_survivor for the drop list feeding the failure log.
    *
    * The survivor is the lowest id PRESENT IN `docs` — anchoring it
    * to the component minimum alone would leave a group with no
    * survivor at all whenever its minimum doc was already filtered
    * out of `docs` (deleted upstream, or pairs computed on a
    * superset), silently dropping every member from a
    * filter-on-is_survivor corpus.
    *
    * Scale: [[components]] labels only the PAIRED nodes (bounded by
    * the dup rate, far smaller than the corpus); the present-member
    * minimum is a groupBy over that same bounded subset. The corpus
    * pays two joins against small, AQE-broadcastable sides.
    */
  def resolve(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val labels = components(pairs)
      .select(col("id").as(idCol), col("label").as("group_label"))
    // gate BOTH joins on the LABELS frame (r11 review): labels is
    // pairs-bounded (one row per paired node — the dup rate, not the
    // corpus) and its stats are ACCURATE (components returns off a
    // localCheckpoint), so the gate holds exactly where it matters:
    // a 100 TB corpus with a modest dup set still broadcasts, and
    // the corpus pays ZERO exchanges in either join (the R11Probe3
    // leftover-shuffle finding — a pre-AQE SMJ plan parks a
    // million-member dup group in one task even after AQE converts
    // to broadcast). presentMin is a projection of labels' groups,
    // so one decision covers both sides. Above the ceiling: plain
    // joins, AQE skew split past the threshold.
    val bcast = TextFilters.useMinedBroadcast(labels, factor = 4)
    def hinted(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    val paired = docs.join(hinted(labels), Seq(idCol))
    val presentMin = paired.groupBy(col("group_label"))
      .agg(min(col(idCol)).as("__gmin"))
    val pairedFlagged = paired.join(hinted(presentMin), Seq("group_label"))
      .withColumn("is_survivor", col(idCol) === col("__gmin"))
      .drop("__gmin")
      // restore the caller's column order (docs cols, then the
      // annotations) — the group_label join key moved it to the front
      .select(docs.columns.map(col).toIndexedSeq :+
        col("group_label") :+ col("is_survivor"): _*)
    val singletons = docs.join(hinted(labels), Seq(idCol), "left_anti")
      .withColumn("group_label", col(idCol))
      .withColumn("is_survivor", lit(true))
    pairedFlagged.unionByName(singletons)
  }

  /** Scale-safe embedding near-dup pairs: banded SRP-LSH candidates +
    * exact cosine verify — the 100 TB shape ([[minhashPairs]] →
    * [[jaccardVerify]] for vectors). No driver collect anywhere:
    * bucket ids are computed row-local by the codegen'd
    * [[graft.plans.SrpBuckets]] expression, candidates come from ONE
    * shuffle on (table, bucket), and the verify joins vectors back by
    * id (candidate side is small after LSH).
    *
    * Recall tuning: a pair at cosine c collides in one table with
    * probability p^planes, p = 1 - acos(c)/π; `tables` is derived so a
    * pair AT the threshold is caught with >= targetRecall (capped at
    * 64 — a threshold too low for that cap fails fast rather than
    * silently under-recalling). Higher-cosine pairs — the ones a
    * dedup actually drops — are caught with higher probability.
    * `planes` is the selectivity knob: at larger corpus sizes raise it
    * (buckets per table ~ 2^planes) and let the table count follow.
    * Output is a subset of [[embeddingPairs]] (verify is exact), so
    * precision is 1.0 by construction.
    *
    * Persists the id+vector base frame (sizing count, bucketing, both
    * verify sides) and leaves it to LRU/`spark.catalog.clearCache()` —
    * see the object scaladoc for the lifecycle rationale.
    */
  def embeddingPairsLsh(embs: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double, targetRecall: Double = 0.98,
                        planes: Int = 0): DataFrame = {
    require(minCosine > -1.0 && minCosine < 1.0, "minCosine must be in (-1, 1)")
    val spark = embs.sparkSession
    GraftExtensions.ensureRegistered(spark)
    val p = 1.0 - math.acos(minCosine) / math.Pi
    val maxTables = 64
    val base = spread(embs.filter(col(vecCol).isNotNull))
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      // consumed by the sizing count, the bucketing, and both verify
      // sides; same persist rationale as jaccardVerify's shingle sets
      .persist()
    def tablesFor(b: Int): Int =
      math.ceil(math.log1p(-targetRecall) / math.log1p(-math.pow(p, b))).toInt
    // Auto-tuning can conclude that banding CANNOT win: when the
    // expected candidate volume approaches all-pairs (the ρ→1 regime
    // of low thresholds), LSH does the same pair work as the exact
    // block join PLUS per-table bucketing, a candidate shuffle and a
    // distinct — strictly worse. The planner then delegates to
    // [[embeddingPairs]], which also upgrades recall to 1.0 (output
    // remains a superset of what banding would have found, with the
    // same exact-cosine threshold). Explicit `planes` skips both the
    // tuning and the fallback — the caller insisted.
    val nPlanes =
      if (planes > 0) planes
      else {
        // Pick the plane count minimizing estimated work over the
        // feasible range. Feasibility: more AND-bits need more
        // OR-tables for the recall target; tables <= maxTables ⟺
        // p^planes >= 1 - (1-R)^(1/maxTables). Cost model per table:
        // expected candidate pairs (n²/2^planes uniform buckets) plus
        // ~8 row-ops of explode/shuffle/distinct overhead per row —
        // more planes prune candidates but multiply the table count
        // as ~(1/p)^planes, so neither extreme wins universally. At
        // low thresholds (the ρ → 1 regime) every choice approaches
        // all-pairs — inherent to LSH, not to this tuning; real dedup
        // thresholds (0.9+) land on 10-16 selective planes. The count
        // runs on the persisted base, so the pass is reused by the
        // bucketing/verify consumers rather than re-scanning upstream.
        val n = base.count().toDouble
        val byFeasibility = math.max(4, math.floor(
          math.log(1.0 - math.pow(1.0 - targetRecall, 1.0 / maxTables)) /
            math.log(p)).toInt)
        def cost(b: Int): Double =
          tablesFor(b) * (n * n / math.pow(2.0, math.min(b, 40)) / 2.0 + 8.0 * n)
        (4 to byFeasibility).minBy(cost)
      }
    val tables = tablesFor(nPlanes)
    require(tables >= 1 && tables <= maxTables,
      s"recall $targetRecall at cosine $minCosine needs $tables tables " +
        s"with $nPlanes planes; lower `planes` or the recall target")
    if (planes == 0 &&
        tables.toDouble / math.pow(2.0, math.min(nPlanes, 40)) >= 0.5) {
      // candidate volume >= half of all-pairs: banding cannot beat
      // the exact block join (see the planner note above) — delegate
      base.unpersist()
      return embeddingPairs(embs, idCol, vecCol, minCosine)
    }
    val bucketed = base.select(col("id"),
      posexplode(expr(s"graft_srp_buckets(vec, $nPlanes, $tables)"))
        .as(Seq("t", "bucket")))
    val a = bucketed.select(col("t"), col("bucket"), col("id").as("id_a"))
    val b = bucketed.select(col("t"), col("bucket"), col("id").as("id_b"))
    val cands = a.join(b, Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      // dedup pairs BEFORE fetching vectors: the distinct shuffles two
      // longs per row, not two embeddings
      .select(col("id_a"), col("id_b"))
      .distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("vec").as("v_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("graft_cosine(v_a, v_b)"), 6).as("cos"))
      .filter(!isnan(col("cos")) && col("cos") >= minCosine)
  }

  /** Exact embedding-cosine near-dup pairs (threshold on the ROUNDED
    * similarity so engine FP noise can't flip membership), as a
    * block-partitioned pair KERNEL — fully distributed, no driver
    * collect (an earlier version broadcast every embedding from the
    * driver: correct, but single-node-bounded).
    *
    * Shape: ids hash into `blocks` buckets; each row replicates to
    * its B(B+1)/2-combo memberships (side A for combos at or above
    * its block, side B below — every unordered pair meets in exactly
    * one combo), ONE shuffle pins one partition per combo, and a
    * per-partition primitive-float loop scores the ~(n/B)² pairs of
    * each combo. The kernel is one of the codebase's two sanctioned
    * pair kernels (the other: [[Ann.knnJoin]]'s per-partition top-k):
    * a pair JOIN must materialize every candidate as
    * an unsafe row (copying both 64-float vectors per pair) before
    * the cosine filter can drop it, which at sf1 is 4×10⁸ row
    * materializations for 182 k survivors — the loop keeps the
    * vectors in primitive arrays, precomputes each row's norm once
    * (bitwise-identical accumulation order to
    * [[graft.plans.CosineSimilarity]]), and emits only matches.
    * Measured 19.9 s → ~2 s at sf1 over the join formulation.
    * For web-scale dedup prefer [[embeddingPairsLsh]], which prunes
    * candidates before paying any pairing cost at all.
    */
  def embeddingPairs(embs: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double, blocks: Int = 0): DataFrame = {
    val spark = embs.sparkSession
    GraftExtensions.ensureRegistered(spark)
    val base = embs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val b =
      if (blocks > 0) blocks
      else {
        // enough combos to feed every core SEVERAL times over — at
        // B(B+1)/2 ≈ cores the last wave is mostly idle stragglers
        // (36 combos on 32 cores = 4 tasks running alone in wave 2);
        // ~8 combos per core quantizes the pair work finely enough
        // that the waves stay full. Blocks also stay small enough
        // that one combo's (n/B)² pair loop is a reasonable task.
        val n = base.count()
        val byCores = math.ceil(math.sqrt(16.0 * spark.sparkContext.defaultParallelism))
        math.max(byCores, math.ceil(n / 65536.0)).toInt
      }
    // The explicit repartition pins one partition per combo: the
    // shuffle INPUT is tiny (one id + vector per copy) so AQE's
    // size-based coalescing would fuse the combos into one or two
    // tasks — but the kernel's work is (n/B)² per combo, invisible to
    // AQE's shuffle-byte stats. A user-specified partition count is
    // exempt from coalescing.
    val copies = comboCopies(base.select(lit(0).as("grp"), col("id"), col("vec"),
        pmod(xxhash64(col("id")), lit(b)).cast("int").as("g"), lit(b).as("nsub")))
      .repartition(b * (b + 1) / 2, col("ba"), col("bb"))
    comboPairs(copies, minCosine).drop("grp")
  }

  /** Row-local combo membership for [[comboPairs]], from builtin array
    * functions (codegen'd, no join): a row in block `g` of its group's
    * `nsub` blocks is side A of combos (g, g..nsub-1) and side B of
    * combos (0..g-1, g), so every unordered same-group pair meets in
    * exactly one combo. Input (grp, id, vec, g, nsub); output
    * (grp, ba, bb, is_a, id, vec).
    */
  private[operators] def comboCopies(rows: DataFrame): DataFrame =
    rows.select(col("grp"), explode(expr(
        """concat(
          |  transform(sequence(g, nsub - 1),
          |    j -> named_struct('ba', g, 'bb', j, 'is_a', true)),
          |  filter(transform(sequence(0, g),
          |    i -> named_struct('ba', i, 'bb', g, 'is_a', false)),
          |    s -> s.ba < g)
          |)""".stripMargin)).as("c"), col("id"), col("vec"))
      .select(col("grp"), col("c.ba"), col("c.bb"), col("c.is_a"),
        col("id"), col("vec"))

  /** The exact pair kernel behind [[embeddingPairs]] and
    * [[SemDedup.intraClusterPairs]]: each partition of `copies`
    * ([[comboCopies]] rows, already shuffled so a combo's copies share
    * a partition) groups its rows by (grp, ba, bb) and scores every
    * pair of the combo with a primitive-float loop, emitting only
    * pairs whose ROUNDED cosine is at least `minCosine`. Output
    * (id_a, id_b, cos, grp) with id_a < id_b.
    */
  private[operators] def comboPairs(copies: DataFrame, minCosine: Double): DataFrame = {
    val spark = copies.sparkSession
    import spark.implicits._
    val guard = minCosine - 1e-6 // round(·,6) moves a value < 5e-7
    copies.as[(Int, Int, Int, Boolean, Long, Array[Float])].mapPartitions { rows =>
      import scala.collection.mutable
      final class Side {
        val ids = mutable.ArrayBuffer.empty[Long]
        val vecs = mutable.ArrayBuffer.empty[Array[Float]]
      }
      // a partition usually holds one combo, but hash collisions can
      // put several (and leave others empty) — group locally
      val combos = mutable.LinkedHashMap.empty[(Int, Int, Int), (Side, Side)]
      rows.foreach { case (grp, ba, bb, isA, id, vec) =>
        val c = combos.getOrElseUpdate((grp, ba, bb), (new Side, new Side))
        val s = if (isA) c._1 else c._2
        s.ids += id
        s.vecs += vec
      }
      val out = mutable.ArrayBuffer.empty[(Long, Long, Double, Int)]
      combos.foreach { case ((grp, ba, bb), (sa, sb)) =>
        def score(idA: Long, xa: Array[Float], na: Double,
                  idB: Long, xb: Array[Float], nb: Double): Unit = {
          // duplicate-id rows meet in their diagonal combo at distinct
          // buffer indices — the join formulation's id_a < id_b filter
          // excluded such self-pairs, so the kernel must too
          if (idA != idB) {
            val c = pairCos(xa, na, xb, nb)
            if (!c.isNaN && c >= guard) {
              val r = round6(c)
              if (!r.isNaN && r >= minCosine)
                out += ((math.min(idA, idB), math.max(idA, idB), r, grp))
            }
          }
        }
        val aIds = sa.ids; val aVecs = sa.vecs
        val aNorms = Array.tabulate(aVecs.length)(i => sqNorm(aVecs(i)))
        if (ba == bb) {
          // both endpoints arrive as side A; i < j covers each
          // unordered pair once
          var i = 0
          while (i < aVecs.length) {
            var j = i + 1
            while (j < aVecs.length) {
              score(aIds(i), aVecs(i), aNorms(i), aIds(j), aVecs(j), aNorms(j))
              j += 1
            }
            i += 1
          }
        } else {
          val bIds = sb.ids; val bVecs = sb.vecs
          val bNorms = Array.tabulate(bVecs.length)(i => sqNorm(bVecs(i)))
          var i = 0
          while (i < aVecs.length) {
            var j = 0
            while (j < bVecs.length) {
              score(aIds(i), aVecs(i), aNorms(i), bIds(j), bVecs(j), bNorms(j))
              j += 1
            }
            i += 1
          }
        }
      }
      out.iterator
    }.toDF("id_a", "id_b", "cos", "grp")
  }

  // The pair kernels' arithmetic is graft_cosine's (widen to double,
  // sequential accumulation, dot / sqrt(na * nb)); splitting the
  // interleaved loop into per-vector norm + per-pair dot keeps each
  // accumulator's addition ORDER unchanged, so results are bitwise
  // identical — required for the DuckDB hash oracle.

  /** Squared L2 norm, accumulated in graft_cosine's order. */
  private[operators] def sqNorm(v: Array[Float]): Double = {
    var na = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; na += x * x; i += 1 }
    na
  }

  /** graft_cosine of a pair whose squared norms `na`, `nb` are
    * precomputed. graft_cosine truncates to the shorter array, making
    * a full-length norm wrong for ragged pairs — those fall back to the
    * interleaved per-pair loop (never taken for fixed-dim corpora).
    */
  private[operators] def pairCos(xa: Array[Float], na: Double,
                                 xb: Array[Float], nb: Double): Double = {
    val n = math.min(xa.length, xb.length)
    var dot = 0.0; var i = 0
    if (xa.length == xb.length) {
      while (i < n) { dot += xa(i).toDouble * xb(i).toDouble; i += 1 }
      dot / math.sqrt(na * nb)
    } else {
      var na2 = 0.0; var nb2 = 0.0
      while (i < n) {
        val x = xa(i).toDouble; val y = xb(i).toDouble
        dot += x * y; na2 += x * x; nb2 += y * y; i += 1
      }
      dot / math.sqrt(na2 * nb2)
    }
  }

  /** Spark's round(double, 6): NaN/Inf pass through, else HALF_UP —
    * replicated so a kernel emits the value the SQL formulation would.
    * Only matches pay the BigDecimal.
    */
  private[operators] def round6(d: Double): Double =
    if (d.isNaN || d.isInfinity) d
    else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
