package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seed-trained NAIVE-BAYES quality classifier — the count-based
  * analogue of the linear quality classifiers real training-data
  * pipelines run over a crawl (train on a curated-vs-crawl seed,
  * score every document, keep/weight by the score). The reference has
  * no model surface at all (its quality gates are static column
  * checks, enhanced_tasks.py:94); this extends the engine toward the
  * LLM-pipeline north star with a classifier whose TRAINING and
  * SCORING are both single-pass distributed aggregations — no
  * driver-side learning loop, no iterative optimizer, and every
  * arithmetic step replicable in ANSI SQL so the whole
  * train-then-score composition hash-verifies against DuckDB.
  *
  * Model: per-word Laplace-smoothed log-odds
  * `ln((c_hi+1)/(N_hi+V)) - ln((c_lo+1)/(N_lo+V))`, quantized to
  * integer micro-units (e6). A document's score is the SUM of its
  * matched words' quantized log-odds — integer addition, so the
  * distributed sum is order-independent and bit-identical across
  * engines (the per-word quantization is where float math ends).
  * Residual float-boundary risk (r11 advice, accepted): the e6
  * quantization `floor(ln(...)*1e6 + 0.5)` assumes Java's Math.log
  * and the oracle engine's ln agree to the last ulp at every .5
  * boundary; a 1-ulp libm divergence landing exactly on a boundary
  * would flip one model unit (~2e-10 per vocab word) and fail the
  * bit-exact hash. Same accepted-risk class as the LSH delegation
  * argument — both engines use correctly-rounded-to-sub-ulp libm
  * log, the boundary set has measure ~0 over mined count ratios,
  * and the gate corpus is fixed, so a flip would be caught (not
  * silently wrong) by the hash gate itself.
  *
  * Scale shape:
  *  - training is one explode + one groupBy(word) with map-side
  *    partial aggregation; the totals row is a 1-row crossJoin;
  *  - the model is CORPUS-MINED, so (like the mined-shingle joins in
  *    [[TextFilters]]) its size is not bounded by contract — the
  *    scoring join goes through the same [[TextFilters.useMinedBroadcast]]
  *    size gate: broadcast while the seed corpus bounds the vocab
  *    under the ceiling, plain shuffle join beyond. `minCount` prunes
  *    the hapax tail, which is most of a web corpus's vocabulary;
  *  - scoring is one explode + the gated join + one groupBy(id) —
  *    the corpus is never shuffled except by that aggregation.
  */
object NaiveBayes {

  /** Train the quantized log-odds model from a labeled seed frame.
    *
    * @param seed     labeled documents; rows with null/blank text are
    *                 ignored
    * @param labelCol integer column: 1 = positive ("hi"), 0 = negative
    * @param minCount drop words with fewer than this many total seed
    *                 occurrences (smoothing totals still count them)
    * @return (word, log_odds_e6 long) — one row per kept vocab word
    */
  def train(seed: DataFrame, labelCol: String, textCol: String,
      minCount: Long): DataFrame = {
    val words = seed
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(labelCol).cast("int").as("label"),
        explode(TextFunctions.words(col(textCol))).as("word"))
    // persisted: consumed by the totals aggregation AND the model
    // projection — unpersisted, the seed explode + groupBy(word)
    // would run twice per execution (r10 review); left to LRU like
    // the other kernel caches
    val counts = words
      .groupBy(col("word"))
      .agg(sum(when(col("label") === 1, 1L).otherwise(0L)).as("c_hi"),
        sum(when(col("label") === 0, 1L).otherwise(0L)).as("c_lo"))
      .persist()
    // smoothing totals over the FULL vocab (pre-minCount): V and the
    // class word masses are properties of the seed, not of the kept
    // model rows — pruning the hapax tail must not change the
    // surviving words' scores
    val totals = counts.agg(
      sum(col("c_hi")).as("n_hi"), sum(col("c_lo")).as("n_lo"),
      count(lit(1)).as("v"))
    counts
      .filter(col("c_hi") + col("c_lo") >= minCount)
      .crossJoin(broadcast(totals))
      .select(col("word"),
        floor((log((col("c_hi") + lit(1.0)) / (col("n_hi") + col("v"))) -
          log((col("c_lo") + lit(1.0)) / (col("n_lo") + col("v"))))
          * 1000000.0 + 0.5).cast("long").as("log_odds_e6"))
  }

  /** Score documents against a trained model: one row per document
    * that matched >= 1 model word — (id, score_e6, n_matched). Words
    * absent from the model contribute nothing (the standard NB
    * unknown-word treatment); callers wanting every input row back
    * left-join this result and coalesce score_e6 to 0.
    *
    * The model broadcasts while the SEED frame, whose scan stats bound
    * the mined vocab, is within [[TextFilters.useMinedBroadcast]]'s
    * ceiling, and shuffle-joins above it. `carryCols` ride the
    * per-doc aggregation (they are functionally dependent on the id),
    * so a per-source summary never has to join the corpus-sized
    * score frame back to the corpus just to recover a grouping
    * column.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, seed: DataFrame,
      carryCols: Seq[String] = Nil): DataFrame = {
    val hinted =
      if (TextFilters.useMinedBroadcast(seed)) broadcast(model)
      else model
    docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select((col(idCol) +: carryCols.map(col)) :+
        explode(TextFunctions.words(col(textCol))).as("word"): _*)
      .join(hinted, Seq("word"))
      .groupBy(col(idCol) +: carryCols.map(col): _*)
      .agg(sum(col("log_odds_e6")).as("score_e6"),
        count(lit(1)).as("n_matched"))
  }
}
