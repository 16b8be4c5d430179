package graft

import graft.operators.NaiveBayes
import org.apache.spark.sql.functions._

class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._

  // hi seed leans on "excellent prose", lo on "spam junk"; "shared"
  // appears in both classes, "rare" only once (pruned at minCount=2)
  private val seed = Seq(
    (1L, "excellent prose shared excellent", 1),
    (2L, "excellent prose shared", 1),
    (3L, "spam junk shared spam", 0),
    (4L, "spam junk shared rare", 0)
  ).toDF("doc_id", "text", "label")

  private def model = NaiveBayes.train(seed, "label", "text", minCount = 2L)

  test("train: hi-leaning words score positive, lo-leaning negative, hapax pruned") {
    val m = model.collect().map(r =>
      r.getAs[String]("word") -> r.getAs[Long]("log_odds_e6")).toMap
    assert(m.contains("excellent") && m("excellent") > 0L, m)
    assert(m.contains("spam") && m("spam") < 0L, m)
    assert(!m.contains("rare"), s"minCount=2 must prune the hapax: $m")
    // "shared": c_hi=2 c_lo=2 -> symmetric counts, but the class
    // masses differ (N_hi=7, N_lo=8), so the smoothed odds tilt
    // toward the SMALLER class mass
    assert(m("shared") > 0L, m)
  }

  test("train: quantization matches the closed-form ln arithmetic") {
    val m = model.collect().map(r =>
      r.getAs[String]("word") -> r.getAs[Long]("log_odds_e6")).toMap
    // full seed vocab = {excellent, prose, shared, spam, junk, rare}
    val (nHi, nLo, v) = (7.0, 8.0, 6.0)
    def e6(cHi: Long, cLo: Long): Long =
      math.floor((math.log((cHi + 1.0) / (nHi + v)) -
        math.log((cLo + 1.0) / (nLo + v))) * 1e6 + 0.5).toLong
    assert(m("excellent") == e6(3, 0), m)
    assert(m("spam") == e6(0, 3), m)
    assert(m("shared") == e6(2, 2), m)
  }

  test("score: hi doc > 0, lo doc < 0, unknown-only doc absent") {
    val docs = Seq(
      (10L, "excellent excellent prose"),
      (11L, "spam junk junk"),
      (12L, "completely unknown words"),
      (13L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = NaiveBayes.score(docs, "doc_id", "text", model, seed)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score_e6"), r.getAs[Long]("n_matched"))).toMap
    assert(out(10L)._1 > 0L && out(10L)._2 == 3L, out)
    assert(out(11L)._1 < 0L && out(11L)._2 == 3L, out)
    assert(!out.contains(12L) && !out.contains(13L),
      s"unknown-only and null docs must not score: $out")
  }

  test("score: broadcast and shuffle strategies are row-identical") {
    val docs = Seq(
      (10L, "excellent prose shared"),
      (11L, "spam shared")
    ).toDF("doc_id", "text")
    // the gate reads the SEED frame's size: under the default ceiling
    // it broadcasts, above a 1-byte threshold it shuffle-joins; the
    // model is a local copy so the only hint left is the gate's own
    val above = thresholdSession(1L)
    def scored(s: org.apache.spark.sql.SparkSession) =
      NaiveBayes.score(localCopy(s, docs), "doc_id", "text",
        localCopy(s, model), localCopy(s, seed))
    val b = scored(spark)
    val sh = scored(above)
    assert(hasBroadcastHint(b) && !hasBroadcastHint(sh),
      "the two runs must take different sides of the ceiling")
    assert(b.orderBy("doc_id").collect().toSeq ==
      sh.orderBy("doc_id").collect().toSeq)
    val bPlan = b.queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)
  }

  test("scores are integer sums of model units (order-independent by construction)") {
    val m = model.collect().map(r =>
      r.getAs[String]("word") -> r.getAs[Long]("log_odds_e6")).toMap
    val docs = Seq((10L, "excellent spam shared prose")).toDF("doc_id", "text")
    val s = NaiveBayes.score(docs, "doc_id", "text", model, seed)
      .collect().head.getAs[Long]("score_e6")
    assert(s == m("excellent") + m("spam") + m("shared") + m("prose"))
  }
}
