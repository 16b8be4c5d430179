package graft

import graft.operators.TextFilters
import org.apache.spark.sql.functions._

class TextFiltersSpec extends SparkSpec {
  import spark.implicits._

  // 12-word base doc; clones share all its 5-grams
  private val evalDoc = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima"
  private val unrelated = "mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray"
  private val paraphrase = "totally new opening here " + evalDoc

  test("decontaminate removes exact members, clones and paraphrases; keeps unrelated") {
    val bench = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, evalDoc),      // exact leak
      (2L, paraphrase),   // prefix paraphrase leak
      (3L, unrelated),    // clean
      (4L, unrelated + " extra tail words appended here")
    ).toDF("doc_id", "text")
    val kept = TextFilters.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 4L), s"kept ${kept.toSeq}")
  }

  test("decontaminate corpus side is never shuffled by the joins (broadcast semi+anti)") {
    val bench = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val corpus = Seq((1L, evalDoc), (3L, unrelated)).toDF("doc_id", "text")
    val plan = TextFilters.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.toLowerCase.contains("sortmergejoin"), plan)
  }

  test("repetition stats: repeated-word doc fails, varied doc passes") {
    val repetitive = ("spam " * 10).trim + " one two three" // top word 10/13
    val varied = unrelated                                  // all distinct
    val docs = Seq((1L, repetitive), (2L, varied)).toDF("doc_id", "text")
    val out = TextFilters.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val rep = out(0)
    assert(rep.getAs[Long]("n_words") == 13L)
    assert(rep.getAs[Long]("top_word_n") == 10L)
    assert(rep.getAs[Long]("passes") == 0L)
    // dup bigrams: 12 total, distinct = {spam spam}x1 + spam one,
    // one two, two three = 4 distinct -> frac (12-4)/12
    assert(math.abs(rep.getAs[Double]("dup_2gram_frac") - 8.0 / 12.0) < 1e-3)
    val ok = out(1)
    assert(ok.getAs[Long]("passes") == 1L)
    assert(ok.getAs[Double]("dup_2gram_frac") == 0.0)
  }

  test("single-word doc: zero distinct bigrams, top fraction 1") {
    val docs = Seq((1L, "solo")).toDF("doc_id", "text")
    val r = TextFilters.repetitionStats(docs, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_words") == 1L)
    assert(r.getAs[Double]("top_word_frac") == 1.0)
    // denominator guard: greatest(n_words-1, 1) avoids 0-division
    assert(r.getAs[Double]("dup_2gram_frac") == 1.0)
  }

  test("boilerplate fraction isolates the shared shingle mass") {
    // one 3-gram ("common shared phrase") planted across 5 docs,
    // private tails keep the rest unique
    val docs = (1L to 5L).map(i =>
        (i, s"common shared phrase tail$i word$i extra$i more$i"))
      .toDF("doc_id", "text")
    val out = TextFilters
      .boilerplateFraction(docs, "doc_id", "text", n = 3, minDf = 5L)
      .orderBy("doc_id").collect()
    assert(out.length == 5)
    out.foreach { r =>
      // 5 shingles per doc (7 words), exactly 1 corpus-frequent
      assert(r.getAs[Long]("n_shingles") == 5L, r.toString)
      assert(r.getAs[Long]("n_frequent") == 1L, r.toString)
      assert(r.getAs[Double]("boilerplate_frac") == 0.2, r.toString)
    }
  }

  test("shingleDocFreq counts document frequency, not occurrence count") {
    // "dup dup dup dup" has one DISTINCT 2-gram; df must be 1 per doc
    val docs = Seq((1L, "dup dup dup dup"), (2L, "dup dup other")).toDF("doc_id", "text")
    val df = TextFilters.shingleDocFreq(docs, "text", n = 2, minDf = 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("dup dup") == 2L)
    assert(df("dup other") == 1L)
  }

  test("removeRepeatedSpans excises the planted cross-doc chunk, merges overlaps") {
    // a 4-word chunk repeated in 3 docs = two overlapping 3-shingles;
    // the covered-index union must remove all 4 words, not 3+3 with a
    // double-count or a gap
    val chunk = "licensed under creative commons"
    val docs = Seq(
      (1L, s"alpha beta $chunk gamma delta"),
      (2L, s"$chunk epsilon zeta eta theta"),
      (3L, s"iota kappa lambda $chunk"),
      (4L, "totally unique words here only once"),
      (5L, "hi there")) // < n words: untouched
      .toDF("doc_id", "text")
    val out = TextFilters.removeRepeatedSpans(docs, "doc_id", "text",
        n = 3, minDf = 3L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == (1L, 8L, 4L, "alpha beta gamma delta"), out(0).toString)
    assert(out(1) == (2L, 8L, 4L, "epsilon zeta eta theta"), out(1).toString)
    assert(out(2) == (3L, 7L, 4L, "iota kappa lambda"), out(2).toString)
    assert(out(3) == (4L, 6L, 0L, "totally unique words here only once"),
      out(3).toString)
    assert(out(4) == (5L, 2L, 0L, "hi there"), out(4).toString)
  }

  test("removeRepeatedSpans can empty a doc that is all boilerplate") {
    val docs = Seq(
      (1L, "click here to subscribe"),
      (2L, "click here to subscribe"),
      (3L, "real content click here to subscribe trailing words"))
      .toDF("doc_id", "text")
    val out = TextFilters.removeRepeatedSpans(docs, "doc_id", "text",
        n = 4, minDf = 3L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out(0) == (1L, 4L, ""), out(0).toString)
    assert(out(1) == (2L, 4L, ""), out(1).toString)
    assert(out(2) == (3L, 4L, "real content trailing words"), out(2).toString)
  }

  test("coverage extends through shared context; one pass is idempotent here") {
    // any shared word ADJACENT to a repeated chunk sits inside a
    // repeated shingle overlapping the chunk, so coverage extends
    // through the whole shared run — the reason a single pass
    // usually reaches the fixpoint (new-adjacency repeats need a
    // chunk bracketed by per-doc-unique words on both sides AND a
    // shared run beyond them, which excision then cannot splice into
    // a repeat; the scaladoc caveat covers the residual cases)
    val chunk = "one two three"
    val identical = Seq(
      (1L, s"alpha beta $chunk gamma"),
      (2L, s"alpha beta $chunk gamma"),
      (3L, s"alpha beta $chunk gamma"))
      .toDF("doc_id", "text")
    val t1 = TextFilters.removeRepeatedSpans(identical, "doc_id", "text",
        n = 3, minDf = 3L)
      .orderBy("doc_id").collect().map(_.getString(3)).toSeq
    assert(t1 == Seq("", "", ""), s"identical docs are all spans: $t1")
    // shared prefix+chunk+gamma, unique tails: the shared run is
    // covered end-to-end via overlapping repeated shingles, unique
    // tails survive
    val docs2 = Seq(
      (1L, s"alpha beta $chunk gamma u1 v1 w1"),
      (2L, s"alpha beta $chunk gamma u2 v2 w2"),
      (3L, s"alpha beta $chunk gamma u3 v3 w3"))
      .toDF("doc_id", "text")
    val p1 = TextFilters.removeRepeatedSpans(docs2, "doc_id", "text",
        n = 3, minDf = 3L)
      .select(col("doc_id"), col("text_clean").as("text"))
    val t2 = p1.orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(t2 == Seq("u1 v1 w1", "u2 v2 w2", "u3 v3 w3"),
      s"coverage must extend through the shared run: $t2")
    // and the pass is idempotent on its own output here
    val t3 = TextFilters.removeRepeatedSpans(p1, "doc_id", "text",
        n = 3, minDf = 3L)
      .orderBy("doc_id").collect().map(_.getString(3)).toSeq
    assert(t3 == t2, s"second pass must be a no-op: $t3")
  }

  test("fixpoint: splicing mints a NEW repeated span a single pass cannot see") {
    // Two doc groups share prefix "A B" and suffix "C D" around
    // DIFFERENT middles; each middle crosses minDf=5 only via filler
    // docs that carry none of the prefix/suffix. Pass 1 removes the
    // middles (bridge shingles hold df 3 < 5, so coverage cannot
    // extend); the splice leaves SIX identical "A B C D" docs — "A B
    // C"/"B C D" now repeat at df 6, a shingle that existed in NO
    // input document. Pass 2 removes them; pass 3 removes nothing.
    val g1 = (1L to 3L).map(i => (i, "pre fix xx xx xx post script"))
    val g2 = (4L to 6L).map(i => (i, "pre fix yy yy yy post script"))
    val f1 = (7L to 8L).map(i => (i, s"filler$i words xx xx xx tail$i end$i"))
    val f2 = (9L to 10L).map(i => (i, s"filler$i words yy yy yy tail$i end$i"))
    val docs = (g1 ++ g2 ++ f1 ++ f2).toDF("doc_id", "text")
    val single = TextFilters.removeRepeatedSpans(docs, "doc_id", "text",
        n = 3, minDf = 5L)
      .orderBy("doc_id").collect()
    // single pass: middles gone, spliced "pre fix post script" SURVIVES
    assert(single(0).getString(3) == "pre fix post script", single(0).toString)
    assert(single(0).getLong(2) == 3L)
    val (fix, audit) = TextFilters.removeRepeatedSpansFixpoint(
      docs, "doc_id", "text", n = 3, minDf = 5L)
    val rows = fix.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // groups 1+2: pass 1 removed the 3-word middle, pass 2 the spliced
    // 4-word repeat -> empty docs with cumulative counts intact
    for (i <- 0 until 6)
      assert(rows(i) == (i + 1L, 7L, 7L, ""), rows(i).toString)
    // fillers: middles removed pass 1, the rest is df 2 and survives
    for (i <- 6 until 10) {
      val (id, nw, nr, t) = rows(i)
      assert(nw == 7L && nr == 3L && !t.contains("xx") && !t.contains("yy"),
        rows(i).toString)
    }
    // audit: pass 1 = 6*3 + 4*3 = 30 words, pass 2 = 6*4 = 24, pass 3 = 0
    assert(audit == Seq(30L, 24L, 0L), s"audit: $audit")
  }

  test("fixpoint on an already-clean corpus is one pass, audit Seq(0)") {
    val docs = Seq((1L, "totally unique words here"),
      (2L, "other different content entirely")).toDF("doc_id", "text")
    val (fix, audit) = TextFilters.removeRepeatedSpansFixpoint(
      docs, "doc_id", "text", n = 3, minDf = 2L)
    assert(audit == Seq(0L), s"audit: $audit")
    assert(fix.filter(col("n_removed") =!= 0L).count() == 0)
  }

  test("mined-set join strategies are output-identical (broadcast vs shuffle)") {
    // the r10 broadcast-ceiling contract: above the ceiling the mined
    // set joins without the hint — results must be byte-identical.
    // The tiny corpus is under the default ceiling; a threshold of 1
    // byte puts it above.
    val chunk = "licensed under creative commons"
    val docs = Seq(
      (1L, s"alpha beta $chunk gamma delta"),
      (2L, s"$chunk epsilon zeta eta theta"),
      (3L, s"iota kappa lambda $chunk"),
      (4L, "totally unique words here only once"),
      (5L, "hi there")).toDF("doc_id", "text")
    val above = localCopy(thresholdSession(1L), docs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val spansB = TextFilters.removeRepeatedSpans(docs, "doc_id", "text",
      n = 3, minDf = 3L)
    val spansS = TextFilters.removeRepeatedSpans(above, "doc_id", "text",
      n = 3, minDf = 3L)
    assert(hasBroadcastHint(spansB) && !hasBroadcastHint(spansS),
      "the two runs must take different sides of the ceiling")
    assert(rows(spansB) == rows(spansS))
    val bpB = TextFilters.boilerplateFraction(docs, "doc_id", "text",
      n = 3, minDf = 3L)
    val bpS = TextFilters.boilerplateFraction(above, "doc_id", "text",
      n = 3, minDf = 3L)
    assert(hasBroadcastHint(bpB) && !hasBroadcastHint(bpS),
      "the two runs must take different sides of the ceiling")
    assert(rows(bpB) == rows(bpS))
  }

  test("mined-set join plan shapes: hint present under the ceiling, absent above") {
    val docs = (1L to 6L).map(i => (i, s"common shared phrase tail$i"))
      .toDF("doc_id", "text")
    val bPlan = TextFilters.boilerplateFraction(docs, "doc_id", "text",
      n = 3, minDf = 5L)
      .queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)
    // a 1-byte threshold puts the corpus above the ceiling and keeps
    // Catalyst's own size-based planning from broadcasting the tiny
    // mined side: the above-ceiling shape, where nothing may broadcast
    val above = localCopy(thresholdSession(1L), docs)
    val sPlan = TextFilters.boilerplateFraction(above, "doc_id", "text",
      n = 3, minDf = 5L)
      .queryExecution.executedPlan.toString
    assert(sPlan.contains("SortMergeJoin") || sPlan.contains("ShuffledHashJoin"),
      sPlan)
    val aPlan = TextFilters.removeRepeatedSpans(above, "doc_id", "text",
      n = 3, minDf = 5L)
      .queryExecution.executedPlan.toString
    assert(!aPlan.contains("BroadcastHashJoin"), aPlan)
    // broadcasting disabled outright (-1) leaves the fixed cutoff, and
    // the tiny corpus is under it: the hint is still chosen (a hint
    // alone cannot OOM a tiny set, which is the contract)
    val off = localCopy(thresholdSession(-1L), docs)
    val oPlan = TextFilters.boilerplateFraction(off, "doc_id", "text",
      n = 3, minDf = 5L)
      .queryExecution.executedPlan.toString
    assert(oPlan.contains("BroadcastHashJoin"), oPlan)
  }

  test("stripMarkup: tags split words, entities decode, amp decodes last") {
    import graft.functions.TextFunctions.stripMarkup
    val docs = Seq(
      (1L, "alpha<br/>beta"),
      (2L, "<div id=\"x\"><p>hello &amp; goodbye</p></div>"),
      (3L, "literal &amp;lt; stays an entity"),
      (4L, "no markup at   all"),
      (5L, "a &lt;b&gt; c &quot;d&quot; &apos;e&apos;&nbsp;f")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"), stripMarkup(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha beta", out(1L))
    assert(out(2L) == "hello & goodbye", out(2L))
    // single decode: &amp;lt; -> &lt; (the HTML-correct literal), and
    // the already-removed tag pass never reinterprets it
    assert(out(3L) == "literal &lt; stays an entity", out(3L))
    assert(out(4L) == "no markup at all", out(4L))
    assert(out(5L) == "a <b> c \"d\" 'e' f", out(5L))
  }
}
