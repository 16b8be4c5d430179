package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session extension registering graft's native expressions so they
  * are callable from SQL / `expr(...)`:
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * or programmatically via [[GraftExtensions.ensureRegistered]]
  * (idempotent; used by the operators so they work on any session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def strLit(e: Expression, name: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) if v != null =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$name must be a string literal, got $other")
  }

  val functions: Seq[FunctionDescription] = Seq(
    (new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    (new FunctionIdentifier("graft_srp_buckets"),
      new ExpressionInfo(classOf[SrpBuckets].getName, "graft_srp_buckets"),
      (children: Seq[Expression]) => SrpBuckets(children(0),
        intLit(children(1), "planes"), intLit(children(2), "tables"))),
    (new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSignature(children(0),
        intLit(children(1), "perms"))),
    (new FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_word_shingles"),
      (children: Seq[Expression]) => WordShingles(children(0),
        intLit(children(1), "n"))),
    (new FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "graft_word_ngrams"),
      (children: Seq[Expression]) => WordNgrams(children(0),
        intLit(children(1), "n"))),
    (new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashSignature].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHashSignature(children(0))),
    (new FunctionIdentifier("graft_top_word_count"),
      new ExpressionInfo(classOf[WordTopCount].getName, "graft_top_word_count"),
      (children: Seq[Expression]) => WordTopCount(children(0))),
    (new FunctionIdentifier("graft_term_counts"),
      new ExpressionInfo(classOf[TermCounts].getName, "graft_term_counts"),
      (children: Seq[Expression]) => TermCounts(children(0),
        children.tail.zipWithIndex.map { case (c, i) => strLit(c, s"term$i") })),
    (new FunctionIdentifier("graft_bucket"),
      new ExpressionInfo(classOf[BucketIndex].getName, "graft_bucket"),
      (children: Seq[Expression]) => BucketIndex(children(0), children(1))),
    // Spark's OWN codegen'd Bloom probe (the expression behind its
    // injected runtime filters), exposed as a callable function:
    // children(0) = the serialized util.sketch filter (a foldable
    // binary — e.g. lit(bytes) of BloomFilter.writeTo), children(1)
    // = the probed LONG (build the filter over the same hash, e.g.
    // xxhash64). Evaluated as the r13 ask-#5 swap candidate for the
    // incremental-dedup prefilter and REJECTED there on measurement
    // (R14BloomProfile, SCALING r14): the filter rides the plan as a
    // literal, so every TASK deserializes it — 7x slower than the
    // broadcast+UDF probe at a 6 MB epoch-scale filter, while the
    // UDF's per-row cost is indistinguishable from the bare scan.
    // Kept registered for what it IS good at: small frozen filters
    // (≲100 KB) probed from SQL with no broadcast plumbing.
    // BloomProbeSpec pins decision-equality between the two forms.
    (new FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "graft_bloom_might_contain"),
      (children: Seq[Expression]) =>
        BloomFilterMightContain(children(0), children(1))))

  /** Register into an existing session (no-op if already present). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) {
        registry.registerFunction(ident, info, builder)
      }
    }
  }
}
