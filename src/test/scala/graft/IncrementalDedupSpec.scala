package graft

import java.nio.file.Files

import graft.streaming.StreamIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

class IncrementalDedupSpec extends SparkSpec {

  // distinct enough that no cross pair collides in any LSH band;
  // nearDup differs from base1 by one word (high Jaccard on 3-shingles)
  private val base1 = "the quick brown fox jumps over the lazy dog " +
    "while the farmer watches from the old wooden fence near the barn"
  private val base2 = "stochastic gradient descent converges faster with " +
    "momentum when the learning rate schedule follows a cosine decay curve"
  private val base3 = "ancient mariners navigated across vast oceans using " +
    "only the stars the winds and careful records of coastal landmarks"
  private val nearDup1 = base1.replace("lazy dog", "lazy cat")

  test("streaming minhash gate rejects near-dups of PREVIOUS batches via the store") {
    val drop = Files.createTempDirectory("inc_drop").toString
    val store = Files.createTempDirectory("inc_store").toString
    val out = Files.createTempDirectory("inc_out").toString
    val rej = Files.createTempDirectory("inc_rej").toString
    val cp = Files.createTempDirectory("inc_cp").toString
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("text", StringType)))
    def runBatch(): Unit = {
      val stream = StreamIngest.fileStream(spark, drop, schema)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      StreamIngest.runOnce(StreamIngest.minhashDedupSink(
        stream, "doc_id", "text", store, out, rej, cp, minJaccard = 0.5))
    }
    // batch 0: two distinct docs plus an INTRA-batch near-dup of doc 1
    Files.writeString(java.nio.file.Paths.get(s"$drop/b0.csv"),
      s"""doc_id,text
         |1,"$base1"
         |2,"$base2"
         |5,"$nearDup1"
         |""".stripMargin)
    runBatch()
    val out0 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out0 == Seq(1L, 2L), s"intra-batch dup should drop doc 5: $out0")
    // batch 1: a near-dup of batch-0's doc 1, plus a genuinely new doc
    Files.writeString(java.nio.file.Paths.get(s"$drop/b1.csv"),
      s"""doc_id,text
         |7,"$nearDup1"
         |8,"$base3"
         |""".stripMargin)
    runBatch()
    val out1 = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out1 == Seq(8L), s"store should reject doc 7 as a dup of doc 1: $out1")
    // the audit names what each reject duplicated
    val rejects = spark.read.parquet(rej)
      .select("id", "dup_of").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rejects == Map(5L -> 1L, 7L -> 1L), rejects.toString)
    // the store holds exactly the survivors' signatures
    val storeIds = spark.read.parquet(store)
      .select("id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(storeIds == Seq(1L, 2L, 8L), storeIds.toString)
  }

  test("replaying a batch against its own stored signatures is not self-rejecting") {
    // simulate the foreachBatch replay directly: run the same batch id
    // twice; the second run must exclude its own batch=<id> store dir
    // and reproduce identical survivors, not reject everything
    import spark.implicits._
    val store = Files.createTempDirectory("rep_store").toString
    val out = Files.createTempDirectory("rep_out").toString
    val rej = Files.createTempDirectory("rep_rej").toString
    val cp = Files.createTempDirectory("rep_cp").toString
    val drop = Files.createTempDirectory("rep_drop").toString
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("text", StringType)))
    Files.writeString(java.nio.file.Paths.get(s"$drop/b0.csv"),
      s"""doc_id,text
         |1,"$base1"
         |2,"$base2"
         |""".stripMargin)
    def runBatch(checkpoint: String): Unit = {
      val stream = StreamIngest.fileStream(spark, drop, schema)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      StreamIngest.runOnce(StreamIngest.minhashDedupSink(
        stream, "doc_id", "text", store, out, rej, checkpoint, minJaccard = 0.5))
    }
    runBatch(cp)
    // fresh checkpoint replays the same file as batch 0 again, with
    // the store already holding batch=0 — the crash-replay shape
    runBatch(Files.createTempDirectory("rep_cp2").toString)
    val survivors = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 2L),
      s"replay must reproduce the batch, not self-reject: $survivors")
    assert(spark.read.parquet(rej).count() == 0)
  }

  test("corpus gate drops exact re-submissions across batches, sketch reused") {
    import spark.implicits._
    val drop = Files.createTempDirectory("gate_drop").toString
    val out = Files.createTempDirectory("gate_out").toString
    val rej = Files.createTempDirectory("gate_rej").toString
    val cp = Files.createTempDirectory("gate_cp").toString
    val corpus = Seq((100L, base1), (101L, base2)).toDF("doc_id", "text")
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("text", StringType)))
    val sink = StreamIngest.corpusGateSink(
      StreamIngest.fileStream(spark, drop, schema)
        .select(col("doc_id").cast("long").as("doc_id"), col("text")),
      "doc_id", "text", corpus, out, rej, cp)
    // batch 0: one corpus re-submission (normalized: case+whitespace
    // differ), one near-dup (NOT exact -> passes), one new doc
    Files.writeString(java.nio.file.Paths.get(s"$drop/b0.csv"),
      s"""doc_id,text
         |1,"  ${base1.toUpperCase} "
         |2,"$nearDup1"
         |3,"$base3"
         |""".stripMargin)
    StreamIngest.runOnce(sink)
    val out0 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out0 == Seq(2L, 3L), s"gate should drop doc 1 only: $out0")
    // batch 1 reuses the SAME sink (and sketch): another re-submission
    // plus a repeat of batch-0's doc 3 — the corpus is STATIC, so the
    // batch-0 survivor is NOT in it and passes again (within-stream
    // dedup is dedupWithinWatermark's job, not the gate's)
    Files.writeString(java.nio.file.Paths.get(s"$drop/b1.csv"),
      s"""doc_id,text
         |4,"$base2"
         |5,"$base3"
         |""".stripMargin)
    StreamIngest.runOnce(sink)
    val out1 = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out1 == Seq(5L), s"gate should drop doc 4, pass doc 5: $out1")
    val rejected = spark.read.parquet(rej)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rejected == Seq(1L, 4L), s"audit rows: $rejected")
    // batch 2: a null-text row PASSES THROUGH as a survivor (no
    // content to gate on; silently dropping ingest rows is
    // unauditable — r10 contract) alongside a re-submission that is
    // still rejected
    Files.writeString(java.nio.file.Paths.get(s"$drop/b2.csv"),
      s"""doc_id,text
         |6,
         |7,"$base1"
         |""".stripMargin)
    StreamIngest.runOnce(sink)
    val out2 = spark.read.parquet(s"$out/batch=2")
    val ids2 = out2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids2 == Seq(6L), s"null-text row must survive the gate: $ids2")
    assert(out2.filter(col("text").isNull).count() == 1L,
      "the survivor keeps its null text")
    val rej2 = spark.read.parquet(rej)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rej2 == Seq(1L, 4L, 7L), s"audit rows after batch 2: $rej2")
  }

  test("near gate drops exact copies and near-dups, passes new/null/empty rows") {
    import spark.implicits._
    val corpus = Seq((1L, base1), (2L, base2)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base1),                         // exact copy -> drop
      (11L, nearDup1),                      // one-word variant -> drop
      (12L, base3),                         // genuinely new -> pass
      (13L, null.asInstanceOf[String]),     // null text -> excluded
      (14L, "   ")                          // no signature -> pass
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .incrementalNewNear(corpus, batch, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(12L, 14L), s"survivors: $out")
  }

  test("near gate with a persisted corpus band index is row-identical") {
    import spark.implicits._
    val corpus = Seq((1L, base1), (2L, base2)).toDF("doc_id", "text")
    val batch = Seq((10L, nearDup1), (11L, base3)).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("near_idx").toString
    graft.operators.Dedup.bandedSignatures(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val inline = graft.operators.Dedup
      .incrementalNewNear(corpus, batch, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val indexed = graft.operators.Dedup
      .incrementalNewNear(corpus, batch, "doc_id", "text", minJaccard = 0.5,
        corpusBanded = Some(spark.read.parquet(dir)))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(inline == indexed && inline == Seq(11L),
      s"inline=$inline indexed=$indexed")
  }

  test("near gate threshold binds: a low-jaccard batch doc is not dropped") {
    import spark.implicits._
    // shares a few shingles with base1 but far below 0.8
    val partial = "the quick brown fox jumps over entirely different " +
      "words about completely unrelated matters and various other topics"
    val corpus = Seq((1L, base1)).toDF("doc_id", "text")
    val batch = Seq((10L, partial)).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .incrementalNewNear(corpus, batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(10L), s"sub-threshold doc must survive: $out")
  }

  test("streaming near-corpus gate: exact/near drop, new/null pass, index reused across batches") {
    import spark.implicits._
    val drop = Files.createTempDirectory("ng_drop").toString
    val out = Files.createTempDirectory("ng_out").toString
    val rej = Files.createTempDirectory("ng_rej").toString
    val cp = Files.createTempDirectory("ng_cp").toString
    val corpus = Seq((100L, base1), (101L, base2)).toDF("doc_id", "text")
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("text", StringType)))
    val sink = StreamIngest.nearCorpusGateSink(
      StreamIngest.fileStream(spark, drop, schema)
        .select(col("doc_id").cast("long").as("doc_id"), col("text")),
      "doc_id", "text", corpus, out, rej, cp, minJaccard = 0.5)
    // batch 0: exact copy (drop), near-dup (drop), new (pass), null (pass)
    Files.writeString(java.nio.file.Paths.get(s"$drop/b0.csv"),
      s"""doc_id,text
         |1,"$base1"
         |2,"$nearDup1"
         |3,"$base3"
         |4,
         |""".stripMargin)
    StreamIngest.runOnce(sink)
    val out0 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out0 == Seq(3L, 4L), s"survivors: $out0")
    // batch 1 reuses the SAME sink (and cached band index): another
    // near-dup of the STATIC corpus drops; a repeat of batch-0's new
    // doc passes again (the corpus is immutable — within-stream dedup
    // is minhashDedupSink's job)
    Files.writeString(java.nio.file.Paths.get(s"$drop/b1.csv"),
      s"""doc_id,text
         |5,"$nearDup1"
         |6,"$base3"
         |""".stripMargin)
    StreamIngest.runOnce(sink)
    val out1 = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out1 == Seq(6L), s"batch-1 survivors: $out1")
    val rejected = (spark.read.parquet(s"$rej/batch=0")
      .collect().map(_.getLong(0)) ++
      spark.read.parquet(s"$rej/batch=1").collect().map(_.getLong(0)))
      .sorted.toSeq
    assert(rejected == Seq(1L, 2L, 5L), s"rejects: $rejected")
  }

  test("streaming near gate: null-id rows land in EXACTLY the reject output (r11 advice)") {
    import spark.implicits._
    val drop = Files.createTempDirectory("ngn_drop").toString
    val out = Files.createTempDirectory("ngn_out").toString
    val rej = Files.createTempDirectory("ngn_rej").toString
    val cp = Files.createTempDirectory("ngn_cp").toString
    val corpus = Seq((100L, base1)).toDF("doc_id", "text")
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("text", StringType)))
    val sink = StreamIngest.nearCorpusGateSink(
      StreamIngest.fileStream(spark, drop, schema)
        .select(col("doc_id").cast("long").as("doc_id"), col("text")),
      "doc_id", "text", corpus, out, rej, cp, minJaccard = 0.5)
    // a null-id row (blank doc_id casts to null) previously bypassed
    // BOTH idCol joins and was written to survivor AND reject,
    // breaking output disjointness; now it must reject exactly once
    Files.writeString(java.nio.file.Paths.get(s"$drop/b0.csv"),
      s"""doc_id,text
         |1,"$base3"
         |,"$base3"
         |""".stripMargin)
    StreamIngest.runOnce(sink)
    val survivors = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(survivors == Seq(Some(1L)), s"survivors: $survivors")
    val rejects = spark.read.parquet(s"$rej/batch=0")
      .collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(rejects == Seq(None), s"rejects: $rejects")
  }
}
