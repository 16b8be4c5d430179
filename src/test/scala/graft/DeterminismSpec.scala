package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{ExceptionFailure, TaskKilled}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Sampling, Sharding}

/** Redundant-execution determinism contract, CI form (the full-roster
  * harness is [[R14Determinism]]): operators must produce identical
  * content when tasks fail and retry, when tasks are killed
  * mid-flight and rescheduled, and across shuffle-partition counts.
  * On a 1000-executor cluster all three happen routinely; an operator
  * whose output depends on the attempt history corrupts data
  * silently, which is why this is a spec and not an assumption.
  *
  * Needs `local[4,4]` (maxFailures=4) so injected first-attempt
  * failures retry instead of aborting — plain `local[4]` has
  * maxFailures=1 — hence its own forked JVM group in build.sbt (the
  * shared SparkSpec session can't host it).
  */
class DeterminismSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val injectedFailures = new AtomicLong(0)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4,4]")
      .appName("graft-determinism-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // counts the injected first-attempt failures the scheduler saw, so
    // every flaky test can assert the chaos actually fired
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
        case f: ExceptionFailure if f.description.contains("graft-chaos") =>
          injectedFailures.incrementAndGet()
        case _ => ()
      }
    })
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def hashOf(df: DataFrame): (Long, String) =
    R14Determinism.contentHash(df)

  /** The listener bus is async and its drain API is private[spark]:
    * poll until the failure counter reaches `atLeast` (or time out and
    * let the caller's assert report the shortfall). */
  private def awaitInjected(atLeast: Long): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (injectedFailures.get() < atLeast && System.nanoTime() < deadline)
      Thread.sleep(200)
  }

  /** Assert op(clean) == op(flaky(clean)) content-wise, and that the
    * injection genuinely fired at least once. */
  private def retryInvariant(name: String, input: DataFrame)(
      op: DataFrame => DataFrame): Unit = {
    val clean = hashOf(op(input))
    val before = injectedFailures.get()
    val flaky = hashOf(op(Chaos.flakyOnce(input)))
    awaitInjected(before + 1)
    assert(injectedFailures.get() > before,
      s"$name: no injected failure reached the scheduler — the drill " +
        "did not exercise a retry")
    assert(flaky == clean,
      s"$name: output depends on the task attempt history — " +
        s"clean=$clean flaky=$flaky")
  }

  private def docs(n: Int): DataFrame =
    spark.range(n).select(
      col("id").as("doc_id"),
      // 40 near-dup families with per-member suffix noise
      concat(lit("alpha beta gamma delta epsilon zeta eta theta "),
        lit("iota kappa lambda mu family "), (col("id") % 40).cast("string"),
        lit(" tail "), (col("id") % 7).cast("string")).as("text"))

  test("flakyOnce: first attempts fail, retries succeed, result exact") {
    val df = spark.range(0, 10000, 1, 8)
      .select(col("id"), (col("id") % 13).as("g"))
    val clean = df.groupBy("g").agg(sum("id").as("s"), count(lit(1)).as("n"))
    val expected = hashOf(clean)
    val before = injectedFailures.get()
    val flaky = Chaos.flakyOnce(df)
      .groupBy("g").agg(sum("id").as("s"), count(lit(1)).as("n"))
    assert(hashOf(flaky) == expected)
    awaitInjected(before + 8)
    assert(injectedFailures.get() - before >= 8,
      "every first attempt of the 8 input partitions must have failed")
  }

  test("reservoir and weighted sampling are attempt-invariant") {
    val grouped = spark.range(3000).select(
      (col("id") % 5).cast("string").as("g"), col("id").as("k"))
    retryInvariant("reservoirByGroup", grouped)(
      Sampling.reservoirByGroup(_, "g", "k", k = 17))
    val weighted = spark.range(1500).select(
      col("id").as("k"), (col("id") % 3 + 1).as("w"))
    retryInvariant("weightedTopK", weighted)(
      Sampling.weightedTopK(_, "k", "w", k = 23))
  }

  test("minhash star edges and shard layout are attempt-invariant") {
    retryInvariant("minhashStarEdges", docs(400))(
      Dedup.minhashStarEdges(_, "doc_id", "text"))
    retryInvariant("deterministicShards", spark.range(2000).toDF("doc_id"))(
      Sharding.deterministicShards(_, "doc_id"))
  }

  test("connected components converge identically over a flaky edge frame") {
    val pairs = spark.range(511)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    assert(!SparkSpec.componentsOnDriver(
        Dedup.components(pairs, localEdgeThreshold = 0L)) &&
      SparkSpec.componentsOnDriver(Dedup.components(pairs)),
      "the loop and local runs must take different paths")
    retryInvariant("components-loop", pairs)(
      Dedup.components(_, localEdgeThreshold = 0L))
    retryInvariant("components-local", pairs)(Dedup.components(_))
  }

  test("kill-and-reschedule mid-task leaves aggregation content intact") {
    // tasks sleep long enough that the async kill reliably lands on a
    // running attempt (listener-bus delivery is not synchronous)
    val df = spark.range(0, 400, 1, 40).select(col("id"))
    def job() = {
      val slow = df.as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .mapPartitions { it => Thread.sleep(250); it }(
          org.apache.spark.sql.Encoders.scalaLong)
        .toDF("id")
      slow.groupBy((col("id") % 11).as("g"))
        .agg(sum("id").as("s"), count(lit(1)).as("n"))
    }
    val expected = hashOf(job())
    val (got, _, landed) =
      Chaos.withTaskKills(spark, everyK = 2)(hashOf(job()))
    assert(landed > 0, "no kill landed — the drill did not reschedule " +
      "any running task (tasks finished before the async kill arrived?)")
    assert(got == expected,
      s"kill-reschedule changed content: clean=$expected got=$got")
  }

  test("negative control: the drill DETECTS attempt- and partition-" +
      "dependent output") {
    // the contract is only evidence if a genuinely nondeterministic
    // operator fails it — build the two failure classes on purpose
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.Row
    val base = spark.range(0, 80, 1, 8).toDF("id")
    // (a) attempt-dependent: leaks attemptNumber into the content; the
    // flaky input forces every partition onto attempt 1, so the drill
    // must see a different hash than the clean run
    def leakAttempt(df: DataFrame): DataFrame = {
      val schema = df.schema
      val rdd = df.rdd.mapPartitions { it =>
        val a = TaskContext.get().attemptNumber()
        it.map(r => Row(r.getLong(0) + a))
      }
      spark.createDataFrame(rdd, schema)
    }
    assert(hashOf(leakAttempt(base)) !=
           hashOf(leakAttempt(Chaos.flakyOnce(base))),
      "attempt-dependent output slipped through the retry drill")
    // (b) partition-count-dependent: leaks spark_partition_id into the
    // content; the invariance sweep must see it
    def leakPartition(parts: Int): (Long, String) =
      hashOf(base.repartition(parts)
        .select((col("id") * 0 + spark_partition_id()).as("p"))
        .groupBy("p").count())
    assert(leakPartition(3) != leakPartition(13),
      "partition-dependent output slipped through the invariance sweep")
  }

  test("streaming micro-batches stay exactly-once under kill-and-reschedule") {
    import java.nio.file.{Files => JFiles}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StructType}
    val srcDir = JFiles.createTempDirectory("chaos_src").toString
    val sinkDir = JFiles.createTempDirectory("chaos_sink").toString
    val ckDir = JFiles.createTempDirectory("chaos_ck").toString
    (0 until 20).foreach { f =>
      spark.range(f * 50L, (f + 1) * 50L).toDF("id").coalesce(1)
        .write.mode("append").json(srcDir)
    }
    // per-row sleep keeps each task alive long enough for the async
    // kill to land on a RUNNING attempt
    val slow = udf((x: Long) => { Thread.sleep(5); x })
    val stream = spark.readStream
      .schema(new StructType().add("id", LongType))
      .option("maxFilesPerTrigger", "2")
      .json(srcDir)
      .select(slow(col("id")).as("id"))
    val (_, _, landed) = Chaos.withTaskKills(spark, everyK = 1) {
      val q = stream.writeStream.format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(landed > 0, "no kill landed mid-batch — the drill did not " +
      "exercise a streaming task retry")
    // the file sink's manifest must show every input row exactly once:
    // a kill that lost rows breaks the left side, a retry that
    // double-committed breaks the distinct side
    val got = spark.read.parquet(sinkDir).select("id")
      .collect().map(_.getLong(0))
    assert(got.length == 1000 && got.distinct.length == 1000,
      s"expected 1000 distinct ids, got ${got.length} rows / " +
        s"${got.distinct.length} distinct")
    assert(got.sorted.toSeq == (0L until 1000L))
  }

  test("hard-stopped stream resumes from its checkpoint exactly-once") {
    // the other recovery class: not a task retry but a DRIVER-side
    // abort — stop() mid-run cancels the in-flight batch; the restart
    // must replay exactly the uncommitted offsets and the sink
    // manifest must never show the aborted batch's partial files
    import java.nio.file.{Files => JFiles}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StructType}
    val srcDir = JFiles.createTempDirectory("resume_src").toString
    val sinkDir = JFiles.createTempDirectory("resume_sink").toString
    val ckDir = JFiles.createTempDirectory("resume_ck").toString
    (0 until 10).foreach { f =>
      spark.range(f * 50L, (f + 1) * 50L).toDF("id").coalesce(1)
        .write.mode("append").json(srcDir)
    }
    val slow = udf((x: Long) => { Thread.sleep(5); x })
    def startQuery(trigger: Trigger) = spark.readStream
      .schema(new StructType().add("id", LongType))
      .option("maxFilesPerTrigger", "1")
      .json(srcDir)
      .select(slow(col("id")).as("id"))
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", ckDir)
      .trigger(trigger)
      .start()
    def sinkCount(): Long =
      try spark.read.parquet(sinkDir).count() catch { case _: Throwable => 0L }
    // run 1: ProcessingTime, hard-stop once at least two batches landed
    val q1 = startQuery(Trigger.ProcessingTime("50 milliseconds"))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sinkCount() < 100 && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(sinkCount() >= 100, "first run never committed two batches")
    q1.stop()
    val afterStop = sinkCount()
    // run 2: resume from the same checkpoint and drain
    val q2 = startQuery(Trigger.AvailableNow())
    q2.awaitTermination()
    val got = spark.read.parquet(sinkDir).select("id")
      .collect().map(_.getLong(0))
    assert(got.length == 500 && got.distinct.length == 500,
      s"resume broke exactly-once: ${got.length} rows / " +
        s"${got.distinct.length} distinct (post-stop snapshot had " +
        s"$afterStop rows)")
    assert(got.sorted.toSeq == (0L until 500L))
  }

  test("gate queries are shuffle-partition-count and AQE invariant") {
    val sf = "/root/testdata/sf0.001"
    // one representative per family: agg, topn, window, near-dup,
    // sampling, shard layout, ANN, text
    val names = Seq("q1_agg", "q3_topn", "window_rank", "dedup_minhash",
      "sample_reservoir", "corpus_shard_shuffle", "ann_bruteforce",
      "text_fingerprint")
    def sweep(parts: String, aqe: String): Map[String, (Long, String)] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val out = names.map { n =>
        n -> hashOf(SparkEntry.queries(n)(spark, sf))
      }.toMap
      spark.catalog.clearCache()
      out
    }
    try {
      val base = sweep("4", "true")
      for ((parts, aqe) <- Seq(("3", "false"), ("13", "true"))) {
        val got = sweep(parts, aqe)
        val bad = names.filter(n => got(n) != base(n))
        assert(bad.isEmpty,
          s"partition/AQE-dependent content at p=$parts aqe=$aqe: " +
            bad.mkString(", "))
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }
}
