package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.streaming.StreamIngest

/** Streaming SOAK (r13 judge ask #7): one long AvailableNow-free run
  * of the composed reference topology —
  *
  *   drop zone → gated route → corpus dedup gate → IVF append
  *
  * (three chained ProcessingTime file-stream queries, each stage's
  * per-batch output dirs feeding the next stage's file source) plus
  * the state-store query class ([[StreamIngest.dedupWithinWatermark]]
  * over a rate source) running alongside, for >= `target`
  * micro-batches per stage head. What it watches, per the ask:
  *
  *  - state-store size: numRowsTotal / memoryUsedBytes per progress
  *    event — the watermark must keep eviction ahead of insertion
  *    (flat curve), or the stateful class leaks by construction;
  *  - listing-cache growth: the file source re-lists its glob every
  *    trigger and its seen-files map only grows (maxFileAge default),
  *    so per-trigger latestOffset duration over batch index IS the
  *    listing curve; addBatch carries the compute side;
  *  - ContextCleaner backlog: the per-batch persist/unpersist +
  *    broadcast churn all funnels through the cleaner's single
  *    thread (the flake-ceiling commit 92d29a6 pathology) — sampled
  *    by reflection from the cleaner's reference buffer;
  *  - driver heap: GC-settled used-heap samples, least-squares slope
  *    over the post-warmup window.
  *
  * Output: JSONL per-batch metrics to `outDir/soak_batches.jsonl`,
  * samples to `outDir/soak_samples.jsonl`, ONE summary JSON line on
  * stdout with the leak verdicts.
  *
  * `runMain graft.R14Soak [target] [outDir]` — 500 batches by
  * default, ~10-20 min wall. Dev tool — not part of the library
  * surface.
  */
object R14Soak {
  def main(args: Array[String]): Unit = {
    val target = if (args.length > 0) args(0).toInt else 500
    val outRoot = if (args.length > 1) args(1)
      else Files.createTempDirectory("graft_soak").toString
    val spark = GraftSession("graft-soak")
    import spark.implicits._

    def dir(name: String): String = {
      val p = Paths.get(outRoot, name)
      Files.createDirectories(p)
      p.toString
    }
    val drop = dir("drop/src2")
    val routeOut = dir("route_out")
    val gateOut = dir("gate_out")
    val gateRej = dir("gate_rej")
    val ivfMetrics = dir("ivf_metrics")
    val idx = dir("ivf_index")
    val stateOut = dir("state_out")

    // ---- per-batch metrics capture --------------------------------
    val batchLog = Paths.get(outRoot, "soak_batches.jsonl")
    val sampleLog = Paths.get(outRoot, "soak_samples.jsonl")
    val batchCounts = new ConcurrentHashMap[String, java.lang.Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0 || p.stateOperators.nonEmpty) {
          batchCounts.merge(p.name, 1L, (a, b) => a + b)
          val dur = p.durationMs
          def d(k: String): Long =
            Option(dur.get(k)).map(_.longValue).getOrElse(-1L)
          val stRows = p.stateOperators.map(_.numRowsTotal).sum
          val stMem = p.stateOperators.map(_.memoryUsedBytes).sum
          val line = s"""{"q":"${p.name}","batch":${p.batchId},""" +
            s""""rows":${p.numInputRows},"trigger_ms":${d("triggerExecution")},""" +
            s""""offset_ms":${d("latestOffset")},"addbatch_ms":${d("addBatch")},""" +
            s""""state_rows":$stRows,"state_bytes":$stMem}""" + "\n"
          batchLog.synchronized {
            Files.writeString(batchLog, line,
              StandardOpenOption.CREATE, StandardOpenOption.APPEND)
          }
        }
      }
    }
    spark.streams.addListener(listener)

    // cleaner backlog via reflection (private[spark] accessor is
    // public in bytecode; the buffer field name is version-dependent,
    // so scan)
    def cleanerBacklog(): Long = try {
      val sc = spark.sparkContext
      val cl = classOf[org.apache.spark.SparkContext]
        .getMethod("cleaner").invoke(sc).asInstanceOf[Option[AnyRef]]
      cl.map { c =>
        val f = c.getClass.getDeclaredFields
          .find(_.getName.contains("referenceBuffer")).get
        f.setAccessible(true)
        f.get(c).asInstanceOf[java.util.Collection[_]].size.toLong
      }.getOrElse(-1L)
    } catch { case _: Throwable => -1L }

    // ---- stage 1: gated route ------------------------------------
    val docSchema = StructType(Seq(
      StructField("Doc Id", StringType), StructField("Text", StringType)))
    val trig = Trigger.ProcessingTime("100 milliseconds")
    val routeStream = StreamIngest.fileStream(
      spark, s"${dir("drop")}/*/*.csv", docSchema, maxFilesPerTrigger = 1)
    val qRoute = StreamIngest.gatedRoutedSink(routeStream, routeOut,
        dir("cp/route"), graft.queries.EtlQueries.routeConfig,
        dir("route_rej"), trigger = trig)
      .queryName("soak_route").start()

    // ---- stage 2: corpus gate over stage-1 output ----------------
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val routedSchema = StructType(Seq(
      StructField("doc_id", StringType), StructField("text", StringType)))
    val gateStream = spark.readStream.schema(routedSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$routeOut/batch=*/target=*")
    val qGate = StreamIngest.corpusGateSink(gateStream, "doc_id", "text",
        corpus, gateOut, gateRej, dir("cp/gate"),
        expectedItems = 1 << 16, trigger = trig)
      .queryName("soak_gate").start()

    // ---- stage 3: IVF append over stage-2 survivors --------------
    // deterministic text-derived embeddings: dim 16, values in [0,1)
    val embOf = expr(
      "transform(sequence(0, 15), i -> cast(pmod(hash(text, i), 1000) / 1000.0 as float))")
    graft.operators.Ann.buildIvfIndex(
      spark.range(256)
        .select(col("id").as("vec_id"),
          expr("cast(id as string)").as("text"))
        .select(col("vec_id"), embOf.as("embedding")),
      "vec_id", "embedding", idx, nlist = 8)
    val ivfStream = spark.readStream.schema(routedSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$gateOut/batch=*")
      .filter(col("text").isNotNull)
      .select(xxhash64(col("doc_id")).as("vec_id"), embOf.as("embedding"))
    val qIvf = StreamIngest.ivfAppendSink(ivfStream, "vec_id", "embedding",
        idx, ivfMetrics, dir("cp/ivf"), trigger = trig)
      .queryName("soak_ivf").start()

    // ---- state-store class: watermark dedup on a rate source -----
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "200").load()
      .select(col("timestamp").as("ts"),
        (col("value") % 500).as("key"), col("value"))
    val qState = StreamIngest.dedupWithinWatermark(rate, "ts", Seq("key"),
        watermark = "10 seconds")
      .writeStream.queryName("soak_state")
      .format("parquet").option("path", stateOut)
      .option("checkpointLocation", dir("cp/state"))
      .trigger(trig).start()

    // ---- feeder: one small csv per ~120 ms; every 25th is junk ----
    val feederFiles = (target * 1.2).toInt
    val feeder = new Thread(() => {
      var i = 0
      while (i < feederFiles) {
        val rows = (0 until 20).map { j =>
          val id = i.toLong * 100 + j
          s"$id,doc $id body ${("w" + (id % 97) + " ") * 8}"
        }.mkString("\n")
        val body =
          if (i % 25 == 24) "bad,,header\n1,2,3\n" // headerless junk
          else s"Doc Id,Text\n$rows\n"
        val tmp = Paths.get(outRoot, s".stage_$i.csv")
        Files.writeString(tmp, body)
        Files.move(tmp, Paths.get(drop, f"f$i%06d.csv"))
        i += 1
        Thread.sleep(120)
      }
    }, "soak-feeder")
    feeder.setDaemon(true)
    feeder.start()

    // ---- sampler: heap / cleaner / persisted RDDs every 5 s -------
    val t0 = System.nanoTime()
    val deadline = t0 + 45L * 60 * 1000 * 1000 * 1000
    val samples = scala.collection.mutable.Buffer.empty[(Double, Long, Long, Int)]
    def count(q: String): Long =
      Option(batchCounts.get(q)).map(_.longValue).getOrElse(0L)
    var gcTick = 0
    while ((count("soak_route") < target || count("soak_state") < target ||
            feeder.isAlive) && System.nanoTime() < deadline) {
      Thread.sleep(5000)
      gcTick += 1
      if (gcTick % 12 == 0) System.gc() // settle before the slope sample
      val rt = Runtime.getRuntime
      val heap = rt.totalMemory - rt.freeMemory
      val backlog = cleanerBacklog()
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val elapsedMin = (System.nanoTime() - t0) / 6e10
      if (gcTick % 12 == 0) samples += ((elapsedMin, heap, backlog, persisted))
      val line = s"""{"min":${f"$elapsedMin%.2f"},"heap":$heap,""" +
        s""""cleaner_backlog":$backlog,"persisted_rdds":$persisted,""" +
        s""""route":${count("soak_route")},"gate":${count("soak_gate")},""" +
        s""""ivf":${count("soak_ivf")},"state":${count("soak_state")}}""" + "\n"
      Files.writeString(sampleLog, line,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    // drain the chain: let downstream stages catch up on the tail
    Thread.sleep(20000)
    Seq(qRoute, qGate, qIvf, qState).foreach(_.stop())

    // ---- summary ---------------------------------------------------
    // least-squares heap slope on the GC-settled samples, first 20%
    // dropped as warmup
    val settled = samples.drop(math.max(1, samples.size / 5)).toSeq
    val heapSlope = if (settled.size < 3) Double.NaN else {
      val xs = settled.map(_._1); val ys = settled.map(_._2.toDouble)
      val n = xs.size
      val mx = xs.sum / n; val my = ys.sum / n
      val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) Double.NaN else num / den // bytes per minute
    }
    def quintileGrowth(q: String, field: String): Double = {
      val lines = scala.jdk.CollectionConverters
        .IteratorHasAsScala(Files.lines(batchLog).iterator).asScala
        .filter(_.contains(s""""q":"$q"""")).toSeq
      val re = (s""""$field":(-?\\d+)""").r
      val vals = lines.flatMap(l =>
        re.findFirstMatchIn(l).map(_.group(1).toDouble)).filter(_ >= 0)
      if (vals.size < 20) Double.NaN else {
        val k = vals.size / 5
        val first = vals.take(k).sorted.apply(k / 2)
        val last = vals.takeRight(k).sorted.apply(k / 2)
        if (first <= 0) Double.NaN else last / first
      }
    }
    val stateRowsRe = """"state_rows":(\d+)""".r
    val stateRows = scala.jdk.CollectionConverters
      .IteratorHasAsScala(Files.lines(batchLog).iterator).asScala
      .filter(_.contains(""""q":"soak_state""""))
      .flatMap(l => stateRowsRe.findFirstMatchIn(l).map(_.group(1).toLong))
      .toSeq
    val elapsedMin = (System.nanoTime() - t0) / 6e10
    val line = ("{" +
      s""""probe":"soak","minutes":${f"$elapsedMin%.1f"},""" +
      s""""batches":{"route":${count("soak_route")},"gate":${count("soak_gate")},""" +
      s""""ivf":${count("soak_ivf")},"state":${count("soak_state")}},""" +
      s""""heap_slope_bytes_per_min":${if (heapSlope.isNaN) "null" else f"$heapSlope%.0f"},""" +
      s""""heap_last":${samples.lastOption.map(_._2).getOrElse(-1L)},""" +
      s""""cleaner_backlog_max":${if (samples.isEmpty) -1 else samples.map(_._3).max},""" +
      s""""cleaner_backlog_last":${samples.lastOption.map(_._3).getOrElse(-1L)},""" +
      s""""persisted_rdds_last":${samples.lastOption.map(_._4).getOrElse(-1)},""" +
      s""""state_rows_max":${if (stateRows.isEmpty) -1 else stateRows.max},""" +
      s""""state_rows_last":${stateRows.lastOption.getOrElse(-1L)},""" +
      s""""trigger_growth":{"route":${fmt(quintileGrowth("soak_route", "trigger_ms"))},""" +
      s""""gate":${fmt(quintileGrowth("soak_gate", "trigger_ms"))},""" +
      s""""ivf":${fmt(quintileGrowth("soak_ivf", "trigger_ms"))},""" +
      s""""state":${fmt(quintileGrowth("soak_state", "trigger_ms"))}},""" +
      s""""offset_growth":{"route":${fmt(quintileGrowth("soak_route", "offset_ms"))},""" +
      s""""gate":${fmt(quintileGrowth("soak_gate", "offset_ms"))},""" +
      s""""ivf":${fmt(quintileGrowth("soak_ivf", "offset_ms"))}},""" +
      s""""out":"$outRoot"}""")
    println(line)
    spark.stop()
  }

  private def fmt(d: Double): String =
    if (d.isNaN) "null" else f"$d%.2f"
}
