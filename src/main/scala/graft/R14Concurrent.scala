package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.collection.immutable.{ListMap, SortedMap}

/** Concurrent multi-query contract (round 14, follow-on to the
  * redundant-execution determinism axis): a deployed engine is SHARED
  * — a thrift server, a notebook kernel, a pipeline scheduler all run
  * many queries on ONE SparkSession from many threads at once, and at
  * 1000 executors the cluster is wasted if queries must queue
  * serially. Spark supports this (one SparkContext schedules
  * concurrent jobs; FAIR pools round-robin them), but the LIBRARY has
  * to be thread-safe for it: no session/context-global mutable state
  * keyed by fixed names, no scratch-path collisions, no
  * cross-query cache dependence. The determinism harness' dirty first
  * run caught exactly this class twice (JVM-scoped bucket-table cache
  * vs a new session's catalog; cross-process round-trip scratch
  * collision) — this harness makes the contract a measured gate
  * instead of an incident class.
  *
  * Two drills over the full gate roster, one shared [[GraftSession]],
  * FAIR scheduler with one pool per worker thread:
  *
  *  1. `concurrent` — the roster partitioned across N worker threads,
  *     every query's order-free content hash compared to the serial
  *     baseline (exact, the driver comparator's semantics). Also
  *     reports the throughput ratio serial/concurrent wall — on a
  *     32-core box the roster is dominated by short low-parallelism
  *     stages, so concurrency should buy real wall-clock, not just
  *     not-break.
  *  2. `duplicate` — the scratch-writing / memoized-builder queries
  *     (stored indexes, bucketed/partitioned layouts, copy-on-write
  *     swaps, filesystem round-trips) each run `dupN` instances AT
  *     THE SAME TIME, all pinned to start together on a latch. Every
  *     instance must hash identical to the baseline: a fixed scratch
  *     name, a non-idempotent builder, or a torn memoization would
  *     diverge an instance (or throw), and either fails the gate.
  *
  * Caching discipline: the serial baseline clears the SQL cache
  * between queries (Verify's discipline). The concurrent passes
  * cannot (a mid-flight clear would unpersist a neighbor's frames —
  * legal, recompute-correct, but it would measure recomputes, not
  * concurrency), so they clear once per pass. Persisted frames
  * therefore accumulate within a pass — bounded by the gate scale,
  * and LRU eviction handles it at larger ones.
  *
  * `tools/runmain.sh graft.R14Concurrent <sfDir>
  *    [threads [dupN [query ...]]]` (defaults 8, 4, the full roster).
  * The JSON record is the last stdout line; the main writes no file.
  *
  * Dev/measurement harness — not part of the library surface.
  */
object R14Concurrent {

  /** The shared-mutable-state suspects: queries that build or mutate
    * on-disk scratch (stored ANN indexes, bucketed tables,
    * partitioned layouts, copy-on-write swaps, filesystem
    * round-trips) or run the multi-job iterative loops. The duplicate
    * drill hammers each with simultaneous instances; the rest of the
    * roster exercises the same class more cheaply via the concurrent
    * pass.
    */
  val duplicateSuspects: Seq[String] = Seq(
    "ann_lsh_indexed", "ann_ivf_indexed", "ann_pq_indexed",
    "ann_ivf_delete", "hybrid_rank_fusion_indexed",
    "layout_bucketed_join", "layout_partition_prune", "layout_compact",
    "layout_zorder", "batch_upsert", "scd2_merge", "cdc_apply",
    "src_file_gate", "sink_parquet", "sink_orc", "src_csv",
    "src_jsonl", "src_excel", "src_xls", "src_schema_evolution",
    "dedup_resolve", "dedup_components", "pipeline_dedup_corpus",
    "etl_ingest_pipeline", "text_substring_dedup_fixpoint")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nThreads = if (args.length > 1) args(1).toInt else 8
    val dupN = if (args.length > 2) args(2).toInt else 4
    val roster = SparkEntry.roster(args.drop(3).toSeq)
    // FAIR: the worker threads' jobs round-robin across one pool per
    // thread instead of queueing FIFO behind whichever thread came first
    val spark = GraftSession("graft-concurrent",
      Map("spark.scheduler.mode" -> "FAIR"))

    def lap[T](tag: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[concurrent] $tag done in $sec%.1f s")
      (r, sec)
    }

    // ---- serial baseline: Verify's discipline, also the wall anchor ----
    val (baseline, serialSec) =
      lap("serial baseline")(R14Determinism.runRoster(spark, sfDir, roster))

    // ---- drill 1: roster partitioned across worker threads ----
    val hashes = new java.util.concurrent.ConcurrentHashMap[String, String]
    def worker(pool: String, queue: ConcurrentLinkedQueue[String],
        out: (String, String) => Unit): Thread = {
      val t = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
        var name = queue.poll()
        while (name != null) {
          out(name, R14Determinism.runAndHash(spark, sfDir, name))
          name = queue.poll()
        }
      })
      t.setDaemon(true)
      t
    }
    val queue = new ConcurrentLinkedQueue[String]()
    roster.foreach(queue.add)
    val (_, concSec) = lap(s"concurrent x$nThreads") {
      val workers = (0 until nThreads)
        .map(i => worker(s"w$i", queue, (n, v) => hashes.put(n, v)))
      workers.foreach(_.start())
      workers.foreach(_.join())
    }
    spark.catalog.clearCache()
    val concurrentHashes =
      SortedMap.empty[String, String] ++
        scala.jdk.CollectionConverters.MapHasAsScala(hashes).asScala
    val diverged = roster.filter(n => concurrentHashes(n) != baseline(n))

    // ---- drill 2: simultaneous duplicate instances of the suspects ----
    val suspects = duplicateSuspects.filter(roster.contains)
    val dupDiverged = scala.collection.mutable.ArrayBuffer.empty[String]
    val (_, dupSec) = lap(s"duplicate x$dupN over ${suspects.size} suspects") {
      suspects.foreach { name =>
        val results = new ConcurrentLinkedQueue[String]()
        val gate = new CountDownLatch(1)
        val threads = (0 until dupN).map { i =>
          val t = new Thread(() => {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"d$i")
            gate.await()
            results.add(R14Determinism.runAndHash(spark, sfDir, name))
          })
          t.setDaemon(true)
          t.start()
          t
        }
        gate.countDown()
        threads.foreach(_.join())
        val got = scala.jdk.CollectionConverters
          .IteratorHasAsScala(results.iterator()).asScala.toSeq
        got.zipWithIndex.collect {
          case (v, i) if v != baseline(name) =>
            dupDiverged += s"$name#$i=$v(base=${baseline(name)})"
        }
        spark.catalog.clearCache()
      }
    }

    val errors = concurrentHashes.collect {
      case (n, v) if v.startsWith("ERR:") => s"concurrent/$n=$v" }.toSeq ++
      dupDiverged.filter(_.contains("=ERR:")).map(d => s"duplicate/$d")
    val pass = diverged.isEmpty && dupDiverged.isEmpty
    def r(x: Double, scale: Double) = math.round(x * scale) / scale
    val json = Bench.mapper.writeValueAsString(ListMap(
      "metric" -> "concurrency", "sf" -> sfDir,
      "n_queries" -> roster.size, "threads" -> nThreads, "dup_n" -> dupN,
      "serial_sec" -> r(serialSec, 10), "concurrent_sec" -> r(concSec, 10),
      "speedup" -> r(serialSec / concSec, 100),
      "duplicate_sec" -> r(dupSec, 10), "n_suspects" -> suspects.size,
      "diverged" -> diverged, "dup_diverged" -> dupDiverged.toSeq,
      "errors" -> errors, "pass" -> pass))
    println(json)
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
