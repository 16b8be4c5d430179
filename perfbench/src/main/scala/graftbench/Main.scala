package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{BenchMetricsListener, R14Determinism, SparkEntry, Tables}

/** Closed-loop benchmark client for graft. One thread runs a roster of
  * `SparkEntry.queries` on one `local[nproc]` session: each query's
  * function is called (its eager driver-side phase), and the frame it
  * returns is fully materialized to the `noop` sink. The next query
  * starts when the previous write returns.
  *
  * The harness writes a raw JSON record (its own spans in epoch
  * microseconds, Spark's events in epoch milliseconds); `run.py` turns
  * it into the benchmark's metrics. Usage:
  *
  * {{{
  * graftbench.Main --roster text_quality,bpe_train --data <dir>
  *   --seed 1 --seconds 5 [--passes 2] --trace 0 --out record.json
  *   [--kernels <dir>]
  * }}}
  */
object Main {
  final case class Opts(roster: Seq[String], data: String, seed: Long,
      seconds: Double, passes: Int, trace: Boolean, out: String,
      kernels: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("roster").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      need("data"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("passes", "1").toInt, need("trace") == "1", need("out"),
      m.get("kernels"))
  }

  /** The session every run measures: the settings graft.Bench uses, on
    * as many cores as the host has. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.ensureRegistered(s)
    s
  }

  // wall-clock microseconds on a monotonic base, comparable with the
  // epoch milliseconds Spark stamps its events with
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  private def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  private def write(path: String, v: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(path), v)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    // Hadoop's vectored parquet reads bypass the FileSystem statistics
    // Spark's task input bytes come from (a q1_agg lineitem scan reports
    // only its 17,841 footer bytes with them, 5,694,619 bytes without,
    // 600,000 rows either way), so the traced run reads without them
    if (o.trace)
      spark.sparkContext.hadoopConfiguration
        .set("parquet.hadoop.vectored.io.enabled", "false")

    val queries = SparkEntry.queries
    val unknown = o.roster.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val trace = new Trace
    val barrierListener = new BenchMetricsListener
    val tables = mutable.Set.empty[String]
    val scanSeen = new QueryExecutionListener {
      private def note(qe: QueryExecution): Unit = {
        val roots = fileRoots(qe.optimizedPlan)
        tables.synchronized(tables ++= roots)
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = note(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)
    }
    val sc = spark.sparkContext
    var attached = false
    def attach(): Unit = if (!attached) {
      sc.addSparkListener(trace)
      sc.addSparkListener(barrierListener)
      spark.streams.addListener(trace.streams)
      spark.listenerManager.register(scanSeen)
      attached = true
    }
    def settle(): Unit = {
      // every TaskEnd/JobEnd posted before this point is delivered once
      // the marker job's start reached the listener (BenchMetrics doc)
      sc.setLocalProperty(Trace.TagKey, "harness")
      try BenchMetricsListener.barrier(spark, barrierListener)
      finally sc.setLocalProperty(Trace.TagKey, null)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!trace.streamsSettled && System.nanoTime() < deadline) Thread.sleep(1)
    }
    def detach(): Unit = if (attached) {
      settle()
      spark.listenerManager.unregister(scanSeen)
      spark.streams.removeListener(trace.streams)
      sc.removeSparkListener(barrierListener)
      sc.removeSparkListener(trace)
      attached = false
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var nextId = 0
    // the frame each query returned on its latest execution; its digest
    // is the run's correctness check
    val latest = mutable.Map.empty[String, DataFrame]

    def runQuery(pass: Int, name: String, traced: Boolean): Unit = {
      nextId += 1
      val id = nextId
      def tag(phase: String): Unit =
        if (traced) sc.setLocalProperty(Trace.TagKey, s"$id/$phase")
      var error: String = null
      val t0 = nowUs()
      var t1 = t0
      try {
        tag("build")
        val df = queries(name)(spark, o.data)
        t1 = nowUs()
        tag("exec")
        df.write.format("noop").mode("overwrite").save()
        latest(name) = df
      } catch {
        case e: Throwable =>
          latest.remove(name)
          error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      } finally {
        if (traced) sc.setLocalProperty(Trace.TagKey, null)
      }
      val t2 = nowUs()
      if (error != null && t1 == t0) t1 = t2
      // persisted intermediates are dropped per query, as graft.Bench
      // does, so a later query never pays for an earlier one's cache
      // and a repeat never reads the previous execution's blocks
      spark.catalog.clearCache()
      execs += Map("id" -> id, "pass" -> pass, "query" -> name,
        "traced" -> traced, "t0" -> t0, "t1" -> t1, "t2" -> t2,
        "error" -> error)
    }

    def runPass(pass: Int, traced: Boolean): Unit = {
      if (traced) attach()
      // the cold pass keeps the roster's order, so the same query pays
      // the JVM's first-use costs in every run; steady passes are drawn
      // from the seed
      val order =
        if (pass == 0) o.roster
        else new Random(o.seed * 1000003L + pass).shuffle(o.roster)
      val g0 = gcMs()
      val t0 = nowUs()
      order.foreach(runQuery(pass, _, traced))
      val t1 = nowUs()
      val g1 = gcMs()
      if (traced) detach()
      passes += Map("pass" -> pass, "traced" -> traced, "t0" -> t0,
        "t1" -> t1, "driver_gc_ms" -> (g1 - g0))
    }

    val run0 = nowUs()
    // pass 0 is the cold pass: JIT, codegen and every per-JVM memoized
    // fixture, index and layout are paid here
    runPass(0, traced = o.trace)
    // steady passes until the measuring window is spent and --passes
    // ran; the traced run interleaves untraced and traced passes,
    // untraced first and last, so the warm-up trend does not bias the
    // overhead it reports
    val steady0 = System.nanoTime()
    var pass = 0
    val minPasses = if (o.trace) 3 else o.passes
    while (pass < minPasses ||
        (System.nanoTime() - steady0) / 1e9 < o.seconds) {
      pass += 1
      runPass(pass, traced = o.trace && pass % 2 == 0)
    }
    val run1 = nowUs()

    val record = mutable.LinkedHashMap[String, Any](
      "launch_ms" -> launchMs, "setup_s" -> setupS,
      "run_t0" -> run0, "run_t1" -> run1,
      "passes" -> passes.toList, "execs" -> execs.toList)

    if (o.trace) {
      record("trace") = trace.snapshot()
      record("scans") = scans(spark, o.data, tables.synchronized(tables.toSet))
      record("kernels") = o.kernels.map(k => kernels(spark, k)).getOrElse(Nil)
    }

    // correctness: the order-free content digest of the frame each
    // roster query returned on its last timed execution (re-executed
    // here, outside any timing); a query whose last execution failed
    // is digested from a fresh call
    record("digests") = o.roster.map { name =>
      val v =
        try {
          val df = latest.getOrElse(name, queries(name)(spark, o.data))
          val (n, h) = R14Determinism.contentHash(df)
          s"$n:$h"
        } catch {
          case e: Throwable =>
            s"ERR:${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      spark.catalog.clearCache()
      name -> v
    }.toMap
    latest.clear()

    // broadcast and shuffle blocks are released by Spark's cleaner only
    // after a GC has dropped their driver-side handles, asynchronously,
    // so collect until the figure settles
    val mem = ManagementFactory.getMemoryMXBean
    var used = Long.MaxValue
    var settled = false
    var rounds = 0
    while (!settled && rounds < 10) {
      System.gc()
      Thread.sleep(100)
      val now = mem.getHeapMemoryUsage.getUsed
      settled = math.abs(used - now) < 1L * 1024 * 1024
      used = now
      rounds += 1
    }
    record("heap_retained_bytes") = used
    record("heap_gc_rounds") = rounds
    record("stamp") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "driver_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.runtime.version"))
    spark.stop()
    write(o.out, record)
  }

  /** Root paths of every file relation a plan reads, subqueries and
    * the queries under write commands included. */
  private def fileRoots(plan: LogicalPlan): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def walk(p: LogicalPlan): Unit = {
      p match {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => out ++= h.location.rootPaths.map(_.toUri.getPath)
          case _ =>
        }
        case _ =>
      }
      p.children.foreach(walk)
      p.innerChildren.foreach { case c: LogicalPlan => walk(c); case _ => }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** `Tables.load` plus a noop write, for every table the traced passes
    * read under the data directory (median of three reads each). */
  private def scans(spark: SparkSession, data: String,
      roots: Set[String]): List[Map[String, Any]] = {
    val dir = Paths.get(data).toAbsolutePath.normalize
    val names = Tables.names.filter(t => roots.exists(r =>
      Paths.get(r).normalize == dir.resolve(s"$t.parquet")))
    names.map { t =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Tables.load(spark, data, t).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      Map("table" -> t, "s" -> times(1))
    }.toList
  }

  /** The native `graft_*` kernels, each called through its SQL function
    * over cached inputs built from the `documents` text and the
    * `embeddings` vectors, and materialized to noop (median of three). */
  private def kernels(spark: SparkSession, data: String): List[Map[String, Any]] = {
    val reps = 8
    val copies = spark.range(reps).withColumnRenamed("id", "copy")
    val docs = Tables.documents(spark, data)
      .crossJoin(copies)
      .select(col("text"), split(lower(col("text")), "\\s+").as("words"))
      .persist()
    val embs = Tables.embeddings(spark, data)
    val n = embs.count()
    val pairs = embs.as("a")
      .join(embs.as("b"), col("b.vec_id") === (col("a.vec_id") + 1) % n)
      .crossJoin(copies)
      .select(col("a.embedding").as("v"), col("b.embedding").as("w"))
      .persist()
    val docRows = docs.count()
    val pairRows = pairs.count()
    val docBytes = docs.select(sum(length(col("text")))).first().getLong(0)
    val vecBytes = 4L * embs.select(size(col("embedding"))).first().getInt(0)
    val cases = Seq(
      ("graft_minhash", docs, "graft_minhash(words, 64)", docRows, docBytes),
      ("graft_simhash", docs, "graft_simhash(words)", docRows, docBytes),
      ("graft_word_shingles", docs, "graft_word_shingles(words, 3)", docRows, docBytes),
      ("graft_word_ngrams", docs, "graft_word_ngrams(words, 2)", docRows, docBytes),
      ("graft_term_counts", docs,
        "graft_term_counts(text, 'the', 'and', 'der', 'und', 'le', 'et')",
        docRows, docBytes),
      ("graft_top_word_count", docs, "graft_top_word_count(words)", docRows, docBytes),
      ("graft_cosine", pairs, "graft_cosine(v, w)", pairRows, 2 * pairRows * vecBytes),
      ("graft_srp_buckets", pairs, "graft_srp_buckets(v, 16, 4)", pairRows,
        pairRows * vecBytes))
    val out = cases.map { case (k, df, e, rows, bytes) =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.selectExpr(e).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      Map("kernel" -> k, "s" -> times(1), "rows" -> rows, "bytes" -> bytes)
    }.toList
    docs.unpersist(); pairs.unpersist()
    out
  }
}
