package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.{ListMap, SortedMap}

import org.apache.spark.scheduler.{SparkListener, SparkListenerSpeculativeTaskSubmitted, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Redundant-execution determinism contract over the FULL gate roster
  * (round 14): at 1000-executor scale every query runs under task
  * retries (fetch failures, preemption), speculative duplicates, and
  * whatever partitioning the cluster happens to give it — and the
  * results must not depend on any of that. The DuckDB gate proves the
  * plans compute the right answer ONCE on a healthy topology; this
  * harness proves the answer is a function of the DATA, not of the
  * execution history, by re-running the whole roster under:
  *
  *   1. `invariance` — shuffle-partition counts 5 and 97 (vs the
  *      session's, 32 by default) with AQE toggled off/on. Catches
  *      ordering- and partition-count-dependent results (un-tiebroken
  *      limits, float summation order leaking into output,
  *      partition-id maths).
  *   2. `retry` — a [[Chaos.KillListener]] kill-and-reschedules the
  *      first attempt of every 3rd task of every stage (public
  *      `killTaskAttempt`; TaskKilled never counts toward
  *      maxFailures). Catches attempt-dependent state: unstable rand
  *      seeds, accumulator-driven logic, non-idempotent side writes.
  *   3. `speculation` — the full roster under
  *      `local-cluster[4,8,4096]` (the r13 multi-JVM gate topology)
  *      with speculation forced (quantile 0, multiplier 1, efficiency
  *      gate off). IMPORTANT single-host limit, measured in SCALING.md
  *      ("r14: redundant-execution determinism"): the scheduler MARKS
  *      stragglers speculatable (SparkListenerSpeculativeTaskSubmitted
  *      observed), but a speculative COPY may only launch on a host
  *      with no running attempt of that task
  *      (TaskSetManager.dequeueSpeculativeTask's one-attempt-per-host
  *      rule) — and every local-cluster executor
  *      shares localhost, so launches are structurally impossible on
  *      one machine. The pass criterion is therefore marked > 0
  *      (scheduler engaged + roster content unchanged while it was
  *      engaged); the concurrent-duplicate-attempt RACE itself is the
  *      same re-execution class the retry drill and ClusterFaultSpec's
  *      executor kills exercise, and the first-wins commit is the
  *      output committer's contract.
  *
  * Comparison is content-level, the driver comparator's exact
  * semantics in-JVM (tools/compare.py): columns sorted by name, every
  * cell rendered exactly (floats via toString — NO rounding; the gate
  * queries already hash-match DuckDB exactly, so exact stability is
  * the standing bar), rows sorted, SHA-256.
  *
  * `SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 tools/runmain.sh \
  *    graft.R14Determinism <sfDir> [modes-csv [query ...]]`
  * (modes default: invariance,retry,speculation,clusterchaos; no
  * queries means the full roster). The JSON record is the last stdout
  * line; the main writes no file.
  *
  * Dev/measurement harness — not part of the library surface.
  */
object R14Determinism {

  /** Exact cell rendering — mirrors tools/compare.py's repr-based
    * norm_cell: no rounding anywhere, NaN normalized, nested
    * arrays/structs/maps/binary rendered canonically (maps sorted —
    * their iteration order is not part of the result). */
  def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: java.lang.Double => if (d.isNaN) "NaN" else d.toString
    case f: java.lang.Float => if (f.isNaN) "NaN" else f.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case b: Array[Byte] => "0x" + b.map(x => f"$x%02x").mkString
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, w) => cell(k) + "\u0002" + cell(w) }
        .sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => cell(r.get(i))).mkString("(", ",", ")")
    case x => x.toString
  }

  /** Order-free content fingerprint: (rowCount, sha256 over the
    * column-name header + sorted canonical rows). */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(col).toIndexedSeq: _*).collect()
    val lines = new Array[String](rows.length)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      lines(i) = (0 until r.length).map(j => cell(r.get(j))).mkString("\u0001")
      i += 1
    }
    java.util.Arrays.sort(lines, java.util.Comparator.naturalOrder[String]())
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.mkString("\u0001").getBytes("UTF-8"))
    lines.foreach { l => md.update(0: Byte); md.update(l.getBytes("UTF-8")) }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  /** One query's fingerprint as "rows:sha256", or ERR:<class>:<msg>
    * when it throws — a failing query is recorded, not fatal to the
    * sweep. */
  def runAndHash(spark: SparkSession, sfDir: String, name: String): String =
    try {
      val (n, h) = contentHash(SparkEntry.queries(name)(spark, sfDir))
      s"$n:$h"
    } catch {
      case e: Throwable => s"ERR:${e.getClass.getSimpleName}:" +
        String.valueOf(e.getMessage).take(120).replaceAll("[\\r\\n\"]", " ")
    }

  /** Run every roster query and fingerprint it ([[runAndHash]]). Same
    * per-query cache discipline as Verify. */
  def runRoster(spark: SparkSession, sfDir: String,
      roster: Seq[String]): SortedMap[String, String] =
    roster.foldLeft(SortedMap.empty[String, String]) { (out, name) =>
      val v = runAndHash(spark, sfDir, name)
      spark.catalog.clearCache()
      out + (name -> v)
    }

  /** Forced speculation under real executor JVMs: quantile 0 and
    * multiplier 1 mark every task past the median as a straggler; the
    * efficiency gate would otherwise speculate only tasks its metrics
    * judge inefficient. */
  private val speculationConf = Map(
    "spark.master" -> "local-cluster[4,8,4096]",
    "spark.speculation" -> "true",
    "spark.speculation.interval" -> "20ms",
    "spark.speculation.multiplier" -> "1.0",
    "spark.speculation.quantile" -> "0.0",
    "spark.speculation.minTaskRuntime" -> "0ms",
    "spark.speculation.efficiency.enabled" -> "false")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val modes: Set[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSet
      else Set("invariance", "retry", "speculation", "clusterchaos")
    val roster = SparkEntry.roster(args.drop(2).toSeq)

    val configs = scala.collection.mutable.LinkedHashMap
      .empty[String, SortedMap[String, String]]
    var retryStats = (0L, 0L)
    var clusterRetryStats = (0L, 0L)
    val speculativeMarked = new AtomicLong(0)
    val speculativeLaunched = new AtomicLong(0)

    // per-config wall, persisted to the artifact so the drill's cost
    // is a standing number (SCALING "determinism harness, priced"),
    // not a one-off stderr scrape. Walls include session-constant
    // overhead (fixture builds, codegen) amortized across the roster;
    // the first config additionally pays session startup.
    val walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // ---- session 1: baseline + runtime-conf sweeps + kill drill ----
    val s1 = GraftSession("graft-determinism")
    val basePartitions = s1.conf.get("spark.sql.shuffle.partitions")
    val baseKey = s"baseline_p${basePartitions}_aqe"
    def t0 = System.nanoTime()
    var t = t0
    def lap(tag: String, key: String = ""): Unit = {
      val now = System.nanoTime()
      val sec = (now - t) / 1e9
      System.err.println(f"[determinism] $tag done in $sec%.1f s")
      if (key.nonEmpty) walls(key) = math.round(sec * 10) / 10.0
      t = now
    }
    configs(baseKey) = runRoster(s1, sfDir, roster)
    lap(baseKey, baseKey)
    if (modes("invariance")) {
      s1.conf.set("spark.sql.shuffle.partitions", "5")
      s1.conf.set("spark.sql.adaptive.enabled", "false")
      configs("p5_noaqe") = runRoster(s1, sfDir, roster)
      lap("p5_noaqe", "p5_noaqe")
      s1.conf.set("spark.sql.shuffle.partitions", "97")
      s1.conf.set("spark.sql.adaptive.enabled", "true")
      configs("p97_aqe") = runRoster(s1, sfDir, roster)
      lap("p97_aqe", "p97_aqe")
      s1.conf.set("spark.sql.shuffle.partitions", basePartitions)
    }
    if (modes("retry")) {
      val (res, req, landed) =
        Chaos.withTaskKills(s1, everyK = 3)(runRoster(s1, sfDir, roster))
      configs("retry_kills") = res
      retryStats = (req, landed)
      lap(s"retry_kills (requested=$req landed=$landed)", "retry_kills")
    }
    s1.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // ---- session 2: forced speculation under real executor JVMs ----
    if (modes("speculation")) {
      val s2 = GraftSession("graft-determinism-spec", speculationConf)
      s2.sparkContext.addSparkListener(new SparkListener {
        override def onTaskStart(e: SparkListenerTaskStart): Unit =
          if (e.taskInfo.speculative) speculativeLaunched.incrementAndGet()
        override def onSpeculativeTaskSubmitted(
            e: SparkListenerSpeculativeTaskSubmitted): Unit =
          speculativeMarked.incrementAndGet()
      })
      // straggler canary: one deliberately skewed stage guarantees the
      // speculation scheduler ENGAGES during this session even if the
      // roster's own stages finish too uniformly to trip it
      val canary = s2.sparkContext.parallelize(0 until 8, 8).map { i =>
        Thread.sleep(if (i == 7) 4000 else 100); i
      }.collect().sum
      require(canary == 28, s"canary sum $canary != 28")
      configs("speculation_cluster") = runRoster(s2, sfDir, roster)
      lap(s"speculation_cluster (marked=${speculativeMarked.get()} " +
        s"launched=${speculativeLaunched.get()})", "speculation_cluster")
      // maximal-chaos pass: kill-and-reschedule WHILE speculation is
      // engaged, across real executor JVMs — task retries now also
      // pay broadcast rehydration, closure transport, and remote
      // shuffle fetches, the exact combination a lossy production
      // cluster serves
      if (modes("clusterchaos")) {
        val (res, req, landed) =
          Chaos.withTaskKills(s2, everyK = 3)(runRoster(s2, sfDir, roster))
        configs("cluster_kills") = res
        clusterRetryStats = (req, landed)
        lap(s"cluster_kills (requested=$req landed=$landed)", "cluster_kills")
      }
      s2.stop()
    }

    // ---- compare everything to the baseline ----
    val base = configs(baseKey)
    val diverged = configs.toSeq.drop(1).map { case (cfg, m) =>
      cfg -> roster.filter(n => m(n) != base(n))
    }
    val errors = configs.toSeq.flatMap { case (cfg, m) =>
      m.collect { case (n, v) if v.startsWith("ERR:") => s"$cfg/$n=$v" }
    }
    val nDiverged = diverged.map(_._2.size).sum
    val pass = nDiverged == 0 && errors.isEmpty &&
      (!modes("retry") || retryStats._2 > 0) &&
      (!modes("speculation") || speculativeMarked.get() > 0) &&
      (!(modes("speculation") && modes("clusterchaos")) ||
        clusterRetryStats._2 > 0)
    val detail = ListMap(diverged.map { case (cfg, bad) =>
      cfg -> bad.map(n =>
        ListMap(n -> ListMap("base" -> base(n), "got" -> configs(cfg)(n))))
    }: _*)
    val json = Bench.mapper.writeValueAsString(ListMap(
      "metric" -> "determinism", "sf" -> sfDir, "n_queries" -> roster.size,
      "configs" -> configs.keys.toSeq, "diverged" -> detail,
      "n_diverged" -> nDiverged, "errors" -> errors,
      "retry_requested" -> retryStats._1, "retry_landed" -> retryStats._2,
      "cluster_kills_requested" -> clusterRetryStats._1,
      "cluster_kills_landed" -> clusterRetryStats._2,
      "speculative_marked" -> speculativeMarked.get(),
      "speculative_launched" -> speculativeLaunched.get(),
      "walls_sec" -> ListMap(walls.toSeq: _*), "pass" -> pass))
    println(json)
    if (!pass) sys.exit(1)
  }
}
