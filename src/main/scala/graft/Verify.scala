package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER=local-cluster[4,8,4096] runs the identical
    // gate across real executor JVMs (local[N] is one JVM, so
    // executor-side serialization is unobserved there), and
    // SPARK_GRAFT_MEMORY_FRACTION runs it as the forced-spill rung —
    // both handled by GraftSession.
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional subset (comma-separated names, same contract as Bench):
    // iterating on ONE oracle shouldn't re-dump all ~150, and the
    // cross-rung insurance runs at sf10 re-check targeted contracts.
    // The driver leaves this unset = full dump (queries.json below
    // still lists the full roster ONLY on full runs, so a subset dump
    // can't masquerade as a clean full gate).
    val subset = sys.env.get("SPARK_GRAFT_VERIFY_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    subset.foreach { qs =>
      val unknown = qs -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown verify queries: ${unknown.mkString(", ")}")
    }
    val selected = subset.fold(SparkEntry.queries)(qs =>
      SparkEntry.queries.view.filterKeys(qs).toMap)
    // normalized static-plan fingerprint per query (r12 judge ask #2)
    // — computed on the raw frame BEFORE the coalesce+write wrapper,
    // written to plan_hashes.json for tools/planhash_diff.py to gate
    // against the committed PLAN_HASHES.json baseline. A drifted hash
    // means the STATIC physical plan changed; the gate fails loudly
    // unless the baseline is consciously refreshed with a PLANS.md
    // touch (the automated form of the r11 hand plan canaries).
    val planHashes = scala.collection.mutable.SortedMap.empty[String, String]
    // per-query execution accounting (same listener Bench publishes):
    // the forced-spill rung needs PROOF the starved run actually
    // spilled, per query, inside the gate artifact itself
    val listener = new BenchMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val spillStats = scala.collection.mutable.SortedMap.empty[String,
      BenchMetricsListener.Snapshot]
    selected.foreach { case (name, fn) =>
      try {
        val before = BenchMetricsListener.snapshot(listener)
        val df = fn(spark, sfDir)
        planHashes(name) =
          try PlanHash.fingerprint(df) catch { case _: Throwable => "err" }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        BenchMetricsListener.barrier(spark, listener)
        spillStats(name) = BenchMetricsListener.snapshot(listener).minus(before)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same per-query cache discipline as Bench: operators persist()
      // intermediates and leave release to LRU, so a 100+-query run
      // would otherwise accumulate every query's frames and make later
      // queries pay eviction/spill for earlier ones'
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full query roster: lets the comparator flag a query that crashed
    // (no output dir) as FAIL instead of silently dropping it. On a
    // subset run the roster is the SUBSET — the full roster would make
    // the comparator report every unselected query as crashed.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/plan_hashes.json"),
      planHashes.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/spill_metrics.json"),
      spillStats.map { case (k, m) =>
        s"${q(k)}: {\"shuffle_read\":${m.shuffleRead}," +
          s"\"shuffle_write\":${m.shuffleWrite}," +
          s"\"mem_spill\":${m.memSpill},\"disk_spill\":${m.diskSpill}," +
          s"\"peak_task_mem\":${m.peakTaskMem}}"
      }.mkString("{", ",", "}"))
    spark.stop()
  }
}
