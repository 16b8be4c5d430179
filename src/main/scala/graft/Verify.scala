package graft

import java.io.File

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.SparkSession

/** Correctness dump for the DuckDB gate: each roster query's result as
  * parquet under `outDir/<query>`, plus `oracle_sql.json`,
  * `queries.json`, `plan_hashes.json` and `spill_metrics.json`, which
  * tools/compare.py, tools/planhash_diff.py, tools/crossrung_compare.py
  * and tools/spillreport.py read.
  *
  * `tools/runmain.sh graft.Verify <sfDir> <outDir> [query ...]`; no
  * queries means all of `SparkEntry.queries`. The session is
  * GraftSession's, so `SPARK_GRAFT_MASTER=local-cluster[...]` runs the
  * gate across real executor JVMs and `SPARK_GRAFT_MEMORY_FRACTION`
  * runs it as the forced-spill rung.
  */
object Verify {

  /** Dumps `roster` into `outDir` and returns the queries that threw,
    * with their exception. A failed query leaves no output directory,
    * which compare.py reports as FAIL. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      roster: Seq[String]): SortedMap[String, String] = {
    new File(outDir).mkdirs()
    var failures = SortedMap.empty[String, String]
    // normalized static-plan fingerprint per query, computed on the raw
    // frame before the coalesce+write wrapper; a drifted hash means the
    // static physical plan changed
    var planHashes = SortedMap.empty[String, String]
    // per-query execution accounting: the forced-spill rung needs proof,
    // inside the gate's own output, that each starved query spilled
    var spillStats = SortedMap.empty[String, BenchMetricsListener.Snapshot]
    val listener = new BenchMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try roster.foreach { name =>
      try {
        val before = BenchMetricsListener.snapshot(listener)
        val df = SparkEntry.queries(name)(spark, sfDir)
        planHashes += name ->
          (try PlanHash.fingerprint(df) catch { case _: Throwable => "err" })
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        BenchMetricsListener.barrier(spark, listener)
        spillStats += name -> BenchMetricsListener.snapshot(listener).minus(before)
      } catch { case e: Throwable =>
        failures += name -> s"${e.getClass.getName}: ${e.getMessage}"
      }
      // operators persist() intermediates and leave release to LRU, so a
      // 100+-query run would otherwise make later queries pay
      // eviction/spill for earlier ones' frames
      spark.catalog.clearCache()
    } finally spark.sparkContext.removeSparkListener(listener)
    def write(file: String, value: Any): Unit =
      Bench.mapper.writeValue(new File(s"$outDir/$file"), value)
    write("oracle_sql.json", SortedMap.empty[String, String] ++ SparkEntry.oracleSql)
    // what was dumped: compare.py reports a roster query without output
    // as crashed, so a subset run must not list the full inventory
    write("queries.json", roster.sorted)
    write("plan_hashes.json", planHashes)
    write("spill_metrics.json", spillStats)
    failures
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [query ...]")
    val roster = SparkEntry.roster(args.drop(2).toSeq)
    val spark = GraftSession("graft-verify")
    try for ((name, e) <- dump(spark, args(0), args(1), roster))
      System.err.println(s"[verify] $name failed: $e")
    finally spark.stop()
  }
}
