package graft

import java.io.File

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** graft's per-query timer: one closed loop over a roster of queries on
  * one session, timing each query's fully materialized result (the
  * `noop` sink; `.count()` would let Catalyst prune computed columns).
  * Pass-major, like perfbench: one cold pass in roster order, then
  * [[SteadyPasses]] steady passes. Each execution times the query
  * function (build: its eager driver-side phase) and the noop write
  * separately, and ends with `catalog.clearCache()`, so no execution
  * reads an earlier one's persisted blocks. Steady executions also take
  * [[BenchMetricsListener]] deltas, barriers outside the timed window.
  *
  * `tools/runmain.sh graft.Bench <sfDir> <out.json> [query ...]`; no
  * queries means all of `SparkEntry.queries`. The record goes to
  * `out.json` only when no query failed and the run was quiet
  * (`total <= NoiseBound * min_sum`); otherwise the file is left as it
  * was, each failure goes to stderr and the exit code is 1. stdout gets
  * one summary line either way.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  val SteadyPasses = 3
  /** Steady total over the sum of per-query minima past which the run
    * was measured in a noisy window and is not worth keeping. */
  val NoiseBound = 1.15

  final case class QueryRecord(coldS: Option[Double], buildS: Option[Double],
      medianS: Option[Double], minS: Option[Double], shuffleRead: Long,
      shuffleWrite: Long, spillMem: Long, spillDisk: Long, peakTaskMem: Long,
      error: Option[String])
  final case class Stamp(master: String, defaultParallelism: Int,
      driverMaxHeapMb: Long, shufflePartitions: Int, sparkVersion: String,
      jdk: String, sfDir: String, steadyPasses: Int, roster: Seq[String])
  final case class Record(total: Double, totalCold: Double, minSum: Double,
      failed: Int, nQueries: Int, stamp: Stamp,
      queries: ListMap[String, QueryRecord]) {
    def noisy: Boolean = total > NoiseBound * minSum
  }

  private final case class Exec(buildS: Double, totalS: Double,
      error: Option[String], delta: Option[BenchMetricsListener.Snapshot])

  /** Also writes Verify's gate files. */
  private[graft] val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0
  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def measure(spark: SparkSession, sfDir: String,
              roster: Seq[(String, Query)]): Record = {
    import BenchMetricsListener.{barrier, snapshot, Snapshot}
    val metrics = new BenchMetricsListener
    val sc = spark.sparkContext
    def snap() = { barrier(spark, metrics); snapshot(metrics) }
    def exec(fn: Query, steady: Boolean): Exec = {
      val before = if (steady) Some(snap()) else None
      val t0 = System.nanoTime()
      var t1 = t0
      val error = try {
        val df = fn(spark, sfDir)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val t2 = System.nanoTime()
      spark.catalog.clearCache()
      Exec((t1 - t0) / 1e9, (t2 - t0) / 1e9, error, before.map(snap().minus(_)))
    }
    sc.addSparkListener(metrics)
    val passes = try (0 to SteadyPasses).map(p => roster.map(q => exec(q._2, p > 0)))
      finally sc.removeSparkListener(metrics)
    val queries = ListMap(roster.indices.map { i =>
      val cold = passes.head(i)
      val steady = passes.tail.map(_(i))
      val error = (cold +: steady).flatMap(_.error).headOption
      def ok(x: => Double) = if (error.isEmpty) Some(r3(x)) else None
      val d = steady.filter(_.error.isEmpty).flatMap(_.delta).lastOption
        .getOrElse(Snapshot(-1, -1, -1, -1, -1))
      roster(i)._1 -> QueryRecord(ok(cold.totalS), ok(median(steady.map(_.buildS))),
        ok(median(steady.map(_.totalS))), ok(steady.map(_.totalS).min),
        d.shuffleRead, d.shuffleWrite, d.memSpill, d.diskSpill, d.peakTaskMem, error)
    }: _*)
    def sum(f: QueryRecord => Option[Double]) = r3(queries.values.flatMap(f).sum)
    Record(sum(_.medianS), sum(_.coldS), sum(_.minS),
      queries.values.count(_.error.isDefined), queries.size,
      Stamp(sc.master, sc.defaultParallelism, Runtime.getRuntime.maxMemory >> 20,
        spark.conf.get("spark.sql.shuffle.partitions").toInt, spark.version,
        System.getProperty("java.version"), sfDir, SteadyPasses, queries.keys.toSeq),
      queries)
  }

  /** Writes `record` to `out` only when the run is clean (no failure,
    * not noisy), prints the summary line, and returns whether it wrote. */
  def publish(record: Record, out: String): Boolean = {
    val clean = record.failed == 0 && !record.noisy
    if (clean) mapper.writerWithDefaultPrettyPrinter().writeValue(new File(out), record)
    else {
      for ((q, r) <- record.queries; e <- r.error) System.err.println(s"[bench] $q failed: $e")
      if (record.noisy) System.err.println(s"[bench] noisy: total ${record.total} s > $NoiseBound x min_sum")
      System.err.println(s"[bench] $out not written")
    }
    println(mapper.writeValueAsString(ListMap("total" -> record.total,
      "total_cold" -> record.totalCold, "min_sum" -> record.minSum,
      "failed" -> record.failed, "n_queries" -> record.nQueries,
      "noisy" -> record.noisy, "written" -> clean)))
    clean
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Bench <sfDir> <out.json> [query ...]")
    val all = SparkEntry.queries
    val names = SparkEntry.roster(args.drop(2).toSeq)
    val spark = GraftSession("graft-bench")
    val clean = try publish(measure(spark, args(0), names.map(n => n -> all(n))), args(1))
      finally spark.stop()
    if (!clean) sys.exit(1)
  }
}
