package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for graft's mains, so every harness
  * (Bench, Verify, the determinism/concurrency/soak drills, the data
  * generators) measures the same configuration. Environment:
  *
  *  - `SPARK_GRAFT_MASTER` — master URL; default `local[<cpus>]`.
  *    `local-cluster[n,c,mb]` runs the same code across real executor
  *    JVMs (needs SPARK_HOME and SPARK_SCALA_VERSION set).
  *  - `SPARK_GRAFT_CPUS` — cores of the default local master; default
  *    the host's available processors (nproc).
  *  - `SPARK_GRAFT_SHUFFLE_PARTITIONS` — default 32, the benchmark's
  *    setting.
  *  - `SPARK_GRAFT_MEMORY_FRACTION` — the forced-spill rung: starves
  *    `spark.memory.fraction` and applies the retry/exclusion/read-ahead
  *    settings that rung needs (see [[spillRung]]).
  *
  * Sessions run in UTC with the UI off and graft's native expressions
  * registered. AQE and its skew-join handling are Spark 4.1 defaults
  * and are not restated.
  */
object GraftSession {

  /** Where graft's classes were loaded from: the compiled-classes
    * directory (or jar) executor JVMs need on their classpath, since a
    * `local-cluster` executor does not inherit the driver's `-cp`. */
  def classesDir: String =
    Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      .toString

  /** Settings for the forced-spill rung at memory fraction `f`.
    *
    * Starving `spark.memory.fraction` (with a small heap via
    * SPARK_DRIVER_MEM) makes the SortMergeJoin/hash-agg/window spill
    * paths execute for real; tools/spillverify.sh runs the full gate
    * this way and requires per-family spill > 0.
    *
    * The starved rung runs real executor JVMs at deployment-sized
    * heaps, so an UNMANAGED-heap-hungry task can kill its executor
    * (observed: exit 52 = executor OOM during agg_approx's exact
    * countDistinct partials). With all retries on one host, default
    * scheduling re-offered the task to the dying executor 4 times and
    * aborted the job before the standalone worker relaunched it. Match
    * what a real cluster does: more attempts + executor-level exclusion
    * after a failure, with NODE-level exclusion effectively off (every
    * executor here shares localhost).
    *
    * The rung's other observed OOM was the spill MERGE: every spill
    * file's UnsafeSorterSpillReader allocates an unmanaged 1 MiB buffer
    * plus two read-ahead buffers, so a task starved into N spill files
    * pays ~3N MiB of heap at merge time. Disabling read-ahead removes
    * the two extra buffers per file (the reader buffer itself is
    * floor-capped at 1 MiB by Spark's config validation).
    */
  def spillRung(f: String): Map[String, String] = Map(
    "spark.memory.fraction" -> f,
    "spark.task.maxFailures" -> "8",
    "spark.excludeOnFailure.enabled" -> "true",
    "spark.excludeOnFailure.stage.maxFailedTasksPerNode" -> "1000000",
    "spark.excludeOnFailure.application.maxFailedExecutorsPerNode" -> "1000000",
    "spark.unsafe.sorter.spill.read.ahead.enabled" -> "false")

  /** The session's Spark settings: a pure function of the environment
    * and the caller's conf, which wins over every default. */
  def settings(env: Map[String, String],
      conf: Map[String, String] = Map.empty): Map[String, String] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val master = conf.getOrElse("spark.master",
      env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
    val base = Map(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" ->
        env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> classOf[graft.plans.GraftExtensions].getName)
    val cluster =
      if (master.startsWith("local-cluster"))
        Map("spark.executor.extraClassPath" -> classesDir)
      else Map.empty[String, String]
    val spill = env.get("SPARK_GRAFT_MEMORY_FRACTION").fold(
      Map.empty[String, String])(spillRung)
    base ++ cluster ++ spill ++ conf
  }

  def apply(appName: String,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder().appName(appName)
      .config(settings(sys.env, conf)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
