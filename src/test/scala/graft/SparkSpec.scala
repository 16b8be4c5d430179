package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Two vectors (vec_id 1, 2) whose cosine is 1900001 / 2e6 =
    * 0.9500005 in double arithmetic — every term and squared norm is
    * an exact integer — a 7th-decimal tie that Spark's round(·, 6)
    * takes HALF_UP to 0.950001. */
  def cosineTie: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, Array(1f, 0f, 0f, 0f, 0f)),
      (2L, Array(1900001f, 624495f, 1481f, 38f, 13f))).toDF("vec_id", "embedding")
  }

  /** A clone of the shared session whose broadcast threshold is
    * `bytes`: every size-driven broadcast ceiling in the operators
    * scales from it, so 1 puts any real input above the ceiling. */
  def thresholdSession(bytes: Long): SparkSession =
    SparkSpec.thresholdSession(spark, bytes)

  /** `df`'s rows as a local relation of session `s`. */
  def localCopy(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(df.collectAsList(), df.schema)

  /** Whether a join in `df`'s optimized plan carries an explicit
    * broadcast hint — the side of a broadcast-ceiling decision the
    * operator took, whatever Catalyst's own size planning adds. */
  def hasBroadcastHint(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast")
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.ensureRegistered(s)
    s
  }

  def thresholdSession(s: SparkSession, bytes: Long): SparkSession = {
    val c = s.newSession()
    c.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
    graft.plans.GraftExtensions.ensureRegistered(c)
    c
  }

  /** Whether [[graft.operators.Dedup.components]] union-found the graph
    * on the driver (its labels are a local relation) rather than
    * running the star loop. */
  def componentsOnDriver(labels: DataFrame): Boolean =
    labels.queryExecution.executedPlan.toString.contains("LocalTableScan")
}
