package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Entry contract — see SURVEY.md §2 for the inventory.
  * `queries` is the union of the per-family suites; every SQL-
  * expressible operator also appears in `oracleSql` with matching
  * column names (the driver hash-compares against DuckDB).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The 6-table broadcast star join exercises the most plan
    * surface.
    */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q5_multijoin")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every
    * query runs with graft's native expressions registered (the
    * library surface assumes them — e.g. TextFunctions.shingles).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (RelationalQueries.queries ++
      TemporalQueries.queries ++
      EtlQueries.queries ++
      TextQueries.queries ++
      DedupQueries.queries ++
      SimilarityQueries.queries ++
      RetrievalQueries.queries ++
      SourceQueries.queries ++
      LayoutQueries.queries ++
      StreamQueries.queries)
      .map { case (name, fn) =>
        name -> { (s: SparkSession, d: String) =>
          graft.plans.GraftExtensions.ensureRegistered(s)
          fn(s, d)
        }
      }

  /** DuckDB-runnable oracle per SQL-expressible query (same column
    * names/aliases as the Spark side; rows-only ops are omitted).
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++
      TemporalQueries.oracles ++
      EtlQueries.oracles ++
      TextQueries.oracles ++
      DedupQueries.oracles ++
      SimilarityQueries.oracles ++
      RetrievalQueries.oracles ++
      SourceQueries.oracles ++
      LayoutQueries.oracles ++
      StreamQueries.oracles
}
