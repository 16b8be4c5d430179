package graft

import org.apache.spark.sql.functions._

/** Engine-side pins for the two adversarial-relational edge classes
  * the DuckDB oracle CANNOT express (R15AdversarialRelGen doc,
  * "deliberate NON-inclusions"): on these inputs the oracle tool
  * either throws or follows different semantics, so the deployable
  * behavior is asserted here instead of via the hash gate. The last
  * case pins a NULL-key count the hostile rung's oracle did catch, so
  * tier-1 catches it too.
  */
class AdversarialRelSpec extends SparkSpec {
  import spark.implicits._

  test("json_extract is LENIENT on malformed JSON: null k, never a task " +
      "failure (DuckDB json_extract_string throws on the same input)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_advrel_json").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 1L, "view",
        1.0, """{"k": 3}"""),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:01:00"), 1L, "view",
        2.0, "{bad json"),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 00:02:00"), 1L, "click",
        3.0, """not json at all"""),
      (4L, java.sql.Timestamp.valueOf("2024-01-02 00:03:00"), 1L, "click",
        4.0, null))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("json_extract")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toMap
    // malformed/missing props contribute NULL k: counts keep the rows,
    // sums/avgs skip them — the deployable crawl-data behavior
    assert(out("view") == (2L, Some(3L), Some(3.0)))
    assert(out("click") == (2L, None, None))
  }

  test("data-derived divisors use try_divide: raw `/` THROWS under ANSI " +
      "(the Spark 4 default this engine runs with), try_divide yields the " +
      "NULL DuckDB's DOUBLE/0.0 gives, and min() skips it") {
    val df = Seq((100.0, 0.0), (90.0, 30.0), (80.0, 40.0))
      .toDF("price", "qty")
    // the crash class the r15 adversarial rung caught in
    // q2_min_cost_supp: one zero-quantity line killed the whole job
    val ex = intercept[Exception] {
      df.withColumn("unit", col("price") / col("qty")).collect()
    }
    assert(ex.getMessage.contains("DIVIDE_BY_ZERO"),
      s"expected ANSI DIVIDE_BY_ZERO, got: ${ex.getMessage.take(120)}")
    // the shipped form: NULL unit cost for the zero-qty line (exactly
    // DuckDB's native DOUBLE/0.0), and min() never elects it
    val tried = df.withColumn("unit", try_divide(col("price"), col("qty")))
    assert(tried.filter(col("unit").isNull).count() == 1)
    val mn = tried.agg(min(col("unit"))).head().getDouble(0)
    assert(mn == 2.0, s"min unit cost should be 2.0, got $mn")
  }

  test("agg_approx counts distinct NON-NULL keys, like DuckDB's " +
      "count(DISTINCT l_partkey): NULL keys never count as a part") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_advrel_approx").toString
    Seq[Option[Long]](Some(1L), Some(2L), Some(2L), None, Some(3L), None)
      .toDF("l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("agg_approx")(spark, dir).head()
    assert(r.getAs[Long]("exact_parts") == 3L)
    assert(r.getAs[Boolean]("approx_within_5pct"))
  }
}
