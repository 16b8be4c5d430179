package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{lit, raise_error}

/** The Bench loop on the shared session at sf0.001: the record it
  * writes, its write rule, and its per-execution cache discipline.
  */
class BenchSpec extends SparkSpec {
  private def real(name: String) = name -> SparkEntry.queries(name)
  private def tmpOut(): Path = {
    val out = Files.createTempFile("graft_bench", ".json")
    Files.delete(out)
    out
  }

  test("a clean 2-query run writes a noop-timed record with stamp and roster") {
    // a fixed 2 s build keeps the run under the noise bound on a busy
    // host, so the write rule, not the host, decides this case
    val padded: Bench.Query = (s, _) => { Thread.sleep(2000); s.range(10).toDF("id") }
    val rec = Bench.measure(spark, sf0001, Seq(real("q1_agg"), "padded" -> padded))
    assert(rec.failed == 0 && rec.nQueries == 2 && !rec.noisy)
    rec.queries.values.foreach { r =>
      assert(r.error.isEmpty)
      Seq(r.coldS, r.buildS, r.medianS, r.minS).foreach(t => assert(t.exists(_ >= 0), r))
      assert(r.buildS.get <= r.medianS.get && r.minS.get <= r.medianS.get, r)
    }
    assert(rec.queries("padded").buildS.get >= 2.0)
    assert(rec.stamp.master == spark.sparkContext.master)
    assert(rec.stamp.defaultParallelism == spark.sparkContext.defaultParallelism)
    assert(rec.stamp.shufflePartitions == 4 && rec.stamp.steadyPasses == 3)
    assert(rec.stamp.roster == Seq("q1_agg", "padded") && rec.stamp.sfDir == sf0001)
    assert(rec.stamp.driverMaxHeapMb > 0 && rec.stamp.sparkVersion == spark.version)

    val out = tmpOut()
    assert(Bench.publish(rec, out.toString))
    val json = new ObjectMapper().readTree(out.toFile)
    assert(json.get("n_queries").asInt == 2 && json.get("failed").asInt == 0)
    assert(json.get("total").asDouble == rec.total)
    val q1 = json.get("queries").get("q1_agg")
    Seq("cold_s", "build_s", "median_s", "min_s").foreach(k =>
      assert(q1.get(k).asDouble >= 0, k))
    assert(q1.get("error").isNull && q1.has("shuffle_read"))
    assert(json.get("stamp").get("roster").size == 2)
  }

  test("a failing query is recorded with its exception and the out file is left as it was") {
    val boomBuild: Bench.Query = (_, _) =>
      throw new IllegalStateException("planted build failure")
    // count() prunes the raising column; only the materialized result fails
    val boomExec: Bench.Query = (s, _) =>
      s.range(3).withColumn("x", raise_error(lit("planted exec failure")))
    assert(boomExec(spark, sf0001).count() == 3)
    val rec = Bench.measure(spark, sf0001,
      Seq(real("q1_agg"), "boom_build" -> boomBuild, "boom_exec" -> boomExec))
    assert(rec.failed == 2)
    assert(rec.queries("boom_build").error.contains(
      "java.lang.IllegalStateException: planted build failure"))
    assert(rec.queries("boom_exec").error.exists(_.contains("planted exec failure")))
    assert(rec.queries("boom_build").medianS.isEmpty)
    assert(rec.queries("q1_agg").error.isEmpty && rec.queries("q1_agg").medianS.nonEmpty)

    val out = tmpOut()
    val before = "{\"previous\":\"record\"}\n".getBytes("UTF-8")
    Files.write(out, before)
    assert(!Bench.publish(rec, out.toString))
    assert(Files.readAllBytes(out).sameElements(before))
  }

  test("no persisted frame survives into the next execution") {
    def ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val persisted = mutable.Set.empty[Int]
    val survived = mutable.Buffer.empty[Set[Int]]
    val persist: Bench.Query = (s, _) => {
      val before = ids
      val df = s.range(1000).toDF("id").persist()
      df.count()
      persisted ++= ids -- before
      df
    }
    val probe: Bench.Query = (s, _) => {
      survived += ids.intersect(persisted)
      s.range(1).toDF("id")
    }
    Bench.measure(spark, sf0001, Seq("persist" -> persist, "probe" -> probe))
    assert(persisted.nonEmpty)
    assert(survived.size == 1 + Bench.SteadyPasses)
    assert(survived.forall(_.isEmpty), survived)
    assert(ids.intersect(persisted).isEmpty)
  }
}
