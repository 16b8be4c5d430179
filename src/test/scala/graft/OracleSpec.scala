package graft

import java.nio.file.Files

import scala.sys.process.{Process, ProcessLogger}

import org.apache.commons.io.FileUtils

/** The oracle gate in tier-1: Verify's dump of the full roster at
  * sf0.01, checked value for value against DuckDB by tools/compare.py
  * and plan for plan against the committed PLAN_HASHES.json by
  * tools/planhash_diff.py. QueriesSmokeSpec sees that each query runs
  * and returns rows; only this spec sees a wrong value.
  */
class OracleSpec extends SparkSpec {
  private val sf001 = "/root/testdata/sf0.01"

  private def python(args: String*): (Int, String) = {
    val log = new StringBuilder
    val line: String => Unit = l => log.synchronized { log.append(l).append('\n') }
    val rc = Process("python3" +: args).!(ProcessLogger(line, line))
    (rc, log.toString)
  }

  test("every query matches its DuckDB oracle and its plan fingerprint at sf0.01") {
    val out = Files.createTempDirectory("graft_oracle").toFile
    try {
      val roster = SparkEntry.roster(Nil)
      val failures = Verify.dump(spark, sf001, out.toString, roster)
      assert(failures.isEmpty, s"queries threw: $failures")

      val (rc, compared) = python("tools/compare.py", sf001, out.toString)
      val verdicts = compared.linesIterator.filterNot(_.startsWith("PASS "))
        .mkString("\n")
      assert(rc == 0, verdicts)
      assert(compared.contains(s"== ${roster.size} pass, 0 fail, 0 rows-only =="),
        verdicts)

      val (rcPlan, planned) =
        python("tools/planhash_diff.py", sf001, s"$out/plan_hashes.json")
      assert(rcPlan == 0, planned)
      assert(planned.contains(
        s"== plan gate: ${roster.size} fingerprints match baseline =="), planned)
    } finally FileUtils.deleteDirectory(out)
  }
}
