package graft

import org.apache.spark.sql.execution.FormattedMode

/** Prints each named query's formatted physical plan:
  * `tools/runmain.sh graft.PlanAudit <sfDir> <query ...>`. The plan
  * record that is checked is PLAN_HASHES*.json (tools/planhash_diff.py);
  * this is the printer for reading one plan.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.PlanAudit <sfDir> <query ...>")
    val names = SparkEntry.roster(args.tail.toSeq)
    val spark = GraftSession("graft-plan-audit")
    try names.foreach { n =>
      println(s"== $n ==")
      println(SparkEntry.queries(n)(spark, args(0)).queryExecution
        .explainString(FormattedMode))
    } finally spark.stop()
  }
}
