package graft.tools

import graft.SparkEntry
import graft.app.SparkUtil
import org.apache.spark.sql.execution.SQLExecution

/** Time SparkEntry queries end to end with a discarding sink, then print
  * the final adaptive physical plan of each query's last rep (iteration
  * aid for join-strategy and exchange-reuse checks):
  *   sbt -batch "runMain graft.tools.TimeQuery <sfDir> <name> [name...]"
  * Parallelism follows SPARK_GRAFT_CPUS, as for every other main.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <sfDir> <name> [name...]")
    val sfDir = args(0)
    val spark = SparkUtil.session("graft-time-query")
    try args.drop(1).foreach { name =>
      val plans = (1 to 2).map { rep =>
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val t0 = System.nanoTime()
        SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ()))
        println(f"[time] $name rep$rep: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        qe.executedPlan
      }
      println(plans.last)
    } finally spark.stop()
  }
}
