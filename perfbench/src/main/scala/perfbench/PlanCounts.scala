package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Record counts of the near-dup step's LSH join, from the SQL metrics
  * Spark reports to listeners (as its UI does): candidate pairs are the
  * rows of the (url_a, url_b) distinct aggregate, verified pairs the rows
  * that pass the exact-Jaccard condition (`sorted_intersect_count`).
  * Adaptive execution may drop the verify branch from the final plan once
  * it ran empty, so the counts come from every plan version Spark posted
  * and the task-side metric updates, not from the final plan.
  */
final class PlanCounts extends SparkListener {
  private val candidateIds = mutable.Set.empty[Long]
  private val verifiedIds = mutable.Set.empty[Long]
  private val sums = mutable.Map.empty[Long, Long]

  private def walk(p: SparkPlanInfo): Unit = {
    val rows = p.metrics.filter(_.name == "number of output rows").map(_.accumulatorId)
    val s = p.simpleString
    if (s.contains("sorted_intersect_count")) verifiedIds ++= rows
    if (p.nodeName == "HashAggregate" && s.matches("(?s).*keys=\\[url_a#\\d+L?, url_b#\\d+L?\\].*"))
      candidateIds ++= rows
    p.children.foreach(walk)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => walk(u.sparkPlanInfo)
      case _ =>
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    e.taskInfo.accumulables.foreach { a =>
      a.update match {
        case Some(v: Long) => sums(a.id) = sums.getOrElse(a.id, 0L) + v
        case _ =>
      }
    }
  }

  /** Rows of the pair aggregate's final step (the smallest of its
    * nodes), or -1 when no plan held one. Tasks report no update for a
    * metric that stayed 0, so a node without updates produced 0 rows.
    */
  def candidates: Long = synchronized(candidateIds.map(sums.getOrElse(_, 0L)).minOption.getOrElse(-1L))

  /** Rows passing the exact-Jaccard condition, or -1 when no plan held it. */
  def verified: Long = synchronized(verifiedIds.map(sums.getOrElse(_, 0L)).maxOption.getOrElse(-1L))
}
