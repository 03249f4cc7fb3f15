package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One traced interval. Times are epoch nanoseconds, so driver spans
  * (System.nanoTime) and Spark listener spans (epoch millis) share a clock.
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long,
    attrs: Map[String, Any] = Map.empty) {
  def secs: Double = (end - start) / 1e9
}

/** Span recorder for one run. Driver spans nest through a stack; each
  * Spark job learns its parent from the `perfbench.span` local property
  * set here on the driver thread, because listener events arrive later
  * on Spark's bus thread.
  */
final class Spans(sc: SparkContext) {
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 1

  def now(): Long = System.nanoTime() + epochBase
  def current: Int = if (stack.isEmpty) 0 else stack.top._1

  def newId(): Int = synchronized { val id = nextId; nextId += 1; id }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T = {
    val id = newId()
    stack.push((id, name, now()))
    sc.setLocalProperty("perfbench.span", id.toString)
    try f
    finally {
      val (_, _, start) = stack.pop()
      val parent = current
      add(Span(id, name, parent, start, now(), attrs))
      sc.setLocalProperty("perfbench.span", if (parent == 0) null else parent.toString)
    }
  }

  /** Time `f` as a span and return its seconds with the result. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = span(name)(f)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def add(s: Span): Unit = synchronized { done += s }
  def all: Vector[Span] = synchronized { done.toVector }

  /** Descendant span ids of `root`, root included. */
  def subtree(root: Int): Set[Int] = {
    val kids = all.groupBy(_.parent)
    def go(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Vector.empty).flatMap(s => go(s.id))
    go(root)
  }

  /** All spans as JSON lines, each with its self time (duration minus
    * the durations of its direct children).
    */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val spans = all.sortBy(s => (s.start, s.id))
    val childNs = spans.groupBy(_.parent).map { case (p, xs) => p -> xs.map(s => s.end - s.start).sum }
    val lines = spans.map { s =>
      Json.write(Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> ((s.end - s.start) - childNs.getOrElse(s.id, 0L))) ++ s.attrs)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** One Spark job: its parent driver span, call site and stages. */
final case class JobRec(id: Int, span: Int, callSite: String, start: Long, var end: Long,
    stages: Seq[Int], spanId: Int, execution: Long) {
  def secs: Double = (end - start) / 1e9
}

/** One SQL execution (one Dataset action): its call site and wall time. */
final case class ExecRec(id: Long, description: String, start: Long, var end: Long) {
  def secs: Double = (end - start) / 1e9
}

/** Per-task numbers kept by the listener. */
final case class TaskRec(runMs: Long, cpuNs: Long, gcMs: Long, durMs: Long,
    schedMs: Long, spill: Long, shuffleWrite: Long, recordsIn: Long)

/** Spark listener that turns jobs and stages into spans under the driver
  * span that started them, and keeps per-task metrics for busy time,
  * CPU, GC, scheduler wait, spill, shuffle bytes and skew.
  */
final class StageListener(spans: Spans) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.Map.empty[Int, Int]
  val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskRec]]
  val executions = mutable.Map.empty[Long, ExecRec]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        executions(s.executionId) = ExecRec(s.executionId, s.description, s.time * 1000000L, 0L)
      case x: SparkListenerSQLExecutionEnd =>
        executions.get(x.executionId).foreach(_.end = x.time * 1000000L)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toInt).getOrElse(0)
    // The result stage's name is the job's call site, e.g. "count at X.scala:12".
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = JobRec(e.jobId, parent, site, e.time * 1000000L, 0L, e.stageIds, spans.newId(), exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time * 1000000L
      spans.add(Span(j.spanId, s"spark.job.${j.id}", j.span, j.start, j.end,
        Map("call_site" -> j.callSite)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (job <- stageJob.get(si.stageId).flatMap(jobs.get); sub <- si.submissionTime;
         fin <- si.completionTime)
      spans.add(Span(spans.newId(), s"spark.stage.${si.stageId}", job.spanId,
        sub * 1000000L, fin * 1000000L, Map("tasks" -> si.numTasks)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val ti = e.taskInfo
      val sched = ti.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime
      tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += TaskRec(
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, ti.duration, math.max(0L, sched),
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.recordsRead)
    }
  }

  /** Jobs whose span lies under one of `spanIds`, in start order. */
  def jobsUnder(spanIds: Set[Int]): Vector[JobRec] = synchronized {
    jobs.values.filter(j => spanIds.contains(j.span)).toVector.sortBy(_.start)
  }

  def stagesOf(js: Seq[JobRec]): Seq[Int] = synchronized { js.flatMap(_.stages).distinct }

  def tasksOf(stages: Seq[Int]): Seq[TaskRec] = synchronized {
    stages.flatMap(s => tasks.getOrElse(s, Nil)).toVector
  }

  /** max ÷ median task run time of one stage (1.0 for a single task). */
  def skew(stage: Int): Double = synchronized {
    val ts: Seq[Double] = tasks.getOrElse(stage, Nil).map(_.runMs.toDouble).toVector.sorted
    if (ts.isEmpty) Double.NaN else ts.last / math.max(1.0, Stats.median(ts))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
