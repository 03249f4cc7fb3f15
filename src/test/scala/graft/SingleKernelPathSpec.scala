package graft

import graft.app.ExtractJob
import graft.plans.GraftExtractExec
import graft.streaming.StreamingExtract
import graft.synth.PageGen
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The kernel has one way to run inside Spark: the GraftExtract
  * operator. Physical plans of every kernel caller show the operator and
  * no hand-written MapPartitions kernel loop, and no Spark code outside
  * the operator reaches for the shared Processor instances.
  */
class SingleKernelPathSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  /** The plan runs the kernel through GraftExtractExec. The only
    * MapPartitions nodes allowed sit in an operator's input (PageGen's
    * generator); any other is a kernel loop beside the operator.
    */
  private def assertOperatorOnly(what: String, plan: SparkPlan): Unit = {
    val ops = collect(plan) { case e: GraftExtractExec => e }
    assert(ops.nonEmpty, s"$what: no GraftExtract in\n$plan")
    val inInputs = ops.map(op => collect(op.child) { case m: MapPartitionsExec => m }.size).sum
    val all = collect(plan) { case m: MapPartitionsExec => m }.size
    assert(all == inInputs, s"$what: MapPartitions outside the operator's input in\n$plan")
  }

  test("SparkEntry queries and entry plan the kernel as GraftExtract") {
    Seq("x40_extract_balanced", "x41_classify_stats", "x42_extract_text", "q43_dedup_extracted")
      .foreach { name =>
        assertOperatorOnly(name, SparkEntry.queries(name)(spark, "").queryExecution.executedPlan)
      }
    assertOperatorOnly("entry", SparkEntry.entry(spark).queryExecution.executedPlan)
  }

  test("an ExtractJob wave plans the kernel as GraftExtract") {
    val out = tmpDir("single_path_job")
    val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains("InsertIntoHadoopFsRelationCommand") &&
            qe.analyzed.toString.contains(out)) writes.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ExtractJob.run(spark, ExtractJob.Args(rows = 100, out = out, buckets = 2))
      val wave = writes.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(wave != null, "no write of the wave was observed")
      assertOperatorOnly("ExtractJob wave", wave.executedPlan)
    } finally spark.listenerManager.unregister(listener)
  }

  test("extractStream plans the kernel as GraftExtract") {
    val in = tmpDir("single_path_stream")
    PageGen.generate(spark, 50).toDF().write.mode("overwrite").parquet(in)
    val q = StreamingExtract.extractStream(spark, in, "fast")
      .writeStream.format("noop")
      .option("checkpointLocation", tmpDir("single_path_stream_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    assertOperatorOnly("extractStream", plan)
  }

  test("no Spark code outside the operator calls the shared Processor instances") {
    val root = new java.io.File(sys.props("user.dir"), "src/main/scala")
    assert(root.isDirectory, s"source tree not found at $root")
    val allowed = Set("graft/plans/ExtractOperator.scala", "graft/tools/ExtractCli.scala")
    val offenders = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.toPath.relativize(p).toString.replace('\\', '/') -> p)
      .filterNot { case (rel, _) => allowed(rel) }
      .flatMap { case (rel, p) =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("Processor.default") || line.contains("Processor.directOnly") =>
            s"$rel:${i + 1}: ${line.trim}"
        }.toList
      }.toList
    assert(offenders.isEmpty, offenders.mkString("kernel called outside GraftExtract:\n", "\n", ""))
  }
}
