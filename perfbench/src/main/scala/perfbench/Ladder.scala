package perfbench

import graft.app.{ExtractJob, TableIO}
import graft.jobs.{Checkpoint, LineageRow}
import graft.model.KernelPage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ablation ladder of one extraction call, built from the layers'
  * public functions in the order `ExtractJob.run` composes them:
  *
  *   TableIO.read → ExtractJob.extractKernel → bucketExpr + repartition
  *     → TableIO.overwritePartitions → lineage roll-up → Checkpoint.append
  *
  * Scan, kernel and exchange end in a noop sink; each step's added time
  * over the previous one is that layer's cost. Multi-wave calls add the
  * staging write and repeat the steps per wave.
  */
object Ladder {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, spans: Spans, w: ExtractWorkload, in: Input, d: Dirs): Map[String, Double] = {
    import spark.implicits._
    val a = w.args(in.pages, d)
    var scan, kernel, exchange, write, lineage, ckpt, staging = 0.0

    val (done, tDone) = spans.timed("ladder.checkpoint_read") {
      if (a.checkpoint.nonEmpty) Checkpoint.completedBuckets(spark, a.checkpoint, a.runId) else Set.empty[Int]
    }
    ckpt += tDone
    val remaining = (0 until a.buckets).filterNot(done)
    val waves = remaining.grouped(if (a.waveSize <= 0) remaining.size else a.waveSize).toVector
    val pages = TableIO.read(spark, a.input)
    val stagingDir = d.root.resolve("out_staging").toString
    if (waves.length > 1)
      staging += spans.timed("ladder.staging") {
        pages.select(col("url"), col("html"), col("lang"))
          .withColumn("bucket", ExtractJob.bucketExpr(a.buckets))
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(stagingDir)
      }._2

    waves.foreach { wave =>
      val ids = wave.map(Integer.valueOf)
      val src =
        if (waves.length > 1) spark.read.parquet(stagingDir).where(col("bucket").isin(ids: _*))
        else pages
      val kin = src.select("url", "html", "lang")
      val t0 = spans.timed("ladder.scan")(noop(kin))._2
      def recs = ExtractJob.extractKernel(kin.as[KernelPage], a.quality, a.slim)
      val t1 = spans.timed("ladder.kernel")(noop(recs))._2
      def shuffled = recs.withColumn("bucket", ExtractJob.bucketExpr(a.buckets)).repartition(col("bucket"))
      val t2 = spans.timed("ladder.exchange")(noop(shuffled))._2
      val t3 = spans.timed("ladder.write")(TableIO.overwritePartitions(shuffled, a.out, "bucket"))._2
      val (rows, t4) = spans.timed("ladder.lineage") {
        val now = new java.sql.Timestamp(System.currentTimeMillis())
        TableIO.read(spark, a.out).where(col("bucket").isin(ids: _*)).groupBy(col("bucket"))
          .agg(count(lit(1)), sum(when(col("success"), 1L).otherwise(0L)),
            sum(when(col("success"), 0L).otherwise(1L)), sum(col("word_count").cast("long")))
          .collect().map(r => LineageRow(a.runId, r.getInt(0), "completed", r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), a.quality, now)).toSeq
      }
      val t5 = spans.timed("ladder.checkpoint_append") {
        if (a.checkpoint.nonEmpty) Checkpoint.append(spark, a.checkpoint, rows)
      }._2
      scan += t0; kernel += t1 - t0; exchange += t2 - t1; write += t3 - t2
      lineage += t4; ckpt += t5
    }
    if (waves.length > 1) Fs.delete(java.nio.file.Paths.get(stagingDir))
    Map("sources.scan_s" -> scan, "extract.kernel_s" -> kernel, "app.exchange_s" -> exchange,
      "app.write_s" -> write, "app.lineage_s" -> lineage, "jobs.checkpoint_s" -> ckpt,
      "app.staging_s" -> staging)
  }
}
