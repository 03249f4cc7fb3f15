package graft

import graft.app.ExtractJob
import graft.extract.Processor
import graft.model.{ExtractionRecord, KernelPage, SlimRecord}
import graft.plans.ExtractOperator
import graft.synth.PageGen
import org.apache.spark.sql.functions._

/** GraftExtract as a first-class Catalyst operator: result parity with
  * direct kernel calls (fat and slim records), EXPLAIN visibility,
  * the column-pruning win (unused `text` column never scanned), and
  * passthrough columns.
  */
class ExtractOperatorSpec extends SparkSuite {

  /** The kernel called directly on the same PageGen rows (seed 42). */
  private def directRecords(n: Int, quality: String): Seq[ExtractionRecord] =
    (0 until n).map(id => Processor.default.extract(PageGen.row(42L, id), quality)).sortBy(_.url)

  test("operator output == direct kernel output") {
    import spark.implicits._
    val dir = tmpDir("op_pages")
    PageGen.generate(spark, 400).toDF().repartition(3)
      .write.mode("overwrite").parquet(dir)
    val viaOp = ExtractOperator.extract(spark.read.parquet(dir), "balanced", slim = false)
      .as[ExtractionRecord].collect().sortBy(_.url).toSeq
    assert(viaOp.length == 400)
    assert(viaOp == directRecords(400, "balanced"))
  }

  test("slim extractKernel == direct kernel .toSlim") {
    import spark.implicits._
    val pages = PageGen.generate(spark, 400).repartition(3)
      .select("url", "html", "lang").as[KernelPage]
    val slim = ExtractJob.extractKernel(pages, "balanced", slim = true)
    assert(slim.columns.toSeq == spark.emptyDataset[SlimRecord].columns.toSeq)
    val viaOp = slim.as[SlimRecord].collect().sortBy(_.url).toSeq
    assert(viaOp == directRecords(400, "balanced").map(_.toSlim))
  }

  test("EXPLAIN shows the named operator and prunes the unused text column") {
    val dir = tmpDir("op_pages2")
    PageGen.generate(spark, 50).toDF().write.mode("overwrite").parquet(dir)
    val df = ExtractOperator.extract(spark.read.parquet(dir), "fast", slim = false)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftExtract"), plan)
    assert(!plan.contains("!GraftExtract"), s"invalid node: $plan")
    // The scan's ReadSchema must not include the legacy text column.
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("html"))
    assert(!readSchema.contains("text:"), s"text not pruned: $readSchema")
    assert(!readSchema.contains("warc_ts"), s"warc_ts not pruned: $readSchema")
  }

  test("operator composes with downstream relational ops") {
    val dir = tmpDir("op_pages3")
    PageGen.generate(spark, 200).toDF().write.mode("overwrite").parquet(dir)
    val stats = ExtractOperator.extract(spark.read.parquet(dir), "balanced", slim = false)
      .where(col("success"))
      .groupBy("pdf_type").agg(count(lit(1)).as("n"), sum("word_count").as("words"))
      .orderBy("pdf_type").collect()
    assert(stats.map(_.getLong(1)).sum == directRecords(200, "balanced").count(_.success))
  }

  test("passthrough columns follow the record fields with their input values") {
    import spark.implicits._
    val dir = tmpDir("op_pages4")
    PageGen.generate(spark, 100).toDF().write.mode("overwrite").parquet(dir)
    val df = ExtractOperator.extract(spark.read.parquet(dir), "fast", slim = true,
      passthrough = Seq("warc_ts"))
    assert(df.columns.toSeq == spark.emptyDataset[SlimRecord].columns.toSeq :+ "warc_ts")
    val got = df.select("url", "warc_ts").as[(String, java.sql.Timestamp)].collect().toMap
    val want = spark.read.parquet(dir).select("url", "warc_ts")
      .as[(String, java.sql.Timestamp)].collect().toMap
    assert(got.size == 100 && got == want)
    assert(!df.queryExecution.executedPlan.toString.linesIterator
      .exists(l => l.contains("ReadSchema") && l.contains("text:")))
  }
}
