package graft

import graft.plans.ExtractOperator
import graft.queries.{CorpusOps, PipelineOps, Relational, TextOps, TrainOps, VectorOps, WebOps}
import graft.synth.PageGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface; names with a DuckDB oracle in
  * `oracleSql` are hash-compared by the driver at sf0.01, the rest
  * (extraction-kernel queries — deterministic but not SQL-expressible)
  * get rows-only checks and are pinned byte-exactly by the golden-file
  * specs under src/test.
  */
object SparkEntry {

  private val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Relational.defs ++ TextOps.defs ++ VectorOps.defs ++ WebOps.defs ++ TrainOps.defs ++ CorpusOps.defs ++ PipelineOps.defs

  /** Flagship: the extraction pipeline end-to-end on a small
    * deterministic page table (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = {
    ExtractOperator.extract(PageGen.generate(spark, 300).toDF(), "balanced", slim = false)
      .select("url", "pdf_type", "word_count", "extraction_method", "success")
      .where(col("success"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, f, _) => n -> f }.toMap

  def oracleSql: Map[String, String] =
    all.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
