package graft.app

import graft.model.KernelPage
import graft.plans.ExtractOperator
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K6 — the reference's two-pass enrich-then-reprocess pipeline shape
  * (examples/two_pass_ocr_processor_original.py:225-324: pass 1 runs
  * the expensive path over the FLAGGED page subset and its output
  * feeds pass 2), re-expressed as two chained extraction kernels with
  * a deterministic merge:
  *
  *   pass 1: cheap kernel (`fast` — never OCR) over the full corpus;
  *   flag:   pass-1 output decides which documents deserve more work
  *           (failed, empty, or below-full confidence);
  *   pass 2: expensive kernel (`accurate`) over ONLY the flagged
  *           subset — pass-1 output literally selects pass-2's input;
  *   merge:  per document keep the better extraction (more words;
  *           tie → the accurate pass), tagged with `pass` ∈ {1,2}.
  *
  * The reference's second pass injects pass-1 text into an LLM prompt —
  * non-deterministic and out of scope (SURVEY §2.8); the deterministic
  * core being pinned here is the SHAPE any model-in-the-loop stage
  * needs: kernel → flag → subset re-kernel → merge, all expressible as
  * one DataFrame program.
  *
  * Scale shape: pass 1 is the usual map-only kernel. The flagged set is
  * compact post-kernel rows (html dropped); joining it back to the raw
  * pages is an equi-join on url that AQE turns into a broadcast when
  * the flagged fraction is small (the design point — cascades exist
  * because most documents pass cheaply); a skewed/huge flagged set
  * degrades to a shuffle join, never a collect. The merge windows over
  * ≤2 compact rows per url. In a production run the two passes would
  * straddle the results table (pass 1 written durably, pass 2 a
  * follow-up job filtered on the flag — the ExtractJob wave structure
  * supports exactly that); the in-plan form here localCheckpoints the
  * compact pass-1 output so the cheap kernel runs once, not twice.
  */
object TwoPass {

  /** Documents whose pass-1 extraction warrants the expensive pass. */
  def needsSecondPass: org.apache.spark.sql.Column =
    !col("success") || col("word_count") === 0 || col("confidence") < 1.0

  /** CONTRACT: input must be url-unique — one snapshot per url, the
    * shape of an extraction results table for one crawl wave. The flag
    * join and the merge window are keyed by url (the kernel's only
    * carried identity), so revisit snapshots sharing a url cannot be
    * re-associated with their pass-1 rows; rather than silently
    * collapsing them to one output row (or multiplying them through the
    * flag join), the violation fails loudly below. Dedupe revisits
    * first — `CorpusPipeline.latestSnapshot` / q77_url_revisit is the
    * canonical keep-latest pass. The check runs on the CHECKPOINTED
    * compact pass-1 output (url column only), so it costs one small
    * aggregation, never a second payload scan.
    */
  def extract(pages: Dataset[KernelPage], firstQuality: String = "fast",
      secondQuality: String = "accurate", slim: Boolean = false): DataFrame = {
    val pass1 = ExtractOperator.extract(pages.toDF(), firstQuality, slim)
      .localCheckpoint()
    val dup = pass1.groupBy("url").count()
      .where(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"TwoPass requires url-unique input (one snapshot per url): " +
        s"'${dup.headOption.map(_.getString(0)).getOrElse("")}' appears " +
        s"${dup.headOption.map(_.getLong(1)).getOrElse(0L)} times — " +
        "dedupe revisit snapshots first (CorpusPipeline.latestSnapshot / q77)")
    val flagged = pass1.where(needsSecondPass).select("url")
    val in2 = pages.toDF().join(flagged, Seq("url"))
    val pass2 = ExtractOperator.extract(in2, secondQuality, slim)
    val all = pass1.withColumn("pass", lit(1))
      .unionByName(pass2.withColumn("pass", lit(2)))
    val w = Window.partitionBy("url")
      .orderBy(col("word_count").desc, col("pass").desc)
    all.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }
}
