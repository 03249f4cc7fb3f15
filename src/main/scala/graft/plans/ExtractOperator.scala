package graft.plans

import graft.extract.Processor
import graft.model.{ExtractionRecord, KernelPage, SlimRecord}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col

/** The extraction kernel as a first-class Catalyst operator
  * (`LogicalPlan` + `Strategy` + `SparkPlan`, SURVEY.md §4.3 revisited
  * for EXPLAIN-visibility — the (c) tier of the extension ladder, after
  * (a) composition and (b) custom Expressions). It is the only place
  * Spark code runs the kernel: the batch job, the corpus pipeline, the
  * streams and the SparkEntry queries all go through `ExtractOperator.extract`.
  *
  *  - `EXPLAIN` shows a named `GraftExtractExec quality=…` node;
  *  - `references` declares exactly the input columns the kernel reads
  *    (url, html, lang) plus any passthrough columns, so Catalyst's
  *    column pruning drops the unused legacy `text` column from the scan;
  *  - output = the record fields (`ExtractionRecord`, or the flat
  *    `SlimRecord` when `slim`), then the passthrough columns unchanged.
  */
case class GraftExtract(
    child: LogicalPlan, quality: String, slim: Boolean, passthrough: Seq[Attribute],
    // Record attrs are a constructor field: `withNewChildInternal` copies
    // must preserve ExprIds or downstream references dangle.
    records: Seq[Attribute]) extends UnaryNode with MultiInstanceRelation {

  override def output: Seq[Attribute] = records ++ passthrough

  override def producedAttributes: AttributeSet = AttributeSet(records)

  /** Fresh record ExprIds, so one extraction can sit on both sides of a
    * join (e.g. an anti-join of a stage's input against its output).
    */
  override def newInstance(): LogicalPlan = copy(records = records.map(_.newInstance()))

  /** Columns the kernel actually reads — drives column pruning. */
  override def references: AttributeSet =
    AttributeSet(child.output.filter(a => GraftExtract.inputCols.contains(a.name)) ++ passthrough)

  override protected def withNewChildInternal(newChild: LogicalPlan): GraftExtract =
    copy(child = newChild)
}

object GraftExtract {
  val inputCols = Seq("url", "html", "lang")

  private[plans] lazy val fatEncoder = ExpressionEncoder[ExtractionRecord]()
  private[plans] lazy val slimEncoder = ExpressionEncoder[SlimRecord]()

  def recordAttrs(slim: Boolean): Seq[Attribute] =
    (if (slim) slimEncoder else fatEncoder).schema.fields.toSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())

  /** Record → row; one serializer per task (it reuses its output row). */
  private[plans] def serializer(slim: Boolean): ExtractionRecord => InternalRow =
    if (slim) { val s = slimEncoder.createSerializer(); r => s(r.toSlim) }
    else fatEncoder.createSerializer()
}

case class GraftExtractExec(
    child: SparkPlan, quality: String, slim: Boolean, passthrough: Seq[Attribute],
    records: Seq[Attribute]) extends UnaryExecNode {

  override def output: Seq[Attribute] = records ++ passthrough

  // The record attrs originate here (TreeNode would otherwise treat the
  // Seq[Attribute] constructor arg as references → phantom missingInput).
  override def producedAttributes: AttributeSet = AttributeSet(records)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val Seq(iUrl, iHtml, iLang) = GraftExtract.inputCols.map(n => childOutput.indexWhere(_.name == n))
    require(iUrl >= 0 && iHtml >= 0 && iLang >= 0,
      s"GraftExtract child must produce url/html/lang, got ${childOutput.map(_.name)}")
    val (q, sl, out, in) = (quality, slim, output, records ++ childOutput)
    val withPass = passthrough.nonEmpty
    child.execute().mapPartitions ({ rows =>
      val proc = Processor.default
      val toRow = GraftExtract.serializer(sl)
      // Passthrough columns: bind the output against (record row ++ input row).
      val proj = if (withPass) UnsafeProjection.create(out, in) else null
      val joined = new JoinedRow
      rows.map { r =>
        val page = KernelPage(
          url = if (r.isNullAt(iUrl)) null else r.getUTF8String(iUrl).toString,
          html = if (r.isNullAt(iHtml)) null else r.getBinary(iHtml),
          lang = if (r.isNullAt(iLang)) null else r.getUTF8String(iLang).toString)
        val rec = toRow(proc.extract(page, q))
        (if (withPass) proj(joined(rec, r)) else rec).copy()
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftExtractExec =
    copy(child = newChild)
}

object GraftExtractStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftExtract(child, quality, slim, passthrough, records) =>
      GraftExtractExec(planLater(child), quality, slim, passthrough, records) :: Nil
    case _ => Nil
  }
}

object ExtractOperator {
  /** DataFrame-level entry: install the strategy (idempotent), project
    * down to the kernel's input columns plus `passthrough` (Catalyst
    * can't prune through an unknown node, so the operator declares its
    * needs as an explicit Project — which then folds into the scan's
    * ReadSchema), and wrap in the operator node. Output: the record
    * columns (`SlimRecord` when `slim`, else `ExtractionRecord`), then
    * the `passthrough` columns in the order given.
    */
  def extract(pages: DataFrame, quality: String, slim: Boolean,
      passthrough: Seq[String] = Nil): DataFrame = {
    val spark = pages.sparkSession
    if (!spark.experimental.extraStrategies.contains(GraftExtractStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftExtractStrategy
    val pruned = pages.select((GraftExtract.inputCols ++ passthrough).map(col): _*)
      .queryExecution.analyzed
    org.apache.spark.sql.graft.GraftSql.ofRows(spark, GraftExtract(
      pruned, quality, slim, pruned.output.drop(GraftExtract.inputCols.length),
      GraftExtract.recordAttrs(slim)))
  }
}
