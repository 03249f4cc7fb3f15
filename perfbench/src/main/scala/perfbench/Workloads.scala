package perfbench

import graft.app.{CorpusPipeline, ExtractJob, TableIO}
import graft.extract.Processor
import graft.jobs.{Checkpoint, LineageRow}
import graft.model.KernelPage
import java.nio.file.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Where one workload call writes. */
final case class Dirs(root: Path) {
  def out: Path = root.resolve("out")
  def checkpoint: Path = root.resolve("checkpoint")
  def clean(): Unit = {
    Fs.delete(out); Fs.delete(checkpoint); Fs.delete(root.resolve("out_staging"))
  }
}

/** Result of one timed call, as the checks and metrics need it. */
final case class Outcome(docs: Long, payloadBytes: Long, errorDocs: Long, lost: Long,
    stages: Seq[(String, Long)] = Nil)

/** A named workload: sizes, the untimed preparation before a call, the
  * timed call into the program, and the checks on its output.
  */
sealed trait Workload {
  def name: String
  def rows: Long
  def warmRows: Long
  def paraScale: Int
  val quality = "balanced"

  /** Untimed: fresh output directories and any pre-existing state. */
  def prepare(spark: SparkSession, in: Input, d: Dirs): Unit = d.clean()

  /** The timed call into the program under test. */
  def call(spark: SparkSession, pages: String, in: Input, d: Dirs): Outcome

  /** Warm-up call over the fixed small slice (part of set-up). */
  def warm(spark: SparkSession, in: Input, d: Dirs): Unit = {
    d.clean()
    callWarm(spark, in.warm, d)
    d.clean()
  }
  protected def callWarm(spark: SparkSession, pages: String, d: Dirs): Unit

  /** Output checks after the last call; returns failures as messages
    * and the number of docs they affect.
    */
  def finalChecks(spark: SparkSession, in: Input, d: Dirs, last: Outcome): (Seq[String], Long)

  /** Bytes of final output files (staging excluded). */
  def outputBytes(d: Dirs): Long

  /** Docs whose record has success=false, for failed_frac. */
  def errorDocs(spark: SparkSession, in: Input, last: Outcome): Long = last.errorDocs
}

/** `ExtractJob.run` over the pages table. `resume` adds a checkpoint
  * table with pre-marked buckets and waves of 16 buckets.
  */
final case class ExtractWorkload(name: String, rows: Long, warmRows: Long, paraScale: Int,
    slim: Boolean, resume: Boolean) extends Workload {

  val waveSize: Int = if (resume) 32 else 0
  /** Buckets marked done through Checkpoint.append before each call. */
  val premarked: Set[Int] = if (resume) (0 until Inputs.Buckets).filter(_ % 8 == 7).toSet else Set.empty
  val runId = "perfbench"

  def args(pages: String, d: Dirs): ExtractJob.Args =
    ExtractJob.Args(input = pages, out = d.out.toString, buckets = Inputs.Buckets, slim = slim,
      checkpoint = if (resume) d.checkpoint.toString else "", runId = runId, waveSize = waveSize,
      quality = quality)

  def attempted(in: Input): (Long, Long) = {
    val todo = (0 until Inputs.Buckets).filterNot(premarked)
    (todo.map(in.bucketRows).sum, todo.map(in.bucketBytes).sum)
  }

  def premark(spark: SparkSession, in: Input, d: Dirs): Unit =
    if (resume) {
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      Checkpoint.append(spark, d.checkpoint.toString, premarked.toSeq.sorted.map(b =>
        LineageRow(runId, b, "completed", in.bucketRows(b), in.bucketRows(b), 0L, 0L, quality, now)))
    }

  override def prepare(spark: SparkSession, in: Input, d: Dirs): Unit = {
    d.clean()
    premark(spark, in, d)
  }

  def call(spark: SparkSession, pages: String, in: Input, d: Dirs): Outcome = {
    val lineage = ExtractJob.run(spark, args(pages, d))
    val (docs, bytes) = attempted(in)
    val produced = lineage.map(_.docs).sum
    Outcome(docs, bytes, lineage.map(_.error_docs).sum, math.max(0L, docs - produced))
  }

  protected def callWarm(spark: SparkSession, pages: String, d: Dirs): Unit =
    ExtractJob.run(spark, args(pages, d))

  def finalChecks(spark: SparkSession, in: Input, d: Dirs, last: Outcome): (Seq[String], Long) = {
    val fails = Seq.newBuilder[String]
    var affected = last.lost
    if (last.lost != 0) fails += s"lineage docs ${last.docs - last.lost} != input docs ${last.docs}"
    val outRows = TableIO.read(spark, d.out.toString).count()
    if (outRows != last.docs) {
      fails += s"output rows $outRows != input docs ${last.docs}"
      affected = math.max(affected, math.abs(last.docs - outRows))
    }
    if (resume) {
      val lineageDocs = TableIO.read(spark, d.checkpoint.toString)
        .where(col("run_id") === runId).agg(sum("docs")).head().getLong(0)
      if (lineageDocs != in.rows) fails += s"checkpoint lineage docs $lineageDocs != input rows ${in.rows}"
    }
    val (mismatch, msgs) = Sample.compare(spark, in, d.out.toString, quality, premarked)
    fails ++= msgs
    (fails.result(), affected + mismatch)
  }

  def outputBytes(d: Dirs): Long = Fs.dataBytes(d.out)
}

/** `CorpusPipeline.run` with its default stages over the pages table. */
final case class CorpusWorkload(name: String, rows: Long, warmRows: Long) extends Workload {
  val paraScale = 1

  def call(spark: SparkSession, pages: String, in: Input, d: Dirs): Outcome = {
    val stages = CorpusPipeline.run(spark, CorpusPipeline.Args(input = pages, out = d.out.toString,
      quality = quality))
    val seen = stages.find(_._1 == "pages").map(_._2).getOrElse(0L)
    Outcome(in.rows, in.payloadBytes, 0L, math.max(0L, in.rows - seen), stages)
  }

  protected def callWarm(spark: SparkSession, pages: String, d: Dirs): Unit =
    CorpusPipeline.run(spark, CorpusPipeline.Args(input = pages, out = d.out.toString,
      quality = quality))

  def finalChecks(spark: SparkSession, in: Input, d: Dirs, last: Outcome): (Seq[String], Long) = {
    val fails = Seq.newBuilder[String]
    val stages = last.stages.toMap
    if (stages.getOrElse("pages", -1L) != in.rows) fails += s"pages stage ${stages.get("pages")} != input rows ${in.rows}"
    val windows = spark.read.parquet(d.out.resolve("training_windows").toString).count()
    if (stages.get("sampled").forall(_ != windows))
      fails += s"training_windows rows $windows != sampled stage ${stages.get("sampled")}"
    // Stage counts must repeat across runs with the same input.
    val expected = in.dir.resolve("stages.tsv")
    val tsv = last.stages.map { case (k, v) => s"$k\t$v" }.mkString("\n") + "\n"
    if (!java.nio.file.Files.exists(expected))
      java.nio.file.Files.write(expected, tsv.getBytes("UTF-8"))
    else {
      val prev = new String(java.nio.file.Files.readAllBytes(expected), "UTF-8")
      if (prev != tsv) fails += s"stage counts differ from an earlier run on this input: $prev vs $tsv"
    }
    val res = fails.result()
    (res, if (res.nonEmpty) in.rows else last.lost)
  }

  def outputBytes(d: Dirs): Long = Fs.dataBytes(d.out.resolve("training_windows"))

  /** The pipeline drops failed extractions without a record, so count
    * them with the same kernel over the same input.
    */
  override def errorDocs(spark: SparkSession, in: Input, last: Outcome): Long = {
    import spark.implicits._
    ExtractJob.extractKernel(TableIO.read(spark, in.pages).select("url", "html", "lang").as[KernelPage],
      quality, slim = true).where(!col("success")).count()
  }
}

/** The deterministic 1-in-k url sample used both for the output check
  * and for the single-thread kernel timings.
  */
object Sample {
  val TargetDocs = 1500L
  private val Salt = 0x5eedL

  def k(in: Input): Long = math.max(1L, in.rows / TargetDocs)

  private def pick(in: Input) = pmod(xxhash64(col("url"), lit(Salt)), lit(k(in))) === 0

  /** Sampled input rows in url order, with their bucket. */
  def pages(spark: SparkSession, in: Input): Vector[(KernelPage, Int)] =
    TableIO.read(spark, in.pages).where(pick(in))
      .select(col("url"), col("html"), col("lang"), ExtractJob.bucketExpr(Inputs.Buckets))
      .collect().map(r => (KernelPage(r.getString(0), r.getAs[Array[Byte]](1), r.getString(2)), r.getInt(3)))
      .sortBy(_._1.url).toVector

  /** Output `text` and `word_count` of each sampled url against the
    * kernel run in the driver. Returns (mismatched docs, messages).
    */
  def compare(spark: SparkSession, in: Input, out: String, quality: String,
      skipBuckets: Set[Int]): (Long, Seq[String]) = {
    val got: Map[String, Row] = TableIO.read(spark, out).where(pick(in))
      .select("url", "text", "word_count").collect().map(r => r.getString(0) -> r).toMap
    val proc = Processor.default
    var bad = 0L
    val msgs = Seq.newBuilder[String]
    pages(spark, in).filterNot(p => skipBuckets.contains(p._2)).foreach { case (p, _) =>
      val want = proc.extract(p, quality)
      got.get(p.url) match {
        case Some(r) if r.getString(1) == want.text && r.getInt(2) == want.word_count =>
        case other =>
          bad += 1
          if (bad <= 3) msgs += s"sampled url ${p.url}: output ${if (other.isEmpty) "missing" else "differs from the driver kernel"}"
      }
    }
    if (bad > 3) msgs += s"... $bad sampled urls differ in total"
    (bad, msgs.result())
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(
    ExtractWorkload("extract_mixed", rows = 150000, warmRows = 2000, paraScale = 1, slim = true, resume = false),
    ExtractWorkload("extract_bigdoc", rows = 20000, warmRows = 500, paraScale = 40, slim = true, resume = false),
    ExtractWorkload("extract_resume_fat", rows = 40000, warmRows = 2000, paraScale = 1, slim = false, resume = true),
    CorpusWorkload("corpus_dedup", rows = 20000, warmRows = 1000))

  def byName(n: String): Option[Workload] = all.find(_.name == n)
}
