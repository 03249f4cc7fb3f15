package perfbench

import graft.app.{SparkUtil, TableIO}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side: one workload, one process, a closed loop of
  * one job at a time on a `SparkUtil.session` at local[4].
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * The last stdout line is the result: {"correct","attempted","failed",
  * "metrics"}; the full report (input properties, host conditions,
  * iterations, checks) goes to DIR/reports, spans to DIR/traces.
  */
object Main {
  val Cores = "4"
  // Set-ups per run (setup_s is their median) and the least number of
  // timed calls. Every run is a fresh JVM whose first job costs 10-30 s;
  // one set-up and two calls keep a run near 40 s, so that the 4 + 22
  // runs per workload fit in under an hour on a shared 4-core host.
  val SetupReps = 1
  val MinIters = 2
  val MaxIters = 200

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, work: String = "")

  def parse(argv: Array[String]): Opts = argv.grouped(2).foldLeft(Opts()) {
    case (o, Array("--workload", v)) => o.copy(workload = v)
    case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
    case (o, Array("--seconds", v)) => o.copy(seconds = v.toDouble)
    case (o, Array("--trace", v)) => o.copy(trace = v == "1")
    case (o, Array("--work", v)) => o.copy(work = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val wl = Workloads.byName(o.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val r = new Runner(wl, o, Paths.get(o.work).toAbsolutePath)
    val (line, report) = r.run()
    val reports = r.work.resolve("reports")
    Files.createDirectories(reports)
    Files.write(reports.resolve(s"${wl.name}-s${o.seed}-t${if (o.trace) 1 else 0}.json"),
      (Json.write(report) + "\n").getBytes("UTF-8"))
    println(Json.write(line))
    System.exit(if (line("correct") == true) 0 else 1)
  }
}

final class Runner(wl: Workload, o: Main.Opts, val work: Path) {
  import Main._

  private var spark: SparkSession = _
  private val dirs = Dirs(work.resolve("runs").resolve(wl.name))
  private val failures = ArrayBuffer.empty[String]

  private def session(): SparkSession = {
    if (spark != null) spark.stop()
    spark = SparkUtil.session(s"perfbench-${wl.name}", Cores)
    spark
  }

  def run(): (Map[String, Any], Map[String, Any]) = {
    // Input generation (on a cache miss) is excluded from set-up.
    val input = Inputs.ensure(() => if (spark != null) spark else session(), work.resolve("inputs"),
      wl.name, wl.rows, wl.warmRows, o.seed, wl.paraScale)
    if (spark != null) { spark.stop(); spark = null }
    Host.resetPeakRss()
    val cpu0 = Host.cpuStat()
    val tSetup = System.nanoTime()
    // Set-up: session start plus a warm-up call over the fixed slice.
    val sessionStarts = ArrayBuffer.empty[Double]
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      session()
      sessionStarts += (System.nanoTime() - t0) / 1e9
      wl.warm(spark, input, dirs)
      (System.nanoTime() - t0) / 1e9
    }
    val (metrics, attempted, failedDocs, extra) =
      try if (o.trace) traced(input) else measured(input, setups)
      catch {
        case e: Exception =>
          failures += s"run threw: $e"
          e.printStackTrace()
          (Map.empty[String, Any], math.max(1L, input.rows), input.rows, Map.empty[String, Any])
      }
    val tEnd = System.nanoTime()
    val host = Host.conditions(work.toString, cpu0, Host.cpuStat())
    dirs.clean()
    spark.stop()
    val correct = failures.isEmpty
    val line = Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failedDocs,
      "metrics" -> metrics)
    val report = Json.obj("workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "input" -> input.properties, "host" -> host,
      "setup_s_each" -> setups, "session_start_s_each" -> sessionStarts.toSeq,
      "after_setup_s" -> ((tEnd - tSetup) / 1e9 - setups.sum), "failures" -> failures.toSeq) ++ extra ++ Json.obj("result" -> line)
    (line, report)
  }

  private def m(v: Double, unit: String): Map[String, Any] = Json.obj("value" -> v, "unit" -> unit)

  /** One untimed preparation plus one timed call. */
  private def once(in: Input): (Outcome, Double) = {
    wl.prepare(spark, in, dirs)
    val t0 = System.nanoTime()
    val out = wl.call(spark, in.pages, in, dirs)
    val secs = (System.nanoTime() - t0) / 1e9
    if (out.lost != 0) failures += s"call lost ${out.lost} of ${out.docs} docs"
    (out, secs)
  }

  private def checkFinal(in: Input, last: Outcome): Long = {
    val (msgs, affected) = wl.finalChecks(spark, in, dirs, last)
    failures ++= msgs
    affected
  }

  private def measured(in: Input, setups: Seq[Double]) = {
    val iters = ArrayBuffer.empty[(Outcome, Double)]
    val t0 = System.nanoTime()
    while (iters.size < MinIters ||
        ((System.nanoTime() - t0) / 1e9 < o.seconds && iters.size < MaxIters)) {
      iters += once(in)
      if (iters.last._1.stages != iters.head._1.stages)
        failures += s"stage counts changed between calls: ${iters.head._1.stages} vs ${iters.last._1.stages}"
    }
    val last = iters.last._1
    val affected = checkFinal(in, last)
    val errors = wl.errorDocs(spark, in, last)
    val outBytes = wl.outputBytes(dirs)
    val metrics = Json.obj(
      "docs_per_s" -> m(Stats.median(iters.map { case (x, s) => x.docs / s }.toSeq), "docs/s"),
      "mb_per_s" -> m(Stats.median(iters.map { case (x, s) => x.payloadBytes / 1e6 / s }.toSeq), "MB/s"),
      "setup_s" -> m(Stats.median(setups), "s"),
      "failed_frac" -> m((errors + last.lost + affected).toDouble / last.docs, "ratio"),
      "out_bytes_per_in_byte" -> m(outBytes.toDouble / last.payloadBytes, "ratio"),
      "peak_rss_mb" -> m(Host.peakRssMb(), "MB"))
    val lost = iters.map(_._1.lost).sum + affected
    val extra = Json.obj(
      "iterations" -> iters.map { case (x, s) => Json.obj("docs" -> x.docs, "secs" -> s) },
      "stages" -> last.stages.map { case (k, v) => Json.obj("stage" -> k, "rows" -> v) })
    (metrics, iters.map(_._1.docs).sum, lost, extra)
  }

  private def traced(in: Input) = {
    // Untraced reference calls, one before and one after the traced call,
    // after a first full-size call that only warms (it runs slower).
    once(in)
    val untracedBefore = once(in)._2
    val sc = spark.sparkContext
    val spans = new Spans(sc)
    val listener = new StageListener(spans)
    val plans = new PlanCounts
    sc.addSparkListener(listener)
    sc.addSparkListener(plans)
    var jobSpan = 0
    var ladder = Map.empty[String, Double]
    var sample = Map.empty[String, Double]
    var outFiles = 0
    var ocrFromOutput: Option[Double] = None
    var corpusUnits = Seq.empty[Map[String, Any]]
    val (traced, tracedSecs) = spans.span("run") {
      wl.prepare(spark, in, dirs)
      val r = spans.timed("job") {
        jobSpan = spans.current
        wl.call(spark, in.pages, in, dirs)
      }
      if (r._1.lost != 0) failures += s"call lost ${r._1.lost} of ${r._1.docs} docs"
      outFiles = wl match {
        case _: CorpusWorkload => Fs.dataFiles(dirs.out.resolve("training_windows")).size
        case _ => Fs.dataFiles(dirs.out).size
      }
      wl match {
        case w: ExtractWorkload if !w.slim =>
          val s = TableIO.read(spark, dirs.out.toString)
            .agg(sum("successful_pages").cast("double"), sum("attempted_pages").cast("double")).head()
          ocrFromOutput = Some(if (s.getDouble(1) == 0) 1.0 else s.getDouble(0) / s.getDouble(1))
        case _ =>
      }
      spans.span("checks")(checkFinal(in, r._1))
      wl match {
        case w: ExtractWorkload =>
          spans.span("ladder") {
            wl.prepare(spark, in, dirs)
            ladder = Ladder.run(spark, spans, w, in, dirs)
          }
        case _ =>
      }
      spans.span("sample") {
        val pages = spans.span("sample.collect")(Sample.pages(spark, in).map(_._1))
        val slim = wl match { case w: ExtractWorkload => w.slim; case _ => true }
        sample = KernelSample.run(spans, pages, wl.quality, slim)
      }
      r
    }
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(plans)
    sc.removeSparkListener(listener)
    val untracedSecs = (untracedBefore + once(in)._2) / 2

    val jobs = listener.jobsUnder(spans.subtree(jobSpan))
    val stageIds = listener.stagesOf(jobs)
    val tasks = listener.tasksOf(stageIds)
    val jobSecs = tracedSecs
    val kernelStage = stageIds.filter(s => listener.tasksOf(Seq(s)).exists(_.recordsIn > 0))
      .maxByOption(s => listener.tasksOf(Seq(s)).map(_.runMs).sum)
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    layer ++= sample
    ocrFromOutput.foreach(v => layer("extract.ocr_success_ratio") = v)
    layer ++= Seq("sources.scan_s", "extract.kernel_s", "app.exchange_s", "app.write_s",
      "app.lineage_s", "app.staging_s", "jobs.checkpoint_s", "queries.quality_s",
      "queries.exact_dedup_s", "queries.minhash_s", "queries.lsh_join_s", "app.corpus_tail_s")
      .map(_ -> 0.0)
    val attributed = wl match {
      case _: CorpusWorkload =>
        val g = CorpusGroups.secs(jobs, traced.stages.map(_._1), listener)
        layer ++= g.metrics
        layer("queries.lsh_task_skew") = g.lshStage.map(listener.skew).getOrElse(1.0)
        layer("queries.lsh_verified_per_candidate") =
          if (plans.candidates <= 0) 0.0 else plans.verified.toDouble / plans.candidates
        if (!g.complete) failures += s"corpus jobs did not map onto stages: ${g.units}"
        corpusUnits = g.units.map { case (l, site, secs) => Json.obj("stage" -> l, "call_site" -> site, "secs" -> secs) }
        g.metrics.values.sum
      case _ =>
        layer ++= ladder
        layer("queries.lsh_task_skew") = 0.0
        layer("queries.lsh_verified_per_candidate") = 0.0
        ladder.values.sum
    }
    layer("app.unattributed_s") = jobSecs - attributed
    layer("app.job_s") = jobSecs
    layer("trace.overhead_s") = jobSecs - untracedSecs
    layer("app.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum.toDouble
    layer("app.output_files") = outFiles.toDouble
    layer("spark.task_busy_s") = tasks.map(_.runMs).sum / 1e3
    layer("spark.cpu_util") = tasks.map(_.cpuNs).sum / 1e9 / (jobSecs * Cores.toInt)
    layer("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
    layer("spark.sched_wait_s") = tasks.map(_.schedMs).sum / 1e3
    layer("spark.spill_bytes") = tasks.map(_.spill).sum.toDouble
    layer("spark.kernel_task_skew") = kernelStage.map(listener.skew).getOrElse(1.0)
    layer.remove("sample.docs")

    val units = Units.perLayer
    val metrics = Json.obj(layer.toSeq.map { case (k, v) => k -> m(v, units.getOrElse(k, "count")) }: _*)
    val tracePath = work.resolve("traces").resolve(s"${wl.name}-s${o.seed}.spans.jsonl")
    spans.writeJsonl(tracePath)
    val ladderRows = Seq("app.staging_s", "sources.scan_s", "extract.kernel_s", "app.exchange_s",
      "app.write_s", "app.lineage_s", "jobs.checkpoint_s", "queries.quality_s",
      "queries.exact_dedup_s", "queries.minhash_s", "queries.lsh_join_s", "app.corpus_tail_s",
      "app.unattributed_s").map(k => Json.obj("layer" -> k, "secs" -> layer(k),
      "share" -> layer(k) / jobSecs))
    val extra = Json.obj("job_s" -> jobSecs, "untraced_job_s" -> untracedSecs,
      "ladder" -> ladderRows, "sample_docs" -> sample.getOrElse("sample.docs", 0.0),
      "spans" -> tracePath.toString, "corpus_actions" -> corpusUnits,
      "lsh_candidates" -> plans.candidates, "lsh_verified" -> plans.verified,
      "stages" -> traced.stages.map { case (k, v) => Json.obj("stage" -> k, "rows" -> v) })
    (metrics, traced.docs, traced.lost, extra)
  }
}

/** Units of the per-layer metrics (anything absent is a count). */
object Units {
  val perLayer: Map[String, String] = Map(
    "text.decode_ns_per_doc" -> "ns", "html.tokenize_ns_per_doc" -> "ns",
    "html.dom_ns_per_doc" -> "ns", "html.segment_ns_per_doc" -> "ns",
    "pdf.parse_ns_per_doc" -> "ns", "classify.ns_per_doc" -> "ns", "boiler.ns_per_page" -> "ns",
    "extract.ns_per_doc" -> "ns", "model.encode_ns_per_row" -> "ns",
    "extract.sublayer_leftover_frac" -> "ratio", "extract.ocr_success_ratio" -> "ratio",
    "queries.lsh_verified_per_candidate" -> "ratio", "queries.lsh_task_skew" -> "ratio",
    "spark.kernel_task_skew" -> "ratio", "spark.cpu_util" -> "ratio",
    "app.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes") ++
    Seq("sources.scan_s", "extract.kernel_s", "app.exchange_s", "app.write_s", "app.lineage_s",
      "app.unattributed_s", "app.staging_s", "jobs.checkpoint_s", "queries.quality_s",
      "queries.exact_dedup_s", "queries.minhash_s", "queries.lsh_join_s", "app.corpus_tail_s",
      "spark.task_busy_s", "spark.gc_s", "spark.sched_wait_s", "app.job_s", "trace.overhead_s")
      .map(_ -> "s")
}
