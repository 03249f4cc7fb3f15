package graft.app

import graft.jobs.{Checkpoint, LineageRow}
import graft.model.{Enums, KernelPage, Page}
import graft.plans.ExtractOperator
import graft.synth.PageGen
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The extraction pipeline as a spark-submit batch job (SURVEY.md §3.1's
  * Spark lifecycle + §4.4 physical plan of record):
  *
  *   scan(pages, pushed filters) → project → [map-only] GraftExtract
  *     → write results partitionBy(bucket) → append lineage rows
  *
  * Scale design decisions (10^12-row design point):
  *  - **No payload shuffle.** Extraction is embarrassingly parallel; the
  *    html payload column dominates bytes, so the kernel stage is map-only
  *    — the scan's input splits are the parallelism. The only exchange is
  *    of compact post-kernel records, clustering output files by bucket
  *    (disable with `--no-write-shuffle`). An optional `--repartition N`
  *    exists for pathological input layouts only.
  *  - **Explicit bucket partitioning** for lineage/resume: bucket =
  *    pmod(xxhash64(url), B). xxhash64 spreads Zipfian hosts uniformly,
  *    so bucket sizes are balanced regardless of host skew; skew in
  *    per-row work is handled by input-split granularity + AQE.
  *  - **Idempotent resume** (north rule): results are written with
  *    dynamic partition overwrite per bucket; a bucket's lineage row is
  *    appended only after its results are durable. On restart, completed
  *    buckets are skipped (driver-side isin filter — never a join/shuffle
  *    since B is small); incomplete buckets are rewritten atomically.
  *    Waves (`--wave-size`) bound how much work one commit covers.
  *
  * Usage:
  *   ExtractJob (--rows N [--seed S] | --input path) --out DIR
  *     [--checkpoint DIR] [--run-id ID] [--quality q] [--lang xx]
  *     [--buckets B] [--wave-size W] [--repartition N] [--slim]
  *     [--notify PATH] [--notify-url URL] [--compact-target BYTES] [--two-pass]
  */
object ExtractJob {

  final case class Args(
      rows: Long = 0L,
      seed: Long = 42L,
      input: String = "",
      out: String = "",
      checkpoint: String = "",
      runId: String = "run-default",
      quality: String = "balanced",
      lang: String = "",
      buckets: Int = 64,
      waveSize: Int = 0, // 0 → all remaining buckets in one wave
      repartition: Int = 0,
      writeShuffle: Boolean = true,
      inputFormat: String = "table", // table (parquet/iceberg via TableIO) | warc
      // Corpus-scale output schema: flat per-document columns only
      // (model.SlimRecord) — drops the nested per-page structs whose
      // encoding is pure lineage-debug detail at 10^12 rows.
      slim: Boolean = false,
      // I4 completion notification (reference service/jobs.py:231-247
      // fire-and-forget webhook): on job completion a one-line JSON
      // summary is written ATOMICALLY (tmp + rename) to this path. The
      // filesystem is the sandbox-safe delivery seam — in a cluster
      // deployment the same payload goes to the webhook URL; consumers
      // watch for the file exactly as they would receive the POST.
      notifyPath: String = "",
      // I4 transport parity with the reference's fire-and-forget webhook
      // (service/jobs.py:231-247 POSTs {job_id,status,...} and ignores
      // failures): POST the same one-line JSON summary to this URL.
      // Independent of --notify; both may be set. Failures are logged,
      // never fatal, and never retried — exactly the reference's
      // contract. (Orchestrators that can't receive HTTP use the file
      // seam instead.)
      notifyUrl: String = "",
      // Post-job small-file compaction (CompactJob.run on the output):
      // an incremental corpus accretes one part file per wave per
      // bucket; compacting while the job still owns the table avoids a
      // separate maintenance window. 0 = off.
      compactTarget: Long = 0L,
      // K6 two-pass cascade (TwoPass.extract): cheap `fast` kernel over
      // everything, `accurate` re-extraction of the docs pass 1 flags,
      // better result kept per url (adds a `pass` column to the output
      // schema).
      twoPass: Boolean = false)

  def parseArgs(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--rows" => a = a.copy(rows = argv(i + 1).toLong); i += 2
        case "--seed" => a = a.copy(seed = argv(i + 1).toLong); i += 2
        case "--input" => a = a.copy(input = argv(i + 1)); i += 2
        case "--out" => a = a.copy(out = argv(i + 1)); i += 2
        case "--checkpoint" => a = a.copy(checkpoint = argv(i + 1)); i += 2
        case "--run-id" => a = a.copy(runId = argv(i + 1)); i += 2
        case "--quality" => a = a.copy(quality = argv(i + 1)); i += 2
        case "--lang" => a = a.copy(lang = argv(i + 1)); i += 2
        case "--buckets" => a = a.copy(buckets = argv(i + 1).toInt); i += 2
        case "--wave-size" => a = a.copy(waveSize = argv(i + 1).toInt); i += 2
        case "--repartition" => a = a.copy(repartition = argv(i + 1).toInt); i += 2
        case "--no-write-shuffle" => a = a.copy(writeShuffle = false); i += 1
        case "--input-format" => a = a.copy(inputFormat = argv(i + 1)); i += 2
        case "--slim" => a = a.copy(slim = true); i += 1
        case "--notify" => a = a.copy(notifyPath = argv(i + 1)); i += 2
        case "--notify-url" => a = a.copy(notifyUrl = argv(i + 1)); i += 2
        case "--compact-target" => a = a.copy(compactTarget = argv(i + 1).toLong); i += 2
        case "--two-pass" => a = a.copy(twoPass = true); i += 1
        case other => throw new IllegalArgumentException(s"unknown arg: $other")
      }
    }
    require(a.out.nonEmpty, "--out is required")
    require(a.rows > 0 || a.input.nonEmpty, "--rows or --input is required")
    a
  }

  /** API-boundary quality gate (reference service/main.py:390-394 regex;
    * router.py:134-136 normalization): invalid → balanced.
    */
  def normalizeQuality(q: String): String =
    if (Enums.Qualities.contains(q)) q else Enums.Balanced

  def bucketExpr(buckets: Int): Column = pmod(xxhash64(col("url")), lit(buckets)).cast("int")

  /** The extraction kernel stage over the kernel's input projection:
    * one `GraftExtract` operator (plans.ExtractOperator), whose output
    * is `ExtractionRecord`'s columns, or `SlimRecord`'s when `slim`. The
    * operator reads only url/html/lang and runs the shared, stateless
    * JVM-wide Processor instance — the reference's lazy backend
    * singletons (service/main.py:50-55), O(1) memory per row. Filters on
    * the input belong before this call: Catalyst does not push
    * predicates through the operator.
    */
  def extractKernel(pages: Dataset[KernelPage], quality: String,
      slim: Boolean = false): DataFrame =
    ExtractOperator.extract(pages.toDF(), quality, slim)

  def loadPages(spark: SparkSession, a: Args): Dataset[Page] = {
    import spark.implicits._
    val df =
      if (a.input.nonEmpty && a.inputFormat == "warc")
        // Raw crawl archives: one task per archive file (WARC is the
        // crawl's natural split granularity); no lang column until the
        // kernel runs, so --lang doesn't apply here.
        graft.sources.Warc.readPages(spark, a.input).toDF()
      else if (a.input.nonEmpty) TableIO.read(spark, a.input)
      else PageGen.generate(spark, a.rows, a.seed).toDF()
    // Pushed-down predicates + projection BEFORE the kernel.
    val filtered = if (a.lang.nonEmpty && a.inputFormat != "warc")
      df.where(col("lang") === a.lang) else df
    filtered.select("url", "warc_ts", "html", "text", "lang").as[Page]
  }

  /** Run the job; returns per-wave lineage rows (also appended to the
    * checkpoint table when one is configured).
    */
  def run(spark: SparkSession, a0: Args): Seq[LineageRow] = {
    val a = a0.copy(quality = normalizeQuality(a0.quality))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    val pages = loadPages(spark, a)
    val done = if (a.checkpoint.nonEmpty)
      Checkpoint.completedBuckets(spark, a.checkpoint, a.runId) else Set.empty[Int]
    val remaining = (0 until a.buckets).filterNot(done)
    if (remaining.isEmpty) {
      notifyCompletion(a, Nil)
      return Nil
    }

    val waveSize = if (a.waveSize <= 0) remaining.size else a.waveSize
    val waves = remaining.grouped(waveSize).toVector
    val allRows = Vector.newBuilder[LineageRow]

    // Multi-wave runs previously re-scanned the FULL input once per wave
    // (ceil(B/w) scans with --wave-size w — each wave's isin() filter
    // still reads everything). One staging pass now derives the bucket
    // column and writes the projected kernel input partitioned by
    // bucket; each wave then reads ONLY its bucket directories
    // (partition pruning). Cost: one extra write of the projected
    // input; win: input scans drop from ceil(B/w) to one — the
    // difference between unusable and fine at 100 TB with small waves
    // (and for WARC input the archives are parsed once, not per wave).
    // Single-wave runs — the default — keep the direct path: no staging
    // write, exactly one input scan.
    val staging: Option[String] =
      if (waves.length <= 1) None
      else {
        val dir = s"${a.out}_staging/${a.runId}"
        pages.toDF()
          .select(col("url"), col("html"), col("lang"))
          .withColumn("bucket", bucketExpr(a.buckets))
          // Cluster rows by bucket before the partitionBy write so file
          // count ≈ B, not tasks × B.
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(dir)
        Some(dir)
      }

    try waves.foreach { wave =>
      val waveSet = wave.toSet
      val sub0 = staging match {
        case Some(dir) =>
          spark.read.parquet(dir)
            .where(col("bucket").isin(wave.map(Integer.valueOf): _*))
        case None =>
          pages.toDF().where(
            if (waveSet.size == a.buckets) lit(true)
            else bucketExpr(a.buckets).isin(wave.map(Integer.valueOf): _*))
      }
      val sub = if (a.repartition > 0) sub0.repartition(a.repartition) else sub0
      import spark.implicits._

      // The operator projects to the kernel's input columns itself, so
      // the parquet scan skips `text`/`warc_ts` entirely.
      // --two-pass is the fast→accurate cascade the Args doc promises:
      // pass 2 always runs `accurate` (with --quality fast the old
      // a.quality wiring re-ran the identical fast kernel over the
      // flagged subset — doubled work, zero rescue). --quality keeps
      // governing the single-pass path only.
      val recs0 = (if (a.twoPass)
                     TwoPass.extract(sub.select("url", "html", "lang").as[KernelPage], slim = a.slim)
                   else ExtractOperator.extract(sub, a.quality, a.slim))
        .withColumn("bucket", bucketExpr(a.buckets))
      // Cluster output files by bucket: one exchange of the COMPACT
      // post-kernel records (raw html never shuffles — it's dropped by
      // the kernel). Without this, a partitionBy write from T tasks
      // produces T×B files — at 10^5 tasks that's millions of tiny
      // files; with it, file count ≈ B. AQE coalesces the exchange.
      val recs = if (a.writeShuffle) recs0.repartition(col("bucket")) else recs0

      // dynamic overwrite: only this wave's buckets are replaced
      val tWrite0 = System.nanoTime()
      TableIO.overwritePartitions(recs, a.out, "bucket")
      val tWrite = (System.nanoTime() - tWrite0) / 1e9

      // Lineage metrics from the durably-written data (exact, columnar).
      val tMet0 = System.nanoTime()
      val metrics = TableIO.read(spark, a.out)
        .where(col("bucket").isin(wave.map(Integer.valueOf): _*))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("docs"),
          sum(when(col("success"), 1L).otherwise(0L)).as("ok_docs"),
          sum(when(col("success"), 0L).otherwise(1L)).as("error_docs"),
          sum(col("word_count").cast("long")).as("words"))
        .collect()
      // Phase diagnostics (stderr, ops-only): where a wave's wall time
      // went — the kernel+write job vs the metrics roll-up.
      System.err.println(
        f"[extract-job] wave ${wave.head}-${wave.last}: write ${tWrite}%.1f s, " +
        f"metrics ${(System.nanoTime() - tMet0) / 1e9}%.1f s")
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      val written = metrics.map { r =>
        LineageRow(a.runId, r.getInt(0), "completed", r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), a.quality, now)
      }.toVector
      // Buckets with zero rows still count as completed.
      val zero = wave.filterNot(written.map(_.bucket).toSet).map(b =>
        LineageRow(a.runId, b, "completed", 0L, 0L, 0L, 0L, a.quality, now))
      val rows = written ++ zero
      if (a.checkpoint.nonEmpty) Checkpoint.append(spark, a.checkpoint, rows)
      allRows ++= rows
    }
    // finally: a failed wave must not leak the staging copy of the
    // input (near-input-sized — tens of TB at the design point). A
    // checkpoint-resume rerun rebuilds staging from the source, so
    // deleting it on failure loses no state.
    finally staging.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val result = allRows.result()
    // Compaction runs BEFORE the completion notification: a consumer
    // triggered by --notify must see the final file layout.
    if (a.compactTarget > 0) CompactJob.run(spark, a.out, a.compactTarget)
    notifyCompletion(a, result)
    result
  }

  /** I4: deliver the completion notification over the configured
    * transports — atomic file write (`--notify`) and/or HTTP POST
    * (`--notify-url`, the reference's webhook contract,
    * service/jobs.py:231-247). Each transport fails independently and
    * non-fatally: notification is fire-and-forget on both paths.
    */
  private[app] def notifyCompletion(a: Args, rows: Seq[LineageRow]): Unit = {
    if (a.notifyPath.isEmpty && a.notifyUrl.isEmpty) return
    val docs = rows.map(_.docs).sum
    val errors = rows.map(_.error_docs).sum
    val status = if (rows.nonEmpty) "completed" else "noop"
    // run_id/out are caller-supplied — escape them or a quote in a
    // path produces an unparseable notification for a job that
    // actually succeeded.
    def js(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val json =
      s"""{"job":"extract","run_id":"${js(a.runId)}","status":"$status",""" +
      s""""docs":$docs,"error_docs":$errors,"buckets_done":${rows.length},""" +
      s""""out":"${js(a.out)}"}"""
    if (a.notifyPath.nonEmpty) try {
      val target = java.nio.file.Paths.get(a.notifyPath)
      if (target.getParent != null) java.nio.file.Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, (json + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Exception =>
        System.err.println(s"[extract] notify failed (non-fatal): ${e.getMessage}")
    }
    if (a.notifyUrl.nonEmpty) try {
      val conn = new java.net.URL(a.notifyUrl).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      // Bounded timeouts: a dead receiver must not hang job completion —
      // the reference's POST is equally best-effort.
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(5000)
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      val body = json.getBytes("UTF-8")
      conn.setFixedLengthStreamingMode(body.length)
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      val code = conn.getResponseCode // forces the exchange
      if (code < 200 || code >= 300)
        System.err.println(s"[extract] notify-url returned $code (non-fatal)")
      conn.disconnect()
    } catch {
      case e: Exception =>
        System.err.println(s"[extract] notify-url failed (non-fatal): ${e.getMessage}")
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = SparkUtil.session("graft-extract")
    val t0 = System.nanoTime()
    val rows = run(spark, a)
    val secs = (System.nanoTime() - t0) / 1e9
    val docs = rows.map(_.docs).sum
    println(f"""{"job":"extract","run_id":"${a.runId}","docs":$docs,"buckets_done":${rows.length},"sec":$secs%.3f,"docs_per_sec":${docs / math.max(secs, 1e-9)}%.1f}""")
    spark.stop()
  }
}
