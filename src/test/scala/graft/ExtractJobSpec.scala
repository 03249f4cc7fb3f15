package graft

import graft.app.ExtractJob
import graft.app.ExtractJob.Args
import graft.extract.Processor
import graft.jobs.Checkpoint
import graft.synth.PageGen
import org.apache.spark.sql.functions._

/** Pipeline-level specs: generator determinism, end-to-end extraction,
  * idempotent checkpoint resume (north rule), parallelism invariance.
  */
class ExtractJobSpec extends SparkSuite {

  private val N = 400L

  test("PageGen is a pure function of (seed, id): partitioning-invariant") {
    import spark.implicits._
    val a = PageGen.generate(spark, N).repartition(7)
      .map(p => (p.url, java.util.Arrays.hashCode(p.html), p.lang, p.warc_ts.getTime))
      .collect().sortBy(_._1)
    val b = PageGen.generate(spark, N).repartition(2)
      .map(p => (p.url, java.util.Arrays.hashCode(p.html), p.lang, p.warc_ts.getTime))
      .collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.length == N)
  }

  test("host distribution is skewed (Zipfian) but buckets stay balanced") {
    import spark.implicits._
    val pages = PageGen.generate(spark, 2000L)
    val hostCounts = pages.map(p => new java.net.URI(p.url).getHost)
      .groupByKey(identity).count().collect().map(_._2)
    assert(hostCounts.max >= 20 * hostCounts.min || hostCounts.min == 1,
      s"expected skew, got max=${hostCounts.max} min=${hostCounts.min}")
    val bucketCounts = pages.toDF().select(ExtractJob.bucketExpr(16).as("bucket"))
      .groupBy("bucket").count().collect().map(_.getLong(1))
    assert(bucketCounts.max.toDouble / bucketCounts.min < 2.0,
      s"buckets unbalanced: ${bucketCounts.mkString(",")}")
  }

  test("end-to-end job: all rows extracted, error rows isolated, output matches kernel") {
    val out = tmpDir("xjob-out")
    val rows = ExtractJob.run(spark, Args(rows = N, out = out, buckets = 8))
    assert(rows.map(_.docs).sum == N)
    assert(rows.forall(_.status == "completed"))

    val res = spark.read.parquet(out)
    assert(res.count() == N)
    // Corrupted family rows become error records; everything else succeeds.
    val failed = res.where(!col("success")).select("url").collect().map(_.getString(0))
    assert(failed.forall(_.contains("/corrupted/")))
    assert(res.where(col("success")).count() == N - failed.length)

    // Byte-identical text per url vs a direct kernel call (per-row invariant).
    val sample = res.where(col("success"))
      .select("url", "text", "word_count").orderBy("url").limit(30).collect()
    sample.foreach { r =>
      val url = r.getString(0)
      val id = url.substring(url.lastIndexOf("/p") + 2, url.length - 5).toLong
      val rec = Processor.default.extract(PageGen.row(42L, id), "balanced")
      assert(rec.text == r.getString(1), s"text mismatch for $url")
      assert(rec.word_count == r.getInt(2))
    }
  }

  test("multi-wave run stages input once, matches single-wave output, cleans up staging") {
    val outOne = tmpDir("xjob-wave1")
    val outMany = tmpDir("xjob-wave4")
    ExtractJob.run(spark, Args(rows = N, out = outOne, buckets = 8))
    val rows = ExtractJob.run(spark,
      Args(rows = N, out = outMany, buckets = 8, waveSize = 2, runId = "waved"))
    assert(rows.map(_.docs).sum == N)
    // The bucketed staging table is deleted after the run.
    assert(!new java.io.File(s"${outMany}_staging").exists() ||
      new java.io.File(s"${outMany}_staging").list().isEmpty)
    // Output tables are identical row-for-row.
    val a = spark.read.parquet(outOne).select("url", "text", "word_count", "success")
      .orderBy("url").collect()
    val b = spark.read.parquet(outMany).select("url", "text", "word_count", "success")
      .orderBy("url").collect()
    assert(a.length == b.length && a.sameElements(b))
  }

  test("--slim job: flat schema, same per-document values as the full run") {
    val outFull = tmpDir("xjob-full")
    val outSlim = tmpDir("xjob-slim")
    ExtractJob.run(spark, Args(rows = 400, out = outFull, buckets = 4))
    ExtractJob.run(spark, Args(rows = 400, out = outSlim, buckets = 4, slim = true))
    val slim = spark.read.parquet(outSlim)
    // Flat schema: no nested arrays/structs anywhere.
    assert(slim.schema.fields.forall(f =>
      !f.dataType.typeName.contains("array") && !f.dataType.typeName.contains("struct")),
      slim.schema.treeString)
    // Shared columns carry identical values per url.
    val cols = Seq("url", "success", "pdf_type", "total_pages", "text",
      "word_count", "confidence", "extraction_method")
    val a = spark.read.parquet(outFull).select(cols.head, cols.tail: _*)
      .orderBy("url").collect().toSeq
    val b = slim.select(cols.head, cols.tail: _*).orderBy("url").collect().toSeq
    assert(a == b)
  }

  test("--notify writes an atomic completion summary (I4 seam)") {
    val out = tmpDir("xjob-notify")
    val notifyPath = tmpDir("xjob-notify-dir") + "/done.json"
    val rows = ExtractJob.run(spark,
      Args(rows = 200, out = out, buckets = 4, notifyPath = notifyPath))
    val f = new java.io.File(notifyPath)
    assert(f.exists())
    assert(!new java.io.File(notifyPath + ".tmp").exists()) // rename, not partial write
    val json = scala.io.Source.fromFile(f).mkString
    assert(json.contains(""""status":"completed""""))
    assert(json.contains(s""""docs":${rows.map(_.docs).sum}"""))
    assert(json.contains(""""buckets_done":4"""))
    // A complete-checkpoint rerun is a noop and reports it as such.
    val ckpt = tmpDir("xjob-notify-ckpt")
    ExtractJob.run(spark, Args(rows = 200, out = out, buckets = 4,
      checkpoint = ckpt, notifyPath = notifyPath))
    ExtractJob.run(spark, Args(rows = 200, out = out, buckets = 4,
      checkpoint = ckpt, notifyPath = notifyPath))
    val json2 = scala.io.Source.fromFile(f).mkString
    assert(json2.contains(""""status":"noop""""))
  }

  test("--notify-url POSTs the completion summary (I4 webhook parity)") {
    // Local-socket receiver (JDK HttpServer, loopback only) — the
    // reference's webhook contract (service/jobs.py:231-247) without
    // external network.
    val received = new java.util.concurrent.LinkedBlockingQueue[(String, String, String)]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      received.put((ex.getRequestMethod,
        ex.getRequestHeaders.getFirst("Content-Type"), body))
      ex.sendResponseHeaders(200, 2)
      val os = ex.getResponseBody; os.write("ok".getBytes); os.close()
    })
    server.start()
    try {
      val out = tmpDir("xjob-hook")
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
      val rows = ExtractJob.run(spark,
        Args(rows = 200, out = out, buckets = 4, notifyUrl = url))
      val (method, ctype, body) = received.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(method == "POST")
      assert(ctype == "application/json")
      assert(body.contains(""""job":"extract""""))
      assert(body.contains(""""status":"completed""""))
      assert(body.contains(s""""docs":${rows.map(_.docs).sum}"""))

      // A dead receiver is non-fatal: the job still completes (the
      // reference swallows webhook failures the same way).
      server.stop(0)
      val out2 = tmpDir("xjob-hook2")
      val rows2 = ExtractJob.run(spark,
        Args(rows = 100, out = out2, buckets = 2, notifyUrl = url))
      assert(rows2.nonEmpty && spark.read.parquet(out2).count() > 0)
    } finally server.stop(0)
  }

  test("lang filter is pushed before the kernel and respected") {
    val out = tmpDir("xjob-lang")
    ExtractJob.run(spark, Args(rows = N, out = out, buckets = 4, lang = "de"))
    val res = spark.read.parquet(out)
    assert(res.count() > 0)
    assert(res.where(col("lang") =!= "de").count() == 0)
  }

  test("invalid quality normalizes to balanced at the job boundary") {
    val out = tmpDir("xjob-q")
    val rows = ExtractJob.run(spark, Args(rows = 50, out = out, buckets = 2, quality = "turbo"))
    assert(rows.forall(_.quality == "balanced"))
  }

  test("idempotent resume: killed-midway rerun produces identical results table") {
    val outFull = tmpDir("xjob-full")
    val outResume = tmpDir("xjob-resume")
    val ckpt = tmpDir("xjob-ckpt") + "/lineage"

    // Reference run: everything in one go.
    ExtractJob.run(spark, Args(rows = N, out = outFull, buckets = 8))

    // Interrupted run: first wave of 3 buckets completes + checkpoints...
    val a = Args(rows = N, out = outResume, checkpoint = ckpt, runId = "r1", buckets = 8, waveSize = 3)
    val firstWave = ExtractJob.run(spark, a.copy(waveSize = 3)) // full run in waves
    assert(firstWave.map(_.bucket).toSet == (0 until 8).toSet)

    // ...simulate a crash after wave 1: drop lineage for buckets >2 and
    // corrupt their result partitions (partial files).
    val keep = spark.read.parquet(ckpt).where(col("bucket") < 3)
    val ckpt2 = tmpDir("xjob-ckpt2") + "/lineage"
    keep.write.parquet(ckpt2)
    (3 until 8).foreach { b =>
      val dir = new java.io.File(s"$outResume/bucket=$b")
      if (dir.exists()) {
        // Truncate: delete half the files to simulate a torn write.
        dir.listFiles().zipWithIndex.foreach { case (f, i) => if (i % 2 == 0) f.delete() }
      }
    }

    // Resume with the surviving checkpoint: buckets 0-2 must be skipped,
    // 3-7 rewritten atomically.
    val resumed = ExtractJob.run(spark, a.copy(checkpoint = ckpt2))
    assert(resumed.map(_.bucket).toSet == (3 until 8).toSet)

    val full = spark.read.parquet(outFull)
      .select("url", "text", "word_count", "pdf_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    val res = spark.read.parquet(outResume)
      .select("url", "text", "word_count", "pdf_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    assert(res.length == N)
    assert(full.toSeq == res.toSeq)

    // Re-running with complete checkpoint is a no-op.
    val noop = ExtractJob.run(spark, a.copy(checkpoint = ckpt2))
    assert(noop.isEmpty)
  }

  test("same job at local parallelism 1 vs 4 yields identical output (scaling correctness)") {
    import spark.implicits._
    val pages = PageGen.generate(spark, 120L)
      .select("url", "html", "lang").as[graft.model.KernelPage]
    val one = ExtractJob.extractKernel(pages.repartition(1), "balanced")
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    val four = ExtractJob.extractKernel(pages.repartition(4), "balanced")
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    assert(one.toSeq == four.toSeq)
  }

  test("a file:// URI checkpoint resumes and skips its completed buckets") {
    val out = tmpDir("xjob-uri")
    val ckpt = "file://" + tmpDir("xjob-uri-ckpt") + "/lineage"
    val a = Args(rows = 200, out = out, checkpoint = ckpt, runId = "uri", buckets = 4)
    assert(ExtractJob.run(spark, a).map(_.bucket).toSet == (0 until 4).toSet)
    assert(Checkpoint.completedBuckets(spark, ckpt, "uri") == (0 until 4).toSet)
    assert(ExtractJob.run(spark, a).isEmpty, "completed buckets were recomputed")
  }

  test("a checkpoint holding a corrupt parquet file fails loudly, not as 'no buckets done'") {
    import graft.jobs.LineageRow
    val ckpt = tmpDir("xjob-bad-ckpt") + "/lineage"
    Checkpoint.append(spark, ckpt, Seq(LineageRow("r1", 0, "completed", 10, 10, 0, 100,
      "balanced", new java.sql.Timestamp(System.currentTimeMillis()))))
    java.nio.file.Files.write(java.nio.file.Paths.get(ckpt, "part-99999-corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception](Checkpoint.completedBuckets(spark, ckpt, "r1"))
  }

  test("checkpoint retention delete drops only expired lineage rows") {
    import graft.jobs.{Checkpoint, LineageRow}
    val path = tmpDir("ckpt_ttl") + "/lineage"
    val now = System.currentTimeMillis()
    val old = new java.sql.Timestamp(now - 48L * 3600 * 1000)
    val fresh = new java.sql.Timestamp(now)
    Checkpoint.append(spark, path, Seq(
      LineageRow("r1", 0, "completed", 10, 10, 0, 100, "balanced", old),
      LineageRow("r1", 1, "completed", 10, 10, 0, 100, "balanced", fresh)))
    val dropped = Checkpoint.cleanupExpired(spark, path, ttlHours = 24)
    assert(dropped == 1)
    val left = spark.read.parquet(path).collect()
    assert(left.length == 1 && left(0).getAs[Int]("bucket") == 1)
  }

  test("lang filter reaches the parquet scan (pushdown before the kernel)") {
    import graft.app.ExtractJob
    val dir = tmpDir("pages_pd")
    graft.synth.PageGen.generate(spark, 500).toDF().write.mode("overwrite").parquet(dir)
    val ds = ExtractJob.loadPages(spark, ExtractJob.Args(input = dir, out = "/x", lang = "de"))
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(lang,de)"), plan)
  }
}
