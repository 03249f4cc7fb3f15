package graft.streaming

import graft.plans.ExtractOperator
import graft.model.Page
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming surface of the extraction pipeline.
  *
  * The reference has no stream processing (SURVEY.md §2.9) — its async
  * job layer is batch-with-progress, which maps to ExtractJob. This
  * module is the graft-added incremental path for a continuously-fed
  * pages table: the SAME kernel runs per micro-batch, so batch and
  * streaming share one code path (`readStream` → `GraftExtract`
  * → `writeStream`), with exactly-once parquet output via the streaming
  * checkpoint — the streaming twin of ExtractJob's bucket lineage.
  *
  * Scale notes: the kernel stage is stateless map-only (no state store);
  * watermarked windowed aggregation is used only for the metrics stream
  * where state is bounded by (window × pdf_type) cardinality.
  */
object StreamingExtract {

  /** Read-schema of the synthetic `documents` table (TESTDATA.md) —
    * single owner for every documents-sourced stream builder below.
    */
  private val DocumentsSchema =
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

  /** The pages table as a stream (parquet directory source). */
  private def pageStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Page].schema)
      .parquet(inputDir)

  /** Incremental extraction over a parquet directory source. The
    * operator projects to the kernel's input columns — the unused golden
    * `text` column never leaves the parquet reader.
    */
  def extractStream(spark: SparkSession, inputDir: String, quality: String): DataFrame =
    ExtractOperator.extract(pageStream(spark, inputDir), quality, slim = false)

  /** Run to completion over currently-available files (AvailableNow =
    * bounded run with streaming semantics + checkpoint resume), writing
    * extraction records as parquet.
    */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      quality: String = "balanced"): StreamingQuery = {
    extractStream(spark, inputDir, quality)
      .select("url", "pdf_type", "total_pages", "text", "word_count",
        "extraction_method", "confidence", "success", "quality", "lang")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Per-user session accumulator for the custom-state path. */
  final case class SessionAgg(lastUs: Long, nSessions: Long, nEvents: Long)

  /** Per-user state: the fold over all CONFIRMED events (event time ≤
    * watermark when folded — no earlier event can still arrive, modulo
    * the allowed lateness) plus a buffer of not-yet-confirmed (us,
    * event_id) pairs. The buffer is bounded by (watermark delay × per-
    * user event rate), NOT total event volume.
    */
  final case class SessionState(confirmed: SessionAgg, buffer: Vector[(Long, Long)])

  /** Gap-based sessionization with EXPLICIT state
    * (`mapGroupsWithState`) — the streaming twin of the batch window
    * form (queries.Relational q34). Micro-batch and cross-file ordering
    * is NOT trusted (the file source orders batches by mod-time/path,
    * not event time): each user's events are buffered in state and only
    * folded into the running (lastTs, nSessions, nEvents) once the
    * event-time watermark passes them, so any event that arrives within
    * `lateness` lands in its correct sorted position before it is
    * committed. Each batch emits provisional totals = confirmed fold +
    * fold of the (sorted) still-buffered suffix; the final emission under
    * AvailableNow therefore covers every event in global (ts, event_id)
    * order. Events later than `lateness` are a documented correctness
    * bound (standard watermark contract), not a silent reorder.
    */
  def sessionizeStream(
      spark: SparkSession,
      inputDir: String,
      tableName: String,
      gapUs: Long = 6L * 3600 * 1000000,
      lateness: String = "1 hour"): StreamingQuery = {
    import spark.implicits._
    // The watermarked event-time column must itself reach the grouped
    // Dataset (projecting it away detaches the watermark from the
    // stateful operator), so `ts` is carried through and micros derived
    // in the lambda.
    val events = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(inputDir)
      .withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long)]
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

    def fold(init: SessionAgg, evs: Seq[(Long, Long)]): SessionAgg =
      evs.foldLeft(init) { case (a, (us, _)) =>
        val newSession = a.lastUs == Long.MinValue || us - a.lastUs > gapUs
        SessionAgg(us, a.nSessions + (if (newSession) 1 else 0), a.nEvents + 1)
      }

    def update(user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
        state: GroupState[SessionState]): (Long, Long, Long) = {
      val prev = state.getOption.getOrElse(SessionState(SessionAgg(Long.MinValue, 0L, 0L), Vector.empty))
      val merged = (prev.buffer ++ rows.map(r => (micros(r._2), r._3))).sorted
      // Commit the prefix the watermark has passed; keep the rest buffered.
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (safe, keep) = merged.partition(_._1 <= wmUs)
      val confirmed = fold(prev.confirmed, safe)
      state.update(SessionState(confirmed, keep))
      val provisional = fold(confirmed, keep)
      (user, provisional.nSessions, provisional.nEvents)
    }

    events.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
      .toDF("user_id", "n_sessions", "n_events")
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Per-url revisit state: one fixed-size record per distinct url. */
  final case class SnapshotState(n: Long, keptDoc: Long, keptTs: Long, firstTs: Long)

  /** Streaming URL-revisit dedup — the incremental twin of the batch
    * q77 operator (queries.WebOps): a crawl feed delivers multiple
    * snapshots of the same url across micro-batches, and each trigger
    * emits the url's current NEWEST snapshot (max by (ts, doc_id) —
    * lexicographic, so ties are deterministic) plus snapshot counters.
    * The fold is a commutative monoid (count/max/min), so arrival order
    * across files and batches cannot change the final answer — no
    * watermark or event-time buffering is needed, unlike
    * sessionizeStream whose fold is order-sensitive. State is one
    * fixed-size record per DISTINCT url; at 10^12 urls that is the
    * RocksDB state-store deployment, or the persistent-table pattern
    * (queries.SignatureStore) once the url set outgrows streaming
    * state.
    */
  def latestSnapshotStream(
      spark: SparkSession,
      inputDir: String,
      tableName: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    val reader = spark.readStream
      .schema("doc_id LONG, url STRING, ts_s LONG")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val snaps = reader.parquet(inputDir).as[(Long, String, Long)]

    def update(url: String, rows: Iterator[(Long, String, Long)],
        state: GroupState[SnapshotState]): (String, Long, Long, Long, Long) = {
      val init = state.getOption
        .getOrElse(SnapshotState(0L, Long.MinValue, Long.MinValue, Long.MaxValue))
      val next = rows.foldLeft(init) { case (a, (doc, _, ts)) =>
        val takes = ts > a.keptTs || (ts == a.keptTs && doc > a.keptDoc)
        SnapshotState(a.n + 1,
          if (takes) doc else a.keptDoc,
          if (takes) ts else a.keptTs,
          math.min(a.firstTs, ts))
      }
      state.update(next)
      (url, next.n, next.keptDoc, next.firstTs, next.keptTs)
    }

    snaps.groupByKey(_._2)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
      .toDF("url", "n_snapshots", "kept_doc_id", "first_ts_s", "last_ts_s")
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Reader for latestSnapshotStream's Update-mode memory sink. The
    * sink is an UPDATE LOG — one row per (url, micro-batch that touched
    * it) — NOT a table of current state; consumers that join it raw see
    * up to one stale row per batch. A url's current state is its
    * emission with the highest n_snapshots (the counter is monotone),
    * which this helper selects — the single owner of that contract.
    */
  def latestSnapshots(spark: SparkSession, tableName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.table(tableName)
      .withColumn("rn", row_number().over(
        Window.partitionBy("url").orderBy(col("n_snapshots").desc)))
      .where(col("rn") === 1).drop("rn")
  }

  /** Streaming maintenance of the q82 HyperLogLog registers: per
    * micro-batch, fold each arriving document's shingle hashes into the
    * per-(lang, bucket) register max. The register update is a plain
    * streaming max aggregate because HLL is DUPLICATE-INSENSITIVE —
    * max(rho) over all occurrences equals max(rho) over distinct values
    * — so no cross-batch dropDuplicates state is needed at all. State =
    * langs × 64 registers (a few hundred longs); output mode complete,
    * so the sink table always holds the sketch of everything ingested
    * so far. `StreamingSketchSpec` proves the streamed registers equal
    * the one-pass batch registers across forced micro-batch splits —
    * the "daily partials fold into the corpus sketch" contract, live.
    */
  def hllRegisterStream(
      spark: SparkSession,
      inputDir: String,
      tableName: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import graft.queries.{QueryUtil, SketchStats}
    val reader = spark.readStream
      .schema(DocumentsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val shingled = reader.parquet(inputDir)
      .withColumn("toks", QueryUtil.tokens(col("text")))
      .select(col("lang"), explode_outer(QueryUtil.shingles3(col("toks"))).as("g"))
      .where(col("g").isNotNull)
    SketchStats.hllRegisters(shingled, "g", "lang")
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming maintenance of the q83 Count-Min counters: each arriving
    * token increments its d=4 md5-derived cells; the streaming sum
    * aggregate IS the sketch merge (counter addition commutes across
    * micro-batches). State = 4×256 longs regardless of corpus size.
    * Together with hllRegisterStream this makes the corpus statistics
    * incrementally maintainable: a 10^12-token corpus's distinct and
    * frequency summaries stay current without any batch recomputation.
    */
  def cmsCounterStream(
      spark: SparkSession,
      inputDir: String,
      tableName: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import graft.queries.{QueryUtil, SketchStats}
    val reader = spark.readStream
      .schema(DocumentsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    SketchStats.cmsCounters(
      reader.parquet(inputDir)
        .select(explode(QueryUtil.tokens(col("text"))).as("term")), "term")
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Incremental EXACT dedup: extract each page, drop documents whose
    * extracted text was already seen. The streaming twin of the batch
    * hash-groupBy dedup (queries.TextOps q22) for a continuously-fed
    * pages table — the arriving-batch-vs-corpus case a training-data
    * pipeline hits daily.
    *
    * Two state regimes:
    *  - `lateness = None` (default): global dedup via `dropDuplicates` —
    *    state holds one entry per DISTINCT document ever seen. State is
    *    hash-partitioned across executors and grows with the distinct
    *    corpus; at 10^12 docs that is a RocksDB-state-store deployment
    *    (~50 B/key → ~50 TB across the fleet), or periodic compaction
    *    into the batch job. Correct-by-construction, cost is explicit.
    *  - `lateness = Some(delay)`: bounded state via
    *    `dropDuplicatesWithinWatermark` — duplicates are only suppressed
    *    while their first copy is within the event-time watermark. State
    *    is bounded by (delay × arrival rate) regardless of corpus size;
    *    the right choice when duplicates cluster in time (recrawls,
    *    mirror bursts) and a trailing batch dedup mops up the rest.
    *
    * Which document survives a duplicate set is arrival-order dependent
    * (streaming has no total order) — the CONTENT kept is deterministic,
    * the representative url is not, matching `dropDuplicates` contract.
    */
  def dedupStream(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      quality: String = "balanced",
      lateness: Option[String] = None): StreamingQuery = {
    val rows = ExtractOperator.extract(pageStream(spark, inputDir), quality,
        slim = true, passthrough = Seq("warc_ts"))
      .where(col("success") && length(col("text")) > 0)
      // md5 of the extracted text: 128 bits, so collisions are negligible
      // even at 10^12 documents (a 64-bit key would merge ~10^4 there).
      .select(col("url"), col("warc_ts"), md5(col("text")).as("content_hash"),
        col("word_count"), col("text"))
    val deduped = lateness match {
      case Some(delay) =>
        rows.withWatermark("warc_ts", delay)
          .dropDuplicatesWithinWatermark("content_hash")
      case None => rows.dropDuplicates("content_hash")
    }
    deduped.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Incremental NEAR-dup dedup over a continuously-fed documents table:
    * each micro-batch is MinHash-sketched (queries.Sketch — the q24p/q53
    * production hash family), LSH-banded against (a) itself and (b) the
    * signature store accumulated from every earlier batch, candidates
    * are verified with exact shingle-set Jaccard, and only novel
    * documents are emitted. This is the streaming form of the
    * oracle-verified q53 operator — `foreachBatch` + an explicit
    * signature table instead of a keyed state store, because the LSH
    * verdict needs cross-key coordination (a document's B bands must be
    * judged together) that single-key `mapGroupsWithState` cannot
    * express, and because the signature table IS the artifact a
    * production pipeline wants (the corpus side of every future
    * ingest's band join, per q53's scale note).
    *
    * Exactly-once: `foreachBatch` is at-least-once, so both sinks write
    * to `batch_id=<id>` subdirectories with overwrite — a replayed
    * batch rewrites its own partition byte-identically. Within a batch
    * the lower doc_id survives; against the store the arriving doc is
    * always the one dropped. Greedy pair-drop (not clustering): if A
    * drops B and corpus-dup C also drops A's batch-mate, a cluster can
    * lose all batch members — the q35 component pass is the clustering
    * variant (same trade documented at CorpusPipeline's near-dup stage).
    *
    * Scale: per-ingest COMPUTE is O(batch) — sketching happens only on
    * arriving documents, the store ships precomputed 64-bit band keys
    * (no re-hashing on read), and the store is never self-joined. The
    * band join still SCANS the store's compact key rows each trigger
    * (8 longs + the verify array per novel doc ever); at cluster scale
    * that side is bucketed by band_sig so the join is co-located and
    * the scan prunes to the batch's buckets. The store grows one row
    * per NOVEL document, not per arrival.
    */
  def nearDedupStream(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      sigDir: String,
      threshold: Double = 0.5,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream
      .schema(DocumentsSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(inputDir)
      .select("doc_id", "text", "lang")
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        nearDedupBatch(batch, batchId, outDir, sigDir, threshold)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** One micro-batch of the incremental near-dup (also the unit a batch
    * backfill calls directly, one invocation per ingest).
    */
  def nearDedupBatch(
      batchDf: DataFrame,
      batchId: Long,
      outDir: String,
      sigDir: String,
      threshold: Double): Unit = {
    import graft.queries.Sketch
    // foreachBatch hands a Dataset bound to a CLONED SparkSession (the
    // micro-batch's isolated session state): the sketch functions must
    // be registered there, not on the caller's session.
    val s = batchDf.sparkSession
    graft.plans.GraftFunctions.ensureRegistered(s)
    val batch = batchDf.localCheckpoint()
    // Band signatures are computed once here and PERSISTED with the
    // sketch, so later batches' band joins read precomputed 64-bit keys
    // instead of re-hashing the whole store every trigger.
    val sk = Sketch.sketch(batch)
      .withColumn("bands", Sketch.bandSigs(col("sigs")))
      .localCheckpoint()
    val bandsB = Sketch.explodeBands(sk)

    // Signature store from earlier batches (absent on the first). Keep
    // only PRIOR partitions (batch_id < batchId, via SignatureStore.read
    // — the single owner of the store layout):
    //  - a foreachBatch retry may run after the failed attempt already
    //    wrote this batch's signatures — judging a batch against its own
    //    sketches would drop every document as a dup of itself;
    //  - a backfill REPLAY of an older batchId after later batches
    //    committed must see exactly the store that batch saw originally,
    //    or the replay changes that partition's output (batch ids are
    //    monotone, so "<" is precisely "what existed when this batch
    //    first ran"). Partition pruning makes the filter free.
    val store: Option[DataFrame] = {
      val path = new org.apache.hadoop.fs.Path(sigDir)
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(path) && fs.listStatus(path).nonEmpty)
        Some(graft.queries.SignatureStore.read(s, sigDir, beforeBatch = Some(batchId)))
      else None
    }

    // Candidates: within-batch (min doc_id survives) ∪ batch-vs-store
    // (the store doc always survives). Both joins are on the compact
    // 64-bit band keys; the verify join pulls shingle-hash arrays for
    // candidates only.
    val a = bandsB.withColumnRenamed("doc_id", "doc_a")
    val b = bandsB.withColumnRenamed("doc_id", "doc_b")
    val inBatch = a.join(b, Seq("band_id", "band_sig"))
      .where(col("doc_a") > col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val cands = store match {
      case Some(st) =>
        inBatch.unionByName(
          bandsB.withColumnRenamed("doc_id", "doc_a")
            .join(Sketch.explodeBands(st).withColumnRenamed("doc_id", "doc_b"),
              Seq("band_id", "band_sig"))
            .select("doc_a", "doc_b").distinct())
      case None => inBatch
    }
    val allSk = store
      .map(st => sk.select("doc_id", "hsh", "bands").unionByName(st))
      .getOrElse(sk.select("doc_id", "hsh", "bands"))
    val dups = cands
      .join(sk.select(col("doc_id").as("doc_a"), col("hsh").as("h_a")), Seq("doc_a"))
      .join(allSk.select(col("doc_id").as("doc_b"), col("hsh").as("h_b")), Seq("doc_b"))
      .where(Sketch.jaccard(col("h_a"), col("h_b")) >= threshold)
      .select(col("doc_a").as("doc_id")).distinct()

    val kept = batch.join(dups, Seq("doc_id"), "left_anti")
    kept.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // Novel documents' sketches extend the store (idempotent per
    // batch); `sigs` is dropped — future joins need only the verify
    // arrays and the precomputed band keys. SignatureStore.writeRows
    // owns the layout (one schema for batch and streaming).
    graft.queries.SignatureStore.writeRows(
      sk.join(dups, Seq("doc_id"), "left_anti"), sigDir, batchId)
  }

  /** Streaming metrics roll-up: tumbling event-time windows over
    * warc_ts with a watermark bounding state (per-window docs and word
    * volume by pdf_type). Complete mode → in-memory table `tableName`.
    */
  def metricsStream(
      spark: SparkSession,
      inputDir: String,
      tableName: String,
      quality: String = "fast"): StreamingQuery = {
    ExtractOperator.extract(pageStream(spark, inputDir), quality,
        slim = true, passthrough = Seq("warc_ts"))
      .withWatermark("warc_ts", "1 hour")
      .groupBy(window(col("warc_ts"), "1 day"), col("pdf_type"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("word_count").cast("long")).as("words"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
