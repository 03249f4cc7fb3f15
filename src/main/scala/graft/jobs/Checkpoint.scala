package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-bucket lineage row appended to the checkpoint table after a
  * bucket's results are durably written (SURVEY.md §2.9 I5 — the
  * graft-added idempotent-resume requirement; the reference's in-memory
  * `InMemoryJobStore`, service/jobs.py:104-135, loses jobs on restart).
  *
  * Sandbox realization: parquet append keyed by (run_id, bucket). In
  * production the same rows land in an Iceberg table whose snapshot
  * append gives atomic visibility; the write calls are isolated here so
  * the swap is one-file (SURVEY.md §7.5 risk 6).
  */
final case class LineageRow(
    run_id: String,
    bucket: Int,
    status: String, // "completed" (rows only appear once durable)
    docs: Long,
    ok_docs: Long,
    error_docs: Long,
    words: Long,
    quality: String,
    completed_ts: java.sql.Timestamp)

object Checkpoint {

  /** Buckets already completed for this run_id (empty when the table
    * doesn't exist yet or holds no data files). Small by construction
    * (≤ numBuckets rows) — collected and broadcast as an isin filter,
    * never a shuffle. Paths go through the Hadoop FileSystem, so
    * `hdfs://`, `s3a://` and `file://` checkpoints resume; a table that
    * exists but cannot be read fails the job rather than silently
    * recomputing every bucket.
    */
  def completedBuckets(spark: SparkSession, path: String, runId: String): Set[Int] = {
    val (fs, p) = resolve(spark, path)
    val hasData = fs.exists(p) && fs.listStatus(p).exists { s =>
      val name = s.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
    if (!hasData) Set.empty
    else graft.app.TableIO.read(spark, path)
      .where(col("run_id") === runId && col("status") === "completed")
      .select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
  }

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Append lineage rows for buckets whose results were just written. */
  def append(spark: SparkSession, path: String, rows: Seq[LineageRow]): Unit = {
    import spark.implicits._
    if (rows.nonEmpty)
      graft.app.TableIO.append(rows.toDF().coalesce(1), path)
  }

  /** Retention delete analog of the reference's 24h job expiry
    * (service/jobs.py:125-135): rewrite the table keeping young rows.
    * (Iceberg: `DELETE WHERE completed_ts < now() - INTERVAL 24 HOURS`.)
    */
  def cleanupExpired(spark: SparkSession, path: String, ttlHours: Int = 24): Long = {
    val (fs, p) = resolve(spark, path)
    if (!fs.exists(p)) return 0L
    val df = graft.app.TableIO.read(spark, path).cache()
    try {
      val cutoff = new java.sql.Timestamp(System.currentTimeMillis() - ttlHours * 3600L * 1000L)
      val keep = df.where(col("completed_ts") >= lit(cutoff))
      val dropped = df.count() - keep.count()
      if (dropped > 0) {
        val tmp = new Path(path + ".tmp")
        val bak = new Path(path + ".old")
        keep.write.format(graft.app.TableIO.format).mode(SaveMode.Overwrite).save(tmp.toString)
        fs.delete(bak, true) // a stale .old would make rename nest p inside it
        require(fs.rename(p, bak) && fs.rename(tmp, p), s"checkpoint swap failed at $path")
        fs.delete(bak, true)
      }
      dropped
    } finally df.unpersist()
  }
}
