package graft.app

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-relevant defaults applied in one place
  * (SURVEY.md §4.2): AQE with skew handling + partition coalescing, UTC
  * session time, shuffle partitions sized to the local core count
  * (cluster deployments override via spark-submit conf).
  */
object SparkUtil {

  /** Parquet output codec — SINGLE owner of the default, read by this
    * session factory, which the benchmark (perfbench/) also uses, so it
    * always measures the codec production writes with. zstd over snappy
    * trades abundant CPU for scarce memory-channel/storage bytes —
    * measured on the job bench (8M rows, local[16], 32-core host):
    * 19.4 s → 17.0 s (+12% throughput) and 4→16 scaling 0.70 → 0.82,
    * because the parquet write's memcpy traffic is the job's
    * non-scaling term (BENCH.md). On a real cluster the same trade cuts
    * storage + replication bytes.
    */
  def parquetCodec: String = sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "zstd")

  def session(appName: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus)
      // Spill safety at the 100 TB design point: 128 MB input splits
      // (default, made explicit) keep ~payload-dominated partitions well
      // under executor memory even with the kernel's transient DOM; the
      // only wide stages shuffle compact post-kernel records, sized by
      // shuffle.partitions ≈ cores (AQE coalesces further).
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.parquet.compression.codec", parquetCodec)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    // Respect an existing master (spark-submit); default to local[cpus].
    val withMaster =
      if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
        b
      else b.master(s"local[$cpus]")
    val spark = withMaster.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
