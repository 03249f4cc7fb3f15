package perfbench

import graft.app.ExtractJob
import graft.synth.PageGen
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One workload's input: the pages table, its warm-up slice, and its
  * measured properties, cached on disk under
  * (workload, rows, seed, PageGen.genVersion, paraScale).
  */
final case class Input(dir: Path, rows: Long, payloadBytes: Long, pdfShare: Double,
    articleShare: Double, dupShare: Double, bucketRows: Vector[Long],
    bucketBytes: Vector[Long]) {
  def pages: String = dir.resolve("pages").toString
  def warm: String = dir.resolve("warm").toString

  def properties: Map[String, Any] = Json.obj(
    "rows" -> rows,
    "payload_bytes" -> payloadBytes,
    "mean_bytes_per_doc" -> payloadBytes.toDouble / rows,
    "pdf_share" -> pdfShare,
    "article_share" -> articleShare,
    "duplicate_share" -> dupShare)
}

object Inputs {
  /** Buckets the extraction workloads run with (ExtractJob's default). */
  val Buckets = 64
  /** Cached inputs kept per workload; older ones are deleted. */
  val Keep = 12

  /** The cached input, generated first with `spark()` when absent. */
  def ensure(spark: () => SparkSession, root: Path, workload: String, rows: Long, warmRows: Long,
      seed: Long, paraScale: Int): Input = {
    val key = s"$workload-r$rows-s$seed-g${PageGen.genVersion}-p$paraScale"
    val dir = root.resolve(key)
    val propsFile = dir.resolve("props.tsv")
    if (!Files.exists(propsFile)) {
      Files.createDirectories(root)
      val tmp = root.resolve(key + ".tmp")
      Fs.delete(tmp)
      Files.createDirectories(tmp)
      // One file per generator slice (local[4]: four files), no shuffle.
      PageGen.generate(spark(), rows, seed, paraScale)
        .write.mode("overwrite").parquet(tmp.resolve("pages").toString)
      PageGen.generate(spark(), warmRows, seed, paraScale).coalesce(1)
        .write.mode("overwrite").parquet(tmp.resolve("warm").toString)
      Files.write(tmp.resolve("props.tsv"), measure(spark(), tmp.resolve("pages").toString).getBytes("UTF-8"))
      Files.move(tmp, dir)
    }
    Files.setLastModifiedTime(dir, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    evict(root, workload, dir)
    parse(dir, new String(Files.readAllBytes(propsFile), "UTF-8"))
  }

  private def measure(spark: SparkSession, pages: String): String = {
    val df = spark.read.parquet(pages)
    val r = df.agg(
      count(lit(1)),
      sum(length(col("html")).cast("long")),
      sum(when(hex(substring(col("html"), 1, 5)) === "255044462D", 1L).otherwise(0L)),
      sum(when(col("url").contains("/article/"), 1L).otherwise(0L)),
      countDistinct(md5(col("html")))).head()
    val rows = r.getLong(0)
    val byBucket = df.groupBy(ExtractJob.bucketExpr(Buckets).as("b"))
      .agg(count(lit(1)), sum(length(col("html")).cast("long")))
      .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2))).toMap
    val bRows = (0 until Buckets).map(b => byBucket.get(b).map(_._1).getOrElse(0L))
    val bBytes = (0 until Buckets).map(b => byBucket.get(b).map(_._2).getOrElse(0L))
    Seq(
      s"rows\t$rows",
      s"payload_bytes\t${r.getLong(1)}",
      s"pdf_share\t${r.getLong(2).toDouble / rows}",
      s"article_share\t${r.getLong(3).toDouble / rows}",
      s"duplicate_share\t${(rows - r.getLong(4)).toDouble / rows}",
      s"bucket_rows\t${bRows.mkString(",")}",
      s"bucket_bytes\t${bBytes.mkString(",")}").mkString("\n") + "\n"
  }

  private def parse(dir: Path, tsv: String): Input = {
    val m = tsv.split("\n").filter(_.nonEmpty).map { l => val p = l.split("\t"); p(0) -> p(1) }.toMap
    Input(dir, m("rows").toLong, m("payload_bytes").toLong, m("pdf_share").toDouble,
      m("article_share").toDouble, m("duplicate_share").toDouble,
      m("bucket_rows").split(",").map(_.toLong).toVector,
      m("bucket_bytes").split(",").map(_.toLong).toVector)
  }

  private def evict(root: Path, workload: String, keep: Path): Unit = {
    val mine = Files.list(root).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith(workload + "-r") && Files.isDirectory(p))
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
    mine.drop(Keep).filterNot(_ == keep).foreach(Fs.delete)
  }
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Bytes of the data files under `dir`: names starting with '.' or '_'
    * (checksums, commit markers) are excluded.
    */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.toArray.map(_.asInstanceOf[Path]).filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      finally s.close()
    }

  def dataBytes(dir: Path): Long = dataFiles(dir).map(Files.size).sum
}
