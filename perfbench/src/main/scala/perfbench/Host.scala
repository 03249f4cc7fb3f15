package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host conditions recorded with every run, so a run taken under
  * contention identifies itself: cores, CPU steal and iowait shares from
  * /proc/stat over the measured window, the storage type under the work
  * directory, and the JVM's GC and heap flags.
  */
object Host {

  /** Aggregate cpu jiffies (user, nice, system, idle, iowait, irq,
    * softirq, steal, …), or None where /proc/stat is absent.
    */
  def cpuStat(): Option[Array[Long]] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu ")).get
      Some(line.trim.split("\\s+").drop(1).map(_.toLong))
    } catch { case _: Exception => None }

  /** (steal, iowait) as shares of all jiffies between two snapshots. */
  def stealIowait(before: Option[Array[Long]], after: Option[Array[Long]]): (Double, Double) =
    (before, after) match {
      case (Some(b), Some(a)) if a.length >= 8 =>
        val d = a.indices.map(i => a(i) - b(i))
        val total = d.sum.toDouble
        if (total <= 0) (Double.NaN, Double.NaN) else (d(7) / total, d(4) / total)
      case _ => (Double.NaN, Double.NaN)
    }

  /** Filesystem type of the mount holding `path` (longest matching mount point). */
  def storageType(path: String): String =
    try {
      val abs = Paths.get(path).toAbsolutePath.normalize.toString
      val mounts = Files.readAllLines(Paths.get("/proc/mounts")).asScala.map(_.split(" "))
        .filter(m => m.length > 2 && (abs == m(1) || abs.startsWith(m(1).stripSuffix("/") + "/")))
      val fs = mounts.maxBy(_(1).length).apply(2)
      if (fs == "tmpfs" || fs == "ramfs") "tmpfs" else s"disk:$fs"
    } catch { case _: Exception => "unknown" }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  /** Restart the VmHWM high-water mark, so the peak covers the workload only. */
  def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: Exception => }

  private def statusKb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  def conditions(workDir: String, before: Option[Array[Long]], after: Option[Array[Long]]): Map[String, Any] = {
    val (steal, iowait) = stealIowait(before, after)
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val gcFlags = jvmArgs.filter(a => a.startsWith("-Xm") || a.startsWith("-XX:") || a.startsWith("-Xs"))
    Json.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "steal_frac" -> steal,
      "iowait_frac" -> iowait,
      "storage" -> storageType(workDir),
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(","),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_flags" -> gcFlags.toSeq,
      "java_version" -> System.getProperty("java.version"))
  }
}
