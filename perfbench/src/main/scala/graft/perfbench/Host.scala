package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host stamps taken outside the timed window: hypervisor steal, a
  * short fixed CPU canary, and the JVM's peak resident set.
  */
object Host {

  /** Cumulative steal seconds of all CPUs (`/proc/stat`, USER_HZ=100);
    * NaN where the file is missing.
    */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
        cpu(8).toDouble / 100.0
      } finally src.close()
    } catch { case _: Exception => Double.NaN }

  /** Peak resident set of this JVM in MB (`VmHWM`); NaN off Linux. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try {
        src.getLines().find(_.startsWith("VmHWM:"))
          .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      } finally src.close()
    } catch { case _: Exception => Double.NaN }

  /** Best of three passes of a fixed generated workload through the
    * engine's sorted-intersect kernel: no files, no shuffle beyond one
    * map-side aggregate, so its time moves with the host, not with the
    * engine's plans. About a tenth of a second per pass on 4 cores.
    */
  def canary(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(2000000)
        .select(graft.functions.SortedIntersectCount.count(
          sequence(col("id") % 50, col("id") % 50 + 63),
          sequence(col("id") % 37, col("id") % 37 + 63)).as("c"))
        .agg(sum("c")).collect()
      (System.nanoTime() - t0) / 1e9
    }.min
}
