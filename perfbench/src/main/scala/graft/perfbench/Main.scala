package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <sf dir> --run-dir <scratch> --expected <digests.tsv>
  *      [--record 1]
  * }}}
  *
  * Human-readable lines go to stdout first; the last stdout line is the
  * JSON result. A traced run also writes its spans (see [[tracePath]]).
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      traced: Boolean, data: String, runDir: Path, expected: Map[String, String],
      record: Boolean)

  /** A metric: name, value, unit. */
  type M = (String, Double, String)

  final case class Result(attempted: Long, failed: Long,
      endToEnd: Seq[M], perLayer: Seq[M], report: Seq[M])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = Paths.get(kv("run-dir")).toAbsolutePath
    val expected =
      if (kv.get("record").contains("1")) Map.empty[String, String]
      else scala.io.Source.fromFile(kv("expected")).getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("data"), runDir, expected, kv.get("record").contains("1"))
    Files.createDirectories(runDir)
    // the artifact store's root is fresh for every run
    graft.sources.ArtifactStore.rootOverride =
      Some(runDir.resolve("artifacts").toString)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Settings(o.data, cpus, 1, None).buildSession(aqe = true)
    val result =
      try o.workload match {
        case "report_stream" => StreamRun(spark, o)
        case "batch" => BatchRun(spark, o)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    System.err.println(f"[perfbench] session stopped at ${sinceJvmStart()}%.2f s")
    val e2e = result.endToEnd
    val rss = ("peak_rss_mb", Host.peakRssMb(), "MB")
    (result.report ++ (rss +: e2e) ++ (if (o.traced) result.perLayer else Nil))
      .foreach { case (n, v, u) => println(f"$n%-34s $v%14.4f $u") }
    val failedFrac = result.failed.toDouble / math.max(1L, result.attempted)
    println(f"${"failed_frac"}%-34s $failedFrac%14.4f fraction " +
      s"(${result.failed} of ${result.attempted} operations)")
    val shown = if (o.traced) result.perLayer else e2e
    val metrics = shown.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":$x,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${result.failed == 0},"attempted":${result.attempted},""" +
      s""""failed":${result.failed},"metrics":$metrics}""")
  }

  /** Where a traced run leaves its spans: beside the run dirs, which
    * are removed when the run ends.
    */
  def tracePath(o: Opts): Path = o.runDir.getParent.getParent
    .resolve("traces").resolve(s"${o.workload}-${o.seed}.jsonl")

  /** When this JVM started, epoch milliseconds: session start-up counts
    * as set-up.
    */
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Quantile by linear interpolation (the `statistics` "inclusive"
    * method); NaN for no samples.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
