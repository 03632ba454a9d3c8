package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Tables
import graft.operators.Star
import graft.streaming.ReportStream

/** Set-up, timed drain, output check and (traced) sink replay of the
  * `report_stream` workload.
  */
object StreamRun {
  import Main.{median, quantile}

  /** Deliveries drained one per trigger after the history and before
    * timing: the first small batches of a fresh JVM and a new query run
    * 2-4x slower than steady state, a cost a long-lived worker pays once.
    */
  val WarmBatches = 3

  /** Stream files replayed into an empty sink for the early-stream
    * side of `sink.append_dedup_growth`; the first only creates the
    * sink and is not sampled.
    */
  val EarlyReplay = 5

  def apply(spark: SparkSession, o: Main.Opts): Main.Result = {
    val dir = o.runDir.resolve("stream")
    val out = dir.resolve("out")
    val progress = new Stream.Progress
    spark.streams.addListener(progress)
    val tSession = Main.sinceJvmStart()
    val eventIds = Tables.eventsRaw(spark, o.data).select("event_id")
      .collect().map(_.getLong(0)).sorted
    // ten timed deliveries for every started ten seconds of --seconds
    val timedN = 10 * math.max(1, (o.seconds + 9) / 10)
    val plan = Stream.plan(eventIds.length, o.seed, WarmBatches, timedN)
    // file k holds the events with ids(k) <= event_id < ids(k + 1)
    val ids = plan.bounds.map(b =>
      if (b < eventIds.length) eventIds(b.toInt) else eventIds.last + 1)
    val tIds = Main.sinceJvmStart()
    val files = Stream.split(spark, o.data, ids, plan.history, dir)
    val tSplit = Main.sinceJvmStart()
    val tracer =
      if (o.traced) Some(new Tracer(spark.sparkContext, s"${o.workload}-${o.seed}"))
      else None
    // one query drains the whole stream: the history, then the warm-up
    // deliveries, then the timed ones, timed from the start of the
    // first timed trigger to the end of the last
    val history = Stream.Delivery(0, Stream.History, false)
    val in = Stream.stage(history +: (plan.warm ++ plan.timed), files, dir.resolve("in"))
    val steal0 = Host.stealSeconds()
    val (all, _) = {
      val run = () => Stream.drain(spark, o.data, in, out, progress)
      tracer.fold(run())(_.span("drain", "stream")(run()))
    }
    val steal1 = Host.stealSeconds()
    val (warm, prog) = all.splitAt(1 + plan.warm.size)
    val t0 = startMs(prog.head)
    val t1 = prog.map(p => startMs(p) + trigger(p).toLong).max
    val wall = (t1 - t0) / 1e3
    val setupS = (t0 - Main.jvmStartMs) / 1e3
    System.err.println(f"[perfbench] set-up: session $tSession%.2f s, " +
      f"ids ${tIds - tSession}%.2f s, split ${tSplit - tIds}%.2f s, " +
      f"history and warm-up ${setupS - tSplit}%.2f s")
    val expect = expected(spark, o, ids, plan)
    val bad = check(spark, out, expect, prog)

    val lat = prog.map(trigger)
    System.err.println(s"[perfbench] warm-up batches ms: ${warm.map(trigger).mkString(" ")}; " +
      s"timed batches ms: ${lat.mkString(" ")}")
    val e2e = Seq(("setup_s", setupS, "s"), ("wall_s", wall, "s"),
      ("latency_p50_ms", median(lat), "ms"),
      ("latency_p90_ms", quantile(lat, 0.9), "ms"))
    val report = Seq(("stream_rows_per_s", prog.map(_.numInputRows).sum / wall, "rows/s"),
      ("batch_latency_samples", lat.size.toDouble, "count"),
      ("stream_redelivered_batches", plan.timed.count(_.redelivery).toDouble, "count"),
      ("sink_history_rows", expect.historyValid.toDouble, "rows"))

    val (perLayer, extraFailed, extraCalls) = tracer match {
      case None => (Nil, 0, 0)
      case Some(t) =>
        val work = t.work(t0, t1)
        val overhead = t.selfS / wall
        val sink = replay(spark, o.data, ids, files, plan, dir, t)
        // this workload's share of the named queries; their walls
        // exclude any artifact build a first call pays
        val extra = Metrics.streamTargets.map(q =>
          Batch.call(spark, o.data, q, o.expected, Some(t)))
        val canary = Host.canary(spark)
        t.write(Main.tracePath(o))
        t.stop()
        val phases = Metrics.streamPhases.map { case (m, k) =>
          s"stream.$m" -> median(prog.map(p => p.durationMs.get(k).toDouble))
        }.toMap
        val named = extra.map(c => s"q.${c.name}.wall_s" -> (c.wallS - c.buildS))
        val (m, missing) = Metrics.fill(Metrics.streamOwned, phases ++ sink ++ named ++ Map(
          "stream.jobs_per_batch" -> work.jobs.toDouble / prog.size,
          "stream.tasks_per_batch" -> work.tasks.toDouble / prog.size,
          "sink.dup_rows_dropped" -> (expect.validRows - expect.validIds).toDouble,
          "host.steal_s" -> (steal1 - steal0), "host.canary_s" -> canary,
          "jvm.peak_rss_mb" -> Host.peakRssMb(),
          "trace.overhead_frac" -> overhead))
        (m, missing + extra.count(!_.ok), missing + extra.size)
    }
    spark.streams.removeListener(progress)
    bad.foreach(b => System.err.println(s"[perfbench] report_stream: $b"))
    // a failed check cannot be pinned on one batch: all of them count
    val failed = if (bad.isEmpty) 0 else plan.timed.size
    Main.Result(plan.timed.size + extraCalls, failed + extraFailed, e2e, perLayer, report)
  }

  private def trigger(p: StreamingQueryProgress): Double =
    p.durationMs.get("triggerExecution").toDouble

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** What the whole stream must leave behind: sink and dead letters
    * after history, warm-up and timed drain, and the rows the timed
    * drain must read.
    */
  final case class Expect(validIds: Long, validRows: Long, errorIds: Long,
      errorRows: Long, historyValid: Long, timedRows: Long, factDigest: String)

  /** Key of the fact sink's digest in the expected-digest file. */
  val FactKey = "report_stream.fact_report"

  /** What the fact sink must hold once every event was delivered: the
    * batch star's own `r_fact_full` rows of the events that are not
    * errors. Its digest is recorded with the batch queries' digests.
    */
  def expectedFact(spark: SparkSession, data: String): DataFrame =
    Star.rFactFull.fn(spark, data).join(
      Tables.events(spark, data).filter(col("event_type") =!= "error").select("event_id"),
      Seq("event_id"), "left_semi")

  /** The expected sink and dead-letter counts, from the events and how
    * often each file was delivered.
    */
  def expected(spark: SparkSession, o: Main.Opts, ids: Array[Long],
      plan: Stream.Plan): Expect = {
    val times = (0 until plan.history).map(_ -> 1).toMap ++
      (plan.warm ++ plan.timed).groupBy(_.file).map { case (f, ds) => f -> ds.size }
    val f = Stream.fileOf(ids)(col("event_id"))
    val agg = Tables.events(spark, o.data)
      .select(col("event_id"), f < plan.history as "hist",
        col("event_type") === "error" as "err",
        coalesce(try_element_at(typedlit(times), f), lit(0)) as "n")
      .groupBy("err").agg(countDistinct("event_id"), sum("n"),
        sum(when(col("hist"), 1).otherwise(0)))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val (vi, vr, vh) = agg.getOrElse(false, (0L, 0L, 0L))
    val (ei, er, _) = agg.getOrElse(true, (0L, 0L, 0L))
    Expect(vi, vr, ei, er, vh, plan.timed.map(d => plan.rowsOf(d.file)).sum,
      o.expected.getOrElse(FactKey, "none"))
  }

  /** Problems with the sink, the dead letters and the timed drain's
    * progress (empty when everything matches).
    */
  def check(spark: SparkSession, out: Path, e: Expect,
      prog: Seq[StreamingQueryProgress]): Seq[String] = {
    val fact = spark.read.parquet(out.resolve("fact_report").toString).drop("p_month")
    val dead = spark.read.parquet(out.resolve("dead_letter").toString)
    def rowsAndIds(df: DataFrame) = {
      val r = df.agg(count(lit(1)), countDistinct("event_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (factRows, factIds) = rowsAndIds(fact)
    val digest = Checksum.materialize(fact, "fact_sink")
    val (deadRows, deadIds) = rowsAndIds(dead)
    val inRows = prog.map(_.numInputRows).sum
    Seq(
      (inRows == e.timedRows) -> s"timed drain read $inRows rows, ${e.timedRows} delivered",
      (factRows == e.validIds) -> s"fact sink holds $factRows rows, ${e.validIds} distinct valid ids delivered",
      (factIds == factRows) -> s"fact sink holds ${factRows - factIds} duplicate event_ids",
      (digest == e.factDigest) -> s"fact sink digest $digest, r_fact_full's is ${e.factDigest}",
      (deadRows == e.errorRows) -> s"dead letters hold $deadRows rows, ${e.errorRows} error rows delivered",
      (deadIds == e.errorIds) -> s"dead letters hold $deadIds ids, ${e.errorIds} error ids delivered")
      .collect { case (false, msg) => msg }
  }

  /** Replay deliveries through the sink's three steps one at a time —
    * fact projection, idempotent append, dead-letter requeue — each
    * materialized in full and timed on its own. The whole drain
    * (history, warm-up, timed) goes to one sink and its timed
    * deliveries are sampled; then the first [[EarlyReplay]] files of
    * the stream go to another, with the code as warm as for the first.
    * `sink.append_dedup_growth` is the median append at the stream's
    * end over the median append at its start.
    */
  def replay(spark: SparkSession, data: String, ids: Array[Long],
      files: Map[Int, Path], plan: Stream.Plan, dir: Path,
      tracer: Tracer): Map[String, Double] = {
    val raw = Tables.eventsRaw(spark, data)
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
    def steps(batches: Seq[(String, DataFrame)], sinkDir: Path) =
      tracer.span(s"replay:${sinkDir.getFileName}", "sink") {
        batches.map { case (label, rows) =>
          val batch = ReportStream.parsedEvents(rows).persist()
          batch.count()
          try {
            val valid = batch.filter(col("event_type") =!= "error")
            val dead = batch.filter(col("event_type") === "error")
              .withColumn("reason", lit("bad_type"))
            var t = System.nanoTime()
            val fact = tracer.span(s"fact_projection#$label", "star") {
              val f = Star.factProjection(valid).persist()
              f.write.format("noop").mode("overwrite").save()
              f
            }
            val proj = ms(t)
            t = System.nanoTime()
            tracer.span(s"append_dedup#$label", "sink")(ReportStream.appendDedup(
              fact, sinkDir.resolve("fact_report").toString, Seq("event_id"),
              tsCol = "reported_at"))
            val append = ms(t)
            fact.unpersist()
            t = System.nanoTime()
            tracer.span(s"dlq#$label", "sink")(
              if (!dead.isEmpty) ReportStream.withRequeueJson(dead)
                .write.mode("append").parquet(sinkDir.resolve("dead_letter").toString))
            (proj, append, ms(t))
          } finally { batch.unpersist(); () }
        }
      }
    def delivered(d: Stream.Delivery) =
      s"${d.pos}" -> spark.read.schema(raw.schema).parquet(files(d.file).toString)
    val drain = Stream.Delivery(0, Stream.History, false) +: (plan.warm ++ plan.timed)
    val late = steps(drain.map(delivered), dir.resolve("late")).takeRight(plan.timed.size)
    // the first files of the stream, cut from the events table; the
    // first only creates the sink and is not sampled
    val early = steps((0 until EarlyReplay).map(f => s"early$f" ->
      raw.filter(col("event_id") >= ids(f) && col("event_id") < ids(f + 1))),
      dir.resolve("early")).drop(1)
    Map("sink.fact_projection_ms" -> median(late.map(_._1)),
      "sink.append_dedup_ms" -> median(late.map(_._2)),
      "sink.dlq_ms" -> median(late.map(_._3)),
      "sink.append_dedup_growth" -> median(late.map(_._2)) / median(early.map(_._2)))
  }
}
