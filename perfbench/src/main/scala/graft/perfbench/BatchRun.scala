package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Set-up, timed pass and (traced) layer split of the batch workload. */
object BatchRun {
  import Main.{median, quantile}

  def apply(spark: SparkSession, o: Main.Opts): Main.Result = {
    import Batch.{queries, setup, tracedOnly}
    if (o.record) return record(spark, o, queries ++ tracedOnly ++ Metrics.streamTargets)
    // set-up: untimed calls build artifacts into this run's fresh
    // artifact root and warm the slowest first calls
    val ev0 = graft.Artifacts.buildEvents.size
    val warm = setup.map(q => Batch.call(spark, o.data, q, o.expected, None))
    val builds = graft.Artifacts.buildEvents.drop(ev0).filterNot(_.nested)
    val setupS = Main.sinceJvmStart()
    System.err.println(f"[perfbench] set-up $setupS%.2f s; artifacts built: " +
      builds.map(e => s"${e.family}:${e.kind}:${e.millis}ms").mkString(" "))

    // the seed sets the query order, the same in every pass
    val order = new scala.util.Random(o.seed).shuffle(queries)
    val tracer =
      if (o.traced) Some(new Tracer(spark.sparkContext, s"${o.workload}-${o.seed}"))
      else None
    val steal0 = Host.stealSeconds()
    val passes = timedPasses(spark, o, order, tracer)
    val steal1 = Host.stealSeconds()
    val calls = passes.flatten
    val walls = passes.map(p => (p.last.end - p.head.start) / 1e3)
    val lat = calls.map(_.wallS * 1e3)
    val e2e = Seq(("setup_s", setupS, "s"), ("wall_s", median(walls), "s"),
      ("latency_p50_ms", median(lat), "ms"), ("latency_p90_ms", quantile(lat, 0.9), "ms"))
    val report = Seq(("query_p50_s", median(lat) / 1e3, "s"),
      ("query_samples", lat.size.toDouble, "count"),
      ("passes", passes.size.toDouble, "count"),
      ("artifacts.build_s", builds.map(_.millis).sum / 1e3, "s"),
      ("artifacts.builds", builds.size.toDouble, "count"))

    val (perLayer, missing, extra) = tracer match {
      case None => (Nil, 0, Nil)
      case Some(t) =>
        val layerVals = Batch.layers.flatMap { l =>
          val mine = calls.filter(_.layer == l)
          val work = mine.map(c => t.work(c.start, c.end)).foldLeft(Work.zero)(_ + _)
          Metrics.layer(l, mine.map(_.wallS).sum, work, passes.size)
        }.toMap
        val overhead = t.selfS / walls.sum
        // the heavy named queries, after the pass: their walls exclude
        // the artifact builds a first call pays
        val extra = tracedOnly.map(q => Batch.call(spark, o.data, q, o.expected, Some(t)))
        val named = Metrics.namedQueries.flatMap { q =>
          (calls ++ extra).filter(_.name == q).map(c => c.wallS - c.buildS) match {
            case Seq() => None
            case ws => Some(s"q.$q.wall_s" -> median(ws))
          }
        }.toMap
        val canary = Host.canary(spark)
        t.write(Main.tracePath(o))
        t.stop()
        val (m, missing) = Metrics.fill(Metrics.batchOwned, layerVals ++ named ++ Map(
          "artifacts.build_s" -> builds.map(_.millis).sum / 1e3,
          "artifacts.builds" -> builds.size.toDouble,
          "host.steal_s" -> (steal1 - steal0), "host.canary_s" -> canary,
          "jvm.peak_rss_mb" -> Host.peakRssMb(),
          "trace.overhead_frac" -> overhead))
        (m, missing, extra)
    }
    val all = warm ++ calls ++ extra
    Main.Result(all.size + missing, all.count(!_.ok) + missing, e2e, perLayer, report)
  }

  /** Passes over `order`, one for every started ten seconds of
    * `--seconds`: the same work on every commit, however fast it runs.
    */
  private def timedPasses(spark: SparkSession, o: Main.Opts, order: Seq[String],
      tracer: Option[Tracer]): Seq[Seq[Batch.Call]] =
    (1 to math.max(1, (o.seconds + 9) / 10)).map { i =>
      val pass = () => order.map(q => Batch.call(spark, o.data, q, o.expected, tracer))
      tracer.fold(pass())(_.span(s"pass#$i", "batch")(pass()))
    }

  /** Print each query's digest (expected-digest generation). */
  private def record(spark: SparkSession, o: Main.Opts,
      queries: Seq[String]): Main.Result = {
    queries.foreach { q =>
      val d = Checksum.materialize(graft.SparkEntry.queries(q)(spark, o.data), q)
      spark.catalog.clearCache()
      println(s"digest\t$q\t$d")
    }
    val fact = Checksum.materialize(StreamRun.expectedFact(spark, o.data), "stream_fact")
    println(s"digest\t${StreamRun.FactKey}\t$fact")
    Main.Result(queries.size, 0, Seq(("setup_s", 0.0, "s")), Nil, Nil)
  }
}
