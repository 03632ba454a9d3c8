package graft.perfbench

/** The per-layer metric catalogue. Every traced run prints every name
  * below. A workload measures its own names (`streamOwned`,
  * `batchOwned`) and reads 0 for the other workload's.
  */
object Metrics {

  /** Queries whose own wall, artifact builds excluded, is reported as
    * `q.<name>.wall_s`.
    */
  val namedQueries: Seq[String] = Seq(
    "d_edit_dup", "d_edit_dup2", "d_ppjoin", "d_lsh_jaccard",
    "d_minhash_est", "s_ann_recall", "s_hybrid_topk",
    "r_fact_assemble", "r_resolve_v1", "q_communities",
    "q_report_triangles", "l_incr_agg")

  val streamPhases: Seq[(String, String)] = Seq(
    "latest_offset_ms" -> "latestOffset", "get_batch_ms" -> "getBatch",
    "query_planning_ms" -> "queryPlanning", "add_batch_ms" -> "addBatch",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets")

  /** (name, unit) of every per-layer metric, in print order. */
  val perLayer: Seq[(String, String)] =
    Batch.layers.flatMap(l => Seq(
      s"$l.wall_s" -> "s", s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.task_cpu_s" -> "s", s"$l.shuffle_write_mb" -> "MB",
      s"$l.max_task_rows" -> "rows", s"$l.spill_mb" -> "MB")) ++
    Seq("artifacts.build_s" -> "s", "artifacts.builds" -> "count") ++
    namedQueries.map(q => s"q.$q.wall_s" -> "s") ++
    streamPhases.map { case (n, _) => s"stream.$n" -> "ms" } ++
    Seq("stream.jobs_per_batch" -> "count", "stream.tasks_per_batch" -> "count",
      "sink.fact_projection_ms" -> "ms", "sink.append_dedup_ms" -> "ms",
      "sink.dlq_ms" -> "ms", "sink.append_dedup_growth" -> "ratio",
      "sink.dup_rows_dropped" -> "rows",
      "host.steal_s" -> "s", "host.canary_s" -> "s", "jvm.peak_rss_mb" -> "MB",
      "trace.overhead_frac" -> "fraction")

  private val host: Seq[String] = Seq("host.steal_s", "host.canary_s",
    "jvm.peak_rss_mb", "trace.overhead_frac")

  /** Named queries a traced `report_stream` run times after its own
    * work, so that neither traced run comes near the per-run time
    * limit: the Dedup targets. The `batch` run times the rest. Each is
    * a first call in its JVM either way.
    */
  val streamTargets: Seq[String] = Seq("d_edit_dup2", "d_ppjoin",
    "d_minhash_est", "d_lsh_jaccard")

  val streamOwned: Set[String] = (host ++ streamTargets.map(q => s"q.$q.wall_s") ++
    perLayer.map(_._1).filter(n => n.startsWith("stream.") || n.startsWith("sink."))).toSet

  val batchOwned: Set[String] = (host ++ perLayer.map(_._1)
    .filter(n => Batch.layers.exists(l => n.startsWith(s"$l.")) ||
      n.startsWith("artifacts.") || n.startsWith("q."))).toSet --
    streamTargets.map(q => s"q.$q.wall_s")

  /** The full per-layer list with `values` filled in and 0 elsewhere,
    * and how many of the `owned` names have no value: a metric the run
    * should have measured and did not counts as a failed operation.
    */
  def fill(owned: Set[String], values: Map[String, Double]): (Seq[Main.M], Int) = {
    val unknown = values.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalogue: $unknown")
    val missing = owned -- values.filter { case (_, v) => !v.isNaN && !v.isInfinite }.keySet
    missing.toSeq.sorted.foreach(n => System.err.println(s"[perfbench] $n not measured"))
    (perLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }, missing.size)
  }

  /** The seven layer metrics of one layer from its summed work. */
  def layer(l: String, wallS: Double, w: Work, passes: Int): Map[String, Double] =
    Map(s"$l.wall_s" -> wallS / passes, s"$l.jobs" -> w.jobs.toDouble / passes,
      s"$l.tasks" -> w.tasks.toDouble / passes, s"$l.task_cpu_s" -> w.taskCpuS / passes,
      s"$l.shuffle_write_mb" -> w.shuffleWriteMb / passes,
      s"$l.max_task_rows" -> w.maxTaskRows.toDouble, s"$l.spill_mb" -> w.spillMb / passes)
}
