package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The batch workload: registry queries run one after another in the
  * same session, each materialized in full and checked against its
  * committed digest.
  */
object Batch {

  /** Which layer (engine module) owns each registry query. */
  val layerOf: Map[String, String] = {
    import graft.operators._
    Seq("cleanse" -> Cleanse.registry, "star" -> Star.registry,
      "analytics" -> Analytics.registry, "graph" -> Graph.registry,
      "lake" -> graft.sources.LakeMerge.registry,
      "dedup" -> Dedup.registry, "similarity" -> Similarity.registry,
      "text" -> TextAnalysis.registry, "multimodal" -> MultiModal.registry)
      .flatMap { case (layer, reg) => reg.keys.map(_ -> layer) }.toMap
  }

  /** `batch`: registry queries of every batch module, back to back.
    * Report side: validate/split (Cleanse), the fact projection over
    * the whole table (Star), window analytics on events, connected
    * report components (Graph), incremental lake aggregation. Training
    * side: blocked edit-distance dedup, filtered ANN search,
    * tokenization, byte-level multimodal near-dups.
    */
  val queries: Seq[String] = Seq("r_validate_split", "r_fact_full",
    "q_stickiness", "q_report_components", "l_incr_agg", "d_edit_dup",
    "s_ann_filtered", "t_tokens", "m_byte_neardup")

  /** Called once in set-up: they build the lake table, the ANN
    * codebook and the undirected report graph, or pay the slowest
    * first-call JIT and codegen.
    */
  val setup: Seq[String] = Seq("l_incr_agg", "s_ann_filtered",
    "q_report_components", "d_edit_dup")

  /** The heavy named targets, each called once after the timed pass of
    * a traced run: there they cost a few runs instead of every run. A
    * traced `report_stream` run times the rest
    * ([[Metrics.streamTargets]]).
    */
  val tracedOnly: Seq[String] = Seq("r_fact_assemble", "r_resolve_v1",
    "q_communities", "q_report_triangles", "s_hybrid_topk", "s_ann_recall")

  val layers: Seq[String] = Seq("cleanse", "star", "analytics", "graph",
    "lake", "dedup", "similarity", "text", "multimodal")

  /** One timed, checked query call; `buildS` is the part of its wall
    * spent building artifacts.
    */
  final case class Call(name: String, layer: String, start: Long,
      end: Long, ok: Boolean, buildS: Double) {
    def wallS: Double = (end - start) / 1e3
  }

  /** Run `name` once: full result through the no-op sink, digest
    * compared with `expected`. Caches the query left behind are
    * dropped outside the timed window.
    */
  def call(spark: SparkSession, data: String, name: String,
      expected: Map[String, String], tracer: Option[Tracer]): Call = {
    val fn = graft.SparkEntry.queries(name)
    val ev0 = graft.Artifacts.buildEvents.size
    val start = System.currentTimeMillis()
    val got =
      try {
        val run = () => Checksum.materialize(fn(spark, data), name)
        Right(tracer.fold(run())(_.span(name, layerOf(name))(run())))
      } catch { case e: Exception => Left(e) }
    val end = System.currentTimeMillis()
    System.err.println(f"[perfbench] $name ${(end - start) / 1e3}%.3f s")
    spark.catalog.clearCache()
    val ok = got match {
      case Right(d) if expected.get(name).contains(d) => true
      case Right(d) =>
        System.err.println(s"[perfbench] $name: digest $d, expected " +
          expected.getOrElse(name, "none"))
        false
      case Left(e) =>
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        false
    }
    val buildS = graft.Artifacts.buildEvents.drop(ev0).filterNot(_.nested)
      .map(_.millis).sum / 1e3
    Call(name, layerOf(name), start, end, ok, buildS)
  }
}
