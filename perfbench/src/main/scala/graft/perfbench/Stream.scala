package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.Tables
import graft.streaming.ReportStream

/** `report_stream`: the reference worker's own job as a closed loop.
  *
  * The events table is cut into ~1000-row files, the reference's batch
  * size, and `ReportStream.pipelineStar` reads one file per trigger, so
  * the single consumer pulls the next batch only after the previous one
  * commits. The stream's history (every file before the last few) goes
  * into the sink first, so the timed tail writes against a sink that
  * already holds most of the 80k facts. In the timed tail one delivery
  * in ten is a file delivered a second time, which the idempotent sink
  * must drop. The seed picks the file sizes and which files come back.
  */
object Stream {

  /** One delivery: its position in the drain and the split file it
    * carries (`redelivery` when the file was delivered before).
    */
  final case class Delivery(pos: Int, file: Int, redelivery: Boolean)

  /** How the stream is cut and delivered. Files `0 until history` are
    * written as one file, [[History]], that goes into the sink in the
    * first trigger; `warm` and `timed` follow one file per trigger.
    */
  final case class Plan(bounds: Array[Long], history: Int,
      warm: Seq[Delivery], timed: Seq[Delivery]) {
    def rowsOf(f: Int): Long = bounds(f + 1) - bounds(f)
  }

  /** Cut `rows` events into ~1000-row files and lay out the tail:
    * `warmN` new files, then `timedN` deliveries of which one in each
    * ten is a redelivery of one of the three files delivered before it.
    */
  def plan(rows: Long, seed: Long, warmN: Int, timedN: Int): Plan = {
    val rnd = new scala.util.Random(seed)
    val bounds = ArrayBuffer(0L)
    while (bounds.last < rows)
      bounds += math.min(rows, bounds.last + 900 + rnd.nextInt(201))
    val again = timedN / 10
    val history = bounds.size - 1 - warmN - (timedN - again)
    val warm = (1 to warmN).map(i => Delivery(i, history + i - 1, false))
    // one redelivery in each block of ten, never the block's first
    val at = (0 until again).map(b => b * 10 + 1 + rnd.nextInt(9)).toSet
    var next = history + warmN
    val timed = (0 until timedN).map { i =>
      val pos = warmN + 1 + i
      if (at(i)) Delivery(pos, next - 1 - rnd.nextInt(3), true)
      else { next += 1; Delivery(pos, next - 1, false) }
    }
    Plan(bounds.toArray, history, warm, timed)
  }

  /** The split file that holds the stream's history. */
  val History: Int = -1

  /** File number of each event under the boundaries `ids`. */
  def fileOf(ids: Array[Long]) = udf((id: Long) => {
    val k = java.util.Arrays.binarySearch(ids, id)
    if (k >= 0) k else -k - 2
  })

  /** Write the history file and every later split file under
    * `dir/split`, one parquet file each in the raw stream schema.
    */
  def split(spark: SparkSession, data: String, ids: Array[Long], history: Int,
      dir: Path): Map[Int, Path] = {
    val f = fileOf(ids)(col("event_id"))
    val out = dir.resolve("split")
    Tables.eventsRaw(spark, data)
      .withColumn("_f", when(f < history, lit(History)).otherwise(f))
      .repartition(col("_f"))
      .write.partitionBy("_f").parquet(out.toString)
    Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_f="))
      .map { d =>
        val f = d.getFileName.toString.stripPrefix("_f=").toInt
        val part = Files.list(d).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        f -> part
      }.toMap
  }

  /** Place `deliveries` into the empty stream input dir `in`, stamped
    * with increasing modification times so the file source reads them
    * in delivery order.
    */
  def stage(deliveries: Seq[Delivery], files: Map[Int, Path], in: Path): Path = {
    Files.createDirectories(in)
    val base = System.currentTimeMillis() - 3600000L
    deliveries.foreach { d =>
      val name = f"d${d.pos}%05d-f${d.file}%04d${if (d.redelivery) "-again" else ""}.parquet"
      val to = in.resolve(name)
      Files.copy(files(d.file), to, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(to, FileTime.fromMillis(base + d.pos * 1000L))
    }
    in
  }

  /** Collects the progress of every micro-batch of every query. */
  final class Progress extends StreamingQueryListener {
    val events = ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.synchronized { events += e.progress }
    def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
      events.synchronized(events.filter(p => p.id == id && p.numInputRows > 0).toList)
  }

  /** Run `pipelineStar` over `in`, `filesPerTrigger` files a trigger,
    * into the sink under `out` until it has drained every file there;
    * returns the per-batch progress and the wall seconds. Each input
    * dir gets its own checkpoint, so drains of several dirs append to
    * one sink.
    */
  def drain(spark: SparkSession, data: String, in: Path, out: Path,
      progress: Progress, filesPerTrigger: Int = 1): (Seq[StreamingQueryProgress], Double) = {
    val t0 = System.nanoTime()
    val q = ReportStream.pipelineStar(
      ReportStream.fileSource(spark, in.toString, Tables.eventsRaw(spark, data),
        filesPerTrigger),
      out.toString, in.resolveSibling(s"${in.getFileName}-checkpoint").toString)
    try q.awaitTermination() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    (progress.of(q.id), wall)
  }
}
