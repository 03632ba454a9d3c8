package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. Times are epoch milliseconds, so spans
  * line up with Spark's job and task timestamps; `parent` is the span
  * that was open when this one started (-1 for none).
  */
final case class Span(id: Int, name: String, layer: String, start: Long,
    end: Long, parent: Int, run: String)

/** What the tasks and jobs that ran inside a window added up to. */
final case class Work(jobs: Long, tasks: Long, taskCpuS: Double,
    shuffleWriteMb: Double, maxTaskRows: Long, spillMb: Double) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
    taskCpuS + o.taskCpuS, shuffleWriteMb + o.shuffleWriteMb,
    math.max(maxTaskRows, o.maxTaskRows), spillMb + o.spillMb)
}

object Work {
  val zero: Work = Work(0, 0, 0.0, 0.0, 0, 0.0)
}

/** Spans kept in memory and written out when the run ends, plus a
  * listener that logs every job start and task end so each span can be
  * charged with the Spark work that ran inside its time window.
  * Only a traced run creates one. The tracer also times its own
  * bookkeeping, which is what tracing adds to a run.
  */
final class Tracer(sc: SparkContext, val run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val jobStarts = ArrayBuffer.empty[Long]
  // (finish ms, cpu ns, shuffle write bytes, rows read, spill bytes)
  private val tasks = ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
  private val selfNanos = new java.util.concurrent.atomic.AtomicLong(0)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    selfNanos.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      timed(jobStarts.synchronized { jobStarts += e.time })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized {
        tasks += ((e.taskInfo.finishTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }
  sc.addSparkListener(listener)

  // ids of the spans now open, innermost first; the workloads call in
  // from one thread
  private var open = List.empty[Int]
  private var nextId = 0

  /** Time `body` as a span of `layer`; returns its result. */
  def span[A](name: String, layer: String)(body: => A): A = {
    val start = System.currentTimeMillis()
    val id = nextId
    val parent = open.headOption.getOrElse(-1)
    nextId += 1
    open = id :: open
    try body
    finally timed {
      open = open.tail
      spans.synchronized {
        spans += Span(id, name, layer, start, System.currentTimeMillis(), parent, run)
      }
    }
  }

  /** Seconds spent in the tracer's own listener and span bookkeeping. */
  def selfS: Double = selfNanos.get / 1e9

  def all: Seq[Span] = { drain(); spans.synchronized(spans.sortBy(_.id).toList) }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.GraftListenerBridge.drain(sc)

  /** Spark work that started (jobs) or finished (tasks) in [from, to]. */
  def work(from: Long, to: Long): Work = {
    val jobs = jobStarts.synchronized(jobStarts.count(t => t >= from && t <= to))
    val in = tasks.synchronized(tasks.filter(t => t._1 >= from && t._1 <= to).toList)
    Work(jobs, in.size, in.map(_._2).sum / 1e9, in.map(_._3).sum / 1e6,
      if (in.isEmpty) 0L else in.map(_._4).max, in.map(_._5).sum / 1e6)
  }

  def stop(): Unit = sc.removeSparkListener(listener)

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"layer":${q(s.layer)},""" +
        s""""start":${s.start},"end":${s.end},"parent":${s.parent},"run":${q(s.run)}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
