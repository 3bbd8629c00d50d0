package spatialbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** A span: `trace` groups the spans of one query (or of the layer
  * microbenchmarks); `parent` is the id of the enclosing span, 0 for a root.
  * Times are epoch milliseconds. */
final case class Span(trace: String, id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private var nextId = 0
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def add(trace: String, parent: Int, name: String, layer: String, start: Double, end: Double): Span = {
    nextId += 1
    val s = Span(trace, nextId, parent, name, layer, start, end)
    spans += s
    s
  }

  /** Runs `body` inside a new span; returns the body's value and the span. */
  def span[T](trace: String, parent: Int, name: String, layer: String)(body: => T): (T, Span) = {
    val t0 = nowMs
    val v = body
    (v, add(trace, parent, name, layer, t0, nowMs))
  }

  def toJson: String = Json.arr(spans.map(s => Json.Raw(Json.obj(
    "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end))).toSeq)
}

object Intervals {
  /** Total length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def unionLength(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time of `s`: its duration minus the part its children cover. */
  def selfTime(s: Span, children: Seq[Span]): Double =
    s.dur - unionLength(children.map(c => (c.start, c.end)), s.start, s.end)
}

/**
 * Records the jobs, stages and tasks Spark runs while it is registered.
 * The benchmark registers it around one query and reads it only after
 * draining the listener bus, so late stage and task events are counted.
 */
final class QueryListener extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, name: String, start: Long, end: Long)
  final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, diskSpill: Long, peakMem: Long)

  val jobs: ArrayBuffer[Job] = ArrayBuffer.empty
  val stages: ArrayBuffer[Stage] = ArrayBuffer.empty
  val tasks: ArrayBuffer[Task] = ArrayBuffer.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      stages += Stage(i.stageId, i.name.takeWhile(_ != '\n'), a, b)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.peakExecutionMemory)
  }
}
