package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark scheduling and execution counters, gathered by a listener in the
  * benchmark's own code. Pipeline runs are strictly sequential, so a run's
  * share is the difference of two [[snapshot]]s taken around it (after
  * draining the listener bus). Shuffle writes are also split by the span
  * named in the `perfbench.span` local property of the job that ran them,
  * which attributes each exchange to the layer call that caused it.
  */
final class SparkStats(sc: SparkContext) extends SparkListener {

  final case class Snap(jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, gcMs: Long, spillBytes: Long,
      shuffleBytes: Long, shuffleRecords: Long)

  private var jobs, stages, tasks, taskMs, gcMs, spill = 0L
  private var shBytes, shRecords = 0L
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val spanShuffle = mutable.HashMap.empty[String, (Long, Long)]
  /** Task (launch, finish) epoch-millis intervals, for busy/idle time. */
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SparkStats.SpanKey)))
    span.foreach(s => e.stageIds.foreach(stageSpan(_) = s))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    taskMs += info.duration
    intervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      gcMs += m.jvmGCTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val w = m.shuffleWriteMetrics
      shBytes += w.bytesWritten
      shRecords += w.recordsWritten
      stageSpan.get(e.stageId).foreach { s =>
        val (b, r) = spanShuffle.getOrElse(s, (0L, 0L))
        spanShuffle(s) = (b + w.bytesWritten, r + w.recordsWritten)
      }
    }
  }

  def snapshot(): Snap = {
    org.apache.spark.PerfbenchDrain.drain(sc)
    synchronized {
      Snap(jobs, stages, tasks, taskMs, gcMs, spill, shBytes, shRecords)
    }
  }

  /** Shuffle (bytes, records) written by jobs run under span `name`. */
  def spanShuffleOf(name: String): (Long, Long) = synchronized {
    spanShuffle.getOrElse(name, (0L, 0L))
  }

  def resetSpans(): Unit = synchronized { spanShuffle.clear() }

  /** Milliseconds of `[t0, t1]` (epoch millis) during which at least one
    * task ran. Call after [[snapshot]] so every task end is counted.
    */
  def busyMs(t0: Long, t1: Long): Long = synchronized {
    val iv = intervals.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    busy + (curB - curA)
  }

  def dropIntervalsBefore(t: Long): Unit = synchronized {
    intervals.filterInPlace(_._2 >= t)
  }
}

object SparkStats {
  val SpanKey = "perfbench.span"
}
