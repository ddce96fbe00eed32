package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerFlush
import org.apache.spark.scheduler._

/** The traced run's view of the Spark layer: a listener that counts
  * jobs, stages and tasks, shuffle and spill bytes, task-time skew, and
  * records each job as a `spark.job` span. A job's parent is the span
  * named by the submitting thread's `perfbench.span` local property,
  * else the container span covering it in time. */
final class SparkCapture(sc: SparkContext) extends SparkListener {
  import SparkCapture._

  private var jobs, stages, tasks = 0L
  private var shuffleRead, shuffleWrite, spill = 0L
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // start, end (span clock)

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).getOrElse(Trace.ByTime)
    jobStart(e.jobId) = (Trace.fromEpochMs(e.time), parent)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, parent) =>
      val end = math.max(start, Trace.fromEpochMs(e.time))
      jobs += 1
      jobSpans += ((start, end))
      Trace.record(Trace.newId(), parent, e.jobId.toLong, "spark.job", start, end)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
  }

  /** Counters since the last [[reset]], after draining the event bus. */
  def snapshot(): Totals = {
    ListenerFlush(sc)
    synchronized {
      val skew = taskMs.values.filter(_.size >= 2).map { ds =>
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        ds.max / math.max(med, 1.0)
      }.maxOption.getOrElse(1.0)
      Totals(jobs, stages, tasks, shuffleRead / 1048576.0, shuffleWrite / 1048576.0,
        spill / 1048576.0, skew, jobSpans.toSeq)
    }
  }

  def reset(): Unit = {
    ListenerFlush(sc)
    synchronized {
      jobs = 0; stages = 0; tasks = 0
      shuffleRead = 0; shuffleWrite = 0; spill = 0
      taskMs.clear(); jobSpans.clear()
    }
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object SparkCapture {
  val Prop = "perfbench.span"

  final case class Totals(jobs: Long, stages: Long, tasks: Long,
      shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
      taskSkew: Double, jobSpans: Seq[(Long, Long)]) {
    /** Share of `[from, to)` not covered by any job: driver-side time. */
    def driverShare(from: Long, to: Long): Double = {
      val covered = Stats.covered(
        jobSpans.map { case (a, b) => (math.max(a, from), math.min(b, to)) })
      if (to <= from) 0.0 else math.max(0.0, (to - from - covered).toDouble / (to - from))
    }

    def layerMetrics: Map[String, Double] = Map(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.shuffle_read_mb" -> shuffleReadMb,
      "spark.shuffle_write_mb" -> shuffleWriteMb, "spark.spill_mb" -> spillMb,
      "spark.task_skew" -> taskSkew)
  }
}
