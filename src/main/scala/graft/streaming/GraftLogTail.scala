package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryProgress, StreamingQueryStatus}

import graft.core.StreamRecord
import graft.sources.GraftLog

/** Driver-side delivery of a bare `graft-log` stream, for
  * [[StreamTriggerEngine.attach]]: one thread follows the log itself and
  * hands each round of records to `deliver` with no Spark job, the
  * reference's XADD-then-callback path (`stream_reader.rs:564-642`)
  * rather than a micro-batch.
  *
  * A round fixes its end first, as a micro-batch fixes its end offset:
  * every segment from the tail's offset up to the first missing one.
  * It reads them whole, keeps the records matching `prefix`, orders
  * them by (stream, ms, seq) across the whole round and delivers them
  * in chunks of [[StreamTriggerEngine.ChunkSize]], so a chunk boundary
  * never puts a stream's lower id after a higher one, whatever the
  * round's size and however its segments interleave ids. Only then
  * does it persist the next segment index under `checkpointDir`.
  * `deliver` persists the consumers' acks before it returns, so a crash
  * between the two re-reads segments whose records the durable acks
  * then skip (E5/E7). A failing round ends the tail with its offset at
  * the round's start, as a failed micro-batch is not committed;
  * re-attaching replays from there. Unlike a micro-batch, which streams
  * its batch from the executors one partition at a time, a round holds
  * all its records on the driver.
  *
  * Identity: the query `id` is kept next to the offset, so it is stable
  * across restarts, and starting a tail on a checkpoint that already
  * has a live one in this JVM stops that one first, as Spark stops a
  * query's active run when it restarts.
  *
  * Waking: the tail takes [[GraftLog.appends]] before it probes for the
  * next segment and sleeps only while the count is unchanged, so an
  * append in this JVM wakes it at once; the [[GraftLogTail.PollMs]]
  * timeout sees appends from other JVMs. */
private[streaming] final class GraftLogTail private (spark: SparkSession, log: GraftLog,
    prefix: String, offsets: CheckpointStore)(deliver: Seq[StreamRecord] => Unit,
    onEnd: GraftLogTail => Unit) extends StreamingQuery {
  import GraftLogTail.{IdKey, OffsetKey}

  private val runUuid = UUID.randomUUID()
  private val saved = offsets.load()
  override val id: UUID = saved.get(IdKey).fold(UUID.randomUUID()) { case (hi, lo) => new UUID(hi, lo) }
  private val lock = new Object
  // next segment to read; every segment below it is delivered
  @volatile private var next: Long = saved.get(OffsetKey).fold(0L)(_._1)
  @volatile private var stopping = false
  @volatile private var done = false
  @volatile private var failure: StreamingQueryException = null
  // named by run id, so a thread dump (or a test) can find a query's tail
  private val thread = new Thread(() => run(), s"graft-log-tail-$runUuid")
  thread.setDaemon(true)

  private def persist(offset: Long): Unit =
    offsets.save(Map(OffsetKey -> ((offset, 0L)),
      IdKey -> ((id.getMostSignificantBits, id.getLeastSignificantBits))))

  private def run(): Unit =
    try {
      while (!stopping) {
        val seen = GraftLog.appends
        var end = next
        while (log.hasSegment(end)) end += 1
        if (end == next) GraftLog.awaitAppend(seen, GraftLogTail.PollMs)
        else {
          (next until end).iterator.flatMap(log.readSegment)
            .filter(_.stream.startsWith(prefix)).toVector
            .sortBy(r => (r.stream, r.idMs, r.idSeq))
            .grouped(StreamTriggerEngine.ChunkSize).foreach(deliver)
          persist(end)
          lock.synchronized { next = end; lock.notifyAll() }
        }
      }
    } catch {
      case e: Throwable =>
        failure = new StreamingQueryException(s"graft-log tail $runUuid", e,
          next.toString, next.toString, "STREAM_FAILED",
          Map("id" -> id.toString, "runId" -> runUuid.toString, "message" -> e.toString))
        if (!scala.util.control.NonFatal(e)) throw e
    } finally {
      lock.synchronized { done = true; lock.notifyAll() }
      onEnd(this)
    }

  override def name: String = null
  override def runId: UUID = runUuid
  override def sparkSession: SparkSession = spark
  override def isActive: Boolean = !done
  override def exception: Option[StreamingQueryException] = Option(failure)
  // the constructor is protected: an anonymous subclass may call it
  override def status: StreamingQueryStatus =
    new StreamingQueryStatus(if (isActive) "Waiting for data to arrive" else "Stopped",
      isDataAvailable = false, isTriggerActive = false) {}
  // no micro-batches, so no StreamingQueryProgress
  override def recentProgress: Array[StreamingQueryProgress] = Array.empty
  override def lastProgress: StreamingQueryProgress = null

  override def awaitTermination(): Unit = {
    lock.synchronized { while (!done) lock.wait() }
    if (failure != null) throw failure
  }

  override def awaitTermination(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      var left = timeoutMs
      while (!done && left > 0) {
        lock.wait(left)
        left = deadline - System.currentTimeMillis()
      }
    }
    if (failure != null) throw failure
    done
  }

  /** Block until every segment present at the call is delivered, or the
    * tail ends; rethrows the failure that ended it. */
  override def processAllAvailable(): Unit = {
    val target = log.segmentCount
    lock.synchronized { while (next < target && !done) lock.wait() }
    if (failure != null) throw failure
  }

  /** Stop after the current round and join the thread. */
  override def stop(): Unit = {
    stopping = true
    GraftLog.wake()
    if (Thread.currentThread() ne thread) thread.join()
  }

  override def explain(): Unit = explain(extended = false)
  override def explain(extended: Boolean): Unit =
    println(s"graft-log tail: ${log.dir} prefix='$prefix' next segment $next")
}

private[streaming] object GraftLogTail {
  /** Fallback poll for appends made by another JVM. */
  val PollMs = 20L

  private val OffsetKey = ("graft-log-tail", "next-segment")
  private val IdKey = ("graft-log-tail", "query-id")

  // the live tail of each query checkpoint in this JVM
  private val live = new ConcurrentHashMap[String, GraftLogTail]()

  /** Start a tail over `log` that keeps its offset and query id under
    * `checkpointDir`, after stopping the live tail already there.
    * `onEnd` runs on the tail's thread once it has ended. */
  def start(spark: SparkSession, log: GraftLog, prefix: String, checkpointDir: String)(
      deliver: Seq[StreamRecord] => Unit, onEnd: GraftLogTail => Unit): GraftLogTail = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(checkpointDir, "graft-log-tail")
    val key = dir.getFileSystem(conf).makeQualified(dir).toString
    Option(live.get(key)).foreach(_.stop())
    // the store is read only now, after the previous run's last save
    val offsets = new CheckpointStore(dir.toString, conf, keep = 2)
    val tail = new GraftLogTail(spark, log, prefix, offsets)(deliver,
      t => { live.remove(key, t); onEnd(t) })
    if (!tail.saved.contains(IdKey)) tail.persist(tail.next)
    live.put(key, tail)
    tail.thread.start()
    tail
  }
}
