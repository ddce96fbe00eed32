package graft.streaming

import scala.collection.mutable.TreeSet

import graft.core.{ErrorPolicy, StreamRecord}

/** A stream record id, ordered by (ms, seq). Immutable, so one
  * reference store publishes a whole id: a reader never sees the `ms`
  * of one ack with the `seq` of another. */
case class StreamId(ms: Long, seq: Long) {
  override def toString: String = s"$ms-$seq"
}

object StreamId {
  /** Below every real id: nothing acked yet. */
  val Start: StreamId = StreamId(-1L, -1L)

  implicit object ordering extends Ordering[StreamId] {
    def compare(a: StreamId, b: StreamId): Int =
      if (a.ms != b.ms) java.lang.Long.compare(a.ms, b.ms)
      else java.lang.Long.compare(a.seq, b.seq)
  }
}

/** One consumer's read state over one stream (E3/E4): the reference's
  * `last_read_id` plus `pending_ids` under the `window` cap
  * (`stream_reader.rs:113-149, 299-453`). Both delivery planes run
  * records through [[offer]]: the driver on its live cursors, the
  * executors on a batch-start [[forBatch]] copy that ships back and is
  * [[merge]]d into the driver's cursor.
  *
  *  - `acked` is the contiguous acked prefix: the checkpoint.
  *  - `pendingFailed` holds nacked ids awaiting redelivery (at most
  *    `window`).
  *  - `deliveredAhead` holds ids delivered ABOVE a nacked one: they
  *    cannot advance the checkpoint yet, but an in-process replay must
  *    not re-run them (exactly-once while up). At most
  *    [[StreamTriggerEngine.MaxDeliveredAhead]]; both sets are volatile,
  *    so a restart redelivers them (at-least-once).
  *
  * Not thread-safe beyond `acked`: the engine mutates a cursor under
  * its delivery lock, and executors own their copy. */
final class StreamCursor extends Serializable {
  import StreamId.ordering.mkOrderingOps

  @volatile var acked: StreamId = StreamId.Start
  val pendingFailed: TreeSet[StreamId] = TreeSet.empty
  val deliveredAhead: TreeSet[StreamId] = TreeSet.empty
  var processed: Long = 0
  var errors: Long = 0
  /** Set by the caller, in its own rendering of the error. */
  var lastError: Option[String] = None
  var lastLagMs: Long = 0

  def lastReadId: String = if (acked.ms < 0) "0-0" else acked.toString

  /** Run `deliver` for `r` if the rules admit it, and account for the
    * outcome. Retries of pending ids always go ahead (else a full
    * window could never drain); new ids go only while fewer than
    * `window` are pending and the delivered-ahead bound holds (the
    * reference stops pulling at `pending_ids.len() >= window`,
    * `stream_reader.rs:436-442`; `window` = 1 halts at the first
    * failure); ids at or below the checkpoint, or already delivered
    * ahead, are skipped. On success the contiguous prefix acks; on
    * failure `Ack` advances past the record and `Retry` leaves it
    * pending. Returns the callback's error, or null. */
  def offer(r: StreamRecord, window: Int, policy: ErrorPolicy, now: Long)(
      deliver: => Unit): Throwable = {
    val id = StreamId(r.idMs, r.idSeq)
    val isRetry = pendingFailed.nonEmpty && pendingFailed.contains(id)
    val windowOpen = pendingFailed.size < window &&
      deliveredAhead.size < StreamTriggerEngine.MaxDeliveredAhead
    val isNew = id > acked &&
      !(deliveredAhead.nonEmpty && deliveredAhead.contains(id))
    if (!((isRetry || windowOpen) && isNew)) return null
    try {
      deliver
      processed += 1
      lastLagMs = math.max(0, now - r.idMs)
      pendingFailed.remove(id)
      if (pendingFailed.isEmpty) {
        acked = if (deliveredAhead.isEmpty) id else deliveredAhead.last max id
        deliveredAhead.clear()
      } else deliveredAhead.add(id)
      null
    } catch {
      case e: Throwable =>
        errors += 1
        policy match {
          case ErrorPolicy.Ack => acked = id
          case ErrorPolicy.Retry => pendingFailed.add(id)
        }
        e
    }
  }

  /** A copy of the read state with zeroed counters: what an executor
    * starts a batch from, so the copy it returns carries the batch's
    * counts alone. */
  def forBatch: StreamCursor = {
    val c = new StreamCursor
    c.acked = acked
    c.pendingFailed ++= pendingFailed
    c.deliveredAhead ++= deliveredAhead
    c
  }

  /** Fold an executor's batch cursor (from [[forBatch]]) into this one:
    * the checkpoint only moves up, the in-flight sets are the batch's,
    * the counters add. Returns whether the checkpoint advanced. */
  def merge(batch: StreamCursor): Boolean = {
    val advanced = batch.acked > acked
    if (advanced) acked = batch.acked
    pendingFailed.clear()
    pendingFailed ++= batch.pendingFailed
    deliveredAhead.clear()
    deliveredAhead ++= batch.deliveredAhead
    processed += batch.processed
    errors += batch.errors
    if (batch.lastError.isDefined) lastError = batch.lastError
    if (batch.processed > 0) lastLagMs = batch.lastLagMs
    advanced
  }
}
