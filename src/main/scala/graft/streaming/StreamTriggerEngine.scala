package graft.streaming

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, DataFrame}
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core._
import graft.core.LibraryBuilder.StreamTriggerDef
import graft.sources.{GraftLog, GraftLogTable}

/** The stream-trigger engine (R3 + E1-E7): continuous, prefix-subscribed,
  * per-stream-ordered, checkpointed delivery of [[StreamRecord]]s to
  * registered consumers.
  *
  * Semantics carried over from the reference's stream reader
  * (`/root/reference/redisgears_core/src/stream_reader.rs`):
  *  - prefix subscription: a consumer sees every stream whose key starts
  *    with its prefix (E1);
  *  - per-stream order: records of one stream are delivered in (ms, seq)
  *    order, never concurrently (E2/E3 — `window` in the reference is a
  *    concurrency cap; per-stream order is the observable contract,
  *    SURVEY §7.5.2);
  *  - checkpointing: after a record's callback returns (= ack, E4), the
  *    consumer's `last_read_id` advances; replayed input (at-least-once
  *    sources) below the checkpoint is skipped, so delivery is
  *    exactly-once per record while the engine is up (E7);
  *  - durability (E5): when the engine has a checkpoint dir, every batch
  *    that advanced an ack persists the full (consumer, stream) -> id
  *    map through [[CheckpointStore]] — the analogue of the reference
  *    writing `last_read_id` to RDB (`rdb.rs:52-91`) and replicating
  *    acks (`lib.rs:454-465`). A recreated engine re-seeds its
  *    consumers from the store, so replayed batches redeliver ONLY
  *    unacked records: at-least-once across restart, exactly-once up;
  *  - errors: under [[ErrorPolicy.Retry]] (default) a failing record
  *    halts its stream for the rest of the batch — the checkpoint never
  *    advances past an unacked record — and [[processBatch]] throws
  *    [[StreamDeliveryException]] so the enclosing micro-batch is NOT
  *    committed and the source replays it. Under [[ErrorPolicy.Ack]]
  *    the error is recorded in stats and the checkpoint advances (the
  *    reference's keep-consuming behavior, E4 nack stats / E16);
  *  - trim watermark: min acked id across all trimming consumers of a
  *    stream (E6) — exposed for the source's retention/compaction.
  *
  * Execution model: trigger *control plane* runs driver-side (consumer
  * callbacks mutate engine state, exactly like the reference's
  * callbacks run inside the single Redis process). The *data plane* —
  * heavy per-record transforms — belongs in DataFrame operators fed by
  * the same micro-batches ([[attach]]'s `dataPlane` gets each
  * micro-batch DataFrame before the driver-side routing).
  */
final class StreamTriggerEngine(engine: Engine) {

  private case class Consumer(library: String, spec: StreamTriggerDef) {
    val perStream = TrieMap.empty[String, StreamCursor]
    def key: String = s"$library.${spec.name}"
  }

  private val consumers = TrieMap.empty[String, Consumer]
  // delivery is serialized per engine: multiple attached queries (or
  // xadd callers) must not interleave on one consumer's checkpoint
  // state — the analogue of the reference's single main thread (E8)
  private val deliveryLock = new Object
  // checkpoints of consumers detached with dropCheckpoints=false, held
  // for re-adoption by an upgrade's register() (E14). Only the
  // checkpoint state survives — the old callback must never fire again.
  private val stash = TrieMap.empty[String, Map[String, StreamCursor]]
  // durable acks loaded once at engine construction (E5 restart path)
  private val durable: TrieMap[(String, String), (Long, Long)] =
    TrieMap.empty ++ engine.checkpointStore.map(_.load()).getOrElse(Map.empty)

  private[graft] def register(library: String, spec: StreamTriggerDef): Unit = {
    val c = Consumer(library, spec)
    // checkpoint continuity on upgrade (E14): adopt stashed state of the
    // consumer this registration replaces
    stash.remove(c.key).foreach(m => m.foreach { case (s, st) =>
      c.perStream.getOrElseUpdate(s, st)
    })
    // restart continuity (E5): seed acked ids from the durable store
    durable.iterator.filter(_._1._1 == c.key).foreach { case ((_, stream), (ms, seq)) =>
      val cur = c.perStream.getOrElseUpdate(stream, new StreamCursor)
      cur.acked = StreamId.ordering.max(cur.acked, StreamId(ms, seq))
    }
    consumers.put(c.key, c)
  }

  private[graft] def unregister(library: String, trigger: String,
      dropCheckpoints: Boolean): Unit = {
    val key = s"$library.$trigger"
    consumers.remove(key).foreach { c =>
      if (dropCheckpoints) {
        stash.remove(key)
        durable.filterInPlace { case ((ck, _), _) => ck != key }
        persistCheckpoints()
      } else {
        // retire the consumer NOW (its callback must not fire again),
        // keep only its checkpoints for a REPLACE load to adopt
        stash.put(key, c.perStream.toMap)
      }
    }
  }

  /** Drop stashed checkpoints of `library` triggers that no load
    * re-adopted — called after an upgrade completes (E14: consumers not
    * re-registered by the new version are removed, acks included). */
  private[graft] def purgeStash(library: String): Unit = {
    val prefix = s"$library."
    val orphaned = stash.keys.filter(_.startsWith(prefix)).toSeq
    if (orphaned.nonEmpty) {
      orphaned.foreach(stash.remove)
      durable.filterInPlace { case ((ck, _), _) => !orphaned.contains(ck) }
      persistCheckpoints()
    }
  }

  /** E5: write the full (consumer, stream) -> acked id map durably.
    * No-op without a checkpoint dir (volatile mode). Reads each acked id
    * once, so a concurrent ack is seen whole or not at all. */
  private def persistCheckpoints(): Unit = engine.checkpointStore.foreach { store =>
    val entries = for {
      c <- consumers.values.toSeq
      (stream, cur) <- c.perStream
      id = cur.acked if id.ms >= 0
    } yield (c.key, stream) -> (id.ms, id.seq)
    store.save(entries.toMap)
  }

  /** Deliver one batch of records. Core routing: per consumer, per
    * stream, ordered, checkpoint-deduped. Called by the streaming sink
    * (foreachBatch) or directly (tests / synchronous ingest).
    *
    * Throws [[StreamDeliveryException]] if any [[ErrorPolicy.Retry]]
    * consumer failed a record — acked progress is persisted first, so
    * the replayed batch redelivers only unacked records. */
  def processBatch(records: Seq[StreamRecord]): Unit = deliveryLock.synchronized {
    if (records.isEmpty || consumers.isEmpty) return
    val now = System.currentTimeMillis()
    // group once per stream, order within stream by (ms, seq)
    val byStream = records.groupBy(_.stream).map { case (s, rs) =>
      s -> rs.sortBy(r => (r.idMs, r.idSeq))
    }
    var dirty = false
    val failures = ArrayBuffer.empty[String]
    consumers.values.foreach { c =>
      val ctx = engine.functionContext(c.library)
      byStream.foreach { case (stream, rs) =>
        if (stream.startsWith(c.spec.prefix)) {
          val cur = c.perStream.getOrElseUpdate(stream, new StreamCursor)
          val before = cur.acked
          rs.foreach { r =>
            val e = cur.offer(r, c.spec.window, c.spec.onError, now) {
              // the library's user needs read permission on the stream
              // key itself — a denied stream is a Nack
              // (stream_run_ctx.rs:144-153)
              engine.aclCheck(c.library, stream, write = false)
              c.spec.fn(ctx, r)
            }
            if (e != null) {
              cur.lastError = Some(engine.errorString(e))
              if (c.spec.onError == ErrorPolicy.Retry)
                failures += s"${c.key}/$stream@${r.idString}: $e"
            }
          }
          if (cur.acked != before) dirty = true
        }
      }
    }
    if (dirty) persistCheckpoints()
    if (failures.nonEmpty) throw new StreamDeliveryException(failures.toSeq)
  }

  /** XADD-analogue for synchronous ingest (tests, library code): routes
    * one record through the registered consumers immediately. */
  def xadd(stream: String, idMs: Long, idSeq: Long, fields: Map[String, String]): Unit =
    processBatch(Seq(StreamRecord(stream, idMs, idSeq, fields)))

  /** E6: trim watermark for a stream — max id fully acked by *every*
    * trimming consumer subscribed to it (slowest-consumer rule). None if
    * no trimming consumer tracks the stream. */
  def trimWatermark(stream: String): Option[(Long, Long)] = {
    val acked = consumers.values.toSeq
      .filter(c => c.spec.isStreamTrimmed && stream.startsWith(c.spec.prefix))
      .flatMap(_.perStream.get(stream).map(_.acked))
    if (acked.isEmpty) None
    else {
      val id = acked.min
      Some((id.ms, id.seq))
    }
  }

  /** Route a micro-batch through the driver-side consumers WITHOUT
    * materializing it at once: the batch is hash-partitioned by stream
    * and sorted by (stream, ms, seq) within partitions, then streamed
    * to the driver one partition at a time (`toLocalIterator`) in
    * bounded chunks. A stream's records are co-located and ascending,
    * so chunk boundaries — even mid-stream — preserve per-stream order
    * and checkpoint monotonicity. Driver memory is bounded by one
    * partition + one chunk, whatever the batch size (the old
    * `collect()` path OOMed the driver on a large replay batch). */
  private def processBatchChunked(batch: Dataset[StreamRecord]): Unit = {
    import org.apache.spark.sql.functions.col
    val ordered = batch
      .repartition(col("stream"))
      .sortWithinPartitions("stream", "idMs", "idSeq")
    val it = ordered.toLocalIterator()
    val chunk = new ArrayBuffer[StreamRecord](StreamTriggerEngine.ChunkSize)
    while (it.hasNext) {
      chunk += it.next()
      if (chunk.size >= StreamTriggerEngine.ChunkSize) {
        processBatch(chunk.toSeq)
        chunk.clear()
      }
    }
    if (chunk.nonEmpty) processBatch(chunk.toSeq)
  }

  /** All streams currently tracked by trimming consumers, with their
    * trim watermarks. */
  private def trimWatermarks(): Map[String, (Long, Long)] = {
    val tracked = consumers.values.toSeq
      .filter(_.spec.isStreamTrimmed)
      .flatMap(_.perStream.keys)
      .distinct
    tracked.flatMap(s => trimWatermark(s).map(s -> _)).toMap
  }

  /** E6 trim for a [[graft.sources.GraftLog]] source: compact the log
    * below the slowest trimming consumer per stream. */
  def trimLog(log: graft.sources.GraftLog): Long = log.compact(trimWatermarks())

  /** Attach a continuous `Dataset[StreamRecord]` (file stream, Kafka,
    * MemoryStream…) to the trigger engine. Checkpointing the streaming
    * query + the engine's durable id checkpoint gives E5/E7: a failed
    * batch is not committed, the source replays it after restart, and
    * the id checkpoint dedupes already-acked records.
    *
    * A bare `graft-log` stream (`readStream.format("graft-log")…load()`,
    * optionally `.as[StreamRecord]`, with no operator on top) is not run
    * as a micro-batch query: a [[GraftLogTail]] thread on the driver
    * follows the log and delivers each round of new segments through
    * [[processBatch]] with no Spark job, so a record reaches its
    * callback right after its append. A round orders each stream's
    * records across all of its segments, as a micro-batch does across
    * its batch. Its offset (the next segment) and query id are kept
    * under `checkpointDir`, the offset written after the round's acks.
    * Its `recentProgress` is empty, as there are no micro-batches, and
    * `spark.streams` does not list it. Every other input keeps
    * `writeStream.foreachBatch`. [[Engine.close]] stops the tails. */
  def attach(ds: Dataset[StreamRecord], checkpointDir: String): StreamingQuery =
    ds.queryExecution.analyzed match {
      case StreamingRelationV2(_, _, t: GraftLogTable, _, _, _, _, _) =>
        val spark = ds.sparkSession
        val log = new GraftLog(t.path, spark.sparkContext.hadoopConfiguration)
        val tail = GraftLogTail.start(spark, log, t.prefix, checkpointDir)(processBatch, tails.remove(_))
        tails.add(tail)
        // it may have ended before the add: then onEnd's remove missed it
        if (!tail.isActive) tails.remove(tail)
        tail
      case _ => attach(ds, checkpointDir, (_, _) => ())
    }

  /** [[attach]] as a micro-batch query whatever the input, with
    * `dataPlane` getting each micro-batch DataFrame AND its Structured
    * Streaming batch id before the driver-side routing, for a
    * declarative operator pipeline that runs on executors (e.g. running
    * aggregations into an exactly-once sink keyed on that id). The
    * batch id is Spark's own replay-stable identifier — the analogue of
    * the reference keying stream progress on stream ids
    * (`rdb.rs:74-91`) — so a [[TransactionalSink]] keyed on it dedupes
    * replays without deriving a surrogate key from the data. */
  def attach(ds: Dataset[StreamRecord], checkpointDir: String,
      dataPlane: (DataFrame, Long) => Unit): StreamingQuery =
    ds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[StreamRecord], batchId: Long) =>
        dataPlane(batch.toDF(), batchId)
        processBatchChunked(batch)
      }
      .start()

  // the driver-side tails attached through this engine, until each ends
  private val tails = java.util.concurrent.ConcurrentHashMap.newKeySet[GraftLogTail]()

  /** Stop every tail attached through this engine (from [[Engine.close]]). */
  private[graft] def stopTails(): Unit = tails.forEach(_.stop())

  /** Executor-side delivery (the scale path for heavy callbacks): the
    * batch is hash-partitioned on the stream key and SORTED WITHIN
    * PARTITIONS by (stream, ms, seq) — one shuffle, with the ordering
    * done by Spark's sort machinery (spillable) rather than an
    * in-memory `toArray.sortBy` per group — then a partition-local
    * iterator walks the already-ordered records through the stream's
    * [[StreamCursor]] and returns the cursor (a handful of bytes) to
    * the driver, which merges it into the consumer's cursor and
    * persists the acks durably. The driver never sees record payloads
    * AND no executor ever materializes a stream's batch: memory per
    * task is O(1) records, so both batch size and per-stream record
    * count are unbounded.
    *
    * The callback runs on executors: it MUST be serializable and must
    * not touch driver-side engine state (external sinks / accumulators
    * only) — the same restriction any Spark closure has. The trigger
    * named by (library, trigger) must already be registered; its
    * prefix, error policy, window and checkpoints apply: a copy of the
    * consumer's cursors, taken at batch start under the delivery lock,
    * ships with the task closure (small: per stream, the acked id plus
    * the in-flight ids), so replayed records are deduped on the
    * executors and an in-process replay redelivers only failed records.
    *
    * Per-key ACL (`stream_run_ctx.rs:144-153`): the consumer's user
    * rules are resolved ONCE at batch start and shipped with the task
    * closure; a denied stream key nacks exactly like the driver path;
    * revocation therefore lands at the next micro-batch rather than
    * mid-batch. */
  def attachDistributed(ds: Dataset[StreamRecord], checkpointDir: String,
      library: String, trigger: String)(fn: StreamRecord => Unit): StreamingQuery = {
    val key = s"$library.$trigger"
    ds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[StreamRecord], _: Long) =>
        val c = consumers.getOrElse(key,
          throw new NoSuchElementException(s"no such stream trigger '$key'"))
        val prefix = c.spec.prefix
        val (window, policy) = (c.spec.window, c.spec.onError)
        // the owning user's rules, captured at batch start: a deleted
        // library or revoked user denies every stream this batch
        val user = engine.libraryUser(library)
        val rules: Option[Seq[graft.core.AclRule]] =
          user.flatMap(engine.aclRulesFor)
        val userName = user.getOrElse(s"<unloaded library '$library'>")
        val cursors: Map[String, StreamCursor] = deliveryLock.synchronized {
          c.perStream.iterator.map { case (s, cur) => s -> cur.forBatch }.toMap
        }
        import org.apache.spark.sql.functions.col
        val batchCursors = batch
          .filter((r: StreamRecord) => r.stream.startsWith(prefix))
          .repartition(col("stream"))
          .sortWithinPartitions("stream", "idMs", "idSeq")
          .rdd
          .mapPartitions { it =>
            // records arrive grouped by stream and ascending by id: one
            // cursor per stream run, O(window + in-flight) memory per task
            val recs = it.buffered
            new Iterator[(String, StreamCursor)] {
              def hasNext: Boolean = recs.hasNext
              def next(): (String, StreamCursor) = {
                val stream = recs.head.stream
                val cur = cursors.getOrElse(stream, new StreamCursor)
                val now = System.currentTimeMillis()
                while (recs.hasNext && recs.head.stream == stream) {
                  val r = recs.next()
                  val e = cur.offer(r, window, policy, now) {
                    graft.core.Acl.check(userName, rules, stream, write = false)
                    fn(r)
                  }
                  if (e != null) cur.lastError = Some(e.toString)
                }
                stream -> cur
              }
            }
          }
          .collect() // tiny: one cursor per stream in the batch
        deliveryLock.synchronized {
          var dirty = false
          val failures = ArrayBuffer.empty[String]
          batchCursors.foreach { case (stream, b) =>
            if (c.perStream.getOrElseUpdate(stream, new StreamCursor).merge(b)) dirty = true
            if (b.pendingFailed.nonEmpty)
              failures += s"$key/$stream@${b.acked}: ${b.lastError.getOrElse("?")}"
          }
          if (dirty) persistCheckpoints()
          if (failures.nonEmpty) throw new StreamDeliveryException(failures.toSeq)
        }
      }
      .start()
  }

  private[graft] def stats(library: String, trigger: String): StreamTriggerStats = deliveryLock.synchronized {
    val key = s"$library.$trigger"
    consumers.get(key).map { c =>
      StreamTriggerStats(library, trigger, c.spec.prefix, c.spec.window,
        c.spec.isStreamTrimmed,
        c.perStream.map { case (s, cur) =>
          s -> StreamConsumerStats(cur.lastReadId, cur.processed,
            cur.errors, cur.lastError, cur.lastLagMs,
            cur.pendingFailed.toSeq.map(_.toString))
        }.toMap)
    }.getOrElse(StreamTriggerStats(library, trigger, "", 1, trimmed = false, Map.empty))
  }
}

object StreamTriggerEngine {
  /** Records per [[processBatch]] call: a micro-batch or a tail round
    * is ordered whole, then delivered in chunks of at most this many. */
  private[graft] val ChunkSize = 10000

  /** Memory bound on per-stream delivered-but-unackable records held
    * behind a nacked record (see [[StreamCursor]]). */
  val MaxDeliveredAhead = 4096
}
