package graft.streaming

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, DataFrame}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core._
import graft.core.LibraryBuilder.StreamTriggerDef

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
  * the same micro-batches ([[attachBatches]] hands each micro-batch
  * DataFrame to distributed operators before the driver-side routing).
  */
/** A record id crossing the executor boundary on the distributed path. */
case class StreamId(ms: Long, seq: Long)

/** One stream's checkpoint + E3 in-flight state, snapshotted under the
  * delivery lock and shipped with the distributed-delivery task closure
  * (small: acked id + at most `window` pending + bounded ahead ids). */
case class InflightSnapshot(ms: Long, seq: Long,
    pendingFailed: Seq[StreamId], deliveredAhead: Seq[StreamId])
object InflightSnapshot {
  val Empty: InflightSnapshot = InflightSnapshot(-1L, -1L, Seq.empty, Seq.empty)
}

/** Per-stream ack summary returned from executor-side delivery — the
  * only data that crosses back to the driver on the distributed path.
  * `pendingFailed`/`deliveredAhead` carry the E3 in-flight bookkeeping
  * back to the driver's checkpoint state (bounded by `window` and
  * [[StreamTriggerEngine.MaxDeliveredAhead]] respectively). */
case class StreamAck(stream: String, ackedMs: Long, ackedSeq: Long,
    processed: Long, errors: Long, lastError: Option[String],
    lastLagMs: Long, halted: Boolean,
    pendingFailed: Seq[StreamId] = Seq.empty,
    deliveredAhead: Seq[StreamId] = Seq.empty)

final class StreamTriggerEngine(engine: Engine) {

  private case class Consumer(library: String, spec: StreamTriggerDef) {
    val perStream = TrieMap.empty[String, ConsumerStreamState]
    def key: String = s"$library.${spec.name}"
  }

  private final class ConsumerStreamState {
    @volatile var lastReadMs: Long = -1
    @volatile var lastReadSeq: Long = -1
    @volatile var totalProcessed: Long = 0
    @volatile var totalErrors: Long = 0
    @volatile var lastError: Option[String] = None
    @volatile var lastLagMs: Long = 0
    /** E3/E4 in-flight bookkeeping (the reference's `pending_ids`,
      * `stream_reader.rs:113-122`): failed (nacked) ids awaiting
      * redelivery (bounded by `window`), and ids delivered successfully
      * ABOVE a nacked one — the checkpoint is the contiguous acked
      * prefix, so those can't advance it yet, but an in-process replay
      * must not re-run them (exactly-once while up). `deliveredAhead`
      * is bounded by [[StreamTriggerEngine.MaxDeliveredAhead]]: once a
      * stream has that many unacked-but-delivered records behind a
      * poison record, new records stop until the failure drains. Both
      * are volatile: a restart redelivers them (at-least-once). */
    val pendingFailed = scala.collection.mutable.TreeSet.empty[(Long, Long)]
    val deliveredAhead = scala.collection.mutable.TreeSet.empty[(Long, Long)]
    def lastReadId: String = if (lastReadMs < 0) "0-0" else s"$lastReadMs-$lastReadSeq"
    def isNew(r: StreamRecord): Boolean =
      (r.idMs > lastReadMs || (r.idMs == lastReadMs && r.idSeq > lastReadSeq)) &&
        !deliveredAhead.contains((r.idMs, r.idSeq))
  }

  private val consumers = TrieMap.empty[String, Consumer]
  // delivery is serialized per engine: multiple attached queries (or
  // xadd callers) must not interleave on one consumer's checkpoint
  // state — the analogue of the reference's single main thread (E8)
  private val deliveryLock = new Object
  // checkpoints of consumers detached with dropCheckpoints=false, held
  // for re-adoption by an upgrade's register() (E14). Only the
  // checkpoint state survives — the old callback must never fire again.
  private val stash = TrieMap.empty[String, Map[String, ConsumerStreamState]]
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
      val st = c.perStream.getOrElseUpdate(stream, new ConsumerStreamState)
      if (st.lastReadMs < ms || (st.lastReadMs == ms && st.lastReadSeq < seq)) {
        st.lastReadMs = ms
        st.lastReadSeq = seq
      }
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
    * No-op without a checkpoint dir (volatile mode). */
  private def persistCheckpoints(): Unit = engine.checkpointStore.foreach { store =>
    val entries = for {
      c <- consumers.values.toSeq
      (stream, st) <- c.perStream if st.lastReadMs >= 0
    } yield (c.key, stream) -> (st.lastReadMs, st.lastReadSeq)
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
          val st = c.perStream.getOrElseUpdate(stream, new ConsumerStreamState)
          // E3 window backpressure: delivery continues past nacked
          // records until `window` of them are in flight, then NEW
          // records stop for the batch (the reference stops pulling at
          // pending_ids.len() >= window, stream_reader.rs:436-442);
          // redelivery of the pending records themselves always
          // proceeds, else a full window could never drain.
          // window=1 (default) = halt at the first failure.
          rs.foreach { r =>
            val id = (r.idMs, r.idSeq)
            val isRetry = st.pendingFailed.contains(id)
            val windowOpen = st.pendingFailed.size < c.spec.window &&
              st.deliveredAhead.size < StreamTriggerEngine.MaxDeliveredAhead
            if ((isRetry || windowOpen) && st.isNew(r)) {
              try {
                // the library's user needs read permission on the
                // stream key itself — a denied stream is a Nack
                // (stream_run_ctx.rs:144-153)
                engine.aclCheck(c.library, stream, write = false)
                c.spec.fn(ctx, r)
                st.totalProcessed += 1
                st.lastLagMs = math.max(0, now - r.idMs)
                st.pendingFailed.remove(id)
                if (st.pendingFailed.isEmpty) {
                  // ack: the contiguous prefix is complete — advance the
                  // checkpoint over everything delivered so far
                  val (ms, seq) =
                    if (st.deliveredAhead.isEmpty) id
                    else Seq(st.deliveredAhead.last, id).max
                  st.lastReadMs = ms
                  st.lastReadSeq = seq
                  st.deliveredAhead.clear()
                  dirty = true
                } else {
                  // delivered above a nacked record: remember, don't ack
                  st.deliveredAhead.add(id)
                }
              } catch {
                case e: Throwable =>
                  st.totalErrors += 1
                  st.lastError = Some(engine.errorString(e))
                  c.spec.onError match {
                    case ErrorPolicy.Ack =>
                      // reference semantics: record the error, keep going
                      st.lastReadMs = r.idMs
                      st.lastReadSeq = r.idSeq
                      dirty = true
                    case ErrorPolicy.Retry =>
                      st.pendingFailed.add(id)
                      failures += s"${c.key}/$stream@${r.idString}: $e"
                  }
              }
            }
          }
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
    val states = consumers.values.toSeq
      .filter(c => c.spec.isStreamTrimmed && stream.startsWith(c.spec.prefix))
      .flatMap(_.perStream.get(stream))
    if (states.isEmpty) None
    else Some(states.map(s => (s.lastReadMs, s.lastReadSeq)).min)
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
    val chunk = new ArrayBuffer[StreamRecord](ChunkSize)
    while (it.hasNext) {
      chunk += it.next()
      if (chunk.size >= ChunkSize) {
        processBatch(chunk.toSeq)
        chunk.clear()
      }
    }
    if (chunk.nonEmpty) processBatch(chunk.toSeq)
  }

  private val ChunkSize = 10000

  /** All streams currently tracked by trimming consumers, with their
    * trim watermarks. */
  private def trimWatermarks(): Map[String, (Long, Long)] = {
    val tracked = consumers.values.toSeq
      .filter(_.spec.isStreamTrimmed)
      .flatMap(_.perStream.keys)
      .distinct
    tracked.flatMap(s => trimWatermark(s).map(s -> _)).toMap
  }

  /** E6 stream-trim ACTION: compact a parquet append log of
    * [[StreamRecord]]s in place, deleting every record at or below its
    * stream's trim watermark — the analogue of the reference's
    * `XTRIM MINID` up to the slowest consumer's acked id
    * (`stream_reader.rs:61-109`, `lib.rs:1074-1103`). Streams without a
    * trimming consumer are untouched. Returns the number of records
    * removed.
    *
    * Incremental: a column-pruned scan of (stream, idMs, idSeq)
    * classifies each parquet part file as fully-below the watermark
    * (deleted outright), fully-above (untouched — the common case for
    * a frequently-trimmed log, where only the oldest files hold acked
    * records), or straddling (only these are rewritten). Trim cost is
    * proportional to the boundary, not the log size.
    *
    * Crash-safe: rewritten boundary data is staged outside the log,
    * then a `_compact-commit` redo log (written tmp + rename, so it
    * only ever appears complete) records the publish renames and the
    * deletions; the transaction is replayed to completion by the next
    * `compactLog` call after a crash at any point. No step can lose
    * records above the watermark — the log directory itself is never
    * swapped (the previous delete-then-rename of the whole directory
    * lost the entire log if a crash hit between the two). Readers
    * racing a crash window may transiently see a trimmed record again;
    * delivery dedupes by record id, so that is an at-least-once replay,
    * not a duplicate delivery. */
  def compactLog(logDir: String): Long = {
    val spark = engine.spark
    val hc = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(logDir)
    val fs = root.getFileSystem(hc)
    // finish a predecessor that crashed mid-publish before reading
    StreamTriggerEngine.recoverCompact(fs, root)
    val wms = trimWatermarks()
    if (wms.isEmpty || !fs.exists(root)) return 0L
    import org.apache.spark.sql.functions.{broadcast, col, count, input_file_name, sum, when}
    import spark.implicits._
    val wmDf = wms.toSeq.map { case (s, (ms, seq)) => (s, ms, seq) }
      .toDF("stream", "wm_ms", "wm_seq")
    val below = col("wm_ms").isNotNull &&
      (col("idMs") < col("wm_ms") ||
        (col("idMs") === col("wm_ms") && col("idSeq") <= col("wm_seq")))
    val log = spark.read.schema(StreamRecord.schema).parquet(logDir)
    // per-file classification: reads only the 3 routing columns
    val classes = log
      .select(col("stream"), col("idMs"), col("idSeq"), input_file_name().as("f"))
      .join(broadcast(wmDf), Seq("stream"), "left")
      .groupBy("f")
      .agg(count("*").as("n"), sum(when(below, 1L).otherwise(0L)).as("nb"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val fullyBelow = classes.collect { case (f, n, nb) if nb == n => f }
    val straddling = classes.collect { case (f, n, nb) if nb > 0 && nb < n => f }
    val removed = classes.iterator.map(_._3).sum
    if (removed == 0) return 0L
    // stage kept rows of straddling files outside the log
    val stage = StreamTriggerEngine.compactStagePath(root)
    fs.delete(stage, true)
    val publishes = if (straddling.isEmpty) Seq.empty[(String, String)] else {
      spark.read.schema(StreamRecord.schema).parquet(straddling.toIndexedSeq: _*)
        .join(broadcast(wmDf), Seq("stream"), "left")
        .filter(!below)
        .drop("wm_ms", "wm_seq")
        .write.mode("overwrite").parquet(stage.toString)
      val uuid = java.util.UUID.randomUUID().toString.take(8)
      fs.listStatus(stage).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .zipWithIndex
        .map { case (s, i) =>
          s.getPath.toString ->
            new org.apache.hadoop.fs.Path(root, s"compact-$uuid-$i.parquet").toString
        }.toSeq
    }
    // commit point: the redo log makes publish+delete all-or-nothing
    val commit = (publishes.map { case (src, dst) => s"P\t$src\t$dst" } ++
      (straddling ++ fullyBelow).map(f => s"D\t$f")).mkString("", "\n", "\n")
    val commitPath = StreamTriggerEngine.compactCommitPath(root)
    val commitTmp = new org.apache.hadoop.fs.Path(commitPath.toString + ".tmp")
    val out = fs.create(commitTmp, true)
    try out.write(commit.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(commitPath, false)
    if (!fs.rename(commitTmp, commitPath))
      throw new java.io.IOException(s"cannot write compact commit for $logDir")
    StreamTriggerEngine.recoverCompact(fs, root)
    removed
  }

  /** E6 trim for a [[graft.sources.GraftLog]] source: compact the log
    * below the slowest trimming consumer per stream. */
  def trimLog(log: graft.sources.GraftLog): Long = log.compact(trimWatermarks())

  /** Attach a continuous `Dataset[StreamRecord]` (file stream, Kafka,
    * MemoryStream…) to the trigger engine. Checkpointing the streaming
    * query + the engine's durable id checkpoint gives E5/E7: a failed
    * batch is not committed, the source replays it after restart, and
    * the id checkpoint dedupes already-acked records. */
  def attach(ds: Dataset[StreamRecord], checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    ds.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[StreamRecord], _: Long) =>
        processBatchChunked(batch)
      }
      .start()

  /** Distributed data plane: hand each micro-batch DataFrame AND its
    * Structured Streaming batch id to a declarative operator pipeline
    * (runs on executors), e.g. running aggregations into an
    * exactly-once sink keyed on that id, then route the batch through
    * the driver-side triggers. The batch id is Spark's own replay-
    * stable identifier — the analogue of the reference keying stream
    * progress on stream ids (`rdb.rs:74-91`) — so a
    * [[TransactionalSink]] keyed on it dedupes replays without deriving
    * a surrogate key from the data (which would cost an extra
    * aggregation job per batch and collide if a replay re-split
    * batches). */
  def attachBatches(ds: Dataset[StreamRecord], checkpointDir: String)(
      dataPlane: (DataFrame, Long) => Unit): StreamingQuery =
    ds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[StreamRecord], batchId: Long) =>
        dataPlane(batch.toDF(), batchId)
        processBatchChunked(batch)
      }
      .start()

  /** Executor-side delivery (the scale path for heavy callbacks): the
    * batch is hash-partitioned on the stream key and SORTED WITHIN
    * PARTITIONS by (stream, ms, seq) — one shuffle, with the ordering
    * done by Spark's sort machinery (spillable) rather than an
    * in-memory `toArray.sortBy` per group — then a partition-local
    * iterator walks the already-ordered records and delivers them,
    * emitting one per-stream ack summary (a handful of bytes) to the
    * driver, which merges it into the consumer's checkpoint state and
    * persists it durably. The driver never sees record payloads AND no
    * executor ever materializes a stream's batch: memory per task is
    * O(1) records, so both batch size and per-stream record count are
    * unbounded.
    *
    * The callback runs on executors: it MUST be serializable and must
    * not touch driver-side engine state (external sinks / accumulators
    * only) — the same restriction any Spark closure has. The trigger
    * named by (library, trigger) must already be registered; its
    * prefix, error policy, and checkpoints apply. Replayed records
    * below the consumer's acked id are skipped on the executors via a
    * snapshot of acked ids shipped with the task closure (small:
    * #streams entries).
    *
    * Reference semantics preserved: per-stream order
    * (`stream_reader.rs:299-453`), ack/nack + checkpoint (E4), durable
    * resume (E5/E7), the full E3 `window` in-flight cap (delivery
    * continues past nacked records until `window` of them are pending,
    * then new records stop for the batch; the pending/delivered-ahead
    * bookkeeping rides back to the driver in the ack summary so an
    * in-process replay redelivers only failed records), and per-key
    * ACL (`stream_run_ctx.rs:144-153` — the consumer's user rules are
    * resolved ONCE at batch start under the delivery lock and shipped
    * with the task closure; a denied stream key nacks exactly like the
    * driver path; revocation therefore lands at the next micro-batch
    * rather than mid-batch). */
  def attachDistributed(ds: Dataset[StreamRecord], checkpointDir: String,
      library: String, trigger: String)(fn: StreamRecord => Unit): StreamingQuery = {
    val key = s"$library.$trigger"
    ds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[StreamRecord], _: Long) =>
        val c = consumers.getOrElse(key,
          throw new NoSuchElementException(s"no such stream trigger '$key'"))
        val prefix = c.spec.prefix
        val retry = c.spec.onError == ErrorPolicy.Retry
        val window = c.spec.window
        // the owning user's rules, captured at batch start: a deleted
        // library or revoked user denies every stream this batch
        val user = engine.libraryUser(library)
        val rules: Option[Seq[graft.core.AclRule]] =
          user.flatMap(engine.aclRulesFor)
        val userName = user.getOrElse(s"<unloaded library '$library'>")
        // in-flight snapshot for executor-side replay dedup — read under
        // the delivery lock so a concurrent driver-path batch cannot
        // produce a torn (ms, seq) pair that would skip live records
        val inflight: Map[String, InflightSnapshot] = deliveryLock.synchronized {
          c.perStream.iterator
            .filter { case (_, st) =>
              st.lastReadMs >= 0 || st.pendingFailed.nonEmpty || st.deliveredAhead.nonEmpty
            }
            .map { case (s, st) =>
              s -> InflightSnapshot(st.lastReadMs, st.lastReadSeq,
                st.pendingFailed.toSeq.map { case (m, q) => StreamId(m, q) },
                st.deliveredAhead.toSeq.map { case (m, q) => StreamId(m, q) })
            }
            .toMap
        }
        implicit val ackEnc: org.apache.spark.sql.Encoder[StreamAck] =
          org.apache.spark.sql.Encoders.product[StreamAck]
        import org.apache.spark.sql.functions.col
        val summaries = batch
          .filter((r: StreamRecord) => r.stream.startsWith(prefix))
          .repartition(col("stream"))
          .sortWithinPartitions("stream", "idMs", "idSeq")
          .mapPartitions { (it: Iterator[StreamRecord]) =>
            // records arrive grouped by stream and ascending by id: walk
            // the iterator once, one ack per stream run — memory per task
            // is O(window + in-flight), not O(records)
            new Iterator[StreamAck] {
              private var pending: StreamRecord = if (it.hasNext) it.next() else null
              def hasNext: Boolean = pending != null
              def next(): StreamAck = {
                val stream = pending.stream
                val now = System.currentTimeMillis()
                val snap = inflight.getOrElse(stream, InflightSnapshot.Empty)
                var (ms, seq) = (snap.ms, snap.seq)
                val pend = scala.collection.mutable.TreeSet.empty[(Long, Long)] ++
                  snap.pendingFailed.map(id => (id.ms, id.seq))
                val ahead = scala.collection.mutable.TreeSet.empty[(Long, Long)] ++
                  snap.deliveredAhead.map(id => (id.ms, id.seq))
                var processed = 0L
                var errors = 0L
                var lastError: String = null
                var lastLagMs = 0L
                var r = pending
                pending = null
                var more = true
                while (more) {
                  val id = (r.idMs, r.idSeq)
                  // mirror of the driver path's E3 loop: retries always
                  // proceed; NEW records only while the window is open
                  val isRetry = pend.contains(id)
                  val windowOpen = pend.size < window &&
                    ahead.size < StreamTriggerEngine.MaxDeliveredAhead
                  val isNew = (r.idMs > ms || (r.idMs == ms && r.idSeq > seq)) &&
                    !ahead.contains(id)
                  if ((isRetry || windowOpen) && isNew) {
                    try {
                      // per-key ACL exactly like the driver path: a
                      // denied stream key is a Nack (E13)
                      graft.core.Acl.check(userName, rules, stream, write = false)
                      fn(r)
                      processed += 1
                      lastLagMs = math.max(0, now - r.idMs)
                      pend.remove(id)
                      if (pend.isEmpty) {
                        val top = if (ahead.isEmpty) id else Seq(ahead.last, id).max
                        ms = top._1; seq = top._2
                        ahead.clear()
                      } else ahead.add(id)
                    } catch {
                      case e: Throwable =>
                        errors += 1
                        lastError = e.toString
                        if (retry) pend.add(id)
                        else { ms = r.idMs; seq = r.idSeq }
                    }
                  }
                  if (it.hasNext) {
                    r = it.next()
                    if (r.stream != stream) { pending = r; more = false }
                  } else more = false
                }
                StreamAck(stream, ms, seq, processed, errors,
                  Option(lastError), lastLagMs, halted = pend.nonEmpty,
                  pend.toSeq.map { case (m, q) => StreamId(m, q) },
                  ahead.toSeq.map { case (m, q) => StreamId(m, q) })
              }
            }
          }
          .collect() // tiny: one row per stream in the batch
        // merge acks into driver-side checkpoint state (serialized with
        // any other attached query's delivery)
        deliveryLock.synchronized {
          var dirty = false
          val failures = ArrayBuffer.empty[String]
          summaries.foreach { a =>
            val st = c.perStream.getOrElseUpdate(a.stream, new ConsumerStreamState)
            if (a.ackedMs > st.lastReadMs ||
                (a.ackedMs == st.lastReadMs && a.ackedSeq > st.lastReadSeq)) {
              st.lastReadMs = a.ackedMs
              st.lastReadSeq = a.ackedSeq
              dirty = true
            }
            // this consumer's in-flight state is owned by this batch
            st.pendingFailed.clear()
            st.pendingFailed ++= a.pendingFailed.map(id => (id.ms, id.seq))
            st.deliveredAhead.clear()
            st.deliveredAhead ++= a.deliveredAhead.map(id => (id.ms, id.seq))
            st.totalProcessed += a.processed
            st.totalErrors += a.errors
            a.lastError.foreach(e => st.lastError = Some(e))
            if (a.processed > 0) st.lastLagMs = a.lastLagMs
            if (a.halted) failures += s"$key/${a.stream}@${a.ackedMs}-${a.ackedSeq}: ${a.lastError.getOrElse("?")}"
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
        c.perStream.map { case (s, st) =>
          s -> StreamConsumerStats(st.lastReadId, st.totalProcessed,
            st.totalErrors, st.lastError, st.lastLagMs,
            st.pendingFailed.toSeq.map { case (ms, seq) => s"$ms-$seq" })
        }.toMap)
    }.getOrElse(StreamTriggerStats(library, trigger, "", 1, trimmed = false, Map.empty))
  }
}

object StreamTriggerEngine {
  /** Memory bound on per-stream delivered-but-unackable records held
    * behind a nacked record (see ConsumerStreamState). */
  val MaxDeliveredAhead = 4096

  import org.apache.hadoop.fs.{FileSystem, Path}

  /** The compaction redo log — underscore-prefixed so Spark's file
    * listing ignores it inside the log directory. */
  private[streaming] def compactCommitPath(root: Path): Path =
    new Path(root, "_compact-commit")

  private[streaming] def compactStagePath(root: Path): Path =
    new Path(root.toString + ".compact-tmp")

  /** Replay (or discard) an in-flight compaction transaction. Publish
    * renames and deletions are idempotent, so this can run after a
    * crash at ANY point: before the redo log existed nothing happened
    * (stale staging is discarded); after, the recorded renames/deletes
    * are driven to completion. */
  private[streaming] def recoverCompact(fs: FileSystem, root: Path): Unit = {
    val commitPath = compactCommitPath(root)
    val stage = compactStagePath(root)
    if (!fs.exists(root) || !fs.exists(commitPath)) {
      fs.delete(stage, true) // uncommitted staging from a crashed run
      return
    }
    new String(HadoopFiles.readAll(fs, commitPath), java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).foreach { line =>
        line.split('\t') match {
          case Array("P", src, dst) =>
            val (s, d) = (new Path(src), new Path(dst))
            if (fs.exists(d)) fs.delete(s, false) // already published
            else if (fs.exists(s)) {
              if (!fs.rename(s, d))
                throw new java.io.IOException(s"compact recovery: cannot publish $s -> $d")
            } else throw new java.io.IOException(
              s"compact recovery: staged file $s lost before publish")
          case Array("D", f) =>
            fs.delete(new Path(f), false)
          case other =>
            throw new java.io.IOException(s"corrupt compact commit line: $line")
        }
      }
    fs.delete(commitPath, false)
    fs.delete(stage, true)
  }
}
