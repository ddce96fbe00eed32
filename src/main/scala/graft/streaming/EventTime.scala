package graft.streaming

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Event-time streaming operators (SURVEY §2.4 "watermarks / late data"
  * and "tumbling/session windows"): real Structured Streaming queries —
  * `readStream` + `withWatermark` + `window()`/`session_window` — over
  * the events table, upgrading the reference's record-at-a-time stream
  * processing (which only *measures* lag against the record id's ms,
  * `redisgears_core/src/stream_reader.rs:125-136`) to true event-time
  * semantics.
  *
  * Both queries run in APPEND mode, so the watermark is load-bearing:
  * a window is emitted only once the watermark (max event time seen
  * minus the delay) passes its end — late/open windows are withheld
  * exactly as they would be on an unbounded stream. The DuckDB oracles
  * apply the same finalization cutoff (`window end <= max(ts) - delay`),
  * making the semantics deterministic and hash-checkable rather than
  * decorative.
  *
  * Scale: the streaming aggregation shuffles once on the group keys
  * into the state store, identical to the batch plan's exchange; state
  * size is bounded by (open windows × group cardinality) because the
  * watermark evicts finalized windows — this is the 100 TB-safe shape
  * (no unbounded state, no driver collection).
  *
  * Every query here runs its stream through [[replayToTable]], a bounded
  * replay (D-Streams: a stream is a series of deterministic batch
  * jobs). It is the only code that starts a memory sink, creates a
  * `graft-et*` checkpoint dir or counts data batches, and the only
  * owner of their cleanup: the sink's temp view is dropped and the
  * checkpoint deleted whether the run succeeds, fails its batch-count
  * check, or throws.
  */
object EventTime {

  /** Delay used by both queries: watermark = max(ts) - 30 minutes. */
  val Delay = "30 minutes"

  // one source dir per (session, path): repeated invocations (q38, q39,
  // q45, q51, every bench/test run) reuse the same symlink dir instead
  // of leaking a fresh temp dir each call; a shutdown hook removes them
  private val srcDirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  // time-ordered multi-file copies of the events table (the stateful
  // replays' source), one per (session, path, parts)
  private val splitDirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), String]
  sys.addShutdownHook {
    (srcDirs.values ++ splitDirs.values).foreach(dir => deleteTree(new java.io.File(dir)))
  }

  /** Best-effort recursive delete of a temp dir. A symbolic link is
    * removed, never followed, so the source dirs' link to the real
    * events file leaves the file in place. */
  private[streaming] def deleteTree(f: java.io.File): Unit = {
    if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$d/events.parquet"
    // file streams need an explicit schema; ts is normalized exactly
    // like Tables.events (type-adaptive: nanos LONG or timestamp[us])
    val schema = s.read.parquet(path).schema
    // the file stream source lists a DIRECTORY; events.parquet is a
    // single file, so stream a temp dir holding a symlink to it (a
    // production deployment points at the directory files land in)
    val dir = srcDirs.getOrElseUpdate((s, path), {
      val tmp = Files.createTempDirectory("graft-events-src")
      Files.createSymbolicLink(tmp.resolve("events.parquet"),
        java.nio.file.Paths.get(path).toAbsolutePath)
      tmp.toString
    })
    graft.operators.Tables.normalizeTs(s.readStream.schema(schema).parquet(dir))
  }

  /** The number of (ts, event_id) ranges the replays split the events
    * table into, and so the number of data batches each replay must
    * span. */
  private val ReplayParts = 3

  /** The events table as a TIME-ORDERED multi-file stream: range-split
    * by (ts, event_id) into [[ReplayParts]] files with file mtimes forced
    * ascending in range order, so the file source replays
    * micro-batches in event-time order — the keyed-partition delivery
    * contract [[Stateful.funnelStages]]'s exactness needs, reproduced
    * at the source instead of assumed. event_id rides in the range key
    * so same-timestamp ties can only straddle a batch boundary in
    * event_id order — the per-batch (us, event_id) sort the stateful
    * consumers apply then composes to a GLOBAL (us, event_id) order
    * across batches, matching the batch windows' strict
    * preceding-row semantics exactly (the q200 tie contract). Streamed
    * with `maxFilesPerTrigger = 1`, a query over it runs ≥
    * [[ReplayParts]] micro-batches — the shape that actually exercises
    * cross-batch state (a single-file source collapses every stateful
    * operator to one batch). */
  private def eventsStreamTimeOrdered(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$d/events.parquet"
    val schema = s.read.parquet(path).schema
    val dir = timeOrderedSplitDir(s, d, ReplayParts)
    graft.operators.Tables.normalizeTs(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir))
  }

  /** The (ts, event_id) range-split directory behind
    * [[eventsStreamTimeOrdered]] — package-visible so the spec pin can
    * assert the cross-file contract on the actual files: ranges are
    * DISJOINT in (ts, event_id) lexicographic order and mtimes replay
    * them low-to-high, so same-ts ties can only straddle a batch
    * boundary in event_id order (the q200 tie contract enforced at the
    * source, not assumed of the fixture). */
  private[graft] def timeOrderedSplitDir(s: SparkSession, d: String,
      parts: Int): String = {
    val path = s"$d/events.parquet"
    splitDirs.getOrElseUpdate((s, path, parts), {
      val tmp = Files.createTempDirectory("graft-events-tsplit").toString
      s.read.parquet(path)
        .repartitionByRange(parts, col("ts"), col("event_id"))
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite").parquet(tmp)
      // parallel write order is arbitrary; stamp mtimes ascending in
      // part-file (= range) order so the file source's (mtime, path)
      // ordering replays ranges low-to-high
      val files = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1000000000000L + i * 60000L)
      }
      tmp
    })
  }

  /** Run a streaming DataFrame to completion in `mode` into a memory
    * sink and return the sink's contents as a local relation.
    * Trigger.AvailableNow processes everything available, runs the
    * final no-data batch that advances the watermark and flushes
    * finalized windows, then stops.
    *
    * `minBatches` pins that the run genuinely crossed micro-batch
    * boundaries (the cross-batch state path is what the gate must
    * exercise); `label` names the query in the failure message.
    * `finalAgg` runs on the sink table BEFORE the collect
    * (OPTIMIZATION_r12.md: don't pull row-scaled data to the driver):
    * for a runner whose emission history is row-scaled (q372 emits one
    * edge per input event), the local relation then holds the
    * group-sized result, not a second full copy of the history.
    *
    * The `finally` drops the sink's temp view — otherwise each run's
    * full emission history stays in the session catalog (and heap) for
    * the rest of the process, measured as whole-suite tail slowdown in
    * the r12 bench adjudication (BENCH_NOTES "suite-state
    * amplification") — and deletes the checkpoint dir, on success and
    * failure alike. */
  private[graft] def replayToTable(df: DataFrame, mode: String, minBatches: Int,
      label: String)(finalAgg: DataFrame => DataFrame = identity): DataFrame = {
    val s = df.sparkSession
    val name = "graft_et_" + UUID.randomUUID().toString.replace("-", "")
    val ckpt = Files.createTempDirectory("graft-et").toFile
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .start()
      try q.awaitTermination() finally q.stop()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= minBatches,
        s"$label state must span ≥ $minBatches data batches, saw $dataBatches")
      val t = finalAgg(s.table(name))
      s.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
    } finally {
      s.catalog.dropTempView(name)
      deleteTree(ckpt)
    }
  }

  /** Replay the keyed stateful operator `op` builds over the
    * time-ordered events stream, in update mode, through
    * [[replayToTable]]. */
  private def replayKeyed(s: SparkSession, d: String, label: String,
      finalAgg: DataFrame => DataFrame = identity)(op: DataFrame => Dataset[_]): DataFrame =
    replayToTable(op(eventsStreamTimeOrdered(s, d)).toDF(), "update", ReplayParts,
      label)(finalAgg)

  /** q133: the ordered funnel (q131) as STREAMING state — per-user
    * three-timestamp state advanced micro-batch by micro-batch
    * ([[Stateful.funnelStages]]), replayed over a time-ordered 3-file
    * split of the events table, final states aggregated into exactly
    * q131's report. The oracle IS q131's batch SQL: the gate proves
    * the incremental state machine reaches the batch answer bit for
    * bit — stream/batch parity, the contract that lets a pipeline
    * answer "did this user convert?" during ingest and reconcile
    * against the nightly batch.
    *
    * The FunnelProgress fields are set-once, so max() per column over
    * the update-mode emission history reconstructs each user's final
    * state without ordering metadata. */
  def qStreamingFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val snap = replayKeyed(s, d, "q133 funnel") { ev =>
      Stateful.funnelStages(ev
        .select(col("user_id").cast("long").as("u"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, String, Long)])
    }
    val fin = snap.groupBy("user_id").agg(
      max("v_us").as("v"), max("c_us").as("c"), max("p_us").as("p"))
    fin
      .agg(sum(when(col("v") >= 0, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("c") >= 0, 1L).otherwise(0L)).as("n_view_click"),
        sum(when(col("p") >= 0, 1L).otherwise(0L)).as("n_full_funnel"))
      .select(col("n_view"), col("n_view_click"), col("n_full_funnel"),
        round(col("n_view_click").cast("double") / col("n_view"), 4)
          .as("click_rate"),
        round(col("n_full_funnel").cast("double") / col("n_view"), 4)
          .as("conversion_rate"))
  }

  /** q38: tumbling one-hour windows with a 30-minute watermark —
    * count + value sum per (window, event_type), emitting only windows
    * the watermark has closed. */
  def qWatermarkTumbling(s: SparkSession, d: String): DataFrame =
    replayToTable(
      eventsStream(s, d)
        .withWatermark("ts", Delay)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count("*").as("n"), round(sum("value"), 2).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("hour_ts"),
          col("event_type"), col("n"), col("sum_value")),
      "append", 0, "q38")()

  /** q51: sliding one-hour windows advancing every 15 minutes — each
    * event lands in 4 overlapping windows; count + value sum per
    * (window, event_type), emitting only windows the watermark closed
    * (same APPEND-mode discipline as q38). State is bounded by
    * (open windows × types): duration/slide = 4× the tumbling window
    * count, still watermark-evicted. */
  def qSlidingWindow(s: SparkSession, d: String): DataFrame =
    replayToTable(
      eventsStream(s, d)
        .withWatermark("ts", Delay)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count("*").as("n"), round(sum("value"), 2).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_ts"),
          col("event_type"), col("n"), col("sum_value")),
      "append", 0, "q51")()

  /** q45: streaming stateful dedup — `dropDuplicatesWithinWatermark`
    * over (event_type, user_id) maintains a state store across
    * micro-batches, then counts the surviving first-occurrences per
    * type. Unlike plain `dropDuplicates` (whose state is evicted only
    * when the event-time column is part of the dedup key — i.e. never
    * here), the within-watermark variant expires a key's state once the
    * watermark passes its event time + delay, so state size is bounded
    * by the keys active inside one watermark horizon regardless of
    * total key cardinality — the 100 TB-safe shape (bounded-state
    * assertion in EventTimeSpec, which runs the production-sized
    * 30-minute horizon).
    *
    * The input streams as ≥ 3 micro-batches (the time-ordered 3-file
    * source, one file per trigger — asserted), so the cross-batch state
    * path IS what the gate exercises. The dedup horizon is
    * `DedupHorizon` (35 days), which covers the synthetic table's
    * 30-day event-time span (also asserted): no key's state can expire
    * mid-query REGARDLESS of how the input lands in batches, so the
    * final complete-mode emission equals the batch
    * COUNT(DISTINCT user_id) bit for bit — a batching-invariant
    * oracle. (With a horizon shorter than the span, duplicates farther
    * apart than the horizon would correctly BOTH survive — real
    * semantics, but an answer that depends on file/batch boundaries,
    * which no SQL oracle can reproduce portably.) */
  def qStreamingDedup(s: SparkSession, d: String): DataFrame = {
    // pin both oracle preconditions loudly: the horizon covers the
    // event-time span (so the COUNT(DISTINCT) oracle is exact whatever
    // the batch boundaries), and the run is genuinely multi-batch
    val spanDays = graft.operators.Tables.events(s, d)
      .agg(expr("(unix_micros(max(ts)) - unix_micros(min(ts))) / 86400e6"))
      .head().getDouble(0)
    require(spanDays < 35.0,
      f"event-time span $spanDays%.1f days exceeds the 35-day dedup horizon — " +
        "the COUNT(DISTINCT) oracle would no longer be batching-invariant")
    replayToTable(
      eventsStreamTimeOrdered(s, d)
        .withWatermark("ts", DedupHorizon)
        .select(col("event_type"), col("user_id"), col("ts"))
        .dropDuplicatesWithinWatermark("event_type", "user_id")
        .groupBy("event_type")
        .agg(count("*").as("n_distinct_users")),
      "complete", ReplayParts, "q45 dedup")()
  }

  /** q45's dedup horizon: longer than the synthetic events table's
    * event-time span, making the oracle batching-invariant (see
    * [[qStreamingDedup]]). */
  val DedupHorizon = "35 days"

  /** q61: watermarked stream-stream inner join — the attribution shape
    * (each purchase matched to the same user's clicks in the preceding
    * 30 minutes), the one Structured Streaming operator family the
    * surface didn't yet cover. Both sides carry a watermark and the
    * join condition carries the time range, which is what lets the
    * state store evict a buffered row once the other side's watermark
    * passes its eligibility window — the state bound is
    * (events inside one watermark horizon per side), independent of
    * stream length, i.e. the 100 TB-safe shape. Inner-join matches are
    * emitted as soon as both sides arrive (the watermark gates state
    * eviction, not emission), so the batch equi+range join is the exact
    * oracle with no finalization cutoff. */
  def qStreamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val clicks = eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", Delay)
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", Delay)
    replayToTable(
      clicks.join(purchases,
        col("c_user") === col("user_id") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 minutes"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_sec")),
      "append", 0, "q61")()
  }

  /** q68: LEFT OUTER stream-stream join — the state semantics q61's
    * inner join doesn't exercise: an unmatched left row (a click with
    * no same-user purchase in the next 30 minutes) is emitted
    * null-extended only once the GLOBAL watermark (min of both sides'
    * watermarks) passes its entire eligibility window, proving the
    * buffered row was evicted rather than retained forever. The oracle
    * is the batch join UNION the expired unmatched clicks under the
    * identical cutoff (least(max click ts, max purchase ts) − delay,
    * strictly past c_ts + 30 min). */
  def qStreamStreamLeftOuter(s: SparkSession, d: String): DataFrame = {
    val clicks = eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", Delay)
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", Delay)
    replayToTable(
      clicks.join(purchases,
        col("c_user") === col("user_id") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 minutes"),
        "left_outer")
        .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_sec")),
      "append", 0, "q68")()
  }

  /** q70: STREAM-STATIC join — the enrichment shape every trigger
    * pipeline runs (the reference's `onTriggerFired` does a per-record
    * key lookup; declaratively that is the stream joined to a static
    * dimension): each event enriched with the customer's market
    * segment. The static side is broadcast into every micro-batch —
    * stateless (no watermark, no state store), so at 100 TB of stream
    * the per-batch cost is one broadcast-hash-join probe per record and
    * the dimension is read fresh each batch (dimension updates are
    * picked up on the next batch — the standard slowly-changing-dim
    * behavior). Batch join is the exact oracle. */
  def qStreamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val dim = graft.operators.Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("mktsegment"))
    replayToTable(
      eventsStream(s, d)
        .select(col("event_id"), col("user_id"))
        .join(broadcast(dim), Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("mktsegment")),
      "append", 0, "q70")()
  }

  /** q39: per-user session windows with a 10-minute gap and a
    * 30-minute watermark — a session closes when no event arrives for
    * the gap duration; only sessions the watermark has finalized are
    * emitted. */
  def qSessionWindow(s: SparkSession, d: String): DataFrame =
    replayToTable(
      eventsStream(s, d)
        .withWatermark("ts", Delay)
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count("*").as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start_sec"),
          col("n_events")),
      "append", 0, "q39")()

  /** q158: the q156 throttle-dedup as STREAMING state — per-(user,
    * type) last-timestamp + running counters advanced micro-batch by
    * micro-batch ([[Stateful.throttleCounts]]), replayed over a
    * time-ordered 3-file split of the events table, final counters
    * aggregated into exactly q156's report. The oracle IS q156's batch
    * SQL — the gate proves the incremental throttle reaches the batch
    * answer bit for bit (the second stream/batch-parity statement
    * beside q133's funnel). */
  def qStreamingThrottle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q158 throttle") { ev =>
      Stateful.throttleCounts(ev
        .select(col("user_id").cast("long").as("u"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id").cast("long").as("eid"))
        .as[(Long, String, Long, Long)])
    }
      .groupBy("user_id", "event_type")
      .agg(max("n_total").as("t"), max("n_dropped").as("dr"))
      .groupBy("event_type")
      .agg(sum("t").as("n_total"), sum("dr").as("n_dropped"),
        round(sum("dr").cast("double") / sum("t"), 4).as("drop_share"))
  }

  /** q167: q74's sessionization as STREAMING state
    * ([[Stateful.sessionProgress]]): per-user session walk advanced
    * micro-batch by micro-batch over the time-ordered 3-file replay,
    * final monotone snapshots aggregated into exactly q74's per-user
    * report. The oracle IS q74's batch SQL — the THIRD bit-exact
    * stream/batch parity statement (funnel q133, throttle q158,
    * sessions here): the three stateful shapes an event pipeline
    * actually runs online. */
  def qStreamingSessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q167 session") { ev =>
      Stateful.sessionProgress(ev
        .select(col("user_id").cast("long").as("u"),
          unix_micros(col("ts")).as("us"), col("event_id").cast("long").as("eid"))
        .as[(Long, Long, Long)])
    }.groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"),
        max("max_session_events").as("max_session_events"),
        max("n_events").as("n_events"))
  }

  /** q310: q144's interval-coverage union as STREAMING state
    * ([[Stateful.coverageProgress]]): per-user gaps-and-islands
    * advanced micro-batch by micro-batch over the time-ordered 3-file
    * replay — the state is FOUR scalars per user (only the newest
    * island can grow under ordered arrival), where a naive port would
    * carry the whole merged-interval set. The oracle IS q144's batch
    * SQL — the TWELFTH bit-exact stream/batch parity statement, and
    * the first over an interval algebra: it proves the one-open-island
    * streaming fold and the batch running-max window compute the same
    * union. Final per-user snapshot reconstructed via
    * max_by(n_events) (every snapshot's n_events strictly increases
    * per invoked batch). */
  def qStreamingCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q310 island") { ev =>
      Stateful.coverageProgress(ev
        .select(col("user_id").cast("long").as("u"),
          unix_micros(col("ts")).as("us"), col("event_id").cast("long").as("eid"))
        .as[(Long, Long, Long)])
    }.groupBy("user_id")
      .agg(expr("max_by(n_islands, n_events)").as("n_islands"),
        expr("max_by(covered_sec, n_events)").as("covered_sec"))
  }

  /** q186: q185's Page CUSUM as STREAMING state
    * ([[Stateful.pageCusumProgress]]): the literal max(0, S+dev)
    * recursion advanced day by day over the time-ordered 3-file
    * replay, final snapshots aggregated into exactly q185's report.
    * The oracle IS q185's batch SQL — the FOURTH bit-exact
    * stream/batch parity statement (funnel q133, throttle q158,
    * sessions q167, change detection here), and the strongest of the
    * four: it proves the streaming recursion and the batch drawdown
    * identity are the same function, not just that the same code ran
    * twice. */
  def qStreamingCusum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q186 detector") { ev =>
      Stateful.pageCusumProgress(ev.select(col("event_type"), unix_micros(col("ts")).as("us"))
        .as[(String, Long)])
    }.filter(col("n_days") > 7)
      .groupBy("event_type")
      .agg(max(struct(col("n_days"), col("max_s"), col("sum7"),
        col("first_alarm_day"), col("s_at_alarm"))).as("m"))
      .select(col("event_type"), col("m.n_days").as("n_days"),
        col("m.sum7").as("sum7"), col("m.max_s").as("max_s"),
        col("m.first_alarm_day").as("first_alarm_day"),
        col("m.s_at_alarm").as("s_at_alarm"))
  }

  /** q298: q298's integer-EWMA spike monitor as STREAMING state
    * ([[Stateful.ewmaProgress]]): the literal e ← (c·10⁶ + e) div 2
    * recursion advanced hour by hour over the time-ordered 3-file
    * replay, final snapshots reconstructed via the n_seen counter
    * (the EWMA itself is not monotone — the counter is). The oracle
    * is a DuckDB RECURSIVE CTE walking the same integers — the
    * ELEVENTH bit-exact stream/batch parity, and the first whose
    * batch side is a genuinely sequential fold (no windowed identity
    * exists for a floored recursion), so the parity pins three
    * independent implementations: the streaming state fold, the
    * batch mapGroups fold, and the oracle's recursion. */
  def qStreamingEwma(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q298 EWMA") { ev =>
      Stateful.ewmaProgress(ev.select(col("event_type"), unix_micros(col("ts")).as("us"))
        .as[(String, Long)])
    }.groupBy("event_type")
      .agg(max_by(struct(col("n_hours"), col("final_ewma_micro"),
        col("n_spikes"), col("first_spike_hour")), col("n_seen")).as("m"))
      .select(col("event_type"), col("m.n_hours").as("n_hours"),
        col("m.final_ewma_micro").as("final_ewma_micro"),
        col("m.n_spikes").as("n_spikes"),
        col("m.first_spike_hour").as("first_spike_hour"))
  }

  /** q327: the integer Holt linear-trend monitor as STREAMING state
    * ([[Stateful.holtProgress]]): the literal two-term l/b recursion
    * advanced hour by hour over the time-ordered 3-file replay, final
    * snapshots reconstructed via the n_seen counter (the l/b pair is
    * not monotone — the counter is). The oracle is a DuckDB RECURSIVE
    * CTE walking the same integers — the FOURTEENTH bit-exact
    * stream/batch parity, and the first over a TWO-term coupled
    * recursion (every prior fold parity carries one recurring
    * scalar); the trap it pins is division semantics: b's numerator
    * goes negative, where floor (Spark SQL `div`, DuckDB FLOOR) and
    * truncation (Scala `/`, DuckDB `//`) disagree — all three
    * implementations use truncation. */
  def qStreamingHolt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q327 Holt") { ev =>
      Stateful.holtProgress(ev.select(col("event_type"), unix_micros(col("ts")).as("us"))
        .as[(String, Long)])
    }.groupBy("event_type")
      .agg(max_by(struct(col("n_hours"), col("level_micro"),
        col("trend_micro"), col("forecast_micro"),
        col("n_over_forecast"), col("first_over_hour")),
        col("n_seen")).as("m"))
      .select(col("event_type"), col("m.n_hours").as("n_hours"),
        col("m.level_micro").as("level_micro"),
        col("m.trend_micro").as("trend_micro"),
        col("m.forecast_micro").as("forecast_micro"),
        col("m.n_over_forecast").as("n_over_forecast"),
        col("m.first_over_hour").as("first_over_hour"))
  }

  /** q345: sequential Misra–Gries heavy hitters as STREAMING state
    * ([[Stateful.mgProgress]]) — the FIFTEENTH bit-exact stream/batch
    * parity and the first over state with EVICTION (a bounded
    * key→count map whose decrement-all step removes keys): the
    * stream fold over the time-ordered 3-file replay must equal the
    * batch fold over the same (us, event_id) total order, counter for
    * counter (rows-only: the sequential fold is not SQL; the spec
    * also pins the classic guarantee true − n/(m+1) ≤ est ≤ true
    * against exact counts). */
  def qStreamingMisraGries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q345 MG") { ev =>
      Stateful.mgProgress(ev
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          col("event_id").cast("long"), col("user_id").cast("long"))
        .as[(String, Long, Long, Long)])
    }.groupBy("event_type")
      .agg(max_by(struct(col("n_seen"), col("keys"), col("counts")),
        col("n_seen")).as("m"))
      .select(col("event_type"), col("m.n_seen").as("n_events"),
        explode(arrays_zip(col("m.keys"), col("m.counts"))).as("kv"))
      .select(col("event_type"), col("n_events"),
        col("kv.keys").as("user_id"), col("kv.counts").as("mg_count"))
      .orderBy("event_type", "user_id")
  }

  /** q314: q180's carry-forward gap-fill as STREAMING state
    * ([[Stateful.locfProgress]]): the per-type daily level series
    * advanced day by day with gap back-fill in closed form — the
    * THIRTEENTH bit-exact stream/batch parity, and the first whose
    * batch twin is a calendar-SPINE construction (generate_series +
    * IGNORE-NULLS window): the oracle walks the full spine while the
    * stream never materializes a gap day, and the checksums agree
    * exactly. */
  def qStreamingLocf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q314 LOCF") { ev =>
      Stateful.locfProgress(ev.select(col("event_type"), unix_micros(col("ts")).as("us"))
        .as[(String, Long)])
    }.groupBy("event_type")
      .agg(max_by(struct(col("n_days"), col("n_obs"), col("n_filled"),
        col("locf_checksum")), col("n_seen")).as("m"))
      .select(col("event_type"), col("m.n_days").as("n_days"),
        col("m.n_obs").as("n_obs"), col("m.n_filled").as("n_filled"),
        col("m.locf_checksum").as("locf_checksum"))
  }

  /** q214: streaming distinct users per type via HLL register state
    * ([[Stateful.hllDistinctProgress]]) — the sketch-state member of
    * the parity family: the per-type register array advanced
    * micro-batch by micro-batch equals the BATCH-built registers bit
    * for bit (register max is order-invariant), asserted by
    * EngagementSpec against a direct udaf build; this query reports
    * the streamed estimate beside the exact batch count. Rows-only
    * (the estimator is not SQL-expressible — q193's argument). */
  def qStreamingHll(s: SparkSession, d: String): DataFrame = {
    val fin = hllFinal(s, d)
    val exact = graft.operators.Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    val rows = fin.join(exact, Seq("event_type")).collect().toSeq.map { r =>
      val est = graft.functions.HllSketch.estimate(r.getAs[Array[Byte]]("regs"))
      val ex = r.getAs[Long]("exact_users")
      (r.getAs[String]("event_type"), r.getAs[Long]("n_events"), ex,
        math.round(est * 100) / 100.0,
        math.round(math.abs(est - ex) / ex * 1e6) / 1e4)
    }
    s.createDataFrame(rows).toDF("event_type", "n_events", "exact_users",
      "est_users", "err_pct")
  }

  /** q214's final streamed state per type — (event_type, n_events,
    * regs) — shared with its spec hook, so the spec checks the code the
    * gate runs. */
  private def hllFinal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q214 register") { ev =>
      Stateful.hllDistinctProgress(ev
        .select(col("event_type"), xxhash64(col("user_id")).as("h"))
        .as[(String, Long)])
    }
      .groupBy("event_type")
      .agg(max(col("n_seen")).as("n_events"),
        max_by(col("regs"), col("n_seen")).as("regs"))
  }

  /** Final streamed HLL registers per type (spec hook: compared bit
    * for bit to a batch udaf build over the same events). */
  private[graft] def streamedHllRegisters(s: SparkSession,
      d: String): Map[String, Array[Byte]] =
    hllFinal(s, d).collect().map(r => r.getAs[String]("event_type") ->
      r.getAs[Array[Byte]]("regs")).toMap

  /** q369: streaming two-sample KS drift monitor
    * ([[Stateful.ksDriftProgress]]) — the live "has this arm's metric
    * distribution drifted off control" read, advanced micro-batch by
    * micro-batch over the time-ordered 3-file replay. Each arm event
    * routes to its (arm vs view) pair; each control event fans out to
    * all four pairs — exactly the batch q359 tagging. The final
    * snapshot is the exact integer (n1, n2, d_num) of the FULL
    * multiset, so the gate's oracle IS q359's batch SQL (hash-green —
    * the first streaming member of the gate with a full DuckDB
    * oracle), and KsDriftSpec additionally pins the stream ≡ batch
    * parity through [[graft.operators.Stats.qKsTest]] bit for bit. */
  def qStreamingKs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val arms = Seq("click", "error", "signup", "purchase")
    // r12 OPTIMIZATION (guide §2.4): the old 4-way unionAll of filtered
    // branches scanned every micro-batch's file four times; one scan
    // with an in-row fanout emits the identical row multiset — an arm
    // event routes to its own pair, a control event explodes to all
    // four pairs, anything else to none.
    val armsLit = array(arms.map(lit): _*)
    val snap = replayKeyed(s, d, "q369 rollup") { ev =>
      Stateful.ksDriftProgress(ev
        .select(col("event_type"),
          expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
        .select(explode(when(col("event_type") === "view", armsLit)
            .when(col("event_type").isin(arms: _*), array(col("event_type")))
            .otherwise(array().cast("array<string>"))).as("pair"),
          (col("event_type") =!= "view").cast("long").as("in_arm"), col("v"))
        .select(col("pair"), col("in_arm"), col("v"))
        .as[(String, Long, Long)])
    }
    snap.groupBy("pair")
      .agg(max_by(col("n1"), col("n_seen")).as("n1"),
        max_by(col("n2"), col("n_seen")).as("n2"),
        max_by(col("d_num"), col("n_seen")).as("d_num"))
      .select(col("pair"), col("n1"), col("n2"), col("d_num"),
        round(col("d_num").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")), 6).as("ks_d"))
      .orderBy("pair")
  }

  /** q242: streaming per-type Count-Min frequency state
    * ([[Stateful.cmsProgress]]) — the SEVENTH bit-exact stream/batch
    * parity and the second SKETCH-state member beside q214: CMS is a
    * LINEAR sketch (state folds by counter addition), so the
    * per-type matrix advanced micro-batch by micro-batch equals the
    * batch [[graft.functions.CountMin]] udaf build bit for bit
    * (EngagementSpec asserts the matrices, not just estimates). The
    * report reads each type's top-3 users' frequency ceilings off the
    * STREAMED matrix beside their exact counts and checks the ε-bound
    * — the serving read a production heavy-hitter monitor does.
    * Rows-only (Murmur hashing is not SQL-expressible — q170's
    * argument). */
  def qStreamingCms(s: SparkSession, d: String): DataFrame = {
    val fin = streamedCmsState(s, d)
    val top = graft.operators.Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("exact"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")
          .orderBy(col("exact").desc, col("user_id").asc)))
      .filter(col("rk") <= 3)
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("user_id"), r.getAs[Long]("exact")))
    val rows = top.toSeq.map { case (tpe, uid, exact) =>
      val (n, counts) = fin(tpe)
      val est = graft.functions.CountMin.estimate(
        graft.functions.CMSState(counts, n), uid.toString, CmsDepth, CmsWidth)
      val bound = math.ceil(math.E / CmsWidth * n).toLong
      (tpe, uid, n, exact, est, est - exact, est - exact <= bound)
    }
    s.createDataFrame(rows).toDF("event_type", "user_id", "n_events",
      "exact", "estimate", "overestimate", "within_bound")
  }

  /** q242's Count-Min shape. */
  private val CmsDepth = 4
  private val CmsWidth = 1024

  /** Final streamed (n, CMS matrix) per type — q242's final state and
    * its spec hook in one (the spec compares it bit for bit to a batch
    * udaf build over the same events). */
  private[graft] def streamedCmsState(s: SparkSession,
      d: String): Map[String, (Long, Array[Long])] = {
    import s.implicits._
    replayKeyed(s, d, "q242 counter") { ev =>
      Stateful.cmsProgress(ev
        .select(col("event_type"), col("user_id").cast("string").as("item"))
        .as[(String, String)], CmsDepth, CmsWidth)
    }
      .groupBy("event_type")
      .agg(max(col("n_seen")).as("n_events"),
        max_by(col("counts"), col("n_seen")).as("counts"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Seq[Long]]("counts").toArray)).toMap
  }

  /** q245: streaming per-type KMV (bottom-k) distinct-user state
    * ([[Stateful.kmvProgress]]) — the EIGHTH bit-exact stream/batch
    * parity and the THIRD sketch-state member, completing the sketch
    * algebra set: HLL folds by register MAX (q214), CMS by counter
    * ADDITION (q242), KMV by SET-MINIMUM — keep the k smallest
    * distinct hashes, a semilattice fold (idempotent, commutative,
    * associative), so the state is a pure function of the user SET
    * and the streamed fixpoint equals the batch bottom-k bit for bit
    * (EngagementSpec asserts the hash vectors against an independent
    * window-rank formulation, not a second run of the same code).
    *
    * Uniquely among the three sketch parities the gate row itself is
    * HASH-CHECKABLE: KMV's estimator is a deterministic function of
    * the k-th smallest md5 (q87's argument), so the oracle recomputes
    * the same bottom-k and the same (k−1)/h_(k) estimate in SQL — the
    * k-th hash is emitted verbatim as the bit-exactness witness.
    *
    * The reference's analogue is a keyspace-trigger counter pattern
    * (`/root/reference/js_api/README.md` stream consumers keeping
    * per-key running counts); this is that monitor with O(k) state
    * per key instead of a per-user set. */
  def qStreamingKmv(s: SparkSession, d: String): DataFrame = {
    val fin = kmvFinal(s, d)
    // exact distinct over the SAME md5 domain the sketch hashes into,
    // so under-k types report sketch-exact == n_exact by construction
    val exact = graft.operators.Tables.events(s, d)
      .select(col("event_type"),
        md5(col("user_id").cast("string").cast("binary")).as("h"))
      .distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    val sk = new graft.functions.KmvSketch(KmvK)
    val rows = fin.join(exact, Seq("event_type")).collect().toSeq.map { r =>
      val hs = r.getAs[scala.collection.Seq[String]]("hashes").toVector
      val est = sk.finish(graft.functions.KmvState(hs))
      val kth: String = if (hs.length == KmvK) hs.last else null
      (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_exact"), kth, est)
    }
    s.createDataFrame(rows).toDF("event_type", "n_events", "n_exact",
      "kth_hash", "kmv_estimate")
  }

  /** q245's sketch size. */
  private val KmvK = 16

  /** q245's final streamed state per type — (event_type, n_events,
    * hashes) — shared with its spec hook. */
  private def kmvFinal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q245 bottom-k") { ev =>
      Stateful.kmvProgress(ev
        .select(col("event_type"), col("user_id").cast("string").as("item"))
        .as[(String, String)], KmvK)
    }
      .groupBy("event_type")
      .agg(max(col("n_seen")).as("n_events"),
        max_by(col("hashes"), col("n_seen")).as("hashes"))
  }

  /** Final streamed KMV bottom-k vectors per type (spec hook:
    * compared bit for bit to an independent batch window-rank
    * bottom-k over the same events). */
  private[graft] def streamedKmvState(s: SparkSession,
      d: String): Map[String, Seq[String]] =
    kmvFinal(s, d).collect().map(r => r.getAs[String]("event_type") ->
      r.getAs[scala.collection.Seq[String]]("hashes").toVector.toSeq).toMap

  /** q265: streaming per-type Bloom membership state
    * ([[Stateful.bloomProgress]]) — the NINTH bit-exact stream/batch
    * parity, closing the sketch-algebra set: register MAX (q214),
    * counter ADD (q242), set MIN (q245), and now bitwise OR. The
    * streamed filter equals the batch `bloom_filter_agg` build byte
    * for byte (EngagementSpec), because both sides are Spark's own
    * BloomFilterImpl with identical sizing (numBits = 8·est) and
    * identical insertion (putLong of xxhash64).
    *
    * The report is the serving read the reference's incremental-dedup
    * pattern does against such a filter (q69's shape, here against
    * the STREAMED state): every seen user must test present (the
    * no-false-negative side), and a deterministic absent-id probe set
    * measures the false-positive rate against its design bound.
    * Rows-only (Murmur-based bit layout is not SQL-expressible —
    * q170's argument). */
  def qStreamingBloom(s: SparkSession, d: String): DataFrame = {
    val fin = bloomFinal(s, d).collect().map(r => r.getAs[String]("event_type") ->
      (r.getAs[Long]("n_events"), r.getAs[Array[Byte]]("bits"))).toMap
    val present = graft.operators.Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_exact"),
        collect_list(xxhash64(col("user_id"))).as("hs"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_exact"),
          r.getAs[scala.collection.Seq[Long]]("hs").toArray)).toMap
    // deterministic absent-id probes: ids far above the user domain,
    // hashed exactly as the inserts were
    val probes = (1L to 1000L).map(i =>
      org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(1000000000000L + i, org.apache.spark.sql.types.LongType, 42L))
    val rows = fin.toSeq.map { case (tpe, (nEvents, bits)) =>
      val bf = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bits))
      val (nExact, hs) = present(tpe)
      val misses = hs.count(h => !bf.mightContainLong(h)).toLong
      val fp = probes.count(bf.mightContainLong).toLong
      (tpe, nEvents, nExact, bits.length.toLong, misses, fp,
        fp * 1000000L / probes.length)
    }
    s.createDataFrame(rows).toDF("event_type", "n_events", "n_exact",
      "filter_bytes", "false_negatives", "false_positives", "fpr_ppm")
  }

  /** q265's final streamed state per type — (event_type, n_events,
    * bits) — shared with its spec hook. */
  private def bloomFinal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q265 filter") { ev =>
      Stateful.bloomProgress(ev
        .select(col("event_type"), xxhash64(col("user_id")).as("h"))
        .as[(String, Long)])
    }
      .groupBy("event_type")
      .agg(max(col("n_seen")).as("n_events"),
        max_by(col("bits"), col("n_seen")).as("bits"))
  }

  /** Final streamed Bloom filters per type (spec hook: compared byte
    * for byte to a batch bloom_filter_agg build over the same
    * hashes). */
  private[graft] def streamedBloomState(s: SparkSession,
      d: String): Map[String, Array[Byte]] =
    bloomFinal(s, d).collect().map(r => r.getAs[String]("event_type") ->
      r.getAs[Array[Byte]]("bits")).toMap

  /** q281: streaming exact percentile monitor
    * ([[Stateful.percentileProgress]]) — the TENTH bit-exact
    * stream/batch parity and the first over the TRUE VALUE DOMAIN:
    * state is the exact per-(type, week) cents rollup (counter-ADD,
    * order-invariant), so the weekly P50/P90 table read off the
    * streamed state equals the batch q268 timeline CELL FOR CELL
    * (EventTimeSpec asserts table equality against
    * [[graft.operators.Stats.qPercentileTimeline]]), and the gate row
    * hashes green against q268's own oracle — the strongest parity
    * shape available (not a sketch agreeing with itself, the exact
    * answer agreeing across execution models).
    *
    * The week epoch (first event day) is read batch-side once — in a
    * deployed monitor the epoch is configuration; deriving it inside
    * keyed state would make week boundaries depend on per-key arrival
    * order, which is exactly what a parity must not do. */
  def qStreamingPercentile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val d0 = graft.operators.Tables.events(s, d)
      .agg(min(to_date(col("ts")))).head().getAs[java.sql.Date](0)
    val snap = replayKeyed(s, d, "q281 rollup") { ev =>
      Stateful.percentileProgress(ev
        .select(col("event_type"),
          expr(s"CAST(datediff(to_date(ts), date'$d0') div 7 AS BIGINT)").as("week"),
          expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
        .as[(String, Long, Long)])
    }
    snap.groupBy("event_type")
      .agg(max_by(col("weekly"), col("n_seen")).as("weekly"))
      .select(col("event_type"), explode(col("weekly")).as("w"))
      .select(col("event_type"), col("w._1").as("week"), col("w._2").as("n"),
        col("w._3").as("p50_cents"), col("w._4").as("p90_cents"))
  }

  /** q200: q199's last-touch attribution as STREAMING state
    * ([[Stateful.attributionProgress]]): one packed touch-long per
    * user plus six monotone counters, advanced micro-batch by
    * micro-batch over the time-ordered 3-file replay, final snapshots
    * aggregated into exactly q199's per-type revenue report. The
    * oracle IS q199's batch SQL — the FIFTH bit-exact stream/batch
    * parity statement (funnel q133, throttle q158, sessions q167,
    * change detection q186, attribution here): where the batch
    * operator's window max scans all preceding rows, the stream
    * carries ONE long of touch state per user forever. */
  def qStreamingAttribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fin = replayKeyed(s, d, "q200 touch") { ev =>
      Stateful.attributionProgress(ev
        .select(col("user_id").cast("long").as("u"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id").cast("long").as("eid"),
          expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
        .as[(Long, String, Long, Long, Long)])
    }
      .groupBy("user_id")
      .agg(max("click_n").as("cn"), max("click_cents").as("cc"),
        max("view_n").as("vn"), max("view_cents").as("vc"),
        max("un_n").as("un"), max("un_cents").as("uc"))
    fin.selectExpr(
        """stack(3, 'click', cn, cc, 'view', vn, vc,
                 'unattributed', un, uc)
           AS (attributed_type, n, cents)""")
      .groupBy("attributed_type")
      .agg(sum(col("n")).as("n_purchases"),
        sum(col("cents")).as("revenue_cents"))
      .filter(col("n_purchases") > 0)
  }

  /** q372: per-user event-type TRANSITION matrix as streaming state —
    * the Markov edge counts behavioral pipelines build (what follows a
    * view?), computed incrementally: one (ts, event_id, type) triple of
    * state per user; each arriving event emits its (prev → cur) edge
    * exactly once ([[Stateful.transitionProgress]]). Replayed over the
    * time-ordered 3-file split, so the per-user fold visits events in
    * exactly the oracle's `ORDER BY ts, event_id` order — the gate
    * proves the carried-state stream reproduces the batch LAG() window
    * bit for bit (the q369 device, flatMap emission-once variant). */
  def qStreamingTransitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q372 carried",
        _.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))) { ev =>
      Stateful.transitionProgress(ev
        .select(col("user_id").cast("long"), unix_micros(col("ts")),
          col("event_id").cast("long"), col("event_type"))
        .as[(Long, Long, Long, String)])
    }.orderBy("from_type", "to_type")
  }

  /** q373: exact running moments per event type — cross-batch
    * (n, Σcents, Σcents²) BIGINT state ([[Stateful.momentsProgress]]),
    * the q312 sufficient-statistics discipline in streaming form:
    * integer addition is associative, so the final snapshot equals the
    * batch sums bit for bit regardless of batch boundaries; variance is
    * ONE rounded double division at the end (numerator/denominator
    * exact DECIMAL both engines). */
  def qStreamingMoments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q373 moment") { ev =>
      Stateful.momentsProgress(ev
        .select(col("event_type"), expr("CAST(ROUND(value * 100, 0) AS BIGINT)"))
        .as[(String, Long)])
    }.groupBy("event_type")
      .agg(max(col("n")).as("n_events"),
        max_by(col("sum_cents"), col("n")).as("sum_cents"),
        max_by(col("sumsq_cents"), col("n")).as("sumsq_cents"))
      .withColumn("var_cents2", expr(
        """ROUND(CAST(CAST(n_events AS DECIMAL(38,0)) * sumsq_cents
           - CAST(sum_cents AS DECIMAL(38,0)) * sum_cents AS DOUBLE)
           / CAST(CAST(n_events AS DECIMAL(38,0)) * n_events AS DOUBLE), 6)"""))
      .orderBy("event_type")
  }

  /** q374: EXACT distinct users per event type as streaming state —
    * q214's question with a full oracle instead of a ±2% HLL estimate:
    * per-type sorted id-set state bounded by the user DOMAIN (the
    * value-domain saturation argument, cap declared); final snapshot =
    * batch COUNT(DISTINCT) exactly ([[Stateful.distinctExactProgress]]). */
  def qStreamingDistinctExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    replayKeyed(s, d, "q374 id-set") { ev =>
      Stateful.distinctExactProgress(ev
        .select(col("event_type"), col("user_id").cast("long"))
        .as[(String, Long)])
    }.groupBy("event_type")
      .agg(max(col("n_seen")).as("n_events"),
        max_by(col("n_users"), col("n_seen")).as("n_users"))
      .orderBy("event_type")
  }
}
