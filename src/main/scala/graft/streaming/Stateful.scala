package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed streaming state via `mapGroupsWithState` /
  * `flatMapGroupsWithState` — the Spark primitive SURVEY §2.4 maps the
  * reference's per-(consumer, stream) `ConsumerInfo` state onto
  * (`stream_reader.rs:113-122`): state lives in the query's state
  * store, checkpointed with the stream, partitioned by key across
  * executors. State growth is the user's contract — pass a timeout for
  * unbounded key spaces (SURVEY §7.5.6). */
object Stateful {

  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Per-user funnel progress: first-view / first-qualifying-click /
    * completing-purchase microsecond timestamps, −1 = not reached.
    * Every field is SET-ONCE and never moves, so `max` per column over
    * any emission history reconstructs the final state — the property
    * the q133 gate aggregation relies on. */
  case class FunnelProgress(user_id: Long, v_us: Long, c_us: Long, p_us: Long)

  /** q131's ordered funnel as streaming state — the incremental shape
    * that answers "did this user convert?" DURING ingest instead of in
    * a nightly batch. Per user the state is three timestamps, bounded
    * forever.
    *
    * Ordering contract: exact batch parity requires each user's events
    * to arrive in event-time order ACROSS batches (the Kafka
    * keyed-partition delivery guarantee; the q133 harness range-splits
    * its replay by ts to honor it). Within a batch arrival order is
    * free — the fold sorts the user's slice by (ts, stage) first,
    * views before clicks before purchases on ties, matching the batch
    * operator's >= comparisons. Under that contract the state machine
    * is exact: v is the first view; v is set before any click with
    * ts >= v arrives after it; c before any qualifying purchase. */
  def funnelStages(events: Dataset[(Long, String, Long)],
      capUs: Long = 86400000000L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[FunnelProgress] = {
    implicit val stE: Encoder[(Long, Long, Long)] =
      Encoders.product[(Long, Long, Long)]
    implicit val outE: Encoder[FunnelProgress] = Encoders.product[FunnelProgress]
    implicit val inE: Encoder[(Long, String, Long)] =
      Encoders.product[(Long, String, Long)]
    val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), FunnelProgress](timeout) {
        (user: Long, it: Iterator[(Long, String, Long)],
            state: GroupState[(Long, Long, Long)]) =>
          var (v, c, p) = state.getOption.getOrElse((-1L, -1L, -1L))
          val batch = it.toArray.sortBy { case (_, tpe, us) =>
            (us, stageRank.getOrElse(tpe, 3))
          }
          batch.foreach { case (_, tpe, us) =>
            tpe match {
              case "view" if v < 0 => v = us
              case "click" if v >= 0 && c < 0 && us >= v => c = us
              case "purchase" if c >= 0 && p < 0 && us >= c &&
                us <= v + capUs => p = us
              case _ => ()
            }
          }
          state.update((v, c, p))
          FunnelProgress(user, v, c, p)
      }
  }

  case class SessionProgress(user_id: Long, n_sessions: Long,
    max_session_events: Long, n_events: Long)

  /** Streaming sessionization — q74's gaps-and-islands walk as
    * per-user state: (last event time, current-session size, closed
    * stats), advanced micro-batch by micro-batch. Five scalars per
    * user FOREVER — the state contract that lets an ingest tier serve
    * "how engaged is this user right now" while the nightly batch
    * recomputes identical numbers. Every emitted field is monotone
    * (session count, running max, total), so max() per user over the
    * update-mode emission history reconstructs the final answer — the
    * q133/q158 reconstruction trick, third member of the parity
    * family. Same cross-batch event-time-order arrival contract as
    * [[funnelStages]]; within-batch order restored by the (us,
    * event_id) sort. */
  def sessionProgress(events: Dataset[(Long, Long, Long)],
      gapUs: Long = 600000000L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[SessionProgress] = {
    implicit val stE: Encoder[(Long, Long, Long, Long, Long)] =
      Encoders.product[(Long, Long, Long, Long, Long)]
    implicit val outE: Encoder[SessionProgress] = Encoders.product[SessionProgress]
    implicit val inE: Encoder[(Long, Long, Long)] =
      Encoders.product[(Long, Long, Long)]
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long, Long, Long), SessionProgress](timeout) {
        (user: Long, it: Iterator[(Long, Long, Long)],
            state: GroupState[(Long, Long, Long, Long, Long)]) =>
          var (last, curN, sessions, maxN, total) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L, 0L))
          it.toArray.sortBy(e => (e._2, e._3)).foreach { case (_, us, _) =>
            if (last == Long.MinValue || us - last >= gapUs) {
              sessions += 1
              maxN = math.max(maxN, curN)
              curN = 1L
            } else curN += 1
            total += 1
            last = us
          }
          state.update((last, curN, sessions, maxN, total))
          SessionProgress(user, sessions, math.max(maxN, curN), total)
      }
  }

  case class CusumProgress(event_type: String, n_days: Long, sum7: Long,
    max_s: Long, first_alarm_day: String, s_at_alarm: Long)

  case class CusumState(openDay: Long, openCnt: Long, closed: Long,
    sum7: Long, s: Long, maxS: Long, alarmDay: Long, sAtAlarm: Long)

  case class EwmaProgress(event_type: String, n_seen: Long, n_hours: Long,
    final_ewma_micro: Long, n_spikes: Long, first_spike_hour: Long)

  case class EwmaState(openHour: Long, openCnt: Long, closed: Long,
    e: Long, nSpikes: Long, firstSpike: Long, nSeen: Long)

  /** Streaming integer-EWMA spike monitor — q298's batch fold
    * ([[graft.operators.Stats.ewmaSpikes]]) as per-type state: the
    * LITERAL e ← (c·10⁶ + e) div 2 recursion advanced hour by hour
    * (an hour closes when a later hour arrives for the key — the
    * [[pageCusumProgress]] open/close device), spike when
    * 2·c·10⁶ > 3·e_prev. State is seven scalars per key forever.
    * Each emitted snapshot projects the still-open hour as if it
    * closed now, so the final snapshot equals the batch answer over
    * the full series. n_seen strictly increases per key per batch
    * (a key is only invoked when its batch slice is non-empty), so
    * max_by(struct(...), n_seen) over the update-mode emission
    * history reconstructs the final state — the q133/q158/q167/q186
    * trick, keyed on the event counter because the EWMA itself is
    * NOT monotone. Same cross-batch event-time-order arrival
    * contract as [[funnelStages]]. */
  def ewmaProgress(events: Dataset[(String, Long)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[EwmaProgress] = {
    implicit val stE: Encoder[EwmaState] = Encoders.product[EwmaState]
    implicit val outE: Encoder[EwmaProgress] = Encoders.product[EwmaProgress]
    implicit val inE: Encoder[(String, Long)] = Encoders.product[(String, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    val usPerHour = 3600000000L
    events.groupByKey(_._1)
      .mapGroupsWithState[EwmaState, EwmaProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long)], state: GroupState[EwmaState]) =>
          var EwmaState(openHour, openCnt, closed, e, nSpikes, firstSpike,
            nSeen) = state.getOption.getOrElse(
              EwmaState(Long.MinValue, 0L, 0L, 0L, 0L, -1L, 0L))
          def close(h: Long, c: Long): Unit = {
            val v = c * 1000000L
            if (closed == 0L) e = v
            else {
              if (2L * v > 3L * e) {
                nSpikes += 1; if (firstSpike < 0) firstSpike = h
              }
              e = (v + e) / 2L
            }
            closed += 1
          }
          val hrs = it.toArray.map(x => Math.floorDiv(x._2, usPerHour))
          nSeen += hrs.length
          hrs.sorted.foreach { h =>
            if (openHour == Long.MinValue) { openHour = h; openCnt = 1 }
            else if (h == openHour) openCnt += 1
            else { close(openHour, openCnt); openHour = h; openCnt = 1 }
          }
          state.update(EwmaState(openHour, openCnt, closed, e, nSpikes,
            firstSpike, nSeen))
          // project the open hour as if it closed now
          var (pe, pSpikes, pFirst, pClosed) = (e, nSpikes, firstSpike, closed)
          if (openHour != Long.MinValue) {
            val v = openCnt * 1000000L
            if (pClosed == 0L) pe = v
            else {
              if (2L * v > 3L * e) {
                pSpikes += 1; if (pFirst < 0) pFirst = openHour
              }
              pe = (v + e) / 2L
            }
            pClosed += 1
          }
          EwmaProgress(tpe, nSeen, pClosed, pe, pSpikes, pFirst)
      }
  }

  case class HoltProgress(event_type: String, n_seen: Long, n_hours: Long,
    level_micro: Long, trend_micro: Long, forecast_micro: Long,
    n_over_forecast: Long, first_over_hour: Long)

  case class HoltState(openHour: Long, openCnt: Long, closed: Long,
    l: Long, b: Long, nOver: Long, firstOver: Long, nSeen: Long)

  /** Streaming integer Holt linear-trend monitor — q327b's batch fold
    * ([[graft.operators.Stats.holtMonitor]]) as per-type state: the
    * LITERAL two-term recursion l ← (c·10⁶ + l + b) div 2,
    * b ← (l′ − l + b) div 2 advanced hour by hour (open/close device
    * as [[ewmaProgress]]; division truncates toward zero on both
    * engines — b's numerator can be negative). An hour is "over" when
    * 10·c·10⁶ > 11·(l + b) — a 10% band over the PRE-update one-step
    * forecast (an exact `>` would alarm on locked-on ramp jitter).
    * State is
    * eight scalars per key forever; each snapshot projects the open
    * hour as if closed now, and the n_seen counter (strictly
    * increasing per key) drives the max_by reconstruction — the l/b
    * pair itself is not monotone. Same time-ordered cross-batch
    * arrival contract as [[funnelStages]]. */
  def holtProgress(events: Dataset[(String, Long)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[HoltProgress] = {
    implicit val stE: Encoder[HoltState] = Encoders.product[HoltState]
    implicit val outE: Encoder[HoltProgress] = Encoders.product[HoltProgress]
    implicit val inE: Encoder[(String, Long)] = Encoders.product[(String, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    val usPerHour = 3600000000L
    events.groupByKey(_._1)
      .mapGroupsWithState[HoltState, HoltProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long)], state: GroupState[HoltState]) =>
          var HoltState(openHour, openCnt, closed, l, b, nOver, firstOver,
            nSeen) = state.getOption.getOrElse(
              HoltState(Long.MinValue, 0L, 0L, 0L, 0L, 0L, -1L, 0L))
          def close(h: Long, c: Long): Unit = {
            val v = c * 1000000L
            if (closed == 0L) { l = v; b = 0L }
            else {
              if (10L * v > 11L * (l + b)) {
                nOver += 1; if (firstOver < 0) firstOver = h
              }
              val lNew = (v + l + b) / 2L
              b = (lNew - l + b) / 2L
              l = lNew
            }
            closed += 1
          }
          val hrs = it.toArray.map(x => Math.floorDiv(x._2, usPerHour))
          nSeen += hrs.length
          hrs.sorted.foreach { h =>
            if (openHour == Long.MinValue) { openHour = h; openCnt = 1 }
            else if (h == openHour) openCnt += 1
            else { close(openHour, openCnt); openHour = h; openCnt = 1 }
          }
          state.update(HoltState(openHour, openCnt, closed, l, b, nOver,
            firstOver, nSeen))
          // project the open hour as if it closed now
          var (pl, pb, pOver, pFirst, pClosed) = (l, b, nOver, firstOver, closed)
          if (openHour != Long.MinValue) {
            val v = openCnt * 1000000L
            if (pClosed == 0L) { pl = v; pb = 0L }
            else {
              if (10L * v > 11L * (l + b)) {
                pOver += 1; if (pFirst < 0) pFirst = openHour
              }
              val lNew = (v + l + b) / 2L
              pb = (lNew - l + b) / 2L
              pl = lNew
            }
            pClosed += 1
          }
          HoltProgress(tpe, nSeen, pClosed, pl, pb, pl + pb, pOver, pFirst)
      }
  }

  case class MgProgress(event_type: String, n_seen: Long,
    keys: Array[Long], counts: Array[Long])

  case class MgState(keys: Array[Long], counts: Array[Long], nSeen: Long)

  /** Streaming sequential Misra–Gries heavy-hitter state — the
    * FIFTEENTH parity's stream side and a NEW state shape among the
    * parities (every prior fold carries scalars or fixed-width
    * arrays; this carries a bounded key→count map with EVICTION —
    * the decrement-all step removes keys, so state can shrink):
    * per event type, the literal [[graft.functions.MisraGriesFold]]
    * update over user ids in (us, event_id) order, ≤ m counters
    * forever. State is canonicalized sorted-by-key so the encoded
    * arrays are deterministic; the fold itself never depends on map
    * order (decrement-all and insert-below-capacity are order-free).
    * Same time-ordered cross-batch arrival contract as
    * [[funnelStages]]; n_seen drives the max_by reconstruction. */
  def mgProgress(events: Dataset[(String, Long, Long, Long)], m: Int = 8,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[MgProgress] = {
    implicit val stE: Encoder[MgState] = Encoders.product[MgState]
    implicit val outE: Encoder[MgProgress] = Encoders.product[MgProgress]
    implicit val inE: Encoder[(String, Long, Long, Long)] =
      Encoders.product[(String, Long, Long, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    events.groupByKey(_._1)
      .mapGroupsWithState[MgState, MgProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long, Long, Long)],
            state: GroupState[MgState]) =>
          val st = state.getOption.getOrElse(
            MgState(Array.empty, Array.empty, 0L))
          val buf = scala.collection.mutable.LinkedHashMap[Long, Long]()
          st.keys.zip(st.counts).foreach { case (k, c) => buf(k) = c }
          val arr = it.toArray.sortBy(x => (x._2, x._3))
          arr.foreach { x =>
            graft.functions.MisraGriesFold.update(buf, x._4, m)
          }
          val nSeen = st.nSeen + arr.length
          val ks = buf.keys.toArray.sorted
          state.update(MgState(ks, ks.map(buf), nSeen))
          MgProgress(tpe, nSeen, ks, ks.map(buf))
      }
  }

  /** Streaming Page CUSUM — q185's online level-shift detector as
    * per-type state: (open day, open count, closed-day count, burn-in
    * sum, S, max S, alarm day, S-at-alarm) advanced micro-batch by
    * micro-batch. The streaming side runs the LITERAL
    * S ← max(0, S + dev) recursion day by day (a day closes when a
    * later day arrives for the key), where the batch plan (q185) uses
    * the windowed drawdown identity — the gate's parity proves the two
    * formulations reach the same answer bit for bit. Each emitted
    * snapshot projects the still-open day as if it closed now, so the
    * final snapshot equals the batch answer over the full series.
    * (n_days, max_s) is lexicographically monotone across snapshots —
    * an alarm transition always raises max_s — so max(struct(...))
    * per key over the update-mode emission history reconstructs the
    * final state (the q133/q158/q167 reconstruction trick). Same
    * cross-batch event-time-order arrival contract as
    * [[funnelStages]]. */
  def pageCusumProgress(events: Dataset[(String, Long)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[CusumProgress] = {
    implicit val stE: Encoder[CusumState] = Encoders.product[CusumState]
    implicit val outE: Encoder[CusumProgress] = Encoders.product[CusumProgress]
    implicit val inE: Encoder[(String, Long)] = Encoders.product[(String, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    val usPerDay = 86400000000L
    events.groupByKey(_._1)
      .mapGroupsWithState[CusumState, CusumProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long)], state: GroupState[CusumState]) =>
          var CusumState(openDay, openCnt, closed, sum7, s, maxS, alarmDay,
            sAtAlarm) = state.getOption.getOrElse(
              CusumState(Long.MinValue, 0L, 0L, 0L, 0L, 0L, -1L, -1L))
          def close(day: Long, c: Long): Unit = {
            closed += 1
            if (closed <= 7) sum7 += c
            else {
              s = math.max(0L, s + 7 * c - sum7)
              maxS = math.max(maxS, s)
              if (alarmDay < 0 && s > 3 * sum7) { alarmDay = day; sAtAlarm = s }
            }
          }
          it.toArray.map(e => Math.floorDiv(e._2, usPerDay)).sorted
            .foreach { day =>
              if (openDay == Long.MinValue) { openDay = day; openCnt = 1 }
              else if (day == openDay) openCnt += 1
              else { close(openDay, openCnt); openDay = day; openCnt = 1 }
            }
          state.update(CusumState(openDay, openCnt, closed, sum7, s, maxS,
            alarmDay, sAtAlarm))
          // project the open day as if it closed now
          var (pSum7, pS, pMaxS, pAlarm, pSAt) = (sum7, s, maxS, alarmDay, sAtAlarm)
          if (openDay != Long.MinValue) {
            if (closed < 7) pSum7 += openCnt
            else {
              pS = math.max(0L, s + 7 * openCnt - sum7)
              pMaxS = math.max(maxS, pS)
              if (pAlarm < 0 && pS > 3 * sum7) { pAlarm = openDay; pSAt = pS }
            }
          }
          val nDays = closed + (if (openDay == Long.MinValue) 0L else 1L)
          CusumProgress(tpe, nDays, pSum7, pMaxS,
            if (pAlarm < 0) "none"
            else java.time.LocalDate.ofEpochDay(pAlarm).toString,
            pSAt)
      }
  }

  case class ThrottleProgress(user_id: Long, event_type: String,
    n_total: Long, n_dropped: Long)

  /** Streaming throttle-dedup — the incremental form of the q156 batch
    * rule (an event is a near-duplicate when the same (user, type)
    * fired within `windowUs` of its immediate RAW predecessor). State
    * per (user, type) is THREE scalars forever: the last raw timestamp
    * plus running (total, dropped) counters — the memory contract that
    * lets an ingest tier tag retry storms online while the nightly
    * batch recomputes the same counts from scratch.
    *
    * Same arrival contract as [[funnelStages]]: keyed slices arrive in
    * event-time order ACROSS batches (the q158 harness range-splits
    * its replay by ts); within a batch the fold sorts by (us,
    * event_id), matching the batch operator's window order. Counters
    * are monotone, so max() per key over the update-mode emission
    * history reconstructs the final state. */
  case class HllProgress(event_type: String, n_seen: Long, regs: Array[Byte])

  /** q214 core: per-type streaming distinct-user HLL — the SKETCH-state
    * shape: state is one 2^p-byte register array per key forever, each
    * batch folds its pre-hashed values in with register max. Because
    * registers are a pure ORDER-INVARIANT function of the value set
    * ([[graft.functions.HllSketch]]), the streaming fixpoint equals the
    * batch build BIT FOR BIT — the strongest parity available for an
    * approximate operator (estimates don't just agree, the state does).
    * The exact alternative (q45-style dedup state) keys state by VALUE
    * — unbounded; this is the bounded-forever trade every production
    * distinct-counter makes. */
  def hllDistinctProgress(events: Dataset[(String, Long)], p: Int = 12,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[HllProgress] = {
    implicit val stE: Encoder[(Long, Array[Byte])] =
      Encoders.product[(Long, Array[Byte])]
    implicit val outE: Encoder[HllProgress] = Encoders.product[HllProgress]
    implicit val inE: Encoder[(String, Long)] =
      Encoders.product[(String, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    val sk = new graft.functions.HllSketch(p)
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Array[Byte]), HllProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long)],
            state: GroupState[(Long, Array[Byte])]) =>
          var (n, regs) = state.getOption.getOrElse((0L, sk.zero))
          it.foreach { case (_, h) => regs = sk.reduce(regs, h); n += 1 }
          state.update((n, regs))
          HllProgress(tpe, n, regs)
      }
  }

  case class CmsProgress(event_type: String, n_seen: Long,
      counts: Array[Long])

  /** q242 core: per-type streaming Count-Min frequency state — the
    * SECOND sketch-state parity beside q214's HLL registers, covering
    * the other sketch algebra: HLL state folds by register MAX, CMS
    * state folds by counter ADDITION, and both are order-invariant
    * functions of the value multiset/set, so the streaming fixpoint
    * equals the batch [[graft.functions.CountMin]] build BIT FOR BIT
    * (asserted by EngagementSpec). State is one depth×width matrix
    * per key forever — the bounded-forever trade that replaces a
    * vocabulary-sized exact frequency table at scale. Counters are
    * monotone, so max(n_seen) over the update-mode emission history
    * identifies the final state (the q133/q158/q214 pattern). */
  def cmsProgress(events: Dataset[(String, String)], depth: Int = 4,
      width: Int = 1024,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[CmsProgress] = {
    implicit val stE: Encoder[(Long, Array[Long])] =
      Encoders.product[(Long, Array[Long])]
    implicit val outE: Encoder[CmsProgress] = Encoders.product[CmsProgress]
    implicit val inE: Encoder[(String, String)] =
      Encoders.product[(String, String)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Array[Long]), CmsProgress](timeout) {
        (tpe: String, it: Iterator[(String, String)],
            state: GroupState[(Long, Array[Long])]) =>
          var (n, counts) = state.getOption
            .getOrElse((0L, new Array[Long](depth * width)))
          it.foreach { case (_, item) =>
            var i = 0
            while (i < depth) {
              counts(i * width +
                graft.functions.CountMin.bucket(item, i, width)) += 1
              i += 1
            }
            n += 1
          }
          state.update((n, counts))
          CmsProgress(tpe, n, counts)
      }
  }

  case class BloomProgress(event_type: String, n_seen: Long,
      bits: Array[Byte])

  /** q265 core: per-type streaming Bloom membership state — the
    * FOURTH and last sketch algebra beside q214 (register MAX), q242
    * (counter ADD) and q245 (set MIN): Bloom state folds by bitwise
    * OR, an idempotent commutative fold, so the streamed filter
    * equals the batch `bloom_filter_agg` build BIT FOR BIT
    * (EngagementSpec compares the serialized filters byte for byte).
    * The state uses Spark's own `org.apache.spark.util.sketch
    * .BloomFilter` with the same sizing rule as
    * `BloomFilterAggregate(child, est)` — numBits = 8·est — and the
    * same insertion (putLong of the pre-hashed value), which is what
    * makes the byte-level parity possible rather than merely a
    * same-decisions statement. State is one fixed bit array per key
    * forever; n_seen is monotone (the q133/q214 final-state rule). */
  def bloomProgress(events: Dataset[(String, Long)], expected: Long = 4096L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[BloomProgress] = {
    implicit val stE: Encoder[(Long, Array[Byte])] =
      Encoders.product[(Long, Array[Byte])]
    implicit val outE: Encoder[BloomProgress] = Encoders.product[BloomProgress]
    implicit val inE: Encoder[(String, Long)] = Encoders.product[(String, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    def serialize(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Array[Byte]), BloomProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long)],
            state: GroupState[(Long, Array[Byte])]) =>
          var (n, bytes) = state.getOption.getOrElse((0L, Array.empty[Byte]))
          val bf =
            if (bytes.isEmpty)
              org.apache.spark.util.sketch.BloomFilter
                .create(expected, expected * 8L)
            else org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(bytes))
          it.foreach { case (_, h) => bf.putLong(h); n += 1 }
          val out = serialize(bf)
          state.update((n, out))
          BloomProgress(tpe, n, out)
      }
  }

  case class KmvProgress(event_type: String, n_seen: Long,
      hashes: Seq[String])

  /** q245 core: per-type streaming KMV (bottom-k) distinct state —
    * the THIRD sketch-state parity beside q214's HLL registers and
    * q242's CMS matrix, covering the third sketch algebra: HLL folds
    * by register MAX, CMS by counter ADDITION, KMV by SET-MINIMUM
    * (keep the k smallest distinct hashes — a semilattice fold, so
    * idempotent AND order-invariant). The streamed state therefore
    * equals the batch [[graft.functions.KmvSketch]] udaf build BIT
    * FOR BIT (asserted by EngagementSpec), and — uniquely among the
    * three — its ESTIMATOR is deterministic and SQL-expressible
    * (q87's argument), so the gate row itself is oracle-checkable.
    * State is ≤ k fixed-width hex strings per key forever. n_seen is
    * monotone, so max(n_seen) over the update-mode emission history
    * identifies the final state (the q133/q158/q214 pattern). */
  def kmvProgress(events: Dataset[(String, String)], k: Int = 16,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[KmvProgress] = {
    implicit val stE: Encoder[(Long, graft.functions.KmvState)] =
      Encoders.product[(Long, graft.functions.KmvState)]
    implicit val outE: Encoder[KmvProgress] = Encoders.product[KmvProgress]
    implicit val inE: Encoder[(String, String)] =
      Encoders.product[(String, String)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    val agg = new graft.functions.KmvSketch(k)
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, graft.functions.KmvState), KmvProgress](timeout) {
        (tpe: String, it: Iterator[(String, String)],
            state: GroupState[(Long, graft.functions.KmvState)]) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          var (n, st) = state.getOption.getOrElse((0L, agg.zero))
          it.foreach { case (_, value) =>
            md.reset()
            val hex = md.digest(value.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            st = agg.reduce(st, hex)
            n += 1
          }
          state.update((n, st))
          KmvProgress(tpe, n, st.hashes)
      }
  }

  case class AttributionProgress(user_id: Long, click_n: Long,
      click_cents: Long, view_n: Long, view_cents: Long,
      un_n: Long, un_cents: Long)

  /** q200 core: last-touch attribution as per-USER streaming state —
    * one packed `µs·8+code` long remembers the latest view/click ever
    * seen, and six monotone counters accumulate attributed purchases
    * (click/view/unattributed × count/cents). Events fold in (µs,
    * event_id) order within a batch (the q158 discipline; the replay
    * harness range-splits batches on (ts, event_id), so same-µs ties
    * straddling a batch boundary arrive in event_id order and the
    * per-batch sort composes to the global (us, event_id) order the
    * batch window's strict preceding-row semantics use), so a purchase
    * sees exactly the strictly-preceding touches the batch window sees
    * — the state
    * is ONE long per user forever, the streaming-joins alternative
    * would buffer a 24 h event window per key. Counters are monotone,
    * so max() over the update-mode emission history reconstructs the
    * final state (the q133/q158/q167/q186 pattern). */
  def attributionProgress(events: Dataset[(Long, String, Long, Long, Long)],
      windowUs: Long = 86400000000L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[AttributionProgress] = {
    implicit val stE: Encoder[(Long, Long, Long, Long, Long, Long, Long)] =
      Encoders.product[(Long, Long, Long, Long, Long, Long, Long)]
    implicit val outE: Encoder[AttributionProgress] =
      Encoders.product[AttributionProgress]
    implicit val inE: Encoder[(Long, String, Long, Long, Long)] =
      Encoders.product[(Long, String, Long, Long, Long)]
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long, Long, Long, Long, Long), AttributionProgress](timeout) {
        (user: Long, it: Iterator[(Long, String, Long, Long, Long)],
            state: GroupState[(Long, Long, Long, Long, Long, Long, Long)]) =>
          var (last, cn, cc, vn, vc, un, uc) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L))
          it.toArray.sortBy(e => (e._3, e._4)).foreach {
            case (_, tpe, us, _, cents) =>
              tpe match {
                case "purchase" =>
                  if (last == Long.MinValue || us - last / 8 > windowUs) {
                    un += 1; uc += cents
                  } else if (last % 8 == 2) { cn += 1; cc += cents }
                  else { vn += 1; vc += cents }
                case "click" => val p = us * 8 + 2; if (p > last) last = p
                case "view"  => val p = us * 8 + 1; if (p > last) last = p
                case _       => ()
              }
          }
          state.update((last, cn, cc, vn, vc, un, uc))
          AttributionProgress(user, cn, cc, vn, vc, un, uc)
      }
  }

  def throttleCounts(events: Dataset[(Long, String, Long, Long)],
      windowUs: Long = 60000000L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[ThrottleProgress] = {
    implicit val stE: Encoder[(Long, Long, Long)] =
      Encoders.product[(Long, Long, Long)]
    implicit val outE: Encoder[ThrottleProgress] = Encoders.product[ThrottleProgress]
    implicit val inE: Encoder[(Long, String, Long, Long)] =
      Encoders.product[(Long, String, Long, Long)]
    implicit val keyE: Encoder[(Long, String)] = Encoders.product[(Long, String)]
    events.groupByKey(e => (e._1, e._2))
      .mapGroupsWithState[(Long, Long, Long), ThrottleProgress](timeout) {
        (key: (Long, String), it: Iterator[(Long, String, Long, Long)],
            state: GroupState[(Long, Long, Long)]) =>
          var (prev, total, dropped) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
          it.toArray.sortBy(e => (e._3, e._4)).foreach { case (_, _, us, _) =>
            total += 1
            if (prev != Long.MinValue && us - prev < windowUs) dropped += 1
            prev = us
          }
          state.update((prev, total, dropped))
          ThrottleProgress(key._1, key._2, total, dropped)
      }
  }

  case class PercentileProgress(event_type: String, n_seen: Long,
      weekly: Seq[(Long, Long, Long, Long)]) // (week, n, p50_cents, p90_cents)

  /** q281 core: per-type streaming EXACT percentile monitor — the
    * streaming twin of the batch q268 SLO timeline. State is the exact
    * (week, cents) → count rollup packed as sorted (week·10⁹+cents,
    * count) pairs: counter ADDITION, the same order-invariant algebra
    * as the CMS parity (q242) but over the true value domain instead
    * of hashed cells — so after ANY replay prefix the derived weekly
    * P50/P90 table (integer rank rules 2·cum ≥ n / 10·cum ≥ 9·n, the
    * q248/q268 discipline) is a pure function of the event MULTISET
    * and the final table equals the batch computation bit for bit.
    *
    * Scale trade, documented: exact percentiles need the full value
    * rollup — state grows with the per-(type, week) distinct-value
    * count (bounded here by the 10⁵ cents domain; a true continuous
    * domain swaps in the q49 mergeable-sketch path and this stays the
    * correctness anchor). */
  case class PctState(entries: Seq[(Long, Long)])

  def percentileProgress(events: Dataset[(String, Long, Long)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[PercentileProgress] = {
    implicit val stE: Encoder[PctState] = Encoders.product[PctState]
    implicit val outE: Encoder[PercentileProgress] =
      Encoders.product[PercentileProgress]
    implicit val inE: Encoder[(String, Long, Long)] =
      Encoders.product[(String, Long, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    val Pack = 1000000000L
    events.groupByKey(_._1)
      .mapGroupsWithState[PctState, PercentileProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long, Long)],
            state: GroupState[PctState]) =>
          val acc = scala.collection.mutable.HashMap.empty[Long, Long]
          state.getOption.foreach(_.entries.foreach { case (k, c) => acc(k) = c })
          it.foreach { case (_, week, cents) =>
            require(cents >= 0 && cents < Pack, s"cents $cents outside pack domain")
            val k = week * Pack + cents
            acc(k) = acc.getOrElse(k, 0L) + 1L
          }
          val sorted = acc.toSeq.sortBy(_._1)
          state.update(PctState(sorted))
          val weekly = sorted.groupBy(_._1 / Pack).toSeq.sortBy(_._1).map {
            case (w, entries) =>
              val total = entries.map(_._2).sum
              var cum = 0L
              var p50 = -1L
              var p90 = -1L
              entries.foreach { case (k, c) => // already v-ascending within w
                cum += c
                if (p50 < 0 && cum * 2 >= total) p50 = k % Pack
                if (p90 < 0 && cum * 10 >= total * 9) p90 = k % Pack
              }
              (w, total, p50, p90)
          }
          PercentileProgress(tpe, weekly.map(_._2).sum, weekly)
      }
  }

  case class KsProgress(pair: String, n_seen: Long, n1: Long, n2: Long,
    d_num: Long)

  /** State for the streaming KS drift monitor: the exact per-pair
    * value-domain rollup (v → (arm count, control count)) packed as
    * sorted triples — counter addition, order-invariant, so after ANY
    * replay prefix the derived statistic is a pure function of the
    * event multiset seen so far. */
  case class KsState(entries: Seq[(Long, Long, Long)])

  /** Streaming two-sample KS — q359's drift question asked
    * CONTINUOUSLY: per (arm vs control) pair, fold the value-domain
    * counts in state and emit the exact integer KS numerator
    * `d_num = max|cum1·n2 − cum2·n1|` after every micro-batch — the
    * live "has this arm's metric distribution drifted off control"
    * monitor. The SIXTH bit-exact stream/batch parity statement
    * (funnel, throttle, sessions, change detection, attribution, and
    * now distribution equality): the final snapshot equals batch
    * q359 bit for bit, and the gate's DuckDB oracle IS q359's SQL.
    *
    * State is value-domain-bounded — the same saturation argument as
    * the batch family (the 17.8k-cents domain at sf0.1 is already
    * near-saturated), so state stops growing long before the stream
    * does. Input: (pair, in_arm ∈ {0,1}, cents). */
  def ksDriftProgress(events: Dataset[(String, Long, Long)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[KsProgress] = {
    implicit val stE: Encoder[KsState] = Encoders.product[KsState]
    implicit val outE: Encoder[KsProgress] = Encoders.product[KsProgress]
    implicit val inE: Encoder[(String, Long, Long)] =
      Encoders.product[(String, Long, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    events.groupByKey(_._1)
      .mapGroupsWithState[KsState, KsProgress](timeout) {
        (pair: String, it: Iterator[(String, Long, Long)],
            state: GroupState[KsState]) =>
          val acc = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
          state.getOption.foreach(_.entries.foreach { case (v, c1, c2) =>
            acc(v) = (c1, c2)
          })
          var seen = state.getOption.map(_.entries.map(e => e._2 + e._3).sum)
            .getOrElse(0L)
          it.foreach { case (_, inArm, v) =>
            val (c1, c2) = acc.getOrElse(v, (0L, 0L))
            acc(v) = if (inArm == 1L) (c1 + 1, c2) else (c1, c2 + 1)
            seen += 1
          }
          val sorted = acc.toSeq.map { case (v, (c1, c2)) => (v, c1, c2) }
            .sortBy(_._1)
          state.update(KsState(sorted))
          val n1 = sorted.iterator.map(_._2).sum
          val n2 = sorted.iterator.map(_._3).sum
          var cum1 = 0L; var cum2 = 0L; var d = 0L
          sorted.foreach { case (_, c1, c2) =>
            cum1 += c1; cum2 += c2
            val gap = math.abs(cum1 * n2 - cum2 * n1)
            if (gap > d) d = gap
          }
          KsProgress(pair, seen, n1, n2, d)
      }
  }

  case class LocfProgress(event_type: String, n_seen: Long, n_days: Long,
    n_obs: Long, n_filled: Long, locf_checksum: Long)

  case class LocfState(minDay: Long, openDay: Long, openCnt: Long,
    nObsClosed: Long, checksumClosed: Long, nSeen: Long)

  /** Streaming carry-forward gap-fill — q180's LOCF shape over the
    * per-type daily event-count level series, advanced day by day:
    * a day CLOSES when a later day arrives for the key (the
    * [[pageCusumProgress]] open/close device), adding its own
    * idx·count term plus the closed-form arithmetic-series term for
    * the gap days it back-fills at the just-closed level
    * (Σ_{g=a..b}(g−m) = ((a−m)+(b−m))·(b−a+1)/2 — no per-gap-day
    * loop, so a sparse series costs nothing extra). State is six
    * scalars per key forever. Snapshots project the open day as
    * closed; n_seen strictly increases per invoked batch
    * (max_by-reconstructible). Integer end to end — the checksum is
    * the same Σ idx·level the q180 oracle folds. Input:
    * (event_type, ts_us). */
  def locfProgress(events: Dataset[(String, Long)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[LocfProgress] = {
    implicit val stE: Encoder[LocfState] = Encoders.product[LocfState]
    implicit val outE: Encoder[LocfProgress] = Encoders.product[LocfProgress]
    implicit val inE: Encoder[(String, Long)] = Encoders.product[(String, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    val usPerDay = 86400000000L
    // sum of (g - m) for g in [a, b]; 0 when the range is empty
    def idxRangeSum(a: Long, b: Long, m: Long): Long =
      if (b < a) 0L else ((a - m) + (b - m)) * (b - a + 1) / 2
    events.groupByKey(_._1)
      .mapGroupsWithState[LocfState, LocfProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long)], state: GroupState[LocfState]) =>
          var LocfState(minDay, openDay, openCnt, nObs, checksum, nSeen) =
            state.getOption.getOrElse(
              LocfState(Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L))
          val days = it.toArray.map(x => Math.floorDiv(x._2, usPerDay))
          nSeen += days.length
          days.sorted.foreach { d =>
            if (openDay == Long.MinValue) { minDay = d; openDay = d; openCnt = 1 }
            else if (d == openDay) openCnt += 1
            else {
              // close the open day, back-fill the gap at its level
              checksum += (openDay - minDay) * openCnt +
                openCnt * idxRangeSum(openDay + 1, d - 1, minDay)
              nObs += 1
              openDay = d; openCnt = 1
            }
          }
          state.update(LocfState(minDay, openDay, openCnt, nObs, checksum,
            nSeen))
          // project the open day as if it closed now (no trailing gap)
          val pObs = if (openDay == Long.MinValue) 0L else nObs + 1
          val pSum = if (openDay == Long.MinValue) 0L
            else checksum + (openDay - minDay) * openCnt
          val nDays = if (openDay == Long.MinValue) 0L
            else openDay - minDay + 1
          LocfProgress(tpe, nSeen, nDays, pObs, nDays - pObs, pSum)
      }
  }

  case class CoverageProgress(user_id: Long, n_events: Long,
    n_islands: Long, covered_sec: Long)

  /** Streaming interval-coverage — q144's gaps-and-islands union as
    * per-user state: each event claims [sec, sec+lenSec); overlapping
    * or touching claims merge. Under the time-ordered per-key arrival
    * contract ([[graft.streaming.EventTime.timeOrderedSplitDir]] —
    * starts non-decreasing, so interval ENDS are non-decreasing too)
    * only the NEWEST island can ever grow, so the state is four
    * scalars per key forever: the open island's bounds plus closed
    * island count and closed covered-seconds — the unbounded
    * merged-interval set a naive port would carry is provably
    * unnecessary. Each snapshot projects the open island as closed;
    * n_events strictly increases per key per invoked batch, so
    * max_by(struct, n_events) over the update-mode emissions
    * reconstructs the final state (the q133/q158/q167/q186/q298
    * trick). Input: (user_id, ts_us, event_id). */
  def coverageProgress(events: Dataset[(Long, Long, Long)],
      lenSec: Long = 300L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[CoverageProgress] = {
    implicit val stE: Encoder[(Long, Long, Long, Long, Long)] =
      Encoders.product[(Long, Long, Long, Long, Long)]
    implicit val outE: Encoder[CoverageProgress] =
      Encoders.product[CoverageProgress]
    implicit val inE: Encoder[(Long, Long, Long)] =
      Encoders.product[(Long, Long, Long)]
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long, Long, Long), CoverageProgress](timeout) {
        (user: Long, it: Iterator[(Long, Long, Long)],
            state: GroupState[(Long, Long, Long, Long, Long)]) =>
          var (curLo, curHi, closedIsl, closedCov, nSeen) =
            state.getOption.getOrElse(
              (Long.MinValue, Long.MinValue, 0L, 0L, 0L))
          it.toArray.sortBy(e => (e._2, e._3)).foreach { case (_, us, _) =>
            val sec = Math.floorDiv(us, 1000000L)
            if (curLo == Long.MinValue) { curLo = sec; curHi = sec + lenSec }
            else if (sec > curHi) {
              closedIsl += 1; closedCov += curHi - curLo
              curLo = sec; curHi = sec + lenSec
            } else if (sec + lenSec > curHi) curHi = sec + lenSec
            nSeen += 1
          }
          state.update((curLo, curHi, closedIsl, closedCov, nSeen))
          val openIsl = if (curLo == Long.MinValue) 0L else 1L
          val openCov = if (curLo == Long.MinValue) 0L else curHi - curLo
          CoverageProgress(user, nSeen, closedIsl + openIsl,
            closedCov + openCov)
      }
  }

  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** q372: per-user event-type TRANSITIONS as streaming state — the
    * Markov-chain edge counter every behavioral pipeline runs (what do
    * users do AFTER a view?), and the cleanest possible statement of
    * per-key carried order: state is ONE (ts, event_id, type) triple
    * per user (the last event seen), each arriving event emits exactly
    * one (prev → cur) edge and replaces the state. Emission-once makes
    * the update-mode memory-sink history the full edge multiset — the
    * q369 replay device with `flatMapGroupsWithState` instead of a
    * growing rollup.
    *
    * Order is total and engine-independent: the time-ordered split
    * replays (ts, event_id) ranges ascending and each in-batch group
    * sorts by the same key, so the fold visits every user's events in
    * exactly the oracle's `ORDER BY ts, event_id` window order.
    * Input: (user_id, tsMicros, event_id, event_type). State: one
    * triple per user — O(users), the smallest state in the family. */
  def transitionProgress(events: Dataset[(Long, Long, Long, String)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[Transition] = {
    implicit val stE: Encoder[(Long, Long, String)] =
      Encoders.product[(Long, Long, String)]
    implicit val outE: Encoder[Transition] = Encoders.product[Transition]
    implicit val inE: Encoder[(Long, Long, Long, String)] =
      Encoders.product[(Long, Long, Long, String)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), Transition](
        OutputMode.Update, timeout) {
        (user: Long, it: Iterator[(Long, Long, Long, String)],
            state: GroupState[(Long, Long, String)]) =>
          var last = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          it.toArray.sortBy(e => (e._2, e._3)).foreach { case (_, us, eid, t) =>
            if (last != null) out += Transition(user, last._3, t)
            last = (us, eid, t)
          }
          if (last != null) state.update(last)
          out.iterator
      }
  }

  case class MomentsProgress(event_type: String, n: Long, sum_cents: Long,
      sumsq_cents: Long)

  /** q373: exact running MOMENTS per event type — the drift-free
    * streaming accumulator (n, Σv, Σv²) in integer cents, the q312
    * sufficient-statistics discipline as cross-batch state: every
    * emission is exact BIGINTs, the variance is ONE rounded division
    * at read time, and the final snapshot equals the batch sums bit
    * for bit regardless of batch boundaries (integer addition is
    * associative — THE argument float accumulators cannot make).
    * Input: (event_type, cents). State: three longs per type. */
  def momentsProgress(events: Dataset[(String, Long)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[MomentsProgress] = {
    implicit val stE: Encoder[(Long, Long, Long)] =
      Encoders.product[(Long, Long, Long)]
    implicit val outE: Encoder[MomentsProgress] = Encoders.product[MomentsProgress]
    implicit val inE: Encoder[(String, Long)] = Encoders.product[(String, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), MomentsProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long)],
            state: GroupState[(Long, Long, Long)]) =>
          var (n, sm, sq) = state.getOption.getOrElse((0L, 0L, 0L))
          it.foreach { case (_, v) =>
            n += 1; sm += v
            sq = Math.addExact(sq, Math.multiplyExact(v, v))
          }
          state.update((n, sm, sq))
          MomentsProgress(tpe, n, sm, sq)
      }
  }

  case class DistinctExactProgress(event_type: String, n_seen: Long,
      n_users: Long)

  /** q374: EXACT distinct users per event type as streaming state —
    * the exact counterpart of q214's HLL sketch (same question, same
    * replay, full oracle instead of a ±2% estimate): state is the
    * per-type sorted id set, bounded by the USER DOMAIN (not the
    * stream — the value-domain saturation argument; `maxUsers` makes
    * the bound a declared contract, the q212 charCap discipline).
    * Where the domain genuinely exceeds the cap, q214's HLL is the
    * scale path; this is the exact path that also AUDITS it.
    * Input: (event_type, user_id). */
  def distinctExactProgress(events: Dataset[(String, Long)],
      maxUsers: Int = 1 << 22,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[DistinctExactProgress] = {
    implicit val stE: Encoder[(Long, Seq[Long])] =
      Encoders.product[(Long, Seq[Long])]
    implicit val outE: Encoder[DistinctExactProgress] =
      Encoders.product[DistinctExactProgress]
    implicit val inE: Encoder[(String, Long)] = Encoders.product[(String, Long)]
    implicit val keyE: Encoder[String] = Encoders.STRING
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Seq[Long]), DistinctExactProgress](timeout) {
        (tpe: String, it: Iterator[(String, Long)],
            state: GroupState[(Long, Seq[Long])]) =>
          val (seen0, ids0) = state.getOption.getOrElse((0L, Seq.empty[Long]))
          val ids = scala.collection.mutable.SortedSet.empty[Long] ++ ids0
          var seen = seen0
          it.foreach { case (_, u) => ids += u; seen += 1 }
          require(ids.size <= maxUsers,
            s"distinctExactProgress: user domain ${ids.size} exceeds declared cap $maxUsers — use the HLL path (q214)")
          state.update((seen, ids.toSeq))
          DistinctExactProgress(tpe, seen, ids.size.toLong)
      }
  }
}
