package graft.streaming

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{CusumStep, EwmaStep, HoltStep, LocfStep, MisraGriesFold, UnitSeries, UnitStep}

/** Custom keyed streaming state — the Spark primitive SURVEY §2.4 maps
  * the reference's per-(consumer, stream) `ConsumerInfo` state onto
  * (`stream_reader.rs:113-122`): state lives in the query's state
  * store, checkpointed with the stream, partitioned by key across
  * executors.
  *
  * Every operator here is one pure step `(key, batch, state) =>
  * (state′, output)` handed to [[keyed]], which owns the rest: the key,
  * state and output encoders (derived from the types), the
  * `groupByKey` + `mapGroupsWithState`, and loading the state (or the
  * operator's zero for a new key) and saving the step's result. A step
  * runs once per key per micro-batch in which the key has events —
  * D-Streams' deterministic batch step over state — and emits one
  * snapshot, so an update-mode sink holds each key's snapshot history.
  * Keys are never timed out: each operator's state is bounded per key,
  * and the key spaces (users, event types) are the tables' own.
  *
  * The replays feed each key's events in event-time order ACROSS
  * batches (the time-ordered split of [[EventTime]]); within a batch a
  * step sorts its slice where order matters. Every emitted snapshot is
  * reconstructible from the history — by max() per field where the
  * fields are monotone, or by max_by over a strictly increasing
  * counter — so the replay's final aggregation reads each key's last
  * state. The hourly and daily monitors fold a [[UnitStep]] through
  * [[UnitSeries]], the same step their batch twins fold. Only
  * [[transitionProgress]], which emits many rows per key per batch,
  * calls `flatMapGroupsWithState` itself. */
object Stateful {

  private implicit def encoder[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()

  /** Run `step` as keyed state over `events` grouped by `key`; a key
    * seen for the first time starts from `zero`. */
  private[streaming] def keyed[E, K: TypeTag, S: TypeTag, O: TypeTag](events: Dataset[E])(
      key: E => K)(zero: => S)(step: (K, Iterator[E], S) => (S, O)): Dataset[O] =
    events.groupByKey(key).mapGroupsWithState[S, O](GroupStateTimeout.NoTimeout) {
      (k: K, batch: Iterator[E], state: GroupState[S]) =>
        val (next, out) = step(k, batch, state.getOption.getOrElse(zero))
        state.update(next)
        out
    }

  /** A [[UnitStep]] over (event_type, ts_us) events cut into units of
    * `unitUs`; `emit` sees the series and its projected state. */
  private def unitSeries[S: TypeTag, O: TypeTag](events: Dataset[(String, Long)],
      unitUs: Long, rec: UnitStep[S])(emit: (String, UnitSeries[S], S) => O): Dataset[O] =
    keyed(events)(_._1)(UnitSeries.empty(rec)) { (tpe, batch, st) =>
      val next = st.advance(batch.map(e => Math.floorDiv(e._2, unitUs)).toArray, rec)
      (next, emit(tpe, next, next.project(rec)))
    }

  private val HourUs = 3600000000L
  private val DayUs = 86400000000L

  /** Per-user funnel progress: first-view / first-qualifying-click /
    * completing-purchase microsecond timestamps, −1 = not reached.
    * Every field is SET-ONCE and never moves, so `max` per column over
    * any emission history reconstructs the final state — the property
    * the q133 gate aggregation relies on. */
  case class FunnelProgress(user_id: Long, v_us: Long, c_us: Long, p_us: Long)

  /** q131's ordered funnel as streaming state — the incremental shape
    * that answers "did this user convert?" DURING ingest instead of in
    * a nightly batch. Per user the state is three timestamps, bounded
    * forever; a purchase completes the funnel within 24 h of the view.
    *
    * Within a batch arrival order is free — the step sorts the user's
    * slice by (ts, stage) first, views before clicks before purchases
    * on ties, matching the batch operator's >= comparisons. Under the
    * cross-batch order contract the state machine is exact: v is the
    * first view; v is set before any click with ts >= v arrives after
    * it; c before any qualifying purchase. */
  def funnelStages(events: Dataset[(Long, String, Long)]): Dataset[FunnelProgress] = {
    val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    keyed(events)(_._1)((-1L, -1L, -1L)) { (user, batch, st) =>
      var (v, c, p) = st
      batch.toArray.sortBy { case (_, tpe, us) => (us, stageRank.getOrElse(tpe, 3)) }
        .foreach { case (_, tpe, us) =>
          tpe match {
            case "view" if v < 0 => v = us
            case "click" if v >= 0 && c < 0 && us >= v => c = us
            case "purchase" if c >= 0 && p < 0 && us >= c && us <= v + DayUs => p = us
            case _ => ()
          }
        }
      ((v, c, p), FunnelProgress(user, v, c, p))
    }
  }

  case class SessionProgress(user_id: Long, n_sessions: Long,
    max_session_events: Long, n_events: Long)

  /** Streaming sessionization — q74's gaps-and-islands walk (a gap of
    * 10 minutes or more starts a session) as per-user state: (last
    * event time, current-session size, session count, closed max,
    * total). Five scalars per user FOREVER — the state contract that
    * lets an ingest tier serve "how engaged is this user right now"
    * while the nightly batch recomputes identical numbers. Every
    * emitted field is monotone, so max() per user reconstructs the
    * final answer. Within-batch order restored by the (us, event_id)
    * sort. */
  def sessionProgress(events: Dataset[(Long, Long, Long)]): Dataset[SessionProgress] =
    keyed(events)(_._1)((Long.MinValue, 0L, 0L, 0L, 0L)) { (user, batch, st) =>
      var (last, curN, sessions, maxN, total) = st
      batch.toArray.sortBy(e => (e._2, e._3)).foreach { case (_, us, _) =>
        if (last == Long.MinValue || us - last >= 600000000L) {
          sessions += 1
          maxN = math.max(maxN, curN)
          curN = 1L
        } else curN += 1
        total += 1
        last = us
      }
      ((last, curN, sessions, maxN, total),
        SessionProgress(user, sessions, math.max(maxN, curN), total))
    }

  case class EwmaProgress(event_type: String, n_seen: Long, n_hours: Long,
    final_ewma_micro: Long, n_spikes: Long, first_spike_hour: Long)

  /** Streaming integer-EWMA spike monitor — q298: [[EwmaStep]] advanced
    * hour by hour per type, the step its batch twin
    * [[graft.operators.Stats.ewmaSpikes]] folds. n_seen strictly
    * increases per key per batch, so max_by(struct(...), n_seen) over
    * the emission history reconstructs the final state (the EWMA
    * itself is NOT monotone). */
  def ewmaProgress(events: Dataset[(String, Long)]): Dataset[EwmaProgress] =
    unitSeries(events, HourUs, EwmaStep) { (tpe, series, p) =>
      EwmaProgress(tpe, series.nSeen, p.n, p.e, p.nSpikes, p.firstSpike)
    }

  case class HoltProgress(event_type: String, n_seen: Long, n_hours: Long,
    level_micro: Long, trend_micro: Long, forecast_micro: Long,
    n_over_forecast: Long, first_over_hour: Long)

  /** Streaming integer Holt linear-trend monitor — q327: [[HoltStep]]
    * advanced hour by hour per type, the step its batch twin
    * [[graft.operators.Stats.holtMonitor]] folds; n_seen drives the
    * max_by reconstruction (the l/b pair is not monotone). */
  def holtProgress(events: Dataset[(String, Long)]): Dataset[HoltProgress] =
    unitSeries(events, HourUs, HoltStep) { (tpe, series, p) =>
      HoltProgress(tpe, series.nSeen, p.n, p.l, p.b, p.l + p.b, p.nOver, p.firstOver)
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
    * update over user ids in (us, event_id) order, ≤ 8 counters
    * forever. State is canonicalized sorted-by-key so the encoded
    * arrays are deterministic; the fold itself never depends on map
    * order (decrement-all and insert-below-capacity are order-free).
    * n_seen drives the max_by reconstruction. */
  def mgProgress(events: Dataset[(String, Long, Long, Long)]): Dataset[MgProgress] =
    keyed(events)(_._1)(MgState(Array.empty, Array.empty, 0L)) { (tpe, batch, st) =>
      val buf = mutable.LinkedHashMap[Long, Long]()
      st.keys.zip(st.counts).foreach { case (k, c) => buf(k) = c }
      val arr = batch.toArray.sortBy(x => (x._2, x._3))
      arr.foreach(x => MisraGriesFold.update(buf, x._4, 8))
      val nSeen = st.nSeen + arr.length
      val ks = buf.keys.toArray.sorted
      (MgState(ks, ks.map(buf), nSeen), MgProgress(tpe, nSeen, ks, ks.map(buf)))
    }

  case class CusumProgress(event_type: String, n_days: Long, sum7: Long,
    max_s: Long, first_alarm_day: String, s_at_alarm: Long)

  /** Streaming Page CUSUM — q185's online level-shift detector as
    * per-type state: [[CusumStep]]'s LITERAL S ← max(0, S + dev)
    * recursion advanced day by day, where the batch plan (q185) uses
    * the windowed drawdown identity — the gate's parity proves the two
    * formulations reach the same answer bit for bit. (n_days, max_s)
    * is lexicographically monotone across snapshots — an alarm
    * transition always raises max_s — so max(struct(...)) per key over
    * the emission history reconstructs the final state. */
  def pageCusumProgress(events: Dataset[(String, Long)]): Dataset[CusumProgress] =
    unitSeries(events, DayUs, CusumStep) { (tpe, _, p) =>
      CusumProgress(tpe, p.n, p.sum7, p.maxS,
        if (p.alarmDay < 0) "none" else java.time.LocalDate.ofEpochDay(p.alarmDay).toString,
        p.sAtAlarm)
    }

  case class HllProgress(event_type: String, n_seen: Long, regs: Array[Byte])

  /** q214 core: per-type streaming distinct-user HLL (p = 12) — the
    * SKETCH-state shape: state is one 2^p-byte register array per key
    * forever, each batch folds its pre-hashed values in with register
    * max. Because registers are a pure ORDER-INVARIANT function of the
    * value set ([[graft.functions.HllSketch]]), the streaming fixpoint
    * equals the batch build BIT FOR BIT — the strongest parity
    * available for an approximate operator (estimates don't just
    * agree, the state does). The exact alternative (q45-style dedup
    * state) keys state by VALUE — unbounded; this is the
    * bounded-forever trade every production distinct-counter makes. */
  def hllDistinctProgress(events: Dataset[(String, Long)]): Dataset[HllProgress] = {
    val sk = new graft.functions.HllSketch(12)
    keyed(events)(_._1)((0L, sk.zero)) { (tpe, batch, st) =>
      var (n, regs) = st
      batch.foreach { case (_, h) => regs = sk.reduce(regs, h); n += 1 }
      ((n, regs), HllProgress(tpe, n, regs))
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
    * vocabulary-sized exact frequency table at scale. */
  def cmsProgress(events: Dataset[(String, String)], depth: Int,
      width: Int): Dataset[CmsProgress] =
    keyed(events)(_._1)((0L, new Array[Long](depth * width))) { (tpe, batch, st) =>
      val (n0, counts) = st
      var n = n0
      batch.foreach { case (_, item) =>
        var i = 0
        while (i < depth) {
          counts(i * width + graft.functions.CountMin.bucket(item, i, width)) += 1
          i += 1
        }
        n += 1
      }
      ((n, counts), CmsProgress(tpe, n, counts))
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
    * `BloomFilterAggregate(child, est)` — numBits = 8·est, est = 4096
    * — and the same insertion (putLong of the pre-hashed value), which
    * is what makes the byte-level parity possible rather than merely a
    * same-decisions statement. State is one fixed bit array per key
    * forever. */
  def bloomProgress(events: Dataset[(String, Long)]): Dataset[BloomProgress] = {
    import org.apache.spark.util.sketch.BloomFilter
    val expected = 4096L
    keyed(events)(_._1)((0L, Array.empty[Byte])) { (tpe, batch, st) =>
      val (n0, bytes) = st
      var n = n0
      val bf =
        if (bytes.isEmpty) BloomFilter.create(expected, expected * 8L)
        else BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
      batch.foreach { case (_, h) => bf.putLong(h); n += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val out = bos.toByteArray
      ((n, out), BloomProgress(tpe, n, out))
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
    * State is ≤ k fixed-width hex strings per key forever. */
  def kmvProgress(events: Dataset[(String, String)], k: Int): Dataset[KmvProgress] = {
    val agg = new graft.functions.KmvSketch(k)
    keyed(events)(_._1)((0L, agg.zero)) { (tpe, batch, st) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      var (n, sk) = st
      batch.foreach { case (_, value) =>
        md.reset()
        val hex = md.digest(value.getBytes("UTF-8")).map("%02x".format(_)).mkString
        sk = agg.reduce(sk, hex)
        n += 1
      }
      ((n, sk), KmvProgress(tpe, n, sk.hashes))
    }
  }

  case class AttributionProgress(user_id: Long, click_n: Long,
      click_cents: Long, view_n: Long, view_cents: Long,
      un_n: Long, un_cents: Long)

  /** q200 core: last-touch attribution (24 h window) as per-USER
    * streaming state — one packed `µs·8+code` long remembers the
    * latest view/click ever seen, and six monotone counters accumulate
    * attributed purchases (click/view/unattributed × count/cents).
    * Events fold in (µs, event_id) order within a batch; the replay
    * range-splits batches on (ts, event_id), so same-µs ties
    * straddling a batch boundary arrive in event_id order and the
    * per-batch sort composes to the global (us, event_id) order the
    * batch window's strict preceding-row semantics use — a purchase
    * sees exactly the strictly-preceding touches the batch window
    * sees. The state is ONE long per user forever; the streaming-joins
    * alternative would buffer a 24 h event window per key. */
  def attributionProgress(events: Dataset[(Long, String, Long, Long, Long)])
      : Dataset[AttributionProgress] =
    keyed(events)(_._1)((Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L)) { (user, batch, st) =>
      var (last, cn, cc, vn, vc, un, uc) = st
      batch.toArray.sortBy(e => (e._3, e._4)).foreach {
        case (_, tpe, us, _, cents) =>
          tpe match {
            case "purchase" =>
              if (last == Long.MinValue || us - last / 8 > DayUs) {
                un += 1; uc += cents
              } else if (last % 8 == 2) { cn += 1; cc += cents }
              else { vn += 1; vc += cents }
            case "click" => val p = us * 8 + 2; if (p > last) last = p
            case "view"  => val p = us * 8 + 1; if (p > last) last = p
            case _       => ()
          }
      }
      ((last, cn, cc, vn, vc, un, uc), AttributionProgress(user, cn, cc, vn, vc, un, uc))
    }

  case class ThrottleProgress(user_id: Long, event_type: String,
    n_total: Long, n_dropped: Long)

  /** Streaming throttle-dedup — the incremental form of the q156 batch
    * rule (an event is a near-duplicate when the same (user, type)
    * fired within 60 s of its immediate RAW predecessor). State per
    * (user, type) is THREE scalars forever: the last raw timestamp
    * plus running (total, dropped) counters — the memory contract that
    * lets an ingest tier tag retry storms online while the nightly
    * batch recomputes the same counts from scratch. Within a batch the
    * step sorts by (us, event_id), matching the batch operator's
    * window order. */
  def throttleCounts(events: Dataset[(Long, String, Long, Long)]): Dataset[ThrottleProgress] =
    keyed(events)(e => (e._1, e._2))((Long.MinValue, 0L, 0L)) { (key, batch, st) =>
      var (prev, total, dropped) = st
      batch.toArray.sortBy(e => (e._3, e._4)).foreach { case (_, _, us, _) =>
        total += 1
        if (prev != Long.MinValue && us - prev < 60000000L) dropped += 1
        prev = us
      }
      ((prev, total, dropped), ThrottleProgress(key._1, key._2, total, dropped))
    }

  case class PercentileProgress(event_type: String, n_seen: Long,
      weekly: Seq[(Long, Long, Long, Long)]) // (week, n, p50_cents, p90_cents)

  case class PctState(entries: Seq[(Long, Long)])

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
  def percentileProgress(events: Dataset[(String, Long, Long)]): Dataset[PercentileProgress] = {
    val Pack = 1000000000L
    keyed(events)(_._1)(PctState(Seq.empty)) { (tpe, batch, st) =>
      val acc = mutable.HashMap.empty[Long, Long]
      st.entries.foreach { case (k, c) => acc(k) = c }
      batch.foreach { case (_, week, cents) =>
        require(cents >= 0 && cents < Pack, s"cents $cents outside pack domain")
        val k = week * Pack + cents
        acc(k) = acc.getOrElse(k, 0L) + 1L
      }
      val sorted = acc.toSeq.sortBy(_._1)
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
      (PctState(sorted), PercentileProgress(tpe, weekly.map(_._2).sum, weekly))
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
    * ([[ksNumerator]]) after every micro-batch — the live "has this
    * arm's metric distribution drifted off control" monitor. The
    * SIXTH bit-exact stream/batch parity statement (funnel, throttle,
    * sessions, change detection, attribution, and now distribution
    * equality): the final snapshot equals batch q359 bit for bit, and
    * the gate's DuckDB oracle IS q359's SQL.
    *
    * State is value-domain-bounded — the same saturation argument as
    * the batch family (the 17.8k-cents domain at sf0.1 is already
    * near-saturated), so state stops growing long before the stream
    * does. Input: (pair, in_arm ∈ {0,1}, cents). */
  def ksDriftProgress(events: Dataset[(String, Long, Long)]): Dataset[KsProgress] =
    keyed(events)(_._1)(KsState(Seq.empty)) { (pair, batch, st) =>
      val acc = mutable.HashMap.empty[Long, (Long, Long)]
      st.entries.foreach { case (v, c1, c2) => acc(v) = (c1, c2) }
      var seen = st.entries.map(e => e._2 + e._3).sum
      batch.foreach { case (_, inArm, v) =>
        val (c1, c2) = acc.getOrElse(v, (0L, 0L))
        acc(v) = if (inArm == 1L) (c1 + 1, c2) else (c1, c2 + 1)
        seen += 1
      }
      val sorted = acc.toSeq.map { case (v, (c1, c2)) => (v, c1, c2) }.sortBy(_._1)
      val (n1, n2, d) = ksNumerator(sorted)
      (KsState(sorted), KsProgress(pair, seen, n1, n2, d))
    }

  /** (n1, n2, max |cum1·n2 − cum2·n1|) over value-sorted (v, arm count,
    * control count) triples — the exact integer KS numerator. The
    * products outgrow a Long once both arms pass ~3·10⁹ events; they
    * throw `ArithmeticException` there instead of wrapping, as q359's
    * ANSI SQL does. */
  private[graft] def ksNumerator(sorted: Seq[(Long, Long, Long)]): (Long, Long, Long) = {
    val n1 = sorted.iterator.map(_._2).sum
    val n2 = sorted.iterator.map(_._3).sum
    var cum1 = 0L; var cum2 = 0L; var d = 0L
    sorted.foreach { case (_, c1, c2) =>
      cum1 += c1; cum2 += c2
      val gap = math.abs(Math.subtractExact(
        Math.multiplyExact(cum1, n2), Math.multiplyExact(cum2, n1)))
      if (gap > d) d = gap
    }
    (n1, n2, d)
  }

  case class LocfProgress(event_type: String, n_seen: Long, n_days: Long,
    n_obs: Long, n_filled: Long, locf_checksum: Long)

  /** Streaming carry-forward gap-fill — q180's LOCF shape over the
    * per-type daily event-count level series: [[LocfStep]] advanced day
    * by day, back-filling gap days in closed form, so a sparse series
    * costs nothing extra. Integer end to end — the checksum is the
    * same Σ idx·level the q180 oracle folds; n_seen drives the max_by
    * reconstruction. Input: (event_type, ts_us). */
  def locfProgress(events: Dataset[(String, Long)]): Dataset[LocfProgress] =
    unitSeries(events, DayUs, LocfStep) { (tpe, series, p) =>
      val nDays = if (p.nObs == 0L) 0L else p.lastDay - p.minDay + 1
      LocfProgress(tpe, series.nSeen, nDays, p.nObs, nDays - p.nObs, p.checksum)
    }

  case class CoverageProgress(user_id: Long, n_events: Long,
    n_islands: Long, covered_sec: Long)

  /** Streaming interval-coverage — q144's gaps-and-islands union as
    * per-user state: each event claims [sec, sec+300); overlapping or
    * touching claims merge. Under the time-ordered per-key arrival
    * contract ([[graft.streaming.EventTime.timeOrderedSplitDir]] —
    * starts non-decreasing, so interval ENDS are non-decreasing too)
    * only the NEWEST island can ever grow, so the state is four
    * scalars per key forever (plus the event counter): the open
    * island's bounds plus closed island count and closed
    * covered-seconds — the unbounded merged-interval set a naive port
    * would carry is provably unnecessary. Each snapshot projects the
    * open island as closed; n_events strictly increases per key per
    * invoked batch (max_by-reconstructible). Input: (user_id, ts_us,
    * event_id). */
  def coverageProgress(events: Dataset[(Long, Long, Long)]): Dataset[CoverageProgress] = {
    val lenSec = 300L
    keyed(events)(_._1)((Long.MinValue, Long.MinValue, 0L, 0L, 0L)) { (user, batch, st) =>
      var (curLo, curHi, closedIsl, closedCov, nSeen) = st
      batch.toArray.sortBy(e => (e._2, e._3)).foreach { case (_, us, _) =>
        val sec = Math.floorDiv(us, 1000000L)
        if (curLo == Long.MinValue) { curLo = sec; curHi = sec + lenSec }
        else if (sec > curHi) {
          closedIsl += 1; closedCov += curHi - curLo
          curLo = sec; curHi = sec + lenSec
        } else if (sec + lenSec > curHi) curHi = sec + lenSec
        nSeen += 1
      }
      val openIsl = if (curLo == Long.MinValue) 0L else 1L
      val openCov = if (curLo == Long.MinValue) 0L else curHi - curLo
      ((curLo, curHi, closedIsl, closedCov, nSeen),
        CoverageProgress(user, nSeen, closedIsl + openIsl, closedCov + openCov))
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
  def transitionProgress(events: Dataset[(Long, Long, Long, String)]): Dataset[Transition] =
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), Transition](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Long, String)],
            state: GroupState[(Long, Long, String)]) =>
          var last = state.getOption.orNull
          val out = mutable.ArrayBuffer.empty[Transition]
          it.toArray.sortBy(e => (e._2, e._3)).foreach { case (_, us, eid, t) =>
            if (last != null) out += Transition(user, last._3, t)
            last = (us, eid, t)
          }
          if (last != null) state.update(last)
          out.iterator
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
  def momentsProgress(events: Dataset[(String, Long)]): Dataset[MomentsProgress] =
    keyed(events)(_._1)((0L, 0L, 0L)) { (tpe, batch, st) =>
      var (n, sm, sq) = st
      batch.foreach { case (_, v) =>
        n += 1; sm += v
        sq = Math.addExact(sq, Math.multiplyExact(v, v))
      }
      ((n, sm, sq), MomentsProgress(tpe, n, sm, sq))
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
      maxUsers: Int = 1 << 22): Dataset[DistinctExactProgress] =
    keyed(events)(_._1)((0L, Seq.empty[Long])) { (tpe, batch, st) =>
      val ids = mutable.SortedSet.empty[Long] ++ st._2
      var seen = st._1
      batch.foreach { case (_, u) => ids += u; seen += 1 }
      require(ids.size <= maxUsers,
        s"distinctExactProgress: user domain ${ids.size} exceeds declared cap $maxUsers — use the HLL path (q214)")
      ((seen, ids.toSeq), DistinctExactProgress(tpe, seen, ids.size.toLong))
    }
}
