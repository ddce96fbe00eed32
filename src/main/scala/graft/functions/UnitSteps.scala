package graft.functions

/** One recursion over a per-unit count series (units are hours or
  * days; `count` is the unit's event count, at least 1): `step` folds
  * one CLOSED unit into the state. Folding a whole series in ascending
  * unit order gives the batch answer; the streaming operators reach the
  * same state through [[UnitSeries]], one micro-batch at a time. Each
  * step is pure and exact integer arithmetic, so the stream, its batch
  * twin and the recursive-CTE oracle walk the same integers. */
trait UnitStep[S] extends Serializable {
  def zero: S
  def step(s: S, unit: Long, count: Long): S

  /** The batch fold over a (unit, count) series in ascending unit order. */
  def fold(series: Iterable[(Long, Long)]): S =
    series.foldLeft(zero) { case (s, (u, c)) => step(s, u, c) }
}

/** The open/close device that turns a [[UnitStep]] into streaming
  * state: the newest unit stays OPEN (its count may still grow in the
  * next micro-batch) and closes — one `step` — when a later unit
  * arrives for the key. [[project]] applies the same step to a copy of
  * the closed state, so every snapshot reads as if the open unit closed
  * now, and the final snapshot equals the batch fold over the full
  * series however the events were cut into batches. Exactness needs
  * each key's units to arrive in non-decreasing order ACROSS batches
  * (the time-ordered replay); within a batch, `advance` sorts. */
case class UnitSeries[S](openUnit: Long, openCnt: Long, closed: S, nSeen: Long) {
  def advance(units: Array[Long], rec: UnitStep[S]): UnitSeries[S] = {
    var (open, cnt, st) = (openUnit, openCnt, closed)
    units.sorted.foreach { u =>
      if (open == Long.MinValue) { open = u; cnt = 1 }
      else if (u == open) cnt += 1
      else { st = rec.step(st, open, cnt); open = u; cnt = 1 }
    }
    UnitSeries(open, cnt, st, nSeen + units.length)
  }

  def project(rec: UnitStep[S]): S =
    if (openUnit == Long.MinValue) closed else rec.step(closed, openUnit, openCnt)
}

object UnitSeries {
  def empty[S](rec: UnitStep[S]): UnitSeries[S] =
    UnitSeries(Long.MinValue, 0L, rec.zero, 0L)
}

/** Integer-EWMA spike state over hourly counts: `n` hours folded,
  * level `e` in micro-units, spikes and the first spike hour (−1 = none). */
case class Ewma(n: Long, e: Long, nSpikes: Long, firstSpike: Long)

/** The q298 recursion, α = ½: e₁ = c₁·10⁶, e_t = (c_t·10⁶ + e_{t−1})
  * div 2; hour t spikes when 2·c_t·10⁶ > 3·e_{t−1}. Shared by the
  * streaming monitor and its batch twin `Stats.ewmaSpikes`. */
object EwmaStep extends UnitStep[Ewma] {
  val zero: Ewma = Ewma(0L, 0L, 0L, -1L)
  def step(s: Ewma, h: Long, c: Long): Ewma = {
    val v = c * 1000000L
    if (s.n == 0L) Ewma(1L, v, 0L, -1L)
    else if (2L * v > 3L * s.e)
      Ewma(s.n + 1, (v + s.e) / 2L, s.nSpikes + 1,
        if (s.firstSpike < 0) h else s.firstSpike)
    else s.copy(n = s.n + 1, e = (v + s.e) / 2L)
  }
}

/** Integer Holt state over hourly counts: `n` hours folded, level `l`
  * and trend `b` in micro-units, over-forecast hours and the first one. */
case class Holt(n: Long, l: Long, b: Long, nOver: Long, firstOver: Long)

/** The q327 two-term recursion, α = β = ½: l₁ = c₁·10⁶, b₁ = 0; hour t
  * is over when 10·c_t·10⁶ > 11·(l + b) (a 10% band over the
  * pre-update forecast), then l_t = (c_t·10⁶ + l + b) div 2 and
  * b_t = (l_t − l + b) div 2, truncating toward zero. Shared by the
  * streaming monitor and its batch twin `Stats.holtMonitor`. */
object HoltStep extends UnitStep[Holt] {
  val zero: Holt = Holt(0L, 0L, 0L, 0L, -1L)
  def step(s: Holt, h: Long, c: Long): Holt = {
    val v = c * 1000000L
    if (s.n == 0L) Holt(1L, v, 0L, 0L, -1L)
    else {
      val over = 10L * v > 11L * (s.l + s.b)
      val lNew = (v + s.l + s.b) / 2L
      Holt(s.n + 1, lNew, (lNew - s.l + s.b) / 2L,
        s.nOver + (if (over) 1L else 0L),
        if (over && s.firstOver < 0) h else s.firstOver)
    }
  }
}

/** Page CUSUM state over daily counts: days folded, the 7-day burn-in
  * sum, S, max S, the alarm day (−1 = none) and S at the alarm. */
case class Cusum(n: Long, sum7: Long, s: Long, maxS: Long, alarmDay: Long,
  sAtAlarm: Long)

/** q185's literal S ← max(0, S + 7·c − sum7) recursion: the first 7
  * days build the burn-in sum, every later day advances S; the first
  * day with S > 3·sum7 alarms. */
object CusumStep extends UnitStep[Cusum] {
  val zero: Cusum = Cusum(0L, 0L, 0L, 0L, -1L, -1L)
  def step(st: Cusum, day: Long, c: Long): Cusum =
    if (st.n < 7) st.copy(n = st.n + 1, sum7 = st.sum7 + c)
    else {
      val s = math.max(0L, st.s + 7 * c - st.sum7)
      val alarm = st.alarmDay < 0 && s > 3 * st.sum7
      Cusum(st.n + 1, st.sum7, s, math.max(st.maxS, s),
        if (alarm) day else st.alarmDay, if (alarm) s else st.sAtAlarm)
    }
}

/** Carry-forward state over daily counts: the first day, the last
  * observed day and its level, observed days, and the checksum
  * Σ (day − first)·level over every day from first to last, gap days
  * carrying the previous level. */
case class Locf(minDay: Long, lastDay: Long, lastCnt: Long, nObs: Long,
  checksum: Long)

/** q180's LOCF over the daily level series: each observed day adds its
  * own (day − first)·count term plus the gap days since the previous
  * observation at that observation's level, in closed form
  * (Σ_{g=a..b}(g−m) = ((a−m)+(b−m))·(b−a+1)/2), so a sparse series
  * costs nothing per gap day. */
object LocfStep extends UnitStep[Locf] {
  val zero: Locf = Locf(Long.MinValue, Long.MinValue, 0L, 0L, 0L)
  def step(s: Locf, day: Long, c: Long): Locf =
    if (s.nObs == 0L) Locf(day, day, c, 1L, 0L)
    else {
      val (a, b, m) = (s.lastDay + 1, day - 1, s.minDay)
      val gap = if (b < a) 0L else ((a - m) + (b - m)) * (b - a + 1) / 2
      Locf(m, day, c, s.nObs + 1, s.checksum + s.lastCnt * gap + (day - m) * c)
    }
}
