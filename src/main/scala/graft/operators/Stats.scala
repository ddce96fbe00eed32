package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / reshaping analytics over the driver tables — the
  * round-7 continuation of the q151–q177 analytics family: rank
  * statistics, robust regression, gap-filling, dispersion and
  * dependence measures, and sequential change detection.
  *
  * The reference (RedisGears) computes any statistic by hand-looping
  * `client.call` results in user JS (e.g. the cross-shard aggregation
  * loop in `/root/reference/docs/docs/concepts/Cluster_Support.md`);
  * here each is a declarative plan whose exactness discipline follows
  * the repo rules: integer/decimal sufficient statistics (order- and
  * engine-invariant), libm only in a final scalar step, `round` only
  * on values whose error is zero (not merely small).
  */
object Stats {

  import Tables._

  private val dec = (c: Column) => c.cast("decimal(38,0)")
  private val d2 = (c: Column) => c.cast("double")

  /** q178: unpivot/melt — the inverse of q73's pivot and the one
    * relational reshaping verb the surface lacked. The wide per-(flag,
    * status) pricing rollup (exact DECIMAL sums, q18's discipline)
    * melts into (keys, metric, value) long form via Spark's native
    * `unpivot` (Expand under the hood — one pass, no shuffle beyond
    * the rollup's own exchange; the oracle is the portable UNION-ALL
    * formulation).
    *
    * Scale shape: the melt multiplies ROWS OF THE ROLLUP (a few
    * dozen), not input rows — Expand adds zero exchanges. */
  def qUnpivot(s: SparkSession, d: String): DataFrame = {
    // only RAW columns are double→decimal cast (their ≤2-decimal intent
    // makes binary-value and shortest-string rounding agree); the
    // discounted product is then pure decimal arithmetic — exact and
    // engine-identical, unlike casting a computed double product
    val wide = lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,6)")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("decimal(38,6)").as("sum_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("decimal(38,6)").as("sum_disc_price"),
        count(lit(1)).cast("decimal(38,6)").as("n_rows"))
    wide.unpivot(
        Array(col("l_returnflag"), col("l_linestatus")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc_price"),
          col("n_rows")),
        "metric", "value")
      .select(col("l_returnflag"), col("l_linestatus"), col("metric"),
        d2(col("value")).as("value"))
  }

  /** q179: Spearman rank correlation of quantity vs extended price per
    * return flag — the monotone-dependence companion to q157's Pearson:
    * invariant to any monotone transform and robust to the price tail.
    * Average ranks are computed tie-exactly as the INTEGER
    * 2·avg_rank = 2·rank + tie_count − 1 (a tie block spanning
    * positions [r, r+c−1] has average rank r + (c−1)/2), then Pearson
    * over the doubled ranks (scale-invariant) with DECIMAL(38,0)
    * sufficient sums — order-invariant, engine-identical; one IEEE
    * √/÷ scalar at the end (q169's discipline).
    *
    * Scale shape: ranking shuffles once on the group key and sorts
    * within groups — the grouped-rank window shape. A group too large
    * for one task would move to the q148 two-pass range-partitioned
    * ranking (zone counts → per-range offsets); at TPC-H flag
    * cardinalities the single window is the right plan. */
  def qSpearman(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_returnflag").as("flag"),
      col("l_quantity").as("q"), col("l_extendedprice").as("p"))
    def ranked(c: String, out: String) = {
      val w = Window.partitionBy("flag").orderBy(col(c))
      val t = Window.partitionBy("flag", c)
      (df: DataFrame) => df
        .withColumn(out, lit(2) * rank().over(w) + count(lit(1)).over(t) - 1)
    }
    val r = ranked("q", "rx")(ranked("p", "ry")(li))
    val sums = r.groupBy("flag").agg(
      count(lit(1)).as("n"),
      sum(dec(col("rx"))).as("sx"), sum(dec(col("ry"))).as("sy"),
      sum(dec(col("rx")) * dec(col("ry"))).as("sxy"),
      sum(dec(col("rx")) * dec(col("rx"))).as("sxx"),
      sum(dec(col("ry")) * dec(col("ry"))).as("syy"))
    val vx = dec(col("n")) * col("sxx") - col("sx") * col("sx")
    val vy = dec(col("n")) * col("syy") - col("sy") * col("sy")
    val cov = dec(col("n")) * col("sxy") - col("sx") * col("sy")
    sums.select(col("flag").as("l_returnflag"), col("n"),
      round(when(vx > 0 && vy > 0, d2(cov) / sqrt(d2(vx) * d2(vy))), 6)
        .as("spearman_rho"))
  }

  /** q180: calendar gap-fill with last-observation-carried-forward —
    * the time-series densification every daily-metric pipeline needs
    * before window math is valid (a missing day must read as "level
    * held", not "row absent"). Per (nation, order-priority): the day
    * spine is generated in-plan (`sequence` + explode — no driver
    * loop), observations left-join onto it, and
    * `last(value, ignoreNulls)` over the day order carries levels
    * forward. The gate row compresses the filled series into exact
    * INTEGER invariants (count of filled days + Σ day_idx·filled_cents
    * checksum) so the hash proves every filled cell without shipping
    * the dense series. Revenue is carried as exact integer CENTS
    * (decimal-parse then ×100) — no float anywhere in the pipeline.
    *
    * Scale shape: spine size = groups × days (calendar-bounded), the
    * LOCF window is partition-local after one group-key exchange. */
  def qLocfGapfill(s: SparkSession, d: String): DataFrame = {
    val n = nation(s, d).select(col("n_nationkey"), col("n_name"))
    val daily = orders(s, d)
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderpriority").as("pri"),
        to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("rev_c"))
      // referenced twice (bounds + spine join): materialize the
      // calendar-bounded rollup once instead of rescanning the
      // three-table join
      .localCheckpoint()
    val bounds = daily.groupBy("n_name", "pri")
      .agg(min("day").as("mn"), max("day").as("mx"))
    val spine = bounds
      .select(col("n_name"), col("pri"), col("mn"),
        explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
    val w = Window.partitionBy("n_name", "pri").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("n_name", "pri", "day"), "left")
      .withColumn("filled", last(col("rev_c"), ignoreNulls = true).over(w))
      .withColumn("idx", datediff(col("day"), col("mn")).cast("long"))
      .groupBy("n_name", "pri")
      .agg(count(lit(1)).as("n_days"),
        count(col("rev_c")).as("n_obs"),
        (count(lit(1)) - count(col("rev_c"))).as("n_filled"),
        sum(col("idx") * col("filled")).as("locf_checksum"))
  }

  /** q181: Theil–Sen robust slope of each event type's daily count
    * series — the median of all pairwise slopes (c_j−c_i)/(day_j−day_i):
    * a 29.3%-breakdown trend estimate where q152's OLS is wrecked by a
    * single outlier day and q176 only signs the trend. The median is
    * the LOWER median picked by row_number (no interpolation — the one
    * step where engines could diverge in float), ordered by the IEEE
    * slope (identical division both engines) with (day_i, day_j)
    * tie-break; the chosen pair's exact integer Δc/Δdays ships
    * alongside the rounded slope.
    *
    * Scale shape: the pair join is per-type day×day — calendar-bounded
    * exactly like q176 (30² here, ~10⁷ per group even for a decade),
    * never row-count-bounded. */
  def qTheilSen(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        col("a.day").as("d1"), col("b.day").as("d2"),
        (col("b.c") - col("a.c")).as("dc"),
        datediff(col("b.day"), col("a.day")).as("dd"))
      .withColumn("slope", d2(col("dc")) / d2(col("dd")))
    val np = Window.partitionBy("event_type")
    val ord = Window.partitionBy("event_type")
      .orderBy(col("slope"), col("d1"), col("d2"))
    pairs
      .withColumn("n_pairs", count(lit(1)).over(np))
      .withColumn("rn", row_number().over(ord))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_pairs"),
        col("dc").as("med_dc"), col("dd").as("med_dd"),
        round(col("slope"), 6).as("theil_sen_slope"))
  }

  /** q182: Fano factor (index of dispersion) of hourly event counts
    * per type — variance-to-mean of a count series: ≈1 Poisson, >1
    * bursty/overdispersed, <1 regular. The dispersion complement to
    * q138's gap-CV (inter-arrival view) and q157's autocorrelation
    * (memory view). Entirely integer: sample variance and mean enter
    * as the exact ratio (n·Σc² − (Σc)²)·10⁴ div ((n−1)·Σc) — no
    * float anywhere, engine-identical by construction.
    *
    * Scale shape: one (type, hour) rollup collapses the table to
    * calendar-bounded cells; the per-type agg is a ≤5-group reduce. */
  def qFanoFactor(s: SparkSession, d: String): DataFrame = {
    val hourly = events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum("c").as("sc"), sum(col("c") * col("c")).as("scc"))
      .filter(col("n_hours") > 1)
      .select(col("event_type"), col("n_hours"),
        expr("sc * 100 div n_hours").as("mean_x100"),
        expr("(n_hours * scc - sc * sc) * 10000 div ((n_hours - 1) * sc)")
          .as("fano_x10000"))
  }

  /** q183: mutual information between event type and hour-of-day —
    * "how many nats does knowing the hour tell you about what users
    * do": the dependence summary behind q130's per-cell anomalies and
    * q159's per-cell residuals, as one number plus its marginal
    * entropies. Cell/marginal counts are exact integers; MI folds the
    * ≤ type×24 cells as Σ (c/N)·ln(c·N/(r·s)) in doubles (the q64/q79
    * NLL precedent: libm `ln` agrees across engines; the ≤120-term sum
    * is rounded at 6 decimals with ~1e-15 relative error).
    *
    * Scale shape: one cells rollup (map-side partial to ≤120 rows),
    * marginals derived FROM the cells (no second scan), single-row
    * fold. */
  def qMutualInfo(s: SparkSession, d: String): DataFrame = {
    val cells = events(s, d)
      .groupBy(col("event_type").as("t"), hour(col("ts")).as("hh"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Option(lastCellsCache.getAndSet(cells)).foreach(_.unpersist(blocking = false))
    val tot = cells.agg(sum("c").as("nn"), count(lit(1)).as("n_cells"))
    val rowm = cells.groupBy("t").agg(sum("c").as("r"))
    val colm = cells.groupBy("hh").agg(sum("c").as("s"))
    val mi = cells
      .join(broadcast(rowm), Seq("t")).join(broadcast(colm), Seq("hh"))
      .crossJoin(broadcast(tot.select("nn")))
      .agg(round(sum(d2(col("c")) / d2(col("nn"))
        * log(d2(col("c")) * d2(col("nn")) / (d2(col("r")) * d2(col("s"))))), 6)
        .as("mi_nats"))
    val hT = rowm.crossJoin(broadcast(tot.select("nn")))
      .agg(round(-sum(d2(col("r")) / d2(col("nn"))
        * log(d2(col("r")) / d2(col("nn")))), 6).as("h_type"))
    val hH = colm.crossJoin(broadcast(tot.select("nn")))
      .agg(round(-sum(d2(col("s")) / d2(col("nn"))
        * log(d2(col("s")) / d2(col("nn")))), 6).as("h_hour"))
    tot.select(col("n_cells"), col("nn").as("n_events"))
      .crossJoin(mi).crossJoin(hT).crossJoin(hH)
  }

  private val lastCellsCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame]()

  /** q187: windowed funnel (the ClickHouse `windowFunnel` semantic) —
    * deepest view→click→purchase chain whose steps ALL land inside a
    * 24 h window anchored at the view, per user. q131's funnel is
    * lifetime-ordered ("ever converted, in order"); this is the
    * campaign/session question ("converted WITHIN a day of seeing
    * it"). Greedy-earliest chaining is exact for a window anchored at
    * the first stage: taking the MIN qualifying click per view
    * maximizes the residual window for the purchase step, so depth is
    * maximal. All-integer µs arithmetic.
    *
    * Scale shape: two user-keyed range joins with calendar-bounded
    * per-user fanout (events within one window), each collapsed by a
    * partial MIN agg before the next; depth histogram is a ≤3-row
    * reduce. At extreme per-user densities the range join day-buckets
    * first (the q172 overlap note). */
  def qWindowFunnel(s: SparkSession, d: String,
      windowUs: Long = 86400000000L): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id").as("u"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    def stage(t: String, out: String) =
      ev.filter(col("event_type") === t).select(col("u"), col("us").as(out))
    val v = stage("view", "tv")
    val c = stage("click", "tc")
    val p = stage("purchase", "tp")
    val vc = v.join(c, Seq("u"))
      .filter(col("tc") >= col("tv") && col("tc") <= col("tv") + windowUs)
      .groupBy("u", "tv").agg(min("tc").as("tc"))
    val vcp = vc.join(p, Seq("u"))
      .filter(col("tp") >= col("tc") && col("tp") <= col("tv") + windowUs)
      .groupBy("u", "tv").agg(min("tp").as("tp"))
    v.select("u").distinct()
      .join(vc.select("u").distinct().withColumn("h2", lit(1)), Seq("u"), "left")
      .join(vcp.select("u").distinct().withColumn("h3", lit(1)), Seq("u"), "left")
      .select(when(col("h3").isNotNull, 3)
        .when(col("h2").isNotNull, 2).otherwise(1).as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_users"))
  }

  /** q188: EWMA spike days — each day's count against DOUBLE the
    * exponentially-weighted sum of its trailing 30 days (weights
    * 2^-lag, α = ½ truncated at lag 30): the classic smoothed baseline
    * where q130's z-score uses a flat window mean. The dyadic weights
    * make the whole pipeline INTEGER: the 2^30-scaled weighted sum is
    * Σ c_lag · 2^(30−lag) in exact longs, and the spike test
    * c > 2·ewma becomes (c << 30) > 2·ewsum_scaled — no float, no
    * libm, bit-deterministic at any count magnitude below 2^33.
    *
    * Scale shape: the lag join is per-type day×30 — calendar-bounded
    * like q176/q181; one rollup, one bounded join, a ≤5-row agg. */
  def qEwmaSpikes(s: SparkSession, d: String, maxLag: Int = 30): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val lagged = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.day") < col("a.day") &&
          col("b.day") >= date_sub(col("a.day"), maxLag))
      .groupBy(col("a.event_type").as("event_type"), col("a.day").as("day"),
        col("a.c").as("c"))
      .agg(sum(expr(s"b.c * shiftleft(1L, $maxLag - datediff(a.day, b.day))"))
        .as("ewsum_scaled"),
        count(lit(1)).as("n_lags"))
    // spike: current day more than doubles its smoothed baseline,
    // judged once at least a week of lag history exists (the truncated
    // tail only deflates the baseline by < 2^-7 of its mass)
    lagged.filter(col("n_lags") >= 7)
      .withColumn("spike",
        expr(s"shiftleft(c, $maxLag) > 2 * ewsum_scaled"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored_days"),
        sum(when(col("spike"), 1L).otherwise(0L)).as("n_spike_days"),
        coalesce(min(when(col("spike"), col("day").cast("string"))),
          lit("none")).as("first_spike_day"))
  }

  /** q190: Population Stability Index — the production drift metric
    * between the FIRST and SECOND half of each type's value stream:
    * decile bands fitted on the first half (ntile over (value,
    * event_id) — identical rank semantics both engines), second half
    * assigned by band edges, PSI = Σ (p−q)·ln(p/q) with Laplace
    * (+1/band) smoothing so an empty band stays finite. Completes the
    * drift family (q136 tests lengths; this monitors any numeric
    * measure). Band counts are exact integers; the 10-term ln fold
    * follows the q64/q183 precedent.
    *
    * Scale shape: the band fit is a per-type ntile window (one
    * exchange); edges collapse to ≤ 9 rows per type and broadcast
    * back; everything after is a ≤10-cell fold. */
  def qPsiDrift(s: SparkSession, d: String, bands: Int = 10): DataFrame = {
    val ev = events(s, d)
      .select(col("event_type"), col("value"), col("event_id"),
        to_date(col("ts")).as("day"))
    val bounds = ev.groupBy("event_type")
      .agg(min("day").as("mn"), max("day").as("mx"))
      // `div`, not `/`+cast: at an odd day span the double→int cast
      // truncates here but rounds half-even in DuckDB (latent q208
      // lesson applied back)
      .select(col("event_type"),
        expr("date_add(mn, CAST(datediff(mx, mn) div 2 AS INT))").as("pivot"))
    val tagged = ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("is_first", col("day") <= col("pivot"))
    val first = tagged.filter(col("is_first"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("value"), col("event_id"))
    val edges = first
      .withColumn("band", ntile(bands).over(w))
      .groupBy("event_type", "band").agg(max("value").as("edge"))
      .filter(col("band") < bands)
    // band of x = 1 + #edges strictly below x (ties stay in the lower
    // band, mirroring the ntile fit on the first half); the ≤9 edges
    // ride in-row as a sorted array so assignment is one scan with a
    // broadcast join — no fanout, no re-grouping shuffle
    val edgeArr = edges.groupBy("event_type")
      .agg(sort_array(collect_list(col("edge"))).as("earr"))
    val assign = tagged.join(broadcast(edgeArr), Seq("event_type"))
      .select(col("event_type"), col("is_first"),
        (size(filter(col("earr"), e => e < col("value"))) + 1).as("band"))
    val cells = assign.groupBy("event_type", "band")
      .agg(sum(when(col("is_first"), 1L).otherwise(0L)).as("cf"),
        sum(when(col("is_first"), 0L).otherwise(1L)).as("cs"))
    val totals = cells.groupBy("event_type")
      .agg(sum("cf").as("nf"), sum("cs").as("ns"))
    cells.join(broadcast(totals), Seq("event_type"))
      .withColumn("p", (col("cf") + 1).cast("double") /
        (col("nf") + bands).cast("double"))
      .withColumn("q", (col("cs") + 1).cast("double") /
        (col("ns") + bands).cast("double"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_bands"), max("nf").as("n_first"),
        max("ns").as("n_second"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6)
          .as("psi"))
  }

  /** q185: Page's sequential CUSUM detector — the ONLINE counterpart
    * to q177's retrospective split: S_t = max(0, S_{t−1} + (7·c_t −
    * sum7)) over each type's daily counts after a 7-day burn-in that
    * fixes the baseline (sum7 = first week's total, so dev is the
    * exact integer "7× today minus a baseline week"). Alarm when S_t
    * exceeds three baseline-days' worth (3·sum7). The recursion is
    * computed WITHOUT recursion via the drawdown identity
    * S_t = P_t − min(0, min_{j≤t} P_j) (P = running Σ dev) — two
    * partition-local windows, exact integers end to end, and the same
    * identity is what the oracle SQL uses.
    *
    * Scale shape: one (type, day) rollup, two windows over
    * calendar-bounded partitions, a ≤5-row final agg. */
  def qPageCusum(s: SparkSession, d: String): DataFrame =
    pageCusum(events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c")))

  /** Detector core over any (event_type, day, c) daily series —
    * factored out so the spec can drive a synthetic level-shift series
    * through the exact same plan. */
  private[graft] def pageCusum(daily: DataFrame): DataFrame = {
    val ordW = Window.partitionBy("event_type").orderBy("day")
    val all = Window.partitionBy("event_type")
    val burn = daily
      .withColumn("rn", row_number().over(ordW))
      .withColumn("sum7", sum(when(col("rn") <= 7, col("c"))).over(all))
      .withColumn("n_days", count(lit(1)).over(all))
    val run = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = burn.filter(col("rn") > 7)
      .withColumn("p", sum(lit(7) * col("c") - col("sum7")).over(run))
      .withColumn("s_stat", col("p") - least(lit(0L), min("p").over(run)))
      .withColumn("alarm", col("s_stat") > lit(3) * col("sum7"))
    scored.groupBy("event_type")
      .agg(max("n_days").as("n_days"), max("sum7").as("sum7"),
        max("s_stat").as("max_s"),
        min(when(col("alarm"), struct(col("day"), col("s_stat")))).as("fa"))
      .select(col("event_type"), col("n_days"), col("sum7"), col("max_s"),
        // null-free outputs: a no-alarm series reads 'none'/-1 (a typed
        // NULL hashes engine-dependently as None vs NaT downstream)
        coalesce(col("fa").getField("day").cast("string"), lit("none"))
          .as("first_alarm_day"),
        coalesce(col("fa").getField("s_stat"), lit(-1L)).as("s_at_alarm"))
  }

  /** q193: HyperLogLog sketch ROLLUP — the fifth sketch-family member
    * ([[graft.functions.HllSketch]]): per-(type, day) register arrays
    * materialized once, then rolled up to lifetime distinct-user
    * estimates by register-max merge, next to a direct single-pass
    * build and the exact count. Merged ≡ direct bit for bit (max is
    * associative/commutative/idempotent — the property that makes
    * PERSISTED daily sketches answer any-date-range distinct queries
    * without rescanning raw data; KMV q87 estimates one fixed set,
    * this is the datacube shape).
    *
    * Rows-only gate (the estimator is not SQL-expressible);
    * HllSketchSpec pins merge≡direct, repartition-invariance, and the
    * ~1.04/√m error band at 4096 registers.
    *
    * Scale shape: shuffles carry 4 KB register arrays per group, never
    * values; the final estimate runs driver-side over ≤|types| rows
    * (bounded by the q73 pinned-values argument). */
  def qHllRollup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val build = udaf(new graft.functions.HllSketch(12), Encoders.scalaLong)
    val merge = udaf(new graft.functions.HllMerge(12), Encoders.BINARY)
    val ev = events(s, d).select(col("event_type"),
      to_date(col("ts")).as("day"), xxhash64(col("user_id")).as("h"),
      col("user_id"))
    val daily = ev.groupBy("event_type", "day").agg(build(col("h")).as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), merge(col("sk")).as("sk_merged"))
    val direct = ev.groupBy("event_type")
      .agg(build(col("h")).as("sk_direct"),
        countDistinct(col("user_id")).as("exact_users"))
    val rows = merged.join(direct, Seq("event_type"))
      .collect().toSeq.map { r =>
        val em = graft.functions.HllSketch.estimate(r.getAs[Array[Byte]]("sk_merged"))
        val ed = graft.functions.HllSketch.estimate(r.getAs[Array[Byte]]("sk_direct"))
        val exact = r.getAs[Long]("exact_users")
        (r.getAs[String]("event_type"), r.getAs[Long]("n_days"), exact,
          math.round(em * 100) / 100.0, math.round(ed * 100) / 100.0,
          java.util.Arrays.equals(r.getAs[Array[Byte]]("sk_merged"),
            r.getAs[Array[Byte]]("sk_direct")),
          math.round(math.abs(em - exact) / exact * 1e6) / 1e4)
      }
    s.createDataFrame(rows).toDF("event_type", "n_days", "exact_users",
      "est_merged", "est_direct", "merged_eq_direct", "err_pct")
  }

  /** q194: per-user activity BITMASK over the trailing 62 days — the
    * bitmap-index verb (the roaring-bitmap retention pattern): one
    * BIGINT per user encodes presence per day (bit i = active
    * `anchor − i`), so day-level engagement questions become bit
    * arithmetic instead of 62-way joins — active-day count is a
    * popcount, the current streak is the trailing-ones count
    * popcount(x ⊕ (x+1)) − 1, last-week activity is a popcount under
    * mask 0x7F. Distinct (user, day) first, so summing 2^i IS the
    * bitwise OR (each power appears once) — portable to engines where
    * `^` means exponentiation, not xor. 62 days (bits 0..61), not
    * 63/64: top bit 61 keeps an always-active mask at 2^62 − 1, so
    * `mask + 1` stays inside a signed 64-bit value; one more bit and
    * the streak arithmetic's `x + 1` overflows for an always-active
    * user (engines disagree on overflow — Spark wraps, DuckDB raises).
    *
    * Scale shape: one (user, day) dedup shuffle collapsing map-side,
    * then a user-keyed sum; output is users-sized with all-integer
    * columns (hash-exact). */
  def qActivityBitmask(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
    val anchor = ev.agg(max(col("day")).as("anchor"))
    val mask = ev.join(broadcast(anchor))
      .withColumn("idx", datediff(col("anchor"), col("day")))
      .filter(col("idx").between(0, 61))
      .select(col("user_id"), col("idx")).distinct()
      .groupBy("user_id")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(idx AS INT))"))
        .as("active_mask"))
    mask.select(col("user_id"), col("active_mask"),
      expr("bit_count(active_mask)").cast("long").as("n_active_days"),
      (expr("bit_count(active_mask ^ (active_mask + 1))") - 1)
        .cast("long").as("streak_now"),
      expr("bit_count(active_mask & 127)").cast("long").as("n_last7"))
  }

  /** q195: exposure→conversion screen — the A/B-readout verb: for each
    * candidate exposure type, users are split by whether they saw it in
    * their FIRST 72 h, and the two arms' later purchase rates are
    * compared with the two-proportion pooled z statistic. (A user-hash
    * split would be a true A/B; exposure split is the observational
    * screen run when no experiment exists.) Counts are exact integers;
    * z is the only double — one scalar formula over four counts,
    * written identically in the oracle.
    *
    * Scale shape: one user-keyed window + aggregation pair sharing a
    * single exchange, a 1-row 16-column rollup, then a 4-row stack —
    * nothing downstream of the first shuffle scales with data. */
  def qExposureConversion(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val flags = events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("cut", min(col("us")).over(w) + lit(259200000000L))
      .groupBy("user_id")
      .agg(
        max(when(col("event_type") === "view" && col("us") < col("cut"), 1L)
          .otherwise(0L)).as("e_view"),
        max(when(col("event_type") === "click" && col("us") < col("cut"), 1L)
          .otherwise(0L)).as("e_click"),
        max(when(col("event_type") === "error" && col("us") < col("cut"), 1L)
          .otherwise(0L)).as("e_error"),
        max(when(col("event_type") === "signup" && col("us") < col("cut"), 1L)
          .otherwise(0L)).as("e_signup"),
        max(when(col("event_type") === "purchase" && col("us") >= col("cut"), 1L)
          .otherwise(0L)).as("conv"))
    val cells = flags.agg(
      count(lit(1)).as("n"), sum(col("conv")).as("nc"),
      sum(col("e_view")).as("v"), sum(col("e_view") * col("conv")).as("vc"),
      sum(col("e_click")).as("c"), sum(col("e_click") * col("conv")).as("cc"),
      sum(col("e_error")).as("er"), sum(col("e_error") * col("conv")).as("erc"),
      sum(col("e_signup")).as("sg"), sum(col("e_signup") * col("conv")).as("sgc"))
    cells.selectExpr(
      """stack(4,
           'view',   v,  vc,  n - v,  nc - vc,
           'click',  c,  cc,  n - c,  nc - cc,
           'error',  er, erc, n - er, nc - erc,
           'signup', sg, sgc, n - sg, nc - sgc)
         AS (exposure_type, n_exposed, n_conv_exposed,
             n_unexposed, n_conv_unexposed)""")
      .withColumn("z_score", round(
        // z is undefined when either arm is empty OR the pooled rate
        // is degenerate (0 or 1 — the sqrt term collapses to 0/0)
        when(col("n_exposed") > 0 && col("n_unexposed") > 0 &&
            col("n_conv_exposed") + col("n_conv_unexposed") > 0 &&
            col("n_conv_exposed") + col("n_conv_unexposed") <
              col("n_exposed") + col("n_unexposed"),
          (col("n_conv_exposed").cast("double") / col("n_exposed").cast("double")
            - col("n_conv_unexposed").cast("double") / col("n_unexposed").cast("double"))
          / sqrt(
            ((col("n_conv_exposed") + col("n_conv_unexposed")).cast("double")
              / (col("n_exposed") + col("n_unexposed")).cast("double"))
            * (lit(1.0) - (col("n_conv_exposed") + col("n_conv_unexposed")).cast("double")
              / (col("n_exposed") + col("n_unexposed")).cast("double"))
            * (lit(1.0) / col("n_exposed").cast("double")
              + lit(1.0) / col("n_unexposed").cast("double"))))
          .otherwise(lit(0.0)), 6))
  }

  /** q196: higher central moments — per-type skewness and excess
    * kurtosis from EXACT integer power sums over cent-scaled values:
    * with A2 = n·S2 − S1², A3 = n²·S3 − 3n·S1·S2 + 2S1³,
    * A4 = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3S1⁴ (all DECIMAL(38,0) /
    * HUGEINT — order-invariant addition, engine-identical), the scale
    * factors cancel to g1 = A3 / (A2·√A2) and g2 = A4/A2² − 3, so the
    * only floating point is the final correctly-rounded scalar step
    * (the q152/q179 sufficient-statistic discipline extended to
    * moments 3 and 4 — the tail-shape numbers behind every "is this
    * distribution normal enough" decision q164/q104 make robustly).
    *
    * Scale shape: one map-side-combined rollup; at group cardinalities
    * where n³·S4 nears 38 digits, pre-shift by the group's integer
    * mean (two-pass) to shrink to central magnitudes. */
  def qHigherMoments(s: SparkSession, d: String): DataFrame = {
    val v = expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
    val sums = events(s, d)
      .select(col("event_type"), dec(v).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"),
        sum(col("v") * col("v") * col("v")).as("s3"),
        sum(col("v") * col("v") * col("v") * col("v")).as("s4"))
    val a2 = col("n") * col("s2") - col("s1") * col("s1")
    val a3 = col("n") * col("n") * col("s3") -
      lit(3) * col("n") * col("s1") * col("s2") +
      lit(2) * col("s1") * col("s1") * col("s1")
    val a4 = col("n") * col("n") * col("n") * col("s4") -
      lit(4) * col("n") * col("n") * col("s1") * col("s3") +
      lit(6) * col("n") * col("s1") * col("s1") * col("s2") -
      lit(3) * col("s1") * col("s1") * col("s1") * col("s1")
    // overflow guard: Spark non-ANSI silently NULLs a DECIMAL(38,0)
    // overflow while DuckDB HUGEINT raises — at fixture scale n³·S4
    // sits ~2 digits under the cap, so a bigger fixture would
    // otherwise emit null kurtosis and diverge from the oracle with no
    // signal. The combos are non-null by construction (n ≥ 1, sums of
    // non-null values), so NULL ⇔ overflow: fail loudly and name the
    // documented remedy (two-pass mean pre-shift).
    def guarded(c: Column, name: String): Column =
      when(c.isNull, expr("CAST(raise_error('q196: DECIMAL(38,0) overflow in " +
        name + " — pre-shift by the group mean (two-pass) at this scale') " +
        "AS DOUBLE)")).otherwise(c.cast("double"))
    sums.select(col("event_type"), col("n").cast("long").as("n"),
        guarded(a2, "n*S2").as("a2"), guarded(a3, "n^2*S3").as("a3"),
        guarded(a4, "n^3*S4").as("a4"),
        d2(col("s1")).as("s1d"), d2(col("n")).as("nd"))
      .select(col("event_type"), col("n"),
        round(col("s1d") / col("nd") / 100.0, 6).as("mean_value"),
        round(sqrt(col("a2")) / col("nd") / 100.0, 6).as("sd_pop"),
        round(col("a3") / (col("a2") * sqrt(col("a2"))), 6).as("skewness"),
        round(col("a4") / (col("a2") * col("a2")) - 3.0, 6).as("kurtosis_excess"))
  }

  /** q197: rolling-median smoother (Tukey) — the HOLISTIC windowed
    * aggregate the window family lacked (q172's frames count; a median
    * must see its whole frame): each (type, day) count against the
    * exact lower median of its ±3-day neighborhood, computed by
    * carrying the frame as a sorted in-row array and indexing its
    * middle — integers end to end, identical list semantics on both
    * engines. A day 2× above its local median is flagged — the robust
    * spike read (q188's EWMA compares against the PAST only; this
    * centered median is the retrospective QC pass).
    *
    * Scale shape: the window runs over per-type DAILY rollups
    * (calendar-bounded partitions — the q157/q185 argument); the
    * 7-element frame list is constant-size. */
  def qRollingMedian(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-3, 3)
    daily
      .withColumn("frame", sort_array(collect_list(col("cnt")).over(w)))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("cnt"),
        element_at(col("frame"), ((size(col("frame")) + 1) / 2)
          .cast("int")).as("med7"))
      .withColumn("is_spike",
        when(col("cnt") > lit(2) * col("med7"), 1L).otherwise(0L))
  }

  /** q217: growth accounting — the week-over-week user-movement
    * decomposition (new / retained / resurrected in, churned out)
    * every growth team runs; q132's cohort retention slices by FIRST
    * period, this slices by CALENDAR period. One user-keyed window
    * over the (user, week) dedup gives first-seen, previous- and
    * next-week presence in a single exchange: new = first week,
    * retained = present last week, resurrected = returning after a
    * gap, churned-out = absent next week (identity: active = new +
    * retained + resurrected, spec-asserted). All integer counts;
    * weeks are epoch-day div 7 (epoch days are nonnegative, so
    * truncation == floor on both engines).
    *
    * Scale shape: week-dedup collapses map-side; ONE shuffle on the
    * user key serves first-seen/lag/lead; the week rollup is
    * calendar-sized. */
  def qGrowthAccounting(s: SparkSession, d: String): DataFrame = {
    val weekly = events(s, d)
      .select(col("user_id"),
        expr("datediff(to_date(ts), date'1970-01-01') div 7").cast("long")
          .as("widx"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("widx")
    val all = Window.partitionBy("user_id")
    weekly
      .withColumn("first_seen", min(col("widx")).over(all))
      .withColumn("prev", lag(col("widx"), 1).over(w))
      .withColumn("next", lead(col("widx"), 1).over(w))
      .select(col("widx"),
        when(col("widx") === col("first_seen"), 1L).otherwise(0L).as("is_new"),
        when(col("prev") === col("widx") - 1, 1L).otherwise(0L).as("is_ret"),
        when(col("widx") =!= col("first_seen") &&
          (col("prev").isNull || col("prev") =!= col("widx") - 1), 1L)
          .otherwise(0L).as("is_res"),
        when(col("next").isNull || col("next") =!= col("widx") + 1, 1L)
          .otherwise(0L).as("is_churn"))
      .groupBy("widx")
      .agg(count(lit(1)).as("n_active"), sum(col("is_new")).as("n_new"),
        sum(col("is_ret")).as("n_retained"),
        sum(col("is_res")).as("n_resurrected"),
        sum(col("is_churn")).as("n_churned_out"))
      .select(expr("CAST(date_add(date'1970-01-01', CAST(widx * 7 AS INT)) AS STRING)")
          .as("week_start"),
        col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned_out"))
  }

  /** q218: DAU/WAU stickiness — the engagement-frequency ratio beside
    * q217's movement decomposition: per week, weekly actives, summed
    * daily actives, and Σdau·10⁴ div (days·wau) — the "how many days
    * of the week does an active user show up" number, in exact
    * integers (the float mean-of-ratios variant is both
    * order-dependent and the wrong statistic).
    *
    * Scale shape: one (day, user) dedup collapsing map-side, a daily
    * rollup, a weekly distinct-user rollup, calendar-sized outputs. */
  def qStickiness(s: SparkSession, d: String): DataFrame = {
    val du = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        expr("datediff(to_date(ts), date'1970-01-01') div 7").cast("long")
          .as("widx"))
      .distinct()
    val daily = du.groupBy("widx", "day")
      .agg(countDistinct(col("user_id")).as("dau"))
      .groupBy("widx")
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val wau = du.groupBy("widx")
      .agg(countDistinct(col("user_id")).as("wau"))
    daily.join(wau, Seq("widx"))
      .select(expr("CAST(date_add(date'1970-01-01', CAST(widx * 7 AS INT)) AS STRING)")
          .as("week_start"),
        col("n_days"), col("wau"), col("sum_dau"),
        expr("sum_dau * 10000 div (n_days * wau)").as("stickiness_bp"))
  }

  /** q223: column-correlation profile — pairwise Pearson across the
    * numeric lineitem measures in ONE scan: all ten sufficient sums
    * (n, Σ of each column, each square, each cross-product) aggregate
    * as exact DECIMAL(38,0) over cent/point-scaled integers, then the
    * three r values are scalar formulas over exact integers (the
    * q157/q179 discipline widened to a matrix; engines' own corr()
    * sums doubles in partition order — unusable for a hash gate).
    * The profiling read every feature-selection / leakage screen
    * starts from.
    *
    * Scale shape: one map-side-combined rollup to a single row;
    * magnitudes: n·Σxy tops BIGINT at ~1e24, which is the decimal's
    * job; the r denominators convert to double BEFORE multiplying
    * (the q208 ρ² lesson — products of two ~1e24 combos exceed 38
    * digits). */
  def qCorrMatrix(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d).select(
      dec(expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("x"),
      dec(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("y"),
      dec(expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)"))
        .as("z"))
    val sums = base.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("z")).as("sxz"),
      sum(col("y") * col("z")).as("syz"))
    def r(sab: String, sa: String, sb: String, saa: String,
        sbb: String): Column = {
      val cov = d2(col("n") * col(sab) - col(sa) * col(sb))
      val va = d2(col("n") * col(saa) - col(sa) * col(sa))
      val vb = d2(col("n") * col(sbb) - col(sb) * col(sb))
      round(when(va > 0 && vb > 0, cov / sqrt(va) / sqrt(vb))
        .otherwise(lit(0.0)), 6)
    }
    sums.select(col("n").cast("long").as("n"),
        r("sxy", "sx", "sy", "sxx", "syy").as("r_qty_price"),
        r("sxz", "sx", "sz", "sxx", "szz").as("r_qty_discount"),
        r("syz", "sy", "sz", "syy", "szz").as("r_price_discount"))
      .selectExpr("""stack(3,
          'qty~price',      n, r_qty_price,
          'qty~discount',   n, r_qty_discount,
          'price~discount', n, r_price_discount)
        AS (pair, n, r)""")
  }

  /** q221: equi-width histogram — the basic numeric-profiling verb
    * (every engine's `histogram()`; q190 bands by QUANTILE edges, this
    * bins by fixed WIDTH over the observed range): 10 integer-cent
    * bins per type via (v−mn)·10 div (mx−mn+1) — exact nonnegative
    * integer arithmetic, the +1 keeping the max value inside bin 9 —
    * with each bin's count and observed [lo, hi] (the zone-map stats a
    * layout would carry).
    *
    * Scale shape: one min/max rollup broadcast back, one scan
    * collapsing map-side onto ≤10·|types| cells. */
  def qEquiWidthHist(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val mm = ev.groupBy("event_type")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    ev.join(broadcast(mm), Seq("event_type"))
      .withColumn("bin", expr("(v - mn) * 10 div (mx - mn + 1)"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo_cents"),
        max(col("v")).as("hi_cents"))
  }

  /** q222: full-row duplicate audit — the data-quality screen run
    * before any "rows are facts" assumption (a retried writer or a
    * replayed batch shows up here first): per table, total rows vs
    * distinct full rows. Declared-key tables should read zero; a
    * nonzero delta on an append log is the at-least-once signature.
    *
    * Scale shape: one all-column dedup per table (map-side partial —
    * the same shuffle a dedup would pay; at 100 TB run it on the
    * suspect partition range, not the fleet). */
  def qDuplicateRows(s: SparkSession, d: String): DataFrame = {
    def audit(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows")).crossJoin(
          df.distinct().agg(count(lit(1)).as("n_distinct")))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_dup_rows"))
    Seq(audit("events", events(s, d)),
      audit("orders", orders(s, d)),
      audit("lineitem", lineitem(s, d)),
      audit("documents", documents(s, d)))
      .reduce(_.union(_))
  }

  /** q220: WEIGHTED median — the quantile family's weighted verb
    * (every unweighted quantile here treats docs equally; a token
    * budget doesn't): per source, the smallest doc length whose
    * cumulative TOKEN weight reaches half the total (2·cum ≥ total in
    * pure integers — no half-total float), beside the unweighted
    * lower median from the same ordered walk. The two diverge exactly
    * when length and weight correlate — which for documents they do,
    * and the gap is the statistic (how much a token-weighted view
    * shifts the "typical document").
    *
    * Scale shape: ONE source-keyed window exchange serves the cumsum,
    * the rank, and the totals; the crossing pick is a min over flagged
    * rows in the same rollup. */
  def qWeightedMedian(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        graft.functions.tokenCount(col("text")).cast("long").as("w"))
    val ord = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val all = Window.partitionBy("source")
    docs
      .withColumn("cum", sum(col("w")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(ord))
      .withColumn("total", sum(col("w")).over(all))
      .withColumn("n", count(lit(1)).over(all))
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"),
        max(col("total")).as("total_tokens"),
        min(when(col("cum") * 2 >= col("total"), col("n_chars")))
          .as("wmedian_chars"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("n_chars")))
          .as("median_chars"))
  }

  /** q215: discrete percentiles (percentile_disc) — the quantile
    * family's remaining verb (cont q47 interpolates BETWEEN data
    * points; sketch q49 approximates; refinement q148 scales; disc
    * returns an ACTUAL data element): the value at rank ⌈p·n⌉ under
    * the (value, event_id) total order. Ranks are pure integer
    * arithmetic — ⌈p·n⌉ = (k·n + k') div d form — so no float ever
    * touches row selection, and the returned values are raw data
    * (hash-exact by construction; engines' own percentile_disc
    * functions differ on tie/ordering edges, which is why both sides
    * spell the window out).
    *
    * Scale shape: one per-type rank window; at 100 TB the same
    * statistic comes from q148's refinement loop — this is the
    * grouped-window form for group-sized partitions. */
  def qPercentileDisc(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    val all = Window.partitionBy("event_type")
    events(s, d)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(all))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("value")))
          .as("p50_disc"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("value")))
          .as("p90_disc"),
        max(when(col("rn") === expr("(99 * n + 99) div 100"), col("value")))
          .as("p99_disc"))
  }

  /** q216: linear-interpolation gap fill — q180's LOCF sibling for
    * measures where carrying the last value forward biases (a level
    * metric vs a rate metric): missing days on the per-type daily
    * cents series fill with v0 + (v1−v0)·(t−t0) div (t1−t0) between
    * the bracketing observed days — integer floor arithmetic, exact
    * and engine-identical. The gate hashes per-type integer
    * invariants (counts, total, a position-weighted checksum) rather
    * than shipping the dense series — q180's trick.
    *
    * Scale shape: in-plan day spine per type (`sequence`+explode),
    * two IGNORE-NULLS windows over calendar-bounded partitions; the
    * report is a ≤|types| rollup. */
  def qInterpolate(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        expr("datediff(to_date(ts), date'1970-01-01')").cast("long").as("t"))
      .agg(sum(expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).as("v"))
    val spine = daily.groupBy("event_type")
      .agg(min("t").as("t0"), max("t").as("t1"))
      .select(col("event_type"),
        explode(expr("sequence(t0, t1)")).as("t"))
    val wPrev = Window.partitionBy("event_type").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("event_type").orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = spine.join(daily, Seq("event_type", "t"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pt", last(when(col("v").isNotNull, col("t")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nt", first(when(col("v").isNotNull, col("t")),
        ignoreNulls = true).over(wNext))
      // weighted-endpoint form: the numerator is a sum of nonnegative
      // terms, so integer division truncates == floors on BOTH engines
      // (the v1<v0 slope would make a delta-form numerator negative,
      // where Spark's `div` truncates toward zero but DuckDB's `//`
      // floors — off by one on every downhill gap)
      .withColumn("filled", when(col("v").isNotNull, col("v"))
        .otherwise(expr("(pv * (nt - t) + nv * (t - pt)) div (nt - pt)")))
      .withColumn("interp", when(col("v").isNull, 1L).otherwise(0L))
    filled.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(lit(1L) - col("interp")).as("n_observed"),
        sum(col("interp")).as("n_interpolated"),
        sum(col("filled")).as("sum_filled_cents"),
        sum(col("filled") * (col("t") % 997)).as("pos_checksum"))
  }

  /** q208: CUPED-adjusted A/B readout (Deng et al. 2013) — the
    * variance-reduction step every mature experimentation platform
    * applies before q195's z-test: each user's PRE-period purchase
    * spend X (before the global midpoint date) serves as the control
    * covariate for their POST-period spend Y, the adjustment
    * Y′ = Y − θ(X − μ_X) with θ = cov(X,Y)/var(X) POOLED across arms
    * (pooling keeps the adjustment unbiased under randomization; arms
    * here are the user-id parity — a true hash split). Sufficient
    * sums (n, ΣX, ΣY, ΣXY, ΣX², ΣY²) are exact integer cents in
    * DECIMAL(38,0)/HUGEINT; θ, the adjusted means, and the pooled ρ²
    * (= the variance-reduction fraction CUPED delivers) are final
    * scalar doubles — the θ·ΣX cross-terms would overflow BIGINT at
    * ~1e19, which is why the combination step is decimal (the q196
    * rule) and ρ²'s squared covariance converts to double BEFORE
    * squaring (4e38 exceeds even 38 digits).
    *
    * Scale shape: one user-keyed rollup (map-side partial), a 1-row
    * pooled-sums frame broadcast into a 2-row per-arm select. */
  def qCuped(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val pivot = ev.agg(min(to_date(col("ts"))).as("mn"),
        max(to_date(col("ts"))).as("mx"))
      // `div` (not `/` + cast): double-to-int casts truncate on one
      // engine and round-half-even on the other at odd day spans
      .select(expr("date_add(mn, CAST(datediff(mx, mn) div 2 AS INT))")
        .as("pivot"))
    val perUser = ev.join(broadcast(pivot))
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"), col("pivot"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase" && col("day") <= col("pivot"),
          col("cents")).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase" && col("day") > col("pivot"),
          col("cents")).otherwise(0L)).as("y"))
      .withColumn("arm", (col("user_id") % 2).cast("long"))
    val pooled = perUser.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"))
      .select(d2(col("n")).as("nd"), d2(col("sx")).as("sxd"),
        d2(col("sy")).as("syd"),
        d2(col("n") * col("sxy") - col("sx") * col("sy")).as("cov"),
        d2(col("n") * col("sxx") - col("sx") * col("sx")).as("varx"),
        d2(col("n") * col("syy") - col("sy") * col("sy")).as("vary"))
      .withColumn("theta",
        when(col("varx") > 0, col("cov") / col("varx")).otherwise(lit(0.0)))
      .withColumn("rho2_pct",
        when(col("varx") > 0 && col("vary") > 0,
          col("cov") * col("cov") / (col("varx") * col("vary")) * 100.0)
        .otherwise(lit(0.0)))
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sum_pre_cents"), sum(col("y")).as("sum_post_cents"))
    arms.join(broadcast(pooled))
      .select(col("arm"), col("n_users"), col("sum_pre_cents"),
        col("sum_post_cents"),
        round(col("sum_post_cents").cast("double")
          / col("n_users").cast("double") / 100.0, 6).as("mean_post"),
        round((col("sum_post_cents").cast("double")
            - col("theta") * (col("sum_pre_cents").cast("double")
              - col("n_users").cast("double") * col("sxd") / col("nd")))
          / col("n_users").cast("double") / 100.0, 6).as("mean_adjusted"),
        round(col("theta"), 6).as("theta"),
        round(col("rho2_pct"), 4).as("rho2_pct"))
  }

  /** q199: last-touch revenue attribution — every purchase credited to
    * the user's most recent view/click within 24 h (the marketing-
    * attribution verb; q44's as-of join across tables, specialized to
    * the in-stream case). The candidate touch rides a PACKED integer
    * µs·8+code through one window max — (ts, code) ordering in a
    * single BIGINT, so "latest touch, clicks over views on µs ties" is
    * plain integer comparison on both engines — and purchases with no
    * in-window touch land in an explicit 'unattributed' bucket (the
    * q189 every-fact-accounted rule).
    *
    * Scale shape: one user-keyed window, then a ≤3-row rollup; revenue
    * in exact integer cents (q162's discipline). */
  def qLastTouch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val touched = ev
      .withColumn("packed", when(col("event_type") === "click",
          col("us") * 8 + 2)
        .when(col("event_type") === "view", col("us") * 8 + 1))
      .withColumn("last_touch", max(col("packed")).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed_type",
        when(col("last_touch").isNull ||
            col("us") - expr("last_touch div 8") > 86400000000L,
          lit("unattributed"))
        .when(expr("last_touch % 8") === 2, lit("click"))
        .otherwise(lit("view")))
    touched.groupBy("attributed_type")
      .agg(count(lit(1)).as("n_purchases"),
        sum(expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).as("revenue_cents"))
  }

  /** q229: Mann–Whitney U — the two-sample rank test completing the
    * nonparametric family (Spearman q179 ranks two variables' pairing,
    * Mann–Kendall q176 ranks one series against time; this ranks two
    * GROUPS against each other): does each event type's `value`
    * distribution differ from the 'view' baseline?
    *
    * Exactness: values become exact cents; ranks live on the PER-VALUE
    * rollup, where a tie group's average rank is the half-integer
    * (2·cum_before + cnt + 1)/2 — so DOUBLED ranks keep everything in
    * BIGINT: 2U₁ = Σc₁·dr − n₁(n₁+1). The tie-corrected variance
    * 12·n(n−1)·Var = n₁n₂((n+1)n(n−1) − Σ(t³−t)) is exact in
    * DECIMAL(38,0)/HUGEINT (n³·n² tops BIGINT past ~50k rows — the
    * q196/q223 widening lesson), and z = (2U₁−n₁n₂)·√(3n(n−1))/√V is
    * the one final double, spelled identically on both engines.
    *
    * Scale shape: one map-side-collapsing rollup onto the (pair,
    * cent-value) domain — bounded by the fixed value range (~50k cents)
    * × 4 pairs, NOT by row count — then windows and sums ride that
    * domain-sized frame. The 4× baseline duplication is a literal pair
    * list, not a join fanout. */
  def qMannWhitney(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val arms = Seq("click", "error", "signup", "purchase")
    val tagged = arms.map { a =>
      ev.filter(col("event_type").isin(a, "view"))
        .select(lit(a).as("pair"),
          (col("event_type") === a).cast("long").as("in_arm"), col("v"))
    }.reduce(_ unionAll _)
    val byValue = tagged.groupBy("pair", "v")
      .agg(sum(col("in_arm")).as("c1"),
        sum(lit(1L) - col("in_arm")).as("c2"))
    val w = Window.partitionBy("pair").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byValue
      .withColumn("cnt", col("c1") + col("c2"))
      .withColumn("cum", sum(col("cnt")).over(w))
      // doubled average rank of the tie group at this value
      .withColumn("dr", lit(2L) * col("cum") - col("cnt") + lit(1L))
    ranked.groupBy("pair")
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * col("dr")).as("r1d"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_term"))
      .withColumn("two_u1", col("r1d") - col("n1") * (col("n1") + 1))
      .withColumn("two_u2", lit(2L) * col("n1") * col("n2") - col("two_u1"))
      .withColumn("n", col("n1") + col("n2"))
      // exact integer 12·n(n−1)·Var in DECIMAL(38,0); z is the one double
      .withColumn("var12", dec(col("n1")) * dec(col("n2")) *
        (dec(col("n") + 1) * dec(col("n")) * dec(col("n") - 1) -
          dec(col("tie_term"))))
      .withColumn("z_score", round(
        when(col("n1") > 0 && col("n2") > 0 && col("var12") > 0,
          (col("two_u1") - col("n1") * col("n2")).cast("double") *
            sqrt(lit(3.0) * d2(col("n")) * d2(col("n") - 1)) /
            sqrt(d2(col("var12"))))
          .otherwise(lit(0.0)), 6))
      .select(col("pair"), col("n1"), col("n2"), col("two_u1"),
        col("two_u2"), col("tie_term"), col("z_score"))
  }

  /** The literal scorer both classifier-eval queries (q230/q231)
    * grade: token count ×100 plus stopword texture (total hits ×10 +
    * distinct hits) — a deterministic integer score whose weights are
    * FIXED LITERALS, so (unlike the learned q84 classifier) the score
    * is SQL-expressible and the eval harness itself can be
    * oracle-checked end to end. The graded label is `n_chars ≥ 300`:
    * a length proxy the score correlates with but doesn't determine —
    * chosen deliberately, because this fixture's text is a uniform
    * bag of the same ~40 words in every document and `lang` is
    * INDEPENDENT of the text (a generator property, the q223
    * lesson's sibling), so a language label would make any
    * calibration flat by construction. Emits
    * (doc_id, is_pos, score_milli). */
  private def proxyScored(s: SparkSession, d: String): DataFrame = {
    val stops = array(Seq("the", "a", "of", "and", "to", "in", "is", "it")
      .map(lit): _*)
    val toks = split(lower(col("text")), "\\s+")
    documents(s, d).select(col("doc_id"),
        size(filter(toks, t => array_contains(stops, t))).cast("long").as("hits"),
        size(array_intersect(array_distinct(toks), stops)).cast("long").as("dhits"),
        size(toks).cast("long").as("n_toks"),
        (col("n_chars") >= 300).cast("long").as("is_pos"))
      .select(col("doc_id"), col("is_pos"),
        expr("n_toks * 100 + hits * 10 + dhits").as("score_milli"))
  }

  /** q230: calibration curve (reliability diagram) — the eval-side
    * verb every quality/language classifier needs before its scores
    * gate a corpus: rank documents by the literal proxy score, cut
    * into 10 equal-count bins under a (score, doc_id) total order,
    * and per bin report observed positive rate (n_chars ≥ 300) vs the
    * bin's score range — monotone lift across bins = the score ranks
    * well; rate ≈ score only if calibrated.
    *
    * Exactness: integer score, rank-based equal-count binning
    * ((rn−1)·10 div n — no float quantile edges), rates as exact ppm.
    *
    * Scale shape: the score is one codegen'd scan; the global rank is
    * the one range-exchange (a q148-style refinement loop replaces it
    * past single-sort scale); bins collapse map-side onto 10 groups. */
  def qCalibration(s: SparkSession, d: String): DataFrame = {
    val n = Window.orderBy(col("score_milli"), col("doc_id"))
    proxyScored(s, d)
      .withColumn("rn", row_number().over(n).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("decile", expr("(rn - 1) * 10 div n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("is_pos")).as("n_pos"),
        min(col("score_milli")).as("min_score"),
        max(col("score_milli")).as("max_score"),
        sum(col("score_milli")).as("sum_score"))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        expr("n_pos * 1000000 div n_docs").as("pos_rate_ppm"),
        expr("sum_score div n_docs").as("avg_score_milli"),
        col("min_score"), col("max_score"))
  }

  /** q231: precision/recall threshold sweep — the other half of the
    * classifier-eval harness: operating points at the nine decile
    * cuts of the score's DESC rank order, each with exact TP/FP/FN
    * counts and ppm precision/recall/F1.
    *
    * The sweep never touches fact rows twice: ONE groupBy collapses
    * documents onto the bounded score domain ([0,9000] — fixed by the
    * score's construction, not by corpus size), and thresholds,
    * cumulative counts and all nine operating points ride that
    * domain-sized rollup (threshold k = the smallest score whose
    * desc-cumulative count reaches rank ⌊k·n/10⌋ — the doc at that
    * rank has exactly that score, so `score ≥ t_k` reproduces
    * rank-cut semantics without ranking docs at all). */
  def qPrCurve(s: SparkSession, d: String): DataFrame = {
    val byScore = proxyScored(s, d)
      .groupBy("score_milli")
      .agg(count(lit(1)).as("cnt"), sum(col("is_pos")).as("pos"))
    val wDesc = Window.orderBy(col("score_milli").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byScore
      .withColumn("cum_cnt", sum(col("cnt")).over(wDesc))
      .withColumn("cum_pos", sum(col("pos")).over(wDesc))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
      .withColumn("total_pos", sum(col("pos")).over(Window.partitionBy()))
    val ks = s.range(1, 10).toDF("k")
    cum.join(broadcast(ks), expr("cum_cnt >= greatest(k * n div 10, 1)"))
      // smallest qualifying cumulative count = the highest qualifying
      // score = the threshold row for k (score is unique per rollup row,
      // so the struct max is the lexicographic argmax on score)
      .groupBy(col("k"))
      .agg(max(struct(col("score_milli"), col("cum_cnt"), col("cum_pos"),
        col("n"), col("total_pos"))).as("at"))
      .select(col("k"), col("at.score_milli").as("threshold_milli"),
        col("at.cum_pos").as("tp"),
        (col("at.cum_cnt") - col("at.cum_pos")).as("fp"),
        (col("at.total_pos") - col("at.cum_pos")).as("fn"),
        expr("at.cum_pos * 1000000 div at.cum_cnt").as("precision_ppm"),
        expr("at.cum_pos * 1000000 div greatest(at.total_pos, 1)")
          .as("recall_ppm"))
      .withColumn("f1_ppm",
        expr("""CASE WHEN precision_ppm + recall_ppm > 0
                THEN 2 * precision_ppm * recall_ppm
                     div (precision_ppm + recall_ppm)
                ELSE 0 END"""))
  }

  /** q232: exact ROC AUC — the threshold-free summary completing the
    * classifier-eval trio (q230 calibration, q231 operating points,
    * this one number): the probability a random positive outranks a
    * random negative, ties counted half. Computed from the SAME
    * rank identity that powers q229 — tie-averaged doubled ranks on
    * the score-domain rollup give 2U = Σpos·dr − n₁(n₁+1), and
    * AUC = U/(n₁n₀), which equals the trapezoidal ROC integral
    * exactly (no curve is ever materialized).
    *
    * Exactness: integer score, doubled ranks in BIGINT, and the ppm
    * division widened to DECIMAL(38,0)/HUGEINT (2U·10⁶ ≈ n²·10⁶ tops
    * BIGINT past ~3M docs — the q219 widening lesson). Gini = 2·AUC−1
    * derives from the integer ppm, not a second float path.
    *
    * Scale shape: one map-side-collapsing rollup onto the bounded
    * score domain; the rank window and the final fold ride that
    * domain-sized frame — nothing row-sized ever sorts. */
  def qRocAuc(s: SparkSession, d: String): DataFrame = {
    val byScore = proxyScored(s, d)
      .groupBy("score_milli")
      .agg(count(lit(1)).as("cnt"), sum(col("is_pos")).as("pos"))
    val w = Window.orderBy("score_milli")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cum", sum(col("cnt")).over(w))
      // doubled average rank of the tie group at this score
      .withColumn("dr", lit(2L) * col("cum") - col("cnt") + lit(1L))
      .agg(sum(col("pos")).as("n_pos"),
        sum(col("cnt") - col("pos")).as("n_neg"),
        sum(col("pos") * col("dr")).as("r1d"))
      .withColumn("two_u", col("r1d") - col("n_pos") * (col("n_pos") + 1))
      .withColumn("auc_ppm",
        expr("""CAST(CAST(two_u AS DECIMAL(38,0)) * 1000000
                div (CAST(n_pos AS DECIMAL(38,0))
                     * CAST(n_neg AS DECIMAL(38,0)) * 2) AS BIGINT)"""))
      .withColumn("gini_ppm", lit(2L) * col("auc_ppm") - lit(1000000L))
      .select(col("n_pos"), col("n_neg"), col("two_u"), col("auc_ppm"),
        col("gini_ppm"))
  }

  /** q233: Kruskal–Wallis H — the k-group generalization closing the
    * rank-test family (q179 ranks a pairing, q176 ranks against time,
    * q229 ranks two groups; this ranks ALL groups at once): do the
    * five event types draw `value` from the same distribution?
    *
    * Exactness: the q229 discipline verbatim — cent values, global
    * tie-averaged DOUBLED ranks on the (value)-domain rollup, so every
    * per-group rank sum 2Rᵢ is BIGINT-exact, as is the tie term
    * Σ(t³−t). H = [3/(n(n+1))·Σ(2Rᵢ)²/nᵢ − 3(n+1)] / (1−T/(n³−n))
    * folds k=5 per-group doubles in a final scalar step (the q183
    * ≤120-term precedent; rounded at 6 decimals).
    *
    * Scale shape: ONE rollup onto the bounded cent domain (counts per
    * (value, type) ride a k-wide conditional-sum row, so the global
    * rank window never sees more than |domain| rows); group sums and
    * the H fold are domain-sized. */
  def qKruskalWallis(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val byValue = ev.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
    // global (cross-type) rank structure on the value domain
    val byV = byValue.groupBy("v").agg(sum(col("c")).as("cnt"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byV
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("dr", lit(2L) * col("cum") - col("cnt") + lit(1L))
    val perGroup = byValue.join(ranked.select("v", "dr"), Seq("v"))
      .groupBy("event_type")
      .agg(sum(col("c")).as("n_i"), sum(col("c") * col("dr")).as("two_r"))
    val glob = ranked
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_term"))
    val h = perGroup.crossJoin(broadcast(glob))
      .agg(round(
        (sum(d2(col("two_r")) * d2(col("two_r")) / d2(col("n_i")))
          * lit(3.0) / (d2(max(col("n"))) * d2(max(col("n")) + 1))
          - lit(3.0) * d2(max(col("n")) + 1))
        / (lit(1.0) - d2(max(col("tie_term")))
            / (d2(max(col("n"))) * d2(max(col("n"))) * d2(max(col("n")))
               - d2(max(col("n"))))), 6).as("h_stat"))
    perGroup.crossJoin(broadcast(glob)).crossJoin(broadcast(h))
      .select(col("event_type"), col("n_i"), col("two_r"), col("n"),
        col("tie_term"), col("h_stat"))
  }

  /** q234: Welch's t-test — the parametric complement to q229 for the
    * same A/B question (each event type's `value` vs the 'view'
    * baseline), the test teams actually run when means, not whole
    * distributions, are the decision variable. Unequal variances
    * assumed (the real-world default; pooled-variance Student is a
    * special case nobody should ship).
    *
    * Exactness: sufficient statistics only — n, Σv, Σv² in exact
    * cents, with Σv² widened to DECIMAL(38,0) (v²≈2.5e9 per row tops
    * BIGINT past ~4B rows; the q196 widening lesson applied BEFORE it
    * bites). t and the Welch–Satterthwaite df are the two final
    * doubles, spelled identically on both engines from the same
    * integer inputs, rounded at 6.
    *
    * Scale shape: one map-side-collapsing rollup to k rows; the 4×
    * baseline pairing is a literal list, not a join fanout. */
  def qWelchT(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val arms = Seq("click", "error", "signup", "purchase")
    val tagged = arms.map { a =>
      ev.filter(col("event_type").isin(a, "view"))
        .select(lit(a).as("pair"),
          (col("event_type") === a).cast("long").as("in_arm"), col("v"))
    }.reduce(_ unionAll _)
    val stats = tagged.groupBy("pair")
      .agg(sum(col("in_arm")).as("n1"),
        sum(lit(1L) - col("in_arm")).as("n2"),
        sum(col("in_arm") * col("v")).as("s1"),
        sum((lit(1L) - col("in_arm")) * col("v")).as("s2"),
        sum(dec(col("in_arm") * col("v") * col("v"))).as("q1"),
        sum(dec((lit(1L) - col("in_arm")) * col("v") * col("v"))).as("q2"))
    // per-arm mean and unbiased variance as doubles from exact sums;
    // a = s²₁/n₁, b = s²₂/n₂ — the Welch pieces
    stats
      .withColumn("va", (d2(col("q1")) - d2(col("s1")) * d2(col("s1")) / d2(col("n1")))
        / (d2(col("n1")) - lit(1.0)) / d2(col("n1")))
      .withColumn("vb", (d2(col("q2")) - d2(col("s2")) * d2(col("s2")) / d2(col("n2")))
        / (d2(col("n2")) - lit(1.0)) / d2(col("n2")))
      .withColumn("t_stat", round(
        (d2(col("s1")) / d2(col("n1")) - d2(col("s2")) / d2(col("n2")))
          / sqrt(col("va") + col("vb")), 6))
      .withColumn("welch_df", round(
        (col("va") + col("vb")) * (col("va") + col("vb"))
          / (col("va") * col("va") / (d2(col("n1")) - lit(1.0))
             + col("vb") * col("vb") / (d2(col("n2")) - lit(1.0))), 4))
      .select(col("pair"), col("n1"), col("n2"), col("s1").as("sum1_cents"),
        col("s2").as("sum2_cents"), col("t_stat"), col("welch_df"))
  }

  /** q243: chi-square independence statistic over the q159
    * contingency table (lang × source) — the GLOBAL test completing
    * that audit's per-cell residual diagnostics: one number answering
    * "is language independent of source at all", with its degrees of
    * freedom.
    *
    * Exactness: χ² = Σ (O·N − r·c)²/(N·r·c) — every numerator and
    * denominator is an exact integer, so each cell's contribution is
    * computed as a FLOORED ppm integer division (widened to
    * DECIMAL(38,0)/HUGEINT: the squared term ·10⁶ tops BIGINT near
    * O·N ≈ 3e6) and the statistic is their exact integer sum — a
    * defined, engine-identical quantity within |cells| ppm of the
    * real-valued χ²·10⁶ (the same floor-per-term trade as q231's
    * ppm F1). No float ever enters.
    *
    * Scale shape: one cells rollup (map-side to |langs|·|sources|
    * rows); margins derive FROM the cells; the fold is cell-sized. */
  def qChiSquare(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d).groupBy("lang", "source")
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("lang").agg(sum("o").as("r"))
    val cols = cells.groupBy("source").agg(sum("o").as("c"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val nl = rows.agg(count(lit(1)).as("n_langs"))
    val ns = cols.agg(count(lit(1)).as("n_sources"))
    cells.join(broadcast(rows), Seq("lang"))
      .join(broadcast(cols), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(expr("""CAST(CAST(o * n - r * c AS DECIMAL(38,0))
                      * CAST(o * n - r * c AS DECIMAL(38,0)) * 1000000
                      div (CAST(n AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))
                           * CAST(c AS DECIMAL(38,0))) AS BIGINT)""")
        .as("cell_ppm"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cell_ppm")).as("chi2_ppm"))
      .crossJoin(broadcast(nl)).crossJoin(broadcast(ns))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("n_cells"),
        ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"),
        col("chi2_ppm"))
  }

  /** q244: one-way ANOVA F across event types on `value` — the
    * k-group parametric member completing the test family (q234
    * Welch pairs means, q233 Kruskal–Wallis ranks all groups; this is
    * the variance decomposition every A/B/n readout starts from).
    *
    * Exactness: per-group sufficient statistics only (n, Σv exact
    * cents; the global Σv² widened to DECIMAL(38,0)); SSB = Σsᵢ²/nᵢ −
    * S²/N and SSW = Σv² − Σsᵢ²/nᵢ fold k=5 per-group doubles from
    * exact integers in a final scalar step (the q183/q233 precedent),
    * F = (SSB/(k−1))/(SSW/(N−k)) rounded at 6.
    *
    * Scale shape: one map-side-collapsing rollup to k rows; the fold
    * is k-sized. */
  def qAnovaF(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val g = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_i"), sum(col("v")).as("s_i"),
        sum(dec(col("v") * col("v"))).as("q_i"))
    val f = g.agg(
        sum(col("n_i")).as("n"), count(lit(1)).as("k"),
        sum(col("s_i")).as("s"), d2(sum(col("q_i"))).as("q"),
        sum(d2(col("s_i")) * d2(col("s_i")) / d2(col("n_i"))).as("a"))
      .select(col("n"), col("k"),
        round((col("a") - d2(col("s")) * d2(col("s")) / d2(col("n")))
          / (d2(col("k")) - lit(1.0)) /
          ((col("q") - col("a")) / (d2(col("n")) - d2(col("k")))), 6)
          .as("f_stat"))
    g.crossJoin(broadcast(f))
      .select(col("event_type"), col("n_i"), col("s_i").as("sum_cents"),
        col("n"), col("k"), col("f_stat"))
  }

  /** q246: Cramér's V over the lang×source contingency — the EFFECT
    * SIZE the q243 chi-square readout needs beside it (χ² grows with
    * N, so a dashboard that alerts on χ² alone pages more as traffic
    * grows; V = √(χ²/(N·min(r−1,c−1))) is the [0,1] association
    * strength that doesn't).
    *
    * Exactness: the χ² numerator is q243's exact floored-ppm integer
    * sum (engine-identical by construction); V is then ONE final
    * double — √(chi2_ppm/10⁶/(N·m)) — spelled identically on both
    * engines, so determinism is inherited rather than re-argued.
    *
    * Scale shape: q243's — one cells rollup (map-side collapsing to
    * |langs|·|sources| rows), broadcast marginals, a k-cell fold. */
  def qCramersV(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d).groupBy("lang", "source")
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("lang").agg(sum("o").as("r"))
    val cols = cells.groupBy("source").agg(sum("o").as("c"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val dims = rows.agg(count(lit(1)).as("n_langs"))
      .crossJoin(cols.agg(count(lit(1)).as("n_sources")))
    cells.join(broadcast(rows), Seq("lang"))
      .join(broadcast(cols), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(expr("""CAST(CAST(o * n - r * c AS DECIMAL(38,0))
                      * CAST(o * n - r * c AS DECIMAL(38,0)) * 1000000
                      div (CAST(n AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))
                           * CAST(c AS DECIMAL(38,0))) AS BIGINT)""")
        .as("cell_ppm"))
      .agg(sum(col("cell_ppm")).as("chi2_ppm"))
      .crossJoin(broadcast(dims)).crossJoin(broadcast(tot))
      .select(col("n"), col("chi2_ppm"),
        least(col("n_langs") - 1, col("n_sources") - 1).as("min_dim"),
        round(sqrt(d2(col("chi2_ppm")) / lit(1000000.0)
          / (d2(col("n"))
             * d2(least(col("n_langs") - 1, col("n_sources") - 1)))), 6)
          .as("cramers_v"))
  }

  /** q247: Cohen's kappa between q21's heuristic language predictor
    * and the corpus's labeled `lang` — the inter-rater/
    * classifier-agreement verb of the eval harness (q230 calibration,
    * q231 PR, q232 AUC grade a SCORE; kappa grades a hard LABELING
    * against chance agreement, the readout a labeling-pipeline audit
    * starts from).
    *
    * Exactness: kappa has an exact RATIONAL form — κ = (N·Σdiag −
    * Σᵢrᵢcᵢ)/(N² − Σᵢrᵢcᵢ) with rᵢ,cᵢ the pred/truth marginals over
    * the UNION of label spaces — so everything up to the last division
    * is exact integer arithmetic (DECIMAL(38,0)/HUGEINT-widened);
    * po/pe are emitted as exact floored ppm and κ as the one final
    * double. The fixture generator draws `lang` independently of the
    * word bag (the q230 precedent), so κ≈0 is the EXPECTED reading —
    * the harness, not the predictor, is what the gate checks; the
    * double form keeps a negative κ sign-safe where floored integer
    * division would not be.
    *
    * Scale shape: one document scan (the predictor is codegen'd
    * set-intersection), a |labels|² cells rollup, broadcast marginals. */
  def qCohenKappa(s: SparkSession, d: String): DataFrame = {
    val pairs = documents(s, d).select(
      graft.functions.langId(col("text")).as("pred"),
      col("lang").as("truth"))
    val cells = pairs.groupBy("pred", "truth").agg(count(lit(1)).as("o"))
    val tot = cells.agg(sum(col("o")).as("n"),
      sum(when(col("pred") === col("truth"), col("o")).otherwise(lit(0L)))
        .as("agree"))
    val rm = cells.groupBy(col("pred").as("cls")).agg(sum("o").as("r"))
    val cm = cells.groupBy(col("truth").as("cls")).agg(sum("o").as("c"))
    val pe = rm.join(cm, Seq("cls"), "full_outer")
      .agg(sum(dec(coalesce(col("r"), lit(0L)))
        * dec(coalesce(col("c"), lit(0L)))).as("pe_num"))
    tot.crossJoin(broadcast(pe))
      .select(col("n"), col("agree").as("n_agree"),
        col("pe_num").cast("long").as("pe_num"),
        expr("CAST(agree * 1000000 div n AS BIGINT)").as("po_ppm"),
        expr("""CAST(pe_num * 1000000
                div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))
                AS BIGINT)""").as("pe_ppm"),
        round(d2(dec(col("n")) * dec(col("agree")) - col("pe_num"))
          / d2(dec(col("n")) * dec(col("n")) - col("pe_num")), 6)
          .as("kappa"))
  }

  /** q248: Brown–Forsythe (median-centered Levene) test for variance
    * homogeneity across event types — the check that must PASS before
    * q244's ANOVA F is readable (pooled-variance F assumes equal
    * group variances; this is the robust standard test of that
    * assumption, Brown & Forsythe JASA'74).
    *
    * Exactness: the group median is the exact LOWER MEDIAN read off
    * the value-domain rollup (smallest cent value whose cumulative
    * count reaches ⌈n/2⌉ — integer compare 2·cum ≥ n, no
    * interpolation), absolute deviations are exact integers, and the
    * one-way F on deviations folds q244's exact sufficient statistics
    * — W is the one final double, spelled identically.
    *
    * Scale shape: ranks/cumsums live on the VALUE-DOMAIN rollup
    * (bounded by the cent range, q229's argument), never on raw rows;
    * the deviation statistics then collapse map-side on the same
    * rollup. */
  def qLevene(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val cnt = ev.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cnt.withColumn("cum", sum(col("c")).over(w))
    val ns = cnt.groupBy("event_type").agg(sum(col("c")).as("n_tot"))
    val med = cum.join(broadcast(ns), Seq("event_type"))
      .filter(col("cum") * 2 >= col("n_tot"))
      .groupBy("event_type").agg(min(col("v")).as("med"))
    val dev = cnt.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("c"), col("med"),
        abs(col("v") - col("med")).as("z"))
    val g = dev.groupBy("event_type")
      .agg(count(lit(1)).as("n_vals"), sum(col("c")).as("n_i"),
        sum(col("c") * col("z")).as("s_i"),
        sum(dec(col("c")) * dec(col("z")) * dec(col("z"))).as("q_i"),
        min(col("med")).as("med"))
    val f = g.agg(
        sum(col("n_i")).as("n"), count(lit(1)).as("k"),
        sum(col("s_i")).as("s"), d2(sum(col("q_i"))).as("q"),
        sum(d2(col("s_i")) * d2(col("s_i")) / d2(col("n_i"))).as("a"))
      .select(col("n"), col("k"),
        round((col("a") - d2(col("s")) * d2(col("s")) / d2(col("n")))
          / (d2(col("k")) - lit(1.0)) /
          ((col("q") - col("a")) / (d2(col("n")) - d2(col("k")))), 6)
          .as("w_stat"))
    g.crossJoin(broadcast(f))
      .select(col("event_type"), col("n_i"), col("med").as("med_cents"),
        col("s_i").as("sum_absdev"), col("n"), col("k"), col("w_stat"))
  }

  /** q249: lagged cross-correlation (CCF) between daily event volume
    * and daily revenue — the lead/lag dependence readout completing
    * the time-series family (q157 autocorrelates ONE series with
    * itself; this correlates TWO series at lags 0–7, the "does volume
    * lead spend?" question every ops dashboard asks).
    *
    * Exactness: per lag the Pearson sufficient statistics (n, Σx, Σy,
    * Σxy, Σx², Σy²) are exact integers over the matched day pairs
    * (Σy² DECIMAL(38,0)-widened — cents² overflows BIGINT at ~100×);
    * r is the one final double, numerator and the two variance terms
    * each an exact integer cast once.
    *
    * Scale shape: the series is the CALENDAR-BOUNDED daily rollup
    * (one map-side-collapsing groupBy of the fact table), so the
    * 8-lag self-join multiplies days×lags, not rows — the q174/q157
    * trade. */
  def qCrossCorrelation(s: SparkSession, d: String, maxLag: Int = 7): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).as("y"))
      .localCheckpoint()
    val lags = (0 to maxLag).toDF("lag")
    val t = lags.crossJoin(daily.select(col("day"), col("x").as("a")))
    val pairs = t.join(
      daily.select(col("day").as("sday"), col("y").as("b")),
      col("sday") === date_sub(col("day"), col("lag")))
    pairs.groupBy("lag")
      .agg(count(lit(1)).as("n_days"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(dec(col("a")) * dec(col("b"))).as("sab"),
        sum(dec(col("a")) * dec(col("a"))).as("saa"),
        sum(dec(col("b")) * dec(col("b"))).as("sbb"))
      .select(col("lag"), col("n_days"),
        col("sa").as("sum_x"), col("sb").as("sum_y"),
        round(d2(dec(col("n_days")) * col("sab") - dec(col("sa")) * dec(col("sb")))
          / sqrt(d2(dec(col("n_days")) * col("saa") - dec(col("sa")) * dec(col("sa")))
            * d2(dec(col("n_days")) * col("sbb") - dec(col("sb")) * dec(col("sb")))), 6)
          .as("ccf"))
  }

  /** q250: seasonal-naive forecast error (the MASE readout, Hyndman &
    * Koehler IJF'06) per event type — the forecast-baseline eval the
    * capacity-planning side of a pipeline runs: how much worse is
    * "same as last week" (lag 7) than "same as yesterday" (lag 1) at
    * predicting daily volume. MASE < 1 reads "weekly structure beats
    * daily persistence".
    *
    * Exactness: both absolute-error sums are exact BIGINTs over
    * calendar-matched day pairs (inner join on day−ℓ — gaps shrink
    * the matched set on both engines identically); the scaled ratio
    * (Σ|e₇|/n₇)/(Σ|e₁|/n₁) is the one final double.
    *
    * Scale shape: everything lives on the calendar-bounded per-type
    * daily rollup; two self-joins of that rollup, then a k-row fold. */
  def qSeasonalError(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint()
    def lagErr(l: Int, nName: String, sName: String): DataFrame =
      daily.as("t").join(
          daily.select(col("event_type"), col("day").as("sday"),
            col("y").as("yl")).as("s"),
          col("t.event_type") === col("s.event_type") &&
            col("sday") === date_sub(col("day"), l))
        .groupBy(col("t.event_type").as("event_type"))
        .agg(count(lit(1)).as(nName),
          sum(abs(col("y") - col("yl"))).as(sName))
    lagErr(1, "n1", "sae1").join(lagErr(7, "n7", "sae7"), Seq("event_type"))
      .select(col("event_type"), col("n1"), col("sae1"),
        col("n7"), col("sae7"),
        round((d2(col("sae7")) / d2(col("n7")))
          / (d2(col("sae1")) / d2(col("n1"))), 6).as("mase"))
  }

  /** q252: deterministic half-sample replication CI for the per-type
    * mean — the uncertainty readout the experimentation family lacked
    * (q208/q234 TEST a difference; this puts a band on the estimate
    * itself, the number a dashboard shows next to every mean). B=32
    * replicates: row r joins replicate b iff bit b of the first 32
    * md5 bits of its event_id is set — each replicate is a
    * ~half-sample, and membership is a pure function of the row, so
    * the whole procedure is reproducible on any engine, any
    * partitioning, any day (the q60/q118 hash-sampling discipline
    * applied to resampling; Politis–Romano subsampling, not Efron
    * bootstrap — no RNG exists that two engines would share). The
    * band is the [2nd, 31st] of the 32 sorted replicate means —
    * the ~6%/94% subsampling interval.
    *
    * Exactness: replicate sums/counts are exact integers computed as
    * 64 CONDITIONAL AGGREGATES in one fact-table pass (no 32× row
    * explode — the scale-relevant choice; the oracle uses the explode
    * formulation, deliberately different plan, same math); each
    * replicate mean is one double division; the rank pick is integer.
    *
    * Scale shape: ONE map-side-collapsing groupBy of the fact table
    * to |types| rows × 64 columns; everything after is k-sized. */
  def qSubsampleCi(s: SparkSession, d: String, b: Int = 32): DataFrame = {
    require(b >= 4 && b <= 32, "replicate bits must fit the 32-bit hash prefix")
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"),
      expr("""CAST(conv(substring(md5(CAST(CAST(event_id AS STRING) AS BINARY)),
              1, 8), 16, 10) AS BIGINT)""").as("h"))
    val aggs: Seq[Column] = (0 until b).flatMap { i =>
      val bit = expr(s"(shiftright(h, $i) & 1) = 1")
      Seq(sum(when(bit, col("v"))).as(s"s$i"),
        count(when(bit, lit(1))).as(s"n$i"))
    }
    val g = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv") +: aggs: _*)
    val means = g.select(col("event_type"), col("n"), col("sv"),
      explode(array((0 until b).map(i => struct(lit(i).as("b"),
        (d2(col(s"s$i")) / d2(col(s"n$i"))).as("m"))): _*)).as("r"))
      .select(col("event_type"), col("n"), col("sv"),
        col("r.b").as("b"), col("r.m").as("m"))
    val w = Window.partitionBy("event_type").orderBy(col("m"), col("b"))
    means.withColumn("rk", row_number().over(w))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"), max(col("sv")).as("sum_cents"),
        max(when(col("rk") === 2, col("m"))).as("lo"),
        max(when(col("rk") === b - 1, col("m"))).as("hi"))
      .select(col("event_type"), col("n"), col("sum_cents"),
        round(d2(col("sum_cents")) / d2(col("n")) / lit(100.0), 6).as("mean"),
        round(col("lo") / lit(100.0), 6).as("ci_lo"),
        round(col("hi") / lit(100.0), 6).as("ci_hi"))
  }

  /** q255: Jensen–Shannon divergence between every source pair's
    * language distribution — the SYMMETRIC, bounded member completing
    * the divergence family (PSI q190 needs smoothing, KS q136 needs
    * an ordered domain, MI q183 is global; JSD is the pairwise
    * corpus-mix comparison a dataset-mixing pipeline reads before
    * re-weighting sources, Lin IEEE-IT'91).
    *
    * Exactness: cell counts ride a zero-filled |sources|×|langs| grid
    * (missing cells are REAL zeros — p·ln(p/m) → 0 limit, guarded on
    * both engines); each pair's JSD folds ≤ 2·|langs| double terms
    * from exact integers (the q183 k-term precedent; driver compares
    * at 1e-6). Emitted in nats; JSD ≤ ln 2 ≈ 0.6931 pinned by spec.
    *
    * Scale shape: one documents rollup to |sources|·|langs| cells;
    * the pair join is |sources|²-bounded — dashboard-sized. */
  def qJsDivergence(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d).groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
    val grid = cells.select("source").distinct()
      .crossJoin(cells.select("lang").distinct())
      .join(cells, Seq("source", "lang"), "left_outer")
      .select(col("source"), col("lang"),
        coalesce(col("c"), lit(0L)).as("c"))
    val tot = grid.groupBy("source").agg(sum(col("c")).as("n"))
    val a = grid.join(tot, Seq("source"))
      .select(col("source").as("sa"), col("lang"), col("c").as("ca"),
        col("n").as("na"))
    val b = grid.join(tot, Seq("source"))
      .select(col("source").as("sb"), col("lang"), col("c").as("cb"),
        col("n").as("nb"))
    val p = d2(col("ca")) / d2(col("na"))
    val q = d2(col("cb")) / d2(col("nb"))
    val m = (p + q) / lit(2.0)
    val term = when(col("ca") > 0, p * log(p / m)).otherwise(lit(0.0)) +
      when(col("cb") > 0, q * log(q / m)).otherwise(lit(0.0))
    a.join(b, Seq("lang")).filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        round(sum(term) / lit(2.0), 6).as("jsd_nats"))
  }

  /** q258: RFM segmentation — the classic engagement-marketing cube
    * (recency / frequency / monetary quintiles per user, Hughes '94)
    * as the family's user-segmentation verb: per user the three
    * metrics, each cut into quintiles, users counted per (R,F,M)
    * cell.
    *
    * Quintiles WITHOUT ranking users: each metric's four cut points
    * are read off its VALUE-DOMAIN rollup (smallest value whose
    * cumulative count reaches ⌈q·n/5⌉ — integer compare 5·cum ≥ q·n,
    * q248's median rule generalized), and a user's quintile is
    * 1 + Σ(value > cut_q) — so ties share a quintile by construction
    * (q231's rank-cut-without-ranking semantics), cells are exact
    * integers, and no engine ever global-sorts the user table.
    *
    * Scale shape: one user rollup (map-side collapsing), three
    * bounded value-domain cumsums, broadcast cut points, one cell
    * rollup. */
  def qRfmSegments(s: SparkSession, d: String): DataFrame = {
    val perUser = events(s, d).groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).as("money"))
      .crossJoin(broadcast(
        events(s, d).agg(max(unix_micros(col("ts"))).as("gmax"))))
      .select(col("user_id"),
        expr("(gmax - last_us) div 86400000000L").as("rec_days"),
        col("freq"), col("money"))
      .localCheckpoint()
    def cuts(metric: String): DataFrame = {
      val cnt = perUser.groupBy(col(metric).as("v"))
        .agg(count(lit(1)).as("c"))
      val cum = cnt.withColumn("cum", sum(col("c")).over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      val n = cnt.agg(sum(col("c")).as("n_tot"))
      val qs = (1 to 4).map { q =>
        min(when(col("cum") * 5 >= col("n_tot") * q, col("v")))
          .as(s"${metric}_c$q")
      }
      cum.crossJoin(broadcast(n)).agg(qs.head, qs.tail: _*)
    }
    def quintile(metric: String): Column =
      lit(1) + (col(metric) > col(s"${metric}_c1")).cast("int") +
        (col(metric) > col(s"${metric}_c2")).cast("int") +
        (col(metric) > col(s"${metric}_c3")).cast("int") +
        (col(metric) > col(s"${metric}_c4")).cast("int")
    perUser
      .crossJoin(broadcast(cuts("rec_days")))
      .crossJoin(broadcast(cuts("freq")))
      .crossJoin(broadcast(cuts("money")))
      .select(col("user_id"), col("money"),
        quintile("rec_days").as("r_q"), quintile("freq").as("f_q"),
        quintile("money").as("m_q"))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_users"), sum(col("money")).as("sum_cents"))
  }

  /** q262: PSI drift TIMELINE — q190's two-halves drift test turned
    * into the monitor a production pipeline actually runs: the
    * population-stability index of each WEEK's value distribution
    * against the FIRST week's, per event type, so drift has an onset
    * date instead of a verdict. Bin edges are deciles fit on the
    * baseline week only (q190's ntile device — the fit population
    * must be the reference, or the monitor re-fits away the drift it
    * should flag); +1 smoothing on both sides keeps empty bins
    * finite.
    *
    * Exactness: cell counts exact off one (type, week, band) rollup;
    * each (type, week) PSI folds `bands` double terms from exact
    * integers (q183's argument).
    *
    * Scale shape: edges ride in-row as a ≤9-element broadcast array
    * (q190's no-fanout assignment); one fact rollup; the report is
    * types × weeks. */
  def qPsiTimeline(s: SparkSession, d: String, bands: Int = 10): DataFrame = {
    val ev = events(s, d)
      .select(col("event_type"), col("value"), col("event_id"),
        to_date(col("ts")).as("day"))
    val start = ev.agg(min(col("day")).as("d0"))
    val tagged = ev.crossJoin(broadcast(start))
      .withColumn("week", expr("datediff(day, d0) div 7"))
    val base = tagged.filter(col("week") === 0)
    val w = Window.partitionBy("event_type")
      .orderBy(col("value"), col("event_id"))
    val edges = base
      .withColumn("band", ntile(bands).over(w))
      .groupBy("event_type", "band").agg(max("value").as("edge"))
      .filter(col("band") < bands)
    val edgeArr = edges.groupBy("event_type")
      .agg(sort_array(collect_list(col("edge"))).as("earr"))
    val cells = tagged.join(broadcast(edgeArr), Seq("event_type"))
      .select(col("event_type"), col("week"),
        (size(filter(col("earr"), e => e < col("value"))) + 1).as("band"))
      .groupBy("event_type", "week", "band").agg(count(lit(1)).as("cw"))
    // full (type, week, band) grid: a band EMPTY in some week still
    // contributes its smoothed term, or PSI silently shrinks
    import s.implicits._
    val baseCells = cells.filter(col("week") === 0)
      .select(col("event_type"), col("band"), col("cw").as("cb"))
    val gridKeys = tagged.filter(col("week") > 0)
      .select("event_type", "week").distinct()
      .crossJoin(broadcast((1 to bands).toDF("band")))
    val grid = gridKeys
      .join(cells.filter(col("week") > 0),
        Seq("event_type", "week", "band"), "left_outer")
      .join(baseCells, Seq("event_type", "band"), "left_outer")
      .select(col("event_type"), col("week"), col("band"),
        coalesce(col("cw"), lit(0L)).as("cw"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = grid.groupBy("event_type", "week")
      .agg(sum(col("cw")).as("nw"), sum(col("cb")).as("nb"))
    grid.join(broadcast(totals), Seq("event_type", "week"))
      .withColumn("p", (col("cw") + 1).cast("double") /
        (col("nw") + bands).cast("double"))
      .withColumn("q", (col("cb") + 1).cast("double") /
        (col("nb") + bands).cast("double"))
      .groupBy("event_type", "week")
      .agg(max(col("nw")).as("n_events"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6)
          .as("psi"))
  }

  /** q263: two-proportion z-test on conversion — the binary-outcome
    * A/B readout beside q234's continuous-outcome Welch t and q208's
    * CUPED (same `user_id % 2` arms): did arm A convert at a
    * different rate than arm B. The pooled-variance z is the standard
    * first look at any conversion experiment. Conversion = a
    * HIGH-VALUE purchase (raw value ≥ 95) — deliberately, because on
    * this fixture every user has some purchase, so plain conversion
    * saturates at 100% on both arms and the readout would test
    * nothing (the q230 documented-harness precedent).
    *
    * Exactness: per-arm user and converter counts are exact integers
    * off one user rollup; rates are exact floored ppm; z is the one
    * final double, spelled identically.
    *
    * Scale shape: one user-keyed rollup (map-side collapsing), a
    * 2-row fold. */
  def qTwoProportion(s: SparkSession, d: String): DataFrame = {
    val perUser = events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 95,
        1L).otherwise(0L)).as("conv"))
      .withColumn("arm", (col("user_id") % 2).cast("long"))
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val a = arms.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("c").as("conv_a"))
    val b = arms.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("c").as("conv_b"))
    val p1 = d2(col("conv_a")) / d2(col("n_a"))
    val p2 = d2(col("conv_b")) / d2(col("n_b"))
    val pp = d2(col("conv_a") + col("conv_b")) / d2(col("n_a") + col("n_b"))
    // z is undefined when EVERY or NO user converts (pooled variance
    // 0); divide by a NULLed denominator so both engines emit NULL
    // instead of an ANSI divide-by-zero (the repo's guard-every-zero-
    // denominator rule)
    val den = sqrt(pp * (lit(1.0) - pp)
      * (lit(1.0) / d2(col("n_a")) + lit(1.0) / d2(col("n_b"))))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        expr("conv_a * 1000000L div n_a").as("p_a_ppm"),
        expr("conv_b * 1000000L div n_b").as("p_b_ppm"),
        round((p1 - p2) / when(den > 0, den), 6).as("z"))
  }

  /** q264: week-over-week rank movers — the "trending items" readout
    * (which parts jumped the shipment leaderboard this week), the
    * ranking counterpart of q262's distribution drift: per week each
    * part's shipment count ranks (count desc, partkey); parts in
    * consecutive weeks' TOP-100 report their rank delta, top-10
    * climbers per the total order (delta desc, week, part).
    *
    * Exactness: counts and ranks are exact integers; the top-100 cut
    * and the final top-10 are total orders — engine-identical.
    *
    * Scale shape: one (week, part) rollup; the per-week rank window
    * partitions by week over catalog-bounded groups (the documented
    * vocab-bounded-window trade); the movers join is top-100-sized. */
  def qRankMovers(s: SparkSession, d: String, topN: Int = 100,
      topK: Int = 10): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_partkey").as("part"),
        to_date(col("l_shipdate").cast("timestamp")).as("day"))
    val start = li.agg(min(col("day")).as("d0"))
    val weekly = li.crossJoin(broadcast(start))
      .select(col("part"), expr("datediff(day, d0) div 7").as("week"))
      .groupBy("week", "part").agg(count(lit(1)).as("cnt"))
    val ranked = weekly.withColumn("rk", row_number().over(
        Window.partitionBy("week").orderBy(col("cnt").desc, col("part"))))
      .filter(col("rk") <= topN)
    ranked.as("cur").join(
        ranked.select((col("week") + 1).as("week"), col("part"),
          col("rk").as("prev_rk"), col("cnt").as("prev_cnt")).as("prev"),
        Seq("week", "part"))
      .select(col("week"), col("part"), col("rk").as("cur_rank"),
        col("prev_rk").as("prev_rank"),
        (col("prev_rk") - col("rk")).as("delta"),
        col("cnt"), col("prev_cnt"))
      .orderBy(col("delta").desc, col("week"), col("part"))
      .limit(topK)
  }

  /** q268: weekly P50/P90 latency-style percentile timeline — q215's
    * discrete percentiles turned into the monitor shape (q262 tracks
    * the DISTRIBUTION's drift; this tracks the two numbers an SLO
    * dashboard actually plots). Exact ranked-element percentiles per
    * (type, week): p50 = smallest cent value whose cumulative count
    * reaches ⌈n/2⌉ (2·cum ≥ n — q248's integer rule), p90 at ⌈9n/10⌉
    * (10·cum ≥ 9n). No interpolation, no floats.
    *
    * Scale shape: one (type, week, value) rollup; cumsums ride the
    * VALUE-DOMAIN per calendar-bounded (type, week) groups. */
  def qPercentileTimeline(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val start = ev.agg(min(col("day")).as("d0"))
    val keyed = ev.crossJoin(broadcast(start))
      .select(col("event_type"), expr("datediff(day, d0) div 7").as("week"),
        col("v"))
    val cnt = keyed.groupBy("event_type", "week", "v")
      .agg(count(lit(1)).as("c"))
    val cum = cnt.withColumn("cum", sum(col("c")).over(
      Window.partitionBy("event_type", "week").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ns = cnt.groupBy("event_type", "week").agg(sum(col("c")).as("n"))
    cum.join(broadcast(ns), Seq("event_type", "week"))
      .groupBy("event_type", "week")
      .agg(max(col("n")).as("n"),
        min(when(col("cum") * 2 >= col("n"), col("v"))).as("p50_cents"),
        min(when(col("cum") * 10 >= col("n") * 9, col("v"))).as("p90_cents"))
  }

  /** q273: Cohen's d with Hedges' correction — the EFFECT-SIZE readout
    * completing the A/B triplet (q234's Welch t says IS there a
    * difference, q252's CI says how precisely we know the mean, this
    * says how LARGE the difference is in pooled-SD units — the number
    * a launch review actually argues about, since any difference is
    * "significant" at 100 TB). Same each-type-vs-view pairing as q234.
    *
    * Exactness: per-arm (n, Σv, Σv²) exact with Σv² decimal-widened
    * (q234's statistics verbatim); pooled variance, d, and Hedges' g
    * (the small-sample bias factor 1 − 3/(4(n₁+n₂)−9)) are the final
    * doubles, spelled identically.
    *
    * Scale shape: q234's — one conditional-aggregate rollup to k
    * pairs, a k-row fold. */
  def qCohensD(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val arms = Seq("click", "error", "signup", "purchase")
    val tagged = arms.map { a =>
      ev.filter(col("event_type").isin(a, "view"))
        .select(lit(a).as("pair"),
          (col("event_type") === a).cast("long").as("in_arm"), col("v"))
    }.reduce(_ unionAll _)
    val stats = tagged.groupBy("pair")
      .agg(sum(col("in_arm")).as("n1"),
        sum(lit(1L) - col("in_arm")).as("n2"),
        sum(col("in_arm") * col("v")).as("s1"),
        sum((lit(1L) - col("in_arm")) * col("v")).as("s2"),
        sum(dec(col("in_arm") * col("v") * col("v"))).as("q1"),
        sum(dec((lit(1L) - col("in_arm")) * col("v") * col("v"))).as("q2"))
    // per-arm SUMS of squared deviations (not variances): ss = Σv² − S²/n
    val ss1 = d2(col("q1")) - d2(col("s1")) * d2(col("s1")) / d2(col("n1"))
    val ss2 = d2(col("q2")) - d2(col("s2")) * d2(col("s2")) / d2(col("n2"))
    val sp = sqrt((ss1 + ss2) / (d2(col("n1")) + d2(col("n2")) - lit(2.0)))
    val dEff = (d2(col("s1")) / d2(col("n1")) - d2(col("s2")) / d2(col("n2"))) /
      when(sp > 0, sp)
    val hedges = lit(1.0) - lit(3.0) /
      (lit(4.0) * (d2(col("n1")) + d2(col("n2"))) - lit(9.0))
    stats.select(col("pair"), col("n1"), col("n2"),
      col("s1").as("sum1_cents"), col("s2").as("sum2_cents"),
      round(dEff, 6).as("cohens_d"),
      round(dEff * hedges, 6).as("hedges_g"))
  }

  /** q271: equi-depth histogram edges — the binning artifact q221's
    * equi-WIDTH histogram can't provide for skewed data (equal-count
    * bins put resolution where the mass is; these edges are what
    * q190/q262 fit internally, exported as a first-class artifact a
    * downstream featurizer consumes). Edge j = the exact
    * ⌈j·n/10⌉-th smallest cent value per type (integer rule
    * 10·cum ≥ j·n — q268's device per decile).
    *
    * Scale shape: one value-domain rollup + its bounded cumsum; the
    * output is types × 9 rows. */
  def qEquidepthEdges(s: SparkSession, d: String, bands: Int = 10): DataFrame = {
    import s.implicits._
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val cnt = ev.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
    val cum = cnt.withColumn("cum", sum(col("c")).over(
      Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ns = cnt.groupBy("event_type").agg(sum(col("c")).as("n"))
    val js = (1 until bands).toDF("j")
    cum.join(broadcast(ns), Seq("event_type"))
      .crossJoin(broadcast(js))
      .filter(col("cum") * bands >= col("j") * col("n"))
      .groupBy("event_type", "j")
      .agg(max(col("n")).as("n"), min(col("v")).as("edge_cents"))
  }

  /** q272: two-sample Anderson–Darling (tie-adjusted, Scholz &
    * Stephens JASA'87 midrank version with k=2) on purchase vs view
    * values — the tail-sensitive complement completing the
    * distribution-test family (KS q136 weighs the middle; AD weighs
    * the tails, where pricing anomalies live).
    *
    * Exactness via the q229 DOUBLING device: with distinct pooled
    * values as blocks, 2H̄_j = 2·cumBefore + h_j and 2B̄_aj =
    * 2·cumBefore_a + b_aj are exact integers, and each block's term
    * reduces to h_j·X²/Y with X = N·2B̄ − n_a·2H̄ and Y =
    * 2H̄·(2N − 2H̄) − N·h_j — both exact BIGINTs cast to double once
    * (X ≤ ~10¹⁴ at 100×, inside double's exact-integer range). A² is
    * the one final double; Y can reach 0 only in the degenerate
    * one-distinct-value corpus — such a term is guarded out.
    *
    * Scale shape: everything rides the VALUE-DOMAIN rollup (bounded
    * by the cent range); one bounded cumsum window, one k·L-term
    * fold. */
  def qAndersonDarling(s: SparkSession, d: String,
      typeA: String = "purchase", typeB: String = "view"): DataFrame = {
    val ev = events(s, d)
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val cells = ev.groupBy("v")
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("ba"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("bb"))
      .withColumn("h", col("ba") + col("bb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("h2", sum(col("h")).over(w) * 2 - col("h"))
      .withColumn("ba2", sum(col("ba")).over(w) * 2 - col("ba"))
      .withColumn("bb2", sum(col("bb")).over(w) * 2 - col("bb"))
    val tot = cells.agg(sum(col("ba")).as("na"), sum(col("bb")).as("nb"),
      count(lit(1)).as("nblocks"))
    val joined = cum.crossJoin(broadcast(tot))
      .withColumn("nn", col("na") + col("nb"))
    def term(b2: Column, n_a: Column): Column = {
      val x = d2(col("nn") * b2 - n_a * col("h2"))
      val y = d2(col("h2") * (lit(2) * col("nn") - col("h2"))
        - col("nn") * col("h"))
      when(y > 0, d2(col("h")) * x * x / y).otherwise(lit(0.0))
    }
    joined
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("nblocks")).as("n_blocks"), max(col("nn")).as("nn"),
        sum(term(col("ba2"), col("na"))).as("sa"),
        sum(term(col("bb2"), col("nb"))).as("sb"))
      .select(col("n_a"), col("n_b"), col("n_blocks"),
        round((d2(col("nn")) - lit(1.0)) / (d2(col("nn")) * d2(col("nn")))
          * (col("sa") / d2(col("n_a")) + col("sb") / d2(col("n_b"))), 6)
          .as("a2"))
  }

  /** q275: Benford first-digit audit — the forensic data-quality test
    * (Benford 1938; Nigrini's fraud-audit usage): the leading digit of
    * a naturally-scaled money column should follow log10(1 + 1/d).
    * The digit is taken from the BIGINT cents rendering (integer
    * formatting is identical across engines; a double's string form is
    * NOT), counts are exact integers, and the expected frequency is
    * the single final libm step, spelled identically on both engines.
    * Scale: one scan, a 9-row aggregate — map-side partials do all the
    * work. */
  def qBenfordAudit(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    lineitem(s, d)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit").between(1, 9))
      .groupBy("digit")
      .agg(count(lit(1)).as("n_obs"))
      .withColumn("n_total", sum("n_obs").over(Window.partitionBy()))
      .select(col("digit"), col("n_obs"),
        (d2(col("n_obs")) / d2(col("n_total"))).as("obs_freq"),
        log10(lit(1.0) + lit(1.0) / d2(col("digit"))).as("expected_freq"))
  }

  /** q278: Kendall rank correlation (τ-b) per nation between a
    * customer's order count and total spend — the third rank-dependence
    * measure beside Spearman (q179) and Pearson (q223), and the robust
    * one under ties (Kendall 1945's tie-corrected form). All counts
    * are exact BIGINTs; τ-b's square roots are the single final libm
    * step.
    *
    * Scale (the r9 verdict's #3, implemented): the r9 shape was a
    * nation-blocked pair JOIN — 25 fixed blocks, pairs quadratic in
    * customers. This shape is Knight's O(n log n) formulation (Knight
    * '66): group the per-customer aggregate to its (nation, x, y)
    * VALUE DOMAIN with multiplicities — one linear shuffle — then
    *  - tie terms n1 = Σ C(c_x, 2), n2 = Σ C(c_y, 2), n3 = Σ C(c_xy, 2)
    *    come from linear rollups of the grouped table;
    *  - the discordant count comes from
    *    [[graft.functions.PairInversions]], a weighted merge-sort
    *    inversion count over each nation's grouped domain (strict
    *    y-inversions under (x, y) order are exactly the discordant
    *    pairs — ties land in no inversion by construction);
    *  - concordant = C(n,2) − n1 − n2 + n3 − discordant.
    * Nothing quadratic anywhere: per-nation work is O(G log G) on the
    * distinct-value domain G ≤ block size, the same bounded-block
    * shape as q281's percentile state, with identical output to the
    * pair join (Round10OpsSpec recomputes the quadratic definition
    * over the fixture and asserts equality). */
  def qKendallTau(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val spend = orders(s, d).groupBy("o_custkey").agg(
      count(lit(1)).as("x"),
      sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("y"))
    val cust = customer(s, d)
      .join(spend, col("c_custkey") === col("o_custkey"))
      .select(col("c_nationkey").as("nation"), col("x"), col("y"))
    kendallByGroup(cust, "nation")
      .select(col("nation"), col("n_conc"), col("n_disc"),
        col("n_tie_x"), col("n_tie_y"), col("n_tie_xy"), col("tau_b"))
  }

  /** Knight's-device Kendall τ-b per group over (`group`, x, y) BIGINT
    * columns: one shuffle to the (group, x, y) value domain, tie terms
    * from linear rollups, discordant pairs from the weighted
    * merge-sort inversion walk ([[graft.functions.PairInversions]]).
    * Emits (group, n, n_conc, n_disc, n_tie_x, n_tie_y, n_tie_xy,
    * tau_b); the denominator NULLs per the zero-denominator rule.
    * Shared by q278 (per nation) and q284 (per week pair). */
  private def kendallByGroup(df: DataFrame, group: String): DataFrame = {
    // the (group, x, y) value domain with multiplicities — the one
    // corpus-sized shuffle; everything below is over the grouped form.
    // r12 OPTIMIZATION (guide §1.2): three rollups (stats, n1, n2) read
    // g3 — materialize the value-domain table once instead of trusting
    // ReuseExchange to dedupe the subtree across AQE re-planning (it
    // re-derived the whole upstream join per rollup in the q284 plan).
    val g3 = df.groupBy(group, "x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val stats = g3.groupBy(group).agg(
      sum("c").as("n"),
      // n3 = Σ C(c_xy, 2): pairs tied in BOTH coordinates
      sum(expr("(c * (c - 1)) div 2")).as("n3"),
      expr("pair_inversions(collect_list(struct(x, y, c)))").as("n_disc"))
    // n1 = Σ_x C(c_x, 2), n2 = Σ_y C(c_y, 2): rollups of the grouped
    // domain, not of the input table
    val n1 = g3.groupBy(group, "x").agg(sum("c").as("cx"))
      .groupBy(group).agg(sum(expr("(cx * (cx - 1)) div 2")).as("n1"))
    val n2 = g3.groupBy(group, "y").agg(sum("c").as("cy"))
      .groupBy(group).agg(sum(expr("(cy * (cy - 1)) div 2")).as("n2"))
    stats.join(n1, Seq(group)).join(n2, Seq(group))
      .select(col(group), col("n"),
        (expr("(n * (n - 1)) div 2") - col("n1") - col("n2") + col("n3")
          - col("n_disc")).as("n_conc"),
        col("n_disc"),
        (col("n1") - col("n3")).as("n_tie_x"),
        (col("n2") - col("n3")).as("n_tie_y"),
        col("n3").as("n_tie_xy"))
      .withColumn("tau_b", {
        // a block whose pairs are ALL tied in x (or all in y) has a
        // zero denominator: NULL the divisor (ANSI-safe), per the
        // repo's zero-denominator rule
        val den = sqrt(
          (d2(col("n_conc")) + d2(col("n_disc")) + d2(col("n_tie_x")))
            * (d2(col("n_conc")) + d2(col("n_disc")) + d2(col("n_tie_y"))))
        (d2(col("n_conc")) - d2(col("n_disc"))) / when(den =!= 0.0, den)
      })
  }

  /** q284: week-over-week RANK STABILITY of the part catalog — Kendall
    * τ-b between consecutive weeks' per-part revenue, over the parts
    * sold in BOTH weeks: the monitor that catches a catalog whose
    * demand ordering is churning (τ → 0) versus merely growing
    * (τ stays high), the longitudinal sibling of the q262 PSI timeline
    * (distribution drift) for RANK drift — and the second consumer of
    * the Knight device, on a different shape (345 weekly blocks of
    * ~150 parts at sf0.01). Revenue is exact extendedprice cents; the
    * week epoch is the global min order date read once (the q281
    * rule — per-group derivation would make week boundaries
    * data-dependent).
    *
    * Scale shape: one fact rollup to (week, part) cents, a self-join
    * on (part, week+1) — equi-keyed, shuffle-partitioned — then the
    * kendallByGroup machinery: value-domain rollups + the per-week
    * inversion walk. Nothing quadratic (the r9 q278 lesson applied
    * from birth). */
  def qRankStability(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"))
    val ord = orders(s, d).select(col("o_orderkey"),
      to_date(col("o_orderdate")).as("day"))
    val start = ord.agg(min(col("day")).as("d0"))
    // r12 OPTIMIZATION (guide §1.2): both self-join sides (cur, nxt)
    // read this fact rollup — materialize it once; the (week, part)
    // table is vastly smaller than the lineitem⋈orders join it caps.
    val rev = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .crossJoin(broadcast(start))
      .withColumn("week", expr("datediff(day, d0) div 7"))
      .groupBy("week", "l_partkey")
      .agg(sum("cents").as("cents"))
      .localCheckpoint()
    val cur = rev.select(col("week"), col("l_partkey").as("pk"),
      col("cents").as("x"))
    val nxt = rev.select((col("week") - 1).as("week"),
      col("l_partkey").as("pk"), col("cents").as("y"))
    val paired = cur.join(nxt, Seq("week", "pk"))
      .select(col("week"), col("x"), col("y"))
    kendallByGroup(paired, "week")
      .select(col("week"), col("n").as("n_parts"), col("n_conc"),
        col("n_disc"), col("n_tie_x"), col("n_tie_y"), col("n_tie_xy"),
        col("tau_b"))
  }

  /** q279: Wald–Wolfowitz runs test on the daily order-revenue series —
    * the classical randomness check (Wald & Wolfowitz 1940): does
    * revenue wander above/below its median in too-few (trend) or
    * too-many (oscillation) runs? The median is the DISCRETE k-th
    * order statistic (k = ceil(n/2)) so both engines pick the same
    * actual element; runs/n1/n2 are exact integers from one LAG pass;
    * the normal approximation z is the final double step.
    * Scale: the fact scan collapses to ~2.4k daily rows before any
    * window — the series table is aggregate-sized. */
  def qRunsTest(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d).groupBy("o_orderdate").agg(
      sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("cents"))
    val n = daily.count()
    val k = math.max(1L, math.ceil(n / 2.0).toLong)
    val med = daily.select(col("cents"))
      .groupBy("cents").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(Window.orderBy("cents")))
      .filter(col("cum") >= k)
      .agg(min("cents")).head().getLong(0)
    val w = Window.orderBy("o_orderdate")
    val signed = daily
      .withColumn("above", when(col("cents") > med, 1).otherwise(0))
      .withColumn("brk",
        when(lag(col("above"), 1).over(w).isNull ||
          col("above") =!= lag(col("above"), 1).over(w), 1L).otherwise(0L))
    signed.agg(
      sum("above").cast("long").as("n_above"),
      (count(lit(1)) - sum("above")).cast("long").as("n_below"),
      sum("brk").as("n_runs"))
      .select(col("n_above"), col("n_below"), col("n_runs"), {
        val a = d2(col("n_above"))
        val b = d2(col("n_below"))
        val den = sqrt(lit(2.0) * a * b * (lit(2.0) * a * b - a - b) /
          ((a + b) * (a + b) * (a + b - lit(1.0))))
        ((d2(col("n_runs")) - (lit(2.0) * a * b / (a + b) + lit(1.0))) /
          when(den =!= 0.0, den)).as("z") // degenerate series (a or b = 0)
      })
  }

  /** q295: Wilcoxon signed-rank test — the PAIRED cousin of
    * Mann–Whitney (q229 compares two independent groups; this compares
    * two measurements of the SAME subject): did per-customer spend
    * shift from 1996 to 1997 over customers active in both years?
    * Zero diffs drop (the standard treatment); |diff| ranks live on
    * the value-domain rollup with q229's doubled-average-rank device
    * (dr = 2·cum − cnt + 1), so 2W⁺ = Σ c_pos·dr and 2W⁻ = Σ c_neg·dr
    * stay BIGINT-exact with W⁺+W⁻ = n(n+1)/2 as the built-in
    * self-check. The tie-corrected variance of 2W⁺ is
    * (2n(n+1)(2n+1) − Σ(t³−t))/12, exact in DECIMAL(38,0) (n³ tops
    * BIGINT at web scale — the q229 widening lesson), and z is the one
    * final double, spelled identically on both engines.
    *
    * Scale shape: one custkey rollup; the |diff| rollup's DISTINCT
    * domain grows with customers (year-over-year spend diffs are
    * near-unique), so the cumulative rank does NOT get a global
    * window — it uses the q277 range-partition device:
    * repartitionByRange on |diff|, partition-local running sums, and
    * a bounded per-partition offset table (one row per shuffle
    * partition) broadcast back. Single-row output. */
  def qWilcoxonSignedRank(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val spend = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_custkey"),
        (year(col("o_orderdate")) === 1996).cast("long").as("in96"),
        cents.as("c"))
      .groupBy("o_custkey")
      .agg(sum(when(col("in96") === 1L, col("c")).otherwise(0L)).as("s96"),
        sum(when(col("in96") === 0L, col("c")).otherwise(0L)).as("s97"),
        sum(col("in96")).as("n96"),
        sum(lit(1L) - col("in96")).as("n97"))
      .filter(col("n96") > 0 && col("n97") > 0)
    val diffs = spend.select((col("s97") - col("s96")).as("diff"))
      .filter(col("diff") =!= 0L)
    val byAbs = diffs
      .groupBy(abs(col("diff")).as("ad"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("diff") > 0, 1L).otherwise(0L)).as("c_pos"))
    // global cumulative count WITHOUT a single-partition window:
    // range partition on |diff| (so partition order IS value order),
    // local running sums, bounded offset table broadcast back
    val parts = byAbs.repartitionByRange(col("ad"))
      .withColumn("pid", spark_partition_id())
    val offs = parts.groupBy("pid").agg(sum(col("cnt")).as("pc"))
      .select(col("pid"),
        coalesce(sum("pc").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
    val local = Window.partitionBy("pid").orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parts.join(broadcast(offs), Seq("pid"))
      .withColumn("cum", col("off") + sum(col("cnt")).over(local))
      .withColumn("dr", lit(2L) * col("cum") - col("cnt") + lit(1L))
      .agg(sum(col("cnt")).as("n_pairs"),
        sum(col("c_pos") * col("dr")).as("two_w_plus"),
        sum((col("cnt") - col("c_pos")) * col("dr")).as("two_w_minus"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_term"))
      .withColumn("var12", dec(lit(2L)) * dec(col("n_pairs")) *
        dec(col("n_pairs") + 1) * dec(lit(2L) * col("n_pairs") + 1) -
        dec(col("tie_term")))
      .withColumn("z_score", round(
        when(col("n_pairs") > 0 && col("var12") > 0,
          (d2(col("two_w_plus")) -
            d2(col("n_pairs")) * d2(col("n_pairs") + 1) / lit(2.0)) /
            sqrt(d2(col("var12")) / lit(12.0)))
          .otherwise(lit(0.0)), 6))
      .select(col("n_pairs"), col("two_w_plus"), col("two_w_minus"),
        col("tie_term"), col("z_score"))
  }

  /** q296: McNemar's test — the paired BINARY shape closing the
    * paired-test pair with q295 (signed-rank pairs a continuous
    * measurement; this pairs a yes/no): did users' purchase behavior
    * flip between the first and second half of the event month? Only
    * the discordant cells carry signal — b = purchased early only,
    * c = purchased late only — and the statistic is (b−c)²/(b+c),
    * exact integers up to the one final division.
    *
    * Scale shape: one user rollup (map-side partial collapses the
    * per-user event list to two booleans), then a single-row count
    * aggregation; nothing downstream scales with data. */
  def qMcNemar(s: SparkSession, d: String): DataFrame = {
    val mid = lit("2024-01-16")
    val perUser = events(s, d)
      .select(col("user_id"),
        (col("event_type") === "purchase" && col("ts") < mid)
          .cast("long").as("pa"),
        (col("event_type") === "purchase" && col("ts") >= mid)
          .cast("long").as("pb"))
      .groupBy("user_id")
      .agg(max(col("pa")).as("a"), max(col("pb")).as("b"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L))
        .as("n_both"),
      sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L))
        .as("n_early_only"),
      sum(when(col("a") === 0L && col("b") === 1L, 1L).otherwise(0L))
        .as("n_late_only"),
      sum(when(col("a") === 0L && col("b") === 0L, 1L).otherwise(0L))
        .as("n_neither"))
      .withColumn("chi2", round(
        when(col("n_early_only") + col("n_late_only") > 0,
          d2((col("n_early_only") - col("n_late_only")) *
            (col("n_early_only") - col("n_late_only"))) /
            d2(col("n_early_only") + col("n_late_only")))
          .otherwise(lit(0.0)), 6))
  }

  /** q297: Cochran–Armitage trend test — the ORDERED-groups member of
    * the contingency family (q243's chi-square treats groups as
    * unordered; this asks whether the return rate trends MONOTONically
    * across the five priority classes, score = the priority's leading
    * digit). Response per order: any line returned ('R'). The
    * statistic is built from five integer sufficient sums
    * (N, R, Σsn, Σs²n, Σsr): T·N = N·Σsr − R·Σsn and
    * N³·Var = R(N−R)(N·Σs²n − (Σsn)²) — both exact; z is the one
    * final double, spelled identically on both engines (the products
    * stay in doubles there, never in overflow-prone BIGINT).
    *
    * Scale shape: one orderkey rollup for the returned flag (the only
    * fact-sized shuffle — the orders join rides the same key), a
    * ≤5-row priority rollup, a single-row output. */
  def qCochranArmitage(s: SparkSession, d: String): DataFrame = {
    val returned = lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_returnflag") === "R").cast("long").as("ret"))
      .groupBy("l_orderkey")
      .agg(max(col("ret")).as("r"))
    val byPrio = orders(s, d)
      .select(col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).cast("long").as("score"))
      .join(returned, col("o_orderkey") === col("l_orderkey"))
      .groupBy("score")
      .agg(count(lit(1)).as("n_i"), sum(col("r")).as("r_i"))
    byPrio.agg(
      sum(col("n_i")).as("n_orders"),
      sum(col("r_i")).as("n_returned"),
      sum(col("score") * col("n_i")).as("sum_sn"),
      sum(col("score") * col("score") * col("n_i")).as("sum_s2n"),
      sum(col("score") * col("r_i")).as("sum_sr"))
      .withColumn("z_score", round({
        val n = col("n_orders"); val r = col("n_returned")
        val tnum = d2(n * col("sum_sr") - r * col("sum_sn"))
        val m = d2(n) * d2(col("sum_s2n")) - d2(col("sum_sn")) * d2(col("sum_sn"))
        val v = d2(r) * d2(n - r) * m / d2(n)
        when(v > 0, tnum / sqrt(v)).otherwise(lit(0.0))
      }, 6))
  }

  /** q298 (batch side): integer-EWMA spike monitor over each type's
    * hourly event counts — the level detector q188's float EWMA can't
    * take to a bit-exact gate. The recursion is exact BIGINT in
    * micro-units: e₁ = c₁·10⁶, e_t = (c_t·10⁶ + e_{t−1}) div 2
    * (α = ½ — the halving EWMA), spike when 2·c_t·10⁶ > 3·e_{t−1}
    * (the hour ran over 1.5× the smoothed level). Genuinely
    * sequential — no windowed identity exists for a FLOORED recursion
    * (q185's drawdown trick needs exact max-algebra; floor-div breaks
    * it) — so the batch plan is a per-type fold over the hourly
    * rollup, and the oracle is a recursive CTE walking the same
    * integers.
    *
    * Scale shape: the only data-sized work is the (type, hour) count
    * rollup (map-side partials); the per-type fold walks a
    * CALENDAR-BOUNDED series (hours in the retention window — the
    * q157/q185 argument), never row counts. */
  def qEwmaMonitor(s: SparkSession, d: String): DataFrame =
    ewmaSpikes(s, events(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('HOUR', ts)) div 3600").as("h"))
      .agg(count(lit(1)).as("c")))

  /** Detector core over any (event_type, h, c) hourly series: each
    * type's hours, in order, fold [[graft.functions.EwmaStep]] — the
    * step q298's streaming monitor advances — and the spec drives a
    * synthetic spike series through it. */
  private[graft] def ewmaSpikes(s: SparkSession, hourly: DataFrame): DataFrame = {
    import s.implicits._
    hourly
      .select(col("event_type"), col("h").cast("long"), col("c").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (tpe, it) =>
        val r = graft.functions.EwmaStep.fold(it.map(x => (x._2, x._3)).toArray.sortBy(_._1))
        (tpe, r.n, r.e, r.nSpikes, r.firstSpike)
      }
      .toDF("event_type", "n_hours", "final_ewma_micro", "n_spikes",
        "first_spike_hour")
  }

  /** q327b (batch side): integer Holt linear-trend monitor over each
    * type's hourly event counts — the TREND-aware sibling of q298's
    * level-only EWMA (a ramp fools a level smoother into permanent
    * "spike"; Holt '57 carries a trend term that absorbs it). Both
    * recursions are exact BIGINT in micro-units with α = β = ½:
    * l₁ = c₁·10⁶, b₁ = 0; for t > 1 the hour first scores against the
    * one-step forecast f = l + b with a 10% band — over when
    * 10·c_t·10⁶ > 11·f (the q298 margin discipline: an exact `>`
    * would alarm on the ±few-micro residual jitter a locked-on ramp
    * leaves, proven in the spec) — then
    * l_t = (c_t·10⁶ + l_{t−1} + b_{t−1}) div 2 and
    * b_t = (l_t − l_{t−1} + b_{t−1}) div 2. Division is
    * TRUNCATION-toward-zero on both engines (Scala Long `/` ==
    * DuckDB `//` — verified on negative operands, which b's numerator
    * can produce; the q298 floor-vs-truncate trap, handled by
    * choosing the semantics the engines share).
    *
    * Genuinely sequential (the floored two-term recursion has no
    * windowed identity), so the batch plan is a per-type fold over
    * the hourly rollup and the oracle walks the same integers
    * recursively.
    *
    * Scale shape: the only data-sized work is the (type, hour) count
    * rollup (map-side partials); the fold walks a calendar-bounded
    * series (the q298 argument). */
  def qHoltMonitor(s: SparkSession, d: String): DataFrame =
    holtMonitor(s, events(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(date_trunc('HOUR', ts)) div 3600").as("h"))
      .agg(count(lit(1)).as("c")))

  /** Monitor core over any (event_type, h, c) hourly series: each
    * type's hours, in order, fold [[graft.functions.HoltStep]] — the
    * step q327's streaming monitor advances — and the spec drives a
    * crafted ramp through it. */
  private[graft] def holtMonitor(s: SparkSession, hourly: DataFrame): DataFrame = {
    import s.implicits._
    hourly
      .select(col("event_type"), col("h").cast("long"), col("c").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (tpe, it) =>
        val r = graft.functions.HoltStep.fold(it.map(x => (x._2, x._3)).toArray.sortBy(_._1))
        (tpe, r.n, r.l, r.b, r.l + r.b, r.nOver, r.firstOver)
      }
      .toDF("event_type", "n_hours", "level_micro", "trend_micro",
        "forecast_micro", "n_over_forecast", "first_over_hour")
  }

  /** Shared by q299/q302: complete-block within-customer doubled
    * average ranks of yearly spend, 1996–1998 (k = 3 treatments).
    * Blocks = customers with orders in ALL three years (the
    * complete-block requirement both tests share); rank within block
    * with ties averaged, doubled so every rank is BIGINT
    * (2·avg-rank = 2·rank + ties − 1, the q229/q233 discipline at
    * block scope). */
  private def yearSpendRanks(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val spend = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1999-01-01"))
      .select(col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("yr"), cents.as("c"))
      .groupBy("o_custkey", "yr")
      .agg(sum(col("c")).as("v"))
    val complete = spend.groupBy("o_custkey")
      .agg(count(lit(1)).as("ky")).filter(col("ky") === 3)
      .select("o_custkey")
    val wR = Window.partitionBy("o_custkey").orderBy("v")
    val wEq = Window.partitionBy("o_custkey", "v")
    spend.join(complete, Seq("o_custkey"))
      .withColumn("dij", lit(2L) * rank().over(wR).cast("long") +
        count(lit(1)).over(wEq) - lit(1L))
  }

  /** q299: Friedman test — the k-sample member of the PAIRED family
    * q295 opened (signed-rank pairs two conditions per subject; this
    * ranks k = 3 conditions per subject): did per-customer yearly
    * spend shift across 1996/1997/1998, judged only on WITHIN-customer
    * orderings (each customer is their own control, the blocking that
    * kills cross-customer scale variance q244's ANOVA would eat)?
    *
    * Exactness: doubled within-block average ranks d_ij (BIGINT), so
    * the per-year rank sums D_j = Σ 2r_ij and S = Σ d_ij² are exact.
    * Tie-corrected statistic straight from them (Conover's form, in
    * doubled units): χ²_F = (k−1)·Σ_j (D_j − n(k+1))² / (S − nk(k+1)²)
    * — one final double, spelled identically on both engines. (An
    * earlier revision carried a spurious /n here — in BOTH the plan
    * and the oracle, so the hash gate agreed on the wrong number; the
    * q332 Kendall-W identity χ²_F = n(k−1)·W, computed through an
    * independent construction, is what exposed it. Spec-pinned
    * against the textbook average-rank recount AND the identity.)
    *
    * Scale shape: one (custkey, year) rollup, the complete-block
    * semi-filter on the same key, a k=3-row window per block (keyed,
    * never global), two bounded rollups. Blocks ×factor, per-block
    * work constant. */
  def qFriedman(s: SparkSession, d: String): DataFrame = {
    val ranked = yearSpendRanks(s, d)
    val perYear = ranked.groupBy("yr").agg(sum(col("dij")).as("d_sum"))
    val glob = ranked.agg(
      (count(lit(1)) / lit(3L)).cast("long").as("n_blocks"),
      sum(col("dij") * col("dij")).as("sum_d_sq"))
    // guard the fully-tied degenerate case (S = 48n when every block
    // is a three-way tie): chi2 is 0 by convention, never a 0/0
    val chi = perYear.crossJoin(broadcast(glob))
      .agg(round(
        when(max(col("n_blocks")) > 0 &&
          max(col("sum_d_sq")) > lit(48L) * max(col("n_blocks")),
          lit(2.0) * sum(d2(col("d_sum") - lit(4L) * col("n_blocks")) *
            d2(col("d_sum") - lit(4L) * col("n_blocks"))) /
            (d2(max(col("sum_d_sq"))) - lit(48.0) * d2(max(col("n_blocks")))))
          .otherwise(lit(0.0)), 6).as("chi2_f"))
    perYear.crossJoin(broadcast(glob)).crossJoin(broadcast(chi))
      .select(col("yr"), col("d_sum"), col("n_blocks"), col("sum_d_sq"),
        col("chi2_f"))
      .orderBy("yr")
  }

  /** q302: Page's L trend test — Friedman's ORDERED-alternative twin
    * (q299 asks "any difference across years"; this asks "monotone
    * TREND with time", the question a drift monitor actually poses),
    * sharing q299's doubled complete-block ranks. L = Σ_j w_j·R_j with
    * year weights 1 < 2 < 3; doubled 2L = Σ w_j·D_j stays BIGINT.
    * z = (L − nk(k+1)²/4) / √(nk²(k+1)²(k−1)/144) (Page '63), which at
    * k = 3 is (L − 12n)/√(2n) — the one final double.
    *
    * Scale shape: q299's plan plus a weighted 3-row fold. */
  def qPageTrend(s: SparkSession, d: String): DataFrame = {
    val ranked = yearSpendRanks(s, d)
    ranked
      .agg((count(lit(1)) / lit(3L)).cast("long").as("n_blocks"),
        sum((col("yr") - lit(1995L)) * col("dij")).as("two_l"))
      .withColumn("z_page", round(
        when(col("n_blocks") > 0,
          (d2(col("two_l")) / lit(2.0) - lit(12.0) * d2(col("n_blocks"))) /
            sqrt(lit(2.0) * d2(col("n_blocks")))).otherwise(lit(0.0)), 6))
  }

  /** q300: Cochran's Q — the k-sample member of the paired-BINARY
    * family q296 opened (McNemar flips one yes/no between two
    * occasions; this tracks it across k = 3): did each user's
    * purchase incidence change across the event month's three decades
    * (Jan 1–10 / 11–20 / 21–31)?
    *
    * Exactness: all sufficient statistics integer — column totals G_j,
    * row-total sums ΣL and ΣL² from one user rollup. The N/k fraction
    * is eliminated algebraically: Q = (k−1)·(k·ΣG_j² − N²) /
    * (k·ΣL − ΣL²) — one final double.
    *
    * Scale shape: one user rollup (map-side partials collapse each
    * user's events to three booleans), then a single-row fold. Users
    * ×factor, per-user work constant. */
  def qCochranQ(s: SparkSession, d: String): DataFrame = {
    val p = (lo: String, hi: Option[String]) => {
      val in = col("event_type") === "purchase" && col("ts") >= lit(lo) &&
        hi.map(h => col("ts") < lit(h)).getOrElse(lit(true))
      max(when(in, 1L).otherwise(0L))
    }
    val flags = events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
      .groupBy("user_id")
      .agg(p("2024-01-01", Some("2024-01-11")).as("x1"),
        p("2024-01-11", Some("2024-01-21")).as("x2"),
        p("2024-01-21", None).as("x3"))
      .withColumn("l", col("x1") + col("x2") + col("x3"))
    flags.agg(
      count(lit(1)).as("n_users"),
      sum(col("x1")).as("g1"), sum(col("x2")).as("g2"),
      sum(col("x3")).as("g3"),
      sum(col("l")).as("sum_l"), sum(col("l") * col("l")).as("sum_l_sq"))
      .withColumn("q_stat", round(
        when(lit(3L) * col("sum_l") - col("sum_l_sq") > 0,
          lit(2.0) * (lit(3.0) * (d2(col("g1")) * d2(col("g1")) +
            d2(col("g2")) * d2(col("g2")) + d2(col("g3")) * d2(col("g3"))) -
            d2(col("sum_l")) * d2(col("sum_l"))) /
            d2(lit(3L) * col("sum_l") - col("sum_l_sq")))
          .otherwise(lit(0.0)), 6))
  }

  /** q301: Jonckheere–Terpstra — the ORDERED-alternative k-sample rank
    * test (q233's Kruskal–Wallis treats the five priority classes as
    * unordered; q297's Cochran–Armitage orders a BINARY response; this
    * orders a CONTINUOUS one): does order value trend across the five
    * priority classes? JT = Σ_{i<j} U_ij over group pairs; doubled
    * 2·JT = Σ pairs [2·(strictly-less cross-pairs) + (equal-value
    * cross-pairs)] stays BIGINT.
    *
    * Exactness: the value-domain device — counts per (cents, group)
    * pivot to k = 5 columns, strict-predecessor cumulatives give every
    * cross-group comparison in one pass; 2JT exact. z from the no-tie
    * moments E = (N² − Σn_i²)/4, Var = [N²(2N+3) − Σn_i²(2n_i+3)]/72
    * (Terpstra '52) in doubles from the emitted exact counts — cent
    * sums make cross-group value ties measure-zero rare, and both
    * engines spell the same formula on the same integers either way.
    *
    * Scale shape: the domain rollup is the only data-sized shuffle;
    * the cumulative walk is range-partitioned with broadcast
    * per-partition offsets (the q295 device, fourth consumer — never
    * a single-partition window over the growing cents domain);
    * the final fold is one row. */
  def qJonckheereTerpstra(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val base = orders(s, d).select(
      substring(col("o_orderpriority"), 1, 1).cast("long").as("g"),
      cents.as("v"))
    val cg = (i: Int) =>
      sum(when(col("g") === i.toLong, 1L).otherwise(0L)).as(s"c$i")
    val dom = base.groupBy("v").agg(cg(1), cg(2), cg(3), cg(4), cg(5))
    val parts = dom.repartitionByRange(col("v"))
      .withColumn("pid", spark_partition_id())
    val wPid = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val partials = (1 to 4).map(i => sum(col(s"c$i")).as(s"p$i"))
    val offs = parts.groupBy("pid")
      .agg(partials.head, partials.tail: _*)
      .select(col("pid") +:
        (1 to 4).map(i =>
          coalesce(sum(col(s"p$i")).over(wPid), lit(0L)).as(s"off$i")): _*)
    val wLoc = Window.partitionBy("pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = parts.join(broadcast(offs), Seq("pid"))
    val withLt = (1 to 4).foldLeft(cum) { (df, i) =>
      df.withColumn(s"lt$i",
        col(s"off$i") + coalesce(sum(col(s"c$i")).over(wLoc), lit(0L)))
    }
    // 2JT contribution at value v: each group s pairs against every
    // lower group j<s — twice the strictly-smaller count plus the
    // equal-value count
    val contrib = (2 to 5).map { sIdx =>
      val lts = (1 until sIdx).map(j => col(s"lt$j")).reduce(_ + _)
      val eqs = (1 until sIdx).map(j => col(s"c$j")).reduce(_ + _)
      col(s"c$sIdx") * (lit(2L) * lts + eqs)
    }.reduce(_ + _)
    val aggCols = (1 to 5).map(i => sum(col(s"c$i")).as(s"n$i")) :+
      sum(contrib).as("two_jt")
    val agg0 = withLt.agg(aggCols.head, aggCols.tail: _*)
    val n = (1 to 5).map(i => d2(col(s"n$i"))).reduce(_ + _)
    val s2 = (1 to 5).map(i => d2(col(s"n$i")) * d2(col(s"n$i"))).reduce(_ + _)
    val s3 = (1 to 5).map(i => d2(col(s"n$i")) * d2(col(s"n$i")) *
      (lit(2.0) * d2(col(s"n$i")) + lit(3.0))).reduce(_ + _)
    agg0.withColumn("z_jt", round(
      when(n * n * (lit(2.0) * n + lit(3.0)) - s3 > 0,
        (d2(col("two_jt")) / lit(2.0) - (n * n - s2) / lit(4.0)) /
          sqrt((n * n * (lit(2.0) * n + lit(3.0)) - s3) / lit(72.0)))
        .otherwise(lit(0.0)), 6))
  }

  /** q303: log-rank (Mantel–Cox) test — the two-group comparison the
    * q175 KM risk table exists to feed: do the two hash-assigned A/B
    * arms (user_id parity — the q60/q101 deterministic-split device)
    * differ in view→purchase conversion latency, judged on the full
    * CENSORED time-to-event distributions (q234's t-test on mean
    * latency would ignore censoring; q229's Mann–Whitney has no
    * at-risk notion)? Subjects are q175's verbatim: each viewer
    * contributes a duration (first view → earliest qualifying
    * purchase) flagged event, else (first view → last observed
    * activity) flagged censored — plus the arm tag.
    *
    * Exactness: per distinct event hour the hypergeometric cell
    * (n at risk, n₁ at risk, d events, d₁ cohort-1 events) is exact
    * integers; O₁ = Σd₁ stays BIGINT. E₁ = Σ d·n₁/n and
    * V = Σ d·(n₁/n)·(1−n₁/n)·(n−d)/(n−1) fold hour-bounded doubles
    * (the q183 bounded-term precedent); z and χ² from the ROUNDED
    * E₁/V, spelled identically on both engines.
    *
    * Scale shape: q175's verbatim — two user-keyed aggs build the
    * duration table; cells collapse to DISTINCT HOURS (bounded by the
    * observation window at any corpus size), so the at-risk reverse
    * cumsum is a single-partition window over a provably tiny
    * frame. */
  def qLogRank(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select("user_id", "event_type", "ts")
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("fv"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(fv, Seq("user_id"))
      .filter(unix_micros(col("ts")) >= col("fv"))
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts")) - col("fv")).as("dur_us"))
    val lastSeen = ev.groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"))
    val subjects = fv
      .join(conv, Seq("user_id"), "left")
      .join(lastSeen, Seq("user_id"))
      .select(
        (pmod(col("user_id"), lit(2)) === 0).cast("long").as("g1"),
        expr("""coalesce(dur_us, last_us - fv)
                div 3600000000""").as("dur"),
        col("dur_us").isNotNull.cast("long").as("ev"))
    val cells = subjects.groupBy("dur").agg(
      count(lit(1)).as("here"),
      sum(col("g1")).as("here1"),
      sum(col("ev")).as("d_all"),
      sum(col("ev") * col("g1")).as("d1"))
    val wRisk = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = cells
      .withColumn("n_risk", sum(col("here")).over(wRisk))
      .withColumn("n1_risk", sum(col("here1")).over(wRisk))
      .filter(col("d_all") > 0)
    risk.agg(
      count(lit(1)).as("n_times"),
      sum(col("d1")).as("o1"),
      sum(col("d_all") - col("d1")).as("o2"),
      round(sum(d2(col("d_all")) * d2(col("n1_risk")) / d2(col("n_risk"))),
        6).as("e1"),
      round(sum(when(col("n_risk") > 1,
        d2(col("d_all")) * (d2(col("n1_risk")) / d2(col("n_risk"))) *
          (lit(1.0) - d2(col("n1_risk")) / d2(col("n_risk"))) *
          (d2(col("n_risk")) - d2(col("d_all"))) /
          (d2(col("n_risk")) - lit(1.0))).otherwise(lit(0.0))), 6).as("v"))
      .withColumn("z_logrank", round(
        when(col("v") > 0, (d2(col("o1")) - col("e1")) / sqrt(col("v")))
          .otherwise(lit(0.0)), 6))
      .withColumn("chi2", round(
        when(col("v") > 0, (d2(col("o1")) - col("e1")) *
          (d2(col("o1")) - col("e1")) / col("v")).otherwise(lit(0.0)), 6))
  }

  /** q304: Cochran–Mantel–Haenszel test + Mantel–Haenszel common odds
    * ratio — the STRATIFIED 2×2 the contingency family lacked: q243's
    * chi-square pools all orders and so confounds region with
    * everything region correlates with; CMH asks "does the BUILDING
    * segment return more, WITHIN each region?" (Mantel & Haenszel
    * '59; the Simpson's-paradox-proof association test). Exposure =
    * customer in the BUILDING segment, outcome = order contains a
    * returned line, strata = the customer's region (K = 5).
    *
    * Exactness: the four cell counts per stratum are exact BIGINTs
    * from one fact rollup. E[a_k] = n1k·m1k/n_k and the
    * hypergeometric V_k fold K = 5 bounded doubles (the q183/q303
    * bounded-term precedent), rounded 6; χ² and OR_MH are computed
    * from the ROUNDED sums with identical spelling on both engines.
    *
    * Scale shape: outcome is one orderkey rollup; the exposure/
    * stratum side is customer-sized (data-scaled) so it carries NO
    * broadcast hint — AQE broadcasts it while it fits and switches to
    * the custkey shuffle join once it outgrows the threshold (the
    * q163 boundary argument, here left entirely to the size
    * estimate); the nation/region dims broadcast into it; everything
    * after is a 5-row fold. */
  def qCmh(s: SparkSession, d: String): DataFrame = {
    val cells = cmhCells(s, d)
    val nk = col("n11") + col("n10") + col("n01") + col("n00")
    val terms = cells
      .withColumn("n_k", nk)
      .withColumn("e_k",
        d2(col("n11") + col("n10")) * d2(col("n11") + col("n01")) /
          d2(col("n_k")))
      .withColumn("v_k", when(col("n_k") > 1,
        d2(col("n11") + col("n10")) * d2(col("n01") + col("n00")) *
          d2(col("n11") + col("n01")) * d2(col("n10") + col("n00")) /
          (d2(col("n_k")) * d2(col("n_k")) * d2(col("n_k") - 1)))
        .otherwise(lit(0.0)))
      .withColumn("or_num", d2(col("n11")) * d2(col("n00")) / d2(col("n_k")))
      .withColumn("or_den", d2(col("n10")) * d2(col("n01")) / d2(col("n_k")))
    val glob = terms.agg(
      sum(col("n11")).as("sum_a"),
      round(sum(col("e_k")), 6).as("sum_e"),
      round(sum(col("v_k")), 6).as("sum_v"),
      round(sum(col("or_num")), 6).as("sum_rn"),
      round(sum(col("or_den")), 6).as("sum_rd"))
      .withColumn("chi2_cmh", round(
        when(col("sum_v") > 0,
          (d2(col("sum_a")) - col("sum_e")) *
            (d2(col("sum_a")) - col("sum_e")) / col("sum_v"))
          .otherwise(lit(0.0)), 6))
      .withColumn("or_mh", round(
        when(col("sum_rd") > 0, col("sum_rn") / col("sum_rd"))
          .otherwise(lit(0.0)), 6))
      .select("sum_e", "sum_v", "chi2_cmh", "or_mh")
    cells.crossJoin(broadcast(glob))
      .select(col("stratum"), col("n11"), col("n10"), col("n01"),
        col("n00"), col("sum_e"), col("sum_v"), col("chi2_cmh"),
        col("or_mh"))
      .orderBy("stratum")
  }

  /** The shared q304/q313 stratified 2×2 cell table: per region
    * stratum, exact BIGINT counts of (BUILDING exposure) ×
    * (order-contains-returned-line outcome). One orderkey rollup for
    * the outcome; the customer-sized exposure table joins orders on
    * the custkey hash partitioning with the nation/region dims
    * broadcast into it. */
  private def cmhCells(s: SparkSession, d: String): DataFrame = {
    val returned = lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_returnflag") === "R").cast("long").as("ret"))
      .groupBy("l_orderkey").agg(max(col("ret")).as("r"))
    val cust = customer(s, d)
      .select(col("c_custkey"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("x"),
        col("c_nationkey"))
      .join(broadcast(nation(s, d).select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("x"), col("r_name").as("stratum"))
    orders(s, d).select("o_orderkey", "o_custkey")
      .join(returned, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("stratum")
      .agg(sum(col("x") * col("r")).as("n11"),
        sum(col("x") * (lit(1L) - col("r"))).as("n10"),
        sum((lit(1L) - col("x")) * col("r")).as("n01"),
        sum((lit(1L) - col("x")) * (lit(1L) - col("r"))).as("n00"))
  }

  /** q313: Woolf's test for HOMOGENEITY of odds ratios across the
    * q304 strata (Woolf '55) — the question CMH itself cannot answer:
    * q304's common OR_MH is only meaningful if the per-stratum odds
    * ratios agree; Woolf's χ²_{K−1} is the inverse-variance-weighted
    * dispersion of the ln-odds-ratios around their weighted mean,
    * read BEFORE trusting q304's pooled number (the
    * effect-modification gate).
    *
    * Exactness: cells are q304's exact BIGINTs; OR_k, w_k =
    * 1/(Σ 1/cell) and ln OR_k are per-stratum scalars (ln within
    * 1 ulp on both engines); the χ² uses the three-sum identity
    * Σw·(l−l̄)² = Σwl² − (Σwl)²/Σw over K = 5 bounded terms, rounded
    * 6. A zero cell excludes its stratum from the fold (k_used
    * reports how many contribute) — guarded identically on both
    * engines, never a silent ±∞.
    *
    * Scale shape: q304's verbatim (the cells CTE is shared); the test
    * itself is a 5-row fold. */
  def qWoolf(s: SparkSession, d: String): DataFrame = {
    val cells = cmhCells(s, d)
    val ok = col("n11") > 0 && col("n10") > 0 && col("n01") > 0 &&
      col("n00") > 0
    val orK = d2(col("n11")) * d2(col("n00")) /
      (d2(col("n10")) * d2(col("n01")))
    val wK = lit(1.0) / (lit(1.0) / d2(col("n11")) +
      lit(1.0) / d2(col("n10")) + lit(1.0) / d2(col("n01")) +
      lit(1.0) / d2(col("n00")))
    val terms = cells
      .withColumn("or_k", when(ok, orK).otherwise(lit(0.0)))
      .withColumn("lnor", when(ok, log(orK)).otherwise(lit(0.0)))
      .withColumn("w_k", when(ok, wK).otherwise(lit(0.0)))
    val glob = terms.agg(
      sum(when(ok, 1L).otherwise(0L)).as("k_used"),
      sum(col("w_k")).as("sw"),
      sum(col("w_k") * col("lnor")).as("swl"),
      sum(col("w_k") * col("lnor") * col("lnor")).as("swll"))
      .select(col("k_used"),
        round(when(col("sw") > 0,
          col("swll") - col("swl") * col("swl") / col("sw"))
          .otherwise(lit(0.0)), 6).as("woolf_chi2"),
        round(when(col("sw") > 0, col("swl") / col("sw"))
          .otherwise(lit(0.0)), 6).as("ln_or_pooled"))
    terms
      .select(col("stratum"), col("n11"), col("n10"), col("n01"),
        col("n00"), round(col("or_k"), 6).as("or_k"),
        round(col("w_k"), 6).as("w_k"))
      .crossJoin(broadcast(glob))
      .orderBy("stratum")
  }

  /** q316: Grubbs' test statistic per order priority — the FORMAL
    * single-outlier test beside q164's MAD fences (MAD flags a set by
    * a rule of thumb; Grubbs '50 prices the single most extreme value
    * against the sample's own normal spread): G = max|x − x̄| / s with
    * sample s. Read with q306 — Grubbs assumes normality, which q306
    * tests on the same groups.
    *
    * Exactness: the deviation maximum is exact — max|n·x − S| over
    * BIGINTs (the n-scaled deviation, no division inside the max) —
    * and G = maxdev / (n·s) divides exact integers under one √,
    * spelled identically on both engines.
    *
    * Scale shape: one map-side-combined rollup onto ≤5 groups (max
    * and sums in the same pass via a self-joined two-phase agg —
    * phase 1 computes S; the deviation max needs S first, so a
    * second pass over the same rollup joins the 5-row totals back,
    * both passes map-side). */
  def qGrubbs(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val base = orders(s, d).select(col("o_orderpriority"), cents.as("v"))
    val tot = base.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(dec(col("v")) * dec(col("v"))).as("q2"))
    val dev = base.join(broadcast(tot), Seq("o_orderpriority"))
      .select(col("o_orderpriority"),
        abs(col("n") * col("v") - col("s1")).as("adev"))
      .groupBy("o_orderpriority")
      .agg(max(col("adev")).as("maxdev_scaled"))
    tot.join(dev, Seq("o_orderpriority"))
      .withColumn("var_num", d2(dec(col("n")) * col("q2") -
        dec(col("s1")) * dec(col("s1"))))
      .withColumn("grubbs_g", round(
        when(col("n") > 1 && col("var_num") > 0,
          d2(col("maxdev_scaled")) /
            (d2(col("n")) * sqrt(col("var_num") / (d2(col("n")) *
              d2(col("n") - 1))))).otherwise(lit(0.0)), 6))
      .select(col("o_orderpriority"), col("n"), col("maxdev_scaled"),
        col("grubbs_g"))
      .orderBy("o_orderpriority")
  }

  /** q317: Cronbach's alpha over the q299 complete-block fixture —
    * the RELIABILITY cell of the statistics harness (Cronbach '51):
    * treating a customer's 1996/97/98 yearly spends as three repeated
    * "items" measuring the same construct, α = k/(k−1)·(1 − Σs²ᵢ/s²ₜ)
    * asks whether the items co-vary enough to be summed into one
    * score — the internal-consistency check any multi-signal quality
    * score (q23's components, q117's rules) needs before its parts
    * are added up; this fixture grounds it on the same blocks the
    * paired family ranks.
    *
    * Exactness: per-item and per-total sufficient sums are exact
    * DECIMAL(38,0) (block totals square past BIGINT); α is one
    * spelled-identically expression over their doubles with sample
    * variances — the n/(n−1) factors cancel in the ratio, so the
    * n-scaled integer combos divide directly.
    *
    * Scale shape: one (custkey, year) rollup → one custkey pivot
    * rollup (both map-side-combinable) → a single-row fold. */
  def qCronbachAlpha(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val spend = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1999-01-01"))
      .select(col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("yr"), cents.as("c"))
      .groupBy("o_custkey", "yr")
      .agg(sum(col("c")).as("v"))
    val items = spend.groupBy("o_custkey")
      .agg(count(lit(1)).as("ky"),
        sum(when(col("yr") === 1996L, col("v")).otherwise(0L)).as("x1"),
        sum(when(col("yr") === 1997L, col("v")).otherwise(0L)).as("x2"),
        sum(when(col("yr") === 1998L, col("v")).otherwise(0L)).as("x3"))
      .filter(col("ky") === 3)
    val sums = items.agg(
      count(lit(1)).as("n_blocks"),
      sum(col("x1")).as("s1"), sum(dec(col("x1")) * dec(col("x1"))).as("q1"),
      sum(col("x2")).as("s2"), sum(dec(col("x2")) * dec(col("x2"))).as("q2"),
      sum(col("x3")).as("s3"), sum(dec(col("x3")) * dec(col("x3"))).as("q3"),
      sum(col("x1") + col("x2") + col("x3")).as("st"),
      sum(dec(col("x1") + col("x2") + col("x3")) *
        dec(col("x1") + col("x2") + col("x3"))).as("qt"))
    // n-scaled variance combos: var_i ∝ n·Qi − Si² (the sample 1/(n−1)
    // cancels between numerator and denominator)
    def vn(q: Column, s1: Column): Column =
      d2(dec(col("n_blocks")) * q - dec(s1) * dec(s1))
    sums.select(col("n_blocks"),
        vn(col("q1"), col("s1")).as("v1"),
        vn(col("q2"), col("s2")).as("v2"),
        vn(col("q3"), col("s3")).as("v3"),
        vn(col("qt"), col("st")).as("vt"))
      .select(col("n_blocks"), lit(3L).as("k"),
        round(when(col("vt") > 0, lit(1.5) *
          (lit(1.0) - (col("v1") + col("v2") + col("v3")) / col("vt")))
          .otherwise(lit(0.0)), 6).as("cronbach_alpha"))
  }

  /** q305: Cliff's delta — the EFFECT SIZE the q229 Mann–Whitney
    * harness reports no magnitude for (a z-score says "significant",
    * never "how much"; at corpus n everything is significant):
    * δ = (#(x>y) − #(x<y)) / (n₁n₂) over all cross pairs of each
    * engagement arm vs the view baseline (Cliff '93), identically the
    * rank-biserial correlation r = 2U/(n₁n₂) − 1.
    *
    * Exactness: greater/less/tie pair counts are exact BIGINTs from
    * the q229 value-domain rollup — #(x>y) = Σ_v c₁(v)·cum₂(<v) via a
    * strict-predecessor cumulative; ties = Σ_v c₁(v)·c₂(v); #(x<y)
    * falls out of n₁n₂. One final division, rounded 6.
    *
    * Scale shape: q229's verbatim — facts collapse onto the bounded
    * cents VALUE DOMAIN (map-side partials); the per-pair window
    * walks that domain-sized rollup, never rows. */
  def qCliffsDelta(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val arms = Seq("click", "error", "signup", "purchase")
    val tagged = arms.map { a =>
      ev.filter(col("event_type").isin(a, "view"))
        .select(lit(a).as("pair"),
          (col("event_type") === a).cast("long").as("in_arm"), col("v"))
    }.reduce(_ unionAll _)
    val byValue = tagged.groupBy("pair", "v")
      .agg(sum(col("in_arm")).as("c1"),
        sum(lit(1L) - col("in_arm")).as("c2"))
    val wStrict = Window.partitionBy("pair").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    byValue
      .withColumn("cum2", coalesce(sum(col("c2")).over(wStrict), lit(0L)))
      .groupBy("pair")
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * col("cum2")).as("n_gt"),
        sum(col("c1") * col("c2")).as("n_tie"))
      .withColumn("n_lt",
        col("n1") * col("n2") - col("n_gt") - col("n_tie"))
      .withColumn("cliffs_delta", round(
        when(col("n1") > 0 && col("n2") > 0,
          (col("n_gt") - col("n_lt")).cast("double") /
            (d2(col("n1")) * d2(col("n2")))).otherwise(lit(0.0)), 6))
      .select(col("pair"), col("n1"), col("n2"), col("n_gt"),
        col("n_lt"), col("n_tie"), col("cliffs_delta"))
  }

  /** q306: Jarque–Bera normality test per order priority over order
    * totals — the distribution-shape GATE beside q196's descriptive
    * moments (q196 reports skew/kurtosis; JB turns them into one
    * χ²₂-distributed number: JB = n·(g₁²/6 + g₂²/24), Jarque & Bera
    * '80). A data-drift monitor runs it per slice to catch the
    * fat-tail / asymmetry shifts a mean-and-variance check misses.
    *
    * Exactness: the TWO-PASS mean pre-shift q196's overflow guard
    * names as the at-scale remedy, implemented (order cents⁴ blows
    * the n-scaled DECIMAL(38,0) combos — 3S₁⁴ ≈ 10⁴⁰ already at
    * sf0.001): pass 1 takes the integer floor mean μ = S₁ div n per
    * group; pass 2 sums exact DECIMAL(38,0) powers of w = v − μ.
    * |Σw| < n by construction, so the double-arithmetic central
    * moments m₂..m₄ from (W₁..W₄, n) lose nothing to cancellation,
    * and every division/multiply is spelled identically on both
    * engines; g₁/g₂ round 6 and JB folds the ROUNDED values. A
    * residual overflow in W₄ still fails loudly (NULL ⇔ overflow
    * guard), never silently.
    *
    * Scale shape: two map-side-combined rollups onto ≤5 groups (the
    * μ table broadcasts back); scalar math after. */
  def qJarqueBera(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    val base = orders(s, d).select(col("o_orderpriority"), cents.as("v"))
    val mu = base.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1v"))
      .select(col("o_orderpriority"), col("n"),
        expr("s1v div n").as("mu"))
    val w = col("v") - col("mu")
    val sums = base.join(broadcast(mu), Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n"), dec(w).as("w"))
      .groupBy("o_orderpriority")
      .agg(max(col("n")).as("n"),
        sum(col("w")).as("w1"),
        sum(col("w") * col("w")).as("w2"),
        sum(col("w") * col("w") * col("w")).as("w3"),
        sum(col("w") * col("w") * col("w") * col("w")).as("w4"))
    def guarded(c: Column, name: String): Column =
      when(c.isNull, expr("CAST(raise_error('q306: DECIMAL(38,0) overflow in " +
        name + " — widen the shift or shrink the unit at this scale') " +
        "AS DOUBLE)")).otherwise(c.cast("double"))
    val nd = d2(col("n"))
    val m1 = col("w1d") / nd
    val m2 = col("w2d") / nd - m1 * m1
    val m3 = col("w3d") / nd - lit(3.0) * m1 * (col("w2d") / nd) +
      lit(2.0) * m1 * m1 * m1
    val m4 = col("w4d") / nd - lit(4.0) * m1 * (col("w3d") / nd) +
      lit(6.0) * m1 * m1 * (col("w2d") / nd) -
      lit(3.0) * m1 * m1 * m1 * m1
    sums.select(col("o_orderpriority"), col("n"),
        guarded(col("w1"), "W1").as("w1d"),
        guarded(col("w2"), "W2").as("w2d"),
        guarded(col("w3"), "W3").as("w3d"),
        guarded(col("w4"), "W4").as("w4d"))
      .select(col("o_orderpriority"), col("n"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
        round(m4 / (m2 * m2) - 3.0, 6).as("kurtosis_excess"))
      .withColumn("jb", round(d2(col("n")) *
        (col("skewness") * col("skewness") / lit(6.0) +
          col("kurtosis_excess") * col("kurtosis_excess") / lit(24.0)), 6))
      .orderBy("o_orderpriority")
  }

  /** Shared by q307/q308: the per-type daily count series with a
    * dense position index t = 1..n under the day order — the
    * calendar-bounded table every serial-dependence statistic here
    * walks (q157's fixture, positionally indexed so lag-k pairing is
    * the textbook one even if a day were absent). */
  private def dailySeries(s: SparkSession, d: String): DataFrame = {
    val wPos = Window.partitionBy("event_type").orderBy("day")
    events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("t", row_number().over(wPos).cast("long"))
  }

  /** q307: Ljung–Box portmanteau test per event type — "is this
    * series white noise AT ALL?", the joint serial-correlation gate
    * q157's single lag-1 coefficient can't state (a seasonal signal
    * can have ρ₁ ≈ 0 and scream at lag 7): Q = n(n+2)·Σ_{k=1..7}
    * ρ̂ₖ²/(n−k) ~ χ²₇ (Ljung & Box '78).
    *
    * Exactness: each ρ̂ₖ is a ratio of exact BIGINTs — numerator
    * n²Pₖ − nS(Aₖ+Bₖ) + (n−k)S² (the n²-scaled
    * Σ(x_t−x̄)(x_{t+k}−x̄) with full-series mean), denominator
    * n(nQ₂−S²) — so both engines divide identical integers; ρ̂ₖ
    * rounds 6 and Q folds the ROUNDED ρ's with identical spelling.
    *
    * Scale shape: facts collapse onto the calendar-bounded (type,
    * day) rollup in one map-side pass; the lag-k self-pairing
    * explodes 7 offsets of THAT table (≤ 7·types·days rows). */
  def qLjungBox(s: SparkSession, d: String): DataFrame = {
    val daily = dailySeries(s, d)
    val glob = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q2"))
    val lagged = daily.select(col("event_type"), col("t"), col("x"))
      .withColumn("k", explode(sequence(lit(1L), lit(7L))))
      .withColumn("t2", col("t") + col("k"))
    val pairs = lagged.alias("a").join(
        daily.select(col("event_type"), col("t").as("t2"),
          col("x").as("x2")).alias("b"),
        Seq("event_type", "t2"))
      .groupBy("event_type", "k")
      .agg(sum(col("x") * col("x2")).as("p"),
        sum(col("x")).as("sa"), sum(col("x2")).as("sb"))
    val rho = pairs.join(glob, Seq("event_type"))
      .withColumn("num",
        col("n") * col("n") * col("p") -
          col("n") * col("s") * (col("sa") + col("sb")) +
          (col("n") - col("k")) * col("s") * col("s"))
      .withColumn("den", col("n") * (col("n") * col("q2") - col("s") * col("s")))
      .withColumn("rho", round(
        when(col("den") > 0, d2(col("num")) / d2(col("den")))
          .otherwise(lit(0.0)), 6))
    val rhoCols = (1 to 7).map(k =>
      max(when(col("k") === k.toLong, col("rho"))).as(s"rho$k"))
    val qTerm = (1 to 7).map(k =>
      max(when(col("k") === k.toLong,
        col("rho") * col("rho") / d2(col("n") - lit(k.toLong))))).reduce(_ + _)
    val aggs = max(col("n")).as("n_days") +: rhoCols :+
      round(d2(max(col("n"))) * (d2(max(col("n"))) + lit(2.0)) * qTerm, 6)
        .as("q_lb")
    rho.groupBy("event_type")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("event_type")
  }

  /** q308: von Neumann ratio — the successive-difference randomness
    * test (von Neumann '41) per event type over the daily series:
    * η = n·Σ(x_{t+1}−x_t)² / (nΣx²−S²); η ≈ 2 for white noise, < 2
    * under positive serial correlation (trend/level shifts), > 2
    * under oscillation. The parametric complement of q279's runs test
    * (which sees only signs) and q157's lag-1 Pearson (a single
    * correlation, not a variance-ratio test).
    *
    * Exactness: Σd² and nQ₂−S² are exact BIGINTs; η is one division,
    * rounded 6; z = (η−2)/√(4(n−2)/(n²−1)) from the same integers
    * with identical spelling.
    *
    * Scale shape: one map-side rollup to the calendar-bounded daily
    * table, a per-type lag window over it, a ≤types-row fold. */
  def qVonNeumann(s: SparkSession, d: String): DataFrame = {
    val wPos = Window.partitionBy("event_type").orderBy("t")
    val daily = dailySeries(s, d)
      .withColumn("xp", lag(col("x"), 1).over(wPos))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q2"),
        sum(when(col("xp").isNotNull,
          (col("x") - col("xp")) * (col("x") - col("xp")))
          .otherwise(lit(0L))).as("sum_d2"))
      .withColumn("den", col("n_days") * col("q2") - col("s") * col("s"))
      .withColumn("eta", round(
        when(col("den") > 0,
          d2(col("n_days") * col("sum_d2")) / d2(col("den")))
          .otherwise(lit(0.0)), 6))
      .withColumn("z_vn", round(
        when(col("den") > 0 && col("n_days") > 2,
          (d2(col("n_days") * col("sum_d2")) / d2(col("den")) - lit(2.0)) /
            sqrt(lit(4.0) * d2(col("n_days") - 2) /
              (d2(col("n_days")) * d2(col("n_days")) - lit(1.0))))
          .otherwise(lit(0.0)), 6))
      .select("event_type", "n_days", "sum_d2", "eta", "z_vn")
      .orderBy("event_type")
  }

  /** q318: MASE backtest — mean absolute scaled error of the
    * seasonal-naive-7 forecast against the naive-1 in-sample baseline
    * (Hyndman & Koehler '06), per event type over the daily series:
    * MASE < 1 means "last week same day" beats "yesterday", the
    * weekly-seasonality verdict that q174's seasonality profile and
    * q250's seasonal error describe but never score on the standard
    * scale-free metric.
    *
    * Exactness: both error sums are exact BIGINTs (Σ|x_t − x_{t−7}|,
    * Σ|x_t − x_{t−1}|); MASE cross-multiplies the integer counts —
    * d₇·(n−1) / (d₁·(n−7)) — so one division happens, rounded 6.
    *
    * Scale shape: q307/q308's calendar-bounded daily rollup + two
    * keyed lag windows over it; ≤types rows out. */
  def qMase(s: SparkSession, d: String): DataFrame = {
    val wPos = Window.partitionBy("event_type").orderBy("t")
    val daily = dailySeries(s, d)
      .withColumn("x1", lag(col("x"), 1).over(wPos))
      .withColumn("x7", lag(col("x"), 7).over(wPos))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("x1").isNotNull, abs(col("x") - col("x1")))
          .otherwise(lit(0L))).as("sum_abs_d1"),
        sum(when(col("x7").isNotNull, abs(col("x") - col("x7")))
          .otherwise(lit(0L))).as("sum_abs_d7"))
      .withColumn("mase", round(
        when(col("n_days") > 7 && col("sum_abs_d1") > 0,
          d2(col("sum_abs_d7") * (col("n_days") - 1)) /
            d2(col("sum_abs_d1") * (col("n_days") - 7)))
          .otherwise(lit(0.0)), 6))
      .orderBy("event_type")
  }

  /** q309: Brier score + Murphy decomposition — the PROPER-SCORING
    * verdict on the q230/q231 eval harness's proxy classifier: q230
    * draws the reliability diagram, this prices it. Brier =
    * REL − RES + UNC (Murphy '73) with forecast bins = the score's
    * own bounded integer domain (p = score_milli/9000): REL penalizes
    * miscalibration, RES rewards discrimination, UNC is the base-rate
    * floor no forecaster can beat.
    *
    * Exactness: the Brier score itself has an exact integer
    * numerator — Σ(score − 9000·o)² in BIGINT over one scan (9000²·n
    * times the mean squared error). REL and RES fold per-bin doubles
    * over the ≤9001-value score domain (the q183/q303 bounded-term
    * precedent), rounded 6; UNC is scalar. REL/RES/UNC are reported
    * as computed — the decomposition identity holds to floating
    * round-off, which the spec asserts at 1e-9, not the gate hash.
    *
    * Scale shape: one scan → score-domain rollup (map-side partials);
    * everything after is domain-sized. */
  def qBrierDecomposition(s: SparkSession, d: String): DataFrame = {
    val byScore = proxyScored(s, d)
      .groupBy("score_milli")
      .agg(count(lit(1)).as("n_k"), sum(col("is_pos")).as("pos_k"),
        sum((col("score_milli") - lit(9000L) * col("is_pos")) *
          (col("score_milli") - lit(9000L) * col("is_pos"))).as("bnum_k"))
    byScore.agg(
        sum(col("n_k")).as("n"), sum(col("pos_k")).as("n_pos"),
        sum(col("bnum_k")).as("brier_num"),
        sum(d2(col("n_k") * col("score_milli") - lit(9000L) * col("pos_k")) *
          d2(col("n_k") * col("score_milli") - lit(9000L) * col("pos_k")) /
          (lit(81000000.0) * d2(col("n_k")))).as("rel_raw"),
        sum(d2(col("pos_k")) * d2(col("pos_k")) / d2(col("n_k"))).as("res_a"),
        count(lit(1)).as("n_bins"))
      .withColumn("obar", d2(col("n_pos")) / d2(col("n")))
      .select(col("n"), col("n_bins"), col("n_pos"),
        round(d2(col("brier_num")) / (lit(81000000.0) * d2(col("n"))), 6)
          .as("brier"),
        round(col("rel_raw") / d2(col("n")), 6).as("reliability"),
        round(col("res_a") / d2(col("n")) - col("obar") * col("obar"), 6)
          .as("resolution"),
        round(col("obar") * (lit(1.0) - col("obar")), 6).as("uncertainty"))
  }

  /** q320: Fleiss' kappa — the MULTI-rater chance-corrected agreement
    * coefficient the harness lacked between q247 (two raters, Cohen)
    * and q317 (continuous items, Cronbach): n raters per subject,
    * nominal ratings, κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) (Fleiss '71). Subjects =
    * orders with exactly FOUR line items (Fleiss' model requires a
    * constant rater count); each line "rates" its order with its
    * return flag. The business read: does the return outcome attach to
    * the ORDER (lines agree — fulfillment- or customer-driven) or to
    * the LINE (lines split — item-driven)? The fixture draws flags per
    * line, so κ≈0 is the expected reading — the q247/q315 precedent:
    * the harness, not the agreement, is what the gate checks.
    *
    * Exactness: S₂ = ΣᵢΣⱼn²ᵢⱼ and the category totals cⱼ are exact
    * BIGINTs from two rollups; with n = 4 raters, P̄ = (S₂−4N)/(12N)
    * and P̄ₑ = Σc²ⱼ/(16N²) are exact rationals, so κ is ONE
    * cross-multiplied division over DECIMAL(38,0) products —
    * (16N²(S₂−4N) − 12N·Σc²ⱼ)/(12N(16N² − Σc²ⱼ)) — spelled
    * identically on both engines, rounded 6.
    *
    * Scale shape: ONE fact-sized exchange — the explicit
    * `repartition(k)` hash-partitions line items by order once, and
    * because HashPartitioning(k) satisfies the (k, cat) rollup's
    * clustered distribution, the rollup, the subject rollup AND the
    * kept-subject join all run exchange-free on that partitioning
    * (PlanShapeSpec pins the count); the category rollup is ≤3 rows
    * and everything after is scalar. */
  def qFleissKappa(s: SparkSession, d: String): DataFrame = {
    val nij = lineitem(s, d)
      .select(col("l_orderkey").as("k"), col("l_returnflag").as("cat"))
      .repartition(col("k"))
      .groupBy("k", "cat")
      .agg(count(lit(1)).as("nij"))
    val subj = nij.groupBy("k")
      .agg(sum("nij").as("m"), sum(col("nij") * col("nij")).as("sq"))
      .filter(col("m") === 4)
    val cj = nij.join(subj.select("k"), Seq("k"))
      .groupBy("cat").agg(sum("nij").as("cj"))
    val tot = subj.agg(count(lit(1)).as("n_subjects"), sum("sq").as("s2"))
    val c2 = cj.agg(count(lit(1)).as("n_cats"),
      sum(dec(col("cj")) * dec(col("cj"))).as("c2d"))
    tot.crossJoin(broadcast(c2))
      .select(col("n_subjects"), col("n_cats"), col("s2"),
        col("c2d").cast("long").as("c2"))
      .withColumn("fleiss_kappa", expr(
        """ROUND(CASE WHEN 16 * CAST(n_subjects AS DECIMAL(38,0)) * n_subjects
                        - c2 > 0
             THEN CAST(16 * CAST(n_subjects AS DECIMAL(38,0)) * n_subjects
                         * (s2 - 4 * CAST(n_subjects AS DECIMAL(38,0)))
                       - 12 * CAST(n_subjects AS DECIMAL(38,0)) * c2 AS DOUBLE)
                  / CAST(12 * CAST(n_subjects AS DECIMAL(38,0))
                         * (16 * CAST(n_subjects AS DECIMAL(38,0)) * n_subjects
                            - c2) AS DOUBLE)
             ELSE 0.0 END, 6)"""))
  }

  /** q321: quadratic-weighted Cohen's kappa — the ORDINAL agreement
    * cell beside q247's nominal kappa (nominal κ treats
    * quintile-1-vs-2 and quintile-1-vs-5 disagreement identically;
    * weighted κ prices disagreement by (i−j)², Cohen '68): each
    * customer active in both 1996 and 1997 is rated by each year's
    * spend QUINTILE (per-year discrete order-statistic cuts — the
    * q104x device, value-based so ties rate identically), and κ_w
    * reads year-over-year tier stability against chance. With
    * quadratic weights this is also the classic ICC-equivalent form.
    *
    * Exactness: the cuts are actual data elements (k = max(1,
    * ⌈p·n⌉)-th order statistic — no interpolation); O-cells,
    * marginals, Σw·O and Σw·rᵢcⱼ are exact integers (the expected
    * term DECIMAL-widened), and κ_w = 1 − N·ΣwO/ΣwE is one division,
    * rounded 6.
    *
    * Scale shape: per-(year, customer) rollup (map-side partials);
    * cuts ride the q104x value-domain device (distinct-value window,
    * never a row rank); the 5×5 cell grid and its marginals are
    * bounded. */
  def qWeightedKappa(s: SparkSession, d: String): DataFrame = {
    val cells = quintileTransitionCells(s, d)
    val tot = cells.agg(sum("o").as("n"),
      sum((col("i") - col("j")) * (col("i") - col("j")) * col("o"))
        .as("sum_w_obs"))
    val wexp = cells.groupBy(col("i")).agg(sum("o").as("r"))
      .crossJoin(cells.groupBy(col("j")).agg(sum("o").as("c")))
      .agg(sum(dec((col("i") - col("j")) * (col("i") - col("j")))
        * dec(col("r")) * dec(col("c"))).as("sum_w_exp_d"))
    tot.crossJoin(broadcast(wexp))
      .select(col("n"), col("sum_w_obs"),
        col("sum_w_exp_d").cast("long").as("sum_w_exp"))
      .withColumn("weighted_kappa", expr(
        """ROUND(CASE WHEN sum_w_exp > 0
             THEN 1.0 - CAST(CAST(n AS DECIMAL(38,0)) * sum_w_obs AS DOUBLE)
                        / CAST(sum_w_exp AS DOUBLE)
             ELSE 1.0 END, 6)"""))
  }

  /** Shared by q321/q331: the year-over-year quintile transition
    * cells — each customer active in both 1996 and 1997 rated by each
    * year's spend quintile (per-year discrete order-statistic cuts,
    * value-based so ties rate identically), rolled up to (i, j, o)
    * counts over the 5×5 grid. */
  private def quintileTransitionCells(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("cents"))
    val cuts = Pipeline.groupOrderStatistics(
        spend.select(col("yr"), col("cents")), "yr", "cents",
        Seq(0.2, 0.4, 0.6, 0.8))
      .groupBy("yr").agg(
        min(when(col("p") === 0.2, col("value"))).as("c1"),
        min(when(col("p") === 0.4, col("value"))).as("c2"),
        min(when(col("p") === 0.6, col("value"))).as("c3"),
        min(when(col("p") === 0.8, col("value"))).as("c4"))
    val rated = spend.join(broadcast(cuts), Seq("yr"))
      .select(col("o_custkey"), col("yr"),
        (lit(1L) + (col("cents") > col("c1")).cast("long")
          + (col("cents") > col("c2")).cast("long")
          + (col("cents") > col("c3")).cast("long")
          + (col("cents") > col("c4")).cast("long")).as("q"))
    rated.groupBy("o_custkey")
      .agg(min(when(col("yr") === 1996, col("q"))).as("i"),
        min(when(col("yr") === 1997, col("q"))).as("j"))
      .filter(col("i").isNotNull && col("j").isNotNull)
      .groupBy("i", "j").agg(count(lit(1)).as("o"))
  }

  /** q322: Durbin–Watson statistic on the residuals of the per-type
    * daily-count trend fit — the REGRESSION-diagnostic serial-
    * correlation cell: q152 fits the trend, q308's von Neumann tests
    * the RAW series, but neither answers "after removing the trend,
    * are the errors independent?" — the assumption every OLS standard
    * error rests on (Durbin & Watson '50; DW ≈ 2(1−ρ̂₁), <2 positive
    * autocorrelation). Read with q307: a clean DW but screaming
    * Ljung–Box means the dependence is seasonal, not lag-1.
    *
    * Exactness: with the centered regressor u_t = 2t−(n+1) (Σu = 0 by
    * construction), the OLS residual has the exact integer-scaled form
    * ẽ_t = S_uu(n·y_t − S_y) − n·S_uy·u_t  (= n·S_uu · e_t), and DW =
    * Σ(ẽ_t−ẽ_{t−1})²/Σẽ_t² cancels the scale factor exactly — both
    * sums are DECIMAL(38,0)-exact (the centering keeps the common
    * factor n·S_uu a calendar-bounded ~n⁴/3 instead of the naive
    * ~n⁵/12, which already overflows 38 digits at the 100× probe), so
    * the one final division is IEEE-identical on both engines
    * (rounded 6). ρ̂₁ of the residuals comes from the same sums. An
    * overflow would surface as NULL (ANSI error / loud), never as a
    * silently wrong hash.
    *
    * Scale shape: everything after the (type, day) rollup is
    * calendar-bounded (q307's argument); the per-type windows
    * partition by type — no single-partition window at any scale. */
  def qDurbinWatson(s: SparkSession, d: String): DataFrame = {
    val daily = dailySeries(s, d)
    val base = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sy"))
    val centered = daily.join(broadcast(base), Seq("event_type"))
      .withColumn("u", lit(2L) * col("t") - (col("n") + 1L))
    val fit = centered.groupBy("event_type")
      .agg(max(col("n")).as("n"), max(col("sy")).as("sy"),
        sum(col("u") * col("x")).as("suy"),
        sum(col("u") * col("u")).as("suu"))
    val wPos = Window.partitionBy("event_type").orderBy("t")
    val resid = centered.join(broadcast(fit.drop("n", "sy")), Seq("event_type"))
      .withColumn("et",
        dec(col("suu")) * (dec(col("n")) * col("x") - col("sy"))
          - dec(col("n")) * col("suy") * col("u"))
      .withColumn("et1", lag(col("et"), 1).over(wPos))
    resid.groupBy("event_type")
      .agg(max(col("n")).as("n_days"),
        sum(col("et") * col("et")).as("sse"),
        sum(when(col("et1").isNotNull,
          (col("et") - col("et1")) * (col("et") - col("et1")))
          .otherwise(dec(lit(0L)))).as("ssd"),
        sum(when(col("et1").isNotNull, col("et") * col("et1"))
          .otherwise(dec(lit(0L)))).as("scross"))
      .select(col("event_type"), col("n_days"),
        round(when(col("sse") > 0, d2(col("ssd")) / d2(col("sse")))
          .otherwise(lit(0.0)), 6).as("dw"),
        round(when(col("sse") > 0, d2(col("scross")) / d2(col("sse")))
          .otherwise(lit(0.0)), 6).as("rho1_resid"))
      .orderBy("event_type")
  }

  /** q330: two-way ANOVA without replication (randomized complete
    * block) over the q299 blocks — the PARAMETRIC twin of Friedman on
    * the same customers × years layout (Friedman judges within-block
    * ORDERINGS; this decomposes the actual cents into treatment/block/
    * error sums of squares and prices both effects as F ratios —
    * Fisher's RCB design read as "did years shift spend once each
    * customer is their own control?"). Read with q248: the variance-
    * homogeneity check this F assumes.
    *
    * Exactness: the four sufficient statistics — grand total T, grand
    * square sum Q, per-year totals ΣT_j², per-block totals ΣB_i² —
    * are exact BIGINT/DECIMAL(38,0) rollups; every SS and both F's
    * are spelled-identical double compositions of those exact
    * integers (IEEE ·/÷ only), rounded 6. Degenerate zero error SS
    * guards to 0.
    *
    * Scale shape: one (custkey, year) rollup, the complete-block
    * filter on the same key, one block-total rollup riding the same
    * partitioning, ≤3-row year totals; scalar math after. */
  def qTwoWayAnova(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1999-01-01"))
      .groupBy(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("v"))
    val complete = spend.groupBy("o_custkey")
      .agg(count(lit(1)).as("ky")).filter(col("ky") === 3)
      .select("o_custkey")
    val kept = spend.join(complete, Seq("o_custkey"))
    val blocks = kept.groupBy("o_custkey").agg(sum("v").as("b"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(dec(col("b")) * col("b")).as("sum_b_sq"))
    val years = kept.groupBy("yr").agg(sum("v").as("t_j"))
      .agg(sum(dec(col("t_j")) * col("t_j")).as("sum_t_sq"))
    val glob = kept.agg(sum("v").as("t"),
      sum(dec(col("v")) * col("v")).as("q_sq"))
    glob.crossJoin(broadcast(blocks)).crossJoin(broadcast(years))
      .select(col("n_blocks"), lit(3L).as("k"),
        d2(col("t")).as("td"), d2(col("q_sq")).as("qd"),
        d2(col("sum_t_sq")).as("tsq"), d2(col("sum_b_sq")).as("bsq"))
      .withColumn("cf", col("td") * col("td") /
        (d2(col("n_blocks")) * lit(3.0)))
      .withColumn("ss_total", col("qd") - col("cf"))
      .withColumn("ss_treat", col("tsq") / d2(col("n_blocks")) - col("cf"))
      .withColumn("ss_block", col("bsq") / lit(3.0) - col("cf"))
      .withColumn("ss_error",
        col("ss_total") - col("ss_treat") - col("ss_block"))
      .withColumn("f_treat", round(
        when(col("ss_error") > 0 && col("n_blocks") > 1,
          (col("ss_treat") / lit(2.0)) /
            (col("ss_error") / (lit(2.0) * (d2(col("n_blocks")) - 1.0))))
          .otherwise(lit(0.0)), 6))
      .withColumn("f_block", round(
        when(col("ss_error") > 0 && col("n_blocks") > 1,
          (col("ss_block") / (d2(col("n_blocks")) - 1.0)) /
            (col("ss_error") / (lit(2.0) * (d2(col("n_blocks")) - 1.0))))
          .otherwise(lit(0.0)), 6))
      .select(col("n_blocks"), col("k"),
        round(col("ss_treat"), 6).as("ss_treat"),
        round(col("ss_block"), 6).as("ss_block"),
        round(col("ss_error"), 6).as("ss_error"),
        col("f_treat"), col("f_block"))
  }

  /** q331: Bowker's test of symmetry over the q321 quintile
    * transition matrix — the k×k generalization of q296's McNemar
    * (McNemar asks a 2×2 "did flips balance?"; Bowker '48 asks it of
    * every off-diagonal pair at once): do customers move UP the spend
    * quintiles as often as DOWN, pair by pair? χ² = Σ_{i<j}
    * (n_ij − n_ji)²/(n_ij + n_ji), df = #pairs with any movement.
    *
    * Exactness: the cells are q321's exact counts (shared
    * construction, [[quintileTransitionCells]]); each term is one
    * exact-integer ratio rounded 6 over the ≤10 off-diagonal pairs
    * (the q319 bounded-terms precedent — per-pair rows keep the gate
    * informative; the spec sums them).
    *
    * Scale shape: q321's plan plus a 25-cell fold. */
  def qBowkerSymmetry(s: SparkSession, d: String): DataFrame = {
    val cells = quintileTransitionCells(s, d).filter(col("i") =!= col("j"))
    cells
      .select(least(col("i"), col("j")).as("q_lo"),
        greatest(col("i"), col("j")).as("q_hi"),
        when(col("i") < col("j"), col("o")).otherwise(lit(0L)).as("up"),
        when(col("i") > col("j"), col("o")).otherwise(lit(0L)).as("down"))
      .groupBy("q_lo", "q_hi")
      .agg(sum("up").as("n_up"), sum("down").as("n_down"))
      .withColumn("term", round(
        when(col("n_up") + col("n_down") > 0,
          d2((col("n_up") - col("n_down")) * (col("n_up") - col("n_down"))) /
            d2(col("n_up") + col("n_down")))
          .otherwise(lit(0.0)), 6))
      .orderBy("q_lo", "q_hi")
  }

  /** q332: Kendall's coefficient of concordance W over the q299
    * blocks — the EFFECT SIZE Friedman's χ² lacks (χ² says "the years
    * differ"; W ∈ [0,1] says how strongly the customers AGREE on the
    * ordering — the inter-rater-reliability reading of the same
    * ranks, Kendall & Babington Smith '39). Computed independently of
    * q299 (column rank sums + per-block tie sums, not the Friedman
    * statistic), and the spec asserts the classic identity
    * χ²_F = n(k−1)·W against q299's output.
    *
    * Exactness: with doubled ranks, S′ = Σ_j (D_j − n(k+1))² is
    * 4·the classic deviation sum and the tie term Σ(t³−t) is exact,
    * so W = 3·S′/(n²(k³−k) − n·Σ(t³−t)) — DECIMAL-widened integers,
    * one division, rounded 6. Fully-tied degenerate guards to 0.
    *
    * Scale shape: q299's plan plus a (block, value) tie rollup riding
    * the same key. */
  def qKendallW(s: SparkSession, d: String): DataFrame = {
    val ranked = yearSpendRanks(s, d)
    val perYear = ranked.groupBy("yr").agg(sum(col("dij")).as("d_sum"))
    val ties = ranked.groupBy("o_custkey", "v")
      .agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tie_sum"))
    val glob = ranked.agg(
      (count(lit(1)) / lit(3L)).cast("long").as("n_blocks"))
    perYear.crossJoin(broadcast(glob))
      .agg(max(col("n_blocks")).as("n_blocks"),
        sum(dec(col("d_sum") - lit(4L) * col("n_blocks")) *
          (col("d_sum") - lit(4L) * col("n_blocks"))).cast("long")
          .as("s_prime"))
      .crossJoin(broadcast(ties))
      .withColumn("kendall_w", expr(
        """ROUND(CASE WHEN 24 * CAST(n_blocks AS DECIMAL(38,0)) * n_blocks
                        - CAST(n_blocks AS DECIMAL(38,0)) * tie_sum > 0
             THEN CAST(3 * CAST(s_prime AS DECIMAL(38,0)) AS DOUBLE)
                  / CAST(24 * CAST(n_blocks AS DECIMAL(38,0)) * n_blocks
                         - CAST(n_blocks AS DECIMAL(38,0)) * tie_sum
                    AS DOUBLE)
             ELSE 0.0 END, 6)"""))
  }

  /** q328: partial correlation of quantity and price CONTROLLING for
    * discount, per return flag — the confounder-removal cell beside
    * q223's raw correlation matrix (a raw r_qty,price can be pure
    * discount policy; the first-order partial
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) asks what
    * remains when the third variable is held fixed — the recursive
    * formula every feature-selection screen applies after q223 flags
    * a pair).
    *
    * Exactness: the ten sufficient sums are exact DECIMAL(38,0) over
    * cent/point-scaled integers per flag (q223's device, grouped);
    * each raw r is the q223 scalar formula ROUNDED 6, and the partial
    * folds the ROUNDED r's in a spelled-identical expression (the
    * q304 discipline — bounded-count compositions of rounded exact
    * ratios hash stably). Degenerate controls (|r_xz| or |r_yz| = 1)
    * emit 0 under an explicit guard.
    *
    * Scale shape: one map-side-combined rollup onto ≤3 rows; scalar
    * math after. */
  def qPartialCorr(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d).select(col("l_returnflag").as("flag"),
      dec(expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("x"),
      dec(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("y"),
      dec(expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)"))
        .as("z"))
    val sums = base.groupBy("flag").agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("z")).as("sxz"),
      sum(col("y") * col("z")).as("syz"))
    def r(sab: String, sa: String, sb: String, saa: String,
        sbb: String): Column = {
      val cov = d2(col("n") * col(sab) - col(sa) * col(sb))
      val va = d2(col("n") * col(saa) - col(sa) * col(sa))
      val vb = d2(col("n") * col(sbb) - col(sb) * col(sb))
      round(when(va > 0 && vb > 0, cov / sqrt(va) / sqrt(vb))
        .otherwise(lit(0.0)), 6)
    }
    sums.select(col("flag"), col("n").cast("long").as("n"),
        r("sxy", "sx", "sy", "sxx", "syy").as("r_xy"),
        r("sxz", "sx", "sz", "sxx", "szz").as("r_xz"),
        r("syz", "sy", "sz", "syy", "szz").as("r_yz"))
      .withColumn("partial_xy_z", expr(
        """ROUND(CASE WHEN (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0
             THEN (r_xy - r_xz * r_yz)
                  / SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
             ELSE 0.0 END, 6)"""))
      .orderBy("flag")
  }

  /** q329: Hosmer–Lemeshow goodness-of-fit over the proxy classifier —
    * the CALIBRATION TEST beside q230's calibration table and q309's
    * Brier decomposition (q230 draws the reliability diagram, q309
    * prices it, HL '80 tests it: are the observed positives per score
    * decile consistent with the predicted probabilities?). Groups are
    * per-score-decile via the q321 discrete order-statistic cuts
    * (value-based — tied scores land in one group deterministically);
    * p = min(score, 9000)/9000 (the q309 score→probability
    * convention, clamped so the proxy's >9000 tail keeps E < n).
    *
    * Exactness: per group, n, observed positives O and the predicted
    * mass S = Σ min(score, 9000) are exact BIGINTs, and the HL term
    * (O − E)²/(E(1 − E/n)) cross-multiplies to the exact-integer
    * ratio (9000·O − S)²·n / (S·(9000·n − S)) — one division per
    * group, rounded 6 (the q319 bounded-terms precedent; the spec
    * sums them against a recount). Zero/full predicted mass guards
    * to 0.
    *
    * Scale shape: one scan; the decile cuts ride the value-domain
    * device; everything after is ten rows. */
  def qHosmerLemeshow(s: SparkSession, d: String): DataFrame = {
    val scored = proxyScored(s, d)
      .select(col("is_pos"),
        least(col("score_milli"), lit(9000L)).as("sm"))
    val ps = (1 to 9).map(_ / 10.0)
    val cutAggs = ps.map(p =>
      min(when(col("p") === p, col("value"))).as(f"c${(p * 10).round}%d"))
    val cuts = Pipeline.groupOrderStatistics(
        scored.select(lit("all").as("g"), col("sm")), "g", "sm", ps)
      .groupBy("g")
      .agg(cutAggs.head, cutAggs.tail: _*)
      .drop("g")
    val grouped = scored.crossJoin(broadcast(cuts))
      .withColumn("hl_group",
        ps.indices.map(i => (col("sm") > col(f"c${i + 1}%d")).cast("long"))
          .foldLeft(lit(1L))(_ + _))
      .groupBy("hl_group")
      .agg(count(lit(1)).as("n_g"), sum(col("is_pos")).as("obs_pos"),
        sum(col("sm")).as("pred_milli"))
    grouped
      .withColumn("hl_term", expr(
        """ROUND(CASE WHEN pred_milli > 0 AND pred_milli < 9000 * n_g
             THEN CAST((9000 * obs_pos - pred_milli)
                       * CAST(9000 * obs_pos - pred_milli AS DECIMAL(38,0))
                       * n_g AS DOUBLE)
                  / CAST(CAST(pred_milli AS DECIMAL(38,0))
                         * (9000 * n_g - pred_milli) AS DOUBLE)
             ELSE 0.0 END, 6)"""))
      .orderBy("hl_group")
  }

  /** q333: expected / maximum calibration error over the proxy
    * classifier — the METRIC the q329 test prices as a p-value and
    * q230 draws as a table (ECE is the number model cards actually
    * report; Naeini '15): ten equal-WIDTH probability bins (the
    * standard ECE binning, vs q329's equal-count deciles), gap =
    * |observed − predicted| per bin, ECE the n-weighted mean gap, MCE
    * the worst bin.
    *
    * Exactness: ECE has an exact INTEGER numerator — Σ_b n_b·|O_b/n_b
    * − S_b/(9000·n_b)| = Σ_b |9000·O_b − S_b| / (9000·n) — so the
    * headline metric is ONE division over a BIGINT sum; per-bin gaps
    * and MCE are the same exact integers divided per bin, identical
    * doubles on both engines.
    *
    * Scale shape: one scan onto the fixed score domain; ten rows
    * after. */
  def qCalibrationError(s: SparkSession, d: String): DataFrame = {
    val bins = proxyScored(s, d)
      .select(col("is_pos"),
        least(col("score_milli"), lit(9000L)).as("sm"))
      .withColumn("bin", least(lit(9L), expr("sm * 10 div 9000")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_b"), sum(col("is_pos")).as("obs_pos"),
        sum(col("sm")).as("pred_milli"))
      .withColumn("abs_gap",
        abs(lit(9000L) * col("obs_pos") - col("pred_milli")))
    val tot = bins.agg(sum(col("n_b")).as("n"),
      sum(col("abs_gap")).as("gap_sum"))
    val mce = bins.agg(max(d2(col("abs_gap")) /
      (lit(9000.0) * d2(col("n_b")))).as("mce_raw"))
    bins.crossJoin(broadcast(tot)).crossJoin(broadcast(mce))
      .select(col("bin"), col("n_b"), col("obs_pos"), col("pred_milli"),
        col("abs_gap"),
        round(d2(col("abs_gap")) / (lit(9000.0) * d2(col("n_b"))), 6)
          .as("bin_gap"),
        round(d2(col("gap_sum")) / (lit(9000.0) * d2(col("n"))), 6)
          .as("ece"),
        round(col("mce_raw"), 6).as("mce"))
      .orderBy("bin")
  }

  /** q336: decision stump over the proxy score — the one-split
    * Gini-impurity learner (CART's base case, Breiman '84): the best
    * threshold t (predict positive when score ≥ t) minimizing the
    * weighted child impurity. The ML-primitive beside the eval
    * harness: q231 sweeps RECALL/PRECISION operating points, the
    * stump asks what a tree would actually split on, and the gain
    * column is the univariate feature-importance number a feature
    * screen ranks by.
    *
    * Exactness/determinism: the cumulative (n_l, pos_l) pairs are
    * exact BIGINTs off the score-domain rollup; each candidate's
    * weighted Gini is a double of exact integers (identical on both
    * engines, rounded 6 BEFORE the argmin), and the argmin breaks
    * ties on the smallest threshold — a deterministic total order cut
    * by TakeOrdered, never a global sort.
    *
    * Scale shape: one scan onto the bounded score domain (q231's
    * argument); candidates = distinct scores, cumulatives ride the
    * domain-sized rollup. */
  def qDecisionStump(s: SparkSession, d: String): DataFrame = {
    val byScore = proxyScored(s, d)
      .groupBy("score_milli")
      .agg(count(lit(1)).as("cnt"), sum(col("is_pos")).as("pos"))
    val wAsc = Window.orderBy("score_milli")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byScore
      .withColumn("n_l", coalesce(sum(col("cnt")).over(wAsc), lit(0L)))
      .withColumn("pos_l", coalesce(sum(col("pos")).over(wAsc), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
      .withColumn("pos_tot", sum(col("pos")).over(Window.partitionBy()))
      .withColumn("n_r", col("n") - col("n_l"))
      .withColumn("pos_r", col("pos_tot") - col("pos_l"))
    def gini(pos: Column, nn: Column): Column =
      when(nn > 0, lit(2.0) * d2(pos) * d2(nn - pos) / d2(nn))
        .otherwise(lit(0.0))
    cum
      .withColumn("gini_after", round(
        (gini(col("pos_l"), col("n_l")) + gini(col("pos_r"), col("n_r")))
          / d2(col("n")), 6))
      .withColumn("gini_before", round(
        gini(col("pos_tot"), col("n")) / d2(col("n")), 6))
      .withColumn("gini_gain",
        round(col("gini_before") - col("gini_after"), 6))
      .orderBy(col("gini_after").asc, col("score_milli").asc)
      .limit(1)
      .select(col("score_milli").as("threshold"), col("n_l"), col("pos_l"),
        col("n_r"), col("pos_r"), col("gini_before"), col("gini_after"),
        col("gini_gain"))
  }

  /** q337: gamma distribution fit by method of moments per order
    * priority — the DISTRIBUTION-FITTING cell the q306 normality gate
    * motivates (order totals are right-skewed money: when JB rejects
    * normal, the next question is "what shape IS it" — the gamma's
    * (k, θ) are the standard answer for positive skewed amounts, and
    * a drift monitor compares fitted k across slices): k̂ = m²/v̂,
    * θ̂ = v̂/m from the exact sufficient sums (Pearson's method of
    * moments — no iteration, unlike MLE's digamma solve).
    *
    * Exactness: n, S₁, S₂ exact (DECIMAL-widened squares); with
    * V = nS₂−S₁² the sample moments give k̂ = S₁²(n−1)/(n·V) and
    * θ̂ = V/((n−1)·S₁), spelled as doubles of those exact integers,
    * rounded 6.
    *
    * Scale shape: one map-side rollup onto ≤5 rows; scalar math. */
  def qGammaMomFit(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    orders(s, d).select(col("o_orderpriority"), cents.as("v"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(dec(col("v")) * col("v")).as("s2d"))
      .withColumn("var_num", dec(col("n")) * col("s2d")
        - dec(col("s1")) * col("s1"))
      .select(col("o_orderpriority"), col("n"), col("s1"),
        round(when(col("n") > 1 && col("var_num") > 0,
          d2(dec(col("s1")) * col("s1")) * d2(col("n") - 1)
            / (d2(col("n")) * d2(col("var_num")))).otherwise(lit(0.0)), 6)
          .as("gamma_k"),
        round(when(col("n") > 1 && col("s1") > 0,
          d2(col("var_num")) / (d2(col("n") - 1) * d2(col("s1"))))
          .otherwise(lit(0.0)), 6).as("gamma_theta_cents"))
      .orderBy("o_orderpriority")
  }

  /** q338: linear multi-touch attribution — the MULTI-touch credit
    * model beside q199's last-touch (last-touch gives the final click
    * everything; linear splits each conversion's credit equally over
    * every view/click in the look-back window — the other standard
    * marketing report, and the fairer read when journeys are long):
    * per touch type, total credited ppm, credited touches, and
    * purchases reached.
    *
    * Exactness: credit is integer ppm — each touch gets
    * ⌊10⁶/n⌋ and the LAST touch (max (us, event_id)) absorbs the
    * remainder, so every attributed purchase contributes exactly
    * 1,000,000 ppm and the rollup is an exact BIGINT sum; a
    * purchase with no in-window touch credits 'unattributed' in
    * full.
    *
    * Scale shape: ONE user-keyed exchange — the purchase×touch
    * pairing is an equi-join on user_id (range predicate applied
    * post-join), and both windows (touch count, last-touch rank)
    * partition by (user, purchase); fanout is bounded by per-user
    * activity in the 24 h window. */
  def qLinearAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("t_type"), col("us").as("t_us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("us").as("p_us"))
    val j = purch.join(touches,
      purch("user_id") === touches("user_id") &&
        col("t_us") < col("p_us") &&
        col("p_us") - col("t_us") <= 86400000000L, "left")
      .select(purch("user_id"), col("p_id"), col("t_id"), col("t_type"),
        col("t_us"))
    val wP = Window.partitionBy("user_id", "p_id")
    val wRk = wP.orderBy(col("t_us").desc, col("t_id").desc)
    val credited = j
      .withColumn("n_t", count(col("t_id")).over(wP))
      .withColumn("rk", row_number().over(wRk).cast("long"))
      .withColumn("attributed_type",
        when(col("n_t") === 0, lit("unattributed"))
          .otherwise(col("t_type")))
      .withColumn("credit_ppm",
        when(col("n_t") === 0, lit(1000000L))
          .when(col("rk") === 1,
            lit(1000000L) - (col("n_t") - 1) * expr("1000000 div n_t"))
          .otherwise(expr("1000000 div n_t")))
    credited.groupBy("attributed_type")
      .agg(sum(col("credit_ppm")).as("credit_ppm_total"),
        sum((col("n_t") > 0).cast("long")).as("n_credited_touches"),
        countDistinct(col("p_id")).as("n_purchases"))
      .orderBy("attributed_type")
  }

  /** q340: covariate balance table (standardized mean differences) —
    * the causal-inference "Table 1" beside q208's CUPED and q304's
    * stratified association: before reading ANY exposure contrast
    * (here q304's BUILDING-segment exposure), check whether the
    * groups are comparable on their pre-treatment covariates —
    * SMD = (m₁−m₀)/√((v₁+v₀)/2) per covariate, |SMD| > 0.1 the
    * conventional imbalance flag (Austin '09). Covariates: account
    * balance, order count, total spend.
    *
    * Exactness: per group per covariate, n, S₁ and the
    * DECIMAL-widened S₂ are exact; means/variances/SMD are
    * spelled-identical doubles of those integers, rounded 6.
    *
    * Scale shape: one per-customer rollup (custkey-keyed exchange),
    * then a 2×3-cell map-side fold; scalar math after. */
  def qCovariateBalance(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("spend_cents"))
    val cust = customer(s, d).select(col("c_custkey"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("exposed"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("acctbal_cents"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .na.fill(0L, Seq("n_orders", "spend_cents"))
    val long = Seq("acctbal_cents", "n_orders", "spend_cents").map { c =>
      cust.select(lit(c).as("covariate"), col("exposed"), col(c).as("x"))
    }.reduce(_ unionAll _)
    val cells = long.groupBy("covariate", "exposed")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(dec(col("x")) * col("x")).as("s2d"))
      .withColumn("mean", d2(col("s1")) / d2(col("n")))
      .withColumn("vair",
        when(col("n") > 1,
          d2(dec(col("n")) * col("s2d") - dec(col("s1")) * col("s1")) /
            (d2(col("n")) * d2(col("n") - 1))).otherwise(lit(0.0)))
    val e1 = cells.filter(col("exposed") === 1)
      .select(col("covariate"), col("n").as("n_exposed"),
        col("mean").as("m1"), col("vair").as("v1"))
    val e0 = cells.filter(col("exposed") === 0)
      .select(col("covariate").as("cov0"), col("n").as("n_control"),
        col("mean").as("m0"), col("vair").as("v0"))
    e1.join(broadcast(e0), col("covariate") === col("cov0"))
      .select(col("covariate"), col("n_exposed"), col("n_control"),
        round(col("m1"), 6).as("mean_exposed"),
        round(col("m0"), 6).as("mean_control"),
        round(when((col("v1") + col("v0")) > 0,
          (col("m1") - col("m0")) /
            sqrt((col("v1") + col("v0")) / lit(2.0)))
          .otherwise(lit(0.0)), 6).as("smd"))
      .orderBy("covariate")
  }

  /** q341: Wilson score intervals for the q263 arm conversion rates —
    * the CI the two-proportion z-test doesn't report (and the
    * interval that behaves at small counts / extreme rates where the
    * Wald ±z√(pq/n) collapses; Wilson '27 is the standard
    * recommendation): per arm, p̂ and the 95% lower/upper bounds.
    *
    * Exactness: p̂ = c/n is an exact rational; the Wilson algebra
    * (z = 1.959964 spelled as the same literal on both engines) is a
    * fixed composition of IEEE ·/÷/√ over it, rounded 6.
    *
    * Scale shape: q263's user rollup; two rows after. */
  def qWilsonInterval(s: SparkSession, d: String): DataFrame = {
    val z = lit(1.959964)
    val arms = events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 95,
        1L).otherwise(0L)).as("conv"))
      .withColumn("arm", (col("user_id") % 2).cast("long"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val p = d2(col("c")) / d2(col("n"))
    val nd = d2(col("n"))
    val center = (p + z * z / (lit(2.0) * nd)) / (lit(1.0) + z * z / nd)
    val half = z * sqrt(p * (lit(1.0) - p) / nd
      + z * z / (lit(4.0) * nd * nd)) / (lit(1.0) + z * z / nd)
    arms.select(col("arm"), col("n"), col("c"),
        round(p, 6).as("p_hat"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
      .orderBy("arm")
  }

  /** q342: sample-ratio-mismatch (SRM) check on the q263/q341 arm
    * assignment — the experiment-HEALTH gate every A/B readout must
    * pass first (a biased splitter invalidates q263's z and q341's
    * intervals before any statistics run; the standard practice is a
    * χ² against the design ratio, here 50/50): χ² = (n_a−n_b)²/N,
    * df 1, with the conventional p < 0.001 alarm left to the reader
    * (χ² > 10.83).
    *
    * Exactness: counts exact; χ² one division, rounded 6.
    *
    * Scale shape: q263's user rollup collapsed to two counts. */
  def qSrmCheck(s: SparkSession, d: String): DataFrame = {
    val arms = events(s, d).select(col("user_id")).distinct()
      .withColumn("arm", (col("user_id") % 2).cast("long"))
      .groupBy("arm").agg(count(lit(1)).as("n"))
    val a = arms.filter(col("arm") === 0).select(col("n").as("n_a"))
    val b = arms.filter(col("arm") === 1).select(col("n").as("n_b"))
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        round(d2((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))) /
          d2(col("n_a") + col("n_b")), 6).as("srm_chi2"),
        (d2((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))) /
          d2(col("n_a") + col("n_b")) > lit(10.83)).cast("long")
          .as("srm_alarm"))
  }

  /** q343: isotonic (PAVA) calibration of the proxy score — the FIX
    * member of the calibration family (q230 draws the diagram, q329
    * tests it, q333 prices it; isotonic regression REPAIRS it): the
    * maximum-likelihood monotone map score → P(positive), by
    * pool-adjacent-violators (Ayer '55 / Barlow '72) over the score
    * domain — what a serving layer applies between raw score and
    * thresholded decision. Rows-only at the gate: PAVA's sequential
    * pooling is not SQL-expressible; the spec pins isotonicity,
    * within-pool constancy, mass conservation, AND equality with an
    * independent O(n²) reference.
    *
    * Exactness: pool means are exact rationals (pos, cnt); the
    * violator comparison cross-multiplies (no double mean compare),
    * and the emitted calibration is the floor ppm of the final pool.
    *
    * Scale shape: one scan collapses onto the BOUNDED score domain
    * (q231's argument), then the fold walks ≤9001 cells in a single
    * task — domain-bounded, not data-bounded, so the shape survives
    * any corpus size. */
  def qIsotonicCalibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    proxyScored(s, d)
      .groupBy("score_milli")
      .agg(count(lit(1)).as("cnt"), sum(col("is_pos")).as("pos"))
      .select(col("score_milli").cast("long"), col("cnt").cast("long"),
        col("pos").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroups { (_, it) =>
        val cells = it.toArray.sortBy(_._1)
        // pools as (fromIdx, pos, cnt); merge while the previous pool's
        // mean exceeds the new one's (cross-multiplied exact compare)
        val from = new Array[Int](cells.length)
        val pos = new Array[Long](cells.length)
        val cnt = new Array[Long](cells.length)
        var top = -1
        cells.indices.foreach { i =>
          top += 1; from(top) = i; pos(top) = cells(i)._3
          cnt(top) = cells(i)._2
          while (top > 0 && pos(top - 1) * cnt(top) > pos(top) * cnt(top - 1)) {
            pos(top - 1) += pos(top); cnt(top - 1) += cnt(top); top -= 1
          }
        }
        (0 to top).iterator.flatMap { p =>
          val hi = if (p == top) cells.length - 1 else from(p + 1) - 1
          val ppm = pos(p) * 1000000L / cnt(p)
          (from(p) to hi).iterator.map { i =>
            (cells(i)._1, cells(i)._2, cells(i)._3, ppm)
          }
        }
      }
      .toDF("score_milli", "cnt", "pos", "iso_ppm")
      .orderBy("score_milli")
  }

  /** q344: stratified-adjustment effect estimate — the ESTIMATOR the
    * q340 balance table gates (when balance fails, adjust: stratify
    * on the confounder and weight within-stratum contrasts by
    * stratum size — Cochran '68, the design-based cousin of q304's
    * CMH which does the same for 2×2 outcomes): exposure = BUILDING
    * segment, outcome = customer total spend, strata = account-
    * balance quintiles (the q321 discrete value-domain cuts).
    *
    * Exactness: per-stratum (n, S₁) per arm exact; each stratum
    * difference and the n_s/N-weighted combination are
    * spelled-identical doubles of exact integers, rounded 6 (the
    * adjusted estimate rides every row, the q299 emission pattern).
    *
    * Scale shape: one per-customer rollup; quintile cuts on the
    * value-domain device; ≤5×2 cells after. */
  def qStratifiedEffect(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d).groupBy("o_custkey")
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("spend_cents"))
    val cust = customer(s, d).select(col("c_custkey"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("exposed"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("bal"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .na.fill(0L, Seq("spend_cents"))
    val cuts = Pipeline.groupOrderStatistics(
        cust.select(lit("all").as("g"), col("bal")), "g", "bal",
        Seq(0.2, 0.4, 0.6, 0.8))
      .groupBy("g").agg(
        min(when(col("p") === 0.2, col("value"))).as("c1"),
        min(when(col("p") === 0.4, col("value"))).as("c2"),
        min(when(col("p") === 0.6, col("value"))).as("c3"),
        min(when(col("p") === 0.8, col("value"))).as("c4"))
      .drop("g")
    val cells = cust.crossJoin(broadcast(cuts))
      .withColumn("stratum",
        lit(1L) + (col("bal") > col("c1")).cast("long")
          + (col("bal") > col("c2")).cast("long")
          + (col("bal") > col("c3")).cast("long")
          + (col("bal") > col("c4")).cast("long"))
      .groupBy("stratum")
      .agg(sum(col("exposed")).as("n1"),
        sum(lit(1L) - col("exposed")).as("n0"),
        sum(when(col("exposed") === 1, col("spend_cents"))
          .otherwise(lit(0L))).as("s1"),
        sum(when(col("exposed") === 0, col("spend_cents"))
          .otherwise(lit(0L))).as("s0"))
      .withColumn("diff_cents", when(col("n1") > 0 && col("n0") > 0,
        d2(col("s1")) / d2(col("n1")) - d2(col("s0")) / d2(col("n0")))
        .otherwise(lit(0.0)))
    // weight only strata with BOTH arms present, in numerator AND
    // denominator — a one-arm stratum contributes no contrast
    val w = when(col("n1") > 0 && col("n0") > 0,
      d2(col("n1") + col("n0"))).otherwise(lit(0.0))
    val ate = cells.agg(
      (sum(w * col("diff_cents")) / sum(w)).as("ate_raw"))
    cells.crossJoin(broadcast(ate))
      .select(col("stratum"), col("n1"), col("n0"), col("s1"), col("s0"),
        round(col("diff_cents"), 6).as("diff_cents"),
        round(col("ate_raw"), 6).as("adjusted_diff_cents"))
      .orderBy("stratum")
  }

  /** q346: Wald's sequential probability ratio test over the q263
    * arm conversions — the ALWAYS-VALID-inference cell the fixed-n
    * battery lacks (q263/q341 assume you picked n in advance; a live
    * experiment peeks continuously, and SPRT is the classic test
    * that stays valid under peeking, Wald '45): users enroll in
    * user_id order, the log-likelihood ratio walks
    * LLR_k = a_k·ln(p₁/p₀) + (k−a_k)·ln((1−p₁)/(1−p₀)) for
    * H₀: p = 4% vs H₁: p = 5%, and the first crossing of ±ln(19)
    * (α = β = 0.05) decides.
    *
    * Exactness/determinism: the two coefficients and the threshold
    * are PRE-COMPUTED double literals spelled identically on both
    * engines (0.22314355131420976, −0.010471299867295366,
    * 2.9444389791664403 — in-engine ln() could differ in ulps, the
    * q335 lesson); a_k and k are exact cumulative integers, so every
    * LLR and crossing test is engine-identical.
    *
    * Scale shape: the per-arm enrollment cumulative rides the
    * range-partition + broadcast-offset device (the q276/q277/q295
    * pattern — NO single-partition window over the user aggregate);
    * the crossing rollup collapses map-side. */
  def qSprt(s: SparkSession, d: String): DataFrame = {
    val c1 = lit(0.22314355131420976)  // ln(0.05/0.04)
    val c0 = lit(-0.010471299867295366) // ln(0.95/0.96)
    val thr = lit(2.9444389791664403)  // ln(19)
    val perUser = events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 95,
        1L).otherwise(0L)).as("conv"))
      .withColumn("arm", (col("user_id") % 2).cast("long"))
    val parts = perUser.repartitionByRange(col("arm"), col("user_id"))
      .withColumn("pid", spark_partition_id())
    val offs = parts.groupBy("arm", "pid")
      .agg(count(lit(1)).as("pc"), sum(col("conv")).as("ps"))
      .withColumn("off_k", coalesce(sum("pc").over(
        Window.partitionBy("arm").orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("off_a", coalesce(sum("ps").over(
        Window.partitionBy("arm").orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("arm", "pid", "off_k", "off_a")
    val local = Window.partitionBy("arm", "pid").orderBy("user_id")
    val walk = parts.join(broadcast(offs), Seq("arm", "pid"))
      .withColumn("k", col("off_k") + row_number().over(local).cast("long"))
      .withColumn("a", col("off_a") + sum("conv").over(
        local.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("llr", d2(col("a")) * c1 + d2(col("k") - col("a")) * c0)
      .withColumn("crossed",
        when(col("llr") >= thr, lit(1L))
          .when(col("llr") <= -thr, lit(-1L)).otherwise(lit(0L)))
    val firstCross = walk.filter(col("crossed") =!= 0L)
      .groupBy("arm").agg(min(col("k")).as("first_cross_k"))
    val cross = walk.join(firstCross.withColumnRenamed("arm", "arm2"),
        col("arm") === col("arm2") && col("k") === col("first_cross_k"))
      .select(col("arm"), col("first_cross_k"), col("crossed").as("decision"))
    walk.groupBy("arm")
      .agg(max(col("k")).as("n_users"), max(col("a")).as("n_conv"),
        max_by(col("llr"), col("k")).as("llr_last"))
      .join(cross, Seq("arm"), "left")
      .na.fill(-1L, Seq("first_cross_k")).na.fill(0L, Seq("decision"))
      .select(col("arm"), col("n_users"), col("n_conv"),
        round(col("llr_last"), 6).as("llr_final"),
        col("first_cross_k"), col("decision"))
      .orderBy("arm")
  }

  /** q347: delta-method CI for a RATIO metric — revenue per order
    * with USER-level clustering, per arm: the number every
    * experimentation platform reports (per-event averages understate
    * the variance because orders cluster within users; the
    * delta-method variance of R = ΣY/ΣX over user-level (x, y) is
    * the standard correction — Deng et al., KDD'18's formulation):
    * Var(R) ≈ (s_y² − 2R·s_xy + R²·s_x²)/(n·x̄²).
    *
    * Exactness: the six sufficient sums per arm are exact
    * (DECIMAL-widened squares/cross-products of cents × counts); R,
    * the variance and the z-interval (z = 1.959964) are
    * spelled-identical doubles of those integers, rounded 6.
    *
    * Scale shape: one per-user rollup, then a 2-row fold. */
  def qRatioMetricCi(s: SparkSession, d: String): DataFrame = {
    val z = lit(1.959964)
    val perUser = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).as("y"))
      .withColumn("arm", (col("user_id") % 2).cast("long"))
    val sums = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"),
        sum(dec(col("x")) * col("y")).as("sxy"))
    val n = d2(col("n")); val sx = d2(col("sx")); val sy = d2(col("sy"))
    val r = sy / sx
    val vx = (d2(col("sxx")) - sx * sx / n) / (n - lit(1.0))
    val vy = (d2(col("syy")) - sy * sy / n) / (n - lit(1.0))
    val vxy = (d2(col("sxy")) - sx * sy / n) / (n - lit(1.0))
    val xbar = sx / n
    val se = sqrt((vy - lit(2.0) * r * vxy + r * r * vx)
      / (n * xbar * xbar))
    sums.filter(col("n") > 1 && col("sx") > 0)
      .select(col("arm"), col("n").as("n_users"), col("sx").as("n_orders"),
        col("sy").as("revenue_cents"),
        round(r, 6).as("rev_per_order_cents"),
        round(se, 6).as("se_delta"),
        round(r - z * se, 6).as("ci_lo"),
        round(r + z * se, 6).as("ci_hi"))
      .orderBy("arm")
  }

  /** q348: seasonal strength per event type — Hyndman's F_s reading
    * of the weekday decomposition (q174 lists the weekday means, q318
    * scores a seasonal forecast; this reports ONE number per series —
    * how much of the daily variance the weekly cycle explains:
    * F_s = max(0, SS_weekday/SS_total), the η² of the weekday factor,
    * ~0 for a cycle-free series, →1 for a pure weekly signal). The
    * slice-ranking number a seasonality-aware pipeline sorts on.
    *
    * Exactness: SS_weekday and SS_total have exact n-scaled integer
    * forms — n·Σ_w n_w·(S_w·n − S·n_w)²/(n_w·n²)… cross-multiplied to
    * the single-division form: F_s = [n·Σ_w S_w²/n_w − S²] /
    * [n·Q − S²] over exact DECIMAL-widened sums, where the per-weekday
    * term folds ≤7 exact rationals (each S_w²/n_w cross-multiplied
    * against the common denominator via the ≤7-term double fold, the
    * q319 precedent), rounded 6.
    *
    * Scale shape: the (type, weekday) rollup is calendar-bounded ×7;
    * everything after is ≤7-row math. */
  def qSeasonalStrength(s: SparkSession, d: String): DataFrame = {
    val daily = dailySeries(s, d)
      .withColumn("wd", dayofweek(col("day")).cast("long"))
    val byWd = daily.groupBy("event_type", "wd")
      .agg(count(lit(1)).as("n_w"), sum(col("x")).as("s_w"))
    val glob = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(dec(col("x")) * col("x")).as("q"))
    byWd.join(broadcast(glob), Seq("event_type"))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_days"), max(col("s")).as("s1"),
        max(col("q")).as("q2"),
        sum(d2(dec(col("s_w")) * col("s_w")) / d2(col("n_w")))
          .as("sw_term"))
      .withColumn("seasonal_strength", round(
        when(d2(dec(col("n_days")) * col("q2"))
            - d2(dec(col("s1")) * col("s1")) > 0,
          greatest(lit(0.0),
            (d2(col("n_days")) * col("sw_term")
              - d2(dec(col("s1")) * col("s1"))) /
            (d2(dec(col("n_days")) * col("q2"))
              - d2(dec(col("s1")) * col("s1")))))
          .otherwise(lit(0.0)), 6))
      .select(col("event_type"), col("n_days"), col("s1").as("sum_x"),
        col("seasonal_strength"))
      .orderBy("event_type")
  }

  /** q349: the autocorrelation function TABLE per event type, lags
    * 1..14 — the diagnostic artifact between q157's single lag-1
    * number and q307's joint portmanteau verdict (an analyst reads
    * the ACF's SHAPE: a spike at 7 says weekly, slow decay says
    * trend; Box–Jenkins' first plot). Each ρ̂ₖ uses the same exact
    * n²-scaled BIGINT numerator/denominator construction as q307,
    * extended through two weekly cycles.
    *
    * Scale shape: the lag-k self-join runs on the calendar-bounded
    * daily rollup (≤14·types·days rows) — q307's argument. */
  def qAcfTable(s: SparkSession, d: String): DataFrame = {
    val daily = dailySeries(s, d)
    val glob = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(dec(col("x")) * col("x")).as("q2"))
    val lagged = daily.select(col("event_type"), col("t"), col("x"))
      .withColumn("k", explode(sequence(lit(1L), lit(14L))))
      .withColumn("t2", col("t") + col("k"))
    val pairs = lagged.alias("a").join(
        daily.select(col("event_type"), col("t").as("t2"),
          col("x").as("x2")).alias("b"),
        Seq("event_type", "t2"))
      .groupBy("event_type", "k")
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("x")) * col("x2")).as("p"),
        sum(col("x")).as("sa"), sum(col("x2")).as("sb"))
    // q307's spelled construction, DECIMAL-widened (n²·P tops BIGINT
    // two decades past the q307 fixture — the q339 probe lesson
    // applied preemptively)
    pairs.join(broadcast(glob), Seq("event_type"))
      .withColumn("num",
        dec(col("n")) * col("n") * col("p") -
          dec(col("n")) * col("s") * (col("sa") + col("sb")) +
          dec(col("n") - col("k")) * col("s") * col("s"))
      .withColumn("den",
        dec(col("n")) * (dec(col("n")) * col("q2")
          - dec(col("s")) * col("s")))
      .select(col("event_type"), col("k").as("lag"), col("n_pairs"),
        round(when(col("den") > 0, d2(col("num")) / d2(col("den")))
          .otherwise(lit(0.0)), 6).as("rho"))
      .orderBy("event_type", "lag")
  }

  /** q354: seasonal Mann–Kendall trend test per event type — q176's
    * monotone-trend verb made SEASONALITY-PROOF (Hirsch & Slack '84):
    * a weekly cycle feeds q176's all-pairs S both spurious concordant
    * and discordant pairs; the seasonal variant compares days only
    * WITHIN the same weekday series and sums the seven statistics —
    * S' = Σ_w S_w, Var' = Σ_w Var_w — so a pure cycle contributes
    * nothing and a real drift still accumulates.
    *
    * Exactness: q176's discipline per weekday — S_w and the
    * tie-corrected 18·Var_w are exact integers; z is the one final
    * double (continuity-corrected, rounded 4 like q176).
    *
    * Scale shape: the pair join is day×day WITHIN (type, weekday) —
    * calendar-bounded groups (q176's argument, ÷49 on pairs). */
  def qSeasonalMannKendall(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("wd", dayofweek(col("day")).cast("long"))
    val sStat = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.wd") === col("b.wd") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.c") - col("a.c")).cast("long")).as("s_stat"))
    val varW = daily.groupBy("event_type", "wd")
      .agg(count(lit(1)).as("n_w"))
      .groupBy("event_type")
      .agg(sum(col("n_w")).as("n_days"),
        sum(expr("n_w * (n_w - 1) * (2 * n_w + 5)")).as("var_base"))
    val ties = daily.groupBy(col("event_type"), col("wd"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    sStat.join(varW, Seq("event_type")).join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        (col("var_base") - col("tie_term")).as("var_x18"))
      .withColumn("z", round(
        when(col("var_x18") > 0,
          (when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
            .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
            .otherwise(lit(0.0))) /
            sqrt(col("var_x18").cast("double") / 18.0))
          .otherwise(lit(0.0)), 4))
      .orderBy("event_type")
  }

  /** q355: Dunn's post-hoc test — the PAIRWISE follow-up q233's
    * Kruskal–Wallis omnibus demands (H says "some group differs";
    * Dunn '64 says WHICH, on the same global ranks with the same tie
    * correction, Bonferroni-adjusted for the m = k(k−1)/2
    * comparisons): for every pair of event types,
    * z_ij = (R̄_i − R̄_j) / √((N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/nᵢ+1/nⱼ)).
    *
    * Exactness: q233's machinery verbatim — doubled global rank sums
    * and tie terms are exact integers off the value-domain rollup;
    * every z is a spelled-identical double composition, rounded 6.
    *
    * Scale shape: q233's one value-domain shuffle; the pair table is
    * the k-row group aggregate crossed with itself — ≤k² rows. */
  def qDunnPosthoc(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("v"))
    val byValue = ev.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
    val byV = byValue.groupBy("v").agg(sum(col("c")).as("cnt"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byV
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("dr", lit(2L) * col("cum") - col("cnt") + lit(1L))
    val perGroup = byValue.join(ranked.select("v", "dr"), Seq("v"))
      .groupBy("event_type")
      .agg(sum(col("c")).as("n_i"), sum(col("c") * col("dr")).as("two_r"))
    val glob = ranked
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_term"))
    val a = perGroup.select(col("event_type").as("type_a"),
      col("n_i").as("n_a"), col("two_r").as("r_a"))
    val b = perGroup.select(col("event_type").as("type_b"),
      col("n_i").as("n_b"), col("two_r").as("r_b"))
    val kCount = perGroup.agg(count(lit(1)).as("k"))
    a.join(b, col("type_a") < col("type_b"))
      .crossJoin(broadcast(glob))
      .crossJoin(broadcast(kCount))
      .withColumn("z_dunn", round({
        val nd = d2(col("n"))
        val meanDiff = d2(col("r_a")) / (lit(2.0) * d2(col("n_a"))) -
          d2(col("r_b")) / (lit(2.0) * d2(col("n_b")))
        val varCore = nd * (nd + lit(1.0)) / lit(12.0) -
          d2(col("tie_term")) / (lit(12.0) * (nd - lit(1.0)))
        val se = sqrt(varCore *
          (lit(1.0) / d2(col("n_a")) + lit(1.0) / d2(col("n_b"))))
        when(se > 0, meanDiff / se).otherwise(lit(0.0))
      }, 6))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("z_dunn"),
        (col("k") * (col("k") - 1) / lit(2)).cast("long")
          .as("m_comparisons"))
      .orderBy("type_a", "type_b")
  }

  /** q357: cohort LTV curve — the REVENUE half of q132's retention
    * matrix (retention counts who comes back; LTV prices what they
    * bring: cumulative revenue per cohort member by day offset — the
    * payback-period artifact every growth model is fit against): per
    * (cohort day, offset ≤ 7), the cohort size, period revenue, and
    * the running cumulative LTV in floored ppm-cents per member.
    *
    * Exactness: revenues exact cents; cohort sizes exact distinct
    * counts; the cumulative rides an offset-ordered window over the
    * (cohorts × 8)-bounded rollup; LTV = cum_cents·10⁶ div members
    * (floored, DECIMAL-widened).
    *
    * Scale shape: one user-keyed cohort join (the q132 device), a
    * (cohort, offset) rollup collapsing map-side, then
    * calendar-bounded windows. */
  def qCohortLtv(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      date_trunc("day", col("ts")).as("day"),
      when(col("event_type") === "purchase",
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).otherwise(lit(0L))
        .as("cents"))
    val cohort = ev.select(col("user_id"), col("day")).distinct()
      .groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val sized = cohort.groupBy("cohort_day")
      .agg(countDistinct(col("user_id")).as("cohort_users"))
    val cells = ev.join(cohort, Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset") <= 7)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(sum(col("cents")).as("revenue_cents"))
    val w = Window.partitionBy("cohort_day").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(broadcast(sized), Seq("cohort_day"))
      .withColumn("cum_cents", sum(col("revenue_cents")).over(w))
      .select(unix_timestamp(col("cohort_day")).as("cohort_ts"),
        col("day_offset").cast("long").as("day_offset"),
        col("cohort_users"), col("revenue_cents"), col("cum_cents"),
        expr("""CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000
                div cohort_users AS BIGINT)""").as("ltv_ppm_cents"))
      .orderBy("cohort_ts", "day_offset")
  }

  /** q323: Pettitt's nonparametric changepoint test per event type —
    * the RANK-based single-changepoint cell beside the parametric pair
    * (q177 CUSUM needs a known in-control mean, q185 Page needs a
    * drift size; Pettitt '79 needs neither): K = max_t |U_t| with
    * U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j), the Mann–Whitney statistic
    * of every prefix/suffix split at once, located at the earliest
    * argmax day.
    *
    * Exactness: by antisymmetry U_t telescopes to Σ_{i≤t} g_i with
    * g_i = #{x_j < x_i} − #{x_j > x_i} = 2·cum_lt(vᵢ) + c(vᵢ) − n
    * read off the per-type VALUE-DOMAIN cumulative (the q229/q305
    * device), so U_t is a positional cumulative of exact BIGINTs and
    * K is an exact integer. The approximate significance
    * p ≈ 2·exp(−6K²/(n³+n²)) is the one libm call, rounded 4 (the
    * q63/q64 ln precedent — exact columns carry the row, the
    * transcendental is reported at defensive precision).
    *
    * Scale shape: both the value rollup and the positional walk are
    * calendar-bounded per type (q307's argument); windows partition
    * by event_type — never single-partition. */
  def qPettitt(s: SparkSession, d: String): DataFrame = {
    val daily = dailySeries(s, d)
    val base = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
    val wv = Window.partitionBy("event_type").orderBy("x")
    val cnt = daily.groupBy("event_type", "x").agg(count(lit(1)).as("c"))
      .withColumn("cum_lt", coalesce(sum("c").over(
        wv.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wt = Window.partitionBy("event_type").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = daily.join(cnt, Seq("event_type", "x"))
      .join(broadcast(base), Seq("event_type"))
      .withColumn("gi", lit(2L) * col("cum_lt") + col("c") - col("n"))
      .withColumn("ut", sum("gi").over(wt))
      .filter(col("t") < col("n"))
    val k = u.groupBy("event_type")
      .agg(max(col("n")).as("n_days"), max(abs(col("ut"))).as("k_stat"))
    val cp = u.join(broadcast(k.select("event_type", "k_stat")),
        Seq("event_type"))
      .filter(abs(col("ut")) === col("k_stat"))
      .groupBy("event_type").agg(min("day").as("cp_day"))
    k.join(cp, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("k_stat"),
        datediff(col("cp_day"), lit("1970-01-01")).cast("long")
          .as("cp_epoch_day"),
        round(lit(2.0) * exp(lit(-6.0) * d2(col("k_stat")) * d2(col("k_stat"))
          / (d2(col("n_days")) * d2(col("n_days")) * d2(col("n_days"))
             + d2(col("n_days")) * d2(col("n_days")))), 4).as("p_approx"))
      .orderBy("event_type")
  }

  // ------------------------------------------------------------------
  // round 11: the two-sample distribution-comparison family. q102's
  // Mann–Whitney asks "is one arm stochastically larger"; these ask
  // the neighboring questions an experimentation pipeline needs on the
  // SAME arm-vs-control design (click/error/signup/purchase each vs
  // view): equality of the whole distribution (KS q359, Cramér–von
  // Mises q360, Kuiper q361), equality of medians (Mood q362), the
  // tie-and-variance-robust rank test (Brunner–Munzel q363), and the
  // magnitude of the shift itself (Hodges–Lehmann q364). All six ride
  // ONE machinery: the per-pair VALUE-DOMAIN rollup (exact integer
  // counts per distinct cent value) plus per-pair cumulative sums —
  // the q233/q102 device — so every sufficient statistic is an exact
  // integer/decimal and the gate hashes no reordered float sums.
  //
  // Scale shape (shared): one map-side rollup onto ≤ |pairs|·|value
  // domain| cells; windows partition BY PAIR over the value domain,
  // which SATURATES as data grows (measured: the sf0.1 events table
  // already holds 17.8k of the possible cent values) — at 100× the
  // window input is the same ~20k rows per pair, only the rollup scan
  // grows. No per-row ranks, no row sorts, no driver collects.
  // ------------------------------------------------------------------

  /** Per-pair value-domain counts: (pair, v, c1, c2) where c1 counts
    * the arm's events at cent value v and c2 the control's ("view").
    * `granularity` trades domain size for resolution: "cents" for the
    * ECDF family (exact), "dollars" for Hodges–Lehmann (the pairwise
    * difference DOMAIN is quadratic in the value domain, so the shift
    * estimator declares a coarser grid — 561 distinct dollars → ≤315k
    * difference cells per pair, flat at any corpus size). */
  private def pairedValueCounts(s: SparkSession, d: String,
      granularity: String = "cents"): DataFrame = {
    val vexpr = granularity match {
      case "cents" => "CAST(ROUND(value * 100, 0) AS BIGINT)"
      case "dollars" => "CAST(FLOOR(value) AS BIGINT)"
      case other => throw new IllegalArgumentException(other)
    }
    val ev = events(s, d).select(col("event_type"), expr(vexpr).as("v"))
    val arms = Seq("click", "error", "signup", "purchase")
    arms.map { a =>
      ev.filter(col("event_type").isin(a, "view"))
        .select(lit(a).as("pair"),
          (col("event_type") === a).cast("long").as("in_arm"), col("v"))
    }.reduce(_ unionAll _)
      .groupBy("pair", "v")
      .agg(sum(col("in_arm")).as("c1"),
        sum(lit(1L) - col("in_arm")).as("c2"))
  }

  /** The shared ECDF frame: value-domain counts + per-pair cumulative
    * counts of both samples + sample totals + the scaled ECDF gap
    * `diff = cum1·n2 − cum2·n1` (an exact integer — the numerator of
    * F̂₁(v) − F̂₂(v) over the common denominator n1·n2). */
  private def pairedEcdf(s: SparkSession, d: String): DataFrame = {
    val counts = pairedValueCounts(s, d)
    val w = Window.partitionBy("pair").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // totals ride an UNORDERED window over the SAME pair partitioning
    // as the cumulative — one exchange serves both (a separate
    // groupBy("pair") aggregate would add its own shuffle plus a
    // broadcast join; PlanShapeSpec pins the whole machinery at two
    // exchanges: the value-domain rollup and this window)
    val wp = Window.partitionBy("pair")
    counts
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .withColumn("n1", sum(col("c1")).over(wp))
      .withColumn("n2", sum(col("c2")).over(wp))
      .withColumn("diff", col("cum1") * col("n2") - col("cum2") * col("n1"))
  }

  /** q359: two-sample Kolmogorov–Smirnov per arm — D = sup|F̂₁−F̂₂|.
    * The hashed statistic is the exact integer numerator
    * `d_num = max|cum1·n2 − cum2·n1|` (≤ n1·n2 ≈ 4·10¹² at 100×,
    * BIGINT-safe); D itself is ONE division of two exact integers —
    * bit-identical cross-engine, no knife-edge (the q312 lesson: only
    * transcendentals and reordered float sums drift). */
  def qKsTest(s: SparkSession, d: String): DataFrame =
    pairedEcdf(s, d)
      .groupBy("pair")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("diff"))).as("d_num"))
      .withColumn("ks_d",
        round(d2(col("d_num")) / (d2(col("n1")) * d2(col("n2"))), 6))
      .orderBy("pair")

  /** q360: two-sample Cramér–von Mises — where KS sees only the worst
    * single gap, CvM integrates the SQUARED gap over the pooled
    * sample, catching distributed small departures KS misses:
    * T = Σ_pooled (F̂₁−F̂₂)² · (nm/(N²)) evaluated at every pooled
    * observation. The numerator `t_num = Σ_v (c1+c2)·diff²` is exact
    * DECIMAL(38,0) internally (≤ ~10³⁶ at 100× — in range) and leaves
    * as a double: decimal→double is correctly rounded from the SAME
    * exact value on both engines, so the hash is safe (unlike
    * reordered float sums, the q312 class). */
  def qCvmTest(s: SparkSession, d: String): DataFrame =
    pairedEcdf(s, d)
      .groupBy("pair")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(dec(col("c1") + col("c2")) * dec(col("diff")) * dec(col("diff")))
          .cast("decimal(38,0)").as("t_num_dec"))
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("t_num", d2(col("t_num_dec")))
      .withColumn("cvm_t", round(
        col("t_num") / (d2(col("n1")) * d2(col("n2")) *
          d2(col("n")) * d2(col("n"))), 6))
      .select(col("pair"), col("n1"), col("n2"), col("t_num"), col("cvm_t"))
      .orderBy("pair")

  /** q361: Kuiper's test — KS split into signed parts, V = D⁺ + D⁻.
    * Equally sensitive in the tails and near the median (KS
    * concentrates power mid-distribution), and invariant to cyclic
    * shifts — the variant for periodic metrics. Same exact-integer
    * numerators as q359; `greatest(…, 0)` keeps D⁺/D⁻ at their
    * sup-over-the-step-function semantics when one ECDF dominates. */
  def qKuiperTest(s: SparkSession, d: String): DataFrame =
    pairedEcdf(s, d)
      .groupBy("pair")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        greatest(max(col("diff")), lit(0L)).as("dplus_num"),
        greatest(max(-col("diff")), lit(0L)).as("dminus_num"))
      .withColumn("kuiper_v", round(
        (d2(col("dplus_num")) + d2(col("dminus_num"))) /
          (d2(col("n1")) * d2(col("n2"))), 6))
      .orderBy("pair")

  /** q362: Mood's median test — the nonparametric "are the medians
    * equal" 2×2: split each pair at the POOLED discrete median
    * (smallest v with pooled cum ≥ ⌈N/2⌉ — an order statistic, exact),
    * count arm/control above vs at-or-below, Pearson χ² on the four
    * exact cells (one double composition, q304's discipline). */
  def qMoodMedian(s: SparkSession, d: String): DataFrame = {
    val ecdf = pairedEcdf(s, d)
    // the pooled median is a conditional MIN over the same pair
    // partitioning the ECDF window already established — no separate
    // aggregate, no join
    val wp = Window.partitionBy("pair")
    val cells = ecdf
      .withColumn("v_med", min(when(
        lit(2L) * (col("cum1") + col("cum2")) >= col("n1") + col("n2"),
        col("v"))).over(wp))
      .groupBy("pair")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("v_med")).as("v_med"),
        sum(when(col("v") > col("v_med"), col("c1")).otherwise(0L)).as("a_above"),
        sum(when(col("v") > col("v_med"), col("c2")).otherwise(0L)).as("b_above"))
      .withColumn("a_below", col("n1") - col("a_above"))
      .withColumn("b_below", col("n2") - col("b_above"))
    val n = d2(col("n1") + col("n2"))
    val det = d2(col("a_above")) * d2(col("b_below")) -
      d2(col("b_above")) * d2(col("a_below"))
    val denom = d2(col("n1")) * d2(col("n2")) *
      d2(col("a_above") + col("b_above")) * d2(col("a_below") + col("b_below"))
    cells.withColumn("chi2", round(
        when(denom > 0, n * det * det / denom).otherwise(lit(0.0)), 6))
      .select(col("pair"), col("n1"), col("n2"), col("v_med"),
        col("a_above"), col("b_above"), col("a_below"), col("b_below"),
        col("chi2"))
      .orderBy("pair")
  }

  /** q363: Brunner–Munzel — the rank test that, unlike Mann–Whitney,
    * does NOT assume equal variances under the null (the
    * Behrens–Fisher situation; Brunner & Munzel 2000). Statistic
    * W = n1·n2·(R̄₂−R̄₁) / (N·√(n1·S₁²+n2·S₂²)), where S_i² uses
    * pooled-minus-within rank deviations.
    *
    * Exactness: with doubled midranks (dr pooled, dr1/dr2 within —
    * all integers off the value-domain cumulative), each deviation
    * scaled by 2·n_i is the exact integer
    * t_i = n_i·(dr − dr_i) − Sd_i + n_i·(n_i+1), so the hashed
    * sufficient statistics are Sd_i = Σc_i·dr (BIGINT) and
    * q_i = Σc_i·t_i² (exact DECIMAL(38,0) internally, ≤ ~10³⁴ at
    * 100×, emitted as the correctly-rounded double — hash-safe);
    * S_i² = q_i/(4n_i²(n_i−1)) and W compose in one spelled chain. */
  def qBrunnerMunzel(s: SparkSession, d: String): DataFrame = {
    val counts = pairedValueCounts(s, d)
    val w = Window.partitionBy("pair").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy("pair") // totals share the exchange
    val cums = counts
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .withColumn("cnt", col("c1") + col("c2"))
      .withColumn("cum", col("cum1") + col("cum2"))
      .withColumn("dr", lit(2L) * col("cum") - col("cnt") + lit(1L))
      .withColumn("dr1", lit(2L) * col("cum1") - col("c1") + lit(1L))
      .withColumn("dr2", lit(2L) * col("cum2") - col("c2") + lit(1L))
      .withColumn("n1", sum(col("c1")).over(wp))
      .withColumn("n2", sum(col("c2")).over(wp))
      .withColumn("sd1", sum(col("c1") * col("dr")).over(wp))
      .withColumn("sd2", sum(col("c2") * col("dr")).over(wp))
    val t1 = col("n1") * (col("dr") - col("dr1")) - col("sd1") +
      col("n1") * (col("n1") + 1)
    val t2 = col("n2") * (col("dr") - col("dr2")) - col("sd2") +
      col("n2") * (col("n2") + 1)
    val agg = cums
      .groupBy("pair")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("sd1")).as("sd1"), max(col("sd2")).as("sd2"),
        sum(dec(col("c1")) * dec(t1) * dec(t1)).cast("decimal(38,0)").as("q1d"),
        sum(dec(col("c2")) * dec(t2) * dec(t2)).cast("decimal(38,0)").as("q2d"))
      .withColumn("q1", d2(col("q1d")))
      .withColumn("q2", d2(col("q2d")))
    // S_i² = q_i / (4·n_i²·(n_i−1)); W in one spelled chain
    val s1sq = d2(col("q1")) / (lit(4.0) * d2(col("n1")) * d2(col("n1")) *
      d2(col("n1") - 1))
    val s2sq = d2(col("q2")) / (lit(4.0) * d2(col("n2")) * d2(col("n2")) *
      d2(col("n2") - 1))
    val meanDiff = d2(col("sd2")) / (lit(2.0) * d2(col("n2"))) -
      d2(col("sd1")) / (lit(2.0) * d2(col("n1")))
    val nTot = d2(col("n1") + col("n2"))
    val se = sqrt(d2(col("n1")) * s1sq + d2(col("n2")) * s2sq)
    agg.withColumn("w_bm", round(
        when(se > 0, d2(col("n1")) * d2(col("n2")) * meanDiff / (nTot * se))
          .otherwise(lit(0.0)), 6))
      .select(col("pair"), col("n1"), col("n2"), col("sd1"), col("sd2"),
        col("q1"), col("q2"), col("w_bm"))
      .orderBy("pair")
  }

  /** q371: Yuen's trimmed-mean test (Yuen, Biometrika 1974) — the
    * ROBUST location test completing the two-sample family: where
    * Brunner–Munzel (q363) works on ranks, Yuen compares 10%-trimmed
    * MEANS with winsorized variances, keeping the metric's units
    * while shrugging off tails — the test experimentation teams reach
    * for when revenue-style metrics have outliers.
    *
    * Exactness: trim counts k_i = n_i div 10 and h_i = n_i − 2k_i are
    * integers; the trim window's order statistics L (rank k+1) and H
    * (rank n−k) come off the value-domain cumulative; each cell
    * contributes `clamp` copies to the trimmed sum/sum-of-squares —
    * pure integer arithmetic (sumsq ≤ n·v² ≈ 6·10¹⁵ at 100×,
    * BIGINT-safe). Winsorized moments derive exactly:
    * wsum = tsum + k(L+H), wsumsq = tsumsq + k(L²+H²). The t
    * statistic is one spelled double composition of those integers.
    *
    * Scale shape: the shared pairedValueCounts rollup + one window
    * over the saturating value domain; everything after is
    * pair-count-sized. */
  def qYuenTrimmed(s: SparkSession, d: String): DataFrame = {
    val counts = pairedValueCounts(s, d)
    val w = Window.partitionBy("pair").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy("pair") // totals share the exchange
    val cums = counts
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .withColumn("n1", sum(col("c1")).over(wp))
      .withColumn("n2", sum(col("c2")).over(wp))
      .withColumn("k1", expr("n1 div 10"))
      .withColumn("k2", expr("n2 div 10"))
    // per-sample trim-window contribution of each value cell:
    // copies inside ranks (k, n-k] = min(cum, n-k) - max(cum-c, k),
    // clamped at 0 — exact integers
    def inWin(cum: Column, c: Column, k: Column, n: Column): Column =
      greatest(least(cum, n - k) - greatest(cum - c, k), lit(0L))
    val t1 = inWin(col("cum1"), col("c1"), col("k1"), col("n1"))
    val t2 = inWin(col("cum2"), col("c2"), col("k2"), col("n2"))
    val agg = cums.groupBy("pair").agg(
      max(col("n1")).as("n1"), max(col("n2")).as("n2"),
      max(col("k1")).as("k1"), max(col("k2")).as("k2"),
      // order statistics L (rank k+1) and H (rank n-k) per sample
      min(when(col("cum1") >= col("k1") + 1, col("v"))).as("lo1"),
      min(when(col("cum1") >= col("n1") - col("k1"), col("v"))).as("hi1"),
      min(when(col("cum2") >= col("k2") + 1, col("v"))).as("lo2"),
      min(when(col("cum2") >= col("n2") - col("k2"), col("v"))).as("hi2"),
      sum(t1 * col("v")).as("tsum1"),
      sum(t1 * col("v") * col("v")).as("tsumsq1"),
      sum(t2 * col("v")).as("tsum2"),
      sum(t2 * col("v") * col("v")).as("tsumsq2"))
    val h1 = col("n1") - lit(2L) * col("k1")
    val h2 = col("n2") - lit(2L) * col("k2")
    val wsum1 = col("tsum1") + col("k1") * (col("lo1") + col("hi1"))
    val wsumsq1 = col("tsumsq1") +
      col("k1") * (col("lo1") * col("lo1") + col("hi1") * col("hi1"))
    val wsum2 = col("tsum2") + col("k2") * (col("lo2") + col("hi2"))
    val wsumsq2 = col("tsumsq2") +
      col("k2") * (col("lo2") * col("lo2") + col("hi2") * col("hi2"))
    val tm1 = d2(col("tsum1")) / d2(h1)
    val tm2 = d2(col("tsum2")) / d2(h2)
    // winsorized sample variance: (Σw² − n·w̄²)/(n−1), spelled off
    // the exact integer sums
    val swsq1 = (d2(wsumsq1) - d2(wsum1) * d2(wsum1) / d2(col("n1"))) /
      d2(col("n1") - 1)
    val swsq2 = (d2(wsumsq2) - d2(wsum2) * d2(wsum2) / d2(col("n2"))) /
      d2(col("n2") - 1)
    val d1 = d2(col("n1") - 1) * swsq1 / (d2(h1) * d2(h1 - 1))
    val dd2 = d2(col("n2") - 1) * swsq2 / (d2(h2) * d2(h2 - 1))
    agg
      .withColumn("h1", h1).withColumn("h2", h2)
      .withColumn("t_yuen", round(
        when(d1 + dd2 > 0, (tm1 - tm2) / sqrt(d1 + dd2))
          .otherwise(lit(0.0)), 6))
      .select(col("pair"), col("n1"), col("n2"), col("k1"), col("k2"),
        col("h1"), col("h2"), col("lo1"), col("hi1"), col("lo2"),
        col("hi2"), col("tsum1"), col("tsum2"), col("tsumsq1"),
        col("tsumsq2"), col("t_yuen"))
      .orderBy("pair")
  }

  /** q364: Hodges–Lehmann shift estimator — the MAGNITUDE the tests
    * above only detect: median of all n1·n2 pairwise differences
    * (arm − control), the location-shift estimate robust to outliers
    * that the difference-of-means (q-CUPED etc.) is not. Declared on
    * the DOLLAR grid: the difference DOMAIN is quadratic in the value
    * domain, so the estimator trades cent resolution for a ≤315k-cell
    * pair space that stays FLAT at any corpus size (the weights grow,
    * the cells don't). Weighted discrete lower/upper median via
    * cumulative weight over the difference domain — exact integers
    * end to end. */
  def qHodgesLehmann(s: SparkSession, d: String): DataFrame = {
    val counts = pairedValueCounts(s, d, granularity = "dollars")
    val aSide = counts.filter(col("c1") > 0)
      .select(col("pair"), col("v").as("va"), col("c1"))
    val bSide = counts.filter(col("c2") > 0)
      .select(col("pair"), col("v").as("vb"), col("c2"))
    val diffs = aSide.join(bSide, Seq("pair"))
      .groupBy(col("pair"), (col("va") - col("vb")).as("dv"))
      .agg(sum(col("c1") * col("c2")).as("cw"))
    val w = Window.partitionBy("pair").orderBy("dv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy("pair") // totals share the exchange
    val cum = diffs.withColumn("cum", sum(col("cw")).over(w))
      .withColumn("npairs", sum(col("cw")).over(wp))
    // discrete weighted medians: lower = value at rank ⌈W/2⌉ =
    // (W+1) div 2, upper = value at rank W div 2 + 1 (equal when W is
    // odd) — integer div spelled identically on both engines; both
    // cuts are conditional MINs inside ONE pair-keyed aggregate
    cum.groupBy("pair").agg(
        max(col("npairs")).as("npairs"),
        min(when(col("cum") >= expr("(npairs + 1) div 2"), col("dv")))
          .as("hl_lo"),
        min(when(col("cum") >= expr("npairs div 2 + 1"), col("dv")))
          .as("hl_hi_raw"))
      .select(col("pair"), col("npairs"), col("hl_lo"),
        coalesce(col("hl_hi_raw"), col("hl_lo")).as("hl_hi"))
      .orderBy("pair")
  }
}
