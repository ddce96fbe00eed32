package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Sanity over the batch operator surface. Value-level correctness is
  * covered by the DuckDB oracle gate (tools/check.py / the driver);
  * these tests pin structural invariants and a few independently
  * computed values at sf0.001. */
class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("every declared query runs and matches its declared column set") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, name)
      // must be executable end to end
      df.limit(5).collect()
    }
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle without query: $missing")
    // the registry is the one declaration: a duplicate name would be
    // silently collapsed by the derived maps
    val names = SparkEntry.registry.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"declared twice: $dups")
    val blank = SparkEntry.registry.filter(_.oracle.exists(_.trim.isEmpty)).map(_.name)
    assert(blank.isEmpty, s"blank oracle: $blank")
    // the headline tier is the r1 baseline's 12 queries, nothing else
    assert(SparkEntry.registry.filter(_.tier == graft.Tier.Headline).map(_.name).toSet == Set(
      "q01_trigger_count", "q03_lookup_enrich", "q04_cross_shard_sum",
      "q06_stream_window", "q10_window_rank", "q18_pricing_summary",
      "q19_revenue_by_nation", "q23_text_quality", "q26_dedup_exact",
      "q27_dedup_minhash_lsh", "q28_dedup_simhash", "q32_knn_brute_force"))
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("trigger count equals per-type row counts") {
    val got = Relational.qTriggerCount(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf).collect()
      .groupBy(_.getAs[String]("event_type")).view.mapValues(_.length.toLong).toMap
    assert(got == want)
  }

  test("top-k matches driver-side sort") {
    val got = Relational.qTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (k, p) => (-p, k) }.take(10).toSeq
    assert(got == want)
  }

  test("broadcast join is planned for small dimensions (scale contract)") {
    val plan = Relational.qRevenueByNation(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "nation/region should broadcast")
  }

  test("predicate pushdown reaches the parquet scan") {
    val plan = Relational.qPrefixFilter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("StartsWith"),
      s"expected pushed StartsWith filter in:\n$plan")
  }

  test("quality filter keeps a sane subset") {
    val kept = Relational.qPrefixFilter(spark, sf) // cheap sanity trigger
    val r = TextAnalysis.qQualityFilter(spark, sf).collect().head
    val total = Tables.documents(spark, sf).count()
    assert(r.getAs[Long]("n_kept") > 0 && r.getAs[Long]("n_kept") <= total)
  }

  test("q130 anomaly hours: spike against a 24h trailing baseline, warmup excluded") {
    import spark.implicits._
    // hours 0..23 alternate 10/12 events (baseline), hour 24 has 100.
    // Hours 0..11 have <12 trailing observations -> unscored; hours
    // 12..23 score with |z| ~ 1; hour 24 z = (100-11)/1.02 >> 3.
    val rows = ((0 until 24).flatMap(h =>
      Seq.fill(if (h % 2 == 0) 10 else 12)(h)) ++ Seq.fill(100)(24))
      .map(h => ("click", h.toLong * 3600L))
    val ev = rows.toDF("event_type", "sec")
      .select(col("event_type"), to_timestamp(col("sec")).as("ts"))
    val r = Relational.anomalyHours(ev).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2)) === (("click", 13L, 1L)))
    assert(r.getDouble(3) > 50.0) // the spike's z, far past the 3.0 flag
  }

  test("q131 funnel: order matters, the attribution cap binds, stages shrink") {
    import spark.implicits._
    val ev = Seq(
      ("u1", "view", 0L), ("u1", "click", 10L), ("u1", "purchase", 100L),
      ("u2", "click", 5L), ("u2", "view", 10L), // click BEFORE first view
      ("u3", "view", 0L), ("u3", "click", 10L),
      ("u3", "purchase", 90000L), // past the 24 h (86400 s) window
      ("u4", "click", 0L), ("u4", "purchase", 1L)) // never viewed
      .toDF("user_id", "event_type", "sec")
      .select(col("user_id"), col("event_type"),
        to_timestamp(col("sec")).as("ts"))
    val r = Relational.funnel(ev).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 2L, 1L)))
    assert((r.getDouble(3), r.getDouble(4)) === ((0.6667, 0.3333)))
  }

  test("q132 cohort retention: offsets count distinct users, 7-day cap") {
    import spark.implicits._
    val day = 86400L
    val ev = Seq(
      ("u1", 0L), ("u1", day + 5L), ("u1", 9 * day), // day 9 past the cap
      ("u2", 10L),
      ("u3", 5 * day), ("u3", 6 * day))
      .toDF("user_id", "sec")
      .select(col("user_id"), to_timestamp(col("sec")).as("ts"))
    val got = Relational.cohortRetention(ev).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (0L, 0) -> 2L, (0L, 1) -> 1L,
      (5 * day, 0) -> 1L, (5 * day, 1) -> 1L))
  }

  test("q137 transitions: lag-1 pairs per user, probabilities normalize per source type") {
    import spark.implicits._
    // u1: a->b->a->c ; u2: b->a — transitions a->b, b->a, a->c, b->a
    val ev = Seq(
      (1L, "a", 0L, 10L), (1L, "b", 1L, 11L), (1L, "a", 2L, 12L), (1L, "c", 3L, 13L),
      (2L, "b", 0L, 20L), (2L, "a", 1L, 21L))
      .toDF("user_id", "event_type", "sec", "event_id")
      .select(col("user_id"), col("event_type"),
        to_timestamp(col("sec")).as("ts"), col("event_id"))
    val got = Relational.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === Map(
      ("a", "b") -> ((1L, 0.5)), ("a", "c") -> ((1L, 0.5)),
      ("b", "a") -> ((2L, 1.0))))
  }

  test("q137 transitions: equal-timestamp ties order by event_id") {
    import spark.implicits._
    // both events at sec=1: event_id 5 precedes event_id 6
    val ev = Seq(
      (1L, "a", 0L, 4L), (1L, "c", 1L, 6L), (1L, "b", 1L, 5L))
      .toDF("user_id", "event_type", "sec", "event_id")
      .select(col("user_id"), col("event_type"),
        to_timestamp(col("sec")).as("ts"), col("event_id"))
    val got = Relational.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("a", "b"), ("b", "c")))
  }

  test("q138 gap regularity: clockwork user flags, bursty user does not") {
    import spark.implicits._
    // u1: exact 10 s clock (CV = 0); u2: bursty gaps; both have 10 gaps
    val clock = (0 to 10).map(i => (1L, i * 10L))
    val bursty = Seq(0L, 1L, 2L, 60L, 61L, 100L, 400L, 401L, 402L, 900L, 2000L)
      .map(s => (2L, s))
    val ev = (clock ++ bursty).toDF("user_id", "sec")
      .select(col("user_id"), to_timestamp(col("sec")).as("ts"))
    val got = Relational.gapRegularity(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(4))))
      .toMap
    assert(got(1L) === ((10L, 10.0, true)))
    assert(got(2L)._1 === 10L)
    assert(!got(2L)._3)
    // CV of the clock user is exactly 0
    val cv1 = Relational.gapRegularity(ev).filter(col("user_id") === 1)
      .select("cv").collect().head.getDouble(0)
    assert(cv1 === 0.0)
  }

  test("q138 gap regularity: below-minGaps users are dropped") {
    import spark.implicits._
    val ev = Seq((1L, 0L), (1L, 5L), (1L, 9L))
      .toDF("user_id", "sec")
      .select(col("user_id"), to_timestamp(col("sec")).as("ts"))
    assert(Relational.gapRegularity(ev).count() === 0L)
    assert(Relational.gapRegularity(ev, minGaps = 2).count() === 1L)
  }

  test("q139 salted agg equals the direct aggregation on the real table") {
    val ev = Tables.events(spark, sf)
    val salted = Relational.saltedAgg(ev).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val direct = ev.groupBy("event_type")
      .agg(round(sum(col("value")), 4).as("s"), count(lit(1)).as("n"),
        round(sum(col("value")) / count(lit(1)), 6).as("a"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(salted === direct)
    // the partial stage really fans each type out across salt buckets
    val partials = ev
      .withColumn("salt", pmod(hash(col("user_id"), col("event_id")), lit(16)))
      .groupBy("event_type", "salt").count()
    assert(partials.count() > direct.size)
  }

  test("sessionize: crafted gaps split sessions exactly at the 10-minute rule") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // user 1: gaps 5, 10, 3 → sessions {2 events}, {2 events}
    // user 2: single event → one 1-event session
    // user 3: gaps 9,59; 9 < 10 merges, 59 splits → {2},{1}
    val ev = Seq(
      (1L, at(0)), (1L, at(5)), (1L, at(15)), (1L, at(18)),
      (2L, at(40)),
      (3L, at(0)), (3L, at(9)), (3L, at(68))).toDF("user_id", "ts")
    val got = Relational.sessionize(ev, 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 2L, 4L)))
    assert(got(2L) == ((1L, 1L, 1L)))
    assert(got(3L) == ((2L, 2L, 3L)))
  }

  test("pivot: pinned value list avoids the distinct job and fills absent cells with 0") {
    val df = Relational.qPivot(spark, sf)
    assert(df.columns.toSeq == ("hour_ts" +: Relational.EventTypes))
    // no nulls anywhere (absent combos filled), totals match raw count
    val total = Relational.EventTypes
      .map(t => df.agg(sum(col(t))).head().getLong(0)).sum
    assert(total == Tables.events(spark, sf).count())
    assert(df.filter(Relational.EventTypes.map(col(_).isNull).reduce(_ || _)).count() == 0)
  }

  test("q140 key skew: Gini / max / top-10 shares on a crafted count distribution") {
    import spark.implicits._
    // keys with counts 4/3/2/1 -> n_keys=4, n_rows=10, max_share=0.4,
    // top10_share=1 (only 4 keys), Gini((1,2,3,4)) = 0.25 exactly:
    // ascending-rank sum s2 = 1·1+2·2+3·3+4·4 = 30,
    // (2·30 − 5·10)/(4·10) = 0.25.
    val rows = Seq.fill(4)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c") ++ Seq("d")
    val r = Relational.keySkew(rows.toDF("k"), col("k")).collect().head
    assert(r.getAs[Long]("n_keys") == 4L && r.getAs[Long]("n_rows") == 10L)
    assert(r.getAs[Long]("max_count") == 4L)
    assert(r.getAs[Double]("max_share") == 0.4)
    assert(r.getAs[Double]("top10_share") == 1.0)
    assert(r.getAs[Double]("gini") == 0.25)
  }

  test("q141 name variants: blocked Levenshtein join finds within-block pairs only once") {
    import spark.implicits._
    // "cold bolt"×2 vs "old bolt"×1: dist 1, same last-token block.
    // "warm gear" matches nothing; "old boat" is dist 2 from "old bolt"
    // but lands in block "boat" — the BLOCKED plan misses it by design
    // (the gate's unblocked oracle proves the real vocabulary never
    // exercises this; here we pin the blocked semantics themselves).
    val tbl = Seq("cold bolt", "cold bolt", "old bolt", "warm gear", "old boat")
      .toDF("nm")
    val got = Relational.nameVariants(tbl, col("nm")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("cold bolt", "old bolt", 1L, 2L, 1L)))
  }

  test("q143 scd2: versions chain, date ties break on order key, one current row per key") {
    import spark.implicits._
    // cust 1: three orders, two on the SAME date (keys 12 < 13 decide
    // the version order); cust 2: a single order (immediately current).
    val orders = Seq(
      (11L, 1L, "LOW", 1000L), (13L, 1L, "HIGH", 2000L), (12L, 1L, "MED", 2000L),
      (21L, 2L, "LOW", 5000L))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority", "sec")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        to_timestamp(col("sec")).as("o_orderdate"))
    val got = Relational.scd2(orders).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5), r.getInt(6))))
      .toMap
    assert(got((1L, 1)) == ((11L, "LOW", 1000L, 2000L, 0)))
    assert(got((1L, 2)) == ((12L, "MED", 2000L, 2000L, 0))) // tie: key 12 first
    assert(got((1L, 3)) == ((13L, "HIGH", 2000L, Relational.OpenEndSec, 1)))
    assert(got((2L, 1)) == ((21L, "LOW", 5000L, Relational.OpenEndSec, 1)))
    // interval chaining: each non-current valid_to equals the next valid_from
    assert(got((1L, 1))._4 == got((1L, 2))._3)
    assert(got.count { case (_, v) => v._5 == 1 } == 2)
  }

  test("q144 interval coverage: overlap merges, touching merges, gaps split") {
    import spark.implicits._
    // user 1: [0,300)+[100,400) overlap -> [0,400); [1000,1300) gaps off
    //         -> 2 islands, 400+300 = 700 s covered
    // user 2: [0,300)+[300,600) touch -> merge -> 1 island, 600 s
    // user 3: a single event -> 1 island, 300 s
    val ev = Seq((1L, 0L), (1L, 100L), (1L, 1000L), (2L, 0L), (2L, 300L), (3L, 7L))
      .toDF("user_id", "sec")
      .select(col("user_id"), to_timestamp(col("sec")).as("ts"))
    val got = Relational.intervalCoverage(ev, 300L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((2L, 700L)), 2L -> ((1L, 600L)), 3L -> ((1L, 300L))))
  }

  test("q145 fk edge: single-pass left-join audit counts orphans exactly") {
    import spark.implicits._
    // children 1,2,2,9 vs parents {1,2}: 9 is the one orphan
    val child = Seq(1L, 2L, 2L, 9L).toDF("ck")
    val parent = Seq(1L, 2L).toDF("pk")
    val r = Relational.fkOrphanEdge("c->p", child, col("ck"),
      parent, col("pk"), bcast = true).collect().head
    assert(r.getString(0) == "c->p")
    assert(r.getLong(1) == 4L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 0.25)
  }

  test("q146 benford: digit extraction and shares over a known frame") {
    import spark.implicits._
    // 1x digit-1 (1.5), 2x digit-2 (20, 250), 1x digit-9 (0.95)
    val tbl = Seq(1.5, 20.0, 250.0, 0.95, -3.0, 0.0).toDF("v")
    val got = Relational.benford(tbl, col("v")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1, 2, 9)) // non-positives excluded
    assert(got(1) == ((1L, 0.25)) && got(2) == ((2L, 0.5)) && got(9) == ((1L, 0.25)))
    // benford_p(1) = log10(2) rounded to 6
    val row1 = Relational.benford(tbl, col("v")).filter(col("digit") === 1)
      .collect().head
    assert(row1.getDouble(3) == 0.30103)
  }

  test("q147 month streaks: islands split on gaps, year boundary is consecutive") {
    import spark.implicits._
    // cust 1: 2020-11, 2020-12, 2021-01 (one streak of 3 across the
    // year boundary), then 2021-03 (gap -> second streak); a duplicate
    // order inside 2020-12 must not inflate the month count.
    // cust 2: single month.
    val orders = Seq(
      (1L, "2020-11-15"), (1L, "2020-12-01"), (1L, "2020-12-25"),
      (1L, "2021-01-09"), (1L, "2021-03-02"), (2L, "2020-06-06"))
      .toDF("o_custkey", "ds")
      .select(col("o_custkey"), to_timestamp(col("ds")).as("o_orderdate"))
    val got = Relational.monthStreaks(orders, col("o_custkey"), col("o_orderdate"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(1L -> ((4L, 2L, 3L)), 2L -> ((1L, 1L, 1L))))
  }

  test("media features: stub decode is deterministic and fixed-dim") {
    val a = Multimodal.stubDecode("hello world".getBytes)
    val b = Multimodal.stubDecode("hello world".getBytes)
    assert(a.toSeq == b.toSeq && a.length == 8)
    val rows = Multimodal.qMediaFeatures(spark, sf).collect()
    assert(rows.map(_.getAs[String]("media_type")).toSet == Set("image", "audio", "video"))
  }
}
