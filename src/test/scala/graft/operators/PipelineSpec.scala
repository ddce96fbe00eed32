package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{shingleSet, GraftFunctions}

class PipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("source overlap: hand-computed trigram Jaccard on crafted sources") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // srcA: {"x y z", "y z w"}; srcB: {"x y z", "y z q"} -> common 1, union 3
    // srcC shares nothing
    val docs = Seq(
      (1L, "x y z w", "srcA"),
      (2L, "x y z q", "srcB"),
      (3L, "p q r s", "srcC")).toDF("doc_id", "text", "source")
    val out = Pipeline.sourceOverlap(docs, 3).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out((("srcA"), ("srcB"))) === ((1L, math.rint(1.0 / 3 * 1e6) / 1e6)))
    // srcC overlaps nothing -> pairs with zero common grams don't appear
    assert(!out.keySet.exists { case (a, b) => a == "srcC" || b == "srcC" })
  }

  test("token budget: greedy longest-first prefix, strict cutoff, doc_id tie-break") {
    import spark.implicits._
    // source s1 docs (tok, n_chars): d1=(5,50) d2=(4,40) d3=(3,30); budget 7
    // longest-first cum: 5, 9 -> only d1 selected (prefix semantics: once
    // over budget nothing later backfills)
    // source s2: two docs tie on n_chars; doc_id breaks the tie
    val docs = Seq(
      (1L, "a a a a a", 50L, "s1"),
      (2L, "b b b b", 40L, "s1"),
      (3L, "c c c", 30L, "s1"),
      (10L, "p p p p", 40L, "s2"),
      (11L, "q q q q q q", 40L, "s2")).toDF("doc_id", "text", "n_chars", "source")
    val out = Pipeline.tokenBudget(docs, 7).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("s1") === ((1L, 5L)))
    // s2: tie on n_chars=40 -> doc_id 10 first (4 tokens, cum 4), then
    // doc_id 11 (6 tokens, cum 10 > 7) excluded
    assert(out("s2") === ((1L, 4L)))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("q125 sentence dedup: df-common sentences struck everywhere, order kept") {
    import spark.implicits._
    // "subscribe now" appears in 4 distinct docs (df >= 3) -> boilerplate;
    // "hello world" in 2 docs -> kept
    val docs = Seq(
      (1L, "alpha beta. subscribe now. gamma delta"),
      (2L, "subscribe now. hello world"),
      (3L, "hello world. subscribe now"),
      (4L, "subscribe now")).toDF("doc_id", "text")
    val out = Pipeline.sentenceDedup(docs, 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // order preserved across the struck middle sentence
    assert(out(1L) === ((3L, 2L, md5Hex("alpha beta. gamma delta"))))
    assert(out(2L) === ((2L, 1L, md5Hex("hello world"))))
    assert(out(3L) === ((2L, 1L, md5Hex("hello world"))))
    // a doc that was ALL boilerplate survives as an empty shell
    assert(out(4L) === ((1L, 0L, md5Hex(""))))
  }

  test("q129 vocab coverage: cumulative shares at the k=3 and k=10 checkpoints") {
    import spark.implicits._
    // counts: a=20 b=10 c..l=1 each (12 types, 40 tokens); ranked by
    // (cnt desc, token asc): k=3 cum 31 -> 0.775, k=10 cum 38 -> 0.95
    val docs = Seq(
      ("a " * 20).trim, ("b " * 10).trim,
      "c d e f g h i j k l").toDF("text")
    val rows = Pipeline.vocabCoverage(docs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows === Map(3 -> ((31L, 0.775)), 10 -> ((38L, 0.95))))
  }

  test("q135 contamination fraction: per-bench-doc gram hits against the train side") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // bench doc 0 has 5-grams {"a b c d e", "b c d e f"}; the train side
    // contains only the first -> 1/2
    val docs = Seq(
      (0L, "a b c d e f"),
      (1L, "x y a b c d e z"),
      (2L, "totally unrelated train words here")).toDF("doc_id", "text")
    val r = Pipeline.contaminationFraction(docs, col("doc_id") === 0, 5)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ===
      ((0L, 2L, 1L, 0.5)))
  }

  test("q136 KS drift: hand-computed two-sample statistic") {
    import spark.implicits._
    // A = {1,2,3}, B = {3,4}: ECDF gap peaks at v=2 (2/3 - 0) = 0.666667
    val df = Seq((1L, true), (2L, true), (3L, true), (3L, false), (4L, false))
      .toDF("n_chars", "is_a")
    val r = Pipeline.lengthDrift(df, col("is_a")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) === ((3L, 2L, 0.666667)))
  }

  test("contamination matches a driver-side brute force on shared 5-grams") {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), shingleSet(col("text"), 5).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val benchGrams = docs.filter(_._1 % 97 == 0).values.flatten.toSet
    val nonBench = docs.filter(_._1 % 97 != 0)
    val expected = nonBench.count(_._2.exists(benchGrams.contains))

    val got = Pipeline.qContamination(spark, sf).collect().head
    assert(got.getLong(0) == nonBench.size)
    assert(got.getLong(1) == expected)
    assert(expected > 0, "synthetic corpus should have some shared 5-grams")
  }

  test("percentile sketch stays within 2% of the exact percentile per event type") {
    val approx = Pipeline.qPercentileSketch(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Pipeline.qPercentiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (p50, p90)) =>
      assert(math.abs(approx(k)._1 - p50) / p50 < 0.02, s"$k p50 ${approx(k)._1} vs $p50")
      assert(math.abs(approx(k)._2 - p90) / p90 < 0.02, s"$k p90 ${approx(k)._2} vs $p90")
    }
  }

  test("approx distinct stays within 5% of the exact count per event type") {
    val approx = Pipeline.qApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(count_distinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val err = math.abs(approx(k) - ex).toDouble / ex
      assert(err < 0.05, s"$k: approx=${approx(k)} exact=$ex err=$err")
    }
  }

  test("sequence packing: bins contiguous per source, totals preserved, boundaries respect the budget") {
    val budget = 1024
    val packed = Pipeline.qSequencePack(spark, sf, budget).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bySource = packed.groupBy(_._1)
    bySource.foreach { case (src, rows) =>
      val bins = rows.map(_._2).sorted
      assert(bins.toSeq == (0L until bins.length).toSeq, s"$src bins not contiguous: ${bins.toSeq}")
      // every non-last bin is "full": bin b+1 only opens once the
      // running sum has reached (b+1)*budget, so the cumulative tokens
      // through bin b must have crossed that boundary
      val sums = rows.sortBy(_._2).map(_._4)
      sums.indices.init.foreach { b =>
        val cumThrough = sums.take(b + 1).sum
        assert(cumThrough >= (b + 1).toLong * budget,
          s"$src bin $b closed at $cumThrough before boundary ${(b + 1) * budget}")
      }
    }
    // no document lost: packed token total equals the raw token total
    val rawTokens = Tables.documents(spark, sf)
      .select(graft.functions.tokenCount(col("text"))).collect().map(_.getInt(0).toLong).sum
    assert(packed.map(_._4).sum == rawTokens)
  }

  test("chunking: counts, overlap, and lossless reconstruction on crafted lengths") {
    import spark.implicits._
    // lengths around the stride/size boundaries: 1, exactly one stride,
    // one past the stride, and multi-chunk
    val texts = Seq("x" * 1, "a" * 150, "b" * 151, ("abcde" * 80)) // 1,150,151,400
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val chunks = df.select(col("id"), Pipeline.chunkColumn(col("text"), 200, 150).as("chunk"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(chunks(0L).map(_.length) == Seq(1))
    assert(chunks(1L).map(_.length) == Seq(150))
    assert(chunks(2L).map(_.length) == Seq(151, 1)) // tail chunk may be short
    assert(chunks(3L).map(_.length) == Seq(200, 200, 100))
    // overlap: consecutive chunks share size - stride = 50 chars
    val c3 = chunks(3L)
    assert(c3(0).takeRight(50) == c3(1).take(50))
    // lossless: stride-prefixes + final chunk reconstruct the text
    texts.zipWithIndex.foreach { case (t, i) =>
      val cs = chunks(i.toLong)
      assert(cs.init.map(_.take(150)).mkString + cs.last == t)
    }
  }

  test("quantile filter: threshold matches driver-side percentile, subset kept") {
    val docs = Tables.documents(spark, sf)
    val lens = docs.select("n_chars").collect().map(_.getLong(0)).sorted
    // Spark `percentile` linear interpolation at q = 0.25
    val rank = 0.25 * (lens.length - 1)
    val (lo, hi) = (lens(rank.toInt), lens(math.ceil(rank).toInt))
    val thr = lo + (rank - rank.toInt) * (hi - lo)
    val kept = Pipeline.qQuantileFilter(spark, sf).agg(sum("n_kept")).head().getLong(0)
    val want = lens.count(_ >= thr)
    assert(kept == want, s"kept $kept vs driver-side $want (thr=$thr)")
  }

  test("vocabulary: counts non-increasing, top token matches a driver-side count") {
    val vocab = Pipeline.qVocabulary(spark, sf, 50).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val counts = vocab.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    val (topToken, topCount) = vocab.head
    val driverCount = Tables.documents(spark, sf).select("text").collect()
      .iterator.flatMap(_.getString(0).toLowerCase.split("\\s+")).count(_ == topToken)
    assert(topCount == driverCount, s"'$topToken': $topCount vs $driverCount")
  }

  test("q104: winsorized stats hand-computed on a crafted outlier group") {
    import spark.implicits._
    // group g: 1..10 plus one wild outlier. n = 11, so the linear-
    // interpolation percentiles sit at rank p*(n-1):
    //   p05 -> 0.5  -> 1 + 0.5*(2-1)      = 1.5
    //   p95 -> 9.5  -> 10 + 0.5*(1000-10) = 505.0
    // clipped mean = (1.5 + 2+..+10 + 505) / 11 = 560.5/11 = 50.9545
    // raw mean     = (55 + 1000) / 11     = 95.9091
    val df = ((1 to 10).map(v => ("g", v.toDouble)) :+ ("g", 1000.0))
      .toDF("flag", "price")
    val r = Pipeline.winsorizeStats(df).head()
    assert(r.getLong(1) == 11)
    assert(r.getDouble(2) == 1.5 && r.getDouble(3) == 505.0)
    assert(r.getDouble(4) == 95.9091 && r.getDouble(5) == 50.9545)
    // the clamp moved the mean toward the body of the distribution
    assert(r.getDouble(5) < r.getDouble(4))
  }

  test("q47x/q104x: discrete order statistics hand-computed, with ties and tiny groups") {
    import spark.implicits._
    // group a: values 10,20,20,30,40 (n=5):
    //   p=0.5 -> k=ceil(2.5)=3 -> 3rd smallest = 20
    //   p=0.9 -> k=ceil(4.5)=5 -> 40
    // group b: single value (n=1): k=max(1,ceil(p))=1 -> 7 for both p
    val df = Seq(("a", 10L), ("a", 20L), ("a", 20L), ("a", 30L), ("a", 40L),
      ("b", 7L)).toDF("g", "v")
    val got = Pipeline.groupOrderStatistics(df, "g", "v", Seq(0.5, 0.9))
      .select("g", "p", "k", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(("a", 0.5, 3L, 20L), ("a", 0.9, 5L, 40L),
      ("b", 0.5, 1L, 7L), ("b", 0.9, 1L, 7L)))
    // the cents twin reconciles with the float winsorize on the real
    // table: same group counts, and the winsorized means agree to
    // well under 1% (the discrete rank k=ceil(p·n) sits strictly
    // within ONE rank of the interpolation position 1+p·(n-1), so the
    // clip bounds differ by at most one order-statistic gap, which
    // moves the clipped mean by ≤ 0.1× that gap)
    val cents = Pipeline.qWinsorizeCents(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
    Pipeline.qWinsorize(spark, sf).collect().foreach { r =>
      val (n, sumC) = cents(r.getString(0))
      assert(n == r.getLong(1), s"${r.getString(0)}: n mismatch")
      val meanTwin = sumC / 100.0 / n
      val meanOrig = r.getDouble(5)
      assert(math.abs(meanTwin - meanOrig) <= 0.01 * meanOrig.abs,
        s"${r.getString(0)}: winsorized means diverge: $meanTwin vs $meanOrig")
    }
  }

  test("q110: delta-maintained sheet is indistinguishable from a full v2 rescan") {
    import graft.functions.tokenCount
    // rebuild v2 from scratch with the same changeset rules, then sheet
    // it directly — the incremental path must match column-for-column
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val v2 = docs.filter(col("doc_id") % 17 =!= 0 && col("doc_id") % 13 =!= 0)
      .unionAll(docs.filter(col("doc_id") % 13 === 0 && col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" rev2")).as("text")))
      .unionAll(docs.filter(col("doc_id") % 19 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("source"),
          concat(col("text"), lit(" new")).as("text")))
    val full = v2.groupBy("source").agg(
      count("*").as("n_docs"),
      sum(tokenCount(col("text"))).cast("long").as("n_tokens"),
      sum(length(col("text"))).cast("long").as("n_chars"))
      .withColumn("mean_chars",
        round(col("n_chars").cast("double") / col("n_docs"), 2))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val inc = Pipeline.qIncrementalStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(inc.keySet == full.keySet)
    for ((src, f) <- full) assert(inc(src) == f, s"source $src: ${inc(src)} vs $f")
    // the changeset must actually have changed something vs v1
    val v1 = docs.groupBy("source").agg(count("*").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full.exists { case (s2, f) => v1.get(s2).exists(_ != f._1) })
  }

  test("q104 on lineitem: bounds bracket the winsorized mean, raw mean unclipped") {
    for (r <- Pipeline.qWinsorize(spark, sf).collect()) {
      val (p05, p95) = (r.getDouble(2), r.getDouble(3))
      val (raw, win) = (r.getDouble(4), r.getDouble(5))
      assert(p05 < p95)
      assert(win >= p05 && win <= p95, s"winsor mean $win outside [$p05,$p95]")
      // clipping both tails of a right-skewed price distribution must
      // actually change the mean
      assert(math.abs(win - raw) > 1e-9)
    }
  }

  test("q115: temperature mix matches driver-side alpha-flattening; upsample anti-monotone in share") {
    val (alpha, budget) = (0.3, 1000000L)
    // Spark's split(text, "\\s+") keeps leading/trailing empty tokens
    // (Pattern.split with limit -1); match that exactly
    val byLang = Tables.documents(spark, sf).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split("\\s+", -1).length.toLong))
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
    val total = byLang.values.sum.toDouble
    val pa = byLang.map { case (l, n) => l -> math.pow(n / total, alpha) }
    val z = pa.values.sum
    val got = Pipeline.qTemperatureMix(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))).toMap
    assert(got.keySet == byLang.keySet)
    for ((l, n) <- byLang) {
      val (gn, praw, palpha, ups, gb) = got(l)
      val (ePraw, ePalpha) = (n / total, pa(l) / z)
      assert(gn == n, s"$l token count")
      assert(math.abs(praw - ePraw) <= 5e-7 + 1e-12, s"$l p_raw $praw vs $ePraw")
      assert(math.abs(palpha - ePalpha) <= 5e-7 + 1e-12, s"$l p_alpha")
      assert(math.abs(ups - ePalpha / ePraw) <= 5e-5 + 1e-9, s"$l upsample")
      assert(math.abs(gb - math.floor(ePalpha * budget)) <= 1, s"$l budget")
    }
    // the flattened distribution still sums to one and the budget never
    // exceeds the epoch size
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-4)
    assert(got.values.map(_._5).sum <= budget)
    // alpha < 1 flattens: upsample factor strictly anti-monotone in raw
    // share, >1 for the smallest language, <1 for the largest
    val bySize = byLang.toSeq.sortBy(_._2).map { case (l, _) => got(l)._4 }
    assert(bySize.zip(bySize.tail).forall { case (a, b) => a >= b })
    assert(bySize.head > 1.0 && bySize.last < 1.0)
  }

  test("q118: epoch shuffle is a per-epoch permutation, shard-contiguous, epochs decorrelated") {
    val rows = Pipeline.qEpochShuffle(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val allIds = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(1, 2))
    for ((e, es) <- byEpoch) {
      // every doc exactly once per epoch
      assert(es.map(_._4).toSet == allIds && es.length == allIds.size, s"epoch $e")
      // positions contiguous 1..n within each shard
      for ((sh, ss) <- es.groupBy(_._2)) {
        assert(ss.map(_._3).sorted.toSeq == (1 to ss.length), s"epoch $e shard $sh")
        assert(sh >= 0 && sh < 16)
      }
    }
    // the two epochs must order docs differently (md5 keys differ)
    def order(e: Int): Seq[Long] =
      byEpoch(e).sortBy(t => (t._2, t._3)).map(_._4).toSeq
    assert(order(1) != order(2))
    // replayable: a second run is identical
    val again = Pipeline.qEpochShuffle(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(again.sorted.toSeq == rows.sorted.toSeq)
  }

  test("q119: rejection sampling matches driver-side md5 uniforms; acceptance tracks the ramp") {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.map { case (id, text) =>
      val u = java.lang.Long.parseLong(md5hex(id.toString).take(4), 16) / 65536.0
      val nTok = text.split("\\s+", -1).length
      val p = math.min(1.0, nTok / 50.0)
      id -> ((nTok, math.rint(p * 1e6) / 1e6, math.rint(u * 1e6) / 1e6))
    }.toMap
    val got = Pipeline.qRejectionSample(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    assert(got.keySet == expect.keySet)
    for ((id, (nTok, p, u)) <- expect) {
      val (gn, gp, gu, gk) = got(id)
      assert(gn == nTok, s"doc $id tokens")
      assert(math.abs(gp - p) <= 1e-6 && math.abs(gu - u) <= 1e-6, s"doc $id p/u")
      assert(gk == (gu < gp), s"doc $id kept")
    }
    // the sample must be non-trivial in both directions, and docs at
    // p=1 are always kept unless u rounds to 1 exactly
    val kept = got.values.count(_._4)
    assert(kept > 0 && kept < got.size)
    assert(got.values.filter(v => v._2 == 1.0 && v._3 < 1.0).forall(_._4))
  }

  test("q122: padding waste matches a driver-side bucketing; totals reconcile") {
    def bucketOf(n: Int): Int =
      Seq(16, 32, 64, 128, 256, 512, 1024).find(n <= _).getOrElse(2048)
    val lens = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).split("\\s+", -1).length)
    val expect = lens.groupBy(bucketOf).map { case (b, xs) =>
      b -> ((xs.length.toLong, xs.map(_.toLong).sum)) }
    val got = Pipeline.qPaddingWaste(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(got.keySet == expect.keySet)
    for ((b, (nDocs, sumTok)) <- expect) {
      val (gn, gs, gp, gw) = got(b)
      assert((gn, gs) == ((nDocs, sumTok)), s"bucket $b counts")
      assert(gp == b.toLong * nDocs, s"bucket $b padded")
      assert(math.abs(gw - (1.0 - sumTok.toDouble / gp)) <= 1e-6, s"bucket $b waste")
      assert(gw >= 0.0 && gw < 1.0)
    }
    // every document is in exactly one bucket
    assert(got.values.map(_._1).sum == lens.length)
  }

  test("q142 stratified split: per-stratum eval counts are EXACTLY ceil(frac·n)") {
    import spark.implicits._
    // en: 7 docs -> ceil(0.7) = 1 eval; fr: 23 docs -> ceil(2.3) = 3.
    val docs = ((1 to 7).map(i => (i.toLong, "en")) ++
      (101 to 123).map(i => (i.toLong, "fr"))).toDF("doc_id", "lang")
    val rows = Pipeline.stratifiedSplit(docs, 0.1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.length == 30)
    val evalByLang = rows.filter(_._3 == "eval").groupBy(_._2).view.mapValues(_.length)
    assert(evalByLang.toMap == Map("en" -> 1, "fr" -> 3))
    // the eval picks are the hash-smallest per language (reproducible carve)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String =
      md.digest(s"strat:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val wantEvalEn = (1 to 7).map(_.toLong).sortBy(id => (h(id), id)).take(1).toSet
    val wantEvalFr = (101 to 123).map(_.toLong).sortBy(id => (h(id), id)).take(3).toSet
    assert(rows.filter(r => r._3 == "eval" && r._2 == "en").map(_._1).toSet == wantEvalEn)
    assert(rows.filter(r => r._3 == "eval" && r._2 == "fr").map(_._1).toSet == wantEvalFr)
    // determinism: a second run assigns identically
    assert(Pipeline.stratifiedSplit(docs, 0.1).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet ==
      rows.map(r => (r._1, r._3)).toSet)
  }

  test("q256: sketch set algebra equals a driver recompute; estimates sane") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(v: Long): String = {
      md.reset()
      md.digest(v.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val tu = Tables.events(spark, sf).select("event_type", "user_id")
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val byType = tu.groupBy(_._1).map { case (t, v) =>
      t -> v.map(x => h(x._2)).distinct.sorted
    }
    val types = byType.keys.toSeq.sorted
    val got = Pipeline.qKmvSetAlgebra(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    val wantPairs = for {
      i <- types.indices; j <- (i + 1) until types.length
    } yield (types(i), types(j))
    assert(got.keySet == wantPairs.toSet)
    wantPairs.foreach { case (ta, tb) =>
      val (a, b) = (byType(ta), byType(tb))
      val exactU = (a ++ b).distinct.length.toLong
      val exactI = a.intersect(b).length.toLong
      val (ska, skb) = (a.take(16), b.take(16))
      val uk = (ska ++ skb).distinct.sorted.take(16)
      val estU =
        if (uk.length < 16) uk.length.toDouble
        else 15.0 / (java.lang.Long.parseLong(uk.last.substring(0, 15), 16)
          .toDouble / graft.functions.KmvSketch.Scale)
      val matchK = uk.count(x => ska.contains(x) && skb.contains(x)).toLong
      val (gu, gi, ge, gm, gjest, gjex) = got((ta, tb))
      assert(gu == exactU, s"($ta,$tb) union")
      assert(gi == exactI, s"($ta,$tb) inter")
      assert(math.abs(ge - estU) < 0.5 + estU * 1e-6, s"($ta,$tb) est")
      assert(gm == matchK, s"($ta,$tb) match_k")
      assert(gjest == matchK * 1000000L / 16L)
      assert(gjex == exactI * 1000000L / exactU)
      // sketch sanity: the k=16 estimator should land within ~3σ
      // (σ ≈ 1/√(k−1) ≈ 26%) of the exact union on this data
      assert(ge > exactU * 0.25 && ge < exactU * 4.0, s"($ta,$tb) est wild")
    }
  }

  test("q267: A-Res weighted sample equals the driver-side key walk") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map { r =>
        val id = r.getLong(0)
        md.reset()
        val hex = md.digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
        val w = r.getString(1).split("\\s+", -1).length
        (id, w, math.log((h + 1).toDouble /
          graft.functions.KmvSketch.Scale) / w)
      }.filter(_._2 > 0)
    val want = docs.sortBy { case (id, _, key) => (-key, id) }.take(20)
    val got = Pipeline.qWeightedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((gid, gw, gkey), (id, w, key)) =>
      assert(gid == id, s"ids: $gid vs $id")
      assert(gw == w, s"doc $id weight")
      assert(math.abs(gkey - key) < 1e-6, s"doc $id key")
    }
    // heavier docs should dominate the sample: median sampled weight
    // above the corpus median
    val sampleMed = got.map(_._2.toLong).sorted.apply(got.length / 2)
    val corpusMed = docs.map(_._2.toLong).sorted.apply(docs.length / 2)
    assert(sampleMed >= corpusMed, s"sample median $sampleMed < corpus $corpusMed")
  }

  test("q259: balanced weights price the corpus at the Kish ESS") {
    val docs = Tables.documents(spark, sf)
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = docs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val n = docs.length.toLong
    val k = cells.size.toLong
    val ess = k.toDouble * k.toDouble /
      cells.values.map(c => 1.0 / c.toDouble).sum
    val got = Pipeline.qClassBalance(spark, sf).collect()
    assert(got.length == cells.size)
    got.foreach { r =>
      val cell = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == cells(cell))
      assert(r.getLong(3) ==
        BigInt(n) * 1000000 / (BigInt(k) * cells(cell)), s"$cell weight")
      assert(r.getLong(4) == n); assert(r.getLong(5) == k)
      assert(math.abs(r.getDouble(6) - ess) < 0.01 + ess * 1e-6)
      assert(math.abs(r.getDouble(7) - ess / n) < 1e-6)
      assert(r.getDouble(6) <= n.toDouble + 1e-9, "ESS cannot exceed N")
    }
    // balanced-weight identity: Σ cells n_cell·w = N (within ppm floor)
    val wsum = got.map(r => BigInt(r.getLong(3)) * r.getLong(2)).sum
    assert((BigInt(n) * 1000000 - wsum) >= 0 &&
      (BigInt(n) * 1000000 - wsum) < BigInt(k) * 1000000)
  }
}
