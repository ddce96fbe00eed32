package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-10 fifth continuation: brute-force driver-side recomputes for
  * the agreement pair (Fleiss' kappa, quadratic-weighted Cohen's
  * kappa) and the Durbin–Watson regression diagnostic. Each statistic
  * is rebuilt from raw collected rows in plain double arithmetic with
  * none of the operators' devices (no cross-multiplied integer forms,
  * no value-domain cuts), so an error in the machinery cannot cancel
  * against itself. */
class Round10eSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** q345b, the batch twin of the streaming q345: the sequential
    * Misra–Gries fold as a BATCH per-type walk over (us,
    * event_id)-ordered user ids — the batch side of the fifteenth
    * parity; shares the literal
    * [[graft.functions.MisraGriesFold]] update with the streaming
    * state. Output = the surviving counters per type, exploded. */
  private def mgBatchFold(s: SparkSession, d: String,
      m: Int = 8): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id").cast("long"), col("user_id").cast("long"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (tpe, it) =>
        val buf = scala.collection.mutable.LinkedHashMap[Long, Long]()
        var n = 0L
        it.toArray.sortBy(x => (x._2, x._3)).foreach { x =>
          graft.functions.MisraGriesFold.update(buf, x._4, m); n += 1
        }
        buf.keys.toArray.sorted.iterator.map(k => (tpe, n, k, buf(k)))
      }
      .toDF("event_type", "n_events", "user_id", "mg_count")
      .orderBy("event_type", "user_id")
  }

  test("q320 Fleiss' kappa matches a textbook recount") {
    val lines = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").cast("long"), col("l_returnflag"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byOrder = lines.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val subjects = byOrder.filter(_._2.length == 4)
    val cats = subjects.values.flatten.toSeq.distinct.sorted
    val n = 4.0
    val bigN = subjects.size.toDouble
    // P_i = (sum_j n_ij^2 - n) / (n (n - 1)); P_e = sum_j p_j^2
    val pis = subjects.values.map { flags =>
      val sq = cats.map(c => flags.count(_ == c).toLong).map(x => x * x).sum
      (sq - n) / (n * (n - 1.0))
    }
    val pbar = pis.sum / bigN
    val pj = cats.map(c =>
      subjects.values.map(_.count(_ == c)).sum / (bigN * n))
    val pe = pj.map(p => p * p).sum
    val kappa = (pbar - pe) / (1.0 - pe)
    val got = Stats.qFleissKappa(spark, sf).collect().head
    assert(got.getAs[Long]("n_subjects") === subjects.size.toLong)
    assert(got.getAs[Long]("s2") ===
      subjects.values.map { flags =>
        cats.map(c => flags.count(_ == c).toLong).map(x => x * x).sum
      }.sum)
    assert(math.abs(got.getAs[Double]("fleiss_kappa") - kappa) < 1e-6)
  }

  test("q321 weighted kappa matches a textbook recount") {
    val spend = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_custkey").cast("long"), year(col("o_orderdate")),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sum).toMap
    // per-year discrete quintile cuts: the k = max(1, ceil(p n))-th
    // smallest element
    def cuts(yr: Int): Seq[Long] = {
      val vs = spend.collect { case ((_, y), v) if y == yr => v }
        .toSeq.sorted
      Seq(0.2, 0.4, 0.6, 0.8).map { p =>
        val k = math.max(1, math.ceil(p * vs.length).toLong).toInt
        vs(k - 1)
      }
    }
    val c96 = cuts(1996); val c97 = cuts(1997)
    def rate(v: Long, cs: Seq[Long]): Int = 1 + cs.count(v > _)
    val pairs = spend.keys.map(_._1).toSeq.distinct.flatMap { ck =>
      (spend.get((ck, 1996)), spend.get((ck, 1997))) match {
        case (Some(a), Some(b)) => Some((rate(a, c96), rate(b, c97)))
        case _ => None
      }
    }
    val bigN = pairs.length.toDouble
    val obs = pairs.map { case (i, j) => (i - j).toDouble * (i - j) }.sum
    val ri = pairs.groupBy(_._1).view.mapValues(_.length).toMap
    val cj = pairs.groupBy(_._2).view.mapValues(_.length).toMap
    val expd = (for { (i, r) <- ri; (j, c) <- cj }
      yield (i - j).toDouble * (i - j) * r * c).sum / bigN
    val kw = 1.0 - (obs / bigN) / (expd / bigN)
    val got = Stats.qWeightedKappa(spark, sf).collect().head
    assert(got.getAs[Long]("n") === pairs.length.toLong)
    assert(got.getAs[Long]("sum_w_obs") === obs.toLong)
    assert(math.abs(got.getAs[Double]("weighted_kappa") - kw) < 1e-6)
  }

  test("q322 Durbin-Watson matches a plain-double OLS-residual recount") {
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2)))
    val got = Stats.qDurbinWatson(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("dw"),
          r.getAs[Double]("rho1_resid"))).toMap
    daily.groupBy(_._1).foreach { case (tpe, rows) =>
      val ys = rows.sortBy(_._2).map(_._3.toDouble)
      val n = ys.length
      val ts = (1 to n).map(_.toDouble)
      val tbar = ts.sum / n; val ybar = ys.sum / n
      val b = ts.zip(ys).map { case (t, y) => (t - tbar) * (y - ybar) }.sum /
        ts.map(t => (t - tbar) * (t - tbar)).sum
      val a = ybar - b * tbar
      val e = ts.zip(ys).map { case (t, y) => y - a - b * t }
      val sse = e.map(x => x * x).sum
      val ssd = e.sliding(2).map { case Seq(p, q) => (q - p) * (q - p) }.sum
      val rho = e.sliding(2).map { case Seq(p, q) => p * q }.sum / sse
      val (gn, gdw, grho) = got(tpe)
      assert(gn === n.toLong)
      assert(math.abs(gdw - ssd / sse) < 1e-5)
      assert(math.abs(grho - rho) < 1e-5)
    }
  }

  test("q323 Pettitt K matches an O(n^2) all-splits recount") {
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2)))
    val got = Stats.qPettitt(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("k_stat"), r.getAs[Long]("cp_epoch_day"))).toMap
    daily.groupBy(_._1).foreach { case (tpe, rows) =>
      val sorted = rows.sortBy(_._2)
      val xs = sorted.map(_._3)
      val n = xs.length
      // direct double sum over every (prefix, suffix) split
      val us = (1 until n).map { t =>
        var u = 0L
        for (i <- 0 until t; j <- t until n)
          u += java.lang.Long.signum(xs(i) - xs(j))
        u
      }
      val k = us.map(math.abs).max
      val cpIdx = us.indexWhere(u => math.abs(u) == k)
      val (gk, gcp) = got(tpe)
      assert(gk === k)
      assert(gcp === sorted(cpIdx)._2.toEpochDay)
    }
  }

  test("q324 per-brand contributions sum to Newman modularity of a recount") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val brandOf = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey").cast("long"), col("p_brand"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairCounts = li.groupBy(_._1).values.flatMap { order =>
      val ps = order.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
    // NB: .collect on the Map would rebuild a Map from the (u, v)
    // tuples and silently collapse edges sharing u — go through keys
    val edges = pairCounts.filter(_._2 >= 2).keys.toSeq
    val m = edges.size.toDouble
    val mIn = edges.groupBy { case (u, v) => (brandOf(u), brandOf(v)) }
      .collect { case ((a, b), es) if a == b => a -> es.size.toLong }
    val dC = (edges.map(e => brandOf(e._1)) ++ edges.map(e => brandOf(e._2)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val q = dC.map { case (b, d) =>
      mIn.getOrElse(b, 0L) / m - (d / (2.0 * m)) * (d / (2.0 * m))
    }.sum
    val rows = Graph.qBrandModularity(spark, sf).collect()
    assert(rows.length === dC.size)
    rows.foreach { r =>
      val b = r.getAs[String]("brand")
      assert(r.getAs[Long]("m_in") === mIn.getOrElse(b, 0L))
      assert(r.getAs[Long]("d_c") === dC(b))
    }
    val qSum = rows.map(_.getAs[Double]("q_contrib")).sum
    assert(math.abs(qSum - q) < 25 * 1e-6 + 1e-9)
  }

  test("q325 readability counts match a per-word max(1, runs) recount") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), lower(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    // per-word definition: syllables_w = max(1, vowel-group runs in w)
    def stats(t: String): (Long, Long, Long) = {
      val words = "\\S+".r.findAllIn(t).toSeq
      val sents = math.max(1, "[.!?]+".r.findAllIn(t).length).toLong
      val syl = words.map(w =>
        math.max(1, "[aeiouy]+".r.findAllIn(w).length).toLong).sum
      (words.length.toLong, sents, syl)
    }
    val expect = docs.groupBy(_._1).view.mapValues { ds =>
      val per = ds.map(d => stats(d._2))
      (ds.length.toLong, per.map(_._1).sum, per.map(_._2).sum,
        per.map(_._3).sum)
    }.toMap
    val got = TextAnalysis.qFleschReadability(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (nd, w, s, sy) = expect(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_words") === w)
      assert(r.getAs[Long]("n_sentences") === s)
      assert(r.getAs[Long]("n_syllables") === sy)
      val ease = 206.835 - 1.015 * (w.toDouble / s) - 84.6 * (sy.toDouble / w)
      assert(math.abs(r.getAs[Double]("flesch_ease") - ease) < 1e-6)
    }
  }

  test("q325 handles punctuated and vowel-less text (crafted fixture)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("flesch").toString
    Seq(
      (1L, "Hello world. Dry gym! Why try?", "en", "crafted", 30L),
      (2L, "tsk tsk grr", "en", "crafted", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.qFleschReadability(spark, dir).collect().head
    // doc 1: 6 words, 3 sentences, 7 syllables (y is a vowel);
    // doc 2: 3 vowel-less words -> 1 sentence floor, 3 syllable floor
    assert(r.getAs[Long]("n_docs") === 2L)
    assert(r.getAs[Long]("n_words") === 9L)
    assert(r.getAs[Long]("n_sentences") === 4L)
    assert(r.getAs[Long]("n_syllables") === 10L)
  }

  test("q327b Holt fold matches a reference recursion; a ramp stops alarming") {
    import spark.implicits._
    // reference recursion in plain Scala, reimplemented independently
    def ref(series: Seq[(Long, Long)]): (Long, Long, Long, Long, Long) = {
      var l = 0L; var b = 0L; var n = 0L; var overs = 0L; var first = -1L
      series.sortBy(_._1).foreach { case (h, c) =>
        val v = c * 1000000L
        if (n == 0) { l = v; b = 0L }
        else {
          if (10L * v > 11L * (l + b)) {
            overs += 1; if (first < 0) first = h
          }
          val l2 = (v + l + b) / 2L; b = (l2 - l + b) / 2L; l = l2
        }
        n += 1
      }
      (n, l, b, overs, first)
    }
    // steady floor then a linear ramp: the trend term must absorb the
    // ramp so only its onset (and at most a couple of lock-on hours)
    // flags "over"; a level-only EWMA would flag every ramp hour
    val series = (0L until 48L).map(h => ("t", h, 100L)) ++
      (48L until 96L).map(h => ("t", h, 100L + 20L * (h - 47L)))
    val got = Stats.holtMonitor(spark, series.toDF("event_type", "h", "c"))
      .collect().head
    val (n, l, b, overs, first) = ref(series.map(x => (x._2, x._3)))
    assert(got.getAs[Long]("n_hours") === n)
    assert(got.getAs[Long]("level_micro") === l)
    assert(got.getAs[Long]("trend_micro") === b)
    assert(got.getAs[Long]("n_over_forecast") === overs)
    assert(got.getAs[Long]("first_over_hour") === first)
    assert(first === 48L, "the ramp onset must be the first over-forecast hour")
    assert(overs <= 5L,
      s"the trend term must absorb a steady ramp, saw $overs over-hours")
    assert(b > 0L, "a rising ramp must leave a positive trend")
  }

  test("q327 streaming Holt equals the batch fold bit for bit (fourteenth parity)") {
    val batch = Stats.qHoltMonitor(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val stream = graft.streaming.EventTime.qStreamingHolt(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(stream === batch)
  }

  test("q328 partial correlation matches a plain-double recount") {
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag"),
        expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble))
    def pearson(xs: Seq[Double], ys: Seq[Double]): Double = {
      val n = xs.length
      val mx = xs.sum / n; val my = ys.sum / n
      val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
      val vx = xs.map(a => (a - mx) * (a - mx)).sum
      val vy = ys.map(b => (b - my) * (b - my)).sum
      cov / math.sqrt(vx) / math.sqrt(vy)
    }
    val got = Stats.qPartialCorr(spark, sf).collect()
    assert(got.length === 3)
    got.foreach { r =>
      val g = rows.filter(_._1 == r.getAs[String]("flag"))
      val (xs, ys, zs) = (g.map(_._2).toSeq, g.map(_._3).toSeq,
        g.map(_._4).toSeq)
      val rxy = pearson(xs, ys); val rxz = pearson(xs, zs)
      val ryz = pearson(ys, zs)
      val part = (rxy - rxz * ryz) /
        math.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
      assert(r.getAs[Long]("n") === g.length.toLong)
      assert(math.abs(r.getAs[Double]("r_xy") - rxy) < 1e-5)
      // the operator folds ROUNDED r's; allow the rounding slack
      assert(math.abs(r.getAs[Double]("partial_xy_z") - part) < 1e-4)
    }
  }

  test("q329 Hosmer-Lemeshow groups and terms match a recount") {
    val stops = Set("the", "a", "of", "and", "to", "in", "is", "it")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text"), col("n_chars").cast("long"))
      .collect().map { r =>
        val toks = r.getString(0).toLowerCase.split("\\s+").toSeq
        val score = toks.length * 100L +
          toks.count(stops) * 10L + toks.distinct.count(stops)
        (if (r.getLong(1) >= 300) 1L else 0L, math.min(score, 9000L))
      }
    val n = docs.length
    val sorted = docs.map(_._2).sorted
    val cuts = (1 to 9).map { i =>
      val k = math.max(1, math.ceil(i / 10.0 * n).toInt)
      sorted(k - 1)
    }
    val byGroup = docs.groupBy { case (_, sm) => 1 + cuts.count(sm > _) }
    val got = Stats.qHosmerLemeshow(spark, sf).collect()
    assert(got.length === byGroup.size)
    var hlSum = 0.0; var hlGot = 0.0
    got.foreach { r =>
      val g = byGroup(r.getAs[Long]("hl_group").toInt)
      val (ng, o, sM) = (g.length.toLong, g.map(_._1).sum, g.map(_._2).sum)
      assert(r.getAs[Long]("n_g") === ng)
      assert(r.getAs[Long]("obs_pos") === o)
      assert(r.getAs[Long]("pred_milli") === sM)
      val e = sM / 9000.0
      val term = if (sM > 0 && sM < 9000 * ng)
        (o - e) * (o - e) / (e * (1.0 - e / ng)) else 0.0
      hlSum += term; hlGot += r.getAs[Double]("hl_term")
      assert(math.abs(r.getAs[Double]("hl_term") - term) < 1e-4)
    }
    assert(math.abs(hlGot - hlSum) < 1e-3)
  }

  test("q330 RCB ANOVA matches a textbook sums-of-squares recount") {
    val spend = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1999-01-01"))
      .select(col("o_custkey").cast("long"),
        year(col("o_orderdate")).cast("long"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sum).toMap
    val blocks = spend.groupBy(_._1._1).collect {
      case (ck, vs) if vs.size == 3 =>
        (1996L to 1998L).map(y => vs((ck, y)).toDouble)
    }.toSeq
    val n = blocks.length; val k = 3
    val all = blocks.flatten
    val t = all.sum; val q = all.map(x => x * x).sum
    val cf = t * t / (n * k)
    val ssTotal = q - cf
    val ssTreat = (0 until k).map(j =>
      math.pow(blocks.map(_(j)).sum, 2)).sum / n - cf
    val ssBlock = blocks.map(b => b.sum * b.sum).sum / k - cf
    val ssErr = ssTotal - ssTreat - ssBlock
    val fTreat = (ssTreat / (k - 1)) / (ssErr / ((n - 1) * (k - 1)))
    val got = Stats.qTwoWayAnova(spark, sf).collect().head
    assert(got.getAs[Long]("n_blocks") === n.toLong)
    // SS magnitudes are ~1e17 cents^2: compare relatively
    assert(math.abs(got.getAs[Double]("ss_treat") - ssTreat)
      <= 1e-9 * math.abs(ssTreat) + 1e-3)
    assert(math.abs(got.getAs[Double]("ss_error") - ssErr)
      <= 1e-9 * math.abs(ssErr) + 1e-3)
    assert(math.abs(got.getAs[Double]("f_treat") - fTreat) < 1e-4)
  }

  test("q331 Bowker cells are antisymmetric-consistent with a recount") {
    // recount the transition matrix through the q321 cut definition
    val spend = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_custkey").cast("long"),
        year(col("o_orderdate")).cast("long"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sum).toMap
    def cuts(yr: Long): Seq[Long] = {
      val vs = spend.collect { case ((_, y), v) if y == yr => v }.toSeq.sorted
      Seq(0.2, 0.4, 0.6, 0.8).map { p =>
        vs(math.max(1, math.ceil(p * vs.length).toLong).toInt - 1)
      }
    }
    val c96 = cuts(1996); val c97 = cuts(1997)
    val moves = spend.keys.map(_._1).toSeq.distinct.flatMap { ck =>
      (spend.get((ck, 1996)), spend.get((ck, 1997))) match {
        case (Some(a), Some(b)) =>
          Some((1 + c96.count(a > _), 1 + c97.count(b > _)))
        case _ => None
      }
    }.filter(p => p._1 != p._2)
    val got = Stats.qBowkerSymmetry(spark, sf).collect()
    var chi2 = 0.0
    got.foreach { r =>
      val (lo, hi) = (r.getAs[Long]("q_lo").toInt, r.getAs[Long]("q_hi").toInt)
      assert(lo < hi)
      val up = moves.count(p => p._1 == lo && p._2 == hi).toLong
      val down = moves.count(p => p._1 == hi && p._2 == lo).toLong
      assert(r.getAs[Long]("n_up") === up)
      assert(r.getAs[Long]("n_down") === down)
      chi2 += r.getAs[Double]("term")
    }
    assert(got.map(r => r.getAs[Long]("n_up") + r.getAs[Long]("n_down")).sum
      === moves.length.toLong)
    assert(chi2 >= 0.0)
  }

  test("q332 Kendall's W satisfies the chi2_F = n(k-1)W identity vs q299") {
    val w = Stats.qKendallW(spark, sf).collect().head
    val n = w.getAs[Long]("n_blocks")
    val fried = Stats.qFriedman(spark, sf).collect().head
    assert(fried.getAs[Long]("n_blocks") === n)
    val chi2 = fried.getAs[Double]("chi2_f")
    val ident = n * 2.0 * w.getAs[Double]("kendall_w")
    assert(math.abs(chi2 - ident) < 1e-2,
      s"chi2_F=$chi2 vs n(k-1)W=$ident")
    val kw = w.getAs[Double]("kendall_w")
    assert(kw >= 0.0 && kw <= 1.0)
  }

  test("q333 ECE/MCE match a per-bin recount") {
    val stops = Set("the", "a", "of", "and", "to", "in", "is", "it")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text"), col("n_chars").cast("long"))
      .collect().map { r =>
        val toks = r.getString(0).toLowerCase.split("\\s+").toSeq
        val score = toks.length * 100L +
          toks.count(stops) * 10L + toks.distinct.count(stops)
        (if (r.getLong(1) >= 300) 1L else 0L, math.min(score, 9000L))
      }
    val byBin = docs.groupBy { case (_, sm) => math.min(9L, sm * 10 / 9000) }
    val n = docs.length.toLong
    val gaps = byBin.view.mapValues { g =>
      (g.length.toLong, g.map(_._1).sum, g.map(_._2).sum)
    }.toMap
    val eceNum = gaps.values.map { case (_, o, s0) =>
      math.abs(9000L * o - s0) }.sum
    val got = Stats.qCalibrationError(spark, sf).collect()
    assert(got.length === gaps.size)
    got.foreach { r =>
      val (nb, o, s0) = gaps(r.getAs[Long]("bin"))
      assert(r.getAs[Long]("n_b") === nb)
      assert(r.getAs[Long]("obs_pos") === o)
      assert(r.getAs[Long]("abs_gap") === math.abs(9000L * o - s0))
      assert(math.abs(r.getAs[Double]("ece")
        - eceNum.toDouble / (9000.0 * n)) < 1e-6)
    }
    val mce = gaps.values.map { case (nb, o, s0) =>
      math.abs(9000L * o - s0).toDouble / (9000.0 * nb) }.max
    assert(math.abs(got.head.getAs[Double]("mce") - mce) < 1e-6)
  }

  test("q334 burstiness top-5 matches a cf/df recount") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long"), col("source"), lower(col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val stats = docs.flatMap { case (id, src, t) =>
      t.split("\\s+").filter(_.nonEmpty).map(w => (src, w, id))
    }.groupBy(x => (x._1, x._2)).view.mapValues { occ =>
      (occ.length.toLong, occ.map(_._3).distinct.length.toLong)
    }.toMap
    val got = TextAnalysis.qTermBurstiness(spark, sf).collect()
    got.foreach { r =>
      val (cf, df) = stats((r.getAs[String]("source"), r.getAs[String]("term")))
      assert(r.getAs[Long]("cf") === cf)
      assert(r.getAs[Long]("df") === df)
      assert(df >= 3L)
    }
    // the ranked cut must be the true top-5 of the (rounded burstiness
    // DESC, term) order per source
    got.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      // NB: .toSeq BEFORE collect — collecting (Double, String) pairs
      // from a Map would rebuild a Map keyed by the burstiness value
      // and silently collapse equal-ratio terms (the q324 spec trap)
      val want = stats.toSeq.collect {
        case ((s0, w), (cf, df)) if s0 == src && df >= 3 =>
          (math.rint(cf.toDouble / df * 1e6) / 1e6, w)
      }.sortBy { case (b, w) => (-b, w) }.take(rows.length)
      val gotSorted = rows.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[Double]("burstiness"), r.getAs[String]("term")))
      assert(gotSorted.toSeq === want)
    }
  }

  test("q335 keyness chi-square matches a 2x2 recount on the emitted rows") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), lower(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val counts = docs.flatMap { case (src, t) =>
      t.split("\\s+").filter(_.nonEmpty).map(w => (src, w))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val termTot = counts.groupBy(_._1._2).view
      .mapValues(_.values.sum).toMap
    val srcTot = counts.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val nn = srcTot.values.sum.toDouble
    val got = TextAnalysis.qKeyness(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val src = r.getAs[String]("source"); val w = r.getAs[String]("term")
      val a = counts((src, w)).toDouble
      val ab = termTot(w).toDouble
      val n1 = srcTot(src).toDouble
      val b = ab - a; val n2 = nn - n1
      assert(r.getAs[Long]("cf_in") === a.toLong)
      assert(r.getAs[Long]("cf_rest") === b.toLong)
      assert(a * n2 > b * n1, "only over-represented terms may rank")
      val chi2 = nn * (a * n2 - b * n1) * (a * n2 - b * n1) /
        (ab * (nn - ab) * n1 * n2)
      assert(math.abs(r.getAs[Double]("chi2_keyness") - chi2)
        <= 1e-6 * chi2 + 1e-5)
      val llr = 2.0 * ((if (a > 0) a * math.log(a * nn / (n1 * ab)) else 0.0) +
        (if (b > 0) b * math.log(b * nn / (n2 * ab)) else 0.0))
      assert(math.abs(r.getAs[Double]("llr") - llr) < 1e-3)
    }
  }

  test("q336 stump threshold matches a brute-force best-split recount") {
    val stops = Set("the", "a", "of", "and", "to", "in", "is", "it")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text"), col("n_chars").cast("long"))
      .collect().map { r =>
        val toks = r.getString(0).toLowerCase.split("\\s+").toSeq
        val score = toks.length * 100L +
          toks.count(stops) * 10L + toks.distinct.count(stops)
        (if (r.getLong(1) >= 300) 1L else 0L, score)
      }
    val n = docs.length.toDouble
    def gini(pos: Long, nn: Long): Double =
      if (nn > 0) 2.0 * pos * (nn - pos) / nn.toDouble else 0.0
    val candidates = docs.map(_._2).distinct.sorted.map { t =>
      val (l, r) = docs.partition(_._2 < t)
      val after = math.rint((gini(l.map(_._1).sum, l.length) +
        gini(r.map(_._1).sum, r.length)) / n * 1e6) / 1e6
      (after, t)
    }
    val (bestAfter, bestT) = candidates.minBy { case (a, t) => (a, t) }
    val got = Stats.qDecisionStump(spark, sf).collect().head
    assert(got.getAs[Long]("threshold") === bestT)
    assert(math.abs(got.getAs[Double]("gini_after") - bestAfter) < 1e-6)
    assert(got.getAs[Double]("gini_gain") >= 0.0)
    assert(got.getAs[Long]("n_l") + got.getAs[Long]("n_r") === docs.length.toLong)
  }

  test("q337 gamma MoM matches a plain-double moments recount") {
    val rows = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val got = Stats.qGammaMomFit(spark, sf).collect()
    assert(got.length === 5)
    got.foreach { r =>
      val xs = rows.filter(_._1 == r.getAs[String]("o_orderpriority"))
        .map(_._2.toDouble)
      val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1.0)
      assert(math.abs(r.getAs[Double]("gamma_k") - m * m / v)
        <= 1e-6 * (m * m / v) + 1e-5)
      assert(math.abs(r.getAs[Double]("gamma_theta_cents") - v / m)
        <= 1e-6 * (v / m) + 1e-5)
    }
  }

  test("q338 linear attribution credits exactly 1e6 ppm per purchase") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val byUser = ev.groupBy(_._1)
    var totals = Map.empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    byUser.values.foreach { es =>
      val touches = es.filter(e => e._3 == "view" || e._3 == "click")
      es.filter(_._3 == "purchase").foreach { p =>
        val in = touches.filter(t =>
          t._4 < p._4 && p._4 - t._4 <= 86400000000L)
        if (in.isEmpty) {
          val (c, t, np) = totals("unattributed")
          totals += "unattributed" -> (c + 1000000L, t, np + 1)
        } else {
          val nT = in.length.toLong
          val base = 1000000L / nT
          val last = in.maxBy(t => (t._4, t._2))
          in.foreach { t =>
            val credit = if (t == last) 1000000L - (nT - 1) * base else base
            val (c, tc, np) = totals(t._3)
            totals += t._3 -> (c + credit, tc + 1, np)
          }
          // purchases reached per type counted below from distinct sets
        }
      }
    }
    val got = Stats.qLinearAttribution(spark, sf).collect()
      .map(r => r.getAs[String]("attributed_type") ->
        (r.getAs[Long]("credit_ppm_total"),
          r.getAs[Long]("n_credited_touches"))).toMap
    totals.foreach { case (tpe, (credit, touches, _)) =>
      val (gc, gt) = got(tpe)
      assert(gc === credit, s"$tpe credit")
      if (tpe != "unattributed") assert(gt === touches, s"$tpe touches")
    }
    // conservation: total credited ppm = 1e6 x number of purchases
    val nPurchases = ev.count(_._3 == "purchase").toLong
    assert(got.values.map(_._1).sum === 1000000L * nPurchases)
  }

  test("q339 HHI and CR4 match a supplier-share recount") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_suppkey").cast("long"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)") *
          (lit(100L) -
            expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val natOf = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey").cast("long"), col("s_nationkey").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bySupp = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val byNation = bySupp.toSeq.groupBy(kv => natOf(kv._1))
    val rows = Relational.qHhiConcentration(spark, sf).collect()
    assert(rows.length === byNation.size)
    rows.foreach { r =>
      val vs = byNation(r.getAs[Long]("nation"))
      val tot = vs.map(_._2).sum
      assert(r.getAs[Long]("n_suppliers") === vs.length.toLong)
      assert(r.getAs[Long]("v_total") === tot)
      val hhi = vs.map(v => (v._2.toDouble / tot) * (v._2.toDouble / tot)).sum
      assert(math.abs(r.getAs[Double]("hhi") - hhi) < 1e-6)
      val top4 = vs.map(_._2).sorted(Ordering[Long].reverse).take(4).sum
      assert(r.getAs[Long]("cr4_ppm") === top4 * 1000000L / tot)
    }
  }

  test("q340 SMDs match a plain-double covariate recount") {
    val spend = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_custkey").cast("long").as("ck"))
      .agg(count(lit(1)).as("no"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("sp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").cast("long"), col("c_mktsegment"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .collect().map { r =>
        val (no, sp) = spend.getOrElse(r.getLong(0), (0L, 0L))
        (r.getString(1) == "BUILDING", r.getLong(2), no, sp)
      }
    def meanVar(xs: Seq[Double]): (Double, Double) = {
      val m = xs.sum / xs.length
      (m, xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1.0))
    }
    val got = Stats.qCovariateBalance(spark, sf).collect()
      .map(r => r.getAs[String]("covariate") -> r.getAs[Double]("smd")).toMap
    val covs = Map(
      "acctbal_cents" -> cust.map(c => (c._1, c._2.toDouble)),
      "n_orders" -> cust.map(c => (c._1, c._3.toDouble)),
      "spend_cents" -> cust.map(c => (c._1, c._4.toDouble)))
    covs.foreach { case (name, xs) =>
      val (m1, v1) = meanVar(xs.filter(_._1).map(_._2).toSeq)
      val (m0, v0) = meanVar(xs.filterNot(_._1).map(_._2).toSeq)
      val smd = (m1 - m0) / math.sqrt((v1 + v0) / 2.0)
      assert(math.abs(got(name) - smd) < 1e-5, name)
    }
  }

  test("q341 Wilson bounds match a textbook recount and bracket p-hat") {
    val got = Stats.qWilsonInterval(spark, sf).collect()
    assert(got.length === 2)
    got.foreach { r =>
      val n = r.getAs[Long]("n").toDouble; val c = r.getAs[Long]("c").toDouble
      val z = 1.959964; val p = c / n
      val center = (p + z * z / (2 * n)) / (1 + z * z / n)
      val half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) /
        (1 + z * z / n)
      assert(math.abs(r.getAs[Double]("wilson_lo") - (center - half)) < 1e-6)
      assert(math.abs(r.getAs[Double]("wilson_hi") - (center + half)) < 1e-6)
      assert(r.getAs[Double]("wilson_lo") <= p + 1e-9)
      assert(r.getAs[Double]("wilson_hi") >= p - 1e-9)
    }
  }

  test("q342 SRM chi-square matches the arm counts") {
    val users = Tables.events(spark, sf).select("user_id").distinct()
      .collect().map(_.getLong(0))
    val nA = users.count(_ % 2 == 0).toLong
    val nB = users.length - nA
    val r = Stats.qSrmCheck(spark, sf).collect().head
    assert(r.getAs[Long]("n_a") === nA)
    assert(r.getAs[Long]("n_b") === nB)
    val chi2 = (nA - nB).toDouble * (nA - nB) / (nA + nB)
    assert(math.abs(r.getAs[Double]("srm_chi2") - chi2) < 1e-6)
    assert(r.getAs[Long]("srm_alarm") === (if (chi2 > 10.83) 1L else 0L))
  }

  test("q343 isotonic fit equals the max-min formula and conserves mass") {
    val rows = Stats.qIsotonicCalibration(spark, sf).collect()
      .map(r => (r.getAs[Long]("score_milli"), r.getAs[Long]("cnt"),
        r.getAs[Long]("pos"), r.getAs[Long]("iso_ppm")))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    // isotonic: non-decreasing in score
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4, s"not isotonic at ${b._1}")
    }
    // the independent ground truth: iso(i) = max_{j<=i} min_{k>=j}
    // mean(pos[j..k])/(cnt[j..k]) — a different algorithm than the
    // operator's stack-based PAVA
    val n = rows.length
    val cumPos = rows.scanLeft(0L)(_ + _._3).toArray
    val cumCnt = rows.scanLeft(0L)(_ + _._2).toArray
    def mean(j: Int, k: Int): (Long, Long) =
      (cumPos(k + 1) - cumPos(j), cumCnt(k + 1) - cumCnt(j))
    (0 until n).foreach { i =>
      // max over j<=i of (min over k>=j of mean(j,k)), rationals
      // compared by cross-multiplication
      var best: (Long, Long) = (0L, 1L)
      var bestSet = false
      (0 to i).foreach { j =>
        var mn: (Long, Long) = (1L, 1L); var mnSet = false
        (j until n).foreach { k =>
          val m = mean(j, k)
          if (!mnSet || m._1 * mn._2 < mn._1 * m._2) { mn = m; mnSet = true }
        }
        if (!bestSet || mn._1 * best._2 > best._1 * mn._2) {
          best = mn; bestSet = true
        }
      }
      assert(rows(i)._4 === best._1 * 1000000L / best._2,
        s"max-min mismatch at score ${rows(i)._1}")
    }
    // mass conservation: every pool's floor ppm times its count is
    // within cnt of the pool's exact positive mass
    rows.groupBy(_._4).values.foreach { pool =>
      val ppm = pool.head._4
      val cnt = pool.map(_._2).sum; val pos = pool.map(_._3).sum
      assert(ppm === pos * 1000000L / cnt)
    }
    // the cells must cover the whole corpus
    assert(rows.map(_._2).sum ===
      spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("q344 stratified effect matches a plain recount") {
    val spend = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_custkey").cast("long").as("ck"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("sp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").cast("long"), col("c_mktsegment"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .collect().map(r => (r.getString(1) == "BUILDING", r.getLong(2),
        spend.getOrElse(r.getLong(0), 0L)))
    val bals = cust.map(_._2).sorted
    val cuts = Seq(0.2, 0.4, 0.6, 0.8).map { p =>
      bals(math.max(1, math.ceil(p * bals.length).toLong).toInt - 1)
    }
    val byStratum = cust.groupBy(c => 1 + cuts.count(c._2 > _))
    val got = Stats.qStratifiedEffect(spark, sf).collect()
    assert(got.length === byStratum.size)
    var wSum = 0.0; var wdSum = 0.0
    got.foreach { r =>
      val g = byStratum(r.getAs[Long]("stratum").toInt)
      val (e, c) = g.partition(_._1)
      assert(r.getAs[Long]("n1") === e.length.toLong)
      assert(r.getAs[Long]("n0") === c.length.toLong)
      if (e.nonEmpty && c.nonEmpty) {
        val diff = e.map(_._3).sum.toDouble / e.length -
          c.map(_._3).sum.toDouble / c.length
        assert(math.abs(r.getAs[Double]("diff_cents") - diff) < 1e-4)
        wSum += g.length; wdSum += g.length * diff
      }
    }
    assert(math.abs(got.head.getAs[Double]("adjusted_diff_cents")
      - wdSum / wSum) < 1e-4)
  }

  test("q345 streaming MG equals the batch fold bit for bit (fifteenth parity)") {
    val batch = mgBatchFold(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val stream = graft.streaming.EventTime.qStreamingMisraGries(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("q345 MG counters respect the classic n/(m+1) guarantee") {
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val rows = mgBatchFold(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (tpe, rs) =>
      val n = rs.head.getAs[Long]("n_events")
      rs.foreach { r =>
        val est = r.getAs[Long]("mg_count")
        val truth = exact((tpe, r.getAs[Long]("user_id")))
        assert(est <= truth, s"$tpe overestimate")
        assert(truth - est <= n / 9 + 1, // m = 8: bound n/(m+1)
          s"$tpe undershoots past the n/(m+1) band")
      }
    }
  }

  test("q346 SPRT walk matches a sequential recount") {
    val users = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 95,
        1L).otherwise(0L)).as("conv"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val c1 = 0.22314355131420976; val c0 = -0.010471299867295366
    val thr = 2.9444389791664403
    val got = Stats.qSprt(spark, sf).collect()
      .map(r => r.getAs[Long]("arm") -> r).toMap
    Seq(0L, 1L).foreach { arm =>
      val seq = users.filter(_._1 % 2 == arm).sortBy(_._1)
      var a = 0L; var firstK = -1L; var dec = 0L
      seq.zipWithIndex.foreach { case ((_, conv), i) =>
        a += conv
        val k = i + 1L
        val llr = a * c1 + (k - a) * c0
        if (firstK < 0) {
          if (llr >= thr) { firstK = k; dec = 1L }
          else if (llr <= -thr) { firstK = k; dec = -1L }
        }
      }
      val r = got(arm)
      assert(r.getAs[Long]("n_users") === seq.length.toLong)
      assert(r.getAs[Long]("n_conv") === seq.map(_._2).sum)
      assert(r.getAs[Long]("first_cross_k") === firstK)
      assert(r.getAs[Long]("decision") === dec)
      val llrFinal = seq.map(_._2).sum * c1 +
        (seq.length - seq.map(_._2).sum) * c0
      assert(math.abs(r.getAs[Double]("llr_final") - llrFinal) < 1e-6)
    }
  }

  test("q347 delta-method CI matches a plain recount") {
    val perUser = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = Stats.qRatioMetricCi(spark, sf).collect()
      .map(r => r.getAs[Long]("arm") -> r).toMap
    Seq(0L, 1L).foreach { arm =>
      val g = perUser.filter(_._1 % 2 == arm)
      val n = g.length.toDouble
      val xs = g.map(_._2.toDouble); val ys = g.map(_._3.toDouble)
      val r0 = ys.sum / xs.sum
      def sampleVar(as: Seq[Double], bs: Seq[Double]): Double = {
        val ma = as.sum / n; val mb = bs.sum / n
        as.zip(bs).map { case (p, q) => (p - ma) * (q - mb) }.sum / (n - 1)
      }
      val se = math.sqrt((sampleVar(ys, ys) - 2 * r0 * sampleVar(xs, ys)
        + r0 * r0 * sampleVar(xs, xs)) / (n * math.pow(xs.sum / n, 2)))
      val r = got(arm)
      assert(r.getAs[Long]("n_users") === g.length.toLong)
      assert(math.abs(r.getAs[Double]("rev_per_order_cents") - r0) < 1e-5)
      assert(math.abs(r.getAs[Double]("se_delta") - se) < 1e-5)
      assert(r.getAs[Double]("ci_lo") < r0 && r.getAs[Double]("ci_hi") > r0)
    }
  }

  test("q348 seasonal strength matches an ANOVA eta-squared recount") {
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2)))
    val got = Stats.qSeasonalStrength(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        r.getAs[Double]("seasonal_strength")).toMap
    daily.groupBy(_._1).foreach { case (tpe, rows) =>
      val n = rows.length.toDouble
      val mean = rows.map(_._3).sum / n
      val ssTotal = rows.map(r => (r._3 - mean) * (r._3 - mean)).sum
      val ssBetween = rows.groupBy(_._2.getDayOfWeek).values.map { g =>
        val m = g.map(_._3).sum.toDouble / g.length
        g.length * (m - mean) * (m - mean)
      }.sum
      val fs = math.max(0.0, ssBetween / ssTotal)
      assert(math.abs(got(tpe) - fs) < 1e-6, tpe)
    }
  }

  test("q349 ACF table matches a direct autocovariance recount") {
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2)))
    val got = Stats.qAcfTable(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("lag")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("rho"))).toMap
    daily.groupBy(_._1).foreach { case (tpe, rows) =>
      val xs = rows.sortBy(_._2).map(_._3.toDouble)
      val n = xs.length; val m = xs.sum / n
      val denom = xs.map(x => (x - m) * (x - m)).sum
      (1 to 14).foreach { k =>
        val num = (k until n).map(i => (xs(i) - m) * (xs(i - k) - m)).sum
        val (np, rho) = got((tpe, k.toLong))
        assert(np === (n - k).toLong)
        assert(math.abs(rho - num / denom) < 1e-5, s"$tpe lag $k")
      }
    }
  }

  test("q350 rules match a basket recount and rank by true lift") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val orders = li.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nOrders = orders.size.toDouble
    val itemCount = li.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairCount = scala.collection.mutable.Map[(Long, Long), Long]()
    orders.values.foreach { ps =>
      val sorted = ps.toSeq.sorted
      for (i <- sorted.indices; j <- i + 1 until sorted.length)
        pairCount((sorted(i), sorted(j))) =
          pairCount.getOrElse((sorted(i), sorted(j)), 0L) + 1L
    }
    val rules = pairCount.toSeq.filter(_._2 >= 3).flatMap {
      case ((a, b), c) => Seq((a, b, c), (b, a, c))
    }.map { case (a, b, c) =>
      val lift = math.rint(nOrders * c /
        (itemCount(a).toDouble * itemCount(b)) * 1e6) / 1e6
      (lift, a, b, c)
    }.sortBy { case (l, a, b, _) => (-l, a, b) }.take(10)
    val got = Relational.qAssociationRules(spark, sf).collect()
    assert(got.length === rules.length)
    got.zip(rules).foreach { case (r, (lift, a, b, c)) =>
      assert(r.getAs[Long]("ante") === a)
      assert(r.getAs[Long]("cons") === b)
      assert(r.getAs[Long]("support") === c)
      assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-6)
      assert(r.getAs[Long]("confidence_ppm") ===
        c * 1000000L / itemCount(a))
    }
  }

  test("q351 MRR/AP agree with the q191 flags and textbook folds") {
    val ndcg = Similarity.qNdcg(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("hits_at_10"))
      .toMap
    val got = Similarity.qMrrMap(spark, sf).collect()
    assert(got.length === ndcg.size)
    got.foreach { r =>
      val fh = r.getAs[Long]("first_hit_rank")
      val rr = r.getAs[Double]("rr")
      if (fh > 0) assert(math.abs(rr - 1.0 / fh) < 1e-6)
      else assert(rr === 0.0)
      val ap = r.getAs[Double]("ap_at_10")
      assert(ap >= 0.0 && ap <= 1.0 + 1e-9)
      // a query with zero hits has no first hit and AP 0; with hits,
      // AP > 0 and the first hit exists
      val hits = ndcg(r.getAs[Long]("query_id"))
      if (hits == 0) { assert(fh === -1L); assert(ap === 0.0) }
      else assert(fh >= 1L && ap > 0.0)
    }
  }

  test("q352 purity matches a recount over the q103 components") {
    val comp = Dedup.softDedupWeights(
      spark.read.parquet(s"$sf/documents.parquet")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"),
        r.getAs[Long]("csize")))
    val lang = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val clustered = comp.filter(_._3 > 1)
    val byComp = clustered.groupBy(_._2)
    val maj = byComp.values.map(g =>
      g.map(x => lang(x._1)).groupBy(identity).values.map(_.size).max).sum
    val r = Dedup.qClusterPurity(spark, sf).collect().head
    assert(r.getAs[Long]("n_clusters") === byComp.size.toLong)
    assert(r.getAs[Long]("n_docs_in_clusters") === clustered.length.toLong)
    assert(r.getAs[Long]("sum_majority") === maj.toLong)
    assert(math.abs(r.getAs[Double]("purity")
      - maj.toDouble / clustered.length) < 1e-6)
  }

  test("q353 Neyman allocation matches N_s*sigma_s weighting") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("n_chars").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val stats = docs.groupBy(_._1).view.mapValues { g =>
      val xs = g.map(_._2.toDouble)
      val m = xs.sum / xs.length
      (xs.length.toLong,
        math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)))
    }.toMap
    val wTot = stats.values.map { case (n, s0) => n * s0 }.sum
    val got = Pipeline.qNeymanAllocation(spark, sf).collect()
    assert(got.length === stats.size)
    var total = 0L
    got.foreach { r =>
      val (n, s0) = stats(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_s") === n)
      assert(math.abs(r.getAs[Double]("sigma_chars") - s0) < 1e-5)
      val alloc = math.floor(10000.0 * n * s0 / wTot).toLong
      assert(r.getAs[Long]("alloc") === alloc)
      total += alloc
    }
    assert(total <= 10000L && total > 9000L,
      "floor allocation must spend most of the budget and never overspend")
  }

  test("q354 seasonal MK matches a per-weekday all-pairs recount") {
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2)))
    val got = Stats.qSeasonalMannKendall(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("s_stat"), r.getAs[Long]("var_x18"))).toMap
    daily.groupBy(_._1).foreach { case (tpe, rows) =>
      var s0 = 0L; var varBase = 0L; var tie = 0L
      rows.groupBy(_._2.getDayOfWeek).values.foreach { g =>
        val xs = g.sortBy(_._2).map(_._3)
        for (i <- xs.indices; j <- i + 1 until xs.length)
          s0 += java.lang.Long.signum(xs(j) - xs(i))
        val nw = xs.length.toLong
        varBase += nw * (nw - 1) * (2 * nw + 5)
        xs.groupBy(identity).values.foreach { t0 =>
          val t = t0.size.toLong
          tie += t * (t - 1) * (2 * t + 5)
        }
      }
      val (gs, gv) = got(tpe)
      assert(gs === s0, s"$tpe S")
      assert(gv === varBase - tie, s"$tpe Var")
    }
  }

  test("q355 Dunn z matches a textbook global-rank recount") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // global average ranks
    val sorted = ev.map(_._2).sorted
    val rankOf = sorted.zipWithIndex.groupBy(_._1).view.mapValues { g =>
      g.map(_._2 + 1).sum.toDouble / g.size
    }.toMap
    val n = ev.length.toDouble
    val tie = sorted.groupBy(identity).values
      .map(g => g.size.toLong).map(t => t * t * t - t).sum
    val varCore = n * (n + 1) / 12.0 - tie / (12.0 * (n - 1))
    val byType = ev.groupBy(_._1)
    val meanRank = byType.view.mapValues { g =>
      (g.length.toLong, g.map(x => rankOf(x._2)).sum / g.length)
    }.toMap
    val got = Stats.qDunnPosthoc(spark, sf).collect()
    assert(got.length === meanRank.size * (meanRank.size - 1) / 2)
    got.foreach { r =>
      val (na, ra) = meanRank(r.getAs[String]("type_a"))
      val (nb, rb) = meanRank(r.getAs[String]("type_b"))
      val z = (ra - rb) / math.sqrt(varCore * (1.0 / na + 1.0 / nb))
      assert(r.getAs[Long]("n_a") === na)
      assert(math.abs(r.getAs[Double]("z_dunn") - z) < 1e-5,
        s"${r.getAs[String]("type_a")}~${r.getAs[String]("type_b")}")
      assert(r.getAs[Long]("m_comparisons") ===
        (meanRank.size * (meanRank.size - 1) / 2).toLong)
    }
  }

  test("q356 richness constants match a frequency-spectrum recount") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), lower(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val got = TextAnalysis.qLexicalRichness(spark, sf).collect()
    got.foreach { r =>
      val src = r.getAs[String]("source")
      val freq = docs.filter(_._1 == src)
        .flatMap(_._2.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nTok = freq.values.sum
      val v = freq.size.toLong
      val sumM2 = freq.values.map(m => m * m).sum
      assert(r.getAs[Long]("v_types") === v)
      assert(r.getAs[Long]("n_tokens") === nTok)
      assert(r.getAs[Long]("v1_hapax") === freq.values.count(_ == 1L).toLong)
      assert(r.getAs[Long]("sum_m2") === sumM2)
      val k = 1e4 * (sumM2 - nTok).toDouble / (nTok.toDouble * nTok)
      assert(math.abs(r.getAs[Double]("yule_k") - k) < 1e-5)
      assert(math.abs(r.getAs[Double]("guiraud_r")
        - v / math.sqrt(nTok.toDouble)) < 1e-5)
      assert(math.abs(r.getAs[Double]("herdan_c")
        - math.log(v.toDouble) / math.log(nTok.toDouble)) < 1e-3)
    }
  }

  test("q357 cohort LTV matches a per-cohort recount") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")),
        when(col("event_type") === "purchase",
          expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).otherwise(lit(0L)))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val cohortOf = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val msDay = 86400000L
    val cells = ev.map { case (u, day, c) =>
      ((cohortOf(u),
        (day.getTime - cohortOf(u).getTime) / msDay), c)
    }.filter(_._1._2 <= 7)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = Stats.qCohortLtv(spark, sf).collect()
    val cohortUsers = cohortOf.groupBy(_._2).view.mapValues(_.size.toLong)
    got.foreach { r =>
      val ts = new java.sql.Timestamp(r.getAs[Long]("cohort_ts") * 1000L)
      val off = r.getAs[Long]("day_offset")
      assert(r.getAs[Long]("revenue_cents") === cells((ts, off)))
      assert(r.getAs[Long]("cohort_users") === cohortUsers(ts))
      val cum = (0L to off).map(o => cells.getOrElse((ts, o), 0L)).sum
      assert(r.getAs[Long]("cum_cents") === cum)
      assert(r.getAs[Long]("ltv_ppm_cents") ===
        cum * 1000000L / cohortUsers(ts))
    }
  }

  test("q358 ABC classes match a sorted-cumulative recount") {
    val rev = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey").cast("long"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)") *
          (lit(100L) -
            expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tot = rev.values.sum
    val sorted = rev.toSeq.sortBy { case (p, v) => (-v, p) }
    var cum = 0L
    val classes = sorted.map { case (p, v) =>
      cum += v
      val c = if (BigInt(cum) * 100 <= BigInt(tot) * 80) "A"
        else if (BigInt(cum) * 100 <= BigInt(tot) * 95) "B" else "C"
      (c, v)
    }
    val want = classes.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong, g.map(_._2).sum)
    }.toMap
    val got = Relational.qAbcClassification(spark, sf).collect()
    assert(got.length === want.size)
    got.foreach { r =>
      val (n, v) = want(r.getAs[String]("abc_class"))
      assert(r.getAs[Long]("n_parts") === n)
      assert(r.getAs[Long]("revenue_x1e4") === v)
      assert(r.getAs[Long]("revenue_share_ppm") ===
        (BigInt(v) * 1000000 / BigInt(tot)).toLong)
    }
    // the A class must cover at most 80% and the A+B at most 95%
    val aShare = want.get("A").map(_._2).getOrElse(0L)
    assert(BigInt(aShare) * 100 <= BigInt(tot) * 80 + BigInt(tot))
  }

  test("q326 Simpson matches a token-frequency recount") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), lower(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val counts = docs.groupBy(_._1).view.mapValues { ds =>
      ds.flatMap(_._2.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }.toMap
    val got = TextAnalysis.qSimpsonDiversity(spark, sf).collect()
    assert(got.length === counts.size)
    got.foreach { r =>
      val cs = counts(r.getAs[String]("source"))
      val n = cs.values.sum
      assert(r.getAs[Long]("n_types") === cs.size.toLong)
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Long]("sum_cc1") === cs.values.map(c => c * (c - 1)).sum)
      assert(r.getAs[Long]("max_c") === cs.values.max)
      val lambda = cs.values.map(c => c * (c - 1.0)).sum / (n * (n - 1.0))
      assert(math.abs(r.getAs[Double]("simpson_lambda") - lambda) < 1e-6)
      assert(math.abs(r.getAs[Double]("berger_parker")
        - cs.values.max.toDouble / n) < 1e-6)
    }
  }
}
