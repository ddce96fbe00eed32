package graft.streaming

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.Test.{check, Parameters}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{CusumStep, EwmaStep, HoltStep, LocfStep, UnitSeries, UnitStep}
import graft.operators.Stats

/** The pure steps behind the keyed streaming operators, checked without
  * a stream: the open/close device must reach the batch fold however a
  * series is cut into micro-batches, the batch twins must fold the same
  * steps, and the KS numerator must refuse to wrap. */
class KeyedStepSpec extends AnyFunSuite {

  /** A (unit, count) series: ascending units with gaps of 1–5, counts
    * 1–40 (wide enough for EWMA spikes, Holt overs and CUSUM alarms). */
  private val genSeries: Gen[Vector[(Long, Long)]] = for {
    n <- Gen.choose(1, 30)
    start <- Gen.choose(0L, 500000L)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 5L))
    counts <- Gen.listOfN(n, Gen.choose(1L, 40L))
  } yield gaps.scanLeft(start)(_ + _).tail.zip(counts).toVector

  /** The series' events (one unit number each) cut at the given
    * fractions of their length into non-empty batches, each shuffled:
    * the device must sort within a batch. A cut may fall inside a
    * unit's run, leaving the unit open across batches. */
  private def batches(series: Vector[(Long, Long)], cuts: Seq[Double],
      seed: Long): Vector[Array[Long]] = {
    val events = series.flatMap { case (u, c) => Vector.fill(c.toInt)(u) }
    val inner = cuts.map(f => (f * events.length).toInt)
      .filter(i => i > 0 && i < events.length).distinct.sorted
    val bounds = (0 +: inner.toVector) :+ events.length
    val rnd = new scala.util.Random(seed)
    bounds.sliding(2).map { case Seq(a, b) => rnd.shuffle(events.slice(a, b)).toArray }
      .toVector
  }

  /** The (unit, count) series of the first `n` events. */
  private def prefix(series: Vector[(Long, Long)], n: Long): Vector[(Long, Long)] = {
    var left = n
    series.flatMap { case (u, c) =>
      val take = math.min(c, left); left -= take
      if (take > 0) Some((u, take)) else None
    }
  }

  private def splitInvariant[S](rec: UnitStep[S]): Prop =
    Prop.forAllNoShrink(genSeries,
        Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0.0, 1.0))),
        Gen.long) { (series, cuts, seed) =>
      var st = UnitSeries.empty(rec)
      val snapshots = batches(series, cuts, seed).map { b =>
        st = st.advance(b, rec)
        st.project(rec) == rec.fold(prefix(series, st.nSeen))
      }
      val total = series.map(_._2).sum
      (snapshots.forall(identity) && st.nSeen == total &&
        st.project(rec) == rec.fold(series)) :| s"series $series cuts $cuts"
    }

  test("per-unit steps: batch-by-batch stepping plus projection equals one fold") {
    Seq[(String, UnitStep[_])]("EWMA" -> EwmaStep, "Holt" -> HoltStep,
        "CUSUM" -> CusumStep, "LOCF" -> LocfStep).foreach { case (name, rec) =>
      val res = check(Parameters.default.withMinSuccessfulTests(300),
        splitInvariant(rec))
      assert(res.passed, s"$name: ${res.status}")
    }
  }

  test("the EWMA and Holt batch twins fold the same steps the streams project") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    val series = (0 until 40).map { i =>
      s"t$i" -> genSeries.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(rnd.nextLong()))
    }
    def streamed[S](rec: UnitStep[S], s: Vector[(Long, Long)]): S =
      batches(s, Seq(0.3, 0.7), 7L)
        .foldLeft(UnitSeries.empty(rec))((st, b) => st.advance(b, rec)).project(rec)
    val hourly = series.flatMap { case (t, s) => s.map { case (h, c) => (t, h, c) } }
      .toDF("event_type", "h", "c")

    val ewma = Stats.ewmaSpikes(spark, hourly).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val holt = Stats.holtMonitor(spark, hourly).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))).toMap
    assert(ewma.size == series.size && holt.size == series.size)
    series.foreach { case (t, s) =>
      val e = streamed(EwmaStep, s)
      assert(ewma(t) == ((e.n, e.e, e.nSpikes, e.firstSpike)), t)
      val h = streamed(HoltStep, s)
      assert(holt(t) == ((h.n, h.l, h.b, h.l + h.b, h.nOver, h.firstOver)), t)
    }
    assert(ewma.values.exists(_._3 > 0), "no series spiked")
    assert(holt.values.exists(_._5 > 0), "no series went over its forecast")
  }

  test("KS numerator: exact below the Long range, ArithmeticException past it") {
    val three = 3000000000L
    assert(Stateful.ksNumerator(Seq((1L, three, 0L), (2L, 0L, three))) ==
      ((three, three, three * three)))
    val big = 1L << 32 // 2^32 · 2^32 = 2^64 wraps a Long
    intercept[ArithmeticException] {
      Stateful.ksNumerator(Seq((1L, big, 0L), (2L, 0L, big)))
    }
  }
}
