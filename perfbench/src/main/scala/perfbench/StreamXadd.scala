package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.core._
import graft.sources.GraftLog

/** `stream_xadd`: XADD-style ingest into a [[GraftLog]] delivered to one
  * `registerStreamTrigger` consumer attached over `format("graft-log")`,
  * with durable acks on (the engine has a `checkpointDir`).
  *
  *  - drain phase: a backlog appended during set-up is delivered from
  *    `attach` until the last record's callback; done once per set-up
  *    repetition, each over its own log and engine;
  *  - fixed-rate phase (open loop): one generator thread appends
  *    [[SegRecords]]-record segments every [[TickMs]] ms; a record's
  *    latency runs from its segment's scheduled append time to its
  *    trigger callback. It runs last: the micro-batch path keeps getting
  *    faster over the first ~100,000 records a JVM delivers.
  *
  * Records are seeded and skewed (Zipf, s = 1) over 64 stream keys. */
object StreamXadd {
  val Streams = 64
  val SegRecords = 250
  val TickMs = 100
  val Backlog = 30000
  // fixed-rate latency figures are medians over sub-windows of this
  // length, so one slow micro-batch moves them less
  val SubWindowMs = 2000
  private val Lib = "bench"
  private val SampleMask = 63L
  private val streamNames = Array.tabulate(Streams)(i => s"s:$i")
  private val streamIndex = streamNames.zipWithIndex.toMap

  /** `n` seeded records with ids 1..n. */
  def records(seed: Long, n: Int): Array[StreamRecord] = {
    val rnd = new SplittableRandom(seed)
    val cdf = (1 to Streams).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toArray
    val norm = cdf.last
    Array.tabulate(n) { i =>
      val u = rnd.nextDouble() * norm
      val s = math.min(Streams - 1, java.util.Arrays.binarySearch(cdf, u) match {
        case k if k >= 0 => k
        case k => -k - 1
      })
      StreamRecord(streamNames(s), i + 1L, 0L, Map("v" -> rnd.nextInt(1000000).toString))
    }
  }

  /** The benchmark's trigger callback: counts, checks order and
    * duplicates, and (fixed-rate phase, where `sched` holds each
    * segment's scheduled append time) records delivery latency by
    * sub-window. Delivery is single-threaded per engine. */
  final class Probe(total: Int, sched: AtomicLongArray) {
    val delivered = new AtomicLong
    private val seen = new java.util.BitSet(total + 1)
    private val lastId = new Array[Long](Streams)
    var dups, outOfOrder = 0L
    val latency: Array[LongBuf] =
      if (sched == null) Array.empty
      else Array.fill((sched.length * TickMs + SubWindowMs - 1) / SubWindowMs)(new LongBuf)
    val callbackAt = new LongBuf

    def onRecord(r: StreamRecord): Unit = {
      val now = System.nanoTime()
      val id = r.idMs.toInt
      val s = streamIndex(r.stream)
      if (seen.get(id)) dups += 1 else seen.set(id)
      if (id <= lastId(s)) outOfOrder += 1 else lastId(s) = id
      if (sched != null) {
        val seg = (id - 1) / SegRecords
        latency(seg * TickMs / SubWindowMs).add(now - sched.get(seg))
      }
      if (Trace.on) {
        callbackAt.add(now)
        if ((id & SampleMask) == 0)
          Trace.record(Trace.newId(), Trace.ByTime, id, "bench.stream_cb", now, System.nanoTime())
      }
      delivered.incrementAndGet()
    }

    /** Wrong deliveries against the appended `recs` (missing,
      * duplicated or out of order records, and streams whose final
      * acked id as `list()` reports it is not the last appended one),
      * with a description of each kind. */
    def check(label: String, recs: Array[StreamRecord], e: Engine): (Long, Seq[String]) = {
      val out = Seq.newBuilder[String]
      var wrong = math.abs(recs.length - delivered.get) + dups + outOfOrder
      if (delivered.get != recs.length) out += s"$label: delivered ${delivered.get} of ${recs.length}"
      if (dups != 0) out += s"$label: $dups duplicate deliveries"
      if (outOfOrder != 0) out += s"$label: $outOfOrder records out of order"
      val last = new Array[Long](Streams)
      recs.foreach(r => last(streamIndex(r.stream)) = r.idMs)
      val acked = e.list().find(_.name == Lib).toSeq.flatMap(_.streamTriggers)
        .flatMap(_.streams).toMap
      (0 until Streams).filter(last(_) > 0).foreach { s =>
        val got = acked.get(streamNames(s)).map(_.lastReadId)
        if (!got.contains(s"${last(s)}-0")) {
          wrong += 1
          out += s"$label: ${streamNames(s)} lastReadId $got, last appended ${last(s)}-0"
        }
      }
      (wrong, out.result())
    }
  }

  private final class Setup(val dir: String, val log: GraftLog, val engine: Engine, val probe: Probe)

  private def setup(spark: SparkSession, dir: String, recs: Array[StreamRecord],
      sched: AtomicLongArray): Setup = {
    val log = new GraftLog(s"$dir/log", spark.sparkContext.hadoopConfiguration)
    recs.grouped(SegRecords).foreach(seg => log.append(seg.toSeq))
    val engine = new Engine(spark, checkpointDir = Some(s"$dir/acks"))
    val probe = new Probe(recs.length, sched)
    engine.load(LibraryDefinition(Lib, code =
      _.registerStreamTrigger("st", "s:", (_, r) => probe.onRecord(r))))
    new Setup(dir, log, engine, probe)
  }

  private def attach(spark: SparkSession, s: Setup): StreamingQuery = {
    import spark.implicits._
    s.engine.streams.attach(spark.readStream.format("graft-log")
      .option("path", s"${s.dir}/log").option("prefix", "s:").load().as[StreamRecord],
      s"${s.dir}/query")
  }

  /** Wait until `p` has seen `n` records, the query died, or a minute
    * passed; the caller's check reports any shortfall. */
  private def await(p: Probe, n: Long, q: StreamingQuery): Unit = {
    val end = System.nanoTime() + 60000000000L
    while (p.delivered.get < n && System.nanoTime() < end && q.isActive) Thread.sleep(1)
  }

  private def progress(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  private def batchSpans(ps: Seq[StreamingQueryProgress]): Unit = ps.foreach { p =>
    val start = Trace.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val dur = p.durationMs.getOrDefault("triggerExecution", 0L).longValue
    Trace.record(Trace.newId(), Trace.ByTime, p.batchId, "stream.batch", start, start + dur * 1000000L)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    def checked(r: (Long, Seq[String])): Unit = { failed += r._1; problems ++= r._2 }
    val backlog = records(ctx.seed, Backlog)

    // warm-up: one drain of a backlog of the measured size, so the
    // measured phases run compiled code rather than the first-run path
    val w0 = System.nanoTime()
    ctx.untraced {
      val warmRecs = records(ctx.seed + 1, Backlog)
      val warm = setup(spark, ctx.dir("warm"), warmRecs, null)
      val wq = attach(spark, warm)
      await(warm.probe, Backlog, wq)
      wq.stop()
      problems ++= warm.probe.check("warm-up", warmRecs, warm.engine)._2
      warm.engine.close()
    }
    val warmS = (System.nanoTime() - w0) / 1e9

    // set-up, three times over: a log with the backlog, an engine, the consumer
    val preps = ctx.untraced((1 to 3).map { k =>
      val t0 = System.nanoTime()
      val s = setup(spark, ctx.dir(s"drain$k"), backlog, null)
      (s, (System.nanoTime() - t0) / 1e9)
    })

    // drain phase: attach to each backlog and time until the last delivery
    val drainRates = preps.map { case (s, _) =>
      Trace.span("stream.drain", Trace.NoParent, 0L) { _ =>
        val t0 = System.nanoTime()
        val q = attach(spark, s)
        await(s.probe, Backlog, q)
        val rate = Backlog / ((System.nanoTime() - t0) / 1e9)
        q.stop()
        checked(s.probe.check("drain", backlog, s.engine))
        if (ctx.trace) batchSpans(progress(q))
        s.engine.close()
        rate
      }
    }

    // fixed-rate phase
    val ticks = math.max(1, ctx.seconds * 1000 / TickMs)
    val live = records(ctx.seed + 2, ticks * SegRecords)
    val sched = new AtomicLongArray(ticks)
    val ls = setup(spark, ctx.dir("live"), Array.empty, sched)
    val q = attach(spark, ls)
    ctx.capture.foreach(_.reset())
    val (gc0, gcn0) = Jvm.gc()
    val appendNs = new LongBuf
    var lateMax = 0L
    var backlogMax = 0L
    val m0 = System.nanoTime() + TickMs * 1000000L
    val gen = new Thread(() => {
      var i = 0
      while (i < ticks) {
        val due = m0 + i * TickMs * 1000000L
        var now = System.nanoTime()
        while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000L)); now = System.nanoTime() }
        lateMax = math.max(lateMax, now - due)
        backlogMax = math.max(backlogMax, i.toLong * SegRecords - ls.probe.delivered.get)
        sched.set(i, due)
        val seg = live.slice(i * SegRecords, (i + 1) * SegRecords).toSeq
        Trace.span("graftlog.append", Trace.NoParent, i) { _ => ls.log.append(seg) }
        if (ctx.trace) appendNs.add(System.nanoTime() - now)
        i += 1
      }
    }, "generator")
    gen.start()
    gen.join()
    await(ls.probe, live.length, q)
    val m1 = System.nanoTime()
    val (gc1, gcn1) = Jvm.gc()
    q.stop()
    checked(ls.probe.check("fixed-rate", live, ls.engine))
    val ps = progress(q)
    val liveSpark = ctx.capture.map(_.snapshot())
    ls.engine.close()

    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers("jvm.gc_ms") = (gc1 - gc0).toDouble
    layers("jvm.gc_count") = (gcn1 - gcn0).toDouble
    layers("stream.backlog_max_rec") = backlogMax.toDouble
    layers("gen.late_max_ms") = lateMax / 1e6
    if (ctx.trace) {
      val app = Stats.merged(Seq(appendNs))
      layers("graftlog.append_p50_ms") = Stats.pct(app, 50) / 1e6
      layers("graftlog.append_p99_ms") = Stats.pct(app, 99) / 1e6
      def dur(key: String) = ps.map(_.durationMs.getOrDefault(key, 0L).doubleValue)
      layers("stream.batches") = ps.size.toDouble
      layers("stream.batch_rows_p50") = Stats.median(ps.map(_.numInputRows.toDouble))
      layers("stream.trigger_p50_ms") = Stats.median(dur("triggerExecution"))
      layers("stream.trigger_p99_ms") = Stats.pct(dur("triggerExecution"), 99)
      layers("stream.latest_offset_p50_ms") = Stats.median(dur("latestOffset"))
      layers("stream.add_batch_p50_ms") = Stats.median(dur("addBatch"))
      layers("stream.wal_commit_p50_ms") = Stats.median(dur("walCommit"))
      layers("stream.callback_rec_per_s") = callbackRate(ps, ls.probe.callbackAt.toArray)
      liveSpark.foreach { t =>
        val perBatch = math.max(1, ps.size).toDouble
        layers ++= t.layerMetrics
        layers("spark.jobs") = t.jobs / perBatch
        layers("spark.stages") = t.stages / perBatch
        layers("spark.tasks") = t.tasks / perBatch
        layers("spark.driver_share") = t.driverShare(m0, m1)
      }
      batchSpans(ps)
      // a batch read of the whole log, no trigger
      val s0 = System.nanoTime()
      val n = Trace.span("graftlog.scan", Trace.NoParent, 0L) { _ =>
        spark.read.format("graft-log").option("path", s"${ls.dir}/log").load().count()
      }
      layers("graftlog.scan_rec_per_s") = n / ((System.nanoTime() - s0) / 1e9)
      if (n != live.length) checked((math.abs(n - live.length), Seq(s"scan read $n records of ${live.length}")))
    }
    val lat = ls.probe.latency.map(b => Stats.merged(Seq(b))).toSeq
    val attempted = Backlog.toLong * preps.size + live.length
    Outcome(attempted, failed, problems.toSeq,
      preps.map(_._2), warmS,
      throughput = Stats.median(drainRates),
      p50Ms = Stats.median(lat.map(Stats.pct(_, 50))) / 1e6,
      p99Ms = Stats.median(lat.map(Stats.pct(_, 99))) / 1e6,
      layers = layers.toMap,
      info = Map("streams" -> Streams, "backlog_records" -> Backlog,
        "rate_rec_per_s" -> SegRecords * 1000 / TickMs, "segment_records" -> SegRecords,
        "tick_ms" -> TickMs, "fixed_rate_records" -> live.length,
        "drain_rec_per_s" -> drainRates, "durable_acks" -> true),
      containers = Set("stream.batch", "stream.drain", "graftlog.scan"))
  }

  /** Records per second of the delivery loop alone: records over the
    * first-to-last callback span of each batch, summed over batches. */
  private def callbackRate(ps: Seq[StreamingQueryProgress], at: Array[Long]): Double = {
    java.util.Arrays.sort(at)
    var recs = 0L
    var span = 0L
    ps.foreach { p =>
      val start = Trace.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val end = start + p.durationMs.getOrDefault("triggerExecution", 0L).longValue * 1000000L
      val in = at.filter(t => t >= start && t <= end)
      if (in.length >= 2) { recs += in.length; span += in.last - in.head }
    }
    if (span == 0L) 0.0 else recs / (span / 1e9)
  }
}
