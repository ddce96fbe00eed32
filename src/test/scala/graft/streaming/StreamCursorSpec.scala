package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._

/** The callback every plane runs in the cross-plane property. Static, so
  * the executor-side closure captures no engine state (local mode shares
  * the JVM). A flagged record fails its first attempt only. */
object CrossPlaneSink {
  @volatile var flagged: Set[String] = Set.empty
  val attempted: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val seen = new ConcurrentLinkedQueue[String]()

  def reset(flags: Set[String]): Unit = { flagged = flags; attempted.clear(); seen.clear() }

  def attempt(r: StreamRecord): Unit = {
    val id = s"${r.stream}/${r.idString}"
    if (flagged(id) && attempted.add(id)) {
      seen.add(s"$id!")
      throw new RuntimeException(s"first attempt of $id")
    }
    seen.add(id)
  }
}

/** [[StreamCursor]] as every delivery plane uses it: acks are published
  * whole, and the driver path, the executor path and the graft-log tail
  * deliver the same records in the same order and end in the same
  * state. */
class StreamCursorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("trimWatermark never reads an ack ahead of delivery while acks advance (E6)") {
    val e = new Engine(spark)
    val entered = new AtomicReference[StreamId](StreamId.Start)
    e.load(LibraryDefinition("lib", code =
      _.registerStreamTrigger("t", "s:", (_, r) => entered.set(StreamId(r.idMs, r.idSeq)),
        isStreamTrimmed = true)))
    val done = new AtomicBoolean(false)
    val reads = new AtomicLong
    val ahead = new ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!done.get) {
        e.streams.trimWatermark("s:1").foreach { case (ms, seq) =>
          // read after the watermark: a real ack is never above it
          val last = entered.get
          if (StreamId.ordering.gt(StreamId(ms, seq), last) && ahead.size < 10)
            ahead.add(s"watermark $ms-$seq > delivered $last")
          reads.incrementAndGet()
        }
      }
    })
    reader.start()
    // single-record batches whose seq resets each ms: (m, 3) -> (m+1, 0)
    try (0 until 300000).foreach { i =>
      e.streams.processBatch(Seq(StreamRecord("s:1", i / 4 + 1L, i % 4L, Map.empty)))
    } finally { done.set(true); reader.join() }
    e.close()
    assert(reads.get > 0)
    assert(ahead.isEmpty, ahead.asScala.mkString("; "))
  }

  test("ids past MaxDeliveredAhead behind a failed id wait for its retry (E3/E4)") {
    val max = StreamTriggerEngine.MaxDeliveredAhead
    val c = new StreamCursor
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    def offer(ms: Long, fail: Boolean = false): Unit =
      c.offer(StreamRecord("s:1", ms, 0L, Map.empty), window = 2, ErrorPolicy.Retry, now = 0L) {
        if (fail) throw new RuntimeException(s"nack $ms") else delivered += ms
      }
    offer(1L, fail = true)
    assert(c.pendingFailed.toSeq == Seq(StreamId(1L, 0L)))
    // the window has room, so newer ids run ahead of the failure until the bound
    (2L to max + 11L).foreach(offer(_))
    assert(delivered == (2L to max + 1L))
    assert(c.deliveredAhead.size == max)
    assert(c.acked == StreamId.Start)
    // the retry succeeds: the checkpoint jumps to the last id delivered ahead
    delivered.clear()
    offer(1L)
    assert(delivered == Seq(1L))
    assert(c.acked == StreamId(max + 1L, 0L))
    assert(c.pendingFailed.isEmpty && c.deliveredAhead.isEmpty)
    // the next pass over the whole range delivers exactly the refused ids
    delivered.clear()
    (1L to max + 11L).foreach(offer(_))
    assert(delivered == (max + 2L to max + 11L))
    assert(c.acked == StreamId(max + 11L, 0L))
  }

  test("property: driver and executor delivery agree per stream (E3/E4)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.Test.{check, Parameters}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // per stream: one fail-on-first-attempt flag per record
    val genCase = for {
      streams <- Gen.choose(2, 3)
      flags <- Gen.listOfN(streams, Gen.choose(0, 8).flatMap(
        Gen.listOfN(_, Gen.frequency(3 -> false, 1 -> true))))
      policy <- Gen.oneOf[ErrorPolicy](ErrorPolicy.Retry, ErrorPolicy.Ack)
      window <- Gen.choose(1, 4)
      seed <- Gen.long
    } yield (flags, policy, window, seed)

    def engine(policy: ErrorPolicy, window: Int): Engine = {
      val e = new Engine(spark)
      e.load(LibraryDefinition("lib", code = _.registerStreamTrigger("t", "s:",
        (_, r) => CrossPlaneSink.attempt(r), window = window, onError = policy)))
      e
    }
    // per stream: the callback's attempts in order, and the final stats
    def outcome(e: Engine) = {
      val seen = CrossPlaneSink.seen.asScala.toSeq.groupBy(_.takeWhile(_ != '/'))
      val stats = e.list().head.streamTriggers.head.streams.map { case (s, st) =>
        s -> ((st.lastReadId, st.pendingIds, st.totalErrors, st.totalProcessed, st.lastError))
      }
      e.close()
      (seen, stats)
    }

    // no shrinking: every step of it would be more streaming queries
    val prop = Prop.forAllNoShrink(genCase) { case (flags, policy, window, seed) =>
      // ids (i / 2, i % 2): the seq resets as the ms advances
      val records = new scala.util.Random(seed).shuffle(
        flags.zipWithIndex.flatMap { case (fs, s) =>
          fs.indices.map(i => StreamRecord(s"s:$s", i / 2 + 1L, i % 2L, Map.empty))
        })
      val flagged = flags.zipWithIndex.flatMap { case (fs, s) =>
        fs.zipWithIndex.collect { case (true, i) => s"s:$s/${i / 2 + 1}-${i % 2}" }
      }.toSet

      // driver plane: replay the batch until it is clean
      CrossPlaneSink.reset(flagged)
      val e1 = engine(policy, window)
      var replays = 0
      while (replays < 50 &&
        (try { e1.streams.processBatch(records); false }
         catch { case _: StreamDeliveryException => true })) replays += 1
      val driver = outcome(e1)

      // executor plane: restart from the same checkpoint after each failed batch
      CrossPlaneSink.reset(flagged)
      val e2 = engine(policy, window)
      val mem = MemoryStream[StreamRecord]
      mem.addData(records: _*)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-cross").toString
      var restarts = 0
      var clean = false
      while (!clean && restarts < 50) {
        val q = e2.streams.attachDistributed(mem.toDS(), ckpt, "lib", "t")(CrossPlaneSink.attempt)
        clean = try { q.processAllAvailable(); true }
          catch { case _: StreamingQueryException => restarts += 1; false }
          finally q.stop()
      }
      val executor = outcome(e2)

      // graft-log tail plane: the records as segments of 1-4 records,
      // re-attached from the same checkpoint after each failed round
      CrossPlaneSink.reset(flagged)
      val e3 = engine(policy, window)
      val logDir = java.nio.file.Files.createTempDirectory("graft-cross-log").toString + "/log"
      val log = new graft.sources.GraftLog(logDir, spark.sparkContext.hadoopConfiguration)
      records.grouped(1 + Math.floorMod(seed, 4L).toInt).foreach(log.append)
      val tailCkpt = java.nio.file.Files.createTempDirectory("graft-cross-tail").toString
      var reattaches = 0
      var tailClean = false
      while (!tailClean && reattaches < 50) {
        val q = e3.streams.attach(spark.readStream.format("graft-log")
          .option("path", logDir).option("prefix", "s:").load().as[StreamRecord], tailCkpt)
        tailClean = try { q.processAllAvailable(); true }
          catch { case _: StreamingQueryException => reattaches += 1; false }
          finally q.stop()
      }
      val tail = outcome(e3)

      s"policy=$policy window=$window flagged=${flagged.toSeq.sorted}\n" +
        s"driver=$driver\nexecutor=$executor\ntail=$tail" |:
        (replays < 50 && clean && tailClean && driver == executor && driver == tail)
    }
    val result = check(Parameters.default.withMinSuccessfulTests(24), prop)
    assert(result.passed, result.status.toString)
  }
}
