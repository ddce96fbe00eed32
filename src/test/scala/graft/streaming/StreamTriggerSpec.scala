package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._
import graft.core.RespValue._

class StreamTriggerSpec extends AnyFunSuite {

  private def rec(stream: String, ms: Long, seq: Long = 0,
      kv: Map[String, String] = Map("k" -> "v")) =
    StreamRecord(stream, ms, seq, kv)

  test("prefix subscription and per-stream (ms,seq) ordering (R3/E1/E2)") {
    val e = new Engine(TestSpark.spark)
    val seen = ArrayBuffer.empty[String]
    e.load(LibraryDefinition("lib", code = { lib =>
      lib.registerStreamTrigger("t", "stream:", (_, r) => {
        seen += s"${r.stream}/${r.idString}"
      })
    }))
    // out-of-order input within the batch; one non-matching stream
    e.streams.processBatch(Seq(
      rec("stream:a", 2, 0), rec("stream:a", 1, 1), rec("stream:a", 1, 0),
      rec("other:x", 1, 0), rec("stream:b", 5, 0)))
    assert(seen.toSeq == Seq("stream:a/1-0", "stream:a/1-1", "stream:a/2-0", "stream:b/5-0"))
    e.close()
  }

  test("checkpoint dedup: replayed records are not redelivered (E4/E7)") {
    val e = new Engine(TestSpark.spark)
    var count = 0
    e.load(LibraryDefinition("lib", code = { lib =>
      lib.registerStreamTrigger("t", "s:", (_, _) => count += 1)
    }))
    e.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2)))
    // at-least-once replay: same records again plus one new
    e.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2), rec("s:1", 3)))
    assert(count == 3)
    val stats = e.list().head.streamTriggers.head
    assert(stats.streams("s:1").lastReadId == "3-0")
    assert(stats.streams("s:1").totalProcessed == 3)
    e.close()
  }

  test("failing callback nacks: checkpoint does not advance (E4)") {
    val e = new Engine(TestSpark.spark)
    var fail = true
    var processed = ArrayBuffer.empty[Long]
    e.load(LibraryDefinition("lib", code = { lib =>
      lib.registerStreamTrigger("t", "s:", (_, r) => {
        if (fail && r.idMs == 2) throw new RuntimeException("transient")
        processed += r.idMs
      })
    }))
    // Retry policy: the failed batch throws so foreachBatch will not
    // commit it; the checkpoint stays at the last acked record
    intercept[StreamDeliveryException] {
      e.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2)))
    }
    var st = e.list().head.streamTriggers.head.streams("s:1")
    assert(st.lastReadId == "1-0" && st.totalErrors == 1 && st.lastError.isDefined)
    // retry delivery (source replays unacked tail)
    fail = false
    e.streams.processBatch(Seq(rec("s:1", 2)))
    st = e.list().head.streamTriggers.head.streams("s:1")
    assert(st.lastReadId == "2-0")
    assert(processed.toSeq == Seq(1, 2))
    e.close()
  }

  test("trim watermark = slowest trimming consumer (E6)") {
    val e = new Engine(TestSpark.spark)
    e.load(LibraryDefinition("fast", code = { lib =>
      lib.registerStreamTrigger("t", "s:", (_, _) => (), isStreamTrimmed = true)
    }))
    var failAfter = 1L
    e.load(LibraryDefinition("slow", code = { lib =>
      lib.registerStreamTrigger("t", "s:", (_, r) => {
        if (r.idMs > failAfter) throw new RuntimeException("slow consumer down")
      }, isStreamTrimmed = true)
    }))
    intercept[StreamDeliveryException] {
      e.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2), rec("s:1", 3)))
    }
    // fast acked 3, slow acked only 1 → watermark 1
    assert(e.streams.trimWatermark("s:1").contains((1L, 0L)))
    assert(e.streams.trimWatermark("unknown").isEmpty)
    e.close()
  }

  test("upgrade preserves consumer checkpoints (E14)") {
    val e = new Engine(TestSpark.spark)
    var v2count = 0
    def lib(v: Int) = LibraryDefinition("lib", code = { b =>
      b.registerStreamTrigger("t", "s:", (_, _) => if (v == 2) v2count += 1)
    })
    e.load(lib(1))
    e.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2)))
    e.load(lib(2), replace = true)
    // replay from source start: only id 3 is new for the upgraded consumer
    e.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2), rec("s:1", 3)))
    assert(v2count == 1)
    e.close()
  }

  test("structured streaming attach: MemoryStream end-to-end (E5)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val e = new Engine(spark)
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerStreamTrigger("t", "s:", (ctx, r) => {
        ctx.incrBy(s"count:${r.stream}", 1)
        ()
      })
    }))
    val mem = MemoryStream[StreamRecord]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = e.streams.attach(mem.toDS(), ckpt)
    mem.addData(rec("s:1", 1), rec("s:1", 2), rec("s:2", 1))
    q.processAllAvailable()
    mem.addData(rec("s:1", 3))
    q.processAllAvailable()
    q.stop()
    assert(e.state.get("count:s:1").contains("3"))
    assert(e.state.get("count:s:2").contains("1"))
    e.close()
  }

  test("error policy Ack: poison record is skipped and checkpoint advances (E4 reference semantics)") {
    val e = new Engine(TestSpark.spark)
    val seen = ArrayBuffer.empty[Long]
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerStreamTrigger("t", "s:", (_, r) => {
        if (r.idMs == 2) throw new RuntimeException("poison")
        seen += r.idMs
      }, onError = ErrorPolicy.Ack)
    }))
    // no throw: the poison record is recorded in stats and skipped
    e.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2), rec("s:1", 3)))
    val st = e.list().head.streamTriggers.head.streams("s:1")
    assert(st.lastReadId == "3-0" && st.totalErrors == 1)
    assert(seen.toSeq == Seq(1, 3))
    // replay delivers nothing — the poison id is below the checkpoint
    e.streams.processBatch(Seq(rec("s:1", 2)))
    assert(seen.toSeq == Seq(1, 3))
    e.close()
  }

  test("restart-safe at-least-once: durable acks redeliver only unacked records (E5/E7)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dur").toString
    def mkEngine(failOn2: Boolean, seen: ArrayBuffer[Long]): Engine = {
      val e = new Engine(TestSpark.spark, checkpointDir = Some(dir))
      e.load(LibraryDefinition("lib", code = { b =>
        b.registerStreamTrigger("t", "s:", (_, r) => {
          if (failOn2 && r.idMs == 2) throw new RuntimeException("boom")
          seen += r.idMs
        })
      }))
      e
    }
    val seen1 = ArrayBuffer.empty[Long]
    val e1 = mkEngine(failOn2 = true, seen1)
    intercept[StreamDeliveryException] {
      e1.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2), rec("s:1", 3)))
    }
    // record 1 acked; 2 failed; 3 never attempted (stream halted)
    assert(seen1.toSeq == Seq(1))
    e1.close()

    // "restart": a brand-new engine seeded from the same checkpoint dir;
    // the source replays the uncommitted batch in full
    val seen2 = ArrayBuffer.empty[Long]
    val e2 = mkEngine(failOn2 = false, seen2)
    e2.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2), rec("s:1", 3)))
    // acked record 1 is NOT redelivered; unacked 2 and 3 are
    assert(seen2.toSeq == Seq(2, 3))
    assert(e2.list().head.streamTriggers.head.streams("s:1").lastReadId == "3-0")
    e2.close()
  }

  test("restart e2e: failed micro-batch replays from the streaming checkpoint (E5/E7)") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val engineCkpt = java.nio.file.Files.createTempDirectory("graft-dur-e2e").toString
    val queryCkpt = java.nio.file.Files.createTempDirectory("graft-q-ckpt").toString

    def mkEngine(fail: Boolean, seen: ArrayBuffer[Long]): Engine = {
      val e = new Engine(spark, checkpointDir = Some(engineCkpt))
      e.load(LibraryDefinition("lib", code = { b =>
        b.registerStreamTrigger("t", "s:", (_, r) => {
          if (fail && r.idMs == 2) throw new RuntimeException("boom")
          seen += r.idMs
        })
      }))
      e
    }
    // the MemoryStream instance survives the "crash" and replays the
    // uncommitted batch to the restarted query (same checkpoint dir)
    val mem = MemoryStream[StreamRecord]
    mem.addData(rec("s:1", 1), rec("s:1", 2), rec("s:1", 3))

    val seen1 = ArrayBuffer.empty[Long]
    val e1 = mkEngine(fail = true, seen1)
    val q1 = e1.streams.attach(mem.toDS(), queryCkpt)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(seen1.toSeq == Seq(1)) // batch failed after the first ack
    e1.close()

    val seen2 = ArrayBuffer.empty[Long]
    val e2 = mkEngine(fail = false, seen2)
    val q2 = e2.streams.attach(mem.toDS(), queryCkpt)
    q2.processAllAvailable()
    q2.stop()
    assert(seen2.toSeq == Seq(2, 3)) // replayed batch minus the durable ack
    e2.close()
  }

  test("upgrade drops triggers the new version does not re-register (E14)") {
    val e = new Engine(TestSpark.spark)
    val v1seen = ArrayBuffer.empty[String]
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerStreamTrigger("keep", "s:", (_, r) => v1seen += s"keep:${r.idMs}")
      b.registerStreamTrigger("gone", "s:", (_, r) => v1seen += s"gone:${r.idMs}")
    }))
    e.streams.processBatch(Seq(rec("s:1", 1)))
    assert(v1seen.sorted == Seq("gone:1", "keep:1"))

    // v2 re-registers only "keep"
    val v2seen = ArrayBuffer.empty[String]
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerStreamTrigger("keep", "s:", (_, r) => v2seen += s"keep:${r.idMs}")
    }), replace = true)
    e.streams.processBatch(Seq(rec("s:1", 2)))
    // the retired v1 "gone" callback must not fire (old bug: it kept firing)
    assert(v1seen.sorted == Seq("gone:1", "keep:1"))
    assert(v2seen.toSeq == Seq("keep:2")) // checkpoint adopted: id 1 not replayed
    assert(e.list().head.streamTriggers.map(_.trigger) == Seq("keep"))

    // a v3 that re-adds "gone" starts FRESH (checkpoints were purged)
    val v3seen = ArrayBuffer.empty[String]
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerStreamTrigger("keep", "s:", (_, _) => ())
      b.registerStreamTrigger("gone", "s:", (_, r) => v3seen += s"gone:${r.idMs}")
    }), replace = true)
    e.streams.processBatch(Seq(rec("s:1", 1), rec("s:1", 2)))
    assert(v3seen.toSeq == Seq("gone:1", "gone:2"))
    e.close()
  }

  test("window > 1: delivery continues past nacked records up to the window cap (E3)") {
    val e = new Engine(TestSpark.spark)
    val seen = ArrayBuffer.empty[Long]
    var failing = Set(2L, 4L)
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerStreamTrigger("t", "s:", (_, r) => {
        if (failing(r.idMs)) throw new RuntimeException(s"boom@${r.idMs}")
        seen += r.idMs
      }, window = 2)
    }))
    intercept[StreamDeliveryException] {
      e.streams.processBatch((1L to 6L).map(i => rec("s:1", i)))
    }
    // 1 acked; 2 nacked (1 in flight); 3 delivered-ahead; 4 nacked
    // (window full) → 5 and 6 NOT attempted
    assert(seen.toSeq == Seq(1, 3))
    var st = e.list().head.streamTriggers.head.streams("s:1")
    assert(st.lastReadId == "1-0") // checkpoint = contiguous acked prefix

    // replay: pending records retry even though the window is full;
    // delivered-ahead record 3 is NOT redelivered (exactly-once while up)
    failing = Set.empty
    e.streams.processBatch((1L to 6L).map(i => rec("s:1", i)))
    assert(seen.toSeq == Seq(1, 3, 2, 4, 5, 6))
    st = e.list().head.streamTriggers.head.streams("s:1")
    assert(st.lastReadId == "6-0")
    e.close()
  }

  test("trim action compacts the log up to the slowest trimming consumer (E6)") {
    val e = new Engine(TestSpark.spark)
    e.load(LibraryDefinition("fast", code = { b =>
      b.registerStreamTrigger("t", "s:", (_, _) => (), isStreamTrimmed = true)
    }))
    e.load(LibraryDefinition("slow", code = { b =>
      b.registerStreamTrigger("t", "s:", (_, r) => {
        if (r.idMs > 2) throw new RuntimeException("slow is behind")
      }, isStreamTrimmed = true)
    }))
    val records = (1L to 5L).map(i => rec("s:1", i)) ++
      (1L to 3L).map(i => rec("untracked:x", i))
    intercept[StreamDeliveryException](e.streams.processBatch(records))
    // fast acked 5, slow acked 2 → watermark 2
    assert(e.streams.trimWatermark("s:1").contains((2L, 0L)))

    val logDir = java.nio.file.Files.createTempDirectory("graft-log").toString + "/log"
    val log = new graft.sources.GraftLog(logDir, TestSpark.spark.sparkContext.hadoopConfiguration)
    log.append(records)
    val removed = e.streams.trimLog(log)
    assert(removed == 2) // s:1 ids 1,2 trimmed
    val left = log.readSegment(0).toSeq.sorted
    assert(left.filter(_.stream == "s:1").map(_.idMs) == Seq(3, 4, 5))
    // streams without a trimming consumer keep everything
    assert(left.count(_.stream == "untracked:x") == 3)
    e.close()
  }

  test("xadd synchronous ingest + engine function over trigger state") {
    val e = new Engine(TestSpark.spark)
    e.load(LibraryDefinition("counter", code = { b =>
      b.registerStreamTrigger("t", "ev:", (ctx, r) => {
        ctx.incrBy("num_events", 1)
        ()
      })
      b.registerFunction("num_events", (ctx, _) =>
        RespLong(ctx.get("num_events").map(_.toLong).getOrElse(0L)),
        flags = Set(FunctionFlags.NoWrites))
    }))
    e.streams.xadd("ev:1", 1, 0, Map("k" -> "v"))
    e.streams.xadd("ev:1", 2, 0, Map("k" -> "v"))
    e.streams.xadd("ev:2", 1, 0, Map("k" -> "v"))
    assert(e.call("counter", "num_events") == RespLong(3))
    e.close()
  }
}
