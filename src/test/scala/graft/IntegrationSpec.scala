package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.core.RespValue._
import graft.sources.GraftLog
import graft.streaming.TransactionalSink

/** The whole engine in one pipeline: durable GraftLog ingest → the
  * graft-log DSv2 source → foreachBatch with a DISTRIBUTED data plane
  * (aggregation into an exactly-once transactional sink) and the
  * driver-side trigger control plane (state updates + callable
  * function) → watermark-driven log trim → a full restart that loses
  * no data and duplicates none. */
class IntegrationSpec extends AnyFunSuite {

  test("graft-log -> data plane + triggers -> transactional sink -> trim -> restart") {
    val spark = TestSpark.spark
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    val logDir = java.nio.file.Files.createTempDirectory("int-log").toString + "/log"
    val sinkDir = java.nio.file.Files.createTempDirectory("int-sink").toString + "/out"
    val engineCkpt = java.nio.file.Files.createTempDirectory("int-eckpt").toString
    val queryCkpt = java.nio.file.Files.createTempDirectory("int-qckpt").toString

    val log = new GraftLog(logDir, hc)
    val sink = new TransactionalSink(sinkDir, hc)

    def mkEngine(): Engine = {
      val e = new Engine(spark, checkpointDir = Some(engineCkpt))
      e.load(LibraryDefinition("pipe", code = { b =>
        b.registerStreamTrigger("count", "m:", (ctx, r) => {
          ctx.incrBy(s"n:${r.fields("kind")}", 1); ()
        }, isStreamTrimmed = true)
        b.registerFunction("total", (ctx, _) =>
          RespLong(ctx.scan("n:").map(k => ctx.get(k).get.toLong).sum),
          flags = Set(FunctionFlags.NoWrites))
      }))
      e
    }

    def attach(e: Engine) = {
      val src = spark.readStream.format("graft-log")
        .option("path", logDir).option("prefix", "m:").load().as[StreamRecord]
      e.streams.attach(src, queryCkpt, dataPlane = { (batch, batchId) =>
        // data plane: per-kind counts land exactly-once per batch,
        // keyed on Spark's replay-stable batch id
        val agg = batch.select(element_at(col("fields"), "kind").as("kind"))
          .groupBy("kind").count()
        sink.write(agg, batchId)
      })
    }

    // phase 1: distributed ingest (executor-written segments — the XADD
    // scale path), one query
    log.appendDistributed(spark.createDataset((1L to 10L).map(i =>
      StreamRecord("m:a", i, 0, Map("kind" -> (if (i % 2 == 0) "even" else "odd")))))
      .repartition(2).sortWithinPartitions("idMs"))
    val e1 = mkEngine()
    val q1 = attach(e1)
    q1.processAllAvailable()
    assert(e1.call("pipe", "total") == RespLong(10))
    // trim: everything acked is dropped from the log
    assert(e1.streams.trimLog(log) == 10)
    q1.stop()

    // RDB-save analogue: persist the keyspace before "shutdown"
    val stateDir = java.nio.file.Files.createTempDirectory("int-state").toString + "/state"
    e1.saveState(stateDir)

    // phase 2: restart everything from the same dirs; new data arrives
    log.append((11L to 15L).map(i => StreamRecord("m:a", i, 0, Map("kind" -> "late"))))
    val e2 = mkEngine()
    e2.loadState(stateDir)
    val q2 = attach(e2)
    q2.processAllAvailable()
    q2.stop()
    e1.close()
    // state restored (10) + the 5 new records; the 10 acked records
    // were NOT redelivered (else the total would exceed 15)
    assert(e2.call("pipe", "total") == RespLong(15))
    val trig = e2.list().head.streamTriggers.head.streams("m:a")
    assert(trig.lastReadId == "15-0")
    // the transactional sink holds each batch exactly once
    val sunk = sink.read(spark).groupBy("kind").agg(sum("count").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sunk == Map("even" -> 5L, "odd" -> 5L, "late" -> 5L))
    e2.close()
  }
}
