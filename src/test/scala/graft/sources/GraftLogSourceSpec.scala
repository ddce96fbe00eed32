package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core._

/** The custom DSv2 micro-batch source: append-log round-trips
  * (including binary raw fields), executor-side prefix pushdown,
  * segment offsets + checkpoint resume, end-to-end delivery through the
  * trigger engine, and watermark-driven compaction. */
class GraftLogSourceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private def tmpDir(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def rec(stream: String, ms: Long, seq: Long = 0) =
    StreamRecord(stream, ms, seq, Map("k" -> s"v$ms"))

  private def newLog(dir: String) = new GraftLog(dir, spark.sparkContext.hadoopConfiguration)

  /** A record with `fieldsRaw` as byte sequences, so two records with
    * equal bytes compare equal. */
  private def bytewise(r: StreamRecord) =
    (r.stream, r.idMs, r.idSeq, r.fields, r.fieldsRaw.map { case (k, v) => (k.toSeq, v.toSeq) })

  /** Every record an `attach` over `dir` delivers to a consumer of
    * `prefix`, in delivery order, and the consumer's per-stream stats. */
  private def attachAll(dir: String, prefix: String)
      : (Seq[StreamRecord], Map[String, StreamConsumerStats]) = {
    import spark.implicits._
    val e = new Engine(spark)
    val seen = ArrayBuffer.empty[StreamRecord]
    e.load(LibraryDefinition("lib", code =
      _.registerStreamTrigger("t", prefix, (_, r) => seen += r)))
    val q = e.streams.attach(spark.readStream.format("graft-log")
      .option("path", dir).option("prefix", prefix).load().as[StreamRecord],
      tmpDir("glog-ckpt"))
    try q.processAllAvailable() finally q.stop()
    val stats = e.list().flatMap(_.streamTriggers).flatMap(_.streams).toMap
    e.close()
    (seen.toSeq, stats)
  }

  test("append/read round-trip preserves fields and binary raw pairs") {
    val dir = tmpDir("glog") + "/log"
    val log = newLog(dir)
    val junk = Array(0x00, 0x80, 0xFF, 0xE2).map(_.toByte)
    val r = StreamRecord.binary("s:1", 1, 0, Seq("k".getBytes("UTF-8") -> junk))
    val recs = Seq(r, rec("s:2", 2),
      StreamRecord("s:3", 3, 0, Map.empty),
      StreamRecord("s:ключ-鍵", 4, 1, Map("поле" -> "värde ✓ 値"),
        Seq("поле".getBytes("UTF-8") -> "värde ✓ 値".getBytes("UTF-8"))))
    log.append(recs)
    assert(log.segmentCount == 1)
    val back = log.readSegment(0).toSeq
    assert(back.size == 4)
    assert(r.fields.isEmpty && java.util.Arrays.equals(back.head.fieldsRaw.head._2, junk))
    assert(back(1) == rec("s:2", 2))
    assert(back.map(bytewise) == recs.map(bytewise))

    // the DSv2 reader's hand-built rows decode to the same records,
    // through a batch read and through a streaming attach
    import spark.implicits._
    val read = spark.read.format("graft-log").option("path", dir).load()
      .as[StreamRecord].collect().toSeq
    assert(read.map(bytewise).sortBy(_._2) == back.map(bytewise))
    val (delivered, _) = attachAll(dir, "s:")
    assert(delivered.map(bytewise).sortBy(_._2) == back.map(bytewise))
  }

  test("a segment longer than an Int can count fails its read instead of wrapping") {
    val dir = tmpDir("glog") + "/log"
    new java.io.File(dir).mkdirs()
    val seg = new java.io.File(dir, "seg-0000000000.jsonl")
    val line = GraftLog.toJsonLine(rec("s:1", 1)) + "\n"
    val f = new java.io.RandomAccessFile(seg, "rw")
    try {
      f.write(line.getBytes("UTF-8"))
      // sparse: 4 GiB + the first line's length, which truncates to an Int
      // that reads back just that first line
      f.setLength((4L << 30) + line.length)
    } finally f.close()
    try {
      val err = intercept[java.io.IOException](newLog(dir).readSegment(0).toList)
      assert(err.getMessage.contains("seg-0000000000.jsonl"))
    } finally seg.delete()
  }

  test("property: segment ranges cover the log once; batch reads and attach deliver it exactly") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    import spark.implicits._
    val streams = Seq("s:a", "s:b", "s:c", "x:a", "x:b")
    // per segment: the stream index of each record; only x: streams in
    // some, empty in others
    val genLog = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(List.empty[Int]),
      1 -> Gen.choose(0, 20).flatMap(Gen.listOfN(_, Gen.choose(3, 4))),
      4 -> Gen.choose(0, 20).flatMap(Gen.listOfN(_, Gen.choose(0, 4))))))
    val parallelism = spark.sparkContext.defaultParallelism
    // no shrinking: every step of it would be another Spark read and streaming query
    val prop = Prop.forAllNoShrink(genLog, Gen.long) { (segStreams, seed) =>
      // ids 1..n per stream, shuffled across that stream's slots
      val rnd = new scala.util.Random(seed)
      val ids = segStreams.flatten.groupBy(identity).map { case (s, slots) =>
        s -> rnd.shuffle((1L to slots.size.toLong).toList).iterator
      }
      val segs = segStreams.map(_.map(s => rec(streams(s), ids(s).next())))
      val dir = tmpDir("glog") + "/log"
      val log = newLog(dir)
      segs.foreach(log.append)
      val expected = segs.flatten.filter(_.stream.startsWith("s:"))

      val df = spark.read.format("graft-log").option("path", dir)
        .option("prefix", "s:").load()
      val ranges = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
      }.flatten.map(_.asInstanceOf[GraftLogPartition])
      val covered = ranges.sortBy(_.from).flatMap(p => p.from until p.until)
      val rows = df.as[StreamRecord].collect().toSeq

      val (delivered, stats) = attachAll(dir, "s:")
      val perStream = delivered.groupBy(_.stream)
      val maxIds = expected.groupBy(_.stream).map { case (s, rs) => s -> s"${rs.map(_.idMs).max}-0" }

      df.rdd.getNumPartitions <= parallelism && ranges.size <= parallelism &&
        covered == (0L until segs.size.toLong) &&
        rows.sorted == expected.sorted &&
        delivered.sorted == expected.sorted &&
        perStream.values.forall(rs => rs.map(_.idMs) == rs.map(_.idMs).sorted) &&
        stats.map { case (s, st) => s -> st.lastReadId } == maxIds
    }
    val result = check(Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("batch read via format(graft-log) with prefix pushdown") {
    val dir = tmpDir("glog") + "/log"
    val log = newLog(dir)
    log.append(Seq(rec("s:1", 1), rec("other:x", 1)))
    log.append(Seq(rec("s:1", 2)))
    import spark.implicits._
    val all = spark.read.format("graft-log").option("path", dir).load()
      .as[StreamRecord].collect().toSeq.sorted
    assert(all.map(_.stream) == Seq("other:x", "s:1", "s:1"))
    val pref = spark.read.format("graft-log").option("path", dir)
      .option("prefix", "s:").load().as[StreamRecord].collect().toSeq
    assert(pref.forall(_.stream.startsWith("s:")) && pref.size == 2)
  }

  test("streaming: trigger engine consumes the log incrementally; restart resumes at the committed segment") {
    val dir = tmpDir("glog") + "/log"
    val log = newLog(dir)
    val ckpt = tmpDir("glog-ckpt")
    log.append(Seq(rec("s:1", 1), rec("s:1", 2)))

    import spark.implicits._
    def src = spark.readStream.format("graft-log")
      .option("path", dir).option("prefix", "s:").load().as[StreamRecord]

    val e = new Engine(spark)
    val seen = ArrayBuffer.empty[Long]
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerStreamTrigger("t", "s:", (_, r) => seen += r.idMs)
    }))
    val q = e.streams.attach(src, ckpt)
    q.processAllAvailable()
    assert(seen.toSeq == Seq(1, 2))
    // appends while the query runs are picked up as new segments
    log.append(Seq(rec("s:1", 3), rec("other:y", 9))) // other: filtered at the source
    q.processAllAvailable()
    q.stop()
    assert(seen.toSeq == Seq(1, 2, 3))

    // restart from the same checkpoint: committed segments not re-read
    log.append(Seq(rec("s:1", 4)))
    val q2 = e.streams.attach(src, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(seen.toSeq == Seq(1, 2, 3, 4))
    e.close()
  }

  test("appendDistributed: executor-written segments, driver-sequenced, readable by the source") {
    val dir = tmpDir("glog") + "/log"
    val log = newLog(dir)
    import spark.implicits._
    val recs = (1L to 1000L).map(i => rec(s"s:${i % 7}", i))
    val n = log.appendDistributed(spark.createDataset(recs).repartition(8))
    assert(n == 8 && log.segmentCount == 8)
    val back = spark.read.format("graft-log").option("path", dir).load()
      .as[StreamRecord].collect().toSet
    assert(back == recs.toSet)
    // driver-side append interleaves cleanly with distributed batches
    log.append(Seq(rec("s:x", 9999)))
    assert(log.segmentCount == 9)
    val n2 = log.appendDistributed(spark.createDataset(Seq(rec("s:y", 10000))).repartition(3))
    assert(n2 == 10) // empty partitions stage nothing
    assert(spark.read.format("graft-log").option("path", dir).load().count() == 1002)
  }

  test("compact recovery: commit published but unapplied swaps replay to completion") {
    val dir = tmpDir("glog") + "/log"
    val log = newLog(dir)
    log.append((1L to 4L).map(i => rec("s:1", i)))
    log.append(Seq(rec("s:1", 5)))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(p: org.apache.hadoop.fs.Path, body: String): Unit = {
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    // crash state A: staged rewrite + published commit, swap not applied
    val kept = Seq(rec("s:1", 3), rec("s:1", 4))
      .map(GraftLog.toJsonLine).mkString("", "\n", "\n")
    write(new org.apache.hadoop.fs.Path(dir, ".tmp-compact-0000000000"), kept)
    write(new org.apache.hadoop.fs.Path(dir, "_compact-commit"), "S\t0\n")
    log.recover()
    assert(log.readSegment(0).map(_.idMs).toSeq == Seq(3, 4))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_compact-commit")))
    assert(log.readSegment(1).map(_.idMs).toSeq == Seq(5)) // untouched

    // crash state B: killed between delete(seg) and rename(tmp, seg) —
    // the exact hole the old delete-then-rename had
    write(new org.apache.hadoop.fs.Path(dir, ".tmp-compact-0000000000"),
      GraftLog.toJsonLine(rec("s:1", 4)) + "\n")
    write(new org.apache.hadoop.fs.Path(dir, "_compact-commit"), "S\t0\n")
    fs.delete(new org.apache.hadoop.fs.Path(dir, "seg-0000000000.jsonl"), false)
    log.recover()
    assert(log.readSegment(0).map(_.idMs).toSeq == Seq(4)) // nothing lost
    assert(log.segmentCount == 2)

    // crash state C: staging written but commit never published — old
    // segments intact, stale staging discarded
    write(new org.apache.hadoop.fs.Path(dir, ".tmp-compact-0000000001"), "")
    log.recover()
    assert(log.readSegment(1).map(_.idMs).toSeq == Seq(5))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".tmp-compact-0000000001")))
  }

  test("trimLog compacts below the slowest trimming consumer (E6 end-to-end)") {
    val dir = tmpDir("glog") + "/log"
    val log = newLog(dir)
    val e = new Engine(spark)
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerStreamTrigger("t", "s:", (_, _) => (), isStreamTrimmed = true)
    }))
    log.append((1L to 4L).map(i => rec("s:1", i)))
    e.streams.processBatch(log.readSegment(0).toSeq) // consumer acks all 4
    log.append(Seq(rec("s:1", 5))) // unconsumed tail
    val removed = e.streams.trimLog(log)
    assert(removed == 4)
    assert(log.readSegment(0).isEmpty && log.readSegment(1).map(_.idMs).toSeq == Seq(5))
    // segment numbering intact: a reader's offsets stay valid
    assert(log.segmentCount == 2)
    e.close()
  }

  test("event-time windows over the graft-log source match the batch log content") {
    val hour = 3600L * 1000
    val dir = tmpDir("glog") + "/log"
    val log = newLog(dir)
    // records across three hour-windows; the last record (at 2h35m)
    // sets the watermark to 2h05m: hour-0 and hour-1 windows close
    // (end <= watermark), the hour-2 window stays open
    log.append(Seq(
      rec("s:a", 0), rec("s:a", 10), rec("s:b", 20),
      rec("s:a", hour + 1), rec("s:b", hour + 2),
      rec("s:a", 2 * hour + 35 * 60 * 1000), rec("other:x", 5)))
    val name = "glw_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // default trigger (not AvailableNow): the watermark advances after
    // the data batch, and the no-data follow-up batch flushes the
    // closed windows; processAllAvailable covers both
    val q = graft.streaming.EventTime.graftLogWindows(spark, dir, "s:")
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", tmpDir("glw-ckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (0L, "s:a") -> 2L, (0L, "s:b") -> 1L,           // hour 0 closed
      (3600L, "s:a") -> 1L, (3600L, "s:b") -> 1L))    // hour 1 closed; hour 2 open
    // the "other:" stream was pruned by the source's prefix pushdown
    assert(!got.keys.exists(_._2.startsWith("other")))
  }
}
