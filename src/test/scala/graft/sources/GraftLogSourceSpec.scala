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

  private def graftLogStream(dir: String, prefix: String = "s:") = {
    import spark.implicits._
    spark.readStream.format("graft-log")
      .option("path", dir).option("prefix", prefix).load().as[StreamRecord]
  }

  /** Whether the driver-side tail thread of `q` is running. */
  private def tailAlive(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == s"graft-log-tail-${q.runId}" && t.isAlive)
  }

  test("tail: appends through a second GraftLog, or by another writer, are delivered within a second") {
    val dir = tmpDir("glog") + "/log"
    newLog(dir).append(Seq(rec("s:1", 1)))
    val e = new Engine(spark)
    val seen = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
    e.load(LibraryDefinition("lib", code =
      _.registerStreamTrigger("t", "s:", (_, r) => seen.add(r.idMs))))
    val q = e.streams.attach(graftLogStream(dir), tmpDir("glog-ckpt"))
    def next(): Option[Long] =
      Option(seen.poll(1, java.util.concurrent.TimeUnit.SECONDS)).map(_.longValue)
    try {
      assert(next().contains(1L))
      assert(tailAlive(q) && q.recentProgress.isEmpty && q.lastProgress == null)
      // a second instance shares nothing with the first but the JVM
      newLog(dir).append(Seq(rec("s:1", 2), rec("other:x", 7)))
      assert(next().contains(2L))
      // a segment renamed into place by a writer outside this JVM's
      // append signal is found by the fallback poll
      val tmp = java.nio.file.Paths.get(dir, ".tmp-seg-0000000002")
      java.nio.file.Files.write(tmp, (GraftLog.toJsonLine(rec("s:1", 3)) + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "seg-0000000002.jsonl"))
      assert(next().contains(3L))
      assert(seen.isEmpty) // other: was dropped by the prefix
    } finally { q.stop(); e.close() }
  }

  test("tail: no tail thread outlives stop() or Engine.close()") {
    val dir = tmpDir("glog") + "/log"
    newLog(dir).append(Seq(rec("s:1", 1)))
    def engine() = {
      val e = new Engine(spark)
      e.load(LibraryDefinition("lib", code = _.registerStreamTrigger("t", "s:", (_, _) => ())))
      e
    }
    val e1 = engine()
    val q1 = e1.streams.attach(graftLogStream(dir), tmpDir("glog-ckpt"))
    q1.processAllAvailable()
    assert(q1.isActive && tailAlive(q1))
    q1.stop()
    assert(!q1.isActive && !tailAlive(q1) && q1.exception.isEmpty)
    e1.close()

    // Engine.close() with the query left running
    val e2 = engine()
    val q2 = e2.streams.attach(graftLogStream(dir), tmpDir("glog-ckpt"))
    q2.processAllAvailable()
    assert(q2.isActive && tailAlive(q2))
    e2.close()
    assert(!q2.isActive && !tailAlive(q2))
    assert(q2.awaitTermination(1000L))
  }

  test("tail: a Retry failure ends the query; a new engine resumes at the persisted offset") {
    val dir = tmpDir("glog") + "/log"
    val log = newLog(dir)
    val acks = tmpDir("glog-acks")
    val ckpt = tmpDir("glog-ckpt")
    @volatile var failOn = 3L
    def engine(seen: ArrayBuffer[Long]) = {
      val e = new Engine(spark, checkpointDir = Some(acks))
      e.load(LibraryDefinition("lib", code = _.registerStreamTrigger("t", "s:", (_, r) => {
        if (r.idMs == failOn) throw new RuntimeException(s"nack ${r.idMs}")
        seen += r.idMs
      })))
      e
    }
    log.append(Seq(rec("s:1", 1), rec("s:1", 2)))
    val seen1 = ArrayBuffer.empty[Long]
    val e1 = engine(seen1)
    val q1 = e1.streams.attach(graftLogStream(dir), ckpt)
    q1.processAllAvailable()
    assert(seen1.toSeq == Seq(1, 2))
    // segment 0 is delivered and its offset persisted: a canary on a
    // stream with no durable ack would be delivered if it were re-read
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "seg-0000000000.jsonl"), true)
    try out.write((GraftLog.toJsonLine(rec("s:canary", 1)) + "\n").getBytes("UTF-8"))
    finally out.close()

    log.append(Seq(rec("s:1", 3), rec("s:1", 4)))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.processAllAvailable())
    assert(err.getCause.isInstanceOf[StreamDeliveryException], err)
    assert(!q1.isActive && q1.exception.contains(err))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.awaitTermination())
    q1.stop()
    e1.close()
    assert(seen1.toSeq == Seq(1, 2)) // window 1: 4 waits behind the failed 3

    failOn = -1L
    val seen2 = ArrayBuffer.empty[Long]
    val e2 = engine(seen2)
    val q2 = e2.streams.attach(graftLogStream(dir), ckpt)
    try q2.processAllAvailable() finally { q2.stop(); e2.close() }
    assert(seen2.toSeq == Seq(3, 4)) // the unacked records, and no canary
  }

  test("tail: a round larger than a chunk, in segments whose ids interleave, delivers every record") {
    val dir = tmpDir("glog") + "/log"
    val log = newLog(dir)
    val n = graft.streaming.StreamTriggerEngine.ChunkSize + 2000L
    // one stream's odd ids in segment 0 and its even ids in segment 1,
    // each longer than a chunk: the ids do not ascend across segments
    log.append((1L to n).map(i => rec("s:a", 2 * i - 1)))
    log.append((1L to n).map(i => rec("s:a", 2 * i)))
    val e = new Engine(spark)
    val seen = ArrayBuffer.empty[Long]
    e.load(LibraryDefinition("lib", code =
      _.registerStreamTrigger("t", "s:", (_, r) => seen += r.idMs)))
    val q = e.streams.attach(graftLogStream(dir), tmpDir("glog-ckpt"))
    try {
      q.processAllAvailable()
      assert(seen.size == 2 * n && seen.toSeq == (1L to 2 * n))
      // a distributed append sorted as its scaladoc asks for delivers
      // whole while the tail runs, however much of it a round finds
      import spark.implicits._
      log.appendDistributed(spark.createDataset((2 * n + 1 to 4 * n).map(i => rec("s:a", i)))
        .repartition(3).orderBy("stream", "idMs", "idSeq"))
      q.processAllAvailable()
      assert(seen.size == 4 * n && seen.toSeq == (1L to 4 * n))
    } finally { q.stop(); e.close() }
  }

  test("tail: attaching again on a live checkpoint stops the running tail; the query id survives") {
    val dir = tmpDir("glog") + "/log"
    newLog(dir).append(Seq(rec("s:1", 1)))
    def engine() = {
      val e = new Engine(spark)
      e.load(LibraryDefinition("lib", code = _.registerStreamTrigger("t", "s:", (_, _) => ())))
      e
    }
    val ckpt = tmpDir("glog-ckpt")
    val (e1, e2) = (engine(), engine())
    val q1 = e1.streams.attach(graftLogStream(dir), ckpt)
    q1.processAllAvailable()
    val q2 = e2.streams.attach(graftLogStream(dir), ckpt)
    assert(!q1.isActive && !tailAlive(q1) && q1.exception.isEmpty)
    assert(q2.isActive && tailAlive(q2))
    assert(q2.id == q1.id && q2.runId != q1.runId)
    e2.close()
    e1.close()
    val e3 = engine()
    val q3 = e3.streams.attach(graftLogStream(dir), ckpt)
    val other = e3.streams.attach(graftLogStream(dir), tmpDir("glog-ckpt"))
    try assert(q3.id == q1.id && other.id != q1.id && q3.isActive && other.isActive)
    finally e3.close()
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

  test("a refused segment rename throws and leaves the committed segments intact") {
    val dir = tmpDir("glog-refuse") + "/log"
    newLog(dir).append(Seq(rec("s:1", 1)))
    val refusing = new GraftLog(dir, graft.RefusingRenameFileSystem.conf())
    val e = intercept[java.io.IOException](refusing.append(Seq(rec("s:1", 2))))
    assert(e.getMessage.contains(s"concurrent append to $dir at segment 1"), e.getMessage)
    val log = newLog(dir)
    assert(log.segmentCount == 1)
    assert(log.readSegment(0).map(_.idMs).toSeq == Seq(1L))
  }

  test("event-time windows over the graft-log source match the batch log content") {
    import org.apache.spark.sql.functions.{col, count, timestamp_millis, unix_timestamp, window}
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
    // idMs is the event time and the "s:" prefix is pushed into the
    // source's partition reader.
    // Default trigger (not AvailableNow): the watermark advances after
    // the data batch, and the no-data follow-up batch flushes the
    // closed windows; processAllAvailable covers both
    val q = spark.readStream.format("graft-log")
      .option("path", dir).option("prefix", "s:").load()
      .withColumn("ts", timestamp_millis(col("idMs")))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("stream"))
      .agg(count("*").as("n"))
      .select(unix_timestamp(col("window.start")).as("win_ts"),
        col("stream"), col("n"))
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
