package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Tables

/** Event-time streaming vs the batch-equivalent plan: the streaming
  * result in append mode must equal the batch aggregation restricted to
  * windows the final watermark (max ts - delay) closed. `window()` and
  * `session_window` evaluate identically in batch mode, so the ground
  * truth uses the same expressions without the streaming machinery. */
class EventTimeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().toSet[Row].map(_.toSeq)

  test("q38: streaming tumbling windows equal batch windows closed by the watermark") {
    val streaming = EventTime.qWatermarkTumbling(spark, sf)

    val ev = Tables.events(spark, sf)
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val batch = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count("*").as("n"), round(sum("value"), 2).as("sum_value"))
      .filter(col("window.end") <= lit(maxTs) - expr(s"INTERVAL ${EventTime.Delay}"))
      .select(unix_timestamp(col("window.start")).as("hour_ts"),
        col("event_type"), col("n"), col("sum_value"))

    val got = rows(streaming)
    assert(got.nonEmpty, "watermark closed no windows — delay too large for the data span?")
    assert(got == rows(batch))
  }

  test("q39: streaming session windows equal batch sessions closed by the watermark") {
    val streaming = EventTime.qSessionWindow(spark, sf)

    val ev = Tables.events(spark, sf)
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val batch = ev
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count("*").as("n_events"))
      .filter(col("session_window.end") <= lit(maxTs) - expr(s"INTERVAL ${EventTime.Delay}"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_sec"),
        col("n_events"))

    val got = rows(streaming)
    assert(got.nonEmpty)
    assert(got == rows(batch))
  }

  test("q51: streaming sliding windows equal batch sliding windows closed by the watermark") {
    val streaming = EventTime.qSlidingWindow(spark, sf)

    val ev = Tables.events(spark, sf)
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val batch = ev
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count("*").as("n"), round(sum("value"), 2).as("sum_value"))
      .filter(col("window.end") <= lit(maxTs) - expr(s"INTERVAL ${EventTime.Delay}"))
      .select(unix_timestamp(col("window.start")).as("win_ts"),
        col("event_type"), col("n"), col("sum_value"))

    val got = rows(streaming)
    assert(got.nonEmpty)
    assert(got == rows(batch))
    // each event belongs to duration/slide = 4 windows: the sliding form
    // must emit strictly more windows than the tumbling form
    assert(got.map(_.head).toSet.size >
      rows(EventTime.qWatermarkTumbling(spark, sf)).map(_.head).toSet.size)
  }

  test("a straggler for an already-finalized window is dropped, never double-fired") {
    import spark.implicits._
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    // three mtime-ordered replay files: batch 0 seeds windows 09–11
    // (watermark still 0); batch 1's 12:xx rows advance the watermark
    // to 12:29, which FINALIZES-and-evicts the 09/10/11 windows in
    // append mode; batch 2's 09:20 straggler then targets a window
    // whose result already fired — the one case append-mode semantics
    // REQUIRE a drop (accepting it could never be emitted again).
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
    val a = Seq((ts(9, 5), "x"), (ts(10, 5), "x"), (ts(10, 40), "x"),
      (ts(11, 10), "x"), (ts(11, 59), "x")).toDF("ts", "k")
    val b = Seq((ts(12, 10), "x"), (ts(12, 59), "x")).toDF("ts", "k")
    val c = Seq((ts(9, 20), "x")).toDF("ts", "k")
    a.coalesce(1).write.parquet(s"$dir/f1")
    b.coalesce(1).write.parquet(s"$dir/f2")
    c.coalesce(1).write.parquet(s"$dir/f3")
    new java.io.File(dir).listFiles().sortBy(_.getName).zipWithIndex
      .foreach { case (f, i) =>
        f.listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(_.setLastModified(1700000000000L + i * 60000L))
      }
    val stream = spark.readStream.schema(a.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count("*").as("n"))
      .select(unix_timestamp(col("window.start")).as("win_sec"), col("k"),
        col("n"))
    val name = "graft_late_" + java.util.UUID.randomUUID().toString
      .replace("-", "")
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-late-ck").toString)
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "replay must deliver the straggler after its window finalized")
    // the straggler contributed to NOTHING: 09:00 fired once with only
    // the on-time row, and no second 09:00 emission exists
    assert(rows(spark.table(name)) == Set(
      Seq(ts(9, 0).getTime / 1000, "x", 1L),
      Seq(ts(10, 0).getTime / 1000, "x", 2L),
      Seq(ts(11, 0).getTime / 1000, "x", 2L)))
    val dropped = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped >= 1, "the finalized-window straggler must be counted dropped")
  }

  test("q45 dedup state is bounded by the watermark, not by total key cardinality") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp

    val mem = MemoryStream[(Timestamp, String, String)]
    val deduped = mem.toDF().toDF("ts", "event_type", "user_id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_type", "user_id")
    val q = deduped.writeStream
      .format("memory")
      .queryName("graft_q45_state")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-q45-state").toString)
      .start()
    try {
      val perBatch = 100
      val batches = 6
      // each batch: a DISJOINT set of users, hours apart — so with plain
      // dropDuplicates the state store would grow by perBatch keys every
      // batch forever; within-watermark dedup must evict each batch's
      // keys once the watermark (next batch's hour - 10 min) passes them
      val sizes = (1 to batches).map { h =>
        mem.addData((0 until perBatch).map { u =>
          (new Timestamp(h * 3600L * 1000L), "click", s"u_${h}_$u")
        }: _*)
        q.processAllAvailable()
        q.recentProgress.flatMap(_.stateOperators).lastOption
          .map(_.numRowsTotal).getOrElse(0L)
      }
      val totalKeys = perBatch.toLong * batches
      assert(sizes.last < totalKeys,
        s"state grew to ${sizes.last} — unbounded (all $totalKeys keys retained)")
      assert(sizes.last <= 2L * perBatch,
        s"state ${sizes.last} exceeds one watermark horizon of keys ($perBatch per batch): $sizes")
    } finally q.stop()
  }

  test("q38 withholds open windows: streaming row count < unfiltered batch count") {
    val allWindows = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).agg(count("*"))
      .count()
    val emitted = EventTime.qWatermarkTumbling(spark, sf).count()
    assert(emitted < allWindows, "append mode must withhold windows the watermark has not closed")
  }

  test("q61: stream-stream join equals the batch equi+range join") {
    val streaming = EventTime.qStreamStreamJoin(spark, sf)
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val batch = clicks.join(purchases,
        col("c_user") === col("user_id") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 minutes"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_sec"))
    assert(rows(streaming) == rows(batch))
    assert(streaming.count() > 0, "test data should produce attributed pairs")
  }

  test("q70: stream-static join equals the batch join (stateless enrichment)") {
    val streaming = EventTime.qStreamStaticJoin(spark, sf)
    val batch = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"))
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("mktsegment")),
        Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("mktsegment"))
    assert(rows(streaming) == rows(batch))
    assert(streaming.count() > 0)
  }

  test("q68: left-outer join null-extends exactly the watermark-expired clicks") {
    val streaming = EventTime.qStreamStreamLeftOuter(spark, sf)
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val matched = clicks.join(purchases,
        col("c_user") === col("user_id") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 minutes"))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_sec"))
    val wm = clicks.agg(max("c_ts")).head().getTimestamp(0).getTime.min(
      purchases.agg(max("p_ts")).head().getTimestamp(0).getTime) - 30 * 60 * 1000
    val expired = clicks
      .join(matched.select("click_id"), Seq("click_id"), "left_anti")
      .filter(col("c_ts") + expr("INTERVAL 30 minutes") <
        lit(new java.sql.Timestamp(wm)))
      .select(col("click_id"), lit(null).cast("long").as("purchase_id"),
        col("c_user").as("user_id"), lit(null).cast("long").as("lag_sec"))
    assert(rows(streaming) == rows(matched.union(expired)))
    // the outer rows are a strict subset of all clicks: rows still
    // inside the watermark horizon were withheld, not dropped
    val nullRows = streaming.filter(col("purchase_id").isNull).count()
    assert(nullRows > 0 && nullRows < clicks.count())
  }

  test("q186: streaming Page-CUSUM recursion equals the batch drawdown identity") {
    val streaming = EventTime.qStreamingCusum(spark, sf)
    val batch = graft.operators.Stats.qPageCusum(spark, sf)
    assert(rows(streaming) == rows(batch))
    assert(streaming.count() > 0)
  }

  test("time-ordered splitter: files are disjoint (ts, event_id) ranges replayed low-to-high") {
    // the q200 tie contract, pinned on the actual split files instead
    // of assumed of the fixture: in mtime replay order, every file's
    // max (ts, event_id) must precede the next file's min — so a
    // same-ts tie can only straddle a batch boundary in event_id
    // order, and per-batch sorts compose to the global order
    val parts = 3
    val dir = EventTime.timeOrderedSplitDir(spark, sf, parts)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.lastModified())
    assert(files.length == parts)
    val bounds = files.map { f =>
      val rows = spark.read.parquet(f.getPath)
        .select(unix_micros(col("ts").cast("timestamp")).as("ts"), col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.nonEmpty, s"${f.getName} is empty")
      (rows.min, rows.max)
    }
    bounds.sliding(2).foreach {
      case Array((_, maxPrev), (minNext, _)) =>
        assert(Ordering[(Long, Long)].lt(maxPrev, minNext),
          s"file ranges overlap: $maxPrev !< $minNext")
      case _ =>
    }
  }

  test("time-ordered splitter: same-ts ties straddle file boundaries in event_id order") {
    // today's fixture has no microsecond-level ts ties, so the tie
    // contract is pinned on a crafted corpus that is ONE GIANT tie: 90
    // rows at a single timestamp force every file boundary to cut
    // through the tie group, and the split must order those cuts by
    // event_id — the exact regen-proofing VERDICT r8 #6 asked for
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-tie-events").toString
    (1L to 90L).map { id =>
      (id, new java.sql.Timestamp(1700000000000L), id % 7, "click", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val dir = EventTime.timeOrderedSplitDir(spark, tmp, 3)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.lastModified())
    assert(files.length == 3)
    val bounds = files.map { f =>
      val rows = spark.read.parquet(f.getPath)
        .select(unix_micros(col("ts").cast("timestamp")).as("ts"), col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.nonEmpty)
      (rows.min, rows.max)
    }
    bounds.sliding(2).foreach {
      case Array((_, maxPrev), (minNext, _)) =>
        assert(Ordering[(Long, Long)].lt(maxPrev, minNext),
          s"tie split out of (ts, event_id) order: $maxPrev !< $minNext")
      case _ =>
    }
    // every file holds part of the single tie group, so both
    // boundaries cut inside it — the disjointness assertion above was
    // exercised on tie cuts, not vacuously on distinct timestamps
    assert(bounds.forall { case ((tsLo, _), (tsHi, _)) => tsLo == tsHi })
  }

  test("q281: streamed exact percentile table equals the batch q268 timeline cell for cell") {
    // the TENTH bit-exact stream/batch parity — and the first over the
    // true value domain: the state algebra is exact counter addition
    // on (week, cents), so the weekly P50/P90 read off streamed state
    // after the full replay must EQUAL the batch computation, not
    // approximate it
    val streamed = graft.streaming.EventTime.qStreamingPercentile(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val batch = graft.operators.Stats.qPercentileTimeline(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(streamed == batch)
    assert(batch.size >= 6, s"degenerate timeline: ${batch.size} cells")
  }

  test("q45: streamed dedup equals the batch COUNT(DISTINCT user_id) per event_type") {
    val batch = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_distinct_users"))
    val got = rows(EventTime.qStreamingDedup(spark, sf))
    assert(got.nonEmpty)
    assert(got == rows(batch))
  }

  test("replayToTable leaves no sink view or checkpoint dir on success, failed check or throw") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ckptDirs: Set[String] = Option(tmp.listFiles()).toSet.flatten
      .map(_.getName).filter(_.startsWith("graft-et"))
    def sinkViews: Seq[String] = spark.catalog.listTables().collect().toSeq
      .map(_.name).filter(_.startsWith("graft_et_"))
    val before = ckptDirs

    assert(EventTime.qStreamingMoments(spark, sf).count() > 0)
    // the 3-file source replays as 3 data batches: 4 cannot be met
    val dir = EventTime.timeOrderedSplitDir(spark, sf, 3)
    def source = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val short = intercept[IllegalArgumentException] {
      EventTime.replayToTable(source.groupBy("event_type").count(), "complete", 4,
        "hygiene probe")()
    }
    assert(short.getMessage.contains("hygiene probe"), short.getMessage)
    intercept[Exception] {
      EventTime.replayToTable(source.select(expr("raise_error('probe failure')")),
        "append", 0, "failing probe")()
    }

    assert(sinkViews.isEmpty, s"leaked sink views: $sinkViews")
    val leaked = ckptDirs -- before
    assert(leaked.isEmpty, s"leaked checkpoint dirs: $leaked")
  }

  test("q133: the streaming funnel equals the q131 batch funnel") {
    val batch = rows(graft.operators.Relational.qFunnel(spark, sf))
    assert(rows(EventTime.qStreamingFunnel(spark, sf)) == batch)
    assert(batch.head.head.asInstanceOf[Long] > 0L)
  }

  test("q372: streamed transitions equal the batch LAG() rollup") {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy("ts", "event_id")
    val batch = Tables.events(spark, sf)
      .select(lag("event_type", 1).over(w).as("from_type"), col("event_type").as("to_type"))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val got = rows(EventTime.qStreamingTransitions(spark, sf))
    assert(got.nonEmpty)
    assert(got == rows(batch))
  }

  test("q374: streamed exact distinct users equal the batch COUNT(DISTINCT user_id)") {
    val batch = Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
    val got = rows(EventTime.qStreamingDistinctExact(spark, sf))
    assert(got.nonEmpty)
    assert(got == rows(batch))
  }
}
