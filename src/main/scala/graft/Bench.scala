package graft

import org.apache.spark.sql.SparkSession

import graft.core.{Engine, LibraryDefinition, StreamRecord}

/** Benchmark main — driver contract: one JSON line on stdout with
  * per-query wall seconds over SPARK_GRAFT_SF_DIR. Times every
  * `SparkEntry.registry` entry whose tier is not `Untimed`, in registry
  * order; the `Headline` tier (the r1 baseline's 12 queries: scan/agg,
  * join, window, dedup and similarity paths) makes up the headline total. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JIT/codegen path once so measured numbers are steady-state
    SparkEntry.entry(spark).count()
    // Load canary (VERDICT r8 #2): re-time the same cheap pinned query
    // at suite start, middle, and end. A loaded host inflates the
    // canary the same way it inflates real queries, so a >2× spread
    // marks the whole run load-suspect IN-BAND — the three rounds of
    // driver-vs-quiet-box bench ambiguity become machine-readable.
    def canaryTime(): Option[Double] = median3 {
      SparkEntry.queries("q01_trigger_count")(spark, sfDir)
        .queryExecution.toRdd.foreach(_ => ())
    }
    canaryTime() // discarded: JIT/codegen warm-up of the canary path
    // itself, so canary0 measures the box, not compilation (an
    // unwarmed first sample read 2.2× on a QUIET box — exactly the
    // false positive the canary exists to rule out)
    val canary0 = canaryTime()
    val timed = SparkEntry.registry.filter(_.tier != Tier.Untimed).map { q =>
      // full materialization: toRdd.foreach evaluates every output
      // column of the optimized plan on the executors (count() would
      // let Catalyst prune every unreferenced projection). MEDIAN of 3
      // runs per query: single-shot numbers made round-over-round
      // wobbles unadjudicable (noise vs regression).
      q -> median3 {
        q.run(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      }
    }
    val results: Seq[(String, Option[Double])] = timed.map { case (q, t) => q.name -> t } :+ {
      // the q86 ENGINE path: xxhash64 window digests (8-byte shuffle
      // keys) — the gate query keeps md5 for DuckDB oracle bit-parity,
      // so the swap's measured win is tracked here as its own entry
      "q86_exact_substring_xx" -> median3 {
        graft.operators.Dedup.exactSubstringClean(
            graft.operators.Tables.documents(spark, sfDir),
            "doc_id", "text", 20, windowDigest = "xxhash64")
          .queryExecution.toRdd.foreach(_ => ())
      }
    }
    val canary1 = canaryTime() // middle: after the timed queries, before stream/engine
    val stream = streamBench(spark, sfDir)
    val engine = engineBench(spark)
    val canary2 = canaryTime()
    val canaries = Seq(canary0, canary1, canary2).flatten
    val canaryJson = canaries.map(v => f"$v%.3f").mkString("[", ",", "]")
    val loadSuspect = Bench.loadSuspectOpt(Seq(canary0, canary1, canary2))
    val loadSuspectJson = loadSuspect.map(_.toString).getOrElse("null")
    val qs = (results ++ stream ++ engine).map {
      case (k, Some(v)) => "\"" + k + f"""":$v%.3f"""
      case (k, None) => "\"" + k + "\":null" // failed query: never report a timing
    }.mkString("{", ",", "}")
    val total = timed.collect { case (q, Some(t)) if q.tier == Tier.Headline => t }.sum
    // second total beside the stable 12-query r1 headline: the full
    // timed relational/pipeline suite (every timed tier; stream/engine
    // microbenches excluded — they time ingest loops, not queries).
    // Round-over-round comparisons of THIS number must account for
    // query-count growth; `n_timed` rides along so that's mechanical.
    val fullSuite = results.flatMap(_._2).sum
    val nTimed = results.size
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec","value_full_suite":$fullSuite%.3f,"n_timed":$nTimed%d,"canary":$canaryJson%s,"load_suspect":$loadSuspectJson%s,"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // r13 (VERDICT r12 #2): the full contract line above outgrew the
    // driver's captured-output tail (~2.2 KB) around 8 KB of per-query
    // entries, so 12/12 rounds parsed as null and the canary /
    // load_suspect fields never reached a PERF artifact. Emit a SECOND,
    // compact totals line (same fields minus the per-query map) AFTER
    // the full line — it fits any tail capture. Additive only: the full
    // contract line and the bench_out.json self-persist are unchanged.
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","value_full_suite":$fullSuite%.3f,"n_timed":$nTimed%d,"canary":$canaryJson%s,"load_suspect":$loadSuspectJson%s,"sf":"$sfDir"}"""
    println(compact)
    // self-persist beside stdout (VERDICT r9 #5): the driver's bench
    // harness truncated the stdout tail in r8/r9 ("parsed": null), so
    // the canary fields never reached the artifact — the file copy is
    // the machine-readable record whatever the capture does
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist $outPath: $e") }
    spark.stop()
  }

  /** The load-canary verdict (VERDICT r8 #2): load vs warm-up have
    * opposite signatures — JIT/code-cache warm-up can only inflate the
    * FIRST sample (monotone decrease; measured 0.28/0.14/0.12 on a
    * quiet box even after one warm-up pass), while host load inflates
    * LATER samples. So only the post-start samples can raise the flag
    * (> 2× the minimum over all samples); BenchCanarySpec pins the
    * quiet/warm-up/mid-run-load/end-load shapes. */
  private[graft] def loadSuspect(canaries: Seq[Double]): Boolean =
    canaries.size >= 2 &&
      canaries.tail.max > 2.0 * math.max(canaries.min, 1e-9)

  /** Position-aware wrapper (ADVICE r9): the warm-up exemption belongs
    * to the FIRST canary only — if canary0 itself failed, a later
    * sample would silently inherit the exemption and a mid-run load
    * spike could hide. A missing canary0 (or no later sample at all)
    * makes the verdict INDETERMINATE (None → `"load_suspect": null`),
    * never a silent false. */
  private[graft] def loadSuspectOpt(samples: Seq[Option[Double]]): Option[Boolean] =
    samples match {
      case Some(_) +: later if later.flatten.nonEmpty =>
        Some(loadSuspect(samples.flatten))
      case _ => None
    }

  /** Median wall-seconds over 3 runs of `body`; None if any run fails
    * (a flaky query must never report a timing). */
  private def median3(body: => Unit): Option[Double] = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => None }
    }
    if (times.exists(_.isEmpty)) None
    else Some(times.flatten.sorted.apply(1))
  }

  /** Engine command-surface throughput, mirroring the reference's
    * remaining benchmark families (BASELINE.md): the fcall trio
    * (`rg_fcall_simple` = trivial sync call, `rg_fcall_redis_cmd` =
    * sync call wrapping a state read, `rg_fcall_async` = async call)
    * and the keyspace-notification pair (`rg_keyspace_baseline` = raw
    * SETs with no trigger vs `rg_keyspace_sync` = the same SETs firing
    * a sync trigger) — every trigger number paired with its no-trigger
    * baseline so the reported quantity is dispatch overhead, exactly
    * the reference's CI structure. N = 100k invocations per variant,
    * engine setup outside the timings, median of 3. */
  private def engineBench(spark: SparkSession, n: Int = 100000): Seq[(String, Option[Double])] = {
    import graft.core._
    import graft.core.RespValue._
    def bench(label: String)(setup: Engine => Unit)(op: (Engine, Int) => Unit): (String, Option[Double]) = {
      val e = new Engine(spark)
      try {
        setup(e)
        s"${label}_$n" -> median3 {
          var i = 0
          while (i < n) { op(e, i); i += 1 }
        }
      } finally e.close()
    }
    val counted = new java.util.concurrent.atomic.LongAdder
    Seq(
      bench("fcall_sync_simple") { e =>
        e.load(LibraryDefinition("b", code = _.registerFunction("one", (_, _) => RespLong(1))))
      } { (e, _) => e.call("b", "one") },
      bench("fcall_sync_state_cmd") { e =>
        e.state.set("k:1", "v")
        e.load(LibraryDefinition("b", code = _.registerFunction("rd", (ctx, _) =>
          ctx.get("k:1").map(RespString).getOrElse(RespNull))))
      } { (e, _) => e.call("b", "rd") },
      // async is PIPELINED (all n futures in flight, then drained) —
      // serial await would measure per-call latency where the
      // reference's memtier measures throughput under 32 connections
      {
        val e = new Engine(spark, executionThreads = 4)
        try {
          e.load(LibraryDefinition("b", code = _.registerAsyncFunction("aone", (_, _) => RespLong(1))))
          s"fcall_async_simple_$n" -> median3 {
            val fs = (0 until n).map(_ => e.callAsync("b", "aone"))
            fs.foreach(f => scala.concurrent.Await.result(f,
              scala.concurrent.duration.Duration(120, "s")))
          }
        } finally e.close()
      },
      bench("keyspace_set_baseline") { _ => () } { (e, i) => e.state.set(s"kv:$i", "v") },
      bench("keyspace_set_trigger") { e =>
        e.load(LibraryDefinition("b", code = _.registerKeySpaceTrigger("t", "kv:",
          (_, _) => { counted.increment(); () })))
      } { (e, i) => e.state.set(s"kv:$i", "v") })
  }

  /** Stream-trigger ingest bench, mirroring the reference's paired
    * workloads (`tests/benchmarks/rg_stream_baseline.yml` = ingest with
    * no trigger vs `rg_stream_process_empty_sync.yml` = empty-callback
    * trigger): the reported quantity is trigger overhead over raw
    * ingest of the same records. Three variants over the events table
    * as StreamRecords (stream key = user bucket, id = event sequence):
    * baseline (no consumers), driver-side delivery (chunked
    * toLocalIterator control plane), executor-side delivery
    * (flatMapGroups data plane, acks-only to driver). */
  private def streamBench(spark: SparkSession, sfDir: String): Seq[(String, Option[Double])] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val records = spark.read.parquet(s"$sfDir/events.parquet")
      .select(concat(lit("bench:"), pmod(col("user_id"), lit(64))).as("stream"),
        col("event_id").cast("long").as("idMs"), lit(0L).as("idSeq"),
        map(lit("t"), col("event_type")).as("fields"),
        array().cast("array<struct<_1:binary,_2:binary>>").as("fieldsRaw"))
      .as[StreamRecord]
      .cache()
    val n = records.count() // materialize the cache outside the timings
    // land the records once so the trigger variants read an identical
    // file stream (writeStream needs a streaming source)
    val srcDir = java.nio.file.Files.createTempDirectory("bench-stream-src").toString
    records.write.mode("overwrite").parquet(srcDir)
    def streamSrc = spark.readStream.schema(StreamRecord.schema)
      .parquet(srcDir).as[StreamRecord]

    // baseline: same shuffle+sort shape as the driver control plane, no
    // trigger attached — the reference's no-trigger ingest
    val baseline = median3 {
      records.repartition(col("stream"))
        .sortWithinPartitions("stream", "idMs", "idSeq")
        .queryExecution.toRdd.foreach(_ => ())
    }
    val driver = median3 {
      val e = new Engine(spark)
      e.load(LibraryDefinition("bench", code = { b =>
        b.registerStreamTrigger("t", "bench:", (_, _) => ())
      }))
      val ckpt = java.nio.file.Files.createTempDirectory("bench-drv").toString
      val q = e.streams.attach(streamSrc, ckpt)
      q.processAllAvailable(); q.stop(); e.close()
    }
    val dist = median3 {
      val e = new Engine(spark)
      e.load(LibraryDefinition("bench", code = { b =>
        b.registerStreamTrigger("t", "bench:", (_, _) => ())
      }))
      val ckpt = java.nio.file.Files.createTempDirectory("bench-dist").toString
      val q = e.streams.attachDistributed(streamSrc, ckpt, "bench", "t")(_ => ())
      q.processAllAvailable(); q.stop(); e.close()
    }
    // GraftLog XADD ingest pair (the reference's measured hot path,
    // `tests/benchmarks/rg_stream_baseline.yml`): driver-side
    // single-writer append vs executor-written distributed segments.
    // Same records, same segment granularity (32), so the number is the
    // write-path parallelism, not a format difference.
    val collected = records.collect() // outside the timed driver path
    val segments = 32
    val chunk = math.max(1, (collected.length + segments - 1) / segments)
    val logDriver = median3 {
      val dir = java.nio.file.Files.createTempDirectory("bench-glog-drv").toString + "/log"
      val log = new graft.sources.GraftLog(dir, spark.sparkContext.hadoopConfiguration)
      collected.grouped(chunk).foreach(c => log.append(c.toSeq))
    }
    val logDist = median3 {
      val dir = java.nio.file.Files.createTempDirectory("bench-glog-dist").toString + "/log"
      val log = new graft.sources.GraftLog(dir, spark.sparkContext.hadoopConfiguration)
      log.appendDistributed(records.repartition(segments))
    }
    records.unpersist()
    Seq(s"stream_ingest_baseline_${n}" -> baseline,
      "stream_trigger_driver" -> driver,
      "stream_trigger_distributed" -> dist,
      "graftlog_append_driver" -> logDriver,
      "graftlog_append_distributed" -> logDist)
  }
}
