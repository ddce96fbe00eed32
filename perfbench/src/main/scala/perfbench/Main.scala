package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    runDir: Path, outDir: Path, capture: Option[SparkCapture]) {
  /** Run set-up or warm-up work with tracing off, so a traced run's
    * spans and Spark counters cover only the measured phases. */
  def untraced[A](body: => A): A = {
    Trace.on = false
    try body finally { capture.foreach(_.reset()); Trace.on = trace }
  }

  def dir(name: String): String = {
    val d = runDir.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

/** What a workload reports. `prepS` holds one time per repetition of
  * its set-up (the median counts); `warmS` is its one warm-up. `throughput`, `p50Ms` and
  * `p99Ms` are its end-to-end figures; `layers` its per-layer ones
  * (filled in traced runs). `problems` lists every failed check. */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
    prepS: Seq[Double], warmS: Double, throughput: Double, p50Ms: Double, p99Ms: Double,
    layers: Map[String, Double], info: Map[String, Any],
    containers: Set[String] = Set.empty)

object Main {
  /** Every end-to-end metric with its unit, in the order printed. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "peak_rss_mb" -> "MB",
    "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms", "latency_p99_ms" -> "ms")

  val Layers: Seq[String] =
    Seq("core", "keyspace", "stream", "graftlog", "replay", "operators", "spark", "bench")

  /** Every per-layer metric with its unit, in the order printed. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.call_noop_p50_us" -> "us", "core.call_noop_p99_us" -> "us",
    "core.call_get_p50_us" -> "us", "core.call_get_p99_us" -> "us",
    "core.call_set_trig_p50_us" -> "us", "core.call_set_trig_p99_us" -> "us",
    "core.set_plain_p50_us" -> "us", "core.set_plain_p99_us" -> "us",
    "core.body_wait_p50_us" -> "us", "core.body_wait_p99_us" -> "us",
    "core.one_client_noop_us" -> "us",
    "core.async_p50_us" -> "us", "core.async_p99_us" -> "us",
    "core.async_queue_p50_us" -> "us", "core.async_queue_p99_us" -> "us",
    "keyspace.dispatch_p50_us" -> "us", "keyspace.fired_per_write" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
    "graftlog.append_p50_ms" -> "ms", "graftlog.append_p99_ms" -> "ms",
    "graftlog.scan_rec_per_s" -> "1/s",
    "stream.batches" -> "count", "stream.batch_rows_p50" -> "count",
    "stream.trigger_p50_ms" -> "ms", "stream.trigger_p99_ms" -> "ms",
    "stream.latest_offset_p50_ms" -> "ms", "stream.add_batch_p50_ms" -> "ms",
    "stream.wal_commit_p50_ms" -> "ms", "stream.callback_rec_per_s" -> "1/s",
    "stream.backlog_max_rec" -> "count", "gen.late_max_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio", "spark.driver_share" -> "ratio",
  ) ++ Layers.map(l => s"$l.self_share" -> "ratio") ++
    Analytics.Queries.map(q => s"q.$q.wall_s" -> "s") ++
    Analytics.GraphRounds.flatMap(q =>
      Seq(s"q.$q.jobs" -> "count", s"q.$q.driver_share" -> "ratio"))

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "engine_ops" -> EngineOps.run,
    "stream_xadd" -> StreamXadd.run,
    "analytics" -> Analytics.run)

  /** Exits the JVM either way, so threads a failed workload left
    * behind cannot keep it alive. */
  def main(argv: Array[String]): Unit = {
    val code = try { run(argv); 0 } catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val t0Ms = args("t0-ms").toLong
    val runDir = Paths.get(args("run-dir")).toAbsolutePath
    val outDir = Paths.get(args("out-dir")).toAbsolutePath
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    Files.createDirectories(outDir)

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() - t0Ms) / 1000.0

    Trace.on = trace
    val capture = if (trace) Some(new SparkCapture(spark.sparkContext)) else None
    val (cpu0, steal0) = Jvm.cpuTicks()
    val out = body(Ctx(spark, seed, seconds, trace, runDir, outDir, capture))
    val (cpu1, steal1) = Jvm.cpuTicks()
    val setupS = bootS + Stats.median(out.prepS) + out.warmS
    val e2e = Map("setup_s" -> setupS, "peak_rss_mb" -> Jvm.peakRssMb(),
      "throughput_per_s" -> out.throughput, "latency_p50_ms" -> out.p50Ms,
      "latency_p99_ms" -> out.p99Ms)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    val tables = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      val folded = Trace.fold(Trace.spans(), out.containers)
      val (byLayer, byName) = Trace.table(folded)
      val selfTotal = math.max(1e-9, byLayer.values.map(_("self_ms")).sum)
      PerLayer.foreach { case (k, _) => layers(k) = out.layers.getOrElse(k, 0.0) }
      Layers.foreach(l => layers(s"$l.self_share") =
        byLayer.get(l).map(_("self_ms") / selfTotal).getOrElse(0.0))
      Trace.dump(outDir.resolve(s"$workload-spans.jsonl"), folded)
      tables("by_layer") = byLayer
      tables("by_span") = byName
      capture.foreach(_.close())
    }

    val correct = out.problems.isEmpty && out.failed == 0
    val metrics = (if (trace) PerLayer else EndToEnd).map { case (k, u) =>
      val v = if (trace) layers(k) else e2e(k)
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      k -> Map("value" -> v, "unit" -> u)
    }
    val result = mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))
    val runRecord = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cpus, "spark_master" -> spark.sparkContext.master,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "source" -> args.getOrElse("source", "unknown"),
      "boot_s" -> bootS, "prep_s" -> out.prepS, "warm_s" -> out.warmS,
      // share of CPU time the hypervisor took away during the workload
      "cpu_steal_share" -> (steal1 - steal0).toDouble / math.max(1L, cpu1 - cpu0),
      "problems" -> out.problems.take(20)) ++ out.info
    val side = mutable.LinkedHashMap[String, Any]("record" -> runRecord, "e2e" -> e2e,
      "layers" -> layers, "tables" -> tables, "result" -> result)
    Files.write(outDir.resolve(s"$workload-trace${if (trace) 1 else 0}.json"),
      (Json(side) + "\n").getBytes("UTF-8"))
    spark.stop()
    println(Json(Map("run_record" -> runRecord)))
    println(Json(result))
  }
}
