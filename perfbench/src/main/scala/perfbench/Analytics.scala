package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** `analytics`: one client running `SparkEntry.queries` sequentially
  * over the read-only input tables in `perfbench/data`: short plans,
  * where planning and job scheduling dominate; one `EventTime` streaming
  * replay; and graph driver-round loops, many jobs per query. The
  * warm-up pass collects every result and checks its row count and
  * canonical digest against `perfbench/expected`, then runs the short
  * plans once more. The measured window
  * runs the short plans round-robin for `--seconds` (at least
  * [[MinRounds]] rounds), then the replay and graph queries once each
  * (~10 s on 4 cores); every execution fully materializes its plan
  * (`queryExecution.toRdd`) and checks its row count. */
object Analytics {
  val ShortPlans = Seq("q01_trigger_count", "q10_window_rank", "q18_pricing_summary",
    "q26_dedup_exact", "q28_dedup_simhash", "q32_knn_brute_force")
  /** Queries whose work is the `EventTime` streaming replay. */
  val Replay = Seq("q373_streaming_moments")
  val GraphRounds = Seq("q163_copurchase_rank", "q171_bfs_hops", "q253_label_propagation")
  val Queries: Seq[String] = ShortPlans ++ Replay ++ GraphRounds
  /** The short plans run round-robin for the whole window, and at least
    * this many times each; each query's time is its median execution. */
  val MinRounds = 3

  val Sf = "sf0.01"
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dataDir = Paths.get(sys.props("perfbench.data")).resolve(Sf).toString
    val expectedPath = Paths.get(sys.props("perfbench.expected")).resolve("analytics.json")
    val expected = readExpected(new String(Files.readAllBytes(expectedPath), "UTF-8"))
    val problems = mutable.ArrayBuffer.empty[String]

    // set-up: open every input table and read its schema
    val prepS = ctx.untraced {
      val t0 = System.nanoTime()
      Tables.foreach { t =>
        if (spark.read.parquet(s"$dataDir/$t.parquet").schema.isEmpty) problems += s"input table $t is empty"
      }
      Seq((System.nanoTime() - t0) / 1e9)
    }

    // warm-up: one collecting pass, checked against the expected digests.
    // The computed ones go to out/analytics-digests.json; when a change of
    // results is intended, copy that file to perfbench/expected by hand.
    val w0 = System.nanoTime()
    var attempted, failed = 0L
    val computed = mutable.LinkedHashMap.empty[String, (Long, String)]
    ctx.untraced(Queries.foreach { q =>
      val rows = SparkEntry.queries(q)(spark, dataDir).collect()
      val got = (rows.length.toLong, digest(rows))
      computed(q) = got
      attempted += 1
      if (!expected.get(q).contains(got)) {
        failed += 1
        problems += s"$q returned ${got._1} rows digest ${got._2}, expected ${expected.get(q)}"
      }
    })
    // a short plan's second execution still runs about twice as slow as
    // its later ones, so one more round of them belongs to the warm-up
    ctx.untraced(ShortPlans.foreach(q => materialize(SparkEntry.queries(q)(spark, dataDir))))
    val warmS = (System.nanoTime() - w0) / 1e9
    Files.write(ctx.outDir.resolve("analytics-digests.json"), (Json(computed.map { case (k, (n, d)) =>
      k -> mutable.LinkedHashMap("rows" -> n, "digest" -> d) }) + "\n").getBytes("UTF-8"))

    // the measured window
    val (gc0, gcn0) = Jvm.gc()
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def execute(q: String): Unit = {
      val layer = if (Replay.contains(q)) "replay" else "operators"
      val before = ctx.capture.map(_.snapshot().jobs)
      val t0 = System.nanoTime()
      val n = try Trace.span(s"$layer.$q", Trace.NoParent, attempted) { span =>
        if (span != Trace.NoParent)
          spark.sparkContext.setLocalProperty(SparkCapture.Prop, span.toString)
        try materialize(SparkEntry.queries(q)(spark, dataDir))
        finally spark.sparkContext.setLocalProperty(SparkCapture.Prop, null)
      } catch { case t: Throwable => problems += s"$q failed: $t"; -1L }
      val t1 = System.nanoTime()
      attempted += 1
      if (n < 0 || !expected.get(q).exists(_._1 == n)) {
        failed += 1
        if (n >= 0) problems += s"$q materialized $n rows, expected ${expected.get(q).map(_._1)}"
      }
      times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
      ctx.capture.foreach { c =>
        val after = c.snapshot()
        if (GraphRounds.contains(q)) {
          layers(s"q.$q.jobs") = (after.jobs - before.get).toDouble
          layers(s"q.$q.driver_share") = after.driverShare(t0, t1)
        }
      }
    }
    val m0 = System.nanoTime()
    var rounds = 0
    while (rounds < MinRounds || System.nanoTime() - m0 < ctx.seconds * 1000000000L) {
      ShortPlans.foreach(execute)
      rounds += 1
    }
    (Replay ++ GraphRounds).foreach(execute)
    val m1 = System.nanoTime()
    val (gc1, gcn1) = Jvm.gc()

    val perQuery = Queries.map(q => q -> Stats.median(times(q).toSeq)).toMap
    Queries.foreach(q => layers(s"q.$q.wall_s") = perQuery(q))
    layers("jvm.gc_ms") = (gc1 - gc0).toDouble
    layers("jvm.gc_count") = (gcn1 - gcn0).toDouble
    ctx.capture.foreach { c =>
      val t = c.snapshot()
      layers ++= t.layerMetrics
      layers("spark.driver_share") = t.driverShare(m0, m1)
    }
    val ms = perQuery.values.map(_ * 1000).toSeq
    Outcome(attempted, failed, problems.toSeq, prepS, warmS,
      throughput = Queries.size / perQuery.values.sum,
      p50Ms = Stats.median(ms), p99Ms = Stats.pct(ms, 99),
      layers = layers.toMap,
      info = Map("queries" -> Queries, "sf" -> Sf, "window_s" -> (m1 - m0) / 1e9,
        "short_plan_rounds" -> rounds, "suite_wall_s" -> perQuery.values.sum,
        "query_wall_s" -> perQuery, "query_runs_s" -> times.map { case (q, ts) => q -> ts.toSeq }))
  }

  /** Evaluate every output column of the optimized plan and count rows. */
  private def materialize(df: DataFrame): Long =
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.collect().sum

  /** Order-free digest of a result: each row rendered canonically
    * (doubles to 6 significant digits), rows sorted, SHA-256 of the
    * joined text, first 16 hex digits. */
  def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.6g"
      case f: Float => render(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case a: Array[Byte] => a.map(b => f"$b%02x").mkString
      case other => other.toString
    }
    val text = rows.map(render).sorted.mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  private def readExpected(json: String): Map[String, (Long, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val out = Map.newBuilder[String, (Long, String)]
    node.fieldNames().forEachRemaining { k =>
      val v = node.get(k)
      out += k -> (v.get("rows").asLong(), v.get("digest").asText())
    }
    out.result()
  }
}
