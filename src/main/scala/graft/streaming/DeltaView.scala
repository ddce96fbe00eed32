package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** q224: STREAMING incremental view maintenance — the production shape
  * the reference's stream triggers exist for
  * (`redisgears_core/src/stream_reader.rs:299-453`: delivery loop →
  * user callback maintaining derived state), composed from two halves
  * this repo proved separately: q201's delta-join insert algebra
  * ((L∪ΔL)⋈(O∪ΔO) = L⋈O + ΔL⋈(O∪ΔO) + L⋈ΔO) and q206's retraction
  * subtraction (M' = M − agg(L⋈ΔD)).
  *
  * A 3-batch CDC replay interleaves order and lineitem INSERTS across
  * micro-batches (so both delta terms fire, including lines arriving
  * before their order — the algebra's inner joins defer them until the
  * order lands) and carries order DELETES in the final batch. Each
  * `foreachBatch` applies inserts first, then retractions, updating an
  * accumulated materialized revenue-by-priority view; maintenance cost
  * per batch is O(|Δ|) joins (ΔO/ΔD broadcast into the accumulated-L
  * probe), never O(|base|).
  *
  * The ORACLE recomputes the final view FROM SCRATCH (full join of all
  * lineitems against the surviving orders), so the gate hash proves a
  * ≥3-batch incremental maintenance run lands bit-exactly on the
  * direct recompute — the sixth stream/batch parity, and the first
  * over a maintained JOIN view rather than per-key state.
  *
  * Contract assumed (and true by construction of the replay): a CDC
  * stream never emits child inserts for a parent after the parent's
  * cascade delete. All view arithmetic is exact long sums
  * (rev ×1e4 — the q162/q201 integer-revenue discipline), so batch
  * boundaries and partial-agg orders cannot move the result.
  *
  * Scale shape: the accumulated sides are held here as
  * `localCheckpoint`ed DataFrames (the test device); production backs
  * them with the transactional-sink table (E12) or any ACID table —
  * the per-batch plan is identical: two delta-sized broadcast joins +
  * one delta-sized probe of the accumulated side, one view-sized merge. */
object DeltaView {

  private val replayDirs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  sys.addShutdownHook {
    replayDirs.values.foreach(dir => EventTime.deleteTree(new java.io.File(dir)))
  }

  private val Batches = 3

  /** The unified CDC change-log over (lineitem, orders), one parquet
    * file per micro-batch with ascending mtimes (the
    * eventsStreamTimeOrdered replay device): rows are
    * (tbl 'L'|'O', op 'i'|'d', okey, priority, rev).
    * Batch assignment: orders by `o_orderkey % 3`; lines by
    * `(l_orderkey + l_linenumber) % 3` — lines straddle their order's
    * batch on both sides. Deletes (orders with key%13=0 that arrived
    * in an earlier batch) ride the final batch. */
  private def changeLogDir(s: SparkSession, d: String): String =
    replayDirs.getOrElseUpdate((s, d), {
      val li = graft.operators.Tables.lineitem(s, d)
        .select(lit("L").as("tbl"), lit("i").as("op"),
          col("l_orderkey").as("okey"), lit(null: String).as("priority"),
          (expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)") *
            (lit(100L) - expr("CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)")))
            .as("rev"),
          ((col("l_orderkey") + col("l_linenumber")) % Batches).cast("int").as("b"))
      val ord = graft.operators.Tables.orders(s, d)
        .select(lit("O").as("tbl"), lit("i").as("op"),
          col("o_orderkey").as("okey"), col("o_orderpriority").as("priority"),
          lit(null: java.lang.Long).cast("long").as("rev"),
          (col("o_orderkey") % Batches).cast("int").as("b"))
      val dels = graft.operators.Tables.orders(s, d)
        .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % Batches =!= (Batches - 1))
        .select(lit("O").as("tbl"), lit("d").as("op"),
          col("o_orderkey").as("okey"), lit(null: String).as("priority"),
          lit(null: java.lang.Long).cast("long").as("rev"),
          lit(Batches - 1).as("b"))
      val all = li.unionByName(ord).unionByName(dels)
      val dir = Files.createTempDirectory("graft-deltaview").toString
      (0 until Batches).foreach { b =>
        val tmp = s"$dir/_stage$b"
        all.filter(col("b") === b).drop("b")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = Paths.get(dir, f"batch-$b%02d.parquet")
        Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(1000000000000L + b * 60000L)
        EventTime.deleteTree(new java.io.File(tmp))
      }
      dir
    })

  /** q224: run the 3-batch CDC replay through a foreachBatch
    * incremental materialized view and return the final view —
    * (o_orderpriority, rev_x1e4, n_lines). */
  def qStreamingView(s: SparkSession, d: String): DataFrame = {
    val dir = changeLogDir(s, d)
    val schema = s.read.parquet(s"$dir/batch-00.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

    import s.implicits._
    var lAcc = Seq.empty[(Long, Long)].toDF("okey", "rev")
    var oAcc = Seq.empty[(Long, String)].toDF("okey", "priority")
    var view = Seq.empty[(String, Long, Long)].toDF("priority", "rev", "n")

    def viewDelta(df: DataFrame, sign: Long): DataFrame =
      df.groupBy("priority")
        .agg((sum(col("rev")) * sign).as("rev"), (count(lit(1)) * sign).as("n"))

    val ckpt = Files.createTempDirectory("graft-dv-ckpt").toFile
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val dL = batch.filter(col("tbl") === "L" && col("op") === "i")
          .select(col("okey"), col("rev"))
        val dO = batch.filter(col("tbl") === "O" && col("op") === "i")
          .select(col("okey"), col("priority"))
        val dD = batch.filter(col("tbl") === "O" && col("op") === "d")
          .select(col("okey"))
        // inserts first: ΔL⋈(O∪ΔO) + L⋈ΔO (both delta-sized; the small
        // deltas broadcast into the accumulated-side probes)
        val oAfter = oAcc.unionByName(dO).localCheckpoint()
        val t1 = dL.join(oAfter, Seq("okey")).select(col("priority"), col("rev"))
        val t2 = lAcc.join(broadcast(dO), Seq("okey"))
          .select(col("priority"), col("rev"))
        val lAfter = lAcc.unionByName(dL).localCheckpoint()
        // then retractions: subtract agg(L⋈ΔD) — q206's term, priority
        // resolved through the post-insert order state
        val t3 = lAfter.join(broadcast(dD), Seq("okey"))
          .join(oAfter, Seq("okey")).select(col("priority"), col("rev"))
        val delta = viewDelta(t1, 1L).unionByName(viewDelta(t2, 1L))
          .unionByName(viewDelta(t3, -1L))
        view = view.unionByName(delta)
          .groupBy("priority")
          .agg(sum(col("rev")).as("rev"), sum(col("n")).as("n"))
          .localCheckpoint()
        lAcc = lAfter.join(broadcast(dD), Seq("okey"), "left_anti")
          .localCheckpoint()
        oAcc = oAfter.join(broadcast(dD), Seq("okey"), "left_anti")
          .localCheckpoint()
      }
      .start()
    try q.awaitTermination() finally EventTime.deleteTree(ckpt)
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches >= Batches,
      s"q224 must exercise ≥$Batches-batch maintenance, saw $dataBatches")
    view.filter(col("n") > 0)
      .select(col("priority").as("o_orderpriority"),
        col("rev").as("rev_x1e4"), col("n").as("n_lines"))
  }
}
