package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.util.SerializableConfiguration

import graft.core.{HadoopFiles, StreamRecord}

/** GraftLog: a durable, append-only log of [[StreamRecord]]s — the
  * engine's analogue of a Redis stream key space. `append` is the XADD
  * ingest path for driver-side callers; [[appendDistributed]] is the
  * scale path (executor tasks write the segment data in parallel, the
  * driver only sequences renames); the DSv2 source
  * ([[GraftLogDataSource]]) reads it as a Structured Streaming
  * micro-batch source with segment-count offsets; `compact` is the
  * XTRIM retention path driven by the trigger engine's
  * slowest-consumer watermarks.
  *
  * Layout: numbered JSON-lines segments (`seg-%010d.jsonl`) on any
  * Hadoop-visible filesystem, written tmp + rename so a reader never
  * observes a partial segment — the same durability shape as
  * [[graft.streaming.CheckpointStore]]. A segment is immutable once
  * renamed; offsets are therefore simply "number of segments", and a
  * micro-batch is a contiguous segment range. The source packs that
  * range into at most `defaultParallelism` contiguous sub-ranges, one
  * input partition each, so read parallelism follows the cluster's
  * cores rather than append granularity, and many small appends cost
  * one task per core instead of one task per segment.
  * Records carry the dual decoded/raw field views byte-exactly
  * (`fieldsRaw` base64-encoded in the JSON).
  *
  * Crash safety: compaction swaps segments through a `_compact-commit`
  * redo log: rewritten segments are fully staged first, then one
  * rename publishes the commit record, then the swaps are applied — [[recover]] drives a
  * crashed transaction to completion from the redo log at the next
  * append/compact, so no above-watermark record can be lost at any
  * crash point. Distributed appends stage per-task files under a
  * batch-unique `.staging-*` directory (invisible to readers); a crash
  * mid-publish leaves a prefix of the batch's segments committed and
  * the rest as inert staging — the same partial-ingest outcome as a
  * crash between two driver-side `append` calls. A reader can likewise
  * find a publish in progress part-way (see [[appendDistributed]] on
  * record order).
  *
  * Concurrency: one writer JVM per log directory (appends and
  * compaction serialize on the instance lock; segment numbering is
  * assigned under it). Concurrent readers — including executor-side
  * DSv2 partition readers — need no coordination: they only ever see
  * committed, immutable segments.
  */
final class GraftLog(val dir: String, hadoopConf: Configuration) extends Serializable {

  @transient private lazy val fs: FileSystem = new Path(dir).getFileSystem(hadoopConf)
  private val root = new Path(dir)

  private def segPath(i: Long): Path = new Path(root, f"seg-$i%010d.jsonl")
  private def tmpCompactPath(i: Long): Path = new Path(root, f".tmp-compact-$i%010d")
  private def commitPath: Path = new Path(root, "_compact-commit")

  /** Number of committed segments (= the latest stream offset). */
  def segmentCount: Long = {
    if (!fs.exists(root)) return 0L
    val Name = GraftLog.SegmentName
    fs.listStatus(root).iterator.map(_.getPath.getName)
      .collect { case Name(n) => n.toLong + 1 }
      .foldLeft(0L)(math.max)
  }

  /** Append one batch of records as a new immutable segment. Returns
    * the new segment count. Thread-safe per log instance. */
  def append(records: Seq[StreamRecord]): Long = synchronized {
    fs.mkdirs(root)
    recover()
    val next = segmentCount
    val tmp = new Path(root, f".tmp-seg-$next%010d")
    val out = fs.create(tmp, true)
    try records.foreach { r =>
      out.write(GraftLog.toJsonLine(r).getBytes(UTF_8))
      out.write('\n')
    } finally out.close()
    if (!fs.rename(tmp, segPath(next)))
      throw new java.io.IOException(s"concurrent append to $dir at segment $next")
    GraftLog.wake()
    next + 1
  }

  /** Distributed XADD ingest — the 100 TB path: each partition of `ds`
    * is written to an immutable staged file BY THE EXECUTOR THAT HOLDS
    * IT (tmp + rename inside a batch-unique staging dir), so the data
    * bytes never pass through the driver; the driver then assigns
    * contiguous segment numbers and publishes each staged file with one
    * metadata-only rename (ordered by partition id, so segment order is
    * deterministic). Only the per-partition (id, name, count) triples —
    * a few bytes each — are collected.
    *
    * Record order: segment order follows partition order of `ds`. The
    * trigger engine orders a stream's records across every segment one
    * read finds (a micro-batch, or a round of its driver-side tail), but
    * it skips a record at or below the stream's acked id. The segments
    * are published one rename at a time, so a reader can find only the
    * first of them; a stream whose ids do not ascend in partition order
    * then has its lower ids skipped when the rest arrive. Callers that
    * feed a stream trigger while it runs should give `ds` ascending ids
    * in partition order, e.g. with `orderBy("stream", "idMs", "idSeq")`.
    * Returns the new segment count. */
  def appendDistributed(ds: Dataset[StreamRecord]): Long = {
    require(!ds.isStreaming,
      "appendDistributed ingests a batch Dataset; for continuous ingest, " +
        "drive it from foreachBatch over the streaming source")
    val spark = ds.sparkSession
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val d = dir
    val batchId = java.util.UUID.randomUUID().toString
    import spark.implicits._
    val staged = ds.mapPartitions(GraftLog.stagePartition(d, conf, batchId) _).collect()
    synchronized {
      fs.mkdirs(root)
      recover()
      val stageDir = GraftLog.stageDirPath(root, batchId)
      var next = segmentCount
      try {
        staged.sortBy(_._1).foreach { case (_, name, _) =>
          if (!fs.rename(new Path(stageDir, name), segPath(next)))
            throw new java.io.IOException(s"concurrent append to $d at segment $next")
          next += 1
        }
      } finally {
        fs.delete(stageDir, true)
        GraftLog.wake()
      }
      next
    }
  }

  /** Whether segment `i` is committed. */
  def hasSegment(i: Long): Boolean = fs.exists(segPath(i))

  /** Read segment `i` — used by the DSv2 partition readers (one call
    * per segment of their range, executor-side), by the trigger
    * engine's driver-side tail and by tests. */
  def readSegment(i: Long): Iterator[StreamRecord] =
    new String(HadoopFiles.readAll(fs, segPath(i)), UTF_8)
      .linesIterator.filter(_.nonEmpty).map(GraftLog.fromJsonLine)

  /** E6 retention: rewrite the log, dropping every record at or below
    * its stream's watermark. Segment numbering is preserved (readers'
    * offsets stay valid); emptied records simply vanish from the
    * rewritten segments. Returns the number of records removed.
    *
    * Crash-safe: every changed segment is first fully staged as
    * `.tmp-compact-*`; a `_compact-commit` redo log (written tmp +
    * rename, so it only ever appears complete) then records the swaps;
    * [[recover]] replays them idempotently, so a crash at ANY point
    * either leaves the old segments fully intact (commit record never
    * published) or drives every swap to completion (commit record
    * present) — never the delete-then-rename hole the previous
    * implementation had, where a crash between the two lost a
    * segment's above-watermark records. */
  def compact(watermarks: Map[String, (Long, Long)]): Long = synchronized {
    recover()
    if (watermarks.isEmpty) return 0L
    var removed = 0L
    val swaps = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0L until segmentCount).foreach { i =>
      val all = readSegment(i).toSeq
      val kept = all.filter { r =>
        watermarks.get(r.stream) match {
          case Some((ms, seq)) =>
            r.idMs > ms || (r.idMs == ms && r.idSeq > seq)
          case None => true
        }
      }
      if (kept.size != all.size) {
        removed += all.size - kept.size
        val tmp = tmpCompactPath(i)
        val out = fs.create(tmp, true)
        try kept.foreach { r =>
          out.write(GraftLog.toJsonLine(r).getBytes(UTF_8))
          out.write('\n')
        } finally out.close()
        swaps += i
      }
    }
    if (swaps.isEmpty) return 0L
    // commit point: one rename publishes the whole swap set
    val commitTmp = new Path(root, "._compact-commit.tmp")
    val out = fs.create(commitTmp, true)
    try out.write(swaps.map(i => s"S\t$i\n").mkString.getBytes(UTF_8))
    finally out.close()
    fs.delete(commitPath, false)
    if (!fs.rename(commitTmp, commitPath))
      throw new java.io.IOException(s"cannot write compact commit for $dir")
    applyCommit()
    removed
  }

  /** Replay (or discard) an in-flight compaction transaction — safe to
    * call at any time; `append`/`appendDistributed`/`compact` run it
    * before touching the log. Before the commit record exists nothing
    * has happened (stale staging is discarded); after, the recorded
    * swaps are driven to completion. */
  def recover(): Unit = synchronized {
    if (!fs.exists(root)) return
    if (fs.exists(commitPath)) applyCommit()
    else {
      // uncommitted staging from a crashed compaction: old segments are
      // still fully intact, so the staging is garbage
      val Tmp = GraftLog.TmpCompactName
      fs.listStatus(root).iterator.map(_.getPath)
        .filter(p => Tmp.findFirstIn(p.getName).isDefined)
        .foreach(p => fs.delete(p, false))
    }
  }

  /** Apply the published swap set: for each recorded segment, replace
    * the old file with the staged rewrite. Idempotent at every step —
    * a swap whose staged file is gone has already been applied. */
  private def applyCommit(): Unit = {
    val body = new String(HadoopFiles.readAll(fs, commitPath), UTF_8)
    body.linesIterator.filter(_.nonEmpty).foreach { line =>
      line.split('\t') match {
        case Array("S", i) =>
          val (tmp, seg) = (tmpCompactPath(i.toLong), segPath(i.toLong))
          if (fs.exists(tmp)) {
            fs.delete(seg, false)
            if (!fs.rename(tmp, seg))
              throw new java.io.IOException(s"compact recovery: cannot swap $tmp -> $seg")
          } else if (!fs.exists(seg))
            throw new java.io.IOException(
              s"compact recovery: segment $seg lost with no staged replacement")
        case other =>
          throw new java.io.IOException(s"corrupt compact commit line: $line")
      }
    }
    fs.delete(commitPath, false)
  }
}

object GraftLog {
  private[sources] val SegmentName = """seg-(\d{10})\.jsonl""".r
  private[sources] val TmpCompactName = """^\.tmp-compact-\d{10}$""".r
  private val mapper = new ObjectMapper()

  // JVM-wide append signal: every committed append bumps the count and
  // wakes the driver-side tails waiting in `awaitAppend`
  private val appendSignal = new Object
  @volatile private var appendCount = 0L

  /** Appends committed in this JVM so far. A reader takes it BEFORE it
    * probes for new segments, so an append that lands after the probe
    * has already changed it and `awaitAppend` does not sleep. */
  private[graft] def appends: Long = appendCount

  /** Bump the append count and wake every waiting tail: after each
    * committed append, and by a tail that is stopping. */
  private[graft] def wake(): Unit = appendSignal.synchronized {
    appendCount += 1
    appendSignal.notifyAll()
  }

  /** Wait until the append count moves past `seen`, or `timeoutMs`
    * pass: the fallback that sees appends made by another JVM. */
  private[graft] def awaitAppend(seen: Long, timeoutMs: Long): Unit = appendSignal.synchronized {
    if (appendCount == seen) appendSignal.wait(timeoutMs)
  }

  private[sources] def stageDirPath(root: Path, batchId: String): Path =
    new Path(root, s".staging-$batchId")

  /** Executor-side stage writer for [[GraftLog.appendDistributed]]: one
    * immutable staged file per non-empty partition, tmp + rename.
    * Deliberately a companion function over plain serializable values —
    * the task closure must not capture a [[GraftLog]] instance (its
    * Hadoop `Configuration` is not serializable).
    *
    * The staged name carries the TASK ATTEMPT id: a retried or
    * speculative attempt writes its own file instead of colliding with
    * a failed predecessor's rename, and the driver publishes exactly
    * the file named by the attempt whose result `collect()` returned
    * (Spark reports one winner per partition); loser files vanish with
    * the staging dir. */
  private[sources] def stagePartition(dir: String, conf: SerializableConfiguration,
      batchId: String)(it: Iterator[StreamRecord]): Iterator[(Int, String, Long)] = {
    if (!it.hasNext) return Iterator.empty
    val tc = org.apache.spark.TaskContext.get()
    val pid = if (tc == null) 0 else tc.partitionId()
    val attempt = if (tc == null) 0L else tc.taskAttemptId()
    val stageDir = stageDirPath(new Path(dir), batchId)
    val fs = stageDir.getFileSystem(conf.value)
    fs.mkdirs(stageDir)
    val name = f"part-$pid%05d-$attempt%d.jsonl"
    val tmp = new Path(stageDir, s".tmp-$name")
    val out = fs.create(tmp, true)
    var n = 0L
    try it.foreach { r =>
      out.write(toJsonLine(r).getBytes(UTF_8))
      out.write('\n')
      n += 1
    } finally out.close()
    if (!fs.rename(tmp, new Path(stageDir, name)))
      throw new java.io.IOException(s"cannot stage $name under $stageDir")
    Iterator.single((pid, name, n))
  }

  private[sources] def toJsonLine(r: StreamRecord): String = {
    val node = mapper.createObjectNode()
    node.put("stream", r.stream)
    node.put("idMs", r.idMs)
    node.put("idSeq", r.idSeq)
    val f = node.putObject("fields")
    r.fields.toSeq.sortBy(_._1).foreach { case (k, v) => f.put(k, v) }
    if (r.fieldsRaw.nonEmpty) {
      val raw = node.putArray("fieldsRaw")
      r.fieldsRaw.foreach { case (k, v) =>
        val pair = raw.addArray()
        pair.add(java.util.Base64.getEncoder.encodeToString(k))
        pair.add(java.util.Base64.getEncoder.encodeToString(v))
      }
    }
    mapper.writeValueAsString(node)
  }

  private[sources] def fromJsonLine(line: String): StreamRecord = {
    val n = mapper.readTree(line)
    val fields = {
      val fnode = n.get("fields")
      val it = fnode.fieldNames()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val k = it.next(); b += k -> fnode.get(k).asText() }
      b.result()
    }
    val raw = Option(n.get("fieldsRaw")).map { arr =>
      (0 until arr.size()).map { i =>
        val pair = arr.get(i)
        (java.util.Base64.getDecoder.decode(pair.get(0).asText()),
          java.util.Base64.getDecoder.decode(pair.get(1).asText()))
      }
    }.getOrElse(Seq.empty)
    StreamRecord(n.get("stream").asText(), n.get("idMs").asLong(),
      n.get("idSeq").asLong(), fields, raw)
  }
}
