package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

import graft.core.HadoopFiles

/** Exactly-once `foreachBatch` sink (E12): the reference replicates a
  * sync trigger's effects atomically as one MULTI/EXEC block
  * (`run_ctx.rs:43-59`); the Spark analogue is transactional batch
  * commits — each micro-batch's output becomes visible atomically and
  * a replayed batch id is a no-op, so foreachBatch's at-least-once
  * re-execution turns into exactly-once output.
  *
  * Protocol (the classic directory-commit pattern, same durability
  * shape as [[CheckpointStore]]):
  *  1. a replayed `batchId` that is already committed is SKIPPED
  *     (idempotence);
  *  2. output is written to `dir/_tmp-batch-<id>` and atomically
  *     renamed to `dir/batch-<id>` (visibility) — a batch directory
  *     therefore only ever appears fully written;
  *  3. an empty per-batch marker `dir/_commits/commit-<id>` is created
  *     (durability). Markers are never rewritten — one immutable file
  *     per batch — so no crash can lose previously committed ids (a
  *     single rewritten log file would vanish if a crash hit between
  *     its delete and rename, permanently hiding every batch from
  *     `read()` while the streaming checkpoint still considered them
  *     done).
  *
  * Recovery: a crash between 2 and 3 leaves a complete `batch-<id>`
  * directory with no marker; since the rename in step 2 is the real
  * visibility point, `committed()` also accepts a present batch
  * directory, and the replay's rename failure re-registers the marker.
  *
  * Readers see only renamed batch directories:
  * `spark.read.parquet(s"$dir/batch-*")`.
  */
final class TransactionalSink(dir: String, hadoopConf: Configuration) {
  private val root = new Path(dir)
  private val fs: FileSystem = root.getFileSystem(hadoopConf)
  fs.mkdirs(root)
  private val commitDir = new Path(root, "_commits")
  // migrate a legacy single-file commit log to per-batch markers
  locally {
    if (fs.exists(commitDir) && fs.getFileStatus(commitDir).isFile) {
      val ids = new String(HadoopFiles.readAll(fs, commitDir), UTF_8)
        .split('\n').filter(_.nonEmpty).map(_.toLong)
      fs.delete(commitDir, false)
      fs.mkdirs(commitDir)
      ids.foreach(id => fs.create(new Path(commitDir, s"commit-$id"), true).close())
    }
  }

  private val CommitName = """commit-(\d+)""".r
  private val BatchName = """batch-(\d+)""".r

  private def committed(): Set[Long] = {
    val markers =
      if (!fs.exists(commitDir)) Set.empty[Long]
      else fs.listStatus(commitDir).iterator.map(_.getPath.getName)
        .collect { case CommitName(id) => id.toLong }.toSet
    // recovery union: a batch-<id> directory only ever appears complete
    // (tmp + rename), so its presence alone proves the write finished
    // even if the crash hit before the marker landed
    val dirs = fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case BatchName(id) => id.toLong }.toSet
    markers ++ dirs
  }

  private def recordCommit(batchId: Long): Unit = {
    fs.mkdirs(commitDir)
    // content-free immutable marker; existence is the commit
    fs.create(new Path(commitDir, s"commit-$batchId"), true).close()
  }

  def batchDir(batchId: Long): String = new Path(root, s"batch-$batchId").toString

  /** The foreachBatch body: write `batch` (or any derived DataFrame via
    * `transform`) exactly once for this `batchId`. */
  def write(batch: DataFrame, batchId: Long,
      transform: DataFrame => DataFrame = identity): Unit = {
    if (committed().contains(batchId)) return // replayed batch: no-op
    val tmp = new Path(root, s"_tmp-batch-$batchId")
    fs.delete(tmp, true) // leftovers of a crashed attempt
    transform(batch).write.mode("overwrite").parquet(tmp.toString)
    val dst = new Path(batchDir(batchId))
    if (!fs.rename(tmp, dst)) {
      // dst already exists: a previous attempt crashed between rename
      // and commit-log append — adopt it
      if (!fs.exists(dst))
        throw new java.io.IOException(s"cannot commit batch $batchId to $dst")
      fs.delete(tmp, true)
    }
    recordCommit(batchId)
  }

  /** All atomically-committed output as one DataFrame. */
  def read(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val dirs = committed().toSeq.sorted.map(batchDir)
    if (dirs.isEmpty)
      spark.emptyDataFrame
    else
      spark.read.parquet(dirs: _*)
  }
}
