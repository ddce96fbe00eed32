package graft.streaming

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.HadoopFiles

/** Durable store for per-(consumer, stream) acked stream ids.
  *
  * The reference persists each stream consumer's `last_read_id` per
  * stream into RDB (`/root/reference/redisgears_core/src/rdb.rs:52-91`)
  * and replicates every ack (`lib.rs:454-465`) so a failover resumes
  * from the last acked record rather than redelivering or losing work.
  * This is the Spark-side analogue: a versioned metadata log on any
  * Hadoop-visible filesystem (local, HDFS, S3A…), following the shape
  * of Structured Streaming's own HDFSMetadataLog — write a temp file,
  * rename into place, read the highest version at load, keep a bounded
  * history.
  *
  * Payloads are one line per (consumer, stream) — a handful of bytes —
  * so rewriting the full map per micro-batch is cheap at any scale; the
  * cost is one small file create + rename per batch, identical to what
  * Structured Streaming already pays for its offset log.
  */
final class CheckpointStore(dir: String, hadoopConf: Configuration, keep: Int = 5) {
  private val root = new Path(dir)
  private val fs: FileSystem = root.getFileSystem(hadoopConf)
  fs.mkdirs(root)

  private val Name = """ckpt-(\d{20})""".r
  @volatile private var version: Long = listVersions().lastOption.getOrElse(-1L)

  private def listVersions(): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case Name(v) => v.toLong }
      .sorted

  private def file(v: Long): Path = new Path(root, f"ckpt-$v%020d")
  // stream keys are arbitrary strings; URL-encode so the line format
  // (tab-separated) stays unambiguous for any key content
  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  /** Atomically persist the full checkpoint map:
    * (consumerKey, stream) -> (idMs, idSeq). */
  def save(entries: Map[(String, String), (Long, Long)]): Unit = synchronized {
    val v = version + 1
    val tmp = new Path(root, f".tmp-ckpt-$v%020d")
    val out = fs.create(tmp, true)
    try {
      val body = entries.toSeq.sortBy { case ((c, s), _) => (c, s) }
        .map { case ((c, s), (ms, seq)) => s"${enc(c)}\t${enc(s)}\t$ms\t$seq" }
        .mkString("\n")
      out.write(body.getBytes(UTF_8))
    } finally out.close()
    if (!fs.rename(tmp, file(v)))
      throw new java.io.IOException(s"cannot publish checkpoint ${file(v)}")
    version = v
    listVersions().dropRight(keep).foreach(old => fs.delete(file(old), false))
  }

  /** Load the latest persisted checkpoint map (empty if none yet). */
  def load(): Map[(String, String), (Long, Long)] = synchronized {
    listVersions().lastOption match {
      case None => Map.empty
      case Some(v) =>
        new String(HadoopFiles.readAll(fs, file(v)), UTF_8).split('\n').iterator
          .filter(_.nonEmpty)
          .map { line =>
            val Array(c, s, ms, seq) = line.split('\t')
            (dec(c), dec(s)) -> (ms.toLong, seq.toLong)
          }
          .toMap
    }
  }
}
