package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. A span has an id, a
  * parent id, a request id, a name whose first dot-separated part is
  * its layer, and start/end times on the `System.nanoTime` clock.
  * Spans are kept in per-thread primitive buffers and only written out
  * (and folded into the per-layer table) when the run ends. With
  * tracing off, every entry point returns after one volatile read. */
object Trace {
  @volatile var on: Boolean = false

  /** Parent marker: attach to the innermost container span (see
    * [[fold]]) whose interval covers this span. */
  val ByTime: Long = -1L
  val NoParent: Long = 0L

  private val ids = new AtomicLong(1)
  def newId(): Long = ids.getAndIncrement()

  private val nameIds = new ConcurrentHashMap[String, Integer]()
  private val names = new ConcurrentLinkedQueue[String]()
  private def nameId(n: String): Int = {
    val got = nameIds.get(n)
    if (got != null) got.intValue
    else synchronized {
      val again = nameIds.get(n)
      if (again != null) again.intValue
      else { val id = nameIds.size; nameIds.put(n, id); names.add(n); id }
    }
  }

  private final class Buf(val thread: String) {
    val id, parent, req, start, end = new LongBuf(1 << 12)
    val name = new LongBuf(1 << 12)
  }
  private val bufs = new ConcurrentLinkedQueue[Buf]()
  private val local = ThreadLocal.withInitial[Buf](() => {
    val b = new Buf(Thread.currentThread().getName); bufs.add(b); b
  })

  def record(id: Long, parent: Long, req: Long, name: String, start: Long, end: Long): Unit =
    if (on) {
      val b = local.get()
      b.id.add(id); b.parent.add(parent); b.req.add(req)
      b.name.add(nameId(name)); b.start.add(start); b.end.add(end)
    }

  /** Time `body` as one span; `body` receives the span's id so nested
    * calls can name it as their parent. */
  def span[A](name: String, parent: Long, req: Long)(body: Long => A): A =
    if (!on) body(NoParent)
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try body(id) finally record(id, parent, req, name, t0, System.nanoTime())
    }

  final case class Span(id: Long, parent: Long, req: Long, name: String,
      start: Long, end: Long, thread: String) {
    def layer: String = name.takeWhile(_ != '.')
    def dur: Long = end - start
  }

  def spans(): Seq[Span] = {
    val byId = names.asScala.toIndexedSeq
    bufs.asScala.toSeq.flatMap { b =>
      val id = b.id.toArray; val p = b.parent.toArray; val r = b.req.toArray
      val n = b.name.toArray; val s = b.start.toArray; val e = b.end.toArray
      id.indices.map(i => Span(id(i), p(i), r(i), byId(n(i).toInt), s(i), e(i), b.thread))
    }
  }

  /** Resolve [[ByTime]] parents against spans named in `containers`,
    * then compute each span's self time: its duration minus the union
    * of its children's intervals (clipped to it). Where children of one
    * parent overlap (concurrent Spark jobs), the overlap counts once,
    * toward the child that started first. */
  def fold(all: Seq[Span], containers: Set[String]): Seq[(Span, Long)] = {
    val boxes = all.filter(s => containers(s.name)).sortBy(_.start).toArray
    val resolved = all.map { s =>
      if (s.parent != ByTime) s
      else {
        val inner = boxes.iterator
          .filter(b => b.id != s.id && b.start <= s.start && s.end <= b.end)
          .minByOption(_.dur)
        s.copy(parent = inner.map(_.id).getOrElse(NoParent))
      }
    }
    val kids = resolved.groupBy(_.parent)
    def covered(s: Span): Long = Stats.covered(kids.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
    // the part of each child not already covered by an earlier sibling
    val exclusive = mutable.HashMap.empty[Long, Long]
    kids.foreach { case (parent, cs) =>
      if (parent != NoParent) {
        var end = Long.MinValue
        cs.sortBy(_.start).foreach { c =>
          exclusive(c.id) = math.max(0L, c.end - math.max(c.start, end))
          end = math.max(end, c.end)
        }
      }
    }
    resolved.map { s =>
      s -> math.max(0L, math.min(exclusive.getOrElse(s.id, s.dur), s.dur - covered(s)))
    }
  }

  /** Per-layer and per-span-name table: span count, total and self ms,
    * and p50/p99 span duration in microseconds. */
  def table(folded: Seq[(Span, Long)]): (Map[String, Map[String, Double]], Map[String, Map[String, Double]]) = {
    def row(xs: Seq[(Span, Long)]): Map[String, Double] = {
      val durs = xs.map(_._1.dur.toDouble).sorted
      Map("spans" -> xs.size.toDouble,
        "total_ms" -> xs.map(_._1.dur).sum / 1e6,
        "self_ms" -> xs.map(_._2).sum / 1e6,
        "p50_us" -> Stats.pct(durs, 50) / 1e3,
        "p99_us" -> Stats.pct(durs, 99) / 1e3)
    }
    (folded.groupBy(_._1.layer).map { case (k, v) => k -> row(v) },
      folded.groupBy(_._1.name).map { case (k, v) => k -> row(v) })
  }

  /** Write every span as one JSON line, times in microseconds from the
    * first span. */
  def dump(path: java.nio.file.Path, folded: Seq[(Span, Long)]): Unit = {
    val t0 = if (folded.isEmpty) 0L else folded.iterator.map(_._1.start).min
    val w = java.nio.file.Files.newBufferedWriter(path)
    try folded.sortBy(_._1.start).foreach { case (s, self) =>
      w.write(Json(mutable.LinkedHashMap(
        "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> (s.start - t0) / 1000,
        "end_us" -> (s.end - t0) / 1000, "self_us" -> self / 1000,
        "thread" -> s.thread)))
      w.newLine()
    } finally w.close()
  }

  /** Epoch-millis to the span clock, for events stamped by Spark. */
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def fromEpochMs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L
}
