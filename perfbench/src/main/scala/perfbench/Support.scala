package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** A growable buffer of longs (latency samples in nanoseconds), kept
  * per thread so recording never contends. */
final class LongBuf(initial: Int = 1 << 16) {
  private var a = new Array[Long](initial)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v
    n += 1
  }
  def size: Int = n
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}

object Stats {
  /** Sorted copy of every sample in `bufs`. */
  def merged(bufs: Iterable[LongBuf]): Array[Long] = {
    val out = bufs.iterator.flatMap(_.toArray.iterator).toArray
    java.util.Arrays.sort(out)
    out
  }

  /** Nearest-rank percentile of sorted samples; 0 for no samples. */
  def pct(sorted: Array[Long], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(p / 100.0 * sorted.length).toInt - 1))).toDouble

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }

  /** Length of the union of half-open intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { total += b - from; end = b }
    }
    total
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
  }
}

/** JVM-level readings: collector time and count, and high-water RSS. */
object Jvm {
  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  /** Host CPU ticks (all, steal) from `/proc/stat`, or zeros. */
  def cpuTicks(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val xs = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (xs.sum, if (xs.length > 7) xs(7) else 0L)
      } finally src.close()
    }
  }

  /** `VmHWM` of this process in MB (Linux), else heap committed. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    val hwm =
      if (!f.exists) None
      else {
        val src = scala.io.Source.fromFile(f)
        try src.getLines().find(_.startsWith("VmHWM:"))
          .map(_.split("\\s+")(1).toDouble / 1024.0)
        finally src.close()
      }
    hwm.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
  }
}

/** JSON text of maps, sequences and scalars (the result line, side files). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
