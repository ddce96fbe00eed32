package graft.operators

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Lineage-truncation switch for the driver-paced iterative operators
  * (PageRank/HITS/BFS/k-core/LPA/triangles in [[Graph]], the
  * alternating-star contraction in [[Dedup.connectedComponents]]).
  *
  * Default: `localCheckpoint()` — executor-local blocks, zero I/O to
  * shared storage, the right trade on a healthy cluster and in tests.
  * Its known weakness at 100 TB: blocks live only in executor storage,
  * so losing an executor mid-iteration kills the job (Spark cannot
  * recompute through a local checkpoint).
  *
  * With `spark.graft.reliableCheckpoint=true` every `cutLineage()`
  * becomes a RELIABLE `checkpoint()` to the SparkContext checkpoint
  * directory (set it to shared storage via
  * `spark.graft.checkpointDir`, or call `setCheckpointDir` yourself) —
  * a long graph iteration then survives executor loss at the cost of
  * one write+read of the node/edge-sized frame per round. The
  * logical plan either side of the cut is identical; only the
  * materialization medium changes (CheckpointModeSpec pins bit-equal
  * results across both modes).
  *
  * It also holds the graph loops' local strategy, [[EdgeBlocks]]: under
  * a node-count boundary their rounds skip DataFrame plans altogether.
  */
private[graft] object Iterate {
  /** Session-conf flag: reliable (HDFS-style) checkpoints instead of
    * executor-local ones. */
  val ReliableFlag = "spark.graft.reliableCheckpoint"
  /** Session-conf: checkpoint directory, applied lazily on first use
    * when the SparkContext has none set. */
  val DirKey = "spark.graft.checkpointDir"

  implicit final class CheckpointOps(private val df: DataFrame) extends AnyVal {
    /** Materialize `df` and truncate its lineage — local by default,
      * reliable under [[ReliableFlag]]. */
    def cutLineage(): DataFrame = {
      val spark = df.sparkSession
      if (spark.conf.get(ReliableFlag, "false").toBoolean) {
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          val dir = spark.conf.getOption(DirKey).getOrElse(throw new IllegalStateException(
            s"$ReliableFlag is set but neither a SparkContext checkpoint dir nor $DirKey is configured"))
          spark.sparkContext.setCheckpointDir(dir)
        }
        df.checkpoint()
      } else df.localCheckpoint()
    }
  }

  /** r12 OPTIMIZATION (guide §5, memory): release the storage blocks
    * behind a cutLineage'd frame that a NEWER round has superseded.
    * Without this every driver-paced loop leaked O(rounds) of
    * materialized round frames into executor storage until a JVM GC
    * happened to let the ContextCleaner find them — per-query noise at
    * sf0.1 (the graph family read 2–5× worse in-suite than fresh-JVM,
    * BENCH_NOTES r12 "suite-state amplification"), and at 100 TB
    * node-sized rounds × 50 k-core sweeps of storage debt. Callers
    * must release only frames no later lazy plan still reads; the
    * reliable-checkpoint mode keeps its files (unpersist drops only
    * the block-manager copy, through which a reliable checkpoint is
    * NOT read), so both modes stay correct (CheckpointModeSpec). */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Session conf: the node count up to which a graph loop keeps its
    * node state on the driver and runs on [[EdgeBlocks]]; past it the
    * loop runs distributed, one checkpointed frame per round. */
  val MaxNodesKey = "spark.graft.graph.rankBroadcastMaxNodes"

  /** One partition's edges in CSR form: `keys` ascending and distinct;
    * key `i`'s edges are positions `start(i) until start(i + 1)` of
    * `nbr` (the other endpoint) and of `w` (the weight; null when the
    * graph is unweighted). */
  final class EdgeBlock(val keys: Array[Long], val start: Array[Int],
      val nbr: Array[Long], val w: Array[Long]) extends Serializable {
    /** One value per key: `f(from, until)` over the key's edge range. */
    def perKey(f: (Int, Int) => Long): Array[Long] = {
      val out = new Array[Long](keys.length)
      var i = 0
      while (i < keys.length) { out(i) = f(start(i), start(i + 1)); i += 1 }
      out
    }
  }

  /** The local strategy of the graph loops in [[Graph]] (PageRank, BFS,
    * k-core, label propagation, HITS): the edge list packed once into
    * per-partition primitive [[EdgeBlock]]s, node state kept on the
    * driver.
    *
    * Packing: the edge columns are hash-partitioned on the key node
    * into `defaultParallelism` partitions and sorted within each. A
    * first job streams the sorted rows and counts key changes, holding
    * no arrays; keys are hash-partitioned, so the per-partition counts
    * add up to the exact node count. Only under the boundary does a
    * second job, reading the same shuffle output, build the blocks and
    * return the node ids (`ids`, ascending), degrees and weighted
    * degrees. The blocks are `persist`ed, not checkpointed: their
    * lineage (the edge plan and one exchange) is kept, so a lost
    * executor recomputes its blocks, where a `localCheckpoint` would
    * fail the loop. The caller `close`s them in a `finally`. A block
    * holds its partition's edges in in-heap arrays, so block memory
    * grows with the edges per partition; the boundary bounds nodes,
    * not edges.
    *
    * Boundary: [[pack]] returns `None` past
    * `spark.graft.graph.rankBroadcastMaxNodes` nodes (default 10M, 80 MB
    * per state array), having built no blocks; the caller then runs its
    * distributed loop.
    *
    * Round contract: [[round]] broadcasts the driver's node state (value
    * arrays aligned with `ids`; no boxed rows) and runs ONE single-stage
    * job over the persisted blocks — no shuffle, no Catalyst plan. Each
    * block folds its key nodes' edges, looking neighbours up by binary
    * search in the sorted ids, and returns one value per key; the
    * driver gets the values scattered back into `ids` order. A round
    * thus costs one job, where a DataFrame round costs planning, a
    * broadcast-build job, a shuffle-map job and a result job. Folds
    * keep the loops' SQL integer semantics bit for bit: Java `/` on
    * non-negative longs is SQL `div`, and `Math.addExact` /
    * `multiplyExact` raise where an ANSI `+` / `*` / `sum` would. */
  final class EdgeBlocks private (blocks: RDD[EdgeBlock], val ids: Array[Long],
      val deg: Array[Long], val wdeg: Array[Long], pos: Array[Array[Int]])
      extends AutoCloseable {
    def size: Int = ids.length

    /** One round: `fold(block, src.ids, state)` on every block, with
      * `state` broadcast; returns the per-key values in `ids` order. The
      * neighbours of this graph's keys are nodes of `src` (itself, or
      * the other side of a bipartite graph). */
    def round[S](state: S, src: EdgeBlocks = this)(
        fold: (EdgeBlock, Array[Long], S) => Array[Long]): Array[Long] = {
      val sc = blocks.sparkContext
      val b = sc.broadcast((src.ids, state))
      try {
        val parts = sc.runJob(blocks,
          (it: Iterator[EdgeBlock]) => fold(it.next(), b.value._1, b.value._2))
        val out = new Array[Long](size)
        for (p <- parts.indices; i <- parts(p).indices) out(pos(p)(i)) = parts(p)(i)
        out
      } finally b.destroy()
    }

    def close(): Unit = blocks.unpersist(blocking = false)
  }

  object EdgeBlocks {
    /** Index of `id` in the ascending `ids`. */
    @inline def at(ids: Array[Long], id: Long): Int = java.util.Arrays.binarySearch(ids, id)

    /** Pack `edges` — columns (key, neighbour) or (key, neighbour,
      * weight) — under the session's node boundary, or regardless of it
      * when `bounded` is false. `symmetric` adds every edge reversed, as
      * the undirected loops' `u ∪ reversed` union did. */
    def pack(edges: DataFrame, symmetric: Boolean,
        bounded: Boolean = true): Option[EdgeBlocks] = {
      val sc = edges.sparkSession.sparkContext
      val weighted = edges.columns.length == 3
      val cs = edges.columns.toSeq.map(c => col(c).cast("long").as(c))
      val directed = edges.select(cs: _*)
      val all = if (symmetric) directed.union(edges.select(cs(1) +: cs(0) +: cs.drop(2): _*))
        else directed
      // the exchange and sort run in Catalyst, on unsafe rows; both jobs
      // below read the one shuffle output
      val key = col(edges.columns(0))
      val sorted = all.repartition(sc.defaultParallelism, key).sortWithinPartitions(key)
        .queryExecution.toRdd
      val maxNodes = edges.sparkSession.conf.get(MaxNodesKey, "10000000").toLong
      if (bounded && sc.runJob(sorted, countKeys _).sum > maxNodes) None
      else {
        val blocks = sorted
          .mapPartitions(it => Iterator.single(build(it, weighted)), preservesPartitioning = true)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val parts = sc.runJob(blocks, (it: Iterator[EdgeBlock]) => {
          val b = it.next()
          (b.keys, b.perKey((from, until) => (until - from).toLong),
            if (b.w eq null) null else b.perKey { (from, until) =>
              var s = 0L
              for (e <- from until until) s = Math.addExact(s, b.w(e))
              s
            })
        })
        val ids = parts.flatMap(_._1)
        java.util.Arrays.sort(ids)
        val pos = parts.map(_._1.map(at(ids, _)))
        val deg = new Array[Long](ids.length)
        val wdeg = if (weighted) new Array[Long](ids.length) else deg
        for (p <- parts.indices; i <- pos(p).indices) {
          deg(pos(p)(i)) = parts(p)._2(i)
          if (weighted) wdeg(pos(p)(i)) = parts(p)._3(i)
        }
        Some(new EdgeBlocks(blocks, ids, deg, wdeg, pos))
      }
    }

    /** Distinct keys of one partition's key-sorted rows. */
    private def countKeys(it: Iterator[InternalRow]): Long = {
      var n = 0L
      var last = 0L
      it.foreach { r =>
        val u = r.getLong(0)
        if (n == 0 || u != last) { n += 1; last = u }
      }
      n
    }

    private def build(it: Iterator[InternalRow], weighted: Boolean): EdgeBlock = {
      val keys, nbr, w = ArrayBuilder.make[Long]
      val start = ArrayBuilder.make[Int]
      var e = 0
      var last = 0L
      it.foreach { r =>
        val u = r.getLong(0)
        if (e == 0 || u != last) { keys += u; start += e; last = u }
        nbr += r.getLong(1)
        if (weighted) w += r.getLong(2)
        e += 1
      }
      start += e
      new EdgeBlock(keys.result(), start.result(), nbr.result(), if (weighted) w.result() else null)
    }
  }
}
