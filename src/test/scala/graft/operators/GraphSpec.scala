package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** q163 co-purchase PageRank — the distributed integer power iteration
  * must equal a sequential driver-side reference EXACTLY (bit-level:
  * the whole iteration is integer arithmetic by design). */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("q163: distributed picorank equals the exact sequential reference") {
    // reference graph straight off the raw table
    val lp = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairW = lp.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).map { case (e, v) => e -> v.size.toLong }
    val out = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]]
      .withDefaultValue(Nil)
    pairW.foreach { case ((u, v), w) =>
      out(u) = (v, w) :: out(u); out(v) = (u, w) :: out(v)
    }
    val nodes = out.keys.toSeq.sorted
    val wdeg = nodes.map(u => u -> out(u).map(_._2).sum).toMap
    val n = nodes.length.toLong
    val init = 1000000000000L / n
    val base = 150000000000L / n
    var r = nodes.map(_ -> init).toMap
    for (_ <- 1 to 15) {
      val cin = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      nodes.foreach { u =>
        out(u).foreach { case (v, w) => cin(v) += (r(u) * w) / wdeg(u) }
      }
      r = nodes.map(u => u -> (base + 85L * cin(u) / 100L)).toMap
    }
    val wantTop = nodes.map(u => (u, r(u))).sortBy { case (u, rk) => (-rk, u) }
      .take(20)
      .map { case (u, rk) => (u, out(u).length.toLong, wdeg(u), rk) }

    val got = Graph.qCopurchaseRank(spark, sf).collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))
    assert(got.toSeq == wantTop)
    // sanity: mass is conserved up to deterministic truncation leakage
    val mass = r.values.sum
    assert(mass <= 1000000000000L && mass > 900000000000L)
  }

  test("q163: the broadcast boundary flips on config and both modes agree bit-exactly") {
    // r10 (VERDICT r9 #7): the once-documented hint boundary is code —
    // past rankBroadcastMaxNodes the hint drops and AQE plans the rank
    // join. Both modes must produce identical ranks.
    val hinted = Graph.qCopurchaseRank(spark, sf).collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))
    assert(Graph.lastRankBroadcast, "default node count should hint broadcast")
    spark.conf.set("spark.graft.graph.rankBroadcastMaxNodes", "0")
    try {
      val unhinted = Graph.qCopurchaseRank(spark, sf).collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))
      assert(!Graph.lastRankBroadcast, "maxNodes=0 must drop the hint")
      assert(unhinted.toSeq == hinted.toSeq)
    } finally spark.conf.unset("spark.graft.graph.rankBroadcastMaxNodes")
  }

  test("q166/q251: the unhinted adjacency joins and the hub fallback return the default rows") {
    def rows(df: => org.apache.spark.sql.DataFrame) = df.collect().toSeq
    def withZero(key: String)(body: => Unit): Unit = {
      spark.conf.set(key, "0")
      try body finally spark.conf.unset(key)
    }
    val triangles = rows(Graph.qTriangleCensus(spark, sf))
    val links = rows(Graph.qLinkPrediction(spark, sf))
    // a non-empty graph: an edge-count gate of 0 takes the unhinted joins,
    // a max-degree gate of 0 takes q251's window formulation
    assert(triangles.head.getLong(1) > 0 && links.nonEmpty)
    withZero("spark.graft.graph.adjBroadcastMaxEdges") {
      assert(rows(Graph.qTriangleCensus(spark, sf)) == triangles)
      assert(rows(Graph.qLinkPrediction(spark, sf)) == links)
    }
    withZero("spark.graft.graph.inrowAdjMaxDegree") {
      assert(rows(Graph.qLinkPrediction(spark, sf)) == links)
    }
  }

  test("q168/q169: degree histogram and assortativity match driver references") {
    val lp = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = lp.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.toSet
    val deg = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }

    val wantHist = deg.values.groupBy(d => 64 - java.lang.Long.numberOfLeadingZeros(d))
      .map { case (bits, ds) =>
        (1L << (bits - 1)) -> ((ds.size.toLong, ds.min, ds.max))
      }
    val gotHist = Graph.qDegreeHistogram(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotHist == wantHist)

    val xy = edges.toSeq.flatMap { case (u, v) =>
      Seq((deg(u), deg(v)), (deg(v), deg(u)))
    }
    val m = xy.length.toLong
    val sx = xy.map(_._1).map(BigInt(_)).sum
    val sxy = xy.map(p => BigInt(p._1) * p._2).sum
    val sxx = xy.map(p => BigInt(p._1) * p._1).sum
    // symmetric list: sy = sx, syy = sxx
    val vx = BigInt(m) * sxx - sx * sx
    val cov = BigInt(m) * sxy - sx * sx
    val want = new JBigDecimal(
      cov.toDouble / math.sqrt(vx.toDouble * vx.toDouble))
      .setScale(6, RoundingMode.HALF_UP).doubleValue()
    val row = Graph.qDegreeAssortativity(spark, sf).head()
    assert(row.getLong(0) == edges.size.toLong)
    assert(row.getDouble(1) == want)
  }

  test("q173: item-CF top pairs match a driver-side capped-vector cosine walk") {
    val lp = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairW = lp.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).map { case (e, v) => e -> v.size.toLong }
    val nbrs = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]]
      .withDefaultValue(Nil)
    pairW.foreach { case ((u, v), w) =>
      nbrs(u) = (v, w) :: nbrs(u); nbrs(v) = (u, w) :: nbrs(v)
    }
    val vec = nbrs.map { case (item, ns) =>
      item -> ns.sortBy { case (k, w) => (-w, k) }.take(32).toMap
    }
    val n2 = vec.map { case (i, m) => i -> m.values.map(w => w * w).sum }
    // inverted-list cap: per middle item k, the 64 strongest incidences
    val inv = vec.toSeq
      .flatMap { case (item, m) => m.map { case (k, w) => (k, item, w) } }
      .groupBy(_._1).map { case (k, es) =>
        k -> es.sortBy { case (_, item, w) => (-w, item) }.take(64)
          .map { case (_, item, w) => item -> w }.toMap
      }
    val capped = inv.toSeq
      .flatMap { case (k, m) => m.map { case (item, w) => item -> (k, w) } }
      .groupBy(_._1).map { case (item, es) => item -> es.map(_._2).toMap }
      .withDefaultValue(Map.empty[Long, Long])
    val items = vec.keys.toSeq.sorted
    val cands = for {
      u <- items; v <- items if u < v
      common = (capped(u).keySet & capped(v).keySet) if common.size >= 3
    } yield {
      val dot = common.toSeq.map(k => capped(u)(k) * capped(v)(k)).sum
      (u, v, common.size.toLong, dot, dot * dot * 1000000L / (n2(u) * n2(v)))
    }
    val want = cands.sortBy { case (u, v, _, _, c) => (-c, u, v) }.take(20)
    val got = Graph.qItemCf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == want)
  }

  test("q171: BFS hop distribution matches a driver-side frontier walk") {
    val lp = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    lp.groupBy(_._1).values.foreach { lines =>
      val parts = lines.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length) {
        adj(parts(i)) = adj(parts(i)) + parts(j)
        adj(parts(j)) = adj(parts(j)) + parts(i)
      }
    }
    val source = adj.toSeq.map { case (n, s0) => (n, s0.size.toLong) }
      .sortBy { case (n, dg) => (-dg, n) }.head._1
    val hops = scala.collection.mutable.Map(source -> 0)
    var frontier = Set(source)
    var h = 1
    while (h <= 8 && frontier.nonEmpty) {
      val next = frontier.flatMap(adj).filterNot(hops.contains)
      next.foreach(n => hops(n) = h)
      frontier = next
      h += 1
    }
    val want = hops.values.groupBy(identity)
      .map { case (hp, v) => hp -> v.size.toLong } ++
      Map(-1 -> (adj.size - hops.size).toLong)
    val got = Graph.qBfsHops(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.getOrElse(0, 0L) == 1L)
  }

  test("q166: triangle census matches a driver-side adjacency-set count") {
    val lp = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = lp.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.toSet
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u
    }
    val tri = edges.toSeq.map { case (u, v) =>
      (adj(u) & adj(v)).count(_ > v).toLong
    }.sum
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val row = Graph.qTriangleCensus(spark, TestSpark.sf).head()
    assert(row.getLong(0) == adj.size.toLong)
    assert(row.getLong(1) == edges.size.toLong)
    assert(row.getLong(2) == tri)
    assert(row.getLong(3) == wedges)
    assert(tri > 0 && wedges > 0)
  }

  /** Sequential Batagelj–Zaversnik peeling: repeatedly take a minimum-
    * degree node, assign core = max(k-so-far, its degree), remove it. */
  private def peelCores(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) = adj(u) + v; adj(v) = adj(v) + u }
    val cores = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val (v, nbrs) = adj.minBy { case (n, s) => (s.size, n) }
      k = math.max(k, nbrs.size.toLong)
      cores(v) = k
      adj.remove(v)
      nbrs.foreach(u => if (adj.contains(u)) adj(u) = adj(u) - v)
    }
    cores.toMap
  }

  test("q184: h-index fixpoint equals sequential peeling on the sf graph") {
    val lp = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = lp.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.toSet
    val want = peelCores(edges).groupBy(_._2)
      .map { case (c, g) => c -> g.size.toLong }
    val got = Graph.qKCore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.keys.max >= 2) // the sf graph must have a non-trivial core
  }

  test("q184: clique plus tail strata land exactly") {
    import spark.implicits._
    // 5-clique (core 4), a triangle hanging off it (core 2), and a
    // 3-node path tail (core 1)
    val clique = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val tri = Seq((5L, 10L), (10L, 11L), (5L, 11L))
    val tail = Seq((11L, 20L), (20L, 21L), (21L, 22L))
    val pairs = (clique ++ tri ++ tail).toDF("u", "v")
    val got = Graph.kCoreHistogram(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(4L -> 5L, 2L -> 2L, 1L -> 3L))
  }

  test("q251: link prediction equals a sequential capped-wedge recompute") {
    val lp = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = lp.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.toSet
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    edges.foreach { case (u, v) => adj(u) = v :: adj(u); adj(v) = u :: adj(v) }
    val deg = adj.map { case (u, ns) => u -> ns.length.toLong }
    // the operator's cap rule: per middle node, its 64 lowest-id neighbors
    val capped = adj.map { case (u, ns) => u -> ns.sorted.take(64) }
    val cn = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    capped.values.foreach { ns =>
      for (i <- ns.indices; j <- (i + 1) until ns.length)
        cn((ns(i), ns(j))) += 1
    }
    val want = cn.toSeq
      .filter { case ((a, b), c) => c >= 2 && !edges.contains((a, b)) }
      .map { case ((a, b), c) =>
        val j = c * 1000000L / (deg(a) + deg(b) - c)
        (a, b, c, deg(a), deg(b), j)
      }
      .sortBy { case (a, b, c, _, _, j) => (-j, -c, a, b) }
      .take(20)
    val got = Graph.qLinkPrediction(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
    // every predicted pair really is a non-edge at distance 2
    got.foreach { case (a, b, c, _, _, _) =>
      assert(!edges.contains((a, b)) && !edges.contains((b, a)))
      assert(c >= 2)
    }
  }

  test("q253: LPA communities equal the sequential synchronous reference") {
    val lp = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    // the operator's backbone rule: pairs sharing >= 2 orders.
    // (keySet, not collect-to-tuples: Map.collect over pair elements
    // would rebuild a MAP keyed by u and silently collapse the edges)
    val edges = lp.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).filter { case (_, v) => v.size >= 2 }.keySet
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    edges.foreach { case (u, v) => adj(u) = v :: adj(u); adj(v) = u :: adj(v) }
    var labels: Map[Long, Long] = adj.keys.map(u => u -> u).toMap
    for (_ <- 1 to 5) {
      labels = adj.map { case (u, ns) =>
        val votes = ns.map(labels).groupBy(identity)
          .map { case (l, v) => (l, v.size) }
        // plurality, ties to the MINIMUM label — the operator's rule
        val best = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        u -> best
      }.toMap
    }
    val comm = labels.values.groupBy(identity)
      .map { case (l, v) => l -> v.size.toLong }
    val top = comm.toSeq.sortBy { case (l, sz) => (-sz, l) }.take(10)
    val got = Graph.qLabelPropagation(spark, sf).collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(got.length == math.min(10, comm.size))
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Int]("rank") == i + 1)
      assert(r.getAs[Long]("community") == top(i)._1, s"rank ${i + 1} label")
      assert(r.getAs[Long]("size") == top(i)._2, s"rank ${i + 1} size")
      assert(r.getAs[Long]("n_communities") == comm.size.toLong)
      assert(r.getAs[Long]("n_nodes") == labels.size.toLong)
    }
  }

  test("q253: LPA separates two cliques joined by a bridge") {
    import spark.implicits._
    // two 5-cliques {1..5} and {10..14}, one bridge edge 5-10
    val c1 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val c2 = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val pairs = (c1 ++ c2 :+ (5L, 10L)).toDF("u", "v")
    val labels = Graph.labelPropagation(pairs, rounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique converges to its minimum member's label; the bridge
    // does not merge them (plurality inside each clique dominates)
    assert((1L to 5L).map(labels).toSet.size == 1, "clique 1 united")
    assert((10L to 14L).map(labels).toSet.size == 1, "clique 2 united")
    assert(labels(1L) != labels(10L), "cliques remain distinct")
  }
}
