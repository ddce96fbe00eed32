package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Using

import graft.operators.Iterate.{CheckpointOps, EdgeBlock, EdgeBlocks}

/** Iterative graph analytics over relationship structures the relational
  * operators only touch pairwise — the engine family the reference
  * reaches through user-scripted multi-pass stream jobs, built here as
  * driver-paced iterative DataFrame plans (the q57 star-contraction
  * discipline: equi-shuffle rounds, `localCheckpoint` lineage
  * truncation, bounded driver state).
  */
object Graph {

  import Tables._

  /** q163: co-purchase PageRank — importance ranking of parts over the
    * "bought in the same order" graph (edge weight = number of shared
    * orders), the canonical recommendation/centrality primitive
    * (Brin & Page 1998; weighted variant). Random-surfer model with
    * damping d = 0.85 over the undirected weighted projection of the
    * order–part bipartite graph.
    *
    * Determinism at the bit level: ranks are integer PICORANKS (1e12 =
    * total initial mass). Each edge's contribution is the integer
    * `(r·w) div W(u)` (truncating division — identical everywhere),
    * per-node sums are exact long addition (order-invariant), and the
    * damping mix is `base + (85·Σ) div 100`. No float enters the
    * iteration, so the distributed result equals a sequential
    * reference EXACTLY (GraphSpec) — the same
    * no-transcendentals-in-the-ranking rule as q153/q151. Truncation
    * leaks ≤1 pico per in-edge per round — deterministic, and
    * irrelevant at rank scale.
    *
    * Scale shape: pair generation is an l_orderkey equi-self-join with
    * per-order fanout ≤ lines²  (TPC-H ≤ 7 lines/order ⇒ ≤ 21 pairs —
    * bounded, no blow-up). Under `rankBroadcastMaxNodes` the ranks live
    * on the driver and each round is one job over the edge blocks
    * ([[Iterate.EdgeBlocks]]); past it each iteration is ONE edge⋈rank
    * equi-join + a destination-keyed partial-agg sum — the textbook
    * distributed power iteration, `localCheckpoint` per round so
    * lineage stays flat. Either way the edge table never materializes
    * on the driver. */
  def qCopurchaseRank(s: SparkSession, d: String, iters: Int = 15,
      topK: Int = 20): DataFrame = {
    val pairs = orderPartPairs(s, d)
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
    val ranked = EdgeBlocks.pack(pairs, symmetric = true) match {
      case Some(g) =>
        lastRankBroadcast = true
        Using.resource(g)(rankLocal(s, _, iters))
      case None =>
        lastRankBroadcast = false
        val edges = pairs
          .union(pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
          .cutLineage()
        val wdeg = edges.groupBy("u")
          .agg(sum("w").as("wdeg"), count(lit(1)).as("deg"))
          .cutLineage()
        val n = wdeg.count()
        val init = 1000000000000L / n
        val base = 150000000000L / n // (1−d)·mass, d = 0.85
        // fold the out-weight onto the edges ONCE — the loop then never
        // shuffles the (big) edge table: the only per-round shuffle is
        // the destination-keyed partial-agg of contributions.
        val edgesW = edges.join(wdeg.select(col("u"), col("wdeg")), Seq("u"))
          .select(col("u"), col("v"), col("w"), col("wdeg"))
          .cutLineage()
        var ranks = wdeg.select(col("u"), lit(init).as("r"))
        for (_ <- 1 to iters) {
          val contrib = edgesW.join(ranks, Seq("u"))
            .select(col("v"), expr("(r * w) div wdeg").as("c"))
            .groupBy("v").agg(sum("c").as("cin"))
          // materialize per round: the next round's join reads ranks, so
          // an unmaterialized chain would re-execute every round since
          // the last cut (quadratic recompute). The edge set is symmetric
          // by construction (pairs ∪ reversed pairs), so every wdeg node
          // has ≥1 in-edge and contrib carries exactly the node set.
          val prev = ranks
          ranks = contrib
            .select(col("v").as("u"),
              (lit(base) + expr("85L * cin div 100L")).as("r"))
            .cutLineage()
          // the new round is materialized; the superseded round's blocks
          // would otherwise sit in executor storage until a GC cycle
          Iterate.release(prev)
        }
        ranks.join(wdeg, "u")
    }
    ranked.orderBy(col("r").desc, col("u"))
      .limit(topK)
      .select(col("u").as("part"), col("deg").as("degree"),
        col("wdeg").as("weighted_degree"), col("r").as("rank_pico"))
  }

  /** q163 on edge blocks: the same integer rounds, the damping mix
    * `base + 85·cin div 100` folded into each block; returns
    * (u, deg, wdeg, r). */
  private def rankLocal(s: SparkSession, g: EdgeBlocks, iters: Int): DataFrame = {
    import s.implicits._
    val n = g.size.toLong
    val base = 150000000000L / n
    var r = Array.fill(g.size)(1000000000000L / n)
    for (_ <- 1 to iters)
      r = g.round((r, g.wdeg)) { case (b, ids, (rank, wdeg)) =>
        b.perKey { (from, until) =>
          var cin = 0L
          var e = from
          while (e < until) {
            val j = EdgeBlocks.at(ids, b.nbr(e))
            cin = Math.addExact(cin, Math.multiplyExact(rank(j), b.w(e)) / wdeg(j))
            e += 1
          }
          Math.addExact(base, Math.multiplyExact(85L, cin) / 100L)
        }
      }
    g.ids.indices.map(i => (g.ids(i), g.deg(i), g.wdeg(i), r(i)))
      .toDF("u", "deg", "wdeg", "r")
  }

  /** q166: triangle census of the co-purchase graph — triangle count,
    * wedge count, and the global clustering coefficient 3T/W: how much
    * do parts bought with a common third part also get bought
    * together? The transitivity statistic that separates clustered
    * purchase communities from a hub-and-spoke catalog, and the
    * standard second graph metric beside centrality (q163).
    *
    * Scale shape: DEGREE-ORDERED orientation (Cohen 2009 / the
    * MapReduce triangle-counting standard): each undirected edge
    * points from its lower (degree, id) endpoint to the higher, so
    * every out-neighborhood is O(√m) on any graph (arboricity bound)
    * and the wedge self-join — the quadratic hazard — is bounded by
    * Σ d_out² = O(m^1.5) instead of hub-degree². A star catalog node
    * with a million neighbors generates ZERO wedges (all edges point
    * into it). Two equi-joins, all integer arithmetic; the clustering
    * ratio is one scalar IEEE division. The id-ordered DuckDB oracle
    * counts the same triangles by u<v<w triple join — orientation
    * changes the plan, never the census. */
  def qTriangleCensus(s: SparkSession, d: String): DataFrame = {
    val pairs = copurchaseEdges(s, d).cutLineage()
    val deg = pairs.select(col("u").as("x"))
      .union(pairs.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    // orient each edge from lower (deg, id) to higher (deg, id)
    val withDeg = pairs
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
    val oriented = withDeg.select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cutLineage()
    // adjacency-intersection counting (Latapy 2008): each oriented
    // edge u→v closes one triangle per common OUT-neighbor of u and v,
    // so T = Σ_{u→v} |N⁺(u) ∩ N⁺(v)|. The out-lists are sorted arrays
    // (≤ O(√m) long under the degree orientation) carried IN-ROW, and
    // the intersection is the codegen'd `sorted_intersect_size` merge —
    // the quadratic wedge set is never materialized or shuffled (a
    // 70M-row wedge join at sf0.1 collapses to a 1.2M-row scan with
    // in-row merges: measured ~4× faster). Inner joins drop edges
    // whose endpoint has no out-list — exactly the zero-contribution
    // edges. Sum of longs: deterministic.
    graft.functions.GraftFunctions.register(s)
    // r12 OPTIMIZATION (guide §3.1): the adjacency table's TOTAL
    // payload is exactly the oriented edge count (each edge appears in
    // one out-list), so when the graph fits the same broadcast budget
    // the rank joins use, hinting BOTH adjacency joins broadcast turns
    // the triangle pass into one scan of the checkpointed edges with
    // two map-side hash joins — the two edge-sized exchanges + sorts
    // are gone. Boundary is edge-count-based (lists are payload, not
    // one row each): `spark.graft.graph.adjBroadcastMaxEdges`, default
    // 10M edges ≈ 160 MB of packed longs; past it AQE plans the joins
    // exactly as before.
    val adj = oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val adjBroadcastMax = s.conf
      .get("spark.graft.graph.adjBroadcastMaxEdges", "10000000").toLong
    // r13 (ADVICE r12): orientation maps each distinct edge 1:1, so
    // |oriented| = |pairs| by construction — count the checkpointed
    // pairs ONCE and reuse the scalar for both the broadcast gate and
    // the n_edges output column (the old shape ran two identical
    // edge-count jobs per call).
    val nEdges = pairs.count()
    def hintedAdj(a: DataFrame): DataFrame =
      if (nEdges <= adjBroadcastMax) broadcast(a) else a
    val triangles = oriented.select("src", "dst")
      .join(hintedAdj(adj.select(col("src"), col("nbrs").as("nu"))), Seq("src"))
      .join(hintedAdj(adj.select(col("src").as("dst"), col("nbrs").as("nv"))), Seq("dst"))
      .agg(coalesce(sum(graft.functions.sortedIntersectSize(col("nu"), col("nv"))),
        lit(0L)))
      .head().getLong(0)
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("wedges")).head()
    val nNodes = stats.getLong(0)
    val wedges = stats.getLong(1)
    import s.implicits._
    Seq((nNodes, nEdges, triangles, wedges,
      BigDecimal(3.0 * triangles / wedges)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_nodes", "n_edges", "n_triangles", "n_wedges", "clustering")
  }

  /** q168: degree distribution of the co-purchase graph in power-of-2
    * bins — the first thing to read off any large graph (heavy-tailed
    * or not decides every downstream algorithm's skew story, including
    * q163's broadcast choice and q166's orientation bound). The bin
    * index is `length(bin(d))` — the position of the highest set bit
    * via pure string length of the binary literal, identical in both
    * engines, no log2 (the libm rule again). One scan of the edge
    * list, a node-sized degree agg, a ≤64-group rollup. */
  def qDegreeHistogram(s: SparkSession, d: String): DataFrame = {
    val pairs = copurchaseEdges(s, d)
    pairs.select(col("u").as("x")).union(pairs.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
      .select(col("d"), length(bin(col("d"))).as("bits"))
      .groupBy("bits")
      .agg(count(lit(1)).as("n_nodes"),
        min("d").as("min_degree"), max("d").as("max_degree"))
      .select(expr("CAST(1L << (bits - 1) AS BIGINT)").as("bucket_lo"),
        col("n_nodes"), col("min_degree"), col("max_degree"))
  }

  /** The per-order co-purchase pair stream (u < v; one row per
    * (order, unordered part pair)) — the shared input of every
    * co-purchase graph build. r12 OPTIMIZATION (guide §2.4, remove
    * shuffles outright): the previous shape was distinct(o, p) + an
    * orderkey SELF-JOIN — three lineitem-sized exchanges (the distinct,
    * then each join side re-shuffled by o because hash(o, p)
    * partitioning does not satisfy hash(o)) plus the sort-merge
    * machinery. One groupBy(o) with an in-row sorted part set and an
    * in-plan pair expansion produces the identical row multiset with
    * ONE lineitem-sized exchange: collect_set dedups (o, p) in the same
    * partial/final agg that groups by order, sort_array makes the set
    * deterministic, and the transform/slice expansion emits exactly the
    * u < v pairs the self-join emitted. Per-order fanout is unchanged
    * (≤ lines²; TPC-H ≤ 7 lines/order ⇒ ≤ 21 pairs). Measured at
    * sf0.1: q168 (edge build + two rollups) 2.6 s → the new build cuts
    * the pre-aggregation stage's exchanges from 3 to 1. */
  private[graft] def orderPartPairs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps) - i - 1),
               y -> struct(x AS u, y AS v))))""")).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  /** The unweighted id-ordered co-purchase edge set (u < v, distinct) —
    * shared by the census/degree/assortativity family. Per-order pair
    * fanout bounded by lines² (≤ 21 on TPC-H). */
  private[graft] def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    orderPartPairs(s, d).distinct()

  /** q184: k-core decomposition (coreness) of the co-purchase graph —
    * the cohesion stratification every graph pipeline wants after the
    * degree histogram (q168): a node's coreness is the largest k for
    * which it survives iterated removal of all nodes with degree < k,
    * separating the dense purchasing nucleus from the tree-like fringe
    * (Seidman 1983). Computed by the distributed H-INDEX iteration
    * (Lü et al., Nature Comm. 2016): core(v) starts at deg(v) and
    * repeatedly contracts to the h-index of its neighbors' values
    * (the max h with ≥ h neighbors at ≥ h); the fixpoint IS the
    * coreness — no sequential peeling, pure integer arithmetic,
    * convergence in O(diameter-ish) rounds rather than the O(max-core)
    * rounds of distributed peeling.
    *
    * Scale shape: each round is one edge⋈core equi-join + a
    * per-node h-index (window row_number over in-row neighbor values,
    * bounded by degree) — the same equi-shuffle round discipline as
    * q57/q163, `localCheckpoint` per round, one scalar count on the
    * driver; under `rankBroadcastMaxNodes`, one edge-block job. The
    * spec proves the fixpoint equals sequential Batagelj–Zaversnik
    * peeling on the real sf graph and a handcrafted clique-plus-tail. */
  def qKCore(s: SparkSession, d: String, maxRounds: Int = 50): DataFrame =
    kCoreHistogram(copurchaseEdges(s, d))

  /** H-index-iteration coreness over any undirected (u, v) edge list;
    * returns the (coreness, n_nodes) histogram.
    *
    * DENSE synchronous sweeps: each round is one edge-core equi-join,
    * one per-node hash-agg (the h-index is an in-row fold over the
    * collected neighbor values: sorted desc, h = #positions whose
    * value covers the position - no window sort), and a node-sized
    * compare join. A frontier/delta variant was measured WORSE here:
    * the change set REBOUNDS mid-convergence (cascades re-enter
    * "settled" regions - observed 80 changed at round 14 but 7441
    * again at round 36 of sf0.1's 38-round run), so the extra
    * per-round frontier shuffles never pay for themselves. Eager
    * localCheckpoint per round keeps lineage flat and resets plan
    * statistics to measured block sizes - without that reset the
    * join-stats product compounds across rounds into million-digit
    * BigInt arithmetic inside the optimizer (observed: minutes of
    * ToomCook multiply in SizeInBytesOnlyStatsPlanVisitor). */
  private[graft] def kCoreHistogram(pairs0: DataFrame,
      maxRounds: Int = 100): DataFrame = {
    val cores = EdgeBlocks.pack(pairs0, symmetric = true) match {
      case Some(g) => Using.resource(g)(kCoreLocal(pairs0.sparkSession, _, maxRounds))
      case None =>
        val pairs = pairs0.cutLineage()
        val bidir = pairs
          .union(pairs.select(col("v").as("u"), col("u").as("v")))
          .cutLineage()
        var core = bidir.groupBy("u").agg(count(lit(1)).as("core"))
          .cutLineage()
        var changed = 1L
        var round = 0
        // h-index of the neighbor multiset: sorted desc, the count of
        // positions whose value covers the position is the h (prefix
        // property: values non-increasing vs threshold increasing)
        val hExpr = expr(
          "size(filter(transform(sort_array(ncs, false), (x, i) -> x >= i + 1)," +
            " b -> b))")
        var prevNext: DataFrame = null
        while (changed > 0 && round < maxRounds) {
          val h = bidir
            .join(core.select(col("u").as("v"), col("core").as("nc")), Seq("v"))
            .groupBy("u").agg(collect_list("nc").as("ncs"))
            .select(col("u"), hExpr.cast("long").as("h"))
          val next = core.join(h, Seq("u"))
            .select(col("u"), col("core"), least(col("core"), col("h")).as("nc"))
            .cutLineage()
          changed = next.filter(col("nc") < col("core")).count()
          if (prevNext ne null) Iterate.release(prevNext) // superseded round
          prevNext = next
          core = next.select(col("u"), col("nc").as("core"))
          round += 1
          if (probeHook ne null) probeHook(round, changed)
        }
        core
    }
    cores.groupBy("core").agg(count(lit(1)).as("n_nodes"))
      .select(col("core").as("coreness"), col("n_nodes"))
  }

  /** [[kCoreHistogram]] on edge blocks: each block computes its nodes'
    * h-indexes; the `least(core, h)` contraction and the changed count
    * run on the driver. Returns the final cores as one `core` column. */
  private def kCoreLocal(s: SparkSession, g: EdgeBlocks,
      maxRounds: Int): DataFrame = {
    import s.implicits._
    val core = g.deg.clone()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val h = g.round(core) { (b, ids, cores) =>
        b.perKey { (from, until) =>
          val ncs = Array.tabulate(until - from)(k => cores(EdgeBlocks.at(ids, b.nbr(from + k))))
          java.util.Arrays.sort(ncs)
          // the k-th largest value is ncs(d - 1 - k); h = #k with it ≥ k + 1
          var k = 0
          while (k < ncs.length && ncs(ncs.length - 1 - k) >= k + 1) k += 1
          k.toLong
        }
      }
      changed = 0L
      for (i <- core.indices if h(i) < core(i)) { core(i) = h(i); changed += 1 }
      round += 1
      if (probeHook ne null) probeHook(round, changed)
    }
    core.toSeq.toDF("core")
  }

  @volatile private[graft] var probeHook: (Int, Long) => Unit = null

  /** Observability for GraphSpec/probes: whether the last
    * [[qCopurchaseRank]] run took the edge-block path (under
    * `rankBroadcastMaxNodes`) rather than the distributed loop. */
  @volatile private[graft] var lastRankBroadcast: Boolean = true

  /** q173: item–item collaborative filtering — the rec-sys primitive
    * over the co-purchase graph: each part's sparse neighbor vector
    * (who it was bought with, weighted by shared orders), pairs ranked
    * by the cosine of those vectors. "Parts whose co-purchase
    * NEIGHBORHOODS look alike" is a strictly stronger signal than
    * q161's direct-pair lift (two parts never bought together can
    * still be perfect substitutes — same neighbors, disjoint baskets).
    *
    * Scale discipline: each vector is TRUNCATED to its top-`cap`
    * weights (weight desc, neighbor-id tie-break — deterministic, and
    * exactly expressible in the oracle's ROW_NUMBER) before the
    * common-neighbor wedge join, bounding the per-middle-item fanout
    * at cap² — the neighbor-cap every production item-CF system
    * applies, here load-bearing for the plan too (an uncapped hub
    * would wedge at deg²). The INVERTED lists are capped the same way
    * (each middle item keeps its `invCap` strongest incidences — the
    * DIMSUM discipline: out-caps alone don't bound the wedge join,
    * because a popular item can still sit in millions of OTHER items'
    * vectors; measured 2× at sf0.1, structural at hub-ier scales). Ranking is the exact integer
    * 1e6-scaled SQUARED cosine (S²·1e6 div (‖u‖²·‖v‖²)) — monotone in
    * cosine, zero libm/float (the q153 rule); pairs need ≥ `minCommon`
    * shared neighbors to rank. Both caps are deterministic (weight
    * desc, id) cuts, mirrored exactly in the oracle's ROW_NUMBERs. */
  def qItemCf(s: SparkSession, d: String, cap: Int = 32, invCap: Int = 64,
      minCommon: Int = 3, topK: Int = 20): DataFrame = {
    val pairs = orderPartPairs(s, d)
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
    val bidir = pairs
      .union(pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
    // truncate each item's vector to its top-`cap` neighbor weights.
    // (r12 note: the q251-style in-row sorted-slice rewrite was
    // implemented and MEASURED WORSE here — interleaved fresh-JVM A/B
    // read old 8.4/14.4 s vs new 9.4/15.9 s — because these lists are
    // (weight, id) STRUCTS over a dense weighted graph: two
    // collect_list aggregations materializing ~120-element struct
    // lists per node cost more than the window+checkpoint+SMJ they
    // replace, unlike q251's plain-long lists. Reverted; the window
    // rank filter streams and discards beyond the cap.)
    val rk = Window.partitionBy("u").orderBy(col("w").desc, col("v"))
    val vec = bidir.withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= cap)
      .select(col("u").as("item"), col("v").as("k"), col("w"))
      .cutLineage()
    val norms = vec.groupBy("item")
      .agg(sum(col("w") * col("w")).as("n2"))
    // cap the inverted list: per middle item k, keep the `invCap`
    // strongest incident entries — bounds the wedge join at invCap²
    // per k regardless of how popular k is
    val irk = Window.partitionBy("k").orderBy(col("w").desc, col("item"))
    val inv = vec.withColumn("irk", row_number().over(irk))
      .filter(col("irk") <= invCap)
      .select("item", "k", "w")
      .cutLineage()
    val wedges = inv.as("x").join(inv.as("y"),
        col("x.k") === col("y.k") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("u"), col("y.item").as("v"))
      .agg(sum(col("x.w") * col("y.w")).as("dot"),
        count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    wedges
      .join(norms.select(col("item").as("u"), col("n2").as("nu")), Seq("u"))
      .join(norms.select(col("item").as("v"), col("n2").as("nv")), Seq("v"))
      .select(col("u"), col("v"), col("n_common"), col("dot"),
        expr("dot * dot * 1000000L div (nu * nv)").as("cos2_ppm"))
      .orderBy(col("cos2_ppm").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** q171: BFS hop distribution from the highest-degree part — the
    * traversal member of the graph family (centrality q163, census
    * q166, mixing q169): how many parts sit 1, 2, 3… co-purchase hops
    * from the catalog's hub, i.e. the reach profile a graph-expansion
    * recommender walks. Deterministic source (max degree, id
    * tie-break); unreached nodes report as hop −1.
    *
    * Scale shape: frontier-expansion BFS — per round ONE equi-join of
    * the edge table against the (shrinking) frontier, a distinct, and
    * an anti-join against the visited set; rounds ≤ the graph's
    * diameter (single digits on co-purchase graphs — the small-world
    * property), each localCheckpointed so lineage stays flat. This is
    * Pregel's BFS as plain DataFrame joins; under
    * `rankBroadcastMaxNodes` the hops live on the driver and each round
    * is one edge-block job. The DuckDB oracle walks the same frontier with
    * a recursive CTE — hop-minimal by UNION dedup. */
  def qBfsHops(s: SparkSession, d: String, maxHops: Int = 8): DataFrame = {
    val pairs = copurchaseEdges(s, d)
    EdgeBlocks.pack(pairs, symmetric = true) match {
      case Some(g) => Using.resource(g)(bfsLocal(s, _, maxHops))
      case None =>
        val bidir = pairs
          .union(pairs.select(col("v").as("u"), col("u").as("v")))
          .cutLineage()
        val deg = bidir.groupBy("u").agg(count(lit(1)).as("dg"))
        val nNodes = deg.count()
        val source = deg.orderBy(col("dg").desc, col("u")).limit(1)
          .head().getLong(0)
        import s.implicits._
        var visited = Seq((source, 0)).toDF("node", "hop").cutLineage()
        var frontier = visited.select("node")
        var prevNext: DataFrame = null
        var hop = 1
        var frontierSize = 1L
        while (hop <= maxHops && frontierSize > 0) {
          val next = bidir.join(frontier.select(col("node").as("u")), Seq("u"))
            .select(col("v").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti")
            .withColumn("hop", lit(hop))
            .cutLineage()
          frontierSize = next.count()
          val prevVisited = visited
          visited = visited.union(next).cutLineage()
          Iterate.release(prevVisited) // superseded by the union above
          if (prevNext ne null) Iterate.release(prevNext) // last round's frontier
          prevNext = next
          frontier = next.select("node")
          hop += 1
        }
        val reached = visited.groupBy("hop").agg(count(lit(1)).as("n_nodes"))
        val unreachedCount = nNodes - visited.count()
        reached.union(Seq((-1, unreachedCount)).toDF("hop", "n_nodes"))
    }
  }

  /** q171 on edge blocks: hop `h` reaches every unvisited node with a
    * neighbour at hop `h − 1` (the first hop that reaches a node claims
    * it, as the frontier anti-join does). */
  private def bfsLocal(s: SparkSession, g: EdgeBlocks, maxHops: Int): DataFrame = {
    import s.implicits._
    var source = 0 // max degree, lowest id
    for (i <- g.deg.indices if g.deg(i) > g.deg(source)) source = i
    val hop = Array.fill(g.size)(-1L)
    hop(source) = 0L
    val perHop = new Array[Long](maxHops + 1)
    perHop(0) = 1L
    var h = 1
    while (h <= maxHops && perHop(h - 1) > 0) {
      val touched = g.round((hop, h - 1L)) { case (b, ids, (hops, prev)) =>
        b.perKey { (from, until) =>
          var e = from
          while (e < until && hops(EdgeBlocks.at(ids, b.nbr(e))) != prev) e += 1
          if (e < until) 1L else 0L
        }
      }
      for (i <- hop.indices if touched(i) == 1L && hop(i) < 0) { hop(i) = h; perHop(h) += 1 }
      h += 1
    }
    ((0 to maxHops).filter(perHop(_) > 0).map(h => (h, perHop(h))) :+
      ((-1, g.size - perHop.sum))).toDF("hop", "n_nodes")
  }

  /** q169: degree assortativity — the Pearson correlation of endpoint
    * degrees over the (bidirectional) edge list: do high-degree parts
    * co-purchase with other hubs (assortative, > 0) or with the
    * long tail (disassortative, < 0 — the typical catalog/web shape,
    * Newman 2002)? Completes the graph-metric trio with q163
    * (centrality) and q166 (transitivity). Degrees are integers, so
    * all six sufficient sums are exact longs (the q157 Pearson
    * discipline); one scalar IEEE formula at the end. Two node-sized
    * joins onto the edge list, then a single-row agg. */
  def qDegreeAssortativity(s: SparkSession, d: String): DataFrame = {
    val pairs = copurchaseEdges(s, d)
    val deg = pairs.select(col("u").as("x")).union(pairs.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val bidir = pairs.union(pairs.select(col("v").as("u"), col("u").as("v")))
    val xy = bidir
      .join(deg.select(col("x").as("u"), col("deg").as("dx")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("deg").as("dy")), Seq("v"))
    // the m·Σ products overflow int64 past ~10⁶ edges; DECIMAL(38,0)
    // intermediates keep them exact (and engine-identical) to 10³⁸
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d2 = (c: Column) => c.cast("double")
    val vx = dec(col("m")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
    val vy = dec(col("m")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
    val cov = dec(col("m")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
    xy.agg(count(lit(1)).as("m"),
        sum(dec(col("dx"))).as("sx"), sum(dec(col("dy"))).as("sy"),
        sum(dec(col("dx") * col("dy"))).as("sxy"),
        sum(dec(col("dx") * col("dx"))).as("sxx"),
        sum(dec(col("dy") * col("dy"))).as("syy"))
      .select(expr("m div 2").as("n_edges"),
        round(when(vx > 0 && vy > 0,
          d2(cov) / sqrt(d2(vx) * d2(vy))), 6).as("assortativity"))
  }

  /** q251: neighborhood link prediction on the co-purchase graph —
    * the "which edges are missing?" verb completing the graph family
    * (centrality q163, census q166, traversal q171, recommendation
    * q173, cohesion q184): score each non-adjacent pair at distance 2
    * by common-neighbor count and neighborhood Jaccard (Liben-Nowell
    * & Kleinberg CIKM'03 — the baselines every link-prediction paper
    * starts from), top-20 under a total order. In a training-data
    * pipeline this is the co-occurrence-completion primitive
    * (candidate related-item pairs the co-purchase data hasn't
    * witnessed yet).
    *
    * Exactness: common-neighbor counts are exact integers over the
    * CAPPED adjacency (below), degrees are exact FULL-graph scalars,
    * and the Jaccard score is the floored ppm `cn·10⁶ div
    * (dₐ+d_b−cn)` — no float anywhere, so the top-20 order (ppm desc,
    * cn desc, a, b) is engine-identical.
    *
    * Scale shape: the wedge join is bounded by q173's device — each
    * middle node's adjacency list is truncated to its `invCap`
    * LOWEST-ID neighbors (a deterministic, SQL-expressible rule the
    * oracle mirrors exactly), so per-middle fanout is ≤ invCap²
    * regardless of hub size; the trade is bounded recall on hub-only
    * wedges, the standard LSH-style candidate-capping argument.
    * Degrees stay exact (a per-node scalar needs no cap). One
    * orderkey self-join, one capped wedge self-join, one anti-join
    * against the edge set, TakeOrdered cut. */
  def qLinkPrediction(s: SparkSession, d: String, invCap: Int = 64,
      minCommon: Int = 2, topK: Int = 20): DataFrame = {
    // ONE materialization of the orderkey self-join, structurally
    // guaranteed: `pairs` is localCheckpointed FIRST and every
    // consumer — both bidir union branches AND the anti-join probe —
    // reads the checkpointed blocks. The previous shape checkpointed
    // only `bidir`, leaving the anti-join's `pairs` subplan to
    // RECOMPUTE the full self-join in the final job (ReuseExchange
    // cannot reach across a checkpoint boundary). At sf0.1 the rewrite
    // is cost-neutral (old 8.5 s vs new 9.0/8.1 s on quiet-box runs —
    // the self-join is cheap at this scale), but the guarantee is the
    // point: the recompute it removes grows with the EDGE SET, the
    // term that dominates at 100× (r9 measured the 50× wedge join
    // spill-bound; doubling the self-join there is real money), and
    // PlanShapeSpec can now pin the final plan free of file scans
    // instead of trusting ReuseExchange across AQE re-planning.
    // (The r9 note that eager-checkpointing was slower measured
    // checkpointing pairs IN ADDITION to bidir — two materialization
    // barriers; this shape has exactly one, bidir being a cheap map
    // over checkpointed blocks.)
    val pairs = copurchaseEdges(s, d).cutLineage()
    val bidir = pairs
      .union(pairs.select(col("v").as("u"), col("u").as("v")))
    // r13 OPTIMIZATION (VERDICT r12 #1/#8): the degree table is
    // node-sized and needed twice by the scoring joins anyway, so it
    // checkpoints once and ONE scalar job over the checkpointed blocks
    // yields every boundary decision this query makes — edge count
    // (broadcast gates), max node id (packed-key gate), max degree
    // (the in-row-adjacency hub guard).
    val deg = bidir.groupBy("u").agg(count(lit(1)).as("dg")).cutLineage()
    val gRow = deg.agg(sum("dg"), max("u"), max("dg")).head()
    val nEdges = gRow.getLong(0) / 2
    val maxId = gRow.getLong(1)
    val maxDeg = gRow.getLong(2)
    // §3.1 broadcast boundary (same conf as q166's adjacency joins):
    // when the EDGE SET fits the broadcast budget, the anti-join probe
    // and both degree joins become map-side hash joins — the candidate
    // table (the big operand: O(Σ min(deg,cap)²) rows) is never
    // re-shuffled after its one rollup exchange. Past the boundary AQE
    // plans all three joins exactly as before (deg ≤ 2·edges rows, so
    // the edge gate covers the degree side a fortiori).
    val adjBroadcastMax = s.conf
      .get("spark.graft.graph.adjBroadcastMaxEdges", "10000000").toLong
    def hintedE(df: DataFrame): DataFrame =
      if (nEdges <= adjBroadcastMax) broadcast(df) else df
    // §2.3 shuffle narrower keys: node ids below 2³¹ pack an (a, b)
    // pair into ONE non-negative BIGINT (a·2³² + b — bijective, so
    // grouping/joining on the packed key is grouping/joining on the
    // pair), halving the wedge exchange's key bytes and replacing
    // struct hashing/comparison with plain long ops. Past 2³¹ the
    // struct path below is taken unchanged.
    val packOk = maxId < (1L << 31)
    // r12 guide §2.4, now behind the r13 hub guard (VERDICT r12 #3):
    // the in-row sorted slice materializes each node's FULL neighbor
    // list in the collect_list buffer before slicing, so per-group
    // agg memory is bounded by max degree, not invCap. On graphs whose
    // hubs pass `spark.graft.graph.inrowAdjMaxDegree` (default 1M ≈
    // 8 MB of longs per hub group, well inside a task's execution
    // memory), that trade is measured profit (r12: −7 s structural at
    // sf0.1); past the bound the old window formulation streams each
    // partition and discards beyond the cap — identical rows by the
    // shared rank rule (row_number over (u ORDER BY v) ≤ invCap ≡
    // slice(sort_array(vs), 1, invCap)).
    val inRowMaxDeg = s.conf
      .get("spark.graft.graph.inrowAdjMaxDegree", "1000000").toLong
    val wedges =
      if (maxDeg <= inRowMaxDeg) {
        bidir.groupBy("u")
          .agg(slice(sort_array(collect_list(col("v"))), 1, invCap).as("nbrs"))
          .select(explode(expr(
            s"""flatten(transform(nbrs, (x, i) ->
                 transform(slice(nbrs, i + 2, size(nbrs) - i - 1),
                   y -> ${if (packOk) "x * 4294967296L + y"
                         else "struct(x AS a, y AS b)"})))""")).as("e"))
      } else {
        val inv = bidir.withColumn("rk",
            row_number().over(Window.partitionBy("u").orderBy("v")))
          .filter(col("rk") <= invCap)
          .select(col("u").as("k"), col("v").as("nb"))
          .cutLineage()
        inv.as("x").join(inv.as("y"),
            col("x.k") === col("y.k") && col("x.nb") < col("y.nb"))
          .select((if (packOk) expr("x.nb * 4294967296L + y.nb")
                   else expr("struct(x.nb AS a, y.nb AS b)")).as("e"))
      }
    val cand = wedges
      .groupBy(col("e"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
    // anti-join the candidate set against the edge set on the SAME key
    // shape the rollup used (packed long or struct-free (a, b) pair),
    // then unpack for the degree joins
    val nonEdges =
      if (packOk)
        cand.join(
            hintedE(pairs.select(expr("u * 4294967296L + v").as("e"))),
            Seq("e"), "left_anti")
          .select(expr("e div 4294967296L").as("a"),
            expr("e % 4294967296L").as("b"), col("cn"))
      else
        cand.select(col("e.a").as("a"), col("e.b").as("b"), col("cn"))
          .join(hintedE(pairs.select(col("u").as("a"), col("v").as("b"))),
            Seq("a", "b"), "left_anti")
    nonEdges
      .join(hintedE(deg.select(col("u").as("a"), col("dg").as("da"))), Seq("a"))
      .join(hintedE(deg.select(col("u").as("b"), col("dg").as("db"))), Seq("b"))
      .select(col("a"), col("b"), col("cn"), col("da"), col("db"),
        expr("cn * 1000000L div (da + db - cn)").as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("cn").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Determinized synchronous label propagation over undirected
    * (u, v) pairs: labels init to node ids; every node simultaneously
    * adopts its neighbors' plurality label, ties broken by MINIMUM
    * label; exactly `rounds` rounds. Returns (node, label). Every
    * step is integer vote counting + an argmax-by-(count, −label)
    * struct max — engine- and partitioning-invariant. */
  private[graft] def labelPropagation(pairs: DataFrame,
      rounds: Int): DataFrame =
    EdgeBlocks.pack(pairs, symmetric = true) match {
      case Some(g) => Using.resource(g) { g =>
        import pairs.sparkSession.implicits._
        var label = g.ids
        for (_ <- 1 to rounds)
          label = g.round(label) { (b, ids, labels) =>
            b.perKey { (from, until) =>
              val ls = Array.tabulate(until - from)(k => labels(EdgeBlocks.at(ids, b.nbr(from + k))))
              java.util.Arrays.sort(ls)
              // plurality label: runs ascend, so only a strictly longer
              // run wins and ties go to the minimum label
              var best = ls(0)
              var bestN = 0
              var k = 0
              while (k < ls.length) {
                var j = k
                while (j < ls.length && ls(j) == ls(k)) j += 1
                if (j - k > bestN) { best = ls(k); bestN = j - k }
                k = j
              }
              best
            }
          }
        g.ids.indices.map(i => (g.ids(i), label(i))).toDF("node", "label")
      }
      case None =>
        val bidir = pairs
          .union(pairs.select(col("v").as("u"), col("u").as("v")))
          .cutLineage()
        var labels = bidir.select(col("u").as("node")).distinct()
          .withColumn("label", col("node"))
        for (_ <- 1 to rounds) {
          val votes = bidir
            .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
            .groupBy(col("u"), col("label")).agg(count(lit(1)).as("cnt"))
          val prev = labels
          labels = votes
            .select(col("u"),
              struct(col("cnt"), (-col("label")).as("neg")).as("sv"))
            .groupBy("u").agg(max(col("sv")).as("m"))
            .select(col("u").as("node"), (-col("m.neg")).as("label"))
            .cutLineage()
          Iterate.release(prev) // superseded round frame
        }
        labels
    }

  /** q253: synchronous label-propagation communities on the
    * co-purchase BACKBONE (Raghavan et al., Phys. Rev. E'07) — the
    * community-detection verb the family lacked: q57's components
    * answer "connected at all?", LPA answers "densely connected to
    * WHOM?" (the product-category discovery a catalog pipeline runs).
    *
    * Backbone, not raw graph: only pairs co-purchased in ≥ `minShared`
    * orders are edges — the standard noise floor for co-occurrence
    * graphs (w=1 pairs are single-basket coincidences), and what keeps
    * a determinized LPA informative here: on the raw TPC-H basket
    * graph (near-complete at small SF) every plurality vote collapses
    * to one label in two rounds — measured, not assumed: 1 community
    * on the raw graph vs ~300 on the sf0.01 backbone.
    *
    * Determinism: the classic algorithm is randomized (visit order,
    * tie coin-flips); [[labelPropagation]] is the determinized
    * SYNCHRONOUS variant with min-label ties and a fixed round budget
    * (synchronous LPA may oscillate rather than converge, so a round
    * budget is the correct contract, not a convergence test). Pinned
    * by GraphSpec against a sequential reference AND a crafted
    * two-clique structural case.
    *
    * Scale shape: one weighted pair rollup (per-order fanout ≤ lines²,
    * q163's bound), then per round ONE edge⋈labels equi-join and a
    * (node, label) vote rollup — the Pregel message pattern as
    * DataFrame joins, localCheckpoint per round (one edge-block job
    * under `rankBroadcastMaxNodes`); rounds fixed.
    * Report: top-10 communities + census, TakeOrdered cut. */
  def qLabelPropagation(s: SparkSession, d: String, rounds: Int = 5,
      topK: Int = 10, minShared: Int = 2): DataFrame = {
    val backbone = orderPartPairs(s, d)
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minShared)
      .select("u", "v")
    val labels = labelPropagation(backbone, rounds)
    val comm = labels.groupBy("label").agg(count(lit(1)).as("size"))
    val summary = comm.agg(count(lit(1)).as("n_communities"),
      sum(col("size")).as("n_nodes"))
    val top = comm.orderBy(col("size").desc, col("label")).limit(topK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("size").desc, col("label"))))
      .crossJoin(broadcast(summary))
      .select(col("rank"), col("label").as("community"), col("size"),
        col("n_communities"), col("n_nodes"))
  }

  /** q324: Newman modularity of the BRAND partition on the q253
    * co-purchase backbone — the categorical-assortativity cell beside
    * q169's numeric degree assortativity and the yardstick q253's
    * discovered communities would be scored against (Newman &
    * Girvan '04): does the catalog's own brand structure explain the
    * co-purchase topology, or do baskets cut across brands? Per brand
    * c: intra-community edges m_c, degree mass d_c, and the
    * contribution q_c = m_c/m − (d_c/2m)²; modularity Q = Σ q_c (the
    * spec asserts the sum; per-brand rows keep the gate informative).
    *
    * Exactness: m, m_c, d_c are exact edge counts, so each
    * contribution is the exact rational (4m·m_c − d_c²)/(4m²) — one
    * DECIMAL-widened cross-multiplication and one IEEE division per
    * brand, rounded 6.
    *
    * Scale shape: the backbone rollup is the q163/q253-audited
    * device (per-order fanout ≤ lines², weight floor ≥ minShared);
    * brand binding is two partkey-keyed joins; the intra/degree
    * rollups collapse map-side onto ≤25 brands. */
  def qBrandModularity(s: SparkSession, d: String,
      minShared: Int = 2): DataFrame = {
    val backbone = orderPartPairs(s, d)
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minShared)
      .select("u", "v")
    val brand = part(s, d)
      .select(col("p_partkey").as("node"), col("p_brand").as("brand"))
    val edges = backbone
      .join(brand.select(col("node").as("u"), col("brand").as("bu")), Seq("u"))
      .join(brand.select(col("node").as("v"), col("brand").as("bv")), Seq("v"))
    val m = edges.agg(count(lit(1)).as("m_edges"))
    val mIn = edges.filter(col("bu") === col("bv"))
      .groupBy(col("bu").as("brand")).agg(count(lit(1)).as("m_in"))
    val deg = edges.select(col("bu").as("brand"))
      .unionAll(edges.select(col("bv").as("brand")))
      .groupBy("brand").agg(count(lit(1)).as("d_c"))
    deg.join(mIn, Seq("brand"), "left")
      .na.fill(0L, Seq("m_in"))
      .crossJoin(broadcast(m))
      .withColumn("q_contrib", expr(
        """ROUND(CAST(4 * CAST(m_edges AS DECIMAL(38,0)) * m_in
                      - CAST(d_c AS DECIMAL(38,0)) * d_c AS DOUBLE)
                 / CAST(4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges
                   AS DOUBLE), 6)"""))
      .select(col("brand"), col("m_in"), col("d_c"), col("m_edges"),
        col("q_contrib"))
      .orderBy("brand")
  }

  /** q365: HITS hubs & authorities (Kleinberg JACM'99) on the
    * customer→part purchase BIPARTITE graph — the centrality the
    * undirected q163 PageRank cannot express: authorities are parts
    * endorsed by well-curating customers, hubs are customers whose
    * baskets concentrate on authoritative parts (the co-citation
    * reading of purchase data). Completes the centrality family
    * (PageRank q163, k-core q184, assortativity q169, LPA q253).
    *
    * Exactness (q163's integer-round discipline, extended with the
    * normalization HITS needs and PageRank dodges): scores are
    * integer picos; each half-round is one edge⋈score join + a
    * destination-keyed integer sum, then L1 RE-normalization
    * `x ← x·10¹² div Σx` where Σx is a one-row driver read per
    * half-round (a control-plane scalar, the q78-distributed-argmax
    * precedent) — every operation is integer, so ranks are bit-exact
    * across partitionings and JVMs (HitsSpec pins a driver-side
    * recompute). Rows-only in the gate: mutually-recursive normalized
    * iteration exceeds recursive-CTE SQL.
    *
    * Scale shape: under `rankBroadcastMaxNodes` customers the edge list
    * is packed into edge blocks twice (keyed by customer and by part)
    * and each half-round is one job; past it the edge list is
    * checkpointed once and never reshuffles, and each half-round is an
    * edge⋈score join plus the destination-keyed partial agg:
    * 2·iters rounds of node-sized checkpoints. */
  def qHits(s: SparkSession, d: String, iters: Int = 12,
      topK: Int = 20): DataFrame = {
    val edges = orders(s, d).select(col("o_custkey").as("c"), col("o_orderkey").as("o"))
      .join(lineitem(s, d).select(col("l_orderkey").as("o"), col("l_partkey").as("p")), Seq("o"))
      .select("c", "p").distinct()
      .cutLineage()
    // the boundary counts customers, as the fallback's one did; the
    // parts' blocks follow them. Neither path's result reads `edges`.
    val (auths, hubs) = try EdgeBlocks.pack(edges, symmetric = false) match {
      case Some(byC) => Using.resource(byC) { byC =>
        Using.resource(EdgeBlocks.pack(edges.select("p", "c"), symmetric = false,
          bounded = false).get)(hitsLocal(s, byC, _, iters))
      }
      case None =>
        val custs = edges.select("c").distinct().cutLineage()
        val nC = custs.count()
        // L1-renormalize to Σ = 10¹² with integer div (remainder ≤ #nodes
        // picos — sub-ppm — vanishes identically on both recomputes). The
        // product s·10¹² tops 64 bits (s can carry a whole round's
        // un-normalized mass), so it rides DECIMAL(38,0) and lands back
        // in BIGINT after the div.
        def renorm(scores: DataFrame, key: String): DataFrame = {
          val row = scores.agg(sum("s")).collect()(0)
          // an empty edge set (or an all-zero round) yields a NULL/0 sum —
          // fail with a clear message instead of an NPE / div-by-zero
          require(!row.isNullAt(0) && row.getLong(0) > 0,
            s"HITS renorm: total $key mass is empty or zero — graph has no edges")
          val tot = row.getLong(0)
          scores.select(col(key),
            expr(s"CAST(CAST(s AS DECIMAL(38,0)) * $HitsScale div $tot AS BIGINT)")
              .as("s"))
        }
        var hubs = custs.select(col("c"), lit(HitsScale / math.max(nC, 1L)).as("s"))
          .cutLineage()
        var auths: DataFrame = null
        // the raw rollup is checkpointed FIRST, so the mass sum and the
        // renorm select are both node-sized reads of checkpointed blocks
        // and each half-round pays its edge join exactly once
        var prevA: DataFrame = null
        var prevH: DataFrame = null
        for (_ <- 1 to iters) {
          val rawA = edges.join(hubs, Seq("c"))
            .groupBy("p").agg(sum("s").as("s")).cutLineage()
          if (prevA ne null) Iterate.release(prevA) // superseded half-round
          prevA = rawA
          auths = renorm(rawA, "p")
          val rawH = edges.join(auths, Seq("p"))
            .groupBy("c").agg(sum("s").as("s")).cutLineage()
          if (prevH ne null) Iterate.release(prevH)
          prevH = rawH
          hubs = renorm(rawH, "c")
        }
        (auths, hubs)
    } finally Iterate.release(edges)
    val topA = auths.orderBy(col("s").desc, col("p"))
      .limit(topK)
      .select(lit("authority").as("role"), col("p").as("node"),
        col("s").as("score_pico"))
    val topH = hubs.orderBy(col("s").desc, col("c"))
      .limit(topK)
      .select(lit("hub").as("role"), col("c").as("node"),
        col("s").as("score_pico"))
    topA.unionAll(topH).orderBy(col("role"), col("score_pico").desc, col("node"))
  }

  private val HitsScale = 1000000000000L

  /** q365 on edge blocks: customers' blocks (`byC`) and parts' blocks
    * (`byP`), each half-round one block sum plus [[hitsRenorm]]; returns
    * the authorities (p, s) and the hubs (c, s). */
  private def hitsLocal(s: SparkSession, byC: EdgeBlocks, byP: EdgeBlocks,
      iters: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val sumNbrs = (b: EdgeBlock, ids: Array[Long], x: Array[Long]) =>
      b.perKey { (from, until) =>
        var t = 0L
        var e = from
        while (e < until) { t = Math.addExact(t, x(EdgeBlocks.at(ids, b.nbr(e)))); e += 1 }
        t
      }
    var hub = Array.fill(byC.size)(HitsScale / math.max(byC.size, 1L))
    var auth = Array.emptyLongArray
    for (_ <- 1 to iters) {
      auth = hitsRenorm(byP.round(hub, byC)(sumNbrs), "p")
      hub = hitsRenorm(byC.round(auth, byP)(sumNbrs), "c")
    }
    (byP.ids.indices.map(i => (byP.ids(i), auth(i))).toDF("p", "s"),
      byC.ids.indices.map(i => (byC.ids(i), hub(i))).toDF("c", "s"))
  }

  /** One HITS L1 renormalization to Σ = 10¹² picos, `x·10¹² div Σx` —
    * exact, like the distributed path's DECIMAL(38,0) ride. A total past
    * `Long.MaxValue` raises, as the distributed path's ANSI `sum` does. */
  private[graft] def hitsRenorm(raw: Array[Long], key: String): Array[Long] = {
    val tot = raw.foldLeft(0L)((a, x) => Math.addExact(a, x))
    require(tot > 0,
      s"HITS renorm: total $key mass is empty or zero — graph has no edges")
    raw.map(x => (BigInt(x) * HitsScale / tot).toLong)
  }
}
