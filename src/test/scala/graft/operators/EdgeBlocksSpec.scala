package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The graph loops' two strategies: edge blocks with driver-side node
  * state under `rankBroadcastMaxNodes`, the distributed loop past it.
  * Both must give bit-equal rows, and under the boundary each extra
  * round must cost exactly one Spark job. */
class EdgeBlocksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `body`'s rows under the default boundary and with every graph past
    * it (maxNodes = 0); the local run must leave no persisted RDD. */
  private def bothPaths(body: => DataFrame): (Seq[String], Seq[String]) = {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val local = rows(body)
    // subset, not equality: the context cleaner may drop older RDDs meanwhile
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted),
      "edge blocks must be unpersisted when the loop returns")
    spark.conf.set(Iterate.MaxNodesKey, "0")
    try (local, rows(body))
    finally spark.conf.unset(Iterate.MaxNodesKey)
  }

  private def assertBothPathsAgree(body: => DataFrame): Unit = {
    val (local, distributed) = bothPaths(body)
    assert(local.nonEmpty)
    assert(local == distributed)
  }

  private def cliques: DataFrame = {
    import spark.implicits._
    val c1 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val c2 = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    (c1 ++ c2 :+ ((5L, 10L))).toDF("u", "v")
  }

  /** The q253 backbone: co-purchase pairs sharing ≥ 2 orders. */
  private def backbone: DataFrame = Graph.orderPartPairs(spark, sf)
    .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    .filter(col("w") >= 2).select("u", "v")

  test("q171: edge-block and distributed BFS agree bit-exactly") {
    assertBothPathsAgree(Graph.qBfsHops(spark, sf))
  }

  test("q184: edge-block and distributed k-core agree bit-exactly") {
    assertBothPathsAgree(Graph.qKCore(spark, sf))
    import spark.implicits._
    val clique = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val tail = Seq((5L, 10L), (10L, 11L), (5L, 11L), (11L, 20L), (20L, 21L))
    assertBothPathsAgree(Graph.kCoreHistogram((clique ++ tail).toDF("u", "v")))
  }

  test("label propagation: edge-block and distributed rounds agree bit-exactly") {
    assertBothPathsAgree(Graph.labelPropagation(backbone, rounds = 5))
    assertBothPathsAgree(Graph.labelPropagation(cliques, rounds = 5))
  }

  test("q365: edge-block and distributed HITS agree bit-exactly") {
    assertBothPathsAgree(Graph.qHits(spark, sf))
  }

  test("q365: the renorm raises when the total mass overflows") {
    assert(Graph.hitsRenorm(Array(1L, 3L), "p").toSeq ==
      Seq(250000000000L, 750000000000L))
    intercept[ArithmeticException](Graph.hitsRenorm(Array(Long.MaxValue, 1L), "p"))
    intercept[ArithmeticException](
      Graph.hitsRenorm(Array(Long.MaxValue / 2 + 1, Long.MaxValue / 2 + 1), "c"))
  }

  /** Runs `body` under job group `group`. The status tracker and the
    * listeners fill from the listener bus in event order, so once a
    * marker job run after `body` is visible, so is every job of `body`. */
  private def inGroup(group: String)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(group + "-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(group + "-marker").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Spark jobs `body` starts, counted through the status tracker. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"edge-blocks-${java.util.UUID.randomUUID()}"
    inGroup(group)(body)
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("past the boundary pack builds and persists no blocks") {
    val group = s"edge-blocks-${java.util.UUID.randomUUID()}"
    val persisted = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          for (st <- e.stageInfos; r <- st.rddInfos if r.storageLevel.isValid)
            persisted.add(r.name)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set(Iterate.MaxNodesKey, "0")
    try inGroup(group)(assert(Iterate.EdgeBlocks.pack(cliques, symmetric = true).isEmpty))
    finally {
      spark.conf.unset(Iterate.MaxNodesKey)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(persisted.isEmpty, s"persisted RDDs: $persisted")
  }

  test("under the boundary each extra round costs exactly one Spark job") {
    val q163 = (iters: Int) =>
      jobsOf(Graph.qCopurchaseRank(spark, sf, iters = iters).collect())
    assert(q163(8) - q163(4) == 4)
    val lpa = (rounds: Int) => jobsOf(Graph.labelPropagation(backbone, rounds).collect())
    assert(lpa(5) - lpa(3) == 2)
  }
}
