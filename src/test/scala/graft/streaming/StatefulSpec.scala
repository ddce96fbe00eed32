package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** mapGroupsWithState carries per-key state ACROSS micro-batches
  * through the query's state store — the property the reference's
  * per-consumer stream state has and a per-batch flatMapGroups lacks. */
class StatefulSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("funnel state machine: cross-batch progress, ties, within-batch disorder") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val name = "funnel_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Stateful.funnelStages(mem.toDS()).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Update())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("funnel").toString)
      .start()

    // batch 1 (earlier event times): u1 views; u2's click lands BEFORE
    // its view in the same batch (disorder the per-batch sort must fix);
    // u3 views
    mem.addData((1L, "view", 10L), (2L, "click", 5L), (2L, "view", 10L),
      (3L, "view", 0L))
    q.processAllAvailable()
    // batch 2: u1 clicks at EXACTLY its view time's microsecond (ties
    // qualify) and purchases at exactly view + 24 h (cap is inclusive);
    // u2 clicks after its view; u3 purchases WITHOUT a click (no-op)
    mem.addData((1L, "click", 10L), (1L, "purchase", 86400000010L),
      (2L, "click", 20L), (3L, "purchase", 100L))
    q.processAllAvailable()
    q.stop()

    // set-once fields: max per column over update-mode emissions = final
    import org.apache.spark.sql.functions.{max => fmax}
    val fin = spark.table(name).groupBy("user_id")
      .agg(fmax("v_us").as("v"), fmax("c_us").as("c"), fmax("p_us").as("p"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(fin(1L) === ((10L, 10L, 86400000010L))) // full funnel on both ties
    assert(fin(2L) === ((10L, 20L, -1L))) // pre-view click never counted
    assert(fin(3L) === ((0L, -1L, -1L))) // purchase without click is a no-op
  }
}
