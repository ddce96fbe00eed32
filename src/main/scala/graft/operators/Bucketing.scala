package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table-layout planning queries: q154 states the file-skipping argument
  * of a z-ordered layout as data (per Morton bucket, the row count and
  * 2-D key bounding box a z-ordered file would carry as zone-map
  * statistics), and q198 plans a small-file compaction (pack a table's
  * write chunks into size-targeted bins). Both are read-only: they
  * report what a layout or maintenance pass would do, and neither
  * writes a table.
  *
  * The reference has no table layer at all (its keyspace is hash-slots,
  * `redisgears_core/src/background_run_ctx.rs:94-99` routes by slot).
  */
object Bucketing {

  import Tables._

  /** Morton spread: distribute a 16-bit value's bits to the even bit
    * positions of a 32-bit lane (the classic magic-mask doubling walk),
    * as a pure `Column` shift/mask chain — whole-stage-codegen'd, no
    * UDF. */
  private[operators] def spread16(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    var x = c
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
    x
  }

  /** q154: the Morton-curve bucket map of a z-ordered layout, as an
    * oracle-checkable query — scale each lineitem key to a 16-bit grid
    * cell over its observed [min, max] domain (EXACT integer
    * arithmetic: `(key−min)·65535 div (max−min)`, no doubles),
    * bit-interleave into a Morton code, take the top 6 of the 32
    * z-bits = 64 buckets, and report each bucket's row count and 2-D
    * bounding box. The per-bucket min/max spans ARE the parquet
    * zone-map statistics a z-ordered file would carry; that every
    * bucket's box covers ~1/64th of the key plane (vs a 1-D sort,
    * where the second key's span stays full-domain in every file) is
    * the file-skipping argument, stated as data. Pure integer
    * shift/mask arithmetic end to end — codegen'd here, bit-identical
    * SQL in the oracle. Scale: one footer-cheap min/max agg + one
    * scan collapsed onto ≤64 groups. */
  def qZorderStats(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val mm = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    def grid(c: String, lo: Long, hi: Long) =
      if (hi == lo) lit(0L)
      else expr(s"(($c - ${lo}L) * 65535L) div ${hi - lo}L")
    val z = spread16(grid("l_partkey", mm.getLong(0), mm.getLong(1)))
      .bitwiseOR(shiftleft(spread16(grid("l_suppkey", mm.getLong(2), mm.getLong(3))), 1))
    li.select(col("l_partkey"), col("l_suppkey"),
        shiftright(z, 26).cast("int").as("zbucket"))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n"),
        min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
        min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
  }

  /** q198: small-file compaction plan — the table-MAINTENANCE verb
    * (Delta/Iceberg OPTIMIZE's planning phase, and what Spark's own
    * `maxPartitionBytes` split coalescing does to input files at read
    * time): per source, the
    * document corpus's small "files" (50-doc write chunks with their
    * byte weights) are packed into contiguous size-targeted output
    * bins by cumulative offset — file → bin `floor(prev_cum ÷
    * target)` — and the plan reports each bin's file count, bytes,
    * and fill. A 100 TB table written by thousands of streaming
    * micro-batches decays into millions of KB-files; this plan is
    * what turns the rewrite into few sequential, source-local merges.
    * Contiguity (pack in file order, never re-sort by size) is what
    * keeps any range/z-order layout the table already has.
    *
    * All-integer arithmetic (hash-exact); one file-granularity rollup
    * + one per-source prefix-sum window over file counts — both
    * orders of magnitude below row scale. */
  def qCompactionPlan(s: SparkSession, d: String,
      targetBytes: Long = 65536L): DataFrame = {
    val files = documents(s, d)
      .groupBy(col("source"), expr("doc_id div 50").as("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    val w = Window.partitionBy("source").orderBy("file_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("prev_cum", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"prev_cum div ${targetBytes}L"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("n_docs")).as("n_docs"),
        sum(col("bytes")).as("bin_bytes"))
      .withColumn("fill_bp", expr(s"bin_bytes * 10000 div ${targetBytes}L"))
  }
}
