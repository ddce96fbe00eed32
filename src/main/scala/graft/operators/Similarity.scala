package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the full corpus; O(corpus) work fully parallel, the only
  * shuffle is the per-query top-k (TakeOrdered-style via window + filter
  * on a tiny intermediate).
  *
  * Scale path: sign-LSH (random hyperplanes) bucketing — the corpus is
  * hashed once into buckets; a query probes only its own bucket. Recall
  * is probabilistic (covered by SimilaritySpec vs brute force); the
  * candidate set shrinks by ~2^nbits.
  */
object Similarity {

  import Tables._

  /** Brute-force cosine top-k for a broadcast query set.
    * @param queries (query_id, embedding) — small, broadcast.
    * @param corpus  (vec_id, embedding) — large, scanned once. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosineSimilarity(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor"),
        round(col("cos"), 4).as("cosine"))
  }

  private def queriesDf(s: SparkSession, d: String, n: Int = 5): DataFrame =
    embeddings(s, d).filter(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** q191: retrieval-quality evaluation — NDCG@10, hits and recall of
    * brute-force cosine retrieval against LABEL relevance for the
    * first 100 query vectors: the audit that closes the ANN family
    * (q32–q93 build retrieval; nothing measured whether retrieval
    * finds the right class). Per-rank relevance flags pivot to
    * COLUMNS, so DCG and the ideal DCG are fixed-order expression
    * folds (r1/ln2 + r2/ln3 + …) — bit-identical across engines where
    * a SUM over rank rows would be addition-order-dependent; the
    * ln-base cancels in the ratio, and NDCG needs no log2-vs-ln
    * convention. Cosine ties broken by vec_id (the q32 rule).
    *
    * Scale shape: one corpus scan against a broadcast query set
    * (q32's plan) + a label-size broadcast; everything after the
    * top-k is 100 rows. Swap the brute leg for the q89/q93 persisted
    * indexes to audit ANN recall at corpus scale. */
  /** q351: MRR and MAP@10 over the q191 retrieval fixture — the two
    * remaining STANDARD IR metrics beside NDCG (NDCG grades graded
    * relevance with position discount; MRR grades "how fast to the
    * FIRST hit" — the navigational read — and AP the full
    * precision-ordered ranking): per query, the first-hit rank, its
    * reciprocal, and average precision at 10.
    *
    * Exactness/determinism: the rank flags are q191's construction
    * verbatim (deterministic (cos DESC, vec_id) rank); first-hit is a
    * fixed CASE chain, and AP folds ten fixed terms
    * rᵢ·(Σ_{j≤i}rⱼ)/i — doubles of exact 0/1 integers, identical on
    * both engines, rounded 6.
    *
    * Scale shape: q191's — one corpus scan against the broadcast
    * query set, per-query top-k windows over the query-partitioned
    * score table. */
  def qMrrMap(s: SparkSession, d: String, nQ: Int = 100, k: Int = 10): DataFrame = {
    val qs = embeddings(s, d).filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val corpus = embeddings(s, d).select("vec_id", "embedding", "label")
    val ranked = corpus.crossJoin(broadcast(qs))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_label"), col("vec_id"), col("label"),
        cosineSimilarity(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .withColumn("rel", (col("label") === col("q_label")).cast("int"))
    val aggs = (1 to k).map(i =>
      max(when(col("rank") === i, col("rel"))).as(s"r$i"))
    val flags = ranked.groupBy("query_id", "q_label")
      .agg(aggs.head, aggs.tail: _*)
    val classSize = corpus.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("csize"))
    val firstHit = (1 to k).reverse.foldLeft(lit(-1L)) { (acc, i) =>
      when(col(s"r$i") === 1, lit(i.toLong)).otherwise(acc)
    }
    val apTerms = (1 to k).map { i =>
      val cum = (1 to i).map(j => col(s"r$j").cast("double")).reduce(_ + _)
      col(s"r$i").cast("double") * cum / lit(i.toDouble)
    }.reduce(_ + _)
    flags.join(broadcast(classSize), Seq("q_label"))
      .select(col("query_id"), (col("csize") - 1).as("n_relevant"),
        firstHit.as("first_hit_rank"),
        round(when(firstHit > 0, lit(1.0) / firstHit.cast("double"))
          .otherwise(lit(0.0)), 6).as("rr"),
        round(apTerms /
          least(lit(k.toLong), col("csize") - 1).cast("double"), 6)
          .as("ap_at_10"))
  }

  def qNdcg(s: SparkSession, d: String, nQ: Int = 100, k: Int = 10): DataFrame = {
    val qs = embeddings(s, d).filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val corpus = embeddings(s, d).select("vec_id", "embedding", "label")
    val ranked = corpus.crossJoin(broadcast(qs))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_label"), col("vec_id"), col("label"),
        cosineSimilarity(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .withColumn("rel", (col("label") === col("q_label")).cast("int"))
    val aggs = (1 to k).map(i =>
      max(when(col("rank") === i, col("rel"))).as(s"r$i"))
    val flags = ranked.groupBy("query_id", "q_label")
      .agg(aggs.head, aggs.tail: _*)
    val classSize = corpus.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("csize"))
    // fixed-order folds: identical expression trees on both engines
    val dcg = (1 to k).map(i => col(s"r$i").cast("double") /
      math.log(i + 1.0)).reduce(_ + _)
    val idcg = (1 to k).map(i =>
      when(col("csize") - 1 >= i, lit(1.0 / math.log(i + 1.0)))
        .otherwise(lit(0.0))).reduce(_ + _)
    val hits = (1 to k).map(i => col(s"r$i").cast("long")).reduce(_ + _)
    flags.join(broadcast(classSize), Seq("q_label"))
      .select(col("query_id"), (col("csize") - 1).as("n_relevant"),
        hits.as("hits_at_10"),
        round(hits.cast("double") /
          least(lit(k.toLong), col("csize") - 1).cast("double"), 6)
          .as("precision_vs_ideal"),
        round(dcg / idcg, 6).as("ndcg_at_10"))
  }

  /** Top-10 cosine neighbors for the first 5 vectors (deterministic,
    * oracle-checkable in DuckDB with double-precision cosine). */
  def qBruteForceTopK(s: SparkSession, d: String): DataFrame =
    bruteForceTopK(queriesDf(s, d),
      embeddings(s, d).select("vec_id", "embedding"), 10)

  /** q254: hard-negative mining — for each query vector, the top-k
    * most-similar vectors with a DIFFERENT label: the contrastive-
    * training data miner (the negatives that sit closest to the
    * anchor are the ones a triplet/InfoNCE loss learns from —
    * random negatives are trivially separable; see Robinson et al.
    * ICLR'21 on hard-negative sampling). Composes q32's brute
    * kernel with the label-inequality predicate; swap the brute leg
    * for the q93 persisted IVF-PQ index + a post-filter at corpus
    * scale (the q225 composition precedent).
    *
    * Determinism: q32's contract — double-precision cosine, ties by
    * vec_id, rank cut under a total order; the label filter only
    * shrinks the candidate set.
    *
    * Scale shape: one corpus scan against a broadcast query set,
    * per-query TakeOrdered heads; the filter pushes to the scan. */
  def qHardNegatives(s: SparkSession, d: String, nQ: Int = 5,
      k: Int = 10): DataFrame = {
    val qs = embeddings(s, d).filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    embeddings(s, d).select("vec_id", "embedding", "label")
      .crossJoin(broadcast(qs))
      .filter(col("label") =!= col("q_label"))
      .select(col("query_id"), col("q_label"), col("vec_id"), col("label"),
        cosineSimilarity(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc,
          col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("q_label"), col("rank"),
        col("vec_id").as("negative"), col("label").as("neg_label"),
        round(col("cos"), 4).as("cosine"))
  }

  /** q260: k-fold cross-validated nearest-centroid classification —
    * the supervised-eval discipline the q230/q231/q232 harness lacks
    * a TRAINED model for: the simplest embedding classifier
    * (Rocchio/nearest-centroid), evaluated the only honest way —
    * per-fold accuracy with the evaluated fold held out of every
    * centroid it is scored against.
    *
    * Leave-fold-out WITHOUT k re-aggregations: per-(label, fold, dim)
    * partial sums roll up ONCE; fold f's centroid for a label is
    * (total − fold_f) / (n_label − n_label_f) — the algebraic
    * complement, so adding a fold costs nothing. Folds are md5-bit
    * buckets (q252's device — reproducible on any engine). The
    * centroid vector assembles deterministically (sort by dim) and
    * scoring uses the codegen'd fixed-order cosine (q32's
    * determinism), argmax ties to the lowest label.
    *
    * Scale shape: one posexplode rollup (|labels|·folds·dims cells),
    * a broadcast of folds·|labels| centroid arrays against the corpus
    * scan, one fold-sized report. */
  def qCvCentroid(s: SparkSession, d: String, folds: Int = 5): DataFrame = {
    val vecs = embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("e"),
      expr(s"""CAST(conv(substring(md5(CAST(CAST(vec_id AS STRING) AS BINARY)),
              1, 4), 16, 10) AS INT) % $folds""").as("fold"))
      .localCheckpoint()
    val long = vecs.select(col("label"), col("fold"),
      posexplode(col("e")).as(Seq("dim", "v")))
    val sums = long.groupBy("label", "fold", "dim")
      .agg(sum(col("v")).as("sf"))
    val tot = sums.groupBy("label", "dim").agg(sum(col("sf")).as("st"))
    val cnt = vecs.groupBy("label", "fold").agg(count(lit(1)).as("nlf"))
    val ctot = vecs.groupBy("label").agg(count(lit(1)).as("nl"))
    val cent = sums.join(tot, Seq("label", "dim"))
      .join(cnt, Seq("label", "fold")).join(ctot, Seq("label"))
      .select(col("fold"), col("label").as("cand"), col("dim"),
        ((col("st") - col("sf")) / (col("nl") - col("nlf")).cast("double"))
          .as("c"))
    val centArr = cent.groupBy("fold", "cand")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), x -> x.c)")
        .as("cvec"))
    val pred = vecs.join(broadcast(centArr), Seq("fold"))
      .select(col("vec_id"), col("label"), col("fold"), col("cand"),
        cosineSimilarity(col("e"), col("cvec")).as("cos"))
      .groupBy("vec_id", "label", "fold")
      .agg(max(struct(col("cos"),
        (-col("cand")).cast("double").as("neg"))).as("m"))
      .select(col("fold"), col("label"),
        (-col("m.neg")).cast("int").as("pred"))
    pred.groupBy("fold")
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") === col("pred"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("fold"), col("n"), col("n_correct"),
        expr("n_correct * 1000000L div n").as("acc_ppm"))
  }

  /** q266: hard-negative mining through the PERSISTED IVF index —
    * the scale path q254's scaladoc promises, made real: candidates
    * come from the partition-pruned probed-cells scan
    * ([[ivfSearchFromIndex]], over-fetched 4×k so the label filter
    * has slack), labels join back on the candidate set only (k·4
    * rows per query, never the corpus), then the different-label
    * re-rank cuts to k. At 100 TB this replaces q254's full corpus
    * scan with nprobe cell directories per query batch.
    *
    * Rows-only (probabilistic recall, q89's argument); SimilaritySpec
    * pins: every returned negative has a different label and its true
    * cosine; recall ≥ floor against the exact q254 top-k. */
  def qHardNegativesIvf(s: SparkSession, d: String, nQ: Int = 5,
      k: Int = 10, nprobe: Int = 3): DataFrame = {
    val qs = embeddings(s, d).filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val cand = ivfSearchFromIndex(s, ivfIndexDir(s, d),
      qs.select("query_id", "q_emb"), nprobe, k * 4)
    val labels = embeddings(s, d)
      .select(col("vec_id").as("neighbor"), col("label").as("neg_label"))
    cand.join(labels, Seq("neighbor"))
      .join(broadcast(qs.select("query_id", "q_label")), Seq("query_id"))
      .filter(col("neg_label") =!= col("q_label"))
      .withColumn("rank2", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor").asc)))
      .filter(col("rank2") <= k)
      .select(col("query_id"), col("q_label"), col("rank2").as("rank"),
        col("neighbor").as("negative"), col("neg_label"), col("cosine"))
  }

  /** q116: hybrid lexical+semantic retrieval via reciprocal-rank fusion
    * (Cormack et al., SIGIR'09 — the standard way RAG stacks combine a
    * BM25 leg with a dense-vector leg without score calibration):
    * each leg produces its own top-`legN` ranking (lexical = q112's
    * BM25 over the query terms; semantic = cosine against a query
    * embedding, here vec 0's), and a document's fused score is
    * Σ_legs 1/(rrfK + rank) over the legs that retrieved it. Ranks are
    * integers, so fusion is EXACTLY deterministic — float order only
    * picks each leg's internal ranking, the q32/q112 precedent.
    * Shape at scale: both legs end in TakeOrderedAndProject
    * (per-partition heads, no global sort), fusion is a full-outer
    * join of two legN-row tables — driver-sized by construction.
    * Truncated-list fusion is not an approximation dodge; it IS the
    * published method (RRF is defined over per-system top-k lists). */
  def qHybridRrf(s: SparkSession, d: String,
      query: Seq[String] = Seq("stream", "join", "window"),
      k: Int = 20, legN: Int = 100, rrfK: Int = 60): DataFrame = {
    val rankW = Window.orderBy(col("score").desc, col("doc_id").asc)
    // lexical leg: BM25, self-id 0 excluded for parity with the
    // semantic leg (vec 0 is the query)
    val lex = TextAnalysis.bm25Scores(s, d, query)
      .filter(col("doc_id") =!= 0)
      .orderBy(col("score").desc, col("doc_id").asc).limit(legN)
      .withColumn("r_lex", row_number().over(rankW))
      .select(col("doc_id"), col("r_lex"))
    // semantic leg: cosine against vec 0's embedding
    val qv = embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val sem = embeddings(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        cosineSimilarity(col("q_emb"), col("embedding")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(legN)
      .withColumn("r_sem", row_number().over(rankW))
      .select(col("doc_id"), col("r_sem"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_sem"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_sem")), lit(0.0))).as("rrf"))
    fused.orderBy(col("rrf").desc, col("doc_id").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id").asc)))
      .select(col("rank"), col("doc_id"), col("r_lex"), col("r_sem"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** SQ8 scalar quantization of an embedding column: per-vector scale
    * = max|x|/127, elements rounded to int8 and stored as
    * ARRAY<TINYINT> — 1 byte per dimension at rest (4× less than
    * float32, the first memory lever of any billion-vector corpus).
    * Cosine is per-vector-scale-invariant, so similarity search runs
    * DIRECTLY on the int8 codes cast to float — the scale column is
    * only needed to reconstruct magnitudes. All codegen'd column ops;
    * no UDFs. */
  /** q106: per-dimension embedding standardization statistics — the
    * feature-whitening audit an ANN/similarity pipeline runs before
    * trusting cosine or L2 (a dimension whose scale dwarfs the rest
    * silently dominates every distance; a dead dimension wastes code
    * budget in SQ8/PQ). One posexplode + a 64-group partial agg:
    * shuffle volume is dims × partitions regardless of corpus size.
    * Fully hash-checked (count/mean/stddev/min/max per dimension). */
  def qEmbeddingStats(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count("*").as("n"),
        round(avg("v"), 4).as("mean"),
        round(stddev("v"), 4).as("std"),
        round(min("v"), 4).as("vmin"),
        round(max("v"), 4).as("vmax"))

  /** q120: Matryoshka truncation-fidelity audit — the serving-dimension
    * decision number for prefix-truncatable embeddings (Kusupati et al.
    * '22): for each candidate prefix length d', how far does the
    * truncated cosine drift from the full-dimension cosine on real
    * neighbor pairs? Pairs are (vec i, vec i+1) — a deterministic,
    * corpus-sized sample — and each pair contributes |cos_d' − cos_64|.
    * Output per d': mean/max drift and mean truncated cosine. One
    * self-join on adjacent ids (equi-join, no fanout) exploded by 4
    * candidate dims — row-local math, dims-sized result; at 100 TB the
    * pair sample would be hash-sampled instead of adjacent-id, same
    * plan. Drives the choice q66/q91 then compress. */
  def qMatryoshka(s: SparkSession, d: String,
      dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val pairs = e.select(col("vec_id"), col("embedding").as("x"))
      .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("y")),
        Seq("vec_id"))
    val full = cosineSimilarity(col("x"), col("y"))
    pairs.select(col("vec_id"), full.as("cos_full"),
        explode(array(dims.map(lit): _*)).as("dprime"),
        col("x"), col("y"))
      .select(col("dprime"), col("cos_full"),
        cosineSimilarity(slice(col("x"), lit(1), col("dprime")),
          slice(col("y"), lit(1), col("dprime"))).as("cos_trunc"))
      .groupBy("dprime")
      .agg(count("*").as("n_pairs"),
        round(avg(abs(col("cos_trunc") - col("cos_full"))), 6).as("mean_drift"),
        round(max(abs(col("cos_trunc") - col("cos_full"))), 6).as("max_drift"),
        round(avg(col("cos_trunc")), 6).as("mean_cos"))
  }

  /** q121: PCA variance audit — the intrinsic-dimensionality datasheet
    * for an embedding column (what q106 is per-dimension, this is
    * per-principal-component): fit a k-component PCA and report each
    * component's explained-variance share plus the cumulative curve —
    * the number that says whether 64 dims are 16 dims in a trench coat
    * (and what q120's truncation is giving away vs an optimal rotation).
    * Spark ML's PCA is the right engine shape at 100 TB: one
    * distributed pass builds the 64×64 covariance, the eigensolve is
    * driver-side on that tiny matrix, and no data leaves the executors.
    * Rows-only (eigen decomposition is not SQL-expressible);
    * SimilaritySpec pins the spectrum against variance identities. */
  def qPcaVariance(s: SparkSession, d: String, k: Int = 16): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = embeddings(s, d)
      .select(array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new PCA().setInputCol("features").setK(k).fit(vecs)
    import s.implicits._
    model.explainedVariance.toArray.zipWithIndex
      .map { case (v, i) => (i + 1, v) }.toSeq
      .toDF("component", "var_ratio")
      .withColumn("cum_ratio",
        sum("var_ratio").over(org.apache.spark.sql.expressions.Window
          .orderBy("component")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("component"), round(col("var_ratio"), 6).as("var_ratio"),
        round(col("cum_ratio"), 6).as("cum_ratio"))
  }

  /** q107: SQ8 reconstruction-error audit — grounds q66's quantized
    * serving path with the number a pipeline actually decides on: the
    * per-vector absolute reconstruction error of the SAME symmetric
    * max-abs/127 scheme [[quantizeSq8]] applies (code = round(v/scale),
    * recon = code·scale). q66's spec pins recall on one dataset; this
    * op is the per-corpus health check that says whether int8 is safe
    * for THIS corpus before the index is built. Row-local arithmetic
    * plus one per-vector agg — single scan, no shuffle beyond the
    * vec_id partial agg; fully hash-checked. */
  def qSq8Error(s: SparkSession, d: String): DataFrame = {
    val x = col("embedding").cast("array<double>")
    embeddings(s, d)
      .select(col("vec_id"), x.as("x"))
      .withColumn("scale", array_max(transform(col("x"), v => abs(v))) / lit(127.0))
      .select(col("vec_id"), col("scale"), posexplode(col("x")).as(Seq("dim", "v")))
      .withColumn("recon", when(col("scale") === 0, lit(0.0))
        .otherwise(round(col("v") / col("scale")) * col("scale")))
      .groupBy("vec_id")
      .agg(round(first("scale"), 6).as("scale"),
        round(avg(abs(col("v") - col("recon"))), 6).as("mean_abs_err"),
        round(max(abs(col("v") - col("recon"))), 6).as("max_abs_err"))
  }

  def quantizeSq8(e: DataFrame, vecCol: String): DataFrame = {
    val scale = array_max(transform(col(vecCol), x => abs(x))) / lit(127.0)
    e.withColumn("scale", scale)
      .withColumn("q8",
        when(col("scale") === 0, transform(col(vecCol), _ => lit(0).cast("byte")))
          .otherwise(transform(col(vecCol),
            x => round(x / col("scale")).cast("byte"))))
  }

  /** q66: brute-force top-k over the SQ8-QUANTIZED corpus — the memory-
    * bound scale variant of q32: the scan side holds int8 codes (4×
    * smaller working set; at 100 TB this is the difference between a
    * corpus that fits executor memory and one that doesn't), and the
    * kernel is the same codegen'd cosine over the codes (scale cancels
    * in cosine, so no dequantization multiply is even needed).
    * Quantization error makes ranks approximate → rows-only in the
    * gate; SimilaritySpec pins recall@10 vs exact float and a cosine
    * error bound. */
  def qSq8TopK(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val corpus = quantizeSq8(embeddings(s, d).select("vec_id", "embedding"), "embedding")
      .select(col("vec_id"),
        transform(col("q8"), b => b.cast("float")).as("embedding"))
    val queries = quantizeSq8(queriesDf(s, d).withColumnRenamed("q_emb", "embedding"),
        "embedding")
      .select(col("query_id"),
        transform(col("q8"), b => b.cast("float")).as("q_emb"))
    bruteForceTopK(queries, corpus, k)
  }

  /** LSH-bucketed ANN: multi-table sign-LSH — the corpus is hashed into
    * `tables` independent bucket families; a query MULTI-PROBES its own
    * bucket plus every bucket at Hamming distance 1 in each table
    * (the near buckets hold the vectors that fell just across one
    * hyperplane — the dominant source of missed neighbors). Probe
    * expansion happens only on the tiny query side: the corpus is
    * still hashed ONCE into one bucket per table, so corpus-side work
    * is unchanged at any scale. Probabilistic recall — no SQL oracle;
    * SimilaritySpec measures recall vs brute force. */
  def qLshTopK(s: SparkSession, d: String, nbits: Int = 6, tables: Int = 4,
      multiProbe: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val corpus = embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        explode(signLshBuckets(col("embedding"), nbits, tables)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val exact = queriesDf(s, d)
      .select(col("query_id"), col("q_emb"),
        explode(signLshBuckets(col("q_emb"), nbits, tables)).as("tb"))
      .select(col("query_id"), col("q_emb"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket0"))
    val qs =
      if (!multiProbe) exact.withColumnRenamed("bucket0", "bucket")
      else exact
        .select(col("query_id"), col("q_emb"), col("tbl"),
          explode(expr(s"transform(sequence(0, $nbits), i -> " +
            "CASE WHEN i = 0 THEN bucket0 " +
            "ELSE bucket0 ^ shiftleft(1L, i - 1) END)")).as("bucket"))
    val scored = corpus.join(broadcast(qs), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosineSimilarity(col("q_emb"), col("embedding")).as("cos"))
      .groupBy("query_id", "vec_id").agg(max("cos").as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor"),
        round(col("cos"), 4).as("cosine"))
  }

  /** Centroid stats per label — the IVF coarse-quantizer building block
    * (mean vector per cluster), oracle-checkable as per-label sums. */
  def qLabelCentroids(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), col("embedding"))
      .groupBy("label")
      .agg(count("*").as("n"),
        round(sum(aggregate(col("embedding"), lit(0.0),
          (acc, v) => acc + v.cast("double"))), 4).as("sum_components"))

  /** IVF ANN with a TRAINED coarse quantizer: an MLlib k-means codebook
    * (fixed seed) learned from the embedding column itself — no label
    * column involved. The corpus is assigned to its nearest cell once;
    * a query scores the tiny centroid table, probes its `nprobe`
    * nearest cells by the assignment metric (euclidean, so the probe
    * ranking matches how vectors were binned), and ranks exact cosine
    * only among those cells' vectors. Work per query drops from
    * O(corpus) to O(corpus · nprobe / cells); the centroid table
    * broadcasts at any corpus size. At 100 TB the `fit` runs on a
    * bounded sample (`trainCap` rows) — the codebook quality depends on
    * the distribution, not the corpus size — while assignment and
    * probe-and-verify keep the same broadcast shapes. Probabilistic
    * recall — rows-only in the gate; SimilaritySpec pins the recall
    * floor on this unlabeled path and verifies every reported cosine
    * exactly. */
  def qIvfTopK(s: SparkSession, d: String, nprobe: Int = 3, k: Int = 10,
      cells: Int = 10, trainCap: Long = 100000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import s.implicits._
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("fv", array_to_vector(col("embedding")))
    // train on a LIMIT of the corpus rather than a count()-derived
    // sample fraction: the codebook quality depends on the value
    // distribution, not row count, and a limit avoids spending a whole
    // extra Spark job on counting the corpus before training
    val train = e.limit(math.min(trainCap, Int.MaxValue.toLong).toInt)
    val model = new KMeans().setK(cells).setSeed(42)
      .setFeaturesCol("fv").setPredictionCol("cell").fit(train)
    val assigned = model.transform(e).select(col("vec_id"), col("embedding"), col("cell"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq.toDF("cell", "centroid")
    val qs = queriesDf(s, d)
      .select(col("query_id"), col("q_emb").cast("array<double>").as("q_emb"))
    // probe: nearest nprobe cells per query (query-set × centroids,
    // both tiny → broadcast both sides of the small cross score)
    val d2 = expr("aggregate(zip_with(q_emb, centroid, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)")
    val probeW = Window.partitionBy("query_id").orderBy(col("d2").asc, col("cell").asc)
    val probed = qs.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cell"), d2.as("d2"))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nprobe)
      .select("query_id", "q_emb", "cell")
    // exact scoring inside the probed cells only
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosineSimilarity(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor"),
        round(col("cos"), 4).as("cosine"))
  }

  /** Build a PERSISTED IVF index — the build-once / query-many shape a
    * production vector store actually runs (q46 retrains its codebook
    * inside every query): the trained codebook lands in
    * `indexDir/centroids` and the corpus assignments land in
    * `indexDir/assignments` PARTITIONED BY CELL, so the cell id is a
    * directory, not a column value. Probing then becomes partition-
    * directory pruning: a query reads only its `nprobe` cell
    * directories off disk — at 100 TB the difference between touching
    * nprobe/cells of the corpus bytes and scanning all of them, before
    * any row is decoded. Same seeded KMeans + bounded `trainCap` fit as
    * [[qIvfTopK]], so both paths share a codebook given the same
    * params. */
  def buildIvfIndex(s: SparkSession, d: String, indexDir: String,
      cells: Int = 10, trainCap: Long = 100000): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import s.implicits._
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("fv", array_to_vector(col("embedding")))
    val train = e.limit(math.min(trainCap, Int.MaxValue.toLong).toInt)
    val model = new KMeans().setK(cells).setSeed(42)
      .setFeaturesCol("fv").setPredictionCol("cell").fit(train)
    model.transform(e).select(col("vec_id"), col("embedding"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/assignments")
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq.toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** ANN search over a persisted [[buildIvfIndex]] index. The probe
    * step scores the broadcast-sized centroid table, collects the
    * probed cell ids (nprobe · |queries| ints — a control-plane read,
    * not data), and pushes them as a STATIC partition filter into the
    * assignments scan: the plan lists only the probed cell directories
    * (spec-asserted), then ranks exact cosine among their vectors. */
  def ivfSearchFromIndex(s: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int = 3, k: Int = 10, excludeSelfId: Boolean = true): DataFrame = {
    val centroids = s.read.parquet(s"$indexDir/centroids")
    val qs = queries
      .select(col("query_id"), col("q_emb").cast("array<double>").as("q_emb"))
    val d2 = expr("aggregate(zip_with(q_emb, centroid, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)")
    val probeW = Window.partitionBy("query_id").orderBy(col("d2").asc, col("cell").asc)
    val probed = qs.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cell"), d2.as("d2"))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nprobe)
      .select("query_id", "q_emb", "cell")
    val probedCells = probed.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = s.read.parquet(s"$indexDir/assignments")
      .where(col("cell").isin(probedCells: _*))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    // excludeSelfId = false when query ids live in their own id space
    // (a colliding vec_id is a legitimate neighbor, not "self")
    val joined = assigned.join(broadcast(probed), Seq("cell"))
    (if (excludeSelfId) joined.filter(col("query_id") =!= col("vec_id")) else joined)
      .select(col("query_id"), col("vec_id"),
        cosineSimilarity(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor"),
        round(col("cos"), 4).as("cosine"))
  }

  /** q192: ANN recall audit — recall@10 of the persisted IVF index
    * against exact brute-force cosine, per probe budget (the standard
    * ANN benchmark metric; q191 asks "does retrieval find the right
    * CLASS", this asks "does the INDEX find the true neighbors").
    * Both legs rank by (cos desc, vec_id), so the overlap count per
    * query is a deterministic integer and the 1e4-scaled recall is
    * exact integer division — no float in the reported metric. The
    * probe sweep IS the index's tuning curve: nprobe=max(cells) must
    * reach recall 1.0 by construction (all cells scanned ⇒ brute),
    * and the spec pins both that ceiling and monotonicity.
    *
    * Scale shape: one brute scan (the ground truth — priced once) +
    * one partition-pruned probed-cells scan per budget; overlap is a
    * 100·k-row join. */
  def qAnnRecall(s: SparkSession, d: String, k: Int = 10, nQ: Int = 100,
      probes: Seq[Int] = Seq(1, 2, 3, 10)): DataFrame = {
    import s.implicits._
    val qs = queriesDf(s, d, nQ)
    val corpus = embeddings(s, d).select("vec_id", "embedding")
    val brute = bruteForceTopK(qs, corpus, k)
      .select(col("query_id"), col("neighbor")).localCheckpoint()
    val indexDir = ivfIndexDir(s, d)
    val nQueries = brute.select("query_id").distinct().count()
    // r12 OPTIMIZATION (guide §1.2): the probe budgets are nested —
    // the cells probed at nprobe=p are exactly the prank ≤ p prefix of
    // the nprobe=max(probes) ranking — so ONE probed-cells scan and ONE
    // exact-cosine pass serve every budget (the old loop re-collected
    // cells, re-scanned, and re-scored per budget). Each budget then
    // filters prank ≤ p and ranks over the checkpointed scored frame:
    // per-budget results identical to an independent
    // ivfSearchFromIndex(nprobe = p) run.
    val maxP = probes.max
    val centroids = s.read.parquet(s"$indexDir/centroids")
    val qcols = qs.select(col("query_id"), col("q_emb").cast("array<double>").as("q_emb"))
    val d2c = expr("aggregate(zip_with(q_emb, centroid, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)")
    val probeW = Window.partitionBy("query_id").orderBy(col("d2").asc, col("cell").asc)
    val probed = qcols.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cell"), d2c.as("d2"))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= maxP)
      .select("query_id", "q_emb", "cell", "prank")
    val probedCells = probed.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = s.read.parquet(s"$indexDir/assignments")
      .where(col("cell").isin(probedCells: _*))
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("prank"), col("vec_id"),
        cosineSimilarity(col("q_emb"), col("embedding")).as("cos"))
      .localCheckpoint()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    probes.map { p =>
      val ivf = scored.filter(col("prank") <= p)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id").as("q2"), col("vec_id").as("n2"))
      val overlap = brute.join(ivf,
        col("query_id") === col("q2") && col("neighbor") === col("n2"))
        .count()
      (p, nQueries, overlap, overlap * 10000L / (nQueries * k))
    }.toDF("nprobe", "n_queries", "n_overlap", "recall_x10000")
  }

  /** q89: ANN through the persisted index — the index is built once per
    * (warehouse, corpus) into a marker-guarded directory and every
    * call after that only probes it. Rows-only in the gate
    * (probabilistic recall, like q46); SimilaritySpec asserts the
    * results match the in-query IVF path given the shared codebook
    * seed, and that the assignments scan lists only the probed cell
    * directories. */
  def qIvfFromIndex(s: SparkSession, d: String, nprobe: Int = 3,
      k: Int = 10): DataFrame = {
    val indexDir = ivfIndexDir(s, d)
    ivfSearchFromIndex(s, indexDir, queriesDf(s, d), nprobe, k)
  }

  // ---------------------------------------------------------------------
  // Incremental IVF maintenance: append new vectors to a persisted index
  // without retraining or rebuilding — the ANN analogue of the
  // reference's streaming ingest (stream_reader.rs appends records to a
  // standing log; here arrivals append to a standing index). Build and
  // append share ONE deterministic assignment rule, so the incrementally
  // grown index is bit-identical to a from-scratch re-assignment under
  // the same codebook (spec-asserted).
  // ---------------------------------------------------------------------

  /** Assign (vec_id, embedding) rows to their nearest centroid with a
    * ROW-LOCAL codegen'd argmin: the codebook (≤ a few hundred cells ×
    * dims doubles) becomes an array literal, per-row squared-L2
    * distances come from one `transform`, and the cell is the FIRST
    * index attaining the min (ties → lowest cell id). No shuffle, no
    * crossJoin fanout — a 100 TB batch assigns in one scan. */
  def assignWithCodebook(batch: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val ordered = cents.sortBy(_._1)
    require(ordered.map(_._1) == ordered.indices.map(identity),
      "codebook cells must be dense 0..k-1")
    val centLit = typedlit(ordered.map(_._2))
    val d2s = transform(centLit, c =>
      aggregate(zip_with(col("embedding"), c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, v) => a + v))
    batch
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("d2s", d2s)
      .withColumn("cell",
        (array_position(col("d2s"), array_min(col("d2s"))) - 1).cast("int"))
      .select("vec_id", "embedding", "cell")
  }

  private def readCodebook(s: SparkSession, indexDir: String): Seq[(Int, Seq[Double])] = {
    import s.implicits._
    s.read.parquet(s"$indexDir/centroids")
      .select(col("cell"), col("centroid"))
      .as[(Int, Seq[Double])].collect().toSeq
  }

  /** Build an APPENDABLE IVF index over an arbitrary corpus frame:
    * seeded-KMeans codebook (bounded `trainCap` fit, as
    * [[buildIvfIndex]]) but assignments via [[assignWithCodebook]] —
    * the same rule appends use — so growth never diverges from a
    * rebuild. Layout matches [[buildIvfIndex]] (centroids +
    * cell-partitioned assignments), so [[ivfSearchFromIndex]] serves
    * it unchanged. */
  def buildAppendableIvfIndex(s: SparkSession, corpus: DataFrame,
      indexDir: String, cells: Int = 10, trainCap: Long = 100000): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import s.implicits._
    val e = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val train = e.limit(math.min(trainCap, Int.MaxValue.toLong).toInt)
      .withColumn("fv", array_to_vector(col("embedding")))
    val model = new KMeans().setK(cells).setSeed(42)
      .setFeaturesCol("fv").setPredictionCol("cell").fit(train)
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
    cents.toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    assignWithCodebook(e, cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/assignments")
  }

  /** Append a batch of NEW vectors to a persisted appendable index:
    * one row-local assignment scan + an append write into the
    * per-cell partition directories. Nothing existing is read or
    * rewritten — at 100 TB the cost is the batch, not the index. The
    * codebook does NOT move (centroid drift is q150's staleness
    * signal; a rebuild is a deliberate operation, not a side effect). */
  def appendToIvfIndex(s: SparkSession, indexDir: String,
      batch: DataFrame): Unit =
    assignWithCodebook(batch, readCodebook(s, indexDir))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$indexDir/assignments")

  /** q150: incremental-maintenance audit — the base corpus (even
    * vec_ids) builds the index once; the odd-id batch arrives later
    * and APPENDS (no retrain, no rebuild). Per cell: base/new counts,
    * the new-arrival share, and mean centroid-d2 of base vs new — the
    * STALENESS signal: arrivals drifting away from the codebook
    * (mean_d2_new ≫ mean_d2_base) is the operational rebuild trigger.
    * Rows-only in the gate (the codebook is a seeded KMeans fit);
    * SimilaritySpec pins append ≡ full re-assignment bit for bit,
    * argmin correctness per appended row, and that appended vectors
    * serve immediately through [[ivfSearchFromIndex]] unchanged. */
  def qIvfAppend(s: SparkSession, d: String): DataFrame = {
    val dir = cachedIndexDir(s, "ivfinc", s"ivfinc:$d") { dir =>
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      buildAppendableIvfIndex(s, e.filter(col("vec_id") % 2 === 0), dir)
      appendToIvfIndex(s, dir, e.filter(col("vec_id") % 2 =!= 0))
    }
    val d2 = expr("aggregate(zip_with(embedding, centroid, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)")
    s.read.parquet(s"$dir/assignments")
      .join(broadcast(s.read.parquet(s"$dir/centroids")), Seq("cell"))
      .select(col("cell"), (col("vec_id") % 2 =!= 0).as("is_new"), d2.as("d2"))
      .groupBy("cell")
      .agg(sum(when(col("is_new"), 0L).otherwise(1L)).as("n_base"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        round(avg(when(!col("is_new"), col("d2"))), 6).as("mean_d2_base"),
        round(avg(when(col("is_new"), col("d2"))), 6).as("mean_d2_new"))
  }

  // ---------------------------------------------------------------------
  // Product quantization: shared fit / encode / LUT / re-rank machinery.
  // The in-query paths (q91/q93's reference shapes) and the persisted-
  // index paths (what the gate actually runs) call the SAME helpers on
  // the SAME seeded train slices, so their codebooks — and therefore
  // codes, ADC distances, and rankings — agree bit for bit; the index
  // merely moves the fits to build time (SimilaritySpec pins the parity).
  // ---------------------------------------------------------------------

  /** The corpus as (vec_id, emb ARRAY<DOUBLE>) — every PQ path reads
    * this one projection. */
  private def pqCorpus(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** One independent seeded-KMeans codebook per subspace, trained on
    * the given (bounded) sample's `vecCol` slices. */
  private def pqFit(train: DataFrame, vecCol: String, m: Int, sub: Int,
      ksub: Int, seedBase: Long): Seq[org.apache.spark.ml.clustering.KMeansModel] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    (0 until m).map { s0 =>
      new KMeans().setK(ksub).setSeed(seedBase + s0)
        .setFeaturesCol("fv").setPredictionCol("code")
        .fit(train.select(array_to_vector(
          slice(col(vecCol), s0 * sub + 1, sub)).as("fv")))
    }
  }

  /** Encode `vecCol` into an m-element `codes` array — the
    * 4-byte-per-vector representation everything downstream reads. */
  private def pqEncode(df: DataFrame,
      models: Seq[org.apache.spark.ml.clustering.KMeansModel],
      vecCol: String, sub: Int): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    models.zipWithIndex.foldLeft(df) { case (acc, (mod, s0)) =>
      mod.setPredictionCol(s"c$s0").transform(
        acc.withColumn("fv", array_to_vector(slice(col(vecCol), s0 * sub + 1, sub))))
        .drop("fv")
    }.withColumn("codes", array(models.indices.map(s0 => col(s"c$s0")): _*))
      .drop(models.indices.map(s0 => s"c$s0"): _*)
  }

  /** Sub-codebook centers as centers(sub_idx)(code)(dim). */
  private def pqCenters(models: Seq[org.apache.spark.ml.clustering.KMeansModel])
      : Array[Array[Array[Double]]] =
    models.map(_.clusterCenters.map(_.toArray)).toArray

  /** Per-query ADC lookup table: lut[s0][c] = ||q_s0 − centroid_s0,c||²,
    * with the query optionally shifted by `offset` (the probed cell's
    * centroid on the IVF-PQ residual path). Driver-side — m·ksub
    * doubles per query, control-plane sized. */
  private def pqLut(qv: Array[Double], centers: Array[Array[Array[Double]]],
      sub: Int, offset: Array[Double]): Seq[Seq[Double]] = {
    val lut = Array.tabulate(centers.length, centers(0).length) { (s0, c) =>
      val cen = centers(s0)(c)
      var acc = 0.0
      var j = 0
      while (j < sub) {
        val base = s0 * sub + j
        val q = if (offset == null) qv(base) else qv(base) - offset(base)
        val diff = q - cen(j)
        acc += diff * diff
        j += 1
      }
      acc
    }
    lut.map(_.toSeq).toSeq
  }

  /** ADC distance: sum of m LUT lookups — a codegen'd HOF chain over
    * the broadcast LUT, no float vector read. */
  private def adcExpr(m: Int) = expr(
    s"aggregate(transform(sequence(0, ${m - 1}), " +
      "i -> element_at(element_at(lut, i + 1), element_at(codes, i + 1) + 1)), " +
      "0D, (a, v) -> a + v)")

  /** Exact L2 re-rank of an ADC shortlist: float vectors are joined
    * back for the shortlist·|queries| rows only (never the corpus);
    * query vectors come from the collected rows (no corpus-membership
    * assumption on query ids). */
  private def pqExactRerank(s: SparkSession, candidates: DataFrame,
      corpus: DataFrame, qVecRows: Seq[(Long, Array[Double])], k: Int): DataFrame = {
    import s.implicits._
    val qVecs = qVecRows.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "q")
    val exactD2 = expr("aggregate(zip_with(q, emb, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)")
    val w = Window.partitionBy("query_id").orderBy(col("d2").asc, col("vec_id").asc)
    candidates
      .join(corpus, Seq("vec_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("adc_d2"), exactD2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor"),
        round(col("adc_d2"), 4).as("adc_d2"), round(col("d2"), 4).as("d2"))
  }

  /** Collected (query_id, vector) rows for the standard 5-query probe
    * set — driver-side LUT construction reads these. */
  private def collectedQueries(s: SparkSession, d: String): Seq[(Long, Array[Double])] =
    queriesDf(s, d)
      .select(col("query_id"), col("q_emb").cast("array<double>").as("q"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  /** q91's reference shape: product-quantization ANN (Jégou et al.,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) —
    * the memory lever beyond SQ8: the vector splits into `m` subspaces,
    * each with its own seeded-KMeans codebook of `ksub` centroids, and
    * a vector stores only its m sub-codes — 4 bytes here vs 256 bytes
    * float32 (64×), the compression that puts a trillion-vector corpus
    * in executor memory. Search is ADC (asymmetric distance): each
    * query precomputes an m × ksub table of partial squared distances
    * to every sub-centroid (driver-side), broadcasts it, and a vector's
    * approximate distance is m table lookups summed. The ADC pass keeps
    * a `shortlist` per query and only THOSE rows' float vectors join
    * back for an exact L2 re-rank — the standard two-stage PQ serving
    * shape. This self-contained variant pays the m codebook fits in the
    * query; the GATE runs [[qPqFromIndex]], which reads the same
    * codebooks from a persisted index (bit-identical results —
    * SimilaritySpec) and pays them once per corpus. */
  def qPqTopK(s: SparkSession, d: String, m: Int = 4, ksub: Int = 16,
      k: Int = 10, shortlist: Int = 50, trainCap: Long = 100000): DataFrame = {
    import s.implicits._
    val e = pqCorpus(s, d)
    val dims = e.select(size(col("emb"))).head().getInt(0)
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val sub = dims / m
    val train = e.limit(math.min(trainCap, Int.MaxValue.toLong).toInt)
    val models = pqFit(train, "emb", m, sub, ksub, seedBase = 42L)
    val encoded = pqEncode(e, models, "emb", sub).select("vec_id", "codes")
    val centers = pqCenters(models)
    val qVecRows = collectedQueries(s, d)
    val lutDf = qVecRows
      .map { case (qid, qv) => (qid, pqLut(qv, centers, sub, null)) }
      .toDF("query_id", "lut")
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc_d2").asc, col("vec_id").asc)
    val candidates = encoded.crossJoin(broadcast(lutDf))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), adcExpr(m).as("adc_d2"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= shortlist)
      .select("query_id", "vec_id", "adc_d2")
    pqExactRerank(s, candidates, e, qVecRows, k)
  }

  /** Build a PERSISTED PQ index — the same build-once/query-many move
    * [[buildIvfIndex]] makes for IVF, applied to the q91 codebooks:
    * the m seeded sub-codebooks land in `indexDir/codebooks` and the
    * corpus's packed 4-byte codes in `indexDir/codes`, so a query pays
    * zero KMeans fits (FAISS trains once; so does this). Identical
    * seeds and train slice as [[qPqTopK]] ⇒ identical codebooks. */
  def buildPqIndex(s: SparkSession, d: String, indexDir: String,
      m: Int = 4, ksub: Int = 16, trainCap: Long = 100000): Unit = {
    import s.implicits._
    val e = pqCorpus(s, d)
    val dims = e.select(size(col("emb"))).head().getInt(0)
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val sub = dims / m
    val train = e.limit(math.min(trainCap, Int.MaxValue.toLong).toInt)
    val models = pqFit(train, "emb", m, sub, ksub, seedBase = 42L)
    pqEncode(e, models, "emb", sub).select("vec_id", "codes")
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    models.zipWithIndex.flatMap { case (mod, s0) =>
      mod.clusterCenters.zipWithIndex.map { case (cen, c) =>
        (s0, c, cen.toArray.toSeq) }
    }.toDF("sub_idx", "code", "centroid")
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
  }

  /** Read persisted sub-codebooks back as centers(sub_idx)(code)(dim) —
    * m·ksub rows, a control-plane read (parquet round-trips doubles
    * exactly, so LUTs built from these equal LUTs built from the
    * in-memory models). */
  private def readCodebooks(s: SparkSession, path: String): Array[Array[Array[Double]]] = {
    val rows = s.read.parquet(path)
      .select("sub_idx", "code", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val centers = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { case (s0, c, cen) => centers(s0)(c) = cen }
    centers
  }

  /** ANN search over a persisted [[buildPqIndex]] index: LUTs come from
    * the stored codebooks (no fit), the ADC scan reads only the packed
    * codes table, and `corpus` supplies float vectors for the shortlist
    * re-rank join (in production: the vector store fetch). */
  def pqSearchFromIndex(s: SparkSession, indexDir: String,
      qVecRows: Seq[(Long, Array[Double])], corpus: DataFrame,
      k: Int = 10, shortlist: Int = 50,
      excludeSelfId: Boolean = true): DataFrame = {
    import s.implicits._
    val centers = readCodebooks(s, s"$indexDir/codebooks")
    val m = centers.length
    val sub = qVecRows.head._2.length / m
    val lutDf = qVecRows
      .map { case (qid, qv) => (qid, pqLut(qv, centers, sub, null)) }
      .toDF("query_id", "lut")
    val encoded = s.read.parquet(s"$indexDir/codes")
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc_d2").asc, col("vec_id").asc)
    // excludeSelfId: corpus-member queries (the gate shape) must not
    // return themselves; pass false when query ids live in their own
    // id space — a vec_id that merely COLLIDES with a query_id is a
    // legitimate neighbor there, not "self"
    val scanned = encoded.crossJoin(broadcast(lutDf))
    val candidates = (if (excludeSelfId)
        scanned.filter(col("query_id") =!= col("vec_id")) else scanned)
      .select(col("query_id"), col("vec_id"), adcExpr(m).as("adc_d2"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= shortlist)
      .select("query_id", "vec_id", "adc_d2")
    pqExactRerank(s, candidates, corpus, qVecRows, k)
  }

  /** q91: PQ ANN through the persisted index — built once per
    * (application, corpus, m, ksub) into a marker-guarded directory;
    * every call after that reads codebooks + codes and fits nothing.
    * Rows-only in the gate; SimilaritySpec proves bit-parity with the
    * self-contained [[qPqTopK]] under the shared seeds. */
  def qPqFromIndex(s: SparkSession, d: String, m: Int = 4, ksub: Int = 16,
      k: Int = 10, shortlist: Int = 50): DataFrame = {
    val indexDir = pqIndexDir(s, d, m, ksub)
    pqSearchFromIndex(s, indexDir, collectedQueries(s, d), pqCorpus(s, d), k, shortlist)
  }

  /** Coarse-quantize the corpus and attach residuals: the same seeded
    * fit as [[qIvfTopK]]/[[buildIvfIndex]], then res = emb − centroid —
    * the input both IVF-PQ paths train and encode over. Returns the
    * centroid rows and the (vec_id, cell, res) frame. */
  private def ivfPqAssign(e: DataFrame, cells: Int, capped: Int)
      : (Seq[(Int, Seq[Double])], DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import e.sparkSession.implicits._
    val coarse = new KMeans().setK(cells).setSeed(42)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(e.limit(capped).select(array_to_vector(col("emb")).as("fv")))
    val centroidRows = coarse.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
    val centroids = centroidRows.toDF("cell", "centroid")
    val assigned = coarse.transform(e.withColumn("fv", array_to_vector(col("emb"))))
      .drop("fv")
      .join(broadcast(centroids), Seq("cell"))
      .withColumn("res", zip_with(col("emb"), col("centroid"), (x, y) => x - y))
      .select(col("vec_id"), col("cell"), col("res"))
    (centroidRows, assigned)
  }

  /** Per-(query, probed cell) residual LUT rows: probe the `nprobe`
    * nearest centroids driver-side, then build each cell's LUT against
    * `(q − centroid_cell)` — nprobe·m·ksub doubles per query. */
  private def ivfPqLutRows(qVecRows: Seq[(Long, Array[Double])],
      centroidRows: Seq[(Int, Seq[Double])], centers: Array[Array[Array[Double]]],
      sub: Int, nprobe: Int): Seq[(Long, Int, Seq[Seq[Double]])] = {
    val cenByCell = centroidRows.map { case (cell, cen) => cell -> cen.toArray }.toMap
    qVecRows.flatMap { case (qid, qv) =>
      val nearest = centroidRows
        .map { case (cell, cen) =>
          var acc = 0.0
          var j = 0
          while (j < qv.length) { val df0 = qv(j) - cen(j); acc += df0 * df0; j += 1 }
          (cell, acc)
        }
        .sortBy { case (cell, d2v) => (d2v, cell) }.take(nprobe)
      nearest.map { case (cell, _) =>
        (qid, cell, pqLut(qv, centers, sub, cenByCell(cell)))
      }
    }
  }

  /** The ADC scan + shortlist over cell-joined codes, shared by both
    * IVF-PQ paths (the index path feeds it a partition-pruned codes
    * scan; the in-query path an in-memory frame). */
  private def ivfPqShortlist(encoded: DataFrame, lutDf: DataFrame,
      probedCells: Seq[Int], m: Int, shortlist: Int,
      excludeSelfId: Boolean = true): DataFrame = {
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc_d2").asc, col("vec_id").asc)
    val scanned = encoded
      .where(col("cell").isin(probedCells: _*))
      .join(broadcast(lutDf), Seq("cell"))
    (if (excludeSelfId) scanned.filter(col("query_id") =!= col("vec_id")) else scanned)
      .select(col("query_id"), col("vec_id"), adcExpr(m).as("adc_d2"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= shortlist)
      .select("query_id", "vec_id", "adc_d2")
  }

  /** q93's reference shape: IVF-PQ ANN — the full billion-scale index
    * (Jégou et al. TPAMI'11 §IV; what FAISS calls IVFPQ), composing the
    * two levers the repo has separately: the IVF coarse quantizer
    * (q46/q89) restricts WHICH vectors a query scores, and PQ (q91)
    * compresses HOW each is scored — but on the RESIDUAL (vector − its
    * cell centroid), which has far less variance than the raw vector,
    * so the same 4-byte budget quantizes much finer. Search: probe
    * `nprobe` cells, build one residual ADC LUT per (query, probed
    * cell), broadcast, ADC-scan only the probed cells' codes,
    * shortlist, exact re-rank with floats joined back for the shortlist
    * rows only. This self-contained variant pays the 1+m fits in the
    * query; the GATE runs [[qIvfPqFromIndex]] (bit-identical —
    * SimilaritySpec). */
  def qIvfPqTopK(s: SparkSession, d: String, cells: Int = 10, m: Int = 4,
      ksub: Int = 16, nprobe: Int = 3, k: Int = 10, shortlist: Int = 50,
      trainCap: Long = 100000): DataFrame = {
    import s.implicits._
    val e = pqCorpus(s, d)
    val dims = e.select(size(col("emb"))).head().getInt(0)
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val sub = dims / m
    val capped = math.min(trainCap, Int.MaxValue.toLong).toInt
    val (centroidRows, assigned) = ivfPqAssign(e, cells, capped)
    // product codebooks on the RESIDUALS (the variance PQ must cover
    // is within-cell spread, not the full corpus spread)
    val models = pqFit(assigned.limit(capped), "res", m, sub, ksub, seedBase = 142L)
    val encoded = pqEncode(assigned, models, "res", sub)
      .select("vec_id", "cell", "codes")
    val qVecRows = collectedQueries(s, d)
    val lutRows = ivfPqLutRows(qVecRows, centroidRows, pqCenters(models), sub, nprobe)
    val lutDf = lutRows.toDF("query_id", "cell", "lut")
    val candidates = ivfPqShortlist(encoded, lutDf,
      lutRows.map(_._2).distinct, m, shortlist)
    pqExactRerank(s, candidates, e, qVecRows, k)
  }

  /** Build a PERSISTED IVF-PQ index: coarse centroids in
    * `indexDir/centroids`, residual sub-codebooks in
    * `indexDir/codebooks`, and the packed codes in `indexDir/codes`
    * PARTITIONED BY CELL — probing prunes cell directories off disk
    * exactly like [[buildIvfIndex]], but each pruned byte is a 4-byte
    * code, not a float vector. Identical seeds and train slices as
    * [[qIvfPqTopK]] ⇒ identical index content. */
  def buildIvfPqIndex(s: SparkSession, d: String, indexDir: String,
      cells: Int = 10, m: Int = 4, ksub: Int = 16,
      trainCap: Long = 100000): Unit = {
    import s.implicits._
    val e = pqCorpus(s, d)
    val dims = e.select(size(col("emb"))).head().getInt(0)
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val sub = dims / m
    val capped = math.min(trainCap, Int.MaxValue.toLong).toInt
    val (centroidRows, assigned) = ivfPqAssign(e, cells, capped)
    val models = pqFit(assigned.limit(capped), "res", m, sub, ksub, seedBase = 142L)
    pqEncode(assigned, models, "res", sub)
      .select("vec_id", "cell", "codes")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/codes")
    centroidRows.toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    models.zipWithIndex.flatMap { case (mod, s0) =>
      mod.clusterCenters.zipWithIndex.map { case (cen, c) =>
        (s0, c, cen.toArray.toSeq) }
    }.toDF("sub_idx", "code", "centroid")
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
  }

  /** ANN search over a persisted [[buildIvfPqIndex]] index: centroids
    * and codebooks are control-plane reads, probing pushes a static
    * cell filter into the partitioned codes scan (directory pruning, as
    * q89's spec asserts for IVF), and `corpus` supplies float vectors
    * for the shortlist re-rank join only. */
  def ivfPqSearchFromIndex(s: SparkSession, indexDir: String,
      qVecRows: Seq[(Long, Array[Double])], corpus: DataFrame,
      nprobe: Int = 3, k: Int = 10, shortlist: Int = 50,
      excludeSelfId: Boolean = true): DataFrame = {
    import s.implicits._
    val centroidRows = s.read.parquet(s"$indexDir/centroids")
      .select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    val centers = readCodebooks(s, s"$indexDir/codebooks")
    val sub = qVecRows.head._2.length / centers.length
    val lutRows = ivfPqLutRows(qVecRows, centroidRows, centers, sub, nprobe)
    val lutDf = lutRows.toDF("query_id", "cell", "lut")
    val encoded = s.read.parquet(s"$indexDir/codes")
    val candidates = ivfPqShortlist(encoded, lutDf,
      lutRows.map(_._2).distinct, centers.length, shortlist, excludeSelfId)
    pqExactRerank(s, candidates, corpus, qVecRows, k)
  }

  /** q93: IVF-PQ ANN through the persisted index — built once per
    * (application, corpus, cells, m, ksub), marker-guarded; steady-
    * state queries fit nothing and scan only the probed cell
    * directories of 4-byte codes. Rows-only in the gate;
    * SimilaritySpec proves bit-parity with [[qIvfPqTopK]]. */
  def qIvfPqFromIndex(s: SparkSession, d: String, cells: Int = 10,
      m: Int = 4, ksub: Int = 16, nprobe: Int = 3, k: Int = 10,
      shortlist: Int = 50): DataFrame = {
    val indexDir = ivfPqIndexDir(s, d, cells, m, ksub)
    ivfPqSearchFromIndex(s, indexDir, collectedQueries(s, d), pqCorpus(s, d),
      nprobe, k, shortlist)
  }

  /** Build (once) and return a session-cached, marker-guarded index
    * dir: the first caller for a given key runs `build`, every later
    * caller (and concurrent callers, via the lock) reuses the
    * directory — the build-once/query-many contract all three
    * persisted indexes (IVF/PQ/IVF-PQ) share. */
  private def cachedIndexDir(s: SparkSession, kind: String, key: String)(
      build: String => Unit): String = {
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"${s.sparkContext.applicationId}:$key".getBytes("UTF-8")).toString
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-$kind-$uuid"
    val marker = new java.io.File(s"$dir/_INDEX_READY")
    ivfBuildLock.synchronized {
      if (!marker.exists()) {
        build(dir)
        marker.createNewFile()
        builtDirs += dir
      }
    }
    dir
  }

  /** Build (once) and return the session-cached IVF index dir for a
    * corpus — marker-file guarded, same device as eventsStream's
    * cached source dirs. */
  def ivfIndexDir(s: SparkSession, d: String, cells: Int = 10): String =
    cachedIndexDir(s, "ivf", s"$d:$cells")(dir => buildIvfIndex(s, d, dir, cells))

  /** Session-cached [[buildPqIndex]] dir (see [[ivfIndexDir]]). */
  def pqIndexDir(s: SparkSession, d: String, m: Int = 4, ksub: Int = 16): String =
    cachedIndexDir(s, "pq", s"pq:$d:$m:$ksub")(dir => buildPqIndex(s, d, dir, m, ksub))

  /** Session-cached [[buildIvfPqIndex]] dir (see [[ivfIndexDir]]). */
  def ivfPqIndexDir(s: SparkSession, d: String, cells: Int = 10, m: Int = 4,
      ksub: Int = 16): String =
    cachedIndexDir(s, "ivfpq", s"ivfpq:$d:$cells:$m:$ksub")(
      dir => buildIvfPqIndex(s, d, dir, cells, m, ksub))

  /** q225: the RAG retrieval pipeline END TO END — the retrieval
    * analogue of q67's curation composition, wiring five proven parts
    * into one query per the production shape:
    *
    *  1. CHUNK (q71): documents split into overlapping passages —
    *     the lexical leg retrieves at passage granularity and
    *     max-pools to documents (standard RAG chunk retrieval).
    *  2. GATE (q106): the per-dimension embedding audit runs first and
    *     ABORTS the pipeline on a degenerate table (any dead
    *     dimension, or a row-count mismatch vs the corpus) — the check
    *     that catches a broken embedding job before an index is built
    *     over it.
    *  3. RETRIEVE (q93): the semantic leg serves from the PERSISTED
    *     IVF-PQ index (probe → ADC shortlist → exact re-rank), built
    *     once per corpus.
    *  4. FUSE (q116): reciprocal-rank fusion of the two legs' top-50
    *     lists — integer ranks, no score calibration.
    *  5. AUDIT (q191): NDCG@10 / hits / coverage of the fused ranking
    *     against label relevance, per query.
    *
    * Per-query lexical terms are the query document's own top-3
    * tf terms (tf desc, term asc — deterministic), making the eval
    * "retrieve documents like this one" on both legs. Self-matches are
    * excluded on both legs. Rows-only in the gate (the ANN leg is
    * approximate); RagPipelineSpec pins stage-seam parity, fused-list
    * provenance, metric ranges, and determinism.
    *
    * Scale shape: every stage is a proven shape — the chunk explode is
    * map-side; BM25 postings survive an `isin` pushdown and the leg
    * ends in a per-query top-50 window over matching chunks only; the
    * gate is a dims-sized agg; IVF-PQ scans probed cell directories of
    * 4-byte codes; fusion and the audit are (nQ × 50)-row arithmetic. */
  def qRagPipeline(s: SparkSession, d: String, nQ: Int = 20, legN: Int = 50,
      k: Int = 10, rrfK: Int = 60): DataFrame = {
    import s.implicits._
    // ---- stage 2 first by dependency: gate the embedding table
    val corpusN = embeddings(s, d).count()
    val stats = qEmbeddingStats(s, d).collect()
    stats.foreach { r =>
      require(r.getAs[Long]("n") == corpusN,
        s"q225 gate: dim ${r.getAs[Int]("dim")} has ${r.getAs[Long]("n")} values, corpus $corpusN")
      require(r.getAs[Double]("std") > 0,
        s"q225 gate: dead dimension ${r.getAs[Int]("dim")} (std 0)")
    }

    // ---- per-query lexical terms: the query doc's top-3 tf terms
    val qdocs = documents(s, d).filter(col("doc_id") < nQ)
    val qtokens = qdocs
      .select(col("doc_id").as("query_id"),
        explode(graft.functions.tokens(lower(col("text")))).as("term"))
      .filter(length(col("term")) > 0)
    val wTerm = Window.partitionBy("query_id")
      .orderBy(col("cnt").desc, col("term").asc)
    val qterms = qtokens.groupBy("query_id", "term")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wTerm))
      .filter(col("rk") <= 3)
      .select("query_id", "term")
      .localCheckpoint() // nQ×3 rows; reused by the postings join below

    // ---- stage 1 + lexical leg: BM25 over CHUNKS, max-pooled per doc
    val chunks = documents(s, d)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), length(col("text")) - 1, lit(150)),
          st => col("text").substr(st + lit(1), lit(200))))
          .as(Seq("chunk_idx", "chunk")))
    val ctoks = chunks
      .select(col("doc_id"), col("chunk_idx"),
        explode(graft.functions.tokens(lower(col("chunk")))).as("term"))
      .filter(length(col("term")) > 0)
    // r12 OPTIMIZATION (guide §2.4): per-chunk length is a ROW-LOCAL
    // size() over the same token array the explode draws from — the
    // old explode + groupBy(doc_id, chunk_idx) shuffled every corpus
    // token to count them. The `dl > 0` filter reproduces the inner
    // explode semantics exactly (a token-free chunk had no rows, so it
    // never reached dl or the n_chunks/avgdl stats).
    val dl = chunks
      .select(col("doc_id"), col("chunk_idx"),
        size(filter(graft.functions.tokens(lower(col("chunk"))),
          t => length(t) > 0)).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val cstats = dl.agg(count(lit(1)).as("n_chunks"), avg("dl").as("avgdl"))
    val tf = ctoks.join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy("doc_id", "chunk_idx", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val k1 = 1.2; val b = 0.75
    val chunkScore = tf
      .join(broadcast(qterms), Seq("term")) // fan to the querying ids
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id", "chunk_idx"))
      .crossJoin(broadcast(cstats))
      .select(col("query_id"), col("doc_id"), col("chunk_idx"),
        (log(lit(1.0) + (col("n_chunks") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("contrib"))
      .groupBy("query_id", "doc_id", "chunk_idx")
      .agg(sum("contrib").as("cscore"))
    val docScore = chunkScore.groupBy("query_id", "doc_id")
      .agg(max("cscore").as("score"))
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    val lex = docScore.withColumn("r_lex", row_number().over(wLex))
      .filter(col("r_lex") <= legN)
      .select("query_id", "doc_id", "r_lex")

    // ---- stage 3: semantic leg from the persisted IVF-PQ index
    val qVecRows = embeddings(s, d).filter(col("vec_id") < nQ)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val indexDir = ivfPqIndexDir(s, d)
    val sem = ivfPqSearchFromIndex(s, indexDir, qVecRows, pqCorpus(s, d),
        nprobe = 3, k = legN, shortlist = 2 * legN)
      .select(col("query_id"), col("neighbor").as("doc_id"),
        col("rank").as("r_sem"))

    // ---- stage 4: RRF fusion per query
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("r_lex"), col("r_sem"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_sem")), lit(0.0))).as("rrf"))
    val wFuse = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    val top = fused.withColumn("rank", row_number().over(wFuse))
      .filter(col("rank") <= k)

    // ---- stage 5: NDCG audit against label relevance (q191's folds)
    val labels = embeddings(s, d).select(col("vec_id"), col("label"))
    val qlabels = labels.select(col("vec_id").as("query_id"),
      col("label").as("q_label"))
    val ranked = top
      .join(labels.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left")
      .join(broadcast(qlabels), Seq("query_id"))
      .withColumn("rel",
        coalesce((col("label") === col("q_label")).cast("int"), lit(0)))
    val aggs = (1 to k).map(i =>
      max(when(col("rank") === i, col("rel"))).as(s"r$i")) ++ Seq(
      sum(when(col("r_lex").isNotNull, 1L).otherwise(0L)).as("n_from_lex"),
      sum(when(col("r_sem").isNotNull, 1L).otherwise(0L)).as("n_from_sem"))
    val flags = ranked.groupBy("query_id", "q_label")
      .agg(aggs.head, aggs.tail: _*)
    val classSize = labels.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("csize"))
    val dcg = (1 to k).map(i => coalesce(col(s"r$i"), lit(0)).cast("double") /
      math.log(i + 1.0)).reduce(_ + _)
    val idcg = (1 to k).map(i =>
      when(col("csize") - 1 >= i, lit(1.0 / math.log(i + 1.0)))
        .otherwise(lit(0.0))).reduce(_ + _)
    val hits = (1 to k).map(i => coalesce(col(s"r$i"), lit(0)).cast("long"))
      .reduce(_ + _)
    flags.join(broadcast(classSize), Seq("q_label"))
      .select(col("query_id"), (col("csize") - 1).as("n_relevant"),
        col("n_from_lex"), col("n_from_sem"),
        hits.as("hits_at_10"),
        round(when(idcg > 0, dcg / idcg).otherwise(lit(0.0)), 6).as("ndcg_at_10"))
  }

  private val ivfBuildLock = new Object
  // the eventsStream temp-dir discipline: built index dirs are removed
  // at JVM exit (a production index would live on managed storage)
  private val builtDirs = scala.collection.mutable.Set.empty[String]
  sys.addShutdownHook {
    ivfBuildLock.synchronized {
      builtDirs.foreach { d =>
        try {
          val root = new java.io.File(d)
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete()
          }
          rm(root)
        } catch { case _: Exception => () }
      }
    }
  }
}
