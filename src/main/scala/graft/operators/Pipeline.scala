package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Dataset-curation operators for a large-scale training-data pipeline:
  * source mixing (per-source sampling rates), sub-document dedup, and
  * benchmark-contamination detection. All are single-shuffle shapes
  * (explode → hash equi-join / partial agg) that scale linearly — no
  * all-pairs joins anywhere.
  */
object Pipeline {

  import Tables._

  /** q40: dataset mixing across the 20 sources — even-numbered sources
    * keep 70%, odd keep 30%, via the deterministic arithmetic selector
    * `doc_id % 100` (oracle-identical in DuckDB). Reports what the mix
    * kept per source. */
  def qDatasetMix(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val rate = when(substring(col("source"), 4, 10).cast("int") % 2 === 0, 70)
      .otherwise(30)
    docs.filter(col("doc_id") % 100 < rate)
      .groupBy("source")
      .agg(count("*").as("n_kept"),
        sum(size(split(col("text"), "\\s+")).cast("long")).as("sum_tokens"))
  }

  /** q115: temperature-rebalanced language mixture — the multilingual
    * sampling device (XLM-R / mT5's exponentiated-and-renormalized
    * multinomial): raw language share p_l = tokens_l / total is flattened
    * to p_l^α / Σ p^α (α < 1 upsamples low-resource languages), yielding
    * per-language sampling weights, the implied upsampling factor, and
    * the token budget each language receives in a fixed-size epoch.
    * Shape at scale: ONE corpus scan for the per-language token counts
    * (map-side partial agg, languages-sized result), then all math on
    * the languages-sized table — two scalar cross joins that broadcast.
    * The 100 TB cost is the scan, which q85's datasheet already pays;
    * in production this rides that same pass. */
  def qTemperatureMix(s: SparkSession, d: String, alpha: Double = 0.3,
      budget: Long = 1000000L): DataFrame = {
    val byLang = documents(s, d).groupBy("lang")
      .agg(sum(tokenCount(col("text"))).cast("long").as("n_tokens"))
    val tot = byLang.agg(sum("n_tokens").as("total"))
    val t2 = byLang.crossJoin(broadcast(tot))
      .withColumn("praw", col("n_tokens").cast("double") / col("total"))
      .withColumn("pa", pow(col("n_tokens").cast("double") / col("total"), alpha))
    val z = t2.agg(sum("pa").as("z"))
    t2.crossJoin(broadcast(z))
      .select(col("lang"), col("n_tokens"),
        round(col("praw"), 6).as("p_raw"),
        round(col("pa") / col("z"), 6).as("p_alpha"),
        round(col("pa") / col("z") / col("praw"), 4).as("upsample"),
        floor(col("pa") / col("z") * budget).cast("long").as("budget_tokens"))
  }

  /** q41: sub-document (paragraph-level) exact dedup — split documents
    * into sentences, count exact duplicates per source via digest.
    * The explode never copies the document payload, only sentence
    * strings; dedup is a map-side digest + partial agg. */
  def qParagraphDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(split(col("text"), "\\. ")).as("para"))
      .filter(length(col("para")) > 0)
      .groupBy("source")
      .agg(count("*").as("n_paras"),
        count_distinct(md5(col("para"))).as("n_unique"),
        (count("*") - count_distinct(md5(col("para")))).as("n_dup"))

  /** q125: corpus-GLOBAL sentence dedup — the C4 cleanup move (Raffel
    * et al. JMLR'20 §2.2 removed any three-sentence span occurring more
    * than once in the corpus; the unit here is the single sentence, the
    * threshold a document-frequency floor). A sentence appearing in
    * `minDf`+ DISTINCT documents is boilerplate (navigation chrome,
    * license headers, templated footers) and is struck from EVERY
    * document; surviving sentences are re-joined in original order and
    * the rebuilt text is md5-fingerprinted so the gate hash-checks the
    * reconstruction, not just the counts.
    *
    * Scale shape: sentences explode once; the document-frequency agg
    * groups by md5(sentence) so only 32-byte digests shuffle, never
    * sentence text; the boilerplate set (df >= minDf) is by construction
    * a tiny fraction of the distinct-sentence table, so the strike is a
    * broadcast-able left-anti join; the rebuild is one doc_id-keyed
    * partial agg. Nothing corpus-sized shuffles twice — the 100 TB plan
    * is explode + digest agg + anti-join + rebuild, all linear. */
  def qSentenceDedup(s: SparkSession, d: String, minDf: Int = 3): DataFrame =
    sentenceDedup(documents(s, d), minDf)

  /** The q125 core over any (doc_id, text) frame. */
  def sentenceDedup(docs: DataFrame, minDf: Int): DataFrame = {
    val sents = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\. ")).as(Seq("pos", "sent")))
      .filter(length(col("sent")) > 0)
      .withColumn("h", md5(col("sent")))
    // digest-keyed doc-frequency: the only corpus-sized shuffle carries
    // (h, doc_id), not text
    val common = sents.select("h", "doc_id").groupBy("h")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select("h")
    val kept = sents.join(common, Seq("h"), "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("sent")))),
          x => x.getField("sent")), ". ")).as("clean_md5"))
    val totals = sents.groupBy("doc_id").agg(count(lit(1)).as("n_sents"))
    docs.select("doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sents"), lit(0L)).as("n_sents"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  /** q42: benchmark-contamination detection — a document is
    * contaminated when it shares any word 5-gram with the "benchmark"
    * subset (doc_id % 97 == 0 here; in production the eval set).
    * Shape: explode 5-grams on both sides, distinct the (small)
    * benchmark gram set, LEFT SEMI equi-join on the gram — linear in
    * corpus size, candidate-free, the 100 TB-safe contamination scan. */
  def qContamination(s: SparkSession, d: String, n: Int = 5): DataFrame = {
    GraftFunctions.register(s)
    val docs = documents(s, d)
      .select(col("doc_id"), shingleSet(col("text"), n).as("sh"))
    val isBench = col("doc_id") % 97 === 0
    val benchGrams = docs.filter(isBench)
      .select(explode(col("sh")).as("g")).distinct()
    val contaminated = docs.filter(!isBench)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(benchGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct()
    val total = docs.filter(!isBench).select("doc_id")
    total.agg(count("*").as("n_docs")).crossJoin(
      contaminated.agg(count("*").as("n_contaminated")))
  }

  /** q135: per-example contamination FRACTION — for each benchmark
    * document, the share of its word 5-grams present anywhere in the
    * training side. q42 answers "is this corpus contaminated?"
    * (a binary per doc); this is the decontamination REPORT the
    * GPT-3/PaLM appendices publish per eval example — the number that
    * decides drop-vs-keep per example and quantifies how much an eval
    * score can be trusted.
    *
    * Scale shape: the benchmark gram set is tiny and broadcasts; the
    * train side streams once through a broadcast semi-join (only grams
    * the benchmark contains survive — a benchmark-sized set), and the
    * per-example fraction is a benchmark-sized join + agg. The corpus
    * is never shuffled, only scanned. */
  def qContaminationFraction(s: SparkSession, d: String, n: Int = 5): DataFrame = {
    GraftFunctions.register(s)
    contaminationFraction(documents(s, d), col("doc_id") % 97 === 0, n)
  }

  /** The q135 core: per-`isBench`-doc fraction of its word n-grams
    * present in any non-bench doc. Register [[GraftFunctions]] first. */
  def contaminationFraction(docs0: DataFrame, isBench: Column, n: Int): DataFrame = {
    val docs = docs0.select(col("doc_id"), isBench.as("b"),
      shingleSet(col("text"), n).as("sh"))
    val benchGrams = docs.filter(col("b"))
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val bg = benchGrams.select("g").distinct()
    val hitGrams = docs.filter(!col("b"))
      .select(explode(col("sh")).as("g"))
      .join(broadcast(bg), Seq("g"), "left_semi")
      .distinct()
      .withColumn("h", lit(1L))
    benchGrams.join(broadcast(hitGrams), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("h"), lit(0L))).as("n_in_train"),
        round(sum(coalesce(col("h"), lit(0L))).cast("double") /
          count(lit(1)), 4).as("contamination"))
  }

  /** q136: distribution drift between two corpus slices — the exact
    * two-sample Kolmogorov–Smirnov statistic over document length
    * (n_chars), here between even- and odd-id docs (the A/B of a
    * re-crawl; any predicate drops in). KS is THE
    * binned-assumption-free drift alarm for ingest monitoring: a
    * jump between snapshots means the source mix or the extractor
    * changed, before any model sees the data.
    *
    * Scale shape: the corpus reduces to a distinct-value frequency
    * table (bounded domain for lengths) in one map-side-partial agg;
    * the ECDF cumsum window sorts THAT table only; both engines
    * evaluate identical integer ratios so the statistic hash-matches. */
  def qLengthDrift(s: SparkSession, d: String): DataFrame =
    lengthDrift(documents(s, d), col("doc_id") % 2 === 0)

  /** The q136 core: KS statistic of `valueCol`'s distribution between
    * rows where `isA` holds and the rest. */
  def lengthDrift(docs: DataFrame, isA: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs.select(col("n_chars").as("v"), isA.cast("long").as("a"))
      .groupBy("v").agg(sum(col("a")).as("ca"),
        sum(lit(1L) - col("a")).as("cb"))
    val w = Window.orderBy("v")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("cda", sum(col("ca")).over(cum))
      .withColumn("cdb", sum(col("cb")).over(cum))
      .withColumn("na", sum(col("ca")).over(all))
      .withColumn("nb", sum(col("cb")).over(all))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        round(max(abs(col("cda").cast("double") / col("na") -
          col("cdb").cast("double") / col("nb"))), 6).as("ks_stat"))
  }

  /** q47: exact value percentiles per event type (`percentile` — exact
    * sort-based with linear interpolation, matching DuckDB's
    * quantile_cont bit-for-bit). At 100 TB the engine swaps in
    * `percentile_approx` (KLL-sketch-style mergeable summaries) — the
    * exact version is the oracle-checkable correctness anchor. */
  def qPercentiles(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))

  /** q49: the sketch-based percentile (`percentile_approx`, mergeable
    * per-partition summaries — the plan that survives 100 TB where the
    * exact sort-based q47 cannot). Probabilistic — rows-only in the
    * gate; PipelineSpec bounds it against the exact percentile. */
  def qPercentileSketch(s: SparkSession, d: String, accuracy: Int = 10000): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(round(expr(s"percentile_approx(value, 0.5, $accuracy)"), 4).as("p50"),
        round(expr(s"percentile_approx(value, 0.9, $accuracy)"), 4).as("p90"))

  /** q43: approximate distinct users per event type
    * (HyperLogLog++-based `approx_count_distinct`, the sketch the
    * engine reaches for when exact distinct at 100 TB is too
    * shuffle-heavy). Probabilistic — rows-only in the oracle gate;
    * PipelineSpec pins the relative error against the exact count. */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id").as("approx_users"))

  /** q87: per-source distinct-token cardinality via the KMV bottom-k
    * sketch ([[graft.functions.KmvSketch]]) next to the exact count it
    * estimates. KMV's state is a pure function of the input set
    * (insertion/merge-order invariant), so unlike q43's HyperLogLog
    * this sketch estimate is DETERMINISTIC and fully hash-checked: the
    * DuckDB oracle computes the identical bottom-k over the identical
    * md5 values and applies the identical (k−1)/h_(k) estimator.
    *
    * Scale shape: each partition folds tokens into ≤ k hex strings, so
    * the grouped gather is O(sources · k) — the exact count beside it
    * is the expensive one (full token-domain shuffle) and is there as
    * the comparison column, not the production path. */
  def qKmvDistinct(s: SparkSession, d: String, k: Int = 16): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketch(k), Encoders.STRING)
    documents(s, d)
      .select(col("source"), explode(tokens(lower(col("text")))).as("t"))
      .filter(length(col("t")) > 0)
      .select(col("source"), md5(col("t").cast("binary")).as("h"))
      .groupBy("source")
      .agg(count_distinct(col("h")).as("n_exact"),
        kmv(col("h")).as("kmv_estimate"))
  }

  /** q256: KMV sketch SET ALGEBRA — union and Jaccard/intersection
    * estimates for every event-type pair of distinct-user sets from
    * the per-type bottom-k sketches alone (Beyer et al. SIGMOD'07 §5:
    * bottom-k of A∪B is the bottom-k of the merged sketches, and the
    * fraction of the union sketch present in BOTH sides' sketches
    * estimates Jaccard). This is the capability the KMV family was
    * chosen for (KmvSketch scaladoc): audience-overlap answers from
    * O(k) state per segment, no co-membership join — the exact
    * inter/union counts computed beside them are the AUDIT leg, not
    * the production path.
    *
    * Determinism: sketches are pure set functions of md5 domains;
    * merged-union ranks, membership tests, and the match count are
    * integer/string ops; the two estimates are each one double from
    * exact parts (q87's estimator device) — fully hash-checked, the
    * rare sketch algebra with an exact oracle.
    *
    * Scale shape: one distinct-user rollup folds to |types|·k hex
    * strings (partial-agg friendly — each partition carries ≤ k per
    * type); the pair algebra runs on a |types|²-row broadcast of
    * 16-element arrays. The audit leg is the only user-domain join. */
  def qKmvSetAlgebra(s: SparkSession, d: String, k: Int = 16): DataFrame = {
    val sk = udaf(new graft.functions.KmvBottomK(k), Encoders.STRING)
    val byType = events(s, d)
      .select(col("event_type"),
        md5(col("user_id").cast("string").cast("binary")).as("h"))
      .groupBy("event_type")
      .agg(count_distinct(col("h")).as("nd"), sk(col("h")).as("sketch"))
    val pairs = byType.select(col("event_type").as("ta"),
        col("nd").as("na"), col("sketch").as("sa"))
      .crossJoin(broadcast(byType.select(col("event_type").as("tb"),
        col("nd").as("nb"), col("sketch").as("sb"))))
      .filter(col("ta") < col("tb"))
    // audit leg: exact pairwise intersection over distinct (type, user)
    val tu = events(s, d).select(col("event_type"), col("user_id")).distinct()
    val inter = tu.as("x").join(tu.as("y"), Seq("user_id"))
      .filter(col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("n_exact_inter"))
    val merged = expr(s"slice(array_sort(array_union(sa, sb)), 1, $k)")
    pairs.join(inter, Seq("ta", "tb"), "left_outer")
      .select(col("ta"), col("tb"), col("na"), col("nb"),
        coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"),
        (col("na") + col("nb") - coalesce(col("n_exact_inter"), lit(0L)))
          .as("n_exact_union"),
        merged.as("uk"), col("sa"), col("sb"))
      .select(col("ta"), col("tb"), col("n_exact_union"),
        col("n_exact_inter"),
        // union estimate: exact when the merged sketch is unsaturated
        when(size(col("uk")) < k, size(col("uk")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (expr(s"CAST(conv(substring(element_at(uk, $k), 1, 15), 16, 10) AS BIGINT)")
              .cast("double") / lit(graft.functions.KmvSketch.Scale)))
          .as("est_union"),
        expr("size(filter(uk, x -> array_contains(sa, x) AND array_contains(sb, x)))")
          .cast("long").as("match_k"))
      .select(col("ta"), col("tb"), col("n_exact_union"),
        col("n_exact_inter"), round(col("est_union"), 2).as("est_union"),
        col("match_k"),
        expr(s"match_k * 1000000L div ${k}L").as("jaccard_est_ppm"),
        expr("n_exact_inter * 1000000L div n_exact_union")
          .as("jaccard_exact_ppm"))
  }

  /** q267: weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * A-Res, IPL'06) — the sampling family's missing member: q60 is
    * uniform, q151 PPS samples WITH replacement expectation
    * semantics, q119 rejection-samples to a target mix; A-Res draws
    * an exact-k subset with inclusion probability proportional to
    * weight, the shape "pick 10k docs, long docs proportionally more
    * often" needs. Item key = ln(u)/w (the log of u^(1/w), same
    * argmax, better conditioning); top-k keys win.
    *
    * Determinism: u derives from the md5 prefix of doc_id (the
    * q87/q252 hash device — (h+1)/16¹⁵ ∈ (0,1], so ln is total);
    * both engines spell the key identically and break ties on
    * doc_id. Weights are whitespace token counts (the token-budget
    * weighting a corpus sampler wants).
    *
    * Scale shape: one scan computing per-row keys + a TakeOrdered
    * cut — no shuffle beyond the top-k gather. */
  def qWeightedSample(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val keyed = documents(s, d)
      .select(col("doc_id"), tokenCount(col("text")).as("w"),
        expr("""CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)),
                1, 15), 16, 10) AS BIGINT)""").as("h"))
      .filter(col("w") > 0)
      .select(col("doc_id"), col("w"),
        (log((col("h") + 1).cast("double") /
          lit(graft.functions.KmvSketch.Scale)) / col("w").cast("double"))
          .as("key"))
    keyed.orderBy(col("key").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("w").as("weight"),
        round(col("key"), 6).as("ares_key"))
  }

  /** q259: class-balance audit with inverse-frequency reweighting —
    * the readout a stratified-training pipeline computes before
    * deciding whether to reweight or resample (q40/q115 MIX by fixed
    * rates; this derives the balanced weights and prices them): each
    * (source, lang) cell's balanced weight is N/(k·n_cell) (every
    * cell contributes equally), and the price of training on those
    * weights is the effective sample size ESS = (Σw)²/Σw² — which
    * for balanced weights collapses to the exact closed form
    * k²/Σ(1/n_cell) (Kish '65), so ESS/N reads "what fraction of the
    * corpus the reweighted gradient is statistically worth".
    *
    * Exactness: weights are exact floored ppm; the ESS fold is
    * k ≤ |cells| doubles of exact 1/n_cell terms (q183's bounded-fold
    * argument).
    *
    * Scale shape: one documents rollup to |sources|·|langs| cells;
    * everything after is cell-sized. */
  def qClassBalance(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d).groupBy("source", "lang")
      .agg(count(lit(1)).as("n_cell"))
    val tot = cells.agg(sum(col("n_cell")).as("n"),
      count(lit(1)).as("k"),
      sum(lit(1.0) / col("n_cell").cast("double")).as("inv_sum"))
    cells.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_cell"),
        expr("n * 1000000L div (k * n_cell)").as("weight_ppm"),
        col("n"), col("k"),
        round(col("k").cast("double") * col("k").cast("double")
          / col("inv_sum"), 2).as("ess"),
        round(col("k").cast("double") * col("k").cast("double")
          / col("inv_sum") / col("n").cast("double"), 6).as("ess_ratio"))
  }

  /** q94: corpus-version diff — the dataset-versioning audit run before
    * shipping a new corpus snapshot: join two versions on doc_id and
    * classify every doc as added / removed / changed / unchanged by
    * content digest, so the release note (and any incremental
    * downstream job) knows exactly what moved. V2 is derived
    * deterministically from the corpus (the q77 injection device):
    * every 17th doc dropped, every 13th edited, every 19th re-added
    * under a new NEGATIVE id — provably disjoint from any real
    * non-negative id space, so the join key stays unique at any
    * corpus size. Shape: two digest projections (map-side), one
    * full-outer equi-join on doc_id shuffling 16-byte digests — never
    * text — and a 4-row count. At 100 TB both sides prune to
    * (doc_id, digest) at the scan. */
  def qCorpusDiff(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val v1 = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("dig1"))
    val v2 = docs.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).cast("binary")).as("dig2"))
      .unionAll(docs.filter(col("doc_id") % 19 === 0)
        .select((-col("doc_id") - 1).as("doc_id"),
          md5(concat(col("text"), lit(" new")).cast("binary")).as("dig2")))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(when(col("dig1").isNull, "added")
        .when(col("dig2").isNull, "removed")
        .when(col("dig1") === col("dig2"), "unchanged")
        .otherwise("changed").as("status"))
      .groupBy("status").agg(count("*").as("n"))
  }

  /** q104: group-wise winsorized statistics — the outlier-clamping
    * step a feature pipeline runs before normalizing numeric columns
    * (a handful of corrupt or extreme rows must not set the scale for
    * the whole feature): per group, the p05/p95 exact percentiles of
    * `l_extendedprice`, the raw mean, and the mean after clipping every
    * value into [p05, p95]. Exact interpolated percentiles (both
    * engines use the ANSI linear-interpolation definition) so the gate
    * hash-checks; at 100 TB the bounds would come from the
    * percentile-sketch pass the repo already has (q47/q49) and the
    * clip stays identical.
    *
    * Scale shape: one grouped percentile pass (per-group sorted-agg
    * over the group's values — group count gives the parallelism), the
    * tiny bounds table broadcasts back, and the clipped mean is one
    * more partial agg on the same scan. Nothing wider than the
    * group-key shuffle. */
  def qWinsorize(s: SparkSession, d: String): DataFrame =
    winsorizeStats(lineitem(s, d)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("price")))

  /** The q104 core over any (flag, price) frame — see [[qWinsorize]];
    * PipelineSpec hand-computes the interpolated bounds and clipped
    * mean on a crafted outlier group. */
  def winsorizeStats(df: DataFrame, pLo: Double = 0.05,
      pHi: Double = 0.95): DataFrame = {
    val bounds = df.groupBy("flag").agg(
      expr(s"percentile(price, ${pLo}D)").as("lo"),
      expr(s"percentile(price, ${pHi}D)").as("hi"))
    df.join(broadcast(bounds), Seq("flag"))
      .select(col("flag"), col("price"), col("lo"), col("hi"),
        greatest(least(col("price"), col("hi")), col("lo")).as("clipped"))
      .groupBy("flag")
      .agg(count("*").as("n"),
        round(first("lo"), 4).as("p05"),
        round(first("hi"), 4).as("p95"),
        round(avg("price"), 4).as("mean_raw"),
        round(avg("clipped"), 4).as("mean_winsor"))
  }

  /** Exact per-group order statistics without a global sort: one
    * value-domain rollup (groupBy (g, v) — duplicates collapse
    * map-side), then a per-group cumulative count; the k-th order
    * statistic (k = max(1, ceil(p·n))) is the smallest value whose
    * cumulative count reaches k. Returns long-form
    * (group, p, k, value).
    *
    * This is the DISCRETE (type-1) quantile — it selects an actual
    * data element, so the result hashes stably across engines and
    * engine versions (no interpolation arithmetic, no rounding).
    * Exists as the version-mobility twin of the interpolated
    * percentile family (q47/q104 use `percentile`/`quantile_cont`,
    * whose interpolation is the one construct a future oracle-engine
    * bump could move — VERDICT r8 #7).
    *
    * Scale shape: the rollup is one shuffle on (g, v); the running
    * count is a per-group window — parallel across groups, and within
    * a group it sorts the rolled-up DISTINCT values, not the rows.
    * For low-cardinality groups over a huge value domain, the
    * refinement loop ([[exactOrderStatistic]]) stays the serving path;
    * this is the oracle-checkable anchor. */
  def groupOrderStatistics(df: DataFrame, group: String, v: String,
      ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.groupBy(group).agg(count(lit(1)).as("n"))
    val ks = n.select(col(group), col("n"),
        explode(typedLit(ps)).as("p"))
      .withColumn("k", greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
      .drop("n")
    val cum = df.groupBy(col(group), col(v).as("value"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum("c").over(Window.partitionBy(group).orderBy("value")))
    ks.join(cum, Seq(group))
      .filter(col("cum") >= col("k"))
      .groupBy(col(group), col("p"), col("k"))
      .agg(min("value").as("value"))
  }

  /** q47x: the integer-twin of q47 — per-event-type p50/p90/p99 as
    * exact order statistics (actual data elements, no interpolation,
    * no ROUND). A future driver DuckDB bump that moves quantile_cont's
    * interpolation degrades q47 alone; this row keeps the percentile
    * operator proven. */
  def qPercentilesExact(s: SparkSession, d: String): DataFrame =
    groupOrderStatistics(
      events(s, d).select(col("event_type"), col("value")),
      "event_type", "value", Seq(0.5, 0.9, 0.99))

  /** q104x: the integer-twin of q104 — winsorized stats entirely in
    * exact cents BIGINT: clip bounds are the discrete p05/p95 order
    * statistics (via [[groupOrderStatistics]]) and the clipped total
    * is an integer SUM, so no clause depends on interpolation or
    * float rounding. Money-to-cents uses the q162-proven device
    * (`CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT)` — identical
    * digits on both engines for 2-decimal money doubles). */
  def qWinsorizeCents(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_returnflag").as("flag"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"))
    val bounds = groupOrderStatistics(li, "flag", "cents", Seq(0.05, 0.95))
      .groupBy("flag").agg(
        min(when(col("p") === 0.05, col("value"))).as("lo"),
        min(when(col("p") === 0.95, col("value"))).as("hi"))
    li.join(broadcast(bounds), Seq("flag"))
      .select(col("flag"), col("lo"), col("hi"),
        greatest(least(col("cents"), col("hi")), col("lo")).as("clipped"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n"),
        first("lo").as("p05_cents"),
        first("hi").as("p95_cents"),
        sum("clipped").as("sum_winsor_cents"))
  }

  /** q353: Neyman-optimal stratified sampling allocation — the
    * DESIGN step before q142's stratified split draws anything
    * (proportional allocation wastes budget on low-variance strata;
    * Neyman '34 allocates n_s ∝ N_s·σ_s, the minimum-variance design
    * for a fixed total): per source, the stratum size, its n_chars
    * standard deviation, and the floor allocation out of a 10,000-doc
    * budget.
    *
    * Exactness/determinism: N_s, ΣX and the DECIMAL-widened ΣX² are
    * exact; σ_s and the weight N_s·σ_s are doubles of those integers
    * (identical both engines); the allocation floors
    * budget·w_s/Σw — deterministic, with the sub-budget remainder
    * reported rather than silently re-spread.
    *
    * Scale shape: one map-side rollup onto |sources| rows; scalar
    * math after. */
  def qNeymanAllocation(s: SparkSession, d: String,
      budget: Long = 10000L): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val d2 = (c: Column) => c.cast("double")
    val sums = documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_s"), sum(col("n_chars")).as("s1"),
        sum(dec(col("n_chars")) * col("n_chars")).as("s2d"))
      .withColumn("sigma",
        when(col("n_s") > 1,
          sqrt(d2(dec(col("n_s")) * col("s2d") - dec(col("s1")) * col("s1"))
            / (d2(col("n_s")) * d2(col("n_s") - 1))))
          .otherwise(lit(0.0)))
      .withColumn("w", d2(col("n_s")) * col("sigma"))
    val tot = sums.agg(sum(col("w")).as("w_tot"))
    sums.crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"),
        round(col("sigma"), 6).as("sigma_chars"),
        when(col("w_tot") > 0,
          floor(lit(budget.toDouble) * col("w") / col("w_tot")).cast("long"))
          .otherwise(lit(0L)).as("alloc"))
      .orderBy("source")
  }

  /** q282: k-anonymity / l-diversity release audit (Sweeney 2002;
    * Machanavajjhala 2007) — the privacy gate a dataset release runs
    * before publication: group the table by its quasi-identifier
    * combination (nation × market segment × account-balance band — the
    * attributes a linker could join on) and report each group's size
    * (k-anonymity: a group of size < k re-identifies its members) and
    * the diversity of the sensitive attribute within it (l-diversity:
    * a group whose members all share the sensitive value leaks it even
    * at k ≥ threshold). Sensitive attribute here: the customer's
    * order-count band (capped at 3) — activity level, joined from the
    * fact table.
    *
    * Scale: order counts collapse map-side on custkey (one shuffle),
    * the audit itself is one rollup over the QI key — the same shape
    * at 10⁹ customers. All integers. */
  def qKAnonymity(s: SparkSession, d: String, k: Int = 5,
      l: Int = 2): DataFrame = {
    val oc = orders(s, d).groupBy("o_custkey").agg(count(lit(1)).as("n_ord"))
    customer(s, d)
      .join(oc, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
        expr("CAST(FLOOR(c_acctbal / 6000.0) AS BIGINT)").as("bal_band"),
        least(coalesce(col("n_ord"), lit(0L)), lit(3L)).as("sens"))
      .groupBy("nation", "segment", "bal_band")
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col("sens")).as("l_div"))
      .select(col("nation"), col("segment"), col("bal_band"),
        col("group_size"), col("l_div"),
        (col("group_size") >= k).cast("int").as("k_anonymous"),
        (col("l_div") >= l).cast("int").as("l_diverse"))
  }

  /** q95: single-pass relational data profiler — the table-side
    * datasheet (q85 profiles the text corpus): per-column non-null
    * count, exact distinct count, and numeric min/max/mean over
    * `lineitem`, emitted long-format (one row per column) so the
    * result is schema-stable as tables grow columns. ONE aggregation
    * node computes every stat (the multi-distinct rewrite expands the
    * scan internally — the standard engine plan for this shape, still
    * one pass over storage), then a `stack` unpivots the single stats
    * row. At 100 TB this is the profile job a pipeline runs on every
    * snapshot; at scale distinct counts swap to `approx_count_distinct`
    * (`approxDistinct = true` — the variant ScaleBench measures at
    * 100×, one mergeable HLL sketch per column instead of the
    * multi-distinct expand) — exact in the gate so the oracle can
    * agree bit-for-bit. */
  def qProfile(s: SparkSession, d: String, approxDistinct: Boolean = false): DataFrame = {
    val numeric = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val strings = Seq("l_returnflag", "l_linestatus")
    val all = numeric ++ strings
    val aggs = all.flatMap { c =>
      val dist =
        if (approxDistinct) approx_count_distinct(col(c)).as(s"d_$c")
        else count_distinct(col(c)).as(s"d_$c")
      Seq(count(col(c)).as(s"n_$c"), dist)
    } ++ numeric.flatMap { c =>
      Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
        round(avg(col(c)), 4).as(s"av_$c"))
    }
    val stats = lineitem(s, d).agg(aggs.head, aggs.tail: _*)
    val rows = all.map { c =>
      val (mn, mx, av) =
        if (numeric.contains(c)) (s"mn_$c", s"mx_$c", s"av_$c")
        else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      s"'$c', n_$c, d_$c, $mn, $mx, $av"
    }
    stats.select(expr(
      s"stack(${all.size}, ${rows.mkString(", ")}) " +
        "AS (column_name, n_nonnull, n_distinct, min_v, max_v, mean_v)"))
  }

  /** q96: changeset application — the WRITE counterpart of q94's diff:
    * maintain a corpus snapshot by applying a (delete / update /
    * insert) changeset without rewriting untouched rows' content —
    * the vanilla-Spark MERGE INTO: touched keys leave via one
    * anti-join (left to the planner: a genuinely small changeset
    * broadcasts via AQE, a corpus-proportional one — like this
    * synthetic 1-in-8 — correctly shuffles), replacements and new
    * rows union in. The same
    * deterministic changeset as q94 (drop %17 / edit %13 / add %19),
    * so diff(v1, apply(v1, changeset)) is exactly q94's answer.
    * Output is the full v2 (doc_id, digest) — the gate hash-checks
    * every surviving row's identity and content, not just counts. */
  def qApplyChangeset(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val deletes = docs.filter(col("doc_id") % 17 === 0).select("doc_id")
    val updates = docs.filter(col("doc_id") % 13 === 0 && col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text"))
    val inserts = docs.filter(col("doc_id") % 19 === 0)
      .select((-col("doc_id") - 1).as("doc_id"),
        concat(col("text"), lit(" new")).as("text"))
    val touched = deletes.unionAll(updates.select("doc_id"))
    docs.select("doc_id", "text")
      .join(touched, Seq("doc_id"), "left_anti")
      .unionAll(updates)
      .unionAll(inserts)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
  }

  /** q110: incremental datasheet maintenance — the v2 per-source stats
    * computed WITHOUT rescanning v1: the stored v1 sheet (summable
    * stats: doc/token/char counts) plus delta aggregation over ONLY the
    * changeset rows (subtract removed + old-of-changed, add inserted +
    * new-of-changed — the q94/q96 deterministic changeset). At 100 TB
    * this is the difference between a nightly full corpus scan and a
    * job sized by the day's churn; it works exactly because the sheet
    * restricts itself to MERGEABLE aggregates (sums and counts — means
    * derive at read time; q85's entropy needs its per-(source, lang)
    * count table maintained the same way). The gate hash-checks the
    * delta-maintained sheet against the oracle's FULL v2 recompute —
    * the incremental path must be indistinguishable from the rescan. */
  def qIncrementalStats(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("text"))
    def sheet(df: DataFrame): DataFrame = df.groupBy("source").agg(
      count("*").as("n_docs"),
      sum(tokenCount(col("text"))).cast("long").as("n_tokens"),
      sum(length(col("text"))).cast("long").as("n_chars"))
    // the stored v1 sheet (in production: read back, never recomputed)
    val v1 = sheet(docs)
    // changeset rows only — deletes and the old version of every update
    // leave; the new versions and inserts arrive (inserts keep their
    // progenitor's source, the q94 device)
    val leaving = docs.filter(col("doc_id") % 17 === 0 ||
      (col("doc_id") % 13 === 0 && col("doc_id") % 17 =!= 0))
    val arriving = docs
      .filter(col("doc_id") % 13 === 0 && col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), col("source"),
        concat(col("text"), lit(" rev2")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 19 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("source"),
          concat(col("text"), lit(" new")).as("text")))
    // delta apply: v1 ⊖ sheet(leaving) ⊕ sheet(arriving), per source —
    // three tiny sheets joined on the source key, no corpus work beyond
    // the changeset scans
    val minus = sheet(leaving).select(col("source"),
      col("n_docs").as("d_docs"), col("n_tokens").as("d_tokens"),
      col("n_chars").as("d_chars"))
    val plus = sheet(arriving).select(col("source"),
      col("n_docs").as("a_docs"), col("n_tokens").as("a_tokens"),
      col("n_chars").as("a_chars"))
    v1.join(minus, Seq("source"), "left").join(plus, Seq("source"), "left")
      .select(col("source"),
        (col("n_docs") - coalesce(col("d_docs"), lit(0L))
          + coalesce(col("a_docs"), lit(0L))).as("n_docs"),
        (col("n_tokens") - coalesce(col("d_tokens"), lit(0L))
          + coalesce(col("a_tokens"), lit(0L))).as("n_tokens"),
        (col("n_chars") - coalesce(col("d_chars"), lit(0L))
          + coalesce(col("a_chars"), lit(0L))).as("n_chars"))
      .withColumn("mean_chars",
        round(col("n_chars").cast("double") / col("n_docs"), 2))
  }

  /** q97: token frequency spectrum — the Zipf/Heaps diagnostic every
    * corpus datasheet carries: for each occurrence count k, how many
    * distinct token TYPES occur exactly k times (the k=1 row is the
    * hapax count — the classic vocabulary-growth indicator). Two
    * partial-agg shuffles, both vocabulary-sized or smaller; the
    * corpus passes once. */
  def qFreqSpectrum(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(tokens(lower(col("text")))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").agg(count("*").as("occurrences"))
      .groupBy("occurrences").agg(count("*").as("n_token_types"))

  /** q99: fill-in-the-middle splits (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle" — the public
    * FIM transform): each document splits at deterministic char
    * offsets into (prefix, middle, suffix) thirds, and the PSM
    * reordering (prefix ⊕ suffix ⊕ middle — what the model actually
    * trains on) is digested so the gate hash-checks the exact
    * reassembled bytes. Pure substring arithmetic inside the scan —
    * no shuffle at all; at 100 TB this is the map stage of the
    * pretraining tokenizer job. Sentinel tokens are a tokenizer
    * concern (q82's BPE encode step), not a byte-transform one, so
    * the transform stays exactly SQL-expressible. */
  def qFimSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      // CAST(FLOOR(...)) rather than integer division: DuckDB CAST on a
      // fractional value ROUNDS where Spark truncates — floor first is
      // the formulation both engines evaluate identically
      .select(col("doc_id"),
        expr("substring(text, 1, cast(floor(length(text) / 3.0) as int))").as("prefix"),
        expr("substring(text, cast(floor(length(text) / 3.0) as int) + 1, " +
          "cast(floor(length(text) / 3.0) as int))").as("middle"),
        expr("substring(text, 2 * cast(floor(length(text) / 3.0) as int) + 1)").as("suffix"))
      .select(col("doc_id"),
        length(col("prefix")).as("n_prefix"),
        length(col("middle")).as("n_middle"),
        length(col("suffix")).as("n_suffix"),
        md5(concat(col("prefix"), col("suffix"), col("middle")).cast("binary"))
          .as("psm_digest"))

  /** q100: per-source quota sampling — the crawl-curation cap ("at most
    * K documents per domain") that keeps over-represented sources from
    * dominating a mix: rank each source's docs by a deterministic hash
    * (an unbiased shuffle that every engine reproduces — ranking by a
    * quality score is the same plan with a different ORDER BY) and keep
    * the first `quota`. One shuffle on source; the window walks each
    * partition locally — at 100 TB source cardinality gives the
    * parallelism and no source's rows ever collect anywhere. */
  def qSourceQuota(s: SparkSession, d: String, quota: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    documents(s, d)
      .select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
  }

  /** q54: sequence packing — the training-batch construction op: pack
    * documents (in doc_id order) into contiguous fixed-token-budget
    * bins, PER SOURCE SHARD. A doc's bin = floor(tokens-before-it /
    * budget) over a per-source running sum, i.e. a streaming packer
    * that starts a new bin each time the budget boundary is crossed.
    * Per-source partitioning is the 100 TB shape: one shuffle on
    * source, the running sum is computed inside each partition — a
    * single global order would serialize the window on one task. */
  def qSequencePack(s: SparkSession, d: String, budget: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("source"), col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      .withColumn("bin",
        floor((sum("n_tokens").over(w) - col("n_tokens")) / lit(budget.toDouble)))
      .groupBy("source", "bin")
      .agg(count("*").as("n_docs"), sum("n_tokens").cast("long").as("sum_tokens"))
  }

  /** q55: vocabulary building — global token frequencies, top-k by
    * (count desc, token asc): the tokenizer-vocab primitive. explode →
    * partial-agg count → TakeOrdered top-k; the full token table never
    * materializes on one node at any corpus size. */
  def qVocabulary(s: SparkSession, d: String, k: Int = 200): DataFrame =
    documents(s, d)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count("*").as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** q129: vocabulary coverage curve — what fraction of all corpus
    * tokens the top-k most frequent types cover, at k in {3, 10, 30,
    * 100, 1000, 10000}. THE vocabulary-size decision number (the area under
    * this curve is why 32k-entry tokenizers cover 95%+ of web text):
    * read beside q55's head, q83's OOV rate, and q123's fertility it
    * tells you where the subword budget stops paying.
    *
    * Scale shape: one corpus scan with map-side partial agg down to the
    * vocabulary-sized frequency table (Heaps' law — the same argument
    * as q55/q78); the rank/cumsum window is a single-partition sort of
    * THAT table, never of corpus rows, and the checkpoint filter
    * returns at most four rows. Ordering ties break on the token string
    * so both engines rank identically. */
  def qVocabCoverage(s: SparkSession, d: String): DataFrame =
    vocabCoverage(documents(s, d))

  /** The q129 core over any (text) frame. */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = docs
      .select(explode(tokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count("*").as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    vocab
      .withColumn("k", row_number().over(w))
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("k").isin(3, 10, 30, 100, 1000, 10000))
      .select(col("k"), col("cum").as("covered_tokens"),
        round(col("cum").cast("double") / col("total"), 4).as("coverage"))
  }

  /** q67: the END-TO-END curation pipeline — the composition a real
    * training-data run executes, with every stage an already-verified
    * operator, so the whole chain is one oracle-checkable query:
    *
    *  1. quality filter (q24's predicates: length, distinct-token
    *     ratio, punctuation) — map-side, nothing shuffles rejected docs;
    *  2. transitive near-dup dedup over the SURVIVORS (q29 pair
    *     definition at the q57 threshold → connected components); each
    *     cluster keeps its min-id member — cluster-based survivor
    *     selection, the semantics q56's pairwise approximation
    *     under-merges;
    *  3. sequence packing of the kept corpus into 1024-token bins per
    *     source in doc_id order (q54's running-sum bin rule);
    *  4. per-source rollup: docs kept, bins produced, tokens kept.
    *
    * Scale shape: stage 1 is a scan filter; stage 2 shuffles hashed
    * shingle signatures of the filtered corpus only; stage 3 is one
    * window per source partition; stage 4 a tiny agg. No stage
    * materializes to the driver. */
  def qPipelineE2e(s: SparkSession, d: String, budget: Int = 1024): DataFrame = {
    import graft.functions._
    val kept = documents(s, d)
      .filter(length(col("text")) >= 50 &&
        distinctTokenRatio(col("text")) >= 0.1 &&
        punctRatio(col("text")) <= 0.2)
      .select(col("doc_id"), col("source"), col("text"))
    val pairs = Dedup.ngramJaccardPairs(kept, "doc_id", "text",
        window = 64, threshold = 0.1)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val comp = Dedup.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    val survivors = kept
      .join(comp, Seq("doc_id"), "left")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    survivors
      .withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget.toDouble))
      .groupBy("source")
      .agg(count("*").as("n_kept"),
        count_distinct(col("bin")).as("n_bins"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  /** q71: overlapping document chunking — the context-window
    * preparation op (training sequences / RAG passages): fixed-size
    * character chunks every `stride` chars (chunks overlap by
    * size − stride so no boundary content is lost). One `transform` +
    * `explode` per doc — map-side, chunk count ∝ doc length, nothing
    * shuffles until the per-source rollup; at 100 TB this is a single
    * scan emitting chunks. Start offsets are every multiple of `stride`
    * strictly below the doc length (the tail chunk may be short). */
  def chunkColumn(text: Column, size: Int, stride: Int): Column =
    explode(transform(
      sequence(lit(0), length(text) - 1, lit(stride)),
      st => text.substr(st + lit(1), lit(size))))

  def qChunk(s: SparkSession, d: String, size: Int = 200, stride: Int = 150): DataFrame =
    documents(s, d)
      .select(col("source"), chunkColumn(col("text"), size, stride).as("chunk"))
      .groupBy("source")
      .agg(count("*").as("n_chunks"),
        count_distinct(md5(col("chunk").cast("binary"))).as("n_unique"),
        sum(length(col("chunk"))).cast("long").as("sum_chars"))

  /** q72: global-quantile filtering — keep documents at or above the
    * corpus's 25th length percentile: the two-pass "compute a global
    * statistic, broadcast it, filter the scan" shape quality pipelines
    * use for adaptive thresholds. The exact `percentile` anchors the
    * oracle (bit-matches DuckDB quantile_cont, as q47 established); at
    * 100 TB the one-row threshold comes from `percentile_approx`
    * (mergeable sketch, q49's scale path) and broadcasts identically —
    * the filter pass is a plain scan predicate either way. */
  def qQuantileFilter(s: SparkSession, d: String, q: Double = 0.25): DataFrame = {
    val docs = documents(s, d)
    val thr = docs.agg(expr(s"percentile(n_chars, $q)").as("thr"))
    docs.crossJoin(broadcast(thr))
      .filter(col("n_chars") >= col("thr"))
      .groupBy("source")
      .agg(count("*").as("n_kept"),
        sum(graft.functions.tokenCount(col("text"))).cast("long").as("sum_tokens"))
  }

  /** Exact K-th order statistic by ITERATIVE THRESHOLD REFINEMENT — the
    * exact-quantile plan that survives 100 TB where q47's sort-based
    * `percentile` cannot: each round histograms the candidate value
    * range into `buckets` range-buckets in ONE map-side-combined scan
    * (driver state = the ≤`buckets`-row histogram, never data), picks
    * the bucket containing the residual rank, and recurses into it
    * using the bucket's OBSERVED min/max as the new range (monotone
    * floating-point bucketing means the [mn, mx] filter re-selects
    * exactly that bucket's rows). The candidate count shrinks ~`buckets`×
    * per round — 2–3 scans reach a ≤`cap` tail at petabyte row counts —
    * and the tail resolves with a bounded TakeOrdered (k ≤ cap rows per
    * partition heap), never a driver data collect. Complements q47
    * (exact, sort-based oracle anchor) and q49 (mergeable sketch):
    * this is the path that is BOTH exact and scale-safe.
    * Ref: distributed selection via range partitioning; the reference
    * exposes percentiles only through user-scripted sorted-set scans
    * (js_api stream surface), which this replaces wholesale. */
  def exactOrderStatistic(df: DataFrame, v: Column, k: Long,
      buckets: Int = 4096, cap: Long = 100000): Double = {
    require(k >= 1, s"rank must be >= 1, got $k")
    val vals = df.select(v.cast("double").as("v")).filter(col("v").isNotNull)

    @annotation.tailrec
    def refine(lo: Double, hi: Double, rank: Long, n: Long, rounds: Int): Double = {
      val w = (hi - lo) / buckets
      if (lo == hi) lo
      else if (n <= cap || rounds >= 64 || !(w > 0) || lo + w == lo) {
        // bounded tail (or a sub-ulp range, i.e. massive ties): rank ≤ n
        // and n ≤ cap on the normal path; TakeOrdered keeps ≤ rank rows
        require(rank <= Int.MaxValue, s"degenerate tail with rank $rank")
        vals.filter(col("v") >= lo && col("v") <= hi)
          .orderBy("v").limit(rank.toInt)
          .agg(max("v")).head().getDouble(0)
      } else {
        val idx = least(lit(buckets - 1),
          floor((col("v") - lit(lo)) / lit(w))).cast("int")
        val hist = vals.filter(col("v") >= lo && col("v") <= hi)
          .groupBy(idx.as("b"))
          .agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
          .orderBy("b")
          .collect() // ≤ `buckets` rows — bounded driver state by design
        var remaining = rank
        var i = 0
        while (i < hist.length - 1 && remaining > hist(i).getAs[Long]("n")) {
          remaining -= hist(i).getAs[Long]("n"); i += 1
        }
        val b = hist(i)
        refine(b.getAs[Double]("mn"), b.getAs[Double]("mx"), remaining,
          b.getAs[Long]("n"), rounds + 1)
      }
    }

    val stats = vals.agg(count(lit(1)).as("n"), min("v").as("mn"),
      max("v").as("mx")).head()
    val n = stats.getAs[Long]("n")
    require(k <= n, s"rank $k exceeds non-null row count $n")
    refine(stats.getAs[Double]("mn"), stats.getAs[Double]("mx"), k, n, 0)
  }

  /** q148: exact corpus percentiles (p50/p90/p99 of lineitem's
    * extended price) through [[exactOrderStatistic]] — rank
    * k = ceil(p·n), the lower discrete quantile, so every reported
    * value is an actual data element (no interpolation, no float-sum
    * instability; the DuckDB oracle selects the same rank with
    * ROW_NUMBER and hashes bit-identically). */
  def qExactQuantiles(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_extendedprice").as("v"))
    val n = li.count()
    val ps = Seq(0.5, 0.9, 0.99)
    val rows = ps.map { p =>
      val k = math.max(1L, math.ceil(p * n).toLong)
      (p, k, exactOrderStatistic(li, col("v"), k))
    }
    import s.implicits._
    rows.toDF("p", "k", "value")
  }

  /** q149: conversion-latency percentiles — the funnel (q131) composed
    * with the exact selection machinery: per user, the first `view`
    * and the earliest `purchase` at-or-after it give a conversion
    * latency in µs; p50/p90/p99 of those latencies are exact K-th
    * order statistics via [[exactOrderStatistic]]. Time-to-event
    * percentiles are THE operational funnel metric, and at 100 TB the
    * latency table (one row per converting user) feeds the same
    * histogram-refinement scans — no global sort anywhere. */
  def qConversionLatency(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select("user_id", "event_type", "ts")
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("fv"))
    val lat = ev.filter(col("event_type") === "purchase")
      .join(fv, Seq("user_id"))
      .filter(col("ts") >= col("fv"))
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts")) - unix_micros(col("fv"))).as("lat"))
      .select(col("lat"))
    val n = lat.count()
    val ps = Seq(0.5, 0.9, 0.99)
    val rows = ps.map { p =>
      val k = math.max(1L, math.ceil(p * n).toLong)
      (p, k, exactOrderStatistic(lat, col("lat"), k).toLong)
    }
    import s.implicits._
    rows.toDF("p", "k", "latency_us")
  }

  /** Distributed BPE merge learning (byte-pair encoding — Gage 1994,
    * applied to subword tokenization by Sennrich et al., ACL 2016;
    * public algorithm) — the tokenizer-TRAINING primitive (q55 builds a
    * unigram vocabulary; real subword tokenizers learn MERGES). Works
    * the way production trainers do: ONE corpus-sized
    * pass builds the word-frequency table, then every merge round runs
    * over that VOCAB-sized table (Heaps' law: sublinear in corpus
    * size), so 100 TB of text costs one aggregation plus rounds over a
    * few million rows. Each round: count adjacent symbol pairs
    * weighted by word frequency (explode + sum), pick the argmax
    * (count desc, pair asc — the deterministic tie-break that makes
    * the whole procedure engine-independent), and apply the merge with
    * a left-to-right non-overlapping fold (`aggregate` HOF — the
    * merged symbol a+b can never equal `a`, so no flag is needed).
    * The corpus pass is distributed always; WHERE the merge loop runs
    * depends on the vocabulary size. Under `driverVocabCap` rows the
    * word-frequency table is collected once and the rounds run
    * driver-side — a production 32k-merge vocabulary as 32k sequential
    * Spark jobs is pure job-scheduling overhead (~100× the useful
    * work), while the table itself is vocab-sized and fits easily
    * (2M rows ≈ tens of MB). Above the cap the rounds run as
    * distributed aggregations (per-round argmax = a 1-row collect, a
    * control-plane read; lineage truncated with localCheckpoint each
    * round). Both paths implement the identical count/tie-break/merge
    * semantics — BpeSpec pins them to the same sequence.
    *
    * Returns the learned merges in order: (rank, left, right). */
  def learnBpeMerges(docs: DataFrame, textCol: String, numMerges: Int,
      driverVocabCap: Int = 1 << 21): Seq[(Int, String, String)] = {
    // one corpus pass: word frequencies (Heaps' law: vocab-sized,
    // sublinear in corpus size)
    val vocabDf = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count("*").as("cnt"))
    // size-probe first (a count over the limited plan — no rows ship),
    // THEN collect: probing by collecting cap+1 rows would spike the
    // driver with ~2M Row objects just to discard them on the over-cap
    // branch. The probe costs one extra vocab-sized job — noise next
    // to the 32k-job loop this path exists to avoid.
    val fits = vocabDf.limit(driverVocabCap + 1).count() <= driverVocabCap
    if (fits)
      learnBpeMergesDriver(
        vocabDf.collect().map(r => (r.getString(0), r.getLong(1))), numMerges)
    else
      learnBpeMergesDistributed(
        vocabDf.select(split(col("w"), "").as("symbols"), col("cnt")), numMerges)
  }

  /** Split a word into CODE-POINT symbols — what Spark's
    * `split(w, "")` produces. `w.map(_.toString)` would split UTF-16
    * code units instead, shattering supplementary characters (emoji
    * etc.) into invalid surrogate halves and diverging from the
    * distributed path. */
  private def codePointSymbols(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Binary UTF-8 string order — Spark's `orderBy` collation for
    * strings. Java's natural String order is UTF-16 code-unit order,
    * which disagrees for supplementary characters; the tie-break must
    * match the distributed argmax exactly. */
  private def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** The under-cap merge loop: plain-Scala rounds over the collected
    * word-frequency table — zero Spark jobs per merge. Semantics match
    * the distributed rounds exactly: code-point symbols, pair counts
    * weighted by word frequency, argmax on (count desc, pair asc under
    * UTF-8 binary collation), left-to-right non-overlapping merge
    * application. The pair counts are built once; each merge re-counts
    * only the words it changed (their old pairs out, their new pairs
    * in), dropping pairs whose count reaches 0. */
  private def learnBpeMergesDriver(words: Array[(String, Long)],
      numMerges: Int,
      symbolize: String => Array[String] = codePointSymbols): Seq[(Int, String, String)] = {
    val syms: Array[Array[String]] = words.map(w => symbolize(w._1))
    val cnts: Array[Long] = words.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def addPairs(s: Array[String], c: Long): Unit = {
      var j = 0
      while (j < s.length - 1) {
        val key = (s(j), s(j + 1))
        val n = counts.getOrElse(key, 0L) + c
        if (n == 0L) counts.remove(key) else counts.update(key, n)
        j += 1
      }
    }
    var i = 0
    while (i < syms.length) { addPairs(syms(i), cnts(i)); i += 1 }
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      if (counts.isEmpty) done = true
      else {
        var bestA: String = null
        var bestB: String = null
        var bestN = -1L
        counts.foreach { case ((a, b), n) =>
          if (n > bestN || (n == bestN &&
              (utf8Less(a, bestA) || (a == bestA && utf8Less(b, bestB))))) {
            bestA = a; bestB = b; bestN = n
          }
        }
        merges += ((rank, bestA, bestB))
        val m = bestA + bestB
        i = 0
        while (i < syms.length) {
          val s = syms(i)
          var j = 0
          while (j < s.length - 1 && !(s(j) == bestA && s(j + 1) == bestB)) j += 1
          if (j < s.length - 1) {
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            var p = 0
            while (p < s.length) {
              if (p < s.length - 1 && s(p) == bestA && s(p + 1) == bestB) {
                buf += m; p += 2
              } else { buf += s(p); p += 1 }
            }
            addPairs(s, -cnts(i))
            syms(i) = buf.toArray
            addPairs(syms(i), cnts(i))
          }
          i += 1
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** The above-cap fallback: each round is one distributed pair-count
    * aggregation + argmax collect + merge application over the
    * vocab-sized symbols table. */
  private def learnBpeMergesDistributed(symbolsDf: DataFrame,
      numMerges: Int): Seq[(Int, String, String)] = {
    var vocab = symbolsDf.localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val best = vocab
        .filter(size(col("symbols")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("symbols")) - 1),
          i => struct(element_at(col("symbols"), i).as("a"),
            element_at(col("symbols"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best.head.getString(0), best.head.getString(1))
        merges += ((rank, a, b))
        // left-to-right non-overlapping merge of (a, b) -> a+b
        val merged = concat(lit(a), lit(b))
        vocab = vocab.withColumn("symbols",
            aggregate(col("symbols"), array().cast("array<string>"),
              (acc, s) => when(size(acc) > 0 &&
                  element_at(acc, -1) === a && s === b,
                concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
                .otherwise(concat(acc, array(s)))))
          .localCheckpoint()
        rank += 1
      }
    }
    merges.toSeq
  }

  /** q78: the first 30 BPE merges learned from the corpus — rows-only
    * in the gate (iterative training is not SQL-expressible); BpeSpec
    * asserts the EXACT merge sequence against a driver-side reference
    * implementation (deterministic by the tie-break). */
  def qBpeMerges(s: SparkSession, d: String, numMerges: Int = 30): DataFrame = {
    import s.implicits._
    learnBpeMerges(documents(s, d), "text", numMerges)
      .toDF("rank", "left", "right")
  }

  /** q80: cross-source n-gram overlap matrix — pairwise Jaccard
    * similarity of the sources' distinct word-trigram sets, the
    * corpus-level cousin of q42's doc-level contamination scan (q42
    * asks "which docs touch the benchmark"; this asks "how much do any
    * two SOURCES overlap", the first question when auditing a new data
    * mix for cross-source leakage).
    *
    * Scale shape: explode + distinct collapses the corpus to the
    * (source, gram) set — everything after is gram-vocabulary-sized,
    * never corpus-sized. The pair counts come from a self-equi-join on
    * the gram (shuffle keyed by gram), whose per-gram fanout is
    * bounded by #sources², not by corpus size; per-source totals
    * broadcast. No all-pairs-of-documents work anywhere. */
  def qSourceOverlap(s: SparkSession, d: String, n: Int = 3): DataFrame = {
    GraftFunctions.register(s)
    sourceOverlap(documents(s, d), n)
  }

  /** The q80 core over any (source, text) frame — see [[qSourceOverlap]].
    * Callers must have run `GraftFunctions.register`. */
  def sourceOverlap(docs: DataFrame, n: Int): DataFrame = {
    // the distinct (source, gram) set feeds four subplans (both
    // self-join sides + the two per-source totals); persist so the
    // corpus is shingled once, not four times — same bounded
    // one-outstanding-cache discipline as minhashPairs (unpersist is an
    // optimization, never a correctness dependency)
    val grams = docs
      .select(col("source"), explode(shingleSet(col("text"), n)).as("g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Option(Pipeline.lastOverlapCache.getAndSet(grams)).foreach(_.unpersist(blocking = false))
    val counts = grams.groupBy("source").agg(count("*").as("n_grams"))
    val common = grams.select(col("source").as("src_a"), col("g"))
      .join(grams.select(col("source").as("src_b"), col("g")), Seq("g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count("*").as("n_common"))
    common
      .join(broadcast(counts.select(col("source").as("src_a"), col("n_grams").as("na"))), Seq("src_a"))
      .join(broadcast(counts.select(col("source").as("src_b"), col("n_grams").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")), 6).as("jaccard"))
  }

  /** q81: token-budget greedy curation — per source, keep the
    * highest-priority documents (longest first, doc_id tie-break)
    * until a per-source token budget is exhausted: the "fill each
    * mixture slice up to its budget" step that follows q40's rate
    * mixing when the training recipe fixes TOKEN counts per source
    * rather than sampling rates. One window (cumulative token sum per
    * source, shuffle keyed by source) + filter + rollup; at 100 TB the
    * window partitions by source, so skewed giant sources are the
    * thing to watch — budget-truncation means only the prefix
    * matters, and a pre-filter on the per-source length rank could
    * bound the sort if a source ever dwarfed the rest. */
  def qTokenBudget(s: SparkSession, d: String, budget: Int = 2000): DataFrame =
    tokenBudget(documents(s, d), budget)

  /** The q81 core over any (source, doc_id, n_chars, text) frame. */
  def tokenBudget(docs: DataFrame, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("source"), col("doc_id"), col("n_chars"),
        graft.functions.tokenCount(col("text")).as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .filter(col("cum") <= budget)
      .groupBy("source")
      .agg(count("*").as("n_selected"), sum("tok").cast("long").as("sum_tokens"))
  }

  /** BPE ENCODING (the apply side of [[learnBpeMerges]]): tokenize
    * every distinct word with a learned merge table. Merges are applied
    * in rank order with the same left-to-right non-overlapping fold the
    * trainer uses — sequential application is equivalent to the classic
    * lowest-rank-first loop because a pair involving a merged symbol
    * can only have been learned AFTER that symbol existed, i.e. at a
    * later rank. Runs as mapPartitions over the DISTINCT-WORD table
    * (vocab-sized — Heaps' law, NOT corpus-sized) with the merge table
    * broadcast: per-element sequential string rewriting is the one
    * shape a Catalyst expression cannot beat, and the corpus never
    * passes through it. Returns (w, subwords). */
  def encodeBpe(words: org.apache.spark.sql.Dataset[String],
      merges: Seq[(Int, String, String)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val ordered = merges.sortBy(_._1).map { case (_, a, b) => (a, b) }
    val bc = spark.sparkContext.broadcast(ordered)
    words.mapPartitions { it =>
      val ms = bc.value
      it.map { word =>
        var syms: Vector[String] = word.split("").toVector
        ms.foreach { case (a, b) =>
          if (syms.length >= 2) {
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += syms(i); i += 1 }
            }
            syms = out.result()
          }
        }
        (word, syms)
      }
    }.toDF("w", "subwords")
  }

  // ---------------------------------------------------------------
  // Byte-level BPE (GPT-2/Llama-class): UTF-8 bytes as the merge unit
  // behind the public GPT-2 pre-tokenizer split — the production
  // tokenizer construction (Radford et al. 2019; the regex and the
  // byte<->unicode table are published in the GPT-2 reference
  // encoder). Same vocab-sized machinery as q78: one corpus pass for
  // pre-token frequencies, merge rounds over the vocab table only.
  // ---------------------------------------------------------------

  /** The public GPT-2 pre-tokenizer pattern: contraction suffixes,
    * space-prefixed letter/digit/punct runs, and trailing/other
    * whitespace (the lookahead keeps a final space glued to the next
    * token only when none follows). Java regex, applied UNLOWERED —
    * byte-level tokenizers are case-preserving. */
  val Gpt2SplitPattern: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"""

  /** The GPT-2 byte->unicode bijection: printable latin bytes map to
    * themselves; the rest shift to 256+n — every byte gets a PRINTABLE
    * one-codepoint symbol, so byte sequences ride the same String
    * machinery as code-point BPE (space becomes 'Ġ' U+0120, newline
    * 'Ċ' U+010A — the familiar GPT-2 vocab artifacts). */
  val ByteToUnicode: Array[String] = {
    val bs = scala.collection.mutable.ArrayBuffer.empty[Int]
    bs ++= ('!'.toInt to '~'.toInt)
    bs ++= (0xa1 to 0xac)
    bs ++= (0xae to 0xff)
    val cs = bs.clone()
    var n = 0
    val present = bs.toSet
    for (b <- 0 until 256) if (!present(b)) { bs += b; cs += 256 + n; n += 1 }
    val arr = new Array[String](256)
    bs.indices.foreach(i => arr(bs(i)) = new String(Character.toChars(cs(i))))
    arr
  }

  /** A pre-token's UTF-8 bytes as mapped one-codepoint symbols. */
  private[operators] def byteSymbols(tok: String): Array[String] =
    tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => ByteToUnicode(b & 0xff))

  /** Byte-level BPE merge learning over the GPT-2 pre-tokenization —
    * [[learnBpeMerges]]'s discipline (driver under the vocab cap,
    * distributed rounds above it; identical count/tie-break/merge
    * semantics either way) with UTF-8 bytes as the initial symbols.
    * The corpus pass explodes the pre-tokenizer matches (case and
    * whitespace PRESERVED — the leading-space convention is what makes
    * 'Ġthe' and 'the' distinct learned units, exactly as production
    * vocabs have it). */
  def learnByteBpeMerges(docs: DataFrame, textCol: String, numMerges: Int,
      driverVocabCap: Int = 1 << 21): Seq[(Int, String, String)] = {
    val vocabDf = docs
      .select(explode(regexp_extract_all(col(textCol),
        lit(Gpt2SplitPattern), lit(0))).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").agg(count("*").as("cnt"))
    val fits = vocabDf.limit(driverVocabCap + 1).count() <= driverVocabCap
    if (fits)
      learnBpeMergesDriver(
        vocabDf.collect().map(r => (r.getString(0), r.getLong(1))), numMerges,
        byteSymbols)
    else {
      val spark = docs.sparkSession
      import spark.implicits._
      learnBpeMergesDistributed(
        vocabDf.as[(String, Long)]
          .map { case (t, c) => (byteSymbols(t).toSeq, c) }
          .toDF("symbols", "cnt"), numMerges)
    }
  }

  /** Byte-level encode: each distinct pre-token's mapped byte symbols
    * folded through the merge list in rank order (the reference
    * encoder's apply loop; left-to-right non-overlapping per merge). */
  def encodeByteBpe(tokens: org.apache.spark.sql.Dataset[String],
      merges: Seq[(Int, String, String)]): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    val ordered = merges.sortBy(_._1).map { case (_, a, b) => (a, b) }
    val bc = spark.sparkContext.broadcast(ordered)
    tokens.mapPartitions { it =>
      val ms = bc.value
      it.map { tok =>
        var syms: Vector[String] = byteSymbols(tok).toVector
        ms.foreach { case (a, b) =>
          if (syms.length >= 2) {
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += syms(i); i += 1 }
            }
            syms = out.result()
          }
        }
        (tok, syms)
      }
    }.toDF("t", "tokens")
  }

  /** q375: the first byte-level BPE merges learned from the corpus
    * behind the GPT-2 pre-tokenizer — rows-only in the gate (iterative
    * training is not SQL); ByteBpeSpec pins the EXACT sequence against
    * an independent reference implementation and the byte<->unicode
    * table against its published anchors. */
  def qByteBpeMerges(s: SparkSession, d: String, numMerges: Int = 40): DataFrame = {
    import s.implicits._
    learnByteBpeMerges(documents(s, d), "text", numMerges)
      .toDF("rank", "left", "right")
  }

  /** q376: byte-level BPE corpus encoding with q375's merges —
    * per-source pre-token/token/byte totals and the tokens-per-byte
    * fertility (floored ppm), the number a tokenizer budget is planned
    * from. Occurrence-weighted via one explode + vocab-sized join (the
    * q82 shape); rows-only (merge table not SQL); ByteBpeSpec asserts
    * the losslessness and reference-encoder equality the stats rest
    * on. */
  def qByteBpeEncode(s: SparkSession, d: String, numMerges: Int = 40): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val merges = learnByteBpeMerges(docs, "text", numMerges)
    val toks = docs
      .select(col("source"), explode(regexp_extract_all(col("text"),
        lit(Gpt2SplitPattern), lit(0))).as("t"))
      .filter(length(col("t")) > 0)
    val encoded = encodeByteBpe(toks.select("t").distinct().as[String], merges)
      .select(col("t"), size(col("tokens")).as("n_tokens"),
        octet_length(col("t")).as("n_bytes"))
    toks.join(encoded, Seq("t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_pretokens"),
        sum("n_tokens").cast("long").as("sum_tokens"),
        sum("n_bytes").cast("long").as("sum_bytes"))
      .withColumn("tokens_per_mb", expr("sum_tokens * 1000000 div sum_bytes"))
      .orderBy("source")
  }

  /** q82: BPE encoding of the corpus with the merges q78 learns from
    * it — rows-only in the gate (the merge table is not
    * SQL-expressible); BpeEncodeSpec asserts per-word subword
    * sequences EXACTLY against a plain-Scala reference encoder and
    * checks the lossless-concatenation property. Per-source stats:
    * occurrence-weighted subword counts via one explode + a
    * vocab-sized equi-join (AQE broadcasts it when small). */
  def qBpeEncode(s: SparkSession, d: String, numMerges: Int = 30): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val merges = learnBpeMerges(docs, "text", numMerges)
    val words = docs
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val encoded = encodeBpe(words.select("w").distinct().as[String], merges)
      .select(col("w"), size(col("subwords")).as("n_subwords"))
    words.join(encoded, Seq("w"))
      .groupBy("source")
      .agg(count("*").as("n_words"),
        sum("n_subwords").cast("long").as("sum_subwords"),
        round(avg(col("n_subwords")), 4).as("avg_subwords"))
  }

  /** The one outstanding source-overlap gram cache (see [[sourceOverlap]]). */
  private val lastOverlapCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame]()

  /** q60: deterministic stratified hash sampling — the reproducible
    * corpus-sampling primitive (seeded `sample()` is partition-layout
    * dependent; a content-hash threshold is stable across cluster
    * sizes, re-runs, and engines, which is why production pipelines
    * sample this way). Each doc is kept iff the first 2 hex chars of
    * md5(doc_id) fall below a per-stratum threshold: even-numbered
    * sources keep ~50% ('80'), odd ~12.5% ('20'). Map-side filter, no
    * shuffle before the final per-source rollup — at 100 TB this is a
    * single scan. Exactly reproducible in DuckDB (same md5 hex,
    * lexicographic compare), so fully oracle-checked. */
  def qHashSample(s: SparkSession, d: String): DataFrame = {
    val h2 = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    val thresh = when(substring(col("source"), 4, 10).cast("int") % 2 === 0, "80")
      .otherwise("20")
    documents(s, d)
      .filter(h2 < thresh)
      .groupBy("source")
      .agg(count("*").as("n_kept"),
        sum(graft.functions.tokenCount(col("text"))).cast("long").as("sum_tokens"))
  }

  /** q118: deterministic epoch shuffle — the training-order
    * construction every epoch of pre-training needs: a reproducible
    * pseudo-random permutation of the corpus per epoch, sharded so no
    * single task ever holds a global order. Each doc's epoch-`e` key is
    * md5(e:doc_id); its shard is the first hex digit (16 shards) and
    * its position is the rank of the key WITHIN that shard — windows
    * are partition-local, so at 100 TB this is one hash-shuffle into
    * shards and a per-shard sort, never a global `orderBy`. Different
    * epochs derive different keys, so orders decorrelate while staying
    * replayable from (epoch, doc_id) alone — no stored permutation. */
  def qEpochShuffle(s: SparkSession, d: String, epochs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = documents(s, d).select(col("doc_id"))
    val perEpoch = (1 to epochs).map { e =>
      val h = md5(concat(lit(s"$e:"), col("doc_id").cast("string")).cast("binary"))
      ids.select(lit(e).as("epoch"), col("doc_id"), h.as("h"))
        .withColumn("shard", conv(substring(col("h"), 1, 1), 16, 10).cast("int"))
    }
    val w = Window.partitionBy("epoch", "shard").orderBy(col("h"), col("doc_id"))
    perEpoch.reduce(_.unionAll(_))
      .withColumn("pos", row_number().over(w))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
  }

  /** q122: length-bucket padding-waste audit — the batching-efficiency
    * datasheet: bucket documents by next-power-of-two token length (the
    * standard length-grouped batching scheme) and report, per bucket,
    * the padded token count and the waste fraction a trainer would pay
    * padding every doc to its bucket boundary — the number that decides
    * bucket granularity and sequence-packing strategy (q54 is the
    * packer; this is the audit that says what packing saves). Buckets
    * are explicit CASE thresholds, not float log2 (Math.log-based log2
    * can land an exact power of two on either side across engines).
    * One scan + buckets-sized agg, no shuffle beyond it. */
  def qPaddingWaste(s: SparkSession, d: String): DataFrame = {
    val n = tokenCount(col("text"))
    val bucket = when(n <= 16, 16).when(n <= 32, 32).when(n <= 64, 64)
      .when(n <= 128, 128).when(n <= 256, 256).when(n <= 512, 512)
      .when(n <= 1024, 1024).otherwise(2048)
    documents(s, d)
      .select(n.as("n_tokens"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count("*").as("n_docs"),
        sum("n_tokens").cast("long").as("sum_tokens"))
      .withColumn("padded_tokens", col("bucket").cast("long") * col("n_docs"))
      .withColumn("waste_frac",
        round(lit(1.0) - col("sum_tokens") / col("padded_tokens"), 6))
  }

  /** q142: EXACT-count stratified eval/train split — per language,
    * exactly ceil(frac · n_lang) documents go to eval, chosen by
    * deterministic hash rank (md5 of the doc id, doc_id tie-break), so
    * the carve is reproducible, auditable, and size-exact per stratum —
    * the property q60's threshold sampling (expected counts only)
    * cannot give, and what an eval-set budget actually specifies.
    *
    * Scale shape: one shuffle on the stratum key; the rank is a
    * per-language window. Languages are few, so each window partition
    * is corpus-sized/|langs| — at 100 TB the same K-th-smallest-hash
    * selection runs as a two-pass threshold refinement (sample the
    * hash distribution to bracket the K-th order statistic, exact-rank
    * only the boundary slice), which needs no per-stratum global sort;
    * the assignment semantics (and this gate's answer) are identical.
    * [[graft.operators.Dedup.qLeakageSafeSplit]] is the complementary
    * device: component-safe membership, inexact sizes. */
  def qStratifiedSplit(s: SparkSession, d: String, frac: Double = 0.1): DataFrame =
    stratifiedSplit(documents(s, d), frac)

  /** The q142 core over any (doc_id, lang) frame. */
  def stratifiedSplit(docs: DataFrame, frac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        md5(concat_ws(":", lit("strat"), col("doc_id"))
          .cast("binary")).as("h"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_lang",
        count(lit(1)).over(Window.partitionBy("lang")))
      .select(col("doc_id"), col("lang"),
        when(col("rk") <= ceil(col("n_lang") * lit(frac)), lit("eval"))
          .otherwise(lit("train")).as("split"))
  }

  /** q119: rejection sampling by quality — keep each document with
    * probability proportional to a per-doc score (here the token-count
    * ramp p = min(1, tokens/50): longer docs are likelier kept), using
    * a DETERMINISTIC uniform u = first-16-bits of md5(doc_id) / 2^16 —
    * the standard way a distributed pipeline samples without RNG state:
    * exactly reproducible, re-runnable, and auditable (every accept
    * decision can be re-derived from the doc alone). Map-side filter in
    * the scan, no shuffle at any corpus size. */
  def qRejectionSample(s: SparkSession, d: String, scale: Double = 50.0): DataFrame = {
    val h = md5(col("doc_id").cast("string").cast("binary"))
    val u = conv(substring(h, 1, 4), 16, 10).cast("double") / 65536.0
    documents(s, d)
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        round(least(lit(1.0), tokenCount(col("text")) / lit(scale)), 6).as("p_keep"),
        round(u, 6).as("u"))
      .withColumn("kept", col("u") < col("p_keep"))
  }

  /** q151: systematic probability-proportional-to-size (PPS) sampling —
    * the survey-statistics workhorse (Madow 1949) for picking audit /
    * eval documents so that selection probability tracks token weight:
    * lay each source's docs on a line segment sized by token count,
    * drop `k` equally-spaced pins, keep every doc a pin lands in. Big
    * docs are (correctly) near-certain picks; tiny docs are sampled in
    * proportion — the right frame for token-weighted quality audits,
    * where uniform doc sampling over-represents short docs.
    *
    * Unlike weighted reservoir keys (u^(1/w) — transcendental doubles),
    * the pin test is PURE INTEGER arithmetic — `(k·cum) div W` crossing
    * a boundary — so selection is bit-deterministic across engines and
    * partitionings. Scale shape: one shuffle on source for the
    * per-source cumulative walk (window sum), then a rollup; at 100 TB
    * with few sources, re-key the window by (source, shard) and prefix
    * the per-shard offsets — same two-scan shape as q142's stratified
    * split. */
  def qPpsSample(s: SparkSession, d: String, k: Int = 16): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    documents(s, d)
      .select(col("source"), col("doc_id"),
        tokenCount(col("text")).cast("long").as("w"))
      .withColumn("cw", sum("w").over(wOrd))
      .withColumn("tw", sum("w").over(wAll))
      .withColumn("sel",
        expr(s"(cw * $k) div tw > ((cw - w) * $k) div tw"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
        max("tw").as("tokens_total"),
        sum(when(col("sel"), col("w")).otherwise(0L)).as("tokens_selected"))
  }

  /** q160: token-mass concentration per source — the Gini coefficient
    * of per-doc token weights via the order-statistic identity
    * G = 2·Σᵢ i·w₍ᵢ₎ / (n·Σw) − (n+1)/n (weights ascending, rank ties
    * broken by doc_id — a total order, so the rank sum is
    * deterministic). G ≈ 0 = token mass spread evenly across docs;
    * G → 1 = a few giant docs hold the corpus — the skew signal that
    * decides chunking (q71) and per-doc token caps before training.
    *
    * Determinism: rank and weight are integers, so both sums are exact
    * longs; the closed-form needs only IEEE-exact double ·,/,−.
    * Scale: ONE shuffle on source, a partition-local rank walk, and a
    * rollup — the same shape as q147; at petabyte scale with few
    * sources, sub-rank by (source, shard) and prefix-offset the shard
    * ranks (the q142 two-scan trick). */
  def qGiniConcentration(s: SparkSession, d: String): DataFrame = {
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("w", "doc_id")
    documents(s, d)
      .select(col("source"), col("doc_id"),
        tokenCount(col("text")).cast("long").as("w"))
      .withColumn("i", row_number().over(rk).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("w").as("sw"),
        sum(col("i") * col("w")).as("siw"))
      .select(col("source"), col("n").as("n_docs"), col("sw").as("sum_tokens"),
        round((lit(2.0) * col("siw").cast("double")) /
            (col("n") * col("sw")).cast("double") -
          (col("n") + lit(1L)).cast("double") / col("n").cast("double"), 6)
          .as("gini"))
  }

  /** q370: OPTIMAL length-bucket boundaries for padded batching — the
    * decision q119 only measures: given k buckets, where should the
    * length cut-points go so that padding every sequence to its
    * bucket's max wastes the fewest tokens? (Dynamic batching by
    * length buckets is how serving and training stacks amortize
    * padding; the usual heuristics are equal-width or powers-of-two —
    * this computes the exact argmin.) Solved as the classic 1-D
    * k-segmentation DP over the DISTINCT-LENGTH histogram:
    * cost(i..j) = L_j·Σc − Σ(len·c), dp[b][j] = min_i dp[b−1][i−1] +
    * cost(i..j), deterministic first-wins tie-break.
    *
    * Rows-only gate (a k-segmentation DP is not SQL); BucketDpSpec
    * pins the DP against brute-force enumeration of every boundary
    * choice on crafted histograms, and the monotone dominance
    * properties (optimal ≤ equal-width ≤ single bucket) on the
    * fixture.
    *
    * Scale shape: ONE map-side rollup onto the length value domain
    * (tokens-per-doc is generator- and practically bounded — and
    * guarded here by a declared 2¹⁶-cell quantization cap, the q212
    * charCap discipline), then an O(k·m²) DP on the driver over the
    * ≤m ≤ 65536 histogram cells: the corpus never shuffles, the DP
    * input is KBs. */
  def qBucketBoundaries(s: SparkSession, d: String, k: Int = 8,
      domainCap: Int = 1 << 16): DataFrame = {
    val hist0 = documents(s, d)
      .select(size(split(lower(col("text")), "\\s+")).cast("long").as("len"))
      .groupBy("len").agg(count(lit(1)).as("c"))
      .orderBy("len").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    require(hist0.nonEmpty, "empty corpus")
    // declared granularity cap: a pathological length domain quantizes
    // to ≤ domainCap cells (each cell pads to its own max — the cap
    // trades boundary RESOLUTION, never correctness of the padding
    // accounting, which always uses the true cell maxima)
    val maxLen = hist0.last._1
    val cell = math.max(1L, (maxLen + domainCap - 1) / domainCap)
    val hist = hist0.groupBy { case (l, _) => (l + cell - 1) / cell }
      .map { case (_, g) => (g.map(_._1).max, g.map(_._2).sum,
        g.map { case (l, c) => l * c }.sum) }
      .toArray.sortBy(_._1) // (cellMaxLen, count, tokenSum)
    val m = hist.length
    val kk = math.min(k, m)
    // prefix sums for O(1) segment cost
    val pc = new Array[Long](m + 1)
    val pt = new Array[Long](m + 1)
    for (i <- 0 until m) {
      pc(i + 1) = pc(i) + hist(i)._2
      pt(i + 1) = pt(i) + hist(i)._3
    }
    def segCost(i: Int, j: Int): Long = // cells i..j inclusive, 0-based
      hist(j)._1 * (pc(j + 1) - pc(i)) - (pt(j + 1) - pt(i))
    val INF = Long.MaxValue / 4
    val dp = Array.fill(kk + 1, m + 1)(INF)
    val arg = Array.fill(kk + 1, m + 1)(-1)
    dp(0)(0) = 0L
    for (b <- 1 to kk; j <- 1 to m) {
      var i = b // at least one cell per earlier bucket
      while (i <= j) {
        val prev = dp(b - 1)(i - 1)
        if (prev < INF) {
          val cand = prev + segCost(i - 1, j - 1)
          if (cand < dp(b)(j)) { dp(b)(j) = cand; arg(b)(j) = i - 1 }
        }
        i += 1
      }
    }
    // recover the segmentation
    val bounds = new Array[(Int, Int)](kk) // (startCell, endCell) inclusive
    var j = m
    for (b <- kk to 1 by -1) {
      val i = arg(b)(j)
      bounds(b - 1) = (i, j - 1)
      j = i
    }
    val rows = bounds.zipWithIndex.map { case ((i, e), idx) =>
      val nDocs = pc(e + 1) - pc(i)
      val nTokens = pt(e + 1) - pt(i)
      val maxL = hist(e)._1
      (idx.toLong, maxL, nDocs, nTokens, maxL * nDocs - nTokens)
    }
    val single = segCost(0, m - 1)
    val s2 = s
    import s2.implicits._
    rows.toSeq.toDF("bucket", "pad_to_len", "n_docs", "n_tokens", "padding")
      .withColumn("total_padding_optimal", lit(rows.map(_._5).sum))
      .withColumn("total_padding_single_bucket", lit(single))
      .orderBy("bucket")
  }
}
