package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale probe: generate a `factor`× copy of the tables behind
  * the most expensive headline queries and time those queries on it —
  * the order-of-magnitude datapoint grounding the 100 TB plan-shape
  * arguments (BENCH_NOTES.md records the results).
  *
  * Scaling is distribution-preserving, not naive duplication:
  *  - relational tables shift their join keys per copy (orderkey /
  *    custkey namespaces stay consistent within a copy and disjoint
  *    across copies — exactly how TPC-H data grows with SF);
  *  - documents apply a per-copy character bijection (`translate` with
  *    a rotated alphabet) to the text: within one copy the original
  *    near-duplicate structure is preserved EXACTLY (a bijection maps
  *    equal shingles to equal shingles), while across copies texts
  *    differ everywhere, so the near-dup candidate rate grows linearly
  *    with the factor instead of quadratically (naive duplication
  *    would make every doc an exact dup of factor-1 others and melt
  *    the LSH buckets into pathological clusters no real corpus has).
  *
  * Usage: `runMain graft.tools.ScaleBench [srcDir] [factor] [outDir]`.
  */
object ScaleBench {

  private[graft] val Queries =
    Seq("q19_revenue_by_nation", "q23_text_quality",
      "q27_dedup_minhash_lsh", "q28_dedup_simhash",
      // round 5: the iterative-join CC (O(log n) rounds claim), the
      // broadcast-vocabulary join, the full curation pipeline, and the
      // bloom-routed incremental dedup — document-table shapes the
      // bijective scaling preserves
      "q57_dedup_components", "q63_tfidf", "q67_pipeline_e2e",
      "q69_incremental_dedup",
      // the window-function family's datapoint: one shuffle on user_id
      // then partition-local ordered walks (user count grows with the
      // factor, per-user density constant)
      "q74_sessionize",
      // round 6: the corpus-bigram LM (bigram vocab grows ~linearly
      // under the bijection; the corpus-keyed join is the probe) and
      // the source-overlap matrix (per-source gram sets grow with the
      // factor, cross-copy grams never collide, output stays 190 pairs)
      "q79_bigram_nll", "q80_source_overlap",
      // round 7: exact duplicate-span removal — the bijection preserves
      // every intra-copy duplicate window exactly and cross-copy
      // windows never collide, so the duplicate set grows linearly
      // (the real-corpus shape); the probe exercises the corpus-token-
      // sized digest shuffle, the dominant cost at scale — and n-gram
      // novelty, the same explode family under a min-agg + join-back
      "q86_exact_substring", "q90_novelty",
      // round 8: winnowing containment — the document-frequency
      // ceiling is what the probe grounds (per-fingerprint fanout
      // bounded, so the self-join grows with the corpus, not with the
      // square of boilerplate popularity); the injected containments
      // stay intact under the per-copy doc_id shift (consecutive ids
      // stay consecutive within a copy)
      "q77_containment",
      // round 8: PQ and IVF-PQ ANN through their persisted indexes —
      // the steady-state serving shapes (the first probe run pays each
      // index build once; the median reports the query cost)
      "q91_knn_pq", "q93_knn_ivfpq",
      // round 10: BM25 (the corpus scan + dl agg grow with the factor;
      // the per-copy bijection keeps query-term hits copy-0-sized —
      // the rare-term regime a real corpus shows at scale), its RRF
      // fusion with the dense leg (adds the embeddings scan + two
      // top-100 heads), the sharded epoch shuffle (per-shard sorts,
      // the windows-at-scale datapoint), and the Matryoshka drift
      // audit (adjacent-id equi-join over the scaled embeddings)
      "q112_bm25", "q116_hybrid_rrf", "q118_epoch_shuffle",
      "q120_matryoshka",
      // round 11: global sentence dedup (the bijection keeps boilerplate
      // sentences copy-local, so the df-common set grows linearly — the
      // real-corpus shape; probes the digest-keyed df shuffle + rebuild
      // agg), keep-best survivors (q57's component machinery + the
      // cluster-sized window), the vocab coverage curve (the
      // single-partition vocab window is the thing to ground: vocab
      // grows ~linearly under the bijection), and the event-analytics
      // pair (funnel's three shrinking user-keyed stages; retention's
      // distinct over (cohort, offset, user) — user count grows with
      // the factor). q126/q127/q130 are scan-or-tiny-table shapes with
      // nothing new to probe.
      "q125_sentence_dedup", "q128_dedup_keep_best", "q129_vocab_coverage",
      "q131_funnel", "q132_cohort_retention",
      // round 12: the exact-quantile refinement loop — the probe grounds
      // the claim that rounds (not round cost) absorb the scale-up: the
      // histogram scan grows linearly but the ≤4096-row driver state and
      // the ≤100k-row tail are scale-invariant, so wall time should grow
      // far slower than the 100× data. The latency composition adds the
      // funnel's user-keyed joins in front of the same loop.
      "q148_exact_quantiles", "q149_conversion_latency",
      // round 13: the per-source window cumsum walk (few partitions,
      // long partition-local scans — the skew-prone window shape the
      // q151 scaladoc's shard-prefix note addresses) and the
      // bigram-vocab double unigram join + deterministic top-k cut
      // (vocab grows sublinearly under the bijection; the join is the
      // probe)
      "q151_pps_sample", "q153_collocation_lift",
      // round 14: the grouped-rank window (per-flag sorts growing
      // linearly inside 3 partitions — the heaviest window shape here;
      // grounds the single-exchange claim before a q148-style
      // range-partitioned rank would be needed). q184_kcore is not
      // probed: its 38 synchronous rounds on the degenerate-dense
      // basket graph already cost ~35 s at 1× (BENCH_NOTES)
      "q179_spearman",
      // round 15: delta-join view maintenance (both delta terms grow
      // with |Δ| — a constant fraction here, so the probe grounds that
      // cost tracks the delta joins, with the broadcast ΔO term staying
      // shuffle-free) and the rolling-distinct contribution explode
      // (user count grows with the factor, day span constant: the
      // day-deduped frame and its bounded 7× explode grow linearly,
      // the per-(type, end_day) distinct shuffle is the probe)
      "q201_delta_view", "q202_rolling_distinct",
      // round 16 (r8): the graph family — under the per-copy PARTKEY
      // namespace shift the co-purchase graph grows as `factor`
      // disjoint isomorphic components (nodes AND edges ×factor,
      // every intra-copy structure exact — the q57 component device),
      // so each probe grounds its per-round claim directly:
      // q163 15 fixed rounds of edge⋈broadcast-rank + dest-keyed agg
      // (cost/round grows linearly, round count pinned); q166 the
      // degree-oriented adjacency-intersection (out-lists stay
      // copy-bounded, Σd_out² grows linearly); q171 frontier BFS (the
      // frontier stays copy-sized — per-hop cost is the edge-table
      // scan, the honest distributed-BFS shape); q173 capped wedge
      // join (cap²-bounded per middle item, middle items ×factor)
      "q163_copurchase_rank", "q166_triangle_census",
      "q171_bfs_hops", "q173_item_cf",
      // round 18 (r8): link prediction — the second capped wedge join
      // (per-middle fanout ≤ invCap² like q173, middle nodes ×factor)
      // plus a full-edge anti-join; under the PARTKEY namespace shift
      // candidates stay copy-local, so the probe grounds the linear
      // wedge-growth claim directly
      "q251_link_prediction",
      // round 19 (r9): the Benford scan (pure map-side rollup — the
      // shape that must stay flat per-row at any factor) and the
      // decile gains table (rank over the per-customer AGGREGATE —
      // customers ×factor; r10 made the rank range-partitioned, so the
      // probe now grounds the offset-device slope)
      "q275_benford_audit", "q277_decile_lift",
      // round 20 (r10): the reworked scale shapes from the r9 verdict —
      // the dictionary-level entity-resolution pairs (part scales via
      // the per-copy partkey shift + name bijection; the DICTIONARY
      // grows ×factor while record pairs expand through equi-joins —
      // the candidate-count probes below record the pair growth the
      // verdict asked for), Knight's Kendall (customer aggregate
      // ×factor through the value-domain rollup + inversion walk), and
      // the range-partitioned concurrency sweep (boundary instants
      // ×factor, now with no single-partition window)
      "q274_edit_distance_pairs", "q280_jaro_winkler_pairs",
      "q278_kendall_tau", "q276_concurrency_sweep",
      // round 20 (r10, verdict #8): the two r9 rows without their own
      // scale datapoints — the k-anonymity QI rollup (should be flat
      // per-row like q275) and the streaming exact-percentile parity
      // (state bounded by the per-(type,week) distinct-value domain;
      // the probe grounds that the replay harness scales with events,
      // not with state)
      "q282_k_anonymity", "q281_streaming_percentile",
      // round 20 (r10): the two new rows get their datapoints at birth —
      // golden-record clustering (dictionary pairs + component
      // contraction over the scaled part table) and the weekly
      // rank-stability monitor (fact rollup + per-week inversion walks;
      // the week span is fixed, so blocks gain density with the factor)
      "q283_er_golden_record", "q284_rank_stability",
      // round 20 (r10) continuation: the heavier TPC-H completion
      // shapes — Q7's double fact-key shuffle (q288), Q9's
      // fact-to-broadcast profit rollup (q290), Q16's fact-pair dedup
      // shuffle (q293) — plus the flat-scan control (q287), the
      // range-partition Wilcoxon device over the growing |diff| domain
      // (q295), and the calendar-bounded EWMA fold (q298b, should be
      // flat like q157/q185). The bounded-rollup rest (q286/q289/
      // q291/q292/q294/q296/q297) share these plans' legs.
      "q287_forecast_revenue", "q288_volume_shipping",
      "q290_product_profit", "q293_part_supplier",
      "q295_wilcoxon_signed_rank", "q298b_ewma_batch",
      // round 20 (r10) continuation 2: the k-sample family — Friedman's
      // complete-block ranks (blocks ×factor, per-block work constant),
      // Cochran's Q user rollup, and the Jonckheere cents-domain
      // cumulative through the offset device (domain ×factor)
      "q299_friedman", "q300_cochran_q", "q301_jonckheere_terpstra",
      "q302_page_trend",
      // the log-rank rides q175's user-keyed aggs (users ×factor) into
      // an hour-bounded cell table
      "q303_log_rank",
      // round 20 (r10) continuation 3: the model-diagnostics batch —
      // CMH's fact-rollup + custkey shuffle join (q304), Cliff's
      // value-domain cumulative (q305, domain ×factor like q229), the
      // two-pass shifted-moment rollup (q306), the calendar-bounded
      // serial-dependence pair (q307/q308, should be flat like
      // q157/q185), and the score-domain Brier fold (q309, domain
      // FIXED by the scorer's construction)
      "q304_cmh", "q305_cliffs_delta", "q306_jarque_bera",
      "q307_ljung_box", "q308_von_neumann", "q309_brier_decomposition",
      // round 20 (r10) continuation 4: the corpus-law fits — Zipf's
      // per-source vocab window (vocab grows ~linearly under the
      // bijection; the fit stays 1000 rows/source) and Heaps' two
      // rollups (vocab- and doc-sized, both ×factor, conditional sums
      // map-side); Woolf rides q304's cells
      "q311_zipf", "q312_heaps", "q313_woolf",
      // the multiclass eval harness (one scan -> |classes|^2 cells),
      // the two-pass outlier test, and the reliability pivot rollup
      "q315_lang_confusion", "q316_grubbs", "q317_cronbach",
      // the calendar-bounded backtest and the bucket-cell distance matrix
      "q318_mase", "q319_hellinger",
      // round 21 (r10) continuation 5: the agreement pair (q320's
      // orderkey rollup ×factor; q321's customer aggregate ×factor
      // through the value-domain cut device), the calendar-bounded
      // serial diagnostics (q322/q323 — should be flat like q307),
      // the brand-partition modularity (backbone edges ×factor under
      // the partkey namespace shift), the two text scans (docs
      // ×factor, map-side rollups), the Holt hourly fold
      // (calendar-bounded), the confounder rollup (map-side, flat
      // per-row), and the calibration test (score-domain cuts)
      "q320_fleiss_kappa", "q321_weighted_kappa", "q322_durbin_watson",
      "q323_pettitt", "q324_brand_modularity", "q325_flesch",
      "q326_simpson", "q327b_holt_batch", "q328_partial_corr",
      "q329_hosmer_lemeshow",
      // the RCB ANOVA and concordance ride q299's block rollups
      // (blocks ×factor); Bowker rides q321's cells
      "q330_two_way_anova", "q331_bowker_symmetry", "q332_kendall_w",
      // the score-domain calibration metric and the two vocab-rollup
      // text readouts (vocab grows ~linearly under the bijection)
      "q333_calibration_error", "q334_term_burstiness", "q335_keyness",
      // the stump (domain cumulatives), the gamma rollup, and the
      // user-keyed attribution join (per-user window fanout bounded)
      "q336_decision_stump", "q337_gamma_mom", "q338_linear_attribution",
      // concentration (suppkey rollup + nation windows over the
      // supplier aggregate), balance, and the experiment-health pair
      "q339_hhi_concentration", "q340_covariate_balance",
      "q341_wilson_interval", "q342_srm_check",
      // the PAVA fold (score-domain-bounded) and the stratified
      // adjustment (customer rollup, cuts, 5x2 cells)
      "q343_isotonic_calibration", "q344_stratified_effect",
      // the SPRT cumulative (users xfactor through the offset device)
      // and the ratio-CI rollup
      "q346_sprt", "q347_ratio_metric_ci",
      // calendar-bounded series reads (should be flat) and the basket
      // rules (pair rollup xfactor under the partkey namespace shift)
      "q348_seasonal_strength", "q349_acf_table",
      "q350_association_rules",
      // the IR pair (corpus scan x broadcast queries), purity
      // (q103's clustering xfactor), and the allocation rollup
      "q351_mrr_map", "q352_cluster_purity", "q353_neyman_allocation",
      // seasonal MK (calendar-bounded within-weekday pairs), Dunn
      // (q233's value-domain rollup), lexical richness (vocab rollup)
      "q354_seasonal_mk", "q355_dunn_posthoc", "q356_lexical_richness",
      // the cohort LTV join (users xfactor) and the ABC offset
      // cumulative (parts xfactor)
      "q357_cohort_ltv", "q358_abc_classification",
      // the r11 two-sample family (one value-domain machinery: the
      // window input saturates with the cent domain) and the HL
      // shift's quadratic-in-domain dollar-grid pair space
      "q359_ks_test", "q360_cvm_test", "q361_kuiper_test",
      "q362_mood_median", "q363_brunner_munzel", "q364_hodges_lehmann",
      // corpus-cleanup audits: token explode + broadcast blocklist;
      // codegen'd regex scan + source rollup
      "q367_blocklist_audit", "q368_mojibake_audit",
      // bipartite HITS (driver-paced integer rounds, edges never
      // reshuffle), pHash near-dup (banded Hamming), the streaming KS
      // fold, and the bucket-boundary DP (value-domain collect)
      "q365_hits", "q366_image_phash_near_dup", "q369_streaming_ks",
      "q370_bucket_boundaries", "q371_yuen_trimmed",
      // round 12: the oracle-carrying streaming trio (state is
      // user-sized / type-sized / domain-bounded respectively — the
      // probes ground those three state-growth arguments) and the
      // byte-level BPE pair (pre-token vocab grows ~linearly under the
      // bijection; merge rounds stay vocab-sized)
      "q372_streaming_transitions", "q373_streaming_moments",
      "q374_streaming_distinct", "q375_byte_bpe_merges",
      "q376_byte_bpe_encode")

  def main(args: Array[String]): Unit = {
    // the probe list is hand-kept beside the registry: a name the
    // registry does not know is refused before any work
    val unknown = Queries.filterNot(graft.SparkEntry.queries.contains).sorted
    if (unknown.nonEmpty) {
      System.err.println("[scale] names not in SparkEntry.queries: " +
        unknown.mkString(", "))
      sys.exit(2)
    }
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2)
      else s"${System.getProperty("java.io.tmpdir")}/graft-scale-x$factor"
    // optional probe subset (comma-separated name prefixes) — lets a
    // new family get its datapoints without re-timing the whole
    // historical list; unset = the full list, unchanged behavior
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").map(_.trim).toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 100×-factor probes run tens-of-GB heaps where a single G1 full
      // GC can exceed the default 120 s executor-heartbeat window; a
      // probe tool should survive the pause, not fail the run
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // r10: probe the q163 broadcast boundary from the command line —
    // SPARK_GRAFT_RANK_BCAST_MAX=<nodes> flips the conditional hint
    // (see Graph.qCopurchaseRank) so the unhinted AQE-planned rank
    // join gets its own scale datapoint
    sys.env.get("SPARK_GRAFT_RANK_BCAST_MAX").foreach(v =>
      spark.conf.set("spark.graft.graph.rankBroadcastMaxNodes", v))

    val done = new java.io.File(s"$out/_DONE")
    if (!done.exists()) {
      generate(spark, src, factor, out)
      done.getParentFile.mkdirs()
      done.createNewFile()
    }
    // embeddings/events landed after the relational/document generator;
    // their own markers let existing scaled dirs gain them without a regen
    val embDone = new java.io.File(s"$out/_DONE_EMB")
    if (!embDone.exists()) {
      generateEmbeddings(spark, src, factor, out)
      embDone.createNewFile()
    }
    val evDone = new java.io.File(s"$out/_DONE_EVENTS")
    if (!evDone.exists()) {
      generateEvents(spark, src, factor, out)
      evDone.createNewFile()
    }
    // r8: the graph probes need per-copy PARTKEY namespaces (disjoint
    // isomorphic co-purchase components — without the shift, copies
    // would share the catalog and the graph would DENSIFY instead of
    // grow, a different scaling regime than the one the 100 TB
    // arguments claim). Rewrites only lineitem; existing scaled dirs
    // pick it up without a full regen. part stays a shared dimension
    // (no probed query joins lineitem to part attributes).
    val pkDone = new java.io.File(s"$out/_DONE_PARTKEY")
    if (!pkDone.exists()) {
      regenLineitemWithPartShift(spark, src, factor, out)
      pkDone.createNewFile()
    }
    // r10: the entity-resolution probes (q274/q280) need PART itself to
    // grow — factor copies with the same partkey namespace shift the
    // lineitem copies already use, and the per-copy character bijection
    // on p_name (intra-copy near-dup structure preserved exactly,
    // cross-copy names decorrelated — the name DICTIONARY grows with
    // the factor, which is the Heaps-law-ish regime the dictionary
    // split is designed for). Incremental marker like the others.
    val psDone = new java.io.File(s"$out/_DONE_PART_SCALED")
    if (!psDone.exists()) {
      val p = spark.read.parquet(s"$src/part.parquet")
      val scaled = (0 until factor).map { i =>
        p.withColumn("p_partkey", col("p_partkey") + lit(i * PartShift))
          .withColumn("p_name", translate(col("p_name"), Alphabet, rotated(i)))
      }.reduce(_ unionAll _)
      scaled.write.mode("overwrite").parquet(s"$out/part.parquet")
      psDone.createNewFile()
    }

    // warm codegen/JIT once, then median-of-3 per query (Bench contract)
    val warm = Queries.filter(selected).headOption.getOrElse(Queries.head)
    graft.SparkEntry.queries(warm)(spark, out).queryExecution.toRdd.foreach(_ => ())
    def med3(body: => Unit): Double = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      times.sorted.apply(1)
    }
    val results = Queries.filter(selected).map { name =>
      val fn = graft.SparkEntry.queries(name)
      name -> med3 { fn(spark, out).queryExecution.toRdd.foreach(_ => ()) }
    }
    // semantic dedup probes with the codebook scaled to the corpus
    // (k ≈ n / targetCellSize — SemDeDup's constant-cell-size rule;
    // capped at 256 to bound the k-means fit, so cell size grows ~6×
    // at 100× and the within-cell pair stage grows with it, which the
    // number shows honestly)
    val kScaled = math.min(16 * factor, 256)
    val sem = if (selected("q75_semantic_dedup"))
      Seq(s"q75_semantic_dedup_k$kScaled" -> med3 {
        graft.operators.Dedup.qSemanticDedup(spark, out, clusters = kScaled)
          .queryExecution.toRdd.foreach(_ => ())
      })
    else Seq.empty
    // the profiler's scale variant: distinct counts via mergeable HLL
    // sketches instead of the exact multi-distinct expand (the swap the
    // q95 scaladoc commits to at 100 TB — this measures it)
    val prof = if (selected("q95_profile"))
      Seq("q95_profile_approx" -> med3 {
        graft.operators.Pipeline.qProfile(spark, out, approxDistinct = true)
          .queryExecution.toRdd.foreach(_ => ())
      })
    else Seq.empty
    // q184 k-core: probed at 10× only (the 1× steady state is already
    // ~35 s of 38 dense synchronous sweeps — BENCH_NOTES; the 10× point
    // confirms ROUND-COUNT stability under disjoint-copy growth, which
    // is the claim: rounds track the h-index fixpoint depth of one
    // copy, not the corpus size). Single run, not median-of-3 — the
    // iteration count is deterministic, so one run answers the
    // question at a third of the cost.
    val kcore = if (factor <= 10 && selected("q184_kcore")) {
      var rounds = 0
      graft.operators.Graph.probeHook = (r, _) => rounds = r
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries("q184_kcore")(spark, out)
        .queryExecution.toRdd.foreach(_ => ())
      finally graft.operators.Graph.probeHook = null
      Seq(s"q184_kcore_rounds$rounds" -> (System.nanoTime() - t0) / 1e9)
    } else Seq.empty
    // r10: candidate-count probes for the dictionary similarity joins —
    // the r9 verdict asked for candidate-PAIR growth recorded alongside
    // wall time. Values are COUNTS, not seconds (labels say so): the
    // dictionary size, the PassJoin candidate pairs, the surviving
    // dictionary matches, and the expanded record-pair output. The
    // scale claim these ground: DP/scorer invocations track the
    // dictionary (vocabulary), not the corpus.
    val erProbe = if (selected("q274_edit_distance_pairs")) {
      val dict = spark.read.parquet(s"$out/part.parquet")
        .select(col("p_name").as("name")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val res = Seq(
        "q274_count_dict_names" -> dict.count().toDouble,
        "q274_count_dict_candidates" ->
          graft.operators.Dedup.passJoinCandidates(dict, 4).count().toDouble,
        "q274_count_dict_matches" ->
          graft.operators.Dedup.editDistanceDictMatches(dict, 4).count().toDouble,
        "q274_count_output_pairs" ->
          graft.SparkEntry.queries("q274_edit_distance_pairs")(spark, out)
            .count().toDouble,
        "q280_count_dict_matches" ->
          graft.operators.Dedup.jaroWinklerDictMatches(dict, 0.9).count().toDouble,
        "q280_count_output_pairs" ->
          graft.SparkEntry.queries("q280_jaro_winkler_pairs")(spark, out)
            .count().toDouble)
      dict.unpersist(blocking = false)
      res
    } else Seq.empty
    val all = results ++ kcore ++ sem ++ prof ++ erProbe
    val qs = all.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(f"""{"metric":"scale_x$factor%d_total","value":$total%.3f,"unit":"sec","queries":$qs,"src":"$src","factor":$factor%d}""")
    spark.stop()
  }

  private val PartShift = 1000000L

  /** Rewrite only the scaled lineitem with BOTH key shifts (orderkey +
    * partkey) — the incremental upgrade path for scaled dirs generated
    * before the graph probes existed. */
  private def regenLineitemWithPartShift(spark: SparkSession, src: String,
      factor: Int, out: String): Unit = {
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val scaled = (0 until factor).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(i * PartShift))
    }.reduce(_ unionAll _)
    scaled.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
  }

  /** The per-copy bijective character map: three disjoint 5-letter
    * sets, each rotated independently by a digit of the copy index in
    * base 5 — 125 distinct bijections, so factors up to 125 never
    * reuse a mapping (copy 0 = identity). */
  private val Sets = Seq("aeiou", "snrtl", "dhcmf")
  private val Alphabet = Sets.mkString
  private def rotated(i: Int): String =
    Sets.zipWithIndex.map { case (set, d) =>
      val k = (i / math.pow(5, d).toInt) % 5
      set.substring(k) + set.substring(0, k)
    }.mkString

  private def generate(spark: SparkSession, src: String, factor: Int, out: String): Unit = {
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionAll _)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    val OrderShift = 10000000L
    val CustShift = 1000000L
    val DocShift = 10000000L
    val PartShift = ScaleBench.PartShift

    write(copies(spark.read.parquet(s"$src/documents.parquet")) { (df, i) =>
      df.select(
        (col("doc_id") + lit(i * DocShift)).as("doc_id"),
        translate(col("text"), Alphabet, rotated(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")

    write(copies(spark.read.parquet(s"$src/lineitem.parquet")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * OrderShift))
        .withColumn("l_partkey", col("l_partkey") + lit(i * PartShift))
    }, "lineitem")

    write(copies(spark.read.parquet(s"$src/orders.parquet")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * OrderShift))
        .withColumn("o_custkey", col("o_custkey") + lit(i * CustShift))
    }, "orders")

    write(copies(spark.read.parquet(s"$src/customer.parquet")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * CustShift))
    }, "customer")

    // dimensions are shared across copies, exactly like TPC-H SF growth
    Seq("nation", "region", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }
  }

  /** Embedding scaling: each copy applies a distinct ORTHOGONAL
    * transform (rotate the element order by `copy % 64`, and flip the
    * sign of source element 0 for copies ≥ 64 — a permutation composed
    * with a ±1 diagonal, 128 distinct maps). Orthogonal maps preserve
    * every intra-copy cosine EXACTLY (the near-dup/ANN structure of
    * the original), while vectors under different transforms are
    * decorrelated (i.i.d. coordinates are exchangeable), so the
    * cosine-pair population grows linearly with the factor — the same
    * principle as the text side's character bijections. */
  private def generateEmbeddings(spark: SparkSession, src: String, factor: Int,
      out: String): Unit = {
    val VecShift = 10000000L
    val e = spark.read.parquet(s"$src/embeddings.parquet")
    val scaled = (0 until factor).map { i =>
      e.select((col("vec_id") + lit(i * VecShift)).as("vec_id"),
        orthoTransform(col("embedding"), i).as("embedding"), col("label"))
    }.reduce(_ unionAll _)
    scaled.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Events scaling: per-copy disjoint user and event-id namespaces
    * with UNCHANGED timestamps — the user population grows with the
    * factor while per-user event density (what sessionization and
    * per-user windows walk) stays exactly the original distribution,
    * matching how a fleet's event log actually grows. */
  private def generateEvents(spark: SparkSession, src: String, factor: Int,
      out: String): Unit = {
    val UserShift = 1000000L
    val EvShift = 100000000L
    // ts passes through unchanged whatever the fixture stored (nanos
    // LONG under the legacy conf, or timestamp[us]); Tables.normalizeTs
    // adapts to either on read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = spark.read.parquet(s"$src/events.parquet")
    val scaled = (0 until factor).map { i =>
      e.withColumn("user_id", col("user_id") + lit(i * UserShift))
        .withColumn("event_id", col("event_id") + lit(i * EvShift))
    }.reduce(_ unionAll _)
    scaled.write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** The copy-`i` orthogonal map (rotation ∘ one sign flip) — exposed
    * for ScaleBenchSpec's cosine-preservation assertion. */
  private[graft] def orthoTransform(vec: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column = {
    val rot = i % 64
    val flip = if ((i / 64) % 2 == 1) -1.0f else 1.0f
    val dim = size(vec)
    transform(sequence(lit(0), dim - 1), j => {
      val srcIdx = pmod(j + lit(rot), dim)
      val v = element_at(vec, srcIdx + 1)
      when(srcIdx === 0, v * lit(flip)).otherwise(v)
    })
  }
}
