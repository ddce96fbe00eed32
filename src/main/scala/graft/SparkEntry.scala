package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.streaming.EventTime
import Tier._

/** Where a query stands in `graft.Bench`: `Headline` queries are timed
  * and summed into the r1-comparable headline total, `Timed` queries are
  * timed and reported beside it, `Untimed` queries are not timed. */
sealed trait Tier
object Tier {
  case object Headline extends Tier
  case object Timed extends Tier
  case object Untimed extends Tier
}

/** One gate query: its name, its runner over an sf directory, its bench
  * tier, and the DuckDB SQL that must return the same rows, if any. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    tier: Tier,
    oracle: Option[String] = None)

object QuerySpec {
  def apply(name: String, run: (SparkSession, String) => DataFrame, tier: Tier,
      oracle: String): QuerySpec = QuerySpec(name, run, tier, Some(oracle))
}

/** Driver contract (SURVEY.md §7).
  *
  * `registry` declares every gate query once, in qNNN order: its runner,
  * its bench tier and, where it has one, its DuckDB oracle SQL. `queries`
  * (name → runner; the executable operator inventory, SURVEY §2) and
  * `oracleSql` (name → oracle, the correctness gate) are read off it, and
  * `graft.Bench` times every entry whose tier is not `Untimed`. Entries
  * without an oracle are probabilistic/hash-based operators (LSH,
  * SimHash, winnowing, stubbed decode) whose values are covered by
  * ScalaTest against brute-force ground truth instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qRevenueByNation(spark, "/root/testdata/sf0.001")

  /** Every gate query, once. Lazy because the shared oracle pieces it
    * reads (`q103OraclePrefix`, `pairedCountsCte`, `lpaOracle`, …) are
    * defined below it. */
  lazy val registry: Seq[QuerySpec] = Seq(
    // --- SURVEY §2.5 parity queries (trigger/CDC/cluster semantics) ---
    QuerySpec("q01_trigger_count", Relational.qTriggerCount _, Headline,
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"),
    QuerySpec("q02_prefix_filter", Relational.qPrefixFilter _, Timed,
      "SELECT COUNT(*) AS n FROM events WHERE event_type LIKE 'c%'"),
    QuerySpec("q03_lookup_enrich", Relational.qLookupEnrich _, Headline,
      """SELECT o_orderpriority, ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority"""),
    QuerySpec("q04_cross_shard_sum", Relational.qCrossShardSum _, Headline,
      "SELECT ROUND(SUM(value), 2) AS sum_value, COUNT(DISTINCT user_id) AS n_users FROM events"),
    QuerySpec("q05_checkpoint_order", Relational.qCheckpointOrder _, Timed,
      """SELECT user_id, CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS max_ts_sec
         FROM events GROUP BY user_id"""),
    QuerySpec("q06_stream_window", Relational.qStreamWindow _, Headline,
      """SELECT CAST(FLOOR(EPOCH(date_trunc('hour', ts))) AS BIGINT) AS hour_ts,
                event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
         FROM events GROUP BY 1, 2"""),
    // --- relational surface (SURVEY §2.4) ---
    QuerySpec("q07_semi_join", Relational.qSemiJoin _, Untimed,
      """SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)"""),
    QuerySpec("q08_anti_join", Relational.qAntiJoin _, Untimed,
      """SELECT COUNT(*) AS n FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""),
    QuerySpec("q09_topk", Relational.qTopK _, Untimed,
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""),
    QuerySpec("q10_window_rank", Relational.qWindowRank _, Headline,
      """SELECT o_custkey, o_orderkey FROM (
           SELECT o_custkey, o_orderkey,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn = 1"""),
    QuerySpec("q11_window_lag", Relational.qWindowLag _, Untimed,
      """SELECT COUNT(*) AS n_increases FROM (
           SELECT value, LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
           FROM events) WHERE prev IS NOT NULL AND value > prev"""),
    QuerySpec("q12_rollup", Relational.qRollup _, Untimed,
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                COALESCE(l_linestatus, 'ALL') AS linestatus,
                COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),
    QuerySpec("q13_cube", Relational.qCube _, Untimed,
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
                COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
         FROM events GROUP BY CUBE(event_type)"""),
    QuerySpec("q14_set_intersect", Relational.qSetIntersect _, Untimed,
      """SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'purchase'"""),
    QuerySpec("q15_set_except", Relational.qSetExcept _, Untimed,
      """SELECT user_id FROM events WHERE event_type = 'view'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'purchase'"""),
    QuerySpec("q16_scalar_json", Relational.qScalarJson _, Untimed,
      """SELECT (json_extract(props, '$.k')::BIGINT) % 10 AS k_mod, COUNT(*) AS n
         FROM events GROUP BY 1"""),
    QuerySpec("q17_distinct_agg", Relational.qDistinctAgg _, Untimed,
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
                COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem"""),
    QuerySpec("q18_pricing_summary", Relational.qPricingSummary _, Headline,
      """SELECT l_returnflag, l_linestatus,
                ROUND(SUM(l_quantity), 2) AS sum_qty,
                ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
                ROUND(AVG(l_quantity), 4) AS avg_qty,
                ROUND(AVG(l_discount), 4) AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus"""),
    QuerySpec("q19_revenue_by_nation", Relational.qRevenueByNation _, Headline,
      """SELECT r_name, n_name,
                ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name"""),
    QuerySpec("q20_range_join", Relational.qRangeJoin _, Untimed,
      """SELECT COUNT(*) AS n, ROUND(SUM(p_retailprice), 2) AS sum_price
         FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity >= p_size
         WHERE p_size <= 5"""),
    // --- text analysis ---
    QuerySpec("q21_lang_id", TextAnalysis.qLangId _, Untimed,
      """WITH s AS (
           SELECT len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS en,
                  len(list_intersect(toks, ['el','la','de','y','en','es','un','que'])) AS es,
                  len(list_intersect(toks, ['le','la','de','et','en','est','un','que'])) AS fr
           FROM (SELECT list_distinct(string_split_regex(lower(text), '\s+')) AS toks
                 FROM documents))
         SELECT CASE WHEN greatest(en, es, fr) = 0 THEN 'und'
                     WHEN en >= es AND en >= fr THEN 'en'
                     WHEN es >= fr THEN 'es' ELSE 'fr' END AS lang_pred,
                COUNT(*) AS n
         FROM s GROUP BY 1"""),
    QuerySpec("q22_token_count", TextAnalysis.qTokenCount _, Untimed,
      """SELECT source,
                CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_ws_tokens,
                CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS sum_bpe_tokens,
                COUNT(*) AS n_docs
         FROM documents GROUP BY source"""),
    QuerySpec("q23_text_quality", TextAnalysis.qTextQuality _, Headline,
      """SELECT doc_id,
                length(text) AS n_chars,
                CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
                ROUND(CASE WHEN length(text) = 0 THEN 0.0
                      ELSE length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                           / length(text) END, 4) AS punct_ratio,
                ROUND(CASE WHEN len(toks) = 0 THEN 0.0
                      ELSE len(list_filter(toks, t -> t IN
                        ('the','a','of','and','to','in','is','it','el','la','de','y','en','es','un','que','le','et','est')))::DOUBLE
                           / len(toks) END, 4) AS stopword_ratio,
                ROUND(CASE WHEN len(rtoks) = 0 THEN 0.0
                      ELSE list_sum(list_transform(rtoks, t -> length(t)))::DOUBLE / len(rtoks) END, 4)
                  AS mean_token_len,
                ROUND(CASE WHEN len(rtoks) = 0 THEN 0.0
                      ELSE len(list_distinct(rtoks))::DOUBLE / len(rtoks) END, 4) AS distinct_ratio
         FROM (SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS toks,
                      string_split_regex(text, '\s+') AS rtoks FROM documents)"""),
    QuerySpec("q24_quality_filter", TextAnalysis.qQualityFilter _, Untimed,
      """SELECT COUNT(*) AS n_kept,
                CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_tokens
         FROM documents
         WHERE length(text) >= 50
           AND len(list_distinct(string_split_regex(text, '\s+')))::DOUBLE
               / len(string_split_regex(text, '\s+')) >= 0.1
           AND length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
               / length(text) <= 0.2"""),
    QuerySpec("q25_fingerprint", TextAnalysis.qFingerprint _, Untimed),
    // --- dedup ---
    QuerySpec("q26_dedup_exact", Dedup.qExact _, Headline,
      """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique FROM documents"""),
    QuerySpec("q27_dedup_minhash_lsh", Dedup.qMinhashLsh _, Headline),
    QuerySpec("q28_dedup_simhash", Dedup.qSimhash _, Headline),
    QuerySpec("q29_ngram_jaccard", (s, d) => Dedup.qNgramJaccard(s, d), Untimed,
      """WITH tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, ROUND(jac, 4) AS jaccard FROM (
           SELECT inter.doc_a, inter.doc_b,
                  ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) AS jac
           FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                      JOIN cnt cb ON cb.doc_id = inter.doc_b)
         WHERE jac >= 0.5"""),
    QuerySpec("q30_embedding_near_dup", (s, d) => Dedup.qEmbeddingNearDup(s, d), Untimed,
      """SELECT vec_a, vec_b, ROUND(cos, 4) AS cosine FROM (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
           FROM embeddings a JOIN embeddings b
             ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 128)
         WHERE cos >= 0.35"""),
    QuerySpec("q31_embedding_lsh_near_dup", (s, d) => Dedup.qEmbeddingLshNearDup(s, d), Untimed),
    // --- similarity search ---
    QuerySpec("q32_knn_brute_force", Similarity.qBruteForceTopK _, Headline,
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
                    FROM embeddings WHERE vec_id < 5)
         SELECT query_id, rank, neighbor, cosine FROM (
           SELECT q.query_id, c.vec_id AS neighbor,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY list_cosine_similarity(q.q_emb, c.embedding::DOUBLE[]) DESC,
                             c.vec_id ASC) AS rank,
                  ROUND(list_cosine_similarity(q.q_emb, c.embedding::DOUBLE[]), 4) AS cosine
           FROM q, embeddings c WHERE q.query_id <> c.vec_id)
         WHERE rank <= 10"""),
    QuerySpec("q33_knn_lsh", (s, d) => Similarity.qLshTopK(s, d), Untimed),
    QuerySpec("q34_label_centroids", Similarity.qLabelCentroids _, Untimed,
      """SELECT label, COUNT(*) AS n,
                ROUND(SUM(list_sum(embedding::DOUBLE[])), 4) AS sum_components
         FROM embeddings GROUP BY label"""),
    // --- multimodal plumbing ---
    QuerySpec("q35_media_meta", Multimodal.qMediaMeta _, Untimed,
      """SELECT media_type, COUNT(*) AS n,
                CAST(SUM(octet_length(payload)) AS BIGINT) AS sum_bytes,
                COUNT(DISTINCT md5(text)) AS n_unique
         FROM (SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                           WHEN doc_id % 3 = 1 THEN 'audio'
                           ELSE 'video' END AS media_type,
                      text, encode(text) AS payload FROM documents)
         GROUP BY media_type"""),
    QuerySpec("q36_frame_sample", (s, d) => Multimodal.qFrameSample(s, d), Untimed,
      """SELECT media_id, CAST(len(range(0, duration_ms, 1000)) AS BIGINT) AS n_frames
         FROM (SELECT doc_id AS media_id, n_chars * 10 AS duration_ms FROM documents
               WHERE doc_id % 3 = 2 AND n_chars * 10 >= 1000)"""),
    QuerySpec("q37_media_features", Multimodal.qMediaFeatures _, Untimed),
    // --- event-time streaming (real readStream + watermark, append mode) ---
    QuerySpec("q38_watermark_tumbling", EventTime.qWatermarkTumbling _, Untimed,
      // q38/q39 run in APPEND mode: only windows the final watermark
      // (max(ts) - 30 minutes) has closed are emitted, so the batch oracle
      // applies the identical finalization cutoff.
      """SELECT CAST(FLOOR(EPOCH(h)) AS BIGINT) AS hour_ts, event_type, n, sum_value FROM (
           SELECT date_trunc('hour', ts) AS h, event_type,
                  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
           FROM events GROUP BY 1, 2)
         WHERE h + INTERVAL 1 HOUR <= (SELECT MAX(ts) - INTERVAL 30 MINUTE FROM events)"""),
    QuerySpec("q39_session_window", EventTime.qSessionWindow _, Untimed,
      // session = events of one user with < 10 minutes between neighbors
      // (Spark merges an event into a session iff it lands strictly before
      // session end = last_ts + gap); a session is emitted once its end
      // passed the watermark.
      """WITH t AS (
           SELECT user_id, ts,
                  CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
                       THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts,
                  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sess
           FROM t)
         SELECT user_id, CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS session_start_sec,
                COUNT(*) AS n_events
         FROM s GROUP BY user_id, sess
         HAVING MAX(ts) + INTERVAL 10 MINUTE <=
                (SELECT MAX(ts) - INTERVAL 30 MINUTE FROM events)"""),
    // --- training-data pipeline curation ---
    QuerySpec("q40_dataset_mix", Pipeline.qDatasetMix _, Untimed,
      """SELECT source, COUNT(*) AS n_kept,
                CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_tokens
         FROM documents
         WHERE doc_id % 100 < CASE WHEN CAST(SUBSTR(source, 4, 10) AS INT) % 2 = 0
                                   THEN 70 ELSE 30 END
         GROUP BY source"""),
    QuerySpec("q41_paragraph_dedup", Pipeline.qParagraphDedup _, Untimed,
      """SELECT source, COUNT(*) AS n_paras,
                COUNT(DISTINCT md5(para)) AS n_unique,
                COUNT(*) - COUNT(DISTINCT md5(para)) AS n_dup
         FROM (SELECT source, unnest(string_split_regex(text, '\. ')) AS para
               FROM documents)
         WHERE length(para) > 0
         GROUP BY source"""),
    QuerySpec("q42_contamination", (s, d) => Pipeline.qContamination(s, d), Untimed,
      """WITH d AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks) - 3), i ->
                    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                    toks[i+3] || ' ' || toks[i+4])
             END) AS sh
           FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)),
         bg AS (SELECT DISTINCT unnest(sh) AS g FROM d WHERE doc_id % 97 = 0),
         cont AS (SELECT DISTINCT doc_id
                  FROM (SELECT doc_id, unnest(sh) AS g FROM d WHERE doc_id % 97 <> 0) x
                  WHERE g IN (SELECT g FROM bg))
         SELECT (SELECT COUNT(*) FROM d WHERE doc_id % 97 <> 0) AS n_docs,
                (SELECT COUNT(*) FROM cont) AS n_contaminated"""),
    QuerySpec("q43_approx_distinct", Pipeline.qApproxDistinct _, Untimed),
    QuerySpec("q44_asof_enrich", Relational.qAsofEnrich _, Untimed,
      """SELECT event_id, user_id,
                CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS asof_order_sec
         FROM events ASOF JOIN orders
           ON events.user_id = orders.o_custkey AND orders.o_orderdate <= events.ts"""),
    QuerySpec("q45_streaming_dedup", EventTime.qStreamingDedup _, Untimed,
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
         FROM events GROUP BY event_type"""),
    QuerySpec("q46_knn_ivf", (s, d) => Similarity.qIvfTopK(s, d), Untimed),
    QuerySpec("q47_percentiles", Pipeline.qPercentiles _, Untimed,
      """SELECT event_type,
                ROUND(quantile_cont(value, 0.5), 4) AS p50,
                ROUND(quantile_cont(value, 0.9), 4) AS p90,
                ROUND(quantile_cont(value, 0.99), 4) AS p99
         FROM events GROUP BY event_type"""),
    // q47x/q104x: integer twins of the two version-mobile oracle
    // constructs (quantile_cont interpolation, ROUND on computed
    // doubles — VERDICT r8 #7): discrete order statistics and exact
    // cents, so a future oracle-engine bump degrades one row, not the
    // percentile/winsorize family
    QuerySpec("q47x_percentiles_exact", Pipeline.qPercentilesExact _, Timed,
      // q47x: discrete (type-1) quantile twin — rank k = ceil(p*n) in
      // DOUBLE on both engines (identical IEEE product + ceil), the
      // selected value is an actual data element so the hash is
      // float-stable; no interpolation, no ROUND (VERDICT r8 #7)
      """WITH t AS (SELECT event_type, value AS v FROM events),
         c AS (SELECT event_type, COUNT(*) AS n FROM t GROUP BY event_type),
         r AS (SELECT c.event_type, p.p,
                      GREATEST(1, CAST(CEIL(p.p * c.n) AS BIGINT)) AS k
               FROM c CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
                 CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS p) p),
         o AS (SELECT event_type, v,
                      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn
               FROM t)
         SELECT r.event_type, r.p, r.k, o.v AS value
         FROM r JOIN o ON o.event_type = r.event_type AND o.rn = r.k"""),
    QuerySpec("q48_edit_distance", (s, d) => Dedup.qEditDistance(s, d), Untimed,
      """SELECT doc_a, doc_b, dist FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  levenshtein(substr(a.text, 1, 24), substr(b.text, 1, 24)) AS dist
           FROM documents a JOIN documents b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 8)
         WHERE dist <= 10"""),
    QuerySpec("q49_percentile_sketch", (s, d) => Pipeline.qPercentileSketch(s, d), Untimed),
    QuerySpec("q50_model_score", Inference.qModelScore _, Untimed,
      // batched model inference (C14 analogue): the linear model's fixed
      // pseudo-random weights are reproduced in SQL; sigmoid(score) > 0.5
      // is exactly score > 0. Accumulation is left-to-right double
      // addition on both sides.
      """SELECT vec_id, ROUND(score, 4) AS score, CAST(score > 0 AS INT) AS positive FROM (
           SELECT vec_id, list_sum(list_transform(range(1, len(e) + 1),
               i -> e[i] * ((((i - 1) * 31 + 7) % 13) - 6) / 6.0)) AS score
           FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings))"""),
    QuerySpec("q51_sliding_window", EventTime.qSlidingWindow _, Untimed,
      // sliding windows: every event belongs to the 4 windows whose start
      // is one of the 4 15-minute boundaries in (ts - 1h, ts]; epoch-second
      // arithmetic keeps the alignment identical to Spark's epoch-aligned
      // window() and makes the watermark cutoff integer-exact.
      """SELECT win_ts, event_type, n, sum_value FROM (
           SELECT (CAST(FLOOR(EPOCH(ts) / 900) AS BIGINT) - k) * 900 AS win_ts,
                  event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
           FROM events CROSS JOIN range(4) AS t(k)
           GROUP BY 1, 2)
         WHERE win_ts + 3600 <=
               (SELECT CAST(FLOOR(EPOCH(MAX(ts) - INTERVAL 30 MINUTE)) AS BIGINT) FROM events)"""),
    QuerySpec("q52_audio_features", Multimodal.qAudioFeatures _, Untimed),
    QuerySpec("q53_video_features", Multimodal.qVideoFeatures _, Untimed),
    QuerySpec("q54_sequence_pack", (s, d) => Pipeline.qSequencePack(s, d), Untimed,
      // sequence packing: bin = floor(tokens-before-this-doc / budget)
      // over a per-source doc_id-ordered running sum (budget 1024)
      """SELECT source, bin, COUNT(*) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens FROM (
           SELECT source, doc_id, n_tokens,
                  CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens) / 1024.0) AS BIGINT) AS bin
           FROM (SELECT source, doc_id,
                        len(string_split_regex(text, '\s+')) AS n_tokens
                 FROM documents))
         GROUP BY source, bin"""),
    QuerySpec("q55_vocabulary", (s, d) => Pipeline.qVocabulary(s, d), Untimed,
      """SELECT token, n FROM (
           SELECT token, COUNT(*) AS n
           FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
           WHERE length(token) > 0
           GROUP BY token)
         ORDER BY n DESC, token ASC LIMIT 200"""),
    QuerySpec("q56_dedup_keep", Dedup.qDedupKeep _, Untimed,
      // survivor selection over the q29 pair definition: drop every doc
      // appearing as the higher id of a qualifying near-dup pair
      """WITH tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         dropped AS (
           SELECT DISTINCT doc_b AS doc_id FROM (
             SELECT inter.doc_a, inter.doc_b,
                    ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) AS jac
             FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                        JOIN cnt cb ON cb.doc_id = inter.doc_b)
           WHERE jac >= 0.5)
         SELECT source, COUNT(*) AS n_kept,
                CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_tokens
         FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         GROUP BY source"""),
    QuerySpec("q57_dedup_components", Dedup.qDedupComponents _, Timed,
      // transitive dedup clusters over the q29 pair definition at a 0.1
      // threshold: component = min doc_id reachable through near-dup
      // edges (recursive min-reachability closure)
      """WITH RECURSIVE tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT inter.doc_a, inter.doc_b,
                    ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) AS jac
             FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                        JOIN cnt cb ON cb.doc_id = inter.doc_b)
           WHERE jac >= 0.1),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT doc_id AS u, doc_id AS v FROM documents
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u"""),
    QuerySpec("q58_pii_redact", TextAnalysis.qPiiRedact _, Timed,
      // PII redaction: deterministic PII injected as a function of doc_id
      // (identical on both sides), then redacted email→phone→ipv4; the
      // distinct-digest of the REDACTED text checks replacement bytes.
      // Patterns are in the Java-regex ∩ RE2 subset; DuckDB needs the 'g'
      // flag to replace every occurrence (Spark replaces all by default).
      """WITH injected AS (
           SELECT doc_id, source,
                  text
                  || CASE WHEN doc_id % 3 <> 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                          ELSE '' END
                  || CASE WHEN doc_id % 2 = 0
                          THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          ELSE '' END
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) AS text
           FROM documents),
         red AS (
           SELECT source, text,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                      '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
                    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g') AS redacted
           FROM injected)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
                CAST(SUM(len(regexp_extract_all(text, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}'))) AS BIGINT) AS n_phones,
                CAST(SUM(len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))) AS BIGINT) AS n_ips,
                CAST(SUM(len(regexp_extract_all(redacted, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       + len(regexp_extract_all(redacted, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}'))
                       + len(regexp_extract_all(redacted, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))) AS BIGINT) AS n_pii_left,
                COUNT(DISTINCT md5(redacted)) AS n_unique_redacted,
                CAST(SUM(length(redacted)) AS BIGINT) AS sum_len_redacted
         FROM red GROUP BY source"""),
    QuerySpec("q59_repetition", TextAnalysis.qRepetition _, Untimed,
      // Gopher-style repetition metrics: duplicate-sentence fraction and
      // most-frequent-2-gram fraction per document
      """WITH s AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '\. '), x -> length(x) > 0) AS sents,
                  string_split_regex(text, '\s+') AS toks
           FROM documents),
         sent AS (
           SELECT doc_id, len(sents) AS n_sents,
                  ROUND(CASE WHEN len(sents) = 0 THEN 0.0
                        ELSE 1.0 - len(list_distinct(sents))::DOUBLE / len(sents) END, 4)
                    AS dup_sent_frac
           FROM s),
         g AS (
           SELECT doc_id, unnest(
             CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
             END) AS gram
           FROM s),
         c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram),
         t AS (SELECT doc_id, ROUND(MAX(cnt)::DOUBLE / SUM(cnt), 4) AS top_2gram_frac
               FROM c GROUP BY doc_id)
         SELECT sent.doc_id, sent.n_sents, sent.dup_sent_frac, t.top_2gram_frac
         FROM sent JOIN t ON sent.doc_id = t.doc_id"""),
    QuerySpec("q60_hash_sample", (s, d) => Pipeline.qHashSample(s, d), Untimed,
      // deterministic stratified hash sample: keep iff first 2 hex chars
      // of md5(doc_id) < per-stratum threshold (even sources '80' ~50%,
      // odd '20' ~12.5%); md5 hex + lexicographic compare is
      // engine-independent
      """SELECT source, COUNT(*) AS n_kept,
                CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_tokens
         FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
               CASE WHEN CAST(SUBSTR(source, 4, 10) AS INT) % 2 = 0 THEN '80' ELSE '20' END
         GROUP BY source"""),
    QuerySpec("q61_stream_stream_join", EventTime.qStreamStreamJoin _, Untimed,
      // stream-stream inner join: purchases attributed to same-user clicks
      // within the preceding 30 minutes. Inner-join matches emit when both
      // sides arrive (watermarks bound state, not emission), so the batch
      // join is the exact oracle — no finalization cutoff.
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id,
                CAST(FLOOR(EPOCH(p.ts)) - FLOOR(EPOCH(c.ts)) AS BIGINT) AS lag_sec
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE"""),
    QuerySpec("q62_grouping_sets", Relational.qGroupingSets _, Untimed,
      // grouping sets: two independent marginals in one pass — a shape
      // neither rollup nor cube produces
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
                CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
                COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),
    QuerySpec("q63_tfidf", TextAnalysis.qTfidf _, Timed,
      // TF-IDF: most characteristic term per doc, idf = ln(N/df), ties by term
      """WITH tf AS (
           SELECT doc_id, token AS term, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
           WHERE length(token) > 0
           GROUP BY doc_id, token),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
                  tf.tf * ln(n.n_docs::DOUBLE / df.df) AS tfidf
           FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
         SELECT doc_id, term AS top_term, ROUND(tfidf, 4) AS tfidf FROM (
           SELECT doc_id, term, tfidf,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term ASC) AS rn
           FROM scored)
         WHERE rn = 1"""),
    QuerySpec("q64_unigram_nll", TextAnalysis.qUnigramNll _, Untimed,
      // corpus-unigram negative log-likelihood per doc (p = cnt/total;
      // every token is in-vocabulary by construction, no smoothing)
      """WITH toks AS (
           SELECT doc_id, token AS term
           FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
           WHERE length(token) > 0),
         vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
         t AS (SELECT SUM(cnt) AS total FROM vocab)
         SELECT doc_id, COUNT(*) AS n_tokens,
                ROUND(AVG(-ln(vocab.cnt::DOUBLE / t.total)), 4) AS avg_nll
         FROM toks JOIN vocab ON toks.term = vocab.term CROSS JOIN t
         GROUP BY doc_id"""),
    // q65: image perceptual-hash near-dup — rows-only (JPEG/PNG encode
    // is not SQL-expressible); value-verified by ImageDedupSpec against
    // brute-force Hamming
    QuerySpec("q65_image_near_dup", (s, d) => Multimodal.qImageNearDup(s, d), Untimed),
    // q66: SQ8-quantized ANN — rows-only (quantization error makes
    // ranks approximate); SimilaritySpec pins recall vs exact float
    QuerySpec("q66_knn_sq8", (s, d) => Similarity.qSq8TopK(s, d), Untimed),
    QuerySpec("q67_pipeline_e2e", (s, d) => Pipeline.qPipelineE2e(s, d), Untimed,
      // end-to-end curation pipeline: quality filter -> transitive-dedup
      // survivors (min-id per component) -> 1024-token packing per source
      """WITH RECURSIVE kept AS (
           SELECT doc_id, source, text FROM documents
           WHERE length(text) >= 50
             AND len(list_distinct(string_split_regex(text, '\s+')))::DOUBLE
                 / len(string_split_regex(text, '\s+')) >= 0.1
             AND length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                 / length(text) <= 0.2),
         tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM kept),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT inter.doc_a, inter.doc_b,
                    ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) AS jac
             FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                        JOIN cnt cb ON cb.doc_id = inter.doc_b)
           WHERE jac >= 0.1),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT doc_id AS u, doc_id AS v FROM kept
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
         surv AS (
           SELECT k.doc_id, k.source,
                  len(string_split_regex(k.text, '\s+')) AS n_tokens
           FROM kept k JOIN comp c ON k.doc_id = c.doc_id
           WHERE c.doc_id = c.component),
         packed AS (
           SELECT source, doc_id, n_tokens,
                  CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens) / 1024.0) AS BIGINT) AS bin
           FROM surv)
         SELECT source, COUNT(*) AS n_kept, COUNT(DISTINCT bin) AS n_bins,
                CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         FROM packed GROUP BY source"""),
    QuerySpec("q68_stream_left_outer", EventTime.qStreamStreamLeftOuter _, Untimed,
      // left-outer stream-stream join: matched pairs emit on arrival;
      // an unmatched click null-extends once the GLOBAL watermark
      // (min of both sides' max ts, minus the delay) is strictly past
      // its whole eligibility window (c.ts + 30 min)
      """WITH m AS (
           SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                  c.user_id AS user_id,
                  CAST(FLOOR(EPOCH(p.ts)) - FLOOR(EPOCH(c.ts)) AS BIGINT) AS lag_sec
           FROM events c JOIN events p
             ON c.user_id = p.user_id
            AND c.event_type = 'click' AND p.event_type = 'purchase'
            AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE),
         wm AS (SELECT LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
                             (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
                       - INTERVAL 30 MINUTE AS w)
         SELECT * FROM m
         UNION ALL
         SELECT c.event_id AS click_id, NULL::BIGINT AS purchase_id,
                c.user_id, NULL::BIGINT AS lag_sec
         FROM events c, wm
         WHERE c.event_type = 'click'
           AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.event_id)
           AND c.ts + INTERVAL 30 MINUTE < wm.w"""),
    QuerySpec("q69_incremental_dedup", Dedup.qIncrementalDedup _, Timed,
      // incremental dedup: batch (doc_id % 5 = 0, every third doc's text
      // replaced by the NEXT corpus doc's text — simulated re-crawl,
      // injected identically on both sides) against the standing corpus;
      // a batch doc is new iff its digest is absent from the corpus
      """WITH corpus AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 5 <> 0),
         batch AS (
           SELECT b.doc_id, b.source, COALESCE(c.text, b.text) AS text
           FROM documents b LEFT JOIN corpus c
             ON c.doc_id = b.doc_id + 1 AND b.doc_id % 15 = 0
           WHERE b.doc_id % 5 = 0)
         SELECT source, COUNT(*) AS n_new,
                CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_tokens
         FROM batch b
         WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE md5(c.text) = md5(b.text))
         GROUP BY source"""),
    QuerySpec("q70_stream_static_join", EventTime.qStreamStaticJoin _, Untimed,
      // stream-static join: stateless enrichment, so the batch join is
      // the exact oracle (every event's user exists in customer)
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS mktsegment
         FROM events e JOIN customer c ON e.user_id = c.c_custkey"""),
    QuerySpec("q71_chunking", (s, d) => Pipeline.qChunk(s, d), Untimed,
      // overlapping chunking: starts at every multiple of 150 strictly
      // below the doc length, chunk = 200 chars from the start (tail may
      // be short)
      """SELECT source, COUNT(*) AS n_chunks, COUNT(DISTINCT md5(chunk)) AS n_unique,
                CAST(SUM(length(chunk)) AS BIGINT) AS sum_chars
         FROM (SELECT source, substr(text, s + 1, 200) AS chunk
               FROM documents, unnest(range(0, length(text), 150)) AS t(s))
         GROUP BY source"""),
    QuerySpec("q72_quantile_filter", (s, d) => Pipeline.qQuantileFilter(s, d), Untimed,
      // global-quantile filter: keep docs at/above the corpus p25 of
      // n_chars (quantile_cont bit-matches Spark's exact percentile)
      """WITH t AS (SELECT quantile_cont(n_chars, 0.25) AS thr FROM documents)
         SELECT source, COUNT(*) AS n_kept,
                CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_tokens
         FROM documents, t WHERE n_chars >= t.thr GROUP BY source"""),
    QuerySpec("q73_pivot", Relational.qPivot _, Untimed,
      // pivot: one conditional count per pinned event type
      """SELECT CAST(FLOOR(EPOCH(date_trunc('hour', ts))) AS BIGINT) AS hour_ts,
                CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
                CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
                CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
                CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
                CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
         FROM events GROUP BY 1"""),
    QuerySpec("q74_sessionize", (s, d) => Relational.qSessionize(s, d), Timed,
      // batch sessionization: same 10-minute-gap session rule as q39,
      // no watermark cutoff (every session counts); tied timestamps sit
      // in one session regardless of tie order, so the walk is
      // order-deterministic
      """WITH t AS (
           SELECT user_id, ts, CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess FROM t),
         g AS (SELECT user_id, sess, COUNT(*) AS n_events FROM s GROUP BY user_id, sess)
         SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
                CAST(SUM(n_events) AS BIGINT) AS n_events
         FROM g GROUP BY user_id"""),
    // q75: SemDeDup-style clustered semantic dedup — rows-only (k-means
    // codebook not SQL-expressible); SemanticDedupSpec pins precision
    // 1.0 and a recall floor vs brute-force all-pairs cosine
    QuerySpec("q75_semantic_dedup", (s, d) => Dedup.qSemanticDedup(s, d), Timed),
    // q76: Misra-Gries heavy hitters — rows-only (estimates are
    // merge-order-dependent within the n/m band); HeavyHittersSpec
    // pins presence and both error bounds against exact counts
    QuerySpec("q76_heavy_hitters", (s, d) => TextAnalysis.qHeavyHitters(s, d), Untimed),
    // q77: winnowing-based containment detection — rows-only (rolling-
    // hash fingerprints not SQL-expressible); ContainmentSpec asserts
    // every planted containment is found and the exact verify holds
    QuerySpec("q77_containment", (s, d) => Dedup.qContainment(s, d), Timed),
    // q78: BPE merge learning — rows-only (iterative training is not
    // SQL-expressible); BpeSpec asserts the exact merge sequence
    // against a driver-side reference implementation
    QuerySpec("q78_bpe_merges", (s, d) => Pipeline.qBpeMerges(s, d), Untimed),
    QuerySpec("q79_bigram_nll", TextAnalysis.qBigramNll _, Timed,
      // bigram-LM scoring: exact MLE P(w2|w1) = c(w1,w2)/c1(w1), c1 over
      // bigram-first positions; docs with < 2 tokens have no bigrams
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              t -> length(t) > 0) AS w
           FROM documents),
         bg AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(w)),
                         i -> w[i] || ' ' || w[i+1])) AS b
           FROM toks WHERE len(w) >= 2),
         cb AS (SELECT b, COUNT(*) AS c2 FROM bg GROUP BY b),
         cf AS (SELECT split_part(b, ' ', 1) AS w1, COUNT(*) AS c1
                FROM bg GROUP BY 1)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                ROUND(AVG(-ln(cb.c2::DOUBLE / cf.c1)), 4) AS avg_nll
         FROM bg JOIN cb USING (b)
                 JOIN cf ON split_part(bg.b, ' ', 1) = cf.w1
         GROUP BY doc_id"""),
    QuerySpec("q80_source_overlap", (s, d) => Pipeline.qSourceOverlap(s, d), Timed,
      // cross-source trigram overlap matrix: same shingle rule as q42's
      // 5-grams (short docs contribute their whole text as one shingle)
      """WITH d AS (
           SELECT source, list_distinct(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks) - 1), i ->
                    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             END) AS sh
           FROM (SELECT source, string_split_regex(text, '\s+') AS toks FROM documents)),
         g AS (SELECT DISTINCT source, unnest(sh) AS g FROM d),
         c AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
         p AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
               FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
               GROUP BY 1, 2)
         SELECT src_a, src_b, n_common,
                ROUND(n_common::DOUBLE / (ca.n + cb.n - n_common), 6) AS jaccard
         FROM p JOIN c ca ON p.src_a = ca.source
                JOIN c cb ON p.src_b = cb.source"""),
    QuerySpec("q81_token_budget", (s, d) => Pipeline.qTokenBudget(s, d), Untimed,
      // greedy token-budget curation: longest-first prefix per source
      // under a 2000-token budget (cumulative window sum)
      """WITH t AS (SELECT source, doc_id, n_chars,
                           len(string_split_regex(text, '\s+')) AS tok
                    FROM documents),
         c AS (SELECT source, tok,
                      SUM(tok) OVER (PARTITION BY source
                        ORDER BY n_chars DESC, doc_id ASC
                        ROWS UNBOUNDED PRECEDING) AS cum
               FROM t)
         SELECT source, COUNT(*) AS n_selected, CAST(SUM(tok) AS BIGINT) AS sum_tokens
         FROM c WHERE cum <= 2000 GROUP BY source"""),
    // q82: BPE corpus encoding — rows-only (the learned merge table is
    // not SQL-expressible); BpeEncodeSpec asserts per-word subword
    // sequences exactly against a plain-Scala reference encoder
    QuerySpec("q82_bpe_encode", (s, d) => Pipeline.qBpeEncode(s, d), Untimed),
    QuerySpec("q83_oov_rate", (s, d) => TextAnalysis.qOovRate(s, d), Untimed,
      // vocabulary OOV analysis: top-1000 vocab (count desc, token asc),
      // per-source out-of-vocab token rate
      """WITH toks AS (
           SELECT source, t FROM (
             SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS t
             FROM documents)
           WHERE length(t) > 0),
         vocab AS (
           SELECT t FROM (SELECT t, COUNT(*) AS cnt FROM toks GROUP BY t)
           ORDER BY cnt DESC, t ASC LIMIT 1000)
         SELECT source, COUNT(*) AS n_tokens,
                CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                ROUND(AVG(CASE WHEN v.t IS NULL THEN 1.0 ELSE 0.0 END), 6) AS oov_rate
         FROM toks LEFT JOIN vocab v ON toks.t = v.t
         GROUP BY source"""),
    // q84: quality-classifier training — rows-only (MLlib LBFGS float
    // reduction is partition-order sensitive); QualityClassifierSpec
    // pins separation on crafted separable data + weak-label recovery
    QuerySpec("q84_quality_classifier", Inference.qQualityClassifier _, Untimed),
    QuerySpec("q85_corpus_stats", TextAnalysis.qCorpusStats _, Untimed,
      // per-source corpus datasheet: volume, quality aggregates, and the
      // Shannon entropy of the language mix
      """WITH base AS (
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens,
                  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
                  ROUND(AVG(CASE WHEN len(string_split_regex(text, '\s+')) = 0 THEN 0.0
                        ELSE len(list_distinct(string_split_regex(text, '\s+')))::DOUBLE
                             / len(string_split_regex(text, '\s+')) END), 4) AS mean_distinct_ratio,
                  ROUND(AVG(CASE WHEN length(text) = 0 THEN 0.0
                        ELSE length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                             / length(text) END), 4) AS mean_punct_ratio
           FROM documents GROUP BY source),
         lc AS (SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang),
         ent AS (SELECT source, ROUND(-SUM(p * ln(p)), 4) AS lang_entropy
                 FROM (SELECT source, n::DOUBLE / SUM(n) OVER (PARTITION BY source) AS p
                       FROM lc)
                 GROUP BY source)
         SELECT base.source, base.n_docs, base.n_tokens, base.n_chars,
                base.mean_distinct_ratio, base.mean_punct_ratio, ent.lang_entropy
         FROM base JOIN ent ON base.source = ent.source"""),
    // q86: Lee-et-al-style exact duplicate-span removal — every L-token
    // window occurring >= 2 times in the corpus is cut from all docs
    QuerySpec("q86_exact_substring", (s, d) => Dedup.qExactSubstring(s, d), Timed,
      // exact duplicate-span removal: L=20-token windows occurring >= 2
      // times corpus-wide mark their spans; all copies are cut; the
      // digest of the cleaned text hash-checks the surviving bytes
      """WITH toks AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
         win AS (
           SELECT doc_id, i AS start, md5(array_to_string(t[i:i+19], ' ')) AS h
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 19)) AS i) w
           WHERE len(t) >= 20),
         dup AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) >= 2),
         ds AS (SELECT w.doc_id, w.start FROM win w JOIN dup USING (h)),
         pos AS (
           SELECT doc_id, i, t[i] AS tok
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) p),
         kept AS (
           SELECT p.doc_id, p.i, p.tok
           FROM pos p
           WHERE NOT EXISTS (SELECT 1 FROM ds
                             WHERE ds.doc_id = p.doc_id
                               AND ds.start <= p.i AND p.i < ds.start + 20)),
         agg AS (
           SELECT doc_id, COUNT(*) AS n_kept,
                  md5(string_agg(tok, ' ' ORDER BY i)) AS digest
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id,
                CAST(len(t.t) AS INT) AS n_tokens,
                CAST(len(t.t) - COALESCE(a.n_kept, 0) AS INT) AS n_removed,
                COALESCE(a.digest, md5('')) AS clean_digest
         FROM toks t LEFT JOIN agg a USING (doc_id)"""),
    // q87: KMV bottom-k distinct sketch — deterministic (set-function
    // state), so the estimate itself is hash-checked against the oracle
    QuerySpec("q87_kmv_distinct", (s, d) => Pipeline.qKmvDistinct(s, d), Timed,
      // KMV bottom-k sketch: identical md5 bottom-k per source and the
      // identical (k-1)/h_(k) estimator, so even the ESTIMATE hash-matches
      """WITH tok AS (
           SELECT DISTINCT source, md5(t) AS h
           FROM (SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS t
                 FROM documents)
           WHERE length(t) > 0),
         agg AS (SELECT source, COUNT(*) AS nd FROM tok GROUP BY source),
         kth AS (
           SELECT source, h AS hk
           FROM (SELECT source, h,
                        row_number() OVER (PARTITION BY source ORDER BY h) AS r
                 FROM tok)
           WHERE r = 16)
         SELECT a.source,
                CAST(a.nd AS BIGINT) AS n_exact,
                CASE WHEN k.hk IS NULL THEN a.nd::DOUBLE
                     ELSE 15.0 / (CAST('0x' || substr(k.hk, 1, 15) AS BIGINT)::DOUBLE
                                   / 1152921504606846976.0)
                END AS kmv_estimate
         FROM agg a LEFT JOIN kth k USING (source)"""),
    // q88: audio energy-envelope near-dup — rows-only (WAV synthesis is
    // not SQL-expressible); AudioDedupSpec checks pair counts against
    // brute-force Hamming and the fingerprint's gain invariance
    QuerySpec("q88_audio_near_dup", (s, d) => Multimodal.qAudioNearDup(s, d), Untimed),
    // q89: ANN over the PERSISTED IVF index (build-once/query-many) —
    // rows-only like q46; SimilaritySpec asserts parity with the
    // in-query IVF path and partition-pruned probing
    QuerySpec("q89_knn_ivf_index", (s, d) => Similarity.qIvfFromIndex(s, d), Timed),
    // q90: n-gram novelty — the fraction of a doc's distinct 8-gram
    // windows first seen in that doc (contribution-ordered curation)
    QuerySpec("q90_novelty", (s, d) => TextAnalysis.qNovelty(s, d), Untimed,
      // n-gram novelty: fraction of each doc's distinct 8-gram windows
      // whose first corpus occurrence (by doc_id) is that doc
      """WITH toks AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
         g AS (
           SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) w
           WHERE len(t) >= 8),
         fs AS (SELECT h, MIN(doc_id) AS fd FROM g GROUP BY h)
         SELECT doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_grams,
                ROUND(AVG(CASE WHEN fd = doc_id THEN 1.0 ELSE 0.0 END), 6) AS novelty
         FROM g JOIN fs USING (h)
         GROUP BY doc_id"""),
    // q91: product-quantization ANN (ADC over 4-byte codes) through the
    // PERSISTED PQ index (codebooks trained once at build, zero fits
    // per query) — rows-only (quantized ranking); SimilaritySpec pins
    // recall vs exact L2, the ADC distance error, and bit-parity with
    // the self-contained qPqTopK path
    QuerySpec("q91_knn_pq", (s, d) => Similarity.qPqFromIndex(s, d), Timed),
    // q92: train/valid split-leakage audit — near-dup pairs (q29
    // definition) crossing a deterministic 80/20 split
    QuerySpec("q92_split_leakage", Dedup.qSplitLeakage _, Untimed,
      // split-leakage audit: q29's near-dup pair definition tagged with a
      // deterministic 80/20 split; crossing pairs = eval contamination
      """WITH tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         sp AS (SELECT doc_id,
                       CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'valid' END AS split
                FROM documents),
         pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT inter.doc_a, inter.doc_b,
                    ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) AS jac
             FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                        JOIN cnt cb ON cb.doc_id = inter.doc_b)
           WHERE jac >= 0.5),
         tagged AS (
           SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
           FROM pairs p
           JOIN sp sa ON sa.doc_id = p.doc_a
           JOIN sp sb ON sb.doc_id = p.doc_b),
         cross_p AS (SELECT * FROM tagged WHERE split_a <> split_b),
         leaky AS (
           SELECT DISTINCT CASE WHEN split_a = 'valid' THEN doc_a ELSE doc_b END AS doc
           FROM cross_p)
         SELECT
           (SELECT COUNT(*) FROM sp WHERE split = 'train') AS n_train,
           (SELECT COUNT(*) FROM sp WHERE split = 'valid') AS n_valid,
           (SELECT COUNT(*) FROM tagged) AS n_pairs,
           (SELECT COUNT(*) FROM cross_p) AS n_cross_pairs,
           (SELECT COUNT(*) FROM leaky) AS n_leaky_valid_docs"""),
    // q93: IVF-PQ ANN (residual product quantization inside probed
    // cells) through the PERSISTED IVF-PQ index (cell-partitioned
    // codes: probing prunes directories) — rows-only; SimilaritySpec
    // pins recall, re-rank exactness, and bit-parity with qIvfPqTopK
    QuerySpec("q93_knn_ivfpq", (s, d) => Similarity.qIvfPqFromIndex(s, d), Timed),
    // q94: corpus-version diff — added/removed/changed/unchanged counts
    // between two deterministic snapshot versions
    QuerySpec("q94_corpus_diff", Pipeline.qCorpusDiff _, Untimed,
      // corpus-version diff: v2 derived deterministically (drop %17,
      // edit %13, re-add %19 under collision-proof negative ids)
      """WITH v1 AS (SELECT doc_id, md5(text) AS dig1 FROM documents),
         v2 AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END) AS dig2
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT -doc_id - 1 AS doc_id, md5(text || ' new') AS dig2
           FROM documents WHERE doc_id % 19 = 0)
         SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM (
           SELECT CASE WHEN dig1 IS NULL THEN 'added'
                       WHEN dig2 IS NULL THEN 'removed'
                       WHEN dig1 = dig2 THEN 'unchanged'
                       ELSE 'changed' END AS status
           FROM v1 FULL OUTER JOIN v2 USING (doc_id))
         GROUP BY status"""),
    // q95: single-pass per-column data profiler over lineitem
    QuerySpec("q95_profile", (s, d) => Pipeline.qProfile(s, d), Untimed,
      // per-column profiler: long-format non-null/distinct + numeric
      // min/max/mean over lineitem
      """SELECT 'l_quantity' AS column_name, COUNT(l_quantity) AS n_nonnull,
                COUNT(DISTINCT l_quantity) AS n_distinct, MIN(l_quantity) AS min_v,
                MAX(l_quantity) AS max_v, ROUND(AVG(l_quantity), 4) AS mean_v
         FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice),
                MIN(l_extendedprice), MAX(l_extendedprice), ROUND(AVG(l_extendedprice), 4)
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', COUNT(l_discount), COUNT(DISTINCT l_discount),
                MIN(l_discount), MAX(l_discount), ROUND(AVG(l_discount), 4)
         FROM lineitem
         UNION ALL
         SELECT 'l_tax', COUNT(l_tax), COUNT(DISTINCT l_tax),
                MIN(l_tax), MAX(l_tax), ROUND(AVG(l_tax), 4)
         FROM lineitem
         UNION ALL
         SELECT 'l_returnflag', COUNT(l_returnflag), COUNT(DISTINCT l_returnflag),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         FROM lineitem
         UNION ALL
         SELECT 'l_linestatus', COUNT(l_linestatus), COUNT(DISTINCT l_linestatus),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         FROM lineitem"""),
    // q96: changeset application (vanilla-Spark MERGE INTO) — output is
    // the full resulting snapshot's (doc_id, digest)
    QuerySpec("q96_apply_changeset", Pipeline.qApplyChangeset _, Untimed,
      // changeset application: the q94 changeset applied; the full v2
      // snapshot's (doc_id, digest) hash-checks every surviving row
      """SELECT doc_id, md5(text) AS digest FROM documents
         WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0
         UNION ALL
         SELECT doc_id, md5(text || ' rev2') AS digest FROM documents
         WHERE doc_id % 13 = 0 AND doc_id % 17 <> 0
         UNION ALL
         SELECT -doc_id - 1 AS doc_id, md5(text || ' new') AS digest
         FROM documents WHERE doc_id % 19 = 0"""),
    // q97: token frequency spectrum (hapax count at k=1)
    QuerySpec("q97_freq_spectrum", Pipeline.qFreqSpectrum _, Untimed,
      // token frequency spectrum: token types per occurrence count
      """SELECT occurrences, CAST(COUNT(*) AS BIGINT) AS n_token_types FROM (
           SELECT t, COUNT(*) AS occurrences
           FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS t
                 FROM documents)
           WHERE length(t) > 0
           GROUP BY t)
         GROUP BY occurrences"""),
    // q98: text normalization + its dedup impact (docs collapsing to
    // the same normalized form, bytes shed) — per-source rollup
    QuerySpec("q98_normalize", TextAnalysis.qNormalize _, Timed,
      // normalization impact: identical lowercase/collapse/trim + md5 on
      // both engines, so the collapse count is exact
      """SELECT source, COUNT(*) AS n_docs,
                COUNT(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_distinct_norm,
                CAST(SUM(length(text) - length(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS BIGINT) AS chars_shed
         FROM documents GROUP BY source"""),
    // q99: fill-in-the-middle splits (prefix/middle/suffix thirds, PSM
    // reassembly digest) — the FIM pretraining transform
    QuerySpec("q99_fim_split", Pipeline.qFimSplit _, Timed,
      // FIM thirds: CAST(FLOOR(..)) matches Spark's truncation (a bare
      // CAST would round in DuckDB); psm digest checks exact bytes
      """SELECT doc_id,
                length(substr(text, 1, k)) AS n_prefix,
                length(substr(text, k + 1, k)) AS n_middle,
                length(substr(text, 2 * k + 1)) AS n_suffix,
                md5(substr(text, 1, k) || substr(text, 2 * k + 1) || substr(text, k + 1, k)) AS psm_digest
         FROM (SELECT doc_id, text, CAST(FLOOR(length(text) / 3.0) AS INT) AS k
               FROM documents)"""),
    // q100: per-source quota sampling (deterministic-hash rank, keep
    // first K per source) — the crawl-curation domain cap
    QuerySpec("q100_source_quota", (s, d) => Pipeline.qSourceQuota(s, d), Timed,
      """SELECT source, doc_id, rk FROM (
           SELECT source, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 20"""),
    // q101: leakage-safe split — train/valid assigned per near-dup
    // COMPONENT (q57's clusters), so no eval doc has a near-copy in
    // train by construction (the prevention counterpart of q92's audit)
    QuerySpec("q101_safe_split", Dedup.qLeakageSafeSplit _, Timed,
      // leakage-safe split: q57's recursive components, split assigned by
      // hashing the COMPONENT id (first two md5 hex chars < 'cd' ~ 80%)
      """WITH RECURSIVE tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT inter.doc_a, inter.doc_b,
                    ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) AS jac
             FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                        JOIN cnt cb ON cb.doc_id = inter.doc_b)
           WHERE jac >= 0.1),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT doc_id AS u, doc_id AS v FROM documents
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
         assigned AS (
           SELECT doc_id, component,
                  CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2) < 'cd'
                       THEN 'train' ELSE 'valid' END AS split
           FROM comp)
         SELECT s.source, a.split, COUNT(*) AS n_docs,
                COUNT(DISTINCT a.component) AS n_clusters
         FROM assigned a JOIN documents s ON a.doc_id = s.doc_id
         GROUP BY s.source, a.split"""),
    // q102: per-language perplexity tertiles (CCNet head/middle/tail)
    // over q64's rounded unigram NLL
    QuerySpec("q102_nll_buckets", (s, d) => TextAnalysis.qNllBuckets(s, d), Timed,
      // per-language perplexity tertiles over q64's ROUNDED nll (the
      // rounding makes the ntile ordering engine-independent)
      """WITH toks AS (
           SELECT doc_id, token AS term
           FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
           WHERE length(token) > 0),
         vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
         t AS (SELECT SUM(cnt) AS total FROM vocab),
         nll AS (
           SELECT doc_id, ROUND(AVG(-ln(vocab.cnt::DOUBLE / t.total)), 4) AS avg_nll
           FROM toks JOIN vocab ON toks.term = vocab.term CROSS JOIN t
           GROUP BY doc_id),
         scored AS (
           SELECT n.doc_id, n.avg_nll, d2.lang,
                  NTILE(3) OVER (PARTITION BY d2.lang
                    ORDER BY n.avg_nll, n.doc_id) AS bucket
           FROM nll n JOIN documents d2 ON n.doc_id = d2.doc_id)
         SELECT lang, bucket, COUNT(*) AS n_docs,
                ROUND(AVG(avg_nll), 2) AS mean_nll
         FROM scored GROUP BY lang, bucket"""),
    // q103: soft dedup — duplicates down-weighted 1/cluster-size, not
    // dropped; per-source effective corpus size
    QuerySpec("q103_soft_dedup", Dedup.qSoftDedup _, Timed,
      // soft dedup: weight 1/component-size, per-source effective size.
      // Restated r8 with ZERO version-mobile surface: no list_intersect/
      // list_distinct/list_transform (shingles via unnest + GROUP BY
      // distinct counts — list-function semantics moved across DuckDB
      // versions twice on us), and the output is the raw BIGINT
      // picoweight sum (no ROUND, no /1e12 — nothing float to disagree
      // on). Verified bit-identical to the r7 formulation on DuckDB 1.0.0.
      """WITH RECURSIVE tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b
           FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                      JOIN cnt cb ON cb.doc_id = inter.doc_b
           WHERE ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) >= 0.1),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT doc_id AS u, doc_id AS v FROM documents
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
         sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
         SELECT s.source, COUNT(*) AS n_docs,
                SUM(1000000000000 // z.csize)::BIGINT AS effective_docs_pico,
                CAST(SUM(CASE WHEN z.csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_in_clusters
         FROM comp c JOIN sizes z USING (component)
              JOIN documents s ON c.doc_id = s.doc_id
         GROUP BY s.source"""),
    // q103a/q103b: diagnostic bisection of q103's driver-gate
    // divergence (r9, VERDICT r8 #1) — same component machinery and
    // oracle-CTE prefix, split into the no-division count clause
    // (q103a) and the picoweight-sum clause alone (q103b)
    QuerySpec("q103a_soft_dedup_counts", Dedup.qSoftDedupCounts _, Untimed,
      // q103a/q103b: the r9 bisection of q103's driver-row divergence.
      // CTE prefix is q103's VERBATIM (tok..sizes); only the final
      // SELECT differs. The r9 gate landed the decisive result: q103a
      // (counts half, with the then-uncast SUM(CASE..)) came back RED
      // while q103b (the ::BIGINT-cast `//`-division sum) came back
      // GREEN — localizing the divergence to the one aggregate DuckDB
      // types as HUGEINT (uncast SUM over INTEGER), whose value
      // rendering can differ between harnesses while sorted column
      // names still match. r10 fix: CAST(... AS BIGINT) on that clause
      // in q103 and q103a (the exact device that made q103b green).
      // q103c/q103d/q103e are the single-column contingency split the
      // r9 verdict prescribes — if q103a were still red, whichever
      // single-column row is red names the column mechanically.
      """WITH RECURSIVE tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b
           FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                      JOIN cnt cb ON cb.doc_id = inter.doc_b
           WHERE ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) >= 0.1),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT doc_id AS u, doc_id AS v FROM documents
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
         sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
         SELECT s.source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN z.csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_in_clusters,
                COUNT(DISTINCT c.component) AS n_components
         FROM comp c JOIN sizes z USING (component)
              JOIN documents s ON c.doc_id = s.doc_id
         GROUP BY s.source"""),
    QuerySpec("q103b_soft_dedup_pico", Dedup.qSoftDedupPico _, Untimed,
      """WITH RECURSIVE tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b
           FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                      JOIN cnt cb ON cb.doc_id = inter.doc_b
           WHERE ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) >= 0.1),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT doc_id AS u, doc_id AS v FROM documents
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
         sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
         SELECT s.source,
                SUM(1000000000000 // z.csize)::BIGINT AS effective_docs_pico
         FROM comp c JOIN sizes z USING (component)
              JOIN documents s ON c.doc_id = s.doc_id
         GROUP BY s.source"""),
    // q103c/d/e: single-column contingency split of q103a (r9 verdict
    // #1) — if the r10 BIGINT cast were not the q103 fix, whichever
    // of these comes back red names the divergent column outright
    QuerySpec("q103c_soft_dedup_ndocs", Dedup.qSoftDedupNDocs _, Untimed,
      (q103OraclePrefix +
      """
         SELECT s.source, COUNT(*) AS n_docs
         FROM comp c JOIN sizes z USING (component)
              JOIN documents s ON c.doc_id = s.doc_id
         GROUP BY s.source""")),
    QuerySpec("q103d_soft_dedup_nclustered", Dedup.qSoftDedupNInClusters _, Untimed,
      (q103OraclePrefix +
      """
         SELECT s.source,
                CAST(SUM(CASE WHEN z.csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_in_clusters
         FROM comp c JOIN sizes z USING (component)
              JOIN documents s ON c.doc_id = s.doc_id
         GROUP BY s.source""")),
    QuerySpec("q103e_soft_dedup_ncomponents", Dedup.qSoftDedupNComponents _, Untimed,
      (q103OraclePrefix +
      """
         SELECT s.source, COUNT(DISTINCT c.component) AS n_components
         FROM comp c JOIN sizes z USING (component)
              JOIN documents s ON c.doc_id = s.doc_id
         GROUP BY s.source""")),
    // q104: group-wise winsorized stats (p05/p95 clip) — the feature
    // outlier-clamping step
    QuerySpec("q104_winsorize", Pipeline.qWinsorize _, Timed,
      // group-wise winsorized stats: exact interpolated percentiles
      // (both engines use the ANSI linear-interpolation definition)
      """WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS price
                     FROM lineitem),
         b AS (SELECT flag, quantile_cont(price, 0.05) AS lo,
                      quantile_cont(price, 0.95) AS hi
               FROM li GROUP BY flag)
         SELECT li.flag, COUNT(*) AS n,
                ROUND(ANY_VALUE(b.lo), 4) AS p05,
                ROUND(ANY_VALUE(b.hi), 4) AS p95,
                ROUND(AVG(li.price), 4) AS mean_raw,
                ROUND(AVG(GREATEST(LEAST(li.price, b.hi), b.lo)), 4) AS mean_winsor
         FROM li JOIN b USING (flag)
         GROUP BY li.flag"""),
    QuerySpec("q104x_winsorize_cents", Pipeline.qWinsorizeCents _, Timed,
      // q104x: winsorize's integer twin — discrete p05/p95 bounds
      // (ROW_NUMBER order statistics) and the clipped total as an exact
      // BIGINT cents sum; the money→cents device is q162's (proven
      // driver-green). No quantile_cont, no ROUND, no AVG.
      """WITH li AS (SELECT l_returnflag AS flag,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
             FROM lineitem),
         c AS (SELECT flag, COUNT(*) AS n FROM li GROUP BY flag),
         r AS (SELECT c.flag, p.p,
                      GREATEST(1, CAST(CEIL(p.p * c.n) AS BIGINT)) AS k
               FROM c CROSS JOIN (SELECT unnest([CAST(0.05 AS DOUBLE),
                 CAST(0.95 AS DOUBLE)]) AS p) p),
         o AS (SELECT flag, cents,
                      ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cents) AS rn
               FROM li),
         b AS (SELECT r.flag,
                      MIN(CASE WHEN r.p = 0.05 THEN o.cents END) AS lo,
                      MIN(CASE WHEN r.p = 0.95 THEN o.cents END) AS hi
               FROM r JOIN o ON o.flag = r.flag AND o.rn = r.k
               GROUP BY r.flag)
         SELECT li.flag, COUNT(*) AS n,
                CAST(ANY_VALUE(b.lo) AS BIGINT) AS p05_cents,
                CAST(ANY_VALUE(b.hi) AS BIGINT) AS p95_cents,
                CAST(SUM(GREATEST(LEAST(li.cents, b.hi), b.lo)) AS BIGINT)
                  AS sum_winsor_cents
         FROM li JOIN b USING (flag)
         GROUP BY li.flag"""),
    // q105: nonlinear (2-layer relu MLP) model serving from a
    // multi-tensor safetensors artifact — hash-checked end to end
    QuerySpec("q105_mlp_score", (s, d) => Inference.qMlpScore(s, d), Timed,
      // 2-layer relu MLP forward pass, weights reproduced by the same
      // integer formulas the Spark side writes into the safetensors
      // artifact (q50's device, one layer deeper)
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
         h AS (
           SELECT vec_id,
                  list_transform(range(0, 4), j ->
                    GREATEST(0.0, ((j * 17 + 5) % 7 - 3) / 3.0 +
                      list_sum(list_transform(range(1, len(x) + 1),
                        i -> x[i] * ((((j * 64 + (i - 1)) * 31 + 7) % 13) - 6) / 6.0)))) AS hid
           FROM e)
         SELECT vec_id,
                ROUND(0.25 + list_sum(list_transform(range(0, 4),
                  j -> hid[j + 1] * ((j * 23 + 11) % 9 - 4) / 4.0)), 4) AS score
         FROM h"""),
    // q106: per-dimension embedding standardization stats — the
    // feature-whitening audit before trusting cosine/L2
    QuerySpec("q106_embedding_stats", Similarity.qEmbeddingStats _, Timed,
      // per-dimension mean/std/min/max over the unnested embeddings
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
         ex AS (SELECT generate_subscripts(x, 1) - 1 AS dim, unnest(x) AS v FROM e)
         SELECT dim, COUNT(*) AS n, ROUND(AVG(v), 4) AS mean,
                ROUND(STDDEV(v), 4) AS std,
                ROUND(MIN(v), 4) AS vmin, ROUND(MAX(v), 4) AS vmax
         FROM ex GROUP BY dim"""),
    // q107: SQ8 reconstruction-error audit of q66's max-abs/127 scheme
    QuerySpec("q107_sq8_error", Similarity.qSq8Error _, Timed,
      // symmetric SQ8 (scale = max-abs/127, code = round(v/scale)):
      // per-vector reconstruction error, the same arithmetic q66 applies
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
         s AS (SELECT vec_id, x,
                      list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
               FROM e),
         ex AS (SELECT vec_id, scale, unnest(x) AS v FROM s),
         r AS (SELECT vec_id, scale, v,
                      CASE WHEN scale = 0 THEN 0.0
                           ELSE ROUND(v / scale) * scale END AS recon
               FROM ex)
         SELECT vec_id, ROUND(ANY_VALUE(scale), 6) AS scale,
                ROUND(AVG(ABS(v - recon)), 6) AS mean_abs_err,
                ROUND(MAX(ABS(v - recon)), 6) AS max_abs_err
         FROM r GROUP BY vec_id"""),
    // q108: near-dup Jaccard-band histogram — the threshold-picking
    // curve over the q29 pair machinery
    QuerySpec("q108_jaccard_bands", (s, d) => Dedup.qJaccardBands(s, d), Timed,
      // pair counts per 0.1-wide band of the q29 rounded Jaccard
      """WITH tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         pairs AS (
           SELECT ROUND(jac, 4) AS jaccard FROM (
             SELECT ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) AS jac
             FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                        JOIN cnt cb ON cb.doc_id = inter.doc_b)
           WHERE jac >= 0.1)
         SELECT FLOOR(jaccard * 10) / 10 AS band, COUNT(*) AS n_pairs
         FROM pairs GROUP BY band"""),
    // q109: curriculum sharding — per-language easy->hard round-robin
    // deal across data-parallel workers
    QuerySpec("q109_curriculum", (s, d) => TextAnalysis.qCurriculumShards(s, d), Timed,
      // per-language easy->hard rank (q102's ordering) dealt round-robin
      // across 8 shards; per-shard balance stats
      """WITH toks AS (
           SELECT doc_id, token AS term
           FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
           WHERE length(token) > 0),
         vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
         t AS (SELECT SUM(cnt) AS total FROM vocab),
         nll AS (
           SELECT doc_id, ROUND(AVG(-ln(vocab.cnt::DOUBLE / t.total)), 4) AS avg_nll
           FROM toks JOIN vocab ON toks.term = vocab.term CROSS JOIN t
           GROUP BY doc_id),
         ranked AS (
           SELECT n.doc_id, n.avg_nll, d2.lang,
                  ROW_NUMBER() OVER (PARTITION BY d2.lang
                    ORDER BY n.avg_nll, n.doc_id) AS rn
           FROM nll n JOIN documents d2 ON n.doc_id = d2.doc_id)
         SELECT (rn - 1) % 8 AS shard, COUNT(*) AS n_docs,
                ROUND(AVG(avg_nll), 2) AS mean_nll,
                COUNT(DISTINCT lang) AS n_langs
         FROM ranked GROUP BY shard"""),
    // q110: incremental datasheet maintenance — delta aggregation over
    // changeset rows only; the oracle recomputes v2 from scratch, so
    // the gate proves delta == full rescan
    QuerySpec("q110_incremental_stats", Pipeline.qIncrementalStats _, Timed,
      // the FULL v2 recompute (the q96 changeset semantics) — the Spark
      // side maintains the same sheet by delta aggregation instead
      """WITH v2 AS (
           SELECT doc_id, source, text FROM documents
           WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0
           UNION ALL
           SELECT doc_id, source, text || ' rev2' FROM documents
           WHERE doc_id % 13 = 0 AND doc_id % 17 <> 0
           UNION ALL
           SELECT -doc_id - 1, source, text || ' new' FROM documents
           WHERE doc_id % 19 = 0)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens,
                CAST(SUM(length(text)) AS BIGINT) AS n_chars,
                ROUND(SUM(length(text))::DOUBLE / COUNT(*), 2) AS mean_chars
         FROM v2 GROUP BY source"""),
    // q111: video near-dup — temporal-luma fingerprint through the real
    // AVI/MJPEG decode path, completing the media dedup trio (rows-only:
    // container synthesis isn't SQL; VideoDedupSpec proves brute-force
    // parity and exposure invariance)
    QuerySpec("q111_video_near_dup", (s, d) => Multimodal.qVideoNearDup(s, d), Untimed),
    // q112: BM25 lexical top-k retrieval (scan-time scoring; top-k via
    // TakeOrderedAndProject, never a global sort)
    QuerySpec("q112_bm25", (s, d) => TextAnalysis.qBm25(s, d), Timed,
      // BM25 with k1=1.2, b=0.75 — expression structure mirrors the Spark
      // side term-for-term so both engines evaluate the same double ops
      """WITH toks AS (
           SELECT doc_id, token AS term
           FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
           WHERE length(token) > 0),
         dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
         qtf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                 WHERE term IN ('stream', 'join', 'window')
                 GROUP BY doc_id, term),
         idf AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY term),
         scored AS (
           SELECT qtf.doc_id,
                  SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf::DOUBLE * 2.2) /
                      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
           FROM qtf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY qtf.doc_id)
         SELECT rank, doc_id, score FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
                  ROUND(score, 4) AS score FROM scored)
         WHERE rank <= 20"""),
    // q113: corpus-adaptive stopword strip — terms in >= 80% of docs
    // struck from every doc, order preserved (broadcast common set)
    QuerySpec("q113_stopword_strip", (s, d) => TextAnalysis.qStopwordStrip(s, d), Timed,
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents),
         n AS (SELECT COUNT(*) AS n_docs FROM docs),
         dfr AS (SELECT term, COUNT(DISTINCT doc_id) AS df
                 FROM (SELECT doc_id, unnest(ts) AS term FROM docs)
                 WHERE length(term) > 0 GROUP BY term),
         common AS (SELECT list(term ORDER BY term) AS cs
                    FROM dfr CROSS JOIN n WHERE df >= 0.8 * n_docs)
         SELECT doc_id, len(ts) AS n_tokens,
                len(list_filter(ts, t -> length(t) > 0
                    AND NOT list_contains(COALESCE(cs, []), t))) AS n_kept,
                array_to_string(list_filter(ts, t -> length(t) > 0
                    AND NOT list_contains(COALESCE(cs, []), t)), ' ') AS clean_text
         FROM docs CROSS JOIN common"""),
    // q114: DSIR-style unigram importance weights toward a target source
    QuerySpec("q114_importance_weights", (s, d) => TextAnalysis.qImportanceWeights(s, d), Timed,
      """WITH toks AS (
           SELECT doc_id, source, token AS term
           FROM (SELECT doc_id, source,
                        unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
           WHERE length(token) > 0),
         vocab AS (SELECT term, COUNT(*) AS c_all,
                          COUNT(*) FILTER (WHERE source = 'src0') AS c_tgt
                   FROM toks GROUP BY term),
         t AS (SELECT SUM(c_all) AS tot_all, SUM(c_tgt) AS tot_tgt,
                      COUNT(*) AS v FROM vocab)
         SELECT doc_id, COUNT(*) AS n_tokens,
                ROUND(AVG(ln(((c_tgt + 1)::DOUBLE / (tot_tgt + v)) /
                             ((c_all + 1)::DOUBLE / (tot_all + v)))), 4) AS dsir_weight
         FROM toks JOIN vocab USING (term) CROSS JOIN t
         GROUP BY doc_id"""),
    // q115: temperature-rebalanced language mixture (XLM-R sampling)
    QuerySpec("q115_temperature_mix", (s, d) => Pipeline.qTemperatureMix(s, d), Timed,
      """WITH bylang AS (
           SELECT lang, CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY lang),
         tot AS (SELECT SUM(n_tokens) AS total FROM bylang),
         t2 AS (SELECT lang, n_tokens,
                       n_tokens::DOUBLE / total AS praw,
                       pow(n_tokens::DOUBLE / total, 0.3) AS pa
                FROM bylang CROSS JOIN tot),
         z AS (SELECT SUM(pa) AS z FROM t2)
         SELECT lang, n_tokens,
                ROUND(praw, 6) AS p_raw,
                ROUND(pa / z, 6) AS p_alpha,
                ROUND(pa / z / praw, 4) AS upsample,
                CAST(FLOOR(pa / z * 1000000) AS BIGINT) AS budget_tokens
         FROM t2 CROSS JOIN z"""),
    // q116: hybrid BM25+dense retrieval fused by reciprocal rank (RRF)
    QuerySpec("q116_hybrid_rrf", (s, d) => Similarity.qHybridRrf(s, d), Timed,
      // RRF fusion of a BM25 leg and a dense-cosine leg (query = vec 0);
      // fused scores are sums of 1/(60+rank) over integer ranks, so the
      // fusion itself is exactly deterministic across engines
      """WITH toks AS (
           SELECT doc_id, token AS term
           FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
           WHERE length(token) > 0),
         dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
         qtf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
                 WHERE term IN ('stream', 'join', 'window')
                 GROUP BY doc_id, term),
         idf AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY term),
         lexs AS (
           SELECT qtf.doc_id,
                  SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf::DOUBLE * 2.2) /
                      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
           FROM qtf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           WHERE qtf.doc_id <> 0
           GROUP BY qtf.doc_id),
         lex AS (SELECT doc_id, r_lex FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r_lex
           FROM lexs) WHERE r_lex <= 100),
         qv AS (SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0),
         sems AS (SELECT vec_id AS doc_id,
                         list_cosine_similarity(q_emb, embedding::DOUBLE[]) AS score
                  FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
         sem AS (SELECT doc_id, r_sem FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r_sem
           FROM sems) WHERE r_sem <= 100),
         fused AS (
           SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
                  COALESCE(1.0 / (60 + r_lex), 0) + COALESCE(1.0 / (60 + r_sem), 0) AS rrf
           FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
         SELECT rank, doc_id, r_lex, r_sem, rrf FROM (
           SELECT doc_id, r_lex, r_sem,
                  ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank,
                  ROUND(rrf, 6) AS rrf FROM fused)
         WHERE rank <= 20"""),
    // q117: Gopher-style hand-rule quality gate (per-rule booleans);
    // the required-word rule runs on the corpus's own function words
    // ("the"/"a" — the only English stopwords in the synthetic vocab)
    QuerySpec("q117_gopher_rules",
      (s, d) => TextAnalysis.qGopherRules(s, d, requiredWords = Seq("the", "a")), Timed,
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              t -> length(t) > 0) AS ts
           FROM documents),
         feat AS (
           SELECT doc_id, len(ts) AS n_words,
                  list_aggregate(list_transform(ts, t -> length(t)), 'sum')::DOUBLE
                    / len(ts) AS mean_len,
                  len(list_filter(ts, t -> contains(t, '#') OR contains(t, '...')))::DOUBLE
                    / len(ts) AS sym_ratio,
                  len(list_filter(ts, t -> regexp_matches(t, '[a-z]')))::DOUBLE
                    / len(ts) AS alpha_ratio,
                  len(list_intersect(list_distinct(ts), ['the','a'])) AS n_stops
           FROM toks)
         SELECT doc_id, n_words,
                n_words >= 20 AND n_words <= 100000 AS r_words,
                mean_len >= 3.0 AND mean_len <= 10.0 AS r_mean_len,
                sym_ratio <= 0.1 AS r_symbols,
                alpha_ratio >= 0.9 AS r_alpha,
                n_stops >= 2 AS r_stopwords,
                (n_words >= 20 AND n_words <= 100000)
                  AND (mean_len >= 3.0 AND mean_len <= 10.0)
                  AND sym_ratio <= 0.1 AND alpha_ratio >= 0.9
                  AND n_stops >= 2 AS pass
         FROM feat"""),
    // q118: deterministic sharded epoch shuffle (replayable training order)
    QuerySpec("q118_epoch_shuffle", (s, d) => Pipeline.qEpochShuffle(s, d), Timed,
      """WITH k AS (
           SELECT epoch, doc_id, md5(epoch || ':' || doc_id) AS h
           FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS epoch)),
         s AS (SELECT epoch, doc_id, h,
                      strpos('0123456789abcdef', substring(h, 1, 1)) - 1 AS shard
               FROM k)
         SELECT epoch, shard,
                ROW_NUMBER() OVER (PARTITION BY epoch, shard
                                   ORDER BY h, doc_id) AS pos,
                doc_id
         FROM s"""),
    // q119: deterministic rejection sampling by quality ramp
    QuerySpec("q119_rejection_sample", (s, d) => Pipeline.qRejectionSample(s, d), Timed,
      // the deterministic uniform is the first 16 bits of md5(doc_id);
      // DuckDB lacks a hex->int cast, so the four hex digits are decoded
      // positionally — identical arithmetic to Spark's conv(...,16,10)
      """WITH h AS (SELECT doc_id, text, md5(doc_id::VARCHAR) AS hx FROM documents),
         u AS (SELECT doc_id, text,
                      ((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096
                     + (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256
                     + (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1))
                        / 65536.0 AS uval
               FROM h)
         SELECT doc_id,
                len(string_split_regex(text, '\s+')) AS n_tokens,
                ROUND(LEAST(1.0, len(string_split_regex(text, '\s+')) / 50.0), 6) AS p_keep,
                ROUND(uval, 6) AS u,
                ROUND(uval, 6) < ROUND(LEAST(1.0,
                  len(string_split_regex(text, '\s+')) / 50.0), 6) AS kept
         FROM u"""),
    // q120: Matryoshka truncation-fidelity audit over prefix dims
    QuerySpec("q120_matryoshka", (s, d) => Similarity.qMatryoshka(s, d), Timed,
      """WITH p AS (
           SELECT a.vec_id, a.embedding::DOUBLE[] AS x, b.embedding::DOUBLE[] AS y
           FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
         ex AS (
           SELECT dprime,
                  list_cosine_similarity(x, y) AS cos_full,
                  list_cosine_similarity(list_slice(x, 1, dprime),
                                         list_slice(y, 1, dprime)) AS cos_trunc
           FROM p CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS dprime))
         SELECT dprime, COUNT(*) AS n_pairs,
                ROUND(AVG(ABS(cos_trunc - cos_full)), 6) AS mean_drift,
                ROUND(MAX(ABS(cos_trunc - cos_full)), 6) AS max_drift,
                ROUND(AVG(cos_trunc), 6) AS mean_cos
         FROM ex GROUP BY dprime"""),
    // q121: PCA explained-variance spectrum — rows-only (eigensolve is
    // not SQL-expressible); SimilaritySpec pins variance identities
    QuerySpec("q121_pca_variance", (s, d) => Similarity.qPcaVariance(s, d), Timed),
    // q122: length-bucket padding-waste audit (batching efficiency)
    QuerySpec("q122_padding_waste", (s, d) => Pipeline.qPaddingWaste(s, d), Timed,
      """WITH t AS (SELECT len(string_split_regex(text, '\s+')) AS n FROM documents),
         b AS (SELECT n, CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
                              WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                              WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
                              WHEN n <= 1024 THEN 1024 ELSE 2048 END AS bucket
               FROM t)
         SELECT bucket, COUNT(*) AS n_docs,
                CAST(SUM(n) AS BIGINT) AS sum_tokens,
                CAST(bucket * COUNT(*) AS BIGINT) AS padded_tokens,
                ROUND(1.0 - SUM(n)::DOUBLE / (bucket * COUNT(*)), 6) AS waste_frac
         FROM b GROUP BY bucket"""),
    // q123: tokenizer fertility + compression ratio per language
    QuerySpec("q123_fertility", (s, d) => TextAnalysis.qFertility(s, d), Timed,
      """SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS sum_words,
                CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS sum_bpe,
                ROUND(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))::DOUBLE
                      / SUM(len(string_split_regex(text, '\s+'))), 6) AS fertility,
                ROUND(SUM(length(text))::DOUBLE
                      / SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))), 6) AS chars_per_token
         FROM documents GROUP BY lang"""),
    // q124: per-doc character entropy (garbage/base64/key-mash detector)
    QuerySpec("q124_char_entropy", (s, d) => TextAnalysis.qCharEntropy(s, d), Timed,
      """WITH ch AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '.')) AS c
           FROM documents),
         g AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, c)
         SELECT doc_id,
                CAST(SUM(cnt) AS BIGINT) AS n_chars,
                COUNT(*) AS n_distinct_chars,
                ROUND((ln(SUM(cnt)) - SUM(cnt * ln(cnt)) / SUM(cnt)) / ln(2), 6)
                  AS entropy_bits
         FROM g GROUP BY doc_id"""),
    // q125: corpus-global sentence dedup (the C4 move) — boilerplate
    // sentences (df >= 3 docs) struck everywhere, rebuilt text
    // hash-checked per doc
    QuerySpec("q125_sentence_dedup", (s, d) => Pipeline.qSentenceDedup(s, d), Timed,
      // global sentence dedup: df-common sentences struck, rebuild hashed
      """WITH s AS (
           SELECT doc_id, generate_subscripts(parts, 1) AS pos, unnest(parts) AS sent
           FROM (SELECT doc_id, string_split_regex(text, '\. ') AS parts FROM documents)),
         f AS (SELECT doc_id, pos, sent, md5(sent) AS h FROM s WHERE length(sent) > 0),
         common AS (SELECT h FROM f GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 3),
         kept AS (SELECT * FROM f WHERE h NOT IN (SELECT h FROM common)),
         reb AS (SELECT doc_id, COUNT(*) AS n_kept,
                        md5(string_agg(sent, '. ' ORDER BY pos)) AS clean_md5
                 FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, COUNT(*) AS n_sents FROM f GROUP BY doc_id)
         SELECT d.doc_id,
                COALESCE(tot.n_sents, 0) AS n_sents,
                COALESCE(reb.n_kept, 0) AS n_kept,
                COALESCE(reb.clean_md5, md5('')) AS clean_md5
         FROM documents d
         LEFT JOIN tot ON d.doc_id = tot.doc_id
         LEFT JOIN reb ON d.doc_id = reb.doc_id"""),
    // q126: per-language distinct-bigram diversity (distinct-n) — the
    // templated/synthetic-corpus detector
    QuerySpec("q126_bigram_diversity", (s, d) => TextAnalysis.qBigramDiversity(s, d), Timed,
      // distinct-bigram diversity per language
      """WITH d AS (
           SELECT lang, string_split_regex(lower(text), '\s+') AS w
           FROM documents),
         bg AS (
           SELECT lang, unnest(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i + 1])) AS bg
           FROM d WHERE len(w) >= 2)
         SELECT lang, COUNT(*) AS n_bigrams,
                COUNT(DISTINCT bg) AS n_distinct,
                ROUND(COUNT(DISTINCT bg)::DOUBLE / COUNT(*), 4) AS distinct_ratio
         FROM bg GROUP BY lang"""),
    // q127: mixed-language segmentation — per-sentence lang ID rolled
    // up to majority lang + mixed fraction per doc
    QuerySpec("q127_lang_segments", (s, d) => TextAnalysis.qLangSegments(s, d), Timed,
      // per-sentence lang ID -> per-doc majority + mixed fraction
      """WITH s AS (
           SELECT doc_id, unnest(string_split_regex(text, '\. ')) AS sent
           FROM documents),
         l AS (
           SELECT doc_id,
                  CASE WHEN greatest(en, es, fr) = 0 THEN 'und'
                       WHEN en >= es AND en >= fr THEN 'en'
                       WHEN es >= fr THEN 'es' ELSE 'fr' END AS slang
           FROM (SELECT doc_id,
                        len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS en,
                        len(list_intersect(toks, ['el','la','de','y','en','es','un','que'])) AS es,
                        len(list_intersect(toks, ['le','la','de','et','en','est','un','que'])) AS fr
                 FROM (SELECT doc_id, list_distinct(string_split_regex(lower(sent), '\s+')) AS toks
                       FROM s WHERE length(sent) > 0))),
         c AS (SELECT doc_id, slang, COUNT(*) AS n FROM l GROUP BY doc_id, slang),
         r AS (
           SELECT doc_id, slang, n,
                  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, slang ASC) AS rk,
                  SUM(n) OVER (PARTITION BY doc_id) AS tot,
                  COUNT(*) OVER (PARTITION BY doc_id) AS n_langs
           FROM c)
         SELECT doc_id, slang AS main_lang, n_langs,
                ROUND(1.0 - n::DOUBLE / tot, 4) AS mixed_frac
         FROM r WHERE rk = 1"""),
    // q128: near-dup survivor selection by quality (keep-longest per
    // component) instead of min-id
    QuerySpec("q128_dedup_keep_best", Dedup.qDedupKeepBest _, Timed,
      // keep-longest survivor per near-dup component (q101's clusters)
      """WITH RECURSIVE tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT inter.doc_a, inter.doc_b,
                    ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) AS jac
             FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                        JOIN cnt cb ON cb.doc_id = inter.doc_b)
           WHERE jac >= 0.1),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT doc_id AS u, doc_id AS v FROM documents
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
         ranked AS (
           SELECT doc.doc_id, doc.source, doc.n_chars,
                  ROW_NUMBER() OVER (PARTITION BY comp.component
                    ORDER BY doc.n_chars DESC, doc.doc_id ASC) AS rk
           FROM documents doc JOIN comp ON doc.doc_id = comp.doc_id)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN rk = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         FROM ranked GROUP BY source"""),
    // q129: vocabulary coverage curve — corpus token share covered by
    // the top-k frequent types, k in {3,10,30,100,1000,10000}
    QuerySpec("q129_vocab_coverage", (s, d) => Pipeline.qVocabCoverage(s, d), Timed,
      // vocabulary coverage curve at k in {10,100,1000,10000}
      """WITH v AS (
           SELECT token, COUNT(*) AS cnt
           FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
                 FROM documents)
           WHERE length(token) > 0 GROUP BY token),
         r AS (
           SELECT cnt,
                  ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS k,
                  SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM v),
         t AS (SELECT SUM(cnt) AS total FROM v)
         SELECT CAST(k AS INT) AS k,
                CAST(cum AS BIGINT) AS covered_tokens,
                ROUND(cum::DOUBLE / total, 4) AS coverage
         FROM r, t WHERE k IN (3, 10, 30, 100, 1000, 10000)"""),
    // q130: trailing-24h z-score anomaly detection over hourly counts
    QuerySpec("q130_anomaly_hours", Relational.qAnomalyHours _, Timed,
      // trailing-24-observed-hours z-score anomaly flags per event type
      """WITH h AS (
           SELECT event_type,
                  CAST(FLOOR(EPOCH(date_trunc('hour', ts))) AS BIGINT) AS hour_ts,
                  COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, n,
                  AVG(n) OVER tw AS mu,
                  STDDEV_SAMP(n) OVER tw AS sd,
                  COUNT(*) OVER tw AS n_trail
           FROM h WINDOW tw AS (PARTITION BY event_type ORDER BY hour_ts
                                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, COUNT(*) AS n_scored,
                CAST(SUM(CASE WHEN abs((n - mu) / sd) >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_anomalous,
                ROUND(MAX(abs((n - mu) / sd)), 4) AS max_abs_z
         FROM w WHERE n_trail >= 12 AND sd > 0
         GROUP BY event_type"""),
    // q131: ordered view->click->purchase funnel inside 24 hours
    QuerySpec("q131_funnel", Relational.qFunnel _, Timed,
      // ordered funnel: first view -> first click at/after it -> purchase
      // inside 24 hours of the view; integer-microsecond comparisons
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
         v AS (SELECT user_id, MIN(us) AS v_us FROM e
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, v.v_us, MIN(e.us) AS c_us
               FROM e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.us >= v.v_us
               GROUP BY e.user_id, v.v_us),
         p AS (SELECT e.user_id, MIN(e.us) AS p_us
               FROM e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.us >= c.c_us
                 AND e.us <= c.v_us + 86400000000
               GROUP BY e.user_id)
         SELECT (SELECT COUNT(*) FROM v) AS n_view,
                (SELECT COUNT(*) FROM c) AS n_view_click,
                (SELECT COUNT(*) FROM p) AS n_full_funnel,
                ROUND((SELECT COUNT(*) FROM c)::DOUBLE
                      / (SELECT COUNT(*) FROM v), 4) AS click_rate,
                ROUND((SELECT COUNT(*) FROM p)::DOUBLE
                      / (SELECT COUNT(*) FROM v), 4) AS conversion_rate"""),
    // q132: cohort retention (first-activity day x day offset 0..7)
    QuerySpec("q132_cohort_retention", Relational.qCohortRetention _, Timed,
      // cohort retention: first-activity day x day offset, distinct users
      """WITH days AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         cohort AS (
           SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
         SELECT CAST(FLOOR(EPOCH(c.cohort_day)) AS BIGINT) AS cohort_ts,
                CAST(date_diff('day', c.cohort_day, d.day) AS INT) AS day_offset,
                COUNT(DISTINCT d.user_id) AS n_users
         FROM days d JOIN cohort c ON d.user_id = c.user_id
         WHERE date_diff('day', c.cohort_day, d.day) <= 7
         GROUP BY 1, 2"""),
    // q133: q131's funnel as streaming state over a time-ordered
    // 3-batch replay — the oracle is the BATCH funnel SQL, so the gate
    // proves stream/batch parity bit for bit
    QuerySpec("q133_streaming_funnel", EventTime.qStreamingFunnel _, Untimed,
      // the streaming funnel's oracle is the BATCH funnel SQL verbatim:
      // the gate proves the incremental state machine reaches the batch
      // answer exactly
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
         v AS (SELECT user_id, MIN(us) AS v_us FROM e
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, v.v_us, MIN(e.us) AS c_us
               FROM e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.us >= v.v_us
               GROUP BY e.user_id, v.v_us),
         p AS (SELECT e.user_id, MIN(e.us) AS p_us
               FROM e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.us >= c.c_us
                 AND e.us <= c.v_us + 86400000000
               GROUP BY e.user_id)
         SELECT (SELECT COUNT(*) FROM v) AS n_view,
                (SELECT COUNT(*) FROM c) AS n_view_click,
                (SELECT COUNT(*) FROM p) AS n_full_funnel,
                ROUND((SELECT COUNT(*) FROM c)::DOUBLE
                      / (SELECT COUNT(*) FROM v), 4) AS click_rate,
                ROUND((SELECT COUNT(*) FROM p)::DOUBLE
                      / (SELECT COUNT(*) FROM v), 4) AS conversion_rate"""),
    // q134: near-dup cluster-size histogram — the audit that sizes the
    // dedup problem before running it
    QuerySpec("q134_cluster_sizes", Dedup.qClusterSizeHistogram _, Untimed,
      // cluster-size histogram over the q101-family recursive components
      """WITH RECURSIVE tok AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
           UNION
           SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
         cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT inter.doc_a, inter.doc_b,
                    ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) AS jac
             FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                        JOIN cnt cb ON cb.doc_id = inter.doc_b)
           WHERE jac >= 0.1),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT doc_id AS u, doc_id AS v FROM documents
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
         sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)
         SELECT CAST(CASE WHEN csize <= 1 THEN 1 WHEN csize <= 2 THEN 2
                          WHEN csize <= 4 THEN 4 WHEN csize <= 8 THEN 8
                          WHEN csize <= 16 THEN 16 ELSE 17 END AS BIGINT) AS size_bucket,
                COUNT(*) AS n_clusters,
                CAST(SUM(csize) AS BIGINT) AS n_docs
         FROM sizes GROUP BY 1"""),
    // q135: per-benchmark-example contamination fraction (the
    // decontamination report, not just q42's binary)
    QuerySpec("q135_contamination_frac", (s, d) => Pipeline.qContaminationFraction(s, d), Untimed,
      // per-benchmark-doc 5-gram contamination fraction vs the train side
      """WITH d AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks) - 3), i ->
                    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                    toks[i+3] || ' ' || toks[i+4])
             END) AS sh
           FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)),
         bgr AS (SELECT doc_id, unnest(sh) AS g FROM d WHERE doc_id % 97 = 0),
         tg AS (SELECT DISTINCT unnest(sh) AS g FROM d WHERE doc_id % 97 <> 0)
         SELECT doc_id, COUNT(*) AS n_grams,
                CAST(SUM(CASE WHEN g IN (SELECT g FROM tg) THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_in_train,
                ROUND(SUM(CASE WHEN g IN (SELECT g FROM tg) THEN 1 ELSE 0 END)::DOUBLE
                      / COUNT(*), 4) AS contamination
         FROM bgr GROUP BY doc_id"""),
    // q136: exact two-sample KS drift over doc length between corpus
    // slices — the ingest drift alarm
    QuerySpec("q136_length_drift", (s, d) => Pipeline.qLengthDrift(s, d), Untimed,
      // exact two-sample KS statistic over n_chars, even- vs odd-id docs
      """WITH g AS (
           SELECT n_chars AS v,
                  SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
                  SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
           FROM documents GROUP BY n_chars),
         w AS (
           SELECT SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cda,
                  SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cdb,
                  SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
           FROM g)
         SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
                ROUND(MAX(ABS(cda::DOUBLE / na - cdb::DOUBLE / nb)), 6) AS ks_stat
         FROM w"""),
    // q137: first-order Markov transition matrix over per-user event
    // sequences — the user-journey summary no fixed funnel captures
    QuerySpec("q137_transitions", Relational.qTransitionMatrix _, Untimed,
      // Markov transitions: lag-1 pairs per user (µs + event_id ties),
      // conditional probability normalized within each source type
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us,
                          event_id FROM events),
         t AS (SELECT event_type AS next_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY us, event_id) AS prev_type
               FROM e),
         c AS (SELECT prev_type, next_type, COUNT(*) AS n FROM t
               WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
                ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
         FROM c"""),
    // q138: inter-arrival regularity (CV) per user — the bot detector
    QuerySpec("q138_gap_regularity", Relational.qGapRegularity _, Untimed,
      // inter-arrival regularity: CV of per-user gap distribution (µs);
      // tie order within an equal timestamp cannot change the gap multiset
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
         g AS (SELECT user_id,
                      (us - LAG(us) OVER (PARTITION BY user_id ORDER BY us))::DOUBLE
                        AS gap
               FROM e),
         s AS (SELECT user_id, COUNT(*) AS n_gaps, AVG(gap) AS mu,
                      STDDEV_SAMP(gap) AS sd
               FROM g WHERE gap IS NOT NULL GROUP BY user_id)
         SELECT user_id, n_gaps,
                ROUND(mu / 1000000, 4) AS mean_gap_s,
                ROUND(sd / mu, 4) AS cv,
                (ROUND(sd / mu, 4) < 0.3) AS is_regular
         FROM s WHERE n_gaps >= 9"""),
    // q139: salted two-phase aggregation, proven ≡ the direct agg by
    // the oracle — the hot-key survival shape
    QuerySpec("q139_salted_agg", Relational.qSaltedAgg _, Untimed,
      // the salted-agg oracle is the DIRECT aggregation: the gate proves
      // the two-phase salted plan reaches the one-phase answer exactly
      """SELECT event_type, ROUND(SUM(value), 4) AS sum_value,
                COUNT(*) AS n, ROUND(SUM(value) / COUNT(*), 6) AS avg_value
         FROM events GROUP BY event_type"""),
    // q140: key-skew audit (Gini / max / top-10 shares) — the
    // partition-planning number behind the salting decision
    QuerySpec("q140_key_skew", Relational.qKeySkew _, Untimed,
      // key-skew audit: Gini over per-key counts, integer until the final
      // divisions; rank ties cannot change the Gini sum
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
         r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS i FROM c),
         g AS (SELECT COUNT(*) AS n_keys, SUM(n) AS n_rows, MAX(n) AS max_count,
                      SUM(i * n) AS s2
               FROM r),
         t AS (SELECT SUM(n) AS t10 FROM (SELECT n FROM c ORDER BY n DESC LIMIT 10))
         SELECT n_keys, CAST(n_rows AS BIGINT) AS n_rows, max_count,
                ROUND(max_count::DOUBLE / n_rows, 6) AS max_share,
                ROUND(t10::DOUBLE / n_rows, 6) AS top10_share,
                ROUND((2 * s2 - (n_keys + 1) * n_rows)::DOUBLE
                      / (n_keys * n_rows), 6) AS gini
         FROM g, t"""),
    // q141: fuzzy name variants via blocked Levenshtein join; oracle is
    // the unblocked all-pairs truth, proving the blocking lossless
    QuerySpec("q141_name_variants", Relational.qNameVariants _, Untimed,
      // the q141 oracle is UNBLOCKED all-pairs: a hash match proves the
      // Spark side's last-token/length-band blocking loses no pair
      """WITH n AS (SELECT p_name AS nm, COUNT(*) AS n_rows FROM part GROUP BY p_name)
         SELECT a.nm AS name_a, b.nm AS name_b,
                levenshtein(a.nm, b.nm) AS dist,
                a.n_rows AS rows_a, b.n_rows AS rows_b
         FROM n a JOIN n b ON a.nm < b.nm
         WHERE levenshtein(a.nm, b.nm) <= 2"""),
    // q142: exact-count stratified eval/train split (hash-ranked per
    // language) — size-exact where q60's threshold sample is not
    QuerySpec("q142_stratified_split", (s, d) => Pipeline.qStratifiedSplit(s, d), Untimed,
      // q142: the hash rank (md5 of "strat:<id>") and the ceil threshold
      // are computed identically on both engines; ties cannot occur
      // (doc_id is unique within a hash)
      """WITH h AS (SELECT doc_id, lang,
                           md5('strat:' || CAST(doc_id AS VARCHAR)) AS h
                    FROM documents),
         r AS (SELECT doc_id, lang, h,
                      ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY h, doc_id) AS rk,
                      COUNT(*) OVER (PARTITION BY lang) AS n_lang
               FROM h)
         SELECT doc_id, lang,
                CASE WHEN rk <= CEIL(n_lang * 0.1) THEN 'eval'
                     ELSE 'train' END AS split
         FROM r"""),
    // q143: SCD2 versioned-dimension build from the order stream
    QuerySpec("q143_scd2", Relational.qScd2 _, Untimed,
      // q143: epoch-second floors on both engines; the 2100-01-01
      // sentinel closes the current version (no nullable hash compare)
      """WITH o AS (SELECT o_custkey, o_orderkey,
                           o_orderpriority AS state,
                           CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT)
                             AS valid_from_sec
                    FROM orders)
         SELECT o_custkey,
                ROW_NUMBER() OVER w AS version,
                o_orderkey, state, valid_from_sec,
                COALESCE(LEAD(valid_from_sec, 1) OVER w,
                         4102444800) AS valid_to_sec,
                CAST(COALESCE(LEAD(valid_from_sec, 1) OVER w,
                              4102444800) = 4102444800 AS INT)
                  AS is_current
         FROM o
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY valid_from_sec, o_orderkey)"""),
    // q144: per-user interval union (gaps-and-islands coverage)
    QuerySpec("q144_interval_coverage", Relational.qIntervalCoverage _, Untimed,
      // q144: half-open [s, s+300) intervals; touching intervals merge
      // (island break only when s strictly exceeds the running max end)
      """WITH iv AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS s,
                            epoch_ns(ts) // 1000000000 + 300 AS e
                     FROM events),
         m AS (SELECT user_id, s, e,
                      MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS maxe
               FROM iv),
         f AS (SELECT user_id, s, e,
                      CASE WHEN maxe IS NULL OR s > maxe THEN 1
                           ELSE 0 END AS new_island
               FROM m),
         isl AS (SELECT user_id, s, e,
                        SUM(new_island) OVER (PARTITION BY user_id
                                              ORDER BY s, e
                                              ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND CURRENT ROW)
                          AS island
                 FROM f),
         g AS (SELECT user_id, island, MIN(s) AS i_start, MAX(e) AS i_end
               FROM isl GROUP BY user_id, island)
         SELECT user_id, COUNT(*) AS n_islands,
                CAST(SUM(i_end - i_start) AS BIGINT) AS covered_sec
         FROM g GROUP BY user_id"""),
    // q145: referential-integrity audit across the 7 FK edges
    QuerySpec("q145_fk_orphans", Relational.qFkOrphans _, Untimed,
      // q145: one left-join + aggregate per FK edge, UNION ALL'd
      """WITH e AS (
           SELECT 'lineitem->orders' AS relation, COUNT(*) AS n_rows,
                  SUM(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END) AS orph
           FROM lineitem c LEFT JOIN orders p ON c.l_orderkey = p.o_orderkey
           UNION ALL
           SELECT 'lineitem->part', COUNT(*),
                  SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
           FROM lineitem c LEFT JOIN part p ON c.l_partkey = p.p_partkey
           UNION ALL
           SELECT 'lineitem->supplier', COUNT(*),
                  SUM(CASE WHEN p.s_suppkey IS NULL THEN 1 ELSE 0 END)
           FROM lineitem c LEFT JOIN supplier p ON c.l_suppkey = p.s_suppkey
           UNION ALL
           SELECT 'orders->customer', COUNT(*),
                  SUM(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END)
           FROM orders c LEFT JOIN customer p ON c.o_custkey = p.c_custkey
           UNION ALL
           SELECT 'customer->nation', COUNT(*),
                  SUM(CASE WHEN p.n_nationkey IS NULL THEN 1 ELSE 0 END)
           FROM customer c LEFT JOIN nation p ON c.c_nationkey = p.n_nationkey
           UNION ALL
           SELECT 'supplier->nation', COUNT(*),
                  SUM(CASE WHEN p.n_nationkey IS NULL THEN 1 ELSE 0 END)
           FROM supplier c LEFT JOIN nation p ON c.s_nationkey = p.n_nationkey
           UNION ALL
           SELECT 'nation->region', COUNT(*),
                  SUM(CASE WHEN p.r_regionkey IS NULL THEN 1 ELSE 0 END)
           FROM nation c LEFT JOIN region p ON c.n_regionkey = p.r_regionkey)
         SELECT relation, CAST(n_rows AS BIGINT) AS n_rows,
                CAST(orph AS BIGINT) AS n_orphans,
                ROUND(orph::DOUBLE / n_rows, 6) AS orphan_share
         FROM e"""),
    // q146: Benford first-digit distribution screen on order totals
    QuerySpec("q146_benford", Relational.qBenford _, Untimed,
      // q146: digit via floor/log10/power arithmetic (identical double
      // semantics on both engines; no string formatting)
      """WITH m AS (SELECT o_totalprice
                             / POWER(10, FLOOR(LOG10(o_totalprice))) AS m0
                    FROM orders WHERE o_totalprice > 0),
         d AS (SELECT CAST(FLOOR(CASE WHEN m0 >= 10 THEN m0 / 10
                                      WHEN m0 < 1 THEN m0 * 10
                                      ELSE m0 END) AS INT) AS digit
               FROM m),
         c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit)
         SELECT digit, n,
                ROUND(n::DOUBLE / SUM(n) OVER (), 6) AS share,
                ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_p,
                ROUND(ROUND(n::DOUBLE / SUM(n) OVER (), 6)
                      - ROUND(LOG10(1.0 + 1.0 / digit), 6), 6) AS excess
         FROM c"""),
    // q147: consecutive-month order streaks per customer
    QuerySpec("q147_order_streaks", Relational.qOrderStreaks _, Untimed,
      // q147: islands by month_index - row_number; integer throughout
      """WITH m AS (SELECT DISTINCT o_custkey AS k,
                           CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate)
                                AS BIGINT) AS midx
                    FROM orders),
         i AS (SELECT k, midx,
                      midx - ROW_NUMBER() OVER (PARTITION BY k ORDER BY midx)
                        AS island
               FROM m),
         r AS (SELECT k, island, COUNT(*) AS run_len
               FROM i GROUP BY k, island)
         SELECT k AS o_custkey,
                CAST(SUM(run_len) AS BIGINT) AS n_active_months,
                COUNT(*) AS n_streaks,
                CAST(MAX(run_len) AS BIGINT) AS longest_streak
         FROM r GROUP BY k"""),
    // q148: exact p50/p90/p99 by iterative threshold refinement — the
    // exact-quantile plan that survives 100 TB (no global sort)
    QuerySpec("q148_exact_quantiles", Pipeline.qExactQuantiles _, Timed,
      // q148: rank k = ceil(p*n) computed in DOUBLE on both engines
      // (identical IEEE product + ceil), value selected by ROW_NUMBER —
      // an actual data element, so the hash is float-stable
      """WITH t AS (SELECT l_extendedprice AS v FROM lineitem),
         c AS (SELECT COUNT(*) AS n FROM t),
         r AS (SELECT p, GREATEST(1, CAST(CEIL(p * n) AS BIGINT)) AS k
               FROM (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                    CAST(0.99 AS DOUBLE)]) AS p), c),
         o AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM t)
         SELECT r.p, r.k, o.v AS value FROM r JOIN o ON o.rn = r.k"""),
    // q149: view→purchase conversion-latency percentiles (funnel ∘
    // exact selection)
    QuerySpec("q149_conversion_latency", Pipeline.qConversionLatency _, Timed,
      // q149: first view per user, earliest purchase at-or-after it,
      // latency in µs; percentiles by the same exact-rank construction
      """WITH fv AS (SELECT user_id, MIN(ts) AS fv FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         conv AS (SELECT e.user_id,
                         MIN(epoch_us(e.ts) - epoch_us(f.fv)) AS lat
                  FROM events e JOIN fv f ON e.user_id = f.user_id
                  WHERE e.event_type = 'purchase' AND e.ts >= f.fv
                  GROUP BY e.user_id),
         c AS (SELECT COUNT(*) AS n FROM conv),
         r AS (SELECT p, GREATEST(1, CAST(CEIL(p * n) AS BIGINT)) AS k
               FROM (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                    CAST(0.99 AS DOUBLE)]) AS p), c),
         o AS (SELECT lat, ROW_NUMBER() OVER (ORDER BY lat) AS rn FROM conv)
         SELECT r.p, r.k, CAST(o.lat AS BIGINT) AS latency_us
         FROM r JOIN o ON o.rn = r.k"""),
    // q150: incremental IVF index maintenance — append-without-rebuild
    // audit + centroid-drift staleness signal (rows-only: seeded
    // KMeans codebook; IncrementalIvfSpec pins append ≡ rebuild)
    QuerySpec("q150_ivf_append", Similarity.qIvfAppend _, Timed),
    // q151: systematic PPS (token-weighted) sampling per source —
    // integer pin-crossing test, bit-deterministic selection
    QuerySpec("q151_pps_sample", (s, d) => Pipeline.qPpsSample(s, d), Timed,
      // q151: systematic PPS sampling — k=16 equally-spaced pins on each
      // source's token-cumsum line; the pin-crossing test is pure integer
      // division, bit-identical in both engines
      """WITH d AS (
           SELECT source, doc_id,
                  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS w
           FROM documents),
         c AS (
           SELECT source, doc_id, w,
                  SUM(w) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                  SUM(w) OVER (PARTITION BY source) AS tw
           FROM d),
         s AS (SELECT source, w, tw,
                      ((cw * 16) // tw > ((cw - w) * 16) // tw) AS sel
               FROM c)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
                CAST(MAX(tw) AS BIGINT) AS tokens_total,
                CAST(SUM(CASE WHEN sel THEN w ELSE 0 END) AS BIGINT) AS tokens_selected
         FROM s GROUP BY source"""),
    // q152: per-nation OLS revenue trend from exact sufficient sums
    QuerySpec("q152_trend_ols", Relational.qTrendOls _, Timed,
      // q152: groupwise OLS from exact sufficient sums (integer x = days
      // since 1995-01-01, DECIMAL(18,2) y); only the final scalar formula
      // is double (IEEE-exact +,*,/ — no libm)
      """WITH t AS (
           SELECT n_name AS g,
                  CAST(date_diff('day', DATE '1995-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS y
           FROM orders JOIN customer ON o_custkey = c_custkey
                       JOIN nation ON c_nationkey = n_nationkey),
         a AS (SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                      SUM(x * y) AS sxy, SUM(x * x) AS sxx
               FROM t GROUP BY g)
         SELECT g, n AS n_rows,
                ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                  AS slope_per_day,
                ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 2) AS avg_y
         FROM a"""),
    // q153: collocation mining ranked by exact integer lift (≡ PMI order)
    QuerySpec("q153_collocation_lift", (s, d) => TextAnalysis.qCollocationLift(s, d), Timed,
      // q153: collocations ranked by exact integer 1e6-scaled lift
      // (order-equivalent to PMI); bigrams via the q126 concat idiom
      // (tokens contain no whitespace, so the split is unambiguous)
      """WITH t AS (
           SELECT string_split_regex(lower(text), '\s+') AS w FROM documents),
         u AS (SELECT t2 AS tok, COUNT(*) AS c1
               FROM (SELECT unnest(w) AS t2 FROM t) GROUP BY t2),
         n AS (SELECT SUM(c1) AS n FROM u),
         bg AS (
           SELECT unnest(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i + 1])) AS bg
           FROM t WHERE len(w) >= 2),
         b2 AS (
           SELECT string_split(bg, ' ')[1] AS w1,
                  string_split(bg, ' ')[2] AS w2, COUNT(*) AS c2
           FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         SELECT b.w1, b.w2, b.c2,
                CAST((b.c2 * n.n * 1000000) // (ua.c1 * ub.c1) AS BIGINT)
                  AS lift_ppm
         FROM b2 b
           JOIN u ua ON b.w1 = ua.tok
           JOIN u ub ON b.w2 = ub.tok
           CROSS JOIN n
         ORDER BY lift_ppm DESC, w1, w2 LIMIT 20"""),
    // q154: Z-order (Morton) bucket map + per-bucket 2-D bounding boxes
    QuerySpec("q154_zorder_layout", Bucketing.qZorderStats _, Timed,
      // q154: Morton/Z-order bucket map — 16-bit grid cells by exact
      // integer min/max scaling, then the identical magic-mask spread
      // chain in SQL (masks 0x00FF00FF / 0x0F0F0F0F / 0x33333333 /
      // 0x55555555), pure integer bit arithmetic
      """WITH mm AS (
           SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
                  MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
           FROM lineitem),
         g AS (
           SELECT l_partkey, l_suppkey,
                  CASE WHEN pmax = pmin THEN 0
                       ELSE ((l_partkey - pmin) * 65535) // (pmax - pmin)
                  END AS a,
                  CASE WHEN smax = smin THEN 0
                       ELSE ((l_suppkey - smin) * 65535) // (smax - smin)
                  END AS b
           FROM lineitem CROSS JOIN mm),
         s1 AS (SELECT l_partkey, l_suppkey,
                       ((a | (a << 8)) & 16711935) AS a,
                       ((b | (b << 8)) & 16711935) AS b FROM g),
         s2 AS (SELECT l_partkey, l_suppkey,
                       ((a | (a << 4)) & 252645135) AS a,
                       ((b | (b << 4)) & 252645135) AS b FROM s1),
         s3 AS (SELECT l_partkey, l_suppkey,
                       ((a | (a << 2)) & 858993459) AS a,
                       ((b | (b << 2)) & 858993459) AS b FROM s2),
         s4 AS (SELECT l_partkey, l_suppkey,
                       ((a | (a << 1)) & 1431655765) AS a,
                       ((b | (b << 1)) & 1431655765) AS b FROM s3),
         z AS (SELECT l_partkey, l_suppkey,
                      (a | (b << 1)) >> 26 AS zb FROM s4)
         SELECT CAST(zb AS INT) AS zbucket, COUNT(*) AS n,
                MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
                MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
         FROM z GROUP BY 1"""),
    // q155: session entry/exit path matrix with bounce counts
    QuerySpec("q155_session_paths", (s, d) => Relational.qSessionPaths(s, d), Timed,
      // q155: session entry/exit matrix — q74's gaps-and-islands core with
      // a (ts, event_id) total order, first/last event type per session
      """WITH t AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts >= LAG(ts) OVER w + INTERVAL 10 MINUTE
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts, event_id, event_type,
                      SUM(new_sess) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
               FROM t),
         g AS (SELECT DISTINCT user_id, sess,
                      FIRST_VALUE(event_type) OVER w2 AS entry_type,
                      LAST_VALUE(event_type) OVER w2 AS exit_type,
                      COUNT(*) OVER w2 AS n_ev
               FROM s
               WINDOW w2 AS (PARTITION BY user_id, sess ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         SELECT entry_type, exit_type, COUNT(*) AS n_sessions,
                CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_bounces,
                ROUND(CAST(SUM(n_ev) AS DOUBLE) / COUNT(*), 4) AS avg_events
         FROM g GROUP BY entry_type, exit_type"""),
    // q156: telemetry throttle-dedup (same user+type within 60 s)
    QuerySpec("q156_event_throttle", (s, d) => Relational.qEventThrottle(s, d), Timed,
      // q156: throttle-dedup — same (user, type) within 60 s of the
      // previous raw firing; µs-exact comparison
      """WITH l AS (
           SELECT event_type, ts,
                  LAG(ts) OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS prev
           FROM events)
         SELECT event_type, COUNT(*) AS n_total,
                CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND epoch_us(ts) - epoch_us(prev) < 60000000
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                ROUND(CAST(SUM(CASE WHEN prev IS NOT NULL
                            AND epoch_us(ts) - epoch_us(prev) < 60000000
                            THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
                  AS drop_share
         FROM l GROUP BY event_type"""),
    // q157: lag-1 autocorrelation of daily counts per event type
    QuerySpec("q157_daily_autocorr", Relational.qDailyAutocorr _, Timed,
      // q157: lag-1 autocorrelation of the daily count series per type —
      // integer sufficient sums, scalar Pearson in IEEE-exact +,*,/,sqrt;
      // zero-variance series yields NULL on both engines
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
           FROM events GROUP BY event_type, day),
         p AS (SELECT event_type, c,
                      LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS cp
               FROM d),
         a AS (SELECT event_type, COUNT(*) AS m,
                      CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(cp) AS BIGINT) AS sy,
                      CAST(SUM(c * cp) AS BIGINT) AS sxy,
                      CAST(SUM(c * c) AS BIGINT) AS sxx,
                      CAST(SUM(cp * cp) AS BIGINT) AS syy
               FROM p WHERE cp IS NOT NULL GROUP BY event_type)
         SELECT event_type, m AS n_pairs,
                ROUND(CASE WHEN (m * sxx - sx * sx) > 0
                            AND (m * syy - sy * sy) > 0
                      THEN CAST(m * sxy - sx * sy AS DOUBLE)
                           / SQRT(CAST(m * sxx - sx * sx AS DOUBLE)
                                  * CAST(m * syy - sy * sy AS DOUBLE))
                      END, 6) AS lag1_autocorr
         FROM a"""),
    // q158: q156's throttle as streaming state — oracle IS q156's SQL
    // (stream/batch parity, the q133 contract for the dedup family)
    QuerySpec("q158_streaming_throttle", EventTime.qStreamingThrottle _, Untimed,
      // q158: the streaming throttle's oracle IS the batch q156 SQL —
      // the incremental per-(user,type) state must reach the identical
      // per-type report (stream/batch parity, bit for bit)
      """WITH l AS (
           SELECT event_type, ts,
                  LAG(ts) OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS prev
           FROM events)
         SELECT event_type, COUNT(*) AS n_total,
                CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND epoch_us(ts) - epoch_us(prev) < 60000000
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                ROUND(CAST(SUM(CASE WHEN prev IS NOT NULL
                            AND epoch_us(ts) - epoch_us(prev) < 60000000
                            THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
                  AS drop_share
         FROM l GROUP BY event_type"""),
    // q159: lang × source independence audit (standardized residuals)
    QuerySpec("q159_contingency_residuals", Relational.qContingencyResiduals _, Timed,
      // q159: per-cell standardized Pearson residuals vs independence —
      // margins and N exact integers; e and the residual are per-row
      // IEEE scalar math (no order-dependent double summation)
      """WITH cells AS (
           SELECT lang, source, COUNT(*) AS n FROM documents
           GROUP BY lang, source),
         r AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY lang),
         c AS (SELECT source, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY source),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM cells)
         SELECT cells.lang, cells.source, cells.n,
                ROUND(CAST(r.r * c.c AS DOUBLE) / tot, 4) AS expected,
                ROUND((CAST(cells.n AS DOUBLE)
                       - CAST(r.r * c.c AS DOUBLE) / tot)
                      / SQRT(CAST(r.r * c.c AS DOUBLE) / tot), 4) AS std_residual
         FROM cells JOIN r USING (lang) JOIN c USING (source) CROSS JOIN t"""),
    // q160: per-source Gini concentration of token mass
    QuerySpec("q160_gini_concentration", (s, d) => Pipeline.qGiniConcentration(s, d), Timed,
      // q160: Gini by the order-statistic identity — integer rank/weight
      // sums, closed-form scalar double at the end
      """WITH d AS (
           SELECT source, doc_id,
                  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS w
           FROM documents),
         rk AS (SELECT source, w,
                       CAST(ROW_NUMBER() OVER (PARTITION BY source
                         ORDER BY w, doc_id) AS BIGINT) AS i
                FROM d),
         a AS (SELECT source, COUNT(*) AS n, CAST(SUM(w) AS BIGINT) AS sw,
                      CAST(SUM(i * w) AS BIGINT) AS siw
               FROM rk GROUP BY source)
         SELECT source, n AS n_docs, sw AS sum_tokens,
                ROUND((2.0 * CAST(siw AS DOUBLE)) / CAST(n * sw AS DOUBLE)
                      - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
         FROM a"""),
    // q161: event-type co-occurrence with exact integer lift
    QuerySpec("q161_type_cooccurrence", Relational.qTypeCooccurrence _, Timed,
      // q161: unordered type pairs co-performed by the same user, with
      // exact integer 1e6-scaled lift vs independence
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         nu AS (SELECT COUNT(DISTINCT user_id) AS nu FROM ut),
         m AS (SELECT event_type, COUNT(*) AS cnt FROM ut GROUP BY event_type),
         p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                      COUNT(*) AS n_both
               FROM ut a JOIN ut b ON a.user_id = b.user_id
                 AND a.event_type < b.event_type
               GROUP BY 1, 2)
         SELECT p.type_a, p.type_b, p.n_both,
                CAST((p.n_both * nu.nu * 1000000) // (ma.cnt * mb.cnt) AS BIGINT)
                  AS lift_ppm
         FROM p JOIN m ma ON p.type_a = ma.event_type
                JOIN m mb ON p.type_b = mb.event_type
                CROSS JOIN nu"""),
    // q162: order-total vs lineitem-sum reconciliation in exact cents
    QuerySpec("q162_totalprice_audit", Relational.qTotalpriceAudit _, Timed,
      // q162: exact-cents reconciliation of o_totalprice vs lineitem sums
      """WITH li AS (
           SELECT l_orderkey,
                  SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS li_cents
           FROM lineitem GROUP BY l_orderkey),
         d AS (
           SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    - COALESCE(li_cents, 0) AS diff_cents
           FROM orders LEFT JOIN li ON o_orderkey = l_orderkey)
         SELECT o_orderpriority, COUNT(*) AS n_orders,
                CAST(SUM(CASE WHEN diff_cents = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_exact,
                CAST(SUM(CASE WHEN diff_cents <> 0 AND ABS(diff_cents) <= 100
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_within_dollar,
                CAST(SUM(CASE WHEN ABS(diff_cents) > 100 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_over_dollar,
                CAST(MAX(ABS(diff_cents)) AS BIGINT) AS max_abs_cents
         FROM d GROUP BY o_orderpriority"""),
    // q163: co-purchase PageRank — integer-picorank power iteration;
    // rows-only (weighted recursive iteration is not practical ANSI
    // SQL); GraphSpec pins bit-equality against a sequential reference
    QuerySpec("q163_copurchase_rank", (s, d) => Graph.qCopurchaseRank(s, d), Timed,
      // q163: 15 integer-picorank power-iteration rounds unrolled as
      // chained materialized CTEs — all-integer, so bit-exact cross-engine
      pagerankOracle),
    // q164: median/MAD robust outlier fence per event type (Hampel)
    QuerySpec("q164_mad_outliers", Relational.qMadOutliers _, Timed,
      // q164: median/MAD fence — quantile_cont is DuckDB's exact
      // interpolated percentile, the same ANSI definition Spark's
      // percentile() uses (the q104 parity)
      """WITH ev AS (SELECT event_type, value FROM events),
         m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
               FROM ev GROUP BY event_type),
         d AS (SELECT ev.event_type, ev.value, m.med,
                      ABS(ev.value - m.med) AS adev
               FROM ev JOIN m USING (event_type)),
         md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
                FROM d GROUP BY event_type)
         SELECT d.event_type, COUNT(*) AS n,
                ROUND(MAX(d.med), 4) AS median,
                ROUND(MAX(md.mad), 4) AS mad,
                CAST(SUM(CASE WHEN d.adev > 5.0 * md.mad THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers,
                ROUND(CAST(SUM(CASE WHEN d.adev > 5.0 * md.mad THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*), 4) AS outlier_share
         FROM d JOIN md USING (event_type)
         GROUP BY d.event_type"""),
    // q165: top event-type trigram sequences (3-step behavior paths)
    QuerySpec("q165_event_trigrams", (s, d) => Relational.qEventTrigrams(s, d), Timed,
      // q165: per-user time-ordered 3-step paths, deterministic top-25
      """WITH s AS (
           SELECT event_type AS e1,
                  LEAD(event_type, 1) OVER w AS e2,
                  LEAD(event_type, 2) OVER w AS e3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT e1, e2, e3, COUNT(*) AS n
         FROM s WHERE e3 IS NOT NULL
         GROUP BY e1, e2, e3
         ORDER BY n DESC, e1, e2, e3 LIMIT 25"""),
    // q166: triangle census + global clustering of the co-purchase
    // graph (degree-ordered orientation; id-ordered oracle)
    QuerySpec("q166_triangle_census", Graph.qTriangleCensus _, Timed,
      // q166: id-ordered triple-join triangle count over the same
      // co-purchase edge set (orientation is a plan choice, the census
      // is invariant); wedges from undirected degrees
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem),
         e AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
         deg AS (SELECT x, COUNT(*) AS d
                 FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
                 GROUP BY x),
         t AS (SELECT COUNT(*) AS tri
               FROM e e1
               JOIN e e2 ON e2.u = e1.v
               JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         s AS (SELECT COUNT(*) AS n_nodes,
                      CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges
               FROM deg),
         m AS (SELECT COUNT(*) AS n_edges FROM e)
         SELECT s.n_nodes, m.n_edges, t.tri AS n_triangles,
                s.wedges AS n_wedges,
                ROUND(3.0 * t.tri / s.wedges, 6) AS clustering
         FROM s, m, t"""),
    // q167: q74's sessionization as streaming state — oracle IS q74's
    // SQL (third bit-exact stream/batch parity beside q133/q158)
    QuerySpec("q167_streaming_sessionize", EventTime.qStreamingSessionize _, Untimed,
      // q167: streaming sessionization's oracle IS batch q74's SQL
      """WITH t AS (
           SELECT user_id, ts, CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess FROM t),
         g AS (SELECT user_id, sess, COUNT(*) AS n_events FROM s GROUP BY user_id, sess)
         SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
                CAST(SUM(n_events) AS BIGINT) AS n_events
         FROM g GROUP BY user_id"""),
    // q168: co-purchase degree distribution in power-of-2 bins
    QuerySpec("q168_degree_histogram", Graph.qDegreeHistogram _, Timed,
      // q168: degree histogram — highest-set-bit bin via length(bin(d)),
      // pure string length of the binary literal (no log2)
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem),
         e AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
         deg AS (SELECT x, COUNT(*) AS d
                 FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
                 GROUP BY x),
         b AS (SELECT d, LENGTH(BIN(d)) AS bits FROM deg)
         SELECT CAST(1 << (bits - 1) AS BIGINT) AS bucket_lo,
                COUNT(*) AS n_nodes,
                MIN(d) AS min_degree, MAX(d) AS max_degree
         FROM b GROUP BY bits"""),
    // q169: degree assortativity (Newman) over the co-purchase edges
    QuerySpec("q169_degree_assortativity", Graph.qDegreeAssortativity _, Timed,
      // q169: endpoint-degree Pearson over the bidirectional edge list —
      // DECIMAL(38,0) sufficient sums (the m·Σ products overflow BIGINT
      // past ~1e6 edges), scalar IEEE formula at the end
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem),
         e AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
         deg AS (SELECT x, COUNT(*) AS d
                 FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
                 GROUP BY x),
         bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         xy AS (SELECT du.d AS dx, dv.d AS dy
                FROM bi JOIN deg du ON bi.u = du.x JOIN deg dv ON bi.v = dv.x),
         a AS (SELECT COUNT(*) AS m,
                      SUM(CAST(dx AS DECIMAL(38,0))) AS sx,
                      SUM(CAST(dy AS DECIMAL(38,0))) AS sy,
                      SUM(CAST(dx * dy AS DECIMAL(38,0))) AS sxy,
                      SUM(CAST(dx * dx AS DECIMAL(38,0))) AS sxx,
                      SUM(CAST(dy * dy AS DECIMAL(38,0))) AS syy
               FROM xy)
         SELECT m // 2 AS n_edges,
                ROUND(CASE WHEN (CAST(m AS DECIMAL(38,0)) * sxx - sx * sx) > 0
                            AND (CAST(m AS DECIMAL(38,0)) * syy - sy * sy) > 0
                      THEN CAST(CAST(m AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
                           / SQRT(CAST(CAST(m AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
                                  * CAST(CAST(m AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE))
                      END, 6) AS assortativity
         FROM a"""),
    // q170: Count-Min frequency ceilings vs exact top-20 — rows-only
    // (Murmur hashing not SQL-expressible); CountMinSpec pins the
    // ceiling guarantee, ε band, and partition-invariant linear merge
    QuerySpec("q170_cms_frequency", (s, d) => TextAnalysis.qCmsFrequency(s, d), Untimed),
    // q171: BFS hop distribution from the max-degree hub (frontier-
    // expansion joins; recursive-CTE oracle)
    QuerySpec("q171_bfs_hops", (s, d) => Graph.qBfsHops(s, d), Timed,
      // q171: recursive-CTE BFS — UNION dedups (node, hop) pairs, the
      // outer MIN picks each node's first hop; source = max-degree, id
      // tie-break; unreached reported as hop -1 (possibly 0 nodes)
      """WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem),
         e AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
         bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         deg AS (SELECT u AS x, COUNT(*) AS dg FROM bi GROUP BY u),
         src AS (SELECT x FROM deg ORDER BY dg DESC, x LIMIT 1),
         walk AS (
           SELECT x AS node, 0 AS hop FROM src
           UNION
           SELECT bi.v, walk.hop + 1 FROM walk JOIN bi ON bi.u = walk.node
           WHERE walk.hop < 8),
         m AS (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node)
         SELECT hop, COUNT(*) AS n_nodes FROM m GROUP BY hop
         UNION ALL
         SELECT -1 AS hop,
                (SELECT COUNT(*) FROM deg) - (SELECT COUNT(*) FROM m) AS n_nodes"""),
    // q172: peak trailing-6h event load per type (RANGE-frame window)
    QuerySpec("q172_peak_window", (s, d) => Relational.qPeakWindowLoad(s, d), Timed,
      // q172: RANGE frame over µs — (t-6h, t] trailing count (peers at
      // equal us included identically by both engines), peak + earliest
      // achieving timestamp
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
         w AS (SELECT event_type, us,
                      COUNT(*) OVER (PARTITION BY event_type ORDER BY us
                        RANGE BETWEEN 21599999999 PRECEDING AND CURRENT ROW)
                        AS w6
               FROM e),
         p AS (SELECT event_type, MAX(w6) AS pk FROM w GROUP BY event_type)
         SELECT w.event_type, CAST(MAX(w.w6) AS BIGINT) AS peak_events,
                MIN(w.us) AS peak_at_us
         FROM w JOIN p USING (event_type)
         WHERE w.w6 = p.pk
         GROUP BY w.event_type"""),
    // q173: item-item CF — top pairs by exact integer squared-cosine
    // of capped co-purchase neighbor vectors
    QuerySpec("q173_item_cf", (s, d) => Graph.qItemCf(s, d), Timed,
      // q173: identical vector truncation (ROW_NUMBER by weight desc, id)
      // then the common-neighbor wedge join; ranking by exact integer
      // squared cosine — no float anywhere
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem),
         pr AS (SELECT a.p AS u, b.p AS v, COUNT(*) AS w
                FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
                GROUP BY 1, 2),
         bi AS (SELECT u, v, w FROM pr UNION ALL SELECT v, u, w FROM pr),
         vec AS (SELECT u AS item, v AS k, w FROM (
                   SELECT u, v, w, ROW_NUMBER() OVER (PARTITION BY u
                     ORDER BY w DESC, v) AS rk FROM bi)
                 WHERE rk <= 32),
         nrm AS (SELECT item, CAST(SUM(w * w) AS BIGINT) AS n2
                 FROM vec GROUP BY item),
         inv AS (SELECT item, k, w FROM (
                   SELECT item, k, w, ROW_NUMBER() OVER (PARTITION BY k
                     ORDER BY w DESC, item) AS irk FROM vec)
                 WHERE irk <= 64),
         wd AS (SELECT x.item AS u, y.item AS v,
                       CAST(SUM(x.w * y.w) AS BIGINT) AS dot,
                       COUNT(*) AS n_common
                FROM inv x JOIN inv y ON x.k = y.k AND x.item < y.item
                GROUP BY 1, 2 HAVING COUNT(*) >= 3)
         SELECT wd.u, wd.v, wd.n_common, wd.dot,
                CAST((wd.dot * wd.dot * 1000000) // (nu.n2 * nv.n2)
                  AS BIGINT) AS cos2_ppm
         FROM wd JOIN nrm nu ON wd.u = nu.item
                 JOIN nrm nv ON wd.v = nv.item
         ORDER BY cos2_ppm DESC, u, v LIMIT 20"""),
    // q174: weekday seasonality index per event type (1e4-scaled)
    QuerySpec("q174_weekday_seasonality", Relational.qWeekdaySeasonality _, Timed,
      // q174: Spark's dayofweek is 1=Sunday..7; DuckDB's is 0=Sunday..6,
      // hence the +1. Index = exact integer (s·ndt·1e4) div (nd·st)
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
           FROM events GROUP BY event_type, day),
         bd AS (SELECT event_type, dayofweek(day) + 1 AS dow,
                       CAST(SUM(c) AS BIGINT) AS s, COUNT(*) AS nd
                FROM daily GROUP BY 1, 2),
         t AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS st,
                      COUNT(*) AS ndt
               FROM daily GROUP BY event_type)
         SELECT bd.event_type, CAST(bd.dow AS INT) AS dow,
                bd.s AS n_events, bd.nd AS n_days,
                CAST((bd.s * t.ndt * 10000) // (bd.nd * t.st) AS BIGINT)
                  AS seasonality_idx
         FROM bd JOIN t USING (event_type)"""),
    // q175: Kaplan-Meier risk table (view->purchase with censoring)
    QuerySpec("q175_hazard_table", Relational.qHazardTable _, Timed,
      // q175: KM ingredients — viewers with a qualifying purchase are
      // events at that duration, the rest censor at last observed
      // activity; risk set = reverse cumsum over hour cells; hazard is
      // exact integer d*1e6 div n_risk
      """WITH fv AS (SELECT user_id, MIN(epoch_us(ts)) AS fv FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         conv AS (SELECT e.user_id,
                         MIN(epoch_us(e.ts) - f.fv) AS dur_us
                  FROM events e JOIN fv f ON e.user_id = f.user_id
                  WHERE e.event_type = 'purchase'
                    AND epoch_us(e.ts) >= f.fv
                  GROUP BY e.user_id),
         ls AS (SELECT user_id, MAX(epoch_us(ts)) AS last_us FROM events
                GROUP BY user_id),
         subj AS (SELECT COALESCE(c.dur_us, ls.last_us - fv.fv)
                           // 3600000000 AS dur_h,
                         c.dur_us IS NOT NULL AS is_event
                  FROM fv LEFT JOIN conv c USING (user_id)
                          JOIN ls USING (user_id)),
         cells AS (SELECT dur_h, COUNT(*) AS n_here,
                          CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_events,
                          CAST(SUM(CASE WHEN is_event THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_censored
                   FROM subj GROUP BY dur_h),
         r AS (SELECT dur_h, n_events, n_censored,
                      CAST(SUM(n_here) OVER (ORDER BY dur_h
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS BIGINT) AS n_risk
               FROM cells)
         SELECT dur_h, n_risk, n_events, n_censored,
                CAST((n_events * 1000000) // n_risk AS BIGINT) AS hazard_ppm
         FROM r WHERE n_events > 0"""),
    // q176: Mann-Kendall non-parametric trend test on daily counts
    QuerySpec("q176_mann_kendall", Relational.qMannKendall _, Timed,
      // q176: S and 18·Var as exact integers (tie-corrected), z with
      // continuity correction — only the final ÷/√ are double
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
           FROM events GROUP BY event_type, day),
         s AS (SELECT a.event_type,
                      CAST(SUM(SIGN(b.c - a.c)) AS BIGINT) AS s_stat
               FROM daily a JOIN daily b
                 ON a.event_type = b.event_type AND a.day < b.day
               GROUP BY a.event_type),
         lv AS (SELECT event_type, c, COUNT(*) AS t FROM daily
                GROUP BY event_type, c),
         tie AS (SELECT event_type, COUNT(*) AS n_levels,
                        CAST(SUM(t) AS BIGINT) AS n_days,
                        CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                          AS tie_term
                 FROM lv GROUP BY event_type)
         SELECT s.event_type, tie.n_days, s.s_stat,
                CAST(tie.n_days * (tie.n_days - 1) * (2 * tie.n_days + 5)
                     - tie.tie_term AS BIGINT) AS var_x18,
                ROUND((CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                            WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                            ELSE 0.0 END)
                      / SQRT(CAST(tie.n_days * (tie.n_days - 1)
                               * (2 * tie.n_days + 5) - tie.tie_term
                               AS DOUBLE) / 18.0), 4) AS z
         FROM s JOIN tie USING (event_type)"""),
    // q177: CUSUM changepoint (level-shift day) per event type
    QuerySpec("q177_cusum_changepoint", Relational.qCusumChangepoint _, Timed,
      // q177: integer CUSUM |n·cum_k − k·S| argmax (earliest-day
      // tie-break), segment means from exact sums
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
           FROM events GROUP BY event_type, day),
         sc AS (SELECT event_type, day,
                       ROW_NUMBER() OVER w AS k,
                       CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                       COUNT(*) OVER (PARTITION BY event_type) AS n,
                       CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS s
                FROM daily
                WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         dev AS (SELECT *, ABS(n * cum - k * s) AS dev FROM sc WHERE k < n),
         pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY dev DESC, day) AS rn FROM dev)
         SELECT event_type, n AS n_days, CAST(day AS VARCHAR) AS cp_day, k,
                CAST(dev AS BIGINT) AS abs_dev,
                ROUND(CAST(cum AS DOUBLE) / k, 4) AS mean_before,
                ROUND(CAST(s - cum AS DOUBLE) / (n - k), 4) AS mean_after
         FROM pick WHERE rn = 1"""),
    // q178: unpivot/melt of the exact-decimal pricing rollup
    QuerySpec("q178_unpivot", Stats.qUnpivot _, Timed,
      // q178: portable UNION-ALL melt of the exact-decimal rollup; value
      // = CAST(decimal AS DOUBLE) (correctly rounded, engine-identical)
      """WITH w AS (
           SELECT l_returnflag, l_linestatus,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                    AS DECIMAL(38,6)) AS sum_qty,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,6)) AS sum_price,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2))
                       - CAST(l_discount AS DECIMAL(4,2))))
                    AS DECIMAL(38,6)) AS sum_disc_price,
                  CAST(COUNT(*) AS DECIMAL(38,6)) AS n_rows
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, 'sum_qty' AS metric,
                CAST(sum_qty AS DOUBLE) AS value FROM w
         UNION ALL
         SELECT l_returnflag, l_linestatus, 'sum_price',
                CAST(sum_price AS DOUBLE) FROM w
         UNION ALL
         SELECT l_returnflag, l_linestatus, 'sum_disc_price',
                CAST(sum_disc_price AS DOUBLE) FROM w
         UNION ALL
         SELECT l_returnflag, l_linestatus, 'n_rows',
                CAST(n_rows AS DOUBLE) FROM w"""),
    // q179: Spearman rank correlation (tie-exact integer double-ranks)
    QuerySpec("q179_spearman", Stats.qSpearman _, Timed,
      // q179: tie-exact integer doubled average ranks (2r+c-1), HUGEINT
      // sufficient sums (engine-exact), one IEEE sqrt/div at the end
      """WITH r AS (
           SELECT l_returnflag AS flag,
                  2 * RANK() OVER (PARTITION BY l_returnflag
                    ORDER BY l_quantity)
                    + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
                    - 1 AS rx,
                  2 * RANK() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice)
                    + COUNT(*) OVER (PARTITION BY l_returnflag,
                      l_extendedprice) - 1 AS ry
           FROM lineitem),
         s AS (SELECT flag, COUNT(*) AS n,
                      SUM(CAST(rx AS HUGEINT)) AS sx,
                      SUM(CAST(ry AS HUGEINT)) AS sy,
                      SUM(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy,
                      SUM(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
                      SUM(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy
               FROM r GROUP BY flag)
         SELECT flag AS l_returnflag, n,
                ROUND(CASE WHEN (n * sxx - sx * sx) > 0
                            AND (n * syy - sy * sy) > 0
                      THEN CAST(n * sxy - sx * sy AS DOUBLE)
                           / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(n * syy - sy * sy AS DOUBLE))
                      END, 6) AS spearman_rho
         FROM s"""),
    // q180: calendar gap-fill with LOCF over an in-plan day spine
    QuerySpec("q180_locf_gapfill", Stats.qLocfGapfill _, Timed,
      // q180: in-SQL day spine + IGNORE NULLS LOCF; all values as exact
      // integer cents, checksum = sum(idx * filled_cents) in BIGINT
      """WITH daily AS (
           SELECT n_name, o_orderpriority AS pri,
                  CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS rev_c
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2, 3),
         b AS (SELECT n_name, pri, MIN(day) AS mn, MAX(day) AS mx
               FROM daily GROUP BY 1, 2),
         spine AS (SELECT n_name, pri, mn,
                          CAST(UNNEST(generate_series(mn, mx,
                            INTERVAL 1 DAY)) AS DATE) AS day
                   FROM b),
         f AS (SELECT s.n_name, s.pri,
                      date_diff('day', s.mn, s.day) AS idx, daily.rev_c,
                      last_value(daily.rev_c IGNORE NULLS) OVER (
                        PARTITION BY s.n_name, s.pri ORDER BY s.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS filled
               FROM spine s LEFT JOIN daily
                 ON s.n_name = daily.n_name AND s.pri = daily.pri
                AND s.day = daily.day)
         SELECT n_name, pri, COUNT(*) AS n_days,
                COUNT(rev_c) AS n_obs,
                COUNT(*) - COUNT(rev_c) AS n_filled,
                CAST(SUM(idx * filled) AS BIGINT) AS locf_checksum
         FROM f GROUP BY 1, 2"""),
    // q181: Theil-Sen robust slope (lower-median pairwise slope)
    QuerySpec("q181_theil_sen", Stats.qTheilSen _, Timed,
      // q181: lower-median pairwise slope via ROW_NUMBER over the IEEE
      // slope (identical division both engines), (d1,d2) tie-break
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
           FROM events GROUP BY event_type, day),
         p AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
                      b.c - a.c AS dc,
                      date_diff('day', a.day, b.day) AS dd,
                      CAST(b.c - a.c AS DOUBLE)
                        / CAST(date_diff('day', a.day, b.day) AS DOUBLE)
                        AS slope
               FROM daily a JOIN daily b
                 ON a.event_type = b.event_type AND a.day < b.day),
         o AS (SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS n_pairs,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY slope, d1, d2) AS rn
               FROM p)
         SELECT event_type, n_pairs, dc AS med_dc, dd AS med_dd,
                ROUND(slope, 6) AS theil_sen_slope
         FROM o WHERE rn = (n_pairs + 1) // 2"""),
    // q182: Fano factor of hourly counts (all-integer dispersion)
    QuerySpec("q182_fano_factor", Stats.qFanoFactor _, Timed,
      // q182: all-integer dispersion: (n·Σc² − (Σc)²)·1e4 div ((n−1)·Σc)
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
           FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, COUNT(*) AS n_hours,
                      CAST(SUM(c) AS BIGINT) AS sc,
                      CAST(SUM(c * c) AS BIGINT) AS scc
               FROM hourly GROUP BY event_type)
         SELECT event_type, n_hours,
                CAST(sc * 100 // n_hours AS BIGINT) AS mean_x100,
                CAST((n_hours * scc - sc * sc) * 10000
                  // ((n_hours - 1) * sc) AS BIGINT) AS fano_x10000
         FROM s WHERE n_hours > 1"""),
    // q183: type x hour mutual information + marginal entropies
    QuerySpec("q183_mutual_info", Stats.qMutualInfo _, Timed,
      // q183: exact integer cells/marginals; MI and entropies fold ≤120
      // double terms (the q64 ln precedent), rounded at 6
      """WITH cells AS (
           SELECT event_type AS t, EXTRACT(hour FROM ts) AS hh,
                  COUNT(*) AS c
           FROM events GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn,
                        COUNT(*) AS n_cells FROM cells),
         rowm AS (SELECT t, CAST(SUM(c) AS BIGINT) AS r FROM cells
                  GROUP BY t),
         colm AS (SELECT hh, CAST(SUM(c) AS BIGINT) AS s FROM cells
                  GROUP BY hh),
         mi AS (SELECT ROUND(SUM(CAST(c AS DOUBLE) / nn
                  * LN(CAST(c AS DOUBLE) * nn
                       / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE)))), 6)
                  AS mi_nats
                FROM cells JOIN rowm USING (t) JOIN colm USING (hh),
                     tot),
         ht AS (SELECT ROUND(-SUM(CAST(r AS DOUBLE) / nn
                  * LN(CAST(r AS DOUBLE) / nn)), 6) AS h_type
                FROM rowm, tot),
         hh2 AS (SELECT ROUND(-SUM(CAST(s AS DOUBLE) / nn
                  * LN(CAST(s AS DOUBLE) / nn)), 6) AS h_hour
                 FROM colm, tot)
         SELECT tot.n_cells, tot.nn AS n_events, mi.mi_nats,
                ht.h_type, hh2.h_hour
         FROM tot, mi, ht, hh2"""),
    // q184: k-core decomposition by distributed h-index iteration
    // (rows-only: iterative fixpoint, spec-proven == sequential peeling)
    QuerySpec("q184_kcore", (s, d) => Graph.qKCore(s, d), Untimed),
    // q185: Page CUSUM online detector via the drawdown identity
    QuerySpec("q185_page_cusum", Stats.qPageCusum _, Timed,
      // q185: Page CUSUM via the drawdown identity S = P − min(0, min P)
      // — exact integers end to end, same identity as the Spark plan
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
           FROM events GROUP BY event_type, day),
         o0 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY day) AS rn
                FROM daily),
         o AS (SELECT *,
                      CAST(SUM(CASE WHEN rn <= 7 THEN c END)
                        OVER (PARTITION BY event_type) AS BIGINT) AS sum7,
                      COUNT(*) OVER (PARTITION BY event_type) AS n_days
               FROM o0),
         sc AS (SELECT *,
                       CAST(SUM(7 * c - sum7) OVER run AS BIGINT) AS p
                FROM o WHERE rn > 7
                WINDOW run AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         st AS (SELECT *,
                       p - LEAST(0, MIN(p) OVER (PARTITION BY event_type
                         ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)) AS s_stat
                FROM sc),
         al AS (SELECT *, s_stat > 3 * sum7 AS alarm,
                       ROW_NUMBER() OVER (PARTITION BY event_type,
                         s_stat > 3 * sum7 ORDER BY day) AS arn
                FROM st)
         SELECT event_type, MAX(n_days) AS n_days, MAX(sum7) AS sum7,
                MAX(s_stat) AS max_s,
                COALESCE(CAST(MIN(CASE WHEN alarm THEN day END) AS VARCHAR),
                  'none') AS first_alarm_day,
                COALESCE(MAX(CASE WHEN alarm AND arn = 1 THEN s_stat END),
                  -1) AS s_at_alarm
         FROM al GROUP BY event_type"""),
    // q186: q185 as streaming per-type state (oracle = q185's batch
    // SQL: the fourth bit-exact stream/batch parity statement)
    QuerySpec("q186_streaming_cusum", EventTime.qStreamingCusum _, Untimed,
      // q186: the oracle IS q185's batch SQL — stream/batch parity for
      // the Page detector (recursion vs drawdown identity)
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
           FROM events GROUP BY event_type, day),
         o0 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY day) AS rn
                FROM daily),
         o AS (SELECT *,
                      CAST(SUM(CASE WHEN rn <= 7 THEN c END)
                        OVER (PARTITION BY event_type) AS BIGINT) AS sum7,
                      COUNT(*) OVER (PARTITION BY event_type) AS n_days
               FROM o0),
         sc AS (SELECT *,
                       CAST(SUM(7 * c - sum7) OVER run AS BIGINT) AS p
                FROM o WHERE rn > 7
                WINDOW run AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         st AS (SELECT *,
                       p - LEAST(0, MIN(p) OVER (PARTITION BY event_type
                         ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)) AS s_stat
                FROM sc),
         al AS (SELECT *, s_stat > 3 * sum7 AS alarm,
                       ROW_NUMBER() OVER (PARTITION BY event_type,
                         s_stat > 3 * sum7 ORDER BY day) AS arn
                FROM st)
         SELECT event_type, MAX(n_days) AS n_days, MAX(sum7) AS sum7,
                MAX(s_stat) AS max_s,
                COALESCE(CAST(MIN(CASE WHEN alarm THEN day END) AS VARCHAR),
                  'none') AS first_alarm_day,
                COALESCE(MAX(CASE WHEN alarm AND arn = 1 THEN s_stat END),
                  -1) AS s_at_alarm
         FROM al GROUP BY event_type"""),
    // q187: windowed funnel (ClickHouse windowFunnel semantics)
    QuerySpec("q187_window_funnel", (s, d) => Stats.qWindowFunnel(s, d), Timed,
      // q187: greedy-earliest chain (MIN click per view, MIN purchase
      // after it) is depth-maximal for a view-anchored window
      """WITH v AS (SELECT user_id AS u, epoch_us(ts) AS tv FROM events
                    WHERE event_type = 'view'),
         c AS (SELECT user_id AS u, epoch_us(ts) AS tc FROM events
               WHERE event_type = 'click'),
         p AS (SELECT user_id AS u, epoch_us(ts) AS tp FROM events
               WHERE event_type = 'purchase'),
         vc AS (SELECT v.u, v.tv, MIN(c.tc) AS tc
                FROM v JOIN c ON v.u = c.u
                 AND c.tc >= v.tv AND c.tc <= v.tv + 86400000000
                GROUP BY v.u, v.tv),
         vcp AS (SELECT vc.u, vc.tv, MIN(p.tp) AS tp
                 FROM vc JOIN p ON vc.u = p.u
                  AND p.tp >= vc.tc AND p.tp <= vc.tv + 86400000000
                 GROUP BY vc.u, vc.tv),
         du AS (SELECT DISTINCT u FROM v),
         d2 AS (SELECT DISTINCT u, 1 AS h2 FROM vc),
         d3 AS (SELECT DISTINCT u, 1 AS h3 FROM vcp)
         SELECT CASE WHEN h3 IS NOT NULL THEN 3
                     WHEN h2 IS NOT NULL THEN 2 ELSE 1 END AS depth,
                COUNT(*) AS n_users
         FROM du LEFT JOIN d2 USING (u) LEFT JOIN d3 USING (u)
         GROUP BY 1"""),
    // q188: EWMA spike days via exact integer dyadic weights
    QuerySpec("q188_ewma_spikes", (s, d) => Stats.qEwmaSpikes(s, d), Timed,
      // q188: 2^30-scaled integer dyadic weighted sum; spike test is
      // pure integer shift arithmetic on both engines
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
           FROM events GROUP BY event_type, day),
         lagged AS (
           SELECT a.event_type, a.day, a.c,
                  CAST(SUM(b.c * (CAST(1 AS BIGINT)
                    << (30 - date_diff('day', b.day, a.day)))) AS BIGINT)
                    AS ewsum_scaled,
                  COUNT(*) AS n_lags
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND b.day < a.day
            AND b.day >= a.day - INTERVAL 30 DAY
           GROUP BY a.event_type, a.day, a.c),
         scored AS (SELECT *,
                      (CAST(c AS BIGINT) << 30) > 2 * ewsum_scaled AS spike
                    FROM lagged WHERE n_lags >= 7)
         SELECT event_type, COUNT(*) AS n_scored_days,
                CAST(SUM(CASE WHEN spike THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_spike_days,
                COALESCE(MIN(CASE WHEN spike
                  THEN CAST(day AS VARCHAR) END), 'none') AS first_spike_day
         FROM scored GROUP BY event_type"""),
    // q189: fact-to-SCD2 point-in-time join (revenue by state-at-ship)
    QuerySpec("q189_temporal_join", Relational.qTemporalJoin _, Timed,
      // q189: each fact matches at most one SCD2 version; pre-history
      // ships land in the explicit 'NONE' bucket; revenue in exact
      // integer 1e-4-dollar units
      """WITH dim AS (
           SELECT o_custkey AS ck, o_orderpriority AS state,
                  CAST(epoch(o_orderdate) AS BIGINT) AS vf,
                  COALESCE(LEAD(CAST(epoch(o_orderdate) AS BIGINT))
                    OVER (PARTITION BY o_custkey
                          ORDER BY epoch(o_orderdate), o_orderkey),
                    4102444800) AS vt
           FROM orders),
         fact AS (
           SELECT o.o_custkey AS ck,
                  CAST(epoch(l.l_shipdate) AS BIGINT) AS ship_sec,
                  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2))
                       - CAST(l.l_discount AS DECIMAL(4,2)))
                    * 10000 AS BIGINT) AS rev_e4
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         SELECT COALESCE(dim.state, 'NONE') AS state, COUNT(*) AS n_lines,
                CAST(SUM(fact.rev_e4) AS BIGINT) AS revenue_e4
         FROM fact LEFT JOIN dim ON fact.ck = dim.ck
          AND fact.ship_sec >= dim.vf AND fact.ship_sec < dim.vt
         GROUP BY 1"""),
    // q190: PSI drift between stream halves over first-half deciles
    QuerySpec("q190_psi_drift", (s, d) => Stats.qPsiDrift(s, d), Timed,
      // q190: first-half ntile decile edges, strict-below band
      // assignment, Laplace-smoothed 10-term PSI fold
      """WITH ev AS (SELECT event_type, value, event_id,
                            CAST(ts AS DATE) AS day FROM events),
         b AS (SELECT event_type,
                      MIN(day) + CAST(date_diff('day', MIN(day), MAX(day))
                        // 2 AS INT) AS pivot
               FROM ev GROUP BY event_type),
         tagged AS (SELECT ev.*, ev.day <= b.pivot AS is_first
                    FROM ev JOIN b USING (event_type)),
         fst AS (SELECT *, NTILE(10) OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS band
                 FROM tagged WHERE is_first),
         edges AS (SELECT event_type, band, MAX(value) AS edge
                   FROM fst GROUP BY 1, 2 HAVING band < 10),
         assign AS (SELECT t.event_type, t.is_first,
                           1 + (SELECT COUNT(*) FROM edges e
                                WHERE e.event_type = t.event_type
                                  AND e.edge < t.value) AS band
                    FROM tagged t),
         cells AS (SELECT event_type, band,
                          CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END)
                            AS BIGINT) AS cf,
                          CAST(SUM(CASE WHEN is_first THEN 0 ELSE 1 END)
                            AS BIGINT) AS cs
                   FROM assign GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(SUM(cf) AS BIGINT) AS nf,
                        CAST(SUM(cs) AS BIGINT) AS ns
                 FROM cells GROUP BY event_type)
         SELECT c.event_type, COUNT(*) AS n_bands, MAX(t.nf) AS n_first,
                MAX(t.ns) AS n_second,
                ROUND(SUM((CAST(c.cf + 1 AS DOUBLE) / (t.nf + 10)
                           - CAST(c.cs + 1 AS DOUBLE) / (t.ns + 10))
                      * LN((CAST(c.cf + 1 AS DOUBLE) / (t.nf + 10))
                           / (CAST(c.cs + 1 AS DOUBLE) / (t.ns + 10)))), 6)
                  AS psi
         FROM cells c JOIN tot t USING (event_type)
         GROUP BY c.event_type"""),
    // q191: NDCG@10 retrieval-quality audit vs label relevance
    QuerySpec("q191_ndcg", (s, d) => Similarity.qNdcg(s, d), Timed,
      // q191: per-rank relevance pivoted to columns so DCG/IDCG are
      // fixed-order folds (ln-base cancels in the ratio); cosine ties
      // broken by vec_id (the q32 rule)
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb,
                           label AS q_label
                    FROM embeddings WHERE vec_id < 100),
         ranked AS (
           SELECT q.query_id, q.q_label,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY list_cosine_similarity(q.q_emb,
                      c.embedding::DOUBLE[]) DESC, c.vec_id) AS rank,
                  CASE WHEN c.label = q.q_label THEN 1 ELSE 0 END AS rel
           FROM q, embeddings c WHERE q.query_id <> c.vec_id),
         flags AS (
           SELECT query_id, q_label,
                  MAX(CASE WHEN rank = 1 THEN rel END) AS r1,
                  MAX(CASE WHEN rank = 2 THEN rel END) AS r2,
                  MAX(CASE WHEN rank = 3 THEN rel END) AS r3,
                  MAX(CASE WHEN rank = 4 THEN rel END) AS r4,
                  MAX(CASE WHEN rank = 5 THEN rel END) AS r5,
                  MAX(CASE WHEN rank = 6 THEN rel END) AS r6,
                  MAX(CASE WHEN rank = 7 THEN rel END) AS r7,
                  MAX(CASE WHEN rank = 8 THEN rel END) AS r8,
                  MAX(CASE WHEN rank = 9 THEN rel END) AS r9,
                  MAX(CASE WHEN rank = 10 THEN rel END) AS r10
           FROM ranked WHERE rank <= 10 GROUP BY 1, 2),
         cs AS (SELECT label AS q_label, COUNT(*) AS csize
                FROM embeddings GROUP BY label)
         SELECT f.query_id, cs.csize - 1 AS n_relevant,
                CAST(r1 + r2 + r3 + r4 + r5 + r6 + r7 + r8 + r9 + r10
                  AS BIGINT) AS hits_at_10,
                ROUND(CAST(r1 + r2 + r3 + r4 + r5 + r6 + r7 + r8 + r9 + r10
                        AS DOUBLE)
                      / CAST(LEAST(10, cs.csize - 1) AS DOUBLE), 6)
                  AS precision_vs_ideal,
                ROUND((CAST(r1 AS DOUBLE) / LN(2.0)
                       + CAST(r2 AS DOUBLE) / LN(3.0)
                       + CAST(r3 AS DOUBLE) / LN(4.0)
                       + CAST(r4 AS DOUBLE) / LN(5.0)
                       + CAST(r5 AS DOUBLE) / LN(6.0)
                       + CAST(r6 AS DOUBLE) / LN(7.0)
                       + CAST(r7 AS DOUBLE) / LN(8.0)
                       + CAST(r8 AS DOUBLE) / LN(9.0)
                       + CAST(r9 AS DOUBLE) / LN(10.0)
                       + CAST(r10 AS DOUBLE) / LN(11.0))
                      / (CASE WHEN cs.csize - 1 >= 1 THEN 1.0 / LN(2.0) ELSE 0.0 END
                         + CASE WHEN cs.csize - 1 >= 2 THEN 1.0 / LN(3.0) ELSE 0.0 END
                         + CASE WHEN cs.csize - 1 >= 3 THEN 1.0 / LN(4.0) ELSE 0.0 END
                         + CASE WHEN cs.csize - 1 >= 4 THEN 1.0 / LN(5.0) ELSE 0.0 END
                         + CASE WHEN cs.csize - 1 >= 5 THEN 1.0 / LN(6.0) ELSE 0.0 END
                         + CASE WHEN cs.csize - 1 >= 6 THEN 1.0 / LN(7.0) ELSE 0.0 END
                         + CASE WHEN cs.csize - 1 >= 7 THEN 1.0 / LN(8.0) ELSE 0.0 END
                         + CASE WHEN cs.csize - 1 >= 8 THEN 1.0 / LN(9.0) ELSE 0.0 END
                         + CASE WHEN cs.csize - 1 >= 9 THEN 1.0 / LN(10.0) ELSE 0.0 END
                         + CASE WHEN cs.csize - 1 >= 10 THEN 1.0 / LN(11.0) ELSE 0.0 END),
                      6) AS ndcg_at_10
         FROM flags f JOIN cs USING (q_label)"""),
    // q192: IVF recall@10 vs brute ground truth per probe budget
    // (rows-only: the IVF leg is not SQL-expressible; spec pins the
    // nprobe=cells ceiling at exactly 1.0 and monotonicity)
    QuerySpec("q192_ann_recall", (s, d) => Similarity.qAnnRecall(s, d), Timed),
    // q193: HLL sketch rollup — persisted daily registers merged to
    // lifetime distinct (rows-only: estimator not SQL-expressible;
    // HllSketchSpec pins merge==direct bit for bit + the error band)
    QuerySpec("q193_hll_rollup", Stats.qHllRollup _, Timed),
    // q194: per-user 62-day activity bitmask (popcount/streak algebra)
    QuerySpec("q194_activity_bitmask", Stats.qActivityBitmask _, Timed,
      // q194: summing 2^idx over DISTINCT (user, idx) IS the bitwise OR;
      // xor() spelled as a function (DuckDB's ^ is exponentiation)
      """WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS a FROM events),
         act AS (SELECT DISTINCT user_id,
                        date_diff('day', CAST(ts AS DATE),
                                  (SELECT a FROM anchor)) AS idx
                 FROM events
                 WHERE date_diff('day', CAST(ts AS DATE),
                                 (SELECT a FROM anchor)) BETWEEN 0 AND 61),
         m AS (SELECT user_id,
                      CAST(SUM(1::BIGINT << idx) AS BIGINT) AS active_mask
               FROM act GROUP BY user_id)
         SELECT user_id, active_mask,
                CAST(bit_count(active_mask) AS BIGINT) AS n_active_days,
                CAST(bit_count(xor(active_mask, active_mask + 1)) - 1
                  AS BIGINT) AS streak_now,
                CAST(bit_count(active_mask & 127) AS BIGINT) AS n_last7
         FROM m"""),
    // q195: exposure->conversion two-proportion z screen
    QuerySpec("q195_exposure_conversion", Stats.qExposureConversion _, Timed,
      // q195: z from exact integer counts; formula written identically
      // to the Spark plan so the doubles agree bit for bit
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
                           MIN(epoch_us(ts)) OVER (PARTITION BY user_id)
                             + 259200000000 AS cut
                    FROM events),
         f AS (SELECT user_id,
                      MAX(CASE WHEN event_type = 'view' AND us < cut THEN 1 ELSE 0 END) AS e_view,
                      MAX(CASE WHEN event_type = 'click' AND us < cut THEN 1 ELSE 0 END) AS e_click,
                      MAX(CASE WHEN event_type = 'error' AND us < cut THEN 1 ELSE 0 END) AS e_error,
                      MAX(CASE WHEN event_type = 'signup' AND us < cut THEN 1 ELSE 0 END) AS e_signup,
                      MAX(CASE WHEN event_type = 'purchase' AND us >= cut THEN 1 ELSE 0 END) AS conv
               FROM e GROUP BY user_id),
         c AS (SELECT COUNT(*) AS n, SUM(conv) AS nc,
                      SUM(e_view) AS v, SUM(e_view * conv) AS vc,
                      SUM(e_click) AS cl, SUM(e_click * conv) AS cc,
                      SUM(e_error) AS er, SUM(e_error * conv) AS erc,
                      SUM(e_signup) AS sg, SUM(e_signup * conv) AS sgc
               FROM f),
         rows_ AS (
           SELECT 'view' AS exposure_type, v AS n_exposed, vc AS n_conv_exposed,
                  n - v AS n_unexposed, nc - vc AS n_conv_unexposed FROM c
           UNION ALL SELECT 'click', cl, cc, n - cl, nc - cc FROM c
           UNION ALL SELECT 'error', er, erc, n - er, nc - erc FROM c
           UNION ALL SELECT 'signup', sg, sgc, n - sg, nc - sgc FROM c)
         SELECT CAST(exposure_type AS VARCHAR) AS exposure_type,
                CAST(n_exposed AS BIGINT) AS n_exposed,
                CAST(n_conv_exposed AS BIGINT) AS n_conv_exposed,
                CAST(n_unexposed AS BIGINT) AS n_unexposed,
                CAST(n_conv_unexposed AS BIGINT) AS n_conv_unexposed,
                ROUND(CASE WHEN n_exposed > 0 AND n_unexposed > 0
                            AND n_conv_exposed + n_conv_unexposed > 0
                            AND n_conv_exposed + n_conv_unexposed
                                < n_exposed + n_unexposed THEN
                  (CAST(n_conv_exposed AS DOUBLE) / CAST(n_exposed AS DOUBLE)
                   - CAST(n_conv_unexposed AS DOUBLE) / CAST(n_unexposed AS DOUBLE))
                  / SQRT((CAST(n_conv_exposed + n_conv_unexposed AS DOUBLE)
                          / CAST(n_exposed + n_unexposed AS DOUBLE))
                         * (1.0 - CAST(n_conv_exposed + n_conv_unexposed AS DOUBLE)
                            / CAST(n_exposed + n_unexposed AS DOUBLE))
                         * (1.0 / CAST(n_exposed AS DOUBLE)
                            + 1.0 / CAST(n_unexposed AS DOUBLE)))
                  ELSE 0.0 END, 6) AS z_score
         FROM rows_"""),
    // q196: skewness/kurtosis from exact integer power sums
    QuerySpec("q196_higher_moments", Stats.qHigherMoments _, Timed,
      // q196: HUGEINT power sums mirror Spark's DECIMAL(38,0); the
      // centered combinations A2/A3/A4 are exact integers on both
      // engines, so only the final correctly-rounded scalars are doubles
      """WITH s AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
                           SUM(v) AS s1, SUM(v * v) AS s2,
                           SUM(v * v * v) AS s3, SUM(v * v * v * v) AS s4
                    FROM (SELECT event_type,
                                 CAST(ROUND(value * 100, 0) AS HUGEINT) AS v
                          FROM events)
                    GROUP BY event_type),
         a AS (SELECT event_type, n,
                      CAST(n AS DOUBLE) AS nd,
                      CAST(s1 AS DOUBLE) AS s1d,
                      CAST(n * s2 - s1 * s1 AS DOUBLE) AS a2,
                      CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
                        AS DOUBLE) AS a3,
                      CAST(n * n * n * s4 - 4 * n * n * s1 * s3
                           + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
                        AS DOUBLE) AS a4
               FROM s)
         SELECT event_type, CAST(n AS BIGINT) AS n,
                ROUND(s1d / nd / 100.0, 6) AS mean_value,
                ROUND(SQRT(a2) / nd / 100.0, 6) AS sd_pop,
                ROUND(a3 / (a2 * SQRT(a2)), 6) AS skewness,
                ROUND(a4 / (a2 * a2) - 3.0, 6) AS kurtosis_excess
         FROM a"""),
    // q197: rolling-median (Tukey) spike flags over daily counts
    QuerySpec("q197_rolling_median", Stats.qRollingMedian _, Timed,
      // q197: both engines carry the +/-3-row frame as a sorted list and
      // index its lower middle — exact integers end to end
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                               COUNT(*) AS cnt
                        FROM events GROUP BY 1, 2),
         f AS (SELECT event_type, day, cnt,
                      list_sort(list(cnt) OVER (PARTITION BY event_type
                        ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS frame
               FROM daily),
         m AS (SELECT event_type, CAST(day AS VARCHAR) AS day, cnt,
                      CAST(frame[CAST((len(frame) + 1) // 2 AS INT)]
                        AS BIGINT) AS med7
               FROM f)
         SELECT event_type, day, cnt, med7,
                CAST(CASE WHEN cnt > 2 * med7 THEN 1 ELSE 0 END AS BIGINT)
                  AS is_spike
         FROM m"""),
    // q198: small-file compaction plan (size-targeted contiguous bins)
    QuerySpec("q198_compaction_plan", (s, d) => Bucketing.qCompactionPlan(s, d), Timed,
      // q198: bin-by-cumulative-offset is plain window arithmetic on
      // both engines; all-integer outputs
      """WITH files AS (SELECT source, doc_id // 50 AS file_id,
                               COUNT(*) AS n_docs,
                               CAST(SUM(n_chars) AS BIGINT) AS bytes
                        FROM documents GROUP BY 1, 2),
         pc AS (SELECT source, file_id, n_docs, bytes,
                       CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source
                         ORDER BY file_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS BIGINT) AS prev_cum
                FROM files)
         SELECT source, prev_cum // 65536 AS bin,
                COUNT(*) AS n_files,
                CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
                CAST(SUM(bytes) AS BIGINT) * 10000 // 65536 AS fill_bp
         FROM pc GROUP BY 1, 2"""),
    // q199: last-touch revenue attribution within 24h
    QuerySpec("q199_last_touch", Stats.qLastTouch _, Timed,
      // q199: the packed us*8+code long makes "latest touch, clicks over
      // views on ties" one integer window max on both engines
      """WITH ev AS (SELECT user_id, event_id, event_type, value,
                            epoch_us(ts) AS us
                     FROM events),
         t AS (SELECT *,
                      MAX(CASE WHEN event_type = 'click' THEN us * 8 + 2
                               WHEN event_type = 'view' THEN us * 8 + 1 END)
                        OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS last_touch
               FROM ev),
         p AS (SELECT CASE WHEN last_touch IS NULL
                                OR us - last_touch // 8 > 86400000000
                           THEN 'unattributed'
                           WHEN last_touch % 8 = 2 THEN 'click'
                           ELSE 'view' END AS attributed_type,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
               FROM t WHERE event_type = 'purchase')
         SELECT attributed_type, COUNT(*) AS n_purchases,
                CAST(SUM(cents) AS BIGINT) AS revenue_cents
         FROM p GROUP BY attributed_type"""),
    // q200: q199 as streaming per-user touch state (oracle = q199's
    // batch SQL: the fifth bit-exact stream/batch parity statement)
    QuerySpec("q200_streaming_attribution", EventTime.qStreamingAttribution _, Untimed,
      // q200: the oracle IS q199's batch SQL — the fifth bit-exact
      // stream/batch parity statement
      """WITH ev AS (SELECT user_id, event_id, event_type, value,
                            epoch_us(ts) AS us
                     FROM events),
         t AS (SELECT *,
                      MAX(CASE WHEN event_type = 'click' THEN us * 8 + 2
                               WHEN event_type = 'view' THEN us * 8 + 1 END)
                        OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS last_touch
               FROM ev),
         p AS (SELECT CASE WHEN last_touch IS NULL
                                OR us - last_touch // 8 > 86400000000
                           THEN 'unattributed'
                           WHEN last_touch % 8 = 2 THEN 'click'
                           ELSE 'view' END AS attributed_type,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
               FROM t WHERE event_type = 'purchase')
         SELECT attributed_type, COUNT(*) AS n_purchases,
                CAST(SUM(cents) AS BIGINT) AS revenue_cents
         FROM p GROUP BY attributed_type"""),
    // q201: incremental join-view maintenance — delta-join terms whose
    // sum the oracle checks against the DIRECT full-join recompute
    QuerySpec("q201_delta_view", Relational.qDeltaView _, Timed,
      // q201: rev_total/n_lines come from the DIRECT full join here,
      // while Spark sums its three delta terms — the hash match proves
      // the IVM decomposition equals the direct recompute cross-engine
      """WITH li AS (SELECT l_orderkey,
                            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)
                            * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                                 AS BIGINT)) AS rev,
                            l_orderkey % 7 = 0 AS is_dl
                     FROM lineitem),
         o AS (SELECT o_orderkey, o_orderpriority,
                      o_orderkey % 10 = 0 AS is_do
               FROM orders),
         base AS (SELECT o_orderpriority, CAST(SUM(rev) AS BIGINT) AS rev_base
                  FROM li JOIN o ON l_orderkey = o_orderkey
                  WHERE NOT is_dl AND NOT is_do GROUP BY 1),
         d1 AS (SELECT o_orderpriority,
                       CAST(SUM(rev) AS BIGINT) AS rev_new_lines
                FROM li JOIN o ON l_orderkey = o_orderkey
                WHERE is_dl GROUP BY 1),
         d2 AS (SELECT o_orderpriority,
                       CAST(SUM(rev) AS BIGINT) AS rev_new_orders
                FROM li JOIN o ON l_orderkey = o_orderkey
                WHERE NOT is_dl AND is_do GROUP BY 1),
         tot AS (SELECT o_orderpriority, CAST(SUM(rev) AS BIGINT) AS rev_total,
                        COUNT(*) AS n_lines
                 FROM li JOIN o ON l_orderkey = o_orderkey GROUP BY 1)
         SELECT t.o_orderpriority,
                COALESCE(rev_base, 0) AS rev_base,
                COALESCE(rev_new_lines, 0) AS rev_new_lines,
                COALESCE(rev_new_orders, 0) AS rev_new_orders,
                rev_total, n_lines
         FROM tot t
         LEFT JOIN base USING (o_orderpriority)
         LEFT JOIN d1 USING (o_orderpriority)
         LEFT JOIN d2 USING (o_orderpriority)"""),
    // q202: rolling 7-day distinct users (contribution-explode form)
    QuerySpec("q202_rolling_distinct", Relational.qRollingDistinct _, Timed,
      // q202: the oracle uses the direct range-join formulation — a
      // DIFFERENT plan shape than Spark's contribution explode, so the
      // hash match checks the semantics, not the same code twice
      """WITH du AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
                            user_id
                     FROM events),
         od AS (SELECT DISTINCT event_type, day AS end_day FROM du),
         roll AS (SELECT od.event_type, od.end_day,
                         COUNT(DISTINCT du.user_id) AS rolling_users
                  FROM od JOIN du ON du.event_type = od.event_type
                    AND du.day BETWEEN od.end_day - 6 AND od.end_day
                  GROUP BY 1, 2),
         today AS (SELECT event_type, day AS end_day,
                          COUNT(DISTINCT user_id) AS n_users_today
                   FROM du GROUP BY 1, 2)
         SELECT r.event_type, CAST(r.end_day AS VARCHAR) AS end_day,
                rolling_users, n_users_today
         FROM roll r JOIN today USING (event_type, end_day)"""),
    // q203: join-consistent hash sample with scale-up audit
    QuerySpec("q203_join_sample", (s, d) => Relational.qJoinSample(s, d), Timed,
      // q203: the '0c' cut is ⌊5·256/100⌋ = 12 as two lowercase hex
      // chars — fixed-width lexicographic compare == numeric compare
      """WITH li AS (SELECT l_orderkey,
                            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)
                            * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                                 AS BIGINT)) AS rev
                     FROM lineitem),
         j AS (SELECT o_orderkey, o_orderpriority, rev,
                      substring(md5('js:' || CAST(o_orderkey AS VARCHAR)),
                        1, 2) < '0c' AS keep
               FROM li JOIN orders ON l_orderkey = o_orderkey),
         f AS (SELECT o_orderpriority,
                      COUNT(DISTINCT o_orderkey) AS n_orders_total,
                      COUNT(*) AS n_lines_total,
                      CAST(SUM(rev) AS BIGINT) AS rev_total_x1e4
               FROM j GROUP BY 1),
         sp AS (SELECT o_orderpriority,
                       COUNT(DISTINCT o_orderkey) AS n_orders_sampled,
                       COUNT(*) AS n_lines_sampled,
                       CAST(SUM(rev) AS BIGINT) AS rev_sampled_x1e4
                FROM j WHERE keep GROUP BY 1)
         SELECT f.o_orderpriority, n_orders_total, n_lines_total,
                rev_total_x1e4,
                COALESCE(n_orders_sampled, 0) AS n_orders_sampled,
                COALESCE(n_lines_sampled, 0) AS n_lines_sampled,
                COALESCE(rev_sampled_x1e4, 0) AS rev_sampled_x1e4,
                ROUND(CASE WHEN COALESCE(rev_sampled_x1e4, 0) > 0
                           THEN CAST(rev_total_x1e4 AS DOUBLE)
                                / CAST(rev_sampled_x1e4 AS DOUBLE)
                           ELSE 0.0 END, 6) AS scale_ratio
         FROM f LEFT JOIN sp USING (o_orderpriority)"""),
    // q204: MODE with an explicit smallest-bucket tie rule
    QuerySpec("q204_mode", Relational.qMode _, Timed,
      // q204: explicit windowed mode (native mode() leaves ties
      // unspecified on both engines; smallest modal bucket wins here)
      """WITH c AS (SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS bucket,
                           COUNT(*) AS n
                    FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, MAX(n) AS modal_n FROM c GROUP BY 1),
         t AS (SELECT c.event_type, COUNT(*) AS n_ties
               FROM c JOIN m USING (event_type)
               WHERE c.n = m.modal_n GROUP BY 1)
         SELECT c.event_type, MIN(c.bucket) AS modal_bucket,
                m.modal_n AS modal_n, t.n_ties
         FROM c JOIN m USING (event_type) JOIN t USING (event_type)
         WHERE c.n = m.modal_n
         GROUP BY c.event_type, m.modal_n, t.n_ties"""),
    // q205: ordered string aggregation (deterministic LISTAGG)
    QuerySpec("q205_listagg", Relational.qListAgg _, Timed,
      // q205: both engines sort the collected list before slicing —
      // the only reproducible string_agg
      """SELECT n_name, COUNT(*) AS n_customers,
                array_to_string((list_sort(list(c_name)))[1:5], ',')
                  AS first5_names
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name"""),
    // q206: retraction-aware view maintenance (the delete half of
    // q201; oracle derives the after-state directly)
    QuerySpec("q206_retraction_view", Relational.qRetractionView _, Timed,
      // q206: the oracle's after-state comes from the DIRECT filtered
      // join while Spark subtracts its retraction term — the hash match
      // proves M - agg(delta) == re-derivation
      """WITH li AS (SELECT l_orderkey,
                            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)
                            * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                                 AS BIGINT)) AS rev
                     FROM lineitem),
         j AS (SELECT o_orderpriority, rev, o_orderkey % 13 = 0 AS is_del
               FROM li JOIN orders ON l_orderkey = o_orderkey),
         f AS (SELECT o_orderpriority, CAST(SUM(rev) AS BIGINT) AS rev_full,
                      CAST(SUM(CASE WHEN is_del THEN rev ELSE 0 END)
                        AS BIGINT) AS rev_retracted
               FROM j GROUP BY 1),
         a AS (SELECT o_orderpriority, CAST(SUM(rev) AS BIGINT) AS rev_after,
                      COUNT(*) AS n_lines_after
               FROM j WHERE NOT is_del GROUP BY 1)
         SELECT f.o_orderpriority, rev_full, rev_retracted,
                COALESCE(rev_after, 0) AS rev_after,
                COALESCE(n_lines_after, 0) AS n_lines_after
         FROM f LEFT JOIN a USING (o_orderpriority)"""),
    // q207: functional-dependency audit over declared candidate edges
    QuerySpec("q207_fd_audit", Relational.qFdAudit _, Timed,
      // q207: rhs casts to VARCHAR only to unify the union's type — any
      // injective representation preserves the distinct counts
      """WITH pairs AS (
           SELECT 'o_orderkey->o_orderpriority' AS fd, o_orderkey AS l,
                  CAST(o_orderpriority AS VARCHAR) AS r FROM orders
           UNION ALL SELECT 'o_custkey->o_orderpriority', o_custkey,
                  CAST(o_orderpriority AS VARCHAR) FROM orders
           UNION ALL SELECT 'c_custkey->c_nationkey', c_custkey,
                  CAST(c_nationkey AS VARCHAR) FROM customer
           UNION ALL SELECT 'n_nationkey->n_regionkey', n_nationkey,
                  CAST(n_regionkey AS VARCHAR) FROM nation
           UNION ALL SELECT 'l_orderkey->l_shipdate', l_orderkey,
                  CAST(l_shipdate AS VARCHAR) FROM lineitem
           UNION ALL SELECT 'l_partkey->l_suppkey', l_partkey,
                  CAST(l_suppkey AS VARCHAR) FROM lineitem),
         agg AS (SELECT fd, l, COUNT(DISTINCT r) AS nr
                 FROM pairs GROUP BY fd, l)
         SELECT fd, COUNT(*) AS n_lhs,
                CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_violating_lhs,
                CAST(MAX(nr) AS BIGINT) AS max_rhs_per_lhs,
                CAST(CASE WHEN SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
                          THEN 1 ELSE 0 END AS BIGINT) AS fd_holds
         FROM agg GROUP BY fd"""),
    // q208: CUPED variance-reduced A/B readout (pooled theta/rho2)
    QuerySpec("q208_cuped", Stats.qCuped _, Timed,
      // q208: HUGEINT sufficient sums; theta/rho2/adjusted means are
      // final doubles written in the identical operation order
      """WITH b AS (SELECT MIN(CAST(ts AS DATE))
                      + CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                          MAX(CAST(ts AS DATE))) // 2 AS INT) AS pv
                    FROM events),
         pu AS (SELECT user_id,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                                      AND CAST(ts AS DATE) <= pv
                                THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                                ELSE 0 END) AS HUGEINT) AS x,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                                      AND CAST(ts AS DATE) > pv
                                THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                                ELSE 0 END) AS HUGEINT) AS y,
                       user_id % 2 AS arm
                FROM events, b GROUP BY user_id),
         pool AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                         SUM(x) AS sx, SUM(y) AS sy,
                         SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                         SUM(y * y) AS syy
                  FROM pu),
         pd AS (SELECT CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                       CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
                       CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
                       CAST(n * syy - sy * sy AS DOUBLE) AS vary
                FROM pool),
         pt AS (SELECT nd, sxd,
                       CASE WHEN varx > 0 THEN cov / varx ELSE 0.0 END
                         AS theta,
                       CASE WHEN varx > 0 AND vary > 0
                            THEN cov * cov / (varx * vary) * 100.0
                            ELSE 0.0 END AS rho2
                FROM pd),
         arms AS (SELECT arm, COUNT(*) AS n_users,
                         CAST(SUM(x) AS BIGINT) AS sum_pre_cents,
                         CAST(SUM(y) AS BIGINT) AS sum_post_cents
                  FROM pu GROUP BY arm)
         SELECT CAST(arm AS BIGINT) AS arm, n_users, sum_pre_cents,
                sum_post_cents,
                ROUND(CAST(sum_post_cents AS DOUBLE)
                      / CAST(n_users AS DOUBLE) / 100.0, 6) AS mean_post,
                ROUND((CAST(sum_post_cents AS DOUBLE)
                       - theta * (CAST(sum_pre_cents AS DOUBLE)
                                  - CAST(n_users AS DOUBLE) * sxd / nd))
                      / CAST(n_users AS DOUBLE) / 100.0, 6) AS mean_adjusted,
                ROUND(theta, 6) AS theta,
                ROUND(rho2, 4) AS rho2_pct
         FROM arms, pt"""),
    // q209-q211: the recognized TPC-H probe shapes (Q3/Q10/Q14),
    // determinized: integer revenue, key tie-breaks on the top-k cuts
    QuerySpec("q209_shipping_priority", Relational.qShippingPriority _, Timed,
      // q209-q211: the classic shapes with exact integer revenue and
      // total-order top-k cuts
      """WITH li AS (SELECT l_orderkey,
                            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)
                            * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                                 AS BIGINT)) AS rev
                     FROM lineitem WHERE l_shipdate > '1998-06-01'),
         o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority
               FROM orders WHERE o_orderdate < '1998-06-01'),
         c AS (SELECT c_custkey FROM customer
               WHERE c_mktsegment = 'BUILDING')
         SELECT l_orderkey,
                CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
                o_orderpriority,
                CAST(SUM(rev) AS BIGINT) AS revenue_x1e4
         FROM li JOIN o ON l_orderkey = o_orderkey
                 JOIN c ON o_custkey = c_custkey
         GROUP BY 1, 2, 3
         ORDER BY revenue_x1e4 DESC, l_orderkey
         LIMIT 10"""),
    QuerySpec("q210_returned_items", Relational.qReturnedItems _, Timed,
      """WITH li AS (SELECT l_orderkey,
                            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)
                            * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                                 AS BIGINT)) AS rev
                     FROM lineitem WHERE l_returnflag = 'R'),
         o AS (SELECT o_orderkey, o_custkey FROM orders
               WHERE o_orderdate >= '1997-01-01'
                 AND o_orderdate < '1997-04-01'),
         agg AS (SELECT o_custkey,
                        CAST(SUM(rev) AS BIGINT) AS lost_rev_x1e4,
                        COUNT(*) AS n_ret_lines
                 FROM li JOIN o ON l_orderkey = o_orderkey
                 GROUP BY 1)
         SELECT c_custkey, c_name, n_name, lost_rev_x1e4, n_ret_lines
         FROM agg JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
         ORDER BY lost_rev_x1e4 DESC, c_custkey
         LIMIT 20"""),
    QuerySpec("q211_promo_share", Relational.qPromoShare _, Timed,
      """WITH li AS (SELECT l_partkey,
                            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)
                            * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                                 AS BIGINT)) AS rev,
                            strftime(l_shipdate, '%Y-%m') AS ship_month
                     FROM lineitem
                     WHERE l_shipdate >= '1997-01-01'
                       AND l_shipdate < '1998-01-01'),
         p AS (SELECT p_partkey,
                      CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo
               FROM part),
         agg AS (SELECT ship_month,
                        CAST(SUM(rev * is_promo) AS BIGINT) AS promo_x1e4,
                        CAST(SUM(rev) AS BIGINT) AS total_x1e4
                 FROM li JOIN p ON l_partkey = p_partkey
                 GROUP BY 1)
         SELECT ship_month, promo_x1e4, total_x1e4,
                ROUND(CAST(promo_x1e4 AS DOUBLE)
                      / CAST(total_x1e4 AS DOUBLE), 6) AS promo_share
         FROM agg"""),
    // q212: unigram-LM piece vocabulary (top-V + char coverage floor)
    QuerySpec("q212_unigram_vocab", TextAnalysis.qUnigramVocab _, Timed,
      // q212: substring explode via nested LATERAL ranges; the top-V
      // cut is totally ordered by (count desc, piece) and the single
      // chars union in with identical counts, so UNION dedup is exact;
      // the char union carries the same totally-ordered 2^16 coverage
      // cap as the Spark side (SentencePiece character_coverage)
      """WITH words AS (SELECT unnest(regexp_split_to_array(lower(text),
                          '\s+')) AS w
                        FROM documents),
         ws AS (SELECT w FROM words WHERE len(w) > 0),
         pieces AS (SELECT substr(w, CAST(s AS INT), CAST(l AS INT)) AS piece
                    FROM ws
                    CROSS JOIN LATERAL (SELECT unnest(range(1, len(w) + 1))
                                          AS s) t1
                    CROSS JOIN LATERAL (SELECT unnest(range(1,
                                          least(4, len(w) - s + 1) + 1))
                                          AS l) t2),
         counts AS (SELECT piece, COUNT(*) AS n FROM pieces GROUP BY piece),
         top AS (SELECT piece, n FROM counts ORDER BY n DESC, piece
                 LIMIT 500),
         chars AS (SELECT piece, n FROM counts WHERE len(piece) = 1
                   ORDER BY n DESC, piece LIMIT 65536)
         SELECT piece, n, CAST(len(piece) AS BIGINT) AS piece_len
         FROM (SELECT * FROM top UNION SELECT * FROM chars)"""),
    // q213: Viterbi segmentation under the q212 model (rows-only:
    // the DP is not SQL-expressible; UnigramSegmentSpec pins
    // optimality, tie order, lossless concat, interpreted==codegen)
    QuerySpec("q213_unigram_segment", TextAnalysis.qUnigramSegment _, Timed),
    // q214: streaming distinct via HLL register state (rows-only;
    // EngagementSpec pins streamed registers == batch build bit for
    // bit — the sketch-state parity statement)
    QuerySpec("q214_streaming_hll", EventTime.qStreamingHll _, Untimed),
    // q215: discrete percentiles at integer ranks (actual data
    // elements — the quantile family's disc verb)
    QuerySpec("q215_percentile_disc", Stats.qPercentileDisc _, Timed,
      // q215: both engines spell the rank window out — native
      // percentile_disc implementations differ on tie/order edges
      """WITH r AS (SELECT event_type, value,
                           ROW_NUMBER() OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS rn,
                           COUNT(*) OVER (PARTITION BY event_type) AS n
                    FROM events)
         SELECT event_type, MAX(n) AS n,
                MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50_disc,
                MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN value END)
                  AS p90_disc,
                MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN value END)
                  AS p99_disc
         FROM r GROUP BY event_type"""),
    // q216: linear-interpolation gap fill (q180 LOCF's sibling)
    QuerySpec("q216_interpolate", Stats.qInterpolate _, Timed,
      // q216: weighted-endpoint integer interpolation (nonneg numerator
      // so // == div); gate hashes per-type invariants, not the series
      """WITH daily AS (SELECT event_type,
                               date_diff('day', DATE '1970-01-01',
                                 CAST(ts AS DATE)) AS t,
                               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                                 AS BIGINT) AS v
                        FROM events GROUP BY 1, 2),
         bounds AS (SELECT event_type, MIN(t) AS t0, MAX(t) AS t1
                    FROM daily GROUP BY 1),
         spine AS (SELECT event_type, unnest(range(t0, t1 + 1)) AS t
                   FROM bounds),
         j AS (SELECT s.event_type, s.t, d.v
               FROM spine s LEFT JOIN daily d USING (event_type, t)),
         wnd AS (SELECT *,
                        LAST_VALUE(v IGNORE NULLS) OVER
                          (PARTITION BY event_type ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS pv,
                        LAST_VALUE(CASE WHEN v IS NOT NULL THEN t END
                          IGNORE NULLS) OVER
                          (PARTITION BY event_type ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS pt,
                        FIRST_VALUE(v IGNORE NULLS) OVER
                          (PARTITION BY event_type ORDER BY t
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                          AS nv,
                        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN t END
                          IGNORE NULLS) OVER
                          (PARTITION BY event_type ORDER BY t
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                          AS nt
                 FROM j),
         f AS (SELECT event_type, t,
                      CASE WHEN v IS NOT NULL THEN v
                           ELSE (pv * (nt - t) + nv * (t - pt)) // (nt - pt)
                      END AS filled,
                      CASE WHEN v IS NULL THEN 1 ELSE 0 END AS interp
               FROM wnd)
         SELECT event_type, COUNT(*) AS n_days,
                CAST(SUM(1 - interp) AS BIGINT) AS n_observed,
                CAST(SUM(interp) AS BIGINT) AS n_interpolated,
                CAST(SUM(filled) AS BIGINT) AS sum_filled_cents,
                CAST(SUM(filled * (t % 997)) AS BIGINT) AS pos_checksum
         FROM f GROUP BY event_type"""),
    // q217: MoM growth accounting (new/retained/resurrected/churned)
    QuerySpec("q217_growth_accounting", Stats.qGrowthAccounting _, Timed,
      // q217: one user-keyed window gives first-seen/prev/next presence;
      // weeks are epoch-day // 7 (nonnegative, so // matches div)
      """WITH weekly AS (SELECT DISTINCT user_id,
                                date_diff('day', DATE '1970-01-01',
                                  CAST(ts AS DATE)) // 7 AS widx
                         FROM events),
         wm AS (SELECT widx,
                       MIN(widx) OVER (PARTITION BY user_id) AS first_seen,
                       LAG(widx) OVER (PARTITION BY user_id ORDER BY widx)
                         AS prev,
                       LEAD(widx) OVER (PARTITION BY user_id ORDER BY widx)
                         AS next
                FROM weekly),
         fl AS (SELECT widx,
                       CASE WHEN widx = first_seen THEN 1 ELSE 0 END
                         AS is_new,
                       CASE WHEN prev = widx - 1 THEN 1 ELSE 0 END
                         AS is_ret,
                       CASE WHEN widx <> first_seen
                             AND (prev IS NULL OR prev <> widx - 1)
                            THEN 1 ELSE 0 END AS is_res,
                       CASE WHEN next IS NULL OR next <> widx + 1
                            THEN 1 ELSE 0 END AS is_churn
                FROM wm)
         SELECT CAST(DATE '1970-01-01' + CAST(widx * 7 AS INT) AS VARCHAR)
                  AS week_start,
                COUNT(*) AS n_active,
                CAST(SUM(is_new) AS BIGINT) AS n_new,
                CAST(SUM(is_ret) AS BIGINT) AS n_retained,
                CAST(SUM(is_res) AS BIGINT) AS n_resurrected,
                CAST(SUM(is_churn) AS BIGINT) AS n_churned_out
         FROM fl GROUP BY widx"""),
    // q218: DAU/MAU stickiness in exact integers
    QuerySpec("q218_stickiness", Stats.qStickiness _, Timed,
      // q218: integer Σdau·1e4 div (days·wau) — the exact ratio, not a
      // float mean of per-day ratios
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
                            date_diff('day', DATE '1970-01-01',
                              CAST(ts AS DATE)) // 7 AS widx
                     FROM events),
         daily AS (SELECT widx, day, COUNT(DISTINCT user_id) AS dau
                   FROM du GROUP BY 1, 2),
         dm AS (SELECT widx, COUNT(*) AS n_days,
                       CAST(SUM(dau) AS BIGINT) AS sum_dau
                FROM daily GROUP BY 1),
         wau AS (SELECT widx, COUNT(DISTINCT user_id) AS wau
                 FROM du GROUP BY 1)
         SELECT CAST(DATE '1970-01-01' + CAST(widx * 7 AS INT) AS VARCHAR)
                  AS week_start,
                n_days, wau, sum_dau,
                CAST(sum_dau * 10000 // (n_days * wau) AS BIGINT)
                  AS stickiness_bp
         FROM dm JOIN wau USING (widx)"""),
    // q219: ratio-to-report + in-group rank over one region window
    QuerySpec("q219_region_share", Relational.qRegionShare _, Timed,
      // q219: HUGEINT-widened ppm (rev * 1e6 tops BIGINT); rank with a
      // name tie-break is a total order
      """WITH li AS (SELECT l_orderkey,
                            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)
                            * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                                 AS BIGINT)) AS rev
                     FROM lineitem),
         rolled AS (SELECT r_name, n_name,
                           CAST(SUM(rev) AS BIGINT) AS rev_x1e4
                    FROM li
                    JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
                    GROUP BY 1, 2),
         w AS (SELECT *,
                      CAST(SUM(rev_x1e4) OVER (PARTITION BY r_name)
                        AS BIGINT) AS region_total_x1e4,
                      CAST(ROW_NUMBER() OVER (PARTITION BY r_name
                        ORDER BY rev_x1e4 DESC, n_name) AS BIGINT)
                        AS rank_in_region
               FROM rolled)
         SELECT r_name, n_name, rev_x1e4, region_total_x1e4,
                CAST(CAST(rev_x1e4 AS HUGEINT) * 1000000
                     // region_total_x1e4 AS BIGINT) AS share_ppm,
                rank_in_region
         FROM w"""),
    // q220: token-weighted median doc length vs the unweighted median
    QuerySpec("q220_weighted_median", Stats.qWeightedMedian _, Timed,
      // q220: the 2*cum >= total crossing is pure integer comparison;
      // token weights use the q22-proven split parity
      """WITH docs AS (SELECT source, doc_id, n_chars,
                             CAST(len(string_split_regex(text, '\s+'))
                               AS BIGINT) AS w
                      FROM documents),
         wnd AS (SELECT *,
                        SUM(w) OVER (PARTITION BY source
                          ORDER BY n_chars, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS cum,
                        ROW_NUMBER() OVER (PARTITION BY source
                          ORDER BY n_chars, doc_id) AS rn,
                        SUM(w) OVER (PARTITION BY source) AS total,
                        COUNT(*) OVER (PARTITION BY source) AS n
                 FROM docs)
         SELECT source, MAX(n) AS n_docs,
                CAST(MAX(total) AS BIGINT) AS total_tokens,
                CAST(MIN(CASE WHEN cum * 2 >= total THEN n_chars END)
                  AS BIGINT) AS wmedian_chars,
                CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END)
                  AS BIGINT) AS median_chars
         FROM wnd GROUP BY source"""),
    // q221: equi-width histogram (fixed-width numeric profiling)
    QuerySpec("q221_equiwidth_hist", Stats.qEquiWidthHist _, Timed,
      // q221: (v-mn)*10 // (mx-mn+1) — nonnegative integers, +1 keeps
      // the max inside bin 9
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         mm AS (SELECT event_type, MIN(v) AS mn, MAX(v) AS mx
                FROM ev GROUP BY 1)
         SELECT ev.event_type,
                CAST((v - mn) * 10 // (mx - mn + 1) AS BIGINT) AS bin,
                COUNT(*) AS n,
                MIN(v) AS lo_cents, MAX(v) AS hi_cents
         FROM ev JOIN mm USING (event_type)
         GROUP BY 1, 2"""),
    // q222: full-row duplicate audit per table
    QuerySpec("q222_duplicate_rows", Stats.qDuplicateRows _, Timed,
      // q222: total vs distinct full rows per table
      """SELECT 'events' AS table_name, COUNT(*) AS n_rows,
                (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM events))
                  AS n_distinct,
                COUNT(*) - (SELECT COUNT(*)
                            FROM (SELECT DISTINCT * FROM events))
                  AS n_dup_rows
         FROM events
         UNION ALL
         SELECT 'orders', COUNT(*),
                (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM orders)),
                COUNT(*) - (SELECT COUNT(*)
                            FROM (SELECT DISTINCT * FROM orders))
         FROM orders
         UNION ALL
         SELECT 'lineitem', COUNT(*),
                (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lineitem)),
                COUNT(*) - (SELECT COUNT(*)
                            FROM (SELECT DISTINCT * FROM lineitem))
         FROM lineitem
         UNION ALL
         SELECT 'documents', COUNT(*),
                (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM documents)),
                COUNT(*) - (SELECT COUNT(*)
                            FROM (SELECT DISTINCT * FROM documents))
         FROM documents"""),
    // q223: pairwise Pearson matrix from exact decimal sums, one scan
    QuerySpec("q223_corr_matrix", Stats.qCorrMatrix _, Timed,
      // q223: HUGEINT sufficient sums; denominators convert to double
      // BEFORE multiplying (their product exceeds 38 digits)
      """WITH b AS (SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                             AS HUGEINT) AS x,
                           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS HUGEINT) AS y,
                           CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                             AS HUGEINT) AS z
                    FROM lineitem),
         s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                      SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
                      SUM(x * x) AS sxx, SUM(y * y) AS syy,
                      SUM(z * z) AS szz,
                      SUM(x * y) AS sxy, SUM(x * z) AS sxz,
                      SUM(y * z) AS syz
               FROM b),
         rr AS (SELECT CAST(n AS BIGINT) AS nn,
                       CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
                       CAST(n * sxz - sx * sz AS DOUBLE) AS cxz,
                       CAST(n * syz - sy * sz AS DOUBLE) AS cyz,
                       CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
                       CAST(n * syy - sy * sy AS DOUBLE) AS vy,
                       CAST(n * szz - sz * sz AS DOUBLE) AS vz
                FROM s)
         SELECT 'qty~price' AS pair, nn AS n,
                ROUND(CASE WHEN vx > 0 AND vy > 0
                           THEN cxy / SQRT(vx) / SQRT(vy)
                           ELSE 0.0 END, 6) AS r
         FROM rr
         UNION ALL
         SELECT 'qty~discount', nn,
                ROUND(CASE WHEN vx > 0 AND vz > 0
                           THEN cxz / SQRT(vx) / SQRT(vz)
                           ELSE 0.0 END, 6)
         FROM rr
         UNION ALL
         SELECT 'price~discount', nn,
                ROUND(CASE WHEN vy > 0 AND vz > 0
                           THEN cyz / SQRT(vy) / SQRT(vz)
                           ELSE 0.0 END, 6)
         FROM rr"""),
    // q224: foreachBatch incremental materialized JOIN view over a
    // 3-batch CDC replay (q201's insert algebra + q206's retraction);
    // oracle recomputes the view from scratch — the sixth parity
    QuerySpec("q224_streaming_view", graft.streaming.DeltaView.qStreamingView _, Untimed,
      // q224: the incrementally-maintained view must equal the direct
      // from-scratch recompute — full lineitem join against the orders
      // that survive the replay's final-batch deletes (key%13=0 orders
      // inserted before the final batch, i.e. key%3 <> 2)
      """WITH li AS (SELECT l_orderkey,
                            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)
                            * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                                 AS BIGINT)) AS rev
                     FROM lineitem),
         o AS (SELECT o_orderkey, o_orderpriority FROM orders
               WHERE NOT (o_orderkey % 13 = 0 AND o_orderkey % 3 <> 2))
         SELECT o_orderpriority, CAST(SUM(rev) AS BIGINT) AS rev_x1e4,
                COUNT(*) AS n_lines
         FROM li JOIN o ON l_orderkey = o_orderkey
         GROUP BY 1"""),
    // q225: the RAG retrieval pipeline end to end — chunk → embedding
    // gate → persisted IVF-PQ retrieve → RRF with chunk-BM25 → NDCG
    // audit (rows-only: the ANN leg is approximate; RagPipelineSpec)
    QuerySpec("q225_rag_pipeline", (s, d) => Similarity.qRagPipeline(s, d), Timed),
    // q226: TPC-H Q5 shape — the 6-table cycle join (customer nation
    // = supplier nation inside one region)
    QuerySpec("q226_local_supplier_volume", Relational.qLocalSupplierVolume _, Timed,
      // q226: TPC-H Q5 — the cycle constraint c_nationkey = s_nationkey
      // rides the supplier join on both engines
      """SELECT n_name,
                CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)
                         * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                              AS BIGINT))) AS BIGINT) AS revenue_x1e4,
                COUNT(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
                      AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
         GROUP BY n_name"""),
    // q227: TPC-H Q21 shape — the EXISTS/NOT-EXISTS pair rewritten as
    // one per-order eager-aggregation rollup
    QuerySpec("q227_waiting_suppliers", Relational.qWaitingSuppliers _, Timed,
      // q227: TPC-H Q21 shape — EXISTS/NOT-EXISTS as one per-order
      // rollup: late ∧ n_supp ≥ 2 ∧ n_late = 1
      """WITH lo AS (
           SELECT l_orderkey, l_suppkey,
                  CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                       THEN 1 ELSE 0 END AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         os AS (
           SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
                  COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
                    AS n_late
           FROM lo GROUP BY 1),
         w AS (
           SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
           FROM lo JOIN os USING (l_orderkey)
           WHERE lo.late = 1 AND os.n_supp >= 2 AND os.n_late = 1)
         SELECT s_name, n_name, COUNT(*) AS wait_orders
         FROM w JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1, 2
         ORDER BY wait_orders DESC, s_name
         LIMIT 20"""),
    // q228: TPC-H Q2 shape — correlated scalar-MIN as a packed-BIGINT
    // argmin rollup
    QuerySpec("q228_min_cost_supplier", Relational.qMinCostSupplier _, Timed,
      // q228: TPC-H Q2 shape — the same packed-BIGINT argmin (shift
      // keeps the balance component nonnegative; % and div then agree
      // with Spark's % and div on both engines)
      """WITH eur AS (
           SELECT s_suppkey, s_name, n_name,
                  CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS bal_cents
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
                         JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         best AS (
           SELECT l_partkey,
                  MIN((bal_cents + 100000) * 10000 + l_suppkey) AS mn
           FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
           JOIN eur ON l_suppkey = s_suppkey
           GROUP BY 1),
         un AS (
           SELECT l_partkey, mn % 10000 AS best_suppkey,
                  mn // 10000 - 100000 AS best_bal_cents
           FROM best)
         SELECT l_partkey AS p_partkey, p_brand, p_type,
                CAST(best_suppkey AS BIGINT) AS best_suppkey,
                s_name, n_name,
                CAST(best_bal_cents AS BIGINT) AS best_bal_cents
         FROM un JOIN eur ON best_suppkey = s_suppkey
                 JOIN part ON l_partkey = p_partkey
         ORDER BY best_bal_cents DESC, best_suppkey, p_partkey
         LIMIT 100"""),
    // q229: Mann–Whitney U rank test per event type vs 'view'
    QuerySpec("q229_mann_whitney", Stats.qMannWhitney _, Timed,
      // q229: doubled ranks keep the tie-averaged rank sums in BIGINT;
      // the variance widens to HUGEINT (mirrors Spark's DECIMAL(38,0));
      // z is the one double, spelled identically
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         pr AS (
           SELECT ks.pair,
                  CASE WHEN ev.event_type = ks.pair THEN 1 ELSE 0 END
                    AS in_arm, ev.v
           FROM ev JOIN (VALUES ('click'), ('error'), ('signup'),
                                ('purchase')) AS ks(pair)
             ON ev.event_type = ks.pair OR ev.event_type = 'view'),
         bv AS (SELECT pair, v, SUM(in_arm) AS c1, SUM(1 - in_arm) AS c2
                FROM pr GROUP BY 1, 2),
         rk AS (SELECT pair, c1, c2, c1 + c2 AS cnt,
                       SUM(c1 + c2) OVER (PARTITION BY pair ORDER BY v
                         ROWS UNBOUNDED PRECEDING) AS cum
                FROM bv),
         ag AS (SELECT pair, SUM(c1) AS n1, SUM(c2) AS n2,
                       SUM(c1 * (2 * cum - cnt + 1)) AS r1d,
                       SUM(cnt * cnt * cnt - cnt) AS tie_term
                FROM rk GROUP BY 1),
         fin AS (SELECT pair, n1, n2, tie_term, n1 + n2 AS n,
                        r1d - n1 * (n1 + 1) AS two_u1,
                        CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT) *
                          (CAST(n1 + n2 + 1 AS HUGEINT)
                           * CAST(n1 + n2 AS HUGEINT)
                           * CAST(n1 + n2 - 1 AS HUGEINT)
                           - CAST(tie_term AS HUGEINT)) AS var12
                 FROM ag)
         SELECT pair, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                CAST(two_u1 AS BIGINT) AS two_u1,
                CAST(2 * n1 * n2 - two_u1 AS BIGINT) AS two_u2,
                CAST(tie_term AS BIGINT) AS tie_term,
                ROUND(CASE WHEN n1 > 0 AND n2 > 0 AND var12 > 0 THEN
                  CAST(two_u1 - n1 * n2 AS DOUBLE)
                    * SQRT(3.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                    / SQRT(CAST(var12 AS DOUBLE))
                  ELSE 0.0 END, 6) AS z_score
         FROM fin"""),
    // q230: calibration curve for the literal EN-stopword score
    QuerySpec("q230_calibration", Stats.qCalibration _, Timed,
      // q230: the literal proxy score (list functions only in
      // len()/pure-map positions — the audited-stable class); the label
      // is the length proxy n_chars ≥ 300 (this fixture's text is a
      // uniform word bag with lang independent of it, so a language
      // label would be flat by construction)
      """WITH sc AS (
           SELECT doc_id,
                  CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS is_pos,
                  n_toks * 100 + hits * 10 + dhits AS score_milli
           FROM (SELECT doc_id, n_chars,
                        len(list_filter(toks, t -> t IN ('the','a','of',
                          'and','to','in','is','it'))) AS hits,
                        len(list_intersect(list_distinct(toks),
                          ['the','a','of','and','to','in','is','it']))
                          AS dhits,
                        len(toks) AS n_toks
                 FROM (SELECT doc_id, n_chars,
                              string_split_regex(lower(text), '\s+') AS toks
                       FROM documents))),
         ranked AS (
           SELECT is_pos, score_milli,
                  ROW_NUMBER() OVER (ORDER BY score_milli, doc_id) AS rn,
                  COUNT(*) OVER () AS n
           FROM sc)
         SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
                COUNT(*) AS n_docs, CAST(SUM(is_pos) AS BIGINT) AS n_pos,
                CAST(SUM(is_pos) * 1000000 // COUNT(*) AS BIGINT)
                  AS pos_rate_ppm,
                CAST(SUM(score_milli) // COUNT(*) AS BIGINT)
                  AS avg_score_milli,
                CAST(MIN(score_milli) AS BIGINT) AS min_score,
                CAST(MAX(score_milli) AS BIGINT) AS max_score
         FROM ranked GROUP BY 1"""),
    // q231: precision/recall threshold sweep over the same score
    QuerySpec("q231_pr_curve", Stats.qPrCurve _, Timed,
      // q231: thresholds, cuts and counts all ride the score-domain
      // rollup; the pick-1 row per k is the highest qualifying score
      """WITH sc AS (
           SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS is_pos,
                  n_toks * 100 + hits * 10 + dhits AS score_milli
           FROM (SELECT n_chars,
                        len(list_filter(toks, t -> t IN ('the','a','of',
                          'and','to','in','is','it'))) AS hits,
                        len(list_intersect(list_distinct(toks),
                          ['the','a','of','and','to','in','is','it']))
                          AS dhits,
                        len(toks) AS n_toks
                 FROM (SELECT n_chars,
                              string_split_regex(lower(text), '\s+') AS toks
                       FROM documents))),
         bs AS (SELECT score_milli, COUNT(*) AS cnt, SUM(is_pos) AS pos
                FROM sc GROUP BY 1),
         cum AS (SELECT score_milli,
                        SUM(cnt) OVER (ORDER BY score_milli DESC
                          ROWS UNBOUNDED PRECEDING) AS cum_cnt,
                        SUM(pos) OVER (ORDER BY score_milli DESC
                          ROWS UNBOUNDED PRECEDING) AS cum_pos,
                        SUM(cnt) OVER () AS n, SUM(pos) OVER () AS total_pos
                 FROM bs),
         j AS (SELECT k, score_milli, cum_cnt, cum_pos, total_pos,
                      ROW_NUMBER() OVER (PARTITION BY k
                        ORDER BY score_milli DESC) AS pick
               FROM cum JOIN (VALUES (1), (2), (3), (4), (5), (6), (7),
                              (8), (9)) AS ks(k)
                 ON cum_cnt >= greatest(k * n // 10, 1)),
         pts AS (SELECT CAST(k AS BIGINT) AS k,
                        CAST(score_milli AS BIGINT) AS threshold_milli,
                        CAST(cum_pos AS BIGINT) AS tp,
                        CAST(cum_cnt - cum_pos AS BIGINT) AS fp,
                        CAST(total_pos - cum_pos AS BIGINT) AS fn,
                        CAST(cum_pos * 1000000 // cum_cnt AS BIGINT)
                          AS precision_ppm,
                        CAST(cum_pos * 1000000 // greatest(total_pos, 1)
                          AS BIGINT) AS recall_ppm
                 FROM j WHERE pick = 1)
         SELECT *, CAST(CASE WHEN precision_ppm + recall_ppm > 0
                        THEN 2 * precision_ppm * recall_ppm
                             // (precision_ppm + recall_ppm)
                        ELSE 0 END AS BIGINT) AS f1_ppm
         FROM pts"""),
    // q232: exact tie-corrected ROC AUC from the q229 rank identity
    QuerySpec("q232_roc_auc", Stats.qRocAuc _, Timed,
      // q232: doubled tie-averaged ranks on the score-domain rollup;
      // the ppm division widened to HUGEINT (mirrors Spark's DECIMAL)
      """WITH sc AS (
           SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS is_pos,
                  n_toks * 100 + hits * 10 + dhits AS score_milli
           FROM (SELECT n_chars,
                        len(list_filter(toks, t -> t IN ('the','a','of',
                          'and','to','in','is','it'))) AS hits,
                        len(list_intersect(list_distinct(toks),
                          ['the','a','of','and','to','in','is','it']))
                          AS dhits,
                        len(toks) AS n_toks
                 FROM (SELECT n_chars,
                              string_split_regex(lower(text), '\s+') AS toks
                       FROM documents))),
         bs AS (SELECT score_milli, COUNT(*) AS cnt, SUM(is_pos) AS pos
                FROM sc GROUP BY 1),
         rk AS (SELECT pos, cnt,
                       SUM(cnt) OVER (ORDER BY score_milli
                         ROWS UNBOUNDED PRECEDING) AS cum
                FROM bs),
         ag AS (SELECT SUM(pos) AS n_pos, SUM(cnt - pos) AS n_neg,
                       SUM(pos * (2 * cum - cnt + 1)) AS r1d
                FROM rk),
         fin AS (SELECT n_pos, n_neg,
                        r1d - n_pos * (n_pos + 1) AS two_u,
                        CAST(CAST(r1d - n_pos * (n_pos + 1) AS HUGEINT)
                               * 1000000
                             // (CAST(n_pos AS HUGEINT)
                                * CAST(n_neg AS HUGEINT) * 2) AS BIGINT)
                          AS auc_ppm
                 FROM ag)
         SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
                CAST(two_u AS BIGINT) AS two_u, auc_ppm,
                2 * auc_ppm - 1000000 AS gini_ppm
         FROM fin"""),
    // q233: Kruskal–Wallis k-group rank test across event types
    QuerySpec("q233_kruskal_wallis", Stats.qKruskalWallis _, Timed,
      // q233: global doubled ranks on the value domain; H is the one
      // final double folded from exact integer group sums (q183
      // precedent), spelled identically on both engines
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         bv AS (SELECT event_type, v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
         byv AS (SELECT v, SUM(c) AS cnt FROM bv GROUP BY 1),
         rk AS (SELECT v, cnt,
                       2 * SUM(cnt) OVER (ORDER BY v
                         ROWS UNBOUNDED PRECEDING) - cnt + 1 AS dr
                FROM byv),
         pg AS (SELECT event_type, SUM(c) AS n_i, SUM(c * dr) AS two_r
                FROM bv JOIN rk USING (v) GROUP BY 1),
         gl AS (SELECT SUM(cnt) AS n,
                       SUM(cnt * cnt * cnt - cnt) AS tie_term
                FROM rk),
         sq AS (SELECT SUM(CAST(two_r AS DOUBLE) * CAST(two_r AS DOUBLE)
                           / CAST(n_i AS DOUBLE)) AS ssum
                FROM pg),
         h AS (SELECT ROUND(
                 (ssum * 3.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
                  - 3.0 * CAST(n + 1 AS DOUBLE))
                 / (1.0 - CAST(tie_term AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6)
                 AS h_stat
               FROM sq, gl)
         SELECT event_type, CAST(n_i AS BIGINT) AS n_i,
                CAST(two_r AS BIGINT) AS two_r, CAST(n AS BIGINT) AS n,
                CAST(tie_term AS BIGINT) AS tie_term, h_stat
         FROM pg, gl, h"""),
    // q234: Welch's unequal-variance t-test per event type vs 'view'
    QuerySpec("q234_welch_t", Stats.qWelchT _, Timed,
      // q234: exact integer sufficient statistics (Σv² widened); t and
      // the Welch–Satterthwaite df are the two final doubles
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         pr AS (
           SELECT ks.pair,
                  CASE WHEN ev.event_type = ks.pair THEN 1 ELSE 0 END
                    AS in_arm, ev.v
           FROM ev JOIN (VALUES ('click'), ('error'), ('signup'),
                                ('purchase')) AS ks(pair)
             ON ev.event_type = ks.pair OR ev.event_type = 'view'),
         st AS (SELECT pair, SUM(in_arm) AS n1, SUM(1 - in_arm) AS n2,
                       SUM(in_arm * v) AS s1, SUM((1 - in_arm) * v) AS s2,
                       SUM(CAST(in_arm * v * v AS HUGEINT)) AS q1,
                       SUM(CAST((1 - in_arm) * v * v AS HUGEINT)) AS q2
                FROM pr GROUP BY 1),
         fin AS (SELECT pair, n1, n2, s1, s2,
                        (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                           * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                          / (CAST(n1 AS DOUBLE) - 1.0)
                          / CAST(n1 AS DOUBLE) AS va,
                        (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                           * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                          / (CAST(n2 AS DOUBLE) - 1.0)
                          / CAST(n2 AS DOUBLE) AS vb
                 FROM st)
         SELECT pair, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                CAST(s1 AS BIGINT) AS sum1_cents,
                CAST(s2 AS BIGINT) AS sum2_cents,
                ROUND((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                      / SQRT(va + vb), 6) AS t_stat,
                ROUND((va + vb) * (va + vb)
                      / (va * va / (CAST(n1 AS DOUBLE) - 1.0)
                         + vb * vb / (CAST(n2 AS DOUBLE) - 1.0)), 4)
                  AS welch_df
         FROM fin"""),
    // q235: TPC-H Q17 shape — correlated scalar-AVG, cross-multiplied
    QuerySpec("q235_small_qty_revenue", Relational.qSmallQtyRevenue _, Timed,
      // q235: the correlated scalar-AVG cross-multiplied into integers
      // (5·qty·n < Σqty — no float average exists on either engine)
      """WITH pts AS (SELECT p_partkey FROM part
                      WHERE p_brand = 'Brand#1'),
         li AS (SELECT l_partkey,
                       CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                         AS BIGINT) AS qty_c,
                       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)
                       * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                            AS BIGINT)) AS rev
                FROM lineitem JOIN pts ON l_partkey = p_partkey),
         pp AS (SELECT l_partkey, SUM(qty_c) AS sum_qty_c,
                       COUNT(*) AS n_lines
                FROM li GROUP BY 1)
         SELECT COUNT(*) AS n_small_lines,
                CAST(COUNT(DISTINCT li.l_partkey) AS BIGINT) AS n_parts,
                CAST(SUM(rev) AS BIGINT) AS small_rev_x1e4
         FROM li JOIN pp ON li.l_partkey = pp.l_partkey
         WHERE 5 * qty_c * n_lines < sum_qty_c"""),
    // q236: TPC-H Q13 shape — left-outer-join count distribution
    QuerySpec("q236_cust_order_distribution", Relational.qCustOrderDistribution _, Timed,
      // q236: the LEFT join is the point — k = 0 customers must appear
      """WITH cnt AS (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         SELECT c_count, COUNT(*) AS custdist FROM cnt GROUP BY 1"""),
    // q237: TPC-H Q11 shape — HAVING vs a global scalar, exact
    QuerySpec("q237_important_stock", Relational.qImportantStock _, Timed,
      // q237: HAVING vs the global mean, cross-multiplied
      // (value·n_parts·10 > total·12)
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         v AS (SELECT l_partkey,
                      SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS value_cents,
                      COUNT(*) AS n_supp
               FROM pairs JOIN supplier ON l_suppkey = s_suppkey
               GROUP BY 1),
         t AS (SELECT SUM(value_cents) AS total_cents,
                      COUNT(*) AS n_parts FROM v)
         SELECT l_partkey, CAST(value_cents AS BIGINT) AS value_cents,
                n_supp
         FROM v, t
         WHERE value_cents * n_parts * 10 > total_cents * 12
         ORDER BY value_cents DESC, l_partkey
         LIMIT 100"""),
    // q238: TPC-H Q22 shape — global-avg filter + anti join by nation
    QuerySpec("q238_dormant_high_value", Relational.qDormantHighValue _, Timed,
      // q238: global positive-balance average cross-multiplied
      // (bal·n > Σbal); the NOT EXISTS is the anti join
      """WITH pa AS (SELECT SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                              AS BIGINT)) AS pos_sum,
                            COUNT(*) AS pos_n
                     FROM customer WHERE c_acctbal > 0),
         rec AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= '2000-01-01')
         SELECT n_name, COUNT(*) AS n_dormant,
                CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS bal_sum_cents
         FROM customer, pa
         JOIN nation ON c_nationkey = n_nationkey
         WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * pos_n > pos_sum
           AND NOT EXISTS (SELECT 1 FROM rec WHERE o_custkey = c_custkey)
         GROUP BY 1"""),
    // q239: TPC-H Q18 shape — IN-over-grouped-HAVING via eager agg
    QuerySpec("q239_large_volume_customer", Relational.qLargeVolumeCustomer _, Timed,
      // q239: IN-over-grouped-HAVING via eager aggregation; top-100
      // under the (qty, orderkey) total order
      """WITH big AS (
           SELECT l_orderkey,
                  SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS sum_qty_c
           FROM lineitem GROUP BY 1
           HAVING SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
             AS BIGINT)) > 30000)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                CAST(sum_qty_c AS BIGINT) AS sum_qty_c
         FROM big JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
         ORDER BY sum_qty_c DESC, o_orderkey
         LIMIT 100"""),
    // q240: TPC-H Q20 shape — nested semi-join chain, majority shipper
    QuerySpec("q240_excess_shippers", Relational.qExcessShippers _, Timed,
      // q240: the nested semi-join chain; majority cross-multiplied
      // (2·pair > part total)
      """WITH li AS (
           SELECT l_partkey, l_suppkey,
                  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS qty_c
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE 'red%'
             AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'),
         pp AS (SELECT l_partkey, l_suppkey, SUM(qty_c) AS pair_qty_c
                FROM li GROUP BY 1, 2),
         dom AS (SELECT l_partkey, l_suppkey, pair_qty_c
                 FROM (SELECT *, SUM(pair_qty_c) OVER
                         (PARTITION BY l_partkey) AS part_qty_c
                       FROM pp)
                 WHERE 2 * pair_qty_c > part_qty_c),
         ps AS (SELECT l_suppkey, COUNT(*) AS n_dominated_parts,
                       SUM(pair_qty_c) AS dominated_qty_c
                FROM dom GROUP BY 1)
         SELECT n_name, COUNT(*) AS n_suppliers,
                CAST(SUM(n_dominated_parts) AS BIGINT) AS n_dominated_parts,
                CAST(SUM(dominated_qty_c) AS BIGINT) AS dominated_qty_c
         FROM ps JOIN supplier ON l_suppkey = s_suppkey
                 JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1"""),
    // q241: greedy WordPiece segmentation — the third tokenizer
    // algorithm (rows-only: the vocab cut matches q212's gate;
    // WordpieceSegmentSpec pins greedy ≡ brute force, interp ≡ codegen)
    QuerySpec("q241_wordpiece_segment", TextAnalysis.qWordpieceSegment _, Timed),
    // q242: streaming Count-Min counter state — the seventh bit-exact
    // stream/batch parity, second sketch-state member (rows-only:
    // Murmur hashing is not SQL-expressible; EngagementSpec asserts
    // the streamed matrices equal the batch build bit for bit)
    QuerySpec("q242_streaming_cms", EventTime.qStreamingCms _, Untimed),
    // q243: chi-square independence statistic (exact floored-ppm
    // integer arithmetic) completing q159's contingency audit
    QuerySpec("q243_chi_square", Stats.qChiSquare _, Timed,
      // q243: every numerator/denominator exact integer; each cell a
      // FLOORED ppm division widened to HUGEINT, the statistic their sum
      """WITH cells AS (SELECT lang, source, COUNT(*) AS o
                        FROM documents GROUP BY 1, 2),
         r AS (SELECT lang, SUM(o) AS r FROM cells GROUP BY 1),
         c AS (SELECT source, SUM(o) AS c FROM cells GROUP BY 1),
         t AS (SELECT SUM(o) AS n FROM cells),
         contrib AS (
           SELECT CAST(CAST(o * n - r.r * c.c AS HUGEINT)
                       * CAST(o * n - r.r * c.c AS HUGEINT) * 1000000
                       // (CAST(n AS HUGEINT) * CAST(r.r AS HUGEINT)
                          * CAST(c.c AS HUGEINT)) AS BIGINT) AS cell_ppm
           FROM cells JOIN r USING (lang) JOIN c USING (source), t)
         SELECT CAST(t.n AS BIGINT) AS n,
                (SELECT COUNT(*) FROM cells) AS n_cells,
                CAST(((SELECT COUNT(*) FROM r) - 1)
                     * ((SELECT COUNT(*) FROM c) - 1) AS BIGINT) AS dof,
                CAST((SELECT SUM(cell_ppm) FROM contrib) AS BIGINT)
                  AS chi2_ppm
         FROM t"""),
    // q244: one-way ANOVA F across event types from exact per-group
    // sufficient statistics
    QuerySpec("q244_anova_f", Stats.qAnovaF _, Timed,
      // q244: exact per-group (n, Σv) + widened Σv²; F is the one final
      // double, spelled identically
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         g AS (SELECT event_type, COUNT(*) AS n_i, SUM(v) AS s_i,
                      SUM(CAST(v * v AS HUGEINT)) AS q_i
               FROM ev GROUP BY 1),
         f AS (SELECT SUM(n_i) AS n, COUNT(*) AS k, SUM(s_i) AS s,
                      CAST(SUM(q_i) AS DOUBLE) AS q,
                      SUM(CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
                          / CAST(n_i AS DOUBLE)) AS a
               FROM g),
         fs AS (SELECT n, k,
                       ROUND((a - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                  / CAST(n AS DOUBLE))
                             / (CAST(k AS DOUBLE) - 1.0)
                             / ((q - a) / (CAST(n AS DOUBLE)
                                           - CAST(k AS DOUBLE))), 6)
                         AS f_stat
                FROM f)
         SELECT event_type, CAST(n_i AS BIGINT) AS n_i,
                CAST(s_i AS BIGINT) AS sum_cents,
                CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k, f_stat
         FROM g, fs"""),
    // q245: streaming KMV bottom-k distinct state — the EIGHTH
    // bit-exact stream/batch parity, and the one sketch whose
    // estimator the oracle can recompute exactly
    QuerySpec("q245_streaming_kmv", EventTime.qStreamingKmv _, Untimed,
      // q245: the oracle recomputes the streamed KMV state's readout
      // from scratch — bottom-16 of the distinct md5 domain per type,
      // the k-th hash verbatim (the bit-exactness witness) and the
      // (k−1)/h_(k) estimate spelled as in KmvSketch.finish
      """WITH u AS (SELECT DISTINCT event_type,
                           md5(CAST(user_id AS VARCHAR)) AS h
                    FROM events),
         n AS (SELECT event_type, COUNT(*) AS n_events
               FROM events GROUP BY 1),
         agg AS (SELECT event_type, COUNT(*) AS nd FROM u GROUP BY 1),
         kth AS (SELECT event_type, h AS hk
                 FROM (SELECT event_type, h,
                              row_number() OVER (PARTITION BY event_type
                                                 ORDER BY h) AS r
                       FROM u)
                 WHERE r = 16)
         SELECT a.event_type,
                CAST(n.n_events AS BIGINT) AS n_events,
                CAST(a.nd AS BIGINT) AS n_exact,
                k.hk AS kth_hash,
                CASE WHEN k.hk IS NULL THEN a.nd::DOUBLE
                     ELSE 15.0 / (CAST('0x' || substr(k.hk, 1, 15) AS BIGINT)::DOUBLE
                                   / 1152921504606846976.0)
                END AS kmv_estimate
         FROM agg a JOIN n USING (event_type)
         LEFT JOIN kth k USING (event_type)"""),
    // q246: Cramér's V effect size over q243's exact chi-square
    QuerySpec("q246_cramers_v", Stats.qCramersV _, Timed,
      // q246: V = sqrt(chi2/(N·min(r−1,c−1))) — chi2 is q243's exact
      // floored-ppm integer sum, V the one final double
      """WITH cells AS (SELECT lang, source, COUNT(*) AS o
                        FROM documents GROUP BY 1, 2),
         r AS (SELECT lang, SUM(o) AS r FROM cells GROUP BY 1),
         c AS (SELECT source, SUM(o) AS c FROM cells GROUP BY 1),
         t AS (SELECT SUM(o) AS n FROM cells),
         contrib AS (
           SELECT CAST(CAST(o * n - r.r * c.c AS HUGEINT)
                       * CAST(o * n - r.r * c.c AS HUGEINT) * 1000000
                       // (CAST(n AS HUGEINT) * CAST(r.r AS HUGEINT)
                          * CAST(c.c AS HUGEINT)) AS BIGINT) AS cell_ppm
           FROM cells JOIN r USING (lang) JOIN c USING (source), t),
         agg AS (SELECT SUM(cell_ppm) AS chi2_ppm FROM contrib),
         dims AS (SELECT least((SELECT COUNT(*) FROM r) - 1,
                               (SELECT COUNT(*) FROM c) - 1) AS m)
         SELECT CAST(t.n AS BIGINT) AS n,
                CAST(agg.chi2_ppm AS BIGINT) AS chi2_ppm,
                CAST(dims.m AS BIGINT) AS min_dim,
                ROUND(sqrt(CAST(agg.chi2_ppm AS DOUBLE) / 1000000.0
                           / (CAST(t.n AS DOUBLE) * CAST(dims.m AS DOUBLE))),
                      6) AS cramers_v
         FROM t, agg, dims"""),
    // q247: Cohen's kappa — predictor-vs-label agreement as an exact
    // rational up to one final double
    QuerySpec("q247_cohen_kappa", Stats.qCohenKappa _, Timed,
      // q247: kappa's exact rational — marginal products over the UNION
      // of label spaces, widened to HUGEINT; the predictor restates
      // q21's stopword-overlap argmax without list_intersect
      """WITH tok AS (SELECT doc_id,
                             unnest(list_distinct(
                               string_split_regex(lower(text), '\s+'))) AS t
                      FROM documents),
         hits AS (SELECT doc_id,
                    COUNT(*) FILTER (WHERE t IN ('the','a','of','and','to','in','is','it')) AS en,
                    COUNT(*) FILTER (WHERE t IN ('el','la','de','y','en','es','un','que')) AS es,
                    COUNT(*) FILTER (WHERE t IN ('le','la','de','et','en','est','un','que')) AS fr
                  FROM tok GROUP BY doc_id),
         p AS (SELECT d.lang AS truth,
                      CASE WHEN greatest(coalesce(en, 0), coalesce(es, 0),
                                         coalesce(fr, 0)) = 0 THEN 'und'
                           WHEN coalesce(en, 0) >= coalesce(es, 0)
                                AND coalesce(en, 0) >= coalesce(fr, 0) THEN 'en'
                           WHEN coalesce(es, 0) >= coalesce(fr, 0) THEN 'es'
                           ELSE 'fr' END AS pred
               FROM documents d LEFT JOIN hits USING (doc_id)),
         cells AS (SELECT pred, truth, COUNT(*) AS o FROM p GROUP BY 1, 2),
         tot AS (SELECT SUM(o) AS n,
                        SUM(CASE WHEN pred = truth THEN o ELSE 0 END) AS agree
                 FROM cells),
         rm AS (SELECT pred AS cls, SUM(o) AS r FROM cells GROUP BY 1),
         cm AS (SELECT truth AS cls, SUM(o) AS c FROM cells GROUP BY 1),
         pe AS (SELECT SUM(CAST(coalesce(r, 0) AS HUGEINT)
                           * CAST(coalesce(c, 0) AS HUGEINT)) AS pe_num
                FROM rm FULL JOIN cm USING (cls))
         SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
                CAST(pe_num AS BIGINT) AS pe_num,
                CAST(agree * 1000000 // n AS BIGINT) AS po_ppm,
                CAST(pe_num * 1000000
                     // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT))
                     AS BIGINT) AS pe_ppm,
                ROUND(CAST(CAST(n AS HUGEINT) * CAST(agree AS HUGEINT)
                           - pe_num AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
                             - pe_num AS DOUBLE), 6) AS kappa
         FROM tot, pe"""),
    // q248: Brown–Forsythe variance-homogeneity test on exact
    // value-domain medians
    QuerySpec("q248_levene", Stats.qLevene _, Timed,
      // q248: exact lower median off the value-domain rollup
      // (2·cum ≥ n), then q244's F fold on absolute deviations
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         cnt AS (SELECT event_type, v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
         cum AS (SELECT event_type, v, c,
                        SUM(c) OVER (PARTITION BY event_type ORDER BY v
                                     ROWS UNBOUNDED PRECEDING) AS cum
                 FROM cnt),
         ns AS (SELECT event_type, SUM(c) AS n_tot FROM cnt GROUP BY 1),
         med AS (SELECT event_type, MIN(v) AS med
                 FROM cum JOIN ns USING (event_type)
                 WHERE cum * 2 >= n_tot GROUP BY 1),
         dev AS (SELECT c.event_type, c.c, m.med, abs(c.v - m.med) AS z
                 FROM cnt c JOIN med m USING (event_type)),
         g AS (SELECT event_type, SUM(c) AS n_i, SUM(c * z) AS s_i,
                      SUM(CAST(c AS HUGEINT) * z * z) AS q_i,
                      MIN(med) AS med
               FROM dev GROUP BY 1),
         f AS (SELECT SUM(n_i) AS n, COUNT(*) AS k, SUM(s_i) AS s,
                      CAST(SUM(q_i) AS DOUBLE) AS q,
                      SUM(CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
                          / CAST(n_i AS DOUBLE)) AS a
               FROM g),
         fs AS (SELECT n, k,
                       ROUND((a - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                  / CAST(n AS DOUBLE))
                             / (CAST(k AS DOUBLE) - 1.0)
                             / ((q - a) / (CAST(n AS DOUBLE)
                                           - CAST(k AS DOUBLE))), 6)
                         AS w_stat
                FROM f)
         SELECT g.event_type, CAST(g.n_i AS BIGINT) AS n_i,
                CAST(g.med AS BIGINT) AS med_cents,
                CAST(g.s_i AS BIGINT) AS sum_absdev,
                CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k, w_stat
         FROM g, fs"""),
    // q249: lagged cross-correlation of daily volume vs revenue
    QuerySpec("q249_cross_correlation", Stats.qCrossCorrelation(_, _), Timed,
      // q249: per-lag Pearson sufficient statistics as exact integers
      // (HUGEINT-widened products), r the one final double
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x,
                               SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS y
                        FROM events GROUP BY 1),
         lags AS (SELECT unnest(generate_series(0, 7)) AS lag),
         pairs AS (SELECT l.lag, t.x AS a, s.y AS b
                   FROM lags l, daily t, daily s
                   WHERE s.day = t.day - CAST(l.lag AS INTEGER)),
         g AS (SELECT lag, COUNT(*) AS n_days, SUM(a) AS sa, SUM(b) AS sb,
                      SUM(CAST(a AS HUGEINT) * b) AS sab,
                      SUM(CAST(a AS HUGEINT) * a) AS saa,
                      SUM(CAST(b AS HUGEINT) * b) AS sbb
               FROM pairs GROUP BY 1)
         SELECT CAST(lag AS INT) AS lag, CAST(n_days AS BIGINT) AS n_days,
                CAST(sa AS BIGINT) AS sum_x, CAST(sb AS BIGINT) AS sum_y,
                ROUND(CAST(CAST(n_days AS HUGEINT) * sab
                           - CAST(sa AS HUGEINT) * sb AS DOUBLE)
                      / sqrt(CAST(CAST(n_days AS HUGEINT) * saa
                                  - CAST(sa AS HUGEINT) * sa AS DOUBLE)
                             * CAST(CAST(n_days AS HUGEINT) * sbb
                                    - CAST(sb AS HUGEINT) * sb AS DOUBLE)),
                      6) AS ccf
         FROM g"""),
    // q250: seasonal-naive vs naive forecast error (MASE)
    QuerySpec("q250_seasonal_error", Stats.qSeasonalError _, Timed,
      // q250: exact absolute-error sums over calendar-matched pairs;
      // the scaled MAE ratio is the one final double
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                               COUNT(*) AS y
                        FROM events GROUP BY 1, 2),
         e1 AS (SELECT t.event_type, COUNT(*) AS n1,
                       SUM(abs(t.y - s.y)) AS sae1
                FROM daily t JOIN daily s
                  ON s.event_type = t.event_type AND s.day = t.day - 1
                GROUP BY 1),
         e7 AS (SELECT t.event_type, COUNT(*) AS n7,
                       SUM(abs(t.y - s.y)) AS sae7
                FROM daily t JOIN daily s
                  ON s.event_type = t.event_type AND s.day = t.day - 7
                GROUP BY 1)
         SELECT event_type, CAST(n1 AS BIGINT) AS n1,
                CAST(sae1 AS BIGINT) AS sae1,
                CAST(n7 AS BIGINT) AS n7, CAST(sae7 AS BIGINT) AS sae7,
                ROUND((CAST(sae7 AS DOUBLE) / CAST(n7 AS DOUBLE))
                      / (CAST(sae1 AS DOUBLE) / CAST(n1 AS DOUBLE)), 6)
                  AS mase
         FROM e1 JOIN e7 USING (event_type)"""),
    // q251: common-neighbor/Jaccard link prediction on the
    // co-purchase graph — exact integer scores, capped wedges
    QuerySpec("q251_link_prediction", (s, d) => Graph.qLinkPrediction(s, d), Timed,
      // q251: the oracle mirrors the capped wedge rule exactly
      // (row_number ≤ 64 per middle node, neighbors id-ascending);
      // degrees full-graph; NOT EXISTS instead of ANTI JOIN for
      // portability
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem),
         e AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
         bidir AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         deg AS (SELECT u, COUNT(*) AS dg FROM bidir GROUP BY 1),
         inv AS (SELECT u AS k, v AS nb
                 FROM (SELECT u, v,
                              row_number() OVER (PARTITION BY u
                                                 ORDER BY v) AS rk
                       FROM bidir)
                 WHERE rk <= 64),
         cand AS (SELECT x.nb AS a, y.nb AS b, COUNT(*) AS cn
                  FROM inv x JOIN inv y
                    ON x.k = y.k AND x.nb < y.nb
                  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         ne AS (SELECT a, b, cn FROM cand c
                WHERE NOT EXISTS (SELECT 1 FROM e
                                  WHERE e.u = c.a AND e.v = c.b))
         SELECT ne.a, ne.b, CAST(ne.cn AS BIGINT) AS cn,
                CAST(da.dg AS BIGINT) AS da, CAST(db.dg AS BIGINT) AS db,
                CAST(ne.cn * 1000000 // (da.dg + db.dg - ne.cn) AS BIGINT)
                  AS jaccard_ppm
         FROM ne JOIN deg da ON da.u = ne.a JOIN deg db ON db.u = ne.b
         ORDER BY jaccard_ppm DESC, cn DESC, a, b LIMIT 20"""),
    // q252: deterministic half-sample replication CI (hash-bit
    // membership, one-pass conditional aggregates)
    QuerySpec("q252_subsample_ci", (s, d) => Stats.qSubsampleCi(s, d), Timed,
      // q252: the oracle takes the 32× explode formulation (same math,
      // deliberately different plan than the one-pass conditional
      // aggregates); hash-bit membership off the md5 prefix
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
                            CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                                1, 8) AS BIGINT) AS h
                     FROM events),
         reps AS (SELECT unnest(generate_series(0, 31)) AS b),
         rg AS (SELECT event_type, b, COUNT(*) AS nb, SUM(v) AS sb
                FROM ev, reps WHERE (h >> b) & 1 = 1 GROUP BY 1, 2),
         m AS (SELECT event_type, b,
                      CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS m,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), b)
                        AS rk
               FROM rg),
         sel AS (SELECT event_type,
                        MAX(CASE WHEN rk = 2 THEN m END) AS lo,
                        MAX(CASE WHEN rk = 31 THEN m END) AS hi
                 FROM m GROUP BY 1),
         tot AS (SELECT event_type, COUNT(*) AS n, SUM(v) AS sv
                 FROM ev GROUP BY 1)
         SELECT t.event_type, CAST(t.n AS BIGINT) AS n,
                CAST(t.sv AS BIGINT) AS sum_cents,
                ROUND(CAST(t.sv AS DOUBLE) / CAST(t.n AS DOUBLE) / 100.0, 6)
                  AS mean,
                ROUND(sel.lo / 100.0, 6) AS ci_lo,
                ROUND(sel.hi / 100.0, 6) AS ci_hi
         FROM tot t JOIN sel USING (event_type)"""),
    // q253: determinized synchronous label-propagation communities
    QuerySpec("q253_label_propagation", (s, d) => Graph.qLabelPropagation(s, d), Timed,
      // q253: 5 synchronous LPA rounds unrolled; plurality vote with
      // min-label ties = windowed max + MIN(label), all-integer
      lpaOracle),
    // q254: hard-negative mining (closest different-label vectors)
    QuerySpec("q254_hard_negatives", (s, d) => Similarity.qHardNegatives(s, d), Timed,
      // q254: q32's brute-force device plus the label-inequality
      // predicate — double cosine, vec_id ties, rank ≤ 10
      """WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                           embedding::DOUBLE[] AS q_emb
                    FROM embeddings WHERE vec_id < 5)
         SELECT query_id, q_label, rank, negative, neg_label, cosine FROM (
           SELECT q.query_id, q.q_label, c.vec_id AS negative,
                  c.label AS neg_label,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY list_cosine_similarity(q.q_emb,
                               c.embedding::DOUBLE[]) DESC,
                             c.vec_id ASC) AS rank,
                  ROUND(list_cosine_similarity(q.q_emb,
                          c.embedding::DOUBLE[]), 4) AS cosine
           FROM q, embeddings c WHERE c.label <> q.q_label)
         WHERE rank <= 10"""),
    // q255: pairwise source-mix Jensen–Shannon divergence
    QuerySpec("q255_jsd_matrix", Stats.qJsDivergence _, Timed,
      // q255: zero-filled grid, p·ln(p/m) terms guarded at the zero
      // limit, ≤2·|langs| term fold per pair
      """WITH cells AS (SELECT source, lang, COUNT(*) AS c
                        FROM documents GROUP BY 1, 2),
         grid AS (SELECT s.source, l.lang, coalesce(c.c, 0) AS c
                  FROM (SELECT DISTINCT source FROM cells) s
                  CROSS JOIN (SELECT DISTINCT lang FROM cells) l
                  LEFT JOIN cells c USING (source, lang)),
         tot AS (SELECT source, SUM(c) AS n FROM grid GROUP BY 1),
         g AS (SELECT grid.source, grid.lang, grid.c, tot.n
               FROM grid JOIN tot USING (source))
         SELECT a.source AS sa, b.source AS sb,
                CAST(MAX(a.n) AS BIGINT) AS n_a,
                CAST(MAX(b.n) AS BIGINT) AS n_b,
                ROUND(SUM(
                  (CASE WHEN a.c > 0 THEN
                     (CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE))
                     * LN((CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE))
                          / ((CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE)
                              + CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
                             / 2.0))
                   ELSE 0.0 END)
                  + (CASE WHEN b.c > 0 THEN
                       (CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
                       * LN((CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
                            / ((CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE)
                                + CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
                               / 2.0))
                     ELSE 0.0 END)) / 2.0, 6) AS jsd_nats
         FROM g a JOIN g b ON a.lang = b.lang AND a.source < b.source
         GROUP BY 1, 2"""),
    // q256: KMV sketch set algebra — union/Jaccard estimates for
    // every type pair from O(k) state, exact audit leg beside them
    QuerySpec("q256_kmv_set_algebra", (s, d) => Pipeline.qKmvSetAlgebra(s, d), Timed,
      // q256: the oracle recomputes the whole sketch algebra from
      // scratch — per-type bottom-16 via window ranks, merged-union
      // ranks per pair, sketch-membership match counts, q87's estimator
      """WITH u AS (SELECT DISTINCT event_type AS t,
                           md5(CAST(user_id AS VARCHAR)) AS h
                    FROM events),
         sk AS (SELECT t, h FROM (SELECT t, h,
                  row_number() OVER (PARTITION BY t ORDER BY h) AS rn
                  FROM u) WHERE rn <= 16),
         nd AS (SELECT t, COUNT(*) AS nd FROM u GROUP BY 1),
         types AS (SELECT DISTINCT t FROM u),
         pairs AS (SELECT a.t AS ta, b.t AS tb
                   FROM types a, types b WHERE a.t < b.t),
         tu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
         inter AS (SELECT x.t AS ta, y.t AS tb, COUNT(*) AS ni
                   FROM tu x JOIN tu y USING (user_id)
                   WHERE x.t < y.t GROUP BY 1, 2),
         m AS (SELECT DISTINCT p.ta, p.tb, s.h
               FROM pairs p JOIN sk s ON s.t IN (p.ta, p.tb)),
         uk AS (SELECT ta, tb, h FROM (SELECT ta, tb, h,
                  row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
                  FROM m) WHERE rn <= 16),
         kth AS (SELECT ta, tb, MAX(h) AS hk, COUNT(*) AS nk
                 FROM uk GROUP BY 1, 2),
         mt AS (SELECT u.ta, u.tb, COUNT(*) AS match_k
                FROM uk u JOIN sk a ON a.t = u.ta AND a.h = u.h
                          JOIN sk b ON b.t = u.tb AND b.h = u.h
                GROUP BY 1, 2)
         SELECT p.ta, p.tb,
                CAST(na.nd + nb.nd - coalesce(i.ni, 0) AS BIGINT)
                  AS n_exact_union,
                CAST(coalesce(i.ni, 0) AS BIGINT) AS n_exact_inter,
                ROUND(CASE WHEN k.nk < 16 THEN k.nk::DOUBLE
                      ELSE 15.0 / (CAST('0x' || substr(k.hk, 1, 15) AS BIGINT)::DOUBLE
                                    / 1152921504606846976.0) END, 2)
                  AS est_union,
                CAST(coalesce(mt.match_k, 0) AS BIGINT) AS match_k,
                CAST(coalesce(mt.match_k, 0) * 1000000 // 16 AS BIGINT)
                  AS jaccard_est_ppm,
                CAST(coalesce(i.ni, 0) * 1000000
                     // (na.nd + nb.nd - coalesce(i.ni, 0)) AS BIGINT)
                  AS jaccard_exact_ppm
         FROM pairs p
         JOIN nd na ON na.t = p.ta
         JOIN nd nb ON nb.t = p.tb
         LEFT JOIN inter i ON i.ta = p.ta AND i.tb = p.tb
         JOIN kth k ON k.ta = p.ta AND k.tb = p.tb
         LEFT JOIN mt ON mt.ta = p.ta AND mt.tb = p.tb"""),
    // q257: held-out unigram perplexity (80/20 hash split, add-1)
    QuerySpec("q257_heldout_perplexity", TextAnalysis.qHeldoutPerplexity _, Timed,
      // q257: 80/20 md5-prefix split, add-1 unigram LM on train,
      // per-source held-out NLL/token + OOV over test
      """WITH tk AS (SELECT doc_id, source,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                      AS INT) % 5 AS bucket,
                 unnest(string_split_regex(lower(text), '\s+')) AS w
               FROM documents),
         tok AS (SELECT * FROM tk WHERE length(w) > 0),
         train AS (SELECT * FROM tok WHERE bucket <> 0),
         test AS (SELECT * FROM tok WHERE bucket = 0),
         cnts AS (SELECT w, COUNT(*) AS c FROM train GROUP BY 1),
         nv AS (SELECT COUNT(*) AS n, COUNT(DISTINCT w) AS v FROM train)
         SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
                COUNT(*) AS n_tokens,
                CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_oov,
                CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) * 1000000
                     // COUNT(*) AS BIGINT) AS oov_ppm,
                ROUND(SUM(-LN((coalesce(c, 0)::DOUBLE + 1.0)
                              / (n + v)::DOUBLE)) / COUNT(*), 6)
                  AS nll_per_token
         FROM test LEFT JOIN cnts USING (w), nv
         GROUP BY source"""),
    // q258: RFM quintile segmentation via value-domain rank cuts
    QuerySpec("q258_rfm_segments", Stats.qRfmSegments _, Timed,
      // q258: quintile cut points off each metric's value-domain rollup
      // (5·cum ≥ q·n), membership by threshold compare — no user sort
      """WITH pu AS (SELECT user_id, MAX(epoch_us(ts)) AS last_us,
                            COUNT(*) AS freq,
                            SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                              AS money
                     FROM events GROUP BY 1),
         g AS (SELECT MAX(last_us) AS gmax FROM pu),
         m AS (SELECT user_id,
                      (g.gmax - last_us) // 86400000000 AS rec_days,
                      freq, money
               FROM pu, g),
         nt AS (SELECT COUNT(*) AS n FROM m),
         rcum AS (SELECT v, SUM(c) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS cum
                  FROM (SELECT rec_days AS v, COUNT(*) AS c FROM m
                        GROUP BY 1)),
         rcut AS (SELECT MIN(CASE WHEN cum * 5 >= n * 1 THEN v END) AS r1,
                         MIN(CASE WHEN cum * 5 >= n * 2 THEN v END) AS r2,
                         MIN(CASE WHEN cum * 5 >= n * 3 THEN v END) AS r3,
                         MIN(CASE WHEN cum * 5 >= n * 4 THEN v END) AS r4
                  FROM rcum, nt),
         fcum AS (SELECT v, SUM(c) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS cum
                  FROM (SELECT freq AS v, COUNT(*) AS c FROM m GROUP BY 1)),
         fcut AS (SELECT MIN(CASE WHEN cum * 5 >= n * 1 THEN v END) AS f1,
                         MIN(CASE WHEN cum * 5 >= n * 2 THEN v END) AS f2,
                         MIN(CASE WHEN cum * 5 >= n * 3 THEN v END) AS f3,
                         MIN(CASE WHEN cum * 5 >= n * 4 THEN v END) AS f4
                  FROM fcum, nt),
         mcum AS (SELECT v, SUM(c) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS cum
                  FROM (SELECT money AS v, COUNT(*) AS c FROM m GROUP BY 1)),
         mcut AS (SELECT MIN(CASE WHEN cum * 5 >= n * 1 THEN v END) AS m1,
                         MIN(CASE WHEN cum * 5 >= n * 2 THEN v END) AS m2,
                         MIN(CASE WHEN cum * 5 >= n * 3 THEN v END) AS m3,
                         MIN(CASE WHEN cum * 5 >= n * 4 THEN v END) AS m4
                  FROM mcum, nt)
         SELECT r_q, f_q, m_q, COUNT(*) AS n_users,
                CAST(SUM(money) AS BIGINT) AS sum_cents
         FROM (SELECT money,
                 1 + (rec_days > r1)::INT + (rec_days > r2)::INT
                   + (rec_days > r3)::INT + (rec_days > r4)::INT AS r_q,
                 1 + (freq > f1)::INT + (freq > f2)::INT
                   + (freq > f3)::INT + (freq > f4)::INT AS f_q,
                 1 + (money > m1)::INT + (money > m2)::INT
                   + (money > m3)::INT + (money > m4)::INT AS m_q
               FROM m, rcut, fcut, mcut)
         GROUP BY 1, 2, 3"""),
    // q259: class-balance audit — inverse-frequency weights + ESS
    QuerySpec("q259_class_balance", Pipeline.qClassBalance _, Timed,
      // q259: balanced weights as exact floored ppm; ESS via the Kish
      // closed form k²/Σ(1/n_cell)
      """WITH cells AS (SELECT source, lang, COUNT(*) AS n_cell
                        FROM documents GROUP BY 1, 2),
         tot AS (SELECT SUM(n_cell) AS n, COUNT(*) AS k,
                        SUM(1.0 / n_cell::DOUBLE) AS inv_sum
                 FROM cells)
         SELECT source, lang, CAST(n_cell AS BIGINT) AS n_cell,
                CAST(n * 1000000 // (k * n_cell) AS BIGINT) AS weight_ppm,
                CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
                ROUND(k::DOUBLE * k::DOUBLE / inv_sum, 2) AS ess,
                ROUND(k::DOUBLE * k::DOUBLE / inv_sum / n::DOUBLE, 6)
                  AS ess_ratio
         FROM cells, tot"""),
    // q260: k-fold cross-validated nearest-centroid accuracy
    QuerySpec("q260_cv_centroid", (s, d) => Similarity.qCvCentroid(s, d), Timed,
      // q260: leave-fold-out centroids via the algebraic complement
      // (total − fold)/(n − n_fold); cosine via a dim join; argmax by
      // (cosine desc, label asc)
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e,
                 CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)
                      AS INT) % 5 AS fold
               FROM embeddings),
         long AS (SELECT vec_id, label, fold, i AS dim, e[i] AS val
                  FROM v, UNNEST(generate_series(1, len(e))) AS t(i)),
         sums AS (SELECT label, fold, dim, SUM(val) AS sf
                  FROM long GROUP BY 1, 2, 3),
         tot AS (SELECT label, dim, SUM(sf) AS st FROM sums GROUP BY 1, 2),
         cnt AS (SELECT label, fold, COUNT(*) AS nlf FROM v GROUP BY 1, 2),
         ctot AS (SELECT label, COUNT(*) AS nl FROM v GROUP BY 1),
         cent AS (SELECT s.fold, s.label AS cand, s.dim,
                         (t.st - s.sf) / (ct.nl - c.nlf) AS cv
                  FROM sums s JOIN tot t USING (label, dim)
                  JOIN cnt c USING (label, fold)
                  JOIN ctot ct USING (label)),
         dots AS (SELECT l.vec_id, l.label, l.fold, ce.cand,
                         SUM(l.val * ce.cv) AS dot,
                         SUM(ce.cv * ce.cv) AS nc, SUM(l.val * l.val) AS nv
                  FROM long l JOIN cent ce
                    ON ce.fold = l.fold AND ce.dim = l.dim
                  GROUP BY 1, 2, 3, 4),
         pred AS (SELECT vec_id, label, fold,
                         (array_agg(cand ORDER BY
                            dot / sqrt(nc * nv) DESC, cand ASC))[1] AS pred
                  FROM dots GROUP BY 1, 2, 3)
         SELECT fold, COUNT(*) AS n,
                CAST(SUM(CASE WHEN label = pred THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct,
                CAST(SUM(CASE WHEN label = pred THEN 1 ELSE 0 END)
                     * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
         FROM pred GROUP BY 1"""),
    // q261: Dunning log-likelihood-ratio collocations
    QuerySpec("q261_collocation_llr", (s, d) => TextAnalysis.qCollocationLlr(s, d), Timed,
      // q261: q153's bigram rollup with Dunning's G² in place of lift;
      // zero cells contribute the 0·ln0 = 0 limit
      """WITH t AS (
           SELECT string_split_regex(lower(text), '\s+') AS w FROM documents),
         bg AS (
           SELECT unnest(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i + 1])) AS bg
           FROM t WHERE len(w) >= 2),
         bc AS (
           SELECT string_split(bg, ' ')[1] AS w1,
                  string_split(bg, ' ')[2] AS w2, COUNT(*) AS o11
           FROM bg GROUP BY 1, 2),
         r AS (SELECT w1, SUM(o11) AS r1 FROM bc GROUP BY 1),
         c AS (SELECT w2, SUM(o11) AS c1 FROM bc GROUP BY 1),
         tot AS (SELECT SUM(o11) AS n FROM bc)
         SELECT w1, w2, CAST(o11 AS BIGINT) AS o11,
                CAST(r1 AS BIGINT) AS r1, CAST(c1 AS BIGINT) AS c1,
                CAST(n AS BIGINT) AS n,
                ROUND(2.0 * (
                  CASE WHEN o11 > 0 THEN o11::DOUBLE
                    * LN(o11::DOUBLE * n::DOUBLE / (r1::DOUBLE * c1::DOUBLE))
                    ELSE 0.0 END
                + CASE WHEN r1 - o11 > 0 THEN (r1 - o11)::DOUBLE
                    * LN((r1 - o11)::DOUBLE * n::DOUBLE
                         / (r1::DOUBLE * (n - c1)::DOUBLE)) ELSE 0.0 END
                + CASE WHEN c1 - o11 > 0 THEN (c1 - o11)::DOUBLE
                    * LN((c1 - o11)::DOUBLE * n::DOUBLE
                         / ((n - r1)::DOUBLE * c1::DOUBLE)) ELSE 0.0 END
                + CASE WHEN n - r1 - c1 + o11 > 0
                    THEN (n - r1 - c1 + o11)::DOUBLE
                    * LN((n - r1 - c1 + o11)::DOUBLE * n::DOUBLE
                         / ((n - r1)::DOUBLE * (n - c1)::DOUBLE))
                    ELSE 0.0 END), 4) AS llr
         FROM bc JOIN r USING (w1) JOIN c USING (w2), tot
         WHERE o11 >= 5
         ORDER BY llr DESC, w1, w2 LIMIT 20"""),
    // q262: weekly PSI drift timeline vs the first week's deciles
    QuerySpec("q262_psi_timeline", (s, d) => Stats.qPsiTimeline(s, d), Timed,
      // q262: deciles fit on week 0 only (q190's device), full
      // (type, week, band) grid so empty bands keep their smoothed term
      """WITH ev AS (SELECT event_type, value, event_id,
                            CAST(ts AS DATE) AS day FROM events),
         st AS (SELECT MIN(day) AS d0 FROM ev),
         tagged AS (SELECT ev.*,
                           date_diff('day', st.d0, ev.day) // 7 AS week
                    FROM ev, st),
         fst AS (SELECT *, NTILE(10) OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS band
                 FROM tagged WHERE week = 0),
         edges AS (SELECT event_type, band, MAX(value) AS edge
                   FROM fst GROUP BY 1, 2 HAVING band < 10),
         assign AS (SELECT t.event_type, t.week,
                           1 + (SELECT COUNT(*) FROM edges e
                                WHERE e.event_type = t.event_type
                                  AND e.edge < t.value) AS band
                    FROM tagged t),
         cells AS (SELECT event_type, week, band, COUNT(*) AS cw
                   FROM assign GROUP BY 1, 2, 3),
         basec AS (SELECT event_type, band, cw AS cb FROM cells
                   WHERE week = 0),
         keys AS (SELECT DISTINCT a.event_type, a.week, b.band
                  FROM (SELECT DISTINCT event_type, week FROM tagged
                        WHERE week > 0) a,
                       (SELECT unnest(generate_series(1, 10)) AS band) b),
         grid AS (SELECT k.event_type, k.week, k.band,
                         coalesce(c.cw, 0) AS cw, coalesce(bc.cb, 0) AS cb
                  FROM keys k
                  LEFT JOIN cells c ON c.event_type = k.event_type
                    AND c.week = k.week AND c.band = k.band
                  LEFT JOIN basec bc ON bc.event_type = k.event_type
                    AND bc.band = k.band),
         tots AS (SELECT event_type, week, SUM(cw) AS nw, SUM(cb) AS nb
                  FROM grid GROUP BY 1, 2)
         SELECT g.event_type, CAST(g.week AS BIGINT) AS week,
                CAST(MAX(t.nw) AS BIGINT) AS n_events,
                ROUND(SUM((CAST(g.cw + 1 AS DOUBLE) / (t.nw + 10)
                           - CAST(g.cb + 1 AS DOUBLE) / (t.nb + 10))
                      * LN((CAST(g.cw + 1 AS DOUBLE) / (t.nw + 10))
                           / (CAST(g.cb + 1 AS DOUBLE) / (t.nb + 10)))), 6)
                  AS psi
         FROM grid g JOIN tots t USING (event_type, week)
         GROUP BY 1, 2"""),
    // q263: two-proportion z-test on conversion between the CUPED arms
    QuerySpec("q263_two_proportion", Stats.qTwoProportion _, Timed,
      // q263: exact per-arm converter counts, pooled z the one double
      """WITH pu AS (SELECT user_id,
                            MAX(CASE WHEN event_type = 'purchase'
                                     AND value >= 95
                                     THEN 1 ELSE 0 END) AS conv,
                            user_id % 2 AS arm
                     FROM events GROUP BY user_id),
         arms AS (SELECT arm, COUNT(*) AS n, SUM(conv) AS c
                  FROM pu GROUP BY 1),
         a AS (SELECT n AS n_a, c AS conv_a FROM arms WHERE arm = 0),
         b AS (SELECT n AS n_b, c AS conv_b FROM arms WHERE arm = 1)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
                CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
                CAST(conv_a * 1000000 // n_a AS BIGINT) AS p_a_ppm,
                CAST(conv_b * 1000000 // n_b AS BIGINT) AS p_b_ppm,
                ROUND((conv_a::DOUBLE / n_a::DOUBLE
                       - conv_b::DOUBLE / n_b::DOUBLE)
                      / NULLIF(sqrt(((conv_a + conv_b)::DOUBLE
                                     / (n_a + n_b)::DOUBLE)
                             * (1.0 - (conv_a + conv_b)::DOUBLE
                                      / (n_a + n_b)::DOUBLE)
                             * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)),
                          0.0), 6) AS z
         FROM a, b"""),
    // q264: week-over-week shipment-rank movers (trending items)
    QuerySpec("q264_rank_movers", (s, d) => Stats.qRankMovers(s, d), Timed,
      // q264: per-week rank under (count desc, part), top-100 cut,
      // consecutive-week join, top-10 climbers total order
      """WITH li AS (SELECT l_partkey AS part,
                            CAST(l_shipdate AS DATE) AS day
                     FROM lineitem),
         st AS (SELECT MIN(day) AS d0 FROM li),
         weekly AS (SELECT date_diff('day', st.d0, li.day) // 7 AS week,
                           part, COUNT(*) AS cnt
                    FROM li, st GROUP BY 1, 2),
         ranked AS (SELECT week, part, cnt,
                           row_number() OVER (PARTITION BY week
                             ORDER BY cnt DESC, part) AS rk
                    FROM weekly),
         top AS (SELECT * FROM ranked WHERE rk <= 100)
         SELECT c.week AS week, c.part AS part,
                CAST(c.rk AS INT) AS cur_rank,
                CAST(p.rk AS INT) AS prev_rank,
                CAST(p.rk - c.rk AS INT) AS delta,
                CAST(c.cnt AS BIGINT) AS cnt,
                CAST(p.cnt AS BIGINT) AS prev_cnt
         FROM top c JOIN top p
           ON p.part = c.part AND p.week = c.week - 1
         ORDER BY delta DESC, week, part LIMIT 10"""),
    // q265: streaming Bloom membership state — the NINTH bit-exact
    // stream/batch parity (bitwise-OR algebra)
    QuerySpec("q265_streaming_bloom", EventTime.qStreamingBloom _, Untimed),
    // q266: hard-negative mining through the persisted IVF index —
    // q254's scale path (partition-pruned candidates, label re-rank)
    QuerySpec("q266_hard_negatives_ivf", (s, d) => Similarity.qHardNegativesIvf(s, d), Timed),
    // q267: Efraimidis–Spirakis weighted sampling without replacement
    QuerySpec("q267_weighted_sample", (s, d) => Pipeline.qWeightedSample(s, d), Timed,
      // q267: A-Res keys ln(u)/w with u = (md5₁₅+1)/16¹⁵ ∈ (0,1],
      // ordered by the unrounded key, doc_id ties
      """WITH t AS (SELECT doc_id,
                           len(string_split_regex(text, '\s+')) AS w,
                           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 15) AS BIGINT) AS h
                    FROM documents)
         SELECT doc_id, CAST(w AS BIGINT) AS weight,
                ROUND(LN((h + 1)::DOUBLE / 1152921504606846976.0)
                      / w::DOUBLE, 6) AS ares_key
         FROM t WHERE w > 0
         ORDER BY LN((h + 1)::DOUBLE / 1152921504606846976.0) / w::DOUBLE
                  DESC, doc_id
         LIMIT 20"""),
    // q268: weekly P50/P90 exact percentile timeline (SLO monitor)
    QuerySpec("q268_percentile_timeline", Stats.qPercentileTimeline _, Timed,
      // q268: exact ranked-element weekly percentiles (2·cum ≥ n and
      // 10·cum ≥ 9n off the value-domain rollup)
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         st AS (SELECT MIN(day) AS d0 FROM ev),
         keyed AS (SELECT event_type,
                          date_diff('day', st.d0, ev.day) // 7 AS week, v
                   FROM ev, st),
         cnt AS (SELECT event_type, week, v, COUNT(*) AS c
                 FROM keyed GROUP BY 1, 2, 3),
         cum AS (SELECT event_type, week, v, c,
                        SUM(c) OVER (PARTITION BY event_type, week
                                     ORDER BY v ROWS UNBOUNDED PRECEDING)
                          AS cum
                 FROM cnt),
         ns AS (SELECT event_type, week, SUM(c) AS n
                FROM cnt GROUP BY 1, 2)
         SELECT c.event_type, CAST(c.week AS BIGINT) AS week,
                CAST(MAX(n.n) AS BIGINT) AS n,
                CAST(MIN(CASE WHEN cum * 2 >= n THEN v END) AS BIGINT)
                  AS p50_cents,
                CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS BIGINT)
                  AS p90_cents
         FROM cum c JOIN ns n USING (event_type, week)
         GROUP BY 1, 2"""),
    // q269: top-k WITH TIES via a broadcast threshold, no catalog rank
    QuerySpec("q269_topk_ties", (s, d) => Relational.qTopKTies(s, d), Timed,
      // q269: threshold = the k-th qty under (qty desc, part); keep
      // qty ≥ threshold, RANK over survivors only
      """WITH qty AS (SELECT l_partkey AS part,
                             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                                           * 100 AS BIGINT)) AS BIGINT)
                               AS qty_x100
                      FROM lineitem GROUP BY 1),
         thr AS (SELECT MIN(qty_x100) AS thr FROM (
                   SELECT qty_x100 FROM qty
                   ORDER BY qty_x100 DESC, part LIMIT 10))
         SELECT CAST(rank() OVER (ORDER BY qty_x100 DESC) AS INT) AS rank,
                part, qty_x100
         FROM qty, thr WHERE qty_x100 >= thr"""),
    // q270: as-of join with a staleness tolerance (date-domain bound)
    QuerySpec("q270_asof_tolerance", (s, d) => Relational.qAsofTolerance(s, d), Timed,
      // q270: DuckDB native ASOF LEFT JOIN against the second-deduped
      // purchase side + the same integer staleness predicate
      """WITH purch AS (SELECT user_id AS p_user,
                               CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS p_sec,
                               MAX(CAST(ROUND(value * 100, 0) AS BIGINT))
                                 AS cents
                        FROM events WHERE event_type = 'purchase'
                        GROUP BY 1, 2),
         p2 AS (SELECT p_user, p_sec, cents,
                       make_timestamp(p_sec * 1000000) AS p_ts
                FROM purch),
         le AS (SELECT event_id, user_id, ts,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS e_sec
                FROM events WHERE event_type <> 'purchase')
         SELECT event_id, user_id,
                CASE WHEN p_sec IS NOT NULL AND e_sec - p_sec <= 172800
                     THEN cents END AS last_purchase_cents,
                CASE WHEN p_sec IS NOT NULL AND e_sec - p_sec <= 172800
                     THEN e_sec - p_sec END AS age_sec,
                CASE WHEN p_sec IS NOT NULL AND e_sec - p_sec <= 172800
                     THEN 1 ELSE 0 END AS matched
         FROM le ASOF LEFT JOIN p2
           ON le.user_id = p2.p_user AND p2.p_ts <= le.ts"""),
    // q271: equi-depth decile edges as a first-class binning artifact
    QuerySpec("q271_equidepth_edges", (s, d) => Stats.qEquidepthEdges(s, d), Timed,
      // q271: edge j = smallest v with 10·cum ≥ j·n, per type
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         cnt AS (SELECT event_type, v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
         cum AS (SELECT event_type, v, c,
                        SUM(c) OVER (PARTITION BY event_type ORDER BY v
                                     ROWS UNBOUNDED PRECEDING) AS cum
                 FROM cnt),
         ns AS (SELECT event_type, SUM(c) AS n FROM cnt GROUP BY 1),
         js AS (SELECT unnest(generate_series(1, 9)) AS j)
         SELECT c.event_type, CAST(j.j AS INT) AS j,
                CAST(MAX(n.n) AS BIGINT) AS n,
                CAST(MIN(c.v) AS BIGINT) AS edge_cents
         FROM cum c JOIN ns n USING (event_type), js j
         WHERE c.cum * 10 >= j.j * n.n
         GROUP BY 1, 2"""),
    // q272: tie-adjusted two-sample Anderson–Darling (tail-sensitive
    // distribution compare, Scholz–Stephens midranks)
    QuerySpec("q272_anderson_darling", (s, d) => Stats.qAndersonDarling(s, d), Timed,
      // q272: the doubled-midrank reduction — per distinct-value block
      // X = N·2B̄ − n_a·2H̄ and Y = 2H̄(2N−2H̄) − N·h, term = h·X²/Y;
      // A² = (N−1)/N² · Σ_a Σ_j term/n_a
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events
                     WHERE event_type IN ('purchase', 'view')),
         cells AS (SELECT v,
                          SUM(CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END) AS ba,
                          SUM(CASE WHEN event_type = 'view'
                                   THEN 1 ELSE 0 END) AS bb
                   FROM ev GROUP BY 1),
         cum AS (SELECT v, ba, bb, ba + bb AS h,
                        SUM(ba + bb) OVER (ORDER BY v
                          ROWS UNBOUNDED PRECEDING) * 2 - (ba + bb) AS h2,
                        SUM(ba) OVER (ORDER BY v
                          ROWS UNBOUNDED PRECEDING) * 2 - ba AS ba2,
                        SUM(bb) OVER (ORDER BY v
                          ROWS UNBOUNDED PRECEDING) * 2 - bb AS bb2
                 FROM cells),
         tot AS (SELECT SUM(ba) AS na, SUM(bb) AS nb,
                        COUNT(*) AS nblocks, SUM(ba + bb) AS nn
                 FROM cells),
         terms AS (SELECT
             CASE WHEN h2 * (2 * nn - h2) - nn * h > 0
                  THEN h::DOUBLE * (nn * ba2 - na * h2)::DOUBLE
                       * (nn * ba2 - na * h2)::DOUBLE
                       / (h2 * (2 * nn - h2) - nn * h)::DOUBLE
                  ELSE 0.0 END AS ta,
             CASE WHEN h2 * (2 * nn - h2) - nn * h > 0
                  THEN h::DOUBLE * (nn * bb2 - nb * h2)::DOUBLE
                       * (nn * bb2 - nb * h2)::DOUBLE
                       / (h2 * (2 * nn - h2) - nn * h)::DOUBLE
                  ELSE 0.0 END AS tb
           FROM cum, tot)
         SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
                CAST(t.nblocks AS BIGINT) AS n_blocks,
                ROUND((t.nn::DOUBLE - 1.0) / (t.nn::DOUBLE * t.nn::DOUBLE)
                      * ((SELECT SUM(ta) FROM terms) / t.na::DOUBLE
                         + (SELECT SUM(tb) FROM terms) / t.nb::DOUBLE), 6)
                  AS a2
         FROM tot t"""),
    // q273: Cohen's d / Hedges' g — the effect-size readout completing
    // the A/B triplet (test q234, CI q252, magnitude here)
    QuerySpec("q273_cohens_d", Stats.qCohensD _, Timed,
      // q273: pooled-SD effect size from q234's exact sufficient sums;
      // d and Hedges' g are the final doubles, NULLed-denominator guard
      """WITH ev AS (SELECT event_type,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         arms AS (SELECT unnest(['click', 'error', 'signup', 'purchase'])
                    AS pair),
         tagged AS (SELECT a.pair,
                           CASE WHEN e.event_type = a.pair THEN 1 ELSE 0 END
                             AS in_arm, e.v
                    FROM arms a JOIN ev e
                      ON e.event_type IN (a.pair, 'view')),
         st AS (SELECT pair, SUM(in_arm) AS n1,
                       SUM(1 - in_arm) AS n2,
                       SUM(in_arm * v) AS s1, SUM((1 - in_arm) * v) AS s2,
                       SUM(CAST(in_arm * v AS HUGEINT) * v) AS q1,
                       SUM(CAST((1 - in_arm) * v AS HUGEINT) * v) AS q2
                FROM tagged GROUP BY 1)
         SELECT pair, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                CAST(s1 AS BIGINT) AS sum1_cents,
                CAST(s2 AS BIGINT) AS sum2_cents,
                ROUND((s1::DOUBLE / n1::DOUBLE - s2::DOUBLE / n2::DOUBLE)
                      / NULLIF(sqrt(((q1::DOUBLE - s1::DOUBLE * s1::DOUBLE
                                      / n1::DOUBLE)
                                     + (q2::DOUBLE - s2::DOUBLE * s2::DOUBLE
                                        / n2::DOUBLE))
                                    / (n1::DOUBLE + n2::DOUBLE - 2.0)), 0.0),
                      6) AS cohens_d,
                ROUND((s1::DOUBLE / n1::DOUBLE - s2::DOUBLE / n2::DOUBLE)
                      / NULLIF(sqrt(((q1::DOUBLE - s1::DOUBLE * s1::DOUBLE
                                      / n1::DOUBLE)
                                     + (q2::DOUBLE - s2::DOUBLE * s2::DOUBLE
                                        / n2::DOUBLE))
                                    / (n1::DOUBLE + n2::DOUBLE - 2.0)), 0.0)
                      * (1.0 - 3.0 / (4.0 * (n1::DOUBLE + n2::DOUBLE) - 9.0)),
                      6) AS hedges_g
         FROM st"""),
    // q274: blocked Levenshtein near-dup pairs — typo-level entity
    // resolution (length-band prefilter before the O(len²) DP)
    QuerySpec("q274_edit_distance_pairs", (s, d) => Dedup.qEditDistancePairs(s, d), Timed,
      // q274: blocked Levenshtein pairs — both engines implement classic
      // unweighted edit distance, so the gate hashes exact integers;
      // the length-band prefilter is part of the semantics (a lower
      // bound on the distance, so it drops nothing under the threshold)
      """SELECT a.p_brand, a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
                CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND b.p_partkey > a.p_partkey
         WHERE abs(length(a.p_name) - length(b.p_name)) <= 4
           AND levenshtein(a.p_name, b.p_name) <= 4"""),
    // q275: Benford first-digit forensic audit over exact cents
    QuerySpec("q275_benford_audit", Stats.qBenfordAudit _, Timed,
      // q275: Benford — the digit comes from the BIGINT cents STRING
      // (integer rendering is engine-invariant; double rendering is
      // not); log10 is the single final libm step, spelled identically
      """WITH c AS (SELECT CAST(substr(CAST(CAST(CAST(l_extendedprice
                      AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
                      AS INT) AS digit
                    FROM lineitem),
         g AS (SELECT digit, COUNT(*) AS n_obs FROM c
               WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
         t AS (SELECT SUM(n_obs) AS n_total FROM g)
         SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
                n_obs::DOUBLE / t.n_total::DOUBLE AS obs_freq,
                LOG10(1.0 + 1.0 / digit::DOUBLE) AS expected_freq
         FROM g, t"""),
    // q276: interval-concurrency sweep — µs-weighted histogram of
    // concurrent-session levels via the ±1 boundary sweep
    QuerySpec("q276_concurrency_sweep", (s, d) => Relational.qConcurrencySweep(s, d), Timed,
      // q276: the ±1 sweep; ties order by (t, delta DESC) and the
      // running sum uses the default RANGE frame on BOTH engines, so
      // peer rows share the post-peer-group sum and the (level,
      // duration) multiset is tie-order-invariant
      """WITH t AS (
           SELECT user_id, ts, CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END
                    AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts, SUM(new_sess) OVER (PARTITION BY user_id
                 ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM t),
         iv AS (SELECT user_id, sess, epoch_us(MIN(ts)) AS s_us,
                       epoch_us(MAX(ts)) AS e_us
                FROM s GROUP BY user_id, sess),
         pts AS (SELECT s_us AS t, 1 AS delta FROM iv
                 UNION ALL SELECT e_us, -1 FROM iv),
         sw AS (SELECT CAST(SUM(delta) OVER (ORDER BY t, delta DESC) AS BIGINT)
                         AS conc,
                       LEAD(t) OVER (ORDER BY t, delta DESC) - t AS dur_us
                FROM pts)
         SELECT conc AS concurrency, CAST(SUM(dur_us) AS BIGINT) AS total_us
         FROM sw WHERE dur_us IS NOT NULL AND dur_us > 0
         GROUP BY conc"""),
    // q277: decile gains/lift table with deterministic exact deciles
    QuerySpec("q277_decile_lift", Relational.qDecileLift _, Timed,
      // q277: deciles from ROW_NUMBER over (spend DESC, custkey) — fully
      // deterministic under ties (NTILE's remainder placement is not
      // contract-stable across engines); floor division on nonnegative
      // numerators agrees between Spark div and DuckDB //
      """WITH spend AS (SELECT o_custkey,
                  SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS cents
                FROM orders GROUP BY o_custkey),
         n AS (SELECT COUNT(*) AS n FROM spend),
         r AS (SELECT cents,
                      ((CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey)
                          AS BIGINT) - 1) * 10) // n.n AS decile
               FROM spend, n),
         g AS (SELECT decile, COUNT(*) AS n_customers, SUM(cents) AS sum_cents
               FROM r GROUP BY decile)
         SELECT decile, CAST(n_customers AS BIGINT) AS n_customers,
                CAST(sum_cents AS BIGINT) AS sum_cents,
                CAST(SUM(sum_cents) OVER (ORDER BY decile
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
         FROM g"""),
    // q278: Kendall τ-b per nation (exact concordance/tie counts)
    QuerySpec("q278_kendall_tau", Stats.qKendallTau _, Timed,
      // q278: Kendall τ-b — concordance over nation-blocked pairs of the
      // per-customer aggregate; SIGN on doubles (cents < 2^53, exact);
      // τ-b denominator NULLed at zero on both engines
      """WITH spend AS (SELECT o_custkey, COUNT(*) AS x,
                  SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS y
                FROM orders GROUP BY o_custkey),
         cust AS (SELECT c_nationkey AS nation, c_custkey AS k, x, y
                  FROM customer JOIN spend ON c_custkey = o_custkey),
         p AS (SELECT a.nation,
                      SIGN(a.x::DOUBLE - b.x::DOUBLE) AS sx,
                      SIGN(a.y::DOUBLE - b.y::DOUBLE) AS sy
               FROM cust a JOIN cust b ON a.nation = b.nation AND b.k > a.k),
         g AS (SELECT nation,
                 CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_conc,
                 CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_disc,
                 CAST(SUM(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_tie_x,
                 CAST(SUM(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_tie_y,
                 CAST(SUM(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_tie_xy
               FROM p GROUP BY nation)
         SELECT nation, n_conc, n_disc, n_tie_x, n_tie_y, n_tie_xy,
                (n_conc::DOUBLE - n_disc::DOUBLE) /
                NULLIF(SQRT((n_conc::DOUBLE + n_disc::DOUBLE + n_tie_x::DOUBLE)
                  * (n_conc::DOUBLE + n_disc::DOUBLE + n_tie_y::DOUBLE)), 0.0)
                  AS tau_b
         FROM g"""),
    // q279: Wald–Wolfowitz runs test on daily revenue vs its discrete
    // median
    QuerySpec("q279_runs_test", Stats.qRunsTest _, Timed,
      // q279: runs test — the median is the DISCRETE k=ceil(n/2)-th
      // order statistic (an actual element, no interpolation); the z
      // arithmetic mirrors the Spark expression term-for-term
      """WITH daily AS (SELECT o_orderdate,
                  SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS cents
                FROM orders GROUP BY o_orderdate),
         c AS (SELECT COUNT(*) AS n FROM daily),
         med AS (SELECT MIN(cents) AS med FROM (
                   SELECT cents, SUM(cnt) OVER (ORDER BY cents) AS cum, c.n
                   FROM (SELECT cents, COUNT(*) AS cnt FROM daily GROUP BY cents),
                        c)
                 WHERE cum >= GREATEST(1, CAST(CEIL(n / 2.0) AS BIGINT))),
         sgn AS (SELECT o_orderdate,
                        CASE WHEN cents > med.med THEN 1 ELSE 0 END AS above
                 FROM daily, med),
         r AS (SELECT above, CASE WHEN LAG(above) OVER w IS NULL
                 OR above <> LAG(above) OVER w THEN 1 ELSE 0 END AS brk
               FROM sgn WINDOW w AS (ORDER BY o_orderdate)),
         agg AS (SELECT CAST(SUM(above) AS BIGINT) AS n_above,
                        CAST(COUNT(*) - SUM(above) AS BIGINT) AS n_below,
                        CAST(SUM(brk) AS BIGINT) AS n_runs
                 FROM r)
         SELECT n_above, n_below, n_runs,
                (n_runs::DOUBLE - (2.0 * n_above::DOUBLE * n_below::DOUBLE
                   / (n_above::DOUBLE + n_below::DOUBLE) + 1.0)) /
                NULLIF(SQRT(2.0 * n_above::DOUBLE * n_below::DOUBLE
                   * (2.0 * n_above::DOUBLE * n_below::DOUBLE
                      - n_above::DOUBLE - n_below::DOUBLE)
                   / ((n_above::DOUBLE + n_below::DOUBLE)
                      * (n_above::DOUBLE + n_below::DOUBLE)
                      * (n_above::DOUBLE + n_below::DOUBLE - 1.0))), 0.0) AS z
         FROM agg"""),
    // q280: blocked Jaro–Winkler pairs via the codegen'd expression,
    // semantics pinned to DuckDB's jaro_winkler_similarity
    QuerySpec("q280_jaro_winkler_pairs", (s, d) => Dedup.qJaroWinklerPairs(s, d), Timed,
      // q280: the Spark side's JaroWinklerExpr is pinned to DuckDB's
      // jaro_winkler_similarity semantics (boost only when jaro > 0.7);
      // the threshold keeps a measured 0.005 margin above any ulp-level
      // divergence, and the score column rides the 1e-6 rtol
      """SELECT a.p_brand, a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
                jaro_winkler_similarity(a.p_name, b.p_name) AS jw
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND b.p_partkey > a.p_partkey
         WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9"""),
    // q281: streaming exact percentile monitor — the tenth bit-exact
    // stream/batch parity; same oracle as the batch q268 timeline
    QuerySpec("q281_streaming_percentile", EventTime.qStreamingPercentile _, Untimed,
      // q281: the streamed exact percentile monitor must equal the BATCH
      // q268 timeline — its oracle verbatim is the parity's second gate
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
                            CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                     FROM events),
         st AS (SELECT MIN(day) AS d0 FROM ev),
         keyed AS (SELECT event_type,
                          date_diff('day', st.d0, ev.day) // 7 AS week, v
                   FROM ev, st),
         cnt AS (SELECT event_type, week, v, COUNT(*) AS c
                 FROM keyed GROUP BY 1, 2, 3),
         cum AS (SELECT event_type, week, v, c,
                        SUM(c) OVER (PARTITION BY event_type, week
                                     ORDER BY v ROWS UNBOUNDED PRECEDING)
                          AS cum
                 FROM cnt),
         ns AS (SELECT event_type, week, SUM(c) AS n
                FROM cnt GROUP BY 1, 2)
         SELECT c.event_type, CAST(c.week AS BIGINT) AS week,
                CAST(MAX(n.n) AS BIGINT) AS n,
                CAST(MIN(CASE WHEN cum * 2 >= n THEN v END) AS BIGINT)
                  AS p50_cents,
                CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS BIGINT)
                  AS p90_cents
         FROM cum c JOIN ns n USING (event_type, week)
         GROUP BY 1, 2"""),
    // q282: k-anonymity / l-diversity release audit over the QI
    // (nation, segment, balance band) with order-activity sensitive
    QuerySpec("q282_k_anonymity", (s, d) => Pipeline.qKAnonymity(s, d), Timed,
      // q282: exact integer privacy audit; FLOOR on nonnegative-or-
      // negative acctbal/6000 agrees (IEEE floor, both engines), the
      // band is a BIGINT on both sides
      """WITH oc AS (SELECT o_custkey, COUNT(*) AS n_ord
                     FROM orders GROUP BY o_custkey),
         c AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
                      CAST(FLOOR(c_acctbal / 6000.0) AS BIGINT) AS bal_band,
                      LEAST(COALESCE(oc.n_ord, 0), 3) AS sens
               FROM customer LEFT JOIN oc ON c_custkey = o_custkey),
         g AS (SELECT nation, segment, bal_band, COUNT(*) AS group_size,
                      COUNT(DISTINCT sens) AS l_div
               FROM c GROUP BY 1, 2, 3)
         SELECT nation, segment, bal_band,
                CAST(group_size AS BIGINT) AS group_size,
                CAST(l_div AS BIGINT) AS l_div,
                CAST(group_size >= 5 AS INT) AS k_anonymous,
                CAST(l_div >= 2 AS INT) AS l_diverse
         FROM g"""),
    // q283: ER golden record — q274's pairs at tau=1, transitively
    // clustered, one survivor row per multi-record cluster
    QuerySpec("q283_er_golden_record", (s, d) => Dedup.qGoldenRecord(s, d), Timed,
      // q283: the ER clustering closure at tau=1 (the q103 recursive-CTE
      // device on the part table); mode name via ROW_NUMBER (count DESC,
      // name) — identical deterministic tie-break on both engines; every
      // aggregate BIGINT-cast (the q103 HUGEINT lesson)
      """WITH RECURSIVE pr AS (
           SELECT a.p_partkey AS pa, b.p_partkey AS pb
           FROM part a JOIN part b
             ON a.p_brand = b.p_brand AND b.p_partkey > a.p_partkey
           WHERE abs(length(a.p_name) - length(b.p_name)) <= 1
             AND levenshtein(a.p_name, b.p_name) <= 1),
         edges AS (SELECT pa AS u, pb AS v FROM pr
                   UNION SELECT pb, pa FROM pr),
         nodes AS (SELECT DISTINCT u FROM edges),
         reach AS (
           SELECT u, u AS v FROM nodes
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS p_partkey, MIN(v) AS cluster FROM reach GROUP BY u),
         lab AS (SELECT p.p_partkey,
                        COALESCE(c.cluster, p.p_partkey) AS cluster, p.p_name,
                        CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                 FROM part p LEFT JOIN comp c ON p.p_partkey = c.p_partkey),
         agg AS (SELECT cluster, COUNT(*) AS n_records,
                        COUNT(DISTINCT p_name) AS n_names,
                        MIN(p_partkey) AS canonical_partkey,
                        CAST(MAX(cents) - MIN(cents) AS BIGINT) AS price_spread_cents
                 FROM lab GROUP BY cluster),
         nc AS (SELECT cluster, p_name, COUNT(*) AS cnt FROM lab GROUP BY 1, 2),
         canon AS (SELECT cluster, p_name AS canonical_name,
                          ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY cnt DESC, p_name) AS rn
                   FROM nc)
         SELECT a.cluster, a.n_records, a.n_names, a.canonical_partkey,
                a.price_spread_cents, c.canonical_name
         FROM agg a JOIN canon c ON a.cluster = c.cluster AND c.rn = 1
         WHERE a.n_records > 1"""),
    // q284: week-over-week Kendall rank stability of part revenue —
    // the second consumer of the Knight inversion device
    QuerySpec("q284_rank_stability", Stats.qRankStability _, Timed,
      // q284: Kendall τ-b per consecutive-week pair, oracle in the
      // direct pair-join form (quadratic is fine at oracle scale; the
      // Spark side runs the Knight device) — week epoch from the global
      // min order date, every count clause BIGINT-cast, weeks whose
      // shared-part set yields zero pairs kept via the left join
      """WITH d0 AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
         rev AS (SELECT date_diff('day', d0.d0, CAST(o.o_orderdate AS DATE)) // 7 AS week,
                        l.l_partkey AS pk,
                        SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
                 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey, d0
                 GROUP BY 1, 2),
         paired AS (SELECT a.week AS week, a.pk AS pk, a.cents AS x, b.cents AS y
                    FROM rev a JOIN rev b ON a.pk = b.pk AND b.week = a.week + 1),
         base AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n_parts
                  FROM paired GROUP BY week),
         pp AS (SELECT a.week,
                  CAST(SUM(CASE WHEN SIGN(a.x - b.x) * SIGN(a.y - b.y) > 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
                  CAST(SUM(CASE WHEN SIGN(a.x - b.x) * SIGN(a.y - b.y) < 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
                  CAST(SUM(CASE WHEN a.x = b.x AND a.y <> b.y
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_tie_x,
                  CAST(SUM(CASE WHEN a.y = b.y AND a.x <> b.x
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_tie_y,
                  CAST(SUM(CASE WHEN a.x = b.x AND a.y = b.y
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_tie_xy
                FROM paired a JOIN paired b
                  ON a.week = b.week AND b.pk > a.pk
                GROUP BY a.week)
         SELECT base.week, base.n_parts,
                COALESCE(pp.n_conc, 0) AS n_conc,
                COALESCE(pp.n_disc, 0) AS n_disc,
                COALESCE(pp.n_tie_x, 0) AS n_tie_x,
                COALESCE(pp.n_tie_y, 0) AS n_tie_y,
                COALESCE(pp.n_tie_xy, 0) AS n_tie_xy,
                (COALESCE(pp.n_conc, 0)::DOUBLE - COALESCE(pp.n_disc, 0)::DOUBLE)
                  / NULLIF(SQRT(
                      (COALESCE(pp.n_conc, 0) + COALESCE(pp.n_disc, 0)
                         + COALESCE(pp.n_tie_x, 0))::DOUBLE
                      * (COALESCE(pp.n_conc, 0) + COALESCE(pp.n_disc, 0)
                         + COALESCE(pp.n_tie_y, 0))::DOUBLE), 0.0) AS tau_b
         FROM base LEFT JOIN pp ON base.week = pp.week"""),
    // q285: blocking-completeness audit — the oracle recomputes the
    // dictionary match counts by brute force, so hash equality proves
    // PassJoin candidate generation loses nothing, in-gate
    QuerySpec("q285_blocking_audit", (s, d) => Dedup.qBlockingAudit(s, d), Timed,
      // q285: the oracle side is the BRUTE-FORCE dictionary cross join —
      // a different algorithm than the Spark side's PassJoin-blocked
      // pipeline, so the hash match IS the completeness proof
      """WITH dict AS (SELECT DISTINCT p_name AS name FROM part),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_names FROM dict),
         pairs AS (SELECT levenshtein(a.name, b.name) AS d
                   FROM dict a JOIN dict b ON a.name < b.name
                   WHERE levenshtein(a.name, b.name) <= 4),
         e AS (SELECT unnest(range(d, 5)) AS tau FROM pairs)
         SELECT CAST(e.tau AS BIGINT) AS tau, n.n_names,
                (n.n_names * (n.n_names - 1)) // 2 AS n_possible_pairs,
                CAST(COUNT(*) AS BIGINT) AS n_matching_pairs
         FROM e, n GROUP BY 1, 2, 3"""),
    // q286–q294: the remaining nine TPC-H shapes — with these, all 22
    // classic queries have fixture adaptations (see the shape map in
    // Relational.scala)
    // q286: Q4 — EXISTS decorrelated to a left-semi join
    QuerySpec("q286_priority_waiting", Relational.qOrderPriorityCheck _, Timed,
      // q286: TPC-H Q4 shape — the correlated EXISTS spelled literally;
      // the Spark side decorrelates it to a left-semi join
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
         FROM orders o
         WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
         GROUP BY o_orderpriority"""),
    // q287: Q6 — pure scan/filter/agg, zero shuffles (pushdown pin)
    QuerySpec("q287_forecast_revenue", Relational.qForecastRevenue _, Timed,
      // q287: TPC-H Q6 shape — scan/filter/agg; the discount band
      // compares exact integer points on both engines
      """SELECT CAST(SUM(
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT))
                AS BIGINT) AS forecast_rev_x1e4,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
           AND l_quantity < 24
           AND CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)
               BETWEEN 4 AND 6"""),
    // q288: Q7 — two-nation trade flow, disjunctive pair predicate
    QuerySpec("q288_volume_shipping", Relational.qVolumeShipping _, Timed,
      // q288: TPC-H Q7 shape — two-nation trade flow, either direction
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                CAST(SUM(
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                       AS BIGINT))) AS BIGINT) AS revenue_x1e4,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
           AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
             OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3"""),
    // q289: Q8 — market share as the exact (nation, total) pair
    QuerySpec("q289_market_share", Relational.qMarketShare _, Timed,
      // q289: TPC-H Q8 shape — market share as the exact (nation, total)
      // sufficient-statistic pair (the q211 discipline)
      """WITH li AS (
           SELECT l_orderkey, l_partkey, l_suppkey,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                       AS BIGINT)) AS rev
           FROM lineitem)
         SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CASE WHEN sn.n_name = 'NATION_5' THEN rev
                              ELSE 0 END) AS BIGINT) AS nation_rev_x1e4,
                CAST(SUM(rev) AS BIGINT) AS total_rev_x1e4
         FROM li
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN region ON cn.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         WHERE p_type = 'MEDIUM' AND r_name = 'ASIA'
           AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
         GROUP BY 1"""),
    // q290: Q9 — derived profit measure over red parts
    QuerySpec("q290_product_profit", Relational.qProductProfit _, Timed,
      // q290: TPC-H Q9 shape — derived profit (retail price plays unit
      // cost; the sum may legitimately be negative)
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                       AS BIGINT))
                  - CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS profit_x1e4,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2"""),
    // q291: Q12 — CASE-sum priority pivot over late lines
    QuerySpec("q291_shipmode_priority", Relational.qShipmodePriority _, Timed,
      // q291: TPC-H Q12 shape — CASE-sum pivot over late 1997 lines
      // (l_returnflag plays l_shipmode)
      """SELECT l_returnflag,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT)
                  AS high_line_count,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 0 ELSE 1 END) AS BIGINT)
                  AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
           AND l_shipdate > o_orderdate + INTERVAL 60 DAY
         GROUP BY 1"""),
    // q292: Q15 — view + scalar max, ties survive
    QuerySpec("q292_top_supplier", Relational.qTopSupplier _, Timed,
      // q292: TPC-H Q15 shape — view + scalar max; ties all survive
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(SUM(
                    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)
                    * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                         AS BIGINT))) AS BIGINT) AS total_rev_x1e4
           FROM lineitem
           WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_rev_x1e4
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_rev_x1e4 = (SELECT MAX(total_rev_x1e4) FROM rev)
         ORDER BY s_suppkey"""),
    // q293: Q16 — count-distinct suppliers with an anti-join exclusion
    QuerySpec("q293_part_supplier", Relational.qPartSupplierRelation _, Timed,
      // q293: TPC-H Q16 shape — NOT-IN as an exclusion over the distinct
      // (part, supplier) pair relation
      """SELECT p_brand, p_type, p_size,
                CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
               WHERE l_suppkey NOT IN
                 (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) ps
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
         LIMIT 100"""),
    // q294: Q19 — disjunction-of-conjunctions stays a hash join
    QuerySpec("q294_discounted_revenue", Relational.qDiscountedRevenue _, Timed,
      // q294: TPC-H Q19 shape — OR-of-ANDs across both join sides;
      // quantities compare as exact centi-units
      """WITH li AS (
           SELECT l_partkey,
                  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS qty_c,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                       AS BIGINT)) AS rev
           FROM lineitem)
         SELECT CAST(SUM(rev) AS BIGINT) AS revenue_x1e4,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM li JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                AND qty_c BETWEEN 100 AND 1100)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                AND qty_c BETWEEN 1000 AND 2000)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                AND qty_c BETWEEN 2000 AND 3000)"""),
    // q295: Wilcoxon signed-rank — the PAIRED rank test (q229's
    // doubled-rank device on per-customer year-over-year spend diffs)
    QuerySpec("q295_wilcoxon_signed_rank", Stats.qWilcoxonSignedRank _, Timed,
      // q295: Wilcoxon signed-rank via the q229 doubled-average-rank
      // device on the |diff| value-domain rollup
      """WITH spend AS (
           SELECT o_custkey,
                  SUM(CASE WHEN year(o_orderdate) = 1996
                           THEN cents ELSE 0 END) AS s96,
                  SUM(CASE WHEN year(o_orderdate) = 1997
                           THEN cents ELSE 0 END) AS s97,
                  SUM(CASE WHEN year(o_orderdate) = 1996
                           THEN 1 ELSE 0 END) AS n96,
                  SUM(CASE WHEN year(o_orderdate) = 1997
                           THEN 1 ELSE 0 END) AS n97
           FROM (SELECT o_custkey, o_orderdate,
                        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS cents
                 FROM orders
                 WHERE o_orderdate >= '1996-01-01'
                   AND o_orderdate < '1998-01-01')
           GROUP BY 1),
         diffs AS (
           SELECT s97 - s96 AS diff FROM spend
           WHERE n96 > 0 AND n97 > 0 AND s97 <> s96),
         byabs AS (
           SELECT ABS(diff) AS ad, COUNT(*) AS cnt,
                  SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS c_pos
           FROM diffs GROUP BY 1),
         ranked AS (
           SELECT cnt, c_pos,
                  2 * SUM(cnt) OVER (ORDER BY ad) - cnt + 1 AS dr
           FROM byabs),
         agg AS (
           SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_pairs,
                  CAST(COALESCE(SUM(c_pos * dr), 0) AS BIGINT)
                    AS two_w_plus,
                  CAST(COALESCE(SUM((cnt - c_pos) * dr), 0) AS BIGINT)
                    AS two_w_minus,
                  CAST(COALESCE(SUM(cnt * cnt * cnt - cnt), 0) AS BIGINT)
                    AS tie_term
           FROM ranked)
         SELECT n_pairs, two_w_plus, two_w_minus, tie_term,
                ROUND(CASE WHEN n_pairs > 0 AND
                    2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1)
                      - tie_term > 0
                  THEN (CAST(two_w_plus AS DOUBLE)
                        - CAST(n_pairs AS DOUBLE)
                          * CAST(n_pairs + 1 AS DOUBLE) / 2)
                       / SQRT(CAST(2 * n_pairs * (n_pairs + 1)
                                   * (2 * n_pairs + 1) - tie_term
                               AS DOUBLE) / 12)
                  ELSE 0.0 END, 6) AS z_score
         FROM agg"""),
    // q296: McNemar — paired binary purchase flips between month halves
    QuerySpec("q296_mcnemar", Stats.qMcNemar _, Timed,
      // q296: McNemar — only the discordant cells carry signal
      """WITH pu AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase'
                            AND ts < '2024-01-16' THEN 1 ELSE 0 END) AS a,
                  MAX(CASE WHEN event_type = 'purchase'
                            AND ts >= '2024-01-16' THEN 1 ELSE 0 END) AS b
           FROM events GROUP BY 1),
         cells AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                  CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both,
                  CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_early_only,
                  CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late_only,
                  CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_neither
           FROM pu)
         SELECT n_users, n_both, n_early_only, n_late_only, n_neither,
                ROUND(CASE WHEN n_early_only + n_late_only > 0
                  THEN CAST((n_early_only - n_late_only)
                            * (n_early_only - n_late_only) AS DOUBLE)
                       / CAST(n_early_only + n_late_only AS DOUBLE)
                  ELSE 0.0 END, 6) AS chi2
         FROM cells"""),
    // q297: Cochran–Armitage — return-rate trend across the ordered
    // priority classes, from five integer sufficient sums
    QuerySpec("q297_cochran_armitage", Stats.qCochranArmitage _, Timed,
      // q297: Cochran–Armitage — five integer sufficient sums; products
      // stay in doubles for the one final z
      """WITH ret AS (
           SELECT l_orderkey,
                  MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
           FROM lineitem GROUP BY 1),
         bp AS (
           SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS score,
                  COUNT(*) AS n_i, SUM(r) AS r_i
           FROM orders JOIN ret ON o_orderkey = l_orderkey
           GROUP BY 1),
         agg AS (
           SELECT CAST(SUM(n_i) AS BIGINT) AS n_orders,
                  CAST(SUM(r_i) AS BIGINT) AS n_returned,
                  CAST(SUM(score * n_i) AS BIGINT) AS sum_sn,
                  CAST(SUM(score * score * n_i) AS BIGINT) AS sum_s2n,
                  CAST(SUM(score * r_i) AS BIGINT) AS sum_sr
           FROM bp)
         SELECT n_orders, n_returned, sum_sn, sum_s2n, sum_sr,
                ROUND(CASE WHEN
                    CAST(n_returned AS DOUBLE)
                    * CAST(n_orders - n_returned AS DOUBLE)
                    * (CAST(n_orders AS DOUBLE) * CAST(sum_s2n AS DOUBLE)
                       - CAST(sum_sn AS DOUBLE) * CAST(sum_sn AS DOUBLE))
                    / CAST(n_orders AS DOUBLE) > 0
                  THEN CAST(n_orders * sum_sr - n_returned * sum_sn
                         AS DOUBLE)
                       / SQRT(CAST(n_returned AS DOUBLE)
                              * CAST(n_orders - n_returned AS DOUBLE)
                              * (CAST(n_orders AS DOUBLE)
                                 * CAST(sum_s2n AS DOUBLE)
                                 - CAST(sum_sn AS DOUBLE)
                                   * CAST(sum_sn AS DOUBLE))
                              / CAST(n_orders AS DOUBLE))
                  ELSE 0.0 END, 6) AS z_score
         FROM agg"""),
    // q298: integer-EWMA spike monitor as streaming state — the
    // ELEVENTH bit-exact stream/batch parity; oracle = a recursive
    // CTE walking the same BIGINT recursion
    QuerySpec("q298_streaming_ewma", EventTime.qStreamingEwma _, Untimed,
      // q298/q298b: the recursive CTE walks the literal integer EWMA
      // recursion hour by hour — same BIGINT arithmetic as the Spark
      // folds, so the hash match is a three-way parity statement
      ewmaOracle),
    // q298b: the batch fold through the same detector core (its own
    // gate row so batch and streaming are pinned independently)
    QuerySpec("q298b_ewma_batch", Stats.qEwmaMonitor _, Timed,
      ewmaOracle),
    // q299: Friedman — the k-sample paired test (q295's family at
    // k = 3 yearly conditions per customer block)
    QuerySpec("q299_friedman", Stats.qFriedman _, Timed,
      // q299/q302: complete-block doubled within-customer ranks of
      // yearly spend (2·avg-rank = 2·rank + ties − 1, at block scope)
      s"""$yearRankCte
         py AS (SELECT yr, CAST(SUM(dij) AS BIGINT) AS d_sum
                FROM ranked GROUP BY 1),
         g AS (SELECT CAST(COUNT(*) // 3 AS BIGINT) AS n_blocks,
                      CAST(SUM(dij * dij) AS BIGINT) AS sum_d_sq
               FROM ranked),
         num AS (SELECT CAST(SUM((d_sum - 4 * g.n_blocks)
                                 * (d_sum - 4 * g.n_blocks)) AS BIGINT)
                        AS nn
                 FROM py, g)
         SELECT py.yr, py.d_sum, g.n_blocks, g.sum_d_sq,
                ROUND(CASE WHEN g.n_blocks > 0
                            AND g.sum_d_sq > 48 * g.n_blocks
                  THEN 2.0 * CAST(num.nn AS DOUBLE)
                       / (CAST(g.sum_d_sq AS DOUBLE)
                          - 48.0 * CAST(g.n_blocks AS DOUBLE))
                  ELSE 0.0 END, 6) AS chi2_f
         FROM py, g, num ORDER BY py.yr"""),
    // q300: Cochran's Q — the k-sample paired-binary test (q296's
    // family across the month's three decades)
    QuerySpec("q300_cochran_q", Stats.qCochranQ _, Timed,
      // q300: Cochran's Q — column totals + row-total moments from one
      // user rollup; N/k eliminated algebraically
      """WITH flags AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase'
                            AND ts >= '2024-01-01' AND ts < '2024-01-11'
                           THEN 1 ELSE 0 END) AS x1,
                  MAX(CASE WHEN event_type = 'purchase'
                            AND ts >= '2024-01-11' AND ts < '2024-01-21'
                           THEN 1 ELSE 0 END) AS x2,
                  MAX(CASE WHEN event_type = 'purchase'
                            AND ts >= '2024-01-21' THEN 1 ELSE 0 END) AS x3
           FROM events GROUP BY 1),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                      CAST(SUM(x1) AS BIGINT) AS g1,
                      CAST(SUM(x2) AS BIGINT) AS g2,
                      CAST(SUM(x3) AS BIGINT) AS g3,
                      CAST(SUM(x1 + x2 + x3) AS BIGINT) AS sum_l,
                      CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3))
                        AS BIGINT) AS sum_l_sq
               FROM flags)
         SELECT n_users, g1, g2, g3, sum_l, sum_l_sq,
                ROUND(CASE WHEN 3 * sum_l - sum_l_sq > 0
                  THEN 2.0 * (3.0 * (CAST(g1 AS DOUBLE) * g1
                                     + CAST(g2 AS DOUBLE) * g2
                                     + CAST(g3 AS DOUBLE) * g3)
                              - CAST(sum_l AS DOUBLE) * sum_l)
                       / CAST(3 * sum_l - sum_l_sq AS DOUBLE)
                  ELSE 0.0 END, 6) AS q_stat
         FROM g"""),
    // q301: Jonckheere–Terpstra — ordered-alternative k-sample rank
    // test over the priority classes (q233 unordered / q297 binary /
    // this continuous)
    QuerySpec("q301_jonckheere_terpstra", Stats.qJonckheereTerpstra _, Timed,
      // q301: Jonckheere–Terpstra via the value-domain pivot +
      // strict-predecessor cumulatives; z from the no-tie moments in
      // doubles over the same exact counts
      """WITH base AS (
           SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
           FROM orders),
         dom AS (
           SELECT v,
                  CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                  CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                  CAST(SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
                  CAST(SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
           FROM base GROUP BY 1),
         cum AS (
           SELECT *,
                  CAST(COALESCE(SUM(c1) OVER w, 0) AS BIGINT) AS lt1,
                  CAST(COALESCE(SUM(c2) OVER w, 0) AS BIGINT) AS lt2,
                  CAST(COALESCE(SUM(c3) OVER w, 0) AS BIGINT) AS lt3,
                  CAST(COALESCE(SUM(c4) OVER w, 0) AS BIGINT) AS lt4
           FROM dom
           WINDOW w AS (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         agg AS (
           SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2,
                  CAST(SUM(c3) AS BIGINT) AS n3,
                  CAST(SUM(c4) AS BIGINT) AS n4,
                  CAST(SUM(c5) AS BIGINT) AS n5,
                  CAST(SUM(c2 * (2 * lt1 + c1)
                           + c3 * (2 * (lt1 + lt2) + c1 + c2)
                           + c4 * (2 * (lt1 + lt2 + lt3) + c1 + c2 + c3)
                           + c5 * (2 * (lt1 + lt2 + lt3 + lt4)
                                   + c1 + c2 + c3 + c4)) AS BIGINT)
                    AS two_jt
           FROM cum)
         SELECT n1, n2, n3, n4, n5, two_jt,
                ROUND(CASE WHEN nn * nn * (2.0 * nn + 3.0) - s3 > 0
                  THEN (CAST(two_jt AS DOUBLE) / 2.0
                        - (nn * nn - s2) / 4.0)
                       / SQRT((nn * nn * (2.0 * nn + 3.0) - s3) / 72.0)
                  ELSE 0.0 END, 6) AS z_jt
         FROM (SELECT *,
                      CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE) AS nn,
                      CAST(n1 AS DOUBLE) * n1 + CAST(n2 AS DOUBLE) * n2
                        + CAST(n3 AS DOUBLE) * n3 + CAST(n4 AS DOUBLE) * n4
                        + CAST(n5 AS DOUBLE) * n5 AS s2,
                      CAST(n1 AS DOUBLE) * n1 * (2.0 * n1 + 3.0)
                        + CAST(n2 AS DOUBLE) * n2 * (2.0 * n2 + 3.0)
                        + CAST(n3 AS DOUBLE) * n3 * (2.0 * n3 + 3.0)
                        + CAST(n4 AS DOUBLE) * n4 * (2.0 * n4 + 3.0)
                        + CAST(n5 AS DOUBLE) * n5 * (2.0 * n5 + 3.0) AS s3
               FROM agg)"""),
    // q302: Page's L — Friedman's ordered-alternative twin on the
    // same complete-block ranks
    QuerySpec("q302_page_trend", Stats.qPageTrend _, Timed,
      s"""$yearRankCte
         g AS (SELECT CAST(COUNT(*) // 3 AS BIGINT) AS n_blocks,
                      CAST(SUM((yr - 1995) * dij) AS BIGINT) AS two_l
               FROM ranked)
         SELECT n_blocks, two_l,
                ROUND(CASE WHEN n_blocks > 0
                  THEN (CAST(two_l AS DOUBLE) / 2.0
                        - 12.0 * CAST(n_blocks AS DOUBLE))
                       / SQRT(2.0 * CAST(n_blocks AS DOUBLE))
                  ELSE 0.0 END, 6) AS z_page
         FROM g"""),
    // q303: log-rank test — the two-group censored time-to-event
    // comparison the q175 KM risk table feeds
    QuerySpec("q303_log_rank", Stats.qLogRank _, Timed,
      // q303: log-rank — q175's subject construction plus the
      // hash-assigned A/B arm tag (user_id parity); hypergeometric cells
      // per distinct event hour from reverse-cumulative at-risk counts;
      // z/chi2 from the rounded E1/V exactly as the Spark side computes
      // them
      """WITH fv AS (
           SELECT user_id, MIN(epoch_us(ts)) AS fv
           FROM events WHERE event_type = 'view' GROUP BY 1),
         conv AS (
           SELECT e.user_id, MIN(epoch_us(e.ts) - fv.fv) AS dur_us
           FROM events e JOIN fv ON e.user_id = fv.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.fv
           GROUP BY 1),
         last_seen AS (
           SELECT user_id, MAX(epoch_us(ts)) AS last_us
           FROM events GROUP BY 1),
         subj AS (
           SELECT CASE WHEN fv.user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
                  COALESCE(conv.dur_us, last_seen.last_us - fv.fv)
                    // 3600000000 AS dur,
                  CASE WHEN conv.dur_us IS NOT NULL THEN 1 ELSE 0 END AS ev
           FROM fv
           LEFT JOIN conv ON fv.user_id = conv.user_id
           JOIN last_seen ON fv.user_id = last_seen.user_id),
         cells AS (
           SELECT dur, CAST(COUNT(*) AS BIGINT) AS here,
                  CAST(SUM(g1) AS BIGINT) AS here1,
                  CAST(SUM(ev) AS BIGINT) AS d_all,
                  CAST(SUM(ev * g1) AS BIGINT) AS d1
           FROM subj GROUP BY 1),
         risk AS (
           SELECT *,
                  CAST(SUM(here) OVER w AS BIGINT) AS n_risk,
                  CAST(SUM(here1) OVER w AS BIGINT) AS n1_risk
           FROM cells
           WINDOW w AS (ORDER BY dur
                        ROWS BETWEEN CURRENT ROW
                        AND UNBOUNDED FOLLOWING)),
         agg AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
                  CAST(SUM(d1) AS BIGINT) AS o1,
                  CAST(SUM(d_all - d1) AS BIGINT) AS o2,
                  ROUND(SUM(CAST(d_all AS DOUBLE) * n1_risk / n_risk), 6)
                    AS e1,
                  ROUND(SUM(CASE WHEN n_risk > 1
                    THEN CAST(d_all AS DOUBLE)
                         * (CAST(n1_risk AS DOUBLE) / n_risk)
                         * (1.0 - CAST(n1_risk AS DOUBLE) / n_risk)
                         * (CAST(n_risk AS DOUBLE) - d_all)
                         / (CAST(n_risk AS DOUBLE) - 1.0)
                    ELSE 0.0 END), 6) AS v
           FROM risk WHERE d_all > 0)
         SELECT n_times, o1, o2, e1, v,
                ROUND(CASE WHEN v > 0
                  THEN (CAST(o1 AS DOUBLE) - e1) / SQRT(v)
                  ELSE 0.0 END, 6) AS z_logrank,
                ROUND(CASE WHEN v > 0
                  THEN (CAST(o1 AS DOUBLE) - e1)
                       * (CAST(o1 AS DOUBLE) - e1) / v
                  ELSE 0.0 END, 6) AS chi2
         FROM agg"""),
    // q304: Cochran–Mantel–Haenszel — the stratified 2×2×K
    // association test + MH common odds ratio (q243/q263's corner
    // made Simpson's-paradox-proof)
    QuerySpec("q304_cmh", Stats.qCmh _, Timed,
      // q304: exact BIGINT cells per stratum; E/V/OR terms fold K=5
      // bounded doubles rounded 6; chi2/OR from the ROUNDED sums — the
      // q303 device
      """WITH ret AS (
           SELECT l_orderkey,
                  MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
           FROM lineitem GROUP BY 1),
         cust AS (
           SELECT c_custkey,
                  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS x,
                  r_name AS stratum
           FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         cells AS (
           SELECT stratum,
                  CAST(SUM(x * r) AS BIGINT) AS n11,
                  CAST(SUM(x * (1 - r)) AS BIGINT) AS n10,
                  CAST(SUM((1 - x) * r) AS BIGINT) AS n01,
                  CAST(SUM((1 - x) * (1 - r)) AS BIGINT) AS n00
           FROM orders
           JOIN ret ON o_orderkey = l_orderkey
           JOIN cust ON o_custkey = c_custkey
           GROUP BY 1),
         terms AS (SELECT *, n11 + n10 + n01 + n00 AS n_k FROM cells),
         gtot AS (
           SELECT CAST(SUM(n11) AS BIGINT) AS sum_a,
                  ROUND(SUM(CAST(n11 + n10 AS DOUBLE) * (n11 + n01) / n_k),
                    6) AS sum_e,
                  ROUND(SUM(CASE WHEN n_k > 1
                    THEN CAST(n11 + n10 AS DOUBLE) * (n01 + n00)
                         * (n11 + n01) * (n10 + n00)
                         / (CAST(n_k AS DOUBLE) * n_k * (n_k - 1))
                    ELSE 0.0 END), 6) AS sum_v,
                  ROUND(SUM(CAST(n11 AS DOUBLE) * n00 / n_k), 6) AS sum_rn,
                  ROUND(SUM(CAST(n10 AS DOUBLE) * n01 / n_k), 6) AS sum_rd
           FROM terms)
         SELECT stratum, n11, n10, n01, n00, sum_e, sum_v,
                ROUND(CASE WHEN sum_v > 0
                  THEN (CAST(sum_a AS DOUBLE) - sum_e)
                       * (CAST(sum_a AS DOUBLE) - sum_e) / sum_v
                  ELSE 0.0 END, 6) AS chi2_cmh,
                ROUND(CASE WHEN sum_rd > 0 THEN sum_rn / sum_rd
                  ELSE 0.0 END, 6) AS or_mh
         FROM cells CROSS JOIN gtot"""),
    // q305: Cliff's delta — the effect size q229's Mann–Whitney
    // z-score has no magnitude for; exact pair counts off the same
    // value-domain rollup
    QuerySpec("q305_cliffs_delta", Stats.qCliffsDelta _, Timed,
      // q305: greater/less/tie pair counts are exact BIGINTs off the
      // value-domain rollup; one final division rounded 6
      """WITH tagged AS (
           SELECT 'click' AS pair,
                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS in_arm,
                  CAST(ROUND(value * 100, 0) AS BIGINT) AS v
           FROM events WHERE event_type IN ('click', 'view')
           UNION ALL
           SELECT 'error',
                  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END,
                  CAST(ROUND(value * 100, 0) AS BIGINT)
           FROM events WHERE event_type IN ('error', 'view')
           UNION ALL
           SELECT 'signup',
                  CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END,
                  CAST(ROUND(value * 100, 0) AS BIGINT)
           FROM events WHERE event_type IN ('signup', 'view')
           UNION ALL
           SELECT 'purchase',
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END,
                  CAST(ROUND(value * 100, 0) AS BIGINT)
           FROM events WHERE event_type IN ('purchase', 'view')),
         byv AS (
           SELECT pair, v, CAST(SUM(in_arm) AS BIGINT) AS c1,
                  CAST(SUM(1 - in_arm) AS BIGINT) AS c2
           FROM tagged GROUP BY 1, 2),
         cum AS (
           SELECT *, COALESCE(CAST(SUM(c2) OVER (
                    PARTITION BY pair ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS cum2
           FROM byv),
         agg AS (
           SELECT pair, CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2,
                  CAST(SUM(c1 * cum2) AS BIGINT) AS n_gt,
                  CAST(SUM(c1 * c2) AS BIGINT) AS n_tie
           FROM cum GROUP BY 1)
         SELECT pair, n1, n2, n_gt,
                n1 * n2 - n_gt - n_tie AS n_lt, n_tie,
                ROUND(CASE WHEN n1 > 0 AND n2 > 0
                  THEN CAST(n_gt - (n1 * n2 - n_gt - n_tie) AS DOUBLE)
                       / (CAST(n1 AS DOUBLE) * n2)
                  ELSE 0.0 END, 6) AS cliffs_delta
         FROM agg"""),
    // q306: Jarque–Bera — q196's moments turned into the normality
    // GATE, per order priority
    QuerySpec("q306_jarque_bera", Stats.qJarqueBera _, Timed,
      // q306: two-pass integer-mean pre-shift (|SUM(w)| < n), exact
      // HUGEINT shifted power sums, double central moments and jb from
      // the ROUNDED g1/g2 — every step spelled identically on both
      // engines
      """WITH base AS (
           SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
           FROM orders),
         mu AS (
           SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(v) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mu
           FROM base GROUP BY 1),
         sh AS (
           SELECT base.o_orderpriority, n,
                  CAST(v - mu AS HUGEINT) AS w
           FROM base JOIN mu USING (o_orderpriority)),
         sums AS (
           SELECT o_orderpriority, MAX(n) AS n,
                  CAST(SUM(w) AS DOUBLE) AS w1d,
                  CAST(SUM(w * w) AS DOUBLE) AS w2d,
                  CAST(SUM(w * w * w) AS DOUBLE) AS w3d,
                  CAST(SUM(w * w * w * w) AS DOUBLE) AS w4d
           FROM sh GROUP BY 1),
         m AS (
           SELECT o_orderpriority, n,
                  w2d / CAST(n AS DOUBLE)
                    - (w1d / CAST(n AS DOUBLE)) * (w1d / CAST(n AS DOUBLE))
                    AS m2,
                  w3d / CAST(n AS DOUBLE)
                    - 3.0 * (w1d / CAST(n AS DOUBLE)) * (w2d / CAST(n AS DOUBLE))
                    + 2.0 * (w1d / CAST(n AS DOUBLE))
                      * (w1d / CAST(n AS DOUBLE)) * (w1d / CAST(n AS DOUBLE))
                    AS m3,
                  w4d / CAST(n AS DOUBLE)
                    - 4.0 * (w1d / CAST(n AS DOUBLE)) * (w3d / CAST(n AS DOUBLE))
                    + 6.0 * (w1d / CAST(n AS DOUBLE))
                      * (w1d / CAST(n AS DOUBLE)) * (w2d / CAST(n AS DOUBLE))
                    - 3.0 * (w1d / CAST(n AS DOUBLE))
                      * (w1d / CAST(n AS DOUBLE)) * (w1d / CAST(n AS DOUBLE))
                      * (w1d / CAST(n AS DOUBLE))
                    AS m4
           FROM sums),
         g AS (SELECT o_orderpriority, n,
                      ROUND(m3 / (m2 * SQRT(m2)), 6) AS skewness,
                      ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
               FROM m)
         SELECT o_orderpriority, n, skewness, kurtosis_excess,
                ROUND(CAST(n AS DOUBLE) *
                  (skewness * skewness / 6.0 +
                   kurtosis_excess * kurtosis_excess / 24.0), 6) AS jb
         FROM g"""),
    // q307: Ljung–Box — joint white-noise test over lags 1..7 of the
    // per-type daily series (q157's single lag made portmanteau)
    QuerySpec("q307_ljung_box", Stats.qLjungBox _, Timed,
      // q307: every rho_k a ratio of exact BIGINTs (n^2-scaled
      // autocovariance with full-series mean); Q folds the ROUNDED
      // rho's in fixed lag order
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         pos AS (
           SELECT event_type, x,
                  CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY day) AS BIGINT) AS t
           FROM daily),
         gtot AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS s,
                  CAST(SUM(x * x) AS BIGINT) AS q2
           FROM pos GROUP BY 1),
         lagged AS (
           SELECT a.event_type, ks.k,
                  CAST(SUM(a.x * b.x) AS BIGINT) AS p,
                  CAST(SUM(a.x) AS BIGINT) AS sa,
                  CAST(SUM(b.x) AS BIGINT) AS sb
           FROM pos a
           CROSS JOIN (SELECT unnest(range(1, 8)) AS k) ks
           JOIN pos b ON a.event_type = b.event_type
                     AND b.t = a.t + ks.k
           GROUP BY 1, 2),
         rho AS (
           SELECT l.event_type, l.k, g.n,
                  ROUND(CASE WHEN g.n * (g.n * g.q2 - g.s * g.s) > 0
                    THEN CAST(g.n * g.n * l.p - g.n * g.s * (l.sa + l.sb)
                              + (g.n - l.k) * g.s * g.s AS DOUBLE)
                         / CAST(g.n * (g.n * g.q2 - g.s * g.s) AS DOUBLE)
                    ELSE 0.0 END, 6) AS rho
           FROM lagged l JOIN gtot g ON l.event_type = g.event_type)
         SELECT event_type, MAX(n) AS n_days,
                MAX(CASE WHEN k = 1 THEN rho END) AS rho1,
                MAX(CASE WHEN k = 2 THEN rho END) AS rho2,
                MAX(CASE WHEN k = 3 THEN rho END) AS rho3,
                MAX(CASE WHEN k = 4 THEN rho END) AS rho4,
                MAX(CASE WHEN k = 5 THEN rho END) AS rho5,
                MAX(CASE WHEN k = 6 THEN rho END) AS rho6,
                MAX(CASE WHEN k = 7 THEN rho END) AS rho7,
                ROUND(CAST(MAX(n) AS DOUBLE) * (CAST(MAX(n) AS DOUBLE) + 2.0) *
                  (MAX(CASE WHEN k = 1 THEN rho * rho / CAST(n - 1 AS DOUBLE) END)
                   + MAX(CASE WHEN k = 2 THEN rho * rho / CAST(n - 2 AS DOUBLE) END)
                   + MAX(CASE WHEN k = 3 THEN rho * rho / CAST(n - 3 AS DOUBLE) END)
                   + MAX(CASE WHEN k = 4 THEN rho * rho / CAST(n - 4 AS DOUBLE) END)
                   + MAX(CASE WHEN k = 5 THEN rho * rho / CAST(n - 5 AS DOUBLE) END)
                   + MAX(CASE WHEN k = 6 THEN rho * rho / CAST(n - 6 AS DOUBLE) END)
                   + MAX(CASE WHEN k = 7 THEN rho * rho / CAST(n - 7 AS DOUBLE) END)),
                  6) AS q_lb
         FROM rho GROUP BY 1"""),
    // q308: von Neumann ratio — successive-difference randomness
    // test, the parametric complement of q279's runs test
    QuerySpec("q308_von_neumann", Stats.qVonNeumann _, Timed,
      // q308: Sum-of-squared-differences and the variance term are
      // exact BIGINTs; eta and z are single spelled-identically
      // divisions
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         lagd AS (
           SELECT event_type, x,
                  LAG(x) OVER (PARTITION BY event_type ORDER BY day) AS xp
           FROM daily),
         agg AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                  CAST(SUM(x) AS BIGINT) AS s,
                  CAST(SUM(x * x) AS BIGINT) AS q2,
                  CAST(SUM(CASE WHEN xp IS NOT NULL
                    THEN (x - xp) * (x - xp) ELSE 0 END) AS BIGINT) AS sum_d2
           FROM lagd GROUP BY 1)
         SELECT event_type, n_days, sum_d2,
                ROUND(CASE WHEN n_days * q2 - s * s > 0
                  THEN CAST(n_days * sum_d2 AS DOUBLE)
                       / CAST(n_days * q2 - s * s AS DOUBLE)
                  ELSE 0.0 END, 6) AS eta,
                ROUND(CASE WHEN n_days * q2 - s * s > 0 AND n_days > 2
                  THEN (CAST(n_days * sum_d2 AS DOUBLE)
                        / CAST(n_days * q2 - s * s AS DOUBLE) - 2.0)
                       / SQRT(4.0 * CAST(n_days - 2 AS DOUBLE)
                              / (CAST(n_days AS DOUBLE) * n_days - 1.0))
                  ELSE 0.0 END, 6) AS z_vn
         FROM agg"""),
    // q309: Brier score + Murphy decomposition — the proper-scoring
    // verdict on the q230/q231 eval harness
    QuerySpec("q309_brier_decomposition", Stats.qBrierDecomposition _, Timed,
      // q309: q230's scorer CTE verbatim; the Brier numerator is one
      // exact BIGINT; REL/RES fold score-domain doubles rounded 6
      """WITH sc AS (
           SELECT doc_id,
                  CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS is_pos,
                  n_toks * 100 + hits * 10 + dhits AS score_milli
           FROM (SELECT doc_id, n_chars,
                        len(list_filter(toks, t -> t IN ('the','a','of',
                          'and','to','in','is','it'))) AS hits,
                        len(list_intersect(list_distinct(toks),
                          ['the','a','of','and','to','in','is','it']))
                          AS dhits,
                        len(toks) AS n_toks
                 FROM (SELECT doc_id, n_chars,
                              string_split_regex(lower(text), '\s+') AS toks
                       FROM documents))),
         byscore AS (
           SELECT score_milli, CAST(COUNT(*) AS BIGINT) AS n_k,
                  CAST(SUM(is_pos) AS BIGINT) AS pos_k,
                  CAST(SUM((score_milli - 9000 * is_pos)
                    * (score_milli - 9000 * is_pos)) AS BIGINT) AS bnum_k
           FROM sc GROUP BY 1),
         agg AS (
           SELECT CAST(SUM(n_k) AS BIGINT) AS n,
                  CAST(SUM(pos_k) AS BIGINT) AS n_pos,
                  CAST(SUM(bnum_k) AS BIGINT) AS brier_num,
                  SUM(CAST(n_k * score_milli - 9000 * pos_k AS DOUBLE)
                      * CAST(n_k * score_milli - 9000 * pos_k AS DOUBLE)
                      / (81000000.0 * CAST(n_k AS DOUBLE))) AS rel_raw,
                  SUM(CAST(pos_k AS DOUBLE) * CAST(pos_k AS DOUBLE)
                      / CAST(n_k AS DOUBLE)) AS res_a,
                  COUNT(*) AS n_bins
           FROM byscore)
         SELECT n, n_bins, n_pos,
                ROUND(CAST(brier_num AS DOUBLE)
                  / (81000000.0 * CAST(n AS DOUBLE)), 6) AS brier,
                ROUND(rel_raw / CAST(n AS DOUBLE), 6) AS reliability,
                ROUND(res_a / CAST(n AS DOUBLE)
                  - (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                  AS resolution,
                ROUND((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                  AS uncertainty
         FROM agg"""),
    // q310: q144's interval coverage as streaming state — the twelfth
    // bit-exact stream/batch parity (oracle IS q144's batch SQL)
    QuerySpec("q310_streaming_coverage", EventTime.qStreamingCoverage _, Untimed,
      // q310: the oracle IS q144's batch interval-union SQL — the
      // twelfth stream/batch parity statement
      """WITH iv AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS s,
                            epoch_ns(ts) // 1000000000 + 300 AS e
                     FROM events),
         m AS (SELECT user_id, s, e,
                      MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS maxe
               FROM iv),
         f AS (SELECT user_id, s, e,
                      CASE WHEN maxe IS NULL OR s > maxe THEN 1
                           ELSE 0 END AS new_island
               FROM m),
         isl AS (SELECT user_id, s, e,
                        SUM(new_island) OVER (PARTITION BY user_id
                                              ORDER BY s, e
                                              ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND CURRENT ROW)
                          AS island
                 FROM f),
         g AS (SELECT user_id, island, MIN(s) AS i_start, MAX(e) AS i_end
               FROM isl GROUP BY user_id, island)
         SELECT user_id, COUNT(*) AS n_islands,
                CAST(SUM(i_end - i_start) AS BIGINT) AS covered_sec
         FROM g GROUP BY user_id"""),
    // q311: Zipf rank-frequency fit per source — the corpus-health
    // law behind the vocabulary decisions (slope ~ -1 on natural text)
    QuerySpec("q311_zipf", (s, dir) => TextAnalysis.qZipf(s, dir), Timed,
      // q311: exact integer ranks/frequencies (tie order pinned on the
      // term); the ln-ln OLS folds <=1000 bounded doubles rounded 6
      """WITH tok AS (
           SELECT source,
                  unnest(string_split_regex(lower(text), '\s+')) AS w
           FROM documents),
         freq AS (
           SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
           FROM tok WHERE length(w) > 0 GROUP BY 1, 2),
         top AS (
           SELECT source, ln(CAST(r AS DOUBLE)) AS x,
                  ln(CAST(f AS DOUBLE)) AS y
           FROM (SELECT source, f, w,
                        CAST(ROW_NUMBER() OVER (PARTITION BY source
                          ORDER BY f DESC, w) AS BIGINT) AS r
                 FROM freq)
           WHERE r <= 1000),
         sums AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_top,
                  SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                  SUM(x * x) AS sxx, SUM(y * y) AS syy
           FROM top GROUP BY 1)
         SELECT source, n_top,
                ROUND(CASE WHEN CAST(n_top AS DOUBLE) * sxx - sx * sx > 0
                  THEN (CAST(n_top AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n_top AS DOUBLE) * sxx - sx * sx)
                  ELSE 0.0 END, 6) AS zipf_slope,
                ROUND(CASE WHEN CAST(n_top AS DOUBLE) * sxx - sx * sx > 0
                       AND CAST(n_top AS DOUBLE) * syy - sy * sy > 0
                  THEN (CAST(n_top AS DOUBLE) * sxy - sx * sy)
                       * (CAST(n_top AS DOUBLE) * sxy - sx * sy)
                       / ((CAST(n_top AS DOUBLE) * sxx - sx * sx)
                          * (CAST(n_top AS DOUBLE) * syy - sy * sy))
                  ELSE 0.0 END, 6) AS fit_r2
         FROM sums"""),
    // q312: Heaps' law vocabulary-growth fit over doc-id-prefix
    // checkpoints — prices vocabulary budgets and predicts OOV growth
    QuerySpec("q312_heaps", TextAnalysis.qHeaps _, Timed,
      // q312: checkpoint membership is the integer predicate
      // 8*first_doc <= i*max_doc; counts exact BIGINT. The (beta, lnK)
      // OLS tail is transcendental and is spec-pinned, not hashed
      // (round-10 ulp knife-edge; VERDICT r10 #1)
      """WITH tk AS (
           SELECT CAST(doc_id AS BIGINT) AS doc_id, w
           FROM (SELECT doc_id,
                        unnest(string_split_regex(lower(text), '\s+')) AS w
                 FROM documents)
           WHERE length(w) > 0),
         fd AS (SELECT w, CAST(MIN(doc_id) AS BIGINT) AS fd
                FROM tk GROUP BY 1),
         dt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
                FROM tk GROUP BY 1),
         mxt AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mx FROM tk),
         cuts AS (SELECT CAST(unnest(range(1, 9)) AS BIGINT) AS cut),
         vc AS (
           SELECT c.cut,
                  CAST(SUM(CASE WHEN f.fd * 8 <= m.mx * c.cut
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_types
           FROM fd f CROSS JOIN mxt m CROSS JOIN cuts c GROUP BY 1),
         tc AS (
           SELECT c.cut,
                  CAST(SUM(CASE WHEN d.doc_id * 8 <= m.mx * c.cut
                    THEN d.nt ELSE 0 END) AS BIGINT) AS n_tokens
           FROM dt d CROSS JOIN mxt m CROSS JOIN cuts c GROUP BY 1),
         pts AS (
           SELECT t.cut, (m.mx * t.cut) // 8 AS threshold_doc,
                  t.n_tokens, v.n_types
           FROM tc t JOIN vc v ON t.cut = v.cut CROSS JOIN mxt m)
         SELECT cut, threshold_doc, n_tokens, n_types FROM pts"""),
    // q313: Woolf homogeneity of odds ratios across q304's strata —
    // the gate on whether CMH's pooled OR is meaningful
    QuerySpec("q313_woolf", Stats.qWoolf _, Timed,
      // q313: q304's cells CTE verbatim; OR/weight/ln per stratum, the
      // three-sum dispersion identity over K=5 bounded terms rounded 6
      """WITH ret AS (
           SELECT l_orderkey,
                  MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
           FROM lineitem GROUP BY 1),
         cust AS (
           SELECT c_custkey,
                  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS x,
                  r_name AS stratum
           FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         cells AS (
           SELECT stratum,
                  CAST(SUM(x * r) AS BIGINT) AS n11,
                  CAST(SUM(x * (1 - r)) AS BIGINT) AS n10,
                  CAST(SUM((1 - x) * r) AS BIGINT) AS n01,
                  CAST(SUM((1 - x) * (1 - r)) AS BIGINT) AS n00
           FROM orders
           JOIN ret ON o_orderkey = l_orderkey
           JOIN cust ON o_custkey = c_custkey
           GROUP BY 1),
         t AS (
           SELECT *, CASE WHEN n11 > 0 AND n10 > 0 AND n01 > 0
                       AND n00 > 0 THEN 1 ELSE 0 END AS ok
           FROM cells),
         w AS (
           SELECT stratum, n11, n10, n01, n00, ok,
                  CASE WHEN ok = 1
                    THEN CAST(n11 AS DOUBLE) * n00
                         / (CAST(n10 AS DOUBLE) * n01)
                    ELSE 0.0 END AS or_k,
                  CASE WHEN ok = 1
                    THEN ln(CAST(n11 AS DOUBLE) * n00
                            / (CAST(n10 AS DOUBLE) * n01))
                    ELSE 0.0 END AS lnor,
                  CASE WHEN ok = 1
                    THEN 1.0 / (1.0 / n11 + 1.0 / n10
                                + 1.0 / n01 + 1.0 / n00)
                    ELSE 0.0 END AS w_k
           FROM t),
         g AS (
           SELECT CAST(SUM(ok) AS BIGINT) AS k_used, SUM(w_k) AS sw,
                  SUM(w_k * lnor) AS swl,
                  SUM(w_k * lnor * lnor) AS swll
           FROM w)
         SELECT stratum, n11, n10, n01, n00,
                ROUND(or_k, 6) AS or_k, ROUND(w_k, 6) AS w_k, k_used,
                ROUND(CASE WHEN sw > 0 THEN swll - swl * swl / sw
                  ELSE 0.0 END, 6) AS woolf_chi2,
                ROUND(CASE WHEN sw > 0 THEN swl / sw
                  ELSE 0.0 END, 6) AS ln_or_pooled
         FROM w CROSS JOIN g"""),
    // q314: q180's LOCF gap-fill as streaming state with closed-form
    // gap back-fill — the thirteenth bit-exact stream/batch parity
    QuerySpec("q314_streaming_locf", EventTime.qStreamingLocf _, Untimed,
      // q314: the oracle IS q180's spine + IGNORE-NULLS window shape
      // over the per-type daily counts — the thirteenth stream/batch
      // parity; the stream never materializes a gap day, the checksums
      // agree exactly
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         b AS (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
               FROM daily GROUP BY 1),
         spine AS (SELECT event_type, mn,
                          CAST(UNNEST(generate_series(mn, mx,
                            INTERVAL 1 DAY)) AS DATE) AS day
                   FROM b),
         f AS (SELECT s.event_type,
                      date_diff('day', s.mn, s.day) AS idx, daily.c,
                      last_value(daily.c IGNORE NULLS) OVER (
                        PARTITION BY s.event_type ORDER BY s.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS lvl
               FROM spine s LEFT JOIN daily
                 ON s.event_type = daily.event_type AND s.day = daily.day)
         SELECT event_type, COUNT(*) AS n_days, COUNT(c) AS n_obs,
                COUNT(*) - COUNT(c) AS n_filled,
                CAST(SUM(idx * lvl) AS BIGINT) AS locf_checksum
         FROM f GROUP BY 1"""),
    // q315: multiclass confusion audit of the q21 lang-ID classifier
    // (per-class P/R/F1, macro-F1, accuracy)
    QuerySpec("q315_lang_confusion", TextAnalysis.qLangConfusion _, Timed,
      // q315: q21's scorer CTE per document, exact integer
      // cells/margins/diagonal, guarded divisions rounded 6
      """WITH s AS (
           SELECT lang AS actual,
                  CASE WHEN greatest(en, es, fr) = 0 THEN 'und'
                       WHEN en >= es AND en >= fr THEN 'en'
                       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred
           FROM (SELECT lang,
                        len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS en,
                        len(list_intersect(toks, ['el','la','de','y','en','es','un','que'])) AS es,
                        len(list_intersect(toks, ['le','la','de','et','en','est','un','que'])) AS fr
                 FROM (SELECT lang,
                              list_distinct(string_split_regex(lower(text), '\s+')) AS toks
                       FROM documents))),
         cells AS (SELECT actual, pred, CAST(COUNT(*) AS BIGINT) AS n
                   FROM s GROUP BY 1, 2),
         a AS (SELECT actual AS cls, CAST(SUM(n) AS BIGINT) AS n_actual
               FROM cells GROUP BY 1),
         p AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS n_pred
               FROM cells GROUP BY 1),
         t AS (SELECT actual AS cls, CAST(SUM(n) AS BIGINT) AS tp
               FROM cells WHERE actual = pred GROUP BY 1),
         per AS (
           SELECT COALESCE(a.cls, p.cls) AS cls,
                  COALESCE(n_actual, 0) AS n_actual,
                  COALESCE(n_pred, 0) AS n_pred
           FROM a FULL OUTER JOIN p ON a.cls = p.cls),
         per2 AS (
           SELECT per.cls, per.n_actual, per.n_pred,
                  COALESCE(t.tp, 0) AS tp
           FROM per LEFT JOIN t ON per.cls = t.cls),
         m AS (
           SELECT cls, n_actual, n_pred, tp,
                  CASE WHEN n_pred > 0
                    THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END AS praw,
                  CASE WHEN n_actual > 0
                    THEN CAST(tp AS DOUBLE) / n_actual ELSE 0.0 END AS rraw
           FROM per2),
         m2 AS (
           SELECT *, CASE WHEN praw + rraw > 0
                    THEN 2.0 * praw * rraw / (praw + rraw)
                    ELSE 0.0 END AS f1raw
           FROM m),
         g AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
                  ROUND(AVG(f1raw), 6) AS macro_f1,
                  ROUND(CAST(SUM(tp) AS DOUBLE)
                    / CAST(SUM(n_actual) AS DOUBLE), 6) AS accuracy
           FROM m2)
         SELECT cls, n_actual, n_pred, tp,
                ROUND(praw, 6) AS prec, ROUND(rraw, 6) AS rec,
                ROUND(f1raw, 6) AS f1, n_classes, macro_f1, accuracy
         FROM m2 CROSS JOIN g"""),
    // q316: Grubbs' single-outlier statistic — the formal test beside
    // q164's MAD fences; exact n-scaled deviation maximum
    QuerySpec("q316_grubbs", Stats.qGrubbs _, Timed,
      // q316: deviation max over exact n-scaled BIGINTs (no division
      // inside the max); G divides exact integers under one sqrt
      """WITH base AS (
           SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
           FROM orders),
         tot AS (
           SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(v) AS BIGINT) AS s1,
                  SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS q2
           FROM base GROUP BY 1),
         dev AS (
           SELECT b.o_orderpriority,
                  CAST(MAX(ABS(t.n * b.v - t.s1)) AS BIGINT)
                    AS maxdev_scaled
           FROM base b JOIN tot t
             ON b.o_orderpriority = t.o_orderpriority
           GROUP BY 1)
         SELECT t.o_orderpriority, t.n, d.maxdev_scaled,
                ROUND(CASE WHEN t.n > 1 AND
                    CAST(t.n * t.q2 - CAST(t.s1 AS HUGEINT) * t.s1
                      AS DOUBLE) > 0
                  THEN CAST(d.maxdev_scaled AS DOUBLE)
                       / (CAST(t.n AS DOUBLE)
                          * SQRT(CAST(t.n * t.q2
                              - CAST(t.s1 AS HUGEINT) * t.s1 AS DOUBLE)
                            / (CAST(t.n AS DOUBLE) * (t.n - 1))))
                  ELSE 0.0 END, 6) AS grubbs_g
         FROM tot t JOIN dev d
           ON t.o_orderpriority = d.o_orderpriority"""),
    // q317: Cronbach's alpha over the q299 complete blocks — the
    // reliability/internal-consistency cell
    QuerySpec("q317_cronbach", Stats.qCronbachAlpha _, Timed,
      // q317: exact HUGEINT variance combos (block totals square past
      // BIGINT); the sample 1/(n-1) cancels in the ratio
      """WITH spend AS (
           SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS v
           FROM orders
           WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1999-01-01'
           GROUP BY 1, 2),
         items AS (
           SELECT o_custkey,
                  CAST(SUM(CASE WHEN yr = 1996 THEN v ELSE 0 END)
                    AS BIGINT) AS x1,
                  CAST(SUM(CASE WHEN yr = 1997 THEN v ELSE 0 END)
                    AS BIGINT) AS x2,
                  CAST(SUM(CASE WHEN yr = 1998 THEN v ELSE 0 END)
                    AS BIGINT) AS x3
           FROM spend GROUP BY 1 HAVING COUNT(*) = 3),
         sums AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                  CAST(SUM(x1) AS BIGINT) AS s1,
                  SUM(CAST(x1 AS HUGEINT) * x1) AS q1,
                  CAST(SUM(x2) AS BIGINT) AS s2,
                  SUM(CAST(x2 AS HUGEINT) * x2) AS q2,
                  CAST(SUM(x3) AS BIGINT) AS s3,
                  SUM(CAST(x3 AS HUGEINT) * x3) AS q3,
                  CAST(SUM(x1 + x2 + x3) AS BIGINT) AS st,
                  SUM(CAST(x1 + x2 + x3 AS HUGEINT) * (x1 + x2 + x3))
                    AS qt
           FROM items),
         vv AS (
           SELECT n_blocks,
                  CAST(n_blocks * q1 - CAST(s1 AS HUGEINT) * s1
                    AS DOUBLE) AS v1,
                  CAST(n_blocks * q2 - CAST(s2 AS HUGEINT) * s2
                    AS DOUBLE) AS v2,
                  CAST(n_blocks * q3 - CAST(s3 AS HUGEINT) * s3
                    AS DOUBLE) AS v3,
                  CAST(n_blocks * qt - CAST(st AS HUGEINT) * st
                    AS DOUBLE) AS vt
           FROM sums)
         SELECT n_blocks, CAST(3 AS BIGINT) AS k,
                ROUND(CASE WHEN vt > 0
                  THEN 1.5 * (1.0 - (v1 + v2 + v3) / vt)
                  ELSE 0.0 END, 6) AS cronbach_alpha
         FROM vv"""),
    // q318: MASE — the scale-free seasonal-forecast backtest over the
    // per-type daily series (weekly naive vs daily naive)
    QuerySpec("q318_mase", Stats.qMase _, Timed,
      // q318: both error sums exact BIGINT; MASE cross-multiplies the
      // integer counts so exactly one division happens
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         lagd AS (
           SELECT event_type, x,
                  LAG(x, 1) OVER (PARTITION BY event_type
                    ORDER BY day) AS x1,
                  LAG(x, 7) OVER (PARTITION BY event_type
                    ORDER BY day) AS x7
           FROM daily),
         agg AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                  CAST(SUM(CASE WHEN x1 IS NOT NULL
                    THEN ABS(x - x1) ELSE 0 END) AS BIGINT) AS sum_abs_d1,
                  CAST(SUM(CASE WHEN x7 IS NOT NULL
                    THEN ABS(x - x7) ELSE 0 END) AS BIGINT) AS sum_abs_d7
           FROM lagd GROUP BY 1)
         SELECT event_type, n_days, sum_abs_d1, sum_abs_d7,
                ROUND(CASE WHEN n_days > 7 AND sum_abs_d1 > 0
                  THEN CAST(sum_abs_d7 * (n_days - 1) AS DOUBLE)
                       / CAST(sum_abs_d1 * (n_days - 7) AS DOUBLE)
                  ELSE 0.0 END, 6) AS mase
         FROM agg"""),
    // q319: Bhattacharyya/Hellinger distance matrix between
    // per-source length distributions (the metric member beside
    // q255's JSD and q190's PSI)
    QuerySpec("q319_hellinger", TextAnalysis.qHellingerMatrix _, Timed,
      // q319: exact bucket cells; each pair folds <=7 sqrt terms with
      // identical spelling (absent buckets contribute exactly 0 — the
      // inner bucket join IS the fold)
      """WITH cells AS (
           SELECT source,
                  CAST(CASE WHEN n_chars <= 64 THEN 64
                            WHEN n_chars <= 128 THEN 128
                            WHEN n_chars <= 256 THEN 256
                            WHEN n_chars <= 512 THEN 512
                            WHEN n_chars <= 1024 THEN 1024
                            WHEN n_chars <= 2048 THEN 2048
                            ELSE 4096 END AS BIGINT) AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM documents GROUP BY 1, 2),
         tots AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot
                  FROM cells GROUP BY 1),
         sided AS (SELECT c.source, c.bucket, c.cnt, t.tot
                   FROM cells c JOIN tots t ON c.source = t.source),
         p AS (
           SELECT a.source AS src_a, b.source AS src_b,
                  SQRT(CAST(a.cnt AS DOUBLE) / a.tot
                       * (CAST(b.cnt AS DOUBLE) / b.tot)) AS term
           FROM sided a JOIN sided b
             ON a.bucket = b.bucket AND a.source < b.source)
         SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_buckets_common,
                ROUND(SUM(term), 6) AS bhattacharyya,
                ROUND(1.0 - SUM(term), 6) AS hellinger_sq
         FROM p GROUP BY 1, 2"""),
    // q320: Fleiss' kappa — multi-rater nominal agreement (the four
    // lines of every 4-line order rating its return flag)
    QuerySpec("q320_fleiss_kappa", Stats.qFleissKappa _, Timed,
      // q320: S2 and category totals exact BIGINT; kappa is one
      // cross-multiplied division over HUGEINT products
      """WITH nij AS (
           SELECT l_orderkey AS k, l_returnflag AS cat,
                  CAST(COUNT(*) AS BIGINT) AS nij
           FROM lineitem GROUP BY 1, 2),
         subj AS (
           SELECT k, SUM(nij) AS m, SUM(nij * nij) AS sq
           FROM nij GROUP BY 1 HAVING SUM(nij) = 4),
         cj AS (
           SELECT n.cat, CAST(SUM(n.nij) AS BIGINT) AS cj
           FROM nij n JOIN subj s ON n.k = s.k GROUP BY 1),
         tot AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
                  CAST(SUM(sq) AS BIGINT) AS s2
           FROM subj),
         c2t AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_cats,
                  CAST(SUM(CAST(cj AS HUGEINT) * cj) AS BIGINT) AS c2
           FROM cj)
         SELECT n_subjects, n_cats, s2, c2,
                ROUND(CASE WHEN 16 * CAST(n_subjects AS HUGEINT) * n_subjects
                             - c2 > 0
                  THEN CAST(16 * CAST(n_subjects AS HUGEINT) * n_subjects
                              * (s2 - 4 * CAST(n_subjects AS HUGEINT))
                            - 12 * CAST(n_subjects AS HUGEINT) * c2 AS DOUBLE)
                       / CAST(12 * CAST(n_subjects AS HUGEINT)
                              * (16 * CAST(n_subjects AS HUGEINT) * n_subjects
                                 - c2) AS DOUBLE)
                  ELSE 0.0 END, 6) AS fleiss_kappa
         FROM tot CROSS JOIN c2t"""),
    // q321: quadratic-weighted Cohen's kappa — ordinal agreement of
    // year-over-year spend quintiles (tier stability vs chance)
    QuerySpec("q321_weighted_kappa", Stats.qWeightedKappa _, Timed,
      // q321: per-year discrete-order-statistic quintile cuts (the
      // q104x ROW_NUMBER = k device); all agreement sums exact
      """WITH spend AS (
           SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS cents
           FROM orders
           WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
           GROUP BY 1, 2),
         c AS (SELECT yr, COUNT(*) AS n FROM spend GROUP BY 1),
         r AS (SELECT c.yr, p.p,
                      GREATEST(1, CAST(CEIL(p.p * c.n) AS BIGINT)) AS kk
               FROM c CROSS JOIN (SELECT unnest([CAST(0.2 AS DOUBLE),
                 CAST(0.4 AS DOUBLE), CAST(0.6 AS DOUBLE),
                 CAST(0.8 AS DOUBLE)]) AS p) p),
         o AS (SELECT yr, cents,
                      ROW_NUMBER() OVER (PARTITION BY yr ORDER BY cents) AS rn
               FROM spend),
         cuts AS (SELECT r.yr,
                      MIN(CASE WHEN r.p = 0.2 THEN o.cents END) AS c1,
                      MIN(CASE WHEN r.p = 0.4 THEN o.cents END) AS c2,
                      MIN(CASE WHEN r.p = 0.6 THEN o.cents END) AS c3,
                      MIN(CASE WHEN r.p = 0.8 THEN o.cents END) AS c4
               FROM r JOIN o ON o.yr = r.yr AND o.rn = r.kk
               GROUP BY r.yr),
         rated AS (
           SELECT s.o_custkey, s.yr,
                  1 + CASE WHEN s.cents > u.c1 THEN 1 ELSE 0 END
                    + CASE WHEN s.cents > u.c2 THEN 1 ELSE 0 END
                    + CASE WHEN s.cents > u.c3 THEN 1 ELSE 0 END
                    + CASE WHEN s.cents > u.c4 THEN 1 ELSE 0 END AS q
           FROM spend s JOIN cuts u ON s.yr = u.yr),
         paired AS (
           SELECT o_custkey,
                  MIN(CASE WHEN yr = 1996 THEN q END) AS i,
                  MIN(CASE WHEN yr = 1997 THEN q END) AS j
           FROM rated GROUP BY 1
           HAVING MIN(CASE WHEN yr = 1996 THEN q END) IS NOT NULL
              AND MIN(CASE WHEN yr = 1997 THEN q END) IS NOT NULL),
         cells AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS o
                   FROM paired GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                        CAST(SUM((i - j) * (i - j) * o) AS BIGINT)
                          AS sum_w_obs
                 FROM cells),
         ri AS (SELECT i, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
         cjm AS (SELECT j, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
         wexp AS (SELECT CAST(SUM(CAST((ri.i - cjm.j) * (ri.i - cjm.j)
                    AS HUGEINT) * ri.r * cjm.c) AS BIGINT) AS sum_w_exp
                  FROM ri CROSS JOIN cjm)
         SELECT n, sum_w_obs, sum_w_exp,
                ROUND(CASE WHEN sum_w_exp > 0
                  THEN 1.0 - CAST(CAST(n AS HUGEINT) * sum_w_obs AS DOUBLE)
                             / CAST(sum_w_exp AS DOUBLE)
                  ELSE 1.0 END, 6) AS weighted_kappa
         FROM tot CROSS JOIN wexp"""),
    // q322: Durbin–Watson on the daily trend-fit residuals — the
    // regression-diagnostic serial-correlation cell beside q307/q308
    QuerySpec("q322_durbin_watson", Stats.qDurbinWatson _, Timed,
      // q322: exact integer-scaled residuals via the centered regressor
      // (scale factor n*Suu cancels in the ratio); HUGEINT sums
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         pos AS (
           SELECT event_type, x,
                  CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY day) AS BIGINT) AS t
           FROM daily),
         base AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS sy
           FROM pos GROUP BY 1),
         cent AS (
           SELECT p.event_type, p.x, p.t, b.n, b.sy,
                  2 * p.t - (b.n + 1) AS u
           FROM pos p JOIN base b ON p.event_type = b.event_type),
         fit AS (
           SELECT event_type, CAST(SUM(u * x) AS BIGINT) AS suy,
                  CAST(SUM(u * u) AS BIGINT) AS suu
           FROM cent GROUP BY 1),
         resid AS (
           SELECT c.event_type, c.n, c.t,
                  CAST(f.suu AS HUGEINT) * (c.n * c.x - c.sy)
                    - CAST(c.n AS HUGEINT) * f.suy * c.u AS et
           FROM cent c JOIN fit f ON c.event_type = f.event_type),
         lagd AS (
           SELECT event_type, n, et,
                  LAG(et, 1) OVER (PARTITION BY event_type ORDER BY t) AS et1
           FROM resid),
         sums AS (
           SELECT event_type, MAX(n) AS n_days,
                  SUM(et * et) AS sse,
                  SUM(CASE WHEN et1 IS NOT NULL
                    THEN (et - et1) * (et - et1)
                    ELSE CAST(0 AS HUGEINT) END) AS ssd,
                  SUM(CASE WHEN et1 IS NOT NULL THEN et * et1
                    ELSE CAST(0 AS HUGEINT) END) AS scross
           FROM lagd GROUP BY 1)
         SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
                ROUND(CASE WHEN sse > 0
                  THEN CAST(ssd AS DOUBLE) / CAST(sse AS DOUBLE)
                  ELSE 0.0 END, 6) AS dw,
                ROUND(CASE WHEN sse > 0
                  THEN CAST(scross AS DOUBLE) / CAST(sse AS DOUBLE)
                  ELSE 0.0 END, 6) AS rho1_resid
         FROM sums"""),
    // q323: Pettitt's rank-based changepoint test — the nonparametric
    // cell beside q177's CUSUM and q185's Page (no known mean needed)
    QuerySpec("q323_pettitt", Stats.qPettitt _, Timed,
      // q323: U_t telescopes to a positional cumulative of exact
      // value-domain ranks; K exact BIGINT, p the one libm call (round
      // 4, the ln precedent)
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         pos AS (
           SELECT event_type, day, x,
                  CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY day) AS BIGINT) AS t
           FROM daily),
         base AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM daily GROUP BY 1),
         cnt AS (
           SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS c
           FROM daily GROUP BY 1, 2),
         cum AS (
           SELECT event_type, x, c,
                  COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cum_lt
           FROM cnt),
         u AS (
           SELECT p.event_type, p.day, p.t, b.n,
                  SUM(2 * m.cum_lt + m.c - b.n) OVER (
                    PARTITION BY p.event_type ORDER BY p.t
                    ROWS UNBOUNDED PRECEDING) AS ut
           FROM pos p
           JOIN cum m ON p.event_type = m.event_type AND p.x = m.x
           JOIN base b ON p.event_type = b.event_type),
         k AS (
           SELECT event_type, MAX(n) AS n_days,
                  CAST(MAX(ABS(ut)) AS BIGINT) AS k_stat
           FROM u WHERE t < n GROUP BY 1),
         cp AS (
           SELECT u.event_type, MIN(u.day) AS cp_day
           FROM u JOIN k ON u.event_type = k.event_type
           WHERE u.t < u.n AND ABS(u.ut) = k.k_stat
           GROUP BY 1)
         SELECT k.event_type, k.n_days, k.k_stat,
                CAST(cp.cp_day - DATE '1970-01-01' AS BIGINT)
                  AS cp_epoch_day,
                ROUND(2.0 * EXP(-6.0 * CAST(k.k_stat AS DOUBLE)
                    * CAST(k.k_stat AS DOUBLE)
                  / (CAST(k.n_days AS DOUBLE) * CAST(k.n_days AS DOUBLE)
                       * CAST(k.n_days AS DOUBLE)
                     + CAST(k.n_days AS DOUBLE) * CAST(k.n_days AS DOUBLE))),
                  4) AS p_approx
         FROM k JOIN cp ON k.event_type = cp.event_type"""),
    // q324: Newman modularity of the brand partition on the
    // co-purchase backbone — categorical assortativity beside q169
    QuerySpec("q324_brand_modularity", (s, d) => Graph.qBrandModularity(s, d), Timed,
      // q324: exact edge/degree counts; each contribution is one
      // HUGEINT cross-multiplication and one division
      """WITH li AS (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         bb AS (
           SELECT a.p AS u, b.p AS v
           FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         e AS (
           SELECT pu.p_brand AS bu, pv.p_brand AS bv
           FROM bb JOIN part pu ON bb.u = pu.p_partkey
                   JOIN part pv ON bb.v = pv.p_partkey),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM e),
         mi AS (SELECT bu AS brand, CAST(COUNT(*) AS BIGINT) AS m_in
                FROM e WHERE bu = bv GROUP BY 1),
         dg AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS d_c
                FROM (SELECT bu AS brand FROM e
                      UNION ALL SELECT bv FROM e) GROUP BY 1)
         SELECT dg.brand, COALESCE(mi.m_in, 0) AS m_in, dg.d_c, m.m_edges,
                ROUND(CAST(4 * CAST(m.m_edges AS HUGEINT)
                        * COALESCE(mi.m_in, 0)
                      - CAST(dg.d_c AS HUGEINT) * dg.d_c AS DOUBLE)
                  / CAST(4 * CAST(m.m_edges AS HUGEINT) * m.m_edges
                    AS DOUBLE), 6) AS q_contrib
         FROM dg LEFT JOIN mi ON dg.brand = mi.brand CROSS JOIN m"""),
    // q325: Flesch reading ease / FK grade per source — the classic
    // readability readout beside the q23/q117 quality gates
    QuerySpec("q325_flesch", TextAnalysis.qFleschReadability _, Timed,
      // q325: all three counts exact integers (syllables = vowel-group
      // runs + vowel-less words = sum of per-word max(1, runs)); both
      // scores spelled-identical double formulas
      """WITH perdoc AS (
           SELECT source,
                  CAST(len(regexp_extract_all(lower(text), '\S+'))
                    AS BIGINT) AS w,
                  GREATEST(1, CAST(len(regexp_extract_all(lower(text),
                    '[.!?]+')) AS BIGINT)) AS sent,
                  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS vg,
                  CAST(len(regexp_extract_all(lower(text),
                    '\S*[aeiouy]\S*')) AS BIGINT) AS vw
           FROM documents),
         agg AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(w) AS BIGINT) AS n_words,
                  CAST(SUM(sent) AS BIGINT) AS n_sentences,
                  CAST(SUM(vg) + SUM(w) - SUM(vw) AS BIGINT) AS n_syllables
           FROM perdoc GROUP BY 1)
         SELECT source, n_docs, n_words, n_sentences, n_syllables,
                ROUND(CASE WHEN n_words > 0
                  THEN 206.835
                       - 1.015 * (CAST(n_words AS DOUBLE)
                                  / CAST(n_sentences AS DOUBLE))
                       - 84.6 * (CAST(n_syllables AS DOUBLE)
                                 / CAST(n_words AS DOUBLE))
                  ELSE 0.0 END, 6) AS flesch_ease,
                ROUND(CASE WHEN n_words > 0
                  THEN 0.39 * (CAST(n_words AS DOUBLE)
                               / CAST(n_sentences AS DOUBLE))
                       + 11.8 * (CAST(n_syllables AS DOUBLE)
                                 / CAST(n_words AS DOUBLE))
                       - 15.59
                  ELSE 0.0 END, 6) AS fk_grade
         FROM agg"""),
    // q326: Simpson concentration/diversity + Berger–Parker per
    // source — exact-rational diversity beside the entropy readouts
    QuerySpec("q326_simpson", TextAnalysis.qSimpsonDiversity _, Timed,
      // q326: exact-rational diversity — no logarithm anywhere, so the
      // gate checks at full hash strength
      """WITH tok AS (
           SELECT source, unnest(regexp_split_to_array(lower(text),
             '\s+')) AS w
           FROM documents),
         cnt AS (
           SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok WHERE len(w) > 0 GROUP BY 1, 2),
         agg AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
                  CAST(SUM(c) AS BIGINT) AS n_tokens,
                  CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS BIGINT)
                    AS sum_cc1,
                  CAST(MAX(c) AS BIGINT) AS max_c
           FROM cnt GROUP BY 1)
         SELECT source, n_types, n_tokens, sum_cc1, max_c,
                ROUND(CASE WHEN n_tokens > 1
                  THEN CAST(sum_cc1 AS DOUBLE)
                       / CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1)
                         AS DOUBLE)
                  ELSE 0.0 END, 6) AS simpson_lambda,
                ROUND(CASE WHEN sum_cc1 > 0
                  THEN CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1)
                         AS DOUBLE) / CAST(sum_cc1 AS DOUBLE)
                  ELSE 0.0 END, 6) AS inv_simpson,
                ROUND(CASE WHEN n_tokens > 0
                  THEN CAST(max_c AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  ELSE 0.0 END, 6) AS berger_parker
         FROM agg"""),
    // q327: integer Holt linear-trend monitor as streaming state —
    // the FOURTEENTH bit-exact stream/batch parity, first over a
    // two-term coupled recursion; oracle = recursive CTE
    QuerySpec("q327_streaming_holt", EventTime.qStreamingHolt _, Untimed,
      // q327/q327b: the recursive CTE walks the literal two-term Holt
      // recursion hour by hour — `//` truncates toward zero exactly
      // like the Scala folds' Long division (b's numerator can be
      // negative; floor semantics would diverge there)
      holtOracle),
    // q327b: the batch fold through the same monitor core (its own
    // gate row so batch and streaming are pinned independently)
    QuerySpec("q327b_holt_batch", Stats.qHoltMonitor _, Timed,
      holtOracle),
    // q328: partial correlation (qty~price | discount) per flag —
    // the confounder-removal cell over q223's sufficient sums
    QuerySpec("q328_partial_corr", Stats.qPartialCorr _, Timed,
      // q328: q223's exact sufficient sums per flag; the partial folds
      // the ROUNDED r's in a spelled-identical expression
      """WITH b AS (SELECT l_returnflag AS flag,
                           CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                             AS HUGEINT) AS x,
                           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS HUGEINT) AS y,
                           CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                             AS HUGEINT) AS z
                    FROM lineitem),
         s AS (SELECT flag, CAST(COUNT(*) AS HUGEINT) AS n,
                      SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
                      SUM(x * x) AS sxx, SUM(y * y) AS syy,
                      SUM(z * z) AS szz,
                      SUM(x * y) AS sxy, SUM(x * z) AS sxz,
                      SUM(y * z) AS syz
               FROM b GROUP BY 1),
         rr AS (SELECT flag, CAST(n AS BIGINT) AS nn,
                       CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
                       CAST(n * sxz - sx * sz AS DOUBLE) AS cxz,
                       CAST(n * syz - sy * sz AS DOUBLE) AS cyz,
                       CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
                       CAST(n * syy - sy * sy AS DOUBLE) AS vy,
                       CAST(n * szz - sz * sz AS DOUBLE) AS vz
                FROM s),
         r3 AS (SELECT flag, nn,
                       ROUND(CASE WHEN vx > 0 AND vy > 0
                         THEN cxy / SQRT(vx) / SQRT(vy)
                         ELSE 0.0 END, 6) AS r_xy,
                       ROUND(CASE WHEN vx > 0 AND vz > 0
                         THEN cxz / SQRT(vx) / SQRT(vz)
                         ELSE 0.0 END, 6) AS r_xz,
                       ROUND(CASE WHEN vy > 0 AND vz > 0
                         THEN cyz / SQRT(vy) / SQRT(vz)
                         ELSE 0.0 END, 6) AS r_yz
                FROM rr)
         SELECT flag, nn AS n, r_xy, r_xz, r_yz,
                ROUND(CASE WHEN (1.0 - r_xz * r_xz)
                             * (1.0 - r_yz * r_yz) > 0
                  THEN (r_xy - r_xz * r_yz)
                       / SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
                  ELSE 0.0 END, 6) AS partial_xy_z
         FROM r3"""),
    // q329: Hosmer–Lemeshow calibration test over the proxy
    // classifier — the formal test beside q230/q309
    QuerySpec("q329_hosmer_lemeshow", Stats.qHosmerLemeshow _, Timed,
      // q329: q230's scorer CTE verbatim (clamped at 9000); deciles via
      // the q104x ROW_NUMBER = k cut device; each HL term is one
      // exact-integer ratio
      """WITH sc AS (
           SELECT doc_id,
                  CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS is_pos,
                  n_toks * 100 + hits * 10 + dhits AS score_milli
           FROM (SELECT doc_id, n_chars,
                        len(list_filter(toks, t -> t IN ('the','a','of',
                          'and','to','in','is','it'))) AS hits,
                        len(list_intersect(list_distinct(toks),
                          ['the','a','of','and','to','in','is','it']))
                          AS dhits,
                        len(toks) AS n_toks
                 FROM (SELECT doc_id, n_chars,
                              string_split_regex(lower(text), '\s+') AS toks
                       FROM documents))),
         scl AS (SELECT is_pos, LEAST(score_milli, 9000) AS sm FROM sc),
         c AS (SELECT COUNT(*) AS n FROM scl),
         r AS (SELECT p.p,
                      GREATEST(1, CAST(CEIL(p.p * c.n) AS BIGINT)) AS kk
               FROM c CROSS JOIN (SELECT unnest([CAST(0.1 AS DOUBLE),
                 CAST(0.2 AS DOUBLE), CAST(0.3 AS DOUBLE),
                 CAST(0.4 AS DOUBLE), CAST(0.5 AS DOUBLE),
                 CAST(0.6 AS DOUBLE), CAST(0.7 AS DOUBLE),
                 CAST(0.8 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS p) p),
         o AS (SELECT sm, ROW_NUMBER() OVER (ORDER BY sm) AS rn FROM scl),
         cuts AS (SELECT
                    MIN(CASE WHEN r.p = 0.1 THEN o.sm END) AS c1,
                    MIN(CASE WHEN r.p = 0.2 THEN o.sm END) AS c2,
                    MIN(CASE WHEN r.p = 0.3 THEN o.sm END) AS c3,
                    MIN(CASE WHEN r.p = 0.4 THEN o.sm END) AS c4,
                    MIN(CASE WHEN r.p = 0.5 THEN o.sm END) AS c5,
                    MIN(CASE WHEN r.p = 0.6 THEN o.sm END) AS c6,
                    MIN(CASE WHEN r.p = 0.7 THEN o.sm END) AS c7,
                    MIN(CASE WHEN r.p = 0.8 THEN o.sm END) AS c8,
                    MIN(CASE WHEN r.p = 0.9 THEN o.sm END) AS c9
                  FROM r JOIN o ON o.rn = r.kk),
         g AS (SELECT s.is_pos, s.sm,
                 1 + CASE WHEN s.sm > u.c1 THEN 1 ELSE 0 END
                   + CASE WHEN s.sm > u.c2 THEN 1 ELSE 0 END
                   + CASE WHEN s.sm > u.c3 THEN 1 ELSE 0 END
                   + CASE WHEN s.sm > u.c4 THEN 1 ELSE 0 END
                   + CASE WHEN s.sm > u.c5 THEN 1 ELSE 0 END
                   + CASE WHEN s.sm > u.c6 THEN 1 ELSE 0 END
                   + CASE WHEN s.sm > u.c7 THEN 1 ELSE 0 END
                   + CASE WHEN s.sm > u.c8 THEN 1 ELSE 0 END
                   + CASE WHEN s.sm > u.c9 THEN 1 ELSE 0 END AS hl_group
               FROM scl s CROSS JOIN cuts u),
         agg AS (SELECT hl_group, CAST(COUNT(*) AS BIGINT) AS n_g,
                        CAST(SUM(is_pos) AS BIGINT) AS obs_pos,
                        CAST(SUM(sm) AS BIGINT) AS pred_milli
                 FROM g GROUP BY 1)
         SELECT CAST(hl_group AS BIGINT) AS hl_group, n_g, obs_pos,
                pred_milli,
                ROUND(CASE WHEN pred_milli > 0 AND pred_milli < 9000 * n_g
                  THEN CAST((9000 * obs_pos - pred_milli)
                         * CAST(9000 * obs_pos - pred_milli AS HUGEINT)
                         * n_g AS DOUBLE)
                       / CAST(CAST(pred_milli AS HUGEINT)
                              * (9000 * n_g - pred_milli) AS DOUBLE)
                  ELSE 0.0 END, 6) AS hl_term
         FROM agg"""),
    // q330: two-way RCB ANOVA over the q299 blocks — Friedman's
    // parametric twin (treatment + block F's from exact sums)
    QuerySpec("q330_two_way_anova", Stats.qTwoWayAnova _, Timed,
      // q330: four exact sufficient rollups (T, Q, ΣT_j², ΣB_i²); every
      // SS and both F's are spelled-identical double compositions
      """WITH spend AS (
           SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS v
           FROM orders
           WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1999-01-01'
           GROUP BY 1, 2),
         kept AS (
           SELECT * FROM spend
           WHERE o_custkey IN (SELECT o_custkey FROM spend
                               GROUP BY 1 HAVING COUNT(*) = 3)),
         blk AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                  SUM(CAST(b AS HUGEINT) * b) AS sum_b_sq
           FROM (SELECT o_custkey, SUM(v) AS b FROM kept GROUP BY 1)),
         yrs AS (
           SELECT SUM(CAST(t_j AS HUGEINT) * t_j) AS sum_t_sq
           FROM (SELECT yr, SUM(v) AS t_j FROM kept GROUP BY 1)),
         g AS (SELECT CAST(SUM(v) AS BIGINT) AS t,
                      SUM(CAST(v AS HUGEINT) * v) AS q_sq
               FROM kept),
         d AS (
           SELECT blk.n_blocks, CAST(3 AS BIGINT) AS k,
                  CAST(g.t AS DOUBLE) AS td,
                  CAST(g.q_sq AS DOUBLE) AS qd,
                  CAST(yrs.sum_t_sq AS DOUBLE) AS tsq,
                  CAST(blk.sum_b_sq AS DOUBLE) AS bsq
           FROM g CROSS JOIN blk CROSS JOIN yrs),
         ss AS (
           SELECT n_blocks, k,
                  qd - td * td / (CAST(n_blocks AS DOUBLE) * 3.0)
                    AS ss_total,
                  tsq / CAST(n_blocks AS DOUBLE)
                    - td * td / (CAST(n_blocks AS DOUBLE) * 3.0) AS ss_treat,
                  bsq / 3.0
                    - td * td / (CAST(n_blocks AS DOUBLE) * 3.0) AS ss_block
           FROM d),
         sse AS (
           SELECT n_blocks, k, ss_treat, ss_block,
                  ss_total - ss_treat - ss_block AS ss_error
           FROM ss)
         SELECT n_blocks, k,
                ROUND(ss_treat, 6) AS ss_treat,
                ROUND(ss_block, 6) AS ss_block,
                ROUND(ss_error, 6) AS ss_error,
                ROUND(CASE WHEN ss_error > 0 AND n_blocks > 1
                  THEN (ss_treat / 2.0)
                       / (ss_error / (2.0 * (CAST(n_blocks AS DOUBLE) - 1.0)))
                  ELSE 0.0 END, 6) AS f_treat,
                ROUND(CASE WHEN ss_error > 0 AND n_blocks > 1
                  THEN (ss_block / (CAST(n_blocks AS DOUBLE) - 1.0))
                       / (ss_error / (2.0 * (CAST(n_blocks AS DOUBLE) - 1.0)))
                  ELSE 0.0 END, 6) AS f_block
         FROM sse"""),
    // q331: Bowker's symmetry test over the q321 quintile transition
    // matrix — the k×k McNemar (up-moves vs down-moves per pair)
    QuerySpec("q331_bowker_symmetry", Stats.qBowkerSymmetry _, Timed,
      // q331: q321's transition-cell chain verbatim, folded to
      // off-diagonal pair rows — each term one exact-integer ratio
      """WITH spend AS (
           SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS cents
           FROM orders
           WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
           GROUP BY 1, 2),
         c AS (SELECT yr, COUNT(*) AS n FROM spend GROUP BY 1),
         r AS (SELECT c.yr, p.p,
                      GREATEST(1, CAST(CEIL(p.p * c.n) AS BIGINT)) AS kk
               FROM c CROSS JOIN (SELECT unnest([CAST(0.2 AS DOUBLE),
                 CAST(0.4 AS DOUBLE), CAST(0.6 AS DOUBLE),
                 CAST(0.8 AS DOUBLE)]) AS p) p),
         o AS (SELECT yr, cents,
                      ROW_NUMBER() OVER (PARTITION BY yr ORDER BY cents) AS rn
               FROM spend),
         cuts AS (SELECT r.yr,
                      MIN(CASE WHEN r.p = 0.2 THEN o.cents END) AS c1,
                      MIN(CASE WHEN r.p = 0.4 THEN o.cents END) AS c2,
                      MIN(CASE WHEN r.p = 0.6 THEN o.cents END) AS c3,
                      MIN(CASE WHEN r.p = 0.8 THEN o.cents END) AS c4
               FROM r JOIN o ON o.yr = r.yr AND o.rn = r.kk
               GROUP BY r.yr),
         rated AS (
           SELECT s.o_custkey, s.yr,
                  1 + CASE WHEN s.cents > u.c1 THEN 1 ELSE 0 END
                    + CASE WHEN s.cents > u.c2 THEN 1 ELSE 0 END
                    + CASE WHEN s.cents > u.c3 THEN 1 ELSE 0 END
                    + CASE WHEN s.cents > u.c4 THEN 1 ELSE 0 END AS q
           FROM spend s JOIN cuts u ON s.yr = u.yr),
         paired AS (
           SELECT o_custkey,
                  MIN(CASE WHEN yr = 1996 THEN q END) AS i,
                  MIN(CASE WHEN yr = 1997 THEN q END) AS j
           FROM rated GROUP BY 1
           HAVING MIN(CASE WHEN yr = 1996 THEN q END) IS NOT NULL
              AND MIN(CASE WHEN yr = 1997 THEN q END) IS NOT NULL),
         cells AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS o
                   FROM paired WHERE i <> j GROUP BY 1, 2),
         pairs AS (
           SELECT LEAST(i, j) AS q_lo, GREATEST(i, j) AS q_hi,
                  CAST(SUM(CASE WHEN i < j THEN o ELSE 0 END) AS BIGINT)
                    AS n_up,
                  CAST(SUM(CASE WHEN i > j THEN o ELSE 0 END) AS BIGINT)
                    AS n_down
           FROM cells GROUP BY 1, 2)
         SELECT CAST(q_lo AS BIGINT) AS q_lo, CAST(q_hi AS BIGINT) AS q_hi,
                n_up, n_down,
                ROUND(CASE WHEN n_up + n_down > 0
                  THEN CAST((n_up - n_down) * (n_up - n_down) AS DOUBLE)
                       / CAST(n_up + n_down AS DOUBLE)
                  ELSE 0.0 END, 6) AS term
         FROM pairs"""),
    // q332: Kendall's W — the concordance effect size for q299,
    // computed independently (spec pins the χ²_F = n(k−1)·W identity)
    QuerySpec("q332_kendall_w", Stats.qKendallW _, Timed,
      // q332: column rank sums + per-block raw tie sums on the shared
      // rank CTE; W is one DECIMAL-widened division
      s"""$yearRankCte
         py AS (SELECT yr, CAST(SUM(dij) AS BIGINT) AS d_sum
                FROM ranked GROUP BY 1),
         g AS (SELECT CAST(COUNT(*) // 3 AS BIGINT) AS n_blocks
               FROM ranked),
         tie AS (SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
                 FROM (SELECT o_custkey, v, COUNT(*) AS t
                       FROM blocks GROUP BY 1, 2)),
         sp AS (SELECT g.n_blocks,
                       CAST(SUM((py.d_sum - 4 * g.n_blocks)
                                * (py.d_sum - 4 * g.n_blocks)) AS BIGINT)
                         AS s_prime
                FROM py, g GROUP BY g.n_blocks)
         SELECT sp.n_blocks, sp.s_prime, tie.tie_sum,
                ROUND(CASE WHEN 24 * CAST(sp.n_blocks AS HUGEINT)
                             * sp.n_blocks
                           - CAST(sp.n_blocks AS HUGEINT) * tie.tie_sum > 0
                  THEN CAST(3 * CAST(sp.s_prime AS HUGEINT) AS DOUBLE)
                       / CAST(24 * CAST(sp.n_blocks AS HUGEINT) * sp.n_blocks
                              - CAST(sp.n_blocks AS HUGEINT) * tie.tie_sum
                         AS DOUBLE)
                  ELSE 0.0 END, 6) AS kendall_w
         FROM sp CROSS JOIN tie"""),
    // q333: ECE/MCE — the reported calibration metric beside q329's
    // test; exact-integer gap numerators
    QuerySpec("q333_calibration_error", Stats.qCalibrationError _, Timed,
      // q333: ECE's numerator is one BIGINT sum of per-bin |9000·O − S|
      // gaps; MCE the max of the same exact integers divided per bin
      """WITH sc AS (
           SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS is_pos,
                  LEAST(n_toks * 100 + hits * 10 + dhits, 9000) AS sm
           FROM (SELECT doc_id, n_chars,
                        len(list_filter(toks, t -> t IN ('the','a','of',
                          'and','to','in','is','it'))) AS hits,
                        len(list_intersect(list_distinct(toks),
                          ['the','a','of','and','to','in','is','it']))
                          AS dhits,
                        len(toks) AS n_toks
                 FROM (SELECT doc_id, n_chars,
                              string_split_regex(lower(text), '\s+') AS toks
                       FROM documents))),
         bins AS (
           SELECT LEAST(9, sm * 10 // 9000) AS bin,
                  CAST(COUNT(*) AS BIGINT) AS n_b,
                  CAST(SUM(is_pos) AS BIGINT) AS obs_pos,
                  CAST(SUM(sm) AS BIGINT) AS pred_milli
           FROM sc GROUP BY 1),
         gaps AS (
           SELECT bin, n_b, obs_pos, pred_milli,
                  CAST(ABS(9000 * obs_pos - pred_milli) AS BIGINT) AS abs_gap
           FROM bins),
         tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n,
                        CAST(SUM(abs_gap) AS BIGINT) AS gap_sum
                 FROM gaps),
         mx AS (SELECT MAX(CAST(abs_gap AS DOUBLE)
                           / (9000.0 * CAST(n_b AS DOUBLE))) AS mce_raw
                FROM gaps)
         SELECT CAST(g.bin AS BIGINT) AS bin, g.n_b, g.obs_pos,
                g.pred_milli, g.abs_gap,
                ROUND(CAST(g.abs_gap AS DOUBLE)
                      / (9000.0 * CAST(g.n_b AS DOUBLE)), 6) AS bin_gap,
                ROUND(CAST(t.gap_sum AS DOUBLE)
                      / (9000.0 * CAST(t.n AS DOUBLE)), 6) AS ece,
                ROUND(mx.mce_raw, 6) AS mce
         FROM gaps g CROSS JOIN tot t CROSS JOIN mx"""),
    // q334: term burstiness (Church–Gale cf/df) — the clumping
    // readout beside q182's temporal Fano factor
    QuerySpec("q334_term_burstiness", (s, d) => TextAnalysis.qTermBurstiness(s, d), Timed,
      // q334: cf/df is an exact-rational-valued double — deterministic
      // (burstiness DESC, term) total order
      """WITH tok AS (
           SELECT doc_id, source,
                  unnest(regexp_split_to_array(lower(text), '\s+')) AS w
           FROM documents),
         stats AS (
           SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cf,
                  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM tok WHERE len(w) > 0 GROUP BY 1, 2),
         scored AS (
           SELECT source, w, cf, df,
                  ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6)
                    AS burstiness
           FROM stats WHERE df >= 3),
         ranked AS (
           SELECT source, w, cf, df, burstiness,
                  CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY burstiness DESC, w) AS BIGINT) AS rank
           FROM scored)
         SELECT source, rank, w AS term, cf, df, burstiness
         FROM ranked WHERE rank <= 5"""),
    // q335: chi-square keyness per source vs rest-of-corpus — the
    // slice-comparison verb; LLR reported, χ² ranks (exact-rational)
    QuerySpec("q335_keyness", (s, d) => TextAnalysis.qKeyness(s, d), Timed,
      // q335: χ² keyness ranks (exact-rational double); LLR reported
      // at round 4 (the ln precedent) but never orders
      """WITH tok AS (
           SELECT source,
                  unnest(regexp_split_to_array(lower(text), '\s+')) AS w
           FROM documents),
         bysrc AS (
           SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a
           FROM tok WHERE len(w) > 0 GROUP BY 1, 2),
         tterm AS (SELECT w, CAST(SUM(a) AS BIGINT) AS ab
                   FROM bysrc GROUP BY 1),
         tsrc AS (SELECT source, CAST(SUM(a) AS BIGINT) AS n1
                  FROM bysrc GROUP BY 1),
         grand AS (SELECT CAST(SUM(n1) AS BIGINT) AS nn FROM tsrc),
         cells AS (
           SELECT b.source, b.w, b.a, t.ab - b.a AS bb,
                  s.n1, g.nn - s.n1 AS n2, t.ab, g.nn
           FROM bysrc b
           JOIN tterm t ON b.w = t.w
           JOIN tsrc s ON b.source = s.source
           CROSS JOIN grand g
           WHERE CAST(b.a AS HUGEINT) * (g.nn - s.n1)
                 > CAST(t.ab - b.a AS HUGEINT) * s.n1),
         scored AS (
           SELECT source, w, a, bb,
                  ROUND(CAST(nn AS DOUBLE)
                    * CAST(CAST(a AS HUGEINT) * n2
                           - CAST(bb AS HUGEINT) * n1 AS DOUBLE)
                    * CAST(CAST(a AS HUGEINT) * n2
                           - CAST(bb AS HUGEINT) * n1 AS DOUBLE)
                    / (CAST(ab AS DOUBLE) * CAST(nn - ab AS DOUBLE)
                       * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
                    AS chi2_keyness,
                  ROUND(2.0 * (
                    CASE WHEN a > 0
                      THEN CAST(a AS DOUBLE)
                           * ln(CAST(a AS DOUBLE) * CAST(nn AS DOUBLE)
                                / (CAST(n1 AS DOUBLE) * CAST(ab AS DOUBLE)))
                      ELSE 0.0 END +
                    CASE WHEN bb > 0
                      THEN CAST(bb AS DOUBLE)
                           * ln(CAST(bb AS DOUBLE) * CAST(nn AS DOUBLE)
                                / (CAST(n2 AS DOUBLE) * CAST(ab AS DOUBLE)))
                      ELSE 0.0 END), 4) AS llr
           FROM cells),
         ranked AS (
           SELECT source, w, a, bb, chi2_keyness, llr,
                  CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY chi2_keyness DESC, w) AS BIGINT) AS rank
           FROM scored)
         SELECT source, rank, w AS term, a AS cf_in, bb AS cf_rest,
                chi2_keyness, llr
         FROM ranked WHERE rank <= 5"""),
    // q336: decision stump (best Gini split) over the proxy score —
    // the one-split CART primitive beside the q231 sweep
    QuerySpec("q336_decision_stump", Stats.qDecisionStump _, Timed,
      // q336: cumulatives over the bounded score domain; the argmin
      // orders by the ROUNDED impurity then the smallest threshold
      """WITH sc AS (
           SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS is_pos,
                  n_toks * 100 + hits * 10 + dhits AS score_milli
           FROM (SELECT doc_id, n_chars,
                        len(list_filter(toks, t -> t IN ('the','a','of',
                          'and','to','in','is','it'))) AS hits,
                        len(list_intersect(list_distinct(toks),
                          ['the','a','of','and','to','in','is','it']))
                          AS dhits,
                        len(toks) AS n_toks
                 FROM (SELECT doc_id, n_chars,
                              string_split_regex(lower(text), '\s+') AS toks
                       FROM documents))),
         byscore AS (
           SELECT score_milli, CAST(COUNT(*) AS BIGINT) AS cnt,
                  CAST(SUM(is_pos) AS BIGINT) AS pos
           FROM sc GROUP BY 1),
         cum AS (
           SELECT score_milli,
                  COALESCE(SUM(cnt) OVER (ORDER BY score_milli
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS n_l,
                  COALESCE(SUM(pos) OVER (ORDER BY score_milli
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS pos_l,
                  SUM(cnt) OVER () AS n,
                  SUM(pos) OVER () AS pos_tot
           FROM byscore),
         scored AS (
           SELECT score_milli, n_l, pos_l, n - n_l AS n_r,
                  pos_tot - pos_l AS pos_r, n, pos_tot,
                  ROUND((CASE WHEN n_l > 0
                      THEN 2.0 * CAST(pos_l AS DOUBLE)
                           * CAST(n_l - pos_l AS DOUBLE)
                           / CAST(n_l AS DOUBLE) ELSE 0.0 END
                    + CASE WHEN n - n_l > 0
                      THEN 2.0 * CAST(pos_tot - pos_l AS DOUBLE)
                           * CAST((n - n_l) - (pos_tot - pos_l) AS DOUBLE)
                           / CAST(n - n_l AS DOUBLE) ELSE 0.0 END)
                    / CAST(n AS DOUBLE), 6) AS gini_after,
                  ROUND(CASE WHEN n > 0
                    THEN 2.0 * CAST(pos_tot AS DOUBLE)
                         * CAST(n - pos_tot AS DOUBLE)
                         / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
                    ELSE 0.0 END, 6) AS gini_before
           FROM cum)
         SELECT CAST(score_milli AS BIGINT) AS threshold,
                CAST(n_l AS BIGINT) AS n_l, CAST(pos_l AS BIGINT) AS pos_l,
                CAST(n_r AS BIGINT) AS n_r, CAST(pos_r AS BIGINT) AS pos_r,
                gini_before, gini_after,
                ROUND(gini_before - gini_after, 6) AS gini_gain
         FROM scored
         ORDER BY gini_after ASC, score_milli ASC LIMIT 1"""),
    // q337: gamma method-of-moments fit per priority — the shape
    // answer after q306's normality gate rejects
    QuerySpec("q337_gamma_mom", Stats.qGammaMomFit _, Timed,
      // q337: k and theta from the three exact sums; V = nS2 - S1^2
      """WITH base AS (
           SELECT o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS v
           FROM orders),
         sums AS (
           SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(v) AS BIGINT) AS s1,
                  SUM(CAST(v AS HUGEINT) * v) AS s2
           FROM base GROUP BY 1),
         vv AS (
           SELECT o_orderpriority, n, s1,
                  CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
                    AS var_num
           FROM sums)
         SELECT o_orderpriority, n, s1,
                ROUND(CASE WHEN n > 1 AND var_num > 0
                  THEN CAST(CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                       * CAST(n - 1 AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(var_num AS DOUBLE))
                  ELSE 0.0 END, 6) AS gamma_k,
                ROUND(CASE WHEN n > 1 AND s1 > 0
                  THEN CAST(var_num AS DOUBLE)
                       / (CAST(n - 1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  ELSE 0.0 END, 6) AS gamma_theta_cents
         FROM vv"""),
    // q338: linear multi-touch attribution — exact ppm credit split,
    // the multi-touch sibling of q199's last-touch
    QuerySpec("q338_linear_attribution", Stats.qLinearAttribution _, Timed,
      // q338: integer ppm credit — floor share per touch, remainder to
      // the last touch, so each attributed purchase sums to exactly 1e6
      """WITH ev AS (
           SELECT user_id, event_id, event_type,
                  CAST(epoch_us(ts) AS BIGINT) AS us
           FROM events),
         touches AS (
           SELECT user_id, event_id AS t_id, event_type AS t_type,
                  us AS t_us
           FROM ev WHERE event_type IN ('view', 'click')),
         purch AS (
           SELECT user_id, event_id AS p_id, us AS p_us
           FROM ev WHERE event_type = 'purchase'),
         j AS (
           SELECT p.user_id, p.p_id, t.t_id, t.t_type, t.t_us
           FROM purch p LEFT JOIN touches t
             ON p.user_id = t.user_id AND t.t_us < p.p_us
                AND p.p_us - t.t_us <= 86400000000),
         credited AS (
           SELECT user_id, p_id, t_type,
                  COUNT(t_id) OVER (PARTITION BY user_id, p_id) AS n_t,
                  ROW_NUMBER() OVER (PARTITION BY user_id, p_id
                    ORDER BY t_us DESC, t_id DESC) AS rk
           FROM j),
         pay AS (
           SELECT CASE WHEN n_t = 0 THEN 'unattributed' ELSE t_type END
                    AS attributed_type,
                  p_id,
                  CASE WHEN n_t = 0 THEN 1000000
                       WHEN rk = 1
                         THEN 1000000 - (n_t - 1) * (1000000 // n_t)
                       ELSE 1000000 // n_t END AS credit_ppm,
                  CASE WHEN n_t > 0 THEN 1 ELSE 0 END AS is_touch
           FROM credited)
         SELECT attributed_type,
                CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm_total,
                CAST(SUM(is_touch) AS BIGINT) AS n_credited_touches,
                CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases
         FROM pay GROUP BY 1"""),
    // q339: HHI + CR4 market concentration per supplier nation —
    // the antitrust read beside q160's Gini and q289's shares
    QuerySpec("q339_hhi_concentration", Relational.qHhiConcentration _, Timed,
      // q339: HHI one division of HUGEINT-widened integers; CR4 an
      // exact top-4 fold via the deterministic (v DESC, suppkey) rank
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)
                      * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                           AS BIGINT))) AS BIGINT) AS v
           FROM lineitem GROUP BY 1),
         ranked AS (
           SELECT s.s_nationkey AS nation, r.l_suppkey, r.v,
                  ROW_NUMBER() OVER (PARTITION BY s.s_nationkey
                    ORDER BY r.v DESC, r.l_suppkey) AS rk
           FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey),
         agg AS (
           SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                  CAST(SUM(v) AS BIGINT) AS v_total,
                  SUM(CAST(v AS HUGEINT) * v) AS sum_v_sq,
                  CAST(SUM(CASE WHEN rk <= 4 THEN v ELSE 0 END) AS BIGINT)
                    AS top4_v
           FROM ranked GROUP BY 1)
         SELECT CAST(nation AS BIGINT) AS nation, n_suppliers, v_total,
                ROUND(CASE WHEN v_total > 0
                  THEN CAST(sum_v_sq AS DOUBLE)
                       / CAST(CAST(v_total AS HUGEINT) * v_total AS DOUBLE)
                  ELSE 0.0 END, 6) AS hhi,
                CAST(CASE WHEN v_total > 0
                  THEN CAST(top4_v AS HUGEINT) * 1000000 // v_total
                  ELSE 0 END AS BIGINT) AS cr4_ppm
         FROM agg"""),
    // q340: covariate balance SMD table — the causal "Table 1"
    // before any exposure contrast (q208/q304's prerequisite)
    QuerySpec("q340_covariate_balance", Stats.qCovariateBalance _, Timed,
      // q340: exact (n, S1, S2) per cell; means/variances/SMD
      // spelled-identical doubles
      """WITH spend AS (
           SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS spend_cents
           FROM orders GROUP BY 1),
         cust AS (
           SELECT c_custkey,
                  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                    AS exposed,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS acctbal_cents,
                  COALESCE(s.n_orders, 0) AS n_orders,
                  COALESCE(s.spend_cents, 0) AS spend_cents
           FROM customer LEFT JOIN spend s ON c_custkey = s.o_custkey),
         long AS (
           SELECT 'acctbal_cents' AS covariate, exposed,
                  acctbal_cents AS x FROM cust
           UNION ALL
           SELECT 'n_orders', exposed, n_orders FROM cust
           UNION ALL
           SELECT 'spend_cents', exposed, spend_cents FROM cust),
         cells AS (
           SELECT covariate, exposed, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS s1,
                  SUM(CAST(x AS HUGEINT) * x) AS s2
           FROM long GROUP BY 1, 2),
         m AS (
           SELECT covariate, exposed, n,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                  CASE WHEN n > 1
                    THEN CAST(CAST(n AS HUGEINT) * s2
                              - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                    ELSE 0.0 END AS vair
           FROM cells)
         SELECT e1.covariate, e1.n AS n_exposed, e0.n AS n_control,
                ROUND(e1.mean, 6) AS mean_exposed,
                ROUND(e0.mean, 6) AS mean_control,
                ROUND(CASE WHEN e1.vair + e0.vair > 0
                  THEN (e1.mean - e0.mean)
                       / SQRT((e1.vair + e0.vair) / 2.0)
                  ELSE 0.0 END, 6) AS smd
         FROM m e1 JOIN m e0
           ON e1.covariate = e0.covariate
          AND e1.exposed = 1 AND e0.exposed = 0"""),
    // q341: Wilson score intervals for the q263 arm conversions
    QuerySpec("q341_wilson_interval", Stats.qWilsonInterval _, Timed,
      // q341: exact p-hat rationals through the fixed Wilson algebra
      // (z = 1.959964 the same literal on both engines)
      """WITH arms AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' AND value >= 95
                      THEN 1 ELSE 0 END) AS conv
           FROM events GROUP BY 1),
         cnt AS (
           SELECT CAST(user_id % 2 AS BIGINT) AS arm,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(conv) AS BIGINT) AS c
           FROM arms GROUP BY 1)
         SELECT arm, n, c,
                ROUND(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
                ROUND((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                    + 1.959964 * 1.959964 / (2.0 * CAST(n AS DOUBLE)))
                  / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE))
                  - 1.959964 * SQRT(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                      * (1.0 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                    + 1.959964 * 1.959964
                      / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                    / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE)), 6)
                  AS wilson_lo,
                ROUND((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                    + 1.959964 * 1.959964 / (2.0 * CAST(n AS DOUBLE)))
                  / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE))
                  + 1.959964 * SQRT(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                      * (1.0 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                    + 1.959964 * 1.959964
                      / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                    / (1.0 + 1.959964 * 1.959964 / CAST(n AS DOUBLE)), 6)
                  AS wilson_hi
         FROM cnt"""),
    // q342: sample-ratio-mismatch health check on the arm splitter
    QuerySpec("q342_srm_check", Stats.qSrmCheck _, Timed,
      // q342: the splitter-health chi-square, one division
      """WITH arms AS (
           SELECT CAST(user_id % 2 AS BIGINT) AS arm,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT DISTINCT user_id FROM events) GROUP BY 1)
         SELECT a.n AS n_a, b.n AS n_b,
                ROUND(CAST((a.n - b.n) * (a.n - b.n) AS DOUBLE)
                      / CAST(a.n + b.n AS DOUBLE), 6) AS srm_chi2,
                CAST(CASE WHEN CAST((a.n - b.n) * (a.n - b.n) AS DOUBLE)
                           / CAST(a.n + b.n AS DOUBLE) > 10.83
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_alarm
         FROM arms a CROSS JOIN arms b
         WHERE a.arm = 0 AND b.arm = 1"""),
    // q343: isotonic (PAVA) calibration — the repair member of the
    // calibration family (rows-only: sequential pooling isn't SQL;
    // Round10eSpec pins isotonicity, mass conservation, and equality
    // with an O(n^2) reference)
    QuerySpec("q343_isotonic_calibration", Stats.qIsotonicCalibration _, Timed),
    // q344: stratified-adjustment effect estimate — the estimator the
    // q340 balance table gates (Cochran's design-based adjustment)
    QuerySpec("q344_stratified_effect", Stats.qStratifiedEffect _, Timed,
      // q344: quintile strata via the q104x cut device; stratum
      // contrasts and the weighted combination as spelled doubles
      """WITH spend AS (
           SELECT o_custkey,
                  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS spend_cents
           FROM orders GROUP BY 1),
         cust AS (
           SELECT c_custkey,
                  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                    AS exposed,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS bal,
                  COALESCE(s.spend_cents, 0) AS spend_cents
           FROM customer LEFT JOIN spend s ON c_custkey = s.o_custkey),
         c AS (SELECT COUNT(*) AS n FROM cust),
         r AS (SELECT p.p,
                      GREATEST(1, CAST(CEIL(p.p * c.n) AS BIGINT)) AS kk
               FROM c CROSS JOIN (SELECT unnest([CAST(0.2 AS DOUBLE),
                 CAST(0.4 AS DOUBLE), CAST(0.6 AS DOUBLE),
                 CAST(0.8 AS DOUBLE)]) AS p) p),
         o AS (SELECT bal, ROW_NUMBER() OVER (ORDER BY bal) AS rn
               FROM cust),
         cuts AS (SELECT
                    MIN(CASE WHEN r.p = 0.2 THEN o.bal END) AS c1,
                    MIN(CASE WHEN r.p = 0.4 THEN o.bal END) AS c2,
                    MIN(CASE WHEN r.p = 0.6 THEN o.bal END) AS c3,
                    MIN(CASE WHEN r.p = 0.8 THEN o.bal END) AS c4
                  FROM r JOIN o ON o.rn = r.kk),
         cells AS (
           SELECT 1 + CASE WHEN bal > u.c1 THEN 1 ELSE 0 END
                    + CASE WHEN bal > u.c2 THEN 1 ELSE 0 END
                    + CASE WHEN bal > u.c3 THEN 1 ELSE 0 END
                    + CASE WHEN bal > u.c4 THEN 1 ELSE 0 END AS stratum,
                  CAST(SUM(exposed) AS BIGINT) AS n1,
                  CAST(SUM(1 - exposed) AS BIGINT) AS n0,
                  CAST(SUM(CASE WHEN exposed = 1 THEN spend_cents
                    ELSE 0 END) AS BIGINT) AS s1,
                  CAST(SUM(CASE WHEN exposed = 0 THEN spend_cents
                    ELSE 0 END) AS BIGINT) AS s0
           FROM cust CROSS JOIN cuts u GROUP BY 1),
         diffs AS (
           SELECT stratum, n1, n0, s1, s0,
                  CASE WHEN n1 > 0 AND n0 > 0
                    THEN CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                         - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                    ELSE 0.0 END AS diff_raw,
                  CASE WHEN n1 > 0 AND n0 > 0
                    THEN CAST(n1 + n0 AS DOUBLE) ELSE 0.0 END AS w
           FROM cells),
         ate AS (SELECT SUM(w * diff_raw) / SUM(w) AS ate_raw FROM diffs)
         SELECT CAST(d.stratum AS BIGINT) AS stratum, d.n1, d.n0,
                d.s1, d.s0,
                ROUND(d.diff_raw, 6) AS diff_cents,
                ROUND(a.ate_raw, 6) AS adjusted_diff_cents
         FROM diffs d CROSS JOIN ate a"""),
    // q345: sequential Misra–Gries as streaming state — the FIFTEENTH
    // bit-exact parity, first over state with eviction (rows-only:
    // the fold isn't SQL; Round10eSpec pins stream ≡ batch fold and
    // the true − n/(m+1) ≤ est ≤ true guarantee)
    QuerySpec("q345_streaming_mg", EventTime.qStreamingMisraGries _, Untimed),
    // q346: Wald SPRT over enrollment order — always-valid sequential
    // inference beside the fixed-n q263/q341 (coefficients are
    // precomputed literals; cumulative rides the offset device)
    QuerySpec("q346_sprt", Stats.qSprt _, Timed,
      // q346: the LLR walk over enrollment order — coefficients are the
      // SAME precomputed double literals as the Spark plan (in-engine
      // ln() could differ in ulps); cumulative integers exact
      """WITH per_user AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' AND value >= 95
                      THEN 1 ELSE 0 END) AS conv
           FROM events GROUP BY 1),
         walk AS (
           SELECT CAST(user_id % 2 AS BIGINT) AS arm,
                  CAST(ROW_NUMBER() OVER (PARTITION BY user_id % 2
                    ORDER BY user_id) AS BIGINT) AS k,
                  CAST(SUM(conv) OVER (PARTITION BY user_id % 2
                    ORDER BY user_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS a
           FROM per_user),
         scored AS (
           SELECT arm, k, a,
                  CAST(a AS DOUBLE) * 0.22314355131420976
                    + CAST(k - a AS DOUBLE) * -0.010471299867295366 AS llr
           FROM walk),
         crossed AS (
           SELECT arm, k,
                  CASE WHEN llr >= 2.9444389791664403 THEN 1
                       WHEN llr <= -2.9444389791664403 THEN -1
                       ELSE 0 END AS c
           FROM scored),
         firstc AS (
           SELECT arm, MIN(k) AS first_cross_k
           FROM crossed WHERE c <> 0 GROUP BY 1),
         decide AS (
           SELECT c.arm, f.first_cross_k, CAST(c.c AS BIGINT) AS decision
           FROM crossed c JOIN firstc f
             ON c.arm = f.arm AND c.k = f.first_cross_k),
         fin AS (
           SELECT arm, MAX(k) AS n_users, MAX(a) AS n_conv,
                  MAX_BY(llr, k) AS llr_last
           FROM scored GROUP BY 1)
         SELECT fin.arm, fin.n_users, fin.n_conv,
                ROUND(fin.llr_last, 6) AS llr_final,
                COALESCE(decide.first_cross_k, -1) AS first_cross_k,
                COALESCE(decide.decision, 0) AS decision
         FROM fin LEFT JOIN decide ON fin.arm = decide.arm"""),
    // q347: delta-method CI for the revenue-per-order ratio metric
    // with user-level clustering (the experimentation-platform number)
    QuerySpec("q347_ratio_metric_ci", Stats.qRatioMetricCi _, Timed,
      // q347: six exact sums per arm; R, the delta-method variance and
      // the z-interval as spelled doubles (z = 1.959964)
      """WITH per_user AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
                  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                    AS y
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         sums AS (
           SELECT CAST(user_id % 2 AS BIGINT) AS arm,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx,
                  CAST(SUM(y) AS BIGINT) AS sy,
                  SUM(CAST(x AS HUGEINT) * x) AS sxx,
                  SUM(CAST(y AS HUGEINT) * y) AS syy,
                  SUM(CAST(x AS HUGEINT) * y) AS sxy
           FROM per_user GROUP BY 1),
         m AS (
           SELECT arm, n, sx, sy,
                  CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS r,
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                     * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1.0) AS vx,
                  (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                     * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1.0) AS vy,
                  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                     * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1.0) AS vxy,
                  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
           FROM sums WHERE n > 1 AND sx > 0),
         se AS (
           SELECT arm, n, sx, sy, r,
                  SQRT((vy - 2.0 * r * vxy + r * r * vx)
                       / (CAST(n AS DOUBLE) * xbar * xbar)) AS sed
           FROM m)
         SELECT arm, n AS n_users, sx AS n_orders, sy AS revenue_cents,
                ROUND(r, 6) AS rev_per_order_cents,
                ROUND(sed, 6) AS se_delta,
                ROUND(r - 1.959964 * sed, 6) AS ci_lo,
                ROUND(r + 1.959964 * sed, 6) AS ci_hi
         FROM se"""),
    // q348: Hyndman seasonal strength per type — the one-number
    // weekly-cycle read beside q174/q318
    QuerySpec("q348_seasonal_strength", Stats.qSeasonalStrength _, Timed,
      // q348: F_s = (n·Σ S_w²/n_w − S²)/(n·Q − S²) — the weekday term a
      // ≤7-element double fold of exact integers (the q319 precedent)
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         bywd AS (
           SELECT event_type, dayofweek(day) AS wd,
                  CAST(COUNT(*) AS BIGINT) AS n_w,
                  CAST(SUM(x) AS BIGINT) AS s_w
           FROM daily GROUP BY 1, 2),
         totals AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS s1,
                  SUM(CAST(x AS HUGEINT) * x) AS q2
           FROM daily GROUP BY 1),
         agg AS (
           SELECT b.event_type, MAX(g.n) AS n_days, MAX(g.s1) AS s1,
                  MAX(g.q2) AS q2,
                  SUM(CAST(CAST(s_w AS HUGEINT) * s_w AS DOUBLE)
                      / CAST(n_w AS DOUBLE)) AS sw_term
           FROM bywd b JOIN totals g ON b.event_type = g.event_type
           GROUP BY 1)
         SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
                CAST(s1 AS BIGINT) AS sum_x,
                ROUND(CASE WHEN CAST(CAST(n_days AS HUGEINT) * q2 AS DOUBLE)
                             - CAST(CAST(s1 AS HUGEINT) * s1 AS DOUBLE) > 0
                  THEN GREATEST(0.0,
                    (CAST(n_days AS DOUBLE) * sw_term
                       - CAST(CAST(s1 AS HUGEINT) * s1 AS DOUBLE))
                    / (CAST(CAST(n_days AS HUGEINT) * q2 AS DOUBLE)
                       - CAST(CAST(s1 AS HUGEINT) * s1 AS DOUBLE)))
                  ELSE 0.0 END, 6) AS seasonal_strength
         FROM agg"""),
    // q349: the ACF table, lags 1..14 — the Box–Jenkins first plot
    // between q157's lag-1 and q307's portmanteau
    QuerySpec("q349_acf_table", Stats.qAcfTable _, Timed,
      // q349: q307's exact rho construction, lags 1..14, long form
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         pos AS (
           SELECT event_type, x,
                  CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY day) AS BIGINT) AS t
           FROM daily),
         totals AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS s,
                  CAST(SUM(x * x) AS BIGINT) AS q2
           FROM pos GROUP BY 1),
         lagged AS (
           SELECT p.event_type, k.k, p.t + k.k AS t2, p.x
           FROM pos p CROSS JOIN (SELECT unnest(range(1, 15)) AS k) k),
         pairs AS (
           SELECT l.event_type, l.k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                  SUM(CAST(l.x AS HUGEINT) * b.x) AS p,
                  CAST(SUM(l.x) AS BIGINT) AS sa,
                  CAST(SUM(b.x) AS BIGINT) AS sb
           FROM lagged l JOIN pos b
             ON l.event_type = b.event_type AND l.t2 = b.t
           GROUP BY 1, 2)
         SELECT pr.event_type, CAST(pr.k AS BIGINT) AS lag, pr.n_pairs,
                ROUND(CASE WHEN CAST(g.n AS HUGEINT)
                             * (CAST(g.n AS HUGEINT) * g.q2
                                - CAST(g.s AS HUGEINT) * g.s) > 0
                  THEN CAST(CAST(g.n AS HUGEINT) * g.n * pr.p
                         - CAST(g.n AS HUGEINT) * g.s * (pr.sa + pr.sb)
                         + CAST(g.n - pr.k AS HUGEINT) * g.s * g.s AS DOUBLE)
                       / CAST(CAST(g.n AS HUGEINT)
                           * (CAST(g.n AS HUGEINT) * g.q2
                              - CAST(g.s AS HUGEINT) * g.s) AS DOUBLE)
                  ELSE 0.0 END, 6) AS rho
         FROM pairs pr JOIN totals g ON pr.event_type = g.event_type"""),
    // q350: association rules (support/confidence/lift, Agrawal) —
    // the merchandiser formulation of co-purchase
    QuerySpec("q350_association_rules", (s, d) => Relational.qAssociationRules(s, d), Timed,
      // q350: lift is an exact-rational double; the top-10 is a
      // deterministic (lift DESC, ante, cons) cut
      """WITH li AS (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM li),
         item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c_item
                  FROM li GROUP BY 1),
         pair AS (
           SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS c_ab
           FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         rules AS (
           SELECT pa AS ante, pb AS cons, c_ab FROM pair
           UNION ALL
           SELECT pb, pa, c_ab FROM pair),
         scored AS (
           SELECT r.ante, r.cons, r.c_ab,
                  ia.c_item AS c_ante, ic.c_item AS c_cons,
                  CAST(CAST(r.c_ab AS HUGEINT) * 1000000 // ia.c_item
                    AS BIGINT) AS confidence_ppm,
                  ROUND(CAST(CAST(n.n_orders AS HUGEINT) * r.c_ab AS DOUBLE)
                        / CAST(CAST(ia.c_item AS HUGEINT) * ic.c_item
                          AS DOUBLE), 6) AS lift
           FROM rules r
           JOIN item ia ON r.ante = ia.p
           JOIN item ic ON r.cons = ic.p
           CROSS JOIN n)
         SELECT ante, cons, c_ab AS support, c_ante, c_cons,
                confidence_ppm, lift
         FROM scored
         ORDER BY lift DESC, ante, cons LIMIT 10"""),
    // q351: MRR + MAP@10 over the q191 retrieval fixture — the two
    // remaining standard IR metrics beside NDCG
    QuerySpec("q351_mrr_map", (s, d) => Similarity.qMrrMap(s, d), Timed,
      // q351: q191's rank-flag construction verbatim; first-hit a fixed
      // CASE chain, AP a fixed ten-term fold of exact 0/1 integers
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb,
                           label AS q_label
                    FROM embeddings WHERE vec_id < 100),
         ranked AS (
           SELECT q.query_id, q.q_label,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY list_cosine_similarity(q.q_emb,
                      c.embedding::DOUBLE[]) DESC, c.vec_id) AS rank,
                  CASE WHEN c.label = q.q_label THEN 1 ELSE 0 END AS rel
           FROM q, embeddings c WHERE q.query_id <> c.vec_id),
         flags AS (
           SELECT query_id, q_label,
                  MAX(CASE WHEN rank = 1 THEN rel END) AS r1,
                  MAX(CASE WHEN rank = 2 THEN rel END) AS r2,
                  MAX(CASE WHEN rank = 3 THEN rel END) AS r3,
                  MAX(CASE WHEN rank = 4 THEN rel END) AS r4,
                  MAX(CASE WHEN rank = 5 THEN rel END) AS r5,
                  MAX(CASE WHEN rank = 6 THEN rel END) AS r6,
                  MAX(CASE WHEN rank = 7 THEN rel END) AS r7,
                  MAX(CASE WHEN rank = 8 THEN rel END) AS r8,
                  MAX(CASE WHEN rank = 9 THEN rel END) AS r9,
                  MAX(CASE WHEN rank = 10 THEN rel END) AS r10
           FROM ranked WHERE rank <= 10 GROUP BY 1, 2),
         cs AS (SELECT label AS q_label, COUNT(*) AS csize
                FROM embeddings GROUP BY label),
         hit AS (
           SELECT f.query_id, cs.csize,
                  r1, r2, r3, r4, r5, r6, r7, r8, r9, r10,
                  CASE WHEN r1 = 1 THEN 1 WHEN r2 = 1 THEN 2
                       WHEN r3 = 1 THEN 3 WHEN r4 = 1 THEN 4
                       WHEN r5 = 1 THEN 5 WHEN r6 = 1 THEN 6
                       WHEN r7 = 1 THEN 7 WHEN r8 = 1 THEN 8
                       WHEN r9 = 1 THEN 9 WHEN r10 = 1 THEN 10
                       ELSE -1 END AS fh
           FROM flags f JOIN cs USING (q_label))
         SELECT query_id, CAST(csize - 1 AS BIGINT) AS n_relevant,
                CAST(fh AS BIGINT) AS first_hit_rank,
                ROUND(CASE WHEN fh > 0 THEN 1.0 / CAST(fh AS DOUBLE)
                  ELSE 0.0 END, 6) AS rr,
                ROUND((CAST(r1 AS DOUBLE) * (r1) / 1.0
                  + CAST(r2 AS DOUBLE) * (r1 + r2) / 2.0
                  + CAST(r3 AS DOUBLE) * (r1 + r2 + r3) / 3.0
                  + CAST(r4 AS DOUBLE) * (r1 + r2 + r3 + r4) / 4.0
                  + CAST(r5 AS DOUBLE) * (r1 + r2 + r3 + r4 + r5) / 5.0
                  + CAST(r6 AS DOUBLE) * (r1 + r2 + r3 + r4 + r5 + r6) / 6.0
                  + CAST(r7 AS DOUBLE)
                    * (r1 + r2 + r3 + r4 + r5 + r6 + r7) / 7.0
                  + CAST(r8 AS DOUBLE)
                    * (r1 + r2 + r3 + r4 + r5 + r6 + r7 + r8) / 8.0
                  + CAST(r9 AS DOUBLE)
                    * (r1 + r2 + r3 + r4 + r5 + r6 + r7 + r8 + r9) / 9.0
                  + CAST(r10 AS DOUBLE)
                    * (r1 + r2 + r3 + r4 + r5 + r6 + r7 + r8 + r9 + r10)
                    / 10.0)
                  / CAST(LEAST(10, csize - 1) AS DOUBLE), 6) AS ap_at_10
         FROM hit"""),
    // q352: near-dup cluster purity vs the lang label — the cluster
    // COHERENCE audit beside q134's size census (q103's components)
    QuerySpec("q352_cluster_purity", Dedup.qClusterPurity _, Timed,
      // q352: q103's component chain verbatim + two cluster-keyed
      // rollups; purity one division
      (q103OraclePrefix +
      """,
         lab AS (
           SELECT c.component, s.lang, COUNT(*) AS cnt
           FROM comp c JOIN sizes z USING (component)
                JOIN documents s ON c.doc_id = s.doc_id
           WHERE z.csize > 1
           GROUP BY 1, 2),
         mj AS (
           SELECT component, MAX(cnt) AS maj, SUM(cnt) AS members
           FROM lab GROUP BY 1)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
                CAST(SUM(members) AS BIGINT) AS n_docs_in_clusters,
                CAST(SUM(maj) AS BIGINT) AS sum_majority,
                ROUND(CASE WHEN SUM(members) > 0
                  THEN CAST(SUM(maj) AS DOUBLE)
                       / CAST(SUM(members) AS DOUBLE)
                  ELSE 0.0 END, 6) AS purity
         FROM mj""")),
    // q353: Neyman-optimal stratified allocation — the sampling
    // DESIGN step before q142 draws
    QuerySpec("q353_neyman_allocation", (s, d) => Pipeline.qNeymanAllocation(s, d), Timed,
      // q353: sigma doubles of exact sums; floor allocation
      // deterministic (sqrt/mul/div all correctly rounded IEEE)
      """WITH sums AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
                  CAST(SUM(n_chars) AS BIGINT) AS s1,
                  SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2
           FROM documents GROUP BY 1),
         sig AS (
           SELECT source, n_s,
                  CASE WHEN n_s > 1
                    THEN SQRT(CAST(CAST(n_s AS HUGEINT) * s2
                             - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                         / (CAST(n_s AS DOUBLE) * CAST(n_s - 1 AS DOUBLE)))
                    ELSE 0.0 END AS sigma
           FROM sums),
         w AS (SELECT source, n_s, sigma,
                      CAST(n_s AS DOUBLE) * sigma AS wt
               FROM sig),
         t AS (SELECT SUM(wt) AS w_tot FROM w)
         SELECT w.source, w.n_s, ROUND(w.sigma, 6) AS sigma_chars,
                CAST(CASE WHEN t.w_tot > 0
                  THEN FLOOR(10000.0 * w.wt / t.w_tot) ELSE 0 END AS BIGINT)
                  AS alloc
         FROM w CROSS JOIN t"""),
    // q354: seasonal Mann–Kendall — q176's trend test made
    // seasonality-proof (within-weekday pairs, summed statistics)
    QuerySpec("q354_seasonal_mk", Stats.qSeasonalMannKendall _, Timed,
      // q354: q176's exact S/Var discipline per weekday series, summed
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS c,
                  CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS wd
           FROM events GROUP BY event_type, CAST(ts AS DATE)),
         sstat AS (
           SELECT a.event_type,
                  CAST(SUM(CASE WHEN b.c > a.c THEN 1
                                WHEN b.c < a.c THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND a.wd = b.wd
                AND a.day < b.day
           GROUP BY 1),
         varw AS (
           SELECT event_type, CAST(SUM(n_w) AS BIGINT) AS n_days,
                  CAST(SUM(n_w * (n_w - 1) * (2 * n_w + 5)) AS BIGINT)
                    AS var_base
           FROM (SELECT event_type, wd, COUNT(*) AS n_w
                 FROM daily GROUP BY 1, 2)
           GROUP BY 1),
         ties AS (
           SELECT event_type,
                  CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
           FROM (SELECT event_type, wd, c, COUNT(*) AS t
                 FROM daily GROUP BY 1, 2, 3)
           GROUP BY 1)
         SELECT s.event_type, v.n_days, s.s_stat,
                v.var_base - t.tie_term AS var_x18,
                ROUND(CASE WHEN v.var_base - t.tie_term > 0
                  THEN (CASE WHEN s.s_stat > 0
                          THEN CAST(s.s_stat - 1 AS DOUBLE)
                        WHEN s.s_stat < 0
                          THEN CAST(s.s_stat + 1 AS DOUBLE)
                        ELSE 0.0 END)
                       / SQRT(CAST(v.var_base - t.tie_term AS DOUBLE) / 18.0)
                  ELSE 0.0 END, 4) AS z
         FROM sstat s JOIN varw v ON s.event_type = v.event_type
              JOIN ties t ON s.event_type = t.event_type"""),
    // q355: Dunn's post-hoc — the pairwise follow-up to q233's
    // omnibus, same global ranks and tie correction
    QuerySpec("q355_dunn_posthoc", Stats.qDunnPosthoc _, Timed,
      // q355: q233's doubled global ranks + tie correction, paired
      """WITH ev AS (
           SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS v
           FROM events),
         byvalue AS (
           SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
           FROM ev GROUP BY 1, 2),
         byv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cnt
                 FROM byvalue GROUP BY 1),
         ranked AS (
           SELECT v, cnt,
                  2 * SUM(cnt) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - cnt + 1 AS dr
           FROM byv),
         pergroup AS (
           SELECT b.event_type, CAST(SUM(b.c) AS BIGINT) AS n_i,
                  CAST(SUM(b.c * r.dr) AS BIGINT) AS two_r
           FROM byvalue b JOIN ranked r ON b.v = r.v
           GROUP BY 1),
         g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                      CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
               FROM byv),
         kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM pergroup)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                a.n_i AS n_a, b.n_i AS n_b,
                ROUND(CASE WHEN
                    (CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) + 1.0) / 12.0
                     - CAST(g.tie_term AS DOUBLE)
                       / (12.0 * (CAST(g.n AS DOUBLE) - 1.0)))
                    * (1.0 / CAST(a.n_i AS DOUBLE)
                       + 1.0 / CAST(b.n_i AS DOUBLE)) > 0
                  THEN (CAST(a.two_r AS DOUBLE) / (2.0 * CAST(a.n_i AS DOUBLE))
                        - CAST(b.two_r AS DOUBLE)
                          / (2.0 * CAST(b.n_i AS DOUBLE)))
                       / SQRT((CAST(g.n AS DOUBLE)
                           * (CAST(g.n AS DOUBLE) + 1.0) / 12.0
                          - CAST(g.tie_term AS DOUBLE)
                            / (12.0 * (CAST(g.n AS DOUBLE) - 1.0)))
                         * (1.0 / CAST(a.n_i AS DOUBLE)
                            + 1.0 / CAST(b.n_i AS DOUBLE)))
                  ELSE 0.0 END, 6) AS z_dunn,
                CAST(kk.k * (kk.k - 1) / 2 AS BIGINT) AS m_comparisons
         FROM pergroup a JOIN pergroup b ON a.event_type < b.event_type
         CROSS JOIN g CROSS JOIN kk"""),
    // q356: lexical richness battery (Yule's K, Guiraud R, Herdan C,
    // hapax share) — the frequency-spectrum constants beside q326
    QuerySpec("q356_lexical_richness", TextAnalysis.qLexicalRichness _, Timed,
      // q356: exact spectrum integers; K/hapax exact-rational, R one
      // sqrt, C the one ln pair at round 4
      """WITH tf AS (
           SELECT source, w, CAST(COUNT(*) AS BIGINT) AS m
           FROM (SELECT source,
                        unnest(regexp_split_to_array(lower(text), '\s+')) AS w
                 FROM documents)
           WHERE len(w) > 0 GROUP BY 1, 2),
         agg AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS v_types,
                  CAST(SUM(m) AS BIGINT) AS n_tokens,
                  CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS v1_hapax,
                  CAST(SUM(CAST(m AS HUGEINT) * m) AS BIGINT) AS sum_m2
           FROM tf GROUP BY 1)
         SELECT source, v_types, n_tokens, v1_hapax, sum_m2,
                ROUND(CASE WHEN n_tokens > 0
                  THEN 10000.0 * CAST(sum_m2 - n_tokens AS DOUBLE)
                       / CAST(CAST(n_tokens AS HUGEINT) * n_tokens AS DOUBLE)
                  ELSE 0.0 END, 6) AS yule_k,
                ROUND(CASE WHEN n_tokens > 0
                  THEN CAST(v_types AS DOUBLE)
                       / SQRT(CAST(n_tokens AS DOUBLE))
                  ELSE 0.0 END, 6) AS guiraud_r,
                ROUND(CASE WHEN n_tokens > 1 AND v_types > 0
                  THEN ln(CAST(v_types AS DOUBLE))
                       / ln(CAST(n_tokens AS DOUBLE))
                  ELSE 0.0 END, 4) AS herdan_c,
                CAST(CASE WHEN v_types > 0
                  THEN v1_hapax * 1000000 // v_types ELSE 0 END AS BIGINT)
                  AS hapax_ppm
         FROM agg"""),
    // q357: cohort LTV curve — the revenue half of q132's retention
    // matrix (cumulative floored ppm-cents per cohort member)
    QuerySpec("q357_cohort_ltv", Stats.qCohortLtv _, Timed,
      // q357: the q132 cohort join + an offset-ordered cumulative over
      // the (cohorts × 8)-bounded rollup; LTV floored ppm-cents
      """WITH ev AS (
           SELECT user_id, date_trunc('day', ts) AS day,
                  CASE WHEN event_type = 'purchase'
                    THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                    ELSE 0 END AS cents
           FROM events),
         cohort AS (
           SELECT user_id, MIN(day) AS cohort_day
           FROM (SELECT DISTINCT user_id, day FROM ev) GROUP BY 1),
         sized AS (
           SELECT cohort_day, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                    AS cohort_users
           FROM cohort GROUP BY 1),
         cells AS (
           SELECT c.cohort_day,
                  CAST(date_diff('day', c.cohort_day, e.day) AS BIGINT)
                    AS day_offset,
                  CAST(SUM(e.cents) AS BIGINT) AS revenue_cents
           FROM ev e JOIN cohort c ON e.user_id = c.user_id
           WHERE date_diff('day', c.cohort_day, e.day) <= 7
           GROUP BY 1, 2),
         cum AS (
           SELECT cohort_day, day_offset, revenue_cents,
                  CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_day
                    ORDER BY day_offset ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_cents
           FROM cells)
         SELECT CAST(epoch(m.cohort_day) AS BIGINT) AS cohort_ts,
                m.day_offset, s.cohort_users, m.revenue_cents, m.cum_cents,
                CAST(CAST(m.cum_cents AS HUGEINT) * 1000000
                     // s.cohort_users AS BIGINT) AS ltv_ppm_cents
         FROM cum m JOIN sized s USING (cohort_day)"""),
    // q358: ABC/Pareto classification of parts by revenue — the
    // actionable three-way split behind q160's Gini, on the offset
    // cumulative device
    QuerySpec("q358_abc_classification", Relational.qAbcClassification _, Timed,
      // q358: class boundaries compare exact integers on the unique
      // (revenue DESC, partkey) cumulative; shares floored ppm
      """WITH rev AS (
           SELECT l_partkey AS p,
                  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)
                      * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                           AS BIGINT))) AS BIGINT) AS v
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(SUM(v) AS BIGINT) AS v_tot,
                        CAST(COUNT(*) AS BIGINT) AS n_tot
                 FROM rev),
         cum AS (
           SELECT p, v,
                  CAST(SUM(v) OVER (ORDER BY v DESC, p
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM rev),
         cls AS (
           SELECT CASE WHEN CAST(cum AS HUGEINT) * 100
                         <= CAST(t.v_tot AS HUGEINT) * 80 THEN 'A'
                       WHEN CAST(cum AS HUGEINT) * 100
                         <= CAST(t.v_tot AS HUGEINT) * 95 THEN 'B'
                       ELSE 'C' END AS abc_class, v
           FROM cum CROSS JOIN tot t)
         SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
                CAST(SUM(v) AS BIGINT) AS revenue_x1e4,
                CAST(CAST(SUM(v) AS HUGEINT) * 1000000 // t.v_tot AS BIGINT)
                  AS revenue_share_ppm,
                CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 // t.n_tot
                  AS BIGINT) AS part_share_ppm
         FROM cls CROSS JOIN tot t
         GROUP BY abc_class, t.v_tot, t.n_tot"""),
    // q359-q364: the two-sample distribution-comparison family on the
    // arm-vs-view design — full-distribution equality (KS / CvM /
    // Kuiper), median equality (Mood), the variance-robust rank test
    // (Brunner-Munzel), and the shift magnitude (Hodges-Lehmann) —
    // all on the one value-domain integer machinery
    QuerySpec("q359_ks_test", Stats.qKsTest _, Timed,
      // q359-q364: shared value-domain ECDF machinery (pairedEcdfCte);
      // every hashed statistic is an exact integer / decimal or a
      // single correctly-rounded cast/division of exact values — no
      // transcendentals, no reordered float sums (the q312 lesson)
      (pairedEcdfCte +
      """SELECT pair, n1, n2, d_num,
                ROUND(CAST(d_num AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_d
         FROM (SELECT pair, MAX(n1) AS n1, MAX(n2) AS n2,
                      CAST(MAX(ABS(diff)) AS BIGINT) AS d_num
               FROM ecdf GROUP BY 1)""")),
    QuerySpec("q360_cvm_test", Stats.qCvmTest _, Timed,
      (pairedEcdfCte +
      """SELECT pair, n1, n2, CAST(t_num AS DOUBLE) AS t_num,
                ROUND(CAST(t_num AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     * CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)),
                  6) AS cvm_t
         FROM (SELECT pair, MAX(n1) AS n1, MAX(n2) AS n2,
                      SUM(CAST(c1 + c2 AS HUGEINT) * CAST(diff AS HUGEINT)
                          * CAST(diff AS HUGEINT)) AS t_num
               FROM ecdf GROUP BY 1)""")),
    QuerySpec("q361_kuiper_test", Stats.qKuiperTest _, Timed,
      (pairedEcdfCte +
      """SELECT pair, n1, n2, dplus_num, dminus_num,
                ROUND((CAST(dplus_num AS DOUBLE) + CAST(dminus_num AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS kuiper_v
         FROM (SELECT pair, MAX(n1) AS n1, MAX(n2) AS n2,
                      CAST(GREATEST(MAX(diff), 0) AS BIGINT) AS dplus_num,
                      CAST(GREATEST(MAX(-diff), 0) AS BIGINT) AS dminus_num
               FROM ecdf GROUP BY 1)""")),
    QuerySpec("q362_mood_median", Stats.qMoodMedian _, Timed,
      (pairedEcdfCte +
      """, med AS (SELECT pair, MIN(v) AS v_med FROM ecdf
                   WHERE 2 * (cum1 + cum2) >= n1 + n2 GROUP BY 1),
         cells AS (
           SELECT e.pair, MAX(e.n1) AS n1, MAX(e.n2) AS n2,
                  MAX(m.v_med) AS v_med,
                  CAST(SUM(CASE WHEN e.v > m.v_med THEN e.c1 ELSE 0 END)
                    AS BIGINT) AS a_above,
                  CAST(SUM(CASE WHEN e.v > m.v_med THEN e.c2 ELSE 0 END)
                    AS BIGINT) AS b_above
           FROM ecdf e JOIN med m USING (pair) GROUP BY e.pair)
         SELECT pair, n1, n2, v_med, a_above, b_above,
                a_below, b_below,
                ROUND(CASE WHEN denom > 0
                  THEN CAST(n1 + n2 AS DOUBLE) * det * det / denom
                  ELSE 0.0 END, 6) AS chi2
         FROM (SELECT *,
                      n1 - a_above AS a_below, n2 - b_above AS b_below,
                      CAST(a_above AS DOUBLE) * CAST(n2 - b_above AS DOUBLE)
                        - CAST(b_above AS DOUBLE)
                          * CAST(n1 - a_above AS DOUBLE) AS det,
                      CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * CAST(a_above + b_above AS DOUBLE)
                        * CAST((n1 - a_above) + (n2 - b_above) AS DOUBLE)
                        AS denom
               FROM cells)""")),
    QuerySpec("q363_brunner_munzel", Stats.qBrunnerMunzel _, Timed,
      (pairedCountsCte +
      """, cums AS (
           SELECT pair, v, c1, c2,
                  CAST(SUM(c1) OVER (PARTITION BY pair ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
                  CAST(SUM(c2) OVER (PARTITION BY pair ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
           FROM counts),
         drs AS (
           SELECT pair, v, c1, c2,
                  2 * (cum1 + cum2) - (c1 + c2) + 1 AS dr,
                  2 * cum1 - c1 + 1 AS dr1,
                  2 * cum2 - c2 + 1 AS dr2
           FROM cums),
         tot AS (
           SELECT pair, CAST(SUM(c1) AS BIGINT) AS n1,
                  CAST(SUM(c2) AS BIGINT) AS n2,
                  CAST(SUM(c1 * dr) AS BIGINT) AS sd1,
                  CAST(SUM(c2 * dr) AS BIGINT) AS sd2
           FROM drs GROUP BY 1),
         ag AS (
           SELECT d.pair, MAX(t.n1) AS n1, MAX(t.n2) AS n2,
                  MAX(t.sd1) AS sd1, MAX(t.sd2) AS sd2,
                  SUM(CAST(d.c1 AS HUGEINT)
                      * (CAST(t.n1 AS HUGEINT) * (d.dr - d.dr1) - t.sd1
                         + CAST(t.n1 AS HUGEINT) * (t.n1 + 1))
                      * (CAST(t.n1 AS HUGEINT) * (d.dr - d.dr1) - t.sd1
                         + CAST(t.n1 AS HUGEINT) * (t.n1 + 1))) AS q1,
                  SUM(CAST(d.c2 AS HUGEINT)
                      * (CAST(t.n2 AS HUGEINT) * (d.dr - d.dr2) - t.sd2
                         + CAST(t.n2 AS HUGEINT) * (t.n2 + 1))
                      * (CAST(t.n2 AS HUGEINT) * (d.dr - d.dr2) - t.sd2
                         + CAST(t.n2 AS HUGEINT) * (t.n2 + 1))) AS q2
           FROM drs d JOIN tot t USING (pair) GROUP BY d.pair),
         fin AS (
           SELECT pair, n1, n2, sd1, sd2,
                  CAST(q1 AS DOUBLE) AS q1, CAST(q2 AS DOUBLE) AS q2,
                  CAST(q1 AS DOUBLE) / (4.0 * CAST(n1 AS DOUBLE)
                    * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) AS s1sq,
                  CAST(q2 AS DOUBLE) / (4.0 * CAST(n2 AS DOUBLE)
                    * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)) AS s2sq,
                  CAST(sd2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))
                    - CAST(sd1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE))
                    AS mean_diff
           FROM ag)
         SELECT pair, n1, n2, sd1, sd2, q1, q2,
                ROUND(CASE WHEN SQRT(CAST(n1 AS DOUBLE) * s1sq
                             + CAST(n2 AS DOUBLE) * s2sq) > 0
                  THEN CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * mean_diff
                       / (CAST(n1 + n2 AS DOUBLE)
                          * SQRT(CAST(n1 AS DOUBLE) * s1sq
                                 + CAST(n2 AS DOUBLE) * s2sq))
                  ELSE 0.0 END, 6) AS w_bm
         FROM fin""")),
    QuerySpec("q364_hodges_lehmann", Stats.qHodgesLehmann _, Timed,
      """WITH ev AS (SELECT event_type,
                            CAST(FLOOR(value) AS BIGINT) AS v FROM events),
         arms AS (SELECT unnest(['click', 'error', 'signup', 'purchase'])
                    AS pair),
         tagged AS (
           SELECT a.pair,
                  CASE WHEN e.event_type = a.pair THEN 1 ELSE 0 END AS in_arm,
                  e.v
           FROM ev e JOIN arms a
             ON (e.event_type = a.pair OR e.event_type = 'view')),
         counts AS (SELECT pair, v, CAST(SUM(in_arm) AS BIGINT) AS c1,
                           CAST(SUM(1 - in_arm) AS BIGINT) AS c2
                    FROM tagged GROUP BY 1, 2),
         aside AS (SELECT pair, v AS va, c1 FROM counts WHERE c1 > 0),
         bside AS (SELECT pair, v AS vb, c2 FROM counts WHERE c2 > 0),
         diffs AS (SELECT a.pair, a.va - b.vb AS dv,
                          CAST(SUM(a.c1 * b.c2) AS BIGINT) AS cw
                   FROM aside a JOIN bside b USING (pair) GROUP BY 1, 2),
         tot AS (SELECT pair, CAST(SUM(cw) AS BIGINT) AS npairs
                 FROM diffs GROUP BY 1),
         cum AS (SELECT d.pair, d.dv,
                        CAST(SUM(d.cw) OVER (PARTITION BY d.pair
                          ORDER BY d.dv ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS cum,
                        t.npairs
                 FROM diffs d JOIN tot t USING (pair)),
         lo AS (SELECT pair, MIN(dv) AS hl_lo FROM cum
                WHERE cum >= (npairs + 1) // 2 GROUP BY 1),
         hi AS (SELECT pair, MIN(dv) AS hl_hi_raw FROM cum
                WHERE cum >= npairs // 2 + 1 GROUP BY 1)
         SELECT t.pair, t.npairs, l.hl_lo,
                COALESCE(h.hl_hi_raw, l.hl_lo) AS hl_hi
         FROM tot t JOIN lo l USING (pair) LEFT JOIN hi h USING (pair)"""),
    // q365: HITS hubs/authorities on the customer->part bipartite
    // graph (integer-pico rounds; rows-only — normalized mutual
    // recursion exceeds recursive-CTE SQL; HitsSpec pins a driver
    // recompute bit-exactly)
    QuerySpec("q365_hits", (s, dir) => Graph.qHits(s, dir), Timed,
      // q365: 12 HITS iterations unrolled with exact-integer L1 renorm
      // per half-round (HUGEINT product // total == Spark's DECIMAL div)
      hitsOracle),
    // q366: DCT perceptual-hash image near-dup through brightness/
    // contrast nuisance (rows-only: PNG encode + DCT aren't SQL;
    // PHashSpec pins invariances and brute-force recall)
    QuerySpec("q366_image_phash_near_dup",
      (s, dir) => Multimodal.qImagePhashNearDup(s, dir), Timed),
    // q367: category-blocklist audit (the C4/LDNOOBW filtering verb:
    // per (source, category) hits, flagged docs, survivors)
    QuerySpec("q367_blocklist_audit", TextAnalysis.qBlocklistAudit _, Timed,
      // q367: broadcast literal blocklist join; all counts exact BIGINT
      """WITH block AS (
           SELECT * FROM (VALUES
             ('latency', 'slow'), ('latency', 'lag'), ('latency', 'wait'),
             ('ops', 'spill'), ('ops', 'error'), ('ops', 'retry'),
             ('infra', 'disk'), ('infra', 'cpu'), ('infra', 'memory'))
             AS v(category, w)),
         toks AS (SELECT doc_id, source,
                         unnest(string_split_regex(lower(text), '\s+')) AS w
                  FROM documents),
         tk AS (SELECT * FROM toks WHERE len(w) > 0),
         totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
                    FROM tk GROUP BY 1),
         hits AS (SELECT t.source, b.category,
                         CAST(COUNT(*) AS BIGINT) AS n_hits,
                         CAST(COUNT(DISTINCT t.doc_id) AS BIGINT)
                           AS n_docs_flagged
                  FROM tk t JOIN block b ON t.w = b.w GROUP BY 1, 2)
         SELECT h.source, h.category, h.n_hits, h.n_docs_flagged,
                CAST(h.n_hits * 1000000 // tt.n_tokens AS BIGINT) AS hit_ppm,
                tt.n_docs - h.n_docs_flagged AS n_docs_surviving
         FROM hits h JOIN totals tt USING (source)"""),
    // q368: encoding-garbage audit (U+FFFD, C0 controls, the
    // CP1252-in-UTF-8 tells; zero on this clean fixture by generator
    // construction — the query is the harness, MojibakeSpec proves
    // the detectors fire on crafted corruption)
    QuerySpec("q368_mojibake_audit", TextAnalysis.qMojibakeAudit _, Timed,
      // q368: char-count deltas through identical regexes (DuckDB
      // regexp_replace needs the 'g' flag — Spark's is global by
      // default); integer ppm
      """WITH per AS (
           SELECT doc_id, source, CAST(len(text) AS BIGINT) AS n_chars,
                  CAST(len(text) - len(regexp_replace(text, '�', '', 'g'))
                    AS BIGINT) AS n_fffd,
                  CAST(len(text) - len(regexp_replace(text,
                    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
                    AS BIGINT) AS n_ctrl,
                  CAST(len(text) - len(regexp_replace(text, '[ÂÃ]', '', 'g'))
                    AS BIGINT) AS n_c1tell
           FROM documents)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS n_chars,
                CAST(SUM(n_fffd) AS BIGINT) AS n_fffd,
                CAST(SUM(n_ctrl) AS BIGINT) AS n_ctrl,
                CAST(SUM(n_c1tell) AS BIGINT) AS n_c1tell,
                CAST(SUM(CASE WHEN n_fffd + n_ctrl + n_c1tell > 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_suspect,
                CAST(CASE WHEN SUM(n_chars) > 0
                  THEN (SUM(n_fffd) + SUM(n_ctrl) + SUM(n_c1tell))
                       * 1000000 // SUM(n_chars)
                  ELSE 0 END AS BIGINT) AS garbage_ppm
         FROM per GROUP BY 1"""),
    // q369: streaming KS drift monitor — q359 as mapGroupsWithState
    // over the 3-file replay; final snapshot = the full-multiset
    // statistic, so the oracle IS q359's batch SQL (the first
    // streaming gate member with a full DuckDB oracle)
    QuerySpec("q369_streaming_ks", EventTime.qStreamingKs _, Timed,
      // q369: the streaming fold's final snapshot is the full-multiset
      // statistic — the oracle is q359's batch SQL verbatim
      (pairedEcdfCte +
      """SELECT pair, n1, n2, d_num,
                ROUND(CAST(d_num AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_d
         FROM (SELECT pair, MAX(n1) AS n1, MAX(n2) AS n2,
                      CAST(MAX(ABS(diff)) AS BIGINT) AS d_num
               FROM ecdf GROUP BY 1)""")),
    // q370: optimal length-bucket boundaries for padded batching —
    // k-segmentation DP over the length histogram (rows-only: a DP is
    // not SQL; BucketDpSpec pins it against brute-force enumeration)
    QuerySpec("q370_bucket_boundaries", (s, dir) => Pipeline.qBucketBoundaries(s, dir), Timed,
      // q370: the k=8 length-bucket segmentation DP, unrolled dp levels
      // + first-wins traceback — all-integer, bit-exact cross-engine
      bucketDpOracle),
    // q371: Yuen's trimmed-mean test — robust two-sample location on
    // exact trim-window order statistics and integer moments
    QuerySpec("q371_yuen_trimmed", Stats.qYuenTrimmed _, Timed,
      // q371: trim window via clamped cumulative counts; order stats
      // L/H off the same cumulative; winsorized moments derived exactly;
      // t is one spelled composition of the hashed integers
      (pairedCountsCte +
      """, cums AS (
           SELECT c.pair, c.v, c.c1, c.c2,
                  CAST(SUM(c.c1) OVER (PARTITION BY c.pair ORDER BY c.v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
                  CAST(SUM(c.c2) OVER (PARTITION BY c.pair ORDER BY c.v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2,
                  t.n1, t.n2, t.n1 // 10 AS k1, t.n2 // 10 AS k2
           FROM counts c
           JOIN (SELECT pair, CAST(SUM(c1) AS BIGINT) AS n1,
                        CAST(SUM(c2) AS BIGINT) AS n2
                 FROM counts GROUP BY 1) t USING (pair)),
         ag AS (
           SELECT pair, MAX(n1) AS n1, MAX(n2) AS n2,
                  MAX(k1) AS k1, MAX(k2) AS k2,
                  MIN(CASE WHEN cum1 >= k1 + 1 THEN v END) AS lo1,
                  MIN(CASE WHEN cum1 >= n1 - k1 THEN v END) AS hi1,
                  MIN(CASE WHEN cum2 >= k2 + 1 THEN v END) AS lo2,
                  MIN(CASE WHEN cum2 >= n2 - k2 THEN v END) AS hi2,
                  CAST(SUM(GREATEST(LEAST(cum1, n1 - k1)
                    - GREATEST(cum1 - c1, k1), 0) * v) AS BIGINT) AS tsum1,
                  CAST(SUM(GREATEST(LEAST(cum1, n1 - k1)
                    - GREATEST(cum1 - c1, k1), 0) * v * v) AS BIGINT)
                    AS tsumsq1,
                  CAST(SUM(GREATEST(LEAST(cum2, n2 - k2)
                    - GREATEST(cum2 - c2, k2), 0) * v) AS BIGINT) AS tsum2,
                  CAST(SUM(GREATEST(LEAST(cum2, n2 - k2)
                    - GREATEST(cum2 - c2, k2), 0) * v * v) AS BIGINT)
                    AS tsumsq2
           FROM cums GROUP BY 1),
         fin AS (
           SELECT *,
                  n1 - 2 * k1 AS h1, n2 - 2 * k2 AS h2,
                  tsum1 + k1 * (lo1 + hi1) AS wsum1,
                  tsumsq1 + k1 * (lo1 * lo1 + hi1 * hi1) AS wsumsq1,
                  tsum2 + k2 * (lo2 + hi2) AS wsum2,
                  tsumsq2 + k2 * (lo2 * lo2 + hi2 * hi2) AS wsumsq2
           FROM ag),
         fin2 AS (
           SELECT *,
                  CAST(tsum1 AS DOUBLE) / CAST(h1 AS DOUBLE) AS tm1,
                  CAST(tsum2 AS DOUBLE) / CAST(h2 AS DOUBLE) AS tm2,
                  (CAST(wsumsq1 AS DOUBLE) - CAST(wsum1 AS DOUBLE)
                     * CAST(wsum1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                    / CAST(n1 - 1 AS DOUBLE) AS swsq1,
                  (CAST(wsumsq2 AS DOUBLE) - CAST(wsum2 AS DOUBLE)
                     * CAST(wsum2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                    / CAST(n2 - 1 AS DOUBLE) AS swsq2
           FROM fin),
         fin3 AS (
           SELECT *,
                  CAST(n1 - 1 AS DOUBLE) * swsq1
                    / (CAST(h1 AS DOUBLE) * CAST(h1 - 1 AS DOUBLE)) AS d1,
                  CAST(n2 - 1 AS DOUBLE) * swsq2
                    / (CAST(h2 AS DOUBLE) * CAST(h2 - 1 AS DOUBLE)) AS d2
           FROM fin2)
         SELECT pair, n1, n2, k1, k2, h1, h2, lo1, hi1, lo2, hi2,
                tsum1, tsum2, tsumsq1, tsumsq2,
                ROUND(CASE WHEN d1 + d2 > 0
                  THEN (tm1 - tm2) / SQRT(d1 + d2) ELSE 0.0 END, 6)
                  AS t_yuen
         FROM fin3""")),
    // q372: per-user event-type transition matrix as streaming state
    // (one carried triple per user, emission-once edges); oracle = the
    // batch LAG() window — streaming row #2 with a full oracle
    QuerySpec("q372_streaming_transitions", EventTime.qStreamingTransitions _, Timed,
      // q372: the carried-state stream must reproduce the batch LAG()
      // window bit for bit (ts ties broken by the unique event_id)
      """WITH ordered AS (
           SELECT user_id, event_type,
                  LAG(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev
           FROM events)
         SELECT prev AS from_type, event_type AS to_type,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM ordered WHERE prev IS NOT NULL GROUP BY 1, 2"""),
    // q373: exact running moments per type — BIGINT (n, Σ, Σ²) state,
    // one rounded division at the end (q312 discipline, streamed)
    QuerySpec("q373_streaming_moments", EventTime.qStreamingMoments _, Timed,
      // q373: exact BIGINT sufficient statistics; variance is one
      // rounded double division of exact integers (HUGEINT products on
      // the DuckDB side mirror Spark's DECIMAL(38,0))
      """WITH c AS (SELECT event_type,
                           CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                    FROM events),
         agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                        CAST(SUM(v) AS BIGINT) AS sum_cents,
                        CAST(SUM(v * v) AS BIGINT) AS sumsq_cents
                 FROM c GROUP BY 1)
         SELECT event_type, n_events, sum_cents, sumsq_cents,
                ROUND(CAST(CAST(n_events AS HUGEINT) * sumsq_cents
                           - CAST(sum_cents AS HUGEINT) * sum_cents AS DOUBLE)
                      / CAST(CAST(n_events AS HUGEINT) * n_events AS DOUBLE),
                      6) AS var_cents2
         FROM agg"""),
    // q374: exact distinct users per type as id-set state — q214's
    // question with a full oracle instead of an HLL estimate
    QuerySpec("q374_streaming_distinct", EventTime.qStreamingDistinctExact _, Timed,
      // q374: the exact-distinct state's final snapshot is plain
      // COUNT(DISTINCT) — q214's HLL estimates what this pins exactly
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY event_type"""),
    // q375: byte-level BPE merges behind the GPT-2 pre-tokenizer —
    // rows-only (iterative training is not SQL; ByteBpeSpec pins the
    // exact sequence vs an independent reference implementation)
    QuerySpec("q375_byte_bpe_merges", (s, dir) => Pipeline.qByteBpeMerges(s, dir), Timed),
    // q376: byte-level BPE corpus encoding stats — rows-only
    // (ByteBpeSpec pins losslessness + reference-encoder equality)
    QuerySpec("q376_byte_bpe_encode", (s, dir) => Pipeline.qByteBpeEncode(s, dir), Timed),
  )

  /** Name → runner for every registry entry. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** Name → DuckDB oracle SQL for every entry that has one. */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** q103's shared oracle CTE prefix (tok..sizes), verbatim the
    * clause chain of the q103/q103a/q103b rows above — reused by the
    * q103c/d/e single-column contingency split so all six rows run
    * the identical component construction. */
  private val q103OraclePrefix: String =
    """WITH RECURSIVE tok AS (
         SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
       sh AS (
         SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
         FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)
         UNION
         SELECT doc_id, array_to_string(toks, ' ') FROM tok WHERE len(toks) < 2),
       cnt AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter
         FROM sh a JOIN sh b ON a.shingle = b.shingle
              AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 64
         GROUP BY 1, 2),
       pairs AS (
         SELECT doc_a, doc_b
         FROM inter JOIN cnt ca ON ca.doc_id = inter.doc_a
                    JOIN cnt cb ON cb.doc_id = inter.doc_b
         WHERE ninter::DOUBLE / (ca.nsh + cb.nsh - ninter) >= 0.1),
       edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach AS (
         SELECT doc_id AS u, doc_id AS v FROM documents
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
       sizes AS (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component)"""


  /** Shared CTE prefix for q359-q363: per-(arm vs view) value-domain
    * counts — the oracle mirror of Stats.pairedValueCounts at cent
    * granularity. */
  private val pairedCountsCte: String =
    """WITH ev AS (SELECT event_type,
                          CAST(ROUND(value * 100, 0) AS BIGINT) AS v
                   FROM events),
       arms AS (SELECT unnest(['click', 'error', 'signup', 'purchase'])
                  AS pair),
       tagged AS (
         SELECT a.pair,
                CASE WHEN e.event_type = a.pair THEN 1 ELSE 0 END AS in_arm,
                e.v
         FROM ev e JOIN arms a
           ON (e.event_type = a.pair OR e.event_type = 'view')),
       counts AS (SELECT pair, v, CAST(SUM(in_arm) AS BIGINT) AS c1,
                         CAST(SUM(1 - in_arm) AS BIGINT) AS c2
                  FROM tagged GROUP BY 1, 2)
    """

  /** pairedCountsCte + cumulative ECDF columns + the exact integer
    * gap `diff = cum1·n2 − cum2·n1` (Stats.pairedEcdf's mirror). */
  private val pairedEcdfCte: String = pairedCountsCte +
    """, cums AS (
         SELECT pair, v, c1, c2,
                CAST(SUM(c1) OVER (PARTITION BY pair ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
                CAST(SUM(c2) OVER (PARTITION BY pair ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
         FROM counts),
       tot AS (SELECT pair, CAST(SUM(c1) AS BIGINT) AS n1,
                      CAST(SUM(c2) AS BIGINT) AS n2
               FROM counts GROUP BY 1),
       ecdf AS (SELECT c.pair, c.v, c.c1, c.c2, c.cum1, c.cum2,
                       t.n1, t.n2,
                       c.cum1 * t.n2 - c.cum2 * t.n1 AS diff
                FROM cums c JOIN tot t USING (pair))
    """

  /** Shared CTE prefix for the q299/q302 complete-block rank pair:
    * per-customer yearly spend 1996–1998, complete blocks only,
    * doubled within-block average ranks (2·rank + ties − 1). */
  private val yearRankCte: String =
    """WITH spend AS (
         SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS v
         FROM orders
         WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1999-01-01'
         GROUP BY 1, 2),
       blocks AS (
         SELECT * FROM spend
         WHERE o_custkey IN (SELECT o_custkey FROM spend
                             GROUP BY 1 HAVING COUNT(*) = 3)),
       ranked AS (
         SELECT yr,
                2 * RANK() OVER (PARTITION BY o_custkey ORDER BY v)
                  + COUNT(*) OVER (PARTITION BY o_custkey, v) - 1 AS dij
         FROM blocks),"""

  /** Shared oracle for the q298 parity pair: batch fold and streaming
    * state must both equal this recursion's output. */
  private val ewmaOracle: String =
    """WITH RECURSIVE hourly AS (
         SELECT event_type,
                CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
                CAST(COUNT(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       numbered AS (
         SELECT event_type, h, c,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n_hours
         FROM hourly),
       walk AS (
         SELECT event_type, rn, n_hours, h,
                c * 1000000 AS e,
                CAST(0 AS BIGINT) AS n_spikes,
                CAST(-1 AS BIGINT) AS spike_h
         FROM numbered WHERE rn = 1
         UNION ALL
         SELECT n.event_type, n.rn, n.n_hours, n.h,
                (n.c * 1000000 + w.e) // 2 AS e,
                w.n_spikes + CASE WHEN 2 * n.c * 1000000 > 3 * w.e
                                  THEN 1 ELSE 0 END AS n_spikes,
                CASE WHEN w.spike_h >= 0 THEN w.spike_h
                     WHEN 2 * n.c * 1000000 > 3 * w.e THEN n.h
                     ELSE -1 END AS spike_h
         FROM numbered n JOIN walk w
           ON n.event_type = w.event_type AND n.rn = w.rn + 1)
       SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
              CAST(e AS BIGINT) AS final_ewma_micro,
              CAST(n_spikes AS BIGINT) AS n_spikes,
              CAST(spike_h AS BIGINT) AS first_spike_hour
       FROM walk WHERE rn = n_hours"""

  /** Shared oracle for the q327 parity pair: the two-term Holt
    * recursion (level + trend, α = β = ½) in exact micro-unit
    * BIGINTs. `//` truncates toward zero, matching the Scala folds;
    * each hour scores against the PRE-update forecast l + b with the
    * 10% over band (10·v > 11·f). */

  /** q253 oracle: 5 synchronous label-propagation rounds unrolled —
    * per round one edge⋈labels join + the plurality vote with
    * min-label ties (windowed max count, then MIN(label) among the
    * tied — exactly Spark's struct-max on (cnt, −label)). All integer;
    * MATERIALIZED keeps DuckDB's chain evaluation linear. */
  private val lpaOracle: String = {
    val rounds = (1 to 5).map { k =>
      s"""v$k AS MATERIALIZED (
           SELECT b.u, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM bidir b JOIN l${k - 1} l ON b.v = l.node GROUP BY 1, 2),
         l$k AS MATERIALIZED (
           SELECT u AS node, MIN(label) AS label FROM (
             SELECT u, label, cnt, MAX(cnt) OVER (PARTITION BY u) AS mx
             FROM v$k) t
           WHERE cnt = mx GROUP BY u)"""
    }.mkString(",\n         ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         backbone AS MATERIALIZED (
           SELECT a.p AS u, b.p AS v FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         bidir AS MATERIALIZED (SELECT u, v FROM backbone UNION ALL SELECT v AS u, u AS v FROM backbone),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM bidir),
         $rounds,
         comm AS MATERIALIZED (SELECT label, CAST(COUNT(*) AS BIGINT) AS size FROM l5 GROUP BY label),
         summary AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
                            CAST(SUM(size) AS BIGINT) AS n_nodes FROM comm),
         top AS (SELECT label, size, ROW_NUMBER() OVER (ORDER BY size DESC, label) AS rank
                 FROM comm ORDER BY size DESC, label LIMIT 10)
         SELECT CAST(t.rank AS INT) AS rank, t.label AS community, t.size,
                s.n_communities, s.n_nodes
         FROM top t, summary s ORDER BY rank"""
  }

  /** q163 oracle: the 15-round integer-picorank power iteration
    * unrolled as chained MATERIALIZED CTEs (each round referenced by
    * the next — materialization keeps DuckDB's evaluation linear).
    * Every operation is integer and every numerator nonnegative, so
    * DuckDB's flooring `//` equals Spark's truncating `div`. */
  private val pagerankOracle: String = {
    val rounds = (1 to 15).map { k =>
      s"""c$k AS MATERIALIZED (SELECT ew.v, SUM((r.r * ew.w) // ew.wdeg) AS cin
           FROM ew JOIN r${k - 1} r ON ew.u = r.u GROUP BY ew.v),
         r$k AS MATERIALIZED (SELECT w.u, (SELECT b FROM base) + (85 * COALESCE(c.cin, 0)) // 100 AS r
           FROM wdeg w LEFT JOIN c$k c ON w.u = c.v)"""
    }.mkString(",\n         ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         pairs AS MATERIALIZED (SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS w
           FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         edges AS MATERIALIZED (SELECT u, v, w FROM pairs UNION ALL SELECT v AS u, u AS v, w FROM pairs),
         wdeg AS MATERIALIZED (SELECT u, CAST(SUM(w) AS BIGINT) AS wdeg, CAST(COUNT(*) AS BIGINT) AS deg
           FROM edges GROUP BY u),
         base AS MATERIALIZED (SELECT 150000000000 // COUNT(*) AS b, 1000000000000 // COUNT(*) AS init FROM wdeg),
         ew AS MATERIALIZED (SELECT e.u, e.v, e.w, d.wdeg FROM edges e JOIN wdeg d ON e.u = d.u),
         r0 AS MATERIALIZED (SELECT u, (SELECT init FROM base) AS r FROM wdeg),
         $rounds
         SELECT r.u AS part, w.deg AS degree, w.wdeg AS weighted_degree,
                CAST(r.r AS BIGINT) AS rank_pico
         FROM r15 r JOIN wdeg w ON r.u = w.u
         ORDER BY r.r DESC, r.u LIMIT 20"""
  }

  /** q365 oracle: 12 HITS iterations (24 half-rounds) unrolled; each
    * half-round is the edge join + destination sum, then the exact
    * integer L1 renormalization `s' = s·10¹² // Σs` (HUGEINT carries
    * the product where Spark rides DECIMAL(38,0); both truncate the
    * same on nonnegative operands). */
  private val hitsOracle: String = {
    val parts = (1 to 12).map { k =>
      s"""a${k}r AS MATERIALIZED (SELECT e.p, SUM(h.s) AS s FROM e JOIN h${k - 1} h ON e.c = h.c GROUP BY e.p),
         a$k AS MATERIALIZED (SELECT p, CAST(CAST(s AS HUGEINT) * 1000000000000 // (SELECT SUM(s) FROM a${k}r) AS BIGINT) AS s FROM a${k}r),
         h${k}r AS MATERIALIZED (SELECT e.c, SUM(a.s) AS s FROM e JOIN a$k a ON e.p = a.p GROUP BY e.c),
         h$k AS MATERIALIZED (SELECT c, CAST(CAST(s AS HUGEINT) * 1000000000000 // (SELECT SUM(s) FROM h${k}r) AS BIGINT) AS s FROM h${k}r)"""
    }.mkString(",\n         ")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         h0 AS MATERIALIZED (SELECT DISTINCT c,
           (SELECT 1000000000000 // GREATEST(COUNT(DISTINCT c), 1) FROM e) AS s FROM e),
         $parts
         SELECT * FROM (
           (SELECT 'authority' AS role, p AS node, s AS score_pico FROM a12
            ORDER BY s DESC, p LIMIT 20)
           UNION ALL
           (SELECT 'hub' AS role, c AS node, s AS score_pico FROM h12
            ORDER BY s DESC, c LIMIT 20))
         ORDER BY role, score_pico DESC, node"""
  }

  /** q370 oracle: the k=8 length-bucket segmentation DP unrolled as 8
    * MATERIALIZED dp levels over the distinct-length histogram (the
    * same 2¹⁶ quantization guard as the Spark side), with an unrolled
    * first-wins (MIN i) traceback — each tb level references the next
    * three times, so materialization is what keeps evaluation linear.
    * All integer; the optimal total equals dp8(m) by construction. */
  private val bucketDpOracle: String = {
    val k = 8
    val domainCap = 65536
    val dps = Seq("dp1 AS MATERIALIZED (SELECT j, cost AS v FROM cost WHERE i = 1)") ++
      (2 to k).map { b =>
        s"""dp$b AS MATERIALIZED (SELECT c.j, MIN(d.v + c.cost) AS v
           FROM dp${b - 1} d JOIN cost c ON c.i = d.j + 1 GROUP BY c.j)"""
      }
    val tbs = Seq(
      s"""tb$k AS MATERIALIZED (SELECT MIN(c.i) AS i, (SELECT m FROM mm) AS j
           FROM dp${k - 1} d JOIN cost c ON c.i = d.j + 1 AND c.j = (SELECT m FROM mm)
           WHERE d.v + c.cost = (SELECT v FROM dp$k WHERE j = (SELECT m FROM mm)))""") ++
      (k - 1 to 2 by -1).map { b =>
        s"""tb$b AS MATERIALIZED (SELECT MIN(c.i) AS i, (SELECT i - 1 FROM tb${b + 1}) AS j
           FROM dp${b - 1} d JOIN cost c ON c.i = d.j + 1 AND c.j = (SELECT i - 1 FROM tb${b + 1})
           WHERE d.v + c.cost = (SELECT v FROM dp$b WHERE j = (SELECT i - 1 FROM tb${b + 1})))"""
      } ++ Seq("tb1 AS MATERIALIZED (SELECT 1 AS i, (SELECT i - 1 FROM tb2) AS j)")
    val segs = (1 to k).map(b => s"SELECT ${b - 1} AS bucket, i, j FROM tb$b")
      .mkString(" UNION ALL ")
    s"""WITH lens AS MATERIALIZED (SELECT len(string_split_regex(lower(text), '\\s+')) AS len,
           CAST(COUNT(*) AS BIGINT) AS c
           FROM documents GROUP BY 1),
         cellsz AS (SELECT GREATEST(1, (MAX(len) + $domainCap - 1) // $domainCap) AS cell FROM lens),
         cells0 AS MATERIALIZED (SELECT (len + cell - 1) // cell AS cellid, MAX(len) AS cmax,
           SUM(c) AS cnt, SUM(len * c) AS tok
           FROM lens, cellsz GROUP BY 1),
         cells AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY cmax) AS i, cmax, cnt, tok FROM cells0),
         pre AS MATERIALIZED (SELECT i, cmax, SUM(cnt) OVER (ORDER BY i) AS pc,
           SUM(tok) OVER (ORDER BY i) AS pt FROM cells),
         mm AS MATERIALIZED (SELECT MAX(i) AS m FROM cells),
         cost AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
           b.cmax * (b.pc - COALESCE(p.pc, 0)) - (b.pt - COALESCE(p.pt, 0)) AS cost
           FROM pre a JOIN pre b ON a.i <= b.i
           LEFT JOIN pre p ON p.i = a.i - 1),
         ${dps.mkString(",\n         ")},
         ${tbs.mkString(",\n         ")},
         segs AS MATERIALIZED ($segs)
         SELECT CAST(s.bucket AS BIGINT) AS bucket,
                CAST(ej.cmax AS BIGINT) AS pad_to_len,
                CAST(ej.pc - COALESCE(pi.pc, 0) AS BIGINT) AS n_docs,
                CAST(ej.pt - COALESCE(pi.pt, 0) AS BIGINT) AS n_tokens,
                CAST(ej.cmax * (ej.pc - COALESCE(pi.pc, 0)) - (ej.pt - COALESCE(pi.pt, 0)) AS BIGINT) AS padding,
                (SELECT CAST(v AS BIGINT) FROM dp$k WHERE j = (SELECT m FROM mm)) AS total_padding_optimal,
                (SELECT CAST(cost AS BIGINT) FROM cost WHERE i = 1 AND j = (SELECT m FROM mm)) AS total_padding_single_bucket
         FROM segs s JOIN pre ej ON ej.i = s.j
         LEFT JOIN pre pi ON pi.i = s.i - 1
         ORDER BY bucket"""
  }


  private val holtOracle: String =
    """WITH RECURSIVE hourly AS (
         SELECT event_type,
                CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
                CAST(COUNT(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       numbered AS (
         SELECT event_type, h, c,
                ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n_hours
         FROM hourly),
       walk AS (
         SELECT event_type, rn, n_hours, h,
                c * 1000000 AS l,
                CAST(0 AS BIGINT) AS b,
                CAST(0 AS BIGINT) AS n_over,
                CAST(-1 AS BIGINT) AS over_h
         FROM numbered WHERE rn = 1
         UNION ALL
         SELECT n.event_type, n.rn, n.n_hours, n.h,
                (n.c * 1000000 + w.l + w.b) // 2 AS l,
                ((n.c * 1000000 + w.l + w.b) // 2 - w.l + w.b) // 2 AS b,
                w.n_over + CASE WHEN 10 * n.c * 1000000 > 11 * (w.l + w.b)
                                THEN 1 ELSE 0 END AS n_over,
                CASE WHEN w.over_h >= 0 THEN w.over_h
                     WHEN 10 * n.c * 1000000 > 11 * (w.l + w.b) THEN n.h
                     ELSE -1 END AS over_h
         FROM numbered n JOIN walk w
           ON n.event_type = w.event_type AND n.rn = w.rn + 1)
       SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
              CAST(l AS BIGINT) AS level_micro,
              CAST(b AS BIGINT) AS trend_micro,
              CAST(l + b AS BIGINT) AS forecast_micro,
              CAST(n_over AS BIGINT) AS n_over_forecast,
              CAST(over_h AS BIGINT) AS first_over_hour
       FROM walk WHERE rn = n_hours"""
}
