package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level toolkit for the text / dedup / similarity operators.
  *
  * Everything here is built from codegen'd Spark built-ins
  * (`org.apache.spark.sql.functions`) or native Catalyst expressions
  * (`SimHash64`, `WinnowFingerprint`, resolved via the session function
  * registry — see [[GraftFunctions.register]]) — no Scala UDFs — so all
  * of it stays inside whole-stage codegen and scales with the executors.
  */
package object functions {

  /** Whitespace tokens of a string column. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Distinct shingles (set semantics) — native codegen'd expression
    * ([[WordShingles]]); requires [[GraftFunctions.register]]. */
  def shingleSet(text: Column, n: Int): Column =
    call_function("word_shingles", text, lit(n))

  /** Sorted 64-bit hashes of the distinct shingle set — the join-side
    * representation for exact near-dup verification at scale: hash each
    * shingle once per DOCUMENT (xxhash64, seed 42), sort, and every
    * downstream pair comparison becomes a merge walk over longs
    * ([[sortedIntersectSize]]) instead of re-hashing strings per PAIR.
    * Set sizes are preserved (64-bit collisions within a document's
    * ~10²-shingle set are ~1e-17 — far below double rounding error).
    * Requires [[GraftFunctions.register]]. */
  def hashedShingleSet(text: Column, n: Int): Column =
    array_sort(transform(shingleSet(text, n), s => xxhash64(s)))

  /** Intersection count of two ascending-sorted ARRAY<LONG> columns —
    * native codegen'd merge walk ([[SortedIntersectSize]]); requires
    * [[GraftFunctions.register]]. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    call_function("sorted_intersect_size", a, b)

  /** Jaro–Winkler similarity of two STRING columns — native codegen'd
    * ([[JaroWinklerExpr]], semantics pinned to DuckDB's
    * `jaro_winkler_similarity`); requires [[GraftFunctions.register]]. */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)

  /** Exact Jaccard over [[hashedShingleSet]] representations:
    * inter / (|A| + |B| − inter) with a single merge-walk intersection.
    * Value-identical to [[jaccard]] on the underlying string sets
    * (modulo 64-bit hash collisions, ~1e-17 per doc). */
  def jaccardHashed(a: Column, b: Column): Column = {
    val inter = sortedIntersectSize(a, b).cast("double")
    val uni = size(a).cast("double") + size(b).cast("double") - inter
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** MinHash signature: `k` 2-universal hash rows over the element set
    * in one pass (native expression, [[MinHashSignature]]). Returns
    * ARRAY<LONG> of length k; null for empty sets. Requires
    * [[GraftFunctions.register]] on the session. */
  def minhashSignature(elems: Column, k: Int): Column =
    call_function("minhash_signature", elems, lit(k))

  /** LSH band hashes of a MinHash signature: splits the signature into
    * `bands` bands of k/bands rows each and hashes each band. Returns
    * ARRAY<LONG> of length `bands`; band index must be paired with the
    * hash when bucketing (same hash in different bands != candidate). */
  def lshBandHashes(sig: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, s"numHashes=$k must be divisible by bands=$bands")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * lit(r) + 1, lit(r))))
  }

  /** Exact Jaccard similarity of two array columns treated as sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Cosine similarity of two FLOAT/DOUBLE array columns (0 when either
    * is a zero vector) — the native one-pass codegen'd expression
    * ([[CosineSimilarityExpr]]); auto-registers on the active session. */
  def cosineSimilarity(a: Column, b: Column): Column = {
    GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    call_function("cosine_similarity", a, b)
  }

  /** All multi-table sign-LSH buckets for a vector:
    * ARRAY<STRUCT<tbl, bucket>> — explode and bucket-join on both
    * fields. Native codegen'd expression ([[SignLshBuckets]]) with the
    * hyperplane matrix precomputed per JVM; requires
    * [[GraftFunctions.register]] on the session. Vectors with high
    * cosine similarity collide with high probability — the scale path
    * for ANN search; multiple tables boost recall. */
  def signLshBuckets(vec: Column, nbits: Int, tables: Int): Column =
    call_function("sign_lsh_buckets", vec, lit(nbits), lit(tables))

  /** 64-bit SimHash of a token array (native Catalyst expression;
    * requires [[GraftFunctions.register]] on the session). */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  /** Winnowing fingerprint (array of selected k-gram rolling hashes;
    * requires [[GraftFunctions.register]] on the session). */
  def winnowFingerprint(text: Column, k: Int = 8, w: Int = 4): Column =
    call_function("winnow_fingerprint", text, lit(k), lit(w))

  /** Hamming distance between two LONG columns viewed as 64-bit vectors. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // --- text analysis -------------------------------------------------

  /** Stopword lists for the language-ID heuristic. Tiny on purpose —
    * these broadcast as literals into codegen. */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val StopwordsEs: Seq[String] = Seq("el", "la", "de", "y", "en", "es", "un", "que")
  val StopwordsFr: Seq[String] = Seq("le", "la", "de", "et", "en", "est", "un", "que")

  private def overlapCount(toks: Column, words: Seq[String]): Column =
    size(array_intersect(array_distinct(toks), array(words.map(lit): _*)))

  /** Heuristic language ID over whitespace tokens: argmax of stopword
    * overlap (en > es > fr on ties), 'und' when no stopword hits. */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val en = overlapCount(toks, StopwordsEn)
    val es = overlapCount(toks, StopwordsEs)
    val fr = overlapCount(toks, StopwordsFr)
    when(greatest(en, es, fr) === 0, lit("und"))
      .when(en >= es && en >= fr, lit("en"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Number of whitespace tokens. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword token count: runs of letters, runs of digits, and
    * single other non-space characters each count as one token. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Ratio of stopword tokens to all tokens. Counting matches via a
    * boundary-anchored regex alternation (codegen'd `regexp_count`)
    * instead of a per-token `filter` lambda (interpreted): a token from
    * `split(\s+)` equals a stopword exactly when the word sits between
    * whitespace/string boundaries, which the lookaround pair encodes.
    * Integer-identical to the lambda formulation (parity-tested). */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    val words = (StopwordsEn ++ StopwordsEs ++ StopwordsFr).distinct.mkString("|")
    val hits = regexp_count(lower(text), lit(s"(?<=^|\\s)($words)(?=\\s|$$)"))
    when(size(toks) === 0, lit(0.0)).otherwise(hits.cast("double") / size(toks).cast("double"))
  }

  /** Ratio of non-[a-z0-9 ] characters (punctuation/symbols) to length. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(lower(text), "[a-z0-9 ]", "")).cast("double") /
        length(text).cast("double"))

  /** Mean token character length. The summed token length equals the
    * text length with every whitespace run deleted (split pieces are
    * exactly the non-whitespace runs, plus possibly empty edge tokens
    * of length 0), so one codegen'd `regexp_replace` replaces the
    * interpreted `aggregate` lambda — integer-identical
    * (parity-tested). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "\\s+", "")).cast("double") /
        size(toks).cast("double"))
  }

  /** Ratio of distinct tokens to all tokens (repetition detector). */
  def distinctTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
  }
}
