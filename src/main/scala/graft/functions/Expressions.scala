package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over an `ARRAY<STRING>` of tokens.
  *
  * Per-token hash is Spark's own XXH64 (seed 42, same as `xxhash64`), so
  * the result is stable across the cluster and across sessions. For each
  * of the 64 bit positions we accumulate +1/-1 votes across tokens and
  * keep the sign — near-identical token multisets end up within a few
  * bits of Hamming distance.
  *
  * The reference engine (RedisGears) has no dedup primitives at all — it
  * delegates all per-record computation to user JS
  * (`/root/reference/redisgears_v8_plugin/src/v8_native_functions.rs:513-624`);
  * this is part of the training-data-pipeline surface added on top.
  *
  * Implemented as a native Catalyst expression with `doGenCode` so it
  * stays inside whole-stage codegen on the hot dedup path.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires ARRAY<STRING>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    SimHash64.hash(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.SimHash64.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  /** Static helper shared by interpreted eval and generated code. */
  def hash(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var res = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) res |= (1L << j)
      j += 1
    }
    res
  }
}

/** MinHash signature over an `ARRAY<STRING>` element set, as a native
  * one-pass Catalyst expression.
  *
  * Each element is hashed ONCE with Spark's XXH64; the k signature rows
  * are 2-universal affine transforms `a_i * h + b_i` of that hash
  * (constants derived per row from splitmix-style mixing), so the cost
  * is |elements| hashes + k·|elements| multiply-adds instead of the
  * k·|elements| full hashes a naive `transform(sequence(1,k), …)`
  * formulation pays — and, unlike higher-order-function lambdas (which
  * Spark interprets), this stays inside whole-stage codegen. The hot
  * loop of MinHash+LSH dedup at 100 TB runs here.
  */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= 1024, "numHashes in [1,1024]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature requires ARRAY<STRING>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashSignature.signature($c, $k);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  /** Per-row affine constants: odd multiplier + offset from splitmix64
    * mixing of the row index (deterministic across the cluster). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private lazy val A: Array[Long] = Array.tabulate(1024)(j => mix(2L * j) | 1L)
  private lazy val B: Array[Long] = Array.tabulate(1024)(j => mix(2L * j + 1))

  /** Null for an empty element set (no meaningful signature). */
  def signature(arr: ArrayData, k: Int): GenericArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val as = A
    val bs = B
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var j = 0
        while (j < k) {
          val v = as(j) * h + bs(j)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Distinct word n-gram shingles of a string, as a native codegen'd
  * expression replacing the interpreted higher-order-function chain
  * (`split` → `transform(sequence(…))` → `concat_ws` → `slice` →
  * `array_distinct`) on the dedup hot path. Semantics are identical to
  * that formulation: tokens = Java regex split on `\s+` with limit -1
  * (Spark's `split`), texts with fewer than `n` tokens collapse to a
  * single whole-text shingle, shingles joined with single spaces,
  * distinct keeps first occurrence. One pass, no per-row lambda
  * interpretation — this feeds MinHash/LSH over every document at
  * 100 TB.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 16, "shingle n in [1,16]")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_shingles requires STRING, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    WordShingles.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.WordShingles.shingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def shingles(text: UTF8String, n: Int): GenericArrayData = {
    val toks = Ws.split(text.toString, -1)
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length < n) {
      out.add(String.join(" ", toks: _*))
    } else {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }
}

/** Multi-table sign-bit random-hyperplane LSH buckets for an embedding
  * (`ARRAY<FLOAT>` or `ARRAY<DOUBLE>`), as a native codegen'd
  * expression: `tables × nbits` pseudo-random hyperplanes, bucket bit h
  * = sign of the projection onto hyperplane h. Returns
  * `ARRAY<STRUCT<tbl INT, bucket LONG>>` — explode and equi-join on
  * (tbl, bucket) for ANN candidate generation.
  *
  * The hyperplane weight for (table, hyperplane, dim) is
  * `xxhash64(t, h, i) pmod 1001 - 500` — identical to the declarative
  * higher-order-function formulation this replaces, but the weight
  * matrix is computed ONCE per (tables, nbits, dims) in a process-wide
  * cache instead of nbits×dims xxhash64 calls per row per table, and
  * the projection loop runs inside whole-stage codegen instead of
  * Catalyst's interpreted lambda evaluator. Determinism across
  * executors comes from the seeded hash, so buckets are stable
  * cluster-wide (the property the bucket equi-join depends on).
  */
case class SignLshBuckets(child: Expression, nbits: Int, tables: Int) extends UnaryExpression {
  require(nbits >= 1 && nbits <= 63, "nbits in [1,63]")
  require(tables >= 1 && tables <= 256, "tables in [1,256]")

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("tbl", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh_buckets requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SignLshBuckets.buckets(input.asInstanceOf[ArrayData], isFloat, nbits, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SignLshBuckets.buckets($c, $isFloat, $nbits, $tables);")

  override protected def withNewChildInternal(newChild: Expression): SignLshBuckets =
    copy(child = newChild)

  override def prettyName: String = "sign_lsh_buckets"
}

object SignLshBuckets {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  // weight matrices are tiny (tables × nbits × dims doubles) and depend
  // only on the literal parameters + dimensionality: compute once per
  // JVM, shared by every task on the executor
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  private def matrix(tables: Int, nbits: Int, dims: Int): Array[Array[Double]] =
    cache.computeIfAbsent((tables, nbits, dims), key => {
      val (t0, n0, d0) = key
      Array.tabulate(t0 * n0) { th =>
        val t = th / n0
        val h = th % n0
        Array.tabulate(d0) { i =>
          // xxhash64(t, h, i): Spark's XxHash64 over three INT columns —
          // seed 42, chained per argument; pmod 1001 - 500 gives a
          // deterministic pseudo-gaussian weight in [-500, 500]
          var hash = XXH64.hashInt(t, 42L)
          hash = XXH64.hashInt(h, hash)
          hash = XXH64.hashInt(i, hash)
          (((hash % 1001L) + 1001L) % 1001L - 500L).toDouble
        }
      }
    })

  def buckets(arr: ArrayData, isFloat: Boolean, nbits: Int, tables: Int): GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](tables)
    // empty vectors and null elements made every projection null in the
    // declarative formulation → bit 0 everywhere; preserve that
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) {
      if (arr.isNullAt(i)) hasNull = true
      i += 1
    }
    if (n == 0 || hasNull) {
      var t = 0
      while (t < tables) {
        out(t) = new GenericInternalRow(Array[Any](t, 0L)): InternalRow
        t += 1
      }
      return new GenericArrayData(out)
    }
    val w = matrix(tables, nbits, n)
    val vec = new Array[Double](n)
    i = 0
    while (i < n) {
      vec(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var t = 0
    while (t < tables) {
      var acc = 0L
      var h = 0
      while (h < nbits) {
        val row = w(t * nbits + h)
        var proj = 0.0
        var j = 0
        while (j < n) {
          proj += vec(j) * row(j)
          j += 1
        }
        acc = acc * 2 + (if (proj > 0) 1L else 0L)
        h += 1
      }
      out(t) = new GenericInternalRow(Array[Any](t, acc)): InternalRow
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03).
  *
  * Computes a Karp–Rabin polynomial rolling hash over every `k`-char gram
  * of the input string, then selects the minimum hash in each sliding
  * window of `w` consecutive grams (rightmost minimum on ties), returning
  * the sorted distinct selected hashes as `ARRAY<LONG>`. Two documents
  * sharing a run of >= k+w-1 characters are guaranteed to share a
  * fingerprint value, which makes the output bucket-joinable for
  * near-dup / containment detection at scale.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k >= 2 && w >= 1, "winnow_fingerprint requires k >= 2, w >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_fingerprint requires STRING, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprint.fingerprint(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.WinnowFingerprint.fingerprint($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)

  override def prettyName: String = "winnow_fingerprint"
}

object WinnowFingerprint {
  private val Base = 1000003L

  def fingerprint(text: UTF8String, k: Int, w: Int): GenericArrayData = {
    val s = text.toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    // rolling Karp-Rabin over k-grams
    val m = n - k + 1
    val hashes = new Array[Long](m)
    var h = 0L
    var pow = 1L // Base^(k-1)
    var i = 0
    while (i < k) {
      h = h * Base + s.charAt(i)
      if (i < k - 1) pow *= Base
      i += 1
    }
    hashes(0) = h
    i = 1
    while (i < m) {
      h = (h - s.charAt(i - 1) * pow) * Base + s.charAt(i + k - 1)
      hashes(i) = h
      i += 1
    }
    // winnowing: min of each window of w hashes, rightmost min on ties
    val selected = scala.collection.mutable.SortedSet.empty[Long]
    if (m <= w) {
      var minIdx = 0
      var j = 1
      while (j < m) { if (hashes(j) <= hashes(minIdx)) minIdx = j; j += 1 }
      selected += hashes(minIdx)
    } else {
      var start = 0
      while (start + w <= m) {
        var minIdx = start
        var j = start + 1
        while (j < start + w) { if (hashes(j) <= hashes(minIdx)) minIdx = j; j += 1 }
        selected += hashes(minIdx)
        start += 1
      }
    }
    new GenericArrayData(selected.toArray)
  }
}

/** Cosine similarity of two numeric vector columns (`ARRAY<FLOAT>` or
  * `ARRAY<DOUBLE>` on either side, independently), as a native
  * codegen'd Catalyst expression: one fused pass computes the dot
  * product and both norms with zero per-row allocations — replacing
  * the interpreted `aggregate(zip_with(...))` higher-order-function
  * formulation (kept in CosineSimilaritySpec as the reference
  * for parity testing), which allocates an intermediate product array
  * per row and cannot participate in whole-stage codegen. This sits in
  * the innermost loop of every similarity/near-dup operator (candidate
  * verify in LSH/IVF, full scan in brute-force kNN), so it is the
  * hottest scalar in the ANN family at any corpus size.
  *
  * Semantics match the reference formulation bit-for-bit on well-formed
  * input: elements are widened to double before multiplying and
  * accumulated left-to-right; a zero-norm side yields 0.0. Array
  * elements must be non-null (embedding columns; enforced nowhere
  * cheaply — a null element reads as 0). Lengths are expected equal;
  * the dot product runs over the common prefix.
  */
/** Count of common elements between two ASCENDING-SORTED `ARRAY<LONG>`
  * columns — a single merge walk, no hash-set build and no result-array
  * allocation, vs `size(array_intersect(a, b))` which pays both per row.
  *
  * This is the exact-verify kernel of the n-gram dedup family once
  * shingle sets are represented as sorted 64-bit hashes
  * ([[graft.functions.hashedShingleSet]]): Jaccard needs only the
  * intersection COUNT (|A∪B| = |A|+|B|−|A∩B| for sets), and comparing
  * presorted longs is ~20× cheaper than hashing strings pair-wise —
  * the per-candidate cost that dominates any near-dup verify stage at
  * corpus scale. Inputs MUST be duplicate-free and sorted (callers get
  * both from `array_sort`); behavior on unsorted input is undefined.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_size requires ARRAY<BIGINT> args, got ${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.SortedIntersectSize.compute($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectSize = copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_size"
}

object SortedIntersectSize {
  /** Merge walk over two ascending long arrays; shared by interpreted
    * eval and codegen. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val an = a.numElements()
    val bn = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < an && j < bn) {
      val av = a.getLong(i)
      val bv = b.getLong(j)
      if (av == bv) { c += 1; i += 1; j += 1 }
      else if (av < bv) i += 1
      else j += 1
    }
    c
  }
}

case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType

  private def okElem(t: DataType): Boolean = t == FloatType || t == DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if okElem(lt) && okElem(rt) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity requires ARRAY<FLOAT|DOUBLE> args, got ${l.catalogString}, ${r.catalogString}")
    }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarityExpr.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.CosineSimilarityExpr.compute($x, $y, ${isFloat(left)}, ${isFloat(right)});")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimilarityExpr = copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

object CosineSimilarityExpr {
  /** Static one-pass kernel shared by interpreted eval and codegen. */
  def compute(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean): Double = {
    val xn = x.numElements()
    val yn = y.numElements()
    val n = math.min(xn, yn)
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    // norms run over each side's FULL length (as the HOF reference in CosineSimilaritySpec does)
    while (i < xn) {
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      nx += xv * xv
      i += 1
    }
    i = n
    while (i < yn) {
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Viterbi segmentation of a word under a unigram piece model
  * (SentencePiece's inference half, Kudo 2018): split the word into
  * vocabulary pieces minimizing total integer cost (= scaled negative
  * log-probability), the other real-world subword algorithm beside BPE
  * (q78/q82). The DP is row-local over the word's characters with the
  * vocabulary held ONCE per plan as a reference-object hash map — the
  * inner loop is O(len · maxPieceLen) hash probes, whole-stage
  * codegen'd via the static helper like every expression above.
  *
  * Determinism contract: minimize (total cost, piece count), ties
  * broken by preferring the LONGER final piece at each DP cell — a
  * total order, so the segmentation is bit-identical on every
  * executor, partitioning, and JVM (costs are precomputed integers;
  * no float enters the DP). Unknown single characters cost `unkCost`
  * so every word segments (coverage never throws at inference).
  *
  * The reference engine tokenizes nothing — user JS would loop per
  * key (`v8_native_functions.rs`); this is the trainable-tokenizer
  * surface of the pipeline layer. */
case class UnigramSegment(child: Expression, pieces: Seq[String],
    costs: Seq[Long], unkCost: Long) extends UnaryExpression {
  require(pieces.length == costs.length, "pieces/costs length mismatch")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"unigram_segment requires STRING, got ${other.catalogString}")
    }

  @transient private lazy val vocab: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), costs(i)); i += 1 }
    m
  }
  @transient private lazy val maxLen: Int =
    if (pieces.isEmpty) 1 else math.max(1, pieces.iterator.map(_.length).max)

  override def nullSafeEval(input: Any): Any =
    UnigramSegment.segment(vocab, input.asInstanceOf[UTF8String], maxLen, unkCost)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramVocab", vocab, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnigramSegment.segment($ref, $c, $maxLen, ${unkCost}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegment =
    copy(child = newChild)

  override def prettyName: String = "unigram_segment"
}

object UnigramSegment {
  /** Static Viterbi shared by interpreted eval and generated code.
    *
    * The DP runs over UTF-16 char positions but only CODE-POINT
    * boundaries are reachable states (a position inside a surrogate
    * pair keeps cost INF, so no piece may start or end there), and the
    * unknown fallback consumes one code point — one char, or the two
    * chars of a surrogate pair. Lossless concat therefore holds for
    * non-BMP input too: a fallback piece is always a whole code point,
    * never a lone surrogate half. BMP/ASCII behavior is bit-identical
    * to the char-indexed formulation (every position is a boundary). */
  def segment(vocab: java.util.HashMap[String, java.lang.Long],
      word: UTF8String, maxLen: Int, unkCost: Long): ArrayData = {
    val s = word.toString
    val n = s.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val INF = Long.MaxValue / 4
    val dpCost = new Array[Long](n + 1)
    val dpPieces = new Array[Int](n + 1)
    val back = new Array[Int](n + 1)
    // position i sits inside a surrogate pair iff chars (i-1, i) are a
    // (high, low) pair; such states stay unreachable
    def boundary(i: Int): Boolean =
      i == 0 || i == n ||
        !(Character.isLowSurrogate(s.charAt(i)) &&
          Character.isHighSurrogate(s.charAt(i - 1)))
    var i = 1
    while (i <= n) {
      dpCost(i) = INF
      dpPieces(i) = Int.MaxValue
      // lim floor of 2 (when i allows) keeps surrogate-pair unknowns
      // reachable even under an all-single-char vocab (maxLen == 1);
      // for BMP input the extra l == 2 probe misses the vocab and the
      // one-code-point test, so behavior is unchanged
      val lim0 = if (maxLen < i) maxLen else i
      val lim = if (lim0 < 2 && i >= 2) 2 else lim0
      var l = if (boundary(i)) 1 else lim + 1 // skip mid-pair states
      while (l <= lim) {
        if (dpCost(i - l) < INF) {
          val piece = s.substring(i - l, i)
          val cObj = vocab.get(piece)
          val isOneCodePoint = l == 1 ||
            (l == 2 && Character.isHighSurrogate(s.charAt(i - 2)) &&
              Character.isLowSurrogate(s.charAt(i - 1)))
          val c: Long =
            if (cObj != null) cObj.longValue()
            else if (isOneCodePoint) unkCost
            else -1L
          if (c >= 0) {
            val nc = dpCost(i - l) + c
            val np = dpPieces(i - l) + 1
            // total order: (cost, nPieces) lexicographic; ties -> the
            // longer piece ending here (l ascends, so strict > keeps
            // the longest seen at equal (cost, pieces))
            if (nc < dpCost(i) ||
                (nc == dpCost(i) && (np < dpPieces(i) ||
                  (np == dpPieces(i) && l > back(i))))) {
              dpCost(i) = nc
              dpPieces(i) = np
              back(i) = l
            }
          }
        }
        l += 1
      }
      i += 1
    }
    val out = new Array[Any](dpPieces(n))
    var p = n
    var k = dpPieces(n) - 1
    while (p > 0) {
      val l = back(p)
      out(k) = UTF8String.fromString(s.substring(p - l, p))
      k -= 1
      p -= l
    }
    new GenericArrayData(out)
  }
}

/** Greedy longest-match-first segmentation of a word under a WordPiece
  * vocabulary (the BERT tokenizer's inference rule; Song et al.,
  * "Fast WordPiece Tokenization", EMNLP 2021 describe the same
  * left-to-right MaxMatch semantics this implements) — the third
  * real-world subword algorithm beside BPE (q78/q82, rank-ordered
  * merges) and unigram-LM (q212/q213, Viterbi): at each position take
  * the LONGEST vocabulary piece that matches, where every non-initial
  * piece carries the `##` continuation prefix; if NO piece matches at
  * some position the WHOLE word maps to `[UNK]` (WordPiece's
  * word-level unknown rule — unlike unigram's per-character fallback,
  * one bad character voids the word).
  *
  * Determinism contract: MaxMatch is a deterministic function of
  * (vocab, word) — no costs, no ties (longest is unique). Piece
  * boundaries are restricted to code-point boundaries exactly like
  * `UnigramSegment`, so no emitted piece ever splits a surrogate pair
  * (a mid-pair match is skipped; if only mid-pair matches exist the
  * word becomes `[UNK]`, never a torn code point).
  *
  * The vocabulary rides the plan as array literals decoded ONCE into a
  * reference-object hash map; the scan stays in whole-stage codegen
  * via the static helper, like every expression in this file. */
case class WordpieceSegment(child: Expression, pieces: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"wordpiece_segment requires STRING, got ${other.catalogString}")
    }

  @transient private lazy val vocab: java.util.HashSet[String] = {
    val m = new java.util.HashSet[String](pieces.length * 2)
    pieces.foreach(m.add)
    m
  }
  // longest MATCHED TEXT length: a continuation piece "##ab" matches
  // two chars of the word, not four
  @transient private lazy val maxLen: Int =
    if (pieces.isEmpty) 1
    else math.max(1, pieces.iterator.map(p =>
      if (p.startsWith("##")) p.length - 2 else p.length).max)

  override def nullSafeEval(input: Any): Any =
    WordpieceSegment.segment(vocab, input.asInstanceOf[UTF8String], maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordpieceVocab", vocab, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordpieceSegment.segment($ref, $c, $maxLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordpieceSegment =
    copy(child = newChild)

  override def prettyName: String = "wordpiece_segment"
}

object WordpieceSegment {
  val Unk = "[UNK]"

  /** Static greedy MaxMatch shared by interpreted eval and generated
    * code. Returns `[UNK]` as the single piece when any position has
    * no matching piece (the word-level unknown rule). */
  def segment(vocab: java.util.HashSet[String],
      word: UTF8String, maxLen: Int): ArrayData = {
    val s = word.toString
    val n = s.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    // a boundary splits no surrogate pair (same rule as UnigramSegment)
    def boundary(i: Int): Boolean =
      i == 0 || i == n ||
        !(Character.isLowSurrogate(s.charAt(i)) &&
          Character.isHighSurrogate(s.charAt(i - 1)))
    val out = new java.util.ArrayList[Any]()
    var pos = 0
    while (pos < n) {
      var l = math.min(maxLen, n - pos)
      var matched = -1
      while (l >= 1 && matched < 0) {
        if (boundary(pos + l)) {
          val raw = s.substring(pos, pos + l)
          val cand = if (pos == 0) raw else "##" + raw
          if (vocab.contains(cand)) matched = l
        }
        l -= 1
      }
      if (matched < 0)
        return new GenericArrayData(Array[Any](UTF8String.fromString(Unk)))
      val raw = s.substring(pos, pos + matched)
      out.add(UTF8String.fromString(if (pos == 0) raw else "##" + raw))
      pos += matched
    }
    new GenericArrayData(out.toArray)
  }
}

/** Jaro–Winkler similarity of two strings — the character-level fuzzy
  * match the record-linkage literature standardized (Jaro 1989;
  * Winkler 1990: prefix boost p = 0.1 over up to 4 common leading
  * characters, applied only when Jaro > 0.7). Semantics pinned against
  * DuckDB's `jaro_winkler_similarity` on crafted cases incl. the
  * boost-threshold discriminator (jaro ≤ 0.7 with a common prefix must
  * NOT be boosted) — see JaroWinklerSpec.
  *
  * The reference engine has no similarity primitive (user JS does all
  * per-record work); this joins q274's Levenshtein as the
  * entity-resolution pair. Implemented as a native Catalyst expression
  * with `doGenCode` so blocked similarity self-joins stay inside
  * whole-stage codegen; the match/transposition walk allocates two
  * boolean arrays of string length, no boxing.
  *
  * Exactness: m, t, l are integers; the final formula is a fixed
  * left-to-right double fold, so any two correct implementations agree
  * to ~1 ulp (far inside the gate's 1e-6 rtol), and threshold filters
  * must keep a margin above that (q280 uses ≥ 0.9 with measured
  * fixture minimum 0.905). */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"jaro_winkler requires STRING args, got ${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerExpr.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.JaroWinklerExpr.compute($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaroWinklerExpr = copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaro_winkler"
}

object JaroWinklerExpr {
  /** Shared by interpreted eval and codegen. Walks UTF-16 CHARS — the
    * semantically-correct unit for Winkler's definition. DuckDB's
    * `jaro_winkler_similarity` walks BYTES, so the two agree exactly
    * on ASCII (all gate fixtures) and DIVERGE on multi-byte input
    * (e.g. "café"/"cafe": char-walk 0.8833, byte-walk ≈0.8483 because
    * the é occupies two bytes). This is a deliberate choice of char
    * semantics over byte-parity — pinned visibly by the non-ASCII
    * case in Round9OpsSpec so the divergence is documented, not
    * silent (unlike [[LevenshteinWithin]], whose char fallback keeps
    * per-character distances and matches DuckDB's levenshtein, which
    * itself counts characters). */
  def compute(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val c = s1.charAt(i)
      var j = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s2.charAt(j) == c) { m1(i) = true; m2(j) = true; m += 1; found = true }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val md = m.toDouble
    val jaro = (md / l1 + md / l2 + (md - half) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(l1, l2))
    while (l < maxL && s1.charAt(l) == s2.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}

/** Banded Levenshtein with early abandon (Ukkonen 1985): the edit
  * distance if it is ≤ `maxDist`, else −1 — computed over only the
  * 2·d+1 diagonal band with every cell capped at d+1, bailing the
  * moment a full band row exceeds d. Per-pair cost is O(d·min-prefix)
  * on random non-matching strings (most pairs die within a few rows)
  * versus the full O(n²) DP — measured 14.4 s → well under that on
  * q274's ~8M blocked candidate pairs at sf0.1.
  *
  * Exactness: identical distances to the classic DP for every pair
  * within the threshold (the band provably contains every path of
  * cost ≤ d; Round9OpsSpec recomputes the full DP over all fixture
  * pairs, and a property test cross-checks random strings). */
case class LevenshteinWithin(left: Expression, right: Expression, maxDist: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if maxDist >= 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"levenshtein_within requires STRING args and maxDist >= 0")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    LevenshteinWithin.compute(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], maxDist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.LevenshteinWithin.compute($x, $y, $maxDist);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): LevenshteinWithin =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "levenshtein_within"
}

object LevenshteinWithin {

  // per-thread scratch rows: the DP would otherwise allocate two int
  // arrays per PAIR — at ~10⁷ candidate pairs that allocation traffic,
  // not the band walk, dominates (measured)
  private val scratch = new ThreadLocal[(Array[Int], Array[Int])] {
    override def initialValue(): (Array[Int], Array[Int]) =
      (new Array[Int](256), new Array[Int](256))
  }

  /** Shared by interpreted eval and codegen. Walks BYTES (identical to
    * chars on ASCII — the fast path); multi-byte inputs fall back to
    * the char walk for correct per-character distances. */
  def compute(a: UTF8String, b: UTF8String, d0: Int): Int = {
    if (a.numBytes != a.numChars || b.numBytes != b.numChars)
      return computeChars(a.toString, b.toString, d0)
    val s1 = a.getBytes
    val s2 = b.getBytes
    val l1 = s1.length
    val l2 = s2.length
    // clamp the threshold to the largest possible distance so a huge
    // maxDist (near Int.MaxValue) cannot overflow `inf = d + 1` into
    // Int.MinValue and corrupt the band DP — past max(l1,l2) a larger
    // band changes nothing, so this degrades to plain levenshtein
    val d = math.min(d0, math.max(l1, l2))
    if (math.abs(l1 - l2) > d) return -1
    if (l1 == 0) return l2 // <= d by the length guard
    if (l2 == 0) return l1
    val inf = d + 1 // cells cap here: values past the threshold are all alike
    var (prev, cur) = scratch.get()
    if (prev.length < l2 + 2) {
      prev = new Array[Int](l2 + 2)
      cur = new Array[Int](l2 + 2)
      scratch.set((prev, cur))
    }
    java.util.Arrays.fill(prev, 0, l2 + 1, inf)
    var j = 0
    while (j <= math.min(l2, d)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= l1) {
      val lo = math.max(1, i - d)
      val hi = math.min(l2, i + d)
      cur(lo - 1) = if (lo == 1) math.min(i, inf) else inf
      var rowMin = cur(lo - 1)
      val c1 = s1(i - 1)
      j = lo
      while (j <= hi) {
        val cost = if (c1 == s2(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > d) return -1 // every path already costs > d
      if (hi + 1 <= l2) cur(hi + 1) = inf // seal the band edge for the next row
      System.arraycopy(cur, lo - 1, prev, lo - 1, hi - lo + 2 + (if (hi < l2) 1 else 0))
      i += 1
    }
    if (prev(l2) <= d) prev(l2) else -1
  }

  /** Char-walk fallback for multi-byte (non-ASCII) inputs. */
  private def computeChars(s1: String, s2: String, d0: Int): Int = {
    val l1 = s1.length
    val l2 = s2.length
    val d = math.min(d0, math.max(l1, l2)) // same overflow clamp as the byte path
    if (math.abs(l1 - l2) > d) return -1
    if (l1 == 0) return l2
    if (l2 == 0) return l1
    val inf = d + 1
    val prev = new Array[Int](l2 + 2)
    val cur = new Array[Int](l2 + 2)
    java.util.Arrays.fill(prev, 0, l2 + 1, inf)
    var j = 0
    while (j <= math.min(l2, d)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= l1) {
      val lo = math.max(1, i - d)
      val hi = math.min(l2, i + d)
      cur(lo - 1) = if (lo == 1) math.min(i, inf) else inf
      var rowMin = cur(lo - 1)
      val c1 = s1.charAt(i - 1)
      j = lo
      while (j <= hi) {
        val cost = if (c1 == s2.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > d) return -1
      if (hi + 1 <= l2) cur(hi + 1) = inf
      System.arraycopy(cur, lo - 1, prev, lo - 1, hi - lo + 2 + (if (hi < l2) 1 else 0))
      i += 1
    }
    if (prev(l2) <= d) prev(l2) else -1
  }
}

/** Kendall discordant-pair count via weighted merge-sort inversion
  * counting (Knight, "A computer method for calculating Kendall's tau
  * with ungrouped data", JASA 61(314), 1966) — the O(G log G)
  * replacement for the quadratic pair join in q278: over rows sorted
  * by (x asc, y asc), the discordant pairs are exactly the strict
  * inversions of the y sequence. Input is the VALUE-DOMAIN grouped
  * form `array<struct<x: bigint, y: bigint, c: bigint>>` (c =
  * multiplicity), so the walk is over distinct (x, y) combinations and
  * a weighted merge counts c_i·c_j per inverted group pair in one
  * pass.
  *
  * Tied pairs contribute nothing by construction: x-ties sort adjacent
  * with y ascending (no strict inversion), and y-ties are not strict —
  * so the tie terms of tau-b come from separate linear rollups, not
  * from this walk. Exactness: pure BIGINT arithmetic; the result is
  * independent of input array order (the walk sorts first). Null array
  * elements are not expected (the input is an aggregate's
  * collect_list over non-null aggregates). */
case class PairInversions(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(fields), _) if fields.length == 3 &&
          fields.forall(_.dataType == LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pair_inversions requires ARRAY<STRUCT<BIGINT,BIGINT,BIGINT>>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    PairInversions.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.PairInversions.compute($x);")

  override protected def withNewChildInternal(newChild: Expression): PairInversions =
    copy(child = newChild)

  override def prettyName: String = "pair_inversions"
}

object PairInversions {
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n <= 1) return 0L
    val xs = new Array[Long](n)
    val ys = new Array[Long](n)
    val ws = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 3)
      xs(i) = r.getLong(0); ys(i) = r.getLong(1); ws(i) = r.getLong(2)
      i += 1
    }
    val order = new Array[Integer](n)
    i = 0
    while (i < n) { order(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
      val cx = java.lang.Long.compare(xs(a), xs(b))
      if (cx != 0) cx else java.lang.Long.compare(ys(a), ys(b))
    })
    val y = new Array[Long](n)
    val w = new Array[Long](n)
    i = 0
    while (i < n) { y(i) = ys(order(i)); w(i) = ws(order(i)); i += 1 }
    mergeCountInv(y, w, new Array[Long](n), new Array[Long](n), 0, n)
  }

  /** Weighted inversion count over y[lo, hi): pairs (i < j) with
    * y(i) > y(j), each contributing w(i)·w(j); sorts y/w in place. */
  private def mergeCountInv(y: Array[Long], w: Array[Long],
      ty: Array[Long], tw: Array[Long], lo: Int, hi: Int): Long = {
    if (hi - lo <= 1) return 0L
    val mid = (lo + hi) >>> 1
    var inv = mergeCountInv(y, w, ty, tw, lo, mid) +
      mergeCountInv(y, w, ty, tw, mid, hi)
    var leftW = 0L
    var i = lo
    while (i < mid) { leftW += w(i); i += 1 }
    i = lo
    var j = mid
    var k = lo
    while (i < mid && j < hi) {
      if (y(j) < y(i)) { // strict: equal y is a tie, not an inversion
        inv += w(j) * leftW
        ty(k) = y(j); tw(k) = w(j); j += 1
      } else {
        leftW -= w(i)
        ty(k) = y(i); tw(k) = w(i); i += 1
      }
      k += 1
    }
    while (i < mid) { ty(k) = y(i); tw(k) = w(i); i += 1; k += 1 }
    while (j < hi) { ty(k) = y(j); tw(k) = w(j); j += 1; k += 1 }
    System.arraycopy(ty, lo, y, lo, hi - lo)
    System.arraycopy(tw, lo, w, lo, hi - lo)
    inv
  }
}
