package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the vector/text hot paths. The built-in
 * higher-order-function formulation (`zip_with` + `aggregate`) materializes
 * an intermediate array per row and interprets a lambda per element; these
 * fuse the whole computation into one codegen'd loop over `ArrayData` —
 * the (b)-tier of the custom-operator preference order (SURVEY §7.3).
 */

/**
 * Cosine similarity of two float/double array columns, accumulated in
 * double precision left-to-right (bit-identical to the
 * `aggregate(zip_with(...))` formulation, so oracle parity is preserved).
 * Zero-norm input → 0.0 (even for length-mismatched inputs — the HOF's
 * zero-denom guard short-circuits first); otherwise length-mismatched
 * arrays and arrays with a NULL element yield NULL — exactly as the HOF
 * reference does (`zip_with` null-pads the shorter side and a null lane
 * nulls the whole fold), so a ragged-embedding bug upstream surfaces as
 * NULL, never as a plausible prefix similarity.
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // non-null inputs can still yield NULL (ragged / null-element arrays)
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType | FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case t => throw new IllegalArgumentException(
      s"cosine_similarity needs array<float|double>, got $t")
  }
  // plan-time constants — interpreted eval must not re-match per row
  private lazy val leftIsDouble = elemIsDouble(left)
  private lazy val rightIsDouble = elemIsDouble(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], leftIsDouble, rightIsDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // one static call per row into the same helper interpreted eval
      // uses (JIT inlines it); fresh name so the expression may occur
      // several times in one generated method
      val r = ctx.freshName("cosRes")
      s"""
         |java.lang.Double $r = graft.functions.expressions.CosineSimilarity
         |  .compute($x, $y, $leftIsDouble, $rightIsDouble);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Shared by interpreted eval and generated code. Mirrors the HOF
    * reference EXACTLY, including its edge-case precedence: the norms are
    * per-array (each over its own full length), a zero denom yields 0.0
    * even for length-mismatched inputs (the HOF's `when(denom === 0.0)`
    * short-circuits before the null-padded dot is touched), and otherwise
    * a null element or a length mismatch nulls the result (null norm /
    * null-padded `zip_with` lane nulls the fold). */
  def compute(x: ArrayData, y: ArrayData,
              xd: Boolean, yd: Boolean): java.lang.Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    var na = 0.0
    var i = 0
    while (i < nx) {
      if (x.isNullAt(i)) return null
      val v = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      na += v * v; i += 1
    }
    var nb = 0.0
    var j = 0
    while (j < ny) {
      if (y.isNullAt(j)) return null
      val v = if (yd) y.getDouble(j) else y.getFloat(j).toDouble
      nb += v * v; j += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) return java.lang.Double.valueOf(0.0)
    if (nx != ny) return null
    var dot = 0.0
    i = 0
    while (i < nx) {
      val xi = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi; i += 1
    }
    java.lang.Double.valueOf(dot / denom)
  }
}

/**
 * 64-bit polynomial rolling hash of a string's UTF-8 bytes:
 * `h = h * 1000003 + byte` with native long overflow wraparound — the
 * classic content-fingerprint primitive (cheap, order-sensitive, codegen'd
 * single pass; unlike md5 it costs no digest allocation).
 */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(v: Any): Any =
    // same helper the generated code calls — one copy of the loop, so the
    // interpreted and codegen paths can never drift apart
    RollingHash.hashBytes(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.RollingHash.hashBytes($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  /** Shared by interpreted eval and generated code. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = h * 1000003L + bytes(i); i += 1 }
    h
  }
}

/**
 * MinHash signature over an `array<long>` of shingle hashes: all `numHashes`
 * lane minima of `(a_i * (h mod p) + b_i) mod p` (p = 2^31-1, the standard
 * universal family) computed in ONE pass over the array. The equivalent
 * built-in formulation is `numHashes` separate `array_min(transform(...))`
 * branches — `numHashes`× the traversals and an interpreted lambda per
 * element, since higher-order-function lambdas are exempt from both
 * whole-stage codegen and subexpression elimination. Semantics are
 * bit-identical to that formulation (null elements skipped; an all-null or
 * empty array yields null lanes, matching `array_min`).
 */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(v: Any): Any =
    MinHashSignature.compute(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.MinHashSignature.compute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  /** 2^31-1 (Mersenne prime): a,x < p keeps a*x+b < 2^62 — no long overflow. */
  private final val P = 2147483647L

  /** Shared by interpreted eval and generated code. */
  def compute(hashes: ArrayData, numHashes: Int): ArrayData = {
    val n = hashes.numElements()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var sawValue = false
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        sawValue = true
        val h = hashes.getLong(i)
        val x = ((h % P) + P) % P // pmod: xxhash64 may be negative
        var j = 0
        while (j < numHashes) {
          val a = (1000003L * (j + 1) + 12345L) % P
          val b = (998244353L * (j + 7) + 42L) % P
          val v = (a * x + b) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!sawValue)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.fill[Any](numHashes)(null))
    else
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }
}

/**
 * 64-bit SimHash of an `array<long>` of token hashes: per-bit ±1 votes,
 * sign of the vote per bit, ONE pass over the array — vs 64 separate
 * `aggregate(...)` traversals in the built-in HOF formulation (same
 * interpreted-lambda caveat as [[MinHashSignature]]). Bit-identical to that
 * formulation: a null element votes −1 in every lane (the HOF's
 * `when(null_cond, 1).otherwise(-1)`), an empty array yields 0L.
 */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any =
    SimHash64.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** Shared by interpreted eval and generated code. */
  def compute(tokenHashes: ArrayData): Long = {
    val n = tokenHashes.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (tokenHashes.isNullAt(i)) {
        var j = 0
        while (j < 64) { votes(j) -= 1; j += 1 }
      } else {
        val h = tokenHashes.getLong(i)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }
}

/**
 * Hyperplane-LSH sign key of a float/double array: `nBits` sign bits of
 * pseudo-random ±1 projections packed into a long. The hyperplane component
 * for (bit i, dim j) is the parity of `xxhash64(seed*1000003 + i, j)` —
 * exactly the HOF formulation's hash (so buckets are reproducible across
 * both), computed via the same `XXH64` kernel Spark's `xxhash64` lowers to.
 * ONE fused pass over the array versus `nBits` separate
 * `aggregate(zip_with(...))` traversals with interpreted lambdas (HOF
 * lambdas are exempt from whole-stage codegen AND subexpression
 * elimination). Bit-identical to
 * [[graft.functions.VectorFunctions.hyperplaneLshKeyHof]] on every non-null
 * input: per-bit accumulation is left-to-right double; a null element nulls
 * every projection (key 0); an empty array yields key 0 (the HOF's
 * `sequence(0, -1)` null-pads every projection to null there too).
 * Intentional divergence: a NULL input array propagates NULL here
 * (nullIntolerant) where the HOF's `when(null >= 0).otherwise(0L)` chain
 * collapses to 0L — NULL is the more correct answer (an absent vector has
 * no bucket, and a NULL key never equi-joins, so it can't spuriously
 * collide with real bucket 0); callers wanting the HOF behavior coalesce.
 */
case class HyperplaneLshKey(child: Expression, nBits: Int, seed: Int)
    extends UnaryExpression {
  require(nBits >= 1 && nBits <= 63, "nBits must be in [1,63]")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_lsh_key"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<float|double> argument, got " +
            t.simpleString)
    }

  // lazy: at construction the child may still be an unresolved attribute
  private lazy val elemIsDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case t => throw new IllegalArgumentException(
      s"hyperplane_lsh_key needs array<float|double>, got $t")
  }

  override def nullSafeEval(v: Any): Any =
    HyperplaneLshKey.compute(v.asInstanceOf[ArrayData], nBits, seed, elemIsDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.HyperplaneLshKey.compute($c, $nBits, $seed, $elemIsDouble)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneLshKey {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** Shared by interpreted eval and generated code. */
  def compute(vec: ArrayData, nBits: Int, seed: Int, elemIsDouble: Boolean): Long = {
    val n = vec.numElements()
    // empty array: the HOF's sequence(0, size-1) degenerates to [0, -1] and
    // zip_with null-pads, nulling every projection → key 0; match it.
    if (n == 0) return 0L
    // any null element nulls every projection in the HOF → bits all 0
    var i = 0
    while (i < n) { if (vec.isNullAt(i)) return 0L; i += 1 }
    // base_i = xxhash64's fold of the long literal (seed*1000003 + i) into
    // Spark's default seed 42; per element j (an int in the HOF's
    // sequence()) the hash folds j into base_i.
    val base = new Array[Long](nBits)
    var b = 0
    while (b < nBits) {
      base(b) = XXH64.hashLong(seed.toLong * 1000003L + b, 42L)
      b += 1
    }
    val proj = new Array[Double](nBits)
    var j = 0
    while (j < n) {
      val x = if (elemIsDouble) vec.getDouble(j) else vec.getFloat(j).toDouble
      b = 0
      while (b < nBits) {
        // parity of the hash == pmod(h, 2): the low bit
        if ((XXH64.hashInt(j, base(b)) & 1L) == 0L) proj(b) += x else proj(b) -= x
        b += 1
      }
      j += 1
    }
    var key = 0L
    b = 0
    while (b < nBits) {
      // !(x < 0), not (x >= 0): Spark SQL's `>= 0` is TRUE for NaN (NaN
      // sorts greater than every double) while Java's >= is false — a
      // NaN projection must land in the same bucket under both paths
      if (!(proj(b) < 0)) key |= (1L << b)
      b += 1
    }
    key
  }
}

/**
 * Set-intersection cardinality of two SORTED-ascending `array<long>`
 * columns — a single merge scan, no hash table and no intersection/union
 * array materialized. Drop-in for `size(array_intersect(a, b))` on sorted
 * input (duplicate runs collapse to one, set semantics; a null element —
 * which `sort_array` places FIRST ascending — counts once iff present in
 * both), which lets exact-Jaccard verification compute
 * `inter / (len_a + len_b - inter)` and skip `array_union`'s per-pair
 * allocation entirely. PRECONDITION: both arrays sorted ascending with
 * nulls first (`sort_array` output, the [[graft.operators.Dedup]] shingle
 * sets); on unsorted input the result is undefined — this is a
 * private-surface verification kernel, not a general SQL function.
 */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_size"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint> arguments, got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.expressions.SortedIntersectSize.compute($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Shared by interpreted eval and generated code. */
  def compute(x: ArrayData, y: ArrayData): Int = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var count = 0
    // ascending sort places nulls first: count null∈both once, then the
    // remainder of each array is non-null and getLong is safe
    var xHadNull = false
    while (i < nx && x.isNullAt(i)) { i += 1; xHadNull = true }
    var yHadNull = false
    while (j < ny && y.isNullAt(j)) { j += 1; yHadNull = true }
    if (xHadNull && yHadNull) count += 1
    while (i < nx && j < ny) {
      val a = x.getLong(i)
      val b = y.getLong(j)
      if (a == b) {
        count += 1
        // collapse duplicate runs on both sides: set semantics, matching
        // array_intersect's distinct output
        i += 1; while (i < nx && x.getLong(i) == a) i += 1
        j += 1; while (j < ny && y.getLong(j) == b) j += 1
      } else if (a < b) i += 1
      else j += 1
    }
    count
  }
}

/** Column-level entry points + SQL registration. */
/**
 * Membership probe of a long column against a pre-built Bloom filter
 * (`org.apache.spark.util.sketch.BloomFilter`, Spark's own treeAggregate-
 * built sketch) — the codegen'd pre-filter of the incremental-dedup path
 * ([[graft.operators.Dedup.dedupAgainst]]): rows the filter rejects are
 * DEFINITELY unseen and bypass the anti-join shuffle entirely; only the
 * maybe-seen sliver (true duplicates + fpp false positives) shuffles.
 * The filter object rides the expression into the task binary (broadcast
 * once per stage); no per-row driver involvement. False positives are
 * corrected downstream by the exact anti-join, so fpp trades shuffle
 * volume, never correctness.
 */
case class BloomMightContainLong(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_might_contain_long"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a bigint argument, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the filter is a plan-time object, not a child expression: stash it in
    // the codegen references array (one slot per stage, not per row)
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * The COMPLETE Gopher/MassiveText appendix-A1 repetition family (Rae et
 * al. 2021 — public) as ONE compiled pass per document. Returns the same
 * 15-field struct `TextFunctions.repetitionStats` has always published
 * (n_lines/paras + 13 rounded fractions, field-for-field).
 *
 * Why native (the (b)-tier of SURVEY §7.3's preference order): the r15
 * column formulation ran NINE `array_sort` + `aggregate` fold chains per
 * row through interpreted HOF evaluation — correct, shuffle-free, but
 * priced at 13.2 s for the sf0.1 map stage once the full 13-rule family
 * landed (bench r16 first cut), and that cost rode along into every
 * flagship that gates on `gopherRepetitionKeep` (q96/q143/q156/q161).
 * This pass tokenizes once and counts in hash maps.
 *
 * Counting identities (why hash maps compute the SAME numbers the sorted
 * folds did): after-first duplicate chars of a multiset = Σ (count−1)·len
 * over distinct values; all-occurrence duplicate chars = Σ count·len over
 * values with count ≥ 2; top-run chars of the sorted array = maxCount ·
 * (longest len among maxCount values — the sort put ties adjacent, so
 * "ties toward the longer element" is exactly a max over the tied
 * values). The q162 DuckDB oracle recomputes the family by a THIRD
 * algorithm (explode + group-by) and pins all three formulations to the
 * same rounded values; TextFunctionsSpec keeps the unit fixtures.
 *
 * Engine-parity notes carried over from the column version: NULL is
 * handled by the caller's `coalesce` (this expression is null-intolerant
 * like every sibling); `lines` are the non-empty fragments of a
 * limit=-1 split on `\n` (whitespace-only lines count); `paras` split on
 * `\n{2,}` and keep fragments whose SPACE-trim (0x20 only — Spark's
 * `trim`, not Java's) is non-empty; tokens are
 * `toLowerCase.trim.split("\\s+")` on the UTF8String's own lowercase
 * (bit-identical to the `lower`/`trim` expressions), preserving the
 * empty edge token of tab/newline-edged text that the shared DuckDB
 * fragment also produces; char counts are code points (Spark `length`);
 * fractions round HALF_UP to 4 places (Spark `round`).
 */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionStatsExpr.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(v: Any): Any =
    RepetitionStatsExpr.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.RepetitionStatsExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionStatsExpr {

  /** The CANONICAL A1 gram-size family — `TextFunctions.topGramKs`/
    * `dupGramKs` alias these, and the schema, the compute loops, the
    * oracle-SQL generator, `repetitionFields`, and the threshold table
    * are ALL derived from them, so extending the family changes every
    * face together or not at all. */
  val topGramKs: Seq[Int] = Seq(2, 3, 4)
  val dupGramKs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)

  /** Field order is the published API —
    * `catalog.TextQuality.repetitionFields`, the q162 oracle, and
    * `gopherRepetitionThresholds` all key on it. */
  val schema: StructType = StructType(
    Seq(StructField("n_lines", IntegerType, nullable = false),
      StructField("dup_line_frac", DoubleType, nullable = false),
      StructField("dup_line_char_frac", DoubleType, nullable = false),
      StructField("n_paras", IntegerType, nullable = false),
      StructField("dup_para_frac", DoubleType, nullable = false),
      StructField("dup_para_char_frac", DoubleType, nullable = false)) ++
      topGramKs.map(k =>
        StructField(s"top_${k}gram_char_frac", DoubleType, nullable = false)) ++
      dupGramKs.map(k =>
        StructField(s"dup_${k}gram_char_frac", DoubleType, nullable = false)))

  private val ParaRe = java.util.regex.Pattern.compile("\n{2,}")
  private val LineRe = java.util.regex.Pattern.compile("\n")
  private val WsRe = java.util.regex.Pattern.compile("\\s+")

  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def codePoints(t: String): Long =
    t.codePointCount(0, t.length).toLong

  /** Spark `trim` strips 0x20 ONLY (Java's trim also strips tabs —
    * a paragraph of tabs must survive the filter here exactly as it
    * does in the column/oracle formulations). */
  private def spaceTrimmedNonEmpty(p: String): Boolean = {
    var a = 0
    var b = p.length
    while (a < b && p.charAt(a) == ' ') a += 1
    while (b > a && p.charAt(b - 1) == ' ') b -= 1
    b > a
  }

  /** (dup_frac, dup_char_frac) of a fragment multiset: count per value,
    * then the two identities (n − distinct)/n and Σ(count−1)·len/chars. */
  private def dupStats(arr: Array[String], chars: Double): (Double, Double) = {
    if (arr.isEmpty) return (0.0, 0.0)
    val counts = new java.util.HashMap[String, Array[Long]](arr.length * 2)
    var i = 0
    while (i < arr.length) {
      val c = counts.computeIfAbsent(arr(i), _ => new Array[Long](1))
      c(0) += 1L
      i += 1
    }
    val n = arr.length.toDouble
    var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c >= 2L) dupChars += (c - 1L) * codePoints(e.getKey)
    }
    (round4((n - counts.size) / n),
      round4(if (chars > 0) dupChars / chars else 0.0))
  }

  /** Per-gram (count, codePointLen) for the word k-grams of `toks` —
    * empty map when the document has fewer than k words (no degenerate
    * whole-text gram; the column formulation's `wordGrams` contract). */
  private def gramCounts(toks: Array[String], k: Int)
      : java.util.HashMap[String, Array[Long]] = {
    val m = new java.util.HashMap[String, Array[Long]]()
    if (toks.length < k) return m
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val g = sb.toString
      val e = m.computeIfAbsent(g, _ => Array(0L, codePoints(g)))
      e(0) += 1L
      i += 1
    }
    m
  }

  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    val chars = codePoints(s).toDouble
    val lines = LineRe.split(s, -1).filter(_.nonEmpty)
    val paras = ParaRe.split(s, -1).filter(spaceTrimmedNonEmpty)
    val (dlf, dlcf) = dupStats(lines, chars)
    val (dpf, dpcf) = dupStats(paras, chars)
    val lowered = text.toLowerCase.trim()
    val toks: Array[String] =
      if (lowered.numChars() == 0) Array.empty[String]
      else WsRe.split(lowered.toString, -1)
    val out = new Array[Any](schema.length)
    out(0) = lines.length
    out(1) = dlf
    out(2) = dlcf
    out(3) = paras.length
    out(4) = dpf
    out(5) = dpcf
    var slot = 6
    topGramKs.foreach { k => // top-k-gram char fractions
      val m = gramCounts(toks, k)
      var mc = 0L
      var ml = 0L
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        val len = e.getValue()(1)
        if (c > mc || (c == mc && len > ml)) { mc = c; ml = len }
      }
      out(slot) = round4(if (chars > 0 && mc > 0) mc * ml / chars else 0.0)
      slot += 1
    }
    dupGramKs.foreach { k => // dup-k-gram char fractions, clamped to 1
      val m = gramCounts(toks, k)
      var dupChars = 0L
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        if (c >= 2L) dupChars += c * e.getValue()(1)
      }
      out(slot) = math.min(1.0,
        round4(if (chars > 0) dupChars / chars else 0.0))
      slot += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
}

/**
 * CCNet-style text normalization (Wenzek et al. 2020, "CCNet: Extracting
 * High Quality Monolingual Datasets from Web Crawl Data" — public): the
 * canonical dedup-preprocessing transform. Lowercase → unicode NFKD
 * decomposition with combining marks stripped (café → cafe; compatibility
 * forms fold too: ﬁ → fi) → whitespace runs collapsed to one space →
 * trimmed. One codegen'd call per row; the regex Patterns are compiled
 * once per JVM, not per row. Deliberately does NOT drop punctuation or
 * digits — that is a corpus-policy choice layered on top with built-in
 * `regexp_replace`, while this expression is the locale-independent
 * unicode part Spark has no built-in for.
 */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "normalize_text"

  override def nullSafeEval(v: Any): Any =
    NormalizeText.normalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.NormalizeText.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeText {
  // compiled once; java.util.regex.Pattern is thread-safe (Matcher is not,
  // but matcher() allocates per call)
  private val Marks = java.util.regex.Pattern.compile("\\p{M}+")
  private val Spaces = java.util.regex.Pattern.compile("\\s+")

  /** Shared by interpreted eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val lowered = s.toString.toLowerCase(java.util.Locale.ROOT)
    val decomposed = java.text.Normalizer
      .normalize(lowered, java.text.Normalizer.Form.NFKD)
    val stripped = Marks.matcher(decomposed).replaceAll("")
    UTF8String.fromString(
      Spaces.matcher(stripped).replaceAll(" ").strip())
  }
}

/**
 * fastText-style linear text score (Joulin et al. 2016, "Bag of Tricks for
 * Efficient Text Classification" — public): the mean weight of a
 * document's unigram + adjacent-bigram features under a deterministic
 * hashed weight table, the shape of every fast quality/domain classifier a
 * curation pipeline runs at scale (DCLM, fastText langid). The "table" is
 * closed-form — `w(feature) = (Σ_i codepoint(c_i)·i mod 997)/997 − 0.5`
 * over the feature string's 1-based code points — so both engines can
 * recompute it exactly (no model artifact to ship), while keeping the real
 * classifier's dataflow: feature extraction and weight lookup fused in ONE
 * codegen'd pass over the token array, no per-feature array materialized,
 * no interpreted HOF lambda. Swapping the closed form for learned weights
 * is a one-method change (`weight`), the plan shape is identical.
 *
 * Returns the mean feature weight in [−0.5, 0.5]; empty array → null
 * (no features ⇒ no evidence — callers layer the sigmoid/threshold with
 * built-ins). A null token element is skipped as a unigram and voids the
 * bigrams it touches — the NUMERATOR matches the SQL formulation where
 * `a || '_' || b` is NULL if either side is, but the mean's DENOMINATOR
 * intentionally counts only the usable features (a `len(feats)`-style
 * denominator would dilute the score by treating null-voided features as
 * zero-weight evidence). [[graft.functions.TextFunctions.tokens]] never
 * emits null elements, so the two formulations agree on every
 * engine-produced token array; only a user-supplied array containing
 * nulls can observe the difference.
 */
case class HashedNgramScore(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // a non-null array with zero usable features still yields NULL
  override def nullable: Boolean = true
  override def prettyName: String = "hashed_ngram_score"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    HashedNgramScore.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("ngramScore")
      s"""
         |java.lang.Double $r =
         |  graft.functions.expressions.HashedNgramScore.compute($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedNgramScore {
  private final val Mod = 997L

  /** Positional code-point sum weight — the closed-form "learned" weight. */
  def weight(s: String): Double = {
    var sum = 0L
    var i = 0 // char offset
    var pos = 1L // 1-based CODE POINT position (matches SQL's t[i])
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sum += cp.toLong * pos
      pos += 1
      i += Character.charCount(cp)
    }
    (sum % Mod).toDouble / Mod - 0.5
  }

  /** Shared by interpreted eval and generated code. Boxed so the codegen
    * null-out contract works for the no-features case. Accumulation order
    * is ALL unigrams left-to-right, then all bigrams — the same element
    * order as the SQL `list_concat(w, bigrams)` formulation, so the
    * floating-point sum is bit-identical to the oracle's. */
  def compute(tokens: ArrayData): java.lang.Double = {
    val n = tokens.numElements()
    var sum = 0.0
    var count = 0L
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        sum += weight(tokens.getUTF8String(i).toString); count += 1
      }
      i += 1
    }
    i = 1
    while (i < n) {
      if (!tokens.isNullAt(i - 1) && !tokens.isNullAt(i)) {
        sum += weight(tokens.getUTF8String(i - 1).toString + "_" +
          tokens.getUTF8String(i).toString)
        count += 1
      }
      i += 1
    }
    if (count == 0) null else java.lang.Double.valueOf(sum / count)
  }
}

/**
 * Hashed n-gram feature buckets: unigrams then bigrams of the token array,
 * each mapped to `sum(codePoint * 1-based-position) % nBuckets` — the same
 * engine-portable polynomial hash as [[HashedNgramScore]] (both engines can
 * recompute it exactly; DuckDB spells it `list_sum(list_transform(range(1,
 * len(t)+1), i -> ascii(t[i]) * i)) % B`). This is the COUNT-pass form of
 * the hashed feature space: the bucket array feeds `explode` → groupBy for
 * corpus-wide bucket histograms (DSIR's raw/target feature distributions,
 * Xie et al. 2023, arXiv:2302.03169). The SCORE pass uses the fused
 * [[NgramBucketWeightSum]] instead — no per-feature array per document.
 *
 * Element order is all unigrams left-to-right then all bigrams (the
 * `list_concat(w, bigrams)` order), with null token elements skipped as
 * unigrams and voiding the bigrams they touch — [[HashedNgramScore]]'s
 * exact feature contract, so the two expressions see the same feature
 * multiset. Empty/blank input → empty array (a histogram contribution of
 * nothing), never null.
 */
case class NgramBuckets(child: Expression, nBuckets: Int)
    extends UnaryExpression {
  require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngram_buckets"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    NgramBuckets.compute(v.asInstanceOf[ArrayData], nBuckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.expressions.NgramBuckets
         |  .compute($c, $nBuckets);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramBuckets {

  /** The engine-portable polynomial bucket hash: 1-based code-point
    * positions, `sum % nBuckets`. Non-negative (every term is). */
  def bucket(s: String, nBuckets: Int): Int = {
    var sum = 0L
    var i = 0
    var pos = 1L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sum += cp.toLong * pos
      pos += 1
      i += Character.charCount(cp)
    }
    (sum % nBuckets).toInt
  }

  /** Shared by interpreted eval and generated code. */
  def compute(tokens: ArrayData, nBuckets: Int): ArrayData = {
    val n = tokens.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Int](
      math.max(0, 2 * n - 1))
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i))
        out += bucket(tokens.getUTF8String(i).toString, nBuckets)
      i += 1
    }
    i = 1
    while (i < n) {
      if (!tokens.isNullAt(i - 1) && !tokens.isNullAt(i))
        out += bucket(tokens.getUTF8String(i - 1).toString + "_" +
          tokens.getUTF8String(i).toString, nBuckets)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.toArray)
  }
}

/**
 * Fused hashed-feature weight lookup-and-sum: for each unigram then bigram
 * of `tokens`, `sum += weights[NgramBuckets.bucket(feature, weights.length)]`
 * — the SCORE pass of a hashed feature model in ONE codegen'd traversal of
 * the token array (no per-feature array, no interpreted HOF lambda; the
 * bucket count is the weight array's length, so the two passes cannot
 * disagree on the feature space). With `weights` = the per-bucket
 * log(p_target/p_raw) table this is the DSIR importance weight
 * (Xie et al. 2023); with learned weights it is a hashed linear model's
 * logit. Summation order is unigrams left-to-right then bigrams — the
 * `list_sum(list_transform(feats, ...))` order, so the float sum is
 * bit-identical to the SQL formulation.
 *
 * Null contract: null inputs → null; zero usable features → null (no
 * features ⇒ no evidence, [[HashedNgramScore]]'s contract); a null WEIGHT
 * element is a broken weight table → fails loudly at eval rather than
 * skewing scores silently.
 */
case class NgramBucketWeightSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "ngram_bucket_weight_sum"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<string>, array<double>), " +
            s"got (${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(toks: Any, weights: Any): Any =
    NgramBucketWeightSum.compute(
      toks.asInstanceOf[ArrayData], weights.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w) => {
      val r = ctx.freshName("bucketSum")
      s"""
         |java.lang.Double $r =
         |  graft.functions.expressions.NgramBucketWeightSum.compute($t, $w);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NgramBucketWeightSum {

  /** Shared by interpreted eval and generated code. Boxed so the codegen
    * null-out contract works for the no-features case. */
  def compute(tokens: ArrayData, weights: ArrayData): java.lang.Double = {
    val b = weights.numElements()
    require(b > 0, "ngram_bucket_weight_sum: empty weight table")
    def w(feature: String): Double = {
      val idx = NgramBuckets.bucket(feature, b)
      require(!weights.isNullAt(idx),
        s"ngram_bucket_weight_sum: null weight at bucket $idx")
      weights.getDouble(idx)
    }
    val n = tokens.numElements()
    var sum = 0.0
    var count = 0L
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        sum += w(tokens.getUTF8String(i).toString); count += 1
      }
      i += 1
    }
    i = 1
    while (i < n) {
      if (!tokens.isNullAt(i - 1) && !tokens.isNullAt(i)) {
        sum += w(tokens.getUTF8String(i - 1).toString + "_" +
          tokens.getUTF8String(i).toString)
        count += 1
      }
      i += 1
    }
    if (count == 0) null else java.lang.Double.valueOf(sum)
  }
}

/**
 * Plan-time centroid artifact for [[NearestCells]]: ids + double vectors
 * with norms precomputed once at construction (k·dim work done at PLAN
 * time, not per row). Centroid tables are policy-sized (k ≤ a few
 * thousand), the same catalog-scale class as [[BloomMightContainLong]]'s
 * filter and `dsirScore`'s log-ratio table — collecting one to the driver
 * is bounded by design.
 */
final class CentroidSet(val ids: Array[Long],
                        val vecs: Array[Array[Double]]) extends Serializable {
  require(ids.length == vecs.length, "ids/vecs length mismatch")
  require(ids.nonEmpty, "CentroidSet needs at least one centroid")
  private val norms: Array[Double] = vecs.map { v =>
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** Candidate (c1,i1) preferred over (c2,i2) by exactly the
    * `max_by(struct(cos, -cid))` order: higher cosine, ties to the
    * SMALLER centroid id. */
  @inline private def pref(c1: Double, i1: Long, c2: Double, i2: Long) =
    c1 > c2 || (c1 == c2 && i1 < i2)

  /** Top-`probes` cell ids, ascending by (cos, -cid) — the hard cell is
    * LAST (the [[NearestCells]] output contract). Cosine mirrors
    * [[CosineSimilarity.compute]] bit-for-bit, including its edge
    * precedence: zero denom → 0.0 BEFORE the length check; a null
    * element or a (nonzero-norm) dimension mismatch nulls the result. */
  def nearest(x: org.apache.spark.sql.catalyst.util.ArrayData,
              xd: Boolean, probes: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = x.numElements()
    val xs = new Array[Double](n)
    var nx = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      xs(i) = v; nx += v * v; i += 1
    }
    val xnorm = math.sqrt(nx)
    val p = math.min(probes, ids.length)
    // selection buffers kept ascending by (cos, -cid): slot 0 = weakest
    val bc = new Array[Double](p)
    val bi = new Array[Long](p)
    var filled = 0
    var c = 0
    while (c < ids.length) {
      val cv = vecs(c)
      val denom = xnorm * norms(c)
      var cos = 0.0
      if (denom != 0.0) {
        if (cv.length != n) return null
        var dot = 0.0; var j = 0
        while (j < n) { dot += xs(j) * cv(j); j += 1 }
        cos = dot / denom
      }
      if (filled < p) {
        bc(filled) = cos; bi(filled) = ids(c); filled += 1
        var m = filled - 1
        while (m > 0 && pref(bc(m - 1), bi(m - 1), bc(m), bi(m))) {
          val tc = bc(m); bc(m) = bc(m - 1); bc(m - 1) = tc
          val ti = bi(m); bi(m) = bi(m - 1); bi(m - 1) = ti
          m -= 1
        }
      } else if (pref(cos, ids(c), bc(0), bi(0))) {
        bc(0) = cos; bi(0) = ids(c)
        var m = 0
        while (m < p - 1 && pref(bc(m), bi(m), bc(m + 1), bi(m + 1))) {
          val tc = bc(m); bc(m) = bc(m + 1); bc(m + 1) = tc
          val ti = bi(m); bi(m) = bi(m + 1); bi(m + 1) = ti
          m += 1
        }
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(bi, filled))
  }
}

/**
 * Nearest-centroid cells as ONE compiled loop per row — the IVF
 * assignment primitive behind `Similarity.ivfAssign`/`ivfAssignMulti`
 * and the streaming `probeCellsExpr`. Returns the `probes` nearest cell
 * ids ascending by (cosine, -centroid_id) with the hard cell LAST.
 *
 * Why native (the q162 tier argument, but for SHAPE rather than speed):
 * the r16 formulation joined the corpus against the broadcast centroid
 * table and arg-maxed with `max_by(struct(vec, cid), struct(cos, -cid))`
 * — but a struct-with-array aggregation buffer is not hash-aggregable,
 * so Catalyst planned a SortAggregate that SORTED the corpus×k joined
 * stream per task. Invisible at fixture scale; at 500k vectors × 1953
 * cells (the SURVEY §6 decade) the ~1B-row sort spilled the disk
 * to ENOSPC. Centroids are a plan-time artifact, so assignment is a
 * per-row expression, not a join: zero shuffle, zero sort, the corpus
 * never moves. Cosine accumulation mirrors [[CosineSimilarity.compute]]
 * exactly, so assignments are bit-identical to the old path (ties inc.).
 */
case class NearestCells(child: Expression, cents: CentroidSet, probes: Int)
    extends UnaryExpression {
  require(probes >= 1, s"probes must be at least 1, got $probes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // a non-null vector can still null out (null element / ragged dim)
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cells"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double>, got ${other.simpleString}")
    }

  private lazy val childIsDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    cents.nearest(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      childIsDouble, probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // centroids are a plan-time object (the BloomMightContainLong
    // pattern): one references-array slot per stage, not per row
    val ref = ctx.addReferenceObj("graftCentroids", cents,
      classOf[CentroidSet].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("nearestCells")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  $ref.nearest($c, $childIsDouble, $probes);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * [[NearestCells]] against one of SEVERAL plan-time centroid sets,
 * selected per row by an index column — the product-quantization shape,
 * where each of the m subspaces owns its own ksub-codeword codebook and
 * the exploded (id, sub, subvec) frame assigns every subvector against
 * ITS subspace's codewords. Same contract as [[NearestCells]] (cells
 * ascending by (cos, -cid), hard LAST); an index outside [0, sets)
 * throws — `sub` is generator-produced, an out-of-range value is a bug,
 * not data. Replaces the broadcast-join + max_by argmax, which planned
 * as a SortAggregate over the corpus×codebook joined stream (the
 * [[NearestCells]] scale note — struct buffers are not hash-aggregable).
 */
case class NearestCellsIndexed(left: Expression, right: Expression,
    sets: Array[CentroidSet], probes: Int) extends BinaryExpression {
  require(probes >= 1, s"probes must be at least 1, got $probes")
  require(sets.nonEmpty, "NearestCellsIndexed needs at least one set")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cells_indexed"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType | FloatType, _), IntegerType | LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float|double>, int), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  private lazy val vecIsDouble = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  private lazy val idxIsLong = right.dataType == LongType

  override def nullSafeEval(v: Any, i: Any): Any =
    sets((if (idxIsLong) i.asInstanceOf[Long] else
      i.asInstanceOf[Int].toLong).toInt)
      .nearest(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        vecIsDouble, probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCentroidSetArr", sets,
      classOf[CentroidSet].getName + "[]")
    nullSafeCodeGen(ctx, ev, (v, i) => {
      val r = ctx.freshName("nearestIdx")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  $ref[(int) $i].nearest($v, $vecIsDouble, $probes);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Deflate compression ratio of the UTF-8 text: compressed bytes / raw
 * bytes at zlib level 6, raw-deflate framing (no zlib header — the 2+4
 * framing bytes would floor the ratio of tiny docs). The "compression
 * ratio" quality signal of RedPajama-v2 (Together 2023) and the Dolma
 * toolkit (Soldaini et al. 2024, arXiv:2402.00159): machine-generated /
 * boilerplate-repetitive text compresses far below natural prose, and
 * encoded-binary-as-text barely compresses at all, so BOTH tails are
 * drop candidates that length/stopword rules miss. One codegen'd pass;
 * empty text yields null (a 0-byte doc has no ratio — unscorable, the
 * [[HashedNgramScore]] no-evidence convention).
 *
 * Engine-LOCAL by design: no SQL engine exposes deterministic zlib, so
 * the q175 gate uses planted fixtures (repeated-block, hex-noise) judged
 * in-plan rather than a recomputed DuckDB oracle. The JDK's bundled zlib
 * is deterministic for a fixed level and input, which is what
 * reproducibility across executors requires; the ratio is a THRESHOLD
 * signal, so even cross-zlib-version drift (different byte counts for
 * the same input) moves it by well under any sane cut.
 */
case class DeflateRatio(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // non-null EMPTY text still yields null (no bytes to judge)
  override def nullable: Boolean = true
  override def prettyName: String = "deflate_ratio"

  override def nullSafeEval(v: Any): Any =
    DeflateRatio.ratio(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("deflateRatio")
      s"""
         |java.lang.Double $r =
         |  graft.functions.expressions.DeflateRatio.ratio($c.getBytes());
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateRatio {
  /** Shared by interpreted eval and generated code. Boxed: null ⇔ empty
    * input. A fresh Deflater per call — the JDK object is stateful and
    * NOT thread-safe, and codegen evaluates on task threads. */
  def ratio(bytes: Array[Byte]): java.lang.Double = {
    if (bytes.length == 0) return null
    val d = new java.util.zip.Deflater(6, /* nowrap = */ true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      java.lang.Double.valueOf(total.toDouble / bytes.length)
    } finally d.end()
  }
}

/**
 * One-pass content-defined chunking (the production face of
 * [[graft.operators.Dedup.cdcChunks]]'s md5-window rule — same LBFS cut
 * idea, an actual ROLLING hash): boundaries fall after code-point
 * position i (i ∈ [window, n−1]) where the murmur-finalized polynomial
 * hash of the trailing `window` code points has its low `maskBits` bits
 * zero. O(1) per position — no substring, no hex, no per-position
 * allocation — where the md5-window form pays ~40 µs/position in
 * expression overhead (measured, SURVEY §6). The CUT RULE
 * differs from the md5 form by design (a different hash family), so this
 * face is gated on the CDC invariants (resync after insertion, length
 * reconstruction, determinism — DedupSpec) rather than the DuckDB
 * oracle, exactly like [[DeflateRatio]]'s engine-local contract; the
 * md5 face remains the oracle-replayable tier (q185). Emits the same
 * array<struct<chunk_idx, chunk_fp, chunk_len>> shape — chunk_fp is the
 * md5 hex of the chunk text (per CHUNK, not per position — amortized),
 * chunk_len in code points.
 */
case class CdcChunksExpr(child: Expression, window: Int, maskBits: Int)
    extends UnaryExpression {
  require(window >= 4 && window <= 64, s"window in [4,64], got $window")
  require(maskBits >= 1 && maskBits <= 16, s"maskBits in [1,16], got $maskBits")

  override def dataType: DataType = CdcChunksExpr.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(v: Any): Any =
    CdcChunksExpr.compute(v.asInstanceOf[UTF8String], window, maskBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.CdcChunksExpr.compute($c, $window, $maskBits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcChunksExpr {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("chunk_idx", LongType, nullable = false),
    StructField("chunk_fp", StringType, nullable = false),
    StructField("chunk_len", LongType, nullable = false),
    StructField("chunk_off", LongType, nullable = false))),
    containsNull = false)

  /** FNV-1a 64-bit prime as the polynomial base (odd, well-mixed). */
  private final val B = 0x100000001b3L

  /** murmur3 fmix64 — the low bits of a raw polynomial hash are too
    * regular to gate a mask test; the finalizer spreads them. */
  private def mix(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33; h
  }

  /** Shared by interpreted eval and generated code. */
  def compute(u: UTF8String, window: Int, maskBits: Int): ArrayData = {
    val cps = u.toString.codePoints().toArray
    val n = cps.length
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val mask = (1L << maskBits) - 1L
    // B^window for the rolling eviction
    var bw = 1L
    var j = 0
    while (j < window) { bw *= B; j += 1 }
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (n > window) {
      var h = 0L
      var p = 0
      while (p < window) { h = h * B + cps(p); p += 1 }
      // h covers cps[p-window..p-1]; test the cut AFTER position p
      // (never at n — an end cut would mint an empty final chunk)
      while (p < n) {
        if ((mix(h) & mask) == 0L) cuts += p
        h = h * B + cps(p) - cps(p - window) * bw
        p += 1
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val bounds = (0 +: cuts :+ n).toArray
    val rows = new Array[Any](bounds.length - 1)
    var k = 0
    while (k < rows.length) {
      val lo = bounds(k)
      val hi = bounds(k + 1)
      md.reset()
      val fp = md.digest(new String(cps, lo, hi - lo).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      rows(k) = InternalRow(k.toLong, UTF8String.fromString(fp),
        (hi - lo).toLong, lo.toLong)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

/**
 * Frozen BPE merge table compiled for the encode hot path
 * ([[graft.operators.Tokenize.bpeEncode]]): `lhs(i)`/`rhs(i)` in merge
 * order. Encoding applies each merge SEQUENTIALLY, exactly like the
 * trainer's per-iteration replace pass (left-to-right, non-overlapping
 * within a pass), so `encode(word)` ≡ the chained-literal
 * [[graft.operators.Tokenize.bpeSegment]] at ANY table size — but as
 * one loop over the symbol array instead of a `merges`-deep expression
 * tree (a production 32k-merge table as chained literal replaces would
 * blow the codegen method-size limit and re-materialize the string per
 * layer). Sequential application — NOT the rank-priority loop some
 * encoders use — is deliberate: the two differ on degenerate tables
 * where a later merge re-creates an earlier merge's pair string, and
 * sequential is what the trainer's own corpus segmentation did, which
 * is the parity this engine pins (TokenizeSpec).
 *
 * Per-merge fast path: a merge can only apply when BOTH its sides are
 * in the word's current symbol set, so the common case is two hash
 * probes and the O(len) adjacency scan runs only on candidates. A 32k
 * table over a ~10-symbol word is ~64k probes ≈ milliseconds; the
 * intended shape segments each DISTINCT word once and joins back (the
 * bpeFit pattern), so encode cost is VOCAB-bounded, not corpus-bounded
 * — at 100 TB, segment once and store symbols next to the text.
 */
final class BpeMergeTable(val lhs: Array[String], val rhs: Array[String])
    extends Serializable {
  require(lhs.length == rhs.length,
    s"lhs/rhs length mismatch: ${lhs.length} vs ${rhs.length}")

  def size: Int = lhs.length

  /** Encode one word: seed one symbol per code point (the trainer's
    * `substr(i, 1)` seed), then apply every merge in table order. */
  def encode(word: UTF8String): ArrayData = {
    val s = word.toString
    var syms = new java.util.ArrayList[String]()
    var i = 0
    while (i < s.length) {
      val n = Character.charCount(s.codePointAt(i))
      syms.add(s.substring(i, i + n))
      i += n
    }
    val present = new java.util.HashSet[String](syms)
    var m = 0
    while (m < lhs.length && syms.size > 1) {
      val l = lhs(m)
      val r = rhs(m)
      if (present.contains(l) && present.contains(r)) {
        var changed = false
        val out = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j + 1 < syms.size && syms.get(j) == l &&
              syms.get(j + 1) == r) {
            out.add(l + r); j += 2; changed = true
          } else { out.add(syms.get(j)); j += 1 }
        }
        if (changed) {
          syms = out
          present.clear()
          present.addAll(syms)
        }
      }
      m += 1
    }
    val arr = new Array[AnyRef](syms.size)
    var k = 0
    while (k < syms.size) {
      arr(k) = UTF8String.fromString(syms.get(k)); k += 1
    }
    ArrayData.toArrayData(arr)
  }
}

/**
 * Frozen unigram-LM piece table (Kudo 2018, arXiv:1804.10959 — the
 * SentencePiece unigram model) compiled for the encode hot path:
 * `pieces(i)`/`logp(i)` sorted so a per-word Viterbi can look pieces up
 * in a hash map. Encoding is the paper's inference rule — the
 * segmentation maximizing the sum of piece log-probabilities — via
 * one left-to-right DP over the word's code points, pieces bounded by
 * `maxLen`. Deterministic tie-break: equal scores prefer the LONGER
 * final piece (documented on [[graft.operators.Tokenize.unigramFit]];
 * ties are measure-zero for learned float probs but the rule makes
 * malformed hand-built tables deterministic too). A word containing a
 * code point absent from the table falls back to emitting that code
 * point as an unknown single — coverage never fails at encode time
 * (the trainer always retains all singles, so this arises only with
 * hand-pruned tables).
 */
final class UnigramTable(val pieces: Array[String], val logp: Array[Double])
    extends Serializable {
  require(pieces.length == logp.length,
    s"pieces/logp length mismatch: ${pieces.length} vs ${logp.length}")

  @transient private lazy val lut: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), logp(i)); i += 1 }
    m
  }
  @transient private lazy val maxLen: Int =
    if (pieces.isEmpty) 1 else pieces.iterator.map(p => p.codePointCount(0, p.length)).max

  /** Unknown-single penalty: below every table logp, so known pieces
    * always win; constant so encoding stays deterministic. */
  private def unkLogp: Double = -1e9

  def encode(word: UTF8String): ArrayData = {
    val s = word.toString
    // code-point grid (the BpeMergeTable seed convention)
    val cps = scala.collection.mutable.ArrayBuffer.empty[String]
    var ci = 0
    while (ci < s.length) {
      val n = Character.charCount(s.codePointAt(ci))
      cps += s.substring(ci, ci + n)
      ci += n
    }
    val n = cps.length
    if (n == 0) return ArrayData.toArrayData(Array.empty[AnyRef])
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1) // start index of the piece ending at i
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (best(j) != Double.NegativeInfinity) {
          val piece = cps.slice(j, i).mkString
          val lp = lut.get(piece)
          val sc =
            if (lp != null) best(j) + lp.doubleValue()
            else if (i - j == 1) best(j) + unkLogp
            else Double.NegativeInfinity
          // strict > : j ascends, so the FIRST maximal candidate
          // (smallest j = LONGEST final piece) wins ties
          if (sc != Double.NegativeInfinity && sc > best(i)) {
            best(i) = sc; back(i) = j
          }
        }
        j += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var k = n
    while (k > 0) {
      val j = back(k)
      out += cps.slice(j, k).mkString
      k = j
    }
    ArrayData.toArrayData(out.reverse.map(p =>
      UTF8String.fromString(p): AnyRef).toArray)
  }
}

/** Unigram-LM Viterbi encode with a frozen [[UnigramTable]] — the
  * encode face of [[graft.operators.Tokenize.unigramFit]]. NULL word →
  * NULL (callers own the coalesce); empty word → empty array. */
case class UnigramEncodeExpr(child: Expression, table: UnigramTable)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "unigram_encode"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    table.encode(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftUnigramTable", table,
      classOf[UnigramTable].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BPE encode of a single word with a frozen [[BpeMergeTable]] — the
  * (b)-tier native form of [[graft.operators.Tokenize.bpeSegment]]'s
  * chained literals, for production merge counts. NULL word → NULL
  * (callers own the empty-array coalesce, the [[DeflateRatio]]
  * convention); empty word → empty array, matching bpeSegment. */
case class BpeEncodeExpr(child: Expression, table: BpeMergeTable)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(v: Any): Any =
    table.encode(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the merge table is a plan-time object (the NearestCells pattern):
    // one references-array slot per stage, not per row
    val ref = ctx.addReferenceObj("graftBpeTable", table,
      classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftExpressions {
  def cosineSimilarity(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarity(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def rollingHash(c: Column): Column =
    GraftColumnBridge.column(RollingHash(GraftColumnBridge.expression(c)))

  def cdcChunks(c: Column, window: Int, maskBits: Int): Column =
    GraftColumnBridge.column(
      CdcChunksExpr(GraftColumnBridge.expression(c), window, maskBits))

  def minhashSignature(hashes: Column, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashSignature(GraftColumnBridge.expression(hashes), numHashes))

  def simhash64(tokenHashes: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(tokenHashes)))

  def hyperplaneLshKey(vec: Column, nBits: Int, seed: Int): Column =
    GraftColumnBridge.column(
      HyperplaneLshKey(GraftColumnBridge.expression(vec), nBits, seed))

  def bloomMightContainLong(bloom: org.apache.spark.util.sketch.BloomFilter,
                            c: Column): Column =
    GraftColumnBridge.column(
      BloomMightContainLong(GraftColumnBridge.expression(c), bloom))

  def normalizeText(c: Column): Column =
    GraftColumnBridge.column(NormalizeText(GraftColumnBridge.expression(c)))

  /** See [[DeflateRatio]] — callers own the NULL coalesce. */
  def deflateRatio(c: Column): Column =
    GraftColumnBridge.column(DeflateRatio(GraftColumnBridge.expression(c)))

  /** See [[BpeEncodeExpr]] — callers own the NULL coalesce. */
  def bpeEncode(word: Column, table: BpeMergeTable): Column =
    GraftColumnBridge.column(
      BpeEncodeExpr(GraftColumnBridge.expression(word), table))

  /** See [[UnigramEncodeExpr]] — callers own the NULL coalesce. */
  def unigramEncode(word: Column, table: UnigramTable): Column =
    GraftColumnBridge.column(
      UnigramEncodeExpr(GraftColumnBridge.expression(word), table))

  /** See [[NearestCells]] — cells ascending by (cos, -cid), hard LAST. */
  def nearestCells(vec: Column, cents: CentroidSet, probes: Int): Column =
    GraftColumnBridge.column(
      NearestCells(GraftColumnBridge.expression(vec), cents, probes))

  /** See [[NearestCellsIndexed]] — per-row set selection (PQ subspaces). */
  def nearestCellsIndexed(vec: Column, idx: Column,
                          sets: Array[CentroidSet], probes: Int): Column =
    GraftColumnBridge.column(NearestCellsIndexed(
      GraftColumnBridge.expression(vec), GraftColumnBridge.expression(idx),
      sets, probes))

  /** See [[RepetitionStatsExpr]] — callers own the NULL coalesce. */
  def repetitionStats(c: Column): Column =
    GraftColumnBridge.column(
      RepetitionStatsExpr(GraftColumnBridge.expression(c)))

  def hashedNgramScore(tokens: Column): Column =
    GraftColumnBridge.column(
      HashedNgramScore(GraftColumnBridge.expression(tokens)))

  def ngramBuckets(tokens: Column, nBuckets: Int): Column =
    GraftColumnBridge.column(
      NgramBuckets(GraftColumnBridge.expression(tokens), nBuckets))

  def ngramBucketWeightSum(tokens: Column, weights: Column): Column =
    GraftColumnBridge.column(NgramBucketWeightSum(
      GraftColumnBridge.expression(tokens),
      GraftColumnBridge.expression(weights)))

  /** See [[SortedIntersectSize]] — sorted-input precondition applies. */
  private[graft] def sortedIntersectSize(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectSize(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Arity guard for the SQL builders: a wrong-arity call must fail with
    * the standard WRONG_NUM_ARGS analysis error, not an
    * IndexOutOfBoundsException from inside the builder lambda. */
  private[graft] def checkArity(fn: String, exprs: Seq[Expression],
                                min: Int, max: Int): Unit =
    if (exprs.length < min || exprs.length > max)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> fn,
          "expectedNum" -> (if (min == max) min.toString else s"$min or $max"),
          "actualNum" -> exprs.length.toString,
          "docroot" -> ""))

  /** Constant-integer SQL argument: a column reference or other
    * non-foldable expression must fail with the requirement NAMED, not an
    * unbound-attribute eval error from inside the parser. */
  private[graft] def constInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable,
      s"$fn: $arg must be a constant integer, got non-constant $e")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a constant integer, got $other")
    }
  }

  /** Column-composition builder for the SQL registry: wrap the parsed
    * child in a Column, apply the public Column-level function, unwrap —
    * so rules COMPOSED from built-ins (the Gopher keep conjunctions, the
    * quality-stats struct) reach SQL users as one function with exactly
    * the Scala API's semantics (including its NULL coalesce), not a
    * reimplementation that could drift. */
  private def columnBuilt(f: Column => Column)(e: Expression): Expression =
    GraftColumnBridge.eagerExpression(f(GraftColumnBridge.column(e)))

  /** Every native SQL function — (name, ExpressionInfo class, builder) —
    * as ONE table consumed by BOTH [[registerAll]] and
    * [[graft.GraftExtensions]], so the programmatic and extension-built
    * registration routes cannot drift apart (a function, arity, or
    * builder changed on one path only). */
  private[graft] val functionBuilders
      : Seq[(String, String, Seq[Expression] => Expression)] = {
    val tf = graft.functions.TextFunctions
    Seq(
      ("cosine_similarity", classOf[CosineSimilarity].getName,
        exprs => { checkArity("cosine_similarity", exprs, 2, 2)
          CosineSimilarity(exprs(0), exprs(1)) }),
      ("rolling_hash", classOf[RollingHash].getName,
        exprs => { checkArity("rolling_hash", exprs, 1, 1)
          RollingHash(exprs.head) }),
      ("simhash64", classOf[SimHash64].getName,
        exprs => { checkArity("simhash64", exprs, 1, 1)
          SimHash64(exprs.head) }),
      ("minhash_signature", classOf[MinHashSignature].getName,
        exprs => { checkArity("minhash_signature", exprs, 2, 2)
          MinHashSignature(exprs(0),
            constInt(exprs(1), "minhash_signature", "num_hashes")) }),
      ("normalize_text", classOf[NormalizeText].getName,
        exprs => { checkArity("normalize_text", exprs, 1, 1)
          NormalizeText(exprs.head) }),
      ("hashed_ngram_score", classOf[HashedNgramScore].getName,
        exprs => { checkArity("hashed_ngram_score", exprs, 1, 1)
          HashedNgramScore(exprs.head) }),
      ("ngram_buckets", classOf[NgramBuckets].getName,
        exprs => { checkArity("ngram_buckets", exprs, 2, 2)
          NgramBuckets(exprs.head,
            constInt(exprs(1), "ngram_buckets", "n_buckets")) }),
      ("ngram_bucket_weight_sum", classOf[NgramBucketWeightSum].getName,
        exprs => { checkArity("ngram_bucket_weight_sum", exprs, 2, 2)
          NgramBucketWeightSum(exprs(0), exprs(1)) }),
      ("hyperplane_lsh_key", classOf[HyperplaneLshKey].getName,
        exprs => { checkArity("hyperplane_lsh_key", exprs, 2, 3)
          HyperplaneLshKey(exprs(0),
            constInt(exprs(1), "hyperplane_lsh_key", "n_bits"),
            // optional 3rd arg; default seed mirrors the Scala API
            if (exprs.length > 2)
              constInt(exprs(2), "hyperplane_lsh_key", "seed")
            else 42) }),
      // the published filter families (Gopher A1 + C4): native
      // repetition_stats plus the composed keep/stats column functions
      ("repetition_stats", classOf[RepetitionStatsExpr].getName,
        exprs => { checkArity("repetition_stats", exprs, 1, 1)
          RepetitionStatsExpr(exprs.head) }),
      ("gopher_repetition_keep", tf.getClass.getName,
        exprs => { checkArity("gopher_repetition_keep", exprs, 1, 1)
          columnBuilt(tf.gopherRepetitionKeep(_))(exprs.head) }),
      ("gopher_quality_stats", tf.getClass.getName,
        exprs => { checkArity("gopher_quality_stats", exprs, 1, 1)
          columnBuilt(tf.gopherQualityStats)(exprs.head) }),
      ("gopher_quality_keep", tf.getClass.getName,
        exprs => { checkArity("gopher_quality_keep", exprs, 1, 1)
          columnBuilt(tf.gopherQualityKeep(_))(exprs.head) }),
      ("c4_stats", tf.getClass.getName,
        exprs => { checkArity("c4_stats", exprs, 1, 1)
          columnBuilt(tf.c4Stats(_))(exprs.head) }),
      ("c4_keep", tf.getClass.getName,
        exprs => { checkArity("c4_keep", exprs, 1, 1)
          columnBuilt(tf.c4Keep(_))(exprs.head) }),
      ("deflate_ratio", classOf[DeflateRatio].getName,
        exprs => { checkArity("deflate_ratio", exprs, 1, 1)
          DeflateRatio(exprs.head) }),
      ("cdc_chunks", classOf[CdcChunksExpr].getName,
        exprs => { checkArity("cdc_chunks", exprs, 3, 3)
          CdcChunksExpr(exprs.head,
            constInt(exprs(1), "cdc_chunks", "window"),
            constInt(exprs(2), "cdc_chunks", "mask_bits")) }))
  }

  /** Expose as SQL functions on a session. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functionBuilders.foreach { case (name, _, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
