package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Embedding-vector math over `ArrayType(FloatType)` columns, built from
 * higher-order built-ins (`zip_with`/`aggregate`/`transform`) so the hot
 * path stays in Tungsten — no UDF serialization, no driver involvement.
 * The reference has no vector type at all (JSON scalar set only,
 * `/root/reference/stepist/app.py:20,26`); these are the north-star
 * similarity-search primitives mandated by BASELINE.json.
 *
 * All accumulation is in double precision regardless of input element type,
 * for oracle-stable results.
 */
object VectorFunctions {

  /** Dot product of two equal-length numeric arrays (double). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean (L2) norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity in [-1, 1]; zero for zero-norm inputs. Delegates to
    * the fused codegen expression ([[graft.functions.expressions.CosineSimilarity]])
    * — one loop, no intermediate arrays; accumulation order (left-to-right
    * double) is bit-identical to [[cosineHof]]. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.GraftExpressions.cosineSimilarity(a, b)

  /** Reference formulation from built-in higher-order functions — kept for
    * cross-checking the native expression in tests. */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** L2-normalized copy of the vector (doubles); zero vector stays zero. */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, transform(a, v => v.cast("double")))
      .otherwise(transform(a, v => v.cast("double") / n))
  }

  /**
   * Deterministic pseudo-random hyperplane projection sign bits for LSH:
   * `nBits` sign bits of dot(v, h_i) packed into a long, where hyperplane
   * component h_i[j] is a unit-free pseudo-random value derived from
   * xxhash64(seed, i, j). Deterministic across executors (pure expression of
   * the element index), which is what makes the bucket join reproducible —
   * the property the reference's uuid-tagged hub jobs lack.
   */
  def hyperplaneLshKey(vec: Column, nBits: Int, seed: Int = 42): Column = {
    require(nBits >= 1 && nBits <= 63, "nBits must be in [1,63]")
    graft.functions.expressions.GraftExpressions.hyperplaneLshKey(vec, nBits, seed)
  }

  /** Reference semantics of [[hyperplaneLshKey]] in pure built-in HOFs —
    * `nBits` separate `aggregate(zip_with(...))` traversals, each hashing
    * per element with an interpreted lambda. Kept ONLY for the
    * equivalence spec (ExpressionsSpec); every hot path uses the fused
    * native expression. */
  private[graft] def hyperplaneLshKeyHof(vec: Column, nBits: Int, seed: Int = 42): Column = {
    require(nBits >= 1 && nBits <= 63, "nBits must be in [1,63]")
    val bits = (0 until nBits).map { i =>
      // pseudo-random ±1 component per (bit, dim): hash(seed,i,j) parity.
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, j) => {
          val h = xxhash64(lit(seed.toLong * 1000003L + i), j)
          // map hash to ±1 deterministically
          when(pmod(h, lit(2)) === 0, x.cast("double")).otherwise(-x.cast("double"))
        }),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }
}
