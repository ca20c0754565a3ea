package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.expressions.Aggregator

/**
 * Typed custom aggregations (`Aggregator[IN, BUF, OUT]`) — the Spark-native
 * form of the reference's reducer-handler UDAF role (the handler receives a
 * whole `job_list` and folds it manually, `stepist/flow/workers/
 * reducer_engine.py:78`). An Aggregator instead declares reduce/merge, so
 * Catalyst runs it as a partial + final hash aggregation: map-side combine,
 * no per-group materialized list, codegen-planned — the shape that survives
 * a 100 TB groupBy where collect_list would not.
 */
object Aggregators {

  /**
   * Exact top-3 largest values per group as a sorted (desc) triple;
   * groups with fewer than 3 inputs pad with -Infinity. Constant-size
   * buffer (three doubles) regardless of group size — contrast with
   * sort+limit per group (full shuffle of every row to its group) or
   * collect_list (O(group) memory).
   */
  object Top3Double extends Aggregator[Double, (Double, Double, Double), (Double, Double, Double)] {
    private val NegInf = Double.NegativeInfinity

    override def zero: (Double, Double, Double) = (NegInf, NegInf, NegInf)

    override def reduce(b: (Double, Double, Double), v: Double): (Double, Double, Double) =
      insert(b, v)

    override def merge(a: (Double, Double, Double), b: (Double, Double, Double)): (Double, Double, Double) =
      insert(insert(insert(a, b._1), b._2), b._3)

    override def finish(r: (Double, Double, Double)): (Double, Double, Double) = r

    override def bufferEncoder: Encoder[(Double, Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaDouble)
    override def outputEncoder: Encoder[(Double, Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaDouble)

    // Double.compare, not `>`: Java's > is false for NaN, which would
    // silently DROP NaN inputs where SQL max/sort-desc (and the DuckDB
    // oracle) rank NaN greater than every double
    private def gt(a: Double, b: Double): Boolean =
      java.lang.Double.compare(a, b) > 0

    private def insert(b: (Double, Double, Double), v: Double): (Double, Double, Double) =
      if (gt(v, b._1)) (v, b._1, b._2)
      else if (gt(v, b._2)) (b._1, v, b._2)
      else if (gt(v, b._3)) (b._1, b._2, v)
      else b
  }

  /**
   * Element-wise mean of float-vector columns in ONE pass: the buffer is a
   * (lane sums, count) pair, merged associatively — the scale path for
   * mean-pooled embeddings. The posexplode formulation (q75) shuffles
   * `dim` rows per vector; this shuffles ONE partial buffer per partition
   * per group. Null/empty vectors are ignored (not counted in the
   * divisor); ragged inputs zero-pad to the longest vector seen, so the
   * result is identical under any partitioning/encounter order — a
   * min-length or first-seen-length fold would make the answer (and even
   * its dimension) depend on shuffle layout. Empty groups yield an empty
   * array.
   */
  object VectorMean extends Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] {
    override def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)

    override def reduce(b: (Array[Double], Long), v: Seq[Float]): (Array[Double], Long) = {
      if (v == null || v.isEmpty) return b
      val sums = if (b._1.length >= v.length) b._1
        else java.util.Arrays.copyOf(b._1, v.length)
      var i = 0
      while (i < v.length) { sums(i) += v(i); i += 1 }
      (sums, b._2 + 1)
    }

    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      if (b._2 == 0L) return a
      if (a._2 == 0L) return b
      val (big, small) = if (a._1.length >= b._1.length) (a._1, b._1) else (b._1, a._1)
      var i = 0
      while (i < small.length) { big(i) += small(i); i += 1 }
      (big, a._2 + b._2)
    }

    override def finish(r: (Array[Double], Long)): Seq[Double] =
      if (r._2 == 0L) Seq.empty
      else r._1.map(_ / r._2).toSeq

    override def bufferEncoder: Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /**
   * Mergeable Misra–Gries heavy-hitter summary (Misra & Gries 1982;
   * mergeability per Agarwal et al. 2012, "Mergeable Summaries"): a
   * capacity-bounded counter map over a stream of items. Guarantees after
   * any partial/final merge tree: every item with true count
   * > N/(capacity+1) is PRESENT, and each reported count is an
   * UNDERESTIMATE by at most N/(capacity+1) (N = total items) —
   * q145-gated against exact counts at fixture scale. This completes the
   * sketch family (HLL q44, quantile q124, Bloom q101, MinHash, SimHash):
   * the one-pass, constant-memory answer to "what are the frequent
   * n-grams / boilerplate phrases" at 100 TB, where an exact
   * `groupBy(gram).count` shuffles the entire vocabulary and this
   * shuffles one ≤capacity-entry map per partition.
   *
   * reduce: classic MG (hit +1; room → insert 1; full → decrement all,
   * drop zeros — amortized O(1) per item since each decrement round pays
   * for capacity insertions). merge: sum shared counters, then apply the
   * mergeable-MG rule — subtract the (capacity+1)-th largest combined
   * count from everything and drop non-positives.
   *
   * Buffer representation: a MUTABLE HashMap updated in place (the
   * [[VectorMean]] discipline — typed aggregation keeps the buffer as a
   * live object between rows, so per-item work is one hash probe +
   * in-place bump, not an immutable-Map rebuild; the r12 version paid a
   * full map allocation per item on the hot reduce path). The kryo
   * buffer encoder matters only at partial→final boundaries and spills —
   * exactly where a summary should pay its serialization, once per
   * partition rather than per row. Measured in SURVEY §6.
   */
  final case class MisraGries(capacity: Int)
      extends Aggregator[String, scala.collection.mutable.HashMap[String, Long],
        Map[String, Long]] {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    import scala.collection.mutable

    override def zero: mutable.HashMap[String, Long] = mutable.HashMap.empty

    override def reduce(b: mutable.HashMap[String, Long],
                        g: String): mutable.HashMap[String, Long] = {
      b.get(g) match {
        case Some(c) => b.update(g, c + 1L)
        case None if b.size < capacity => b.update(g, 1L)
        case None =>
          // decrement-all round; each such round pays for `capacity`
          // earlier O(1) insertions (the classic amortization)
          b.mapValuesInPlace((_, c) => c - 1L)
          b.filterInPlace((_, c) => c > 0L)
          ()
      }
      b
    }

    override def merge(a: mutable.HashMap[String, Long],
                       b: mutable.HashMap[String, Long])
        : mutable.HashMap[String, Long] = {
      if (a.isEmpty) return b
      if (b.isEmpty) return a
      val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
      small.foreach { case (k, c) =>
        big.update(k, big.getOrElse(k, 0L) + c)
      }
      if (big.size > capacity) {
        // the (capacity+1)-th largest combined count is the subtrahend
        val vals = big.values.toArray
        java.util.Arrays.sort(vals)
        val thresh = vals(vals.length - (capacity + 1))
        big.mapValuesInPlace((_, c) => c - thresh)
        big.filterInPlace((_, c) => c > 0L)
      }
      big
    }

    override def finish(r: mutable.HashMap[String, Long]): Map[String, Long] =
      r.toMap

    override def bufferEncoder: Encoder[mutable.HashMap[String, Long]] =
      Encoders.kryo[mutable.HashMap[String, Long]]
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }
}
