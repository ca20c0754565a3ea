package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The kit behind every verdict-gate query: a gate proves a property
  * in-plan and emits sorted `(metric: String, bound: Double, ok: Boolean)`
  * rows, and its oracle is the literal row set with every `ok` TRUE. */
object Gate {

  /** Row-set parity of `a` and `b`: full-outer join on `keys`; a row is bad
    * when it is missing on either side, or when a `compare` column is NULL
    * or differs (by more than `tol`, if given). Returns the one-row
    * `(bad, n)` frame — `n` counts joined rows — collected driver-side, so
    * every verdict row read from it costs no further Spark job. */
  def parity(a: DataFrame, b: DataFrame, keys: Seq[String],
             compare: Seq[String] = Nil, tol: Double = 0.0): DataFrame = {
    def side(df: DataFrame, tag: String) = df.select(
      keys.map(col) ++ compare.map(c => col(c).as(s"${tag}_$c")) :+
        lit(1).as(tag): _*)
    val differs = compare.map { c =>
      val (x, y) = (col(s"__a_$c"), col(s"__b_$c"))
      x.isNull || y.isNull || (if (tol == 0.0) x =!= y else abs(x - y) > tol)
    }
    val bad = (col("__a").isNull || col("__b").isNull) +: differs
    operators.OpCache.materializeLocal(
      side(a, "__a").join(side(b, "__b"), keys, "full_outer")
        .agg(
          coalesce(sum(when(bad.reduce(_ || _), 1).otherwise(0)), lit(0))
            .as("bad"),
          count(lit(1)).as("n")))
  }

  /** Recall of `approx` against `exact`: the share of `exact` rows whose
    * `keys` appear in `approx`. Returns the lazy one-row `recall` frame;
    * an empty `exact` gives NULL, so a verdict wraps its check in
    * `coalesce(..., lit(false))`. */
  def recall(exact: DataFrame, approx: DataFrame, keys: Seq[String]): DataFrame =
    exact.join(approx.select(keys.map(col) :+ lit(1).as("__hit"): _*),
        keys, "left_outer")
      .agg((sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)))
        .as("recall"))

  /** Verdict rows whose `ok` columns are evaluated over the one-row frame
    * `from` (a [[parity]] result, an aggregate); a driver-side boolean
    * enters as `lit(b)`. */
  def verdict(from: DataFrame)(checks: (String, Double, Column)*): DataFrame =
    from.select(explode(array(checks.map { case (metric, bound, ok) =>
        struct(lit(metric).as("metric"), lit(bound).as("bound"), ok.as("ok"))
      }: _*)).as("v"))
      .select(col("v.metric"), col("v.bound"), col("v.ok"))
      .orderBy(col("metric"))

  /** Verdict rows from driver-side booleans. */
  def verdict(s: SparkSession)(
      checks: (String, Double, Boolean)*): DataFrame = {
    import s.implicits._
    checks.toDF("metric", "bound", "ok").orderBy(col("metric"))
  }

  private lazy val pid =
    java.lang.Long.toHexString(ProcessHandle.current().pid())

  /** Scratch stores and dirs made since the last [[release]] — a query
    * may make them from concurrent `Par` blocks. */
  private val stores = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** Per-process scratch store `<name>_<pid>`, with any copy an earlier run
    * left dropped — the store and each `<store><sibling>` companion. Each
    * is recorded for [[release]]. */
  def scratchStore(s: SparkSession, name: String, siblings: String*): String = {
    val tbl = s"${name}_$pid"
    (tbl +: siblings.map(tbl + _)).foreach { t =>
      Shared.dropLocalTable(s, t)
      stores.add(t)
    }
    tbl
  }

  /** Scratch directory `<name>` under the per-process
    * [[Shared.roundTripBase]], emptied, and recorded for [[release]]. */
  def scratchDir(name: String): String = {
    val dir = s"${Shared.roundTripBase}/$name"
    Shared.rmTree(new java.io.File(dir))
    dirs.add(dir)
    dir
  }

  /** Drop every scratch store and delete every scratch dir made since the
    * last call — run after each query, so a finished run leaves none. */
  def release(s: SparkSession): Unit = {
    Iterator.continually(stores.poll()).takeWhile(_ != null)
      .foreach(Shared.dropLocalTable(s, _))
    Iterator.continually(dirs.poll()).takeWhile(_ != null)
      .foreach(d => Shared.rmTree(new java.io.File(d)))
  }
}
