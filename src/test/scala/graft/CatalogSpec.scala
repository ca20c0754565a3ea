package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, lit, when}
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType}

import graft.catalog.Gate

/** The query catalog is one list of specs, and its verdict kit can fail. */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private val names = SparkEntry.specs.map(_.name)

  test("catalog holds 191 uniquely named specs, each with an oracle") {
    assert(names.size == 191)
    assert(names.distinct.size == names.size,
      s"duplicates: ${names.diff(names.distinct)}")
    val bad = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(bad.isEmpty, s"malformed names: $bad")
    val noOracle = SparkEntry.specs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"empty oracles: $noOracle")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("every Bench headline query resolves to a spec") {
    val missing = Bench.headline.filterNot(names.toSet)
    assert(missing.isEmpty, s"headline names without a spec: $missing")
    assert(SparkEntry.specs.contains(graft.catalog.Relational.starJoin),
      "the flagship entry query is not a registered spec")
  }

  test("Gate.parity and Gate.verdict fail on a one-row difference") {
    val a = Seq((1L, 0.5), (2L, 0.25), (3L, 0.125)).toDF("id", "score")
    def verdict(b: DataFrame) =
      Gate.verdict(Gate.parity(a, b, Seq("id"), Seq("score")))(
        ("scores_equal", 0.0, $"bad" === 0),
        ("nonempty", 1.0, $"n" >= 1))
    val same = verdict(a)
    assert(same.schema.map(_.dataType) == Seq(StringType, DoubleType,
      BooleanType))
    assert(same.as[(String, Double, Boolean)].collect().toSeq ==
      Seq(("nonempty", 1.0, true), ("scores_equal", 0.0, true)))
    // one missing row, one changed value: each is a bad row
    val dropped = a.filter($"id" =!= 3L)
    assert(Gate.parity(a, dropped, Seq("id")).as[(Long, Long)].head() ==
      (1L, 3L))
    val changed = a.withColumn("score",
      when($"id" === 2L, $"score" * 2).otherwise($"score"))
    assert(Gate.parity(a, changed, Seq("id"), Seq("score"))
      .as[(Long, Long)].head() == (1L, 3L))
    assert(verdict(changed).as[(String, Double, Boolean)].collect().toSeq ==
      Seq(("nonempty", 1.0, true), ("scores_equal", 0.0, false)))
    // a tolerance absorbs differences within it, not beyond
    val nudged = a.withColumn("score", $"score" + 1e-12)
    assert(Gate.parity(a, nudged, Seq("id"), Seq("score"), tol = 1e-9)
      .as[(Long, Long)].head() == (0L, 3L))
    assert(Gate.parity(a, nudged, Seq("id"), Seq("score"))
      .as[(Long, Long)].head() == (3L, 3L))
  }

  test("Gate.recall fails on a missing approx row and on an empty exact set") {
    val keys = Seq("query_id", "corpus_id")
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "corpus_id")
    def recall(ex: DataFrame, approx: DataFrame) =
      Gate.recall(ex, approx.withColumn("score", lit(0.5)), keys)
    def ok(ex: DataFrame, approx: DataFrame) =
      Gate.verdict(recall(ex, approx))(("recall_at_2", 1.0,
        coalesce($"recall" >= 1.0, lit(false))))
        .as[(String, Double, Boolean)].head()._3
    assert(recall(exact, exact).as[Double].head() == 1.0)
    assert(ok(exact, exact))
    val missing = exact.filter(!($"query_id" === 2L && $"corpus_id" === 21L))
    assert(recall(exact, missing).as[Double].head() == 0.75)
    assert(!ok(exact, missing))
    // an empty exact set has no recall (NULL); the verdict reads false
    val none = exact.filter(lit(false))
    assert(recall(none, exact).head().isNullAt(0))
    assert(!ok(none, exact))
  }

  test("q138 and q149 run as Verify runs them leave no table, view or dir") {
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    def ls(d: java.io.File, prefix: String): Seq[String] =
      Option(d.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith(prefix)).toSeq
    // every trace of query `q`: catalog tables and views, warehouse dirs,
    // scratch dirs (and the per-pid tmp dirs older builds used)
    def traces(q: String): Seq[String] =
      spark.catalog.listTables().select($"name").as[String].collect()
        .filter(_.startsWith(q)).toSeq ++ ls(wh, q) ++
        ls(new java.io.File(graft.catalog.Shared.roundTripBase), q) ++
        ls(new java.io.File(System.getProperty("java.io.tmpdir")),
          s"graft_${q}_$pid")
    Seq("q138_store_compact" -> "q138", "q149_codestore_retract" -> "q149")
      .foreach { case (name, q) =>
        val (verdicts, during) = SparkEntry.runReleased(spark, sfDir, name) {
          df => (df.select($"ok").as[Boolean].collect().toSeq, traces(q))
        }
        assert(verdicts.nonEmpty && verdicts.forall(identity),
          s"$name verdicts failed: $verdicts")
        // the check sees the query's state while it is live...
        assert(during.nonEmpty, s"$name made no store this check can see")
        // ...and none of it after the release
        assert(traces(q).isEmpty, s"$name left ${traces(q)}")
      }
  }

  test("Gate.verdict from driver booleans sorts by metric") {
    val rows = Gate.verdict(spark)(("b_metric", 2.0, false), ("a_metric", 1.0,
      true)).as[(String, Double, Boolean)].collect().toSeq
    assert(rows == Seq(("a_metric", 1.0, true), ("b_metric", 2.0, false)))
  }
}
