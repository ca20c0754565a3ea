package graft.catalog

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: an operator or capability from SURVEY.md §2 written
  * Spark-first (`run` over the fixture directory), next to the ANSI SQL the
  * driver runs in DuckDB over the same parquet tables for the hash-compare
  * correctness gate (`oracle`).
  *
  * Conventions for oracle stability:
  *  - every floating-point aggregate is `round(..., n)` on BOTH sides;
  *  - every result is deterministically ordered on BOTH sides;
  *  - column names are aliased identically on BOTH sides.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

/** A family of catalog queries. Each query is declared once, as
  * `query(name) { (s, dir) => spark body } { oracle SQL }`, and registered
  * in declaration order — the catalog's analogue of stepist's `@app.step`
  * registry; `query` returns the spec for callers that need one by value.
  * Values an oracle reads must be defined above the query. */
abstract class Family {
  private val registered = mutable.ArrayBuffer.empty[QuerySpec]

  final def specs: Seq[QuerySpec] = registered.toSeq

  protected final def query(name: String)(
      run: (SparkSession, String) => DataFrame)(oracle: String): QuerySpec = {
    val spec = QuerySpec(name, run, oracle)
    registered += spec
    spec
  }
}
