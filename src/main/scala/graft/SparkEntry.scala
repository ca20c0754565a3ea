package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._

/**
 * The operator catalog's entry points. Each [[catalog.QuerySpec]] is one
 * operator/capability from SURVEY.md §2 expressed Spark-first, declared next
 * to its DuckDB oracle SQL in a per-family file under `catalog/`.
 * [[queries]] and [[oracleSql]] are two views of that one list, keyed by
 * query name; Verify and Bench read them.
 */
object SparkEntry {

  /** Every catalog query, one spec each, grouped by family. */
  val specs: Seq[QuerySpec] = Seq(Relational, SqlSurface, Flows,
    Deduplication, Retrieval, TextQuality, Curation, Stores, Tokenizers,
    Media).flatMap(_.specs)

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the star-join
    * revenue rollup — scan, broadcast dims, hash agg, sort in one plan. */
  def entry(spark: SparkSession): DataFrame =
    Relational.starJoin.run(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracle).toMap

  /** Run query `name` and hand its frame to `consume`, then release what
    * the run left, whether or not it threw: operators persist reused
    * intermediates ([[operators.OpCache]]) and store gates make scratch
    * stores and dirs ([[catalog.Gate]]). Without a per-query release a
    * sweep holds every cache at once and leaves every store behind.
    * Verify and Bench run each query through this. */
  def runReleased[A](spark: SparkSession, sfDir: String, name: String)
                    (consume: DataFrame => A): A =
    try consume(queries(name)(spark, sfDir))
    finally {
      operators.OpCache.release()
      Gate.release(spark)
    }
}
