package graft.operators

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions.col

/**
 * Storage-layout helpers: pre-shuffle data ONCE at write time so repeated
 * joins/aggregations on the same key read co-located buckets and skip the
 * exchange entirely — the 100 TB answer to "this join shuffles every run".
 *
 * A table store is three kinds of catalog object:
 *  - SEGMENTS `<table>__s<nonce>`: immutable bucketed parquet tables,
 *    written once and never appended to;
 *  - VERSIONS `<table>__vN`: views over the `UNION ALL` of their
 *    segments. Spark keeps the bucket partitioning through a union of
 *    same-spec bucketed scans, so a join or aggregation on the key stays
 *    exchange-free however many segments a version holds (PlanSpec);
 *  - the SERVING VIEW `<table>`, over the newest version.
 *
 * Every writer commits with ONE exclusive `CREATE VIEW <table>__v(N+1)`:
 * the catalog refuses an existing name and checks-and-creates under one
 * lock, so exactly one writer owns each version. The winner then
 * publishes with one `ALTER VIEW` of the serving view (atomic for
 * readers) and drops the versions older than the previous one, with the
 * segments only they named. A segment no version names — a crashed or
 * refused writer's — is invisible to readers; [[dropStore]] removes it.
 */
object Layout {

  /**
   * Write `df` as a bucketed, sorted store: `buckets` hash buckets on
   * `keyCols`, sorted within buckets. Subsequent equi-joins or aggregations
   * on exactly `keyCols` between same-bucketing tables plan with NO shuffle
   * on either side (and no sort for sort-merge) — through the store's
   * views too, which are plan aliases, not copies (PlanSpec-gated).
   *
   * The data lands in one segment, `<table>__v1` names it and `<table>`
   * becomes a view over `__v1`. Like an overwrite, any earlier store of
   * that name is dropped first ([[dropStore]]).
   */
  def writeBucketed(df: DataFrame, table: String, keyCols: Seq[String],
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    dropStore(spark, table)
    val seg = writeSegment(df, table, BucketSpec(buckets, keyCols, keyCols))
    require(createVersion(spark, table, 1, Seq(seg)),
      s"writeBucketed: another writer created ${table}__v1")
    spark.sql(s"CREATE VIEW $table AS ${servingSql(table, 1)}")
  }

  /**
   * Write `df` as a new segment of `table` under `spec` and return its
   * name. The write CO-LOCATES each bucket first (`repartition(buckets,
   * keys)` is murmur3 pmod n — exactly Spark's bucket id function):
   * without it every upstream partition writes its own file into every
   * bucket it touches — tasks × buckets tiny files per segment (measured
   * 256 for a 32-partition frame at 8 buckets), paying parquet writer
   * open/footer cost per file at write time and file-open fan-out on
   * every later scan. One write-time shuffle buys one file per bucket —
   * the same discipline as [[graft.operators.Quantize.writeCodeStore]]'s
   * per-cell co-location. The nonce name is never reused, so the write
   * never meets an existing table or a stale directory.
   */
  private def writeSegment(df: DataFrame, table: String,
                           spec: BucketSpec): String = {
    val seg = s"${table}__s${java.util.UUID.randomUUID().toString.take(8)}"
    val bcols = spec.bucketColumnNames
    val scols =
      if (spec.sortColumnNames.nonEmpty) spec.sortColumnNames else bcols
    df.repartition(spec.numBuckets, bcols.map(col): _*)
      .write
      .bucketBy(spec.numBuckets, bcols.head, bcols.tail: _*)
      .sortBy(scols.head, scols.tail: _*)
      .format("parquet")
      .saveAsTable(seg)
    seg
  }

  /**
   * Drop the store `table` whole: its serving view, every `__vN` version
   * and every `__s<nonce>` segment — orphaned ones included — plus a
   * plain table of that name. Spark refuses `DROP TABLE` on a view, so
   * this is the one way to remove a store. No-op on a name that holds
   * nothing.
   */
  def dropStore(spark: SparkSession, table: String): Unit =
    (table +: (versions(spark, table) ++ segments(spark, table)).map(_._2))
      .foreach { name =>
        val cat = spark.sessionState.catalog
        val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
        if (cat.tableExists(id)) {
          val kind =
            if (cat.getTableMetadata(id).tableType == CatalogTableType.VIEW) "VIEW"
            else "TABLE"
          spark.sql(s"DROP $kind $name")
        }
      }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  private def meta(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The catalog objects `<table>__<suffix>` whose suffix matches `re`,
    * as (captured group, name) — discovered from the catalog, so the
    * convention survives restarts (no driver-side registry to lose). A
    * name keeps the caller's qualification: a qualified store lists
    * qualified names, so no statement resolves in the wrong database. */
  private def listStore(spark: SparkSession, table: String,
                        re: String): Seq[(String, String)] = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val db = id.database.getOrElse(
      spark.sessionState.catalog.getCurrentDatabase)
    val own = ("^" + java.util.regex.Pattern.quote(id.table.toLowerCase) +
      "__" + re + "$").r
    spark.sessionState.catalog.listTables(db, s"${id.table}__*")
      .flatMap(ti => ti.table.toLowerCase match {
        case own(g) => Some((g, id.database.fold(ti.table)(d => s"$d.${ti.table}")))
        case _ => None
      })
  }

  /** The `<table>__vN` versions of a store, ascending by N. */
  private def versions(spark: SparkSession, table: String): Seq[(Int, String)] =
    listStore(spark, table, "v(\\d+)").map(v => (v._1.toInt, v._2)).sortBy(_._1)

  private val Nonce = "[0-9a-f]{8}"

  /** Every `<table>__s<nonce>` segment, named by a version or not. */
  private def segments(spark: SparkSession, table: String): Seq[(String, String)] =
    listStore(spark, table, s"s($Nonce)")

  // ---- view-text coupling (writer ↔ parser) ----------------------------
  // A version's segments and the serving view's version live only in the
  // views' SQL text: `unionSql`/`servingSql` write it, `segmentsOf` and
  // `servingVersion` parse it back. Change either side only with the
  // other; LayoutSpec gates the round-trip on a fresh store and after a
  // rewrite.

  /** A version's body: its segments' `UNION ALL`, each branch with an
    * explicit column list so a branch can never shift a column. */
  private def unionSql(spark: SparkSession, segs: Seq[String]): String = {
    val cols = meta(spark, segs.head).schema.fieldNames
      .map(c => "`" + c.replace("`", "``") + "`").mkString(", ")
    segs.map(s => s"SELECT $cols FROM $s").mkString(" UNION ALL ")
  }

  /** The ONE view body a store's name is ever bound to. */
  private def servingSql(table: String, v: Int): String =
    s"SELECT * FROM ${table}__v$v"

  /** The segments version `version` of `table` names, in union order. */
  private[graft] def segmentsOf(spark: SparkSession, table: String,
                                version: String): Seq[String] = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val re = ("(?i)" + java.util.regex.Pattern.quote(id.table) +
      s"__s($Nonce)").r
    meta(spark, version).viewText.toSeq
      .flatMap(re.findAllMatchIn(_).map(m => s"${table}__s${m.group(1)}"))
  }

  /** Parser half of the serving view's coupling: the version recorded in
    * a view's stored SQL text ([[servingSql]]'s `__vN` suffix; the LAST
    * match tolerates a db-qualified or quoted table name containing the
    * pattern). None = not a graft store's view. */
  private[graft] def servingVersion(viewText: String): Option[Int] =
    "__v(\\d+)".r.findAllMatchIn(viewText)
      .map(_.group(1).toInt).toSeq.lastOption

  /**
   * Resolve a store name to its newest version `<table>__vN`, the one
   * appends and rewrites build on. Readers never need this —
   * `spark.table` resolves the view, and the bucketed scans underneath
   * keep their exchange-free join property. A name that is not a graft
   * store (no view over a `__vN`) is refused.
   *
   * HEAL: a serving view that lags the newest version means a writer
   * committed and died (or is about to publish) — so publish the newest,
   * exactly as that writer would have.
   */
  def resolveStore(spark: SparkSession, table: String): String = {
    val cat = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val cur = Some(id).filter(cat.tableExists).map(cat.getTableMetadata)
      .filter(_.tableType == CatalogTableType.VIEW)
      .flatMap(_.viewText).flatMap(servingVersion)
    val vs = versions(spark, table)
    require(cur.nonEmpty && vs.nonEmpty,
      s"resolveStore: $table is not a graft store (no view over a " +
        s"${table}__vN) — write it with Layout.writeBucketed")
    if (vs.last._1 > cur.get) publish(spark, table)
    vs.last._2
  }

  /** [[resolveStore]]'s version as (N, the segments it names). */
  private def newest(spark: SparkSession, table: String): (Int, Seq[String]) = {
    val v = resolveStore(spark, table)
    (v.substring(v.lastIndexOf("__v") + 3).toInt, segmentsOf(spark, table, v))
  }

  /** THE commit point: create `<table>__v<n>` over `segs`. False when the
    * name is taken — another writer committed version n first. */
  private[graft] def createVersion(spark: SparkSession, table: String,
                                   n: Int, segs: Seq[String]): Boolean =
    try {
      spark.sql(s"CREATE VIEW ${table}__v$n AS ${unionSql(spark, segs)}")
      true
    } catch {
      case e: AnalysisException
        if e.getCondition == "TABLE_OR_VIEW_ALREADY_EXISTS" => false
    }

  /** After committing version `n`: publish the newest version, then drop
    * the versions older than `n - 1` and the segments only they named.
    * Every version builds on its predecessor, so a segment that a kept or
    * later version names is in version `n - 1` or `n`, or is new.
    * `after` is the fault-injection seam, called after each step. */
  private def publishAndCollect(spark: SparkSession, table: String, n: Int,
                                after: String => Unit): Unit = {
    after("version")
    publish(spark, table)
    after("publish")
    // a concurrent commit may collect a listed version first; it read
    // that version's segments before dropping it and drops them itself
    def named(v: String) =
      try segmentsOf(spark, table, v)
      catch { case _: NoSuchTableException => Nil }
    val (old, kept) = versions(spark, table).partition(_._1 < n - 1)
    val live = kept.flatMap(v => named(v._2)).toSet
    val dead = old.flatMap(v => named(v._2)).distinct.filterNot(live)
    old.foreach(v => spark.sql(s"DROP VIEW IF EXISTS ${v._2}"))
    dead.foreach(s => spark.sql(s"DROP TABLE IF EXISTS $s"))
  }

  /** Point the serving view at the newest version with one `ALTER VIEW`
    * — one in-place `SessionCatalog.alterTable`, so a concurrent reader
    * resolves the old or the new version, never a missing name (`CREATE
    * OR REPLACE VIEW` is a drop plus a create; the LayoutSpec reader loop
    * caught a reader between them). Repeats while a newer version
    * appeared meanwhile, so a writer that publishes late never leaves the
    * view on a stale version. */
  private def publish(spark: SparkSession, table: String): Unit = {
    var shown = -1
    var n = versions(spark, table).last._1
    while (n != shown) {
      // a version two later commits already collected no longer resolves:
      // point at the newest instead
      try { spark.sql(s"ALTER VIEW $table AS ${servingSql(table, n)}"); shown = n }
      catch {
        case e: AnalysisException if versions(spark, table).last._1 == n => throw e
      }
      n = versions(spark, table).last._1
    }
  }

  /**
   * Append rows to a bucketed store under the store's OWN bucket spec and
   * column types, read from its segments' catalog entries — one new
   * segment with one file per touched bucket, so the bucketing (and the
   * exchange-free join) survives any number of appends (PlanSpec-gated).
   *
   * The append never refuses a race: if another writer committed the
   * version it aimed at, it re-reads the newest version and commits its
   * segment on top of that, so a concurrent rewrite can neither lose the
   * rows nor turn the append away (LayoutSpec-gated).
   */
  def appendBucketed(spark: SparkSession, df: DataFrame,
                     table: String): Unit =
    appendBucketed(spark, df, table, _ => ())

  /** [[appendBucketed]] with a fault-injection seam `after`, called after
    * each commit step: "segment" written, "version" created, view
    * "publish"ed (LayoutSpec). */
  private[graft] def appendBucketed(spark: SparkSession, df: DataFrame,
                                    table: String,
                                    after: String => Unit): Unit = {
    var (n, segs) = newest(spark, table)
    val m = meta(spark, segs.head)
    val spec = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"appendBucketed: $table has no bucket spec"))
    // the store's column types, not the batch's: murmur3 of an int and of
    // a long differ, so a segment keyed by another type would put rows in
    // the wrong bucket of an exchange-free join
    val seg = writeSegment(
      df.select(m.schema.map(f => col(f.name).cast(f.dataType)): _*),
      table, spec)
    after("segment")
    while (!createVersion(spark, table, n + 1, segs :+ seg)) {
      val (n2, s2) = newest(spark, table)
      n = n2; segs = s2
    }
    publishAndCollect(spark, table, n + 1, after)
  }

  /**
   * Compact a bucketed store back to ONE file per bucket, preserving its
   * bucket spec. Every [[graft.operators.Dedup.ingestBatch]]-style append
   * adds a segment with a file per touched bucket; the bucketing (and
   * therefore the exchange-free join) survives any number of appends, but
   * bucket file counts grow without bound with ingest cadence — scan
   * fan-out, footer/open overhead, and ever-smaller row groups. Compaction
   * restores one segment with one sorted file per bucket: the repartition
   * keys rows by the bucket function itself, so each task owns exactly
   * one bucket and writes exactly one file (PlanSpec-gated via the
   * executed scan's `numFiles`; q138-gated: content identical, one file
   * per bucket).
   *
   * Honest limit: this does NOT remove the sort-merge join's store-side
   * sort. Since Spark 3.0 a bucketed scan reports no `outputOrdering`
   * unless `spark.sql.legacy.bucketedTableScan.outputOrdering` is on
   * (that conf trades scan parallelism for order and is off for a
   * reason), so SMJ re-sorts within partitions regardless of file
   * layout; the `sortBy` still pays through run-length-friendly parquet
   * encoding and tight fp min/max footer ranges.
   *
   * Cost is one O(store) rewrite with a single full shuffle; amortize by
   * cadence (e.g. every N appends), not per ingest.
   */
  def compactBucketed(spark: SparkSession, table: String): Unit =
    rewriteBucketed(spark, table)(identity)

  /**
   * Rewrite a bucketed store through `transform` into one new segment
   * with one sorted file per bucket — the maintenance primitive behind
   * [[compactBucketed]] (transform = identity) and row deletion
   * ([[graft.operators.Dedup.removeFromFingerprintStore]]'s anti-join).
   * The new version names only that segment; the previous version keeps
   * serving in-flight plans until the next commit collects it.
   *
   * A rewrite that loses its commit to another writer (an append or a
   * rewrite committed the version it aimed at) drops its segment and is
   * REFUSED: its snapshot misses that writer's change, so committing on
   * top would lose it. Retry against the current version.
   *
   * Reads the segments' FILES by path (see inline note), parquet stores
   * only (the provider guard below — a non-parquet bucketed table would
   * otherwise be silently rewritten to a format its consumers don't
   * expect); partitioned tables refused (rewrite each partition's own
   * bucketed table instead — [[graft.operators.Quantize.removeFromCodeStore]]
   * is the per-partition form for the cell-partitioned code store).
   */
  def rewriteBucketed(spark: SparkSession, table: String)
                     (transform: DataFrame => DataFrame): Unit =
    rewriteBucketed(spark, table, _ => ())(transform)

  /** [[rewriteBucketed]] with the [[appendBucketed]] fault-injection seam. */
  private[graft] def rewriteBucketed(spark: SparkSession, table: String,
                                     after: String => Unit)
                                    (transform: DataFrame => DataFrame): Unit = {
    val (n, segs) = newest(spark, table)
    val ms = segs.map(meta(spark, _))
    val m = ms.head
    val spec = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"rewriteBucketed: $table has no bucket spec"))
    // the path read below sees only file columns; a partitioned table's
    // partition values live in directory names and would silently read
    // back as NULL — refuse loudly (rewrite such tables per-partition)
    require(m.partitionColumnNames.isEmpty,
      s"rewriteBucketed: $table is partitioned on " +
        s"${m.partitionColumnNames.mkString(",")}; rewrite each " +
        "partition's own bucketed table instead")
    require(m.provider.exists(_.equalsIgnoreCase("parquet")),
      s"rewriteBucketed: $table provider is " +
        s"${m.provider.getOrElse("unknown")}; only parquet stores are " +
        "supported (the rewrite would change the table's format)")
    // read the segments' FILES by path, not the catalog tables: a
    // bucketed relation already claims HashPartitioning(bcols, n), so the
    // segment write's repartition would be elided as redundant — and then
    // DisableUnnecessaryBucketedScan (no join/agg above, just a write)
    // reverts the scan to file-split partitions, producing one file per
    // (task × bucket) instead of one per bucket (measured: 16 for 4
    // buckets). A path scan has unknown partitioning, so the shuffle
    // stays and each write task owns exactly one bucket.
    val seg = writeSegment(transform(spark.read.schema(m.schema)
      .parquet(ms.map(_.location.toString): _*)), table, spec)
    after("segment")
    if (!createVersion(spark, table, n + 1, Seq(seg))) {
      spark.sql(s"DROP TABLE IF EXISTS $seg")
      throw new IllegalStateException(
        s"rewriteBucketed: another writer committed ${table}__v${n + 1} " +
          "while this rewrite ran — its change is not in this rewrite's " +
          "snapshot; retry against the current version")
    }
    publishAndCollect(spark, table, n + 1, after)
  }
}
