package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions.col

/**
 * Storage-layout helpers: pre-shuffle data ONCE at write time so repeated
 * joins/aggregations on the same key read co-located buckets and skip the
 * exchange entirely — the 100 TB answer to "this join shuffles every run".
 *
 * Every table store is VERSIONED from its first write: the data lives in
 * bucketed `<table>__vN` tables and the store name `<table>` is a view
 * over the serving version. Rewrites land in `__v(N+1)` and repoint the
 * view with one `ALTER VIEW` (atomic for readers); appends and rewrites
 * serialize through the commit-token chain below. There is no plain-table
 * form and no migration into this one.
 */
object Layout {

  /**
   * Write `df` as a bucketed, sorted store: `buckets` hash buckets on
   * `keyCols`, sorted within buckets. Subsequent equi-joins or aggregations
   * on exactly `keyCols` between same-bucketing tables plan with NO shuffle
   * on either side (and no sort for sort-merge) — through the store's
   * view too, which is a plan alias, not a copy (PlanSpec-gated).
   *
   * The data lands in `<table>__v1` and `<table>` becomes a view over it.
   * Like an overwrite, any earlier store of that name is dropped first
   * ([[dropStore]]).
   *
   * The write CO-LOCATES each bucket first (`repartition(buckets, keys)`
   * is murmur3 pmod n — exactly Spark's bucket id function, the
   * [[rewriteBucketed]] shuffle): without it every upstream partition
   * writes its own file into every bucket it touches — tasks × buckets
   * tiny files per store (measured 256 for a 32-partition frame at 8
   * buckets), paying parquet writer open/footer cost per file at write
   * time and file-open fan-out on every later scan. One write-time
   * shuffle buys one file per bucket — the same discipline as
   * [[graft.operators.Quantize.writeCodeStore]]'s per-cell co-location
   * (its store note measured the tiny-file tax at 2× on probe reads).
   * At scale, `buckets` is sized so one bucket's rows fit a write task
   * comfortably — the parameter already carries that contract.
   */
  def writeBucketed(df: DataFrame, table: String, keyCols: Seq[String],
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    dropStore(spark, table)
    df.repartition(buckets, keyCols.map(col): _*)
      .write
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(s"${table}__v1")
    pointView(spark, table, 1, "CREATE")
  }

  /**
   * Drop the store `table` whole: its view, every `__vN` version, any
   * `__graft_rw_*` staging table a dead rewrite left, and a plain table
   * of that name. Spark refuses `DROP TABLE` on a view, so this is the
   * one way to remove a store. No-op on a name that holds nothing.
   */
  def dropStore(spark: SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val db = id.database.getOrElse(cat.getCurrentDatabase)
    if (cat.tableExists(id)) {
      val kind =
        if (cat.getTableMetadata(id).tableType == CatalogTableType.VIEW) "VIEW"
        else "TABLE"
      spark.sql(s"DROP $kind $db.${id.table}")
    }
    // qualified drops: an unqualified DROP resolves in the session's
    // CURRENT database, which for a qualified store name would miss the
    // store's own tables and could hit an unrelated same-named one
    (versions(spark, table).map(_._2) ++
      cat.listTables(db, s"${id.table}__graft_rw_*").map(_.table))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  private def meta(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The `<table>__vN` versions of a store, ascending by N —
    * discovered from the catalog, so the convention survives restarts
    * (no driver-side registry to lose). */
  private def versions(spark: SparkSession, table: String): Seq[(Int, String)] = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val db = id.database.getOrElse(
      spark.sessionState.catalog.getCurrentDatabase)
    val re = ("^" + java.util.regex.Pattern.quote(id.table.toLowerCase) +
      "__v(\\d+)$").r
    spark.sessionState.catalog.listTables(db, s"${id.table}__v*")
      .flatMap(ti => ti.table.toLowerCase match {
        case re(n) => Some((n.toInt, ti.table))
        case _ => None
      })
      .sortBy(_._1)
  }

  // ---- view-text coupling (writer ↔ recovery parser) -------------------
  // Every view a store ever gets is written through `viewBodySql` and
  // parsed back through `servingVersion` — the TWO halves of one
  // contract: resolveStore's heal check derives the serving version from
  // the view's SQL text (the highest __vN lies mid-swap), so any change
  // to how the writer phrases the view MUST keep the parser matching.
  // LayoutSpec gates the round-trip on a freshly written store and after
  // a rewrite; change either side only with both.

  /** The ONE view body a store's name is ever bound to. */
  private def viewBodySql(table: String, v: Int): String =
    s"SELECT * FROM ${table}__v$v"

  /** Point the store's view at `__v<v>`: `CREATE` for a new store, else
    * the one-op `ALTER`. Analyzing the view body caches that version's
    * relation — file listing included — in THIS session, where an append
    * from another session (a stream's `foreachBatch` clone) never
    * invalidates it, so later reads here would miss those rows
    * (StreamingSpec-caught). Drop that entry: the version lists its files
    * afresh on its next read here, like a table saveAsTable just wrote. */
  private def pointView(spark: SparkSession, table: String, v: Int,
                        verb: String): Unit = {
    spark.sql(s"$verb VIEW $table AS ${viewBodySql(table, v)}")
    spark.sessionState.catalog.refreshTable(
      spark.sessionState.sqlParser.parseTableIdentifier(s"${table}__v$v"))
  }

  /** Parser half of the coupling: the serving version recorded in a
    * view's stored SQL text ([[viewBodySql]]'s `__vN` suffix; the LAST
    * match tolerates a db-qualified or quoted table name containing the
    * pattern). None = not a graft store's view. */
  private[graft] def servingVersion(viewText: String): Option[Int] =
    "__v(\\d+)".r.findAllMatchIn(viewText)
      .map(_.group(1).toInt).toSeq.lastOption

  /**
   * Resolve a store name to the `<table>__vN` table that appends and
   * rewrites must target: the newest version. Readers never need this —
   * `spark.table` resolves the view, and the bucketed scan underneath
   * keeps its exchange-free join property. A name that is not a graft
   * store (no view over a `__vN`) is refused.
   *
   * HEAL: when the serving version (read from the view text through
   * [[servingVersion]] — the one place the serving pointer lives) holds
   * an `r` tombstone and a higher `__vN` exists, a rewrite committed and
   * renamed its result but never repointed the view (it crashed, or is
   * about to repoint). The staged version is a complete store, so this
   * finishes the swap exactly as [[commitVersioned]] would have: repoint
   * the view, drop what the grace policy drops. Idempotent with a live
   * writer's own repoint of the same target, so every writer heals a
   * crashed swap on its next resolve (LayoutSpec-gated).
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
        s"${table}__vN table) — write it with Layout.writeBucketed")
    val newer = vs.map(_._1).filter(_ > cur.get)
    if (newer.nonEmpty && listTokens(spark,
        coordPath(spark, s"${table}__v${cur.get}")).exists(_._2.startsWith("r"))) {
      // ALTER VIEW = one in-place alterTable (atomic for readers);
      // CREATE OR REPLACE VIEW would drop + recreate (see commitVersioned)
      pointView(spark, table, newer.min, "ALTER")
      versions(spark, table).dropRight(2)
        .foreach { case (_, v) => spark.sql(s"DROP TABLE IF EXISTS $v") }
    }
    vs.last._2
  }

  // ---- append/rewrite commit protocol ---------------------------------
  //
  // Catalog operations have no compare-and-swap, so an append racing a
  // rewrite used to be SILENTLY lost: the rewrite's file snapshot predates
  // the append, its view repoint serves a store without those rows, and
  // nothing ever says so. Stores serialize commits through a
  // TOKEN CHAIN — one-byte files `_t%09d` (content: kind `a`ppend or
  // `r`ewrite) in `_graft_coord/` inside
  // the CURRENT backing table's directory (underscore-prefixed: invisible
  // to file indexes; dies with the version, so stale tokens cannot poison
  // a recreated store). A commit is one exclusive `FileContext.rename`
  // (the [[graft.operators.Quantize]] manifest primitive): exactly one
  // writer owns any sequence number.
  //
  //  - an APPEND first commits an INTENT token kind `i` (before any data
  //    lands), writes its data, then commits a FINALIZATION token with
  //    content `a:<intentSeq>`; losing a CAS to other appends just
  //    retries higher, losing it to a REWRITE token refuses loudly (the
  //    rewrite may or may not have snapshotted the rows — never
  //    silently);
  //  - a REWRITE records the latest seq BEFORE listing files — and at
  //    that point REFUSES if any intent ≤ that seq is UNFINALIZED and
  //    younger than the in-flight horizon (the owning append may write
  //    data after this rewrite's listing and then crash before its
  //    finalization — the one case the seq CAS alone cannot see); its
  //    commit token CAS then fails iff ANY commit (intent or
  //    finalization included) landed since — so a rewrite that swaps
  //    provably snapshotted every committed append, including every
  //    crashed append whose data is visible, and one that didn't is
  //    refused and its staging dropped (retry re-reads);
  //  - kind `r` is a TOMBSTONE on the version: once present, the version
  //    is closed — later appends/rewrites resolving it are refused (the
  //    view repoint is mid-flight or crashed; see recovery note below).
  //
  // Crash recovery (window: rewrite crashed between its token commit and
  // the view repoint): a crash AFTER the rename to `__vN+1` is healed by
  // the next [[resolveStore]] (any writer); a crash BEFORE it leaves the
  // version closed until [[recoverVersioned]] rolls the tombstone back.
  // An append crashing between its data write and its finalization now
  // leaves a LIVE intent: every rewrite refuses until the intent has
  // been idle past the horizon (default 24 h), by which time the crashed
  // append's files — if any landed — are in any later listing. This
  // closes the r14/r15 residual ("append crashing between data and token
  // is unprotected for the one rewrite in flight") completely, at the
  // price that one crashed append pauses COMPACTION (never appends,
  // never reads) for the horizon; pass a shorter horizon to
  // rewriteBucketed when the writer is known dead. The bound assumes an
  // append finishes its data write within the horizon of its intent —
  // a >24 h append job must raise it.
  // the sequence number alone is the filename — the KIND lives in the
  // file's one-byte content, never in the name, so an append and a
  // rewrite racing toward the same sequence contend for the SAME rename
  // destination (a kind-suffixed name would let both exclusive renames
  // succeed and the CAS would never conflict)
  private val TokenRe = "_t(\\d{9,})".r

  private[graft] def coordPath(spark: SparkSession,
                        target: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      meta(spark, target).location.toString, "_graft_coord")

  /** (seq, content, mtime) tokens at `coord`, ascending by seq. The
    * content's FIRST char is the kind (`a` append finalization, `i`
    * append intent, `r` rewrite tombstone); a finalization's full
    * content is `a:<intentSeq>` naming the intent it resolves (legacy
    * bare `a` tokens from pre-intent stores read fine — they simply
    * finalize nothing). */
  private def listTokens(spark: SparkSession,
                         coord: org.apache.hadoop.fs.Path)
      : Seq[(Long, String, Long)] = {
    val fs = coord.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(coord)) Seq.empty
    else fs.listStatus(coord).toSeq.collect {
      case st if TokenRe.pattern.matcher(st.getPath.getName).matches() =>
        val TokenRe(n) = st.getPath.getName: @unchecked
        val in = fs.open(st.getPath)
        val content = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString finally in.close()
        (n.toLong, content, st.getModificationTime)
    }.sortBy(_._1)
  }

  /** Intent seqs at `coord` that no finalization token resolves. */
  private def unfinalizedIntents(ts: Seq[(Long, String, Long)])
      : Seq[(Long, Long)] = {
    val finalized = ts.collect {
      case (_, c, _) if c.startsWith("a:") => c.stripPrefix("a:").toLong
    }.toSet
    ts.collect { case (seq, c, mt) if c.startsWith("i") &&
      !finalized(seq) => (seq, mt) }
  }

  /** Exclusive-create token `seq` with `content` — one of the three
    * protocol token contents: `i` (append intent, staged before data),
    * `a:<intentSeq>` (append finalization naming the intent it
    * resolves), `r` (rewrite tombstone). Legacy bare `a` tokens from
    * pre-intent stores still parse (they finalize nothing). Returns
    * false when the seq is taken (another writer committed first). */
  private[graft] def commitToken(spark: SparkSession,
                          coord: org.apache.hadoop.fs.Path, seq: Long,
                          content: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = coord.getFileSystem(conf)
    fs.mkdirs(coord)
    val tmp = new org.apache.hadoop.fs.Path(coord,
      s"_tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(coord.toUri, conf)
    try {
      fc.rename(tmp, new org.apache.hadoop.fs.Path(coord, f"_t$seq%09d"))
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false); false
    }
  }

  private def refuseClosed(spark: SparkSession,
                           coord: org.apache.hadoop.fs.Path, op: String,
                           target: String): Unit =
    if (listTokens(spark, coord).exists(_._2.startsWith("r")))
      throw new IllegalStateException(
        s"$op: a rewrite already committed from $target — the store moved " +
          "(or a rewrite commit is mid-swap; complete or roll back its " +
          "view repoint); retry against the current version")

  /**
   * Crash recovery for a store whose rewrite died MID-COMMIT between its
   * `r` token and its rename: no next version exists, and the version
   * stays CLOSED — appends and rewrites refuse with the mid-swap message
   * — until this runs. (A crash after the rename needs no call: the next
   * [[resolveStore]] completes that swap.) ROLL BACK: delete the `r`
   * tombstone so the current version accepts commits again, and drop
   * any orphaned `__graft_rw_*` staging tables the dead writer left.
   * Returns true if it changed anything; false on a healthy store.
   * Rolling back DESTROYS a live writer's staged result if that writer is
   * merely slow between its token and its rename, so it only fires once
   * the tombstone has been idle past `rollbackHorizonMs` (default 24 h,
   * the [[graft.operators.Quantize.gcCodeStore]] orphan discipline) —
   * pass 0 only when the crashed writer is KNOWN dead (LayoutSpec-gated).
   */
  def recoverVersioned(spark: SparkSession, table: String,
                       rollbackHorizonMs: Long = 24L * 3600 * 1000)
      : Boolean = {
    // resolve first: it heals a post-rename crash, after which a
    // tombstone left on the serving version can only mean a pre-rename one
    val coord = coordPath(spark, resolveStore(spark, table))
    val closed = listTokens(spark, coord).filter(_._2.startsWith("r"))
    if (closed.isEmpty) return false
    val fs = coord.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - rollbackHorizonMs
    if (closed.exists(_._3 >= cutoff)) return false // maybe a live writer
    closed.foreach { case (seq, _, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(coord, f"_t$seq%09d"), false)
    }
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val db = id.database.getOrElse(
      spark.sessionState.catalog.getCurrentDatabase)
    // qualified drop: see dropStore
    spark.sessionState.catalog
      .listTables(db, s"${id.table}__graft_rw_*")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.${t.table}"))
    true
  }

  /**
   * Append rows to a bucketed store under the store's OWN bucket spec,
   * read from the catalog — one new file per touched bucket, and the
   * bucketing (so the exchange-free join) survives any number of appends
   * (PlanSpec-gated). Deriving the spec from the table instead of a
   * caller parameter removes the mismatched-spec footgun entirely; the
   * rows land in the version [[resolveStore]] names.
   *
   * The append participates in the commit-token protocol above: racing a
   * [[rewriteBucketed]]/[[compactBucketed]] REFUSES loudly instead of
   * silently losing the batch to the rewrite's pre-append snapshot
   * (LayoutSpec-gated both ways). The refusal means the batch may or may
   * not be in the new version — id-idempotent ingest paths
   * (`Dedup.ingestBatch*`, whose anti-join skips already-held ids) simply
   * retry (the at-least-once contract); raw callers must re-check.
   */
  def appendBucketed(spark: SparkSession, df: DataFrame,
                     table: String): Unit =
    appendBucketed(spark, df, table, () => ())

  /** CAS-loop a token of `content` into the chain at `coord`, refusing
    * on a rewrite tombstone with `refusal`. Returns the seq taken. */
  private def casToken(spark: SparkSession,
                       coord: org.apache.hadoop.fs.Path, content: String,
                       refusal: => String): Long = {
    var seq = -1L
    while (seq < 0) {
      val ts = listTokens(spark, coord)
      // the `r` check runs before EVERY attempt (not just on CAS
      // failure): a tombstone that landed before our first listing must
      // refuse, not be silently skipped past by taking the next free seq
      if (ts.exists(_._2.startsWith("r")))
        throw new IllegalStateException(refusal)
      val next = ts.lastOption.map(_._1).getOrElse(0L) + 1
      if (commitToken(spark, coord, next, content)) seq = next
    }
    seq
  }

  /** [[appendBucketed]] with a deterministic-interleaving seam:
    * LayoutSpec's crashed-append gate throws from `afterData` to leave
    * the store in the data-written-intent-unfinalized state. */
  private[graft] def appendBucketed(spark: SparkSession, df: DataFrame,
                                    table: String,
                                    afterData: () => Unit): Unit = {
    val target = resolveStore(spark, table)
    val m = meta(spark, target)
    val spec = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"appendBucketed: $target has no bucket spec"))
    val bcols = spec.bucketColumnNames
    val scols =
      if (spec.sortColumnNames.nonEmpty) spec.sortColumnNames else bcols
    val coord = coordPath(spark, target)
    refuseClosed(spark, coord, "appendBucketed", target)
    // INTENT first, data second: from this token on, any rewrite whose
    // file listing might miss this append's rows either sees a live
    // unfinalized intent (refuses at its snapshot) or a token past its
    // recorded seq (its CAS fails) — so a crash anywhere between the
    // data landing and the finalization below can no longer lose rows
    // to an in-flight rewrite's swap
    val intent = casToken(spark, coord, "i",
      s"appendBucketed: a rewrite already committed from $target — the " +
        "store moved; retry against the current version")
    try
      // co-locate the batch per bucket before the append (the
      // writeBucketed note): "one new file per touched bucket" only
      // holds when each write task owns one bucket — an un-shuffled
      // 32-partition batch would append up to 32 files per bucket
      df.repartition(spec.numBuckets, bcols.map(col): _*)
        .write
        .bucketBy(spec.numBuckets, bcols.head, bcols.tail: _*)
        .sortBy(scols.head, scols.tail: _*)
        .mode("append")
        .format("parquet")
        .saveAsTable(target)
    catch {
      case e: Throwable =>
        // a FAILED (not crashed) append leaves no committed files —
        // finalize the intent so one bad batch doesn't pause rewrites
        // for the whole horizon; best-effort (a tombstone landing here
        // means the version closed anyway, the intent is moot)
        try casToken(spark, coord, s"a:$intent", "version closed")
        catch { case _: Throwable => () }
        throw e
    }
    // the seam fires AFTER the data landed and BEFORE the finalization —
    // a throw here leaves exactly the crashed-append state (rows
    // committed, intent live) the rewrite-side horizon gate exists for
    afterData()
    // FINALIZE after the data lands: a rewrite whose token CAS succeeds
    // past ours therefore listed files written before our finalization —
    // ours included; one that read older tokens fails ITS CAS and is
    // refused
    casToken(spark, coord, s"a:$intent",
      s"appendBucketed: a rewrite committed from $target while " +
        "this append ran — the batch may not be in the new " +
        "version; retry against the current version " +
        "(id-idempotent ingest paths are safe to re-run)")
    // the coord dir dies with its version: if TWO rewrites completed
    // inside this append's write→token window, the grace policy has
    // already DROPPED the target table (rows included) and the loop
    // above just recreated an empty coord under the dead directory and
    // "committed" into it — re-resolve and refuse if the store moved,
    // so that pathological window is loud too, never silent
    if (resolveStore(spark, table) != target)
      throw new IllegalStateException(
        s"appendBucketed: $table moved past $target while this append " +
          "ran — the batch is not in the current version; retry " +
          "(id-idempotent ingest paths are safe to re-run)")
  }

  /**
   * Compact a bucketed table back to ONE file per bucket, preserving its
   * bucket spec. Every [[graft.operators.Dedup.ingestBatch]]-style append
   * adds a file per touched bucket; the bucketing (and therefore the
   * exchange-free join) survives any number of appends, but bucket file
   * counts grow without bound with ingest cadence — scan fan-out,
   * footer/open overhead, and ever-smaller row groups. Compaction
   * restores one sorted file per bucket: the repartition keys rows by
   * the bucket function itself (`repartition(n, bucketCols)` = murmur3
   * pmod n = Spark's bucket id), so each task owns exactly one bucket
   * and writes exactly one file (PlanSpec-gated via the executed scan's
   * `numFiles`; q138-gated: content identical, one file per bucket).
   *
   * Honest limit: this does NOT remove the sort-merge join's store-side
   * sort. Since Spark 3.0 a bucketed scan reports no `outputOrdering`
   * unless `spark.sql.legacy.bucketedTableScan.outputOrdering` is on
   * (that conf trades scan parallelism for order and is off for a
   * reason), so SMJ re-sorts within partitions regardless of file
   * layout; the `sortBy` still pays through run-length-friendly parquet
   * encoding and tight fp min/max footer ranges.
   *
   * Swap semantics — see [[rewriteBucketed]]: one atomic view repoint
   * (concurrent-reader safe). Cost is one O(store) rewrite with a single
   * full shuffle; amortize by cadence (e.g. every N appends), not per
   * ingest.
   */
  def compactBucketed(spark: SparkSession, table: String): Unit =
    rewriteBucketed(spark, table)(identity)

  /**
   * Rewrite a bucketed store in place through `transform`, restoring one
   * sorted file per bucket — the maintenance primitive behind
   * [[compactBucketed]] (transform = identity) and row deletion
   * ([[graft.operators.Dedup.removeFromFingerprintStore]]'s anti-join).
   *
   * Swap semantics: the rewrite lands in `<table>__v(N+1)` and ONE
   * `ALTER VIEW` repoints the store name — atomic for concurrent readers
   * (LayoutSpec reader-loop gate); the outgoing version survives one
   * generation for in-flight plans, older versions drop.
   *
   * Reads the table's FILES by path (see inline note), parquet stores
   * only (the provider guard below — a non-parquet bucketed table would
   * otherwise be silently rewritten to a format its consumers don't
   * expect); partitioned tables refused (rewrite each partition's own
   * bucketed table instead — [[graft.operators.Quantize.removeFromCodeStore]]
   * is the per-partition form for the cell-partitioned code store).
   */
  def rewriteBucketed(spark: SparkSession, table: String)
                     (transform: DataFrame => DataFrame): Unit =
    rewriteBucketed(spark, table, () => ())(transform)

  /** How long an UNFINALIZED append intent blocks rewrites: past this
    * idle age the owning append is presumed crashed, and its data — if
    * any landed — landed long before any fresh file listing, so the
    * rewrite may proceed. Must exceed any append job's intent→data
    * latency (24 h: far past a write job's lifetime — the
    * [[graft.operators.Quantize.gcCodeStore]] orphan discipline). */
  private[graft] val DefaultInFlightHorizonMs: Long = 24L * 3600 * 1000

  /** [[rewriteBucketed]] with an explicit in-flight-append horizon — the
    * operator escape when a crashed append's stale intent is KNOWN dead
    * (pass 0 to ignore all unfinalized intents). */
  def rewriteBucketed(spark: SparkSession, table: String,
                      inFlightHorizonMs: Long)
                     (transform: DataFrame => DataFrame): Unit =
    rewriteBucketed(spark, table, () => (), inFlightHorizonMs)(transform)

  /** [[rewriteBucketed]] with a deterministic-interleaving seam: the
    * LayoutSpec race gates inject an append (or a competing rewrite)
    * between the staging write and the commit. */
  private[graft] def rewriteBucketed(spark: SparkSession, table: String,
                                     beforeCommit: () => Unit,
                                     inFlightHorizonMs: Long =
                                       DefaultInFlightHorizonMs)
                                    (transform: DataFrame => DataFrame): Unit = {
    val target = resolveStore(spark, table)
    val m = meta(spark, target)
    val spec = m.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"rewriteBucketed: $target has no bucket spec"))
    // the path read below sees only file columns; a partitioned table's
    // partition values live in directory names and would silently read
    // back as NULL — refuse loudly (rewrite such tables per-partition)
    require(m.partitionColumnNames.isEmpty,
      s"rewriteBucketed: $target is partitioned on " +
        s"${m.partitionColumnNames.mkString(",")}; rewrite each " +
        "partition's own bucketed table instead")
    require(m.provider.exists(_.equalsIgnoreCase("parquet")),
      s"rewriteBucketed: $target provider is " +
        s"${m.provider.getOrElse("unknown")}; only parquet stores are " +
        "supported (the rewrite would change the table's format)")
    val bcols = spec.bucketColumnNames
    val scols =
      if (spec.sortColumnNames.nonEmpty) spec.sortColumnNames else bcols
    // rewrites land in a NONCE-named staging table, then COMMIT
    // by renaming to __v(N+1) + repointing the view — two writers racing
    // toward the same version can never clobber each other's data (the
    // rename refuses an existing name), and a stale writer is REFUSED by
    // the generation check in commitVersioned instead of silently
    // overwriting the other's rewrite (last-swap-wins)
    // expected comes from the SUFFIX of the snapshot actually read, not a
    // second catalog listing — a commit landing between resolveStore and
    // a re-listing would otherwise move the guard's expectation along
    // with it and wave the stale rewrite through (the exact lost update
    // commitVersioned exists to refuse)
    val expected = target.substring(target.lastIndexOf("__v") + 3).toInt
    val dest =
      s"${table}__graft_rw_${java.util.UUID.randomUUID().toString.take(8)}"
    // token snapshot BEFORE the file listing below (spark.read builds its
    // file index eagerly): commit-token CAS success at seq0+1 then proves
    // no append committed after this point — every committed append's
    // files were on disk when the listing ran (appends token AFTER their
    // data lands)
    val coord = coordPath(spark, target)
    refuseClosed(spark, coord, "rewriteBucketed", target)
    val seq0 = {
      val ts = listTokens(spark, coord)
      // LIVE-INTENT refusal: an append whose intent is committed but not
      // finalized may write data files AFTER the file listing below and
      // then crash before its finalization — the one interleaving the
      // seq CAS cannot see (intents landing after this snapshot take
      // seq0+1 and fail our CAS instead). Stale intents (idle past the
      // horizon) are crashed appends whose files, if any, predate any
      // listing taken now — safe to proceed past (LayoutSpec-gated
      // both ways).
      val cutoff = System.currentTimeMillis() - inFlightHorizonMs
      val live = unfinalizedIntents(ts).filter(_._2 >= cutoff)
      if (live.nonEmpty)
        throw new IllegalStateException(
          s"rewriteBucketed: append intent(s) ${live.map(_._1).mkString(",")} " +
            s"on $target are unfinalized — an append is in flight (or " +
            "crashed less than the horizon ago) and its rows might not " +
            "be in this rewrite's snapshot; retry after it finalizes, or " +
            "pass a shorter inFlightHorizonMs if the writer is known dead")
      ts.lastOption.map(_._1).getOrElse(0L)
    }
    spark.sql(s"DROP TABLE IF EXISTS $dest")
    // read the table's FILES by path, not the catalog table: the bucketed
    // relation already claims HashPartitioning(bcols, n), so the
    // repartition below would be elided as redundant — and then
    // DisableUnnecessaryBucketedScan (no join/agg above, just a write)
    // reverts the scan to file-split partitions, producing one file per
    // (task × bucket) instead of one per bucket (measured: 16 for 4
    // buckets). A path scan has unknown partitioning, so the shuffle
    // stays and each write task owns exactly one bucket.
    transform(spark.read.schema(m.schema).parquet(m.location.toString))
      .repartition(spec.numBuckets, bcols.map(col): _*)
      .write
      .bucketBy(spec.numBuckets, bcols.head, bcols.tail: _*)
      .sortBy(scols.head, scols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(dest)
    beforeCommit()
    commitVersioned(spark, table, expected, dest, coord, seq0)
  }

  /**
   * Commit a rewrite staged in `dest`: rename it to
   * `__v(expected+1)` and repoint the view — still ONE reader-visible
   * catalog op (the repoint; the rename touches a name no reader
   * resolves). CONCURRENT-WRITER contract (LayoutSpec-gated): if the
   * store's generation moved past `expected` while the rewrite ran —
   * another compaction/retraction committed — the commit is REFUSED and
   * the staged table dropped, because last-swap-wins would serve a store
   * missing that writer's changes; retry the whole rewrite against the
   * current version. The rename itself refuses an already-taken version
   * name, closing the check-to-rename window. Appends participate
   * through the commit-token chain (the protocol note above
   * [[appendBucketed]]): the token CAS at `seq0 + 1` refuses this commit
   * if ANY append committed after the rewrite's file-listing snapshot —
   * an interleaved append is either provably included or the rewrite is
   * refused, never silently dropped (LayoutSpec-gated); the committed
   * `r` token then closes the outgoing version against late appends.
   */
  private[graft] def commitVersioned(spark: SparkSession, table: String,
                                     expected: Int, dest: String,
                                     coord: org.apache.hadoop.fs.Path,
                                     seq0: Long): Unit = {
    val cur = versions(spark, table).last._1
    if (cur != expected) {
      spark.sql(s"DROP TABLE IF EXISTS $dest")
      throw new IllegalStateException(
        s"rewriteBucketed: $table generation moved (expected __v$expected," +
          s" found __v$cur) — concurrent writer detected; retry against " +
          "the current version")
    }
    if (!commitToken(spark, coord, seq0 + 1, "r")) {
      spark.sql(s"DROP TABLE IF EXISTS $dest")
      throw new IllegalStateException(
        s"rewriteBucketed: an append (or another rewrite) committed to " +
          s"$table after this rewrite's file snapshot — its rows are not " +
          "in the staged result; retry against the current version")
    }
    val vdest = s"${table}__v${expected + 1}"
    // only the name-taken case is a concurrent-writer refusal; any other
    // failure (transient metastore error, fatal) propagates as itself —
    // the nonce-named staging table survives for retry/diagnosis instead
    // of a completed full-store rewrite being dropped on a blip
    try spark.sql(s"ALTER TABLE $dest RENAME TO $vdest")
    catch {
      case e: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException =>
        spark.sql(s"DROP TABLE IF EXISTS $dest")
        throw new IllegalStateException(
          s"rewriteBucketed: another writer took $vdest — retry against " +
            "the current version", e)
    }
    // ONE catalog op — and it must be ALTER VIEW, not CREATE OR REPLACE
    // VIEW: Spark's CreateViewCommand implements replace as dropTable +
    // createTable (two catalog ops; javap-verified on 4.1.2), so a
    // reader resolving between them sees NO view at all — the LayoutSpec
    // reader-loop gate caught exactly that (a one-in-hundreds flake that
    // had been silent luck). AlterViewAsCommand is a single
    // SessionCatalog.alterTable, an in-place metadata replace: a
    // concurrent reader resolves either the old or the new version,
    // never a missing name. Then drop everything older than the version
    // just left.
    pointView(spark, table, expected + 1, "ALTER")
    versions(spark, table).dropRight(2)
      .foreach { case (_, v) => spark.sql(s"DROP TABLE IF EXISTS $v") }
  }
}
