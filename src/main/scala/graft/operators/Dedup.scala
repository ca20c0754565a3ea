package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/**
 * Deduplication operators for web-scale corpora — exact, MinHash+LSH,
 * SimHash, n-gram Jaccard, and embedding-cosine near-dup. North-star
 * operators (BASELINE.json): the reference has no dedup primitive (any
 * such logic would be user Python inside a step handler).
 *
 * Scale design: every variant is expressed as hash → groupBy/join on a
 * *bucket key*, so the shuffle moves only (key, id) pairs or banded
 * signatures — never full documents — and candidate verification happens
 * after the blocking step has cut the candidate set from O(n²) to
 * near-linear. No driver-side state anywhere.
 */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /**
   * Exact dedup on normalized content: keeps the row with the minimum `idCol`
   * per fingerprint (deterministic winner, unlike `dropDuplicates` whose
   * survivor is partition-order-dependent — unacceptable for an oracle check
   * or a reproducible 100 TB pipeline run).
   */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // namespaced temp columns (like streamingDedup) so a caller's own
    // "__fp" survives untouched
    val fp = "__graft_dedup_fp"
    val winner = "__graft_dedup_min_id"
    // ONE scan of `df`: the winner is a window min over the fingerprint,
    // so an unpersisted upstream is evaluated once. The window's hash
    // partitioning on fp satisfies the dropDuplicates aggregate too — one
    // full-row shuffle in all.
    // The trailing dropDuplicates guards a dirty corpus where the SAME
    // (id, content) row was ingested twice (retry) — the min filter alone
    // would keep both copies, defeating the dedup. Rows agreeing on
    // (id, content) but differing elsewhere collapse to one arbitrarily;
    // ids are expected unique per row, as in minhashLsh.
    df.withColumn(fp, fingerprint(col(textCol)))
      .withColumn(winner, min(col(idCol)).over(Window.partitionBy(col(fp))))
      .filter(col(idCol) === col(winner))
      .dropDuplicates(fp, idCol).drop(fp, winner)
  }

  /**
   * Incremental (cross-snapshot) exact dedup: drop `batch` rows whose
   * normalized content already exists in `corpus` — the continuous-
   * ingestion path of a long-lived corpus: each incoming crawl batch is
   * checked against what is already stored WITHOUT reprocessing the store.
   * Output: the batch rows that are genuinely new (original columns).
   *
   * Scale shape (100 TB store, TB-scale batch):
   *  - The corpus side reduces to DISTINCT fingerprints BEFORE the join —
   *    partial aggregation makes the corpus shuffle carry one 32-byte md5
   *    per distinct content, not per row; the corpus TEXT is scanned for
   *    fingerprinting but never shuffled. In production the fingerprints
   *    come from a bucketed store written at ingest by
   *    [[writeFingerprintStore]] (then the corpus side is a zero-exchange
   *    scan — [[dedupAgainstStore]]; this operator accepts any frame).
   *  - With `bloomItems > 0`, a Bloom filter over the corpus's 64-bit
   *    fingerprints is built in one distributed pass
   *    (`DataFrameStatFunctions.bloomFilter`, treeAggregate) and applied to
   *    the batch scan as a codegen'd pre-filter
   *    ([[graft.functions.expressions.BloomMightContainLong]]): rows it
   *    rejects are DEFINITELY new and never enter the anti-join shuffle —
   *    only true dups + an fpp sliver of false positives shuffle, and the
   *    exact anti-join corrects the false positives, so fpp trades shuffle
   *    volume, never correctness. At 1e9 corpus docs / 1% fpp the filter
   *    is ~1.1 GiB (task-binary broadcast); past broadcastable size, skip
   *    the Bloom and rely on the bucketed-store anti-join.
   *
   * The anti-join key is the 128-bit md5 fingerprint (64-bit keys see
   * birthday collisions from ~2^32 distinct contents — a collision here
   * would silently DROP a new document); the 64-bit lane is used only
   * inside the Bloom, where a collision costs shuffle, not data.
   */
  def dedupAgainst(batch: DataFrame, corpus: DataFrame, textCol: String,
                   idCol: String, bloomItems: Long = 0L,
                   bloomFpp: Double = 0.01): DataFrame = {
    val fps = corpus.select(fingerprint(col(textCol)).as("fp")).distinct()
    val bloom =
      if (bloomItems <= 0L) None
      else Some(corpusBloom(corpus, textCol, bloomItems, bloomFpp))
    dedupAgainstFingerprints(batch, textCol, fps, bloom)
  }

  /** Per-snapshot Bloom over the corpus's 64-bit fingerprint lane — build
    * ONCE per snapshot (one distributed pass) and reuse for every incoming
    * batch; rebuilding per batch costs more than it routes around
    * (measured, SURVEY §6). */
  def corpusBloom(corpus: DataFrame, textCol: String, expectedItems: Long,
                  fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    corpus.stat.bloomFilter(fingerprint64(col(textCol)), expectedItems, fpp)

  /**
   * The production form of [[dedupAgainst]]: dedup a batch against a
   * snapshot's FINGERPRINT STORE — a one-column (`fp`: md5 hex) frame,
   * written at ingest by [[writeFingerprintStore]] (bucketed by `fp` for
   * a zero-exchange store side; [[dedupAgainstStore]] is the composed
   * read path) — plus an optional pre-built per-snapshot Bloom
   * ([[corpusBloom]]). The corpus text is never touched on the per-batch
   * path; with the Bloom, definitely-new batch rows skip the anti-join
   * shuffle too.
   */
  def dedupAgainstFingerprints(batch: DataFrame, textCol: String,
      corpusFps: DataFrame,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None)
      : DataFrame = {
    require(corpusFps.columns.length == 1,
      s"corpusFps must be a single fingerprint column, " +
        s"got ${corpusFps.columns.toSeq}")
    val fp = "__graft_dedup_fp"
    val fps = corpusFps.toDF(fp)
    val keyed = batch.withColumn(fp, fingerprint(col(textCol)))
    val deduped = bloom match {
      case None => keyed.join(fps, Seq(fp), "left_anti")
      case Some(b) =>
        val maybeSeen = graft.functions.expressions.GraftExpressions
          .bloomMightContainLong(b, fingerprint64(col(textCol)))
        // two-path union: the batch scan is read twice (cheap, codegen'd
        // filters), the JOIN sees only the maybe-seen sliver
        keyed.filter(!maybeSeen)
          .unionByName(keyed.filter(maybeSeen).join(fps, Seq(fp), "left_anti"))
    }
    deduped.drop(fp)
  }

  /**
   * Materialize a snapshot's fingerprint store: one `fp` (md5 hex) row
   * per DISTINCT normalized content, BUCKETED BY `fp` — fingerprint the
   * corpus ONCE at ingest; every subsequent batch anti-join shuffles
   * only the (small) batch side into the store's bucketing while the
   * store reads co-located buckets with no exchange (SURVEY §6's
   * incremental study measured the per-call corpus recompute's residual
   * anti-join shuffle at 23.8 MiB at sf0.1 — this store eliminates it
   * and the corpus text scan with it). The distinct() means the store
   * is also the smallest possible frame: 32 bytes per unique content.
   */
  def writeFingerprintStore(corpus: DataFrame, textCol: String,
                            table: String, buckets: Int = 8): Unit =
    Layout.writeBucketed(
      corpus.select(fingerprint(col(textCol)).as("fp")).distinct(),
      table, Seq("fp"), buckets)

  /**
   * [[dedupAgainstFingerprints]] off a [[writeFingerprintStore]] ingest
   * store: rows of `batch` whose content is not in the stored snapshot
   * (identical to the in-plan [[dedupAgainst]] — q126 oracle gate). The
   * `merge` hint forces the at-scale sort-merge anti-join so the plan
   * proves bucket co-location (no exchange above the store scan —
   * PlanSpec gate), not a fixture-scale broadcast. Compose with
   * [[corpusBloom]] (built once per snapshot) to keep definitely-new
   * rows out of the anti-join entirely.
   */
  def dedupAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, textCol: String, table: String,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None)
      : DataFrame =
    dedupAgainstFingerprints(batch, textCol,
      Layout.readTable(spark, table).hint("merge"), bloom)

  /**
   * The full incremental-ingest step over a [[writeFingerprintStore]]
   * snapshot — the loop a production corpus runs on every arriving batch:
   * exact-dedup WITHIN the batch ([[exact]]: min-id per normalized
   * content), drop rows whose content the store already holds
   * ([[dedupAgainstStore]]), APPEND the survivors' fingerprints to the
   * store, and return the survivors. After the call the store answers for
   * `corpus ∪ survivors`, so ingesting the same batch twice passes nothing
   * the second time (DedupSpec-gated), and a sequence of ingests equals
   * the one-shot store over the concatenated corpus (q137 oracle).
   *
   * Scale shape: the append writes one new immutable segment under the
   * store's own bucket spec ([[Layout.appendBucketed]] — the spec comes
   * from the store's catalog entry, so it can never mismatch) with one
   * file per touched bucket, and commits a new version over the old
   * segments plus it, so the store-side anti-join stays exchange-free
   * after ANY number of ingests (the version's union of same-spec
   * bucketed scans keeps `outputPartitioning`; PlanSpec-gated on an
   * appended store). A lost commit race is retried on top of the winner,
   * never refused. The survivors are materialized into an RDD BEFORE the
   * append and the returned frame is re-planned from that RDD: its
   * lineage no longer reads the store, and the RDD handle is invisible to
   * the SQL cache manager that the append's catalog changes notify. In
   * production, write survivors to the corpus sink first and append
   * fingerprints from the written files; this in-memory form is the
   * single-job composition of the same steps.
   */
  def ingestBatch(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, textCol: String, idCol: String, table: String,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None)
      : DataFrame = {
    // force NOW: the anti-join must read the PRE-append store snapshot
    val survivors = OpCache.materialize(
      dedupAgainstStore(spark, exact(batch, textCol, idCol), textCol,
        table, bloom))
    Layout.appendBucketed(spark,
      survivors.select(fingerprint(col(textCol)).as("fp")).distinct(), table)
    survivors
  }

  /**
   * [[ingestBatch]]'s LSH-tier sibling — the incremental-ingest loop for
   * a [[writeLshStore]] store, closing the last lifecycle asymmetry
   * (append existed only for the fingerprint tier): near-dup-dedup the
   * batch WITHIN itself ([[minhashLsh]] pairs + [[keepRepresentatives]],
   * min-id per duplicate component), drop rows that near-duplicate
   * STORED content ([[minhashLshAgainstStore]] matches, anti-joined on
   * the batch id), APPEND the survivors' band triples to
   * `<table>_bands` and signatures to `<table>_sigs` under the stores'
   * own bucket specs, and return the survivors. After the call the
   * store answers for `corpus ∪ survivors` — the appended rows are
   * byte-identical to what [[writeLshStore]] over the union would have
   * written (same [[lshSignatures]]/[[lshBandBuckets]] formulas — the
   * shared-formula discipline), so serving a later batch against the
   * appended store equals serving it against a one-shot store
   * (q146 oracle gate), and re-ingesting the same batch passes nothing
   * (every row is an exact dup of stored content — est_jaccard 1.0;
   * DedupSpec-gated).
   *
   * Scale shape: per batch, only the BATCH is shingled/minhashed; both
   * store sides read co-located buckets exchange-free (PlanSpec-gated
   * post-append), and each append is one new segment with one file per
   * touched bucket. The same RDD-materialize-before-append discipline as
   * [[ingestBatch]] applies.
   */
  def ingestBatchLsh(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, textCol: String, idCol: String, table: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val rows = lshRows(numHashes, bands)
    val inBatch = keepRepresentatives(batch,
      minhashLsh(batch, textCol, idCol, shingleK, numHashes, bands,
        threshold), idCol)
    val matched = minhashLshAgainstStore(spark, inBatch, textCol, idCol,
        table, shingleK, numHashes, bands, threshold)
      .select(col("batch_id").as(idCol)).distinct()
    // force NOW: matches must come from the PRE-append store snapshot
    val survivors = OpCache.materialize(
      inBatch.join(matched, Seq(idCol), "left_anti"))
    val sigs = OpCache.track(
      lshSignatures(survivors, textCol, idCol, shingleK, numHashes)
        .persist())
    sigs.count() // prime the shared cache before the concurrent writers
    // independent tables over the same cached batch signatures — overlap
    // the two appends (the writeLshStore note)
    Par.par2(
      Layout.appendBucketed(spark,
        lshBandBuckets(sigs, bands, rows), s"${table}_bands"),
      Layout.appendBucketed(spark, sigs, s"${table}_sigs"))
    survivors
  }

  /**
   * [[ingestBatch]]'s semantic-tier sibling — the incremental-ingest
   * loop for a [[writeAssignedCorpus]] store: assign the batch with the
   * STORED centroids (pass the centroid frame kept with the store —
   * re-training would shift every cell boundary), SemDeDup the batch
   * within itself ([[semDedupPairsAssigned]] + [[keepRepresentatives]]),
   * drop rows that semantically duplicate STORED content
   * ([[semDedupBatchAgainstStore]] matches), APPEND the survivors'
   * (cell, id, vector) assignments under the store's own bucket spec,
   * and return the survivors. The appended rows reuse the batch's OWN
   * assignment pass (one broadcast-join + map-side argmax for the whole
   * call), and are exactly what [[writeAssignedCorpus]] over the union
   * would hold, so batch-vs-store serving after the append equals the
   * one-shot store (q147 oracle gate); re-ingest passes nothing (every
   * row cosine-matches its own stored copy at 1.0 ≥ tau;
   * DedupSpec-gated). RDD-materialize-before-append discipline as in
   * [[ingestBatch]].
   */
  def ingestBatchSemDedup(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String, centroids: DataFrame,
      vecCol: String, idCol: String, probes: Int, tau: Double): DataFrame = {
    val assignedBatch = OpCache.track(
      Similarity.ivfAssignMulti(batch, centroids, vecCol, idCol, probes)
        .select(col("cell"), col(idCol), col(vecCol)).persist())
    val inBatch = keepRepresentatives(assignedBatch,
      semDedupPairsAssigned(assignedBatch, vecCol, idCol, tau), idCol)
    val matched = semDedupPairsBipartite(inBatch,
        Layout.readTable(spark, table).hint("merge"), vecCol, idCol, tau)
      .select(col("batch_id").as(idCol)).distinct()
    // force NOW: matches must come from the PRE-append store snapshot;
    // the surviving ASSIGNMENTS (all probed cells per id, the
    // writeAssignedCorpus row shape) are what the store gains
    val survivors = OpCache.materialize(
      inBatch.join(matched, Seq(idCol), "left_anti"))
    Layout.appendBucketed(spark, survivors, table)
    survivors.select(col(idCol), col(vecCol)).dropDuplicates(idCol)
  }

  /**
   * Delete content from the fingerprint store — the retraction half of
   * the ingest lifecycle (takedowns, right-to-erasure, source
   * retractions): rewrite the store WITHOUT the fingerprints of
   * `removedTexts`, preserving the bucket spec and restoring one file
   * per bucket ([[Layout.rewriteBucketed]], so a deletion doubles as a
   * compaction). After the call [[dedupAgainstStore]] passes the removed
   * content again — the store has genuinely forgotten it
   * (DedupSpec-gated), which an append-only tombstone would not achieve
   * (and the 32-byte fp rows themselves must go: retention policies
   * apply to derived data too). Cost is one O(store) rewrite; batch
   * removals on a maintenance cadence, like compaction.
   */
  def removeFromFingerprintStore(spark: org.apache.spark.sql.SparkSession,
      table: String, removedTexts: DataFrame, textCol: String): Unit = {
    val gone = removedTexts
      .select(fingerprint(col(textCol)).as("fp")).distinct()
    Layout.rewriteBucketed(spark, table)(
      _.join(gone, Seq("fp"), "left_anti"))
  }

  /** [[removeFromFingerprintStore]]'s LSH-tier sibling: delete the given
    * document ids from BOTH halves of a [[writeLshStore]] store (band
    * triples and signatures), each rewritten through
    * [[Layout.rewriteBucketed]] — bucket specs preserved, one file per
    * bucket restored. After the call [[minhashLshAgainstStore]] reports
    * no matches against the removed documents (DedupSpec-gated). */
  def removeFromLshStore(spark: org.apache.spark.sql.SparkSession,
      table: String, removedIds: DataFrame): Unit = {
    val gone = removedIds.toDF("id").distinct()
    Seq(s"${table}_bands", s"${table}_sigs").foreach(t =>
      Layout.rewriteBucketed(spark, t)(_.join(gone, Seq("id"), "left_anti")))
  }

  /** [[removeFromFingerprintStore]]'s semantic-tier sibling: delete the
    * given ids from a [[writeAssignedCorpus]] store. */
  def removeFromAssignedCorpus(spark: org.apache.spark.sql.SparkSession,
      table: String, removedIds: DataFrame, idCol: String): Unit = {
    val gone = removedIds.toDF(idCol).distinct()
    Layout.rewriteBucketed(spark, table)(
      _.join(gone, Seq(idCol), "left_anti"))
  }

  /**
   * Incremental near-dup candidates: MinHash+LSH banding of `batch`
   * against `corpus` (bipartite — no corpus self-pairs, no batch
   * self-pairs), verified by signature-agreement estimated Jaccard.
   * Output: (batch_id, corpus_id, est_jaccard). Compose with
   * [[ngramJaccard]] over the union frame for exact verification, and
   * anti-join the surviving batch ids to drop near-dups of stored content.
   *
   * Scale shape: same slim banding as [[minhashLsh]] — both sides shuffle
   * bare (id, band, bucket) triples; signatures attach per candidate pair.
   * In production precompute the corpus side at ingest with
   * [[writeLshStore]] and serve batches via [[minhashLshAgainstStore]]
   * (zero-exchange corpus side, no corpus text in the per-batch plan);
   * this operator accepts any two frames and recomputes both (the
   * fixture-scale / ad-hoc form, and the q127 equivalence oracle).
   */
  def minhashLshAgainst(batch: DataFrame, corpus: DataFrame, textCol: String,
                        idCol: String, shingleK: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val rows = lshRows(numHashes, bands)
    val bSigs = OpCache.track(
      lshSignatures(batch, textCol, idCol, shingleK, numHashes).persist())
    val cSigs = OpCache.track(
      lshSignatures(corpus, textCol, idCol, shingleK, numHashes).persist())
    val cands = lshBandBuckets(bSigs, bands, rows).alias("l")
      .join(lshBandBuckets(cSigs, bands, rows).alias("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .select(col("l.id").as("batch_id"), col("r.id").as("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    lshVerifyBipartite(cands, bSigs, cSigs, numHashes, threshold)
  }

  /** One (id, sig) row per document — the signature frame both the
    * in-plan bipartite path and the ingest store write share (the
    * q119 shared-formula discipline: store and scan paths cannot drift
    * because they are the same code). */
  private[graft] def lshSignatures(df: DataFrame, textCol: String,
      idCol: String, shingleK: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
      minhashSignatureFromHashes(
        shingleHashes(col(textCol), shingleK), numHashes).as("sig"))

  /** Rows per band: `bands` must divide `numHashes`. */
  private[graft] def lshRows(numHashes: Int, bands: Int): Int = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    numHashes / bands
  }

  /** One exploded `struct(band, bucket)` per LSH band of the signature
    * column `sig` — the band formula every banding path (batch, store,
    * stream) shares, so their buckets cannot drift. */
  private[graft] def lshBands(sig: Column, bands: Int, rows: Int): Column =
    explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rows + 1, rows)).as("bucket"))
    }: _*))

  /** Explode a signature frame into bare (id, band, bucket) triples —
    * the slim banding shape ([[minhashLsh]]'s shuffle note): the
    * `numHashes`-long signature never rides the candidate join. */
  private[graft] def lshBandBuckets(sigs: DataFrame, bands: Int,
                                    rows: Int): DataFrame =
    sigs.select(col("id"), lshBands(col("sig"), bands, rows).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))

  /** Estimated Jaccard of two signatures: their agreement rate, rounded
    * to 4 places. */
  private[graft] def lshEstJaccard(a: Column, b: Column,
                                   numHashes: Int): Column =
    round(size(filter(zip_with(a, b, (x, y) => x === y), t => t))
      .cast("double") / lit(numHashes), 4)

  /** Shared verification tail of the bipartite LSH paths: attach both
    * signatures per candidate pair, estimate Jaccard as signature
    * agreement, threshold. */
  private[graft] def lshVerifyBipartite(cands: DataFrame, bSigs: DataFrame,
      cSigs: DataFrame, numHashes: Int, threshold: Double): DataFrame =
    cands
      .join(bSigs.select(col("id").as("batch_id"), col("sig").as("sig_a")), "batch_id")
      .join(cSigs.select(col("id").as("corpus_id"), col("sig").as("sig_b")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        lshEstJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("batch_id", "corpus_id")

  /** Self near-dup pairs from a banded (id, band, bucket) frame and its
    * (id, sig) signatures — [[minhashLsh]] and [[minhashLshPairsFromStore]]
    * both end here: band-bucket self-join into deduped candidate pairs
    * (id_a < id_b; a pair may collide in several bands), attach both
    * signatures per pair, verify. Output: (id_a, id_b, est_jaccard). */
  private def lshSelfPairs(banded: DataFrame, sigs: DataFrame,
      numHashes: Int, threshold: Double): DataFrame =
    banded.alias("l").join(banded.alias("r"),
        col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        lshEstJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      // ids are expected unique; on a dirty corpus with duplicate ids the
      // attach joins would fan a pair out once per id occurrence — keep the
      // one-row-per-pair contract regardless of input hygiene
      .dropDuplicates("id_a", "id_b")

  /**
   * Materialize the corpus's LSH ingest store: the band buckets as
   * `<table>_bands` BUCKETED BY (band, bucket) — the candidate join's
   * key, so an incoming batch's exploded bands shuffle INTO the store's
   * bucketing while the corpus side reads co-located buckets with no
   * exchange — and the signatures as `<table>_sigs` bucketed by `id`,
   * so the per-pair verification attach is likewise exchange-free on
   * the store side. Shingle → minhash runs ONCE at ingest; the per-batch
   * path never touches corpus text (the [[writeAssignedCorpus]] /
   * [[graft.operators.Rank.writeIndex]] mechanism applied to the
   * most-exercised production loop, incremental ingest).
   */
  def writeLshStore(corpus: DataFrame, textCol: String, idCol: String,
                    table: String, shingleK: Int = 3, numHashes: Int = 64,
                    bands: Int = 16, buckets: Int = 8): Unit = {
    val rows = lshRows(numHashes, bands)
    val sigs = OpCache.track(
      lshSignatures(corpus, textCol, idCol, shingleK, numHashes).persist())
    sigs.count() // prime the shared cache before the concurrent writers
    // the two stores are independent tables over the same cached
    // signature frame — overlap their writes (guide §2.6 via Par)
    Par.par2(
      Layout.writeBucketed(lshBandBuckets(sigs, bands, rows),
        s"${table}_bands", Seq("band", "bucket"), buckets),
      Layout.writeBucketed(sigs, s"${table}_sigs", Seq("id"), buckets))
  }

  /**
   * [[minhashLshAgainst]] off a [[writeLshStore]] ingest store: identical
   * pairs to the in-plan path at the same parameters (q127 oracle gate)
   * — only the BATCH is shingled/minhashed; the corpus side is two
   * bucketed scans that feed their joins with no exchange (PlanSpec
   * gate), and corpus text is never re-read on the per-batch path.
   * `merge` hints force the at-scale sort-merge shape so bucket
   * co-location, not a fixture-scale broadcast estimate, is what the
   * plan proves.
   */
  def minhashLshAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, textCol: String, idCol: String, table: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val rows = lshRows(numHashes, bands)
    val bSigs = OpCache.track(
      lshSignatures(batch, textCol, idCol, shingleK, numHashes).persist())
    val cBands = Layout.readTable(spark, s"${table}_bands").hint("merge")
    val cSigs = Layout.readTable(spark, s"${table}_sigs").hint("merge")
    val cands = lshBandBuckets(bSigs, bands, rows).alias("l")
      .join(cBands.alias("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .select(col("l.id").as("batch_id"), col("r.id").as("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    lshVerifyBipartite(cands, bSigs, cSigs, numHashes, threshold)
  }

  /**
   * Corpus SELF near-dup pairs off a [[writeLshStore]] ingest store —
   * the [[semDedupPairsFromStore]] analog for the LSH tier, completing
   * its serving surface (batch-vs-store existed via
   * [[minhashLshAgainstStore]]; this serves the standing corpus's own
   * pair set, e.g. for [[graft.operators.TextProfile.corpusReportExt]]'s
   * near-dup column, without re-shingling anything): the candidate
   * stage SELF-joins the (band, bucket)-bucketed band store — both
   * sides read co-located buckets, no exchange hashes on the band key —
   * and verification attaches the id-bucketed signature store. Output:
   * (id_a, id_b, est_jaccard), id_a < id_b — identical pairs to
   * [[minhashLsh]] over the stored corpus at the same parameters
   * (DedupSpec-gated).
   */
  def minhashLshPairsFromStore(spark: org.apache.spark.sql.SparkSession,
      table: String, numHashes: Int = 64,
      threshold: Double = 0.7): DataFrame =
    lshSelfPairs(Layout.readTable(spark, s"${table}_bands").hint("merge"),
      Layout.readTable(spark, s"${table}_sigs").hint("merge"),
      numHashes, threshold)

  /**
   * MinHash signature from a shingle-hash array column: all `numHashes`
   * (a*x+b mod p) lane minima in ONE codegen'd pass over the array — the
   * native [[graft.functions.expressions.MinHashSignature]] expression.
   * (The equivalent built-in formulation, kept below as the executable
   * semantics spec, needs `numHashes` separate `array_min(transform(...))`
   * traversals with an interpreted lambda per element.)
   */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int): Column =
    graft.functions.expressions.GraftExpressions.minhashSignature(hashes, numHashes)

  /**
   * Reference semantics of [[minhashSignatureFromHashes]] in pure built-in
   * HOFs — `numHashes` minima of the standard (a*x+b mod p) family over
   * xxhash64 shingles (p = 2^31-1: a,x < p keeps a*x+b < 2^62 — no
   * ANSI-mode long overflow; a 31-bit minhash space is ample for dedup).
   * Used by the equivalence spec; hot paths use the native expression.
   */
  private[graft] def minhashSignatureHof(hashes: Column, numHashes: Int): Column = {
    val P = 2147483647L
    val p = lit(P)
    val sig = (0 until numHashes).map { i =>
      val a = lit((1000003L * (i + 1) + 12345L) % P)
      val b = lit((998244353L * (i + 7) + 42L) % P)
      array_min(transform(hashes, h => pmod(a * pmod(h, p) + b, p)))
    }
    array(sig: _*)
  }

  /** Convenience one-shot signature (fine for tests/small inputs; hot paths
    * should go through [[minhashLsh]] which materializes the hash array). */
  def minhashSignature(text: Column, shingleK: Int, numHashes: Int): Column =
    minhashSignatureFromHashes(shingleHashes(text, shingleK), numHashes)

  /**
   * MinHash + LSH banding near-dup candidate pairs, verified by estimated
   * Jaccard (signature agreement rate).
   *
   * Pipeline: signature → explode into `bands` band-hashes → within-bucket
   * self-join on bare (id, band, bucket) triples (the ONLY shuffle over the
   * corpus, keyed so same-band docs co-locate) → dedup candidate pairs →
   * attach signatures per pair → verify. Banding keeps the candidate set
   * near-linear: two docs collide iff some band of `rows = numHashes/bands`
   * hash minima agrees — the standard S-curve blocking from Broder/MMDS,
   * NOT an O(n²) cross join. Output: (id_a, id_b, est_jaccard), id_a < id_b.
   *
   * Shuffle shape: the banded frame carries 24-byte triples, NOT the
   * `numHashes`-long signature — carrying the 512 B signature through the
   * 16-band explode and BOTH self-join sides costs ~16 KB/doc of shuffle;
   * attaching signatures per candidate pair instead (the [[ngramJaccard]]
   * shape) ships the signature exactly twice per *candidate*, and at a sane
   * threshold candidates ≪ banded rows. Measured at sf0.1 (500k docs would
   * scale linearly): see SURVEY §6 shuffle note.
   */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
                 threshold: Double = 0.7): DataFrame = {
    val rows = lshRows(numHashes, bands)
    // The native signature expression reads the shingle-hash array exactly
    // once, so tokenize→shingle→signature fuses into one codegen'd stage;
    // signatures are reused by every band and both per-pair attach joins
    val sigs = OpCache.track(
      lshSignatures(df, textCol, idCol, shingleK, numHashes).persist())
    lshSelfPairs(lshBandBuckets(sigs, bands, rows), sigs, numHashes, threshold)
  }

  /**
   * 64-bit SimHash of the token multiset: sum ±1 votes per bit position of
   * each token's xxhash64, take sign. Near-dups differ in few bits (compare
   * with [[hammingDistance]]). Native single-pass expression
   * ([[graft.functions.expressions.SimHash64]]); the built-in HOF
   * formulation below is the executable semantics spec.
   */
  def simhash64FromHashes(tokenHashes: Column): Column =
    graft.functions.expressions.GraftExpressions.simhash64(tokenHashes)

  /** Reference semantics of [[simhash64FromHashes]] in pure built-in HOFs:
    * per-bit vote is an `aggregate` over the token-hash array — 64 array
    * traversals with interpreted lambdas. Equivalence-spec only. */
  private[graft] def simhash64Hof(tokenHashes: Column): Column = {
    val bits = (0 until 64).map { i =>
      val vote = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(lit(-1L)))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Convenience one-shot simhash (tests/small inputs only). */
  def simhash64(text: Column): Column =
    simhash64FromHashes(transform(tokens(text), t => xxhash64(t)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs within `maxHamming` bits. Blocking: split the
   * 64-bit fingerprint into `maxHamming + 1` segments — by pigeonhole, any
   * pair within distance d agrees on at least one of d+1 segments, so a
   * segment-equality join finds ALL such pairs with a near-linear shuffle
   * (the classic Manku/Google simhash-dedup trick), not an O(n²) cross join.
   */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val nSeg = maxHamming + 1
    val segBits = 64 / nSeg
    // nSeg=1 => segBits=64, where (1L << 64) wraps to 1L and the mask
    // would zero every segment value — degenerating the pigeonhole join
    // into an all-pairs cross product; -1L is the correct all-bits mask
    val segMask = if (segBits >= 64) -1L else (1L << segBits) - 1
    // single-pass native simhash: tokenize→hash→fingerprint in one stage
    // (persisted: the self-join reads the segmented frame twice)
    val fps = OpCache.track(simhashFps(df, textCol, idCol).persist())
    val segmented = simhashSegments(fps, nSeg, segBits, segMask)
    val l = segmented.alias("l")
    val r = segmented.alias("r")
    l.join(r,
        col("l.seg") === col("r.seg") && col("l.segval") === col("r.segval") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hammingDistance(col("l.fp"), col("r.fp")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** One (id, fp) SimHash fingerprint row per document — the shared
    * front end of [[simhashPairs]] and [[simhashAgainst]] (single
    * codegen'd pass: tokenize → hash → native simhash). */
  private def simhashFps(df: DataFrame, textCol: String,
                         idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      simhash64FromHashes(
        transform(tokens(col(textCol)), t => xxhash64(t))).as("fp"))

  /** Explode an (id, fp) frame into (id, fp, seg, segval) pigeonhole
    * segments — the shared blocking key of the self-join and bipartite
    * SimHash paths (shared so the two cannot drift). */
  private def simhashSegments(fps: DataFrame, nSeg: Int,
                              segBits: Int, segMask: Long): DataFrame =
    fps.select(col("id"), col("fp"),
      explode(array((0 until nSeg).map { s =>
        struct(lit(s).as("seg"),
          shiftright(col("fp"), s * segBits)
            .bitwiseAND(lit(segMask)).as("segval"))
      }: _*)).as("sv"))
      .select(col("id"), col("fp"), col("sv.seg"), col("sv.segval"))

  /**
   * Incremental SimHash near-dup: batch docs within `maxHamming` bits of
   * ANY stored corpus doc (bipartite — no self-pairs on either side),
   * completing the incremental ingest family next to [[dedupAgainst]]
   * (exact), [[minhashLshAgainst]] (Jaccard), and
   * [[semDedupBatchAgainstStore]] (semantic). Output: (batch_id,
   * corpus_id, hamming) — anti-join the batch on batch_id to keep only
   * novel docs.
   *
   * Same pigeonhole blocking as [[simhashPairs]] (shared
   * [[simhashSegments]] front end, so lossless-ness is the SAME proof:
   * any pair within distance d agrees on ≥ 1 of d+1 segments) applied
   * across the two frames; both sides shuffle bare (id, fp, seg,
   * segval) rows — 8-byte fingerprints, never text. The q131 gate
   * verifies the pair set EQUALS the brute-force bipartite hamming join
   * in-plan (blocking is exact, not approximate, so equality — not
   * recall — is the contract).
   */
  def simhashAgainst(batch: DataFrame, corpus: DataFrame, textCol: String,
                     idCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val nSeg = maxHamming + 1
    val segBits = 64 / nSeg
    val segMask = if (segBits >= 64) -1L else (1L << segBits) - 1
    val b = simhashSegments(simhashFps(batch, textCol, idCol),
      nSeg, segBits, segMask).alias("l")
    val c = simhashSegments(simhashFps(corpus, textCol, idCol),
      nSeg, segBits, segMask).alias("r")
    b.join(c,
        col("l.seg") === col("r.seg") && col("l.segval") === col("r.segval"))
      .select(col("l.id").as("batch_id"), col("r.id").as("corpus_id"),
        hammingDistance(col("l.fp"), col("r.fp")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("batch_id", "corpus_id")
  }

  /**
   * EXACT self-join on shingle-set Jaccard >= threshold with positional
   * prefix filtering (Chaudhuri/Xiao et al., the ppjoin family): order each
   * document's distinct shingle hashes globally (ascending), explode only
   * the first `len - ceil(t*len) + 1` of them, and join on those prefix
   * hashes. Any pair with Jaccard >= t MUST collide inside both prefixes,
   * so filtering is lossless — but a shingle shared by many documents only
   * blows up candidates if it lands in many PREFIXES, which high-frequency
   * shingles (being uniformly placed by the hash order) rarely do. A plain
   * shared-any-shingle join is quadratic inside every frequent-shingle
   * group; the prefix join is the exact-similarity-join shape that
   * survives 100 TB. Candidates then verify on a cheap length bound and
   * the exact hash-set intersection.
   *
   * Canonical order note: the global order is by shingle HASH. The classic
   * alternative (Bayardo et al., WWW'07: df-ascending, rare shingles
   * first) shrinks the candidate set on zipf-skewed vocabularies, but
   * costs two extra shuffles of the full (doc, shingle) token stream
   * (global df aggregation + per-doc reorder); measured end-to-end on the
   * benchmark corpus (near-uniform synthetic vocabulary, sf0.1) it halves
   * candidates (127k -> 69k) yet is net SLOWER. Hash order keeps set
   * construction shuffle-free; revisit df-ordering only for corpora with
   * heavy-tailed shingle frequencies.
   */
  def jaccardSelfJoin(df: DataFrame, textCol: String, idCol: String,
                      shingleK: Int = 3, threshold: Double = 0.6): DataFrame =
    jaccardSelfJoinOnSets(
      shingleSets(df, textCol, idCol, shingleK), threshold)

  /** The persisted (id, sh, len) sorted-shingle-hash frame every jaccard
    * tier verifies against — exposed so a gate running BOTH the exact
    * self-join and a store-candidate verify over the same corpus (q161)
    * shingles and sorts it ONCE instead of once per tier. Tracked in
    * [[OpCache]] like every shared intermediate. */
  private[graft] def shingleSets(df: DataFrame, textCol: String,
                                 idCol: String, shingleK: Int): DataFrame =
    OpCache.track(df.select(col(idCol).as("id"),
        sort_array(shingleHashes(col(textCol), shingleK)).as("sh"))
      .withColumn("len", size(col("sh")))
      .persist())

  /** [[jaccardSelfJoin]] over a prebuilt [[shingleSets]] frame. */
  private[graft] def jaccardSelfJoinOnSets(sets: DataFrame,
                                           threshold: Double): DataFrame = {
    val cands = jaccardCandidatesOnSets(sets, threshold)
    val a = sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("len").as("__len_a"))
    val b = sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("len").as("__len_b"))
    // verify kernel: the sets are sorted distinct hashes, so intersection
    // size is ONE codegen'd merge scan (no hash table) and the union count
    // is |A| + |B| - |A∩B| from the already-materialized lengths — same
    // exact integer arithmetic as size(array_intersect)/size(array_union),
    // without materializing either array per candidate pair
    val inter = graft.functions.expressions.GraftExpressions
      .sortedIntersectSize(col("sh_a"), col("sh_b"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("__inter", inter)
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") /
          (col("__len_a") + col("__len_b") - col("__inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * EXACT Jaccard verification over a caller-supplied candidate PAIR set
   * — [[jaccardSelfJoin]]'s verify kernel factored out so candidates from
   * ANY blocking tier (the LSH ingest store's band collisions via
   * [[minhashLshPairsFromStore]], SimHash buckets, an ANN shortlist) can
   * be upgraded from estimated to exact similarity at PAIR-BOUNDED cost:
   * only the candidate pairs' shingle sets attach (two id-keyed joins);
   * no all-pairs shape anywhere. Output: (id_a, id_b, jaccard) for pairs
   * at or above `threshold` — the same shingle normalization and the same
   * codegen'd sorted-merge intersection as [[jaccardSelfJoin]], so
   * store-candidates + this equals the exact self-join tier exactly
   * whenever the blocking tier's recall is 1 (q161 pins this at
   * 32-band × 2-row LSH, where a j ≥ 0.6 pair escapes banding with
   * probability (1−0.6²)³² ≈ 6·10⁻⁷).
   */
  def jaccardVerifyPairs(df: DataFrame, textCol: String, idCol: String,
                         pairs: DataFrame, shingleK: Int = 3,
                         threshold: Double = 0.6): DataFrame = {
    val pairs2 = canonicalPairs(pairs)
    // pair-bounded means pair-bounded: shingle ONLY the ids the candidate
    // pairs touch (a 10^9-doc corpus with 10^4 candidates must not pay a
    // corpus-wide shingle/sort pass for a 2·10^4-id verify)
    val touched = pairs2.select(col("id_a").as("id"))
      .unionByName(pairs2.select(col("id_b").as("id"))).distinct()
    val sets = OpCache.track(df
      .join(touched, df(idCol) === touched("id"), "left_semi")
      .select(col(idCol).as("id"),
        sort_array(shingleHashes(col(textCol), shingleK)).as("sh"))
      .withColumn("len", size(col("sh")))
      .persist())
    verifyPairsOnSets(sets, pairs2, threshold)
  }

  /** Canonicalize CALLER-SUPPLIED candidates: the verify scaladoc
    * advertises "any blocking tier", and an arbitrary tier may emit
    * (a,b) AND (b,a) — both would survive a plain dropDuplicates and the
    * pair would verify twice — or a self-pair (a,a), which would emit a
    * spurious jaccard-1.0 row. Orient to id_a < id_b and drop self-pairs
    * BEFORE deduping so output parity with [[jaccardSelfJoin]] holds for
    * arbitrary candidate sets, not just canonical-emitting tiers like
    * the LSH store. */
  private def canonicalPairs(pairs: DataFrame): DataFrame =
    pairs.select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))

  /** [[jaccardVerifyPairs]] over a prebuilt [[shingleSets]] frame — the
    * form a gate running the exact self-join over the SAME corpus in the
    * same invocation uses (q161): the corpus-wide shingle pass is
    * already paid (and persisted) by the exact tier, so re-shingling the
    * touched slice would cost a second pass for nothing. Identical
    * output to [[jaccardVerifyPairs]] — same canonicalization, same
    * kernel (attaching from a superset of the touched ids changes no
    * pair's sets). */
  private[graft] def jaccardVerifyPairsOnSets(sets: DataFrame,
                                              pairs: DataFrame,
                                              threshold: Double): DataFrame =
    verifyPairsOnSets(sets, canonicalPairs(pairs), threshold)

  /** Shared verify kernel: exact jaccard for the (already canonical)
    * pairs, sets attached by id. Same arithmetic as [[jaccardSelfJoin]]'s
    * verify stage. */
  private def verifyPairsOnSets(sets: DataFrame, pairs2: DataFrame,
                                threshold: Double): DataFrame = {
    val a = sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("len").as("__len_a"))
    val b = sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("len").as("__len_b"))
    val inter = graft.functions.expressions.GraftExpressions
      .sortedIntersectSize(col("sh_a"), col("sh_b"))
    pairs2.dropDuplicates("id_a", "id_b")
      .join(a, "id_a").join(b, "id_b")
      .withColumn("__inter", inter)
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") /
          (col("__len_a") + col("__len_b") - col("__inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The blocking stage of [[jaccardSelfJoin]] over a prebuilt
    * [[shingleSets]] frame: candidate pairs surviving the prefix +
    * position + length filters, pre-verify. */
  private def jaccardCandidatesOnSets(
      sets: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    // prefix length errs LARGER on float boundaries (never drops a pair)
    val p = (col("len") - ceil(col("len") * threshold - 1e-9) + 1).cast("int")
    val prefix = sets.select(col("id"), col("len"),
      posexplode(slice(col("sh"), lit(1), p)).as(Seq("pos", "h")))
    // ppjoin position filter: at a collision at (0-based) positions pa/pb,
    // the overlap can reach at most min(la-pa, lb-pb) elements (suffixes
    // from the match on), while jaccard >= t needs alpha =
    // ceil(t/(1+t) * (la+lb)) — slack errs SMALLER (never drops a pair).
    val alpha = ceil((col("a.len") + col("b.len")) * (threshold / (1 + threshold))
      - 1e-9)
    val cands = prefix.alias("a").join(prefix.alias("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
        // length bound: jaccard >= t forces min(len) >= t * max(len)
        least(col("a.len"), col("b.len")).cast("double") >=
          greatest(col("a.len"), col("b.len")) * threshold - 1e-9 &&
        least(col("a.len") - col("a.pos"), col("b.len") - col("b.pos"))
          .cast("double") >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cands
  }

  /**
   * Exact n-gram Jaccard similarity for candidate pairs: token-set overlap
   * of word-k-shingles. Each candidate row picks up both TEXTS by id and
   * shingles them on the pair (each side bound once), so cost tracks
   * |candidates|, never |corpus|: no corpus-wide shingle table is built
   * or shipped, and a join moves a text, which is smaller than its
   * shingle array. `array_intersect`/`array_union` dedup, so a repeated
   * shingle counts once. A candidate id missing from `df` yields no row;
   * a duplicated candidate row yields a duplicated row.
   */
  def ngramJaccard(df: DataFrame, candidates: DataFrame, textCol: String,
                   idCol: String, shingleK: Int = 3): DataFrame = {
    def side(s: String) =
      df.select(col(idCol).as(s"__${s}_id"), col(textCol).as(s"__${s}_text"))
    candidates
      .join(side("a"), col("id_a") === col("__a_id"))
      .join(side("b"), col("id_b") === col("__b_id"))
      .select(col("id_a"), col("id_b"),
        bindOnce(shingles(col("__a_text"), shingleK)) { a =>
          bindOnce(shingles(col("__b_text"), shingleK)) { b =>
            size(array_intersect(a, b)).cast("double") / size(array_union(a, b))
          }
        }.as("jaccard"))
  }

  /**
   * Connected-component resolution over a near-dup pair set: turns the
   * (id_a, id_b) pairs every fuzzy-dedup operator emits ([[minhashLsh]],
   * [[simhashPairs]], [[jaccardSelfJoin]], [[embeddingNearDup]]) into the
   * decision a pipeline actually ships — one row per member document with
   * its canonical `cluster_id` (the component minimum) and a `keep` flag
   * (true exactly for the canonical survivor). a–b, b–c, c–d ⇒ all four map
   * to min(a,b,c,d), keep = (id == that min).
   *
   * Small edge sets resolve on the driver: when the ids are integral and
   * the distinct edges fit the session's `autoBroadcastJoinThreshold` (at
   * 24 B each for long ids: 8 B of row overhead plus two longs), they are
   * collected in one job, and a union-find (each root the smallest id of
   * its component) yields the star forest the distributed loop below
   * converges to, as a local relation. `maxRounds` and `strict` apply to
   * the distributed loop only.
   *
   * Distributed algorithm: alternating large-star / small-star (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14) — each round is
   * a groupBy-min + join over bare (u, v) id pairs (16 bytes/edge; documents
   * never enter the loop), converging in O(log² n) rounds vs O(diameter) for
   * naive label propagation, so a pathological million-doc chain still
   * resolves in ~20 rounds. Each round is materialized to a persisted RDD
   * and re-planned from a bare scan, truncating the iterative lineage (a
   * star round references its input ~6×, so un-truncated plans grow
   * exponentially in the round count); the previous round's cache is
   * released as soon as its successor is materialized, so the loop holds at
   * most two edge sets. Convergence is detected exactly (cardinality +
   * anti-join emptiness — scalar actions only, never a row collect).
   *
   * Only ids with at least one non-self edge in `pairs` are returned;
   * singleton documents (no near-dup edge, or a degenerate self-pair) are
   * trivially their own cluster and are left untouched — callers drop
   * `keep = false` ids with [[keepRepresentatives]]. The distributed
   * loop's final edge set stays cached for the returned frame; release
   * with [[OpCache.release]] after consuming it (the driver path caches
   * nothing).
   *
   * If `maxRounds` exhausts before the fixpoint, the result may label
   * multi-hop chains with a non-canonical root: the loop never fails
   * silently — it throws when `strict`, and logs a WARN otherwise.
   */
  def resolveClusters(pairs: DataFrame, maxRounds: Int = 50,
                      strict: Boolean = false): DataFrame = {
    val (edges, _) = clusterEdges(pairs, maxRounds, strict)
    // the members are the final edge set's ids: a round keeps the node set
    // (an id with a smaller neighbor stays the u of an edge, any other id
    // stays the v of one), so the input's ids are all still there
    val nodes = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id")))
      .distinct()
    // at the fixpoint the edge set is a star forest (each non-root id has
    // exactly one edge, to its component min); the groupBy-min is a cheap
    // defensive reduction in case maxRounds cut the loop short
    val labels = edges.groupBy(col("u").as("id")).agg(min(col("v")).as("root"))
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("root"), col("id")).as("cluster_id"),
        col("root").isNull.as("keep"))
  }

  /** [[resolveClusters]]' edge resolution: the final (u, v) edge set, its
    * cache (if any) tracked for [[OpCache.release]], and its size. */
  private def clusterEdges(pairs: DataFrame, maxRounds: Int,
                           strict: Boolean): (DataFrame, Long) = {
    // canonical larger→smaller directed edges; the loop preserves this
    // invariant (every emitted edge points at a strictly smaller id).
    // Rounds materialize via OpCache.materializeHandle (persisted-RDD
    // lineage truncation — localCheckpoint has no public release path).
    // (Degenerate self-pairs are dropped here; a doc paired only with
    // itself is a singleton and is handled like any un-paired doc.)
    var (edges, edgesRdd, edgeCount) = OpCache.materializeHandle(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val threshold = pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val integral = edges.schema.head.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    // Spark's own row-size estimate: 8 bytes of row overhead plus the ids
    val rowBytes = 8L + edges.schema.map(_.dataType.defaultSize).sum
    if (integral && threshold > 0 && edgeCount * rowBytes <= threshold) {
      val collected = try edgesRdd.collect() finally edgesRdd.unpersist(blocking = false)
      val forest = starForest(collected)
      return (pairs.sparkSession.createDataFrame(
        java.util.Arrays.asList(forest: _*), edges.schema), forest.length.toLong)
    }
    // the not-yet-swapped round result, for failure cleanup only
    var inFlightRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    try {
      var converged = edgeCount == 0L
      var round = 0
      while (!converged && round < maxRounds) {
        val (next, nextRdd, nextCount) =
          OpCache.materializeHandle(starRound(edges))
        inFlightRdd = nextRdd
        // exact set-equality: distinct frames with equal cardinality and an
        // empty anti-join are identical (both checks are scalar aggregates)
        converged = nextCount == edgeCount &&
          next.join(edges, Seq("u", "v"), "left_anti").isEmpty
        edgesRdd.unpersist(blocking = false)
        edges = next; edgesRdd = nextRdd; edgeCount = nextCount
        inFlightRdd = null
        round += 1
      }
      // maxRounds exhausting mid-chain is a silent-wrong-answer hazard: the
      // defensive groupBy-min in resolveClusters still leaves multi-hop
      // chains pointing at a non-canonical root. Never fall through quietly.
      if (!converged) {
        val msg = s"resolveClusters did not converge after $maxRounds " +
          s"round(s) ($edgeCount edges left): cluster ids are approximate " +
          "(multi-hop chains may keep non-canonical roots). Raise maxRounds " +
          "(rounds needed grow as O(log^2 n))."
        // (the catch below releases the cached edge set on the throw path)
        if (strict) throw new IllegalStateException(msg)
        log.warn(msg)
      }
      OpCache.trackRdd(edgesRdd)
      (edges, edgeCount)
    } catch { case e: Throwable =>
      // a failed round must not strand cache entries no release() can reach
      edgesRdd.unpersist(blocking = false)
      if (inFlightRdd != null) inFlightRdd.unpersist(blocking = false)
      throw e
    }
  }

  /** The fixpoint of [[starRound]] computed on the driver: a union-find
    * over integral-id edges that links the larger root under the smaller,
    * so every root is its component's minimum, then one (u, root) row per
    * non-root id. */
  private def starForest(edges: Array[Row]): Array[Row] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var root = x
      while (parent.get(root) != root) root = parent.get(root)
      var y = x
      while (y != root) { val next = parent.get(y); parent.put(y, root); y = next }
      root
    }
    edges.foreach { e =>
      parent.putIfAbsent(e.get(0), e.get(0))
      parent.putIfAbsent(e.get(1), e.get(1))
      val (a, b) = (find(e.get(0)), find(e.get(1)))
      if (a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue)
        parent.put(b, a)
      else if (a != b) parent.put(a, b)
    }
    parent.keySet.toArray.flatMap { n =>
      val root = find(n)
      if (root == n) None else Some(Row(n, root))
    }
  }

  /** Per-u neighborhood minimum attached to every edge row in ONE
    * exchange: a `min` window partitioned by `u` (no orderBy — the frame
    * is the whole partition, so WindowExec only groups by the partition
    * key). The r18 rewrite of the former `groupBy(u).min + join-back`
    * shape, which shuffled the edge frame AND the mins frame and planned
    * two exchanges per star round; the window shuffles the edge rows
    * once and attaches the min in the same pass — strictly fewer
    * exchanges and fewer shuffled bytes per round at any scale. Skew
    * note: a high-degree hub's group lands in one window buffer exactly
    * as it landed in one join partition before; WindowExec's buffer
    * spills (ExternalAppendOnlyUnsafeRowArray), so the failure mode is
    * unchanged, minus one whole shuffle of the frame. */
  private def withNeighborhoodMin(edges: DataFrame): DataFrame =
    edges.withColumn("mn", min(col("v")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("u"))))

  /** Large-star round: every node connects its larger neighbors to the
    * minimum of its closed neighborhood. One window + one distinct. */
  private[graft] def largeStar(edges: DataFrame): DataFrame =
    largeStarRaw(edges).distinct()

  /** [[largeStar]] WITHOUT the trailing distinct — the fused round body
    * ([[smallStar]]'s window min is duplicate-insensitive and its own
    * trailing distinct dedups the union, so the intermediate exchange
    * buys nothing; output rows stay ≤ |undirected edges| because exactly
    * one orientation of each symmetric row survives `v > u`). */
  private def largeStarRaw(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    withNeighborhoodMin(sym)
      .filter(col("v") > col("u"))
      // m = min(Γ(u) ∪ {u}) ≤ u < v, so the emitted edge stays larger→smaller
      .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
  }

  /** Small-star round: every node rewires its smaller neighbors (and itself)
    * to its minimum smaller neighbor. One window + one distinct. Both
    * rewire targets — (v, mn) for the smaller neighbor and (u, mn) for
    * the node itself — emit from ONE `explode` over the windowed frame:
    * a `union` of two selects would reference the frame twice and
    * duplicate its whole upstream subtree in the plan (two window
    * exchanges for one logical pass — the r18 plan audit caught exactly
    * that). The v = mn case emits (mn, mn) and self-drops in the filter,
    * matching the old `v =!= mn` pre-filter; u = mn cannot occur (edges
    * are directed larger→smaller, so mn ≤ v < u). */
  private[graft] def smallStar(edges: DataFrame): DataFrame =
    withNeighborhoodMin(edges)
      .select(explode(array(
        struct(col("v").as("u"), col("mn").as("v")),
        struct(col("u"), col("mn").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** One fused large-star + small-star round ([[resolveClusters]]'s loop
    * body): [[largeStarRaw]] feeds [[smallStar]] directly — the
    * intermediate distinct's exchange is elided (see [[largeStarRaw]]).
    * Note [[smallStar]]'s un-deduped union side now carries one
    * (u, mn) row per INPUT row rather than per distinct u; the final
    * distinct collapses them, so the round's fixpoint set is unchanged. */
  private def starRound(edges: DataFrame): DataFrame =
    smallStar(largeStarRaw(edges))

  /**
   * Applies a cluster resolution back to the corpus: keeps every document
   * that is either untouched by `pairs` (no near-dup edge) or its cluster's
   * canonical survivor. `pairs` holds (id_a, id_b) pairs, as in
   * [[resolveClusters]], whose round bound and WARN-on-non-convergence
   * this shares.
   *
   * The loser filter is a left anti-join sized by the losers, not the
   * corpus: they are the distinct `u` of the CC loop's final edge set,
   * so their number is at most its edge count. When that bound fits the
   * session's `autoBroadcastJoinThreshold` the loser ids broadcast and
   * the document rows never shuffle. Above it the planner's shuffle
   * anti-join stays (the loser frame is RDD-backed and carries no size
   * statistics, so without this sizing it never broadcasts, and a
   * blanket hint would broadcast any size).
   */
  def keepRepresentatives(df: DataFrame, pairs: DataFrame,
                          idCol: String): DataFrame = {
    val (edges, edgeCount) = clusterEdges(pairs, maxRounds = 50, strict = false)
    // resolveClusters' keep = false rows are exactly the final edges' u
    val losers = edges.select(col("u").as(idCol)).distinct()
    // Spark's own row-size estimate: 8 bytes of row overhead plus the id
    val maxBytes = edgeCount * (8L + losers.schema.head.dataType.defaultSize)
    val fits = maxBytes <= df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    df.join(if (fits) broadcast(losers) else losers, Seq(idCol), "left_anti")
  }

  /**
   * Embedding-cosine near-dup pairs: LSH-bucket by hyperplane sign key, then
   * verify cosine within buckets. `nBits` trades recall for bucket size
   * (recall of near-identical vectors stays high since near-dups rarely
   * straddle a hyperplane). For exhaustive small-corpus checks set
   * `nBits = 0` (single bucket = brute force).
   */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       threshold: Double = 0.95, nBits: Int = 8): DataFrame = {
    val keyed = OpCache.track(df.select(col(idCol).as("id"), col(vecCol).as("v"),
      (if (nBits == 0) lit(0L) else hyperplaneLshKey(col(vecCol), nBits)).as("bucket"))
      .persist())
    // the [[minhashLsh]] slim-shuffle shape: the bucket self-join moves
    // bare (id, bucket) pairs — NOT the embedding, which at 768 floats is
    // ~3 KB/row on BOTH join sides — and the vectors attach per candidate
    // pair afterwards, shipping each exactly twice per candidate
    val banded = keyed.select(col("id"), col("bucket"))
    val l = banded.alias("l")
    val r = banded.alias("r")
    val cands = l.join(r,
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    cands
      .join(keyed.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(keyed.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /**
   * SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication" — public): semantic
   * duplicate PAIRS via cluster-then-compare. The corpus is k-means
   * clustered in embedding space ([[Similarity.trainCentroids]] +
   * [[Similarity.ivfAssign]] — centroids broadcast, corpus never shuffles
   * for the assignment) and cosine similarity is computed only WITHIN each
   * cluster; pairs at or above `tau` are semantic duplicates. This is the
   * published scale escape from the quadratic all-pairs comparison: work
   * per cluster is (n/k)² instead of n² corpus-wide, and the within-cell
   * self-join shuffles bare (id, cell) pairs — vectors attach per
   * candidate afterwards (the [[embeddingNearDup]] slim shape).
   *
   * Deviation from the paper, documented: the paper keeps the member with
   * the LOWEST cosine to the cluster centroid; downstream
   * [[resolveClusters]]/[[keepRepresentatives]] keep the minimum id —
   * deterministic under re-clustering, which matters more in an
   * incremental pipeline than the paper's heuristic. Recall vs the exact
   * threshold graph is inherently < 1 (cross-cluster duplicates are never
   * compared — the paper's own approximation); precision is structurally 1
   * (every emitted pair passed the exact cosine test). Both are gated
   * in-plan by q108's verdict rows.
   */
  def semDedupPairs(df: DataFrame, vecCol: String, idCol: String,
                    k: Int, tau: Double, iters: Int = 2,
                    probes: Int = 2): DataFrame = {
    val centroids = Similarity.trainCentroids(df, vecCol, idCol, k, iters)
    // soft assignment ([[Similarity.ivfAssignMulti]]): a pair is compared
    // iff the two probe sets intersect — recovers the boundary-straddling
    // near-dups hard assignment structurally misses (measured on the
    // fixture: recall of the exact threshold graph 3/7 hard → 6/7 at
    // probes = 2), at probes× assignment cost. probes = 1 is the paper's
    // hard assignment.
    val assigned = OpCache.track(
      Similarity.ivfAssignMulti(df, centroids, vecCol, idCol, probes)
        .persist())
    semDedupPairsAssigned(assigned, vecCol, idCol, tau)
  }

  /**
   * The within-cell compare over an ALREADY-ASSIGNED (cell, idCol,
   * vecCol) frame — the shared tail of [[semDedupPairs]] (in-plan
   * assignment) and [[semDedupPairsFromStore]] (assignment read back
   * from the bucketed store). `mergeHint` forces the sort-merge shape
   * the self-join takes at corpus scale, where the slim (id, cell)
   * frame broadcasts nowhere — the store path sets it so bucket
   * co-location (not a broadcast estimate) is what removes the
   * exchange.
   */
  def semDedupPairsAssigned(assigned: DataFrame, vecCol: String,
                            idCol: String, tau: Double,
                            mergeHint: Boolean = false): DataFrame = {
    val slim0 = assigned.select(col(idCol).as("id"), col("cell"))
    val slim = if (mergeHint) slim0.hint("merge") else slim0
    val cands = slim.alias("l").join(slim.alias("r"),
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct() // a pair may share several probed cells
    val vecs = assigned.select(col(idCol).as("id"), col(vecCol).as("v"))
      .dropDuplicates("id")
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= tau)
  }

  /**
   * Materialize the soft-assigned corpus BUCKETED BY CELL — the at-scale
   * store for the semantic-dedup tier (SURVEY §6's SemDeDup study
   * measured the within-cell candidate exchange as the super-linear
   * shuffle term; a cell-bucketed store co-locates the self-join's two
   * sides so that exchange disappears — the q71/[[Layout.writeBucketed]]
   * mechanism, gated in PlanSpec). Bucketed rather than
   * `partitionBy`-partitioned: the consumer is a JOIN keyed on `cell`,
   * not a scan filtered on it, so co-location (same hash bucketing both
   * sides) is the property that pays, and cells can be data-sized
   * without a directory-per-cell explosion. Assign once at ingest, then
   * dedup every batch against it via [[semDedupBatchAgainstStore]]
   * (keep the centroid frame with the store — batches must be assigned
   * with the SAME centroids) and self-dedup the stored corpus via
   * [[semDedupPairsFromStore]].
   */
  def writeAssignedCorpus(df: DataFrame, centroids: DataFrame,
                          vecCol: String, idCol: String, probes: Int,
                          table: String, buckets: Int): Unit =
    Layout.writeBucketed(
      Similarity.ivfAssignMulti(df, centroids, vecCol, idCol, probes)
        .select(col("cell"), col(idCol), col(vecCol)),
      table, Seq("cell"), buckets)

  /** SemDeDup pairs off a [[writeAssignedCorpus]] store: identical pairs
    * to the in-plan path at the same centroids (q125 oracle gate), with
    * the within-cell self-join reading co-located buckets — no exchange
    * ever hashes on `cell` (PlanSpec gate). */
  def semDedupPairsFromStore(spark: org.apache.spark.sql.SparkSession,
                             table: String, vecCol: String, idCol: String,
                             tau: Double): DataFrame =
    semDedupPairsAssigned(Layout.readTable(spark, table), vecCol, idCol,
      tau, mergeHint = true)

  /**
   * Bipartite batch-vs-store SemDeDup — the incremental-ingest form
   * [[writeAssignedCorpus]]'s "assign once at ingest, dedup every batch
   * against it" contract promises (the [[minhashLshAgainstStore]] /
   * q102 analog for the semantic tier): the incoming batch is assigned
   * with the SAME centroids the store was built with (pass the stored
   * centroid frame — re-training would silently shift every cell
   * boundary) and compared only against store rows in its probed cells.
   * Output: (batch_id, corpus_id, cos) pairs at or above `tau` — the
   * batch docs that semantically duplicate stored content; anti-join
   * the batch on batch_id to keep only novel docs.
   *
   * Scale shape: the batch shuffles INTO the store's cell bucketing
   * (carrying its own vectors — batch-sized × probes); the store side
   * reads co-located buckets straight into the join with no exchange
   * (PlanSpec gate, `merge`-hinted like [[semDedupPairsFromStore]]), so
   * CORPUS VECTORS NEVER MOVE — cosine is computed inside the
   * within-cell join's stage and only slim (batch_id, corpus_id, cos)
   * triples shuffle for the pair dedup. (Attaching vectors per
   * candidate pair instead — the self-join tiers' shape — would
   * re-shuffle the whole store's (id, vector) projection on id per
   * batch, a corpus-sized exchange this shape exists to avoid; the
   * price is recomputing a cheap cosine once per shared probed cell
   * instead of once per pair.)
   */
  def semDedupBatchAgainstStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String, centroids: DataFrame,
      vecCol: String, idCol: String, probes: Int, tau: Double): DataFrame = {
    val assignedBatch = OpCache.track(
      Similarity.ivfAssignMulti(batch, centroids, vecCol, idCol, probes)
        .select(col("cell"), col(idCol), col(vecCol)).persist())
    semDedupPairsBipartite(assignedBatch,
      Layout.readTable(spark, table).hint("merge"), vecCol, idCol, tau)
  }

  /** Within-cell bipartite compare between two already-assigned (cell,
    * idCol, vecCol) frames — the shared tail of the batch-vs-store path
    * and its in-plan equivalence twin (q129). Cosine is computed INSIDE
    * the cell join (see [[semDedupBatchAgainstStore]]'s scale note: the
    * corpus side's vectors ride the co-located bucket read, never an
    * exchange); the duplicate a pair produces per shared probed cell
    * carries an identical cos, so the pair dedup keeps any copy. */
  private[graft] def semDedupPairsBipartite(batchAssigned: DataFrame,
      corpusAssigned: DataFrame, vecCol: String, idCol: String,
      tau: Double): DataFrame = {
    val b = batchAssigned.select(col(idCol).as("batch_id"), col("cell"),
      col(vecCol).as("__vb"))
    val c = corpusAssigned.select(col(idCol).as("corpus_id"), col("cell"),
      col(vecCol).as("__vc"))
    b.join(c, Seq("cell"))
      .select(col("batch_id"), col("corpus_id"),
        cosine(col("__vb"), col("__vc")).as("cos"))
      .filter(col("cos") >= tau)
      .dropDuplicates("batch_id", "corpus_id")
  }

  /**
   * SEMANTIC decontamination — the embedding-space sibling of the
   * n-gram gates ([[graft.operators.TextProfile.contaminationReport]] /
   * [[graft.operators.Curate.decontaminateSplits]]): drop every corpus
   * row whose embedding sits within cosine `tau` of ANY eval-set row,
   * catching the paraphrased/translated benchmark leaks that exact
   * n-gram overlap cannot see (the published practice next to SemDeDup —
   * same clustering machinery, bipartite instead of self-join). Returns
   * the SURVIVING corpus rows (all columns).
   *
   * Scale shape: centroids train on the corpus (k broadcastable);
   * corpus rows take ONE hard assignment (one broadcast join +
   * map-side-combined argmax — corpus vectors never enter an exchange
   * wider than their own row); the SMALL eval side multi-probes its
   * `probes` nearest cells, and comparisons run inside the shared-cell
   * join only ([[semDedupPairsBipartite]]). Recall follows SemDeDup's
   * contract: a leak is missed only when the corpus row's hard cell is
   * outside the eval row's probe set (raise `probes` to trade cost for
   * recall); spurious drops are STRUCTURALLY zero — every bipartite
   * pair carries an exact in-cell cosine ≥ tau, so the approximate drop
   * set is a subset of the exact one (q169 gates recall AND the zero,
   * the q108 discipline). An eval id that also exists in the corpus
   * matches itself at cos 1 and is dropped — a benchmark document IN
   * the corpus is the leak the operator exists to remove.
   */
  def semanticDecontaminate(corpus: DataFrame, eval: DataFrame,
      vecCol: String, idCol: String, k: Int, tau: Double,
      iters: Int = 2, probes: Int = 2): DataFrame = {
    // trainCentroids already returns a driver-local relation (r19) — a
    // materialize wrap would push it back through the RDD round-trip
    val cents = Similarity.trainCentroids(corpus, vecCol, idCol, k, iters)
    val corpusAssigned = Similarity.ivfAssign(corpus, cents, vecCol, idCol)
    val evalAssigned =
      Similarity.ivfAssignMulti(eval, cents, vecCol, idCol, probes)
    val contaminated =
      semDedupPairsBipartite(evalAssigned, corpusAssigned, vecCol, idCol, tau)
        .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** The full SemDeDup decision: cluster, compare within clusters, resolve
    * duplicate components, keep one representative per component (minimum
    * id) — the corpus that ships. Composes [[semDedupPairs]] with
    * [[keepRepresentatives]]. */
  def semDedup(df: DataFrame, vecCol: String, idCol: String,
               k: Int, tau: Double, iters: Int = 2,
               probes: Int = 2): DataFrame =
    keepRepresentatives(df,
      semDedupPairs(df, vecCol, idCol, k, tau, iters, probes), idCol)

  /**
   * C4-style duplicate-span removal (Raffel et al. 2020 §2.2 dedup the
   * corpus at span granularity; RefinedWeb line-dedup is the same op at
   * line granularity): the text of every document is cut into
   * fixed-`window`-token non-overlapping spans, any span whose content
   * occurs `minCount`+ times CORPUS-WIDE is removed from every document
   * except the first occurrence (minimum (id, spanIdx)), and each
   * document's text is rebuilt from its surviving spans. No stepist
   * counterpart (such cleaning would be user Python inside a handler).
   *
   * Output: (idCol, text_clean, n_spans, n_kept) — one row per input
   * document, documents whose every span was removed keep their row with
   * empty text, so corpus accounting never loses rows.
   *
   * Scale shape: the corpus-wide occurrence count aggregates bare
   * (key128, id, spanIdx) triples — span TEXT never enters that shuffle
   * (PlanSpec-gated). Removed-span index sets group by id into one small
   * array per AFFECTED document (only docs containing a removed copy),
   * then join back to the scan; the rebuild is a per-row indexed `filter`
   * over the span array, so document text moves at most once (not at all
   * when the corpus is bucketed by id). The span key is two independent
   * xxhash64 lanes (~128 bits): at 10¹¹ spans a single 64-bit key would
   * see birthday collisions, which here would remove a non-duplicate
   * span.
   */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                           window: Int, minCount: Int = 2): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(minCount >= 2, s"minCount must be at least 2, got $minCount")
    val toks = split(trim(col(textCol)), "\\s+")
    // sequence(0, -1) would yield [0, -1] (negative-step default), so the
    // empty document must short-circuit BEFORE sequence sees it
    val nSpans = ceil(size(toks) / lit(window.toDouble)).cast("int")
    val spansExpr = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nSpans - 1),
        g => array_join(slice(toks, g * window + 1, lit(window)), " ")))
    removeDuplicateIndexed(df, spansExpr, idCol, " ", minCount)
  }

  /**
   * Corpus-wide exact LINE / PARAGRAPH dedup — [[removeDuplicateSpans]]'
   * algorithm at natural-boundary granularity (RefinedWeb, Penedo et
   * al. 2023 — public — removes exact duplicate lines across the whole
   * corpus; MassiveText's dup-line rules are the within-document twin
   * already in [[graft.functions.TextFunctions.repetitionStats]]):
   * segments are the space-trimmed non-empty fragments of `textCol`
   * split on `splitPattern` (default `\n` — pass `"\n{2,}"` for
   * paragraphs), any segment occurring `minCount`+ times corpus-wide is
   * removed everywhere except its first occurrence (minimum (id,
   * segIdx)), and each document is rebuilt from its surviving segments
   * joined with `joinSep`. Catches the cross-document boilerplate
   * (shared footers, navigation lines, license blocks) that
   * within-document rules cannot see and that fixed token grids split
   * across span boundaries. Same output contract and scale shape as
   * the span form (shared tail): (idCol, text_clean, n_spans, n_kept),
   * segment TEXT never enters the occurrence-count shuffle.
   */
  def removeDuplicateSegments(df: DataFrame, textCol: String, idCol: String,
                              splitPattern: String = "\n",
                              joinSep: String = "\n",
                              minCount: Int = 2): DataFrame = {
    require(minCount >= 2, s"minCount must be at least 2, got $minCount")
    val segsExpr = filter(
      transform(split(coalesce(col(textCol), lit("")), splitPattern),
        s => trim(s)),
      s => s =!= "")
    removeDuplicateIndexed(df, segsExpr, idCol, joinSep, minCount)
  }

  /** Shared keep-first tail of [[removeDuplicateSpans]] /
    * [[removeDuplicateSegments]]: corpus-wide occurrence count over bare
    * (key128, id, idx) triples, per-affected-doc removed-index sets,
    * indexed rebuild. */
  private def removeDuplicateIndexed(df: DataFrame, spansExpr: Column,
                                     idCol: String, joinSep: String,
                                     minCount: Int): DataFrame = {
    val spansCol = "__graft_span_arr"
    val chunked = OpCache.track(
      df.withColumn(spansCol, spansExpr).persist())
    val slim = chunked.select(col(idCol).as("id"),
        posexplode(col(spansCol)).as(Seq("sidx", "span")))
      .select(col("id"), col("sidx"),
        xxhash64(col("span")).as("k1"),
        xxhash64(col("span"), lit(1L)).as("k2"))
    val dups = slim.groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("id"), col("sidx"))).as("keep"))
      .filter(col("cnt") >= minCount)
      .select(col("k1"), col("k2"), col("keep"))
    // only NON-keeper occurrences of duplicated spans survive this join:
    // one small (id, sidx) pair per removed copy, grouped into a per-doc
    // index array. Docs with no removed span never appear — the left join
    // below leaves their index set null and the rebuild keeps everything.
    val removedSets = slim.join(dups, Seq("k1", "k2"))
      .filter(!(col("id") === col("keep.id") && col("sidx") === col("keep.sidx")))
      .groupBy(col("id"))
      .agg(collect_set(col("sidx")).as("rm"))
      .select(col("id").as("__graft_span_rmid"), col("rm").as("__graft_span_rm"))
    val rm = col("__graft_span_rm")
    chunked.join(removedSets,
        chunked(idCol) === col("__graft_span_rmid"), "left")
      .select(col(idCol),
        array_join(filter(col(spansCol),
          (_, i) => !coalesce(array_contains(rm, i), lit(false))), joinSep)
          .as("text_clean"),
        size(col(spansCol)).cast("long").as("n_spans"),
        (size(col(spansCol)) -
          when(rm.isNull, 0).otherwise(size(rm))).cast("long").as("n_kept"))
  }

  /**
   * Offset-robust exact duplicate-substring spans (the unaligned tier the
   * fixed-grid [[removeDuplicateSpans]] cannot provide; public algorithm:
   * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
   * Better" — suffix-array min-length duplicate removal, realized here at
   * token granularity with stride-1 windows): every document emits a
   * `minTokens`-token window at EVERY offset, so a duplicated passage of
   * ≥ minTokens tokens is caught wherever it starts — including copies
   * that straddle the aligned tier's window grid or start mid-window.
   * All but the corpus-first occurrence (minimum (id, pos)) of each
   * window content are removable; each document's removable positions
   * merge into maximal [start, end) token ranges (overlapping and
   * contiguous ranges coalesce).
   *
   * Output: (idCol, span_start, span_end) token indices, end exclusive —
   * one row per maximal removable range; documents with nothing to
   * remove emit no row. Strip with [[stripSpans]].
   *
   * Scale shape: stride-1 windows cost `minTokens`× the aligned tier's
   * row count — one slim (k1, k2, id, pos) quad per corpus TOKEN
   * (~28 B) — so this is the thorough pass a pipeline runs after (not
   * instead of) the cheap aligned sweep. Window text never shuffles: the
   * group key is the 128-bit double-xxhash64 lane pair (the
   * [[removeDuplicateSpans]] trick; a 64-bit key would birthday-collide
   * at 10¹¹ windows and remove non-duplicate text). The interval merge
   * is a per-document window over that document's REMOVABLE positions
   * only — duplicate-bounded, not corpus-bounded.
   */
  /** Stride-1 window hashes: one (__id, pos, k1, k2, __nw) row per token
    * offset — the shared front end of [[duplicateSubstringSpans]] and
    * [[substringContamination]]. Window STRINGS die inside this select;
    * only the 128-bit lane pair leaves. `__nw` is the doc's window count
    * (n_tokens − L + 1), constant per doc. */
  private def strideWindows(df: DataFrame, textCol: String, idCol: String,
                            L: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("__id"), toks.as("__w"))
      .filter(size(col("__w")) >= L)
      .select(col("__id"), (size(col("__w")) - (L - 1)).as("__nw"),
        posexplode(
          transform(sequence(lit(0), size(col("__w")) - L),
            p => array_join(slice(col("__w"), p + 1, lit(L)), " ")))
        .as(Seq("pos", "__sh")))
      .select(col("__id"), col("__nw"), col("pos"),
        xxhash64(col("__sh")).as("k1"),
        xxhash64(col("__sh"), lit(1L)).as("k2"))
  }

  def duplicateSubstringSpans(df: DataFrame, textCol: String, idCol: String,
                              minTokens: Int): DataFrame = {
    require(minTokens > 0, s"minTokens must be positive, got $minTokens")
    val L = minTokens
    val wins = strideWindows(df, textCol, idCol, L)
      .select(col("__id"), col("pos"), col("k1"), col("k2"))
    val dups = wins.groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("__id"), col("pos"))).as("keep"))
      .filter(col("cnt") >= 2)
      .select(col("k1"), col("k2"), col("keep"))
    val removable = wins.join(dups, Seq("k1", "k2"))
      .filter(!(col("__id") === col("keep.__id") &&
        col("pos") === col("keep.pos")))
      .select(col("__id"), col("pos"))
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("pos"))
    removable
      // classic gap-and-island merge of [pos, pos+L) intervals: a new
      // island starts when this window begins past every earlier
      // window's end (contiguous ranges coalesce — pos == prev end
      // continues the island)
      .withColumn("__pme", max(col("pos") + lit(L))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("pos") > coalesce(col("__pme"), lit(-1)), 1).otherwise(0))
      .withColumn("__isl", sum(col("__new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("__id"), col("__isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(L)).cast("long").as("span_end"))
      .select(col("__id").as(idCol), col("span_start"), col("span_end"))
  }

  /**
   * Offset-robust benchmark decontamination: for each TRAINING document,
   * the count of its stride-1 `minTokens`-token window positions whose
   * content appears VERBATIM anywhere in the eval corpus — the exact
   * substring form of the contamination check
   * ([[TextProfile.contaminationReport]] is the distinct-n-gram overlap
   * form; this one is position-level, so `contam_frac` = the fraction of
   * stride-1 WINDOW POSITIONS whose content appears in the eval corpus —
   * note this is not token coverage: a single contaminated token run of
   * length t yields t−minTokens+1 matching positions out of
   * n−minTokens+1, so frac skews high on long matches and low on short
   * docs; for true token coverage compose [[duplicateSubstringSpans]]'s
   * interval merge over the matched positions). Emits only contaminated
   * docs (n_contam ≥ 1); threshold/drop downstream.
   *
   * Output: (idCol, n_windows, n_contam, contam_frac).
   *
   * Scale shape: eval corpora are policy-sized, so the distinct eval
   * window-hash set is a slim (k1, k2) frame that broadcasts into a
   * semi-join against the training windows — training text never
   * shuffles, and the per-doc aggregate combines map-side. The 128-bit
   * lane pair keeps a hash collision from flagging a clean document.
   */
  def substringContamination(train: DataFrame, eval: DataFrame,
                             textCol: String, idCol: String,
                             minTokens: Int): DataFrame = {
    require(minTokens > 0, s"minTokens must be positive, got $minTokens")
    val tw = strideWindows(train, textCol, idCol, minTokens)
    val evalKeys = strideWindows(eval, textCol, idCol, minTokens)
      .select(col("k1"), col("k2")).distinct()
    tw.join(evalKeys, Seq("k1", "k2"), "left_semi")
      .groupBy(col("__id"))
      .agg(max(col("__nw")).cast("long").as("n_windows"),
        count(lit(1)).as("n_contam"))
      .select(col("__id").as(idCol), col("n_windows"), col("n_contam"),
        round(col("n_contam").cast("double") / col("n_windows"), 4)
          .as("contam_frac"))
  }

  /** Rebuild text with the given token ranges removed — the companion
    * consumer of [[duplicateSubstringSpans]]'s span frame. Output
    * (idCol, text_clean, n_tokens, n_kept); every input document keeps
    * its row (whitespace-normalized text when nothing was removed), so
    * corpus accounting never loses rows. The span sets group to one
    * small array per AFFECTED document; text moves at most once. */
  def stripSpans(df: DataFrame, spans: DataFrame, textCol: String,
                 idCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val spanSets = spans.groupBy(col(idCol).as("__graft_ss_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__graft_ss"))
    val ss = col("__graft_ss")
    val toksCol = when(length(trim(col(textCol))) === 0,
      array().cast("array<string>")).otherwise(toks)
    df.join(spanSets, df(idCol) === col("__graft_ss_id"), "left")
      .withColumn("__kept", filter(toksCol, (_, i) =>
        ss.isNull || !exists(ss, s =>
          i >= s.getField("span_start") && i < s.getField("span_end"))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_clean"),
        size(toksCol).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  /**
   * Content-defined chunking (LBFS, Muthitacharoen et al. SOSP 2001;
   * the FastCDC family's base form): cut the normalized text AFTER every
   * position whose trailing `window`-char fingerprint is ≡ 0 mod
   * 2^maskBits — boundaries depend on CONTENT, not offsets, so an
   * insertion shifts only the chunks it touches and every later chunk
   * re-synchronizes. The block-level dedup tier the fixed tiers can't
   * express: q100/q121's span grids mis-align after one inserted word,
   * and q168's natural boundaries need newline structure; CDC catches
   * shared blocks in structure-free text at ~2^maskBits-char
   * granularity with ONE key per chunk instead of one per stride-1
   * window. Expected chunk length = 2^maskBits chars; the min/max
   * chunk-length refinements of FastCDC are deliberately absent (they
   * make the cut decision sequential in the previous cut — this is the
   * pure parallel form; tiny chunks are possible and harmless, they
   * just add keys).
   *
   * The per-position fingerprint is md5 of the trailing window — the
   * oracle-portable surrogate (q52's discipline) of a true rolling
   * hash; a 100 TB run swaps in the native [[graft.functions.expressions
   * .GraftExpressions]] RollingHash for the same cut set shape at
   * O(1)/position. Returns one row per chunk: (idCol, `chunk_idx`
   * 0-based, `chunk_fp` = md5 of the chunk text, `chunk_len` chars).
   * Only fingerprints and lengths leave the scan — chunk TEXT never
   * shuffles. Empty docs emit no chunks.
   */
  def cdcChunks(df: DataFrame, textCol: String, idCol: String,
                window: Int = 16, maskBits: Int = 6,
                nativeHash: Boolean = false): DataFrame = {
    require(window >= 4 && window <= 64, s"window in [4,64], got $window")
    require(maskBits >= 1 && maskBits <= 16,
      s"maskBits in [1,16], got $maskBits")
    if (nativeHash) {
      // the production face: one O(1)/position rolling-hash pass
      // ([[graft.functions.expressions.CdcChunksExpr]] — a different cut
      // family than the md5 windows, invariant-gated rather than
      // oracle-replayed; measured 6.8-7.5× over the md5 face across the
      // 50k/500k decade, SURVEY §6 — the residual cost is the
      // per-CHUNK fingerprint digest both faces share)
      val c = graft.functions.expressions.GraftExpressions.cdcChunks(
        concat_ws(" ", tokens(col(textCol))), window, maskBits)
      return df.select(col(idCol), explode(c).as("__c"))
        .select(col(idCol), col("__c.chunk_idx"), col("__c.chunk_fp"),
          col("__c.chunk_len"), col("__c.chunk_off"))
    }
    val mod = lit(1 << maskBits)
    // bindOnce discipline: the cut-test lambda runs once per CHARACTER
    // position and the chunk lambda once per chunk — both must reference
    // the BOUND normalized text / bounds array, never re-evaluate the
    // expressions that build them (the first cut re-tokenized the doc
    // per position: O(n²) per document, caught by the decade probe)
    val chunks = graft.functions.TextFunctions.bindOnce(
      concat_ws(" ", tokens(col(textCol)))) { t =>
      val n = length(t)
      // candidate cut AFTER char i (1-based), i ∈ [window, n-1]: never
      // at the end (an end cut would mint an empty final chunk)
      val cuts = filter(
        when(n <= lit(window), array().cast("array<int>"))
          .otherwise(sequence(lit(window), n - 1)),
        i => pmod(Curate.md5PrefixLong(
          t.substr(i - lit(window - 1), lit(window)), 4), mod) === 0)
      graft.functions.TextFunctions.bindOnce(
        concat(array(lit(0)), cuts, array(n))) { bounds =>
        filter(
          transform(sequence(lit(1), size(bounds) - 1), j => {
            val lo = element_at(bounds, j)
            val hi = element_at(bounds, j + 1)
            struct((j - 1).cast("long").as("chunk_idx"),
              md5(t.substr(lo + 1, hi - lo)).as("chunk_fp"),
              (hi - lo).cast("long").as("chunk_len"),
              lo.cast("long").as("chunk_off"))
          }),
          c => c.getField("chunk_len") > 0)
      }
    }
    df.select(col(idCol), explode(chunks).as("__c"))
      .select(col(idCol), col("__c.chunk_idx"), col("__c.chunk_fp"),
        col("__c.chunk_len"), col("__c.chunk_off"))
  }

  /**
   * Corpus-wide duplicate-block report over [[cdcChunks]]: every chunk
   * fingerprint occurring ≥ `minOcc` times, with occurrence and
   * distinct-document counts — the detection face of block-level dedup
   * (strip/dedup decisions join back on `chunk_fp`). One hash shuffle
   * of (fp, id, len) triples; text never moves.
   */
  def cdcDuplicateChunks(df: DataFrame, textCol: String, idCol: String,
                         window: Int = 16, maskBits: Int = 6,
                         minOcc: Long = 2L,
                         nativeHash: Boolean = false): DataFrame =
    cdcChunks(df, textCol, idCol, window, maskBits, nativeHash)
      .groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col("chunk_len")).as("chunk_len"))
      .filter(col("n_occ") >= minOcc)

  /**
   * The DECISION face of [[cdcChunks]] — corpus-wide duplicate-BLOCK
   * removal with the keep-first rule (the CDC-granularity sibling of
   * [[removeDuplicateSegments]]'s line tier and q150's phrase strip):
   * every content-defined block occurring ≥ `minOcc` times corpus-wide
   * is removed everywhere except its min-(id, chunk_idx) first
   * occurrence, and each document's text is rebuilt by concatenating
   * its surviving blocks (blocks tile the normalized text, so removal
   * just closes the gap). Catches cross-document boilerplate at
   * arbitrary offsets in structure-free text — the case the line tier
   * needs newlines for and the span grids mis-align on.
   *
   * Scale shape: the chunk pass (fp, id, idx, len, off — never text),
   * ONE fp-keyed window computing occurrence count + keep rank, then
   * one id-keyed aggregation joining back to the docs to slice the
   * kept ranges out of each row's own text. Both shuffles carry scalar
   * tuples; the only text handling is per-row slicing at rebuild.
   * Returns (idCol, `text_clean`, `n_chunks`, `n_kept`).
   */
  def stripDuplicateBlocks(df: DataFrame, textCol: String, idCol: String,
                           window: Int = 16, maskBits: Int = 6,
                           minOcc: Long = 2L,
                           nativeHash: Boolean = false): DataFrame = {
    val byFp = Window.partitionBy(col("chunk_fp"))
    val keepOrder = byFp.orderBy(col(idCol), col("chunk_idx"))
    val keep = col("__occ") < minOcc || col("__rn") === 1
    val kept = cdcChunks(df, textCol, idCol, window, maskBits, nativeHash)
      .withColumn("__occ", count(lit(1)).over(byFp))
      .withColumn("__rn", row_number().over(keepOrder))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops nulls, so dropped blocks vanish here; the
        // struct sorts by its first field, so the slices reassemble in
        // chunk order regardless of arrival order
        array_sort(collect_list(when(keep,
          struct(col("chunk_idx"), col("chunk_off"), col("chunk_len")))))
          .as("__ks"))
    val emptyKs = array().cast(
      "array<struct<chunk_idx:bigint,chunk_off:bigint,chunk_len:bigint>>")
    // bindOnce: the rebuild lambda slices the normalized text per KEPT
    // chunk — it must reference the bound string, not re-normalize per
    // element (the q185 probe lesson)
    val rebuilt = graft.functions.TextFunctions.bindOnce(
      concat_ws(" ", tokens(col(textCol)))) { tt =>
      concat_ws("", transform(coalesce(col("__ks"), emptyKs),
        s => tt.substr(s.getField("chunk_off").cast("int") + 1,
          s.getField("chunk_len").cast("int"))))
    }
    df.join(kept, Seq(idCol), "left")
      .select(col(idCol), rebuilt.as("text_clean"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
