package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/**
 * Streaming-mode building blocks mapping the reference's worker runtime
 * onto Structured Streaming (SURVEY §1.3, §2.1 #12-16):
 *
 *  - per-step queue + long-poll worker loop (`libs/simple_queue.py:15-47`)
 *    → micro-batch execution over a checkpointed source;
 *  - `die_when_empty` (`libs/simple_queue.py:24-37`) → Trigger.AvailableNow:
 *    drain everything available, then stop;
 *  - backpressure `jobs_limit` (`adapters/simple_queue.py:24-29`)
 *    → `maxFilesPerTrigger` source option;
 *  - at-least-once + requeue (`libs/simple_queue.py:42-47`) → checkpointed
 *    exactly-once to idempotent sinks (strictly stronger).
 */
object StreamingFlows {

  /** Event-time tumbling/sliding window aggregation with late-data bound
    * (≙ the only late-data semantics the reference has: the reducer's 30 s
    * TTL, generalized to proper watermarking). */
  def windowedCounts(events: DataFrame, tsCol: String, windowDur: String,
                     slideDur: Option[String] = None,
                     watermark: String = "30 seconds",
                     keyCols: Seq[String] = Nil): DataFrame = {
    val win = slideDur.map(s => window(col(tsCol), windowDur, s))
      .getOrElse(window(col(tsCol), windowDur))
    events
      .withWatermark(tsCol, watermark)
      .groupBy((win +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Drain-everything-then-stop execution (≙ `die_when_empty`):
    * starts the sink with Trigger.AvailableNow and blocks to completion. */
  def runUntilDrained[T](writer: DataStreamWriter[T]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /**
   * Watermarked stream-stream interval join: both sides carry a watermark
   * and the join condition bounds `rightTs` to [leftTs, leftTs + maxDelay],
   * so each side's join state is evictable once the other side's watermark
   * passes the bound — constant state at any stream length, the only
   * stream-stream join shape that survives an unbounded run. (The reference
   * has no two-input operator at all; its Hub+Reducer fan-in is positional,
   * SURVEY §2.2 "Joins".)
   */
  def intervalJoin(left: DataFrame, leftTs: String, right: DataFrame,
                   rightTs: String, keys: Seq[String], maxDelay: String,
                   watermark: String = "30 seconds"): DataFrame = {
    // Spark rejects a stream-stream join with no equality predicate (the
    // state store needs a key to co-partition both sides) — fail here
    // with the requirement named, not at query start with empty.reduceLeft
    require(keys.nonEmpty,
      "intervalJoin requires at least one equi-key: stream-stream joins " +
        "without an equality predicate are unsupported by Spark. Add a " +
        "key column (or a constant bucket column on both sides).")
    val keyCond = keys.map(k => left(k) === right(k)).reduce(_ && _)
    val joined = left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        keyCond &&
          right(rightTs) >= left(leftTs) &&
          right(rightTs) <= left(leftTs) + expr(s"INTERVAL $maxDelay"))
    // keep one copy of each equi-key (the left's)
    keys.foldLeft(joined)((df, k) => df.drop(right(k)))
  }

  /**
   * Streaming exact dedup: drop any record whose normalized-content
   * fingerprint was already seen within the watermark horizon — the
   * streaming form of `Dedup.exact`. State is evicted past the watermark
   * (`dropDuplicatesWithinWatermark`), so the dedup set never grows
   * unboundedly; a plain `dropDuplicates` would hold every fingerprint
   * forever and OOM on an unbounded corpus stream.
   */
  def streamingDedup(df: DataFrame, textCol: String, tsCol: String,
                     watermark: String = "30 seconds"): DataFrame = {
    // namespaced temp column so a caller's own "__fp" survives untouched
    val fp = "__graft_dedup_fp"
    df.withColumn(fp, graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(fp)
      .drop(fp)
  }

  /**
   * Streaming form of the incremental-ingestion dedup
   * ([[graft.operators.Dedup.dedupAgainstFingerprints]]): drop arriving
   * rows whose normalized content the snapshot's fingerprint store already
   * holds. Stream-static LEFT ANTI join — natively supported by Structured
   * Streaming, stateless on the stream side (no watermark needed: the
   * static side is the state). The static frame is re-planned per
   * micro-batch, so a store path re-read picks up snapshot compactions;
   * pair with [[streamingDedup]] upstream to also collapse duplicates
   * WITHIN the stream's watermark horizon. Scale shape: identical to the
   * batch form — the store ships fingerprints only, never text.
   */
  def streamingDedupAgainst(stream: DataFrame, corpusFps: DataFrame,
                            textCol: String): DataFrame =
    graft.operators.Dedup.dedupAgainstFingerprints(stream, textCol, corpusFps)

  /**
   * [[streamingDedupAgainst]] off a
   * [[graft.operators.Dedup.writeFingerprintStore]] ingest store — the
   * streaming face of the [[graft.operators.Dedup.ingestBatch]] batch
   * loop: every micro-batch anti-joins the store TABLE (fingerprints
   * only, bucket-co-located scan, corpus text never in the plan).
   * Fingerprints appended by `ingestBatch` BEFORE the query starts are
   * part of the snapshot (StreamingSpec-gated); appends that land while
   * the query runs surface only per Spark's static-side re-read
   * semantics — restart the query for a guaranteed fresh snapshot.
   */
  def streamingDedupAgainstStore(spark: SparkSession, stream: DataFrame,
      textCol: String, table: String): DataFrame =
    streamingDedupAgainst(stream,
      graft.operators.Layout.readTable(spark, table), textCol)

  /**
   * The INGEST loop itself under Structured Streaming — the serve paths
   * above consume a store; this is what continuously BUILDS one (the
   * production form of [[graft.operators.Dedup.ingestBatch]], and the
   * loop stepist's at-least-once workers approximate,
   * `libs/simple_queue.py:42-47`, upgraded to an exactly-once-effect
   * store): each micro-batch runs the full ingest step — exact dedup
   * within the batch, anti-join against the fingerprint store, APPEND
   * the survivors' fingerprints — inside `foreachBatch`, the documented
   * home for batch-only sinks (a bucketBy saveAsTable append is not a
   * streaming sink). The checkpoint makes batch delivery at-least-once;
   * the ingest step is IDEMPOTENT (re-ingesting an already-appended
   * batch finds every fingerprint in the store and appends nothing —
   * DedupSpec-gated), so a crash-replayed micro-batch leaves the store
   * EXACTLY-ONCE. StreamingSpec gates: a MemoryStream-fed run over N
   * micro-batches yields the same store as the one-shot
   * `writeFingerprintStore` over the concatenated corpus, replayed
   * final batch included.
   *
   * `onBatch` receives each micro-batch's survivors (re-planned from
   * their materialized RDD, so safe to consume after the append) with
   * the batch id — the hook a production loop uses to write survivors
   * to the corpus sink; that write inherits foreachBatch's
   * at-least-once contract, so key it idempotently (by content
   * fingerprint, like the store itself).
   *
   * Returns the un-started writer: compose with a trigger and
   * [[runUntilDrained]] (drain-then-stop) or `.start()` (continuous).
   */
  def streamingIngest(stream: DataFrame,
      textCol: String, idCol: String, table: String, checkpoint: String,
      onBatch: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    ingestWriter(stream, checkpoint) { (batch, batchId) =>
      // the micro-batch frame belongs to the stream's CLONED session;
      // read and append through THAT session, not the caller's — the
      // append invalidates the table's cached file listing only in the
      // session that wrote, so a caller-session read here would serve
      // batch N+1 a stale pre-append snapshot (observed: a duplicate
      // of batch N's content passed the anti-join)
      onBatch(graft.operators.Dedup.ingestBatch(
        batch.sparkSession, batch, textCol, idCol, table), batchId)
    }

  /** The skeleton every `streamingIngest*` writer shares: a checkpointed
    * `foreachBatch` that runs `tick` (the ingest step and its callbacks)
    * on each micro-batch, then releases OpCache. Each ingest step
    * persists batch-scoped intermediates (the materialized pre-append
    * snapshot among them) through OpCache; a continuous stream must
    * release them per micro-batch or executor storage grows one pinned
    * RDD per batch forever. Releasing here is safe: `tick` has returned,
    * and an OpCache release only forfeits cache reuse, never
    * correctness. */
  private def ingestWriter(stream: DataFrame, checkpoint: String)(
      tick: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tick(batch, batchId)
        graft.operators.OpCache.release()
        ()
      }

  /**
   * [[streamingIngest]]'s LSH-TIER sibling — the continuous form of
   * [[graft.operators.Dedup.ingestBatchLsh]], completing the
   * batch/stream lifecycle parity across all three dedup tiers: each
   * micro-batch runs in-batch LSH dedup, candidate+verify against the
   * band store, and appends the survivors' bands and signatures, inside
   * `foreachBatch` (same session-discipline note as [[streamingIngest]]).
   * The same exactly-once-effect argument holds: checkpointed delivery
   * is at-least-once, and the ingest step is IDEMPOTENT — a replayed
   * batch finds every one of its signatures already in the store
   * (self-similarity 1.0 ≥ threshold), so it appends nothing
   * (DedupSpec-gated). StreamingSpec gates N micro-batches ≡ the same
   * batches ingested sequentially (whose ≡ one-shot is q146-gated).
   */
  def streamingIngestLsh(stream: DataFrame, textCol: String, idCol: String,
      table: String, checkpoint: String, shingleK: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      onBatch: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    ingestWriter(stream, checkpoint) { (batch, batchId) =>
      onBatch(graft.operators.Dedup.ingestBatchLsh(
        batch.sparkSession, batch, textCol, idCol, table,
        shingleK, numHashes, bands, threshold), batchId)
    }

  /**
   * [[streamingIngest]]'s SEMANTIC-TIER sibling — the continuous form of
   * [[graft.operators.Dedup.ingestBatchSemDedup]]: each micro-batch is
   * assigned with the STORED centroids (broadcast; corpus vectors never
   * enter an exchange), deduped within the batch, bipartite-checked
   * against the assigned-corpus store, and its surviving assignments
   * appended. Idempotence (replayed batch: cos(self, self) = 1 ≥ tau ⇒
   * zero survivors, DedupSpec-gated) makes the effect exactly-once;
   * StreamingSpec gates stream ≡ sequential-batch store equality
   * (sequential ≡ one-shot is q147-gated).
   */
  def streamingIngestSemDedup(stream: DataFrame, table: String,
      centroids: DataFrame, vecCol: String, idCol: String, probes: Int,
      tau: Double, checkpoint: String,
      onBatch: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    ingestWriter(stream, checkpoint) { (batch, batchId) =>
      onBatch(graft.operators.Dedup.ingestBatchSemDedup(
        batch.sparkSession, batch, table, centroids, vecCol, idCol,
        probes, tau), batchId)
    }

  /**
   * [[streamingIngest]]'s ANN-STORE sibling — the continuous form of
   * [[graft.operators.Quantize.ingestBatchCodeStore]], so a growing
   * embedding corpus feeds the versioned IVF-PQ serving store directly:
   * each micro-batch is encoded/assigned with the STORED models, ids the
   * store already holds are skipped (the idempotence that upgrades
   * foreachBatch's at-least-once delivery to exactly-once store effect —
   * QuantizeSpec-gated), and only touched cells are rewritten into a new
   * generation behind one atomic manifest swap, so concurrent ANN
   * serving never observes a partial ingest. StreamingSpec gates
   * stream ≡ sequential-batch store equality; the cadence claims
   * (manifests stay current+grace, one file per cell, no staging debris
   * across micro-batches) are measured in SURVEY §6.
   *
   * Inherits [[graft.operators.Quantize.ingestBatchCodeStore]]'s
   * BOUNDED idempotence contract: the already-held check reads only the
   * batch's assigned cells, so each tick's I/O is batch-proportional at
   * any store size — which requires STABLE id→vector bindings on the
   * stream (a changed document must flow retract-then-reingest, not a
   * bare re-emit with a new embedding).
   *
   * DRIFT AT CADENCE: pass `onDrift` and every non-empty micro-batch
   * also emits its [[graft.operators.Quantize.codeStoreDriftStats]]
   * 1-row frame (computed against the SAME frozen centroids the ingest
   * encodes with — O(batch), no store read), so the
   * WHEN-to-retrain trigger (q164's err_ratio; in-distribution ≈ 1,
   * drifted ≫ — threshold ~5 without per-corpus tuning) runs on the
   * scheduled tick instead of by operator memory. None (the default)
   * skips the computation entirely — the observer costs nothing when
   * unused, and roughly a batch-local k-means per tick when on
   * (StreamingSpec gates calm-stays-calm / drifted-trips on live
   * ticks).
   */
  def streamingIngestCodeStore(stream: DataFrame, path: String,
      centroids: DataFrame, codebook: DataFrame, vecCol: String,
      idCol: String, m: Int, subDim: Int, checkpoint: String,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      onDrift: Option[(DataFrame, Long) => Unit] = None)
      : DataStreamWriter[Row] =
    ingestWriter(stream, checkpoint) { (batch, batchId) =>
      onBatch(graft.operators.Quantize.ingestBatchCodeStore(
        batch.sparkSession, path, batch, centroids, codebook,
        vecCol, idCol, m, subDim), batchId)
      // drift observer: after the ingest (same tick, same batch), on
      // the RAW batch — drift is a property of what arrived, not of
      // the replay-deduped survivor set. The (id, vec) projection is
      // persisted for the observer's lifetime (released with the
      // tick's OpCache sweep): the drift computation makes ~6 passes
      // over the batch (emptiness probe, yardstick k-means iterations,
      // two assign passes), each of which would otherwise re-read the
      // micro-batch's source offsets
      onDrift.foreach { cb =>
        val b = graft.operators.OpCache.track(
          batch.select(batch.col(idCol), batch.col(vecCol)).persist())
        if (!b.isEmpty)
          cb(graft.operators.Quantize.codeStoreDriftStats(
            b, centroids, vecCol, idCol, 0, 2), batchId)
      }
    }

  /**
   * Streaming near-duplicate candidates off a
   * [[graft.operators.Dedup.writeLshStore]] ingest store — the streaming
   * face of [[graft.operators.Dedup.minhashLshAgainstStore]]: arriving
   * rows are shingled/minhashed in-stream, their exploded bands
   * stream-static join the `<table>_bands` store, and verification
   * attaches the `<table>_sigs` store — so corpus text and corpus
   * signatures are never recomputed, exactly like the batch path.
   * Output: (batch_id, corpus_id, est_jaccard, tsCol) verified matches.
   *
   * One structural difference from the batch form, same result: the
   * stream's own signature rides THROUGH the band explode instead of
   * being re-joined per candidate — the batch path's sig re-join would
   * be a stream-to-its-own-derivative join, which Structured Streaming
   * treats as stream-stream. And the multi-band duplicate collapse uses
   * `dropDuplicatesWithinWatermark` on (batch_id, corpus_id) — the
   * [[streamingDedup]] contract: `tsCol` + `watermark` bound the state
   * that batch-mode `dropDuplicates` gets for free.
   */
  def streamingNearDupAgainstStore(spark: SparkSession, stream: DataFrame,
      textCol: String, idCol: String, tsCol: String, table: String,
      watermark: String = "10 minutes", shingleK: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val rows = graft.operators.Dedup.lshRows(numHashes, bands)
    val sigs = stream.select(col(idCol).as("batch_id"), col(tsCol),
      graft.operators.Dedup.minhashSignatureFromHashes(
        graft.functions.TextFunctions.shingleHashes(col(textCol), shingleK),
        numHashes).as("__sig_a"))
    val cands = sigs.select(col("batch_id"), col(tsCol), col("__sig_a"),
        graft.operators.Dedup.lshBands(col("__sig_a"), bands, rows).as("bb"))
      .select(col("batch_id"), col(tsCol), col("__sig_a"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .join(graft.operators.Layout.readTable(spark, s"${table}_bands"),
        Seq("band", "bucket"))
      .select(col("batch_id"), col(tsCol), col("__sig_a"),
        col("id").as("corpus_id"))
    cands
      .join(graft.operators.Layout.readTable(spark, s"${table}_sigs")
        .select(col("id").as("corpus_id"), col("sig").as("__sig_b")),
        Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        graft.operators.Dedup.lshEstJaccard(col("__sig_a"), col("__sig_b"),
          numHashes).as("est_jaccard"), col(tsCol))
      .filter(col("est_jaccard") >= threshold)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("batch_id", "corpus_id")
  }

  /**
   * Streaming SemDeDup matches off a
   * [[graft.operators.Dedup.writeAssignedCorpus]] cell-bucketed store —
   * the streaming face of
   * [[graft.operators.Dedup.semDedupBatchAgainstStore]], completing the
   * serve-a-store family (exact fp, LSH, BM25, DSIR, and now semantic).
   * Arriving vectors are probe-assigned by a pure expression over the
   * COLLECTED centroid artifact ([[graft.operators.Similarity.probeCellsExpr]]
   * — the stored model, shipped like [[graft.operators.Curate.dsirScore]]'s
   * ratios; batch assignment's broadcast-join + max_by aggregation is a
   * stateful-agg shape streaming can't append through), then each probed
   * cell stream-static joins the store with cosine computed inside the
   * join. Output: verified (batch_id, corpus_id, cos, tsCol) matches;
   * the per-shared-cell duplicate collapses via
   * `dropDuplicatesWithinWatermark`, the [[streamingNearDupAgainstStore]]
   * contract. StreamingSpec gates set equality with the batch store path
   * at the same centroids.
   */
  def streamingSemDedupAgainstStore(spark: SparkSession, stream: DataFrame,
      vecCol: String, idCol: String, tsCol: String, table: String,
      centroids: Seq[(Long, Seq[Double])], tau: Double, probes: Int = 2,
      watermark: String = "10 minutes"): DataFrame = {
    val assigned = stream.select(col(idCol).as("batch_id"), col(tsCol),
      col(vecCol).as("__vb"),
      explode(graft.operators.Similarity.probeCellsExpr(
        col(vecCol), centroids, probes)).as("cell"))
    assigned
      .join(graft.operators.Layout.readTable(spark, table)
          .select(col(idCol).as("corpus_id"), col("cell"),
            col(vecCol).as("__vc")),
        Seq("cell"))
      .select(col("batch_id"), col("corpus_id"),
        graft.functions.expressions.GraftExpressions
          .cosineSimilarity(col("__vb"), col("__vc")).as("cos"),
        col(tsCol))
      .filter(col("cos") >= tau)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("batch_id", "corpus_id")
  }
}

/**
 * Connector SPI ≙ the reference's pluggable `BaseWorkerEngine` ABC
 * (`stepist/flow/workers/worker_engine.py:5-35`: add_job/receive_job/
 * jobs_count/flush_queue) plus the queue-introspection surface of
 * `adapters/simple_queue.py:54-64`. A stage boundary is a durable location
 * one flow writes and another reads — the moral equivalent of the per-step
 * Redis list, with storage supplying the durability Redis did.
 *
 * Consumption model: batch/streaming readers do NOT pop — streaming
 * readers track their own progress via checkpoints (files-as-queue), so
 * `jobsCount` is producer-side queue depth (≙ Redis LLEN before any BRPOP)
 * and [[flush]] is the explicit drop (≙ `flush_queue`).
 *
 * Producer-side backpressure ≙ `jobs_limit` blocking
 * (`adapters/simple_queue.py:24-29`: `add_jobs` sleeps while the queue is
 * over the limit): implementations with a `jobsLimit` block in
 * [[write]] until depth falls below the limit (a consumer flushing, or a
 * compactor trimming consumed files).
 *
 * DELIVERY GRADE per implementation — choose by the consequence of loss:
 *  - [[ParquetBoundary]]: durable files + streaming checkpoints —
 *    at-least-once delivery; exactly-once EFFECT when the consumer step
 *    is idempotent (the ingest loops are, gated). The production default.
 *  - [[InMemoryBoundary]]: in-heap, single-JVM — tests and local dev.
 *  - [[SocketBoundary]]: AT-MOST-ONCE to subscribers, no persistence — a
 *    crashed subscriber loses in-flight rows. Dev-grade BY DESIGN,
 *    matching the grade of the reference's in-process adapter it mirrors
 *    (`adapters/simple_queue.py`); never route data whose loss matters
 *    through it — that is what [[ParquetBoundary]] is for.
 *
 * FAN-OUT VISIBILITY: inside a Hub fan-out ([[graft.core.FanOut]], opened
 * by `App.run` and `App.runZip`) [[write]] throttles and checks at once
 * but defers the append; when the fan-out's branch walk returns, the
 * boundary gets ONE append of all its branches' rows. A fan-out whose
 * branch throws appends nothing, and where an append lands at once (one
 * small [[ParquetBoundary]] file, one [[InMemoryBoundary]] batch) a
 * consumer never sees branch A's rows without branch B's. The throttle
 * counts only appended rows, not rows still deferred in an open fan-out.
 */
trait StageBoundary {
  /** Enqueue a batch (≙ add_jobs): append rows durably. Blocks while the
    * queue is at or over `jobsLimit`, if one is configured; inside a Hub
    * fan-out the append itself waits for the end of the fan-out. */
  final def write(df: DataFrame): Unit = {
    awaitCapacity(df.sparkSession)
    admit(df)
    if (!graft.core.FanOut.defer(this, df)(append)) append(df)
  }
  /** Checks a write must pass when it is called, before it is deferred. */
  protected def admit(df: DataFrame): Unit = ()
  /** Land `df` in the queue: one call per write, or per fan-out. */
  protected def append(df: DataFrame): Unit
  /** Batch read of everything enqueued so far (≙ drain). */
  def read(spark: SparkSession): DataFrame
  /** Streaming read — the worker side (≙ process loop). */
  def readStream(spark: SparkSession): DataFrame
  /** Queue depth in rows (≙ `jobs_count`). */
  def jobsCount(spark: SparkSession): Long
  /** ≙ `is_empty` (`adapters/simple_queue.py:58-60`). */
  def isEmpty(spark: SparkSession): Boolean = jobsCount(spark) == 0L
  /** Drop everything enqueued (≙ `flush_queue`). */
  def flush(): Unit

  /** Producer-side throttle cap, None = unbounded. */
  protected def jobsLimit: Option[Long] = None
  protected def throttlePollMs: Long = 50L
  /** Max time a throttled [[write]] may block, None = forever. A stuck
    * queue (consumer dead, nobody flushing/trimming) then fails the
    * producer with a [[java.util.concurrent.TimeoutException]] instead of
    * wedging it silently. */
  protected def throttleTimeoutMs: Option[Long] = None
  /** Block until depth < jobsLimit (≙ `add_jobs`'s sleep-while-full loop). */
  protected def awaitCapacity(spark: SparkSession): Unit =
    jobsLimit.foreach { lim =>
      val deadline = throttleTimeoutMs.map(System.nanoTime() + _ * 1000000L)
      while (jobsCount(spark) >= lim) {
        if (deadline.exists(System.nanoTime() >= _))
          throw new java.util.concurrent.TimeoutException(
            s"queue still at/over jobs_limit=$lim after " +
              s"${throttleTimeoutMs.get} ms; no consumer drained it")
        Thread.sleep(throttlePollMs)
      }
    }
}

/** Parquet-directory stage boundary: append-only files, schema pinned at
  * first write. At cluster scale this is the standard files-as-queue
  * pattern (exactly-once with checkpointed readers).
  *
  * An append writes into its own `_staging-<uuid>` directory inside the
  * queue (readers, [[jobsCount]] and the trims skip `_` names), then
  * renames the data files into the queue. Concurrent producers therefore
  * never share a committer's `_temporary` directory, and a reader sees a
  * file only once it is complete. An append whose plan estimate is under
  * `spark.sql.files.maxPartitionBytes` is written as ONE file; a larger
  * one keeps its partitioning (one file per partition). A Hub fan-out is
  * one append (see [[StageBoundary]]), so its branches land in the same
  * file and a worker reduces the job in one micro-batch. A crash between
  * the renames of a multi-file append leaves the renamed files visible.
  *
  * `limit`, if set, is the producer-side jobs_limit in ROWS (checked by
  * each write);
  * `limitTimeoutMs` bounds how long a throttled write may block (None =
  * forever, the reference's behavior — `adapters/simple_queue.py:24-29`
  * sleeps unconditionally).
  *
  * Queue depth is tracked driver-side from parquet FOOTERS, cached per
  * file: a [[jobsCount]] call lists the directory and reads only footers
  * it hasn't seen — O(new files) metadata IO, never a cluster count job —
  * so the producer's throttle loop costs the scheduler nothing. */
final class ParquetBoundary(path: String, limit: Option[Long] = None,
                            limitTimeoutMs: Option[Long] = None)
    extends StageBoundary {
  private var schemaJson: Option[String] = None
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  // file path -> exact row count from its footer (guarded by this);
  // entries drop when the file vanishes (flush/trim/external delete)
  private val fileRows = scala.collection.mutable.Map.empty[String, Long]
  override protected def jobsLimit: Option[Long] = limit
  override protected def throttleTimeoutMs: Option[Long] = limitTimeoutMs
  // metadata-only polls are cheap, but object-store LISTs aren't free
  override protected def throttlePollMs: Long = 100L

  private def hadoopConf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  private def dirExists(spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(hadoopConf(spark)).exists(p)
    catch { case _: java.io.IOException => false }
  }

  /** The directory holds at least one data file right now. A trimmed-empty
    * queue keeps its directory (trim deletes files, never the dir), so
    * "dir exists" alone does not mean "schema is inferable". */
  private def hasDataFile(spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(hadoopConf(spark)).listStatus(p)
      .exists(st => st.isFile && isDataFile(st.getPath.getName))
    catch { case _: java.io.IOException => false }
  }

  private def pinnedSchema: Option[org.apache.spark.sql.types.StructType] =
    synchronized(schemaJson).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  override protected def admit(df: DataFrame): Unit = {
    // pin-once under the lock (concurrent first writes can't race on which
    // schema wins; readers get a happens-before edge) — and REJECT a
    // schema-divergent later append: parquet append has no cross-file
    // check, so the corruption would otherwise surface as a decode error
    // in some consumer batches later, far from the offending write
    synchronized {
      // a crash-restarted (fresh) instance over a non-empty queue must
      // validate against what's ALREADY ON DISK, not pin whatever its
      // first write happens to carry — otherwise the divergent file the
      // guard exists to stop lands anyway
      if (schemaJson.isEmpty && hasDataFile(df.sparkSession))
        schemaJson = Some(df.sparkSession.read.parquet(path).schema.json)
      schemaJson match {
        case None => schemaJson = Some(df.schema.json)
        case Some(j) =>
          val pinned = org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          def shape(s: org.apache.spark.sql.types.StructType) =
            s.fields.map(f => (f.name, f.dataType)).toSet
          require(shape(pinned) == shape(df.schema),
            s"schema-divergent append to queue '$path': pinned " +
              s"${pinned.simpleString}, got ${df.schema.simpleString}")
      }
    }
  }

  override protected def append(df: DataFrame): Unit = {
    val spark = df.sparkSession
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(hadoopConf(spark))
    val staging = new org.apache.hadoop.fs.Path(dir,
      s"_staging-${java.util.UUID.randomUUID()}")
    val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <
      spark.sessionState.conf.filesMaxPartitionBytes
    try {
      (if (small) df.coalesce(1) else df).write.parquet(staging.toString)
      fs.listStatus(staging)
        .filter(st => st.isFile && isDataFile(st.getPath.getName))
        .foreach { st =>
          val to = new org.apache.hadoop.fs.Path(dir, st.getPath.getName)
          if (!fs.rename(st.getPath, to))
            throw new java.io.IOException(
              s"could not move ${st.getPath} into queue '$path'")
        }
    } finally fs.delete(staging, true)
  }

  override def read(spark: SparkSession): DataFrame = {
    val pinned = pinnedSchema
    def emptyFrame = pinned
      .map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
      .getOrElse(spark.emptyDataFrame)
    // consumer-before-producer, post-flush, or fully-trimmed must all see
    // an EMPTY queue — not PATH_NOT_FOUND or a schema-inference crash
    if (!dirExists(spark)) emptyFrame
    else pinned match {
      // explicit schema: no inference, so a drained (zero-data-file) dir
      // reads as empty; ignoreMissingFiles covers a concurrent trim/flush
      // deleting a file between listing and scan (parity with readStream)
      case Some(s) =>
        spark.read.schema(s).option("ignoreMissingFiles", "true").parquet(path)
      case None =>
        if (hasDataFile(spark))
          spark.read.option("ignoreMissingFiles", "true").parquet(path)
        else emptyFrame // fresh instance over a drained dir: nothing to infer
    }
  }

  override def readStream(spark: SparkSession): DataFrame = {
    val pinned = pinnedSchema
    // a fresh instance over a drained-but-existing dir has nothing to
    // infer from either — same guidance as the missing-dir case, not an
    // opaque schema-inference AnalysisException
    if (pinned.isEmpty && !hasDataFile(spark))
      throw new IllegalStateException(
        s"cannot readStream from '$path': nothing has been written yet and " +
          "no schema is pinned — a streaming source needs a schema up " +
          "front. Either write() first, or construct the consumer-side " +
          "boundary after the producer's first append.")
    if (!dirExists(spark)) {
      // schema is pinned but the directory is gone (flushed, or consumer
      // restarted first): subscribing to a queue creates it, like a Redis
      // list springing into existence on first touch
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(hadoopConf(spark)).mkdirs(p)
    }
    val schema = pinned.getOrElse(spark.read.parquet(path).schema)
    spark.readStream
      .schema(schema)
      // consumer-side batch cap, complementing the producer-side jobsLimit
      .option("maxFilesPerTrigger", "16")
      // [[trim]] deletes consumed files; a restarted reader whose
      // checkpoint still lists them must skip, not die
      .option("ignoreMissingFiles", "true")
      .parquet(path)
  }

  /** Queue depth in rows, from cached footer counts: one directory
    * listing plus a footer read per not-yet-seen file. Exact — a parquet
    * footer records the file's row count — and a pure driver-side
    * metadata operation (no Spark job, nothing on the cluster). */
  override def jobsCount(spark: SparkSession): Long = synchronized {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = hadoopConf(spark)
    val fs = p.getFileSystem(conf)
    val listed =
      try fs.listStatus(p).filter(st => st.isFile && isDataFile(st.getPath.getName))
      catch { case _: java.io.FileNotFoundException =>
        fileRows.clear(); return 0L // never written, or flushed away
      }
    val live = listed.map(_.getPath.toString).toSet
    fileRows.filterInPlace((k, _) => live.contains(k))
    listed.foreach { st =>
      val key = st.getPath.toString
      if (!fileRows.contains(key)) {
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try fileRows(key) = r.getRecordCount finally r.close()
        } catch {
          // raced a concurrent flush/trim between listing and footer read:
          // the file is gone, so it contributes no depth
          case _: java.io.FileNotFoundException => ()
        }
      }
    }
    fileRows.values.sum
  }

  /**
   * Release consumed files the SAFE way: delete exactly the data files the
   * consumer's file-source checkpoint records as COMMITTED — the files-as-
   * queue form of Redis BRPOP consuming entries as it reads them
   * (`libs/simple_queue.py:62-66`), without which a long-lived boundary
   * grows without bound. Reads `commits/` for the highest committed QUERY
   * batch, translates it to this SOURCE's log offset via the matching
   * `offsets/<batch>` entry (the two counters diverge: a stateful
   * consumer's watermark-advancing no-data batch consumes a query batchId
   * without advancing the file source, and union consumers have one offset
   * per source), then deletes the `sources/<sourceIdx>/` log entries at or
   * below that offset that live directly in this boundary's directory.
   * Because the file list comes from the same log the restarted reader
   * consults (and `ignoreMissingFiles` covers the already-seen entries),
   * this cannot delete an unprocessed file no matter how the producer/
   * consumer clocks disagree — unlike the mtime-based [[trim]]. Returns
   * the number of files removed.
   *
   * `sourceIdx` is the position of this boundary among the consuming
   * query's sources (0 for the usual single-source worker).
   */
  def trimCommitted(spark: SparkSession, checkpointDir: String,
                    sourceIdx: Int = 0): Long = synchronized {
    val conf = hadoopConf(spark)
    val ck = new org.apache.hadoop.fs.Path(checkpointDir)
    val ckFs = ck.getFileSystem(conf)
    def list(dir: org.apache.hadoop.fs.Path) =
      try ckFs.listStatus(dir).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    def readLines(p: org.apache.hadoop.fs.Path): Vector[String] = {
      val in = ckFs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }
    // Fail-loud format probe: this method parses Spark's HDFSMetadataLog
    // files (offsets/, sources/<i>/) directly, and every one of them
    // declares its serialization version on line 1 ("v1" since Spark 2.1,
    // still v1 in 4.1). If a Spark upgrade ever bumps it, trimming must
    // ABORT with a clear message — a silent no-trim would look like a
    // space leak, and a misparse could delete unprocessed queue files.
    def checkLogVersion(lines: Vector[String], what: String): Vector[String] = {
      val v = lines.headOption.getOrElse("<empty>").trim
      if (v != "v1") throw new IllegalStateException(
        s"trimCommitted: unsupported $what metadata-log version '$v' " +
          "(this parser understands v1). Spark's checkpoint format has " +
          "drifted — update StreamingFlows.trimCommitted before trusting " +
          "it to delete queue files.")
      lines
    }
    // metadata-log filenames are "<batchId>" or "<batchId>.compact"
    def batchId(name: String): Option[Long] =
      try Some(name.stripSuffix(".compact").toLong)
      catch { case _: NumberFormatException => None }
    val committed = list(new org.apache.hadoop.fs.Path(ck, "commits"))
      .flatMap(st => batchId(st.getPath.getName))
    if (committed.isEmpty) return 0L // nothing fully processed yet
    val maxCommitted = committed.max
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // query batch -> source log offset: offsets/<batch> holds "v1", the
    // batch metadata JSON, then one offset line per source in order;
    // a file source's is {"logOffset":N} ("-" = source not started yet)
    val cutoff: Long = {
      val offFile = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(ck, "offsets"), maxCommitted.toString)
      val offLines =
        try checkLogVersion(readLines(offFile), "offsets").drop(2)
        catch { case _: java.io.FileNotFoundException => return 0L }
      if (sourceIdx >= offLines.size) return 0L
      val line = offLines(sourceIdx).trim
      if (!(line.startsWith("{") || line.forall(_.isDigit))) return 0L
      val node = try mapper.readTree(line)
        catch { case _: com.fasterxml.jackson.core.JacksonException => return 0L }
      if (node.has("logOffset")) node.get("logOffset").asLong()
      else if (node.isNumber) node.asLong()
      else return 0L
    }
    // collect committed entries' paths: the NEWEST compact log supersedes
    // every earlier file (entries keep their original batchIds, which we
    // filter by the cutoff), so read it plus only the deltas after it —
    // bounded I/O however long the queue has lived
    val srcDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(ck, "sources"), sourceIdx.toString)
    val logFiles = list(srcDir)
    val latestCompact = logFiles
      .filter(_.getPath.getName.endsWith(".compact"))
      .flatMap(st => batchId(st.getPath.getName).map(_ -> st))
      .sortBy(_._1).lastOption
    val toRead = latestCompact.map(_._2).toSeq ++ logFiles.filter { st =>
      val name = st.getPath.getName
      !name.endsWith(".compact") &&
        batchId(name).exists(id =>
          id <= cutoff && latestCompact.forall(id > _._1))
    }
    val victims = scala.collection.mutable.LinkedHashSet.empty[String]
    toRead.foreach { st =>
      checkLogVersion(readLines(st.getPath), "file-source").foreach { line =>
        if (line.startsWith("{")) {
          // a torn line (driver died mid-append to the metadata log) must
          // skip, not wedge trimming forever
          try {
            val node = mapper.readTree(line)
            val entryBatch = Option(node.get("batchId")).map(_.asLong())
              .getOrElse(Long.MaxValue)
            if (entryBatch <= cutoff)
              Option(node.get("path")).foreach(p => victims += p.asText())
          } catch {
            case _: com.fasterxml.jackson.core.JacksonException => ()
          }
        }
      }
    }
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    // full URI, not just the path component: an entry on a DIFFERENT
    // filesystem with the same directory path (s3a://bucket/data/q vs
    // file:/data/q) must be skipped, not passed to fs.delete where the
    // Wrong-FS check would abort the whole trim mid-delete
    val qualifiedDir = fs.makeQualified(dir).toUri
    victims.count { uri =>
      // only touch files directly inside this boundary's directory — the
      // consumer's checkpoint may track other sources' files too; an
      // unparseable entry path simply isn't ours
      val parsed = try Some(new org.apache.hadoop.fs.Path(new java.net.URI(uri)))
        catch { case _: java.net.URISyntaxException |
                     _: IllegalArgumentException => None }
      parsed.exists { vp =>
        val parentOk = Option(vp.getParent).exists { p =>
          // makeQualified throws on a foreign-scheme path: not ours
          try fs.makeQualified(p).toUri == qualifiedDir
          catch { case _: IllegalArgumentException => false }
        }
        parentOk && {
          fileRows.remove(fs.makeQualified(vp).toString)
          fs.delete(vp, false)
        }
      }
    }
  }

  /**
   * Consume-on-read, automated: register a session-level listener that
   * calls [[trimCommitted]] after every successful micro-batch of the
   * consuming query, so a long-lived worker's boundary holds only the
   * not-yet-committed files however many batches it processes — full
   * parity with Redis BRPOP popping entries as it reads them
   * (`stepist/flow/libs/simple_queue.py:62-66`), with zero manual trim
   * calls. The consuming query is recognized by its FileStreamSource
   * description carrying this boundary's qualified path, so unrelated
   * queries on the session never trigger checkpoint reads. A trim
   * failure is logged once and never fails the query: trimming is space
   * reclamation, correctness lives in the checkpoint (and a later
   * successful trim removes everything the failed one would have).
   *
   * Returns a handle; call `stop()` when the worker flow is torn down —
   * the listener otherwise outlives the query (deliberately: a worker
   * that restarts from the same checkpoint resumes auto-trimming with no
   * re-registration). Safe to combine with manual [[trimCommitted]].
   */
  def autoTrim(spark: SparkSession, checkpointDir: String,
               sourceIdx: Int = 0): AutoTrimHandle = {
    val qualified = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(hadoopConf(spark)).makeQualified(p).toString
    }
    val warned = new java.util.concurrent.atomic.AtomicBoolean(false)
    // trims run OFF the session's shared listener bus: trimCommitted does
    // directory listings + checkpoint reads + deletes, which on an object
    // store cost seconds — blocking the bus would back up and drop events
    // for EVERY listener on the session. One daemon thread, and at most
    // one trim queued behind the running one (progress events that arrive
    // mid-trim coalesce into the single pending slot: the next trim sees
    // the newest commit anyway).
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, s"graft-autotrim-${System.identityHashCode(this)}")
      t.setDaemon(true); t
    }
    // running trim + at most ONE queued behind it: an event that lands
    // mid-trim must schedule a follow-up (its commit postdates what the
    // running trim read — dropping it would leave the final micro-batch's
    // files on disk until some future event), while a burst of events
    // coalesces into that single follow-up slot
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        // FileStreamSource describes itself as "FileStreamSource[<qualified
        // base path>]" — stable across Spark 3.x/4.x. Match the CLOSED
        // bracket so a sibling path sharing this one as a prefix
        // (/data/q vs /data/q2) never triggers foreign checkpoint reads;
        // the raw form covers a caller-relative path.
        val mine = e.progress.sources.exists { s =>
          val d = s.description
          d != null && (d.contains(qualified + "]") || d.contains(path + "]"))
        }
        if (mine) {
          if (inFlight.incrementAndGet() <= 2) {
            exec.execute { () =>
              try trimCommitted(spark, checkpointDir, sourceIdx)
              catch {
                case scala.util.control.NonFatal(ex) =>
                  if (warned.compareAndSet(false, true))
                    log.warn(s"autoTrim of '$path' failed; the queue grows " +
                      "until a later trim succeeds", ex)
              } finally inFlight.decrementAndGet()
            }
          } else inFlight.decrementAndGet() // burst: follow-up already queued
        }
      }
    }
    spark.streams.addListener(listener)
    new AutoTrimHandle(spark, listener, exec)
  }

  /**
   * Release consumed files by age: delete every data file whose
   * modification time is <= `upToEpochMs` and return how many were
   * removed. CLOCK CAVEAT: file mtimes come from the writer/filesystem
   * clock (1 s granularity on many filesystems; object stores stamp
   * server time), so `upToEpochMs` MUST derive from that same clock with
   * a safety lag covering skew + mtime granularity — a consumer-side
   * "committed up to T" taken from a different clock can delete a file
   * the consumer has NOT processed, which `ignoreMissingFiles` then turns
   * into silent data loss. When the consumer is a checkpointed streaming
   * query, prefer [[trimCommitted]], which trims by the exact file paths
   * the checkpoint recorded and is immune to clock skew.
   */
  def trim(upToEpochMs: Long): Long = synchronized {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    val victims =
      try fs.listStatus(p).filter(st => st.isFile &&
        isDataFile(st.getPath.getName) && st.getModificationTime <= upToEpochMs)
      catch { case _: java.io.FileNotFoundException => return 0L }
    victims.count { st =>
      fileRows.remove(st.getPath.toString)
      fs.delete(st.getPath, false)
    }
  }

  override def flush(): Unit = synchronized {
    val p = new org.apache.hadoop.fs.Path(path)
    // session hadoop conf so non-local filesystems (s3a/hdfs) resolve
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    p.getFileSystem(conf).delete(p, true)
    fileRows.clear()
  }
}

/** Deregistration handle for [[ParquetBoundary.autoTrim]]: `stop()`
  * removes the listener from the session it was registered on and shuts
  * down the trim thread (an already-running trim completes). */
final class AutoTrimHandle private[streaming] (
    spark: SparkSession,
    listener: org.apache.spark.sql.streaming.StreamingQueryListener,
    exec: java.util.concurrent.ExecutorService) {
  def stop(): Unit = {
    spark.streams.removeListener(listener)
    exec.shutdown()
  }
}
