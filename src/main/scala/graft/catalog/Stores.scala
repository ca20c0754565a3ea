package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.operators.{Dedup, Similarity}

import Shared._

/** Persistent stores and their lifecycles: fingerprint, LSH, SemDeDup,
  * BM25-index and IVF-PQ code stores — write, ingest, retract, compact,
  * version, retrain. Most are verdict gates built on [[Gate]]. */
object Stores extends Family {

  /** IVF-PQ code-store equivalence gate: the cell-partitioned store
    * (assign + encode ONCE at write; probe-time scan statically pruned
    * to the probed cells' partitions — the at-scale serving shape) must
    * answer exactly like the ad-hoc recompute path. Gate 1 compares the
    * full candidate score sets to 1e-9 (same codes, same LUT — only FP
    * summation order can differ), which also proves pruning loses no
    * candidate; gate 2 compares deterministic top-10 sets ranked on
    * round-6 scores with id tiebreaks. The oracle pins the verdict rows. */
  query("q118_ivfpq_code_store") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val (m, subDim) = (16, 4)
    // independent model trainings overlap (the q157 note)
    val (cents, cb) = operators.Par.par2(
      Similarity.trainCentroids(e, "embedding", "vec_id", k = 10),
      operators.Quantize.trainCodebook(e, "embedding", "vec_id",
        dim = 64, m = m, ksub = 16))
    // a code store refuses a write onto a non-empty path: an emptied
    // scratch dir per run
    val store = s"${Gate.scratchDir("q118")}/store"
    operators.Quantize.writeCodeStore(e, cents, cb, "embedding", "vec_id",
      m, subDim, store)
    val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
    def scoresOf(codes: DataFrame) = operators.Quantize.ivfPqScores(
      codes, queries, cents, cb, "embedding", "vec_id", m, subDim, nProbe = 3)
    // the store side goes through the PRUNED scan (the serving path), so
    // this gate also proves static pruning loses no candidate
    val storeScores = scoresOf(operators.Quantize.prunedCodeStore(
      s, store, queries, cents, "embedding", "vec_id", nProbe = 3))
    val adhocScores = {
      val assigned = Similarity.ivfAssign(e, cents, "embedding", "vec_id")
        .select(col("vec_id"), col("cell"))
      val codes = operators.Quantize.encode(e, cb, "embedding", "vec_id",
        m, subDim).join(assigned, Seq("vec_id"))
      scoresOf(codes)
    }
    // lazily persist both candidate-score frames: the scores gate AND the
    // top-k gate select from them, and each is the expensive end of a
    // full assign/encode (or store-scan) pipeline. persist (Tungsten
    // cache), NOT OpCache.materialize — the RDD round-trip's Row
    // conversion measured slower than the recompute on these row counts
    val a = operators.OpCache.track(adhocScores.select(col("query_id"),
      col("corpus_id"), col("score")).persist())
    val b = operators.OpCache.track(storeScores.select(col("query_id"),
      col("corpus_id"), col("score")).persist())
    def topk(scored: DataFrame) = scored
      .withColumn("rr", round(col("score"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rr").desc, col("corpus_id").asc)))
      .filter(col("rank") <= 10)
    val keys = Seq("query_id", "corpus_id")
    // the two parity aggregates read the same cached frames independently
    // — overlap them (the q157 note)
    val (scoresBad, topkBad) = operators.Par.par2(
      Gate.parity(a, b, keys, Seq("score"), tol = 1e-9).head().getLong(0),
      Gate.parity(topk(a), topk(b), keys :+ "rank").head().getLong(0))
    Gate.verdict(s)(
      ("ivfpq_store_scores_equal", 0.0, scoresBad == 0L),
      ("ivfpq_store_topk_equal", 0.0, topkBad == 0L))
  } {
    // q118 is a self-equivalence GATE (q112/q113 pattern): Spark verifies
    // the cell-partitioned code store answers exactly like the ad-hoc
    // recompute path and emits (metric, bound, ok); the oracle pins the
    // verdict rows.
    """SELECT * FROM (VALUES
      |  ('ivfpq_store_scores_equal', CAST(0.0 AS DOUBLE), TRUE),
      |  ('ivfpq_store_topk_equal', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** BM25 materialized-index equivalence gate: the term-bucketed inverted
    * index (tokenize ONCE at ingest; query-time scan bucket-pruned by the
    * term filter — the standing-search-service shape) must score exactly
    * like the q104 scan-time path. Both run the shared scoring formula,
    * so the gate pins the index CONTENT (tf/dl/df per term) and the
    * bucketed round-trip. The oracle pins the verdict rows. */
  query("q119_bm25_index") { (s, dir) =>
    val tbl = Gate.scratchStore(s, "q119_idx", "_stats")
    val docs = parallelize(t(s, dir, "documents"))
    operators.Rank.writeIndex(docs, "text", "doc_id", tbl, buckets = 8)
    val (index, stats) = operators.Rank.readIndex(s, tbl)
    val terms = Seq("spark", "data", "query")
    val a = operators.Rank.bm25(docs, "text", "doc_id", terms)
    val b = operators.Rank.bm25FromIndex(index, stats, "doc_id", terms)
    Gate.verdict(Gate.parity(a, b, Seq("doc_id"), Seq("score"), tol = 1e-9))(
      ("bm25_index_equals_scan", 0.0, col("bad") === 0),
      ("bm25_index_nonempty", 1.0, col("n") >= 1))
  } {
    // q119 is a self-equivalence GATE (q118 pattern): the term-bucketed
    // inverted index must score exactly like the scan-time BM25.
    """SELECT * FROM (VALUES
      |  ('bm25_index_equals_scan', CAST(0.0 AS DOUBLE), TRUE),
      |  ('bm25_index_nonempty', CAST(1.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** SemDeDup store equivalence gate (q118/q119 pattern for the
    * semantic-dedup tier): the cell-BUCKETED assigned corpus — assign
    * once at ingest; the within-cell self-join reads co-located buckets
    * so nothing ever shuffles on `cell` (PlanSpec-gated) — must emit
    * exactly the pairs the in-plan assignment path emits at the same
    * centroids. The oracle pins the verdict rows. */
  query("q125_semdedup_store") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val cents = Similarity.trainCentroids(e, "embedding", "vec_id", k = 8)
    val tbl = Gate.scratchStore(s, "q125_sem")
    Dedup.writeAssignedCorpus(e, cents, "embedding", "vec_id", probes = 2,
      tbl, buckets = 8)
    val store = Dedup.semDedupPairsFromStore(s, tbl, "embedding", "vec_id",
        tau = 0.45)
    val adhoc = Dedup.semDedupPairsAssigned(
        Similarity.ivfAssignMulti(e, cents, "embedding", "vec_id", 2),
        "embedding", "vec_id", tau = 0.45)
    Gate.verdict(Gate.parity(adhoc, store, Seq("id_a", "id_b")))(
      ("semdedup_store_pairs_equal", 0.0, col("bad") === 0),
      ("semdedup_store_nonempty", 1.0, col("n") >= 1))
  } {
    // q125 is a self-equivalence GATE (q118/q119 pattern): the bucketed
    // store path must emit exactly the in-plan path's pairs.
    """SELECT * FROM (VALUES
      |  ('semdedup_store_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('semdedup_store_pairs_equal', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Incremental exact-dedup ingest-store equivalence gate (q118/q119/
    * q125 pattern, closing the last asserted-unbuilt store claim): the
    * fp-BUCKETED fingerprint store — fingerprint once at ingest; the
    * per-batch anti-join reads co-located buckets with no exchange
    * (PlanSpec-gated) and never touches corpus text — must pass exactly
    * the batch rows the in-plan [[Dedup.dedupAgainst]] path passes on
    * the q101 snapshot/batch split. The oracle pins the verdict rows. */
  query("q126_fingerprint_store") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val corpus = docs.filter(!isBatch)
    val batch = Dedup.exact(docs.filter(isBatch), "text", "doc_id")
    val tbl = Gate.scratchStore(s, "q126_fp")
    Dedup.writeFingerprintStore(corpus, "text", tbl, buckets = 8)
    val store = Dedup.dedupAgainstStore(s, batch, "text", tbl)
    val adhoc = Dedup.dedupAgainst(batch, corpus, "text", "doc_id")
    Gate.verdict(Gate.parity(adhoc, store, Seq("doc_id")))(
      ("fp_store_batch_equal", 0.0, col("bad") === 0),
      ("fp_store_nonempty", 1.0, col("n") >= 1))
  } {
    // q126/q127 are self-equivalence GATES (q125 pattern) for the
    // incremental-dedup ingest stores: the bucketed fingerprint / LSH
    // stores must answer exactly like the in-plan recompute paths.
    """SELECT * FROM (VALUES
      |  ('fp_store_batch_equal', CAST(0.0 AS DOUBLE), TRUE),
      |  ('fp_store_nonempty', CAST(1.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Incremental near-dup ingest-store equivalence gate (the q126 twin
    * for the LSH tier): the (band, bucket)-bucketed band store + the
    * id-bucketed signature store — shingle/minhash once at ingest; the
    * per-batch candidate join and the verification attach both read
    * co-located buckets, no corpus text in the plan (PlanSpec-gated) —
    * must emit exactly the (pair, est_jaccard) rows the in-plan
    * [[Dedup.minhashLshAgainst]] path emits on the q102 split. The
    * oracle pins the verdict rows. */
  query("q127_lsh_store") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents").filter(col("doc_id") < 2000))
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val corpus = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val tbl = Gate.scratchStore(s, "q127_lsh", "_bands", "_sigs")
    Dedup.writeLshStore(corpus, "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, buckets = 8)
    val store = Dedup.minhashLshAgainstStore(s, batch, "text", "doc_id", tbl,
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val adhoc = Dedup.minhashLshAgainst(batch, corpus, "text", "doc_id",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
    Gate.verdict(Gate.parity(adhoc, store, Seq("batch_id", "corpus_id"),
      Seq("est_jaccard")))(
      ("lsh_store_pairs_equal", 0.0, col("bad") === 0),
      ("lsh_store_nonempty", 1.0, col("n") >= 1))
  } {
    """SELECT * FROM (VALUES
      |  ('lsh_store_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('lsh_store_pairs_equal', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Bipartite batch-vs-store SemDeDup equivalence gate (q125's
    * incremental companion, the q102 analog for the semantic tier): an
    * incoming batch assigned with the STORED centroids and compared
    * only against store cells — the store side reading co-located
    * buckets (PlanSpec-gated) — must emit exactly the pairs the in-plan
    * bipartite compare emits at the same centroids. The oracle pins the
    * verdict rows. */
  query("q129_semdedup_batch_store") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val isBatch = pmod(col("vec_id"), lit(10)) === 0
    val corpus = e.filter(!isBatch)
    val batch = e.filter(isBatch)
    val cents = Similarity.trainCentroids(corpus, "embedding", "vec_id", k = 8)
    val tbl = Gate.scratchStore(s, "q129_sem")
    Dedup.writeAssignedCorpus(corpus, cents, "embedding", "vec_id",
      probes = 2, tbl, buckets = 8)
    val store = Dedup.semDedupBatchAgainstStore(s, batch, tbl, cents,
        "embedding", "vec_id", probes = 2, tau = 0.45)
    val adhoc = Dedup.semDedupPairsBipartite(
        Similarity.ivfAssignMulti(batch, cents, "embedding", "vec_id", 2),
        Similarity.ivfAssignMulti(corpus, cents, "embedding", "vec_id", 2),
        "embedding", "vec_id", tau = 0.45)
    Gate.verdict(Gate.parity(adhoc, store, Seq("batch_id", "corpus_id")))(
      ("semdedup_batch_store_pairs_equal", 0.0, col("bad") === 0),
      ("semdedup_batch_store_nonempty", 1.0, col("n") >= 1))
  } {
    // q129 is a self-equivalence GATE (q125's incremental companion):
    // the batch-vs-store bipartite SemDeDup must emit exactly the
    // in-plan bipartite compare's pairs at the same centroids.
    """SELECT * FROM (VALUES
      |  ('semdedup_batch_store_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('semdedup_batch_store_pairs_equal', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Multi-query BM25 serving against the materialized index — the
    * batch face of the stream-static serve path (`Rank.bm25Serve` over
    * `indexServingFrame`): three queries scored in ONE join+aggregate
    * pass. The DuckDB oracle recomputes every query's scores from the
    * definition, independently pinning the serving frame's precomputed
    * per-term document frequencies (StreamingSpec separately proves the
    * same code serves a stream with batch parity). */
  query("q132_bm25_serve") { (s, dir) =>
    import s.implicits._
    val tbl = Gate.scratchStore(s, "q132_idx", "_stats")
    val docs = parallelize(t(s, dir, "documents"))
    operators.Rank.writeIndex(docs, "text", "doc_id", tbl, buckets = 8)
    val (index, stats) = operators.Rank.readIndex(s, tbl)
    val serving = operators.Rank.indexServingFrame(index, stats)
    val queries = Seq(
      (1L, Seq("spark", "data", "query")),
      (2L, Seq("join", "table")),
      (3L, Seq("stream"))).toDF("query_id", "terms")
    operators.Rank.bm25Serve(queries, serving, "query_id", "terms", "doc_id")
      .orderBy(col("query_id"), col("doc_id"))
  } {
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents),
       |stats AS (SELECT count(*)::DOUBLE AS n, avg(len(w)) AS avgdl FROM tok),
       |q(qid, t) AS (VALUES
       |  (1, 'spark'), (1, 'data'), (1, 'query'),
       |  (2, 'join'), (2, 'table'),
       |  (3, 'stream')),
       |m AS (
       |  SELECT doc_id, t, count(*) AS tf, min(dl) AS dl FROM (
       |    SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM tok) x
       |  WHERE t IN (SELECT t FROM q) GROUP BY doc_id, t),
       |dfs AS (SELECT t, count(*) AS df FROM m GROUP BY t)
       |SELECT CAST(q.qid AS BIGINT) AS query_id, m.doc_id, round(sum(
       |  ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (m.tf * (1.2 + 1)) /
       |  (m.tf + 1.2 * (1 - 0.75 + 0.75 * m.dl / s.avgdl))), 4) AS score
       |FROM q JOIN m USING (t) JOIN dfs d USING (t) CROSS JOIN stats s
       |GROUP BY q.qid, m.doc_id
       |ORDER BY query_id, m.doc_id""".stripMargin
  }

  /** Two sequential [[Dedup.ingestBatch]] steps over a fingerprint store
    * (the production incremental-ingest loop: in-batch dedup → store
    * anti-join → append survivors' fps): batch B must be deduped against
    * corpus ∪ survivors(A), proving the append is visible and correct.
    * FULL DuckDB oracle — it recomputes both ingest steps from the md5
    * definition (stronger than a verdict gate: any drift in the loop's
    * composition, not just inequality, hash-mismatches). */
  query("q137_fp_store_ingest") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val m = pmod(col("doc_id"), lit(3))
    val tbl = Gate.scratchStore(s, "q137_fp")
    Dedup.writeFingerprintStore(docs.filter(m === 2), "text", tbl, buckets = 8)
    val survA = Dedup.ingestBatch(s, docs.filter(m === 0), "text", "doc_id",
      tbl)
    val survB = Dedup.ingestBatch(s, docs.filter(m === 1), "text", "doc_id",
      tbl)
    survA.select(lit("a").as("batch"), col("doc_id"))
      .unionByName(survB.select(lit("b").as("batch"), col("doc_id")))
      .orderBy(col("batch"), col("doc_id"))
  } {
    // q137 recomputes BOTH ingest steps from the md5 definition: in-batch
    // min-id dedup (q28's form), anti-join vs the store snapshot, and —
    // the point of the gate — batch B's snapshot includes batch A's
    // surviving fingerprints (the append must be visible and exact).
    s"""WITH d AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
       |corpus AS (SELECT DISTINCT fp FROM d WHERE doc_id % 3 = 2),
       |a1 AS (SELECT min(doc_id) AS doc_id, fp FROM d
       |       WHERE doc_id % 3 = 0 GROUP BY fp),
       |sa AS (SELECT doc_id, fp FROM a1
       |       WHERE fp NOT IN (SELECT fp FROM corpus)),
       |b1 AS (SELECT min(doc_id) AS doc_id, fp FROM d
       |       WHERE doc_id % 3 = 1 GROUP BY fp),
       |sb AS (SELECT doc_id FROM b1 WHERE fp NOT IN
       |       (SELECT fp FROM corpus UNION SELECT fp FROM sa))
       |SELECT 'a' AS batch, doc_id FROM sa
       |UNION ALL SELECT 'b' AS batch, doc_id FROM sb
       |ORDER BY batch, doc_id""".stripMargin
  }

  /** Store-compaction gate ([[operators.Layout.compactBucketed]]): after
    * an ingest append fragments the fingerprint store into multi-file
    * buckets, compaction must return EXACTLY the same fingerprint set in
    * at most one file per bucket (PlanSpec separately execution-gates the
    * scan's numFiles and the join's exchange-free store side; the SMJ
    * sort stays — see compactBucketed's honest-limit note). Verdict rows
    * pinned by the oracle. */
  query("q138_store_compact") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val m = pmod(col("doc_id"), lit(3))
    val tbl = Gate.scratchStore(s, "q138_fp")
    Dedup.writeFingerprintStore(docs.filter(m === 2), "text", tbl, buckets = 8)
    Dedup.ingestBatch(s, docs.filter(m === 0), "text", "doc_id", tbl)
    // pre-compaction snapshot through an RDD handle (q137's lesson: the
    // swap would otherwise refresh/recompute any plan still reading tbl)
    val pre = operators.OpCache.materialize(s.table(tbl))
    val preFiles = s.table(tbl).select(input_file_name()).distinct().count()
    operators.Layout.compactBucketed(s, tbl)
    val post = s.table(tbl)
    val contentBad = Gate.parity(pre, post, Seq("fp")).head().getLong(0)
    val postFiles = post.select(input_file_name()).distinct().count()
    Gate.verdict(s)(
      ("compact_content_equal", 0.0, contentBad == 0L),
      ("compact_one_file_per_bucket", 8.0,
        postFiles <= 8L && postFiles < preFiles))
  } {
    // q138 is a verdict GATE (q126 pattern): compaction must preserve the
    // store's exact content while collapsing to ≤1 file per bucket.
    """SELECT * FROM (VALUES
      |  ('compact_content_equal', CAST(0.0 AS DOUBLE), TRUE),
      |  ('compact_one_file_per_bucket', CAST(8.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** LSH-tier ingest-append gate ([[Dedup.ingestBatchLsh]], the q137
    * analog closing the last lifecycle asymmetry): after an ingest
    * appends batch A's surviving band triples + signatures, serving
    * batch B against the APPENDED store must emit exactly the pairs the
    * in-plan bipartite path emits against corpus ∪ survivors(A) — the
    * append is visible, exact, and byte-equivalent to a one-shot store
    * (same signature/band formulas). The oracle pins the verdict rows;
    * DedupSpec separately gates idempotence and PlanSpec the post-append
    * exchange-free store sides. */
  query("q146_lsh_store_ingest") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents").filter(col("doc_id") < 2000))
    val m = pmod(col("doc_id"), lit(3))
    val tbl = Gate.scratchStore(s, "q146_lsh", "_bands", "_sigs")
    val corpus = docs.filter(m === 2)
    Dedup.writeLshStore(corpus, "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, buckets = 8)
    // ingestBatchLsh already returns an RDD-materialized frame (it must
    // survive its own append) — safe to reuse for the one-shot oracle side
    val survA = Dedup.ingestBatchLsh(s, docs.filter(m === 0), "text",
      "doc_id", tbl, shingleK = 3, numHashes = 64, bands = 16,
      threshold = 0.5)
    val batchB = docs.filter(m === 1)
    val store = Dedup.minhashLshAgainstStore(s, batchB, "text", "doc_id",
        tbl, shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val adhoc = Dedup.minhashLshAgainst(batchB, corpus.unionByName(survA),
        "text", "doc_id", shingleK = 3, numHashes = 64, bands = 16,
        threshold = 0.5)
    Gate.verdict(Gate.parity(adhoc, store, Seq("batch_id", "corpus_id"),
      Seq("est_jaccard")))(
      ("lsh_ingest_seq_equals_oneshot", 0.0, col("bad") === 0),
      ("lsh_ingest_nonempty", 1.0, col("n") >= 1))
  } {
    // q146/q147 are ingest-append equivalence GATES (q126/q127 pattern,
    // extended to the LSH and semantic tiers): a sequence of ingests
    // must serve exactly like the one-shot store.
    """SELECT * FROM (VALUES
      |  ('lsh_ingest_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('lsh_ingest_seq_equals_oneshot', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Semantic-tier ingest-append gate ([[Dedup.ingestBatchSemDedup]],
    * q146's twin): after an ingest appends batch A's surviving
    * (cell, id, vector) assignments — assigned with the STORED
    * centroids — serving batch B against the appended store must emit
    * exactly the in-plan bipartite pairs against corpus ∪ survivors(A)
    * at the same centroids. The oracle pins the verdict rows. */
  query("q147_semdedup_store_ingest") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val m = pmod(col("vec_id"), lit(3))
    val corpus = e.filter(m === 2)
    val cents = Similarity.trainCentroids(corpus, "embedding", "vec_id", k = 8)
    val tbl = Gate.scratchStore(s, "q147_sem")
    Dedup.writeAssignedCorpus(corpus, cents, "embedding", "vec_id",
      probes = 2, tbl, buckets = 8)
    val survA = Dedup.ingestBatchSemDedup(s, e.filter(m === 0), tbl, cents,
      "embedding", "vec_id", probes = 2, tau = 0.45)
    val batchB = e.filter(m === 1)
    val store = Dedup.semDedupBatchAgainstStore(s, batchB, tbl, cents,
        "embedding", "vec_id", probes = 2, tau = 0.45)
    val adhoc = Dedup.semDedupPairsBipartite(
        Similarity.ivfAssignMulti(batchB, cents, "embedding", "vec_id", 2),
        Similarity.ivfAssignMulti(
          corpus.select(col("vec_id"), col("embedding")).unionByName(survA),
          cents, "embedding", "vec_id", 2),
        "embedding", "vec_id", tau = 0.45)
    Gate.verdict(Gate.parity(adhoc, store, Seq("batch_id", "corpus_id")))(
      ("sem_ingest_seq_equals_oneshot", 0.0, col("bad") === 0),
      ("sem_ingest_nonempty", 1.0, col("n") >= 1))
  } {
    """SELECT * FROM (VALUES
      |  ('sem_ingest_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('sem_ingest_seq_equals_oneshot', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Index-retraction gate ([[operators.Rank.removeFromIndex]]): a
    * takedown must purge the removed documents' POSTINGS and leave the
    * index scoring the remaining corpus bit-identically to a full
    * rebuild (exact long-sum stats decrement) — derived data honors
    * retention too. The oracle pins the verdict rows; PlanSpec gates
    * that bucket pruning survives the rewrite. */
  query("q148_index_retract") { (s, dir) =>
    val docs = operators.OpCache.track(parallelize(t(s, dir, "documents"))
      .filter(length(trim(col("text"))) > 0).persist())
    val tbl = Gate.scratchStore(s, "q148_idx", "_stats")
    val tbl2 = Gate.scratchStore(s, "q148_rb", "_stats")
    val removed = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"))
    // the tbl lifecycle (build + retraction) and the tbl2 rebuild touch
    // disjoint tables — overlap the two chains (the q157 note)
    operators.Par.par2(
      {
        operators.Rank.writeIndex(docs, "text", "doc_id", tbl, buckets = 8)
        operators.Rank.removeFromIndex(s, tbl, removed, "doc_id")
      },
      operators.Rank.writeIndex(
        docs.join(removed, Seq("doc_id"), "left_anti"),
        "text", "doc_id", tbl2, buckets = 8))
    val terms = Seq("spark", "data", "query", "stream")
    val (i1, s1) = operators.Rank.readIndex(s, tbl)
    val (i2, s2) = operators.Rank.readIndex(s, tbl2)
    val a = operators.Rank.bm25FromIndex(i1, s1, "doc_id", terms)
    val b = operators.Rank.bm25FromIndex(i2, s2, "doc_id", terms)
    // the three verdict actions read the final stores independently —
    // overlap them
    val (parity, servedRemoved, postingsLeft) = operators.Par.par3(
      Gate.parity(a, b, Seq("doc_id"), Seq("score")),
      a.join(removed, Seq("doc_id"), "left_semi").count(),
      i1.join(removed, Seq("doc_id"), "left_semi").count())
    Gate.verdict(parity)(
      ("retract_scores_equal_rebuild", 0.0, col("bad") === 0),
      ("retract_index_nonempty", 1.0, col("n") >= 1),
      ("retract_removed_never_served", 0.0, lit(servedRemoved == 0L)),
      ("retract_postings_purged", 0.0, lit(postingsLeft == 0L)))
  } {
    // q148/q149 are retraction GATES: a takedown must purge derived
    // postings/codes and leave serving identical to a full rebuild.
    """SELECT * FROM (VALUES
      |  ('retract_index_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('retract_postings_purged', CAST(0.0 AS DOUBLE), TRUE),
      |  ('retract_removed_never_served', CAST(0.0 AS DOUBLE), TRUE),
      |  ('retract_scores_equal_rebuild', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Code-store retraction gate ([[operators.Quantize.removeFromCodeStore]],
    * q148's ANN sibling): the per-partition rewrite must leave the
    * cell-partitioned store IDENTICAL to one rebuilt from the remaining
    * corpus (only affected cells rewritten), and the serving path must
    * never return a retracted id. The oracle pins the verdict rows;
    * PlanSpec gates that partition pruning survives. */
  query("q149_codestore_retract") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    // independent model trainings overlap (the q157 note)
    val (cents, cb) = operators.Par.par2(
      Similarity.trainCentroids(e, "embedding", "vec_id", k = 8),
      operators.Quantize.trainCodebook(e, "embedding", "vec_id",
        dim = 64, m = 4, ksub = 8))
    val base = Gate.scratchDir("q149")
    val (dirA, dirB) = (s"$base/store", s"$base/rebuild")
    val removed = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"))
    // dirA lifecycle (build + retract) and the dirB rebuild touch
    // disjoint stores — overlap the two chains (the q157 note)
    operators.Par.par2(
      {
        operators.Quantize.writeCodeStore(e, cents, cb, "embedding",
          "vec_id", 4, 16, dirA)
        operators.Quantize.removeFromCodeStore(s, dirA, removed, "vec_id")
      },
      operators.Quantize.writeCodeStore(
        e.join(removed, Seq("vec_id"), "left_anti"), cents, cb,
        "embedding", "vec_id", 4, 16, dirB))
    val got = operators.Quantize.readCodeStore(s, dirA)
    val want = operators.Quantize.readCodeStore(s, dirB)
    // parity aggregate and serving probe overlap (the q157 note)
    val (parity, served) = operators.Par.par2(
      Gate.parity(got, want, Seq("vec_id", "codes", "cell")),
      operators.Quantize.ivfPqTopKFromStore(s, dirA,
          e.filter(col("vec_id") === 1), cents, cb, "embedding", "vec_id",
          4, 16, k = 10, nProbe = 3)
        .join(removed.withColumnRenamed("vec_id", "corpus_id"),
          Seq("corpus_id"), "left_semi").count())
    Gate.verdict(parity)(
      ("codestore_retract_equals_rebuild", 0.0, col("bad") === 0),
      ("codestore_retract_nonempty", 1.0, col("n") >= 1),
      ("codestore_removed_never_served", 0.0, lit(served == 0L)))
  } {
    """SELECT * FROM (VALUES
      |  ('codestore_removed_never_served', CAST(0.0 AS DOUBLE), TRUE),
      |  ('codestore_retract_equals_rebuild', CAST(0.0 AS DOUBLE), TRUE),
      |  ('codestore_retract_nonempty', CAST(1.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Code-store generation-chain gate ([[operators.Quantize]] manifest
    * store — q149's twin, two retractions deep): two
    * sequential retractions walk the generation chain (v1→v2→v3, each
    * swap one atomic manifest rename), after which the store must equal
    * a one-shot rebuild over the final survivors, retracted ids must
    * never be served, and exactly the current + grace manifests survive
    * GC. The oracle pins the verdict rows (q149 pattern). */
  query("q157_codestore_versioned") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    // the coarse quantizer and the PQ codebook train independently —
    // overlap them (via Par), like every chain split below
    val (cents, cb) = operators.Par.par2(
      Similarity.trainCentroids(e, "embedding", "vec_id", k = 8),
      operators.Quantize.trainCodebook(e, "embedding", "vec_id",
        dim = 64, m = 4, ksub = 8))
    val base = Gate.scratchDir("q157")
    val (dirA, dirB) = (s"$base/store", s"$base/rebuild")
    val rm1 = e.filter(pmod(col("vec_id"), lit(5)) === 0).select(col("vec_id"))
    val rm2 = e.filter(pmod(col("vec_id"), lit(7)) === 1).select(col("vec_id"))
    val removed = rm1.unionByName(rm2).distinct()
    // the dirA lifecycle (build + two retractions) and the dirB rebuild
    // touch disjoint stores — overlap the two chains; the retractions
    // stay strictly ordered inside their block (same manifest chain)
    operators.Par.par2(
      {
        operators.Quantize.writeCodeStore(e, cents, cb, "embedding",
          "vec_id", 4, 16, dirA)
        operators.Quantize.removeFromCodeStore(s, dirA, rm1, "vec_id")
        operators.Quantize.removeFromCodeStore(s, dirA, rm2, "vec_id")
      },
      operators.Quantize.writeCodeStore(
        e.join(removed, Seq("vec_id"), "left_anti"), cents, cb,
        "embedding", "vec_id", 4, 16, dirB))
    val got = operators.Quantize.readCodeStore(s, dirA)
    val want = operators.Quantize.readCodeStore(s, dirB)
    // the rebuild-parity aggregate and the retracted-id serving probe
    // read the final stores independently — overlap them
    val (parity, served) = operators.Par.par2(
      Gate.parity(got, want, Seq("vec_id", "codes", "cell")),
      operators.Quantize.ivfPqTopKFromStore(s, dirA,
          e.filter(col("vec_id") === 1), cents, cb, "embedding", "vec_id",
          4, 16, k = 10, nProbe = 3)
        .join(removed.withColumnRenamed("vec_id", "corpus_id"),
          Seq("corpus_id"), "left_semi").count())
    // generation chain: two retractions on a v1 store land at v3, and GC
    // keeps exactly the current + one grace manifest
    val manifests = new java.io.File(dirA).list()
      .filter(_.startsWith("_graft_manifest")).sorted.toSeq
    val chainOk = operators.Quantize.codeStoreVersion(s, dirA)
      .contains(3L) &&
      manifests == Seq("_graft_manifest-v000002", "_graft_manifest-v000003")
    Gate.verdict(parity)(
      ("vstore_retract_equals_rebuild", 0.0, col("bad") === 0),
      ("vstore_retract_nonempty", 1.0, col("n") >= 1),
      ("vstore_removed_never_served", 0.0, lit(served == 0L)),
      ("vstore_generation_chain", 3.0, lit(chainOk)))
  } {
    // q157 is q149's twin two retractions deep: the oracle
    // pins the verdict rows — retract-chain ≡ rebuild, takedown honored,
    // generation chain + grace-manifest GC policy.
    """SELECT * FROM (VALUES
      |  ('vstore_generation_chain', CAST(3.0 AS DOUBLE), TRUE),
      |  ('vstore_removed_never_served', CAST(0.0 AS DOUBLE), TRUE),
      |  ('vstore_retract_equals_rebuild', CAST(0.0 AS DOUBLE), TRUE),
      |  ('vstore_retract_nonempty', CAST(1.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Versioned code-store INGEST gate ([[operators.Quantize.ingestBatchCodeStore]]
    * — q146/q147's pattern on the ANN-serving store, completing its
    * lifecycle: write/ingest/serve/retract all gated): two ingest appends
    * with the STORED models must leave the store equal to a one-shot
    * build over the union, a replayed batch must append nothing (the
    * idempotence the streaming wrapper's exactly-once effect rests on),
    * and every cell must stay ONE file (ingest is self-compacting). */
  query("q158_codestore_ingest") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val m3 = pmod(col("vec_id"), lit(3))
    // independent model trainings overlap (the q157 note)
    val (cents, cb) = operators.Par.par2(
      Similarity.trainCentroids(e, "embedding", "vec_id", k = 8),
      operators.Quantize.trainCodebook(e, "embedding", "vec_id",
        dim = 64, m = 4, ksub = 8))
    val base = Gate.scratchDir("q158")
    val (dirA, dirB) = (s"$base/store", s"$base/oneshot")
    // the dirA ingest chain (strictly ordered: same manifest chain) and
    // the dirB one-shot build touch disjoint stores — overlap them
    val (replayed, _) = operators.Par.par2(
      {
        operators.Quantize.writeCodeStore(e.filter(m3 === 0), cents, cb,
          "embedding", "vec_id", 4, 16, dirA)
        operators.Quantize.ingestBatchCodeStore(s, dirA, e.filter(m3 === 1),
          cents, cb, "embedding", "vec_id", 4, 16)
        operators.Quantize.ingestBatchCodeStore(s, dirA, e.filter(m3 === 2),
          cents, cb, "embedding", "vec_id", 4, 16)
        operators.Quantize.ingestBatchCodeStore(s, dirA, e.filter(m3 === 2),
          cents, cb, "embedding", "vec_id", 4, 16).count()
      },
      operators.Quantize.writeCodeStore(e, cents, cb, "embedding", "vec_id",
        4, 16, dirB))
    val store = operators.Quantize.readCodeStore(s, dirA)
    val want = operators.Quantize.readCodeStore(s, dirB)
    // the sequential-equals-oneshot aggregate and the one-file-per-cell
    // distinct count read the final stores independently — overlap them
    val (parity, nCells) = operators.Par.par2(
      Gate.parity(store, want, Seq("vec_id", "codes", "cell")),
      store.select(col("cell")).distinct().count())
    val oneFilePerCell = store.inputFiles.length.toLong == nCells
    Gate.verdict(parity)(
      ("cstore_ingest_seq_equals_oneshot", 0.0, col("bad") === 0),
      ("cstore_ingest_nonempty", 1.0, col("n") >= 1),
      ("cstore_ingest_replay_noop", 0.0, lit(replayed == 0L)),
      ("cstore_ingest_one_file_per_cell", 1.0, lit(oneFilePerCell)))
  } {
    // q158 pins the code-store ingest verdicts (q146/q147 pattern on the
    // ANN store): sequence ≡ one-shot, replay no-op, self-compacting.
    """SELECT * FROM (VALUES
      |  ('cstore_ingest_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('cstore_ingest_one_file_per_cell', CAST(1.0 AS DOUBLE), TRUE),
      |  ('cstore_ingest_replay_noop', CAST(0.0 AS DOUBLE), TRUE),
      |  ('cstore_ingest_seq_equals_oneshot', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** MODEL-GENERATION migration gate
    * ([[operators.Quantize.retrainCodeStore]] — the ANN lifecycle's last
    * leg: models were frozen at store creation, so a drifted corpus had
    * no recourse short of an un-guarded manual rebuild): a store built
    * over HALF the corpus with models trained on that half drifts (the
    * full corpus arrives); retrain trains fresh models on the full
    * corpus and re-encodes everything behind ONE manifest swap. The
    * verdict pins: the retrained store equals a one-shot build with the
    * models the manifest now references ([[operators.Quantize.storedPq]]
    * — readers always pair codes with their models), serving works off
    * the stored models, the generation chain lands at v2 with both the
    * grace and current manifests, and BOTH model artifacts exist (the
    * outgoing one referenced by the grace manifest, GC'd one commit
    * later — QuantizeSpec-gated). Oracle pins the verdict rows literally
    * (q157's pattern). */
  query("q160_codestore_retrain") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val half = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    // independent model trainings overlap (the q157 note)
    val (cents0, cb0) = operators.Par.par2(
      Similarity.trainCentroids(half, "embedding", "vec_id", k = 8),
      operators.Quantize.trainCodebook(half, "embedding", "vec_id",
        dim = 64, m = 4, ksub = 8))
    val base = Gate.scratchDir("q160")
    val (dirA, dirB) = (s"$base/store", s"$base/oneshot")
    operators.Quantize.writeCodeStore(half, cents0, cb0, "embedding",
      "vec_id", 4, 16, dirA)
    // the corpus DOUBLED since the models were trained — migrate
    operators.Quantize.retrainCodeStore(s, dirA, e, "embedding", "vec_id",
      dim = 64, m = 4, ksub = 8, cells = 8)
    val (c2, cb2, _, _) = operators.Quantize.storedPq(s, dirA)
    operators.Quantize.writeCodeStore(e, c2, cb2, "embedding", "vec_id",
      4, 16, dirB)
    val got = operators.Quantize.readCodeStore(s, dirA)
    val want = operators.Quantize.readCodeStore(s, dirB)
    // the retrain-parity aggregate and the stored-models serving probe
    // read the final stores independently — overlap them (q157 note)
    val (parity, served) = operators.Par.par2(
      Gate.parity(got, want, Seq("vec_id", "codes", "cell")),
      operators.Quantize.ivfPqTopKFromStore(s, dirA,
        e.filter(col("vec_id") === 1), c2, cb2, "embedding", "vec_id",
        4, 16, k = 10, nProbe = 3).count())
    val manifests = new java.io.File(dirA).list()
      .filter(_.startsWith("_graft_manifest")).sorted.toSeq
    val chainOk = operators.Quantize.codeStoreVersion(s, dirA)
      .contains(2L) &&
      manifests == Seq("_graft_manifest-v000001", "_graft_manifest-v000002")
    val modelDirs = new java.io.File(dirA).list()
      .count(_.startsWith("models-"))
    Gate.verdict(parity)(
      ("retrain_equals_oneshot_with_stored_models", 0.0, col("bad") === 0),
      ("retrain_nonempty", 1.0, col("n") >= 1),
      ("retrain_generation_chain", 2.0, lit(chainOk)),
      ("retrain_models_grace_kept", 2.0, lit(modelDirs == 2)),
      ("retrain_serves_from_stored_models", 1.0, lit(served > 0L)))
  } {
    // q160 pins the model-generation migration verdicts (q157's pattern
    // on the retrain leg): retrained ≡ one-shot with the manifest's own
    // models, chain + grace policy, serving through storedPq.
    """SELECT * FROM (VALUES
      |  ('retrain_equals_oneshot_with_stored_models',
      |   CAST(0.0 AS DOUBLE), TRUE),
      |  ('retrain_generation_chain', CAST(2.0 AS DOUBLE), TRUE),
      |  ('retrain_models_grace_kept', CAST(2.0 AS DOUBLE), TRUE),
      |  ('retrain_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('retrain_serves_from_stored_models', CAST(1.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** The q156 training flagship served OFF THE STANDING STORE — the
    * PRODUCTION composition (no 100 TB deployment recomputes the exact
    * all-pairs tier per training run): near-dup candidates come from the
    * LSH ingest store's band self-join
    * ([[operators.Dedup.minhashLshPairsFromStore]], written at
    * 32 bands × 2 rows so a j ≥ 0.6 pair escapes banding with
    * probability ≈ 6·10⁻⁷) and are upgraded to EXACT Jaccard at
    * pair-bounded cost ([[operators.Dedup.jaccardVerifyPairs]]); the
    * splits, repeat plan, epochs, order, and packing are q156's chain.
    * Benched as the production flagship's tracked wall-time (store build
    * included — the one-time ingest cost the serving path amortizes).
    * The verdict pins the PARITY the VERDICT asked for: the store-served
    * pair set and the resulting split assignment EQUAL q156's exact
    * tier, no stored near-dup pair crosses a split boundary, every
    * multi-doc packed bin respects the token budget, and batches exist.
    * The exact tier runs here as the oracle side of that comparison —
    * gate cost, like q156 itself. */
  query("q161_training_batches_stored") { (s, dir) =>
    // identical quality gate to q156 (composite score + Gopher repetition
    // keep) — the parity verdicts below compare this corpus to the exact
    // tier's, so the two gates must never drift
    val curated = operators.OpCache.track(
      Dedup.exact(
        parallelize(t(s, dir, "documents"))
          .filter(TextFunctions.qualityScore(col("text")) >= 0.6 &&
            TextFunctions.gopherRepetitionKeep(col("text"))),
        "text", "doc_id").persist())
    val tbl = Gate.scratchStore(s, "q161_lsh", "_bands", "_sigs")
    // ONE corpus shingle+sort pass serves BOTH jaccard tiers (the exact
    // self-join and the store-candidate verify — the r18 "not yet
    // optimized" item): prime it (and curated's cache under it) with one
    // count so the concurrent tiers below never race an un-materialized
    // cache into duplicate computes
    val sets = Dedup.shingleSets(curated, "text", "doc_id", shingleK = 3)
    sets.count()
    // the store tier (LSH store write + band candidates + exact upgrade)
    // and the exact self-join tier are independent until the parity
    // verdicts — overlap them (via Par)
    val (pairsStore, pairsExact) = operators.Par.par2(
      {
        Dedup.writeLshStore(curated, "text", "doc_id", tbl,
          shingleK = 3, numHashes = 64, bands = 32, buckets = 8)
        // threshold 0 keeps every band collision: candidates, not
        // verdicts — the exact upgrade below is the filter
        val cand = Dedup.minhashLshPairsFromStore(s, tbl, numHashes = 64,
          threshold = 0.0)
        operators.OpCache.materialize(
          Dedup.jaccardVerifyPairsOnSets(sets, cand, threshold = 0.6))
      },
      operators.OpCache.materialize(
        Dedup.jaccardSelfJoinOnSets(sets, threshold = 0.6)))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // the two cluster-safe split chains (each a CC loop) are independent
    // — overlap them too
    val (splitsStore, splitsExact) = operators.Par.par2(
      operators.OpCache.materialize(
        operators.Curate.clusterSafeSplits(curated, "text", "doc_id",
            pairsStore, splits)
          .select(col("doc_id"), col("lang"), col("split"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))),
      operators.Curate.clusterSafeSplits(curated, "text",
          "doc_id", pairsExact, splits)
        .select(col("doc_id"), col("split")))
    // the three parity counts and the packed-batch chain fan out of the
    // materialized frames independently — run all four concurrently
    val (pairDiff, splitDiff, leaks, bins) = operators.Par.par4(
      Gate.parity(pairsStore, pairsExact, Seq("id_a", "id_b"))
        .head().getLong(0),
      Gate.parity(splitsStore, splitsExact, Seq("doc_id"), Seq("split"))
        .head().getLong(0),
      pairsStore
        .join(splitsStore.select(col("doc_id").as("id_a"),
          col("split").as("sa")), Seq("id_a"))
        .join(splitsStore.select(col("doc_id").as("id_b"),
          col("split").as("sb")), Seq("id_b"))
        .filter(col("sa") =!= col("sb")).count(),
      {
        // the production chain downstream of the store-served splits
        val train = splitsStore.filter(col("split") === "train")
          .select(col("doc_id"), col("lang"), col("n_tok"))
        val plan = operators.Curate.repeatPlan(train, "lang", "n_tok",
          budgetTokens = 150000L,
          weights = Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.15,
            "fr" -> 0.1, "zh" -> 0.05),
          maxEpochs = 8.0)
        val epochs = operators.Curate
          .materializeRepeats(train, plan, "lang", "doc_id")
          .withColumn("okey",
            operators.Curate.epochOrderKey(col("doc_id"), col("repeat_idx")))
        val packed = operators.Curate.packSequences(epochs, "doc_id",
          "n_tok", budget = 2048L, shards = 8,
          epochCol = Some("repeat_idx"), orderCol = Some("okey"))
        // packSequences is concatenate-then-cut: a doc crossing a bin
        // boundary SPILLS (never splits), so per-bin token sums may
        // exceed the budget by one spill — the layout invariant is that
        // every doc STARTS inside its bin: bin_offset ∈ [0, budget)
        operators.OpCache.materializeLocal(
          packed.agg(count(lit(1)).as("nrows"),
            count(when(col("bin_offset") < 0L || col("bin_offset") >= 2048L,
              1)).as("badoff")))
      })
    Gate.verdict(bins)(
      ("stored_flagship_batches", 1.0, col("nrows") >= 1L),
      ("stored_pack_budget", 0.0, col("badoff") === 0L),
      ("stored_pairs_equal_exact", 0.0, lit(pairDiff == 0L)),
      ("stored_splits_equal_exact", 0.0, lit(splitDiff == 0L)),
      ("stored_splits_leakfree", 0.0, lit(leaks == 0L)))
  } {
    // q161 pins the store-served flagship's parity against q156's exact
    // tier (pair set and split assignment equal), leak-freedom on the
    // served pairs, and the packing contract — all boolean verdicts, so
    // the oracle is the literal row set.
    """SELECT * FROM (VALUES
      |  ('stored_flagship_batches', CAST(1.0 AS DOUBLE), TRUE),
      |  ('stored_pack_budget', CAST(0.0 AS DOUBLE), TRUE),
      |  ('stored_pairs_equal_exact', CAST(0.0 AS DOUBLE), TRUE),
      |  ('stored_splits_equal_exact', CAST(0.0 AS DOUBLE), TRUE),
      |  ('stored_splits_leakfree', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Bloom-sidecar verdict gate — q158's sibling on the ARBITRARY-BINDING
    * idempotence leg (`fullIdCheck = true`): with
    * [[operators.Quantize.enableCodeStoreIdBloom]] recorded, the check is
    * Bloom-screened (store files read only for Bloom-positive ids — the
    * O(store ids) per-batch scan was the last ingest cost that grew with
    * the store). Verdicts pin the full semantic envelope: the screen
    * never drops (replay of held ids is a no-op; a retracted id is a
    * stale POSITIVE that falls through to the exact check and re-ingests
    * — the deterministic false-positive case), never blocks (a batch of
    * new ids lands in full), and the filter is maintained by every
    * committing ingest (final store ≡ the expected id union). All
    * verdicts are fpp-independent, so the gate cannot flake on hash
    * luck. QuantizeSpec carries the corruption fixture proving the
    * zero-read claim at execution level. */
  query("q163_codestore_bloom") { (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "embeddings")
    // independent model trainings overlap (the q157 note)
    val (cents, cb) = operators.Par.par2(
      Similarity.trainCentroids(e, "embedding", "vec_id", k = 8),
      operators.Quantize.trainCodebook(e, "embedding", "vec_id",
        dim = 64, m = 4, ksub = 8))
    val base = Gate.scratchDir("q163")
    val store = s"$base/store"
    operators.Quantize.writeCodeStore(e, cents, cb, "embedding", "vec_id",
      4, 16, store)
    operators.Quantize.enableCodeStoreIdBloom(s, store, "vec_id", 200000L)
    val recorded = operators.Quantize.storedIdBloom(s, store).nonEmpty
    def ingest(batch: DataFrame): Long =
      operators.Quantize.ingestBatchCodeStore(s, store, batch, cents, cb,
        "embedding", "vec_id", 4, 16, fullIdCheck = true).count()
    // held ids replayed: every id is Bloom-positive, the exact fallback
    // finds all of them held — nothing lands, no commit
    val replayed = ingest(e)
    // retract one id: the sidecar stays conservative (still positive),
    // the exact check finds it absent, the re-ingest proceeds
    val x = e.agg(min(col("vec_id"))).as[Long].head()
    operators.Quantize.removeFromCodeStore(s, store,
      Seq(x).toDF("vec_id"), "vec_id")
    val staleCorrected = ingest(
      e.filter(col("vec_id") === x).select(col("vec_id"), col("embedding")))
    // a batch of genuinely-new ids lands in full (negatives skip the
    // store read entirely; any hash-unlucky positive just pays the join)
    val fresh = e.orderBy(col("vec_id")).limit(50)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
    val freshLanded = ingest(fresh)
    // final store = corpus ∪ fresh (x retracted and re-ingested)
    val wantIds =
      e.select(col("vec_id")).unionByName(fresh.select(col("vec_id")))
    val mismatches = Gate.parity(operators.Quantize.readCodeStore(s, store),
      wantIds, Seq("vec_id")).head().getLong(0)
    Gate.verdict(s)(
      ("cstore_bloom_recorded", 1.0, recorded),
      ("cstore_bloom_replay_noop", 0.0, replayed == 0L),
      ("cstore_bloom_stale_positive_corrected", 1.0, staleCorrected == 1L),
      ("cstore_bloom_new_batch_full", 50.0, freshLanded == 50L),
      ("cstore_bloom_store_equals_union", 0.0, mismatches == 0L))
  } {
    // q163 pins the Bloom-screened fullIdCheck ingest verdicts (q158's
    // pattern on the arbitrary-binding leg): screen never drops (replay
    // no-op, stale positive re-ingests), never blocks (new batch lands
    // in full), filter maintained across commits (store ≡ union).
    """SELECT * FROM (VALUES
      |  ('cstore_bloom_new_batch_full', CAST(50.0 AS DOUBLE), TRUE),
      |  ('cstore_bloom_recorded', CAST(1.0 AS DOUBLE), TRUE),
      |  ('cstore_bloom_replay_noop', CAST(0.0 AS DOUBLE), TRUE),
      |  ('cstore_bloom_stale_positive_corrected',
      |   CAST(1.0 AS DOUBLE), TRUE),
      |  ('cstore_bloom_store_equals_union', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Drift-metric verdict gate ([[operators.Quantize.codeStoreDriftStats]]
    * — the "WHEN to retrain" diagnostic q160's retrain leg was missing):
    * an in-distribution control batch must read err_ratio ≈ 1 with
    * bounded fill skew, and a concentrated new-domain batch (the
    * SURVEY §6 drift shape whose stale recall@10 measured 0.004 vs
    * 0.328 retrained) must read err_ratio and fill_skew FAR above the
    * control — the separation that makes the metric an actionable
    * retrain trigger rather than a number. */
  query("q164_codestore_drift") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    // independent model trainings overlap (the q157 note)
    val (cents, cb) = operators.Par.par2(
      Similarity.trainCentroids(e, "embedding", "vec_id", k = 8),
      operators.Quantize.trainCodebook(e, "embedding", "vec_id",
        dim = 64, m = 4, ksub = 8))
    val base = Gate.scratchDir("q164")
    val store = s"$base/store"
    operators.Quantize.writeCodeStore(e, cents, cb, "embedding", "vec_id",
      4, 16, store)
    // control: a same-distribution sample of the corpus itself
    val control = e.filter(pmod(col("vec_id"), lit(7)) === 3)
    // drift: a tight NEW domain the stored models never saw (the
    // realistic shape — a fresh data source arriving; same fixture
    // family as the SURVEY §6 retrain/drift measurements)
    val drifted = e.select(col("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (sin(lit(7) * i) + sin(col("vec_id") * i) * lit(0.2))
          .cast("float")).as("embedding"))
    def stats(batch: DataFrame) = operators.Quantize
      .codeStoreDriftStats(s, store, batch, "embedding", "vec_id")
      .collect()(0)
    // the control and drifted diagnostics are independent batch-bounded
    // passes over the same read-only store — overlap them (q157 note)
    val (c, d) = operators.Par.par2(stats(control), stats(drifted))
    val (cr, dr) = (c.getAs[Double]("err_ratio"), d.getAs[Double]("err_ratio"))
    val (cs, ds) = (c.getAs[Double]("fill_skew"), d.getAs[Double]("fill_skew"))
    // bounds measured before pinning: control ratio 1.22/1.24 and skew
    // 1.47/1.35, drifted ratio 41.2/46.1 and skew 7.97/8.00 at
    // sf0.001/sf0.01 — calm-vs-loud margins of 1.6× and 4× either side
    Gate.verdict(s)(
      ("drift_control_ratio_calm", 2.0, cr < 2.0),
      ("drift_drifted_ratio_loud", 10.0, dr > 10.0),
      ("drift_separation", 5.0, dr > 5.0 * cr),
      ("drift_skew_separation", 2.0, ds > 2.0 * cs),
      ("drift_nonempty", 1.0,
        c.getAs[Long]("n") > 0 && d.getAs[Long]("n") > 0))
  } {
    // q164 pins the drift metric's actionability contract: calm on an
    // in-distribution control, loud on the concentrated-drift fixture,
    // wide separation between the two (ratio AND skew).
    """SELECT * FROM (VALUES
      |  ('drift_control_ratio_calm', CAST(2.0 AS DOUBLE), TRUE),
      |  ('drift_drifted_ratio_loud', CAST(10.0 AS DOUBLE), TRUE),
      |  ('drift_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('drift_separation', CAST(5.0 AS DOUBLE), TRUE),
      |  ('drift_skew_separation', CAST(2.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Similarity-graph centrality served OFF THE STANDING STORE — the
    * q161 pattern applied to q181, closing the "production feeds the
    * store pairs" claim [[operators.Rank.graphRank]] documents: the
    * edge set comes from the cell-bucketed assigned-corpus store
    * ([[operators.Dedup.semDedupPairsFromStore]] — within-cell EXACT
    * cosine at the q181 tau, so the served graph is a SUBSET of the
    * exact graph by construction, never a superset) and graphRank runs
    * the same 5 damped iterations on it. The exact all-pairs tier runs
    * here only as the oracle side of the parity verdict — gate cost,
    * the q169 discipline: edge recall vs the exact graph, structurally
    * zero spurious edges, and hub-ordering agreement (top-20 by served
    * centrality vs top-20 exact — the ordering centrality exists to
    * surface) at bounds measured across all three fixture SFs.
    * Scale shape: the served side is the q125 store path — assignment
    * is one compiled map pass, the within-cell self-join reads
    * co-located buckets (no exchange hashes on cell), vectors never
    * move, and graphRank exchanges only (id, id, double) triples; only
    * the exact tier (the gate) is quadratic, and production never runs
    * it. */
  query("q187_store_centrality") { (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val tau = 0.3
    val cents = Similarity.trainCentroids(e, "embedding", "vec_id", k = 8)
    val tbl = Gate.scratchStore(s, "q187_sem")
    Dedup.writeAssignedCorpus(e, cents, "embedding", "vec_id", probes = 4,
      tbl, buckets = 8)
    val served = operators.OpCache.track(
      Dedup.semDedupPairsFromStore(s, tbl, "embedding", "vec_id", tau)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("w"))
        .persist())
    val exact = operators.OpCache.track(
      Dedup.embeddingNearDup(e, "embedding", "vec_id", threshold = tau,
          nBits = 0)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("w"))
        .persist())
    // fill both pair caches CONCURRENTLY (via Par — the two
    // tiers are independent until the parity verdicts), then fan out the
    // two graphRank chains and the parity aggregate the same way; the
    // up-front counts stop the concurrent readers from racing the same
    // un-materialized cache into duplicate heavy computes
    operators.Par.par2(served.count(), exact.count())
    val nodes = e.select(col("vec_id"), col("label"))
    def hubs(pairs: DataFrame) = operators.Rank.graphRank(nodes, "vec_id",
        pairs, "id_a", "id_b", "w", iters = 5, damping = 0.85)
      .orderBy(col("centrality").desc, col("vec_id")).limit(20)
      .select(col("vec_id"))
    // ONE full-outer aggregate replaces the r18 three sequential counts
    // (exact.count + semi-join count + anti-join count): both pair sets
    // are unique by construction (distinct candidates / ordered brute
    // pairs), so row markers in the joined frame classify every pair
    // exactly as the three joins did
    val (hubsServed, hubsExact, parity) = operators.Par.par3(
      operators.OpCache.materializeLocal(hubs(served)),
      operators.OpCache.materializeLocal(hubs(exact)),
      served.select(col("id_a"), col("id_b"), lit(1).as("l"))
        .join(exact.select(col("id_a"), col("id_b"), lit(1).as("r")),
          Seq("id_a", "id_b"), "full_outer")
        .agg(
          count(col("r")).as("n_exact"),
          count(when(col("l") === 1 && col("r") === 1, 1)).as("hit"),
          count(when(col("l") === 1 && col("r").isNull, 1)).as("spurious"))
        .collect()(0))
    val nExact = parity.getLong(0)
    val hit = parity.getLong(1)
    val spurious = parity.getLong(2)
    // both hub frames are driver-local 20-row relations — intersect on
    // the driver instead of running one more Spark job
    val exactHubSet = hubsExact.collect().map(_.get(0)).toSet
    val overlap =
      hubsServed.collect().map(_.get(0)).count(exactHubSet).toLong
    // bounds measured before pinning (the q169 discipline): recall
    // 0.998/0.996/0.998 and hub overlap 19/20 at sf0.001/0.01/0.1 with
    // probes = 4 of 8 cells (0.74 and 11/20 at probes = 2 — the
    // recall-vs-cost knob, documented on semanticDecontaminate);
    // spurious is structurally zero (within-cell exact cosine at tau)
    Gate.verdict(s)(
      ("stored_centrality_edge_recall", 0.95,
        nExact > 0 && hit >= 0.95 * nExact),
      ("stored_centrality_spurious_edges", 0.0, spurious == 0L),
      ("stored_centrality_hub_overlap", 16.0, overlap >= 16L),
      ("stored_centrality_nonempty", 1.0, nExact > 0))
  } {
    // q187 pins the store-served centrality's parity verdicts against
    // the exact graph (recall/spurious/hub-overlap — all booleans, so
    // the oracle is the literal row set, the q161 pattern).
    """SELECT * FROM (VALUES
      |  ('stored_centrality_edge_recall', CAST(0.95 AS DOUBLE), TRUE),
      |  ('stored_centrality_hub_overlap', CAST(16.0 AS DOUBLE), TRUE),
      |  ('stored_centrality_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('stored_centrality_spurious_edges', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Margin-based bitext mining served OFF THE STANDING STORE — the
    * q161 pattern applied to q176, closing the "production feeds a
    * store shortlist" claim [[operators.Similarity.marginMine]]
    * documents: the target half is ingested into the cell-bucketed
    * assigned store, the source half scores ONLY within its probed
    * cells ([[operators.Dedup.semDedupBatchAgainstStore]] at a −1
    * cosine floor — the FULL within-cell shortlist, because margins
    * need each endpoint's own top-k, not just the high-cos tail), and
    * marginMine runs the same k/tau/mutual rule on the shortlist. The
    * exact all-pairs tier runs here only as the oracle side of the
    * verdict — gate cost: planted-translation recovery (an exact copy
    * shares its twin's hard cell, so the shortlist always carries the
    * pair and its cos = 1 argmax survives), mined-set recall and
    * spurious count vs the exact tier, nonempty. Scale shape: corpus
    * vectors never move (the batch shuffles into the store's cell
    * bucketing); marginMine's windows see candidate-sized input. */
  query("q188_store_margin_mine") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val src = e.filter(col("label") < 5)
      .select(col("vec_id"), col("embedding"))
    val tgt = e.filter(col("label") >= 5)
      .select(col("vec_id"), col("embedding"))
      .unionByName(e.filter(col("label") < 5 &&
          pmod(col("vec_id"), lit(13)) === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val cents = Similarity.trainCentroids(tgt, "embedding", "vec_id", k = 8)
    val tbl = Gate.scratchStore(s, "q188_mm")
    // the store tier (write + shortlist + mine) and the exact tier are
    // independent until the parity verdicts — run the two mining chains
    // concurrently (via Par); planted is a trivial filter
    val (minedStore, minedExact) = operators.Par.par2(
      {
        Dedup.writeAssignedCorpus(tgt, cents, "embedding", "vec_id",
          probes = 4, tbl, buckets = 8)
        val shortlist = Dedup.semDedupBatchAgainstStore(s, src, tbl, cents,
            "embedding", "vec_id", probes = 4, tau = -1.0)
          .select(col("batch_id").as("src_id"),
            col("corpus_id").as("tgt_id"), col("cos"))
        operators.OpCache.materialize(
          operators.Similarity.marginMine(shortlist, "src_id", "tgt_id",
              "cos", k = 4, tau = 1.2, mutual = true)
            .select(col("src_id"), col("tgt_id")))
      }, {
        val scoredExact = src.select(col("vec_id").as("src_id"),
            col("embedding").as("sv"))
          .join(broadcast(tgt.select(col("vec_id").as("tgt_id"),
            col("embedding").as("tv"))))
          .select(col("src_id"), col("tgt_id"),
            VectorFunctions.cosine(col("sv"), col("tv")).as("cos"))
        operators.OpCache.materialize(
          operators.Similarity.marginMine(scoredExact, "src_id", "tgt_id",
              "cos", k = 4, tau = 1.2, mutual = true)
            .select(col("src_id"), col("tgt_id")))
      })
    val planted = src.filter(pmod(col("vec_id"), lit(13)) === 0)
      .select(col("vec_id").as("src_id"),
        (col("vec_id") + 1000000L).as("tgt_id"))
    // each parity tier fuses its r18 sequential counts into ONE
    // aggregate (mined/planted sets are unique pairs by construction:
    // marginMine keeps one forward pick per src, planted one row per
    // src), and the two aggregates run concurrently
    val (plantedRow, parityRow) = operators.Par.par2(
      planted
        .join(minedStore.withColumn("m", lit(1)), Seq("src_id", "tgt_id"),
          "left_outer")
        .agg(count(lit(1)).as("n_planted"),
          coalesce(sum(col("m")), lit(0)).as("planted_hit"))
        .collect()(0),
      minedStore.select(col("src_id"), col("tgt_id"), lit(1).as("l"))
        .join(minedExact.select(col("src_id"), col("tgt_id"), lit(1).as("r")),
          Seq("src_id", "tgt_id"), "full_outer")
        .agg(
          count(col("r")).as("n_exact"),
          count(when(col("l") === 1 && col("r") === 1, 1)).as("hit"),
          count(when(col("l") === 1 && col("r").isNull, 1)).as("spurious"))
        .collect()(0))
    val nPlanted = plantedRow.getLong(0)
    val plantedHit = plantedRow.getLong(1)
    val nExact = parityRow.getLong(0)
    val hit = parityRow.getLong(1)
    val spurious = parityRow.getLong(2)
    // bounds measured before pinning: at probes = 4 the store-mined set
    // EQUALED the exact tier's at all three SFs (recall 1.0, spurious 0;
    // probes = 2 measured recall 0.89 with 14 spurious — the shortlist
    // fidelity knob); planted recovery is the structural claim (an
    // exact copy shares its twin's hard cell and wins both argmaxes at
    // cos = 1), so it pins at ALL, while recall/spurious keep headroom
    // for natural-pair margin flips near the tau boundary
    Gate.verdict(s)(
      ("stored_mine_planted_recovered", 1.0,
        nPlanted > 0 && plantedHit == nPlanted),
      ("stored_mine_recall_of_exact", 0.9,
        nExact > 0 && hit >= 0.9 * nExact),
      ("stored_mine_spurious", 0.1, spurious <= 0.1 * nExact),
      ("stored_mine_nonempty", 1.0, nExact > 0))
  } {
    // q188 pins the store-served margin mining's parity verdicts
    // against the exact tier (planted recovery / recall / spurious —
    // booleans, literal row set).
    """SELECT * FROM (VALUES
      |  ('stored_mine_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('stored_mine_planted_recovered', CAST(1.0 AS DOUBLE), TRUE),
      |  ('stored_mine_recall_of_exact', CAST(0.9 AS DOUBLE), TRUE),
      |  ('stored_mine_spurious', CAST(0.1 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }
}
