package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

import Shared._

/** Deduplication: exact, MinHash/SimHash/n-gram near-dup, winnowing,
  * span and substring dedup, SemDeDup, incremental and line-level dedup,
  * content-defined chunking. */
object Deduplication extends Family {

  // q168's planted boilerplate lines — single constants, both engines
  private val q168News = "subscribe to our newsletter for updates"

  private val q168Foot = "copyright footer all rights reserved"

  query("q28_dedup_exact") { (s, dir) =>
    Dedup.exact(parallelize(t(s, dir, "documents")), "text", "doc_id")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  } {
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE doc_id IN (
       |  SELECT min(doc_id) FROM documents GROUP BY md5($normSql))
       |ORDER BY doc_id""".stripMargin
  }

  /** MinHash-LSH candidates verified by exact shingle Jaccard: the output is
    * the set of truly-near-duplicate pairs, so an exact brute-force oracle
    * can check it — the LSH blocking must not lose a single j>=0.8 pair. */
  query("q32_minhash_neardup") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents").filter(col("doc_id") < 1000))
    val cands = Dedup.minhashLsh(docs, "text", "doc_id",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
    Dedup.ngramJaccard(docs, cands, "text", "doc_id", shingleK = 3)
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  } {
    s"""WITH tok AS (
       |  SELECT doc_id, $toksSql AS w FROM documents WHERE doc_id < 1000),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) END AS s
       |  FROM tok)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(len(list_intersect(a.s, b.s))::DOUBLE /
       |        len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** SimHash near-dup accuracy gate. xxhash64 has no DuckDB equivalent, so
    * instead of the raw pairs (whose values the oracle can't recompute)
    * this emits a deterministic (metric, bound, ok) verdict the oracle CAN
    * rows-match:
    *  - `simhash_recall_of_exact`: of the pairs the EXACT ppjoin Jaccard
    *    self-join finds at >= 0.9, the fraction simhash (hamming <= 3)
    *    recovers. Measured 0.60 / 0.78 / 0.86 at sf0.01/0.001/0.1 — short
    *    near-dup docs can flip > 3 of the 64 bits, the standard simhash
    *    recall/precision dial — so the bound regression-gates at 0.4.
    *  - `simhash_pairs_bounded`: the candidate set is non-empty yet far
    *    from all-pairs (a banding/hamming bug that degenerates toward
    *    cartesian output trips it long before the driver times out).
    * A drift in either flips `ok` and fails the driver's hash compare.
    * Pair-level fingerprint values stay pinned in ExpressionsSpec. */
  query("q33_simhash_pairs") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents").filter(col("doc_id") < 1000))
    val sim = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .select(col("id_a"), col("id_b"))
    val exact = Dedup.jaccardSelfJoin(docs, "text", "doc_id",
        shingleK = 3, threshold = 0.9)
      .select(col("id_a"), col("id_b"))
    val recall = Gate.recall(exact, sim, Seq("id_a", "id_b"))
    val simCount = sim.agg(count(lit(1)).as("n"))
    Gate.verdict(recall.crossJoin(simCount))(
      ("simhash_pairs_bounded", 200.0, col("n") >= 1L && col("n") <= 200L),
      // empty exact-pair set -> recall is NULL; fail loudly, not NULL
      ("simhash_recall_of_exact", 0.4,
        coalesce(col("recall") >= 0.4, lit(false))))
  } {
    // q33 is an accuracy GATE: Spark verifies simhash pairs against exact
    // 3-gram Jaccard and emits (metric, bound, ok); the oracle pins the
    // expected verdict literally, so a simhash regression (ok=false)
    // hash-mismatches. The bound/metric literals must match the query.
    """SELECT * FROM (VALUES
      |  ('simhash_pairs_bounded', CAST(200.0 AS DOUBLE), TRUE),
      |  ('simhash_recall_of_exact', CAST(0.4 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  query("q38_near_dup_embedding") { (s, dir) =>
    Dedup.embeddingNearDup(
        t(s, dir, "embeddings").filter(col("vec_id") < 2000),
        "embedding", "vec_id", threshold = 0.45, nBits = 0)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_r"))
      .orderBy(col("id_a"), col("id_b"))
  } {
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings WHERE vec_id < 2000)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(${cosSql("a.v", "b.v")}, 4) AS cos_r
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${cosSql("a.v", "b.v")} >= 0.45
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Standalone exact n-gram Jaccard near-dup via the prefix-filtered
    * set-similarity self-join (lossless for the threshold, so the exact
    * brute-force oracle must agree pair-for-pair). The shuffle moves
    * (prefix-hash, id) pairs, never documents. */
  query("q50_ngram_jaccard") { (s, dir) =>
    Dedup.jaccardSelfJoin(parallelize(t(s, dir, "documents")),
        "text", "doc_id", shingleK = 3, threshold = 0.6)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  } {
    s"""WITH tok AS (SELECT doc_id, $toksSql AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) END AS s
       |  FROM tok)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(len(list_intersect(a.s, b.s))::DOUBLE /
       |        len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |      len(list_distinct(list_concat(a.s, b.s))) >= 0.6
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Winnowing document fingerprints (Schleimer et al.): md5 3-gram hashes,
    * min of each 4-window, distinct. md5 exists in both engines, so the
    * whole selection is oracle-checkable. */
  query("q52_winnow_fingerprint") { (s, dir) =>
    parallelize(t(s, dir, "documents"))
      .select(col("doc_id"),
        transform(TextFunctions.shingles(col("text"), 3), g => md5(g)).as("gh"))
      .select(col("doc_id"),
        TextFunctions.winnowFromGramHashes(col("gh"), 4).as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("fp_min"), array_max(col("fps")).as("fp_max"))
      .orderBy(col("doc_id"))
  } {
    s"""WITH tok AS (SELECT doc_id, $toksSql AS w FROM documents),
       |gr AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 3 THEN [md5(array_to_string(w, ' '))]
       |    ELSE [md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |          for i in range(1, len(w) - 1)] END AS gh
       |  FROM tok),
       |fp AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(gh) <= 4 THEN [list_aggregate(gh, 'min')]
       |      ELSE [list_aggregate(gh[i:i+3], 'min')
       |            for i in range(1, len(gh) - 2)] END) AS fps
       |  FROM gr)
       |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
       |  list_aggregate(fps, 'min') AS fp_min,
       |  list_aggregate(fps, 'max') AS fp_max
       |FROM fp ORDER BY doc_id""".stripMargin
  }

  /** Near-dup cluster resolution: the exact Jaccard pair set (q50's
    * operator) fed through connected components (alternating
    * large-star/small-star joins) — one row per member doc with its
    * canonical cluster id and survivor flag. Oracle: a DuckDB recursive-CTE
    * transitive closure over the identical pair set, so the component
    * structure is hash-checked end to end. */
  query("q86_cluster_resolve") { (s, dir) =>
    val pairs = Dedup.jaccardSelfJoin(parallelize(t(s, dir, "documents")),
      "text", "doc_id", shingleK = 3, threshold = 0.6)
    Dedup.resolveClusters(pairs)
      .select(col("id"), col("cluster_id"), col("keep"))
      .orderBy(col("id"))
  } {
    s"""WITH RECURSIVE tok AS (SELECT doc_id, $toksSql AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) END AS s
       |  FROM tok),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |        len(list_distinct(list_concat(a.s, b.s))) >= 0.6),
       |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
       |edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
       |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u)
       |SELECT id, min(r) AS cluster_id, (id = min(r)) AS keep
       |FROM reach GROUP BY id ORDER BY id""".stripMargin
  }

  /** The full dedup decision, end to end: near-dup pairs (exact Jaccard) →
    * connected components → drop every non-canonical cluster member — the
    * `pairs → clusters → keep one` pipeline a production corpus dedup
    * actually ships. Oracle: DuckDB recursive-CTE closure to find the
    * losers, anti-parity against the corpus. */
  query("q87_dedup_pipeline") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val pairs = Dedup.jaccardSelfJoin(docs, "text", "doc_id",
      shingleK = 3, threshold = 0.6)
    Dedup.keepRepresentatives(docs, pairs, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  } {
    s"""WITH RECURSIVE tok AS (SELECT doc_id, $toksSql AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) END AS s
       |  FROM tok),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |        len(list_distinct(list_concat(a.s, b.s))) >= 0.6),
       |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
       |edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
       |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
       |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r))
       |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
       |WHERE d.doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** C4-style duplicate-span removal: every 4-token span occurring twice+
    * corpus-wide is removed except its first occurrence, and each doc's
    * text is rebuilt from the surviving spans
    * (Dedup.removeDuplicateSpans). The oracle groups by span TEXT where
    * the operator groups by a 2-lane xxhash64 key, so the compare also
    * certifies the key is collision-free on this corpus. */
  query("q100_span_dedup") { (s, dir) =>
    Dedup.removeDuplicateSpans(parallelize(t(s, dir, "documents")),
        "text", "doc_id", window = 4, minCount = 2)
      .orderBy(col("doc_id"))
  } {
    // q100: C4-style span dedup — keep-first = row_number over
    // (doc_id, spanIdx) ≡ the Spark side's min(struct(id, sidx)); the
    // oracle partitions by span TEXT, certifying the operator's hashed
    // key collision-free on this corpus
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(coalesce(text, '')), '\s+')
      |    END AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks,
      |        CAST(ceil(len(toks) / 4.0) AS BIGINT) AS nc FROM d),
      |c AS (SELECT doc_id, toks, unnest(range(0, nc)) AS cidx FROM n),
      |ch AS (SELECT doc_id, cidx,
      |         array_to_string(toks[cidx*4 + 1 : cidx*4 + 4], ' ') AS span
      |       FROM c),
      |s AS (SELECT doc_id, cidx, span,
      |        count(*) OVER (PARTITION BY span) AS cnt,
      |        row_number() OVER (PARTITION BY span
      |          ORDER BY doc_id, cidx) AS rn
      |      FROM ch),
      |k AS (SELECT doc_id, cidx, span FROM s WHERE cnt < 2 OR rn = 1),
      |r AS (SELECT doc_id, string_agg(span, ' ' ORDER BY cidx) AS text_clean,
      |        count(*) AS n_kept FROM k GROUP BY doc_id)
      |SELECT n.doc_id, coalesce(r.text_clean, '') AS text_clean,
      |  n.nc AS n_spans, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
      |FROM n LEFT JOIN r ON n.doc_id = r.doc_id
      |ORDER BY n.doc_id""".stripMargin
  }

  /** Incremental ingestion, exact: the stored corpus snapshot is
    * doc_id % 10 != 0; the incoming crawl batch (doc_id % 10 == 0) is
    * deduped in-batch, then against the snapshot — only never-seen content
    * survives. Runs the Bloom pre-filter path (so the codegen'd
    * might_contain + two-path union + exact anti-join correction is under
    * the driver gate); the oracle recomputes the definition directly. */
  query("q101_incremental_dedup") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val inBatch = Dedup.exact(docs.filter(isBatch), "text", "doc_id")
    Dedup.dedupAgainst(inBatch, docs.filter(!isBatch), "text", "doc_id",
        bloomItems = 100000L, bloomFpp = 0.01)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  } {
    // the Bloom pre-filter is pure shuffle optimization (false positives
    // corrected by the exact anti-join), so the oracle is the plain
    // definition: in-batch winners whose content the snapshot lacks
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE doc_id % 10 = 0
       |  AND doc_id IN (
       |    SELECT min(doc_id) FROM documents
       |    WHERE doc_id % 10 = 0 GROUP BY md5($normSql))
       |  AND md5($normSql) NOT IN (
       |    SELECT md5($normSql) FROM documents WHERE doc_id % 10 != 0)
       |ORDER BY doc_id""".stripMargin
  }

  /** Incremental ingestion, near-dup: bipartite MinHash+LSH banding of the
    * crawl batch against the stored snapshot (no self-pairs on either
    * side), exact-Jaccard verified — the pairs a pipeline uses to drop
    * batch docs that near-duplicate stored content. Bounded to
    * doc_id < 2000 like q32 so the oracle's bipartite exact join stays
    * cheap at every SF; scale evidence lives with the operator (slim
    * banding, SURVEY §6). */
  query("q102_incremental_neardup") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents").filter(col("doc_id") < 2000))
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val cands = Dedup.minhashLshAgainst(docs.filter(isBatch),
        docs.filter(!isBatch), "text", "doc_id",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"))
    Dedup.ngramJaccard(docs, cands, "text", "doc_id", shingleK = 3)
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
  } {
    s"""WITH tok AS (
       |  SELECT doc_id, $toksSql AS w FROM documents WHERE doc_id < 2000),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) END AS s
       |  FROM tok)
       |SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
       |  round(len(list_intersect(a.s, b.s))::DOUBLE /
       |        len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
       |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8
       |ORDER BY batch_id, corpus_id""".stripMargin
  }

  /** SemDeDup accuracy gate (q33/q37/q60 pattern): cluster-then-compare
    * semantic dedup is verified in-plan against the exact all-pairs
    * threshold graph at the same tau. Recall < 1 is the paper's own
    * approximation (cross-cluster duplicates are never compared);
    * spurious drops must be structurally zero (the sem pair graph is a
    * subgraph of the exact graph, so a doc dropped by sem is non-minimal
    * in its exact component too). The oracle pins the verdict rows. */
  query("q108_semdedup") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val sem = Dedup.semDedupPairs(e, "embedding", "vec_id", k = 8, tau = 0.45)
      .select(col("id_a"), col("id_b"))
    val exact = Dedup.embeddingNearDup(e, "embedding", "vec_id",
        threshold = 0.45, nBits = 0)
      .select(col("id_a"), col("id_b"))
    // the two connected-components resolutions (approximate and exact
    // tier) are independent eager loops — overlap them (via Par, the
    // q157 note)
    val (semResolved, exactResolved) = operators.Par.par2(
      Dedup.resolveClusters(sem), Dedup.resolveClusters(exact))
    // lazily persisted: recall AND spurious-drop rows both read these
    // (persist, not the RDD materialize — see q118's note)
    val semDropped = operators.OpCache.track(semResolved
      .filter(!col("keep")).select(col("id")).persist())
    val exactDropped = operators.OpCache.track(exactResolved
      .filter(!col("keep")).select(col("id")).persist())
    val recall = Gate.recall(exactDropped, semDropped, Seq("id"))
    val spurious = semDropped.join(exactDropped, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n"))
    Gate.verdict(recall.crossJoin(spurious))(
      // empty exact-dup set would make recall NULL; surface false
      ("semdedup_recall_of_exact", 0.5,
        coalesce(col("recall") >= 0.5, lit(false))),
      ("semdedup_spurious_drops", 0.0, col("n") === 0))
  } {
    // q108 is an accuracy GATE (q33/q60 pattern): Spark verifies SemDeDup
    // against the exact all-pairs threshold graph in-plan and emits
    // (metric, bound, ok); the oracle pins the expected verdict literally,
    // so a clustering/recall regression (ok=false) hash-mismatches.
    """SELECT * FROM (VALUES
      |  ('semdedup_recall_of_exact', CAST(0.5 AS DOUBLE), TRUE),
      |  ('semdedup_spurious_drops', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Corpus diversity report: distinct-1/distinct-2 ratios (unique
    * n-grams / total n-grams, Li et al. 2016's distinct-n) per source —
    * the metric behind "is this slice templated/repetitive" curation
    * calls. Shuffles bare (source, gram) pairs; text dies in its scan. */
  query("q116_distinct_ngrams") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val toks = TextFunctions.tokens(col("text"))
    val uni = docs.select(col("source"), explode(toks).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("g")).as("d_tok"))
    val bi = docs
      .select(col("source"), toks.as("w"))
      .select(col("source"), explode(
        when(size(col("w")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(col("w")) - 2),
            i => concat(element_at(col("w"), i + 1), lit(" "),
              element_at(col("w"), i + 2))))).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bi"), countDistinct(col("g")).as("d_bi"))
    uni.join(bi, Seq("source"), "left_outer")
      .select(col("source"), col("n_tok"), col("d_tok"),
        round(col("d_tok").cast("double") / col("n_tok"), 6).as("distinct_1"),
        coalesce(col("n_bi"), lit(0L)).as("n_bi"),
        coalesce(col("d_bi"), lit(0L)).as("d_bi"),
        round(col("d_bi").cast("double") / col("n_bi"), 6).as("distinct_2"))
      .orderBy(col("source"))
  } {
    s"""WITH tok AS (
       |  SELECT source,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents),
       |uni AS (
       |  SELECT source, count(*) AS n_tok, count(DISTINCT g) AS d_tok
       |  FROM (SELECT source, unnest(w) AS g FROM tok) GROUP BY source),
       |bi AS (
       |  SELECT source, count(*) AS n_bi, count(DISTINCT g) AS d_bi
       |  FROM (SELECT source, unnest(list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i + 1])) AS g FROM tok) GROUP BY source)
       |SELECT u.source, u.n_tok, u.d_tok,
       |  round(u.d_tok::DOUBLE / u.n_tok, 6) AS distinct_1,
       |  coalesce(b.n_bi, 0) AS n_bi, coalesce(b.d_bi, 0) AS d_bi,
       |  round(b.d_bi::DOUBLE / b.n_bi, 6) AS distinct_2
       |FROM uni u LEFT JOIN bi b USING (source)
       |ORDER BY source""".stripMargin
  }

  /** Offset-robust exact substring dedup: every ≥5-token passage that
    * repeats anywhere in the corpus is reported as a removable [start,
    * end) token range in every non-first document — at ARBITRARY
    * offsets, the duplicates q100's fixed window grid misses when a copy
    * straddles a chunk boundary. The oracle recomputes the stride-1
    * window definition and the interval merge from scratch. */
  query("q121_substring_spans") { (s, dir) =>
    Dedup.duplicateSubstringSpans(parallelize(t(s, dir, "documents")),
        "text", "doc_id", minTokens = 5)
      .orderBy(col("doc_id"), col("span_start"))
  } {
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(coalesce(text, '')), '\s+')
      |    END AS w
      |  FROM documents),
      |win AS (
      |  SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos, w
      |  FROM d WHERE len(w) >= 5),
      |sh AS (
      |  SELECT doc_id, pos,
      |    array_to_string(w[pos + 1 : pos + 5], ' ') AS s
      |  FROM win),
      |occ AS (
      |  SELECT doc_id, pos,
      |    count(*) OVER (PARTITION BY s) AS cnt,
      |    row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
      |  FROM sh),
      |rem AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rn > 1),
      |m AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + 5) OVER (
      |      PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |    THEN 1 ELSE 0 END AS ni
      |  FROM rem),
      |i AS (SELECT doc_id, pos, sum(ni) OVER (
      |        PARTITION BY doc_id ORDER BY pos) AS isl FROM m)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 5 AS span_end
      |FROM i GROUP BY doc_id, isl
      |ORDER BY doc_id, span_start""".stripMargin
  }

  /** Incremental SimHash gate (q33's bipartite companion, completing the
    * incremental ingest family next to q101 exact / q102 Jaccard / q129
    * semantic): segment-blocked batch-vs-corpus near-dup pairs must
    * EQUAL the brute-force bipartite hamming join in-plan — pigeonhole
    * blocking is lossless, so the contract is equality, not recall.
    * Bounded like q102 so the brute-force cross join stays small at
    * every SF. The oracle pins the verdict rows. */
  query("q131_simhash_incremental") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents").filter(col("doc_id") < 2000))
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val batch = docs.filter(isBatch)
    val corpus = docs.filter(!isBatch)
    val maxH = 8
    val blocked = Dedup.simhashAgainst(batch, corpus, "text", "doc_id",
        maxHamming = maxH)
    val bf = batch
      .select(col("doc_id").as("batch_id"),
        Dedup.simhash64(col("text")).as("fa"))
      .crossJoin(corpus.select(col("doc_id").as("corpus_id"),
        Dedup.simhash64(col("text")).as("fb")))
      .filter(Dedup.hammingDistance(col("fa"), col("fb")) <= maxH)
    Gate.verdict(Gate.parity(blocked, bf, Seq("batch_id", "corpus_id")))(
      ("simhash_incr_nonempty", 1.0, col("n") >= 1),
      ("simhash_incr_pairs_equal", 0.0, col("bad") === 0))
  } {
    // q131 is a self-equivalence GATE (q33's bipartite companion): the
    // pigeonhole-blocked batch-vs-corpus SimHash pairs must equal the
    // brute-force bipartite hamming join.
    """SELECT * FROM (VALUES
      |  ('simhash_incr_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('simhash_incr_pairs_equal', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Corpus-wide exact LINE dedup gate
    * ([[operators.Dedup.removeDuplicateSegments]] — RefinedWeb's
    * cross-document boilerplate removal; q100's span twin at natural
    * line boundaries): two boilerplate lines are planted across
    * overlapping corpus slices (a newsletter line on ~half the docs, a
    * copyright footer on another ~half, both on a quarter — the shared
    * footer/nav shape), every planted copy after the corpus-first must
    * vanish while each document's own soup line survives, and documents
    * are rebuilt with line boundaries intact. The oracle recomputes
    * keep-first from first principles, partitioned by segment TEXT —
    * certifying the operator's 128-bit segment keys collision-free on
    * this corpus, the q100 discipline. */
  query("q168_line_dedup") { (s, dir) =>
    val raw = coalesce(col("text"), lit(""))
    val m = pmod(col("doc_id"), lit(4))
    val docs = t(s, dir, "documents").withColumn("t2",
        when(m === 0, concat(raw, lit("\n" + q168News)))
          .when(m === 1, concat(raw, lit("\n" + q168News + "\n" + q168Foot)))
          .when(m === 2, concat(raw, lit("\n" + q168Foot)))
          .otherwise(raw))
      .select(col("doc_id"), col("t2").as("text"))
    Dedup.removeDuplicateSegments(parallelize(docs), "text", "doc_id")
      .select(col("doc_id"), col("text_clean"),
        col("n_spans").as("n_segs"), col("n_kept"))
      .orderBy(col("doc_id"))
  } {
    // q168 recomputes corpus-wide line keep-first from first principles,
    // partitioned by segment TEXT (certifies the 128-bit segment keys
    // collision-free on this corpus — the q100 discipline).
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE doc_id % 4
       |      WHEN 0 THEN t0 || chr(10) || '$q168News'
       |      WHEN 1 THEN t0 || chr(10) || '$q168News'
       |                    || chr(10) || '$q168Foot'
       |      WHEN 2 THEN t0 || chr(10) || '$q168Foot'
       |      ELSE t0 END AS text
       |  FROM (SELECT doc_id, coalesce(text, '') AS t0 FROM documents) s0),
       |l AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(string_split(text, chr(10)),
       |      x -> trim(x)), x -> x <> '') AS segs
       |  FROM d),
       |c AS (SELECT doc_id, segs, unnest(range(0, len(segs))) AS cidx
       |      FROM l),
       |sseg AS (SELECT doc_id, cidx, segs[cidx + 1] AS seg FROM c),
       |s2 AS (SELECT doc_id, cidx, seg,
       |    count(*) OVER (PARTITION BY seg) AS cnt,
       |    row_number() OVER (PARTITION BY seg
       |      ORDER BY doc_id, cidx) AS rn
       |  FROM sseg),
       |k AS (SELECT doc_id, cidx, seg FROM s2 WHERE cnt < 2 OR rn = 1),
       |r AS (SELECT doc_id,
       |    string_agg(seg, chr(10) ORDER BY cidx) AS text_clean,
       |    count(*) AS n_kept
       |  FROM k GROUP BY doc_id),
       |n AS (SELECT doc_id, len(segs) AS n_segs FROM l)
       |SELECT n.doc_id, coalesce(r.text_clean, '') AS text_clean,
       |  CAST(n.n_segs AS BIGINT) AS n_segs,
       |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
       |FROM n LEFT JOIN r ON n.doc_id = r.doc_id
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Content-defined chunking duplicate-block report ([[operators.Dedup
    * .cdcDuplicateChunks]] — LBFS 2001 / the FastCDC base form; the
    * block-level dedup tier whose boundaries RESYNC after insertions,
    * where q100/q121's grids mis-align and q168 needs newline
    * structure): every ~64-char content-defined block occurring ≥ 2×
    * corpus-wide, with occurrence/document counts. FULL DuckDB oracle —
    * the same normalized text, md5-window cut rule, bounds assembly,
    * and chunk fingerprints via list comprehensions. */
  query("q185_cdc_chunks") { (s, dir) =>
    Dedup.cdcDuplicateChunks(parallelize(t(s, dir, "documents")),
        "text", "doc_id")
      .orderBy(col("n_occ").desc, col("chunk_fp"))
  } {
    // q185 replays the CDC cut rule over list comprehensions: same
    // normalized text, md5-window boundary test (hex prefix mod 64),
    // [0 ∪ cuts ∪ n] bounds, chunk fingerprints, and the ≥2 report.
    s"""WITH nt AS (SELECT doc_id, $normSql AS t FROM documents),
       |b AS (SELECT doc_id, t, len(t) AS n,
       |  [i for i in range(16, len(t))
       |   if ('0x' || substr(md5(t[i-15:i]), 1, 4))::INT % 64 = 0] AS cuts
       |  FROM nt),
       |ch AS (SELECT doc_id,
       |  unnest([{'fp': md5(t[bounds[j]+1:bounds[j+1]]),
       |           'ln': bounds[j+1]-bounds[j]}
       |          for j in range(1, len(bounds))]) AS c
       |  FROM (SELECT doc_id, t, ([0] || cuts || [n]) AS bounds
       |        FROM b WHERE n > 0))
       |SELECT c.fp AS chunk_fp, count(*)::BIGINT AS n_occ,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  min(c.ln)::BIGINT AS chunk_len
       |FROM ch GROUP BY 1 HAVING count(*) >= 2
       |ORDER BY n_occ DESC, chunk_fp""".stripMargin
  }
}
