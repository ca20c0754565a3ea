package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions
import graft.operators.{Dedup, Similarity}

import Shared._

/** Similarity search and ranking: exact cosine top-k, LSH/IVF/PQ/IVF-PQ
  * ANN, int8 quantization, BM25, rank fusion and graph centrality. */
object Retrieval extends Family {

  /** DuckDB graph-centrality CTEs: `iters` UNROLLED power-iteration
    * layers (the [[bpeCtesSql]] discipline) over the exact cosine pair
    * graph at `tau`. Every per-node sum (out-strength, each round's
    * incoming mass) folds as a window ORDERED by the neighbor id —
    * matching [[operators.Rank.graphRank]]'s ordered-fold pin — and each
    * round rounds at 1e-9. The damping literals interpolate from the
    * SAME Scala doubles the operator uses (`1.0 - damping` is NOT the
    * decimal 0.15 at the last ulp). */
  private def graphRankSql(iters: Int, damping: Double, tau: Double): String = {
    def orderedFold(src: String, key: String, ord: String, value: String,
                    out: String): String =
      s"""SELECT $key AS id, cum AS $out FROM (
         |  SELECT $key, sum($value) OVER (PARTITION BY $key ORDER BY $ord
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    row_number() OVER (PARTITION BY $key ORDER BY $ord DESC) AS rn
         |  FROM $src) WHERE rn = 1""".stripMargin
    val layers = (1 to iters).map { i =>
      s"""m$i AS (${orderedFold(
        s"(SELECT en.v, en.u, en.nw * r${i - 1}.r AS c FROM en " +
          s"JOIN r${i - 1} ON en.u = r${i - 1}.id)",
        "v", "u", "c", "mass")}),
         |r$i AS (SELECT r0.id, round(${1.0 - damping} +
         |    $damping * coalesce(m$i.mass, 0), 9) AS r
         |  FROM r0 LEFT JOIN m$i ON r0.id = m$i.id)""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, label, $vecSql AS v FROM embeddings),
       |p AS MATERIALIZED (
       |  SELECT ua, ub, round(c, 6) AS w FROM (
       |    SELECT a.vec_id AS ua, b.vec_id AS ub,
       |      ${cosSql("a.v", "b.v")} AS c
       |    FROM e a JOIN e b ON a.vec_id < b.vec_id) WHERE c >= $tau),
       |ee AS (SELECT ua AS u, ub AS v, w FROM p
       |       UNION ALL SELECT ub, ua, w FROM p),
       |ow AS (${orderedFold("ee", "u", "v", "w", "outw")}),
       |en AS MATERIALIZED (SELECT ee.u, ee.v, ee.w / ow.outw AS nw
       |  FROM ee JOIN ow ON ee.u = ow.id),
       |r0 AS (SELECT vec_id AS id, 1.0 AS r FROM e),
       |${layers.mkString(",\n")}
       |SELECT e.vec_id, e.label, r$iters.r AS centrality
       |FROM e JOIN r$iters ON e.vec_id = r$iters.id
       |ORDER BY e.vec_id""".stripMargin
  }

  /** Exact cosine top-k: rank on the ROUNDED similarity (+ id tiebreak) so
    * Spark and DuckDB rank identically even at float boundaries. */
  query("q34_cosine_topk") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val corpus = e.select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))
    val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = corpus.join(broadcast(queries), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        round(VectorFunctions.cosine(col("qv"), col("cv")), 4).as("cos_r"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  } {
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id % 100 = 0)
       |SELECT query_id, corpus_id, cos_r, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |    round(${cosSql("q.v", "c.v")}, 4) AS cos_r,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${cosSql("q.v", "c.v")}, 4) DESC, c.vec_id) AS rank
       |  FROM q, e c WHERE c.vec_id <> q.vec_id) x
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  query("q35_embedding_stats") { (s, dir) =>
    t(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(VectorFunctions.l2Norm(col("embedding"))), 4).as("avg_norm"),
        round(avg(size(col("embedding"))), 2).as("avg_dim"))
      .orderBy(col("label"))
  } {
    s"""SELECT label, count(*) AS n,
       | round(avg(sqrt(list_dot_product($vecSql, $vecSql))), 4) AS avg_norm,
       | round(avg(len(embedding)), 2) AS avg_dim
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin
  }

  /** LSH-bucketed ANN recall gate: the approximate top-k is compared
    * in-plan against [[Similarity.bruteForceTopK]] (the exact answer) and
    * the query emits a deterministic (metric, bound, ok) verdict — recall@5
    * over all probe queries must clear the bound, which the oracle
    * rows-matches as a literal. The synthetic embeddings are near-random,
    * so with 8 hyperplanes the 1-bit multiprobe scans ~9/256 ≈ 3.5% of the
    * corpus and chance-level recall is ~0.035; measured recall is 0.12 /
    * 0.16 / 0.06 at sf0.01 / sf0.001 / sf0.1, so the 0.05 bound asserts
    * the bucketing beats chance and regression-gates the hash/probe path
    * at every SF the driver and bench touch. On
    * clustered real-world embeddings the same operator probes a far larger
    * effective fraction of each query's neighborhood. Per-fixture recall
    * values remain pinned in SimilaritySpec. */
  query("q37_ann_lsh") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "embedding", "vec_id", k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = Similarity.lshTopK(e, queries, "embedding", "vec_id", k = 5, nBits = 8)
      .select(col("query_id"), col("corpus_id"))
    Gate.verdict(Gate.recall(exact, approx, Seq("query_id", "corpus_id")))(
      // empty exact set would make recall NULL; surface false, not NULL
      ("lsh_recall_at_5", 0.05, coalesce(col("recall") >= 0.05, lit(false))))
  } {
    // q37 gate: LSH recall@5 vs in-plan brute force must clear the bound.
    """SELECT 'lsh_recall_at_5' AS metric, CAST(0.05 AS DOUBLE) AS bound,
      | TRUE AS ok""".stripMargin
  }

  /** IVF ANN recall gate (same shape as q37): Lloyd-trained centroids,
    * nProbe-cell search, compared in-plan against the exact brute-force
    * top-k; emits a deterministic (metric, bound, ok) verdict the oracle
    * rows-matches. Trained ≥ sampled centroid quality stays gated in
    * SimilaritySpec. At real scale the assigned corpus is written
    * partitioned by cell. */
  query("q60_ivf_ann") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
    val centroids = Similarity.trainCentroids(e, "embedding", "vec_id",
      k = 10)
    val exact = Similarity.bruteForceTopK(e, queries, "embedding", "vec_id", k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = Similarity.ivfTopK(e, queries, centroids, "embedding",
        "vec_id", k = 5, nProbe = 3)
      .select(col("query_id"), col("corpus_id"))
    Gate.verdict(Gate.recall(exact, approx, Seq("query_id", "corpus_id")))(
      // empty exact set would make recall NULL; surface false, not NULL
      ("ivf_recall_at_5", 0.3, coalesce(col("recall") >= 0.3, lit(false))))
  } {
    // q60 gate: IVF recall@5 vs in-plan brute force must clear the bound.
    """SELECT 'ivf_recall_at_5' AS metric, CAST(0.3 AS DOUBLE) AS bound,
      | TRUE AS ok""".stripMargin
  }

  /** Element-wise mean embedding per label (vector aggregate): posexplode
    * to (label, dim, v) rows, partial+final avg per lane — the shuffle
    * moves per-dimension partial sums, never whole vectors. */
  query("q75_vector_mean") { (s, dir) =>
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v").cast("double")), 5).as("mean_v"))
      .select(col("label"), col("dim").cast("long").as("dim"), col("mean_v"))
      .orderBy(col("label"), col("dim"))
  } {
    """SELECT label, CAST(fi - 1 AS BIGINT) AS dim,
      | round(avg(CAST(embedding[fi] AS DOUBLE)), 5) AS mean_v
      |FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS fi) f
      |GROUP BY label, fi ORDER BY label, dim""".stripMargin
  }

  /** BM25 relevance ranking for a literal query — the retrieval sweep a
    * curation pipeline runs for corpus audits and targeted
    * decontamination. Scores ordered by doc for a deterministic hash;
    * ranking is the score column. */
  query("q104_bm25") { (s, dir) =>
    operators.Rank.bm25(parallelize(t(s, dir, "documents")), "text", "doc_id",
        Seq("spark", "data", "query"))
      .orderBy(col("doc_id"))
  } {
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents),
       |stats AS (SELECT count(*)::DOUBLE AS n, avg(len(w)) AS avgdl FROM tok),
       |m AS (
       |  SELECT doc_id, t, count(*) AS tf, min(dl) AS dl FROM (
       |    SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM tok) x
       |  WHERE t IN ('spark', 'data', 'query') GROUP BY doc_id, t),
       |dfs AS (SELECT t, count(*) AS df FROM m GROUP BY t)
       |SELECT m.doc_id, round(sum(
       |  ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (m.tf * (1.2 + 1)) /
       |  (m.tf + 1.2 * (1 - 0.75 + 0.75 * m.dl / s.avgdl))), 4) AS score
       |FROM m JOIN dfs d USING (t) CROSS JOIN stats s
       |GROUP BY m.doc_id ORDER BY m.doc_id""".stripMargin
  }

  /** Hybrid retrieval: a lexical BM25 top-50 and a dense cosine top-50
    * (query = the vec_id-0 embedding) fused by reciprocal-rank fusion
    * (k=60) — the standard two-retriever RAG-prep consensus, fused on
    * ranks so no score calibration is needed. Both lists rank on
    * round-4 scores with id tiebreaks (the q34 convention) so the two
    * engines can never disagree on a rank. Both top-50s take the q111
    * shape — orderBy+limit (TakeOrderedAndProject) FIRST, then
    * row_number over the 50 survivors — never a partition-less window
    * over the whole corpus; the ordering is total, so the results are
    * identical. */
  query("q107_rrf_fusion") { (s, dir) =>
    val sw = Window.orderBy(col("score").desc, col("doc_id"))
    val sparse = operators.Rank.bm25(parallelize(t(s, dir, "documents")),
        "text", "doc_id", Seq("spark", "data", "query"))
      .orderBy(col("score").desc, col("doc_id")).limit(50)
      .withColumn("rank", row_number().over(sw))
      .select(col("doc_id").as("id"), col("rank"))
    val e = t(s, dir, "embeddings")
    val q0 = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val dw = Window.orderBy(col("cos_r").desc, col("id"))
    val dense = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q0))
      .select(col("vec_id").as("id"),
        round(VectorFunctions.cosine(col("qv"), col("embedding")), 4).as("cos_r"))
      .orderBy(col("cos_r").desc, col("id")).limit(50)
      .withColumn("rank", row_number().over(dw))
      .select(col("id"), col("rank"))
    operators.Rank.rrfFuse(Seq(sparse, dense), "id")
      .select(col("id"), round(col("rrf"), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(20)
  } {
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents),
       |stats AS (SELECT count(*)::DOUBLE AS n, avg(len(w)) AS avgdl FROM tok),
       |m AS (
       |  SELECT doc_id, t, count(*) AS tf, min(dl) AS dl FROM (
       |    SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM tok) x
       |  WHERE t IN ('spark', 'data', 'query') GROUP BY doc_id, t),
       |dfs AS (SELECT t, count(*) AS df FROM m GROUP BY t),
       |bm AS (
       |  SELECT m.doc_id AS id, round(sum(
       |    ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (m.tf * (1.2 + 1)) /
       |    (m.tf + 1.2 * (1 - 0.75 + 0.75 * m.dl / s.avgdl))), 4) AS score
       |  FROM m JOIN dfs d USING (t) CROSS JOIN stats s GROUP BY m.doc_id),
       |sr AS (SELECT id, rank FROM (
       |  SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank
       |  FROM bm) WHERE rank <= 50),
       |e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
       |dr AS (SELECT id, rank FROM (
       |  SELECT e.vec_id AS id, row_number() OVER (
       |    ORDER BY round(${cosSql("qv.q", "e.v")}, 4) DESC, e.vec_id) AS rank
       |  FROM e, qv WHERE e.vec_id <> 0) WHERE rank <= 50),
       |u AS (
       |  SELECT id, 1.0 / (60 + rank)::DOUBLE AS c FROM sr
       |  UNION ALL SELECT id, 1.0 / (60 + rank)::DOUBLE FROM dr)
       |SELECT id, round(sum(c), 6) AS rrf FROM u
       |GROUP BY id ORDER BY rrf DESC, id LIMIT 20""".stripMargin
  }

  /** Product-quantization accuracy gate (q33/q60/q108 pattern): 64-dim
    * embeddings compress to m=16 4-bit codes (32× smaller than float32 —
    * measured fixture: mean reconstruction cosine 0.815, ADC recall@10
    * 0.32–0.44);
    * the verdict verifies reconstruction quality and ADC top-10 recall
    * against exact brute-force cosine, in-plan. The oracle pins the
    * verdict rows. */
  query("q112_pq_ann") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val (m, subDim) = (16, 4)
    val cb = operators.Quantize.trainCodebook(e, "embedding", "vec_id",
      dim = 64, m = m, ksub = 16)
    // lazily persisted: the reconstruction gate AND the ADC recall gate
    // both read the codes — encode once, not per verdict row (persist,
    // not the RDD materialize — see q118's note)
    val codes = operators.OpCache.track(
      operators.Quantize.encode(e, cb, "embedding", "vec_id", m, subDim)
        .persist())
    val rec = operators.Quantize.decode(codes, cb, "recv", "vec_id")
      .join(e, Seq("vec_id"))
      .agg(avg(VectorFunctions.cosine(col("recv"), col("embedding")))
        .as("cos"))
    val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "embedding", "vec_id",
        k = 10)
      .select(col("query_id"), col("corpus_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id"))
    val approx = operators.Quantize.pqScores(codes, cb, queries,
        "embedding", "vec_id", m, subDim)
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select(col("query_id"), col("corpus_id"))
    val rc = Gate.recall(exact, approx, Seq("query_id", "corpus_id"))
    Gate.verdict(rec.crossJoin(rc))(
      ("pq_reconstruction_mean_cosine", 0.7,
        coalesce(col("cos") >= 0.7, lit(false))),
      ("pq_recall_at_10", 0.2, coalesce(col("recall") >= 0.2, lit(false))))
  } {
    // q112 is an accuracy GATE (q33/q60/q108 pattern): Spark verifies PQ
    // reconstruction + ADC recall against exact in-plan answers and emits
    // (metric, bound, ok); the oracle pins the verdict rows literally.
    """SELECT * FROM (VALUES
      |  ('pq_recall_at_10', CAST(0.2 AS DOUBLE), TRUE),
      |  ('pq_reconstruction_mean_cosine', CAST(0.7 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** IVF-PQ composed ANN gate: coarse cells prune the scan, product codes
    * score it — the at-scale shape where raw vectors are never read at
    * query time. Recall compounds both approximations; verdict vs exact
    * brute force, oracle pins the row. */
  query("q113_ivfpq_ann") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val (m, subDim) = (16, 4)
    val cents = Similarity.trainCentroids(e, "embedding", "vec_id", k = 10)
    val cb = operators.Quantize.trainCodebook(e, "embedding", "vec_id",
      dim = 64, m = m, ksub = 16)
    val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "embedding", "vec_id",
        k = 10)
      .select(col("query_id"), col("corpus_id"))
    val approx = operators.Quantize.ivfPqTopK(e, queries, cents, cb,
        "embedding", "vec_id", m, subDim, k = 10, nProbe = 3)
      .select(col("query_id"), col("corpus_id"))
    Gate.verdict(Gate.recall(exact, approx, Seq("query_id", "corpus_id")))(
      ("ivfpq_recall_at_10", 0.15,
        coalesce(col("recall") >= 0.15, lit(false))))
  } {
    """SELECT * FROM (VALUES
      |  ('ivfpq_recall_at_10', CAST(0.15 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Symmetric per-vector int8 quantization (the 4× embedding-store
    * compression tier next to q112's 32× PQ): codes, scale, and the
    * reconstruction cosine are exact integer/double arithmetic both
    * engines reproduce bit-for-bit — oracle-checked, not verdict-gated. */
  query("q115_int8_quantize") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val scale = operators.Quantize.int8Scale(col("embedding"))
    val codes = operators.Quantize.int8Codes(col("embedding"))
    e.select(col("vec_id"), col("embedding"), scale.as("scale"),
        codes.as("codes"))
      .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
        array_max(col("codes")).as("max_code"),
        array_min(col("codes")).as("min_code"),
        round(VectorFunctions.cosine(
          operators.Quantize.int8Reconstruct(col("codes"), col("scale")),
          transform(col("embedding"), x => x.cast("double"))), 4)
          .as("recon_cos"))
      .orderBy(col("vec_id"))
  } {
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |s AS (
       |  SELECT vec_id, v,
       |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |  FROM e),
       |q AS (
       |  SELECT vec_id, v, scale,
       |    CASE WHEN scale = 0
       |      THEN list_transform(v, x -> 0)
       |      ELSE list_transform(v,
       |        x -> CAST(floor(x / scale + 0.5) AS INT)) END AS codes
       |  FROM s),
       |r AS (
       |  SELECT vec_id, v, scale, codes,
       |    list_transform(codes, c -> c * scale) AS recon
       |  FROM q)
       |SELECT vec_id, round(scale, 6) AS scale_r,
       |  list_max(codes) AS max_code, list_min(codes) AS min_code,
       |  round(${cosSql("v", "recon")}, 4) AS recon_cos
       |FROM r ORDER BY vec_id""".stripMargin
  }

  /** Two-stage ANN gate (q113's production companion): the IVF-PQ ADC
    * shortlist re-ranked with exact cosine must have recall@10 ≥ the
    * plain ADC top-10 at the same models/probes (structural: the plain
    * list is a subset of the shortlist and exact scoring promotes every
    * true neighbor inside it), and above a measured-then-pinned floor.
    * The oracle pins the verdict rows. */
  query("q133_ivfpq_rerank") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val (m, subDim) = (16, 4)
    val cents = Similarity.trainCentroids(e, "embedding", "vec_id", k = 10)
    val cb = operators.Quantize.trainCodebook(e, "embedding", "vec_id",
      dim = 64, m = m, ksub = 16)
    val queries = e.filter(pmod(col("vec_id"), lit(100)) === 0)
    val exact = Similarity.bruteForceTopK(e, queries, "embedding", "vec_id",
        k = 10)
      .select(col("query_id"), col("corpus_id"))
    def recallOf(approx: DataFrame) =
      Gate.recall(exact, approx, Seq("query_id", "corpus_id"))
    val plain = operators.Quantize.ivfPqTopK(e, queries, cents, cb,
      "embedding", "vec_id", m, subDim, k = 10, nProbe = 3)
    val rerank = operators.Quantize.ivfPqRerank(e, queries, cents, cb,
      "embedding", "vec_id", m, subDim, k = 10, shortlist = 50, nProbe = 3)
    // 1-row recalls read by two verdict rows each → eager materialize
    val rp = operators.OpCache.materializeLocal(recallOf(plain))
    val rr = operators.OpCache.materializeLocal(recallOf(rerank))
    // bound 0.4, measured (verify-skill protocol): rerank recall 0.54 at
    // sf0.001, 0.46 at sf0.01 — vs plain ADC 0.34 / 0.32 (+~40%
    // relative, the exact-re-rank lift at shortlist = 50)
    Gate.verdict(rr.crossJoin(rp.withColumnRenamed("recall", "recall_plain")))(
      ("rerank_recall_ge_plain", 0.0,
        coalesce(col("recall") >= col("recall_plain"), lit(false))),
      ("rerank_recall_at_10", 0.4,
        coalesce(col("recall") >= 0.4, lit(false))))
  } {
    // q133 is an accuracy GATE (q113's production companion): the exact
    // re-rank must dominate the plain ADC list and clear the pinned
    // recall floor.
    """SELECT * FROM (VALUES
      |  ('rerank_recall_at_10', CAST(0.4 AS DOUBLE), TRUE),
      |  ('rerank_recall_ge_plain', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Similarity-graph centrality ([[operators.Rank.graphRank]] —
    * TextRank's weighted power iteration, Mihalcea & Tarau 2004 / Brin &
    * Page 1998): 5 damped iterations over the exact cosine graph at
    * tau 0.3 (the q172 pair tier; production feeds the LSH/IVF store
    * pairs), surfacing the corpus's over-connected hub rows. Every
    * neighbor sum folds window-ordered (the q110 discipline) and each
    * iteration rounds at 1e-9, so both engines iterate identical
    * doubles. FULL DuckDB oracle — 5 UNROLLED CTE layers (the q177
    * discipline) replaying the same normalized edges, ordered folds,
    * and damping arithmetic. */
  query("q181_graph_centrality") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val pairs = Dedup.embeddingNearDup(e, "embedding", "vec_id",
        threshold = 0.3, nBits = 0)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("w"))
    operators.Rank.graphRank(e.select(col("vec_id"), col("label")),
        "vec_id", pairs, "id_a", "id_b", "w", iters = 5, damping = 0.85)
      .select(col("vec_id"), col("label"), col("centrality"))
      .orderBy(col("vec_id"))
  } {
    // q181 recomputes power-iteration centrality with 5 unrolled layers:
    // the same exact pair graph, window-ordered neighbor folds, and
    // interpolated damping literals.
    graphRankSql(5, 0.85, 0.3)
  }
}
