package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`ArrayType(FloatType)`). North-star operator (BASELINE.json); absent
 * from the reference (no vector type — `stepist/app.py:20`).
 *
 * Two tiers:
 *  - [[bruteForceTopK]]: exact cosine top-k via broadcast of the (small)
 *    query set against the (huge) corpus — the correctness baseline. The
 *    corpus side streams through executors partition-parallel; only queries
 *    are broadcast, so this scales to any corpus size as long as the query
 *    batch fits in memory.
 *  - [[lshTopK]]: hyperplane-LSH bucketed search with multiprobe — the
 *    100 TB path. Corpus is bucketed ONCE (a single hash shuffle, reusable
 *    across query batches); each query probes its own bucket plus all
 *    1-bit-flip neighbors, so the per-query candidate set is ~corpus/2^bits
 *    × (bits+1) instead of the full corpus.
 */
object Similarity {

  /**
   * Exact top-k neighbors by cosine for every query vector.
   * Ties break by ascending corpus id for determinism.
   *
   * `includeSelf = false` (the DEFAULT) excludes id-equal
   * (query_id == corpus_id) pairs — the self-query convention, where a
   * vector must not be its own nearest neighbor. When corpus and queries
   * are DISTINCT tables whose id spaces may overlap numerically, pass
   * `includeSelf = true`, or an unrelated corpus row sharing a query's id
   * is silently dropped from its candidates. (Applies to [[lshTopK]] and
   * [[ivfTopK]] identically.)
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int,
                     includeSelf: Boolean = false): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val joined = c.join(broadcast(q),
      if (includeSelf) lit(true) else col("corpus_id") =!= col("query_id"))
    val scored = joined.select(col("query_id"), col("corpus_id"),
      cosine(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /**
   * LSH-bucketed ANN top-k with 1-bit multiprobe: each query searches its
   * hyperplane bucket and the `nBits` buckets at Hamming distance 1, which
   * recovers most neighbors lost to a single hyperplane straddle. Returns
   * the same schema as [[bruteForceTopK]]; `rank` is within retrieved
   * candidates (approximate — may differ from exact top-k on recall misses).
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int,
              nBits: Int = 8, includeSelf: Boolean = false): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      hyperplaneLshKey(col(vecCol), nBits).as("bucket"))
    val qKey = hyperplaneLshKey(col(vecCol), nBits)
    // probe set: own bucket + each single-bit flip (0L mask = own bucket;
    // XOR with a one-hot mask flips that hyperplane bit)
    val probeMasks = array((lit(0L) +: (0 until nBits).map(i => lit(1L << i))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        qKey.as("qbucket"))
      .select(col("query_id"), col("qv"),
        explode(transform(probeMasks, m =>
          col("qbucket").bitwiseXOR(m))).as("bucket"))
      .dropDuplicates("query_id", "bucket")
    val joined = c.join(broadcast(q), Seq("bucket"))
    val filtered =
      if (includeSelf) joined else joined.filter(col("corpus_id") =!= col("query_id"))
    val scored = filtered
      .select(col("query_id"), col("corpus_id"), cosine(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("query_id", "corpus_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * IVF-style coarse quantization: assign every vector to its nearest of
   * `centroids` (a small broadcast list of (centroid_id, vector)), producing
   * a partition key for co-located similarity work. At 100 TB the corpus is
   * written bucketed/partitioned by `cell` so query-time reads prune to the
   * probed cells only.
   */
  def ivfAssign(df: DataFrame, centroids: DataFrame,
                vecCol: String, idCol: String): DataFrame = {
    // assignment as a per-row COMPILED expression over the collected
    // centroid artifact ([[graft.functions.expressions.NearestCells]]) —
    // zero shuffle, zero join, the corpus never moves. The r16
    // broadcast-join + max_by formulation looked shuffle-free too, but
    // max_by's struct-with-array buffer is not hash-aggregable, so
    // Catalyst planned a SortAggregate that sorted the corpus×k joined
    // stream per task — measured ENOSPC at 500k×1953 (SURVEY §6).
    // Tiebreak unchanged: (cosine, -centroid_id), bit-identical cosine.
    // Collecting k centroid rows is catalog-sized by policy (the
    // dsirScore / probeCellsExpr artifact class).
    val cs = collectCentroids(centroids, vecCol)
    df.select(col(idCol), col(vecCol),
      element_at(graft.functions.expressions.GraftExpressions
        .nearestCells(col(vecCol), cs, 1), 1).as("cell"))
  }

  /** Collected (id, double-vector) centroid artifact for the per-row
    * assignment expression; k rows by policy. */
  private def collectCentroids(centroids: DataFrame,
                               vecCol: String): graft.functions.expressions.CentroidSet = {
    val rows = centroids
      .select(col("centroid_id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .collect()
    new graft.functions.expressions.CentroidSet(
      rows.map(_.getLong(0)),
      rows.map(_.getSeq[Double](1).toArray))
  }

  /**
   * Soft (multi-probe) IVF assignment: every vector is assigned to its
   * `probes` NEAREST centroids, one output row per (vector, cell). The
   * corpus-side analog of [[ivfTopK]]'s query-side nProbe: two vectors are
   * ever compared iff their probe sets intersect, so raising `probes`
   * recovers neighbors that straddle a cell boundary (the dominant recall
   * loss of hard assignment) at `probes`× the assignment cost.
   *
   * Shape: ONE per-row compiled top-`probes` selection over the collected
   * centroid artifact ([[graft.functions.expressions.NearestCells]]) +
   * an explode to one row per (vector, cell) — zero shuffle, zero join;
   * a vector with fewer than `probes` reachable centroids (k < probes)
   * simply yields fewer rows. `probes` is a compile-time-small constant
   * (2-4), not data. (The r16 formulation ran `probes` rounds of
   * broadcast-join + max_by — the SortAggregate trap [[ivfAssign]]
   * documents, `probes`× over.)
   */
  def ivfAssignMulti(df: DataFrame, centroids: DataFrame, vecCol: String,
                     idCol: String, probes: Int): DataFrame = {
    require(probes >= 1, s"probes must be at least 1, got $probes")
    val cs = collectCentroids(centroids, vecCol)
    df.select(col(idCol), col(vecCol),
      explode(graft.functions.expressions.GraftExpressions
        .nearestCells(col(vecCol), cs, probes)).as("cell"))
  }

  /**
   * Per-row multi-probe assignment against a COLLECTED centroid artifact —
   * the serving form of [[ivfAssignMulti]] (the
   * [[graft.operators.Curate.dsirScore]] pattern applied to the IVF
   * model): the k centroids are policy-sized, so shipping them as
   * literals turns assignment into a pure codegen'd expression — no
   * join, no aggregation, streaming-safe. Returns the `probes` nearest
   * cell ids (ascending by similarity; the hard cell is LAST), chosen by
   * exactly [[ivfAssign]]'s (cosine, -centroid_id) order, so the probe
   * SET matches the batch path's (StreamingSpec parity gate). Rows reach
   * at most `min(probes, k)` cells, mirroring ivfAssignMulti's k <
   * probes drop-out.
   */
  def probeCellsExpr(vec: Column, centroids: Seq[(Long, Seq[Double])],
                     probes: Int): Column = {
    require(centroids.nonEmpty, "probeCellsExpr needs at least one centroid")
    require(probes >= 1, s"probes must be at least 1, got $probes")
    // the same NearestCells expression the batch path compiles — parity
    // by construction, and no k-branch struct-sort plan (the r16 form
    // built k literal struct branches; at k in the thousands that blows
    // past codegen method limits into interpreted evaluation)
    graft.functions.expressions.GraftExpressions.nearestCells(vec,
      new graft.functions.expressions.CentroidSet(
        centroids.map(_._1).toArray, centroids.map(_._2.toArray).toArray),
      probes)
  }

  /**
   * Lloyd-refined IVF centroids (k-means on cosine geometry): seed with a
   * deterministic hash-ordered corpus sample, then alternate assignment
   * ([[ivfAssign]] — centroids broadcast, corpus never shuffled for the
   * join) and re-estimation (`groupBy cell` + single-pass
   * `Aggregators.VectorMean`, one (lane-sums, count) buffer per cell per
   * partition — the per-iteration shuffle moves k partial buffers per
   * partition, not vectors) for `iters` rounds. Each round's k-row centroid
   * table is materialized with lineage truncation and tracked in
   * [[OpCache]] (release after use). Cells that lose all members drop out
   * (k can shrink — standard Lloyd behavior without re-seeding). Trained
   * centroids materially beat a raw sample on cell balance, which is what
   * IVF recall at fixed nProbe depends on (fixture: size spread 68–98 →
   * 78–87 after 2 rounds). The default stops at 2 rounds: on
   * near-uniform data recall is not monotonic in Lloyd rounds (later
   * rounds re-fit cell boundaries to noise), and the balance gain is
   * essentially complete after 2 — measured in SimilaritySpec's
   * trained-vs-sampled recall gate.
   */
  def trainCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                     k: Int, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val vmean = udaf(graft.functions.Aggregators.VectorMean,
      ExpressionEncoder[Seq[Float]]())
    // every round's centroid table is k rows by policy (the CentroidSet
    // artifact class), so it materializes as a DRIVER-LOCAL relation:
    // one collect per round instead of the r18 RDD persist + count, and
    // every consumer — [[collectCentroids]]'s collect, probe-side
    // broadcasts — then runs ZERO further Spark jobs (LocalTableScan
    // executes driver-side; the r19 profile measured 2 jobs/round plus
    // ~45 ms of driver planning per job on the old path). The cap stays
    // a loud guard against a data-sized miswire.
    val cap = math.max(k, 1024)
    // hash order = deterministic pseudo-random sample, decorrelated from id
    // assignment order; TakeOrderedAndProject ships only k rows
    var cents = OpCache.materializeLocal(corpus
      .select(col(idCol).as("centroid_id"), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k), cap)
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(corpus, cents, vecCol, idCol)
      cents = OpCache.materializeLocal(assigned
        .groupBy(col("cell").as("centroid_id"))
        .agg(vmean(col(vecCol)).as("m"))
        .select(col("centroid_id"),
          transform(col("m"), x => x.cast("float")).as(vecCol)), cap)
    }
    cents
  }

  /**
   * IVF ANN top-k: corpus vectors are coarse-quantized into centroid cells
   * ([[ivfAssign]]); each query probes its `nProbe` nearest cells and scores
   * only the vectors inside them. The scan shrinks by ~cells/nProbe; recall
   * depends on centroid quality (pinned vs [[bruteForceTopK]] in tests). At
   * 100 TB the assigned corpus is written partitioned by `cell`, so the
   * probe join becomes partition pruning at the parquet scan — only the
   * probed cells are ever read.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              vecCol: String, idCol: String, k: Int, nProbe: Int = 2,
              includeSelf: Boolean = false): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, vecCol, idCol)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cv"), col("cell"))
    val c = centroids.select(col("centroid_id"), col(vecCol).as("centv"))
    // each query's nProbe nearest centroids → (query, probed cell) pairs
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(c))
      .select(col("query_id"), col("qv"), col("centroid_id"),
        cosine(col("qv"), col("centv")).as("ccos"))
      .withColumn("prank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("ccos").desc, col("centroid_id").asc)))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("qv"), col("centroid_id").as("cell"))
    val joined = assigned.join(broadcast(probes), Seq("cell"))
    val filtered =
      if (includeSelf) joined else joined.filter(col("corpus_id") =!= col("query_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("corpus_id").asc)
    filtered
      .select(col("query_id"), col("corpus_id"),
        cosine(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("query_id", "corpus_id") // a pair may appear via 2 cells
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * Margin-based bitext mining (Artetxe & Schwenk 2019, ACL,
   * arXiv:1811.01136 — the rule CCMatrix mined 4.5B parallel sentences
   * with, Schwenk et al. 2021): raw cosine cannot rank translation pairs
   * across languages because some sentences are "hubs" that are close to
   * EVERYTHING — the margin normalizes each pair's cosine by the mean of
   * both endpoints' k-NN cosines,
   * `margin(x,y) = cos(x,y) / ((avgk(x) + avgk(y)) / 2)`,
   * so a pair only scores high when the two are close RELATIVE to their
   * own neighborhoods. Keeps each source's argmax-margin target at or
   * above `tau`; with `mutual` (the paper's "max" strategy hardened to
   * forward-backward agreement) a pair survives only if the target also
   * picks that source — the high-precision mode a mined training corpus
   * wants.
   *
   * Takes a SCORED candidate frame (src_id, tgt_id, cos) like
   * [[graft.operators.Curate.hardNegatives]]: the q176 gate feeds the
   * exact all-pairs tier so the DuckDB oracle can recompute everything;
   * production feeds a shortlist ([[lshTopK]] / [[ivfTopK]] / the
   * assigned-store within-cell pairs, with lists comfortably above k) —
   * margins only need each endpoint's OWN top-k, which any honest
   * shortlist contains. That claim is GATED by q188, which mines off
   * the cell-bucketed store shortlist and pins planted-translation
   * recovery, mined-set recall, and the spurious bound against this
   * exact tier. Windows partition by the pair
   * endpoints over candidate-sized input; nothing touches the corpus.
   *
   * Output: (src_id, tgt_id, cos, margin) for surviving pairs. All
   * ranks tie-break on the partner id, so equal margins mine
   * deterministically in both engines.
   */
  def marginMine(scored: DataFrame, srcCol: String, tgtCol: String,
                 cosCol: String, k: Int, tau: Double,
                 mutual: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    def avgk(side: String) = scored
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(side)).orderBy(col(cosCol).desc,
          col(if (side == srcCol) tgtCol else srcCol))))
      .filter(col("__r") <= k)
      .groupBy(col(side)).agg(avg(col(cosCol)).as(s"__avg_$side"))
    val withMargin = scored
      .join(avgk(srcCol), Seq(srcCol))
      .join(avgk(tgtCol), Seq(tgtCol))
      .withColumn("margin", col(cosCol) /
        ((col(s"__avg_$srcCol") + col(s"__avg_$tgtCol")) / 2))
    val fwd = withMargin
      .withColumn("__fr", row_number().over(
        Window.partitionBy(col(srcCol))
          .orderBy(col("margin").desc, col(tgtCol))))
    val picked =
      if (!mutual) fwd.filter(col("__fr") === 1)
      else fwd
        .withColumn("__br", row_number().over(
          Window.partitionBy(col(tgtCol))
            .orderBy(col("margin").desc, col(srcCol))))
        .filter(col("__fr") === 1 && col("__br") === 1)
    picked.filter(col("margin") >= tau)
      .select(col(srcCol), col(tgtCol), col(cosCol), col("margin"))
  }
}
