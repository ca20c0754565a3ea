package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/**
 * Corpus-profiling aggregates for training-data curation — the document
 * statistics that need aggregation (unlike the per-row column functions in
 * [[graft.functions.TextFunctions]]). North-star operators: the reference
 * has no text analytics (any such logic would be user Python in a step
 * handler, `/root/reference/README.markdown:84-85`).
 */
object TextProfile {

  /**
   * Gopher-style n-gram repetition profile (Rae et al. 2021, "Scaling
   * Language Models", App. A1.1 repetition filters — public): per document,
   * the fraction of n-gram occurrences that are repeats
   * (`dup_{n}gram_frac`) and the fraction claimed by the single most
   * frequent n-gram (`top_{n}gram_frac`). High values flag the
   * boilerplate/spam documents a curation pipeline drops before training.
   *
   * Distributed shape: explode grams → (id, gram) counts → per-doc
   * aggregate. Both shuffles move (id, gram/count) pairs — document text
   * never leaves its scan partition, so the operator is linear in corpus
   * size and safe at 100 TB. Short docs (≤ n tokens) collapse to one
   * whole-text shingle (the [[TextFunctions.shingles]] edge), scoring
   * dup 0 / top 1.
   *
   * For the keep/drop FILTER at the paper's published thresholds (its
   * character-fraction units plus the duplicate-LINE rules), use
   * [[TextFunctions.repetitionStats]] / `gopherRepetitionKeep` (q162):
   * shuffle-free per-row column expressions — the cheaper shape when
   * only the decision is needed.
   */
  def repetitionScores(df: DataFrame, textCol: String, idCol: String,
                       n: Int): DataFrame = {
    val grams = df.select(col(idCol),
      explode(TextFunctions.shingles(col(textCol), n)).as("g"))
    val counts = grams.groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col(idCol))
      .agg(
        round(sum(when(col("c") > 1, col("c")).otherwise(0L))
          .cast("double") / sum(col("c")), 4).as(s"dup_${n}gram_frac"),
        round(max(col("c")).cast("double") / sum(col("c")), 4)
          .as(s"top_${n}gram_frac"))
  }

  /**
   * Benchmark-decontamination report: for each training document, the
   * number of distinct word n-grams it shares with the evaluation corpus —
   * the standard test-set-contamination check run before training (n-gram
   * overlap decontamination as published with GPT-3/PaLM/Llama). Emits
   * only contaminated docs (n_shared ≥ 1); threshold/drop downstream.
   *
   * Scale shape: the eval gram set (distinct, small — eval corpora are
   * thousands of docs, not billions) builds once and the join is an equi
   * semi-join on the gram, which Spark broadcasts when it fits; training
   * grams stream partition-parallel and only (id, gram) pairs shuffle. At
   * extreme eval sizes swap the gram string for its 8-byte xxhash64 on
   * both sides.
   */
  def contaminationReport(train: DataFrame, eval: DataFrame, textCol: String,
                          idCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol),
      explode(array_distinct(
        TextFunctions.shingles(col(textCol), n))).as("g"))
    val evalGrams = grams(eval).select(col("g")).distinct()
    grams(train)
      .join(evalGrams, Seq("g"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared")) // per-doc grams are distinct
  }

  /**
   * Source-overlap audit: pairwise distinct-n-gram Jaccard between the
   * corpus's SOURCES — the source×source companion to
   * [[contaminationReport]]'s train-vs-eval check. Near-identical
   * sources (mirror crawls, re-scrapes, syndication networks) surface
   * as high-Jaccard pairs before any per-doc dedup runs, telling a
   * curation pipeline which source pairs to cross-dedup first. Output:
   * one row per unordered source pair (src_a < src_b) with both gram
   * counts, the shared count, and Jaccard — zero-overlap pairs
   * included, so the matrix is complete and deterministic.
   *
   * Scale shape: sources are catalog-sized (tens to thousands), not
   * data-sized, so the output is tiny. The work is the distinct
   * (source, gram) set, which aggregates map-side and is keyed on two
   * independent xxhash64 lanes (~128 bits, the [[bigramPerplexity]]
   * discipline) so gram STRINGS never shuffle; the cross-source
   * equi-join moves 24-byte lane rows, and the |sources|² pair frame
   * is the deliberate tiny non-equi join, never the corpus.
   */
  def sourceOverlap(df: DataFrame, textCol: String, srcCol: String,
                    n: Int = 3): DataFrame = {
    val grams = OpCache.track(df
      .select(col(srcCol).cast("string").as("src"),
        explode(array_distinct(
          TextFunctions.shingles(col(textCol), n))).as("g"))
      .select(col("src"), xxhash64(col("g")).as("k1"),
        xxhash64(col("g"), lit(1L)).as("k2"))
      .distinct()
      // read by the per-source counts AND both sides of the pair join
      .persist())
    val counts = grams.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
    val shared = grams.alias("l").join(grams.alias("r"),
        col("l.k1") === col("r.k1") && col("l.k2") === col("r.k2") &&
        col("l.src") < col("r.src"))
      .groupBy(col("l.src").as("src_a"), col("r.src").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    // all ordered pairs from the |sources|-row counts frame: a
    // deliberate catalog-sized non-equi join, so zero-overlap pairs
    // keep their row instead of silently vanishing
    val pairs = counts
      .select(col("src").as("src_a"), col("n_grams").as("grams_a"))
      .join(counts.select(col("src").as("src_b"),
        col("n_grams").as("grams_b")), col("src_a") < col("src_b"))
    pairs.join(shared, Seq("src_a", "src_b"), "left_outer")
      .select(col("src_a"), col("src_b"), col("grams_a"), col("grams_b"),
        coalesce(col("shared"), lit(0L)).as("shared"),
        round(coalesce(col("shared"), lit(0L)).cast("double") /
            (col("grams_a") + col("grams_b") -
              coalesce(col("shared"), lit(0L))), 4)
          .as("jaccard"))
  }

  /**
   * One-pass heavy n-grams ([[graft.functions.Aggregators.MisraGries]]):
   * the ≤`capacity` most frequent n-grams with their guaranteed
   * lower-bound counts — the fixed-memory answer to "what boilerplate
   * phrases dominate this corpus" (the detection side of C4-style
   * boilerplate removal). At 100 TB an exact `groupBy(gram).count`
   * shuffles the ENTIRE vocabulary; this runs one partial+final
   * aggregation whose shuffle payload is a single ≤capacity-entry map
   * per partition, with the q145-gated guarantee: every gram with true
   * count > N/(capacity+1) is present and each reported count
   * underestimates by at most N/(capacity+1).
   */
  def heavyNgrams(df: DataFrame, textCol: String, n: Int,
                  capacity: Int): DataFrame = {
    import df.sparkSession.implicits._
    val grams = df
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("g"))
      .as[String]
    grams
      .select(graft.functions.Aggregators.MisraGries(capacity)
        .toColumn.name("mg"))
      .select(explode(col("mg")).as(Seq("gram", "est_count")))
  }

  /**
   * Corpus-wide boilerplate phrase set, detected with the one-pass
   * Misra–Gries summary and CONFIRMED exact — the bridge between
   * [[heavyNgrams]] (detection) and a deterministic removal decision.
   * Returns the n-grams whose EXACT corpus-wide occurrence count is ≥
   * `minCount`, found without ever shuffling the vocabulary:
   *
   *  1. one MG pass yields ≤ `capacity` candidates (bounded driver
   *     artifact, the collected-model discipline of the DSIR ratios);
   *  2. one confirm pass counts ONLY the candidates exactly (the
   *     non-candidates collapse into a single overflow group), also
   *     producing the total gram count N.
   *
   * Determinism contract: `minCount > N/(capacity+1)` is REQUIRED —
   * above that threshold the MG guarantee makes every qualifying gram a
   * candidate, so the confirmed set equals {g : exact(g) ≥ minCount}
   * regardless of partitioning (the q150 oracle recomputes it from
   * exact counts alone). Below it the detected set would depend on
   * partition layout; the operator refuses loudly rather than return a
   * nondeterministic phrase list. The empty shingle of a blank document
   * is never a phrase.
   */
  def boilerplatePhrases(df: DataFrame, textCol: String, n: Int,
                         capacity: Int, minCount: Long): Seq[String] = {
    import df.sparkSession.implicits._
    val candidates = heavyNgrams(df, textCol, n, capacity)
      .select(col("gram")).as[String].collect().toSeq
    if (candidates.isEmpty) return Seq.empty
    val confirm = df
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("g"))
      .groupBy(when(col("g").isInCollection(candidates), col("g")).as("g"))
      .agg(count(lit(1)).as("c"))
      .collect()
    val total = confirm.map(_.getLong(1)).sum
    val err = total / (capacity + 1)
    require(minCount > err,
      s"boilerplatePhrases: minCount ($minCount) must exceed " +
        s"N/(capacity+1) = $err for a deterministic phrase set — " +
        "raise minCount or capacity")
    confirm.filter(r => !r.isNullAt(0) && r.getString(0).nonEmpty &&
        r.getLong(1) >= minCount)
      .map(_.getString(0)).toSeq.sorted
  }

  /** Token spans covered by any occurrence of the given phrases — the
    * span frame [[graft.operators.Dedup.stripSpans]] consumes: (idCol,
    * span_start, span_end), token-indexed, [[TextFunctions.shingles]]'s
    * window semantics exactly (sliding n-windows; a ≤n-token document
    * is one whole-text window). Pure per-row codegen'd expressions —
    * the phrase list is a literal array, so the detection stage adds
    * ZERO shuffles to the plan. */
  def phraseSpans(df: DataFrame, textCol: String, idCol: String, n: Int,
                  phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phraseSpans: empty phrase list")
    val phr = array(phrases.map(lit): _*)
    val toks = TextFunctions.tokens(col(textCol))
    val nTok = size(toks)
    val positions =
      when(nTok === 0, array().cast("array<int>"))
        .when(nTok <= n,
          when(array_contains(phr, array_join(toks, " ")),
            array(lit(0))).otherwise(array().cast("array<int>")))
        .otherwise(filter(sequence(lit(0), nTok - n),
          i => array_contains(phr,
            array_join(slice(toks, i + 1, lit(n)), " "))))
    df.select(col(idCol), nTok.as("__nt"), explode(positions).as("__p"))
      .select(col(idCol), col("__p").as("span_start"),
        when(col("__nt") <= n, col("__nt"))
          .otherwise(col("__p") + n).as("span_end"))
  }

  /**
   * C4-style boilerplate removal, composed end-to-end (the q130
   * composition applied to q145's detection): detect the corpus's heavy
   * n-grams one-pass ([[boilerplatePhrases]] — MG summary + exact
   * confirm, deterministic above the MG error bound), then strip every
   * occurrence from every document
   * ([[phraseSpans]] → [[graft.operators.Dedup.stripSpans]]). Output:
   * (idCol, text_clean, n_tokens, n_kept), one row per input document
   * (q150 oracle-gated: the rebuilt text itself is recomputed from
   * exact counts in DuckDB).
   *
   * Scale shape: two gram passes that shuffle one bounded summary / one
   * candidate-count row set, a ≤capacity driver artifact, and a pure
   * map-side strip — document text never enters any exchange.
   */
  def stripBoilerplate(df: DataFrame, textCol: String, idCol: String,
                       n: Int, capacity: Int, minCount: Long): DataFrame = {
    val phrases = boilerplatePhrases(df, textCol, n, capacity, minCount)
    if (phrases.isEmpty)
      Dedup.stripSpans(df,
        df.select(col(idCol), lit(0).as("span_start"), lit(0).as("span_end"))
          .limit(0), textCol, idCol)
    else
      Dedup.stripSpans(df, phraseSpans(df, textCol, idCol, n, phrases),
        textCol, idCol)
  }

  /**
   * Per-source corpus data card — the summary table a curation run
   * publishes next to the corpus (Gebru et al. 2021 "Datasheets for
   * Datasets", Bender & Friedman 2018 "Data Statements"): document and
   * token volumes, exact-duplicate rate, language spread, and quality
   * profile, one row per source. Every number is exactly recomputable
   * (full DuckDB oracle) — the card is the artifact downstream teams
   * trust, so it must not be a sketch unless labeled as one.
   *
   * Scale shape: one pass — per-row metrics (token count, quality score,
   * fingerprint) are codegen'd map work; the groupBy aggregates
   * partial+final to |sources| rows. The two DISTINCT aggregates
   * (fingerprints, langs) make Spark Expand the input ×3 before the
   * exchange, but the shuffled payload is (source, 32-byte fp / lang
   * tag) — never text. At extreme corpus sizes swap the exact distincts
   * for `approx_count_distinct` (q44's HLL tier) and label the card
   * approximate.
   */
  def corpusReport(df: DataFrame, textCol: String, srcCol: String,
                   langCol: String): DataFrame = {
    val txt = col(textCol)
    df.select(col(srcCol).cast("string").as("source"),
        col(langCol).cast("string").as("lang"),
        TextFunctions.tokenCount(txt).cast("long").as("n_tok"),
        TextFunctions.qualityScore(txt).as("q"),
        TextFunctions.fingerprint(txt).as("fp"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_uniq"),
        round(lit(1.0) -
          countDistinct(col("fp")).cast("double") / count(lit(1)), 4)
          .as("dup_frac"),
        sum(col("n_tok")).as("total_tokens"),
        round(avg(col("n_tok")), 2).as("avg_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        round(avg(col("q")), 4).as("avg_quality"),
        round(avg(when(col("q") >= 0.8, 1.0).otherwise(0.0)), 4)
          .as("hi_quality_frac"))
  }

  /**
   * [[corpusReport]] extended with the two columns a datasheet consumer
   * asks for next (Gebru et al. 2021 §3.4's redundancy and
   * contamination disclosures): per-source NEAR-duplicate rate and
   * eval-CONTAMINATION rate.
   *
   *  - `near_dup_frac`: fraction of the source's docs appearing in ≥ 1
   *    pair of `nearDupPairs` — a tier-agnostic (id_a, id_b) frame, so
   *    the caller picks the tier: in production serve it off the LSH
   *    ingest store ([[graft.operators.Dedup.minhashLshAgainstStore]] /
   *    [[graft.operators.Dedup.minhashLsh]] — store-served composition
   *    DedupSpec-gated); the q151 gate feeds the exact n-gram-Jaccard
   *    tier ([[graft.operators.Dedup.jaccardSelfJoin]]) so the whole
   *    card stays exactly recomputable, the [[corpusReport]] discipline
   *    ("the card is the artifact downstream teams trust").
   *  - `contam_frac`: fraction of the source's docs sharing ≥ 1
   *    `minTokens`-token window with `eval` at any offset
   *    ([[graft.operators.Dedup.substringContamination]], q122's
   *    machinery).
   *
   * Scale shape: the base card's one pass, plus two id-only semi-joins
   * aggregated to |sources| rows — the expensive pair/window work
   * happens in the operators the caller already runs for dedup and
   * decontamination; the card just attributes their outputs per source.
   */
  def corpusReportExt(df: DataFrame, textCol: String, idCol: String,
                      srcCol: String, langCol: String,
                      nearDupPairs: DataFrame, eval: DataFrame,
                      minTokens: Int): DataFrame = {
    val base = corpusReport(df, textCol, srcCol, langCol)
    val ids = df.select(col(idCol).as("__id"),
      col(srcCol).cast("string").as("source"))
    val dupIds = nearDupPairs.select(col("id_a").as("__id"))
      .unionByName(nearDupPairs.select(col("id_b").as("__id"))).distinct()
    val nd = ids.join(dupIds, Seq("__id"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("__nd"))
    val contamIds = Dedup.substringContamination(df, eval, textCol, idCol,
      minTokens).select(col(idCol).as("__id"))
    val ct = ids.join(contamIds, Seq("__id"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("__ct"))
    base
      .join(nd, Seq("source"), "left")
      .join(ct, Seq("source"), "left")
      .withColumn("near_dup_frac",
        round(coalesce(col("__nd"), lit(0L)).cast("double") /
          col("n_docs"), 4))
      .withColumn("contam_frac",
        round(coalesce(col("__ct"), lit(0L)).cast("double") /
          col("n_docs"), 4))
      .drop("__nd", "__ct")
  }

  /**
   * CCNet-style LM quality score (Wenzek et al. 2020, "CCNet: Extracting
   * High Quality Monolingual Datasets from Web Crawl Data" — public): an
   * add-one-smoothed bigram language model is trained on a REFERENCE slice
   * (CCNet uses Wikipedia; pass any clean corpus) and every document is
   * scored by per-bigram cross-entropy and perplexity under it — low
   * perplexity ≈ reference-like prose, high ≈ boilerplate/gibberish; a
   * curation pipeline thresholds or buckets on it (CCNet's head/middle/
   * tail). P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁)+V), V = reference vocab size.
   *
   * Distributed shape: the model is two count tables bounded by the
   * reference VOCABULARY (not its size) — unigram counts and observed-
   * bigram counts — built with map-side-combined aggs; scoring explodes
   * each document's bigrams and equi-joins the counts. The join keys are
   * two independent xxhash64 lanes of the gram (~128 bits — the
   * [[Dedup.removeDuplicateSpans]] trick), NOT the gram string — with no
   * semantic change (collision odds at 10¹¹ grams are negligible). The
   * measured win (SURVEY §6, 50k docs, realistic vocab) is CPU, not
   * bytes: −18% wall time from fixed-width key partitioning/compare in
   * the sort-merge stages, while COMPRESSED shuffle bytes grow ~11%
   * because Zipf-distributed gram strings lz4-compress and random hash
   * lanes do not. Gram strings never leave their scan. Model tables carry
   * no broadcast hint: AQE converts small ones at runtime and leaves
   * corpus-scale references shuffled. Docs with fewer than 2
   * tokens have no bigram and are emitted with n_bigrams=0 and NULL
   * scores rather than dropped (corpus accounting keeps rows).
   */
  def bigramPerplexity(docs: DataFrame, reference: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    def toks(df: DataFrame) = df.withColumn("__toks",
      TextFunctions.tokens(col(textCol)))
    def bigrams(df: DataFrame) = toks(df)
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol), explode(
        TextFunctions.shingles(col(textCol), 2)).as("g"))
    // hash at the explode site: strings die inside their own scan stage,
    // so the model-build exchanges are hash-keyed too (grouping by the
    // 128-bit pair ≡ grouping by the string at negligible collision odds)
    def hpair(c: org.apache.spark.sql.Column, p: String) =
      Seq(xxhash64(c).as(s"${p}1"), xxhash64(c, lit(1L)).as(s"${p}2"))
    val uniH = toks(reference)
      .select(explode(col("__toks")).as("w"))
      .select(hpair(col("w"), "u"): _*)
      .groupBy(col("u1"), col("u2")).agg(count(lit(1)).as("c1"))
    val biH = bigrams(reference)
      .select(hpair(col("g"), "b"): _*)
      .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("c2"))
    // vocab size rides an in-plan 1-row broadcast, no driver action
    val vocab = uniH.agg(count(lit(1)).as("__v"))
    val scored = bigrams(docs)
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .select(Seq(col(idCol)) ++ hpair(col("g"), "b") ++
        hpair(col("w1"), "u"): _*)
      .join(biH, Seq("b1", "b2"), "left")
      .join(uniH, Seq("u1", "u2"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("__v"))).as("logp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(col("logp")), 4).as("cross_entropy"),
        round(exp(-avg(col("logp"))), 2).as("perplexity"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  /**
   * Interpolated Kneser–Ney bigram perplexity (Kneser & Ney 1995; Chen &
   * Goodman 1998's interpolated form with fixed discount D=0.75) — the
   * smoother CCNet's actual KenLM models use, upgrading
   * [[bigramPerplexity]]'s add-one baseline: instead of flattening all
   * unseen mass uniformly, each context keeps its own discounted mass
   * and redistributes it by CONTINUATION probability (how many distinct
   * contexts a word follows — "francisco" is frequent but follows almost
   * nothing, so it gets little backoff mass). Per bigram (w1, w2):
   *
   *   P = max(c(w1 w2) − D, 0)/ctx(w1) + (D·N1+(w1·)/ctx(w1))·Pc(w2)
   *   Pc(w2) = (N1+(·w2) + 1)/(B + V + 1)   — continuation probability,
   *            add-one floored so unseen words keep P > 0 (the
   *            deterministic OOV contract; pure KN gives them zero)
   *   unseen context w1 → P = Pc(w2)
   *
   * where ctx(w1) = reference bigrams starting with w1, N1+(w1·)/N1+(·w2)
   * = distinct continuations/contexts, B = distinct reference bigrams,
   * V = reference vocabulary. All model quantities are integer counts, so
   * both engines rebuild identical doubles from identical ratios (q103's
   * proven posture) — and per-document cross-entropy folds those doubles
   * in BIGRAM-POSITION order (a window, the q110/graphRank ordered-fold
   * discipline; the oracle folds in the same order), so the sum is
   * bitwise-deterministic across engines and partitionings, not just
   * rounding-absorbed. Same scale shape as [[bigramPerplexity]]: model
   * tables are vocab-bounded and hash-keyed (gram strings die at their
   * scan), document text never shuffles, scoring is three left joins +
   * one 1-row broadcast + one per-document window over (id, pos, logp)
   * triples.
   */
  def knBigramPerplexity(docs: DataFrame, reference: DataFrame,
                         textCol: String, idCol: String,
                         discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    import org.apache.spark.sql.expressions.Window
    def toks(df: DataFrame) = df.withColumn("__toks",
      TextFunctions.tokens(col(textCol)))
    // posexplode keeps each bigram's in-document POSITION: the scoring
    // fold below runs in position order (the q110/graphRank ordered-fold
    // discipline), so per-document cross-entropy is deterministic across
    // partitionings AND bitwise-identical to the oracle's replay, which
    // folds in the same order — an unordered avg(logp) was last-ulp
    // partition-order-dependent. Model builders ignore the position.
    def bigrams(df: DataFrame) = toks(df)
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol), posexplode(
        TextFunctions.shingles(col(textCol), 2)).as(Seq("__pos", "g")))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
    def hpair(c: org.apache.spark.sql.Column, p: String) =
      Seq(xxhash64(c).as(s"${p}1"), xxhash64(c, lit(1L)).as(s"${p}2"))

    val refBg = bigrams(reference)
      .select(hpair(col("g"), "b") ++ hpair(col("w1"), "x") ++
        hpair(col("w2"), "y"): _*)
    val biH = refBg.groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("c2"))
    val ctxH = refBg.groupBy(col("x1"), col("x2"))
      .agg(count(lit(1)).as("ctxc"),
        countDistinct(col("y1"), col("y2")).as("n1p"))
    val contH = refBg.groupBy(col("y1"), col("y2"))
      .agg(countDistinct(col("x1"), col("x2")).as("cont1"))
    // scalar frame: B (distinct bigrams) and V (vocabulary) ride one
    // 1-row broadcast — no driver action
    val scal = biH.agg(count(lit(1)).as("__b")).crossJoin(
      toks(reference).select(explode(col("__toks")).as("w"))
        .select(hpair(col("w"), "u"): _*)
        .agg(countDistinct(col("u1"), col("u2")).as("__v")))

    val pc = (coalesce(col("cont1"), lit(0L)) + 1).cast("double") /
      (col("__b") + col("__v") + 1)
    val d = lit(discount)
    val p = when(col("ctxc").isNull, pc).otherwise(
      greatest(coalesce(col("c2"), lit(0L)).cast("double") - d, lit(0.0)) /
        col("ctxc") + (d * col("n1p") / col("ctxc")) * pc)
    val perDoc = Window.partitionBy(col(idCol))
    val scored = bigrams(docs)
      .select(Seq(col(idCol), col("__pos")) ++ hpair(col("g"), "b") ++
        hpair(col("w1"), "x") ++ hpair(col("w2"), "y"): _*)
      .join(biH, Seq("b1", "b2"), "left")
      .join(ctxH, Seq("x1", "x2"), "left")
      .join(contH, Seq("y1", "y2"), "left")
      .crossJoin(broadcast(scal))
      .select(col(idCol), col("__pos"), log(p).as("logp"))
      .withColumn("__cum", sum(col("logp")).over(perDoc
        .orderBy(col("__pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(perDoc))
      .withColumn("__rn",
        row_number().over(perDoc.orderBy(col("__pos").desc)))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__n").as("n_bigrams"),
        round(-col("__cum") / col("__n"), 4).as("cross_entropy"),
        round(exp(-col("__cum") / col("__n")), 2).as("perplexity"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }
}
