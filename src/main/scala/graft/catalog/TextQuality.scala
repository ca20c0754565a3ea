package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

import Shared._

/** Text analysis and quality signals: token stats, language id, the
  * composite quality score, Gopher/C4/CCNet rules, repetition,
  * perplexity, boilerplate stripping and corpus reports. */
object TextQuality extends Family {

  /** Struct field names of [[TextFunctions.repetitionStats]] in struct
    * order — q162's output columns and the oracle generator's select
    * list derive from ONE list so the two can never drift. */
  private val repetitionFields: Seq[String] =
    Seq("n_lines", "dup_line_frac", "dup_line_char_frac",
      "n_paras", "dup_para_frac", "dup_para_char_frac") ++
      TextFunctions.topGramKs.map(k => s"top_${k}gram_char_frac") ++
      TextFunctions.dupGramKs.map(k => s"dup_${k}gram_char_frac")

  /** q165's output stats, in [[TextFunctions.gopherQualityStats]]' struct
    * order — shared between the query and its oracle SELECT (the
    * repetitionFields discipline). */
  private val gopherQualityFields = Seq("n_words", "mean_word_len",
    "hash_word_ratio", "ellipsis_word_ratio", "bullet_line_frac",
    "ellipsis_line_frac", "alpha_word_frac", "stop_hits")

  /** q167's 5-sentence decoration block — one Scala constant
    * interpolated into BOTH engines (no internal quotes, so it embeds
    * in a single-quoted SQL literal verbatim). */
  private val c4FiveSentences =
    "Alpha beta gamma here. Delta epsilon follows now. " +
      "Zeta eta theta next. Iota kappa lambda then. Mu nu xi closes this."

  /** Per-language score fragment (≡ TextFunctions.langScore). */
  private def langScoreSql(lang: String): String =
    s"len(list_intersect(list_distinct($toksSql), ${swList(lang)}))"

  /** argmax-with-priority CASE (≡ TextFunctions.langId tie-breaking). */
  private def langCaseSql: String = {
    val langs = TextFunctions.langOrder
    val greatest = s"greatest(${langs.map(l => s"s_$l").mkString(",")})"
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val laterLangs = langs.drop(i + 1)
      val cond = laterLangs.map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"CASE WHEN $greatest <= 0 THEN 'und' $cases ELSE '${langs.last}' END"
  }

  query("q29_token_stats") { (s, dir) =>
    val txt = col("text")
    parallelize(t(s, dir, "documents"))
      .select(col("doc_id"),
        TextFunctions.tokenCount(txt).cast("long").as("n_tokens"),
        TextFunctions.bpeTokenCount(txt).cast("long").as("n_bpe_tokens"),
        length(concat_ws(" ", TextFunctions.tokens(txt))).cast("long").as("n_chars_norm"),
        TextFunctions.fingerprint(txt).as("fp"))
      .orderBy(col("doc_id"))
  } {
    s"""SELECT doc_id,
       | CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len($toksSql) END AS BIGINT) AS n_tokens,
       | CAST(len(regexp_extract_all(coalesce(text,''),
       |   '(''(?:s|d|m|t|ll|ve|re))|([\\p{L}]+)|([0-9]{1,3})|([^\\s\\p{L}0-9]+)')) AS BIGINT) AS n_bpe_tokens,
       | CAST(length($normSql) AS BIGINT) AS n_chars_norm,
       | md5($normSql) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  query("q30_lang_id") { (s, dir) =>
    parallelize(t(s, dir, "documents"))
      .select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        TextFunctions.langScore(col("text"), "en").cast("long").as("s_en"))
      .orderBy(col("doc_id"))
  } {
    val scores = TextFunctions.langOrder
      .map(l => s"${langScoreSql(l)} AS s_$l").mkString(", ")
    s"""SELECT doc_id, $langCaseSql AS lang_pred, CAST(s_en AS BIGINT) AS s_en
       |FROM (SELECT doc_id, $scores FROM documents) x
       |ORDER BY doc_id""".stripMargin
  }

  query("q31_quality_score") { (s, dir) =>
    val txt = col("text")
    parallelize(t(s, dir, "documents"))
      .select(col("doc_id"),
        round(TextFunctions.punctRatio(txt), 4).as("punct_ratio"),
        round(TextFunctions.alphaRatio(txt), 4).as("alpha_ratio"),
        round(TextFunctions.stopwordRatio(txt), 4).as("stopword_ratio"),
        round(TextFunctions.meanWordLen(txt), 4).as("mean_word_len"),
        TextFunctions.qualityScore(txt).as("quality"))
      .orderBy(col("doc_id"))
  } {
    s"""SELECT doc_id,
       | round(punct_ratio, 4) AS punct_ratio,
       | round(alpha_ratio, 4) AS alpha_ratio,
       | round(stopword_ratio, 4) AS stopword_ratio,
       | round(mean_word_len, 4) AS mean_word_len,
       | $qualityExprSql AS quality
       |FROM (${qualityRawSql("doc_id")}) raw
       |ORDER BY doc_id""".stripMargin
  }

  /** Document chunking for training pipelines: overlapping token windows
    * (size 32, stride 24) as 1→N rows with chunk index, token count, and
    * reassembled text — the standard long-document → context-window prep. */
  query("q74_chunking") { (s, dir) =>
    val size32 = 32
    val stride = 24
    parallelize(t(s, dir, "documents"))
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        (lit(1) + ceil(greatest(lit(0), col("n") - size32).cast("double") / stride))
          .cast("int"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("start", col("chunk_idx") * stride + 1)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(size32), col("n") - col("start") + 1).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("start"), lit(size32))).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  } {
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(lower(coalesce(text, ''))) = ''
       |      THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents),
       |n AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) > 0),
       |c AS (SELECT *, CAST(1 + ceil(greatest(0, n - 32) / 24.0) AS INT)
       |        AS n_chunks FROM n),
       |ch AS (SELECT doc_id, w, n, unnest(range(0, n_chunks)) AS chunk_idx
       |       FROM c)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(least(32, n - (chunk_idx * 24 + 1) + 1) AS BIGINT) AS n_tokens,
       |  array_to_string(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
       |    AS chunk_text
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Gopher-style 2-gram repetition filter scores over the corpus
    * (dup-occurrence and top-gram fractions) — the standard boilerplate/
    * spam signal a curation pipeline thresholds on. */
  query("q88_repetition_scores") { (s, dir) =>
    operators.TextProfile.repetitionScores(
        parallelize(t(s, dir, "documents")), "text", "doc_id", n = 2)
      .orderBy(col("doc_id"))
  } {
    s"""WITH tok AS (SELECT doc_id, $toksSql AS w FROM documents),
       |g AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
       |    ELSE [w[i] || ' ' || w[i+1] for i in range(1, len(w))] END AS gs
       |  FROM tok),
       |e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
       |c AS (SELECT doc_id, gram, count(*) AS c FROM e GROUP BY 1, 2)
       |SELECT doc_id,
       | round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c), 4)
       |   AS dup_2gram_frac,
       | round(max(c)::DOUBLE / sum(c), 4) AS top_2gram_frac
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Quality-percentile curation: keep the top half of each language by the
    * Gopher-ish quality score (deterministic doc_id tiebreak). */
  query("q93_quality_filter") { (s, dir) =>
    operators.Curate.topFractionPerGroup(
        parallelize(t(s, dir, "documents"))
          .withColumn("quality", TextFunctions.qualityScore(col("text"))),
        "lang", "quality", 0.5, "doc_id")
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy(col("doc_id"))
  } {
    s"""WITH q AS (SELECT doc_id, lang, $qualityExprSql AS quality
       |  FROM (${qualityRawSql("doc_id, lang")}) raw),
       |rk AS (SELECT doc_id, lang, quality,
       |  row_number() OVER (PARTITION BY lang
       |    ORDER BY quality DESC, doc_id) AS rk,
       |  count(*) OVER (PARTITION BY lang) AS n FROM q)
       |SELECT doc_id, lang, quality FROM rk
       |WHERE rk <= ceil(n * 0.5 - 1e-9) ORDER BY doc_id""".stripMargin
  }

  /** CCNet-style LM quality score: an add-one bigram model trained on the
    * English slice scores every document's cross-entropy/perplexity —
    * the standard head/middle/tail quality dial. The oracle recomputes
    * the smoothed model and both scores from the definition. */
  query("q103_perplexity") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    operators.TextProfile.bigramPerplexity(
        docs, docs.filter(col("lang") === "en"), "text", "doc_id")
      .orderBy(col("doc_id"))
  } {
    // add-one bigram LM over the en slice; the CASE guard mirrors
    // tokens('') = [] (toksSql alone yields [''] on empty text)
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
       |  FROM tok WHERE len(w) >= 2),
       |uni AS (
       |  SELECT u.w AS w, count(*) AS c1
       |  FROM (SELECT unnest(w) AS w FROM tok WHERE lang = 'en') u
       |  GROUP BY 1),
       |bi AS (SELECT g, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1),
       |v AS (SELECT count(*) AS v FROM uni),
       |sc AS (
       |  SELECT bg.doc_id,
       |    ln((coalesce(bi.c2, 0) + 1)::DOUBLE /
       |       (coalesce(uni.c1, 0) + v.v)) AS logp
       |  FROM bg LEFT JOIN bi USING (g)
       |  LEFT JOIN uni ON string_split(bg.g, ' ')[1] = uni.w
       |  CROSS JOIN v),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    round(-avg(logp), 4) AS cross_entropy,
       |    round(exp(-avg(logp)), 2) AS perplexity
       |  FROM sc GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  a.cross_entropy, a.perplexity
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** CCNet-style normalization (lowercase → NFKD accent strip → whitespace
    * collapse) via the native codegen `normalize_text` expression — the
    * standard dedup-preprocessing transform (Wenzek et al. 2020). The
    * fixture is ASCII so the oracle's `strip_accents` agrees exactly; the
    * unicode edges (accent strip, compatibility folds, combining marks)
    * are pinned in ExpressionsSpec. */
  query("q106_normalize_text") { (s, dir) =>
    parallelize(t(s, dir, "documents"))
      .select(col("doc_id"),
        TextFunctions.normalizeText(col("text")).as("norm_text"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
      .orderBy(col("doc_id"))
  } {
    // strip_accents ≡ the expression's NFKD+mark-strip on this ASCII
    // fixture; the unicode divergences (compatibility folds) are pinned
    // engine-side in ExpressionsSpec, not oracle-checked.
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(strip_accents(lower(coalesce(text, ''))),
      |                        '\s+', ' ', 'g')) AS norm_text
      |  FROM documents)
      |SELECT doc_id, norm_text, len(norm_text)::BIGINT AS n_chars_norm
      |FROM n ORDER BY doc_id""".stripMargin
  }

  /** fastText-style hashed linear quality classifier (Joulin et al. 2016):
    * unigram+bigram features → closed-form hashed weights → mean →
    * sigmoid, fused into ONE codegen'd pass by the native
    * `hashed_ngram_score` expression (no per-feature array, no HOF
    * lambda). The oracle recomputes the identical arithmetic from the
    * definition. Blank documents have no features → NULL score/accept. */
  query("q109_hash_classifier") { (s, dir) =>
    val toks = TextFunctions.tokens(col("text"))
    parallelize(t(s, dir, "documents"))
      .select(col("doc_id"),
        greatest(size(toks) * 2 - 1, lit(0)).cast("long").as("n_feats"),
        round(TextFunctions.hashedQualityScore(col("text")), 4).as("score"))
      .withColumn("accept", col("score") >= 0.5)
      .orderBy(col("doc_id"))
  } {
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, list_concat(w,
       |    list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])) AS feats
       |  FROM tok),
       |sc AS (
       |  SELECT doc_id, len(feats) AS n_feats,
       |    CASE WHEN len(feats) = 0 THEN NULL ELSE
       |      list_sum(list_transform(feats, t ->
       |        (list_sum(list_transform(range(1, len(t) + 1),
       |           i -> ascii(t[i]) * i)) % 997) / 997.0 - 0.5)) / len(feats)
       |    END AS m
       |  FROM f)
       |SELECT doc_id, n_feats::BIGINT AS n_feats,
       |  round(1.0 / (1.0 + exp(-4.0 * m)), 4) AS score,
       |  (round(1.0 / (1.0 + exp(-4.0 * m)), 4) >= 0.5) AS accept
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Curation pipeline with the stride-1 substring tier composed in
    * (q96's offset-robust variant, closing SURVEY §6's 2.4×-premium
    * policy loop): quality gate → exact dedup → duplicateSubstringSpans
    * → stripSpans — the oracle recomputes the whole composition
    * including the REBUILT text, so the spans→strip hand-off is
    * verified end-to-end, not just the span frame (q121) in
    * isolation. */
  query("q130_strip_pipeline") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val qualified = operators.Curate.topFractionPerGroup(
      docs.withColumn("quality", TextFunctions.qualityScore(col("text"))),
      "lang", "quality", 0.5, "doc_id")
    // NOT persisted (measured 1.08× with a persist on the r18 A/B —
    // caching the full-text frame costs more than recomputing the
    // quality window + exact dedup per reference at any tested SF)
    val deduped = Dedup.exact(qualified, "text", "doc_id")
    val spans = Dedup.duplicateSubstringSpans(deduped, "text", "doc_id",
      minTokens = 5)
    Dedup.stripSpans(deduped, spans, "text", "doc_id")
      .select(col("doc_id"), col("text_clean"), col("n_tokens"),
        col("n_kept"))
      .orderBy(col("doc_id"))
  } {
    // q130 recomputes the composed pipeline from first principles:
    // quality gate + exact dedup (q96's CTEs), the stride-1 duplicate
    // windows (q121's CTEs) over the SURVIVING corpus, then the strip
    // rebuild token-by-token — including the rebuilt text itself.
    s"""WITH qual AS (
       |  SELECT doc_id, lang, text, $qualityExprSql AS quality
       |  FROM (${qualityRawSql("doc_id, lang, text")}) raw),
       |rk AS (SELECT doc_id, lang, text, quality,
       |  row_number() OVER (PARTITION BY lang
       |    ORDER BY quality DESC, doc_id) AS rk,
       |  count(*) OVER (PARTITION BY lang) AS n FROM qual),
       |kept AS (SELECT doc_id, text FROM rk
       |  WHERE rk <= ceil(n * 0.5 - 1e-9)),
       |dedup AS (SELECT * FROM kept WHERE doc_id IN (
       |  SELECT min(doc_id) FROM kept GROUP BY md5($normSql))),
       |d2 AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split_regex(trim(coalesce(text, '')), '\\s+')
       |    END AS w
       |  FROM dedup),
       |win AS (
       |  SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos, w
       |  FROM d2 WHERE len(w) >= 5),
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
       |cov AS (SELECT DISTINCT doc_id,
       |  unnest(range(pos, pos + 5)) AS p FROM rem),
       |toks AS (SELECT doc_id, unnest(range(0, len(w))) AS p, w
       |  FROM d2 WHERE len(w) > 0),
       |tok2 AS (SELECT doc_id, p, w[p + 1] AS tok FROM toks),
       |keptt AS (
       |  SELECT t.doc_id, t.p, t.tok FROM tok2 t
       |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
       |  WHERE c.p IS NULL),
       |agg AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
       |    count(*) AS n_kept
       |  FROM keptt GROUP BY doc_id)
       |SELECT d2.doc_id,
       |  coalesce(a.text_clean, '') AS text_clean,
       |  CAST(len(d2.w) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
       |FROM d2 LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-source corpus data card: volumes, exact-dup rate, language
    * spread, quality profile — the datasheet table a curation run
    * publishes. One partial+final aggregation; the oracle recomputes
    * every column from the raw definitions. */
  query("q139_corpus_report") { (s, dir) =>
    operators.TextProfile.corpusReport(
        parallelize(t(s, dir, "documents")), "text", "source", "lang")
      .orderBy(col("source"))
  } {
    // q139 recomputes the whole data card from the raw definitions:
    // q31's quality components + composite, q28's md5 fingerprint, the
    // blank-doc n_tok contract, exact distinct counts per source.
    s"""WITH q AS (
       |  SELECT source, lang, n_tok, $qualityExprSql AS quality,
       |    md5($normSql) AS fp
       |  FROM (${qualityRawSql("source, lang, text")}) raw)
       |SELECT source,
       |  count(*) AS n_docs,
       |  count(DISTINCT fp)::BIGINT AS n_uniq,
       |  round(1.0 - count(DISTINCT fp)::DOUBLE / count(*), 4) AS dup_frac,
       |  sum(n_tok)::BIGINT AS total_tokens,
       |  round(avg(n_tok), 2) AS avg_tokens,
       |  count(DISTINCT lang)::BIGINT AS n_langs,
       |  round(avg(quality), 4) AS avg_quality,
       |  round(avg(CASE WHEN quality >= 0.8 THEN 1.0 ELSE 0.0 END), 4)
       |    AS hi_quality_frac
       |FROM q GROUP BY source ORDER BY source""".stripMargin
  }

  /** q145's verdicts over any document frame. The fixture's own trigram
    * counts all stay under N/(capacity+1) (at most 9 against ~400 at 500
    * docs), which left the summary empty at some partition counts, so a
    * footer is planted twice on every document IN-PLAN (q150's
    * planting): its three trigrams occur 2×|docs| times, about twice the
    * bound, and the recall clause and `mgRows.nonEmpty` test real heavy
    * hitters at any partition layout (PropertySpec runs 1, 4 and 8). */
  private[graft] def heavyNgramsGate(s: SparkSession,
                                     documents: DataFrame): DataFrame = {
    import s.implicits._
    val cap = 64
    val footer = " subscribe to our newsletter now"
    val docs = documents.select(
      concat(coalesce(col("text"), lit("")), lit(footer + footer)).as("text"))
    val grams = operators.OpCache.track(docs
      .select(explode(TextFunctions.shingles(col("text"), 3)).as("g"))
      .persist())
    val mgRows = operators.TextProfile.heavyNgrams(docs, "text", 3, cap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val err = grams.count() / (cap + 1)
    val exact = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val missed = exact.filter(col("cnt") > err)
      .filter(!col("g").isin(mgRows.map(_._1).toSeq: _*)).count()
    val bad = exact
      .join(mgRows.toSeq.toDF("g", "est"), Seq("g"))
      .filter(col("est") > col("cnt") || col("est") < col("cnt") - err)
      .count()
    Gate.verdict(s)(
      ("mg_estimates_within_bound", 0.0, bad == 0L && mgRows.nonEmpty),
      ("mg_heavy_recall", 1.0, missed == 0L))
  }

  /** Heavy-hitter n-gram gate ([[operators.TextProfile.heavyNgrams]],
    * q108 verdict pattern): the merged Misra–Gries summary must contain
    * EVERY trigram whose exact count exceeds N/(capacity+1) and report
    * only counts in [true − N/(capacity+1), true] — the mergeable-MG
    * guarantee checked in-plan against exact counts at fixture scale
    * (capacity 64 ≪ the fixture's trigram vocabulary, so evictions and
    * merge trims genuinely happen). Oracle pins the verdicts. */
  query("q145_heavy_ngrams") { (s, dir) =>
    heavyNgramsGate(s, parallelize(t(s, dir, "documents")))
  } {
    // q145 is a guarantee GATE (q108 pattern): the merged Misra–Gries
    // summary's recall and error bounds verified in-plan vs exact counts.
    """SELECT * FROM (VALUES
      |  ('mg_estimates_within_bound', CAST(0.0 AS DOUBLE), TRUE),
      |  ('mg_heavy_recall', CAST(1.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** Detected-boilerplate REMOVAL ([[operators.TextProfile.stripBoilerplate]]
    * — q145's detection composed into q130's strip): a deterministic
    * boilerplate sentence is planted on half the corpus IN-PLAN (the C4
    * scenario — a footer shared across a crawl — expressed so the oracle
    * can mirror it), the heavy-trigram phrases are detected one-pass
    * (Misra–Gries) and confirmed exact, and every occurrence is stripped.
    * FULL DuckDB oracle: the phrase set and the rebuilt text are both
    * recomputed from exact counts — the MG stage must change nothing
    * (the determinism contract boilerplatePhrases enforces). */
  query("q150_strip_boilerplate") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val planted = operators.OpCache.track(docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        trim(concat(coalesce(col("text"), lit("")),
          lit(" subscribe to our newsletter now"))))
        .otherwise(coalesce(col("text"), lit(""))).as("text"))
      .persist())
    // threshold well above the planted-phrase count's noise floor AND the
    // MG bound (N/(cap+1) ≈ 110 at 500 docs): 2/5 of the doc count
    val minCount = planted.count() * 2 / 5
    operators.TextProfile.stripBoilerplate(planted, "text", "doc_id",
        n = 3, capacity = 256, minCount = minCount)
      .orderBy(col("doc_id"))
  } {
    // q150 recomputes the whole boilerplate-removal composition from
    // exact counts: the planted footer, the stride-1 trigram windows
    // (whole-text window for short docs, shingles' contract), the
    // exact-count phrase cut (2/5 of the doc count, matching the
    // query's minCount), covered-position union, and the token-by-token
    // rebuild (q130's machinery). The MG detection stage must be
    // invisible here - that is the determinism contract.
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0
      |         THEN trim(coalesce(text, '') ||
      |                   ' subscribe to our newsletter now')
      |         ELSE coalesce(text, '') END AS text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS w
      |  FROM d),
      |win AS (
      |  SELECT doc_id, 0 AS pos, len(w) AS pend,
      |    array_to_string(w, ' ') AS g
      |  FROM t WHERE len(w) <= 3
      |  UNION ALL
      |  SELECT doc_id, pos, pos + 3 AS pend,
      |    array_to_string(w[pos + 1 : pos + 3], ' ') AS g
      |  FROM (SELECT doc_id, unnest(range(0, len(w) - 2)) AS pos, w
      |        FROM t WHERE len(w) > 3) x),
      |cnt AS (SELECT g, count(*) AS c FROM win GROUP BY g),
      |ph AS (SELECT g FROM cnt
      |       WHERE c >= (SELECT (count(*) * 2) // 5 FROM documents)
      |         AND g <> ''),
      |cov AS (SELECT DISTINCT w2.doc_id,
      |          unnest(range(w2.pos, w2.pend)) AS p
      |        FROM win w2 JOIN ph USING (g)),
      |toks AS (SELECT doc_id, unnest(range(0, len(w))) AS p, w
      |         FROM t WHERE len(w) > 0),
      |tok2 AS (SELECT doc_id, p, w[p + 1] AS tok FROM toks),
      |keptt AS (
      |  SELECT t2.doc_id, t2.p, t2.tok FROM tok2 t2
      |  LEFT JOIN cov c ON t2.doc_id = c.doc_id AND t2.p = c.p
      |  WHERE c.p IS NULL),
      |agg AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
      |    count(*) AS n_kept
      |  FROM keptt GROUP BY doc_id)
      |SELECT t.doc_id,
      |  coalesce(a.text_clean, '') AS text_clean,
      |  CAST(len(t.w) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
      |FROM t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin
  }

  /** The data card, extended with the two columns a datasheet consumer
    * asks for next (r12 advice #8): per-source NEAR-dup rate (exact
    * n-gram-Jaccard tier here so the card stays exactly recomputable;
    * production serves the same pairs off the LSH store) and
    * eval-CONTAMINATION rate (q122's stride-window machinery, eval
    * slice doc_id % 50 == 7). FULL DuckDB oracle — every column of the
    * card, including both new rates, recomputed from raw definitions. */
  query("q151_datacard_ext") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val isEval = pmod(col("doc_id"), lit(50)) === 7
    val corpus = operators.OpCache.track(docs.filter(!isEval).persist())
    val pairs = Dedup.jaccardSelfJoin(corpus, "text", "doc_id",
      shingleK = 3, threshold = 0.6)
    operators.TextProfile.corpusReportExt(corpus, "text", "doc_id",
        "source", "lang", pairs, docs.filter(isEval), minTokens = 4)
      .orderBy(col("source"))
  } {
    // q151 recomputes the EXTENDED card from raw definitions: q139's
    // card columns over the non-eval corpus, the exact-Jaccard near-dup
    // id set (q50's CTEs), and the stride-window contamination id set
    // (q122's CTEs), each attributed per source.
    s"""WITH q AS (
       |  SELECT doc_id, source, lang, n_tok, $qualityExprSql AS quality,
       |    md5($normSql) AS fp
       |  FROM (${qualityRawSql("doc_id, source, lang, text")}) raw
       |  WHERE doc_id % 50 != 7),
       |base AS (
       |  SELECT source,
       |    count(*) AS n_docs,
       |    count(DISTINCT fp)::BIGINT AS n_uniq,
       |    round(1.0 - count(DISTINCT fp)::DOUBLE / count(*), 4) AS dup_frac,
       |    sum(n_tok)::BIGINT AS total_tokens,
       |    round(avg(n_tok), 2) AS avg_tokens,
       |    count(DISTINCT lang)::BIGINT AS n_langs,
       |    round(avg(quality), 4) AS avg_quality,
       |    round(avg(CASE WHEN quality >= 0.8 THEN 1.0 ELSE 0.0 END), 4)
       |      AS hi_quality_frac
       |  FROM q GROUP BY source),
       |tok AS (SELECT doc_id, source, $toksSql AS w FROM documents
       |        WHERE doc_id % 50 != 7),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) END AS s
       |  FROM tok),
       |pr AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |        len(list_distinct(list_concat(a.s, b.s))) >= 0.6),
       |nd AS (SELECT DISTINCT doc_id FROM (
       |  SELECT ia AS doc_id FROM pr UNION ALL SELECT ib AS doc_id FROM pr)),
       |ndc AS (SELECT t.source, count(*) AS ndocs
       |        FROM nd JOIN tok t USING (doc_id) GROUP BY t.source),
       |d2 AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split_regex(trim(coalesce(text, '')), '\\s+')
       |    END AS w
       |  FROM documents),
       |twn AS (
       |  SELECT doc_id, unnest(range(0, len(w) - 3)) AS pos, w
       |  FROM d2 WHERE len(w) >= 4 AND doc_id % 50 != 7),
       |es AS (
       |  SELECT DISTINCT array_to_string(w[pos + 1 : pos + 4], ' ') AS s2
       |  FROM (SELECT unnest(range(0, len(w) - 3)) AS pos, w
       |        FROM d2 WHERE len(w) >= 4 AND doc_id % 50 = 7)),
       |cd AS (SELECT DISTINCT doc_id FROM twn
       |       WHERE array_to_string(w[pos + 1 : pos + 4], ' ')
       |             IN (SELECT s2 FROM es)),
       |cdc AS (SELECT t.source, count(*) AS cdocs
       |        FROM cd JOIN tok t USING (doc_id) GROUP BY t.source)
       |SELECT base.*,
       |  round(coalesce(ndc.ndocs, 0)::DOUBLE / base.n_docs, 4)
       |    AS near_dup_frac,
       |  round(coalesce(cdc.cdocs, 0)::DOUBLE / base.n_docs, 4)
       |    AS contam_frac
       |FROM base LEFT JOIN ndc USING (source) LEFT JOIN cdc USING (source)
       |ORDER BY source""".stripMargin
  }

  /** Gopher repetition rules — the COMPLETE A1 family
    * ([[TextFunctions.repetitionStats]] /
    * [[TextFunctions.gopherRepetitionKeep]], Rae et al. 2021 — public):
    * repetitive documents are the quality failure
    * [[TextFunctions.qualityScore]]'s length/punctuation signals cannot
    * see. The fixture text carries no newlines, so duplicate LINES are
    * planted on every third document (q150's planting pattern) and
    * duplicate blank-line-separated PARAGRAPHS on every fifth; word-gram
    * repetition comes from the fixture's own tiny vocabulary. FULL
    * DuckDB oracle: every fraction recomputed from first principles
    * (explode + group-by counts vs the operator's sorted run-length
    * fold — two different algorithms, same definitions). */
  query("q162_repetition_rules") { (s, dir) =>
    val docs = t(s, dir, "documents").withColumn("t2", {
      val raw = coalesce(col("text"), lit(""))
      val withLines = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(raw, lit("\n"), substring(raw, 1, 40),
            lit("\n"), substring(raw, 1, 40)))
        .otherwise(raw)
      when(pmod(col("doc_id"), lit(5)) === 0,
          concat(withLines, lit("\n\n"), substring(raw, 1, 60),
            lit("\n\n"), substring(raw, 1, 60)))
        .otherwise(withLines)
    })
    docs.select(col("doc_id"),
        TextFunctions.repetitionStats(col("t2")).as("r"))
      .select(col("doc_id") +:
        repetitionFields.map(f => col(s"r.$f").as(f)) :+
        // keep from the PROJECTED struct: 13 slot reads, not a second
        // run of the fold family
        TextFunctions.gopherKeepFromStats(col("r")).as("keep"): _*)
      .orderBy(col("doc_id"))
  } {
    // q162 recomputes the COMPLETE Gopher A1 repetition family from
    // first principles: explode + group-by counts per (doc,
    // line/para/gram), where the operator folds sorted runs — two
    // algorithms, one definition (repetitionCtesSql documents the
    // tie-break and counting conventions; the keep rule is generated
    // from the same threshold table the Spark side reads).
    val cols = repetitionFields.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN base ||
       |      chr(10) || chr(10) || substr(t0, 1, 60) ||
       |      chr(10) || chr(10) || substr(t0, 1, 60)
       |    ELSE base END AS t
       |  FROM (
       |    SELECT doc_id, coalesce(text,'') AS t0,
       |      CASE WHEN doc_id % 3 = 0
       |        THEN coalesce(text,'') || chr(10) ||
       |             substr(coalesce(text,''), 1, 40) || chr(10) ||
       |             substr(coalesce(text,''), 1, 40)
       |        ELSE coalesce(text,'') END AS base
       |    FROM documents) s0),
       |${repetitionCtesSql("", "d")}
       |SELECT doc_id, $cols, keep FROM fr ORDER BY doc_id""".stripMargin
  }

  /** Gopher QUALITY rule gate — q162's sibling on the A1 NON-repetition
    * half ([[TextFunctions.gopherQualityStats]]): word-count and
    * mean-word-length windows, hash/ellipsis symbol caps, bullet and
    * ellipsis line fractions, alphabetic-word floor, stop-word
    * requirement. The decorations exercise every bound in BOTH
    * directions across the corpus (hash spam, a bullet-heavy prefix
    * that crosses the 0.9 line bound, ellipsis line endings in both
    * spellings, numeric-word dilution of the alphabetic floor,
    * truncation under the 50-word minimum, a stop-word-rich tail).
    * FULL DuckDB oracle recomputing the family from first principles. */
  query("q165_gopher_quality") { (s, dir) =>
    val raw = coalesce(col("text"), lit(""))
    val m = pmod(col("doc_id"), lit(9))
    val bullets = concat(
      (1 to 10).map(i => lit(s"- item$i\n")): _*)
    val longWords = lit(
      " pneumonoultramicroscopicsilicovolcanoconiosis" * 4)
    val oneChars = lit(" a" * 30)
    val docs = t(s, dir, "documents").withColumn("t2",
      when(m === 0, concat(raw, lit(" ## # ### ##")))
        .when(m === 1, concat(bullets, raw))
        .when(m === 2, concat(raw, lit("\nwait...\nmore...\nend…")))
        .when(m === 3, concat(raw, lit(" 111 222 333 444 555 666")))
        .when(m === 4, substring(raw, 1, 25))
        .when(m === 5, concat(raw, lit(" the be to of and that have with")))
        .when(m === 6, concat(raw, longWords)) // mean-len above 10 (short docs)
        .when(m === 7, concat(raw, oneChars)) // mean-len below 3 (short docs)
        .otherwise(raw))
    docs.select(col("doc_id"),
        TextFunctions.gopherQualityStats(col("t2")).as("g"))
      .select(col("doc_id") +:
        gopherQualityFields.map(f => col(s"g.$f").as(f)) :+
        TextFunctions.gopherQualityKeepFromStats(col("g")).as("keep"): _*)
      .orderBy(col("doc_id"))
  } {
    // q165 recomputes the A1 QUALITY family from first principles — the
    // same decorations, token/line conventions (shared trim/lower/split
    // semantics with toksSql), replace-based symbol counting, and the
    // published bounds as one conjunction.
    val bullets = (1 to 10).map(i => s"'- item$i' || chr(10)")
      .mkString(" || ")
    val longWords =
      " pneumonoultramicroscopicsilicovolcanoconiosis" * 4
    val oneChars = " a" * 30
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE doc_id % 9
       |      WHEN 0 THEN t0 || ' ## # ### ##'
       |      WHEN 1 THEN $bullets || t0
       |      WHEN 2 THEN t0 || chr(10) || 'wait...' || chr(10) ||
       |                  'more...' || chr(10) || 'end…'
       |      WHEN 3 THEN t0 || ' 111 222 333 444 555 666'
       |      WHEN 4 THEN substr(t0, 1, 25)
       |      WHEN 5 THEN t0 || ' the be to of and that have with'
       |      WHEN 6 THEN t0 || '$longWords'
       |      WHEN 7 THEN t0 || '$oneChars'
       |      ELSE t0 END AS text
       |  FROM (SELECT doc_id, coalesce(text, '') AS t0 FROM documents) s0),
       |${gopherQualityStatsCtesSql("", "d")}
       |SELECT doc_id, ${gopherQualityFields.mkString(", ")},
       |  ${gopherQualityKeepSql()} AS keep
       |FROM st ORDER BY doc_id""".stripMargin
  }

  /** C4 line/page filter gate ([[TextFunctions.c4Stats]]/
    * [[TextFunctions.c4KeepFromStats]], Raffel et al. 2020 — public):
    * the OTHER canonical published filter family next to Gopher A1.
    * Decorations exercise every rule in BOTH directions: a 5-sentence
    * block (line kept, page passes the sentence floor), a
    * javascript-mention line (dropped despite terminal punctuation and
    * word count), a lorem-ipsum line (line kept, PAGE dropped by the
    * template tripwire), a code line with braces (line dropped AND page
    * dropped), `!`/`?` terminal lines plus a too-short `Ok.` (word
    * floor vs terminal-mark variety, page under the sentence floor),
    * a `"`-terminal quote line (the paper's fourth mark), and the raw
    * word-soup (no terminal punctuation — nothing retained). FULL
    * DuckDB oracle recomputing lines/kept/clean-text-hash/sentences/
    * tripwires/keep from first principles, bounds interpolated from
    * the same [[TextFunctions.C4Bounds]] instance. */
  query("q167_c4_filters") { (s, dir) =>
    val raw = coalesce(col("text"), lit(""))
    val m = pmod(col("doc_id"), lit(7))
    val five = lit("\n" + c4FiveSentences)
    val docs = t(s, dir, "documents").withColumn("t2",
      when(m === 0, concat(raw, five))
        .when(m === 1, concat(raw,
          lit("\nPlease enable javascript to continue reading this page now.")))
        .when(m === 2, concat(raw, five,
          lit("\nLorem ipsum dolor sit amet consectetur adipiscing elit.")))
        .when(m === 3, concat(raw, five,
          lit("\nfunction render() { return template; }")))
        .when(m === 4, concat(raw,
          lit("\nOk.\nThis works fine!\nDoes this work too?")))
        .when(m === 5, concat(raw, five,
          lit("\nThe reviewer said it was \"good enough.\"")))
        .otherwise(raw))
    docs.select(col("doc_id"), TextFunctions.c4Stats(col("t2")).as("c"))
      .select(col("doc_id"),
        col("c.n_lines").as("n_lines"),
        col("c.n_kept").as("n_kept"),
        md5(col("c.text_clean")).as("clean_hash"),
        col("c.n_sentences").as("n_sentences"),
        col("c.has_lorem").as("has_lorem"),
        col("c.has_brace").as("has_brace"),
        TextFunctions.c4KeepFromStats(col("c")).as("keep"))
      .orderBy(col("doc_id"))
  } {
    // q167 recomputes the C4 line/page rules from first principles —
    // same decorations, trim/split conventions, terminal-mark set, and
    // the bounds interpolated from the SAME C4Bounds instance the Spark
    // rule reads.
    val b = TextFunctions.C4Bounds()
    val five = s"chr(10) || '$c4FiveSentences'"
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE doc_id % 7
       |      WHEN 0 THEN t0 || $five
       |      WHEN 1 THEN t0 || chr(10) ||
       |        'Please enable javascript to continue reading this page now.'
       |      WHEN 2 THEN t0 || $five || chr(10) ||
       |        'Lorem ipsum dolor sit amet consectetur adipiscing elit.'
       |      WHEN 3 THEN t0 || $five || chr(10) ||
       |        'function render() { return template; }'
       |      WHEN 4 THEN t0 || chr(10) || 'Ok.' || chr(10) ||
       |        'This works fine!' || chr(10) || 'Does this work too?'
       |      WHEN 5 THEN t0 || $five || chr(10) ||
       |        'The reviewer said it was "good enough."'
       |      ELSE t0 END AS text
       |  FROM (SELECT doc_id, coalesce(text, '') AS t0 FROM documents) s0),
       |c4 AS (
       |  SELECT doc_id, text,
       |    list_transform(string_split(text, chr(10)), l -> trim(l))
       |      AS lines
       |  FROM d),
       |k AS (
       |  SELECT doc_id, text, len(lines) AS n_lines,
       |    -- coalesce: DuckDB's array_to_string([]) is NULL where
       |    -- Spark's array_join([]) is '' — a nothing-retained page
       |    -- must hash as the empty string on both engines
       |    coalesce(array_to_string(list_filter(lines, t ->
       |      len(string_split_regex(t, '\\s+')) >= ${b.minWordsPerLine}
       |      AND (ends_with(t, '.') OR ends_with(t, '!')
       |           OR ends_with(t, '?') OR ends_with(t, '"'))
       |      AND NOT contains(lower(t), 'javascript')), chr(10)), '')
       |      AS clean,
       |    len(list_filter(lines, t ->
       |      len(string_split_regex(t, '\\s+')) >= ${b.minWordsPerLine}
       |      AND (ends_with(t, '.') OR ends_with(t, '!')
       |           OR ends_with(t, '?') OR ends_with(t, '"'))
       |      AND NOT contains(lower(t), 'javascript'))) AS n_kept
       |  FROM c4),
       |st AS (
       |  SELECT doc_id, n_lines, n_kept, md5(clean) AS clean_hash,
       |    len(regexp_extract_all(clean, '[.!?]')) AS n_sentences,
       |    contains(lower(text), 'lorem ipsum') AS has_lorem,
       |    contains(text, '{') AS has_brace
       |  FROM k)
       |SELECT doc_id, n_lines, n_kept, clean_hash, n_sentences,
       |  has_lorem, has_brace,
       |  (n_sentences >= ${b.minSentences}
       |   AND NOT has_lorem AND NOT has_brace) AS keep
       |FROM st ORDER BY doc_id""".stripMargin
  }

  /** Kneser–Ney bigram perplexity ([[operators.TextProfile
    * .knBigramPerplexity]] — Kneser & Ney 1995, the smoother CCNet's
    * KenLM actually uses; q103's add-one model upgraded to discounted
    * interpolation with continuation-probability backoff). Same contract
    * as q103: every document scored against the English reference slice,
    * docs without bigrams emitted with n_bigrams=0. FULL DuckDB oracle —
    * the four model tables (pair counts, context totals + distinct
    * continuations, distinct contexts, B/V scalars) and the exact
    * discount arithmetic, term order mirrored. */
  query("q180_kn_perplexity") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    operators.TextProfile.knBigramPerplexity(
        docs, docs.filter(col("lang") === "en"), "text", "doc_id")
      .orderBy(col("doc_id"))
  } {
    // q180 rebuilds the four Kneser-Ney model tables from the en slice
    // and replays the discounted interpolation term by term (D = 0.75;
    // the add-one continuation floor makes unseen words scoreable).
    // Per-document logp folds as a window ORDERED by bigram position —
    // the SAME fold order as the operator's posexplode window, so the
    // cross-entropy doubles agree bitwise, not just post-rounding.
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang, pr.i AS pos, pr.g AS g, pr.a AS w1,
       |    pr.b AS w2
       |  FROM (SELECT doc_id, lang,
       |          unnest([{'i': i, 'g': w[i] || ' ' || w[i+1], 'a': w[i],
       |                   'b': w[i+1]} for i in range(1, len(w))]) AS pr
       |        FROM tok WHERE len(w) >= 2)),
       |bi AS (SELECT g, count(*) AS c2 FROM bg WHERE lang = 'en'
       |       GROUP BY 1),
       |ctx AS (SELECT w1, count(*) AS ctxc, count(DISTINCT w2) AS n1p
       |        FROM bg WHERE lang = 'en' GROUP BY 1),
       |cont AS (SELECT w2, count(DISTINCT w1) AS cont1
       |         FROM bg WHERE lang = 'en' GROUP BY 1),
       |scal AS (SELECT (SELECT count(*) FROM bi) AS b,
       |  (SELECT count(DISTINCT u.w) FROM
       |    (SELECT unnest(w) AS w FROM tok WHERE lang = 'en') u) AS v),
       |sc AS (
       |  SELECT d.doc_id, d.pos,
       |    ln(CASE WHEN ctx.ctxc IS NULL
       |         THEN (coalesce(cont.cont1, 0) + 1)::DOUBLE / (s.b + s.v + 1)
       |         ELSE greatest(coalesce(bi.c2, 0)::DOUBLE - 0.75, 0.0)
       |                / ctx.ctxc
       |              + (0.75 * ctx.n1p / ctx.ctxc) *
       |                ((coalesce(cont.cont1, 0) + 1)::DOUBLE
       |                 / (s.b + s.v + 1)) END) AS logp
       |  FROM bg d LEFT JOIN bi USING (g) LEFT JOIN ctx USING (w1)
       |  LEFT JOIN cont USING (w2) CROSS JOIN scal s),
       |f AS (
       |  SELECT doc_id,
       |    sum(logp) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    count(*) OVER (PARTITION BY doc_id) AS n,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos DESC)
       |      AS rn
       |  FROM sc),
       |agg AS (
       |  SELECT doc_id, n AS n_bigrams,
       |    round(-cum / n, 4) AS cross_entropy,
       |    round(exp(-cum / n), 2) AS perplexity
       |  FROM f WHERE rn = 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  a.cross_entropy, a.perplexity
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** C4 blocklist page filter ([[TextFunctions.blocklistHits]] /
    * `blocklistKeep` — Raffel et al. 2020 §2.2's remaining member next
    * to q167's structural rules: drop pages containing blocklisted
    * words; the list is policy content and arrives as a parameter, so
    * the fixture uses corpus-present neutral words exercising both
    * branches — 'dup' occurs in the planted near-dup mutations,
    * 'casino' never occurs). FULL DuckDB oracle via the same distinct
    * token-set intersection. */
  query("q184_blocklist_filter") { (s, dir) =>
    val bl = Seq("dup", "casino")
    parallelize(t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        TextFunctions.blocklistHits(col("text"), bl).cast("long").as("n_bad"),
        TextFunctions.blocklistKeep(col("text"), bl).as("keep"))
      .orderBy(col("doc_id"))
  } {
    // q184 recomputes the blocklist decision via the same distinct
    // token-set intersection (both engines' intersect dedups; only the
    // SIZE is compared — DuckDB's result order differs).
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents)
       |SELECT doc_id, lang,
       |  len(list_intersect(w, ['dup', 'casino']))::BIGINT AS n_bad,
       |  len(list_intersect(w, ['dup', 'casino'])) = 0 AS keep
       |FROM tok ORDER BY doc_id""".stripMargin
  }

  /** CDC duplicate-block REMOVAL ([[operators.Dedup.stripDuplicateBlocks]]
    * — q185's decision face, the keep-first rule at content-defined
    * granularity; the detection→decision pairing q150/q168 gave their
    * tiers): every ≥2× block removed everywhere but its min-(id, idx)
    * first occurrence, documents rebuilt by concatenating survivors.
    * The rebuilt text is md5-pinned (the q167 discipline). FULL DuckDB
    * oracle — the q185 cut/fp arithmetic plus the same occurrence
    * window, keep rule, and per-document slice-and-concat rebuild. */
  query("q186_strip_blocks") { (s, dir) =>
    Dedup.stripDuplicateBlocks(parallelize(t(s, dir, "documents")),
        "text", "doc_id")
      .select(col("doc_id"), md5(col("text_clean")).as("clean_fp"),
        col("n_chunks"), col("n_kept"))
      .orderBy(col("doc_id"))
  } {
    // q186 extends the q185 replay with the decision: the same chunks
    // carry offsets, one fp-window computes occurrence + keep rank,
    // and each document rebuilds by slicing its kept ranges back out
    // of the normalized text (md5-pinned, coalesce for the empty-list
    // NULL gotcha).
    s"""WITH nt AS (SELECT doc_id, $normSql AS t FROM documents),
       |b AS (SELECT doc_id, t, len(t) AS n,
       |  [i for i in range(16, len(t))
       |   if ('0x' || substr(md5(t[i-15:i]), 1, 4))::INT % 64 = 0] AS cuts
       |  FROM nt),
       |ch AS (SELECT doc_id, c.idx AS idx, c.off AS off, c.ln AS ln,
       |         c.fp AS fp
       |  FROM (SELECT doc_id,
       |          unnest([{'idx': j-1, 'off': bounds[j],
       |                   'ln': bounds[j+1]-bounds[j],
       |                   'fp': md5(t[bounds[j]+1:bounds[j+1]])}
       |                  for j in range(1, len(bounds))]) AS c
       |        FROM (SELECT doc_id, t, ([0] || cuts || [n]) AS bounds
       |              FROM b WHERE n > 0))),
       |w AS (SELECT *, count(*) OVER (PARTITION BY fp) AS occ,
       |        row_number() OVER (PARTITION BY fp
       |          ORDER BY doc_id, idx) AS rn
       |      FROM ch),
       |k AS (SELECT doc_id, count(*)::BIGINT AS n_chunks,
       |        sum(CASE WHEN occ < 2 OR rn = 1 THEN 1 ELSE 0 END)::BIGINT
       |          AS n_kept,
       |        array_agg({'off': off, 'ln': ln} ORDER BY idx)
       |          FILTER (WHERE occ < 2 OR rn = 1) AS ks
       |      FROM w GROUP BY doc_id)
       |SELECT nt.doc_id,
       |  md5(coalesce(array_to_string(
       |    [nt.t[s.off+1:s.off+s.ln] for s in k.ks], ''), '')) AS clean_fp,
       |  coalesce(k.n_chunks, 0) AS n_chunks,
       |  coalesce(k.n_kept, 0) AS n_kept
       |FROM nt LEFT JOIN k USING (doc_id)
       |ORDER BY nt.doc_id""".stripMargin
  }

  /** Compression-ratio quality signal ([[TextFunctions.compressionRatio]]
    * / [[TextFunctions.compressionKeep]] — the RedPajama-v2/Dolma zlib
    * signal as a native codegen expression): engine-LOCAL by design (no
    * SQL engine exposes deterministic zlib), so the gate is q169-style
    * in-plan verdicts over planted decorations whose separation was
    * MEASURED before pinning — repeated-block boilerplate deflates to
    * ~0.014 (bound 0.1), base64 noise to ≥0.88 (bound 0.8), and every
    * ≥200-char natural doc sits in 0.37–0.61 at all three SFs, inside
    * the (0.20, 0.80) keep band with ≥0.17 margin both sides; short docs
    * are excluded from the band gate because deflate ratios are
    * length-confounded below ~200 bytes (dictionary warmup), the reason
    * the keep rule is corpus policy, not a universal constant. */
  query("q175_compression_signal") { (s, dir) =>
    import s.implicits._
    val base = parallelize(t(s, dir, "documents"))
    val ratio = TextFunctions.compressionRatio(col("text"))
    val keep = TextFunctions.compressionKeep(col("text"))
    val long = base.filter(length(col("text")) >= 200).select(col("text"))
      .withColumn("kind", lit("long"))
    val rep = base.filter(col("doc_id") < 50)
      .select(repeat(concat(substring(col("text"), 1, 40), lit(" ")), 120)
        .as("text"))
      .withColumn("kind", lit("rep"))
    val noise = base.filter(col("doc_id") < 50)
      .select(concat((0 until 8).map(i =>
        base64(unhex(md5(concat(coalesce(col("text"), lit("")),
          lit(i.toString)))))): _*).as("text"))
      .withColumn("kind", lit("noise"))
    val empty = Seq("").toDF("text").withColumn("kind", lit("empty"))
    val m = long.unionByName(rep).unionByName(noise).unionByName(empty)
      .select(col("kind"), ratio.as("r"), keep.as("k"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), min(col("r")).as("rmin"),
        max(col("r")).as("rmax"),
        sum(when(col("k"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("r").isNull, 1L).otherwise(0L)).as("nulls"))
      .collect().map(r => r.getString(0) -> r).toMap
    def n(k: String) = m(k).getLong(1)
    Gate.verdict(s)(
      ("comp_rep_below_floor", 0.1,
        m("rep").getDouble(3) < 0.1 && m("rep").getLong(4) == 0L),
      ("comp_noise_above_ceiling", 0.8,
        m("noise").getDouble(2) > 0.8 && m("noise").getLong(4) == 0L),
      ("comp_natural_long_in_band", 0.0,
        m("long").getDouble(2) > 0.20 && m("long").getDouble(3) < 0.80 &&
          m("long").getLong(4) == n("long")),
      ("comp_empty_unscorable", 0.0,
        m("empty").getLong(5) == n("empty") && m("empty").getLong(4) == 0L),
      ("comp_nonempty", 1.0,
        Seq("long", "rep", "noise", "empty").forall(n(_) > 0L)))
  } {
    // q175's signal is engine-local zlib (no DuckDB twin); the oracle
    // pins the verdict frame the measured-then-pinned in-plan gates emit.
    """SELECT * FROM (VALUES
      |  ('comp_empty_unscorable', CAST(0.0 AS DOUBLE), TRUE),
      |  ('comp_natural_long_in_band', CAST(0.0 AS DOUBLE), TRUE),
      |  ('comp_noise_above_ceiling', CAST(0.8 AS DOUBLE), TRUE),
      |  ('comp_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('comp_rep_below_floor', CAST(0.1 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** CCNet head/middle/tail corpus split ([[operators.Curate.scoreBuckets]]
    * over q103's bigram-LM perplexity, per language): the published
    * quality partition — each language's cleanest perplexity tercile is
    * "head", the noisiest "tail"; docs too short to score (no bigrams)
    * surface as "none", never silently shifted into a bucket. FULL DuckDB
    * oracle: q103's smoothed LM CTEs + the same ntile over the ROUNDED
    * perplexity (identical sort keys by q103's proven parity). This gate
    * runs the exact tier; a billion-doc language group switches to the
    * operator's `approxAccuracy` boundary-cut mode (CurateSpec-gated
    * against this exact tier) and never sorts the group. */
  query("q173_ccnet_buckets") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val ppl = operators.TextProfile.bigramPerplexity(docs,
      docs.filter(col("lang") === "en"), "text", "doc_id")
    val scored = docs.select(col("doc_id"), col("lang"))
      .join(ppl.select(col("doc_id"), col("perplexity")), Seq("doc_id"))
    operators.Curate.scoreBuckets(scored, "lang", "perplexity", "doc_id",
        Seq("head", "middle", "tail"))
      .orderBy(col("doc_id"))
  } {
    // q173 recomputes the CCNet split: q103's smoothed bigram-LM CTEs
    // verbatim, then ntile(3) per language over the ROUNDED perplexity
    // (identical sort keys in both engines by q103's hash parity) with
    // the doc-id tie-break; unscorable docs land in 'none' OUTSIDE the
    // window (the engines' NULL sort orders differ — documented on the
    // operator).
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
       |  FROM tok WHERE len(w) >= 2),
       |uni AS (
       |  SELECT u.w AS w, count(*) AS c1
       |  FROM (SELECT unnest(w) AS w FROM tok WHERE lang = 'en') u
       |  GROUP BY 1),
       |bi AS (SELECT g, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1),
       |v AS (SELECT count(*) AS v FROM uni),
       |sc AS (
       |  SELECT bg.doc_id,
       |    ln((coalesce(bi.c2, 0) + 1)::DOUBLE /
       |       (coalesce(uni.c1, 0) + v.v)) AS logp
       |  FROM bg LEFT JOIN bi USING (g)
       |  LEFT JOIN uni ON string_split(bg.g, ' ')[1] = uni.w
       |  CROSS JOIN v),
       |agg AS (
       |  SELECT doc_id, round(exp(-avg(logp)), 2) AS perplexity
       |  FROM sc GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id, d.lang, a.perplexity
       |  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
       |b AS (
       |  SELECT doc_id, lang, perplexity,
       |    ntile(3) OVER (PARTITION BY lang
       |      ORDER BY perplexity, doc_id) AS t
       |  FROM scored WHERE perplexity IS NOT NULL)
       |SELECT doc_id, lang, perplexity,
       |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |FROM b
       |UNION ALL
       |SELECT doc_id, lang, perplexity, 'none' AS bucket
       |FROM scored WHERE perplexity IS NULL
       |ORDER BY doc_id""".stripMargin
  }

  /** PARAMETERIZED quality gate — q165's production-policy sibling: the
    * same A1 stats family judged at [[fixtureQualityBounds]] over the
    * RAW corpus (no decoration — the adjusted word-count floor and
    * stop-word requirement discriminate on undecorated word-soup:
    * ~11% fail `n_words < 20`, ~25% fail `stop_hits < 1`, measured).
    * The oracle recomputes stats AND the keep conjunction from the
    * same interpolated [[TextFunctions.GopherQualityBounds]] instance,
    * so the parameterization itself is what this query gates. */
  query("q166_gopher_quality_bounds") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.gopherQualityStats(col("text")).as("g"))
      .select(col("doc_id"),
        col("g.n_words").as("n_words"),
        col("g.stop_hits").as("stop_hits"),
        TextFunctions.gopherQualityKeepFromStats(col("g"),
          fixtureQualityBounds).as("keep"))
      .orderBy(col("doc_id"))
  } {
    // q166 pins the PARAMETERIZED quality rule -- the same stats family
    // at the fixture-policy bounds over the RAW corpus (no decoration:
    // the production-policy face, and the adjusted bounds discriminate
    // on undecorated word-soup), keep recomputed from ONE interpolated
    // bounds instance on both sides.
    s"""WITH d AS (
       |  SELECT doc_id, coalesce(text, '') AS text FROM documents),
       |${gopherQualityStatsCtesSql("", "d")}
       |SELECT doc_id, n_words, stop_hits,
       |  ${gopherQualityKeepSql(fixtureQualityBounds)} AS keep
       |FROM st ORDER BY doc_id""".stripMargin
  }
}
