package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis stages for large-scale training-data pipelines: tokenization,
 * BPE-ish token counting, language ID, quality scoring, fingerprinting,
 * shingling. The reference expresses all per-record text work as arbitrary
 * Python inside step handlers (e.g. `text.count('python')`,
 * `/root/reference/README.markdown:84-85`); here each is a named, composable
 * Column function built ONLY from `org.apache.spark.sql.functions._`
 * primitives so the whole stage stays inside whole-stage codegen — no UDFs,
 * no driver round-trips, scales linearly with partitions at 100 TB.
 */
object TextFunctions {

  /** Whitespace tokens of `text`, lowercased; empty array for blank input. */
  def tokens(text: Column): Column = {
    // NULL text ≡ empty text (one explicit contract for the whole token
    // surface): without the coalesce, NULL propagates through every
    // downstream token op while the DuckDB oracles' coalesce(text, '')
    // yields 0/false/empty — two engines, two NULL semantics.
    // KNOWN QUIRK, shared bit-for-bit by the DuckDB oracle fragments
    // (toksSql): trim strips only ASCII spaces in both engines, so text
    // edged by tabs/newlines keeps an empty edge token from the split —
    // "\thello" tokenizes as ["", "hello"]. Changing either side alone
    // would break oracle parity; fix both together if it ever matters.
    val t = trim(lower(coalesce(text, lit(""))))
    when(t === "", array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /**
   * BPE-ish token count: counts matches of a GPT-2-style pretokenizer
   * pattern (contractions | letter runs | digit runs | punct runs). A cheap,
   * deterministic proxy for an LLM tokenizer's token count — the standard
   * pre-merge segmentation, each digit-run counted per ~3 digits.
   */
  def bpeTokenCount(text: Column): Column = {
    val pat = "('(?:s|d|m|t|ll|ve|re))|([\\p{L}]+)|([0-9]{1,3})|([^\\s\\p{L}0-9]+)"
    // regexp_count is SQL-standard in Spark 3.5+/4.x
    regexp_count(coalesce(text, lit("")), lit(pat))
  }

  /** Count of non-overlapping occurrences of literal `word` as a token
    * (the Spark form of README.markdown:84-85's `text.count('python')`). */
  def wordOccurrences(text: Column, word: String): Column =
    // Locale.ROOT: the default-locale toLowerCase diverges from Spark's
    // locale-independent lower() under e.g. tr-TR ("I" -> dotless i)
    size(filter(tokens(text), t => t === lit(word.toLowerCase(java.util.Locale.ROOT))))

  // --- Language ID -----------------------------------------------------
  // N-gram/stopword heuristic: score each candidate language by how many of
  // its high-frequency function words appear; argmax wins, "und" if nothing
  // scores. Pure array intrinsics → codegen'd, no shuffle.
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was",
      "for", "with", "are", "this", "not", "you", "have"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ich", "sie",
      "mit", "ein", "eine", "auf", "für", "von", "den", "zu"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "que", "qui",
      "pas", "pour", "sur", "avec", "vous", "nous", "mais"),
    "es" -> Seq("el", "los", "las", "una", "por", "con", "para", "como",
      "pero", "más", "este", "esta", "ser", "son", "del", "muy"),
    "it" -> Seq("il", "gli", "che", "per", "con", "una", "del", "della",
      "sono", "questo", "anche", "come", "più", "nel", "alla", "essere"))

  /** Stopword list for a language (public: oracle-SQL generation reuses it
    * so Spark and DuckDB score with the same lists). */
  def stopwordList(lang: String): Seq[String] = stopwords(lang)

  /** Languages in priority order (ties break toward the earlier one). */
  val langOrder: Seq[String] = Seq("en", "de", "fr", "es", "it")

  /** Per-language stopword hit count over the token set. */
  def langScore(text: Column, lang: String): Column = {
    val sw = stopwords(lang).map(lit(_))
    size(array_intersect(array_distinct(tokens(text)), array(sw: _*)))
  }

  /** Heuristic language ID: best-scoring language code, or "und". Ties break
    * by fixed language order (en,de,fr,es,it) for determinism. */
  def langId(text: Column): Column = {
    val ordered = langOrder
    // array_max on structs compares field-by-field: score first, then -index,
    // so equal scores break ties by fixed language priority, not by string.
    val prioritized = ordered.zipWithIndex.map { case (l, i) =>
      struct(langScore(text, l).as("s"), lit(-i).as("p"), lit(l).as("l"))
    }
    // ONE unconditional evaluation of the five score subtrees: the "und"
    // fallback is a sentinel ELEMENT, not a when() guard — a conditional
    // guard re-evaluates the max (subexpression elimination skips CaseWhen
    // branch values not common to every branch), doubling the
    // tokenize+intersect work per row. The sentinel's (s=0, p=1) outranks
    // any real language at score<=0 (p=1 beats every real p in 0..-4 on the
    // score tie at 0, and beats negative scores outright) and loses to any
    // real score>0 — exactly the old `max score <= 0 => und` semantics.
    val sentinel = struct(lit(0).as("s"), lit(1).as("p"), lit("und").as("l"))
    array_max(array(prioritized :+ sentinel: _*)).getField("l")
  }

  // --- Quality scoring -------------------------------------------------

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val stripped = regexp_replace(t, "[\\p{Punct}]", "")
    when(length(t) === 0, lit(0.0))
      .otherwise((length(t) - length(stripped)).cast("double") / length(t))
  }

  /** Ratio of alphabetic characters to total characters. */
  def alphaRatio(text: Column): Column = {
    val t = coalesce(text, lit(""))
    when(length(t) === 0, lit(0.0))
      .otherwise(length(regexp_replace(t, "[^\\p{L}]", "")).cast("double") / length(t))
  }

  /** Fraction of tokens that are English stopwords — a classic fluency signal. */
  def stopwordRatio(text: Column): Column = {
    val sw = stopwords("en").map(lit(_))
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => t.isin(stopwords("en").map(x => x: Any): _*)))
        .cast("double") / size(toks))
  }

  /** Mean token length in characters (0 for empty). */
  def meanWordLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        .cast("double") / size(toks))
  }

  /**
   * Composite quality score in [0,1]: rewards moderate length, words of
   * natural length, some stopwords, low punctuation density. Deterministic
   * and cheap — the Gopher-rules-flavored filter for web-scale corpora.
   */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenOk = when(nTok >= 5 && nTok <= 10000, lit(1.0)).otherwise(lit(0.0))
    val mwl = meanWordLen(text)
    val wordOk = when(mwl >= 2.5 && mwl <= 12.0, lit(1.0)).otherwise(lit(0.0))
    val swOk = when(stopwordRatio(text) >= 0.05, lit(1.0)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(text) <= 0.3, lit(1.0)).otherwise(lit(0.0))
    val alphaOk = when(alphaRatio(text) >= 0.5, lit(1.0)).otherwise(lit(0.0))
    round((lenOk + wordOk + swOk + punctOk + alphaOk) / 5.0, 2)
  }

  // --- repetition / quality rules (Gopher, Rae et al. 2021) -------------

  /** Evaluate `c` ONCE per row and hand it to `f` as a BOUND lambda
    * variable: expressions CAPTURED inside higher-order-function lambdas
    * are re-evaluated on every element (HOF lambdas are exempt from
    * subexpression elimination — the [[winnowFromGramHashes]] materialization note),
    * so an O(n) fold whose lambda references a captured
    * `array_sort(grams)` silently re-tokenizes and re-sorts the document
    * PER ELEMENT — O(n²·sort), measured as 29 s for a 5k-doc map stage
    * before this binding. A lambda VARIABLE is a slot read. */
  /** Evaluate `c` ONCE per row and pass the bound value to `f` — the
    * lambda-variable trick (1-element array + transform) that stops a
    * HOF lambda from re-evaluating a non-trivial expression per element
    * (q185's first cut re-tokenized the whole document once per
    * CHARACTER position through exactly this hole). Use it around any
    * expression a `filter`/`transform` lambda references. */
  private[graft] def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), x => f(x)), 1)

  /** The top-n-gram sizes the A1 table publishes (fraction of characters
    * in the MOST FREQUENT k-gram) and the dup-n-gram sizes (fraction of
    * characters in ALL k-grams occurring ≥ 2 times). Shared with the
    * oracle-SQL generator so Spark and DuckDB compute the same family. */
  val topGramKs: Seq[Int] =
    graft.functions.expressions.RepetitionStatsExpr.topGramKs
  val dupGramKs: Seq[Int] =
    graft.functions.expressions.RepetitionStatsExpr.dupGramKs

  /** The COMPLETE published threshold table (Rae et al. 2021 appendix
    * A1): a document is kept only if every fraction is at or below its
    * threshold. Field names match [[repetitionStats]]' struct. Public
    * and data-driven so [[gopherRepetitionKeep]], the DuckDB oracle
    * generator, and any caller composing a custom rule subset all read
    * the same numbers. */
  val gopherRepetitionThresholds: Seq[(String, Double)] = Seq(
    "dup_line_frac" -> 0.30,
    "dup_para_frac" -> 0.30,
    "dup_line_char_frac" -> 0.20,
    "dup_para_char_frac" -> 0.20,
    "top_2gram_char_frac" -> 0.20,
    "top_3gram_char_frac" -> 0.18,
    "top_4gram_char_frac" -> 0.16,
    "dup_5gram_char_frac" -> 0.15,
    "dup_6gram_char_frac" -> 0.14,
    "dup_7gram_char_frac" -> 0.13,
    "dup_8gram_char_frac" -> 0.12,
    "dup_9gram_char_frac" -> 0.11,
    "dup_10gram_char_frac" -> 0.10)

  /**
   * Repetition statistics for quality filtering — the COMPLETE Gopher /
   * MassiveText appendix A1 repetition family (Rae et al. 2021 —
   * public): repetitive documents (boilerplate, scraped listings,
   * degenerate generations) poison training corpora and none of the
   * length/punctuation signals in [[qualityScore]] see them. Returns a
   * struct of per-document fractions from ONE native codegen'd pass
   * ([[graft.functions.expressions.RepetitionStatsExpr]] — no shuffle,
   * no UDF: a scan-speed map stage at 100 TB):
   *
   *  - `n_lines` / `dup_line_frac` / `dup_line_char_frac`: lines are the
   *    NON-EMPTY fragments of the raw text split on `\n` (no lowering —
   *    a repeated line is repetition whatever its case). Empty fragments
   *    are excluded: blank-line-separated prose would otherwise count
   *    its paragraph separators as "duplicate lines" and a perfectly
   *    normal 5-paragraph document would exceed the 0.30 threshold.
   *    `dup_line_frac` = duplicate lines / lines; `dup_line_char_frac` =
   *    characters in the occurrences AFTER the first of each repeated
   *    line / total characters;
   *  - `n_paras` / `dup_para_frac` / `dup_para_char_frac`: paragraphs
   *    are the fragments split on runs of 2+ newlines whose trim is
   *    non-empty, same two fractions;
   *  - `top_{2,3,4}gram_char_frac`: count·chars of the most frequent
   *    word k-gram / total characters (ties broken toward the longer
   *    gram; unclamped — overlapping occurrences of a degenerate gram
   *    can legitimately cover > 100% of the text);
   *  - `dup_{5..10}gram_char_frac`: Σ count·chars over word k-grams
   *    occurring ≥ 2 times / total characters, clamped to 1
   *    (overlapping occurrences each count, the standard
   *    reimplementation reading).
   *
   * Word grams use [[tokens]] (lowercased, whitespace-split) joined by
   * one space. Blank text yields all-zero fractions. q162 pins every
   * definition against a full DuckDB recomputation by the opposite
   * algorithm (explode + group-by vs the native pass's hash-map counts;
   * the r15 sorted-fold column formulation was a third, and all three
   * agree on the rounded values).
   *
   * Relation to [[graft.operators.TextProfile.repetitionScores]] (q88):
   * that is the corpus-PROFILING face — occurrence-fraction units, n
   * parametric, computed by an (id, gram) shuffle + group-by, the right
   * shape when the per-gram counts are themselves wanted downstream.
   * This is the FILTER face: the paper's character-fraction units and
   * line rules at its published thresholds, computed entirely inside the
   * scan. MEASURED (SURVEY §6, 50k/500k docs, local[32]):
   * all 13 fractions in 3.4 s at 500k with ZERO exchange, vs 25.3 s and
   * 551 MiB of (id, gram) shuffle (~1.1 KB/doc ⇒ tens of TB of exchange
   * at a 100 TB corpus) for the single-gram profile — 7.5× the wall AND
   * the network. The r15 HOF fold formulation had the exchange property
   * but paid a 17× interpretation tax (58.9 s at 500k — nine interpreted
   * array_sort+fold chains per row); the native pass removed it. Pick by
   * product: per-gram counts wanted downstream → PROFILE; only the
   * keep/drop decision → FILTER.
   */
  def repetitionStats(text: Column): Column =
    graft.functions.expressions.GraftExpressions
      .repetitionStats(coalesce(text, lit("")))

  /** The A1 keep rule over an ALREADY-COMPUTED [[repetitionStats]]
    * struct (e.g. a projected column — then each getField is a slot
    * read): every fraction at or below its published threshold. */
  def gopherKeepFromStats(stats: Column): Column =
    gopherRepetitionThresholds
      .map { case (f, t) => stats.getField(f) <= t }
      .reduce(_ && _)

  /** Gopher's repetition KEEP rule — the full A1 family at the paper's
    * published thresholds ([[gopherRepetitionThresholds]]): every
    * fraction at or below its threshold. Compose with [[qualityScore]]
    * (q96/q143/q156/q161 do) — the two filters see disjoint failure
    * modes. The stats struct is BOUND once per row before the 13
    * comparisons read it: 13 getFields on an unbound struct would run
    * the whole fold family 13 times (HOF subtrees see no subexpression
    * elimination — the [[bindOnce]] lesson). Callers that also project
    * the stats should compute them once and use
    * [[gopherKeepFromStats]] on the projected column instead. */
  def gopherRepetitionKeep(text: Column): Column =
    bindOnce(repetitionStats(text))(gopherKeepFromStats)

  /** The 8 high-frequency English words Gopher's quality rule requires a
    * document to contain at least [[gopherMinStopHits]] of (Rae et al.
    * 2021 appendix A1 — public). Distinct from [[stopwordList]]'s
    * per-language lists: this is the paper's own fixed set. */
  val gopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  // The published A1 quality bounds, shared by [[gopherQualityKeepFromStats]]
  // and the q165 oracle generator so Spark and DuckDB read one table.
  val gopherMinWords = 50
  val gopherMaxWords = 100000
  val gopherMinMeanWordLen = 3.0
  val gopherMaxMeanWordLen = 10.0
  val gopherMaxHashWordRatio = 0.1
  val gopherMaxEllipsisWordRatio = 0.1
  val gopherMaxBulletLineFrac = 0.9
  val gopherMaxEllipsisLineFrac = 0.3
  val gopherMinAlphaWordFrac = 0.8
  val gopherMinStopHits = 2

  /**
   * The A1 quality bounds as a PARAMETER object — defaults are the
   * published English-prose values above (one table, still the single
   * source both engines interpolate), but the word-count window and the
   * stop-word floor are corpus POLICY, not universals: a multilingual or
   * synthetic corpus needs the same rule family at its own bounds
   * (Rae et al. 2021 publish theirs for English web text). Callers gate
   * production pipelines with `GopherQualityBounds(minWords = …, …)`
   * and the oracle-SQL generator interpolates the SAME instance, so an
   * adjusted bound moves both engines together (q166 gates the
   * parameterized form; q96 runs it in the flagship composition).
   */
  final case class GopherQualityBounds(
      minWords: Int = gopherMinWords,
      maxWords: Int = gopherMaxWords,
      minMeanWordLen: Double = gopherMinMeanWordLen,
      maxMeanWordLen: Double = gopherMaxMeanWordLen,
      maxHashWordRatio: Double = gopherMaxHashWordRatio,
      maxEllipsisWordRatio: Double = gopherMaxEllipsisWordRatio,
      maxBulletLineFrac: Double = gopherMaxBulletLineFrac,
      maxEllipsisLineFrac: Double = gopherMaxEllipsisLineFrac,
      minAlphaWordFrac: Double = gopherMinAlphaWordFrac,
      minStopHits: Int = gopherMinStopHits)

  /** Line-leading bullet glyphs for the A1 bullet rule (the set the
    * public reimplementations use). */
  val gopherBulletGlyphs: Seq[String] = Seq("•", "‣", "▪", "-", "*")

  /**
   * The NON-repetition half of Gopher's appendix-A1 document filter
   * (Rae et al. 2021 — public), completing the published family next to
   * [[repetitionStats]]: structural quality signals that catch what
   * neither the repetition fractions nor [[qualityScore]]'s composite
   * sees (machine-generated hash/ellipsis spam, bullet-list pages,
   * numeric tables, gibberish with no function words). Returns a struct
   * of per-document statistics, all single-pass column expressions over
   * one bound token array and one bound line array — no shuffle, no
   * UDF, a scan-speed map stage at 100 TB:
   *
   *  - `n_words`: [[tokens]] count (lowercased, whitespace-split);
   *  - `mean_word_len`: mean code-point length of the words;
   *  - `hash_word_ratio` / `ellipsis_word_ratio`: occurrences of `#`
   *    and of `...`/`…` (non-overlapping, the two ellipsis spellings
   *    counted independently) per word;
   *  - `bullet_line_frac` / `ellipsis_line_frac`: fraction of non-empty
   *    lines whose space-trimmed form starts with a bullet glyph /
   *    ends with an ellipsis;
   *  - `alpha_word_frac`: fraction of words containing at least one
   *    Unicode letter (`\p{L}` — the published rule is "alphabetic
   *    character"; the Unicode class keeps the rule meaningful on the
   *    non-English corpus slices);
   *  - `stop_hits`: how many DISTINCT [[gopherStopWords]] appear.
   *
   * Fractions round HALF_UP to 4 places; a blank document is all-zero.
   * q165 pins every definition against a full DuckDB recomputation.
   */
  def gopherQualityStats(text: Column): Column = {
    val raw = coalesce(text, lit(""))
    bindOnce(tokens(text)) { w =>
      bindOnce(filter(split(raw, "\n"), l => l =!= "")) { lines =>
        val nW = size(w)
        val nWd = nW.cast("double")
        val nLd = size(lines).cast("double")
        val meanLen = when(nW > 0,
          aggregate(w, lit(0L), (a, t) => a + length(t).cast("long"))
            .cast("double") / nWd).otherwise(lit(0.0))
        val hashes =
          (length(raw) - length(replace(raw, lit("#"), lit("")))).cast("double")
        val ellipses =
          ((length(raw) - length(replace(raw, lit("..."), lit("")))) / 3 +
            (length(raw) - length(replace(raw, lit("…"), lit("")))))
            .cast("double")
        def perWord(c: Column) =
          when(nW > 0, c / nWd).otherwise(lit(0.0))
        val bullets = size(filter(lines, l =>
          substring(ltrim(l), 1, 1)
            .isin(gopherBulletGlyphs: _*))).cast("double")
        val ellLines = size(filter(lines, l =>
          endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…"))))
          .cast("double")
        def perLine(c: Column) =
          when(size(lines) > 0, c / nLd).otherwise(lit(0.0))
        val alphaWords = size(filter(w, t => t.rlike("\\p{L}"))).cast("double")
        val stopHits = size(array_intersect(array_distinct(w),
          array(gopherStopWords.map(lit(_)): _*)))
        struct(
          nW.as("n_words"),
          round(meanLen, 4).as("mean_word_len"),
          round(perWord(hashes), 4).as("hash_word_ratio"),
          round(perWord(ellipses), 4).as("ellipsis_word_ratio"),
          round(perLine(bullets), 4).as("bullet_line_frac"),
          round(perLine(ellLines), 4).as("ellipsis_line_frac"),
          round(perWord(alphaWords), 4).as("alpha_word_frac"),
          stopHits.as("stop_hits"))
      }
    }
  }

  /** The A1 quality keep rule over an ALREADY-COMPUTED
    * [[gopherQualityStats]] struct, at the given [[GopherQualityBounds]]
    * (default = published values). Word-count and mean-word-length
    * windows, symbol/bullet/ellipsis caps, alphabetic floor, and the
    * stop-word requirement. */
  def gopherQualityKeepFromStats(stats: Column,
      bounds: GopherQualityBounds = GopherQualityBounds()): Column =
    stats.getField("n_words") >= bounds.minWords &&
      stats.getField("n_words") <= bounds.maxWords &&
      stats.getField("mean_word_len") >= bounds.minMeanWordLen &&
      stats.getField("mean_word_len") <= bounds.maxMeanWordLen &&
      stats.getField("hash_word_ratio") <= bounds.maxHashWordRatio &&
      stats.getField("ellipsis_word_ratio") <= bounds.maxEllipsisWordRatio &&
      stats.getField("bullet_line_frac") <= bounds.maxBulletLineFrac &&
      stats.getField("ellipsis_line_frac") <= bounds.maxEllipsisLineFrac &&
      stats.getField("alpha_word_frac") >= bounds.minAlphaWordFrac &&
      stats.getField("stop_hits") >= bounds.minStopHits

  /** Gopher's QUALITY keep rule — the A1 bounds (default = published)
    * over [[gopherQualityStats]], bound once per row (the [[bindOnce]]
    * discipline). The PUBLISHED word-count window (50–100k) and
    * stop-word floor are English-prose policy the synthetic fixture
    * corpus (10–100 word soup, stop_hits ≤ 1 by vocabulary) largely
    * fails by construction — production compositions over such corpora
    * gate at fixture-appropriate [[GopherQualityBounds]] instead (q96
    * does, q166 oracle-gates the parameterized form); q165 gates the
    * published defaults on decorated fixtures that exercise every bound
    * in both directions. MEASURED (SURVEY §6, 50k/500k):
    * 1.27 → 1.80 s across the decade, zero shuffle — scan-dominated,
    * cheaper than the native repetition pass riding beside it, so the
    * interpreted-HOF formulation stays (no q162-style tax at this
    * 8-stat surface). */
  def gopherQualityKeep(text: Column,
      bounds: GopherQualityBounds = GopherQualityBounds()): Column =
    bindOnce(gopherQualityStats(text))(gopherQualityKeepFromStats(_, bounds))

  // --- C4 filters (Raffel et al. 2020, arXiv:1910.10683 — public) -------

  /** C4's document-filter bounds as a parameter object — the
    * [[GopherQualityBounds]] discipline applied to the OTHER canonical
    * published filter family: defaults are the paper's values (retain
    * lines of ≥ 3 words; discard pages of < 5 sentences), and the
    * oracle-SQL generator interpolates the same instance so an adjusted
    * bound moves both engines together. */
  final case class C4Bounds(minWordsPerLine: Int = 3, minSentences: Int = 5)

  /**
   * C4's line-and-page cleaning statistics (Raffel et al. 2020 §2.2 —
   * public): the boilerplate-and-code page filter every web-scale
   * pipeline runs BEFORE the Gopher-style quality rules, catching what
   * neither [[repetitionStats]] nor [[gopherQualityStats]] looks at
   * (menu/button fragments, javascript-warning lines, template
   * placeholder pages, code pages). One pass over one bound line array
   * — no shuffle, no UDF, a scan-speed map stage at 100 TB. Returns a
   * struct:
   *
   *  - `n_lines`: fragments of the raw text split on `\n`;
   *  - `n_kept`: lines RETAINED by C4's line rules — space-trimmed form
   *    has at least `minWordsPerLine` whitespace words, ends in a
   *    terminal mark (`.` `!` `?` `"` — the paper's set), and does not
   *    mention "javascript" (case-insensitive);
   *  - `text_clean`: the retained trimmed lines re-joined with `\n`;
   *  - `n_sentences`: terminal marks (`[.!?]`) in `text_clean` — the
   *    sentence proxy the page rule thresholds;
   *  - `has_lorem` / `has_brace`: page-level template/code tripwires on
   *    the RAW text ("lorem ipsum" case-insensitive; any `{`).
   *
   * q167 pins every definition against a full DuckDB recomputation.
   * The span-level "three-sentence dedup" half of C4 is the q100
   * family; the bad-words list is deliberately not shipped (a policy
   * artifact, not an operator — callers compose a `rlike` filter).
   */
  def c4Stats(text: Column, bounds: C4Bounds = C4Bounds()): Column = {
    val raw = coalesce(text, lit(""))
    // ONE split per row: n_lines and the kept filter both read the
    // bound trimmed-line array (transform preserves length, so
    // size(lines) counts every raw fragment) — the bindOnce discipline
    bindOnce(transform(split(raw, "\n"), l => trim(l))) { lines =>
      bindOnce(filter(lines, t =>
          size(split(t, "\\s+")) >= bounds.minWordsPerLine &&
            (endswith(t, lit(".")) || endswith(t, lit("!")) ||
              endswith(t, lit("?")) || endswith(t, lit("\""))) &&
            !contains(lower(t), lit("javascript")))) { kept =>
        bindOnce(array_join(kept, "\n")) { clean =>
          struct(
            size(lines).as("n_lines"),
            size(kept).as("n_kept"),
            clean.as("text_clean"),
            regexp_count(clean, lit("[.!?]")).as("n_sentences"),
            contains(lower(raw), lit("lorem ipsum")).as("has_lorem"),
            contains(raw, lit("{")).as("has_brace"))
        }
      }
    }
  }

  /** C4's page keep rule over an ALREADY-COMPUTED [[c4Stats]] struct:
    * at least `minSentences` sentences survive the line filter, and
    * neither page tripwire fired. Takes ONLY the sentence floor — the
    * line-level `minWordsPerLine` bound is baked into the stats at
    * [[c4Stats]] time and cannot be re-judged here (a full `C4Bounds`
    * parameter would be half-dead: accepted, silently ignored). */
  def c4KeepFromStats(stats: Column,
      minSentences: Int = C4Bounds().minSentences): Column =
    stats.getField("n_sentences") >= minSentences &&
      !stats.getField("has_lorem") && !stats.getField("has_brace")

  /** C4's page keep rule from raw text ([[bindOnce]] discipline).
    * CORPUS-POLICY note, stronger than [[gopherQualityKeep]]'s: the
    * synthetic fixture corpus has NO sentence punctuation at all, so
    * C4's terminal-punctuation line rule retains nothing on undecorated
    * word-soup and no bound value can change that — the rule needs
    * sentence-structured text. q167 gates it on decorated fixtures
    * exercising every rule in both directions; production wiring
    * belongs to real web corpora. */
  def c4Keep(text: Column, bounds: C4Bounds = C4Bounds()): Column =
    bindOnce(c4Stats(text, bounds))(c4KeepFromStats(_, bounds.minSentences))

  /** C4's blocklist page filter (Raffel et al. 2020 §2.2 — the published
    * pipeline's remaining member next to [[c4Stats]]'s structural rules
    * and q100's span dedup: drop any page containing a word from a
    * blocklist; the paper uses the "List of Dirty, Naughty, Obscene or
    * Otherwise Bad Words"). The list is policy/locale content, so it
    * arrives as a PARAMETER (lowercased + deduplicated here; match is on
    * whole whitespace tokens, the paper's word-boundary semantics) —
    * this library ships the mechanism, not the wordlist. Returns the
    * count of DISTINCT blocklisted words present; [[blocklistKeep]] is
    * the page decision. One bounded per-row set intersection — zero
    * shuffle; at production list sizes the literal array is a per-task
    * constant. */
  def blocklistHits(text: Column, blocklist: Seq[String]): Column = {
    require(blocklist.nonEmpty, "blocklist must be non-empty")
    val words = blocklist.map(_.toLowerCase).distinct
    size(array_intersect(tokens(text), array(words.map(lit): _*)))
  }

  /** True iff no blocklisted word occurs in `text` ([[blocklistHits]]). */
  def blocklistKeep(text: Column, blocklist: Seq[String]): Column =
    blocklistHits(text, blocklist) === 0

  // --- PII redaction ----------------------------------------------------
  // Patterns restricted to the syntax subset where Java regex (Spark) and
  // RE2 (DuckDB, used by the oracle) agree exactly: character classes,
  // bounded repetition, non-capturing groups, ASCII \b. No backreferences,
  // no lookaround (RE2 has neither). Java's default \b is ASCII-\w-based,
  // matching RE2's.

  /** RFC-casual email pattern. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 (no octet range check — redaction errs broad). */
  val ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** International-format phone number: + and 7-15 digits. */
  val phonePattern = "\\+[0-9]{7,15}"

  /** Text after email redaction (stage 1 of [[redactPii]]). */
  def redactEmails(text: Column): Column =
    regexp_replace(coalesce(text, lit("")), emailPattern, "<EMAIL>")

  /**
   * Redact emails, then IPv4 addresses, then phone numbers (that order:
   * emails may contain dotted digit runs, so later stages run on already
   * email-scrubbed text). Pure codegen'd regexp_replace chain — the PII
   * scrub is a scan-speed map stage at 100 TB, no shuffle, no UDF.
   */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(redactEmails(text), ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Per-type redaction counts, evaluated stage-wise on the same
    * progressively-scrubbed text [[redactPii]] sees, so
    * `n_emails + n_ips + n_phones` is exactly the number of replacements
    * made. Returns a struct (n_emails, n_ips, n_phones). */
  def piiCounts(text: Column): Column = {
    val t0 = coalesce(text, lit(""))
    val t1 = redactEmails(text)
    val t2 = regexp_replace(t1, ipv4Pattern, "<IP>")
    struct(
      regexp_count(t0, lit(emailPattern)).as("n_emails"),
      regexp_count(t1, lit(ipv4Pattern)).as("n_ips"),
      regexp_count(t2, lit(phonePattern)).as("n_phones"))
  }

  /**
   * Dolma's document-level PII POLICY (Soldaini et al. 2024 — the Dolma
   * toolkit pairs span masking with a DOCUMENT decision: a page with
   * many PII hits is a contact dump / scraped directory, and masking
   * would leave a useless sentinel skeleton, so it is dropped instead).
   * The threshold is CORPUS POLICY and arrives as a parameter. Returns
   * a struct (`n_pii` = total replacements [[redactPii]] would make,
   * stage-consistent with [[piiCounts]]; `keep` = n_pii <= maxSpans;
   * `text_redacted` = the redacted text for kept documents, NULL for
   * dropped ones — a dropped doc contributes no training text). One
   * scan-speed regex map, zero shuffle.
   */
  def piiPolicy(text: Column, maxSpans: Int = 5): Column = {
    require(maxSpans >= 0, s"maxSpans must be >= 0, got $maxSpans")
    val c = piiCounts(text)
    val n = (c.getField("n_emails") + c.getField("n_ips") +
      c.getField("n_phones")).cast("long")
    struct(
      n.as("n_pii"),
      (n <= maxSpans).as("keep"),
      when(n <= maxSpans, redactPii(text)).otherwise(lit(null).cast("string"))
        .as("text_redacted"))
  }

  // --- Compression-ratio quality signal ---------------------------------

  /** Deflate compression ratio of the text (see
    * [[expressions.DeflateRatio]] — the RedPajama-v2 / Dolma signal):
    * compressed/raw bytes at zlib level 6. NULL and empty text yield null
    * (unscorable). One codegen'd pass, scan-speed at 100 TB. */
  def compressionRatio(text: Column): Column =
    expressions.GraftExpressions.deflateRatio(coalesce(text, lit("")))

  /**
   * Band keep on [[compressionRatio]]: drop the too-compressible tail
   * (machine-repeated boilerplate the token-level rules can miss when the
   * repeat unit is long) AND the incompressible tail (hex dumps, base64,
   * minified blobs riding in a text column). Bounds are CORPUS POLICY —
   * the published pipelines ship the signal, not a universal cut (natural
   * prose lands ~0.3–0.6 at document length; the defaults bracket that
   * band and are q175-measured on the fixture corpus). Unscorable (empty)
   * docs FAIL the gate: nothing to train on.
   */
  def compressionKeep(text: Column, minRatio: Double = 0.20,
                      maxRatio: Double = 0.80): Column = {
    val r = compressionRatio(text)
    r.isNotNull && r >= minRatio && r <= maxRatio
  }

  // --- Fingerprinting & shingling --------------------------------------

  /** Content fingerprint: 128-bit hex digest of normalized text (lowercased,
    * whitespace-collapsed) — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** 64-bit fingerprint as a long (xxhash64 of normalized text) — cheaper
    * join key than the hex digest at 100 TB scale. */
  def fingerprint64(text: Column): Column =
    xxhash64(concat_ws(" ", tokens(text)))

  /**
   * Word k-shingles: overlapping windows of `k` consecutive tokens joined by
   * a space. Built from sequence+transform+slice — no UDF, no explode unless
   * the caller wants one. Documents shorter than k yield a single shingle of
   * the whole text.
   */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    when(size(toks) <= k, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** Hashed shingle set (distinct), the MinHash input domain. */
  def shingleHashes(text: Column, k: Int): Column =
    array_distinct(transform(shingles(text, k), s => xxhash64(s)))

  /**
   * Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03):
   * from an ORDERED k-gram hash array, keep the minimum of every sliding
   * window of `w` consecutive hashes, distinct. Guarantees at least one
   * shared fingerprint for any match of length >= w+k-1 tokens — the
   * standard local document-fingerprinting scheme (cheap, alignment-free).
   *
   * `grams` must be a materialized column (not an inline expression tree):
   * the per-window `slice` re-references it inside a HOF lambda, which is
   * exempt from subexpression elimination.
   */
  def winnowFromGramHashes(grams: Column, w: Int): Column =
    array_distinct(
      when(size(grams) <= w, array(array_min(grams)))
        .otherwise(transform(
          sequence(lit(1), size(grams) - (w - 1)),
          i => array_min(slice(grams, i, lit(w))))))

  // --- Normalization & learned-style scoring ---------------------------

  /** CCNet-style normalization (lowercase, NFKD accent strip, whitespace
    * collapse) via the native codegen [[expressions.NormalizeText]]
    * expression — the canonical dedup-preprocessing transform. NULL ≡ empty
    * (same contract as [[tokens]]). */
  def normalizeText(text: Column): Column =
    graft.functions.expressions.GraftExpressions
      .normalizeText(coalesce(text, lit("")))

  /** fastText-style linear quality score in (0, 1): `sigmoid(4 · mean
    * unigram+bigram feature weight)` over whitespace tokens, the hashed
    * linear-classifier shape (weights closed-form — see
    * [[expressions.HashedNgramScore]]). NULL for featureless (blank) text. */
  def hashedQualityScore(text: Column): Column = {
    val raw = graft.functions.expressions.GraftExpressions
      .hashedNgramScore(tokens(text))
    lit(1.0) / (lit(1.0) + exp(raw * lit(-4.0)))
  }
}
