package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions

import Shared._

/** Tokenizers: vocabulary coverage, fertility, BPE merges and fit, and
  * the unigram LM tokenizer. */
object Tokenizers extends Family {

  /** DuckDB BPE merge-learning CTEs: `k` UNROLLED iteration layers (an
    * iterative trainer has no closed form, so the oracle replays each
    * round — pair counts over the previous segmentation, the (cnt DESC,
    * lhs, rhs) argmax, and the same single-space-wrapped double-space
    * -boundary `replace` application [[operators.Tokenize]] uses; both
    * engines' `replace` scans left-to-right non-overlapping, and the
    * double boundary keeps repeated-symbol runs merging greedily).
    * Early-stop parity is structural: an empty argmax CTE empties every
    * later layer through its CROSS JOIN, exactly like the trainer's
    * break. */
  private def bpeLayersSql(k: Int, minCnt: Long): String = {
    // early-stop robustness (review fix): when b_i is empty (no pair
    // reaches minCnt), s_i CARRIES s_{i-1} forward via LEFT JOIN ON TRUE
    // instead of emptying through a CROSS JOIN — every later b_j stays
    // empty (same counts, same filter), so q177's merge table still ends
    // early, while q182's segmentation carry (the final s_k) matches the
    // early-stopped trainer instead of silently vanishing.
    val layers = (1 to k).map { i =>
      s"""p$i AS (SELECT pr.l AS lhs, pr.r AS rhs, sum(freq)::BIGINT AS cnt
         |  FROM (SELECT freq,
         |          unnest([{'l': sy[j], 'r': sy[j+1]}
         |                  for j in range(1, len(sy))]) AS pr
         |        FROM (SELECT freq, string_split(seg, '  ') AS sy
         |              FROM s${i - 1}))
         |  GROUP BY 1, 2),
         |b$i AS (SELECT lhs, rhs, cnt FROM p$i WHERE cnt >= $minCnt
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |s$i AS (SELECT word, freq,
         |  CASE WHEN b.lhs IS NULL THEN seg ELSE
         |    array_to_string(list_filter(string_split_regex(
         |      replace(' ' || seg || ' ', ' ' || b.lhs || '  ' || b.rhs || ' ',
         |              ' ' || b.lhs || b.rhs || ' '), ' +'), x -> x <> ''),
         |      '  ') END AS seg
         |  FROM s${i - 1} LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    s"""wds AS (SELECT word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest($toksSql) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |s0 AS (SELECT word, freq,
       |  array_to_string([word[i] for i in range(1, len(word)+1)], '  ')
       |    AS seg
       |  FROM wds),
       |${layers.mkString(",\n")}""".stripMargin
  }

  private def bpeCtesSql(k: Int, minCnt: Long): String = {
    val union = (1 to k).map { i =>
      s"SELECT $i AS merge_idx, lhs, rhs, lhs || rhs AS merged," +
        s" cnt AS pair_count FROM b$i"
    }.mkString("\nUNION ALL ")
    s"""${bpeLayersSql(k, minCnt)}
       |SELECT * FROM ($union) ORDER BY merge_idx""".stripMargin
  }

  /** Vocabulary coverage: the top-30 tokens by corpus frequency with each
    * prefix's cumulative share of all token occurrences — the statistic
    * behind vocabulary-size/tokenizer decisions (how much of the corpus
    * do the k most frequent words cover). Top-30 via TakeOrdered (never a
    * full-vocab single-partition window); the cumulative sum then runs
    * over 30 rows. */
  query("q111_vocab_coverage") { (s, dir) =>
    val counts = parallelize(t(s, dir, "documents"))
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).cast("double").as("tot"))
    val w = Window.orderBy(col("n").desc, col("tok"))
    counts
      .orderBy(col("n").desc, col("tok")).limit(30)
      .withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(total))
      .withColumn("cum_share", round(
        sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) / col("tot"), 6))
      .select(col("tok"), col("n"), col("rank"), col("cum_share"))
      .orderBy(col("rank"))
  } {
    s"""WITH tok AS (
       |  SELECT unnest(w) AS tok FROM (
       |    SELECT CASE WHEN trim(coalesce(text, '')) = ''
       |           THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |    FROM documents)),
       |c AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
       |tot AS (SELECT sum(n)::DOUBLE AS t FROM c),
       |r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok)
       |  AS rank FROM c)
       |SELECT tok, n, rank,
       |  round(sum(n) OVER (ORDER BY rank) / tot.t, 6) AS cum_share
       |FROM r, tot WHERE rank <= 30 ORDER BY rank""".stripMargin
  }

  /** Tokenizer fertility per language: BPE-ish tokens per whitespace
    * token, aggregated per lang — the statistic behind "which languages
    * does this tokenizer serve poorly" (high fertility = more sequence
    * length per word = worse compute economics for that language).
    * Composes q29's two exactly-mirrored counters; one partial+final
    * aggregation to |langs| rows; fertility is ONE division of two exact
    * sums, no float accumulation. */
  query("q144_tokenizer_fertility") { (s, dir) =>
    val txt = col("text")
    parallelize(t(s, dir, "documents"))
      .select(col("lang"),
        TextFunctions.tokenCount(txt).cast("long").as("n_tok"),
        TextFunctions.bpeTokenCount(txt).cast("long").as("n_bpe"))
      .filter(col("n_tok") > 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("ws_tokens"),
        sum(col("n_bpe")).as("bpe_tokens"),
        round(sum(col("n_bpe")).cast("double") / sum(col("n_tok")), 4)
          .as("fertility"))
      .orderBy(col("lang"))
  } {
    // q144 composes q29's two exactly-mirrored counters; fertility is
    // one division of two exact BIGINT sums.
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       |         ELSE len($toksSql) END AS BIGINT) AS n_tok,
       |    CAST(len(regexp_extract_all(coalesce(text,''),
       |      '(''(?:s|d|m|t|ll|ve|re))|([\\p{L}]+)|([0-9]{1,3})|([^\\s\\p{L}0-9]+)'))
       |      AS BIGINT) AS n_bpe
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |  sum(n_tok)::BIGINT AS ws_tokens,
       |  sum(n_bpe)::BIGINT AS bpe_tokens,
       |  round(sum(n_bpe)::DOUBLE / sum(n_tok), 4) AS fertility
       |FROM t WHERE n_tok > 0
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Distributed BPE merge learning ([[operators.Tokenize.bpeMerges]] —
    * Sennrich et al. 2016, arXiv:1508.07909; tokenizer induction, the
    * technique that turns a curated corpus into the vocabulary it will be
    * trained with): the corpus collapses to its vocab-bounded
    * word-frequency table, then each of the 8 merges is one pair-count
    * aggregate + argmax (count desc, lexicographic tie-break) + one
    * non-overlapping greedy merge application. FULL DuckDB oracle — 8
    * UNROLLED CTE layers replay the identical pair counts, argmax, and
    * the double-space-boundary `replace` application (the encoding that
    * makes single-pass string replace ≡ Sennrich's non-consuming
    * lookaround scan on repeated-symbol runs — pinned by TokenizeSpec
    * against a naive sequential reference). */
  query("q177_bpe_merges") { (s, dir) =>
    operators.Tokenize.bpeMerges(parallelize(t(s, dir, "documents")),
        "text", merges = 8, minPairCount = 2L)
      .orderBy(col("merge_idx"))
  } {
    // q177 recomputes BPE merge learning round by round: the vocab
    // word-frequency table, then 8 unrolled layers of pair counts,
    // tie-broken argmax, and the identical boundary-preserving replace.
    s"WITH ${bpeCtesSql(8, 2L)}"
  }

  /** BPE tokenizer fit per language ([[operators.Tokenize.bpeFit]] —
    * q177's learn → apply → measure loop closed, the way q174 closed
    * q170's): 8 merges learned on the whole corpus, the vocabulary
    * segmented once with the learned table, fertility
    * (symbols-per-word) and chars-per-symbol reported per language —
    * the learned-tokenizer upgrade of q144's fixed-regex fertility.
    * FULL DuckDB oracle: the q177 unrolled layers now CARRY each word's
    * segmentation, so the final layer IS the segmented vocabulary and
    * the report is exact-BIGINT ratio arithmetic on top. */
  query("q182_bpe_fit") { (s, dir) =>
    operators.Tokenize.bpeFit(parallelize(t(s, dir, "documents")),
        "text", "lang", merges = 8, minPairCount = 2L)
      .withColumnRenamed("grp", "lang")
      .orderBy(col("lang"))
  } {
    // q182 replays the q177 layers (word carried through), reads the
    // final layer as the segmented vocabulary, and recomputes the
    // per-language fit ratios from exact BIGINT sums.
    s"""WITH ${bpeLayersSql(8, 2L)},
       |seg AS (SELECT word, len(string_split(seg, '  '))::BIGINT AS n_sym
       |        FROM s8),
       |wl AS (SELECT lang, word, count(*)::BIGINT AS freq
       |  FROM (SELECT lang, unnest($toksSql) AS word FROM documents)
       |  WHERE word <> '' GROUP BY 1, 2)
       |SELECT wl.lang, sum(wl.freq)::BIGINT AS n_tokens,
       |  count(DISTINCT wl.word)::BIGINT AS vocab_words,
       |  round(sum(wl.freq * s.n_sym)::DOUBLE / sum(wl.freq), 4)
       |    AS symbols_per_word,
       |  round(sum(wl.freq * len(wl.word))::DOUBLE /
       |    sum(wl.freq * s.n_sym), 4) AS chars_per_symbol
       |FROM wl JOIN seg s USING (word)
       |GROUP BY wl.lang ORDER BY wl.lang""".stripMargin
  }

  /** PRODUCTION-scale BPE learning gated at fixture scale
    * ([[operators.Tokenize.bpeMergesLocal]] — the corpus still collapses
    * to its word-frequency table distributed, but the merge loop runs
    * driver-side with incremental pair maintenance, the shape every
    * published trainer uses, because 32k sequential one-job-per-merge
    * rounds would take days): with topV covering the fixture vocabulary
    * the learner is an EXACT drop-in for q177's distributed loop, so
    * q177's 8-layer unrolled DuckDB oracle gates it row for row —
    * same counts, argmaxes, tie-breaks, and early stop. What the path
    * buys at 32k merges (and the native [[operators.Tokenize.bpeEncode]]
    * apply that replaces 32k chained literal replaces) is priced by
    * SURVEY §6; TokenizeSpec pins local≡distributed parity
    * across seeds, the topV cap semantics, and encode equivalence. */
  query("q189_bpe_local") { (s, dir) =>
    operators.Tokenize.bpeMergesLocal(parallelize(t(s, dir, "documents")),
        "text", merges = 8, minPairCount = 2L)
      .orderBy(col("merge_idx"))
  } {
    // q189 is the PRODUCTION learner (driver-side merge loop over the
    // distributed word collapse) at full-vocab topV — an exact drop-in
    // for q177's algorithm, so the SAME unrolled oracle gates it.
    s"WITH ${bpeCtesSql(8, 2L)}"
  }

  /** Unigram-LM tokenizer training (Kudo 2018 —
    * [[operators.Tokenize.unigramFit]], the SentencePiece algorithm: the
    * OTHER canonical induction method next to q177/q189's BPE — seed
    * large, let a unigram LM's EM decide which pieces carry likelihood,
    * shrink). Same production shape as q189: distributed word collapse,
    * driver-side train loop over the vocab-bounded table. ENGINE-LOCAL
    * gate (an EM float loop has no SQL twin — the DeflateRatio
    * convention): verdict rows pin that the learned table IS a
    * probability distribution (mass within 1e-6 of 1), that pruning hit
    * the vocab target while keeping EVERY corpus code point (the
    * paper's coverage rule), that at least one multi-codepoint piece
    * was actually learned, and that Viterbi-segmenting every distinct
    * corpus word reconstructs it exactly from in-table pieces (zero
    * unknown fallbacks). The distinct-word frame is vocab-bounded, so
    * the gate never collects corpus-sized data. TokenizeSpec pins the
    * trainer against an ENUMERATIVE EM reference (every segmentation of
    * every word, no lattice) across seeds, and the Viterbi encoder
    * against exhaustive argmax. */
  query("q191_unigram_fit") { (s, dir) =>
    import s.implicits._
    val docs = parallelize(t(s, dir, "documents"))
    val table = operators.Tokenize.unigramFit(docs, "text",
        vocabSize = 64, maxPieceLen = 6, seedSize = 512)
      .orderBy(col("piece_rank")).collect()
      .map(r => (r.getString(1), r.getDouble(3))).toSeq
    val mass = table.map(p => math.exp(p._2)).sum
    val tableSingles = table.map(_._1)
      .filter(p => p.codePointCount(0, p.length) == 1).toSet
    val nMulti = table.size - tableSingles.size
    val words = operators.OpCache.track(docs
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").distinct().persist())
    val wantSingles = words.as[String].collect()
      .flatMap(w => w.codePoints().toArray.map(cp =>
        new String(Character.toChars(cp)))).toSet
    val segd = words.select(col("w"),
      operators.Tokenize.unigramSegment(col("w"), table).as("s"))
    val badRecon = segd.filter(concat_ws("", col("s")) =!= col("w")).count()
    val badPiece = segd.select(explode(col("s")).as("p"))
      .filter(!col("p").isInCollection(table.map(_._1))).count()
    Gate.verdict(s)(
      ("uni_prob_mass", 1e-6, math.abs(mass - 1.0) <= 1e-6),
      ("uni_vocab_target", 64.0,
        table.size <= math.max(64, wantSingles.size) &&
          tableSingles == wantSingles),
      ("uni_learned_multis", 1.0, nMulti >= 1),
      ("uni_reconstruction", 0.0, badRecon == 0L && badPiece == 0L))
  } {
    // q191 is engine-local (EM float loop — the DeflateRatio
    // convention): the oracle pins the literal verdict rows; the
    // trainer itself is TokenizeSpec-gated against an enumerative EM
    // reference.
    """SELECT * FROM (VALUES
      |  ('uni_learned_multis', CAST(1.0 AS DOUBLE), TRUE),
      |  ('uni_prob_mass', CAST(1e-6 AS DOUBLE), TRUE),
      |  ('uni_reconstruction', CAST(0.0 AS DOUBLE), TRUE),
      |  ('uni_vocab_target', CAST(64.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }
}
