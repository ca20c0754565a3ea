package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/**
 * Tokenizer induction: distributed byte-pair-encoding merge learning
 * (Sennrich, Haddow & Birch 2016, arXiv:1508.07909 — the vocabulary
 * algorithm behind GPT-2/LLaMA-family tokenizers). Absent from the
 * reference (stepist has no text operators — handlers are user Python,
 * `stepist/app.py:116-141`); a training-data engine needs it because the
 * tokenizer IS learned from the corpus the engine curates.
 *
 * Scale shape: the corpus collapses to its WORD-FREQUENCY table first
 * (one shuffle, vocab-bounded — a 100 TB corpus has a few-hundred-million
 *-row vocab, the same "model tables are vocab-bounded" posture as q103's
 * bigram LM), and every merge iteration is one map + one pair-count
 * aggregate over that table. Document text never re-enters the loop. The
 * per-iteration argmax ships ONE row to the driver — the merge table is
 * driver-sized by definition (every published BPE trainer centralizes
 * exactly this decision), and the segmentation frame is re-materialized
 * per iteration ([[OpCache.materialize]]) so lineage stays flat.
 */
object Tokenize {

  /** Canonical segmentation encoding: symbols joined by TWO spaces, so a
    * merge applies as ONE non-overlapping left-to-right `replace` of
    * `" a  b "` with `" ab "` on the single-space-wrapped string. The
    * double boundary is load-bearing: each match consumes only one space
    * from each flank, so back-to-back occurrences (`a a a a` under merge
    * (a,a)) still match exactly like the reference implementation's
    * non-consuming lookaround scan (Sennrich's `(?<!\S)a b(?!\S)` re.sub)
    * — a single-space join would lose the second match's leading
    * boundary to the first match and under-merge runs. Symbols are
    * whitespace-free by construction (words are whitespace tokens), so
    * the encoding is unambiguous. The DuckDB oracle replays the same
    * wrap/replace/re-split, making the semantics engine-pinned.
    */
  private val SymSep = "  "

  private def renormalize(replaced: Column): Column =
    array_join(filter(split(replaced, " +"), s => s =!= ""), SymSep)

  /**
   * Learn the first `merges` BPE merge operations from the corpus.
   *
   * Returns the merge table — one row per learned merge, in order:
   * (`merge_idx` 1-based, `lhs`, `rhs`, `merged` = lhs+rhs,
   * `pair_count` = corpus-weighted adjacent-pair frequency at the time
   * the merge was chosen). Ties on the count break lexicographically on
   * (lhs, rhs) so the table is deterministic on any cluster. Learning
   * stops early when no adjacent pair reaches `minPairCount` (the merge
   * table simply ends); words are [[TextFunctions.tokens]] whitespace
   * tokens (lowercased, NULL ≡ empty), weighted by corpus frequency, and
   * seeded with their character segmentation. No end-of-word marker is
   * appended — merges never cross word boundaries because pairs are
   * generated within each word's symbol array only, which is the
   * property the `</w>` marker exists to enforce in string-concatenating
   * implementations.
   */
  def bpeMerges(docs: DataFrame, textCol: String, merges: Int,
                minPairCount: Long = 2L): DataFrame = {
    require(merges >= 1 && merges <= 256,
      s"merges must be in [1, 256], got $merges")
    require(minPairCount >= 1L, s"minPairCount must be >= 1, got $minPairCount")
    val spark = docs.sparkSession
    import spark.implicits._

    // corpus → word-frequency table (the only pass over document text)
    val words = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

    // seed segmentation: one symbol per character
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    // each iteration materializes its segmentation and releases the
    // previous one immediately — peak cache is ONE vocab-sized frame, not
    // `merges` of them (the last handle is left for OpCache.release())
    var (segs, segsRdd, _) = OpCache.materializeHandle(
      words.select(col("freq"), array_join(chars, SymSep).as("seg")))

    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= merges && !exhausted) {
      val sy = split(col("seg"), " {2}")
      val best = segs
        .select(col("freq"), explode(arrays_zip(
          slice(sy, lit(1), size(sy) - 1).as("l"),
          slice(sy, lit(2), size(sy) - 1).as("r"))).as("pr"))
        .groupBy(col("pr.l").as("lhs"), col("pr.r").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .filter(col("cnt") >= minPairCount)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val l = best(0).getString(0)
        val r = best(0).getString(1)
        val c = best(0).getLong(2)
        learned += ((it, l, r, l + r, c))
        val applied = renormalize(replace(
          concat(lit(" "), col("seg"), lit(" ")),
          lit(s" $l$SymSep$r "), lit(s" $l$r ")))
        val (next, nextRdd, _) =
          OpCache.materializeHandle(segs.select(col("freq"), applied.as("seg")))
        segsRdd.unpersist(blocking = false)
        segs = next
        segsRdd = nextRdd
        it += 1
      }
    }
    OpCache.trackRdd(segsRdd)
    learned.toSeq.toDF("merge_idx", "lhs", "rhs", "merged", "pair_count")
  }

  /** Spark string ORDER BY compares unsigned UTF-8 bytes, which is
    * CODE-POINT order; Java's String.compareTo is UTF-16 code-unit
    * order, which disagrees above the BMP (surrogates sort below
    * U+E000..U+FFFF). The driver-side learner tie-breaks with this so
    * its argmax matches [[bpeMerges]]' `orderBy` exactly. */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private def toCodePoints(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val n = Character.charCount(s.codePointAt(i))
      out += s.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /**
   * Learn BPE merges at PRODUCTION merge counts — the [[bpeMerges]]
   * algorithm with the per-merge coordination moved driver-side (what
   * HF `tokenizers` and every published BPE trainer do): the corpus
   * still collapses to its word-frequency table DISTRIBUTED (the only
   * pass over document text), but the table is then capped to the
   * `topV` most frequent words (freq desc, word — a TakeOrdered, never
   * a global sort) and collected, and the merge loop runs in driver
   * memory with incremental pair-count maintenance — a TreeSet argmax
   * plus per-affected-word deltas, so each merge costs O(affected
   * words), not one Spark job. Measured (SURVEY §6, 500k
   * docs / 8k-word vocab): learning to the corpus's 10,152-merge
   * exhaustion point adds ~1-2 s of driver time to the ~10 s
   * distributed collapse — the whole run prices like ONE [[bpeMerges]]
   * iteration, where a one-job-per-merge 32k loop would take days.
   *
   * EXACT-parity contract with [[bpeMerges]] when `topV` covers the
   * vocabulary (TokenizeSpec gates this on fixtures, q189 on the
   * corpus): same overlapping-adjacency counts weighted by word
   * frequency, same (count desc, lhs, rhs) tie-break in UTF-8
   * code-point order ([[cpCompare]] — Spark's ORDER BY order, not
   * Java's UTF-16 order), same left-to-right non-overlapping merge
   * application, same `minPairCount` early stop. The `topV` cap is
   * CORPUS POLICY (the standard escape for a few-hundred-million-row
   * 100 TB vocab: tail words contribute negligible pair mass — HF's
   * `vocab_size`/min-frequency truncation); parity holds exactly
   * whenever no capped word would have changed a chosen pair's count
   * ordering.
   *
   * Same output schema as [[bpeMerges]].
   */
  def bpeMergesLocal(docs: DataFrame, textCol: String, merges: Int,
                     minPairCount: Long = 2L,
                     topV: Int = 1 << 16): DataFrame = {
    require(merges >= 1 && merges <= 65536,
      s"merges must be in [1, 65536], got $merges")
    require(minPairCount >= 1L,
      s"minPairCount must be >= 1, got $minPairCount")
    require(topV >= 1, s"topV must be >= 1, got $topV")
    val spark = docs.sparkSession
    import spark.implicits._

    val vocab: Array[(String, Long)] = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(topV)
      .as[(String, Long)].collect()

    import scala.collection.mutable
    val words: Array[Array[String]] = vocab.map(v => toCodePoints(v._1))
    val freqs: Array[Long] = vocab.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      var j = 0
      while (j < w.length - 1) {
        val p = (w(j), w(j + 1))
        counts.update(p, counts.getOrElse(p, 0L) + freqs(wi))
        where.getOrElseUpdate(p, mutable.HashSet.empty) += wi
        j += 1
      }
      wi += 1
    }
    implicit val heapOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String),
                    y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1) // count DESC
          if (c != 0) return c
          val l = cpCompare(x._2, y._2)
          if (l != 0) l else cpCompare(x._3, y._3)
        }
      }
    val heap = mutable.TreeSet.empty[(Long, String, String)]
    counts.foreach { case ((l, r), c) => heap += ((c, l, r)) }

    val learned = mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var it = 1
    var done = false
    while (it <= merges && !done) {
      if (heap.isEmpty || heap.head._1 < minPairCount) done = true
      else {
        val (cnt, l, r) = heap.head
        learned += ((it, l, r, l + r, cnt))
        val deltas = mutable.HashMap.empty[(String, String), Long]
        def bump(p: (String, String), d: Long): Unit =
          deltas.update(p, deltas.getOrElse(p, 0L) + d)
        val affected = where.getOrElse((l, r), mutable.HashSet.empty).toArray
        for (ai <- affected) {
          val old = words(ai)
          val f = freqs(ai)
          var j = 0
          while (j < old.length - 1) { bump((old(j), old(j + 1)), -f); j += 1 }
          val nw = mutable.ArrayBuffer.empty[String]
          j = 0
          while (j < old.length) {
            if (j + 1 < old.length && old(j) == l && old(j + 1) == r) {
              nw += l + r; j += 2
            } else { nw += old(j); j += 1 }
          }
          val neu = nw.toArray
          words(ai) = neu
          j = 0
          while (j < neu.length - 1) { bump((neu(j), neu(j + 1)), f); j += 1 }
          // membership upkeep: drop this word from pairs it no longer
          // contains, add it to the ones the merge created
          val oldSet = old.indices.dropRight(1)
            .map(k => (old(k), old(k + 1))).toSet
          val newSet = neu.indices.dropRight(1)
            .map(k => (neu(k), neu(k + 1))).toSet
          (oldSet diff newSet).foreach { p =>
            where.get(p).foreach { s =>
              s -= ai
              if (s.isEmpty) where.remove(p)
            }
          }
          (newSet diff oldSet).foreach { p =>
            where.getOrElseUpdate(p, mutable.HashSet.empty) += ai
          }
        }
        deltas.foreach { case (p, d) =>
          if (d != 0L) {
            val oldC = counts.getOrElse(p, 0L)
            val newC = oldC + d
            if (oldC > 0L) heap -= ((oldC, p._1, p._2))
            if (newC > 0L) {
              counts.update(p, newC)
              heap += ((newC, p._1, p._2))
            } else counts.remove(p)
          }
        }
        it += 1
      }
    }
    learned.toSeq.toDF("merge_idx", "lhs", "rhs", "merged", "pair_count")
  }

  /**
   * Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 — the
   * SentencePiece unigram model, the OTHER canonical induction
   * algorithm next to [[bpeMerges]]' BPE: instead of growing a merge
   * table bottom-up, START from a large seed inventory and shrink it,
   * keeping the pieces a unigram language model finds most useful; the
   * probabilistic segmentation this trains is what subword
   * regularization samples from). The [[bpeMergesLocal]] shape: the
   * corpus collapses DISTRIBUTED to its top-V word-frequency table (the
   * only corpus-sized pass), and the train loop runs driver-side over
   * the vocab-bounded table.
   *
   * Faithful to the paper where it specifies, documented where it
   * leaves freedom:
   *  - Seed = the `seedSize` highest-frequency substrings up to
   *    `maxPieceLen` code points (frequency-weighted occurrence counts,
   *    ties broken in UTF-8 code-point order), plus ALL single code
   *    points (coverage, §3.2 — singles are never pruned).
   *  - E-step = exact forward–backward over each word's segmentation
   *    lattice (soft EM — expected piece counts over ALL segmentations,
   *    log-sum-exp arithmetic), frequency-weighted; M-step = count
   *    normalization with an add-`smoothing` floor (the q180 add-one
   *    posture: pure-MLE EM is winner-take-all for redundant pieces and
   *    underflows unused coverage singles to exactly zero — the floor
   *    keeps every retained piece scoreable). TokenizeSpec pins the
   *    lattice against an exhaustive enumeration of every segmentation
   *    on seeded fixtures.
   *  - Pruning: the paper removes the pieces whose removal least hurts
   *    the likelihood; this implementation prunes by LOWEST EXPECTED
   *    COUNT (the standard reimplementation simplification — a piece
   *    the E-step barely uses cannot carry likelihood), `shrinkFactor`
   *    of the multi-cp surplus per round, ≥1 per round, with `emIters`
   *    EM steps between rounds, until ≤ `vocabSize` pieces remain.
   *
   * Everything is deterministic: words iterate in the collected
   * (freq DESC, word) order, pieces in code-point order, so the learned
   * doubles are bit-identical on every run and cluster. Measured
   * (SURVEY §6, 500k docs / 8k-word vocab): the full
   * seed→EM→prune→EM descent to a 4096-piece vocabulary runs in ~15 s
   * total, ~10 s of which is the distributed collapse; the native
   * Viterbi encode of the whole distinct vocabulary adds ~12 s. Returns one row
   * per surviving piece: (`piece_rank` by prob DESC with code-point
   * tie-break, `piece`, `n_cp`, `logp` rounded at 1e-9 — the display
   * rounding; ranking uses the exact doubles).
   *
   * Encode with [[unigramSegment]] (native Viterbi — one DP per word,
   * vocab-bounded when applied distinct-word-first like [[bpeFit]]).
   */
  def unigramFit(docs: DataFrame, textCol: String, vocabSize: Int,
                 maxPieceLen: Int = 8, seedSize: Int = 4096,
                 emIters: Int = 2, shrinkFactor: Double = 0.25,
                 smoothing: Double = 0.1,
                 topV: Int = 1 << 16): DataFrame = {
    require(smoothing > 0.0,
      s"smoothing must be positive, got $smoothing")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1 && maxPieceLen <= 32,
      s"maxPieceLen in [1, 32], got $maxPieceLen")
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    require(emIters >= 1 && emIters <= 32,
      s"emIters in [1, 32], got $emIters")
    require(shrinkFactor > 0.0 && shrinkFactor < 1.0,
      s"shrinkFactor in (0, 1), got $shrinkFactor")
    val spark = docs.sparkSession
    import spark.implicits._

    val vocab: Array[(String, Long)] = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(topV)
      .as[(String, Long)].collect()
    require(vocab.nonEmpty, "unigramFit on an empty corpus")

    import scala.collection.mutable
    val words: Array[Array[String]] = vocab.map(v => toCodePoints(v._1))
    val freqs: Array[Long] = vocab.map(_._2)

    // ---- seed inventory --------------------------------------------
    val subCount = mutable.HashMap.empty[String, Long]
    for (wi <- words.indices) {
      val w = words(wi)
      for (i <- w.indices; l <- 1 to math.min(maxPieceLen, w.length - i))
        subCount.update(w.slice(i, i + l).mkString,
          subCount.getOrElse(w.slice(i, i + l).mkString, 0L) + freqs(wi))
    }
    val singles = subCount.keys.filter(p => p.codePointCount(0, p.length) == 1)
      .toArray.sortWith(cpCompare(_, _) < 0)
    val multisSeed = subCount.iterator
      .filter(kv => kv._1.codePointCount(0, kv._1.length) > 1)
      .toArray
      .sortWith { case ((p1, c1), (p2, c2)) =>
        if (c1 != c2) c1 > c2 else cpCompare(p1, p2) < 0 }
      .take(math.max(0, seedSize - singles.length))
      .map(_._1)
    // canonical piece order: code-point order, stable across runs
    var pieces: Array[String] =
      (singles ++ multisSeed).sortWith(cpCompare(_, _) < 0)
    var logp: mutable.HashMap[String, Double] = {
      val tot = pieces.iterator.map(subCount(_)).sum.toDouble
      mutable.HashMap.from(pieces.iterator.map(p =>
        p -> math.log(subCount(p) / tot)))
    }

    def logSumExp(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val m = math.max(a, b); m + math.log(math.exp(a - m) +
        math.exp(b - m)) }

    /** One soft-EM pass: expected piece counts over every word lattice. */
    def emStep(): mutable.HashMap[String, Double] = {
      val counts = mutable.HashMap.empty[String, Double]
      for (wi <- words.indices) {
        val w = words(wi)
        val n = w.length
        val fwd = Array.fill(n + 1)(Double.NegativeInfinity)
        val bwd = Array.fill(n + 1)(Double.NegativeInfinity)
        fwd(0) = 0.0
        for (i <- 1 to n; j <- math.max(0, i - maxPieceLen) until i) {
          val lp = logp.get(w.slice(j, i).mkString)
          if (lp.isDefined && fwd(j) != Double.NegativeInfinity)
            fwd(i) = logSumExp(fwd(i), fwd(j) + lp.get)
        }
        bwd(n) = 0.0
        for (j <- n - 1 to 0 by -1;
             i <- j + 1 to math.min(n, j + maxPieceLen)) {
          val lp = logp.get(w.slice(j, i).mkString)
          if (lp.isDefined && bwd(i) != Double.NegativeInfinity)
            bwd(j) = logSumExp(bwd(j), lp.get + bwd(i))
        }
        val z = fwd(n)
        if (z != Double.NegativeInfinity) {
          for (i <- 1 to n; j <- math.max(0, i - maxPieceLen) until i) {
            val s = w.slice(j, i).mkString
            val lp = logp.get(s)
            if (lp.isDefined && fwd(j) != Double.NegativeInfinity &&
                bwd(i) != Double.NegativeInfinity) {
              val post = math.exp(fwd(j) + lp.get + bwd(i) - z)
              counts.update(s, counts.getOrElse(s, 0.0) + post * freqs(wi))
            }
          }
        }
      }
      counts
    }

    def mStep(counts: mutable.HashMap[String, Double]): Unit = {
      // iterate in the canonical piece order so the total folds
      // identically on every run. Add-alpha smoothing (the q180
      // add-one posture): pure-MLE EM is winner-take-all for redundant
      // pieces, and on a small-vocabulary corpus the repeated EM passes
      // between prune rounds drive unused COVERAGE SINGLES' expected
      // counts to exact 0 by underflow — a floor keeps every retained
      // piece scoreable, which is the contract the singles exist for.
      val tot = pieces.iterator.map(counts.getOrElse(_, 0.0)).sum
      val denom = tot + smoothing * pieces.length
      logp = mutable.HashMap.from(pieces.iterator.map { p =>
        p -> math.log((counts.getOrElse(p, 0.0) + smoothing) / denom)
      })
    }

    var lastCounts = mutable.HashMap.empty[String, Double]
    for (_ <- 1 to emIters) { lastCounts = emStep(); mStep(lastCounts) }
    var nMulti = pieces.count(p => p.codePointCount(0, p.length) > 1)
    val nSingles = pieces.length - nMulti
    while (pieces.length > math.max(vocabSize, nSingles)) {
      val surplus = pieces.length - math.max(vocabSize, nSingles)
      val drop = math.max(1, math.min(surplus,
        (nMulti * shrinkFactor).toInt))
      val victims = pieces.iterator
        .filter(p => p.codePointCount(0, p.length) > 1)
        .toArray
        .sortWith { case (p1, p2) =>
          val c1 = lastCounts.getOrElse(p1, 0.0)
          val c2 = lastCounts.getOrElse(p2, 0.0)
          if (c1 != c2) c1 < c2 else cpCompare(p1, p2) < 0 }
        .take(drop).toSet
      pieces = pieces.filterNot(victims)
      nMulti -= victims.size
      for (_ <- 1 to emIters) { lastCounts = emStep(); mStep(lastCounts) }
    }

    val rows = pieces
      .map(p => (p, logp(p)))
      .sortWith { case ((p1, l1), (p2, l2)) =>
        if (l1 != l2) l1 > l2 else cpCompare(p1, p2) < 0 }
      .zipWithIndex
      .map { case ((p, l), i) =>
        (i + 1, p, p.codePointCount(0, p.length),
          BigDecimal(l).setScale(9, BigDecimal.RoundingMode.HALF_UP)
            .toDouble) }
    rows.toSeq.toDF("piece_rank", "piece", "n_cp", "logp")
  }

  /**
   * Viterbi segmentation of `word` with a learned unigram table — the
   * encode face of [[unigramFit]] (native
   * [[graft.functions.expressions.UnigramEncodeExpr]]: one DP per word,
   * longest-final-piece tie-break). `table` = (piece, logp) rows. NULL
   * and empty words yield an empty array ([[bpeEncode]]'s contract).
   */
  def unigramSegment(word: Column, table: Seq[(String, Double)]): Column = {
    val t = new graft.functions.expressions.UnigramTable(
      table.map(_._1).toArray, table.map(_._2).toArray)
    coalesce(
      graft.functions.expressions.GraftExpressions.unigramEncode(word, t),
      array().cast("array<string>"))
  }

  /**
   * Tokenizer-fit report: learn `merges` BPE merges from the corpus
   * ([[bpeMerges]]), segment the vocabulary with the learned table
   * ([[bpeSegment]]), and report per `groupCol` how well the tokenizer
   * fits — `symbols_per_word` (fertility: the per-language
   * tokens-per-word a training-budget planner multiplies by, the
   * learned-tokenizer upgrade of q144's fixed-regex proxy; languages the
   * merges under-serve show higher fertility) and `chars_per_symbol`
   * (mean compression per emitted symbol). The learn→apply→measure loop
   * closed, like q174 closed q170's allocator.
   *
   * Scale shape: two corpus scans (the trainer's word collapse + the
   * per-group frequency collapse), after which everything is
   * vocab-bounded: each DISTINCT word segments exactly once (the merge
   * table rides as one [[bpeEncode]] reference object) and joins back to the
   * per-group frequencies; all ratios are exact BIGINT sums divided
   * once, so both engines print identical rounded values.
   */
  def bpeFit(docs: DataFrame, textCol: String, groupCol: String,
             merges: Int, minPairCount: Long = 2L): DataFrame = {
    val table = bpeMerges(docs, textCol, merges, minPairCount)
      .orderBy(col("merge_idx")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val wf = docs
      .select(col(groupCol).as("grp"),
        explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("grp"), col("word")).agg(count(lit(1)).as("freq"))
    val seg = wf.select(col("word")).distinct()
      .withColumn("n_sym", size(bpeEncode(col("word"), table)).cast("long"))
    wf.join(seg, Seq("word"))
      .groupBy(col("grp"))
      .agg(sum(col("freq")).as("n_tokens"),
        countDistinct(col("word")).as("vocab_words"),
        round(sum(col("freq") * col("n_sym")) / sum(col("freq")), 4)
          .as("symbols_per_word"),
        round(sum(col("freq") * length(col("word")).cast("long")) /
          sum(col("freq") * col("n_sym")), 4).as("chars_per_symbol"))
  }

  /**
   * Deterministic T5-style span corruption (Raffel et al. 2020 §3.1.4 —
   * the denoising pretraining objective's DATA-PREP side: replace token
   * spans with numbered sentinels, emit the masked spans as the target).
   * The paper corrupts 15% of tokens in mean-length-3 spans with an RNG;
   * the reproducible-at-scale form here masks one `spanLen` span per
   * `windowTokens` window (3/20 = the same 15%) at an md5-derived offset
   * — same row → same mask on any cluster, any partition order, any
   * rerun (the [[Curate.sampleKey]] posture), with `salt` to redraw.
   * Windows shorter than `spanLen` (the doc tail) are left unmasked.
   *
   * Output per document: `input_text` (tokens with span w replaced by
   * `<extra_id_w>`), `target_text` (each sentinel + its masked tokens,
   * closed by the final sentinel, T5's format), plus token/span counts.
   * Sentinel ids are window indices, so they are consecutive whether or
   * not the tail window masks. Empty docs emit an empty input and the
   * bare closing sentinel.
   *
   * Scale shape: pure per-row column expressions over one bound token
   * array — zero shuffle, zero state, linear scan at any corpus size.
   */
  def spanCorrupt(docs: DataFrame, textCol: String, idCol: String,
                  windowTokens: Int = 20, spanLen: Int = 3,
                  salt: String = ""): DataFrame = {
    require(windowTokens > spanLen && spanLen >= 1,
      s"need windowTokens > spanLen >= 1, got $windowTokens/$spanLen")
    val toks = TextFunctions.tokens(col(textCol))
    val n = size(toks)
    val W = lit(windowTokens)
    val L = lit(spanLen)
    def wsize(w: Column) = least(W, n - w * W)
    def sstart(w: Column) = w * W + pmod(
      Curate.md5PrefixLong(concat(col(idCol).cast("string"), lit("_"),
        w.cast("string"), lit(salt)), 6).cast("int"),
      wsize(w) - L + 1)
    def sentinel(k: Column) =
      concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    def tokAt(i: Column) = element_at(toks, i + 1)
    // guard: Spark's sequence(0, -1) counts DOWN, so empty docs need an
    // explicit empty index range
    def idxTo(hi: Column) = when(hi <= 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), hi - 1))

    val inputToks = filter(transform(idxTo(n), i => {
      val w = (i / W).cast("int")
      val s = sstart(w)
      when(wsize(w) < L, tokAt(i))
        .when(i === s, sentinel(w))
        .when(i > s && i < s + L, lit(null).cast("string"))
        .otherwise(tokAt(i))
    }), x => x.isNotNull)
    val nWin = ((n + lit(windowTokens - 1)) / W).cast("int")
    val maskedWins = filter(idxTo(nWin), w => wsize(w) >= L)
    val targetToks = concat(
      flatten(transform(maskedWins, w =>
        concat(array(sentinel(w)), slice(toks, sstart(w) + 1, L)))),
      array(sentinel(size(maskedWins))))

    docs.select(col(idCol), n.cast("long").as("n_tokens"),
      size(maskedWins).cast("long").as("n_spans"),
      size(inputToks).cast("long").as("n_input_tokens"),
      array_join(inputToks, " ").as("input_text"),
      array_join(targetToks, " ").as("target_text"))
  }

  /**
   * Segment `word` (a single whitespace-free token) with an already
   * learned merge table, applied in merge order — the ENCODE side of BPE
   * (training-time segmentation of new text with a frozen vocabulary).
   * Pure column expression: the merge table arrives as in-order (lhs,
   * rhs) literals, each applied as the same wrap/replace/re-join pass
   * the trainer used, so encode(train corpus) reproduces the trainer's
   * final segmentation exactly (TokenizeSpec-gated). Returns the symbol
   * array. Merge count is vocabulary-sized (bounded), so the expression
   * tree is bounded — at a production 32k vocab, segment once and STORE
   * the symbols next to the text instead of re-deriving per query.
   */
  def bpeSegment(word: Column, merges: Seq[(String, String)]): Column = {
    val seed = array_join(
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
      SymSep)
    val applied = merges.foldLeft(seed) { case (seg, (l, r)) =>
      renormalize(replace(concat(lit(" "), seg, lit(" ")),
        lit(s" $l$SymSep$r "), lit(s" $l$r ")))
    }
    when(word.isNull || word === "", array().cast("array<string>"))
      .otherwise(split(applied, " {2}"))
  }

  /**
   * [[bpeSegment]] at PRODUCTION merge counts: the same sequential
   * table application as ONE native codegen'd loop
   * ([[graft.functions.expressions.BpeEncodeExpr]]) instead of a
   * `merges`-deep chained-replace expression tree — identical output
   * at any table size (TokenizeSpec pins the equivalence against
   * bpeSegment and the trainer's own segmentation), but a 32k-merge
   * table stays one references-array object instead of 32k literal
   * layers that would blow the codegen method-size limit. NULL and
   * empty words yield an empty array, exactly like [[bpeSegment]].
   */
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column = {
    val table = new graft.functions.expressions.BpeMergeTable(
      merges.map(_._1).toArray, merges.map(_._2).toArray)
    coalesce(
      graft.functions.expressions.GraftExpressions.bpeEncode(word, table),
      array().cast("array<string>"))
  }
}
