package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("v")).collect().head.getAs[T]("v")

  test("tokens: lowercases, splits on runs of whitespace, empty-safe") {
    val df = Seq("  Hello   WORLD\tfoo ", "", "one").toDF("text")
    val out = df.select(tokens($"text").as("t")).as[Seq[String]].collect()
    assert(out(0) == Seq("hello", "world", "foo"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq("one"))
  }

  test("tokenCount and wordOccurrences") {
    assert(one[Int](tokenCount($"text"), "a b  c") == 3)
    assert(one[Int](tokenCount($"text"), "") == 0)
    assert(one[Int](wordOccurrences($"text", "python"),
      "I love Python and python scripts") == 2)
  }

  test("bpeTokenCount segments letters/digits/punct separately") {
    // "hello world 123, it's" → hello|world|123|,|it|'s = 6
    assert(one[Int](bpeTokenCount($"text"), "hello world 123, it's") == 6)
    assert(one[Int](bpeTokenCount($"text"), "") == 0)
  }

  test("langId picks the language with most stopword hits") {
    val cases = Seq(
      "the cat sat on the mat and it was happy" -> "en",
      "der hund und die katze sind nicht mit ihm" -> "de",
      "le chat est dans la maison avec les enfants" -> "fr",
      "el perro y los gatos son para este niño" -> "es",
      "xyzzy qwerty asdf" -> "und")
    cases.foreach { case (text, expected) =>
      assert(one[String](langId($"text"), text) == expected, s"for: $text")
    }
  }

  test("quality components are in [0,1] and score rewards clean prose") {
    val good = "the quick brown fox jumps over the lazy dog and it was good"
    val junk = "@@@ ### !!! $$$ %%% ^^^ &&&"
    val gq = one[Double](qualityScore($"text"), good)
    val jq = one[Double](qualityScore($"text"), junk)
    assert(gq > jq)
    assert(gq >= 0.0 && gq <= 1.0 && jq >= 0.0 && jq <= 1.0)
    assert(one[Double](punctRatio($"text"), "a,b.") == 0.5)
    assert(one[Double](alphaRatio($"text"), "ab12") == 0.5)
  }

  test("fingerprint is whitespace/case-normalized; fingerprint64 matches") {
    val df = Seq(("Hello  World", "hello world"), ("a b", "a c")).toDF("t1", "t2")
    val rows = df.select(
      (fingerprint($"t1") === fingerprint($"t2")).as("md5eq"),
      (fingerprint64($"t1") === fingerprint64($"t2")).as("xxeq")).collect()
    assert(rows(0).getBoolean(0) && rows(0).getBoolean(1))
    assert(!rows(1).getBoolean(0) && !rows(1).getBoolean(1))
  }

  test("shingles: sliding windows, whole-text fallback when short") {
    val df = Seq("a b c d", "a b").toDF("text")
    val out = df.select(shingles($"text", 3).as("s")).as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq("a b")) // shorter than k → single whole-text shingle
    // the edge strings the DuckDB oracle fragments reproduce exactly
    val edge = Seq(None, Some(""), Some("x y"), Some("x y z"),
        Some("\tx y z w")).toDF("text")
      .select(shingles($"text", 3)).as[Seq[String]].collect().toSeq
    assert(edge == Seq(
      Seq(""),                         // NULL ≡ empty text
      Seq(""),                         // empty → one empty shingle
      Seq("x y"),                      // fewer than k tokens → whole text
      Seq("x y z"),                    // exactly k tokens → one window
      Seq(" x y", "x y z", "y z w")))  // tokens' tab-edge KNOWN QUIRK
  }

  test("winnowing: shared run of >= w+k-1 tokens guarantees a shared fingerprint") {
    val k = 3; val w = 4
    // two docs sharing a (w+k-1)=6-token run inside different surroundings
    val shared = "one two three four five six"
    val df = Seq(
      (1, s"alpha beta $shared gamma delta"),
      (2, s"zz yy xx ww $shared vv uu"),
      (3, "completely different words entirely here now")).toDF("id", "text")
    val fps = df
      .select($"id", transform(shingles($"text", k), g => md5(g)).as("gh"))
      .select($"id", winnowFromGramHashes($"gh", w).as("fps"))
      .as[(Int, Seq[String])].collect().toMap
    assert((fps(1).toSet & fps(2).toSet).nonEmpty,
      "docs sharing a w+k-1 run must share a winnowed fingerprint")
    assert((fps(1).toSet & fps(3).toSet).isEmpty)
    // selection is a subset of the gram hashes, never larger than gram count
    val nGrams = df.filter($"id" === 1)
      .select(size(shingles($"text", k))).as[Int].head()
    assert(fps(1).size <= nGrams)
  }

  test("repetition scores flag repeated n-grams (Gopher-style fractions)") {
    val df = Seq(
      (1L, "a a a b"),        // 2-grams: "a a","a a","a b" -> dup 2/3, top 2/3
      (2L, "x y z w"),        // all distinct -> dup 0, top 1/3
      (3L, "spam spam spam spam"), // "spam spam" x3 -> dup 1, top 1
      (4L, "solo")            // short doc -> single whole-text gram
    ).toDF("doc_id", "text")
    val out = graft.operators.TextProfile
      .repetitionScores(df, "text", "doc_id", n = 2)
      .select($"doc_id", $"dup_2gram_frac", $"top_2gram_frac")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 0.6667, 0.6667),
      (2L, 0.0, 0.3333),
      (3L, 1.0, 1.0),
      (4L, 0.0, 1.0)))
  }

  test("repetitionStats matches hand-computed Gopher A1 fractions; blank " +
    "and short docs are all-zero; keep rule applies the full thresholds") {
    import graft.functions.TextFunctions.{repetitionStats, gopherRepetitionKeep}
    // doc 5 (the blank-line regression fixture): 5 paragraphs of fully
    // distinct words separated by blank lines — a NORMAL document. The
    // pre-fix line split kept the empty fragments between paragraphs,
    // so 4 "duplicate" empty lines out of 9 gave dup_line_frac 0.4444
    // > 0.30 and the keep rule silently dropped multi-paragraph prose.
    val prose = (1 to 5)
      .map(i => (1 to 15).map(j => s"w${i}p$j").mkString(" "))
      .mkString("\n\n")
    val df = Seq(
      // 17 chars, 3 non-empty lines (1 duplicate pair), 9 words,
      // bigram counts {a b:2, b a:2, x y:2, a x:1, y x:1}
      (1L, "a b a b a\nx y\nx y"),
      (2L, ""),                 // blank: all zeros, ZERO lines/paras
      (3L, "one two"),          // no 3-grams, unique bigram
      (4L, "w w w w w w w w"),  // degenerate: one repeated word
      (5L, prose),
      // 54 chars; paragraph 1 repeats: dup_para_frac 1/3 > 0.30
      (6L, "alpha beta gamma\n\ndelta epsilon zeta\n\nalpha beta gamma"))
      .toDF("id", "text")
    val out = df.select($"id", repetitionStats($"text").as("r"),
        gopherRepetitionKeep($"text").as("keep"))
      .select($"id", $"r.*", $"keep")
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, field: String): Double =
      out(id).getAs[Double](field)
    // doc 1: dup_line 1/3; after-first chars of "x y" = 3/17; one
    // paragraph (no blank line); top bigram mc=2, longest tied gram
    // len 3 → 6/17; top trigram "a b a"×2 → 10/17; 4-grams all
    // distinct, mc=1, longest len 7 → 7/17; no duplicate 5..10-grams
    assert(out(1L).getAs[Int]("n_lines") == 3)
    assert(f(1L, "dup_line_frac") == 0.3333 && f(1L, "dup_line_char_frac") == 0.1765)
    assert(out(1L).getAs[Int]("n_paras") == 1 && f(1L, "dup_para_frac") == 0.0)
    assert(f(1L, "top_2gram_char_frac") == 0.3529)
    assert(f(1L, "top_3gram_char_frac") == 0.5882)
    assert(f(1L, "top_4gram_char_frac") == 0.4118)
    assert(f(1L, "dup_5gram_char_frac") == 0.0 && f(1L, "dup_10gram_char_frac") == 0.0)
    assert(!out(1L).getAs[Boolean]("keep")) // dup_line 0.3333 > 0.30
    // blank: no lines, no paragraphs, every fraction zero, kept
    assert(out(2L).getAs[Int]("n_lines") == 0 && out(2L).getAs[Int]("n_paras") == 0)
    assert(f(2L, "dup_line_frac") == 0.0 && out(2L).getAs[Boolean]("keep"))
    // doc 3: single bigram "one two" (7 chars) count 1 → 7/7 = 1.0 > 0.2
    assert(f(3L, "top_2gram_char_frac") == 1.0 && f(3L, "top_3gram_char_frac") == 0.0)
    assert(!out(3L).getAs[Boolean]("keep"))
    // doc 4: 15 chars; "w w" ×7 len 3 → 21/15 (unclamped by design for
    // top grams — overlaps); "w w w"×6 len 5 → 2.0; "w w w w"×5 len 7 →
    // 2.3333; dup-5 36/15→1.0, dup-6 33/15→1.0, dup-7 26/15→1.0;
    // the single 8-gram occurs once → dup-8/9/10 = 0
    assert(f(4L, "top_2gram_char_frac") == 1.4)
    assert(f(4L, "top_3gram_char_frac") == 2.0)
    assert(f(4L, "top_4gram_char_frac") == 2.3333)
    assert(f(4L, "dup_5gram_char_frac") == 1.0 && f(4L, "dup_7gram_char_frac") == 1.0)
    assert(f(4L, "dup_8gram_char_frac") == 0.0 && f(4L, "dup_9gram_char_frac") == 0.0)
    assert(!out(4L).getAs[Boolean]("keep"))
    // doc 5: 5 non-empty lines, 5 paragraphs, zero duplicate anything —
    // the multi-paragraph document the old line split wrongly dropped
    assert(out(5L).getAs[Int]("n_lines") == 5 && out(5L).getAs[Int]("n_paras") == 5)
    assert(f(5L, "dup_line_frac") == 0.0 && f(5L, "dup_para_frac") == 0.0)
    assert(out(5L).getAs[Boolean]("keep"), out(5L).toString)
    // doc 6: dup_para_frac 1/3 = 0.3333 > 0.30; after-first paragraph
    // chars 16/54 = 0.2963 > 0.20 — dropped by the PARAGRAPH rules
    assert(out(6L).getAs[Int]("n_paras") == 3)
    assert(f(6L, "dup_para_frac") == 0.3333)
    assert(f(6L, "dup_para_char_frac") == 0.2963)
    assert(!out(6L).getAs[Boolean]("keep"))
  }

  test("contamination report counts distinct shared n-grams per train doc") {
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "he saw the quick brown fox run far away"), // shares 2 distinct 3-grams
      (2L, "completely unrelated words everywhere here now"), // clean
      (3L, "quick brown fox jumps high quick brown fox jumps") // 2, deduped
    ).toDF("doc_id", "text")
    val out = graft.operators.TextProfile
      .contaminationReport(train, eval, "text", "doc_id", n = 3)
      .as[(Long, Long)].collect().sortBy(_._1)
    // doc 1: "the quick brown","quick brown fox"; doc 3: "quick brown fox",
    // "brown fox jumps" (each once despite repetition); doc 2 absent
    assert(out.toSeq == Seq((1L, 2L), (3L, 2L)))
  }

  test("gopherQualityStats matches hand-computed A1 quality signals; " +
    "blank doc is all-zero; keep rule applies the published bounds") {
    val doc = "- one\n- two\nThe cat... sat with the mat…\n## 123"
    // tokens (lowered, \s+): -, one, -, two, the, cat..., sat, with,
    // the, mat…, ##, 123 → 12 words, char lens 1,3,1,3,3,6,3,4,3,4,2,3
    val row = Seq((1L, doc)).toDF("id", "text")
      .select(gopherQualityStats($"text").as("g"))
      .select($"g.n_words", $"g.mean_word_len", $"g.hash_word_ratio",
        $"g.ellipsis_word_ratio", $"g.bullet_line_frac",
        $"g.ellipsis_line_frac", $"g.alpha_word_frac", $"g.stop_hits")
      .head()
    assert(row.getInt(0) == 12)
    assert(row.getDouble(1) == 3.0) // 36 chars / 12 words
    assert(row.getDouble(2) == 0.1667) // two '#' / 12
    assert(row.getDouble(3) == 0.1667) // one '...' + one '…' / 12
    assert(row.getDouble(4) == 0.5) // 2 of 4 lines start with '-'
    assert(row.getDouble(5) == 0.25) // 1 of 4 lines ends with '…'
    assert(row.getDouble(6) == 0.6667) // 8 of 12 words have a letter
    assert(row.getInt(7) == 2) // the, with
    // blank and NULL docs: all-zero, keep false (word-count floor)
    val z = Seq((1L, ""), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(gopherQualityStats($"text").as("g"),
        gopherQualityKeep($"text").as("keep"))
      .collect()
    z.foreach { r =>
      val g = r.getStruct(0)
      assert(g.getInt(0) == 0 && g.getDouble(1) == 0.0 &&
        g.getDouble(6) == 0.0 && g.getInt(7) == 0, g.toString)
      assert(!r.getBoolean(1))
    }
    // a clean 64-word prose doc passes every bound
    val good = Array.fill(8)("the cat sat on the mat with dogs").mkString(" ")
    assert(Seq((1L, good)).toDF("id", "text")
      .select(gopherQualityKeep($"text")).head().getBoolean(0),
      "clean prose failed the quality keep")
    // and each bound fails alone: the hand doc fails word count; the
    // good doc with hash spam fails the symbol cap
    assert(!Seq((1L, good + " " + ("# " * 8))).toDF("id", "text")
      .select(gopherQualityKeep($"text")).head().getBoolean(0),
      "hash-spammed prose passed the symbol cap")
  }

  test("c4Stats applies the line rules; c4Keep applies the page rules " +
    "at the published bounds; blank/NULL docs are empty-clean") {
    val doc = "First line is fine here.\n" + // kept
      "second keeps going strong!\n" + // kept (!)
      "is this kept as well?\n" + // kept (?)
      "He said \"sure thing.\"\n" + // kept (")
      "no terminal mark here\n" + // dropped: no terminal punct
      "Ok.\n" + // dropped: < 3 words
      "Enable javascript to proceed please.\n" + // dropped: javascript
      "Last one closes it out." // kept
    val row = Seq((1L, doc)).toDF("id", "text")
      .select(c4Stats($"text").as("c"))
      .select($"c.n_lines", $"c.n_kept", $"c.text_clean", $"c.n_sentences",
        $"c.has_lorem", $"c.has_brace")
      .head()
    assert(row.getInt(0) == 8 && row.getInt(1) == 5, row.toString)
    assert(row.getString(2) == Seq("First line is fine here.",
      "second keeps going strong!", "is this kept as well?",
      "He said \"sure thing.\"", "Last one closes it out.").mkString("\n"))
    assert(row.getInt(3) == 5) // . ! ? . . — marks in the CLEANED text
    assert(!row.getBoolean(4) && !row.getBoolean(5))
    // page rules: the 5-sentence doc passes; each tripwire fails alone
    assert(Seq((1L, doc)).toDF("id", "text")
      .select(c4Keep($"text")).head().getBoolean(0))
    assert(!Seq((1L, doc + "\nLorem ipsum dolor sit amet today."))
      .toDF("id", "text").select(c4Keep($"text")).head().getBoolean(0),
      "lorem-ipsum page passed")
    assert(!Seq((1L, doc + "\nvar f = function() { return 1; }"))
      .toDF("id", "text").select(c4Keep($"text")).head().getBoolean(0),
      "curly-brace page passed")
    // sentence floor: 4 surviving marks < 5 fails
    assert(!Seq((1L, doc.linesIterator.toSeq.dropRight(1).mkString("\n")))
      .toDF("id", "text").select(c4Keep($"text")).head().getBoolean(0),
      "4-sentence page passed the 5-sentence floor")
    // parameterized bounds: the same page passes at minSentences = 4
    assert(Seq((1L, doc.linesIterator.toSeq.dropRight(1).mkString("\n")))
      .toDF("id", "text")
      .select(c4Keep($"text", C4Bounds(minSentences = 4)))
      .head().getBoolean(0))
    // blank/NULL: nothing retained, keep false
    Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("id", "text")
      .select(c4Stats($"text").as("c"), c4Keep($"text").as("keep"))
      .collect().foreach { r =>
        assert(r.getStruct(0).getInt(1) == 0 &&
          r.getStruct(0).getString(2) == "" && !r.getBoolean(1), r.toString)
      }
  }

  test("blocklistHits counts DISTINCT blocklisted tokens, whole-word and " +
      "case-insensitive; blocklistKeep is the page decision") {
    val bl = Seq("Bad", "worse", "bad") // mixed case + duplicate entry
    val rows = Seq(
      (1L, "clean text only"),            // 0 hits
      (2L, "bad bad bad"),                // repeated word counts once
      (3L, "BAD and Worse together"),     // case-insensitive, 2 distinct
      (4L, "badge embedded notbad"),      // substrings do NOT match
      (5L, ""), (6L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = rows.select($"id",
        blocklistHits($"text", bl).as("n"),
        blocklistKeep($"text", bl).as("k"))
      .as[(Long, Int, Boolean)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got == Map(1L -> ((0, true)), 2L -> ((1, false)),
      3L -> ((2, false)), 4L -> ((0, true)), 5L -> ((0, true)),
      6L -> ((0, true))), got.toString)
    intercept[IllegalArgumentException](blocklistHits($"text", Nil))
  }
}
