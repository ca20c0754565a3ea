package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalacheck.rng.Seed
import graft.core._
import graft.functions.TextFunctions

/**
 * Property-based checks (SURVEY §5 item 4) using ScalaCheck generators with
 * fixed seeds (deterministic, no wall-clock dependence), sampled over a
 * DataFrame per property rather than per-case for Spark-session economy.
 */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val textGen: Gen[String] = Gen.listOfN(12,
    Gen.oneOf("the", "cat", "sat", "on", "mat", "und", "der", "le", "a",
      "xyz", "123", "!!", "")).map(_.mkString(" "))

  test("portable ngram-bucket hash agrees with a code-point reference on unicode") {
    import graft.functions.expressions.NgramBuckets
    // the cross-engine contract: 1-based CODE POINT positions (DuckDB's
    // t[i]/ascii(t[i]) indexing), so multi-char code points (CJK is fine,
    // but supplementary-plane emoji occupy two Java chars) must advance
    // position by ONE — a char-indexed implementation diverges exactly
    // there. Reference built independently via codePoints().
    def ref(s: String, b: Int): Int = {
      val cps = s.codePoints().toArray
      (cps.zipWithIndex.map { case (cp, i) => cp.toLong * (i + 1) }.sum % b).toInt
    }
    val uniGen: Gen[String] = Gen.listOfN(8, Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf('日', '本', '語', 'é', 'ß', 'Ω').map(_.toString),
      // supplementary plane: surrogate PAIRS in Java's char indexing
      1 -> Gen.oneOf("😀", "🤖", "𝔸"),
      1 -> Gen.const(" "))).map(_.mkString)
    val strings = sample(uniGen, 300, seed = 4242L)
    for (s <- strings; b <- Seq(31, 997, 1009))
      assert(NgramBuckets.bucket(s, b) == ref(s, b),
        s"bucket mismatch for ${s.codePoints().toArray.mkString("[", ",", "]")} at b=$b")
    // and the engine-level array agrees with a brute-force unigram+bigram fold
    val toksGen = Gen.listOfN(5, uniGen)
    val rows = sample(toksGen, 60, seed = 77L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val got = rows.toDF("id", "toks")
      .select($"id", graft.functions.expressions.GraftExpressions
        .ngramBuckets($"toks", 97).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (id, toks) =>
      val exp = toks.map(NgramBuckets.bucket(_, 97)) ++
        toks.sliding(2).filter(_.size == 2)
          .map(p => NgramBuckets.bucket(p.mkString("_"), 97))
      assert(got(id) == exp, s"row $id: ${got(id)} vs $exp")
    }
  }

  test("native repetitionStats equals an independent naive reference on " +
    "random multiline unicode docs (all 15 fields)") {
    import graft.functions.expressions.RepetitionStatsExpr
    // third formulation guard for the r16 native rewrite: the q162
    // oracle pins the fixture family, this pins RANDOM docs — tabs,
    // multibyte words, duplicated lines, space-only and empty fragments
    def cp(t: String): Long = t.codePointCount(0, t.length).toLong
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(s: String): Seq[Any] = {
      val chars = cp(s).toDouble
      val lines = s.split("\n", -1).toSeq.filter(_.nonEmpty)
      def spaceTrim(p: String) = p.dropWhile(_ == ' ')
        .reverse.dropWhile(_ == ' ').reverse
      val paras = s.split("\n{2,}", -1).toSeq.filter(spaceTrim(_).nonEmpty)
      def dupFrac(a: Seq[String]) =
        if (a.isEmpty) 0.0
        else round4((a.size - a.distinct.size).toDouble / a.size)
      def dupCharFrac(a: Seq[String]) = round4(
        if (chars > 0)
          a.groupBy(identity).values
            .map(g => (g.size - 1).toLong * cp(g.head)).sum / chars
        else 0.0)
      val low = spaceTrim(s.toLowerCase)
      val toks = if (cp(low) == 0) Seq.empty[String]
        else low.split("\\s+", -1).toSeq
      def grams(k: Int) = if (toks.size < k) Seq.empty[String]
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      def topFrac(k: Int) = {
        // .toSeq before the map: mapping a Map to (count, len) tuples
        // would COLLAPSE equal counts into one key (found by this very
        // test's first run — the bug was in the reference, not the code)
        val cs = grams(k).groupBy(identity).toSeq
          .map { case (g, o) => (o.size.toLong, cp(g)) }
        if (cs.isEmpty || chars == 0) 0.0
        else {
          val mc = cs.map(_._1).max
          val ml = cs.filter(_._1 == mc).map(_._2).max
          round4(mc * ml / chars)
        }
      }
      def dupKFrac(k: Int) = math.min(1.0, round4(
        if (chars > 0)
          grams(k).groupBy(identity).values.filter(_.size >= 2)
            .map(o => o.size.toLong * cp(o.head)).sum / chars
        else 0.0))
      Seq(lines.size, dupFrac(lines), dupCharFrac(lines),
        paras.size, dupFrac(paras), dupCharFrac(paras)) ++
        Seq(2, 3, 4).map(topFrac) ++ (5 to 10).map(dupKFrac)
    }
    val wordGen = Gen.oneOf("the", "cat", "sat", "mat", "日本", "naïve",
      "ému", "a", "!!", "123", "😀ok")
    val lineGen = Gen.chooseNum(0, 10)
      .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val docGen = for {
      n <- Gen.chooseNum(0, 8)
      ls <- Gen.listOfN(n, lineGen)
      dup <- lineGen
      reps <- Gen.chooseNum(0, 3)
      sep <- Gen.oneOf("\n", "\n\n", "\n \n", "\t\n", "\n\n\n")
      pre <- Gen.oneOf("", " ", "\t")
    } yield pre + (ls ++ Seq.fill(reps)(dup)).mkString(sep)
    val docs = sample(docGen, 250, seed = 1616L)
    val names = RepetitionStatsExpr.schema.fieldNames.toSeq
    val got = docs.zipWithIndex.map { case (d, i) => (i, d) }
      .toDF("id", "text")
      .select($"id" +: names.map(f =>
        TextFunctions.repetitionStats($"text").getField(f).as(f)): _*)
      .orderBy($"id").collect()
    got.foreach { row =>
      val doc = docs(row.getInt(0))
      val want = ref(doc)
      names.zipWithIndex.foreach { case (f, j) =>
        assert(row.get(j + 1) == want(j),
          s"$f: got ${row.get(j + 1)}, want ${want(j)} for doc " +
            doc.replace("\n", "\\n").replace("\t", "\\t"))
      }
    }
  }

  test("merged Misra-Gries keeps heavy items within the one-sided error bound") {
    import graft.functions.Aggregators.MisraGries
    // zipf-ish skew from a small alphabet so true heavy hitters exist;
    // repartition(11) forces real partial/final merges of the summary
    val itemGen: Gen[String] = Gen.frequency(
      8 -> Gen.const("the"), 5 -> Gen.const("of"), 3 -> Gen.const("and"),
      2 -> Gen.oneOf("a", "b", "c", "d"),
      1 -> Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString))
    val items = sample(itemGen, 5000, seed = 99L)
    val cap = 8
    val mg = items.toDF("g").repartition(11).as[String]
      .select(MisraGries(cap).toColumn.name("mg"))
      .head()
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val err = items.size.toLong / (cap + 1)
    // guarantee 1: every item with true count > N/(cap+1) is present
    exact.filter(_._2 > err).keys.foreach(k =>
      assert(mg.contains(k), s"heavy item $k missing from $mg"))
    // guarantee 2: reported counts are one-sided: true - err <= est <= true
    mg.foreach { case (k, est) =>
      val t = exact.getOrElse(k, 0L)
      assert(est <= t && est >= t - err, s"$k: est $est vs true $t (err $err)")
    }
    assert(mg.size <= cap, s"summary exceeded capacity: ${mg.size}")
  }

  test("q145's heavy-n-gram gate holds at 1, 4 and 8 document partitions") {
    // the merged summary depends on the partition layout; the verdicts
    // must not. On the sf0.01 documents the gate without its planted
    // footer read FALSE at 8 partitions only
    val docs = spark.read.parquet(
      s"${new java.io.File(sfDir).getParent}/sf0.01/documents.parquet")
    Seq(1, 4, 8).foreach { p =>
      val verdicts = graft.catalog.TextQuality
        .heavyNgramsGate(spark, docs.repartition(p))
        .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
      graft.operators.OpCache.release()
      assert(verdicts == Map("mg_estimates_within_bound" -> true,
        "mg_heavy_recall" -> true), s"at $p partitions: $verdicts")
    }
  }

  test("projection is idempotent: select(c) . select(c) == select(c)") {
    val df = sample(Gen.zip(Gen.chooseNum(-100, 100), Gen.alphaStr), 200, 1L)
      .toDF("a", "b")
    val once = df.select($"a").collect().toSeq
    val twice = df.select($"a").select($"a").collect().toSeq
    assert(once == twice)
  }

  test("filter composition commutes and equals conjunction") {
    val df = sample(Gen.chooseNum(-1000, 1000), 500, 2L).toDF("x")
    val pq = df.filter($"x" % 3 === 0).filter($"x" > 10).as[Int].collect().sorted
    val qp = df.filter($"x" > 10).filter($"x" % 3 === 0).as[Int].collect().sorted
    val conj = df.filter($"x" % 3 === 0 && $"x" > 10).as[Int].collect().sorted
    assert(pq.toSeq == qp.toSeq && qp.toSeq == conj.toSeq)
  }

  test("hub fan-out with identity branches then reducer preserves the multiset") {
    val xs = sample(Gen.chooseNum(0, 50), 100, 3L)
    val app = new App(spark)
    val red = app.reducerStep("p_red", g => g.select(
      element_at($"job_list", 1).getField("x").as("x")))
    val b1 = app.step("p_b1", identity, next = Some(red))
    val b2 = app.step("p_b2", identity, next = Some(red))
    val out = app.run(app.step("p_src", identity, next = Some(Hub(b1, b2))),
      xs.toDF("x"))("p_red").as[Int].collect().sorted
    assert(out.toSeq == xs.sorted)
  }

  test("fingerprint is invariant under whitespace amount and case") {
    val texts = sample(textGen, 100, 4L)
    val df = texts.map(t => (t, "  " + t.toUpperCase.replace(" ", "   ") + " "))
      .toDF("t1", "t2")
    val mismatches = df.filter(
      TextFunctions.fingerprint($"t1") =!= TextFunctions.fingerprint($"t2"))
      .count()
    assert(mismatches == 0)
  }

  test("shingle count is max(1, tokens - k + 1)") {
    val texts = sample(textGen, 100, 5L)
    val df = texts.toDF("t")
    val bad = df.select(
        size(TextFunctions.shingles($"t", 3)).as("s"),
        TextFunctions.tokenCount($"t").as("n"))
      .filter($"s" =!= greatest(lit(1), $"n" - 2))
      .count()
    assert(bad == 0)
  }

  test("prefix-filtered jaccard join is lossless vs brute force on random corpora") {
    import graft.operators.Dedup
    import graft.functions.TextFunctions.shingles
    // small vocab → heavy shingle sharing → stresses the prefix filter
    val docGen = Gen.chooseNum(4, 14).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.mkString(" ")))
    val docs = sample(docGen, 120, 7L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      val fast = Dedup.jaccardSelfJoin(docs, "text", "doc_id", 2, t)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val sets = docs.select($"doc_id",
        array_distinct(shingles($"text", 2)).as("sh"))
      val brute = sets.alias("a").join(sets.alias("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
            size(array_union(col("a.sh"), col("b.sh")))).as("j"))
        .filter($"j" >= t)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(fast == brute,
        s"t=$t missing=${brute -- fast}, extra=${fast -- brute}")
    }
  }

  test("as-of join equals the brute-force latest-at-or-before on random data") {
    import graft.operators.AsOf
    // keys/timestamps drawn from small ranges → dense ties, NULL values
    // mixed in → stresses exactly the carry/tiebreak edges
    val rowGen = for {
      k <- Gen.oneOf("k1", "k2", "k3")
      t <- Gen.chooseNum(0L, 20L)
      v <- Gen.option(Gen.chooseNum(1, 9))
    } yield (k, t, v)
    val rights = sample(rowGen, 60, 11L).zipWithIndex
      .map { case ((k, t, v), i) => (k, t, v, i.toLong) }
      .toDF("key", "rt", "v", "rid")
    val lefts = sample(rowGen, 40, 12L).zipWithIndex
      .map { case ((k, t, _), i) => (i.toLong, k, t) }
      .toDF("lid", "key", "lt")
    val got = AsOf.join(lefts, rights, Seq("key"), "lt", "rt", Seq("v", "rid"))
      .select($"lid", $"asof_v", $"asof_rid")
      .as[(Long, Option[Int], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // brute force: per left row, the right rows at-or-before, latest time,
    // deterministic (v, rid)-lexicographic winner among exact time ties
    // (None sorts below Some, matching SQL NULLS FIRST in the struct sort)
    val rrows = rights.as[(String, Long, Option[Int], Long)].collect()
    lefts.as[(Long, String, Long)].collect().foreach { case (lid, k, lt) =>
      val cands = rrows.filter(r => r._1 == k && r._2 <= lt)
      val expected = if (cands.isEmpty) (None, None) else {
        val tm = cands.map(_._2).max
        val atT = cands.filter(_._2 == tm)
          .map(r => (r._3, r._4))
          .maxBy { case (v, rid) => (v.getOrElse(Int.MinValue), rid) }
        (atT._1, Some(atT._2))
      }
      assert(got(lid) == expected,
        s"lid=$lid key=$k lt=$lt: got ${got(lid)}, expected $expected")
    }
  }

  test("packSequences equals the sequential concatenation-offset fold") {
    // random ids (sparse, unsorted input order) and token counts incl.
    // oversized docs; single shard so the oracle fold is a plain scan
    val rows = sample(Gen.zip(Gen.chooseNum(0L, 10000L),
      Gen.chooseNum(1L, 3000L)), 300, 31L).distinctBy(_._1)
    val budget = 1024L
    // seeded: a failing input ordering must be reproducible
    val df = new scala.util.Random(31L).shuffle(rows).toDF("doc_id", "n_tokens")
    val got = operators.Curate
      .packSequences(df, "doc_id", "n_tokens", budget, shards = 1)
      .select($"doc_id", $"bin", $"bin_offset")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    var offset = 0L
    rows.sortBy(_._1).foreach { case (id, tok) =>
      assert(got(id) == ((offset / budget, offset % budget)),
        s"doc $id at offset $offset: got ${got(id)}")
      offset += tok
    }
  }

  test("selectByTokenBudget equals the global sorted running-sum cutoff") {
    // few quality levels (forces a boundary level), random token counts
    val rows = sample(Gen.zip(Gen.chooseNum(0L, 5000L),
        Gen.oneOf(0.2, 0.4, 0.6, 0.8, 1.0), Gen.chooseNum(1L, 500L)),
      300, 37L).distinctBy(_._1)
    val df = rows.toDF("doc_id", "quality", "n_tokens")
    for (budget <- Seq(0L, 1000L, 10000L, 40000L, 1000000L)) {
      val got = operators.Curate
        .selectByTokenBudget(df, "quality", "n_tokens", "doc_id", budget)
        .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // oracle: global (quality desc, id) order, keep while the sum fits
      var cum = 0L
      val want = rows.sortBy(r => (-r._2, r._1)).takeWhile { r =>
        cum += r._3; cum <= budget
      }.map(_._1).sorted
      assert(got == want,
        s"budget $budget: got ${got.size} docs, want ${want.size}")
    }
  }

  test("removeDuplicateSpans equals the sequential keep-first oracle") {
    import graft.operators.Dedup
    // tiny vocab → heavy span sharing; lengths 0-20 include empty docs
    // (the sequence() short-circuit) and sub-window tails
    val docGen = Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")))
    val docs = sample(docGen, 150, 41L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    // seeded shuffle: the min-(id, sidx) keeper must be corpus order,
    // not input order — a failing ordering stays reproducible
    val df = new scala.util.Random(41L).shuffle(docs).toDF("doc_id", "text")
    for (window <- Seq(2, 3); minCount <- Seq(2, 3)) {
      val got = Dedup.removeDuplicateSpans(df, "text", "doc_id", window, minCount)
        .select($"doc_id", $"text_clean", $"n_spans", $"n_kept")
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      // oracle: exact span text (not hashes), corpus-wide counts, keep the
      // lexicographically-first (id, sidx) occurrence of each duplicate
      def spansOf(t: String): Seq[String] =
        if (t.trim.isEmpty) Seq.empty
        else t.trim.split("\\s+").toSeq.grouped(window).map(_.mkString(" ")).toSeq
      val all = docs.flatMap { case (id, t) =>
        spansOf(t).zipWithIndex.map { case (s, i) => (s, id, i) } }
      val counts = all.groupBy(_._1).view.mapValues(_.size).toMap
      val keeper = all.groupBy(_._1).view
        .mapValues(_.map(o => (o._2, o._3)).min).toMap
      assert(got.size == docs.size) // no-span docs keep their row
      docs.foreach { case (id, t) =>
        val sp = spansOf(t)
        val kept = sp.zipWithIndex.filter { case (s, i) =>
          counts(s) < minCount || keeper(s) == ((id, i)) }
        val want = (kept.map(_._1).mkString(" "), sp.size.toLong, kept.size.toLong)
        assert(got(id) == want,
          s"window=$window minCount=$minCount doc=$id '$t': " +
            s"got ${got(id)}, want $want")
      }
    }
  }

  test("removeDuplicateSegments equals the sequential keep-first oracle " +
    "at line and paragraph granularity") {
    import graft.operators.Dedup
    // tiny line vocab → heavy cross-doc sharing; 0-6 lines per doc
    // include empty docs and blank-only lines (dropped by the trim-
    // nonempty segment contract)
    val lineGen = Gen.oneOf("alpha one", "beta two", "gamma three",
      "delta four", "  ", "")
    val docGen = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, lineGen).map(_.mkString("\n")))
    val docs = sample(docGen, 120, 43L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = new scala.util.Random(43L).shuffle(docs).toDF("doc_id", "text")
    for ((pat, sep) <- Seq(("\n", "\n"), ("\n{2,}", "\n\n"))) {
      val got = Dedup.removeDuplicateSegments(df, "text", "doc_id", pat, sep)
        .select($"doc_id", $"text_clean", $"n_spans", $"n_kept")
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      // Spark trim strips SPACES only (Java's trim also strips the
      // newlines a paragraph fragment legitimately contains at its
      // edges) — the operator's documented contract
      def spaceTrim(s: String): String = {
        var a = 0
        var b = s.length
        while (a < b && s.charAt(a) == ' ') a += 1
        while (b > a && s.charAt(b - 1) == ' ') b -= 1
        s.substring(a, b)
      }
      def segsOf(t: String): Seq[String] =
        pat.r.split(t).toSeq.map(spaceTrim).filter(_.nonEmpty)
      val all = docs.flatMap { case (id, t) =>
        segsOf(t).zipWithIndex.map { case (s, i) => (s, id, i) } }
      val counts = all.groupBy(_._1).view.mapValues(_.size).toMap
      val keeper = all.groupBy(_._1).view
        .mapValues(_.map(o => (o._2, o._3)).min).toMap
      assert(got.size == docs.size)
      docs.foreach { case (id, t) =>
        val sp = segsOf(t)
        val kept = sp.zipWithIndex.filter { case (s, i) =>
          counts(s) < 2 || keeper(s) == ((id, i)) }
        val want = (kept.map(_._1).mkString(sep), sp.size.toLong,
          kept.size.toLong)
        assert(got(id) == want,
          s"pattern=$pat doc=$id '${t.replace("\n", "\\n")}': " +
            s"got ${got(id)}, want $want")
      }
    }
  }

  test("cosine is symmetric and self-similarity is 1 for non-zero vectors") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-5.0f, 5.0f)).map(_.toArray)
    val vecs = sample(vecGen, 100, 6L).filter(_.exists(_ != 0.0f))
    val df = vecs.zip(vecs.reverse).toDF("a", "b")
    import graft.functions.VectorFunctions.cosine
    val rows = df.select(cosine($"a", $"b").as("ab"), cosine($"b", $"a").as("ba"),
      cosine($"a", $"a").as("aa")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // symmetry (same fold order)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }
}
