package graft

import graft.operators.Rank

/** BM25 against a hand-computed oracle (Lucene idf form) — checks df
  * counting, per-doc tf grouping, length normalization, and query-term
  * dedup, not just plumbing. */
class RankSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark data spark"),
    (2L, "data"),
    (3L, "other words here")).toDF("doc_id", "text")

  test("bm25 matches the hand-computed formula") {
    val got = Rank.bm25(docs, "text", "doc_id", Seq("spark", "data"))
      .as[(Long, Double)].collect().toMap
    // N=3, dl = (3,1,3), avgdl = 7/3; df: spark→1, data→2
    val avgdl = 7.0 / 3
    def idf(df: Int) = math.log(1 + (3 - df + 0.5) / (df + 0.5))
    def w(tf: Int, dl: Int, df: Int) =
      idf(df) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(got.keySet == Set(1L, 2L), s"doc 3 matches no term: $got")
    assert(got(1L) == r4(w(2, 3, 1) + w(1, 3, 2)), s"doc 1: ${got(1L)}")
    assert(got(2L) == r4(w(1, 1, 2)), s"doc 2: ${got(2L)}")
    // a repeated/re-cased query term must not double-count
    val deduped = Rank.bm25(docs, "text", "doc_id", Seq("spark", "SPARK ", "data"))
      .as[(Long, Double)].collect().toMap
    assert(deduped == got, s"dedup broken: $deduped vs $got")
    intercept[IllegalArgumentException](Rank.bm25(docs, "text", "doc_id", Nil))
  }

  test("bigramPerplexity scores under the add-one model, keeps no-bigram docs") {
    val reference = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b"),  // seen bigram: P = (2+1)/(2+2)
      (2L, "b a"),  // rarer: P = (1+1)/(2+2)
      (3L, "c d"),  // fully unseen: P = (0+1)/(0+2)
      (4L, "a"),    // no bigram
      (5L, "")).toDF("doc_id", "text")
    val out = graft.operators.TextProfile
      .bigramPerplexity(score, reference, "text", "doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def ce(p: Double) = BigDecimal(-math.log(p))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ppl(p: Double) = BigDecimal(1 / p)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((1L, Some(ce(0.75)), Some(ppl(0.75)))))
    assert(out(2L) == ((1L, Some(ce(0.5)), Some(ppl(0.5)))))
    assert(out(3L) == ((1L, Some(ce(0.5)), Some(ppl(0.5)))))
    assert(out(4L) == ((0L, None, None)), "1-token doc must survive with nulls")
    assert(out(5L) == ((0L, None, None)), "empty doc must survive with nulls")
  }

  test("knBigramPerplexity applies the discounted interpolation by hand " +
      "and ranks high-continuation words above frozen-collocation words") {
    // reference bigrams, hand-countable: doc0 → ab, ba, ab, ba, ac;
    // doc1 → ba, ab, ba. So c(ab)=3, c(ba)=4, c(ac)=1; ctx(a)=4 with
    // n1p(a)=2 {b,c}; ctx(b)=4 with n1p(b)=1 {a}; B=3 distinct bigrams,
    // V=3; cont(a)=cont(b)=cont(c)=1 (each word has ONE distinct
    // predecessor)
    val reference = Seq((0L, "a b a b a c"),
      (1L, "b a b a")).toDF("doc_id", "text")
    def pc(cont1: Long, b: Long = 3, v: Long = 3) =
      (cont1 + 1).toDouble / (b + v + 1)
    def kn(c2: Long, ctxc: Long, n1p: Long, cont1: Long) =
      math.max(c2 - 0.75, 0.0) / ctxc + (0.75 * n1p / ctxc) * pc(cont1)
    val score = Seq(
      (10L, "a b"),  // seen pair: full interpolation
      (11L, "a a"),  // seen ctx, unseen pair: backoff mass only
      (12L, "z b"),  // unseen ctx: pure continuation probability
      (13L, "z z"),  // both unseen: the add-one floor 1/(B+V+1)
      (14L, "a")).toDF("doc_id", "text")
    val got = graft.operators.TextProfile
      .knBigramPerplexity(score, reference, "text", "doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def ce(p: Double) = Some(BigDecimal(-math.log(p))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(10L) == ((1L, ce(kn(3, 4, 2, 1)))))
    assert(got(11L) == ((1L, ce(kn(0, 4, 2, 1)))))
    assert(got(12L) == ((1L, ce(pc(1)))))
    assert(got(13L) == ((1L, ce(pc(0)))))
    assert(got(14L) == ((0L, None)))

    // the property KN exists for: "francisco" is FREQUENT (5 mentions)
    // but always follows "san" (one context); "the" is equally frequent
    // across five different contexts. After an unseen context, KN must
    // prefer "the" — add-one smoothing (q103) scores them identically.
    val kRef = Seq((0L,
      "san francisco san francisco san francisco san francisco " +
        "san francisco x1 the x2 the x3 the x4 the x5 the"))
      .toDF("doc_id", "text")
    val probe = Seq((1L, "unseen francisco"), (2L, "unseen the"))
      .toDF("doc_id", "text")
    val knScores = graft.operators.TextProfile
      .knBigramPerplexity(probe, kRef, "text", "doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r._3.get).toMap
    assert(knScores(2L) < knScores(1L),
      s"KN must rank the multi-context word cheaper: $knScores")
    val addOne = graft.operators.TextProfile
      .bigramPerplexity(probe, kRef, "text", "doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r._3.get).toMap
    assert(addOne(1L) == addOne(2L),
      s"add-one is blind to continuation counts: $addOne")

    // the per-document logp fold runs in bigram-position order, so the
    // exact doubles are partition-order-free (a multi-bigram doc is the
    // case an unordered avg could reorder)
    val multi = Seq((20L, "a b a c a b b a z q a b")).toDF("doc_id", "text")
    val one = graft.operators.TextProfile
      .knBigramPerplexity(multi, reference, "text", "doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq
    val rep = graft.operators.TextProfile
      .knBigramPerplexity(multi.repartition(7), reference.repartition(3),
        "text", "doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(one == rep, s"$one vs $rep")
  }

  test("graphRank matches a naive ordered-fold power iteration; hubs " +
      "outrank leaves; isolated nodes keep the 1-d baseline; order-free") {
    // the operator's exact arithmetic in driver Scala: symmetric edges,
    // out-strength and incoming mass folded IN NEIGHBOR-ID ORDER,
    // per-round HALF_UP rounding at 1e-9
    def naive(n: Seq[Long], pairs: Seq[(Long, Long, Double)], iters: Int,
              d: Double): Map[Long, Double] = {
      val ee = (pairs ++ pairs.map(p => (p._2, p._1, p._3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      val outw = ee.map { case (u, es) =>
        u -> es.map(_._3).foldLeft(0.0)(_ + _) }
      var r = n.map(_ -> 1.0).toMap
      (1 to iters).foreach { _ =>
        r = n.map { id =>
          val in = ee.getOrElse(id, Nil)
            .map { case (_, v, w) => (v, w / outw(v) * r(v)) }
            .sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _)
          id -> BigDecimal((1.0 - d) + d * in)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toMap
      }
      r
    }
    // hub 0 tied to five leaves; a detached 2-cycle; node 99 isolated
    val pairs = (1L to 5L).map(i => (0L, i, 1.0)) ++ Seq((10L, 11L, 0.5))
    val nodeIds = (0L to 5L) ++ Seq(10L, 11L, 99L)
    import spark.implicits._
    val nodes = nodeIds.toDF("nid")
    val pdf = pairs.toDF("a", "b", "w")
    val got = Rank.graphRank(nodes, "nid", pdf, "a", "b", "w",
        iters = 5, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    val expect = naive(nodeIds, pairs, 5, 0.85)
    assert(got == expect, s"$got vs $expect")
    // the hub aggregates five leaves' full mass; each leaf only splits
    // the hub's — and the isolated node sits at the damping baseline
    assert(got(0L) > got(1L), got.toString)
    assert((1L to 5L).map(got).distinct.size == 1, "leaves are symmetric")
    assert(got(99L) == BigDecimal(1.0 - 0.85)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // the detached 2-cycle is internally symmetric and above baseline
    assert(got(10L) == got(11L) && got(10L) > got(99L))
    // partition-order-free
    val rep = Rank.graphRank(nodes.repartition(4), "nid",
        pdf.repartition(3), "a", "b", "w", iters = 5, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    assert(rep == got)
    // the pair contract is ENFORCED: a malformed frame carrying a
    // duplicate row, both orientations of an edge (at a lower weight —
    // max wins), and a self-loop collapses to the same well-formed
    // graph instead of silently corrupting the ordered folds
    val malformed = (pairs ++ Seq((0L, 1L, 1.0), (3L, 0L, 0.25),
        (11L, 10L, 0.5), (2L, 2L, 9.0))).toDF("a", "b", "w")
    val enforced = Rank.graphRank(nodes, "nid", malformed, "a", "b", "w",
        iters = 5, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    assert(enforced == got, s"$enforced vs $got")
  }

  test("rrfFuse sums reciprocal ranks with absent-list docs contributing 0") {
    val listA = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val listB = Seq((2L, 1), (4L, 2)).toDF("id", "rank")
    val got = Rank.rrfFuse(Seq(listA, listB), "id", k = 60)
      .as[(Long, Double)].collect().toMap
    // doc 2 is in both lists; 1, 3, 4 each in exactly one
    assert(got(1L) == 1.0 / 61)
    assert(got(2L) == 1.0 / 62 + 1.0 / 61)
    assert(got(3L) == 1.0 / 63)
    assert(got(4L) == 1.0 / 62)
    // consensus property: the doc ranked in BOTH lists outscores every
    // single-list doc here — the reason rank fusion needs no calibration
    assert(got(2L) > got(1L) && got(2L) > got(4L))
    // single-list fusion degenerates to the reciprocal rank itself
    val single = Rank.rrfFuse(Seq(listB), "id").as[(Long, Double)]
      .collect().toMap
    assert(single == Map(2L -> 1.0 / 61, 4L -> 1.0 / 62))
    intercept[IllegalArgumentException](Rank.rrfFuse(Nil, "id"))
  }

  test("removeFromIndex: retracted docs vanish, scores equal a full rebuild") {
    import org.apache.spark.sql.functions._
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val (tbl, tbl2) = (s"rankspec_rm_$pid", s"rankspec_rb_$pid")
    Seq(tbl, s"${tbl}_stats", tbl2, s"${tbl2}_stats")
      .foreach(graft.operators.Layout.dropStore(spark, _))
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter($"doc_id" < 400 && length(trim($"text")) > 0)
    Rank.writeIndex(corpus, "text", "doc_id", tbl, buckets = 4)
    val removed = corpus.filter(pmod($"doc_id", lit(7)) === 0)
      .select($"doc_id")
    Rank.removeFromIndex(spark, tbl, removed, "doc_id")
    // the oracle: an index rebuilt from scratch over the remaining corpus
    Rank.writeIndex(corpus.join(removed, Seq("doc_id"), "left_anti"),
      "text", "doc_id", tbl2, buckets = 4)
    val (i1, s1) = Rank.readIndex(spark, tbl)
    val (i2, s2) = Rank.readIndex(spark, tbl2)
    // stats decremented EXACTLY (long sum_dl arithmetic, no float drift)
    assert(s1.collect().toSeq == s2.collect().toSeq,
      s"stats drifted from rebuild: ${s1.collect().toSeq} vs " +
        s"${s2.collect().toSeq}")
    val terms = Seq("spark", "data", "the", "query")
    val a = Rank.bm25FromIndex(i1, s1, "doc_id", terms)
      .as[(Long, Double)].collect().toMap
    val b = Rank.bm25FromIndex(i2, s2, "doc_id", terms)
      .as[(Long, Double)].collect().toMap
    assert(a == b, "retracted index must score bit-identically to a rebuild")
    val removedIds = removed.as[Long].collect().toSet
    assert(a.nonEmpty && a.keySet.intersect(removedIds).isEmpty,
      "a retracted doc still scores from the index")
    // postings really gone (not just unmatched by these query terms)
    assert(i1.join(removed, Seq("doc_id"), "left_semi").count() == 0,
      "retracted postings survive in the index table")
    // ids with no postings are a no-op, not a crash or stats corruption
    val statsBefore = s1.collect().toSeq
    Rank.removeFromIndex(spark, tbl,
      Seq(999999L).toDF("doc_id"), "doc_id")
    assert(spark.table(s"${tbl}_stats").collect().toSeq == statsBefore)
    graft.operators.OpCache.release()
  }
}
