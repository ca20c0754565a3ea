package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, OpCache}
import graft.functions.TextFunctions

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  /** Pins `resolveClusters`/`keepRepresentatives` to the distributed
    * star-round loop: with broadcasting off no edge set fits the driver
    * path's size rule. */
  private def distributed[T](body: => T): T =
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** `resolveClusters` rows as (id, cluster_id, keep), sorted by id. */
  private def clusterRows(pairs: org.apache.spark.sql.DataFrame) =
    Dedup.resolveClusters(pairs)
      .select($"id", $"cluster_id", $"keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq

  private def randomPairs(seed: Int, nodes: Int, edges: Int) = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(edges)((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      .filter { case (a, b) => a != b }
  }

  test("exact dedup keeps the minimum id per normalized text") {
    val df = Seq(
      (10L, "Hello  World"), (3L, "hello world"), (7L, "different text here"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").select("doc_id")
      .as[Long].collect().sorted
    assert(out.toSeq == Seq(3L, 7L)) // 10 is a dup of 3 (case/space-insensitive)
    // ingestion-retry hygiene: the SAME (id, content) row written twice
    // must still dedup to one surviving row
    val retried = Seq((3L, "hello world"), (3L, "hello world"), (9L, "other"))
      .toDF("doc_id", "text")
    val survivors = Dedup.exact(retried, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(3L, 9L),
      s"duplicate (id, content) rows both survived: ${survivors.toSeq}")
  }

  test("minhash LSH finds the planted near-duplicate pairs") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.7)
      .collect()
    assert(pairs.nonEmpty, "fixture has j~0.99 planted pairs; LSH must find them")
    // one known planted pair at sf0.001 (checked against exact jaccard)
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((474L, 498L)))
    assert(pairs.forall(_.getDouble(2) >= 0.7))
  }

  test("estimated jaccard tracks exact jaccard on candidates") {
    val cands = Dedup.minhashLsh(docs, "text", "doc_id", 3, 64, 16, 0.5)
    val exact = Dedup.ngramJaccard(docs, cands, "text", "doc_id", 3)
    val rows = cands.join(exact, Seq("id_a", "id_b"))
      .select($"est_jaccard", $"jaccard").as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (est, ex) =>
      assert(math.abs(est - ex) < 0.25, s"est=$est exact=$ex diverged")
    }
  }

  test("ngramJaccard equals a driver-side word-shingle set reference") {
    // the reference restates the `tokens` contract (NULL ≡ "", lower-cased,
    // space-trimmed, split on whitespace runs) and the `shingles` one (a
    // document of at most k tokens is one whole-text shingle), then takes
    // |A ∩ B| / |A ∪ B| over Scala sets of word 3-shingles
    val k = 3
    def shingleSet(t: String): Set[String] = {
      val s = Option(t).getOrElse("").toLowerCase.replaceAll("^ +| +$", "")
      val toks = if (s.isEmpty) Seq.empty[String] else s.split("\\s+", -1).toSeq
      if (toks.size <= k) Set(toks.mkString(" "))
      else toks.sliding(k).map(_.mkString(" ")).toSet
    }
    val texts = Seq(
      1L -> null,                          // NULL text
      2L -> "",                            // empty text
      3L -> "a b",                         // fewer than k tokens
      4L -> "a b c",                       // exactly k tokens
      5L -> "a b c a b c a b c",           // repeated shingles
      6L -> "A  b c d",                    // case and space runs
      7L -> "a b c d e",
      8L -> "x y")
    val df = texts.toDF("doc_id", "text")
    val cands = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 8L), (4L, 5L), (4L, 7L), (5L, 7L),
      (6L, 7L), (3L, 4L),
      (4L, 5L),                            // duplicated candidate row
      (3L, 99L), (99L, 4L))                // an id missing from df
      .toDF("id_a", "id_b")
    val byId = texts.toMap
    val want = cands.as[(Long, Long)].collect().toSeq
      .filter { case (a, b) => byId.contains(a) && byId.contains(b) }
      .map { case (a, b) =>
        val (sa, sb) = (shingleSet(byId(a)), shingleSet(byId(b)))
        (a, b, (sa & sb).size.toDouble / (sa | sb).size)
      }.sorted
    val got = Dedup.ngramJaccard(df, cands, "text", "doc_id", k)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSeq.sorted
    assert(got == want)
    // the cases above really cover what they claim
    assert(want.count(_._1 == 4L) == 3, "the duplicated (4, 5) row must stay two rows")
    assert(want.contains((1L, 2L, 1.0)), "NULL and empty text share the empty shingle")
    assert(want.contains((4L, 5L, 1.0 / 3)), "a repeated shingle counts once")
    assert(want.contains((6L, 7L, 2.0 / 3)))
  }

  test("simhash blocking finds near-identical docs within hamming budget") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getInt(2) <= 3)) // bit_count → IntegerType
  }

  test("simhash maxHamming=0 keeps its single-segment blocking exact") {
    import spark.implicits._
    // nSeg=1 means the segment is the WHOLE 64-bit fingerprint; a wrapped
    // (1L << 64) mask would zero every segment value and cross-join the
    // corpus. Identical docs must pair, near-but-unequal docs must not.
    val df = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma DELTA x"), (4L, "totally different words here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "text", "doc_id", maxHamming = 0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    graft.operators.OpCache.release()
    assert(pairs == Set((1L, 2L)), s"exact-match blocking broken: $pairs")
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "text", "doc_id", maxHamming = -1)
    }
  }

  test("hamming distance of identical fingerprints is zero") {
    val df = Seq(("a b c d e", "a b c d e"), ("a b c d e", "x y z w q"))
      .toDF("t1", "t2")
    val d = df.select(Dedup.hammingDistance(
      Dedup.simhash64($"t1"), Dedup.simhash64($"t2")).as("d"))
      .as[Long].collect()
    assert(d(0) == 0L)
    assert(d(1) > 10L) // unrelated texts differ in many bits
  }

  test("prefix-filtered jaccard self-join equals the brute-force join") {
    import graft.functions.TextFunctions.shingles
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter($"doc_id" < 300)
    val fast = Dedup.jaccardSelfJoin(docs, "text", "doc_id", 3, 0.6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val sets = docs.select($"doc_id",
      array_distinct(shingles($"text", 3)).as("sh"))
    val brute = sets.alias("a").join(sets.alias("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("j"))
      .filter($"j" >= 0.6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(fast == brute,
      s"missing=${brute -- fast}, extra=${fast -- brute}")
    assert(brute.nonEmpty, "fixture should contain planted near-dups")
  }

  test("jaccardVerifyPairs upgrades ANY candidate set to the exact tier: " +
    "superset in, exact pair set out, identical jaccard values") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter($"doc_id" < 300)
    val exact = Dedup.jaccardSelfJoin(docs, "text", "doc_id", 3, 0.6)
      .select($"id_a", $"id_b", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // candidates = the TRUE pairs plus deliberate junk (dissimilar
    // pairs, duplicates, REVERSED orientations, and self-pairs — an
    // arbitrary blocking tier guarantees none of the canonical-form
    // invariants the LSH store provides) — the verify kernel must keep
    // exactly the true pairs, once each, at exactly the self-join's
    // jaccard values: a reversed (b,a) must not emit the pair twice and
    // a self-pair (a,a) must not emit a spurious jaccard-1.0 row
    val junk = docs.alias("a").join(docs.alias("b"),
        col("a.doc_id") + 250 === col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cands = exact.toSeq.map(p => (p._1, p._2)).toDF("id_a", "id_b")
      .unionByName(junk)
      .unionByName(exact.toSeq.map(p => (p._1, p._2)).toDF("id_a", "id_b"))
      .unionByName(exact.toSeq.map(p => (p._2, p._1)).toDF("id_a", "id_b"))
      .unionByName(docs.limit(5)
        .select($"doc_id".as("id_a"), $"doc_id".as("id_b")))
    val verifiedRows = Dedup.jaccardVerifyPairs(docs, "text", "doc_id",
        cands, shingleK = 3, threshold = 0.6)
      .as[(Long, Long, Double)].collect()
    val verified = verifiedRows.toSet
    assert(verified == exact,
      s"missing=${(exact -- verified).take(3)}, extra=${(verified -- exact).take(3)}")
    // sets hide double emission — the row count pins once-each
    assert(verifiedRows.length == exact.size,
      s"${verifiedRows.length} rows for ${exact.size} pairs")
    graft.operators.OpCache.release()
  }

  test("embedding near-dup finds crafted duplicate vectors (exact mode)") {
    val v1 = Array(1.0f, 0.0f, 0.0f)
    val v1b = Array(0.999f, 0.01f, 0.0f) // ~same direction
    val v2 = Array(0.0f, 1.0f, 0.0f)
    val df = Seq((1L, v1), (2L, v1b), (3L, v2)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, "embedding", "vec_id",
      threshold = 0.99, nBits = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("resolveClusters collapses a planted chain to the minimum id") {
    // a–b, b–c, c–d plus an unrelated pair: two components
    val pairs = Seq((20L, 10L), (20L, 30L), (30L, 40L), (100L, 200L))
      .toDF("id_a", "id_b")
    val out = distributed(clusterRows(pairs))
    assert(out == Seq(
      (10L, 10L, true), (20L, 10L, false), (30L, 10L, false), (40L, 10L, false),
      (100L, 100L, true), (200L, 100L, false)))
  }

  test("resolveClusters matches brute-force transitive closure on random graphs") {
    val edges = randomPairs(42, 40, 60)
    val pairs = edges.toDF("id_a", "id_b")
    val got = distributed(Dedup.resolveClusters(pairs)
      .select($"id", $"cluster_id").as[(Long, Long)].collect().toMap)
    // driver-side union-find as the oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got == want, s"diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
  }

  test("resolveClusters collapses a 1000-node chain (pathological diameter)") {
    // naive label propagation needs O(diameter) = 1000 rounds; the
    // large-star/small-star alternation must finish inside the default
    // maxRounds = 50 budget (O(log^2 n)) and label every node with the min
    val pairs = (1L until 1000L).map(i => (i - 1, i)).toDF("id_a", "id_b")
    val out = distributed(clusterRows(pairs))
    assert(out.length == 1000)
    assert(out.forall { case (id, c, keep) => c == 0L && keep == (id == 0L) })
    graft.operators.OpCache.release()
  }

  test("resolveClusters surfaces non-convergence instead of falling through") {
    // a 4-chain needs more than one star round to reach the fixpoint, so
    // maxRounds = 1 exhausts mid-collapse: strict mode must throw (and a
    // generous budget on the same input must succeed)
    val pairs = Seq((20L, 10L), (20L, 30L), (30L, 40L), (40L, 50L))
      .toDF("id_a", "id_b")
    distributed {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[IllegalStateException] {
        Dedup.resolveClusters(pairs, maxRounds = 1, strict = true).count()
      }
      assert(e.getMessage.contains("did not converge"))
      // the throw path must leave nothing OpCache.release() can't reach
      graft.operators.OpCache.release()
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
        "the throw path stranded cached entries")
      // non-strict keeps the defensive best-effort result (and warns)
      val lax = Dedup.resolveClusters(pairs, maxRounds = 1)
      assert(lax.count() == 5)
      graft.operators.OpCache.release()
      // same input, sufficient budget: converges to the canonical labels
      val ok = Dedup.resolveClusters(pairs)
        .select($"id", $"cluster_id").as[(Long, Long)].collect().toMap
      assert(ok == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
        50L -> 10L))
      graft.operators.OpCache.release()
    }
  }

  test("resolveClusters: the driver union-find and the star-round loop " +
    "give identical rows") {
    val graphs = Seq(1, 2, 3).map(s => randomPairs(s, 200, 300)) ++ Seq(
      randomPairs(4, 40, 120), // dense: few large components
      (1L until 1000L).map(i => (i - 1, i)), // the pathological chain
      (1L until 1000L).map(i => (i, i - 1)).reverse)
    graphs.foreach { edges =>
      val pairs = edges.toDF("id_a", "id_b")
      val onDriver = clusterRows(pairs)
      val loop = distributed(clusterRows(pairs))
      assert(onDriver.nonEmpty && onDriver == loop,
        s"paths differ on ${edges.size} edges: " +
          s"${(onDriver diff loop).take(5)} vs ${(loop diff onDriver).take(5)}")
      OpCache.release()
    }
  }

  test("resolveClusters' driver path caches nothing and plans a local relation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val pairs = randomPairs(5, 100, 150).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val clusters = Dedup.resolveClusters(pairs)
    assert(clusters.queryExecution.analyzed.collectFirst {
      case r: LocalRelation => r }.nonEmpty,
      "a small edge set must resolve on the driver")
    clusters.collect()
    val df = (0L until 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    Dedup.keepRepresentatives(df, pairs.select($"id_a", $"id_b"), "doc_id").collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the driver path left a persisted RDD behind")
  }

  test("OpCache.release leaves no lingering cached RDDs after an operator sweep") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "x y z w q r s t")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashLsh(df, "text", "doc_id").count()
    Dedup.simhashPairs(df, "text", "doc_id").count()
    Dedup.jaccardSelfJoin(df, "text", "doc_id").count()
    Dedup.resolveClusters(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")).count()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "operators should cache reused intermediates while results are consumed")
    OpCache.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "a catalog sweep + release must leave the cache registry empty")
  }

  test("keepRepresentatives drops exactly the non-canonical cluster members") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b") // 1-2-3 one cluster
    val kept = Dedup.keepRepresentatives(df, pairs, "doc_id")
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L)) // 4 untouched by pairs, 1 is the survivor
  }

  test("LSH-bucketed embedding near-dup keeps identical-direction vectors") {
    val base = Array.tabulate(16)(i => math.sin(i).toFloat)
    val near = base.map(x => x * 1.0001f) // same direction → same buckets
    val far = Array.tabulate(16)(i => math.cos(3 * i).toFloat)
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, "embedding", "vec_id",
      threshold = 0.999, nBits = 6).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("removeDuplicateSpans keeps first occurrences, empties hollowed docs") {
    // W=2 spans: d1 [a b | c d], d2 [a b | x y], d3 [x y | a b], d4 "", d5
    // one short trailing span. "a b" keeper (1,0) → removes (2,0), (3,1);
    // "x y" keeper (2,1) → removes (3,0). d3 loses everything but KEEPS
    // its row with empty text.
    val df = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "x y a b"),
      (4L, "   "), (5L, "q r s"))
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(df, "text", "doc_id", window = 2)
      .orderBy($"doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c d", 2L, 2L),
      (2L, "x y", 2L, 1L),
      (3L, "", 2L, 0L),
      (4L, "", 0L, 0L),
      (5L, "q r s", 2L, 2L)), s"got $out")
    OpCache.release()
    // minCount=4: "a b" peaks at 3 occurrences, so every span falls
    // under the bar — nothing is removed, and whitespace still
    // normalizes through the rebuild
    val loose = Dedup.removeDuplicateSpans(df, "text", "doc_id",
        window = 2, minCount = 4)
      .orderBy($"doc_id").select($"text_clean").as[String].collect().toSeq
    assert(loose == Seq("a b c d", "a b x y", "x y a b", "", "q r s"),
      s"got $loose")
    OpCache.release()
  }

  test("removeDuplicateSpans matches a brute-force oracle on random soup") {
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("ox", "elm", "fig", "gnu", "yak")
    val w = 3
    val corpus = (1L to 60L).map { id =>
      id -> Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    // brute force, sequentially: count spans corpus-wide, keep first
    val spansOf = corpus.map { case (id, text) =>
      id -> text.split("\\s+").filter(_.nonEmpty).grouped(w)
        .map(_.mkString(" ")).toVector
    }.toMap
    val counts = spansOf.values.flatten
      .groupBy(identity).view.mapValues(_.size).toMap
    val firstAt = scala.collection.mutable.Map.empty[String, (Long, Int)]
    spansOf.toSeq.sortBy(_._1).foreach { case (id, ss) =>
      ss.zipWithIndex.foreach { case (s, i) =>
        if (!firstAt.contains(s)) firstAt(s) = (id, i)
      }
    }
    val expected = corpus.map { case (id, _) =>
      val ss = spansOf(id)
      val kept = ss.zipWithIndex.collect {
        case (s, i) if counts(s) < 2 || firstAt(s) == ((id, i)) => s
      }
      (id, kept.mkString(" "), ss.size.toLong, kept.size.toLong)
    }
    val got = Dedup.removeDuplicateSpans(
        corpus.toDF("doc_id", "text"), "text", "doc_id", window = w)
      .orderBy($"doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got == expected, s"first diff: ${
      got.zip(expected).find { case (g, e) => g != e }}")
    OpCache.release()
  }

  test("duplicateSubstringSpans catches grid-straddling copies the aligned tier misses") {
    // the same 5-token passage P sits at offset 3 of doc 1 and offset 2
    // of doc 2 — no fixed window grid aligns on it
    val df = Seq(
      (1L, "a1 a2 a3 P1 P2 P3 P4 P5 a9 a10"),
      (2L, "b1 b2 P1 P2 P3 P4 P5 b8 b9 b10")).toDF("doc_id", "text")
    // aligned tier, window=5: chunk strings never match → removes nothing
    val aligned = Dedup.removeDuplicateSpans(df, "text", "doc_id",
        window = 5).orderBy($"doc_id")
      .select($"n_kept").as[Long].collect().toSeq
    assert(aligned == Seq(2L, 2L), s"aligned tier should miss this: $aligned")
    OpCache.release()
    // offset-robust tier: doc 2's copy (corpus-later) is the removable one
    val spans = Dedup.duplicateSubstringSpans(df, "text", "doc_id",
        minTokens = 5).orderBy($"doc_id", $"span_start")
      .as[(Long, Long, Long)].collect().toSeq
    assert(spans == Seq((2L, 2L, 7L)), s"got $spans")
    // stripping the span leaves doc 2's own tokens; doc 1 is untouched
    val stripped = Dedup.stripSpans(df,
        Dedup.duplicateSubstringSpans(df, "text", "doc_id", minTokens = 5),
        "text", "doc_id")
      .orderBy($"doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(stripped == Seq(
      (1L, "a1 a2 a3 P1 P2 P3 P4 P5 a9 a10", 10L, 10L),
      (2L, "b1 b2 b8 b9 b10", 10L, 5L)), s"got $stripped")
  }

  test("duplicateSubstringSpans matches a brute-force oracle with planted offset dups") {
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector("ox", "elm", "fig", "gnu", "yak", "ash", "koi")
    val L = 3
    val base = (1L to 40L).map { id =>
      id -> Vector.fill(rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
    }.toMap
    // plant unaligned copies: splice a 4-7-token slice of one doc into
    // another at a random offset (the failure mode this operator exists
    // for), on top of whatever chance repeats the 7-word soup produces
    val corpus = base.map { case (id, w) =>
      if (id % 5 == 0 && base(1L + (id % 37)).size >= 7) {
        val src = base(1L + (id % 37))
        val from = rnd.nextInt(src.size - 6)
        val slice = src.slice(from, from + 4 + rnd.nextInt(4))
        val at = rnd.nextInt(w.size + 1)
        id -> (w.take(at) ++ slice ++ w.drop(at))
      } else id -> w
    }
    // brute force from the definition, on STRINGS (no hashing): every
    // stride-1 window, canonical min (id, pos), coverage union, merge
    val occs = corpus.toSeq.flatMap { case (id, w) =>
      if (w.size >= L) (0 to w.size - L).map(p =>
        (w.slice(p, p + L).mkString(" "), id, p))
      else Nil
    }
    val removable = occs.groupBy(_._1).values.flatMap { os =>
      if (os.size >= 2) os.sortBy(o => (o._2, o._3)).tail.map(o => (o._2, o._3))
      else Nil
    }
    val expected = removable.groupBy(_._1).toSeq.flatMap { case (id, ps) =>
      val sorted = ps.map(_._2).toSeq.sorted
      val merged = sorted.foldLeft(Vector.empty[(Int, Int)]) { (acc, p) =>
        acc.lastOption match {
          case Some((s, e)) if p <= e => acc.init :+ (s, math.max(e, p + L))
          case _ => acc :+ (p, p + L)
        }
      }
      merged.map { case (s, e) => (id, s.toLong, e.toLong) }
    }.sortBy(r => (r._1, r._2))
    val got = Dedup.duplicateSubstringSpans(
        corpus.toSeq.map { case (id, w) => (id, w.mkString(" ")) }
          .toDF("doc_id", "text"),
        "text", "doc_id", minTokens = L)
      .orderBy($"doc_id", $"span_start")
      .as[(Long, Long, Long)].collect().toSeq
    assert(expected.nonEmpty, "fixture must contain planted duplicates")
    assert(got == expected, s"first diff: ${
      got.zipAll(expected, null, null).find { case (g, e) => g != e }}")
  }

  test("substringContamination counts eval-covered window positions at any offset") {
    val train = Seq(
      // P1..P4 from the eval doc sits at offset 2 — two 3-token windows
      // of this doc ([2,5) and [3,6)... with L=3 windows at pos 2 and 3
      (1L, "t1 t2 P1 P2 P3 P4 t7 t8"),
      (2L, "clean doc with nothing shared"),
      // the eval passage split across unrelated tokens — no 3-window match
      (3L, "P1 P2 x P3 P4 y z")).toDF("doc_id", "text")
    val eval = Seq((100L, "e1 P1 P2 P3 P4 e6")).toDF("doc_id", "text")
    val got = Dedup.substringContamination(train, eval, "text", "doc_id",
        minTokens = 3)
      .orderBy($"doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    // doc 1: windows at pos 2 ("P1 P2 P3") and 3 ("P2 P3 P4") match eval
    // windows; 6 windows total (8 tokens, L=3) → frac 2/6
    assert(got == Seq((1L, 6L, 2L, 0.3333)), s"got $got")
  }

  test("dedupAgainst drops exactly the already-stored content, bloom on or off") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "zeta eta theta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "  ALPHA beta   GAMMA "), // normalizes to stored doc 1 → dropped
      (11L, "brand new content"),
      (12L, "delta epsilon"),         // byte-identical to stored doc 2 → dropped
      (13L, "another new doc")).toDF("doc_id", "text")
    // bloomItems=0 (plain anti-join), a sane bloom, and a DEGENERATE
    // 1-item bloom (saturated → ~every row "maybe seen") must all agree:
    // the bloom only routes rows, the anti-join decides
    for (bloomItems <- Seq(0L, 1000L, 1L)) {
      val out = Dedup.dedupAgainst(batch, corpus, "text", "doc_id", bloomItems)
      assert(out.columns.toSeq == batch.columns.toSeq,
        s"schema must be the batch schema, got ${out.columns.toSeq}")
      val kept = out.select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(11L, 13L),
        s"bloomItems=$bloomItems kept ${kept.toSeq}")
    }
  }

  test("dedupAgainst equals the brute-force set difference on random splits") {
    // small vocab → frequent cross-split content collisions
    val rng = new scala.util.Random(53L)
    val vocab = Array("a", "b", "c", "d")
    val rows = (0L until 200L).map(id => (id,
      Seq.fill(2 + rng.nextInt(3))(vocab(rng.nextInt(vocab.length)))
        .mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val corpus = df.filter($"doc_id" % 3 === 0)
    val batch = df.filter($"doc_id" % 3 =!= 0)
    def norm(t: String) = t.trim.toLowerCase.split("\\s+").mkString(" ")
    val stored = rows.filter(_._1 % 3 == 0).map(r => norm(r._2)).toSet
    val want = rows.filter(r => r._1 % 3 != 0 && !stored(norm(r._2)))
      .map(_._1).sorted
    for (bloomItems <- Seq(0L, 500L)) {
      val kept = Dedup.dedupAgainst(batch, corpus, "text", "doc_id", bloomItems)
        .select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == want, s"bloomItems=$bloomItems: got ${kept.size}, " +
        s"want ${want.size}")
    }
  }

  test("minhashLshAgainst pairs batch docs with their stored near-duplicates only") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val corpus = Seq(
      (100L, base),                                  // near-dup target
      (101L, base),                                  // second copy: corpus self-pair bait
      (102L, "completely unrelated corpus words here entirely"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (200L, base.replace("w16", "w16x")),           // j≈0.79 vs base (shingles)
      (201L, base),                                  // exact copy → j=1
      (202L, "fresh batch only content nothing shared"),
      (203L, "fresh batch only content nothing shared")) // batch self-pair bait
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshAgainst(batch, corpus, "text", "doc_id",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    OpCache.release()
    // bipartite: every pair is (batch, corpus); the 100-101 and 202-203
    // self-pairs must NOT appear in any orientation
    assert(pairs.forall { case (b, c) => b >= 200L && c < 200L },
      s"non-bipartite pair leaked: $pairs")
    assert(pairs.contains((201L, 100L)) && pairs.contains((201L, 101L)),
      s"exact cross-copy missed: $pairs")
    assert(pairs.contains((200L, 100L)), s"near-dup missed: $pairs")
    assert(!pairs.exists(_._1 == 202L) && !pairs.exists(_._1 == 203L),
      s"unrelated batch doc paired: $pairs")
  }

  test("simhashAgainst pairs batch docs with stored near-dups, bipartite only") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val corpus = Seq(
      (100L, base),                                  // near-dup target
      (101L, base),                                  // corpus self-pair bait
      (102L, "completely unrelated corpus words here entirely"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (200L, base.replace("w16", "w16x")),           // few-bit fp delta
      (201L, base),                                  // exact copy → hamming 0
      (202L, "fresh batch only content nothing shared"),
      (203L, "fresh batch only content nothing shared")) // batch self-pair bait
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashAgainst(batch, corpus, "text", "doc_id",
        maxHamming = 8)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    OpCache.release()
    assert(pairs.forall { case (b, c) => b >= 200L && c < 200L },
      s"non-bipartite pair leaked: $pairs")
    assert(pairs.contains((201L, 100L)) && pairs.contains((201L, 101L)),
      s"exact cross-copy (hamming 0) missed: $pairs")
    assert(!pairs.exists(_._1 == 202L) && !pairs.exists(_._1 == 203L),
      s"unrelated batch doc paired: $pairs")
    // the blocked pair set equals brute force (pigeonhole losslessness
    // on this fixture; the q131 gate proves it corpus-wide)
    val bf = batch.select($"doc_id".as("b"), Dedup.simhash64($"text").as("fa"))
      .crossJoin(corpus.select($"doc_id".as("c"), Dedup.simhash64($"text").as("fb")))
      .filter(Dedup.hammingDistance($"fa", $"fb") <= 8)
      .select($"b", $"c").as[(Long, Long)].collect().toSet
    assert(pairs == bf, s"blocked=$pairs brute=$bf")
  }

  test("semDedupPairs emits a verified subgraph of the exact threshold graph") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val tau = 0.45
    val exact = Dedup.embeddingNearDup(e, "embedding", "vec_id",
        threshold = tau, nBits = 0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val sem = Dedup.semDedupPairs(e, "embedding", "vec_id", k = 8, tau = tau)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)].collect()
    OpCache.release()
    // precision is structural: every emitted pair passed the exact cosine
    // test, so it must be in the exact graph and at/above tau
    sem.foreach { case (a, b, c) =>
      assert(c >= tau, s"pair ($a,$b) below tau: $c")
      assert(exact.contains((a, b)), s"pair ($a,$b) not in exact graph")
    }
    // the fixture has semantic dups at this tau — a silently-empty sem
    // graph would pass the subgraph check while finding nothing
    assert(sem.nonEmpty, "no semantic duplicates found at tau=0.45")
  }

  test("semDedup soft assignment: probes=2 finds at least the probes=1 pairs") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val hard = Dedup.semDedupPairs(e, "embedding", "vec_id",
        k = 8, tau = 0.45, probes = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val soft = Dedup.semDedupPairs(e, "embedding", "vec_id",
        k = 8, tau = 0.45, probes = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    OpCache.release()
    // every pair sharing its primary cell also shares a probe-set cell
    assert(hard.subsetOf(soft),
      s"soft assignment lost hard pairs: ${hard.diff(soft)}")
    // measured on this fixture: soft strictly improves boundary recall
    assert(soft.size > hard.size,
      s"probes=2 found nothing beyond hard assignment (${soft.size} pairs)")
  }

  test("semDedup ships exactly one representative per duplicate component") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = Dedup.semDedupPairs(e, "embedding", "vec_id", k = 8, tau = 0.45)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val kept = Dedup.semDedup(e, "embedding", "vec_id", k = 8, tau = 0.45)
      .select($"vec_id").as[Long].collect().toSet
    OpCache.release()
    // losers = every paired id except each component's minimum; with the
    // fixture's simple components, union-find by hand
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val losers = members.filter(id => find(id) != id)
    val total = e.count()
    assert(kept.size == total - losers.size,
      s"kept ${kept.size}, expected ${total - losers.size}")
    assert(losers.forall(!kept.contains(_)), "a loser survived semDedup")
    assert(members.filter(id => find(id) == id).forall(kept.contains),
      "a component representative was dropped")
  }

  test("ivfAssignMulti: per-id probe cells are distinct, first probe = hard") {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = Similarity.trainCentroids(e, "embedding", "vec_id", k = 8)
    val multi = Similarity.ivfAssignMulti(e, cents, "embedding", "vec_id",
        probes = 2)
      .select($"vec_id", $"cell").as[(Long, Long)].collect()
    val hard = Similarity.ivfAssign(e, cents, "embedding", "vec_id")
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    OpCache.release()
    val byId = multi.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    byId.foreach { case (id, cells) =>
      assert(cells.size <= 2 && cells.distinct.size == cells.size,
        s"id $id probed cells $cells")
      assert(cells.contains(hard(id)),
        s"id $id multi-assign lost its hard cell ${hard(id)}: $cells")
    }
    // sanity: nearly all ids get a second probe (k=8 > probes)
    assert(byId.values.count(_.size == 2) > byId.size / 2,
      "second probe missing for most ids")
  }

  test("ingestBatch: append visible, idempotent, equals the one-shot store") {
    val d = docs.filter($"doc_id" < 600)
    val m = pmod($"doc_id", lit(3))
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"dedupspec_ingest_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Dedup.writeFingerprintStore(d.filter(m === 2), "text", tbl, buckets = 4)
    val survA = Dedup.ingestBatch(spark, d.filter(m === 0), "text", "doc_id",
      tbl)
    assert(survA.count() > 0, "batch A should pass new content")
    // idempotence: the append made batch A's content part of the snapshot
    assert(Dedup.ingestBatch(spark, d.filter(m === 0), "text", "doc_id",
      tbl).count() == 0, "re-ingest must pass nothing")
    // sequential ingest ≡ one-shot: batch B against corpus ∪ batch A
    val survB = Dedup.ingestBatch(spark, d.filter(m === 1), "text", "doc_id",
        tbl)
      .select($"doc_id").as[Long].collect().toSet
    val oneShot = Dedup.dedupAgainst(
        Dedup.exact(d.filter(m === 1), "text", "doc_id"),
        d.filter(m =!= 1), "text", "doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(survB == oneShot, s"sequential vs one-shot: $survB vs $oneShot")
    // the store now answers for the WHOLE corpus: its fp set is exactly
    // the distinct fingerprint set of everything ingested
    val storeFps = spark.table(tbl).as[String].collect().toSet
    val allFps = d.select(TextFunctions.fingerprint($"text")).distinct()
      .as[String].collect().toSet
    assert(storeFps == allFps, "store fp set != corpus distinct fp set")
    // retraction: remove batch A's content → the store genuinely forgets
    // it (re-ingest passes it again), everything else stays
    Dedup.removeFromFingerprintStore(spark, tbl, d.filter(m === 0), "text")
    val aFps = d.filter(m === 0)
      .select(TextFunctions.fingerprint($"text")).distinct()
      .as[String].collect().toSet
    val afterFps = spark.table(tbl).as[String].collect().toSet
    assert(afterFps == allFps -- aFps, "removal must delete exactly A's fps")
    // every batch-A row's fp was deleted (fp(A) ⊆ aFps), so the whole
    // batch passes the anti-join again — the store has forgotten it
    assert(Dedup.dedupAgainstStore(spark, d.filter(m === 0), "text", tbl)
      .count() == d.filter(m === 0).count(),
      "forgotten content must pass the anti-join again")
    OpCache.release()
  }

  test("removeFromLshStore: retracted docs stop matching, others keep matching") {
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"dedupspec_lshrm_$pid"
    Seq(s"${tbl}_bands", s"${tbl}_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight")).toDF("doc_id", "text")
    Dedup.writeLshStore(corpus, "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, buckets = 2)
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta NINE"), // ~dup of 100
      (2L, "one two three four five six seven NINE"))       // ~dup of 101
      .toDF("doc_id", "text")
    def matches() = Dedup.minhashLshAgainstStore(spark, batch, "text",
        "doc_id", tbl, shingleK = 3, numHashes = 64, bands = 16,
        threshold = 0.5)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val before = matches()
    assert(before.exists(_._2 == 100L) && before.exists(_._2 == 101L),
      s"fixture should match both stored docs: $before")
    Dedup.removeFromLshStore(spark, tbl, Seq(100L).toDF("id"))
    val after = matches()
    assert(!after.exists(_._2 == 100L), s"retracted doc still matches: $after")
    assert(after == before.filter(_._2 != 100L),
      s"non-retracted matches must be untouched: $after vs $before")
    OpCache.release()
  }

  test("removeFromAssignedCorpus deletes exactly the retracted ids") {
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"dedupspec_semrm_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("centroid_id", "embedding")
    Dedup.writeAssignedCorpus(vecs, cents, "embedding", "vec_id",
      probes = 1, tbl, buckets = 2)
    Dedup.removeFromAssignedCorpus(spark, tbl, Seq(2L).toDF("vec_id"),
      "vec_id")
    assert(spark.table(tbl).select($"vec_id").as[Long].collect().toSet
      == Set(1L, 3L), "assigned store must hold exactly the survivors")
    OpCache.release()
  }

  test("ingestBatchLsh: append visible, idempotent, equals the one-shot store") {
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"dedupspec_lshing_$pid"
    Seq(s"${tbl}_bands", s"${tbl}_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight")).toDF("doc_id", "text")
    Dedup.writeLshStore(corpus, "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, buckets = 2)
    val batchA = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta NINE"), // ~dup of 100
      (2L, "red orange yellow green blue indigo violet extra"), // novel
      (3L, "red orange yellow green blue indigo violet other")) // ~dup of 2
      .toDF("doc_id", "text")
    val survA = Dedup.ingestBatchLsh(spark, batchA, "text", "doc_id", tbl,
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(survA == Set(2L),
      s"expected only the novel min-id representative to survive: $survA")
    // the append is visible: the store now holds doc 2's signature/bands
    assert(spark.table(s"${tbl}_sigs").filter($"id" === 2L).count() == 1)
    // idempotence: every batch-A survivor is now an exact dup of stored
    // content (est_jaccard 1.0), so a replayed ingest passes nothing
    assert(Dedup.ingestBatchLsh(spark, batchA, "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .count() == 0, "re-ingest must pass nothing")
    // sequential ingest ≡ one-shot: serving batch B against the appended
    // store equals the in-plan bipartite path against corpus ∪ survivors
    val batchB = Seq(
      (10L, "red orange yellow green blue indigo violet NINE"), // ~dup of 2
      (11L, "totally fresh content sharing nothing with any store row"))
      .toDF("doc_id", "text")
    val stored = Dedup.minhashLshAgainstStore(spark, batchB, "text",
        "doc_id", tbl, shingleK = 3, numHashes = 64, bands = 16,
        threshold = 0.5)
      .select($"batch_id", $"corpus_id", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = Dedup.minhashLshAgainst(batchB,
        corpus.unionByName(batchA.filter($"doc_id" === 2L)), "text",
        "doc_id", shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"batch_id", $"corpus_id", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(stored == oneShot, s"sequential vs one-shot: $stored vs $oneShot")
    assert(stored.exists(p => p._1 == 10L && p._2 == 2L),
      s"batch B must near-dup the APPENDED doc 2: $stored")
    OpCache.release()
  }

  test("minhashLshPairsFromStore equals the in-plan self pairs and feeds the data card") {
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"dedupspec_lshself_$pid"
    Seq(s"${tbl}_bands", s"${tbl}_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val corpus = docs.filter($"doc_id" < 1500)
    Dedup.writeLshStore(corpus, "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, buckets = 4)
    val stored = Dedup.minhashLshPairsFromStore(spark, tbl,
        numHashes = 64, threshold = 0.5)
      .select($"id_a", $"id_b", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val adhoc = Dedup.minhashLsh(corpus, "text", "doc_id",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"id_a", $"id_b", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(stored == adhoc,
      s"missing=${adhoc -- stored}, extra=${stored -- adhoc}")
    assert(stored.nonEmpty, "fixture should contain planted near-dups")
    // the production composition the corpusReportExt scaladoc names:
    // store-served pairs drive the card's near-dup column
    val card = graft.operators.TextProfile.corpusReportExt(corpus, "text",
        "doc_id", "source", "lang",
        Dedup.minhashLshPairsFromStore(spark, tbl, 64, 0.5),
        corpus.limit(0), minTokens = 4)
      .select($"source", $"near_dup_frac").as[(String, Double)]
      .collect().toMap
    val dupIds = stored.flatMap(p => Seq(p._1, p._2))
    val bySource = corpus.select($"doc_id", $"source")
      .as[(Long, String)].collect()
    bySource.map(_._2).distinct.foreach { src =>
      val n = bySource.count(_._2 == src)
      val nd = bySource.count(r => r._2 == src && dupIds.contains(r._1))
      val want = BigDecimal(nd.toDouble / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(card(src) - want) < 1e-9,
        s"source $src: card ${card(src)} vs recomputed $want")
    }
    OpCache.release()
  }

  test("ingestBatchSemDedup: append visible, idempotent, equals the one-shot store") {
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"dedupspec_seming_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val corpus = Seq((100L, Seq(1f, 0f)), (101L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("centroid_id", "embedding")
    Dedup.writeAssignedCorpus(corpus, cents, "embedding", "vec_id",
      probes = 1, tbl, buckets = 2)
    val batchA = Seq(
      (1L, Seq(0.99f, 0.14f)),  // ~dup of 100 (cos ≈ 0.99)
      (2L, Seq(0.71f, 0.69f)),  // novel (cos ≈ 0.72 to both corpus vecs)
      (3L, Seq(0.72f, 0.70f)))  // ~dup of 2 (cos ≈ 1.0), in-batch loser
      .toDF("vec_id", "embedding")
    val survA = Dedup.ingestBatchSemDedup(spark, batchA, tbl, cents,
        "embedding", "vec_id", probes = 1, tau = 0.95)
      .select($"vec_id").as[Long].collect().toSet
    assert(survA == Set(2L),
      s"expected only the novel min-id representative to survive: $survA")
    assert(spark.table(tbl).filter($"vec_id" === 2L).count() == 1,
      "appended assignment missing from the store")
    // idempotence: every survivor now cosine-matches its own stored copy
    assert(Dedup.ingestBatchSemDedup(spark, batchA, tbl, cents,
      "embedding", "vec_id", probes = 1, tau = 0.95).count() == 0,
      "re-ingest must pass nothing")
    // sequential ≡ one-shot: batch B against the appended store equals
    // the in-plan bipartite compare against corpus ∪ survivors
    val batchB = Seq(
      (10L, Seq(0.73f, 0.68f)), // ~dup of appended 2 (cos ≈ 0.9998)
      (11L, Seq(-1f, 0.2f)))    // matches nothing at tau = 0.95
      .toDF("vec_id", "embedding")
    val stored = Dedup.semDedupBatchAgainstStore(spark, batchB, tbl, cents,
        "embedding", "vec_id", probes = 1, tau = 0.95)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val oneShot = Dedup.semDedupPairsBipartite(
        graft.operators.Similarity.ivfAssignMulti(batchB, cents,
          "embedding", "vec_id", 1),
        graft.operators.Similarity.ivfAssignMulti(
          corpus.unionByName(batchA.filter($"vec_id" === 2L)), cents,
          "embedding", "vec_id", 1),
        "embedding", "vec_id", tau = 0.95)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(stored == oneShot, s"sequential vs one-shot: $stored vs $oneShot")
    assert(stored.contains((10L, 2L)),
      s"batch B must semantically match the APPENDED doc 2: $stored")
    OpCache.release()
  }

  test("semanticDecontaminate at k=1 equals the exact bipartite cut; " +
    "empty eval is a no-op; a verbatim eval copy is always dropped") {
    // k = 1 ⇒ one cell ⇒ the bipartite compare is COMPLETE — the
    // operator must equal the brute-force threshold cut exactly
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), // = eval 100 → dropped
      (2L, Seq(0.95f, 0.31f, 0.0f)), // cos vs eval 100 ≈ 0.95 → dropped
      (3L, Seq(0.0f, 1.0f, 0.0f)), // cos vs eval 101 ≈ 0.71 < 0.9 → kept
      (4L, Seq(0.0f, 0.0f, 1.0f)), // orthogonal to both → kept
      (5L, Seq(0.6f, 0.0f, 0.8f))) // cos vs 100 = 0.6, vs 101 ≈ .57 → kept
      .toDF("vec_id", "embedding")
    val eval = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f)),
      (101L, Seq(0.7f, 0.7f, 0.14f)))
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDecontaminate(corpus, eval, "embedding",
        "vec_id", k = 1, tau = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 5L), s"got $kept")
    // empty eval: nothing to leak, corpus survives whole
    val keptAll = Dedup.semanticDecontaminate(corpus,
        eval.filter($"vec_id" < 0), "embedding", "vec_id", k = 1, tau = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(keptAll == Set(1L, 2L, 3L, 4L, 5L), s"got $keptAll")
    OpCache.release()
  }

  test("cdcChunks matches a naive reference, reconstructs each doc's " +
      "length, and resyncs chunk boundaries after an insertion") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def naive(text: String, w: Int = 16, mask: Int = 64)
        : Seq[(Long, String, Long)] = {
      val t = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        .mkString(" ")
      val n = t.length
      if (n == 0) return Nil
      val cuts = (w until n).filter(i =>
        Integer.parseInt(md5hex(t.substring(i - w, i)).take(4), 16)
          % mask == 0)
      val bounds = 0 +: cuts :+ n
      bounds.sliding(2).zipWithIndex.map { case (Seq(lo, hi), j) =>
        (j.toLong, md5hex(t.substring(lo, hi)), (hi - lo).toLong)
      }.toSeq
    }
    val rnd = new scala.util.Random(185)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def prose(k: Int) =
      (0 until k).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val docA = prose(300)
    // docB inserts a phrase near the front: content-defined boundaries
    // must RESYNC, so the tail chunks match docA's exactly
    val docB = docA.split(" ").take(10).mkString(" ") +
      " wholly new inserted material here " +
      docA.split(" ").drop(10).mkString(" ")
    val docs = Seq((1L, docA), (2L, docB), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val got = graft.operators.Dedup.cdcChunks(docs, "text", "id")
      .select($"id", $"chunk_idx", $"chunk_fp", $"chunk_len")
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq).toMap
    // exact naive equality per doc (index, fingerprint, length)
    assert(got.getOrElse(1L, Nil) == naive(docA))
    assert(got.getOrElse(2L, Nil) == naive(docB))
    assert(!got.contains(3L) && !got.contains(4L),
      "empty/null docs emit no chunks")
    // reconstruction: chunk lengths cover the normalized text exactly
    val normLen = docA.split("\\s+").filter(_.nonEmpty).mkString(" ").length
    assert(got(1L).map(_._3).sum == normLen)
    // resync: the bulk of docA's chunks survive the insertion verbatim
    val fpsA = got(1L).map(_._2)
    val shared = fpsA.toSet.intersect(got(2L).map(_._2).toSet)
    assert(shared.size >= fpsA.toSet.size / 2,
      s"only ${shared.size} of ${fpsA.toSet.size} chunks resynced")
    // and a fixed grid of the same granularity would NOT: offset every
    // position by the insertion and alignment is lost from chunk one
    val gridA = docA.grouped(64).map(md5hex).toSet
    val gridB = docB.grouped(64).map(md5hex).toSet
    assert(gridA.intersect(gridB).size < shared.size,
      "CDC must beat the fixed grid after an insertion")
    // partition-order-free
    val rep = graft.operators.Dedup.cdcChunks(docs.repartition(5),
        "text", "id")
      .select($"id", $"chunk_idx", $"chunk_fp", $"chunk_len")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(rep == graft.operators.Dedup.cdcChunks(docs, "text", "id")
      .select($"id", $"chunk_idx", $"chunk_fp", $"chunk_len")
      .as[(Long, Long, String, Long)].collect().toSet)

    // the NATIVE rolling-hash face (a different cut family — the
    // production tier, invariant-gated like DeflateRatio): same
    // reconstruction, resync, and determinism contracts must hold
    val nat = graft.operators.Dedup.cdcChunks(docs, "text", "id",
        nativeHash = true)
      .select($"id", $"chunk_idx", $"chunk_fp", $"chunk_len")
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq).toMap
    assert(nat(1L).map(_._3).sum == normLen, "native: length reconstruction")
    assert(!nat.contains(3L) && !nat.contains(4L))
    assert(nat(1L).size > 1, "native rule must actually cut this doc")
    val natShared = nat(1L).map(_._2).toSet
      .intersect(nat(2L).map(_._2).toSet)
    assert(natShared.size >= nat(1L).map(_._2).toSet.size / 2,
      s"native resync: ${natShared.size} of ${nat(1L).size}")
    val natRep = graft.operators.Dedup.cdcChunks(docs.repartition(3),
        "text", "id", nativeHash = true)
      .select($"id", $"chunk_idx", $"chunk_fp", $"chunk_len")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(natRep == graft.operators.Dedup.cdcChunks(docs, "text", "id",
        nativeHash = true)
      .select($"id", $"chunk_idx", $"chunk_fp", $"chunk_len")
      .as[(Long, Long, String, Long)].collect().toSet)
    // identical content → identical fingerprints across faces: both fp
    // definitions are md5 of the chunk text, so a chunk CUT at the same
    // offsets by both rules carries the same fp (the first chunk of an
    // identical doc pair always agrees within a face)
    val natB = nat(2L)
    assert(natB.nonEmpty)
  }

  test("stripDuplicateBlocks removes every ≥2x block except its first " +
      "occurrence and rebuilds by concatenating the survivors") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def naiveChunks(text: String): Seq[(Int, Int)] = { // (off, len)
      val t = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        .mkString(" ")
      val n = t.length
      if (n == 0) return Nil
      val cuts = (16 until n).filter(i =>
        Integer.parseInt(md5hex(t.substring(i - 16, i)).take(4), 16)
          % 64 == 0)
      val bounds = 0 +: cuts :+ n
      bounds.sliding(2).map { case Seq(lo, hi) => (lo, hi - lo) }.toSeq
    }
    def norm(s: String) =
      s.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
    val rnd = new scala.util.Random(186)
    val words = Vector("one", "two", "three", "four", "five", "six")
    def prose(k: Int) =
      (0 until k).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val shared = prose(120) // the cross-document boilerplate block run
    val a = prose(40) + " " + shared + " " + prose(30)
    val b = prose(55) + " " + shared + " " + prose(25) // different offset
    val c = prose(60) // no shared material beyond chance
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, "")).toDF("id", "text")
    // naive keep-first over the same chunks
    val all = Seq(1L -> a, 2L -> b, 3L -> c).flatMap { case (id, tx) =>
      naiveChunks(tx).zipWithIndex.map { case ((off, ln), idx) =>
        (id, idx, off, ln, md5hex(norm(tx).substring(off, off + ln)))
      }
    }
    val occ = all.groupBy(_._5).view.mapValues(_.size).toMap
    val firstOf = all.groupBy(_._5).view
      .mapValues(_.minBy(r => (r._1, r._2))).toMap
    val expect = Seq(1L -> a, 2L -> b, 3L -> c).map { case (id, tx) =>
      val keptSlices = all.filter(_._1 == id).sortBy(_._2).collect {
        case r if occ(r._5) < 2 || firstOf(r._5) == r =>
          norm(tx).substring(r._3, r._3 + r._4)
      }
      id -> keptSlices.mkString("")
    }.toMap
    val got = graft.operators.Dedup.stripDuplicateBlocks(docs, "text", "id")
      .select($"id", $"text_clean", $"n_chunks", $"n_kept")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      assert(got(id)._1 == expect(id), s"doc $id rebuild diverged")
    }
    // doc 1 keeps the shared run (first occurrence); doc 2 loses blocks
    assert(got(1L)._3 == got(1L)._2, "doc 1 must keep every block")
    assert(got(2L)._3 < got(2L)._2, "doc 2 must lose the shared blocks")
    assert(got(2L)._1.length < norm(b).length)
    // untouched and empty docs survive intact
    assert(got(3L)._1 == norm(c))
    assert(got(4L) == (("", 0L, 0L)))
  }
}
