package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Curate

/** Curation operators: deterministic sampling, mixing rates, quality
  * quantile filtering, PII redaction. */
class CurateSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("deterministicSample is reproducible, order-independent, ~rate sized") {
    val n = docs.count()
    val a = Curate.deterministicSample(docs, "doc_id", 0.3)
    val ids1 = a.select("doc_id").collect().map(_.getLong(0)).toSet
    // same selection from a differently-partitioned input
    val ids2 = Curate.deterministicSample(docs.repartition(7), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // Bernoulli(0.3) over n docs: allow a generous 6-sigma band
    val sigma = math.sqrt(n * 0.3 * 0.7)
    assert(math.abs(ids1.size - 0.3 * n) <= 6 * sigma + 1)
    // rate 1.0 keeps everything; rate 0.0 keeps nothing
    assert(Curate.deterministicSample(docs, "doc_id", 1.0).count() == n)
    assert(Curate.deterministicSample(docs, "doc_id", 0.0).count() == 0)
  }

  test("deterministicSample nests: the 10% sample is a subset of the 30%") {
    val small = Curate.deterministicSample(docs, "doc_id", 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val big = Curate.deterministicSample(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
  }

  test("stratifiedSample applies per-stratum rates") {
    val out = Curate.stratifiedSample(docs, "lang",
      Map("en" -> 1.0, "de" -> 0.0), defaultRate = 0.5)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val inLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") == inLang("en")) // rate 1.0: all kept
    assert(!byLang.contains("de")) // rate 0.0: none kept
    val others = inLang.keySet -- Set("en", "de")
    others.foreach { l => // default 0.5 within a wide band
      assert(byLang(l) > 0 && byLang(l) < inLang(l))
    }
  }

  test("samplePerGroup keeps exactly k per group with dense ranks") {
    val out = Curate.samplePerGroup(docs, "lang", "doc_id", 7).cache()
    val sizes = out.groupBy("lang").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ == 7)) // every lang has >= 7 docs at sf0.001
    val ranks = out.groupBy("lang")
      .agg(sort_array(collect_list("sample_rank")).as("rs"))
      .select("rs").collect().map(_.getSeq[Int](0))
    assert(ranks.forall(_ == (1 to 7)))
    out.unpersist()
  }

  test("topFractionPerGroup keeps ceil(frac*n) best rows per group") {
    val scored = docs.withColumn("quality",
      TextFunctions.qualityScore(col("text")))
    val out = Curate.topFractionPerGroup(scored, "lang", "quality", 0.5,
      "doc_id").cache()
    val inSizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val outSizes = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    inSizes.foreach { case (l, n) =>
      assert(outSizes(l) == math.ceil(n * 0.5).toLong, s"lang $l")
    }
    // kept min quality >= dropped max quality per group (modulo tiebreak:
    // at the boundary equal scores are split by doc_id, so compare >=)
    val kept = out.groupBy("lang").agg(min("quality").as("keptMin"))
    val dropped = scored.join(out.select("doc_id"), Seq("doc_id"), "left_anti")
      .groupBy("lang").agg(max("quality").as("dropMax"))
    val joined = kept.join(dropped, "lang").collect()
    joined.foreach { r =>
      assert(r.getDouble(1) >= r.getDouble(2), s"lang ${r.getString(0)}")
    }
    out.unpersist()
  }

  test("mixingRates hits the target mix without over-sampling any stratum") {
    val targets = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1,
      "zh" -> 0.1)
    val rates = Curate.mixingRates(docs, "lang", targets).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(rates.forall { case (_, _, _, rate, _) => rate >= 0 && rate <= 1 })
    // exactly one binding stratum at rate 1.0
    assert(rates.count(_._4 == 1.0) >= 1)
    // realized mix proportional to targets: sample_n / weight equal across
    // strata (within floor rounding slack)
    val perWeight = rates.filter(_._3 > 0)
      .map { case (_, _, w, _, n) => n / w }
    assert(perWeight.max - perWeight.min <= 1.0 / targets.values.min,
      s"per-weight totals spread too far: $perWeight")
  }

  test("rate-1.0 stratum keeps docs whose md5 prefix is exactly ffffffff") {
    import spark.implicits._
    // md5("4958115803") = ffffffffeeb434f0... — the 1-in-2^32 sample key a
    // capped 'ffffffff' threshold with strict < silently drops. Rate 1.0
    // must keep it (threshold 'g' sorts above every hex key).
    val rows = Seq((4958115803L, "en"), (1L, "en"), (2L, "de"))
      .toDF("doc_id", "lang")
    val keyOf = rows.filter(col("doc_id") === 4958115803L)
      .select(Curate.sampleKey(col("doc_id"))).collect()(0).getString(0)
    assert(keyOf == "ffffffff") // the fixture really sits on the edge
    val kept = Curate.stratifiedSample(rows, "lang",
        Map("en" -> 1.0), defaultRate = 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(4958115803L), "rate-1.0 stratum dropped an ffffffff-prefix doc")
    assert(kept == Set(4958115803L, 1L))
    // deterministicSample agrees at the same edge
    val det = Curate.deterministicSample(rows, "doc_id", 1.0).count()
    assert(det == 3)
  }

  test("mixingRates feeds stratifiedSample end-to-end (binding stratum exact)") {
    val targets = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1,
      "zh" -> 0.1)
    val plan = Curate.mixingRates(docs, "lang", targets).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3), r.getLong(4))))
      .toMap
    val rates = plan.map { case (l, (_, rate, _)) => l -> rate }
    val kept = Curate.stratifiedSample(docs, "lang", rates, defaultRate = 0.0,
        idCol = "doc_id")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    plan.foreach { case (l, (n, rate, sampleN)) =>
      if (rate == 1.0) {
        // the binding stratum keeps EVERY row — this is the gate that
        // catches threshold-boundary drift (the ffffffff edge) permanently
        assert(kept(l) == n, s"binding stratum $l kept ${kept(l)} of $n")
      } else if (rate == 0.0) {
        assert(!kept.contains(l), s"rate-0 stratum $l leaked rows")
      } else {
        // hash-threshold realizes Binomial(n, rate): 6-sigma band + 1
        val sigma = math.sqrt(n * rate * (1 - rate))
        assert(math.abs(kept(l) - sampleN) <= 6 * sigma + 1,
          s"stratum $l kept ${kept(l)}, planned $sampleN (n=$n rate=$rate)")
      }
    }
  }

  test("materializeMix keeps exactly sample_n rows per stratum") {
    val targets = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1,
      "zh" -> 0.1)
    val plan = Curate.mixingRates(docs, "lang", targets).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val out = Curate.materializeMix(docs, "lang", targets).cache()
    val kept = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    plan.foreach { case (l, sampleN) =>
      assert(kept.getOrElse(l, 0L) == sampleN,
        s"stratum $l kept ${kept.getOrElse(l, 0L)}, quota $sampleN")
    }
    // quota selection is deterministic: re-running on a repartitioned input
    // picks the identical row set
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Curate.materializeMix(docs.repartition(7), "lang", targets)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    out.unpersist()
  }

  test("redactPii scrubs planted emails, IPs, and phone numbers") {
    import spark.implicits._
    val rows = Seq(
      ("reach me at jane.doe+spam@mail.example.org today", 1, 0, 0),
      ("server 192.168.10.1 and 10.0.0.254 down", 0, 2, 0),
      ("call +14155552671 now", 0, 0, 1),
      ("a@b.co via 8.8.8.8 tel +4930123456: all three", 1, 1, 1),
      ("no pii here, just pi 3.14 and v1.2.3.4.5 semverish", 0, 1, 0),
      ("", 0, 0, 0))
      .toDF("text", "e", "i", "p")
    val out = rows.select(col("e"), col("i"), col("p"),
      TextFunctions.piiCounts(col("text")).as("c"),
      TextFunctions.redactPii(col("text")).as("red")).collect()
    out.foreach { r =>
      val c = r.getStruct(3)
      assert(c.getInt(0) == r.getInt(0), s"emails in '${r.getString(4)}'")
      assert(c.getInt(1) == r.getInt(1), s"ips in '${r.getString(4)}'")
      assert(c.getInt(2) == r.getInt(2), s"phones in '${r.getString(4)}'")
      val red = r.getString(4)
      assert(!red.matches(s".*${TextFunctions.emailPattern}.*"), red)
      assert(!red.contains("192.168.10.1") && !red.contains("+1415555267"), red)
    }
    // v1.2.3.4.5: the dotted-quad prefix "1.2.3.4" matches — redaction errs
    // broad by design; documented, not accidental (the test row pins it).
  }

  test("piiPolicy: the Dolma threshold drops contact dumps, keeps and " +
      "redacts the rest; null text is zero-span kept") {
    import spark.implicits._
    val rows = Seq(
      (1L, "reach me at bob@x.io or +4915112345678"), // 2 spans -> keep
      (2L, (1 to 6).map(k => s"u$k@dump.example").mkString(" ")), // 6 -> drop
      (3L, "no pii at all"), // 0 -> keep, text unchanged
      (4L, null.asInstanceOf[String])) // null == empty -> keep
    val got = rows.toDF("id", "text")
      .select(col("id"),
        TextFunctions.piiPolicy(col("text"), maxSpans = 5).as("o"))
      .select(col("id"), col("o.n_pii"), col("o.keep"),
        col("o.text_redacted"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), Option(r.getString(3))))).toMap
    assert(got(1L)._1 == 2L && got(1L)._2, got.toString)
    assert(got(1L)._3.get.contains("<EMAIL>") &&
      got(1L)._3.get.contains("<PHONE>"), got(1L).toString)
    assert(got(2L) == ((6L, false, None)), got(2L).toString)
    assert(got(3L) == ((0L, true, Some("no pii at all"))), got(3L).toString)
    assert(got(4L) == ((0L, true, Some(""))), got(4L).toString)
    // the threshold is policy: at maxSpans = 1 even the 2-span doc drops
    val strict = rows.toDF("id", "text")
      .select(col("id"),
        TextFunctions.piiPolicy(col("text"), maxSpans = 1).as("o"))
      .select(col("id"), col("o.keep")).as[(Long, Boolean)].collect().toMap
    assert(!strict(1L) && !strict(2L) && strict(3L) && strict(4L),
      strict.toString)
  }

  test("redaction order: emails first, so their dotted parts never IP-match") {
    import spark.implicits._
    val out = Seq("mail user@10.0.0.1.example.com then host 10.0.0.1")
      .toDF("text")
      .select(TextFunctions.redactPii(col("text")).as("red"),
        TextFunctions.piiCounts(col("text")).as("c"))
      .collect()(0)
    assert(out.getString(0) == "mail <EMAIL> then host <IP>")
    assert(out.getStruct(1).getInt(0) == 1 && out.getStruct(1).getInt(1) == 1)
  }

  test("thresholdHex boundaries") {
    assert(Curate.thresholdHex(0.0) == "00000000")
    assert(Curate.thresholdHex(0.5) == "80000000")
    // rate 1.0 must sort above every 8-hex key (strict < keeps ffffffff docs)
    assert(Curate.thresholdHex(1.0) == "g")
    assert(Curate.thresholdHex(0.25) == "40000000")
    assert("ffffffff" < Curate.thresholdHex(1.0))
  }

  test("mixingRates surfaces a target stratum absent from the corpus") {
    import spark.implicits._
    // requesting 50% "code" over an all-"en" corpus: no mix larger than 0
    // satisfies the weights, so every rate collapses to 0 and the missing
    // stratum appears as an explicit zero-row — never a silent 100%-en mix
    val df = (1L to 10L).map(i => (i, "en")).toDF("doc_id", "lang")
    val rates = Curate.mixingRates(df, "lang",
        Map("en" -> 0.5, "code" -> 0.5))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(3), r.getLong(4)))).toMap
    assert(rates.keySet == Set("en", "code"))
    assert(rates("code") == ((0L, 0.0, 0L)))
    assert(rates("en") == ((10L, 0.0, 0L)),
      s"a missing target stratum must zero the whole mix: ${rates("en")}")
  }

  /** mixingRates' rows as (stratum, n_docs, weight, rate, sample_n). */
  private def rateRows(df: org.apache.spark.sql.DataFrame,
                       targets: Map[String, Double]) =
    Curate.mixingRates(df, "lang", targets).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSet

  test("mixingRates counts NULL-stratum rows at weight 0") {
    import spark.implicits._
    // capacities en 12, de 6, so T = 6; the NULL stratum matches no target,
    // keeps its own row with its count and is never sampled
    val df = ((1L to 6L).map(i => (i, Option("en"))) ++
      (7L to 9L).map(i => (i, Option("de"))) :+ ((10L, Option.empty[String])))
      .toDF("doc_id", "lang")
    assert(rateRows(df, Map("en" -> 0.5, "de" -> 0.5)) == Set(
      (Some("en"), 6L, 0.5, 0.5, 3L),
      (Some("de"), 3L, 0.5, 1.0, 3L),
      (None, 1L, 0.0, 0.0, 0L)))
  }

  test("mixingRates gives an observed stratum absent from targets rate 0") {
    import spark.implicits._
    // capacities en 10/0.7, de 2/0.3: de binds at rate 1 (2 rows), en
    // takes 0.7 T = 4.67 of its 10; fr is counted but never sampled
    val df = ((1L to 10L).map(i => (i, "en")) ++ (11L to 12L).map(i => (i, "de")) ++
      (13L to 17L).map(i => (i, "fr"))).toDF("doc_id", "lang")
    assert(rateRows(df, Map("en" -> 0.7, "de" -> 0.3)) == Set(
      (Some("en"), 10L, 0.7, 0.466667, 4L),
      (Some("de"), 2L, 0.3, 1.0, 2L),
      (Some("fr"), 5L, 0.0, 0.0, 0L)))
  }

  test("packSequences: concatenation-offset bins, oversized docs included") {
    import spark.implicits._
    // one shard (ids all ≡ 0 mod 1): tokens 1000, 1000, 5000, 100 with
    // budget 2048 → starts 0, 1000, 2000, 7000 → bins 0, 0, 0, 3. The
    // 5000-token doc exceeds the budget but still gets the bin its first
    // token lands in; the next doc starts after it (no silent split/drop).
    val df = Seq((1L, 1000L), (2L, 1000L), (3L, 5000L), (4L, 100L))
      .toDF("doc_id", "n_tokens")
    val rows = Curate.packSequences(df, "doc_id", "n_tokens", 2048L, 1)
      .select(col("doc_id"), col("bin"), col("bin_offset"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(1L) == ((0L, 0L)))
    assert(rows(2L) == ((0L, 1000L)))
    assert(rows(3L) == ((0L, 2000L % 2048L)))
    assert(rows(4L) == ((3L, 7000L % 2048L)))
    // sharding: each shard's bins start at 0 independently
    val sharded = Curate.packSequences(df, "doc_id", "n_tokens", 2048L, 2)
    assert(sharded.filter(col("shard") === 1 && col("doc_id") === 1L)
      .select(col("bin")).head().getLong(0) == 0L)
  }

  test("selectByTokenBudget equals the global running-sum definition") {
    import spark.implicits._
    // quality levels 1.0 (ids 1-3) and 0.5 (ids 4-6), 300 tokens each:
    // level 1.0 totals 900, so the cutoff lands inside level 0.5 — the
    // boundary level admits docs in id order while the running sum fits
    val df = Seq(
      (1L, 1.0, 300L), (2L, 1.0, 300L), (3L, 1.0, 300L),
      (4L, 0.5, 300L), (5L, 0.5, 300L), (6L, 0.5, 300L))
      .toDF("doc_id", "quality", "n_tokens")
    def ids(budget: Long): Seq[Long] =
      Curate.selectByTokenBudget(df, "quality", "n_tokens", "doc_id", budget)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(1000L) == Seq(1L, 2L, 3L)) // boundary level admits nothing
    assert(ids(1200L) == Seq(1L, 2L, 3L, 4L)) // first doc of the next level
    assert(ids(900L) == Seq(1L, 2L, 3L)) // exact fit is kept
    assert(ids(899L) == Seq(1L, 2L)) // one under drops the last doc
    assert(ids(0L).isEmpty)
    assert(ids(10000L) == Seq(1L, 2L, 3L, 4L, 5L, 6L)) // budget ≥ total
  }

  test("selectByTokenBudget ranks null quality last instead of dropping it") {
    import spark.implicits._
    val df = Seq((1L, Some(1.0), 100L), (2L, None, 100L), (3L, Some(0.5), 100L))
      .toDF("doc_id", "quality", "n_tokens")
    def ids(b: Long): Seq[Long] =
      Curate.selectByTokenBudget(df, "quality", "n_tokens", "doc_id", b)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(300L) == Seq(1L, 2L, 3L),
      "a null-quality doc under budget must be admitted (last), not vanish")
    assert(ids(200L) == Seq(1L, 3L)) // the budget cuts before the null level
  }

  test("materializeMix tolerates input columns named stratum / sample_n") {
    import spark.implicits._
    // the stratum column is literally called "stratum" AND the input
    // carries its own unrelated "sample_n" column — neither may collide
    // with the internal quota frame nor get dropped from the output
    val df = (1L to 400L).map(i =>
        (i, if (i % 2 == 0) "a" else "b", i * 100))
      .toDF("doc_id", "stratum", "sample_n")
    val out = Curate.materializeMix(df, "stratum",
      Map("a" -> 0.5, "b" -> 0.5), idCol = "doc_id").cache()
    assert(out.columns.sorted.toSeq ==
      Seq("doc_id", "sample_n", "sample_rank", "stratum"))
    // user column survives untouched
    assert(out.filter(col("sample_n") =!= col("doc_id") * 100).count() == 0)
    // quotas realized exactly: 200 per stratum at equal weights
    val sizes = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("a" -> 200L, "b" -> 200L), sizes.toString)
    out.unpersist()
  }

  test("temperatureRates: rare strata upweight, binding stratum at rate 1.0") {
    import spark.implicits._
    val df = (Seq.fill(8)("a") ++ Seq.fill(2)("b")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "stratum")
    // T=2: weights ∝ sqrt(p) → (sqrt(.8), sqrt(.2))/norm = (2/3, 1/3);
    // capacities 8/(2/3)=12, 2/(1/3)=6 → b binds at rate 1, a halves
    val got = Curate.temperatureRates(df, "stratum", temperature = 2.0)
      .orderBy($"stratum")
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(got == Seq(("a", 8L, 0.666667, 0.5, 4L),
      ("b", 2L, 0.333333, 1.0, 2L)), got.toString)
    // T=1 is the natural distribution: every stratum keeps everything
    val natural = Curate.temperatureRates(df, "stratum", temperature = 1.0)
      .select($"rate").as[Double].collect()
    assert(natural.forall(_ == 1.0), natural.mkString(","))
    intercept[IllegalArgumentException](
      Curate.temperatureRates(df, "stratum", temperature = 0.0))
  }

  test("assignSplits: a partition of the corpus, nested with deterministicSample") {
    val df = spark.range(1, 2001).withColumnRenamed("id", "doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val assigned = Curate.assignSplits(df, "doc_id", splits)
    // every row gets exactly one non-null split; the realized sizes track
    // the weights (hash noise bounded)
    val counts = assigned.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000L && !counts.contains(null))
    assert(math.abs(counts("train") - 1600L) < 100,
      s"train share off: $counts")
    assert(math.abs(counts("val") - 200L) < 60, s"val share off: $counts")
    // the first split IS deterministicSample at the same rate — resizing
    // later splits can never reshuffle a stable train set
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").collect().map(_.getLong(0)).toSet
    val train = ids(assigned.filter(col("split") === "train"))
    assert(train == ids(Curate.deterministicSample(df, "doc_id", 0.8)))
    // partition-order independence
    assert(ids(Curate.assignSplits(df.repartition(13), "doc_id", splits)
      .filter(col("split") === "train")) == train)
    // null ids get a null label, not a silent last-split assignment
    val withNull = Curate.assignSplits(
      df.select(when(col("doc_id") === 1L, lit(null).cast("long"))
        .otherwise(col("doc_id")).as("doc_id")), "doc_id", splits)
    assert(withNull.filter(col("doc_id").isNull)
      .select("split").collect().head.isNullAt(0))
    intercept[IllegalArgumentException](
      Curate.assignSplits(df, "doc_id", Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](
      Curate.assignSplits(df, "doc_id", Seq("a" -> 0.5, "a" -> 0.5)))
  }

  test("sampleNegatives: deterministic, partition-order-free, never the anchor") {
    import spark.implicits._
    val ids = (0L until 400L).toDF("doc_id")
    val anchors = ids.filter(col("doc_id") % 40 === 0)
    def run(parts: Int) =
      Curate.sampleNegatives(ids.repartition(parts), "doc_id", anchors, k = 3)
        .as[(Long, Int, Long)].collect().toSet
    val a = run(4)
    assert(a == run(13), "negatives depend on partition layout")
    // every anchor draws all 3 ranks (400 docs / 16 buckets ≈ 25 per
    // bucket — no empty-bucket draws at this size)
    val byAnchor = a.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(byAnchor.size == 10 && byAnchor.values.forall(_ == Seq(1, 2, 3)),
      byAnchor.toString)
    assert(a.forall { case (anc, _, neg) => anc != neg },
      "anchor drew itself as a negative")
    // distinct draws mostly differ (per-draw hash ranking, not per-bucket min)
    assert(a.map(_._3).size > 10, s"negatives collapsed: $a")
    intercept[IllegalArgumentException](
      Curate.sampleNegatives(ids, "doc_id", anchors, k = 0))
  }

  test("hardNegatives: tau cuts near-dups, keeps the k most-similar below it") {
    import spark.implicits._
    // one anchor, hand-built candidate scores: 0.99 is a near-dup
    // (excluded by tau), then 0.44/0.40/0.30/0.10 below it — top-3 of
    // the below-tau set, in similarity order, with id tiebreak at 0.40
    val scored = Seq(
      (1L, 10L, 0.99), // near-dup: above tau, must never appear
      (1L, 11L, 0.44),
      (1L, 13L, 0.40), (1L, 12L, 0.40), // tie → lower id first
      (1L, 14L, 0.30),
      (1L, 15L, 0.10),
      (2L, 20L, 0.20)) // second anchor ranks independently
      .toDF("query_id", "corpus_id", "cos")
    val got = Curate.hardNegatives(scored, "query_id", "corpus_id", "cos",
        k = 3, tau = 0.45)
      .select($"query_id", $"corpus_id", $"neg_rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 11L, 1), (1L, 12L, 2), (1L, 13L, 3),
      (2L, 20L, 1)), got.toString)
    intercept[IllegalArgumentException](
      Curate.hardNegatives(scored, "query_id", "corpus_id", "cos",
        k = 0, tau = 0.45))
  }

  test("leakageSafeSplits: exact duplicates always share a split") {
    import spark.implicits._
    // planted duplicates with DIFFERENT ids (id-keyed splits would split
    // them across the boundary with prob ~2·0.2·0.8)
    val d = docs.select($"doc_id", $"text")
      .unionByName(docs.select(($"doc_id" + 1000000L).as("doc_id"),
        // whitespace/case variant: same normalized content
        upper(concat(lit("  "), $"text")).as("text")))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Curate.leakageSafeSplits(d, "text", splits)
      .select(TextFunctions.fingerprint($"text").as("fp"), $"split")
      .distinct()
    // one split per fingerprint: no content straddles a boundary
    val maxSplitsPerFp = got.groupBy($"fp")
      .agg(countDistinct($"split").as("n"))
      .agg(max($"n")).as[Long].head()
    assert(maxSplitsPerFp == 1L, "a duplicate pair straddled a split")
    // all three splits are populated at these weights on 500 docs
    val names = got.select($"split").distinct().as[String].collect().toSet
    assert(names == Set("train", "val", "test"), names.toString)
  }

  test("near-dup-safe splits: cluster representatives key the whole cluster") {
    import spark.implicits._
    // the documented recipe (leakageSafeSplits' scaladoc): resolve
    // near-dup clusters, join the (id -> rep) map, split on the rep —
    // every cluster member must land in the rep's split
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val reps = graft.operators.Dedup.resolveClusters(edges)
      .select($"id".as("doc_id"), $"cluster_id")
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val withRep = ids.join(reps, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster_id"), col("doc_id")))
    val split = Curate.assignSplits(withRep, "rep",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select($"doc_id", $"rep", $"split")
      .as[(Long, Long, String)].collect()
    val byRep = split.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    byRep.foreach { case (rep, splits) =>
      assert(splits.size == 1, s"cluster of rep $rep straddles: $splits")
    }
    // singletons fall back to their own id (99 got a split too)
    assert(split.find(_._1 == 99L).exists(_._3 != null))
  }

  test("trainingOrder: per-epoch reproducible, epochs re-deal, layout-free") {
    import spark.implicits._
    val d = docs.select($"doc_id").limit(200)
    def order(df: org.apache.spark.sql.DataFrame, epoch: Int): Seq[Long] =
      Curate.trainingOrder(df, "doc_id", epoch)
        .select($"doc_id").as[Long].collect().toSeq
    val e1 = order(d, 1)
    // reproducible under any input partitioning
    assert(order(d.repartition(7), 1) == e1)
    // a different epoch re-deals the order (same multiset)
    val e2 = order(d, 2)
    assert(e1 != e2 && e1.sorted == e2.sorted)
    // equals the brute-force definition: sort by md5("<epoch>:<id>")
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long, epoch: Int): String =
      md.digest(s"$epoch:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(e1 == e1.sortBy(id => (key(id, 1), id)), "epoch-1 order mismatch")
  }

  test("dsirWeights equals the brute-force definition; target vocab ranks up") {
    import spark.implicits._
    val b = 31 // small bucket table: forces hash collisions into the test
    val alpha = 0.5
    // target speaks vocab A, raw mostly vocab B; doc 20 is the raw doc
    // written in target vocabulary (the one DSIR selection must surface)
    val rows = Seq(
      (1L, "alpha beta gamma delta", true),
      (2L, "beta gamma epsilon alpha", true),
      (3L, "gamma alpha beta", true),
      (10L, "zork quux blarg frotz", false),
      (11L, "quux blarg zork", false),
      (12L, "frotz zork quux blarg", false),
      (20L, "alpha beta gamma", false),
      (21L, "  ", false)) // blank: no features
    val df = rows.toDF("doc_id", "text", "is_t").repartition(5)
    val got = Curate.dsirWeights(df, "text", "doc_id", col("is_t"),
        nBuckets = b, alpha = alpha)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap

    // brute-force mirror of the definition in plain Scala
    def toks(s: String) = {
      val t = s.trim.toLowerCase(java.util.Locale.ROOT)
      if (t.isEmpty) Array.empty[String] else t.split("\\s+")
    }
    def feats(s: String) = { val w = toks(s)
      w.toSeq ++ w.toSeq.sliding(2).filter(_.size == 2).map(_.mkString("_")) }
    def bucket(f: String) =
      (f.zipWithIndex.map { case (c, i) => c.toLong * (i + 1) }.sum % b).toInt
    val tgt = rows.filter(_._3).flatMap(r => feats(r._2)).map(bucket)
    val raw = rows.filterNot(_._3).flatMap(r => feats(r._2)).map(bucket)
    def lr(bk: Int) =
      math.log((tgt.count(_ == bk) + alpha) / (tgt.size + alpha * b)) -
        math.log((raw.count(_ == bk) + alpha) / (raw.size + alpha * b))
    rows.foreach { case (id, text, isT) =>
      val fs = feats(text)
      val (gotT, gotN, gotW) = got(id)
      assert(gotT == isT && gotN == fs.size, s"doc $id meta")
      if (fs.isEmpty) assert(gotW.isEmpty, s"doc $id: blank must be null")
      else assert(math.abs(gotW.get - fs.map(f => lr(bucket(f))).sum) < 1e-9,
        s"doc $id weight")
    }
    // the target-vocab raw doc outranks every raw-vocab raw doc
    assert(Seq(10L, 11L, 12L).forall(got(_)._3.get < got(20L)._3.get))
    // partition layout cannot change a deterministic two-pass statistic
    val again = Curate.dsirWeights(df.repartition(1), "text", "doc_id",
        col("is_t"), nBuckets = b, alpha = alpha)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    rows.foreach { case (id, _, _) => assert(again(id) == got(id)._3, s"$id") }
  }

  test("decontaminateSplits quarantines exactly the cross-split contaminated train docs") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Curate.decontaminateSplits(docs, "text", "doc_id", splits,
        minTokens = 4)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    // independent recomposition: base assignment + contamination check
    val base = Curate.leakageSafeSplits(docs, "text", splits)
    val baseM = base.select($"doc_id", $"split").as[(Long, String)]
      .collect().toMap
    val contam = graft.operators.Dedup.substringContamination(
        base.filter($"split" === "train"), base.filter($"split" =!= "train"),
        "text", "doc_id", minTokens = 4)
      .select($"doc_id").as[Long].collect().toSet
    assert(got.size == baseM.size, "rows were dropped")
    baseM.foreach { case (id, sp) =>
      val want = if (sp == "train" && contam(id)) "quarantined" else sp
      assert(got(id) == want, s"doc $id: ${got(id)} vs $want (base $sp)")
    }
    // the fixture's planted near-dups straddle splits, so the quarantine
    // genuinely fires (an exact dup never does - it co-splits)
    assert(got.values.exists(_ == "quarantined"),
      "expected at least one quarantined doc on the fixture")
    graft.operators.OpCache.release()
  }

  test("clusterSafeSplits co-splits whole near-dup clusters; singletons match leakageSafeSplits") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val pairs = graft.operators.Dedup.jaccardSelfJoin(docs, "text",
      "doc_id", shingleK = 3, threshold = 0.6)
    val got = Curate.clusterSafeSplits(docs, "text", "doc_id", pairs, splits)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(got.size == docs.count(), "rows were dropped")
    // every near-dup pair shares a split (the property q141 lacks)
    val pr = pairs.select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pr.nonEmpty, "fixture should contain planted near-dups")
    pr.foreach { case (a, b) =>
      assert(got(a) == got(b), s"near-dup pair ($a, $b) split apart: " +
        s"${got(a)} vs ${got(b)}")
    }
    // and at least one pair would have split apart under content keying
    // alone - otherwise this operator adds nothing over q141 here
    val plain = Curate.leakageSafeSplits(docs, "text", splits)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(pr.exists { case (a, b) => plain(a) != plain(b) },
      "fixture's near-dups never straddle plain content-keyed splits")
    // un-paired docs keep their plain content-keyed split exactly
    val paired = pr.flatMap(x => Seq(x._1, x._2)).toSet
    plain.foreach { case (id, sp) =>
      if (!paired(id)) assert(got(id) == sp,
        s"singleton $id moved: ${got(id)} vs $sp")
    }
    graft.operators.OpCache.release()
  }

  test("repeatPlan arithmetic and materializeRepeats token accounting") {
    import spark.implicits._
    val docs = (0 until 10).map(i => (i.toLong, "a", 10L)) ++
      (10 until 15).map(i => (i.toLong, "b", 10L))
    val df = docs.toDF("doc_id", "stratum", "n_tok")
    // a: 100 avail, target 200 -> exactly 2 epochs; b: 50 avail, target
    // 125 -> 2.5 epochs (full 2, partial 0.5)
    val plan = Curate.repeatPlan(df, "stratum", "n_tok", budgetTokens = 1000L,
      weights = Map("a" -> 0.2, "b" -> 0.125), maxEpochs = 2.2)
    val rows = plan.select($"stratum", $"available_tokens", $"target_tokens",
        $"full_repeats", $"partial_fraction", $"capped")
      .as[(String, Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows("a")._2 == 100L && rows("a")._3 == 200L)
    assert(rows("a")._4 == 2L && rows("a")._5 == 0.0 && !rows("a")._6)
    assert(rows("b")._2 == 50L && rows("b")._3 == 125L)
    assert(rows("b")._4 == 2L && rows("b")._5 == 0.5 && rows("b")._6,
      s"b: ${rows("b")} (2.5 epochs exceeds the 2.2 cap)")
    // materialization: every a-doc exactly twice; b-docs twice plus the
    // deterministic partial subset once more - recomputed driver-side
    val out = Curate.materializeRepeats(df, plan, "stratum", "doc_id")
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    def key(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    (0 until 10).foreach(i => assert(out(i.toLong) == 2L, s"a-doc $i"))
    (10 until 15).foreach { i =>
      val want = 2L + (if (key(i.toLong) < (0.5 * 4294967296.0).toLong) 1L else 0L)
      assert(out(i.toLong) == want, s"b-doc $i: ${out(i.toLong)} vs $want")
    }
    // determinism: a second materialization is row-identical
    val again = Curate.materializeRepeats(df, plan, "stratum", "doc_id")
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(again == out)
  }

  test("repeatPlan edge contract: missing/zero-token strata surface " +
    "unsatisfiable, weight-0 strata plan zero") {
    import spark.implicits._
    // corpus: stratum a (tokens), z (all zero-token docs); weights also
    // name the corpus-ABSENT stratum m
    val df = Seq((1L, "a", 10L), (2L, "a", 10L),
      (3L, "z", 0L), (4L, "z", 0L)).toDF("doc_id", "stratum", "n_tok")
    val plan = Curate.repeatPlan(df, "stratum", "n_tok",
      budgetTokens = 100L, weights = Map("a" -> 0.5, "z" -> 0.3, "m" -> 0.2))
    val rows = plan.collect().map(r =>
      r.getAs[String]("stratum") -> r).toMap
    // no budget share vanished: all three weighted strata have rows
    assert(rows.keySet == Set("a", "z", "m"), rows.keySet.toString)
    val m = rows("m")
    assert(m.getAs[Boolean]("unsatisfiable") &&
      m.getAs[Long]("available_tokens") == 0L &&
      m.getAs[Long]("target_tokens") == 20L &&
      m.isNullAt(m.fieldIndex("epochs")) &&
      m.isNullAt(m.fieldIndex("full_repeats")),
      s"corpus-absent stratum must be an unsatisfiable row: $m")
    val z = rows("z")
    assert(z.getAs[Boolean]("unsatisfiable") &&
      z.isNullAt(z.fieldIndex("epochs")),
      s"zero-token stratum must be unsatisfiable, not Infinity/NaN: $z")
    val a = rows("a")
    assert(!a.getAs[Boolean]("unsatisfiable") &&
      a.getAs[Long]("full_repeats") == 2L &&
      a.getAs[Double]("partial_fraction") == 0.5,
      s"satisfiable stratum arithmetic drifted: $a")
    // unsatisfiable rows are a materialization no-op, not a crash
    val reps = Curate.materializeRepeats(df, plan, "stratum", "doc_id")
      .select($"doc_id").as[Long].collect()
    assert(reps.toSet == Set(1L, 2L), s"only stratum a materializes: " +
      s"${reps.toSeq.sorted}")
    // weight-0 corpus stratum plans zero, satisfiable
    val p2 = Curate.repeatPlan(df.filter($"stratum" === "a"), "stratum",
        "n_tok", budgetTokens = 100L, weights = Map.empty)
      .collect().head
    assert(!p2.getAs[Boolean]("unsatisfiable") &&
      p2.getAs[Long]("target_tokens") == 0L &&
      p2.getAs[Double]("epochs") == 0.0, p2.toString)
  }

  test("materializeRepeats: a partial fraction rounded up to 1.0 keeps " +
    "the whole stratum (threshold clamp)") {
    import spark.implicits._
    val df = (0 until 64).map(i => (i.toLong, "a", 1L))
      .toDF("doc_id", "stratum", "n_tok")
    // hand-built plan: repeatPlan's 4-decimal rounding turns a true
    // fraction >= 0.99995 into exactly 1.0 — hex(2^32) is 9 chars and an
    // unclamped lpad would truncate to '10000000', sampling ~6%
    val plan = Seq(("a", 1L, 1.0)).toDF(
      "stratum", "full_repeats", "partial_fraction")
    val counts = Curate.materializeRepeats(df, plan, "stratum", "doc_id")
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect()
    assert(counts.length == 64 && counts.forall(_._2 == 2L),
      s"fraction 1.0 must repeat EVERY doc once more: " +
        s"${counts.count(_._2 == 2L)}/64 got the partial repeat")
  }

  test("packSequences epoch/order form: epochs pack independently in " +
    "the given order; defaults unchanged") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, 1L, "b"), (2L, 10L, 1L, "a"), // epoch 1, same shard order a<b
      (1L, 10L, 2L, "a"), (2L, 10L, 2L, "b")) // epoch 2, reversed order
      .toDF("doc_id", "n_tok", "epoch", "okey")
      .withColumn("doc_id", $"doc_id" * 2) // both docs in shard 0 of 2
    val out = Curate.packSequences(df, "doc_id", "n_tok", budget = 15L,
        shards = 2, epochCol = Some("epoch"), orderCol = Some("okey"))
      .select($"doc_id", $"epoch", $"bin", $"bin_offset")
      .as[(Long, Long, Long, Long)].collect().toSet
    // epoch 1: doc 4 (okey a) starts at 0/bin 0; doc 2 (okey b) at 10/bin 0
    // epoch 2: doc 2 (okey a) first — the SAME docs land differently
    assert(out == Set((4L, 1L, 0L, 0L), (2L, 1L, 0L, 10L),
      (2L, 2L, 0L, 0L), (4L, 2L, 0L, 10L)), out.toString)
    // defaults: identical to the original id-ordered single-epoch shape
    val legacy = Curate.packSequences(
        df.filter($"epoch" === 1L), "doc_id", "n_tok", 15L, 2)
      .select($"doc_id", $"bin", $"bin_offset")
      .as[(Long, Long, Long)].collect().toSet
    assert(legacy == Set((2L, 0L, 0L), (4L, 0L, 10L)), legacy.toString)
  }

  test("clusterSafeSplits: a cluster whose representative is absent from " +
    "df still lands whole in ONE split") {
    import spark.implicits._
    val docs = Seq((10L, "alpha beta gamma delta"),
      (11L, "alpha beta gamma delta epsilon"),
      (12L, "totally different text here")).toDF("doc_id", "text")
    // pairs served off a store that still holds retracted doc 1 — the
    // cluster {1, 10, 11} resolves to representative 1, which df lacks
    val pairs = Seq((1L, 10L), (1L, 11L)).toDF("id_a", "id_b")
    val splits = Seq("train" -> 0.34, "val" -> 0.33, "test" -> 0.33)
    val got = Curate.clusterSafeSplits(docs, "text", "doc_id", pairs, splits)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(got(10L) == got(11L),
      s"cluster with absent rep split apart: $got")
    // the fallback is the deterministic cluster-id hash, NOT a silent
    // fall-through to the last split
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("1".getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    val frac = java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    val want = if (frac < 0.34) "train" else if (frac < 0.67) "val" else "test"
    assert(got(10L) == want,
      s"absent-rep cluster keyed wrong: got ${got(10L)}, want $want")
  }

  /** The paper's sequential waterfilling, verbatim (ascending capacity;
    * each stratum takes min(cap, remaining/strata_left)) — the OPPOSITE
    * formulation of unimaxRates' closed-form prefix test. Capping compares
    * in exact integers (cap·m < remaining), the same arithmetic the
    * operator pins, so equality is exact, not tolerance-based. */
  private def naiveUnimax(strata: Seq[(String, Long)], budget: Long,
                          maxEpochs: Double): Map[String, Double] = {
    val caps = strata
      .map { case (s, n) => (s, math.floor(n * maxEpochs).toLong) }
      .sortBy(x => (x._2, x._1))
    var rem = budget
    var m = caps.size
    var share = Option.empty[Double]
    val out = scala.collection.mutable.Map[String, Double]()
    for ((s, c) <- caps) out(s) = share.getOrElse {
      if (c * m < rem) { rem -= c; m -= 1; c.toDouble }
      else { share = Some(rem.toDouble / m); share.get }
    }
    out.toMap
  }

  test("unimaxRates equals sequential waterfilling; caps respected; " +
    "uncapped strata share uniformly; budget conserved") {
    import spark.implicits._
    val sizes = Seq(("a", 100L), ("b", 2500L), ("c", 5000L), ("d", 400L))
    val rows = sizes.flatMap { case (s, n) =>
      Seq((s, n / 2), (s, n - n / 2)) } // two rows per stratum: sum matters
    val df = rows.toDF("lang", "n_tok")
    val budget = 9000L
    val got = Curate.unimaxRates(df, "lang", "n_tok", budget, 2.0)
      .select($"stratum", $"available_tokens", $"cap_tokens",
        $"alloc_tokens", $"capped", $"leftover_tokens")
      .as[(String, Long, Long, Double, Boolean, Long)].collect()
      .map(r => r._1 -> r).toMap
    val want = naiveUnimax(sizes, budget, 2.0)
    for ((s, n) <- sizes) {
      val (_, avail, cap, alloc, capped, _) = got(s)
      assert(avail == n, s"$s available")
      assert(cap == 2 * n, s"$s cap")
      assert(math.abs(alloc - want(s)) < 1e-3,
        s"$s: got $alloc want ${want(s)}")
      assert(alloc <= cap + 1e-9, s"$s allocated over its cap")
    }
    // caps 200/800 fill; b (cap 5000) and c (cap 10000) split the
    // remaining 8000 uniformly at 4000 each — both under their caps
    assert(got("a")._5 && got("d")._5 && !got("b")._5 && !got("c")._5,
      got.toString)
    assert(math.abs(got("b")._4 - got("c")._4) < 1e-9, "uncapped not uniform")
    assert(math.abs(sizes.map(s => got(s._1)._4).sum - budget) < 1e-6,
      "budget not conserved")
    assert(got.values.forall(_._6 == 0L), "leftover on a satisfiable budget")
  }

  test("unimaxRates: budget beyond the corpus at cap ⇒ every stratum " +
    "capped, leftover reported; random strata match the naive reference") {
    import spark.implicits._
    val df = Seq(("a", 100L), ("b", 300L)).toDF("lang", "n_tok")
    val all = Curate.unimaxRates(df, "lang", "n_tok", 5000L, 4.0)
      .select($"stratum", $"alloc_tokens", $"capped", $"leftover_tokens")
      .as[(String, Double, Boolean, Long)].collect()
    assert(all.forall(_._3), "not all capped")
    assert(all.map(_._2).sum == 1600.0, "all-capped allocs != total caps")
    assert(all.forall(_._4 == 5000L - 1600L), s"leftover: ${all.toSeq}")
    // seeded random cases, both regimes, vs the sequential reference
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val k = 2 + rnd.nextInt(5)
      val sizes = (1 to k).map(i => (s"s$i", 1L + rnd.nextInt(10000).toLong))
      val budget = 1L + rnd.nextInt(60000).toLong
      val e = Seq(0.5, 1.0, 2.0, 4.0)(rnd.nextInt(4))
      val want = naiveUnimax(sizes, budget, e)
      val gotR = Curate.unimaxRates(sizes.toDF("lang", "n_tok"),
          "lang", "n_tok", budget, e)
        .select($"stratum", $"alloc_tokens")
        .as[(String, Double)].collect().toMap
      for ((s, _) <- sizes)
        assert(math.abs(gotR(s) - want(s)) < 1e-3,
          s"trial $trial stratum $s: got ${gotR(s)} want ${want(s)} " +
            s"(sizes=$sizes budget=$budget e=$e)")
    }
  }

  /** Naive prototype pruning: dim-wise mean rounded at 1e-6, cosine,
    * (cos desc, id) sort, drop ceil(frac·n) — plain Scala collections. */
  private def naivePrototypePrune(rows: Seq[(Long, Int, Array[Double])],
                                  frac: Double): Map[Int, Seq[Long]] =
    rows.groupBy(_._2).map { case (cl, rs) =>
      val dim = rs.head._3.length
      val cent = (0 until dim).map(d =>
        BigDecimal(rs.map(_._3(d)).sum / rs.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      def cos(v: Array[Double]): Double = {
        val dot = (0 until dim).map(d => v(d) * cent(d)).sum
        val na = math.sqrt(v.map(x => x * x).sum)
        val nb = math.sqrt(cent.map(x => x * x).sum)
        if (na * nb == 0) 0.0 else dot / (na * nb)
      }
      val ranked = rs.map(r => (r._1, cos(r._3)))
        .sortBy { case (id, c) => (-c, id) }
      cl -> ranked.drop(math.ceil(frac * rs.size).toInt).map(_._1)
    }

  test("prototypePrune drops the ceil(frac·n) most centroid-like rows " +
    "per cluster and matches a naive reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 45).map { i =>
      val cl = i % 3
      // cluster direction + noise: prototypicality varies within cluster
      val base = Array.tabulate(6)(d => if (d == cl) 4.0 else 1.0)
      (i.toLong, cl, base.map(_ + rnd.nextGaussian() * 0.8))
    }
    val df = rows.map { case (id, cl, v) => (id, cl, v.map(_.toFloat)) }
      .toDF("vec_id", "label", "embedding")
    val got = Curate.prototypePrune(df, "embedding", "label", "vec_id", 0.2)
      .select($"vec_id", $"label", $"proto_rank", $"cluster_n")
      .as[(Long, Int, Long, Long)].collect()
    val want = naivePrototypePrune(rows, 0.2)
    assert(got.forall(_._4 == 15L))
    for (cl <- 0 until 3) {
      val kept = got.filter(_._2 == cl).sortBy(_._3)
      assert(kept.length == 15 - math.ceil(0.2 * 15).toInt, s"cluster $cl size")
      // ranks are the dense tail (ceil+1 .. n) and order matches naive
      assert(kept.map(_._3).toSeq == (4L to 15L), s"cluster $cl ranks")
      assert(kept.map(_._1).toSeq == want(cl), s"cluster $cl keep order")
    }
    // dropFrac = 0 keeps everything
    assert(Curate.prototypePrune(df, "embedding", "label", "vec_id", 0.0)
      .count() == 45)
  }

  test("scoreBuckets: per-group terciles with ntile sizing, id tie-break, " +
    "nulls surface as the null label outside the window") {
    import spark.implicits._
    val rows =
      (1 to 7).map(i => (i.toLong, "a", Some(i.toDouble))) ++
        Seq((8L, "a", None), // unscorable: must not shift a's boundaries
          (9L, "b", Some(5.0)), (10L, "b", Some(1.0))) // 2 rows, 3 buckets
    val got = Curate.scoreBuckets(rows.toDF("id", "g", "score"),
        "g", "score", "id", Seq("head", "middle", "tail"))
      .select($"id", $"bucket").as[(Long, String)].collect().toMap
    // ntile(3) over 7 rows = sizes 3/2/2 in ascending score order
    assert((1L to 3L).forall(got(_) == "head"), got.toString)
    assert((4L to 5L).forall(got(_) == "middle"), got.toString)
    assert((6L to 7L).forall(got(_) == "tail"), got.toString)
    assert(got(8L) == "none")
    // group b ranks independently; 2 rows fill the first two buckets
    assert(got(10L) == "head" && got(9L) == "middle", got.toString)
    // ties on the score break by id: equal scores split deterministically
    val tied = (1 to 6).map(i => (i.toLong, "t", Some(1.0)))
    val gt = Curate.scoreBuckets(tied.toDF("id", "g", "score"),
        "g", "score", "id", Seq("head", "middle", "tail"))
      .select($"id", $"bucket").as[(Long, String)].collect().toMap
    assert(gt == Map(1L -> "head", 2L -> "head", 3L -> "middle",
      4L -> "middle", 5L -> "tail", 6L -> "tail"), gt.toString)
  }

  test("scoreBuckets approx mode: equals exact ntile on divisible " +
      "distinct-score groups; off-boundary rows never move elsewhere") {
    import spark.implicits._
    // 9 distinct scores, 3 buckets: percentile boundaries fall ON the
    // tercile edges, so approx must equal exact row for row (nulls too)
    val rows = (1 to 9).map(i => (i.toLong, "a", Some((i * 10).toDouble))) ++
      Seq((10L, "a", None)) ++
      (1 to 6).map(i => (100L + i, "b", Some(i.toDouble)))
    val df = rows.toDF("id", "g", "score")
    val labels = Seq("head", "middle", "tail")
    def collectB(d: org.apache.spark.sql.DataFrame) =
      d.select($"id", $"bucket").as[(Long, String)].collect().toMap
    val exact = collectB(Curate.scoreBuckets(df, "g", "score", "id", labels))
    val approx = collectB(Curate.scoreBuckets(df, "g", "score", "id", labels,
      approxAccuracy = 10000))
    assert(approx == exact, s"$approx vs $exact")
    // non-divisible group sizes: drift is confined to BOUNDARY rows —
    // the bucket sequence along the sorted order stays monotone and the
    // per-bucket count is within 1 of the exact tercile size
    val rnd = new scala.util.Random(173)
    val big = (1 to 100).map(i => (i.toLong, "c", Some(rnd.nextDouble())))
    val bdf = big.toDF("id", "g", "score")
    val ex = collectB(Curate.scoreBuckets(bdf, "g", "score", "id", labels))
    val ap = collectB(Curate.scoreBuckets(bdf, "g", "score", "id", labels,
      approxAccuracy = 10000))
    val order = big.sortBy(_._3.get).map(_._1)
    def ranks(m: Map[Long, String]) = order.map(m)
    assert(ranks(ap).foldLeft(("head", true)) { case ((prev, ok), cur) =>
      (cur, ok && labels.indexOf(cur) >= labels.indexOf(prev))
    }._2, "approx buckets must be monotone along the score order")
    labels.foreach { l =>
      val (ne, na) = (ex.values.count(_ == l), ap.values.count(_ == l))
      assert(math.abs(ne - na) <= 1, s"$l: exact $ne vs approx $na")
    }
  }

  // ---- weightedSample (Efraimidis-Spirakis, q178) ---------------------

  /** The operator's exact draw, in driver Scala: u from the 12-hex md5
    * prefix, key = ln(u)/w rounded at 1e-9, top-k by (key desc, id). */
  private def naiveEs(rows: Seq[(Long, Double)], k: Int,
                      salt: String = ""): Seq[(Long, Double)] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.filter(_._2 > 0.0).map { case (id, w) =>
      val u = (java.lang.Long.parseLong(
        md5hex(id.toString + salt).take(12), 16) + 0.5) / 281474976710656.0
      val key = BigDecimal(math.log(u) / w)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, key)
    }.sortBy { case (id, key) => (-key, id) }.take(k)
  }

  test("weightedSample matches the naive E-S draw; nonpositive/null " +
      "weights drop; k caps at the eligible count; partition-order-free") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => (i, (i % 17 + 1).toDouble)) ++
      Seq((201L, 0.0), (202L, -3.0))
    val df = rows.toDF("id", "w")
      .unionByName(Seq((203L, Option.empty[Double])).toDF("id", "w"))
    val got = Curate.weightedSample(df, "id", "w", k = 25)
      .select($"id", $"es_key", $"sample_rank")
      .as[(Long, Double, Long)].collect().sortBy(_._3)
    val expect = naiveEs(rows, 25)
    assert(got.map(r => (r._1, r._2)).toSeq == expect)
    assert(got.map(_._3).toSeq == (1L to 25L))
    // ineligible rows can never appear at any k
    val all = Curate.weightedSample(df, "id", "w", k = 1000)
      .select($"id").as[Long].collect().toSet
    assert(all == rows.filter(_._2 > 0.0).map(_._1).toSet)
    // same sample from a differently-partitioned input
    val rep = Curate.weightedSample(df.repartition(7), "id", "w", k = 25)
      .select($"id", $"es_key", $"sample_rank")
      .as[(Long, Double, Long)].collect().sortBy(_._3)
    assert(rep.toSeq == got.toSeq)
    // a different salt redraws (astronomically unlikely to tie exactly)
    val salted = Curate.weightedSample(df, "id", "w", k = 25, salt = "x")
      .select($"id").as[Long].collect().toSet
    assert(salted == naiveEs(rows, 25, "x").map(_._1).toSet)
    assert(salted != got.map(_._1).toSet)
  }

  test("weightedSample k=1 inclusion frequency is proportional to weight " +
      "(the E-S law, measured over salts on the pinned naive draw)") {
    // P(i wins) = w_i / sum(w) exactly at k=1 — the property that makes
    // this a WEIGHTED sample rather than a weight-sorted cut. Validated
    // on the naive reference (which the test above pins the operator to)
    // so 4000 redraws cost driver microseconds, not 4000 Spark jobs.
    val rows = Seq((1L, 1.0), (2L, 1.0), (3L, 2.0), (4L, 4.0))
    val n = 4000
    val wins = (0 until n).map(s => naiveEs(rows, 1, s"salt$s").head._1)
      .groupBy(identity).view.mapValues(_.size).toMap
    val total = rows.map(_._2).sum
    rows.foreach { case (id, w) =>
      val expect = n * w / total
      val sigma = math.sqrt(n * (w / total) * (1 - w / total))
      assert(math.abs(wins.getOrElse(id, 0) - expect) <= 5 * sigma,
        s"id $id: ${wins.getOrElse(id, 0)} vs $expect ± $sigma")
    }
  }

  // ---- kCenterGreedy (Sener & Savarese, q179) -------------------------

  private def naiveKCenter(rows: Seq[(Long, Array[Double])],
                           k: Int): Seq[(Int, Long, Option[Double])] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def dist(a: Array[Double], b: Array[Double]): Double =
      BigDecimal(1.0 - cos(a, b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val seed = rows.minBy(_._1)
    var md = rows.map { case (id, v) => (id, v, dist(v, seed._2)) }
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
      (1, seed._1, None))
    (2 to k).foreach { r =>
      val far = md.minBy { case (id, _, d) => (-d, id) }
      out += ((r, far._1, Some(far._3)))
      md = md.map { case (id, v, d) => (id, v, math.min(d, dist(v, far._2))) }
    }
    out.toSeq
  }

  test("kCenterGreedy matches the naive farthest-point reference; " +
      "sep_dist is non-increasing; picks are distinct; order-free") {
    import spark.implicits._
    val rnd = new scala.util.Random(179)
    // three separated blobs + a far outlier the greedy must find early
    def blob(cx: Double, cy: Double, n: Int, from: Long) =
      (0 until n).map(i => (from + i,
        Array(cx + rnd.nextGaussian() * 0.05, cy + rnd.nextGaussian() * 0.05,
          1.0)))
    val rows = blob(1, 0, 20, 0L) ++ blob(0, 1, 20, 100L) ++
      blob(-1, -1, 20, 200L) :+ (300L, Array(5.0, -4.0, 0.1))
    val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
      .select($"id", transform($"v", _.cast("double")).as("v"))
    val got = Curate.kCenterGreedy(df, "v", "id", k = 6)
      .select($"center_rank", $"id", $"sep_dist")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1).toSeq
    assert(got == naiveKCenter(rows, 6))
    // objective trace: each later pick is no farther than the previous
    val seps = got.flatMap(_._3)
    assert(seps == seps.sorted.reverse)
    assert(got.map(_._2).distinct.size == 6)
    // the first non-seed pick comes from the blob most ANTI-ALIGNED with
    // the seed's (1,0,1) direction — cosine distance is angular, so the
    // (-1,-1,1) blob (cos ≈ 0) beats the far-but-partially-aligned
    // outlier; and all three blobs plus the outlier are covered by k=6
    assert(got(1)._2 >= 200L && got(1)._2 < 300L, got.toString)
    assert(got.map(_._2).exists(_ == 300L), got.toString)
    // partition-order-free
    val rep = Curate.kCenterGreedy(df.repartition(5), "v", "id", k = 6)
      .select($"center_rank", $"id").as[(Int, Long)].collect().sortBy(_._1)
    assert(rep.map(_._2).toSeq == got.map(_._2))
    // k=1 is just the min-id seed with a NULL trace
    val one = Curate.kCenterGreedy(df, "v", "id", k = 1).collect()
    assert(one.length == 1 && one(0).getLong(1) == 0L && one(0).isNullAt(2))
    // coverage stop (review fix): k beyond the distinct-vector count
    // returns a SHORTER duplicate-free list, never re-picked centers —
    // 5 rows carrying only 3 distinct vectors support exactly 3 centers
    val dup = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(1.0, 0.0)), (4L, Seq(-1.0, 0.5)), (5L, Seq(0.0, 1.0)))
      .toDF("id", "v")
    val cov = Curate.kCenterGreedy(dup, "v", "id", k = 8).collect()
    assert(cov.length == 3, cov.mkString(","))
    assert(cov.map(_.getLong(1)).distinct.length == 3)
  }
}
