package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.functions.expressions.GraftExpressions

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("native cosine is bit-identical to the HOF formulation on fixtures") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(100)
    val a = emb.select($"vec_id".as("ia"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("ib"), $"embedding".as("vb"))
    val pairs = a.join(b, $"ia" < $"ib")
    val diff = pairs.select(
      (GraftExpressions.cosineSimilarity($"va", $"vb") -
        VectorFunctions.cosineHof($"va", $"vb")).as("d"))
      .agg(max(abs($"d"))).as[Double].head()
    assert(diff == 0.0, s"native vs HOF cosine diverged by $diff")
  }

  test("native cosine handles zero vectors and double arrays") {
    val d = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
      .select(GraftExpressions.cosineSimilarity($"a", $"b")).as[Double].head()
    assert(d == 0.0)
    val dd = Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
      .select(GraftExpressions.cosineSimilarity($"a", $"b")).as[Double].head()
    assert(dd == 1.0)
  }

  test("rolling hash: deterministic, content-sensitive, SQL-registered") {
    GraftExpressions.registerAll(spark)
    val rows = Seq("hello", "hello", "hellp").toDF("t")
      .select(GraftExpressions.rollingHash($"t").as("h")).as[Long].collect()
    assert(rows(0) == rows(1))
    assert(rows(0) != rows(2))
    // SQL surface + interpreted/codegen agreement
    val viaSql = spark.sql("SELECT rolling_hash('hello')").as[Long].head()
    assert(viaSql == rows(0))
    val cos = spark.sql(
      "SELECT cosine_similarity(array(1.0f, 0.0f), array(1.0f, 0.0f))")
      .as[Double].head()
    assert(cos == 1.0)
  }

  test("native minhash signature is bit-identical to the HOF formulation") {
    import graft.functions.TextFunctions
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .select(TextFunctions.shingleHashes(col("text"), 3).as("hs"))
    val numHashes = 64
    val mismatches = docs.select(
        GraftExpressions.minhashSignature($"hs", numHashes).as("native"),
        operators.Dedup.minhashSignatureHof($"hs", numHashes).as("hof"))
      .filter(not($"native" <=> $"hof"))
      .count()
    assert(mismatches == 0, s"$mismatches rows diverged")
  }

  test("native minhash signature: empty and null-element arrays match array_min") {
    val df = Seq(
      (1, Seq.empty[java.lang.Long]),
      (2, Seq[java.lang.Long](null)),
      (3, Seq[java.lang.Long](42L, null, -7L))).toDF("id", "hs")
    val out = df.select($"id",
        GraftExpressions.minhashSignature($"hs", 4).as("native"),
        operators.Dedup.minhashSignatureHof($"hs", 4).as("hof"))
      .filter(not($"native" <=> $"hof"))
    assert(out.count() == 0)
    // empty input → all-null lanes, like array_min of an empty array
    val lanes = df.filter($"id" === 1)
      .select(GraftExpressions.minhashSignature($"hs", 4))
      .head().getSeq[Any](0)
    assert(lanes == Seq(null, null, null, null))
  }

  test("native simhash64 is bit-identical to the HOF formulation") {
    import graft.functions.TextFunctions
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .select(transform(TextFunctions.tokens(col("text")),
        t => xxhash64(t)).as("th"))
    val mismatches = docs.select(
        GraftExpressions.simhash64($"th").as("native"),
        operators.Dedup.simhash64Hof($"th").as("hof"))
      .filter(not($"native" <=> $"hof"))
      .count()
    assert(mismatches == 0, s"$mismatches rows diverged")
    // empty token array → 0L on both
    val z = Seq(Seq.empty[Long]).toDF("th")
      .select(GraftExpressions.simhash64($"th")).as[Long].head()
    assert(z == 0L)
  }

  test("native hyperplane LSH key is bit-identical to the HOF formulation") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(300)
    for (nBits <- Seq(1, 8, 16)) {
      val mismatches = emb.select(
          GraftExpressions.hyperplaneLshKey($"embedding", nBits, 42).as("native"),
          VectorFunctions.hyperplaneLshKeyHof($"embedding", nBits).as("hof"))
        .filter(not($"native" <=> $"hof"))
        .count()
      assert(mismatches == 0, s"nBits=$nBits: $mismatches rows diverged")
    }
  }

  test("native hyperplane LSH key: empty, null, null-element, and double arrays") {
    // empty array: the HOF's sequence(0,-1) null-pads every projection →
    // key 0 on BOTH formulations (cross-checked, not just pinned)
    val emptyRow = Seq(Seq.empty[Float]).toDF("v")
      .select(
        GraftExpressions.hyperplaneLshKey($"v", 8, 42).as("native"),
        VectorFunctions.hyperplaneLshKeyHof($"v", 8).as("hof"))
      .head()
    assert(emptyRow.getLong(0) == 0L && emptyRow.getLong(1) == 0L)
    // NULL input array: intentional divergence — native propagates NULL
    // (no bucket, never equi-joins), the HOF collapses to 0L
    val nullRow = Seq(null.asInstanceOf[Seq[java.lang.Float]]).toDF("v")
      .select(
        GraftExpressions.hyperplaneLshKey($"v", 8, 42).as("native"),
        VectorFunctions.hyperplaneLshKeyHof($"v", 8).as("hof"))
      .head()
    assert(nullRow.isNullAt(0) && nullRow.getLong(1) == 0L)
    // a null element nulls every projection → key 0 (matches the HOF)
    val withNull = Seq(Seq[java.lang.Float](1.0f, null)).toDF("v")
      .select(
        GraftExpressions.hyperplaneLshKey($"v", 8, 42).as("native"),
        VectorFunctions.hyperplaneLshKeyHof($"v", 8).as("hof"))
      .head()
    assert(withNull.getLong(0) == 0L && withNull.getLong(1) == 0L)
    // double arrays accepted, same key as the equivalent float vector
    val f = Seq(Seq(0.5f, -1.25f, 2.0f)).toDF("v")
      .select(GraftExpressions.hyperplaneLshKey($"v", 16, 7)).as[Long].head()
    val d = Seq(Seq(0.5, -1.25, 2.0)).toDF("v")
      .select(GraftExpressions.hyperplaneLshKey($"v", 16, 7)).as[Long].head()
    assert(f == d)
  }

  test("native cosine matches the HOF on ragged and null-element arrays") {
    import graft.functions.VectorFunctions
    // ragged: zip_with null-pads -> HOF yields NULL; native must agree,
    // never a plausible prefix similarity
    val ragged = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f)))
      .toDF("a", "b")
      .select(GraftExpressions.cosineSimilarity($"a", $"b").as("n"),
        VectorFunctions.cosineHof($"a", $"b").as("h")).head()
    assert(ragged.isNullAt(0) && ragged.isNullAt(1),
      s"ragged arrays must yield NULL on both paths: $ragged")
    // a null element nulls the whole fold on both paths
    val nulled = Seq((Seq[java.lang.Float](1.0f, null, 2.0f),
        Seq[java.lang.Float](1.0f, 1.0f, 1.0f)))
      .toDF("a", "b")
      .select(GraftExpressions.cosineSimilarity($"a", $"b").as("n"),
        VectorFunctions.cosineHof($"a", $"b").as("h")).head()
    assert(nulled.isNullAt(0) && nulled.isNullAt(1),
      s"null elements must yield NULL on both paths: $nulled")
    // zero-norm + ragged: the HOF's zero-denom guard short-circuits BEFORE
    // the null-padded dot — 0.0, not NULL, on both paths
    val zeroRagged = Seq(
      (Seq.empty[Float], Seq(1.0f)),
      (Seq(0.0f, 0.0f), Seq(0.0f, 0.0f, 0.0f)))
      .toDF("a", "b")
      .select(GraftExpressions.cosineSimilarity($"a", $"b").as("n"),
        VectorFunctions.cosineHof($"a", $"b").as("h")).collect()
    zeroRagged.foreach(r => assert(!r.isNullAt(0) && r.getDouble(0) == 0.0 &&
      !r.isNullAt(1) && r.getDouble(1) == 0.0,
      s"zero-norm ragged must be 0.0 on both paths: $r"))
  }

  test("native hyperplane key matches the HOF on NaN projections") {
    import graft.functions.VectorFunctions
    // a NaN element makes every projection NaN: SQL's `>= 0` is true for
    // NaN, so both paths must set every bit
    val row = Seq(Seq(Float.NaN, 1.0f)).toDF("v")
      .select(GraftExpressions.hyperplaneLshKey($"v", 8, 42).as("n"),
        VectorFunctions.hyperplaneLshKeyHof($"v", 8, 42).as("h")).head()
    assert(row.getLong(0) == row.getLong(1),
      s"NaN bucket diverged: native=${row.getLong(0)} hof=${row.getLong(1)}")
    assert(row.getLong(0) == 255L, s"all 8 bits should set: ${row.getLong(0)}")
  }

  test("sorted intersect size matches size(array_intersect) on sorted input") {
    // randomized sweep: sorted-ascending arrays with duplicate runs and
    // empties (the documented precondition domain), plus the shapes the
    // dedup tier actually feeds it (sorted DISTINCT shingle hashes)
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(500) {
      def arr() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(20).toLong).sorted
      (arr(), arr())
    } ++ Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 1L, 1L), Seq(1L)),          // dup run collapses to one
      (Seq(1L, 2L, 3L), Seq(4L, 5L)),      // disjoint
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)))
    val diverged = cases.toDF("a", "b")
      .select(GraftExpressions.sortedIntersectSize($"a", $"b").as("n"),
        size(array_intersect($"a", $"b")).as("ref"))
      .filter($"n" =!= $"ref").count()
    assert(diverged == 0, s"$diverged cases diverged from array_intersect")
    // nulls sort FIRST ascending: present in both → counts once, like
    // array_intersect; present in one → not counted
    val withNulls = Seq(
      (Seq[java.lang.Long](null, 1L, 2L), Seq[java.lang.Long](null, 2L, 3L)),
      (Seq[java.lang.Long](null, 1L), Seq[java.lang.Long](1L, 2L)))
      .toDF("a", "b")
      .select(GraftExpressions.sortedIntersectSize($"a", $"b").as("n"),
        size(array_intersect($"a", $"b")).as("ref")).collect()
    withNulls.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"null-element case diverged: $r"))
    // interpreted path agrees with the codegen'd plan path
    import org.apache.spark.sql.catalyst.util.ArrayData
    assert(graft.functions.expressions.SortedIntersectSize.compute(
      ArrayData.toArrayData(Array(1L, 2L, 2L, 5L)),
      ArrayData.toArrayData(Array(2L, 3L, 5L))) == 2)
  }

  test("GraftExtensions injects the native functions into a registry") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    org.apache.spark.sql.GraftColumnBridge.applyFunctions(ext, registry)
    assert(registry.functionExists(FunctionIdentifier("cosine_similarity")))
    assert(registry.functionExists(FunctionIdentifier("rolling_hash")))
    assert(registry.functionExists(FunctionIdentifier("simhash64")))
    assert(registry.functionExists(FunctionIdentifier("minhash_signature")))
    assert(registry.functionExists(FunctionIdentifier("hyperplane_lsh_key")))
    assert(registry.functionExists(FunctionIdentifier("repetition_stats")))
    assert(registry.functionExists(FunctionIdentifier("gopher_repetition_keep")))
    assert(registry.functionExists(FunctionIdentifier("gopher_quality_stats")))
    assert(registry.functionExists(FunctionIdentifier("gopher_quality_keep")))
    assert(registry.functionExists(FunctionIdentifier("c4_stats")))
    assert(registry.functionExists(FunctionIdentifier("c4_keep")))
    // both registration routes expose the same graft function set: a
    // fresh session's registry before and after registerAll brackets it
    def names(r: org.apache.spark.sql.catalyst.analysis.FunctionRegistry) =
      r.listFunction().map(_.funcName).toSet
    val before = names(spark.newSession().sessionState.functionRegistry)
    val fresh = spark.newSession()
    GraftExpressions.registerAll(fresh)
    val viaRegisterAll = names(fresh.sessionState.functionRegistry) -- before
    val viaExtension = names(registry) --
      names(org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin)
    assert(viaRegisterAll.contains("normalize_text"))
    assert(viaExtension == viaRegisterAll,
      s"extension-only: ${viaExtension -- viaRegisterAll}, " +
        s"registerAll-only: ${viaRegisterAll -- viaExtension}")
  }

  test("C4 filter family is callable through the SQL surface and agrees " +
    "with the Column API") {
    GraftExpressions.registerAll(spark)
    val doc = "One two three here. Four five six now! Seven eight nine?\n" +
      "enable javascript please.\nshort.\nTen eleven twelve then. " +
      "Thirteen fourteen fifteen close."
    Seq(doc).toDF("t").createOrReplaceTempView("c4_sql_doc")
    val viaSql = spark.sql(
      """SELECT c4_stats(t).n_kept AS nk, c4_stats(t).n_sentences AS ns,
        |  c4_keep(t) AS keep FROM c4_sql_doc""".stripMargin).head()
    val viaCol = Seq(doc).toDF("t").select(
      graft.functions.TextFunctions.c4Stats($"t").getField("n_kept").as("nk"),
      graft.functions.TextFunctions.c4Stats($"t")
        .getField("n_sentences").as("ns"),
      graft.functions.TextFunctions.c4Keep($"t").as("keep")).head()
    assert(viaSql == viaCol, s"SQL $viaSql vs Column $viaCol")
    // 2 kept lines (js line and 1-word 'short.' dropped), 5 sentences
    assert(viaSql.getInt(0) == 2 && viaSql.getInt(1) == 5 &&
      viaSql.getBoolean(2), viaSql.toString)
  }

  test("Gopher A1 family is callable through the SQL surface and agrees " +
    "with the Column API") {
    GraftExpressions.registerAll(spark)
    val doc = "spark spark spark spark\nthe be to of data\nthe be to of data"
    Seq(doc).toDF("t").createOrReplaceTempView("gopher_sql_doc")
    // native repetition pass: SQL row ≡ Column row, field for field
    val viaSql = spark.sql(
      "SELECT repetition_stats(t) AS r FROM gopher_sql_doc").head().getStruct(0)
    val viaCol = Seq(doc).toDF("t")
      .select(graft.functions.TextFunctions.repetitionStats($"t").as("r"))
      .head().getStruct(0)
    assert(viaSql == viaCol, s"SQL $viaSql vs Column $viaCol")
    // composed keep rules: same verdicts as the Column API on a doc that
    // FAILS repetition (dup lines) and a clean one that passes it
    val verdicts = spark.sql(
      """SELECT gopher_repetition_keep(t) AS rk, gopher_quality_keep(t) AS qk,
        |  gopher_quality_stats(t).n_words AS nw FROM gopher_sql_doc"""
        .stripMargin).head()
    val colVerdicts = Seq(doc).toDF("t").select(
      graft.functions.TextFunctions.gopherRepetitionKeep($"t").as("rk"),
      graft.functions.TextFunctions.gopherQualityKeep($"t").as("qk"),
      graft.functions.TextFunctions.gopherQualityStats($"t")
        .getField("n_words").as("nw")).head()
    assert(verdicts == colVerdicts, s"SQL $verdicts vs Column $colVerdicts")
    assert(!verdicts.getBoolean(0), "dup-line doc should fail repetition")
    assert(verdicts.getInt(2) == 14)
  }

  test("sketch expressions are callable through the SQL surface") {
    GraftExpressions.registerAll(spark)
    val sig = spark.sql(
      "SELECT minhash_signature(array(1L, 2L, 3L), 8) AS s").head().getSeq[Long](0)
    assert(sig.length == 8)
    // 2-arg form defaults the seed to 42, mirroring the Scala API
    val k2 = spark.sql(
      "SELECT hyperplane_lsh_key(array(0.5F, -1.0F), 8) AS k").head().getLong(0)
    val k3 = spark.sql(
      "SELECT hyperplane_lsh_key(array(0.5F, -1.0F), 8, 42) AS k").head().getLong(0)
    assert(k2 == k3)
    val sh = spark.sql("SELECT simhash64(array(1L, 2L, 3L)) AS h").head().getLong(0)
    val shCol = Seq(Seq(1L, 2L, 3L)).toDF("a")
      .select(GraftExpressions.simhash64($"a")).as[Long].head()
    assert(sh == shCol)
    // wrong arity fails with the named WRONG_NUM_ARGS analysis error, not
    // an IndexOutOfBoundsException from inside the builder lambda
    for (bad <- Seq("minhash_signature(array(1L))", "cosine_similarity(array(1.0F))",
        "rolling_hash()", "simhash64()", "hyperplane_lsh_key(array(1.0F))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $bad"))
      assert(e.getMessage.contains("requires") ||
        e.getCondition != null && e.getCondition.startsWith("WRONG_NUM_ARGS"),
        s"$bad: expected WRONG_NUM_ARGS, got ${e.getMessage}")
    }
  }

  test("bloom_might_contain_long: no false negatives, codegen matches interpreted") {
    import org.apache.spark.util.sketch.BloomFilter
    val bloom = BloomFilter.create(1000, 0.01)
    val inserted = (0L until 500L).map(_ * 7L)
    inserted.foreach(bloom.putLong)
    val probes = (0L until 4000L).toDF("x") // covers every inserted key (max 3493)
    val got = probes
      .select($"x", GraftExpressions.bloomMightContainLong(bloom, $"x").as("m"))
      .as[(Long, Boolean)].collect().toMap
    // Bloom contract: every inserted key answers true (false negatives are
    // a correctness bug; false positives are only shuffle overhead)
    inserted.foreach(k => assert(got(k), s"false negative on $k"))
    // at 1% fpp the non-inserted probes must be mostly rejected — a
    // stuck-true filter (or a broken reference hookup) trips this
    val nonInserted = (0L until 4000L).filterNot(k => k % 7 == 0 && k / 7 < 500)
    val fp = nonInserted.count(got(_))
    assert(fp < nonInserted.size / 10, s"$fp/${nonInserted.size} false positives")
    // interpreted eval (no codegen) must agree exactly with the codegen path
    val expr = graft.functions.expressions.BloomMightContainLong(
      org.apache.spark.sql.catalyst.expressions.Literal(42L), bloom)
    assert(expr.eval(null) == got(42L))
    // nulls propagate (nullIntolerant), non-long input fails analysis
    val withNull = Seq[java.lang.Long](1L, null).toDF("x")
      .select(GraftExpressions.bloomMightContainLong(bloom, $"x"))
      .collect().map(_.isNullAt(0)).toSeq
    assert(withNull == Seq(false, true))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq("s").toDF("x")
        .select(GraftExpressions.bloomMightContainLong(bloom, $"x")).collect()
    }
  }

  test("normalize_text: unicode accents, compatibility folds, whitespace, SQL") {
    val rows = Seq(
      "  Café   au\tLAIT \n",  // accents + mixed whitespace + case
      "ﬁn de siècle",     // U+FB01 LATIN SMALL LIGATURE FI → "fi" (NFKD)
      "á combining",     // a + COMBINING ACUTE → "a"
      "",                       // empty stays empty
      "   \t  ").toDF("t")      // all-whitespace collapses to empty
      .select(GraftExpressions.normalizeText($"t").as("n"))
      .as[String].collect().toSeq
    assert(rows == Seq("cafe au lait", "fin de siecle", "a combining", "", ""))
    // null propagates (nullIntolerant), SQL surface agrees, interpreted
    // eval (no codegen) matches the codegen path
    GraftExpressions.registerAll(spark)
    assert(spark.sql("SELECT normalize_text('  Äß  X ')").as[String].head()
      == "aß x") // NFKD does NOT fold ß (not a decomposition) — pinned
    val nulls = Seq[String](null).toDF("t")
      .select(GraftExpressions.normalizeText($"t"))
      .collect().map(_.isNullAt(0)).toSeq
    assert(nulls == Seq(true))
    val expr = graft.functions.expressions.NormalizeText(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        "Crème BRÛLÉE", org.apache.spark.sql.types.StringType))
    assert(expr.eval(null).toString == "creme brulee")
  }

  test("hashed_ngram_score: definition arithmetic, null/empty edges, SQL") {
    import graft.functions.expressions.HashedNgramScore
    // closed-form weight: w("ab") = ((97·1 + 98·2) mod 997)/997 − 0.5
    assert(HashedNgramScore.weight("ab") == ((97 + 98 * 2) % 997) / 997.0 - 0.5)
    // one token → exactly that unigram weight; two tokens → mean of
    // (u1, u2, bigram "a_b") in that order
    val one = Seq(Seq("ab")).toDF("t")
      .select(GraftExpressions.hashedNgramScore($"t")).as[Double].head()
    assert(one == HashedNgramScore.weight("ab"))
    val two = Seq(Seq("ab", "cd")).toDF("t")
      .select(GraftExpressions.hashedNgramScore($"t")).as[Double].head()
    val expected = (HashedNgramScore.weight("ab") + HashedNgramScore.weight("cd") +
      HashedNgramScore.weight("ab_cd")) / 3.0
    assert(two == expected)
    // empty array → null; a null ELEMENT is skipped and voids its bigrams
    val edge = Seq(
      (1, Seq.empty[String]),
      (2, Seq("ab", null, "cd"))).toDF("id", "t")
      .orderBy($"id")
      .select(GraftExpressions.hashedNgramScore($"t"))
      .collect()
    assert(edge(0).isNullAt(0))
    assert(edge(1).getDouble(0) ==
      (HashedNgramScore.weight("ab") + HashedNgramScore.weight("cd")) / 2.0)
    // null input propagates; SQL surface + interpreted eval agree
    GraftExpressions.registerAll(spark)
    assert(spark.sql("SELECT hashed_ngram_score(array('ab'))")
      .as[Double].head() == HashedNgramScore.weight("ab"))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Seq(1, 2)).toDF("t")
        .select(GraftExpressions.hashedNgramScore($"t")).collect()
    }
  }

  test("ngram_buckets / ngram_bucket_weight_sum: definition, edges, SQL") {
    import graft.functions.expressions.NgramBuckets
    val b = 31
    // bucket order: unigrams left-to-right, then bigrams (q109's feature
    // order); hash = positional code-point polynomial mod b
    val got = Seq(Seq("ab", "cd")).toDF("t")
      .select(GraftExpressions.ngramBuckets($"t", b)).as[Seq[Int]].head()
    assert(got == Seq(NgramBuckets.bucket("ab", b),
      NgramBuckets.bucket("cd", b), NgramBuckets.bucket("ab_cd", b)))
    // empty array → empty array (a histogram contribution of nothing)
    assert(Seq(Seq.empty[String]).toDF("t")
      .select(GraftExpressions.ngramBuckets($"t", b))
      .as[Seq[Int]].head().isEmpty)
    // weight-sum: the fused lookup equals the per-bucket sum; empty → null
    val w = Array.tabulate(b)(_ * 0.25)
    val rows = Seq((1, Seq("ab", "cd")), (2, Seq.empty[String]))
      .toDF("id", "t").orderBy($"id")
      .select(GraftExpressions.ngramBucketWeightSum($"t",
        typedLit(w.toSeq)))
      .collect()
    assert(rows(0).getDouble(0) ==
      w(NgramBuckets.bucket("ab", b)) + w(NgramBuckets.bucket("cd", b)) +
        w(NgramBuckets.bucket("ab_cd", b)))
    assert(rows(1).isNullAt(0))
    // a null WEIGHT element is a broken model table: loud failure
    intercept[Exception] {
      Seq(Seq("ab")).toDF("t")
        .select(GraftExpressions.ngramBucketWeightSum($"t",
          typedLit(Seq[java.lang.Double](null)))).collect()
    }
    // SQL surface
    GraftExpressions.registerAll(spark)
    assert(spark.sql(s"SELECT ngram_buckets(array('ab'), $b)")
      .as[Seq[Int]].head() == Seq(NgramBuckets.bucket("ab", b)))
    // wrong types fail at analysis, not at runtime
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Seq(1, 2)).toDF("t")
        .select(GraftExpressions.ngramBuckets($"t", b)).collect()
    }
  }

  test("deflate_ratio: separation bands, null/empty edges, interpreted " +
    "matches codegen, SQL") {
    import graft.functions.expressions.DeflateRatio
    // the helper IS the shared path of both eval modes; pin its contract
    assert(DeflateRatio.ratio(Array.emptyByteArray) == null)
    val rep = ("lorem ipsum dolor sit " * 100).trim
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders off toward a distant river bank where herons wade " * 4
    val repR = DeflateRatio.ratio(rep.getBytes("UTF-8")).toDouble
    val proseR = DeflateRatio.ratio(prose.getBytes("UTF-8")).toDouble
    assert(repR < 0.1, s"repeated block must crush: $repR")
    assert(proseR > repR * 3, s"prose must sit well above boilerplate: " +
      s"$proseR vs $repR")
    // column path (codegen) equals the helper exactly
    val got = Seq(rep, prose, "", null.asInstanceOf[String]).toDF("t")
      .select(graft.functions.TextFunctions.compressionRatio($"t").as("r"))
      .collect()
    assert(got(0).getDouble(0) == repR && got(1).getDouble(0) == proseR)
    assert(got(2).isNullAt(0), "empty text must be unscorable")
    assert(got(3).isNullAt(0), "null text coalesces to empty -> null")
    // interpreted eval (no codegen) agrees with the helper
    val expr = DeflateRatio(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        rep, org.apache.spark.sql.types.StringType))
    assert(expr.eval(null).asInstanceOf[Double] == repR)
    // SQL surface (both registration routes share the builder table)
    GraftExpressions.registerAll(spark)
    assert(spark.sql(s"SELECT deflate_ratio('$rep')").as[Double].head()
      == repR)
    // keep rule: boilerplate and empty fail, prose passes at the defaults
    val keeps = Seq(rep, prose, "").toDF("t")
      .select(graft.functions.TextFunctions.compressionKeep($"t").as("k"))
      .as[Boolean].collect().toSeq
    assert(keeps == Seq(false, true, false), keeps.toString)
  }

  test("nearest_cells: matches a brute-force (cos, -cid) argmax on random " +
    "vectors, ordering/tie/zero-vector/ragged edges, k < probes") {
    import graft.functions.expressions.{CentroidSet, GraftExpressions => GE}
    val rnd = new scala.util.Random(11)
    val dim = 6
    val cents = (0L until 20L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian()))).toArray
    val cs = new CentroidSet(cents.map(_._1), cents.map(_._2))
    def bruteCos(v: Array[Double], c: Array[Double]): Double = {
      val nv = math.sqrt(v.map(x => x * x).sum)
      val nc = math.sqrt(c.map(x => x * x).sum)
      if (nv * nc == 0) 0.0
      else v.zip(c).map { case (a, b) => a * b }.sum / (nv * nc)
    }
    def brute(v: Array[Double], p: Int): Seq[Long] =
      cents.map { case (id, c) => (id, bruteCos(v, c)) }
        .sortBy { case (id, cos) => (-cos, id) }.take(p).map(_._1)
        .reverse.toSeq // ascending preference, hard cell LAST
    for (_ <- 1 to 30) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      for (p <- Seq(1, 3, 25)) { // 25 > k exercises the clamp
        val got = Seq(v.map(_.toFloat)).toDF("v")
          .select(GE.nearestCells($"v", cs, p).as("cells"))
          .as[Seq[Long]].head()
        assert(got == brute(v, p), s"p=$p: $got vs ${brute(v, p)}")
      }
    }
    // exact tie: two identical centroids -> smaller cid preferred (last)
    val tied = new CentroidSet(Array(5L, 3L),
      Array(Array(1.0, 0.0), Array(1.0, 0.0)))
    val t = Seq(Seq(1.0f, 0.0f)).toDF("v")
      .select(GE.nearestCells($"v", tied, 2).as("c")).as[Seq[Long]].head()
    assert(t == Seq(5L, 3L), s"tie order: $t")
    // zero vector: cosine 0.0 to everything -> pure -cid order
    val z = Seq(Seq(0.0f, 0.0f)).toDF("v")
      .select(GE.nearestCells($"v", tied, 2).as("c")).as[Seq[Long]].head()
    assert(z == Seq(5L, 3L), s"zero-vector order: $z")
    // double-typed input and a ragged (wrong-dim) vector
    val d = Seq(Seq(1.0, 0.0)).toDF("v")
      .select(GE.nearestCells($"v", tied, 1).as("c")).as[Seq[Long]].head()
    assert(d == Seq(3L))
    val ragged = Seq(Seq(1.0f, 0.0f, 9.0f)).toDF("v")
      .select(GE.nearestCells($"v", tied, 1).as("c")).collect()
    assert(ragged.head.isNullAt(0), "ragged dim must null out")
    // interpreted eval path agrees with codegen
    val expr = graft.functions.expressions.NearestCells(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0f, 0.0f),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)), tied, 2)
    val ev = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(ev.toLongArray().toSeq == Seq(5L, 3L))
  }

  test("cdc_chunks: SQL surface equals the Column API; interpreted eval " +
      "agrees; lengths reconstruct the input") {
    import graft.functions.expressions.{CdcChunksExpr, GraftExpressions}
    val text = (1 to 40).map(i => s"word$i block$i").mkString(" ")
    val viaCol = Seq(text).toDF("t")
      .select(explode(GraftExpressions.cdcChunks($"t", 16, 4)).as("c"))
      .select($"c.chunk_idx", $"c.chunk_fp", $"c.chunk_len", $"c.chunk_off")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(viaCol.nonEmpty && viaCol.map(_._3).sum == text.length)
    // offsets are the cumulative lengths (chunks tile the input)
    assert(viaCol.map(_._4) ==
      viaCol.map(_._3).scanLeft(0L)(_ + _).dropRight(1))
    // SQL surface (both registration routes share the builder table)
    GraftExpressions.registerAll(spark)
    val viaSql = spark.sql(
        s"SELECT inline(cdc_chunks('$text', 16, 4))")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(viaSql == viaCol)
    // interpreted eval (no codegen) agrees
    val ev = CdcChunksExpr(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          text, org.apache.spark.sql.types.StringType), 16, 4)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(ev.numElements() == viaCol.size)
  }
}
