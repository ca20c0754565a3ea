package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.operators.Dedup

import Shared._

/** Corpus curation: sampling, data mixing (temperature, UniMax), PII,
  * decontamination, splits, DSIR selection, packing, training order and
  * the composed ingest-to-training-set pipelines. */
object Curation extends Family {

  /** The DSIR model CTEs over a given source relation (q136/q142/q143's
    * shared oracle body): unigram+bigram features in q109's list_concat
    * order, the portable positional code-point hash into 1009 buckets,
    * add-0.5-smoothed target/raw histograms, the dense per-bucket
    * log-ratio list. Returns the CTE LIST (no leading WITH) so callers
    * can chain their own CTEs before it. */
  private def dsirCtesOver(src: String): String =
    s"""tok AS (
       |  SELECT doc_id, coalesce(lang = 'en', FALSE) AS is_target,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM $src),
       |f AS (
       |  SELECT doc_id, is_target, list_concat(w,
       |    list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])) AS feats
       |  FROM tok),
       |fb AS (
       |  SELECT doc_id, is_target,
       |    list_transform(feats, t ->
       |      CAST(list_sum(list_transform(range(1, len(t) + 1),
       |        i -> ascii(t[i]) * i)) % 1009 AS INT)) AS bks
       |  FROM f),
       |c AS (
       |  SELECT bucket,
       |    sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS ct,
       |    sum(CASE WHEN is_target THEN 0 ELSE 1 END)::BIGINT AS cr
       |  FROM (SELECT is_target, unnest(bks) AS bucket FROM fb)
       |  GROUP BY bucket),
       |tot AS (SELECT sum(ct)::DOUBLE AS nt, sum(cr)::DOUBLE AS nr FROM c),
       |r AS (
       |  SELECT list(
       |      ln((coalesce(c.ct, 0) + 0.5) / (tot.nt + 0.5 * 1009)) -
       |      ln((coalesce(c.cr, 0) + 0.5) / (tot.nr + 0.5 * 1009))
       |      ORDER BY sp.bucket) AS lrs
       |  FROM (SELECT unnest(range(0, 1009)) AS bucket) sp
       |  LEFT JOIN c ON sp.bucket = c.bucket CROSS JOIN tot)""".stripMargin

  /** DuckDB prototype-prune tail over a CTE `src(vec_id, label, v)`:
    * rounded per-label centroid means, the q38 cosine, the
    * (cos DESC, vec_id) rank, the ceil(frac·n) cut — ONE definition for
    * q171 (full corpus) and q172 (post-dedup survivors), so the two
    * oracles cannot drift. */
  private def protoPruneSql(src: String, frac: Double): String =
    s"""c AS (SELECT label, fi, round(avg(v[fi]), 6) AS m
       |      FROM $src CROSS JOIN (SELECT unnest(range(1, 65)) AS fi) f
       |      GROUP BY label, fi),
       |cent AS (SELECT label, array_agg(m ORDER BY fi) AS cv
       |         FROM c GROUP BY label),
       |s AS (SELECT $src.vec_id, $src.label, ${cosSql("v", "cv")} AS cos
       |      FROM $src JOIN cent USING (label)),
       |r AS (SELECT vec_id, label, cos,
       |        row_number() OVER (PARTITION BY label
       |          ORDER BY cos DESC, vec_id) AS proto_rank,
       |        count(*) OVER (PARTITION BY label) AS cluster_n
       |      FROM s)
       |SELECT vec_id, label, round(cos, 4) AS cos_centroid,
       |  proto_rank, cluster_n
       |FROM r
       |WHERE proto_rank > CAST(ceil($frac * cluster_n) AS BIGINT)
       |ORDER BY label, proto_rank""".stripMargin

  /** DuckDB UniMax waterfilling CTEs over `a(stratum, available_tokens,
    * cap_tokens)`: the capacity sort, the exact-BIGINT prefix capping
    * test, and the capped/uniform allocation CASE (CTE `al`, column
    * `alloc`) — ONE definition for q170 and q174. */
  private def unimaxCtesSql(budget: Long): String =
    s"""w AS (SELECT *,
       |        row_number() OVER (ORDER BY cap_tokens, stratum) AS idx,
       |        coalesce(sum(cap_tokens) OVER (ORDER BY cap_tokens, stratum
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS pfx,
       |        count(*) OVER () AS n_tot
       |      FROM a),
       |f AS (SELECT *,
       |        cap_tokens * (n_tot - idx + 1) < $budget - pfx AS capped
       |      FROM w),
       |g AS (SELECT *,
       |        sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k,
       |        coalesce(sum(CASE WHEN capped THEN cap_tokens END)
       |          OVER (), 0) AS sum_capped
       |      FROM f),
       |al AS (SELECT *,
       |        CASE WHEN capped THEN cap_tokens::DOUBLE
       |             ELSE ($budget - sum_capped)::DOUBLE / (n_tot - k) END
       |          AS alloc
       |      FROM g)""".stripMargin

  /** DuckDB k-center greedy CTEs: `k` UNROLLED layers (the [[bpeCtesSql]]
    * discipline — greedy selection has no closed form). Layer i holds the
    * running min distance to centers 1..i; each next center is the
    * (md DESC, vec_id) argmax. Distances are rounded at 1e-6 BEFORE the
    * min, mirroring [[operators.Curate.kCenterGreedy]]'s engine-parity
    * pin. */
  private def kCenterSql(k: Int): String = {
    val layers = (2 to k).map { i =>
      s"""c$i AS (SELECT vec_id, v, md FROM d${i - 1}
         |  ORDER BY md DESC, vec_id LIMIT 1),
         |d$i AS (SELECT d.vec_id, d.v,
         |    least(d.md, round(1 - ${cosSql("d.v", "c.v")}, 6)) AS md
         |  FROM d${i - 1} d CROSS JOIN c$i c)""".stripMargin
    }
    // `md > 0` mirrors the operator's early stop: when the max
    // min-distance hits 0 coverage is complete (k exceeds the
    // distinct-vector count) and kCenterGreedy returns the shorter,
    // duplicate-free list — without the filter this oracle would pad
    // with re-picked zero-distance rows and diverge on such a fixture.
    // sep_dist is non-increasing, so every later layer filters too.
    val union = (s"SELECT 1 AS center_rank, vec_id," +
      s" CAST(NULL AS DOUBLE) AS sep_dist FROM c1") +:
      (2 to k).map(i => s"SELECT $i, vec_id, md FROM c$i WHERE md > 0")
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       |d1 AS (SELECT e.vec_id, e.v,
       |    round(1 - ${cosSql("e.v", "c.v")}, 6) AS md
       |  FROM e CROSS JOIN c1 c),
       |${layers.mkString(",\n")}
       |SELECT * FROM (${union.mkString("\nUNION ALL ")})
       |ORDER BY center_rank""".stripMargin
  }

  /** Benchmark decontamination: training docs sharing any distinct word
    * 4-gram with the held-out eval slice (doc_id % 100 == 7), with the
    * shared-gram count — the pre-training contamination sweep. */
  query("q89_decontaminate") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val isEval = pmod(col("doc_id"), lit(100)) === 7
    operators.TextProfile.contaminationReport(
        docs.filter(!isEval), docs.filter(isEval), "text", "doc_id", n = 4)
      .orderBy(col("doc_id"))
  } {
    s"""WITH tok AS (SELECT doc_id, $toksSql AS w FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN len(w) <= 4 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([array_to_string(w[i:i+3], ' ')
       |                        for i in range(1, len(w) - 2)]) END AS gs
       |  FROM tok),
       |ev AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 100 = 7),
       |tr AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 100 <> 7)
       |SELECT tr.doc_id, count(*) AS n_shared
       |FROM tr JOIN ev ON tr.gram = ev.gram
       |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin
  }

  /** Stratified deterministic sampling by language: per-stratum keep rates
    * on an md5-hex threshold — a pure filter (no shuffle, no RNG state),
    * reproducible across runs/cluster sizes, unlike `df.sample`. Oracle runs
    * the identical hash threshold in DuckDB, so the exact row set matches.
    * The `es` stratum runs at rate 1.0 to keep the sorts-above-all-hex
    * threshold edge (binding-mixing-stratum path) under the driver gate. */
  query("q90_stratified_sample") { (s, dir) =>
    operators.Curate.stratifiedSample(t(s, dir, "documents"), "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1, "es" -> 1.0),
        defaultRate = 0.05)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  } {
    val cases = Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1, "es" -> 1.0)
      .sortBy(_._1)
      .map { case (l, r) =>
        s"WHEN '$l' THEN '${operators.Curate.thresholdHex(r)}'" }
      .mkString(" ")
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
       |  CASE lang $cases ELSE '${operators.Curate.thresholdHex(0.05)}' END
       |ORDER BY doc_id""".stripMargin
  }

  /** Exactly-k-per-group deterministic sample (distributed reservoir):
    * 20 docs per language, ranked by the uniform sample key. */
  query("q91_group_sample") { (s, dir) =>
    operators.Curate.samplePerGroup(t(s, dir, "documents"), "lang", "doc_id", 20)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy(col("lang"), col("sample_rank"))
  } {
    """SELECT doc_id, lang, sample_rank FROM (
      |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
      |    AS sample_rank
      |  FROM documents) x
      |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin
  }

  /** PII scrub: plant a deterministic email/IP/phone suffix per doc (so the
    * check exercises real replacements, not a no-op), then count and redact
    * stage-wise. The redacted text is hash-compared via md5. */
  query("q92_pii_redact") { (s, dir) =>
    val planted = concat(coalesce(col("text"), lit("")),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 10."),
      pmod(col("doc_id"), lit(256)).cast("string"),
      lit(".0.1 tel +1415555"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    parallelize(t(s, dir, "documents"))
      .withColumn("__p", planted)
      .withColumn("__c", TextFunctions.piiCounts(col("__p")))
      .select(col("doc_id"),
        col("__c.n_emails").cast("long").as("n_emails"),
        col("__c.n_ips").cast("long").as("n_ips"),
        col("__c.n_phones").cast("long").as("n_phones"),
        md5(TextFunctions.redactPii(col("__p"))).as("red_fp"))
      .orderBy(col("doc_id"))
  } {
    val em = TextFunctions.emailPattern
    val ip = TextFunctions.ipv4Pattern
    val ph = TextFunctions.phonePattern
    s"""WITH p AS (SELECT doc_id,
       |  coalesce(text,'') || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |  '@example.com or 10.' || CAST(doc_id % 256 AS VARCHAR) ||
       |  '.0.1 tel +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM documents),
       |s1 AS (SELECT doc_id, t, regexp_replace(t, '$em', '<EMAIL>', 'g') AS t1 FROM p),
       |s2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM s1)
       |SELECT doc_id,
       | CAST(len(regexp_extract_all(t, '$em')) AS BIGINT) AS n_emails,
       | CAST(len(regexp_extract_all(t1, '$ip')) AS BIGINT) AS n_ips,
       | CAST(len(regexp_extract_all(t2, '$ph')) AS BIGINT) AS n_phones,
       | md5(regexp_replace(t2, '$ph', '<PHONE>', 'g')) AS red_fp
       |FROM s2 ORDER BY doc_id""".stripMargin
  }

  /** Data-mixing rates: per-language keep rates that hit a target mix
    * (en .4 / de .2 / fr .2 / es .1 / zh .1) without over-sampling any
    * stratum — the planning step before [[q90_stratified_sample]]'s filter. */
  query("q94_mixing_rates") { (s, dir) =>
    operators.Curate.mixingRates(t(s, dir, "documents"), "lang",
        Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1))
      .orderBy(col("stratum"))
  } {
    val cases = Seq("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1,
        "zh" -> 0.1).sortBy(_._1)
      .map { case (l, w) => s"WHEN '$l' THEN $w" }.mkString(" ")
    s"""WITH c AS (SELECT lang AS stratum, count(*) AS n_docs
       |  FROM documents GROUP BY 1),
       |w AS (SELECT stratum, n_docs,
       |  CAST(CASE stratum $cases ELSE 0 END AS DOUBLE) AS weight FROM c),
       |r AS (SELECT stratum, n_docs, weight,
       |  round(CASE WHEN weight > 0 THEN least(1.0, weight *
       |    (SELECT min(n_docs / weight) FROM w WHERE weight > 0) / n_docs)
       |    ELSE 0.0 END, 6) AS rate FROM w)
       |SELECT stratum, n_docs, weight, rate,
       |  CAST(floor(rate * n_docs) AS BIGINT) AS sample_n
       |FROM r ORDER BY stratum""".stripMargin
  }

  /** Exact mix materialization — the q94 plan executed: per-stratum quotas
    * from [[q94_mixing_rates]]' targets, realized to the row via rank +
    * broadcast-joined quota (the |strata|-row plan frame never shuffles the
    * corpus). Realized counts equal `sample_n` exactly, making mixing-plan
    * drift driver-visible end to end. */
  query("q95_materialize_mix") { (s, dir) =>
    operators.Curate.materializeMix(t(s, dir, "documents"), "lang",
        Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1))
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy(col("doc_id"))
  } {
    val cases = Seq("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1,
        "zh" -> 0.1).sortBy(_._1)
      .map { case (l, w) => s"WHEN '$l' THEN $w" }.mkString(" ")
    s"""WITH c AS (SELECT lang AS stratum, count(*) AS n_docs
       |  FROM documents GROUP BY 1),
       |w AS (SELECT stratum, n_docs,
       |  CAST(CASE stratum $cases ELSE 0 END AS DOUBLE) AS weight FROM c),
       |r AS (SELECT stratum, n_docs,
       |  round(CASE WHEN weight > 0 THEN least(1.0, weight *
       |    (SELECT min(n_docs / weight) FROM w WHERE weight > 0) / n_docs)
       |    ELSE 0.0 END, 6) AS rate FROM w),
       |q AS (SELECT stratum,
       |  CAST(floor(rate * n_docs) AS BIGINT) AS sample_n FROM r),
       |rk AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
       |  ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
       |  AS sample_rank FROM documents)
       |SELECT rk.doc_id, rk.lang, rk.sample_rank
       |FROM rk JOIN q ON rk.lang = q.stratum
       |WHERE rk.sample_rank <= q.sample_n ORDER BY rk.doc_id""".stripMargin
  }

  /** End-to-end curation pipeline — the flagship composition a
    * training-data team actually ships: the FULL Gopher A1 gate (both
    * published halves — the repetition keep rule, plus the structural
    * quality rule at [[fixtureQualityBounds]], the corpus-policy
    * parameterization a synthetic/multilingual corpus needs — the
    * quality failures the composite score's length/punctuation signals
    * cannot see), per-language quality gating (top half), exact dedup
    * to min-id representatives, benchmark decontamination against the
    * eval slice, exact mix materialization, then the FINAL
    * MATERIALIZATION pair every published pipeline applies at
    * training-set write time (the Dolma posture): CDC keep-first block
    * dedup over the selected set (q186's tier) and PII redaction on the
    * rebuilt text (q92's chain), md5-pinned. Every stage is the
    * operator its standalone query exercises (q162/q166/q93/q28/q89/
    * q95/q186/q92); what this query gates is the COMPOSITION,
    * oracle-checked as the same CTE chain. Scale shape: both A1 gates
    * are pure maps over
    * the scan (no shuffle — SURVEY §6 prices the pair at
    * 2.95 + 1.80 s per 500k docs), the quality window shuffles once
    * per language, dedup shuffles (fingerprint, id) pairs,
    * decontamination ships only (id, gram) pairs semi-joined against
    * the broadcastable eval-gram set, the mix join broadcasts a
    * |strata|-row quota frame, the CDC pass exchanges one (fp, id, len)
    * key per ~64-char block of the SELECTED set only, and redaction is
    * a scan-speed regex map — no stage widens at 100 TB. The eval
    * slice for decontamination is drawn from the RAW docs: a benchmark
    * document is a leak source whatever its repetition profile. */
  query("q96_curation_pipeline") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val qualified = operators.Curate.topFractionPerGroup(
      docs.filter(TextFunctions.gopherRepetitionKeep(col("text")) &&
          TextFunctions.gopherQualityKeep(col("text"), fixtureQualityBounds))
        .withColumn("quality", TextFunctions.qualityScore(col("text"))),
      "lang", "quality", 0.5, "doc_id")
    val deduped = Dedup.exact(qualified, "text", "doc_id")
    val isEval = pmod(col("doc_id"), lit(100)) === 7
    val train = deduped.filter(!isEval)
    val contaminated = operators.TextProfile.contaminationReport(
        train, docs.filter(isEval), "text", "doc_id", n = 4)
      .select(col("doc_id"))
    val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
    // PERSIST the selected set: it is read three times below — the strip
    // tier's chunk pass, the strip tier's rebuild join (both inside
    // stripDuplicateBlocks, which references its input twice by
    // contract), and the final column re-attach. Without the persist the
    // whole selection upstream (quality gates, exact dedup,
    // decontamination's n-gram join, mix materialization) re-executes
    // per reference — measured 2.1× on the r18 baseline bench when the
    // final-materialization pair landed.
    val mixed = operators.OpCache.track(
      operators.Curate.materializeMix(clean, "lang",
          Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1))
        .select(col("doc_id"), col("lang"), col("quality"), col("sample_rank"))
        .persist())
    // FINAL MATERIALIZATION (the Dolma posture: masking/boilerplate
    // removal happen when the training set is written, after selection):
    // CDC keep-first block dedup over the SELECTED set — the block-level
    // boilerplate the line/span tiers mis-align on (q186's tier, wired) —
    // then PII redaction on the rebuilt text (q92's chain, wired; this
    // corpus plants no PII, so n_pii pins the chain at zero — the
    // decorated both-directions gate is q92's). clean_fp hashes the
    // final redacted text, so ANY drift in cut rule, keep rule, rebuild,
    // or redaction order fails the oracle.
    val withText = mixed
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
    val stripped = Dedup.stripDuplicateBlocks(withText, "text", "doc_id")
    mixed.join(stripped, Seq("doc_id"))
      .withColumn("__c", TextFunctions.piiCounts(col("text_clean")))
      .select(col("doc_id"), col("lang"), col("quality"), col("sample_rank"),
        col("n_chunks"), col("n_kept"),
        (col("__c.n_emails") + col("__c.n_ips") + col("__c.n_phones"))
          .cast("long").as("n_pii"),
        md5(TextFunctions.redactPii(col("text_clean"))).as("clean_fp"))
      .orderBy(col("doc_id"))
  } {
    // q96: the q162 -> q93 -> q28 -> q89 -> q95 stages as one CTE
    // chain — the oracle twin of the composed curation pipeline (the
    // Gopher repetition keep gate recomputed by q162's explode CTEs)
    val cases = Seq("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1,
        "zh" -> 0.1).sortBy(_._1)
      .map { case (l, w) => s"WHEN '$l' THEN $w" }.mkString(" ")
    val piiEm = TextFunctions.emailPattern
    val piiIp = TextFunctions.ipv4Pattern
    val piiPh = TextFunctions.phonePattern
    val gramExpr =
      """CASE WHEN len(w) <= 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_distinct([array_to_string(w[i:i+3], ' ')
        |                        for i in range(1, len(w) - 2)]) END""".stripMargin
    s"""WITH rdoc AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
       |${repetitionCtesSql("r", "rdoc")},
       |gdoc AS (SELECT doc_id, t AS text FROM rdoc),
       |${gopherQualityStatsCtesSql("g", "gdoc")},
       |qual AS (
       |  SELECT doc_id, lang, text, $qualityExprSql AS quality
       |  FROM (${qualityRawSql("doc_id, lang, text")}) raw
       |  WHERE doc_id IN (SELECT doc_id FROM rfr WHERE keep)
       |    AND doc_id IN (SELECT doc_id FROM gst
       |      WHERE ${gopherQualityKeepSql(fixtureQualityBounds)})),
       |rk AS (SELECT doc_id, lang, text, quality,
       |  row_number() OVER (PARTITION BY lang
       |    ORDER BY quality DESC, doc_id) AS rk,
       |  count(*) OVER (PARTITION BY lang) AS n FROM qual),
       |kept AS (SELECT doc_id, lang, text, quality FROM rk
       |  WHERE rk <= ceil(n * 0.5 - 1e-9)),
       |dedup AS (SELECT * FROM kept WHERE doc_id IN (
       |  SELECT min(doc_id) FROM kept GROUP BY md5($normSql))),
       |gev AS MATERIALIZED (
       |  SELECT doc_id, $gramExpr AS gs
       |  FROM (SELECT doc_id, $toksSql AS w FROM documents
       |        WHERE doc_id % 100 = 7) t),
       |gtr AS MATERIALIZED (
       |  SELECT doc_id, $gramExpr AS gs
       |  FROM (SELECT doc_id, $toksSql AS w FROM dedup
       |        WHERE doc_id % 100 <> 7) t),
       |ev AS (SELECT DISTINCT unnest(gs) AS gram FROM gev),
       |contaminated AS (SELECT DISTINCT tr.doc_id
       |  FROM (SELECT doc_id, unnest(gs) AS gram FROM gtr) tr
       |  JOIN ev ON tr.gram = ev.gram),
       |clean AS (SELECT doc_id, lang, quality FROM dedup
       |  WHERE doc_id % 100 <> 7
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |c AS (SELECT lang AS stratum, count(*) AS n_docs FROM clean GROUP BY 1),
       |w AS (SELECT stratum, n_docs,
       |  CAST(CASE stratum $cases ELSE 0 END AS DOUBLE) AS weight FROM c),
       |r AS (SELECT stratum, n_docs,
       |  round(CASE WHEN weight > 0 THEN least(1.0, weight *
       |    (SELECT min(n_docs / weight) FROM w WHERE weight > 0) / n_docs)
       |    ELSE 0.0 END, 6) AS rate FROM w),
       |q AS (SELECT stratum,
       |  CAST(floor(rate * n_docs) AS BIGINT) AS sample_n FROM r),
       |rk2 AS (SELECT doc_id, lang, quality,
       |  row_number() OVER (PARTITION BY lang
       |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
       |    AS sample_rank FROM clean),
       |sel AS (SELECT rk2.doc_id, rk2.lang, rk2.quality, rk2.sample_rank
       |  FROM rk2 JOIN q ON rk2.lang = q.stratum
       |  WHERE rk2.sample_rank <= q.sample_n),
       |nt9 AS (SELECT sel.doc_id, sel.lang, sel.quality, sel.sample_rank,
       |  $normSql AS t FROM sel JOIN documents USING (doc_id)),
       |b9 AS (SELECT doc_id, t, len(t) AS n,
       |  [i for i in range(16, len(t))
       |   if ('0x' || substr(md5(t[i-15:i]), 1, 4))::INT % 64 = 0] AS cuts
       |  FROM nt9),
       |ch9 AS (SELECT doc_id, c.idx AS idx, c.off AS off, c.ln AS ln,
       |         c.fp AS fp
       |  FROM (SELECT doc_id,
       |          unnest([{'idx': j-1, 'off': bounds[j],
       |                   'ln': bounds[j+1]-bounds[j],
       |                   'fp': md5(t[bounds[j]+1:bounds[j+1]])}
       |                  for j in range(1, len(bounds))]) AS c
       |        FROM (SELECT doc_id, t, ([0] || cuts || [n]) AS bounds
       |              FROM b9 WHERE n > 0))),
       |w9 AS (SELECT *, count(*) OVER (PARTITION BY fp) AS occ,
       |        row_number() OVER (PARTITION BY fp
       |          ORDER BY doc_id, idx) AS rn
       |      FROM ch9),
       |k9 AS (SELECT doc_id, count(*)::BIGINT AS n_chunks,
       |        sum(CASE WHEN occ < 2 OR rn = 1 THEN 1 ELSE 0 END)::BIGINT
       |          AS n_kept,
       |        array_agg({'off': off, 'ln': ln} ORDER BY idx)
       |          FILTER (WHERE occ < 2 OR rn = 1) AS ks
       |      FROM w9 GROUP BY doc_id),
       |cl9 AS (SELECT nt9.doc_id, nt9.lang, nt9.quality, nt9.sample_rank,
       |  coalesce(array_to_string(
       |    [nt9.t[s.off+1:s.off+s.ln] for s in k9.ks], ''), '') AS tc,
       |  coalesce(k9.n_chunks, 0) AS n_chunks,
       |  coalesce(k9.n_kept, 0) AS n_kept
       |  FROM nt9 LEFT JOIN k9 USING (doc_id)),
       |p9 AS (SELECT *, regexp_replace(tc, '$piiEm', '<EMAIL>', 'g') AS t1
       |  FROM cl9),
       |p9b AS (SELECT *, regexp_replace(t1, '$piiIp', '<IP>', 'g') AS t2
       |  FROM p9)
       |SELECT doc_id, lang, quality, sample_rank, n_chunks, n_kept,
       |  CAST(len(regexp_extract_all(tc, '$piiEm')) +
       |       len(regexp_extract_all(t1, '$piiIp')) +
       |       len(regexp_extract_all(t2, '$piiPh')) AS BIGINT) AS n_pii,
       |  md5(regexp_replace(t2, '$piiPh', '<PHONE>', 'g')) AS clean_fp
       |FROM p9b ORDER BY doc_id""".stripMargin
  }

  /** Sequence packing (concatenation-offset bins): every doc is assigned
    * the training bin its first token lands in, per id-mod shard — the
    * concatenate-then-cut layout of packed pre-training datasets. Window
    * partitioned by shard, so no global sort at any corpus size
    * (Curate.packSequences). */
  query("q97_pack_sequences") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    operators.Curate.packSequences(docs, "doc_id", "n_tokens",
        budget = 2048L, shards = 8)
      .select(col("doc_id"), col("n_tokens"), col("shard"), col("bin"),
        col("bin_offset"))
      .orderBy(col("doc_id"))
  } {
    // q97: concatenation-offset packing — per-shard running token sum,
    // bin = floor(start / budget). DuckDB's window sum over BIGINT yields
    // HUGEINT, hence the explicit casts.
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       |         ELSE len($toksSql) END AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens, CAST(doc_id % 8 AS BIGINT) AS shard,
       |    sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
       |  FROM tok)
       |SELECT doc_id, n_tokens, shard,
       |  CAST(floor(strt / 2048.0) AS BIGINT) AS bin,
       |  CAST(strt % 2048 AS BIGINT) AS bin_offset
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Exact top-quality selection under a global token budget, decomposed
    * by quality level so wholly-fitting levels never touch a per-doc
    * window (Curate.selectByTokenBudget). The oracle runs the semantic
    * definition — a global (quality DESC, doc_id) running-sum cutoff —
    * so the plan decomposition is verified equivalent, not assumed. */
  query("q98_token_budget") { (s, dir) =>
    val txt = col("text")
    val docs = parallelize(t(s, dir, "documents"))
      .select(col("doc_id"),
        TextFunctions.qualityScore(txt).as("quality"),
        TextFunctions.tokenCount(txt).cast("long").as("n_tokens"))
    operators.Curate.selectByTokenBudget(docs, "quality", "n_tokens",
        "doc_id", budget = 8000L)
      .orderBy(col("doc_id"))
  } {
    // q98: the SEMANTIC definition of top-quality-under-budget — a global
    // (quality DESC, id) running-sum cutoff — verifying the Spark side's
    // decomposed-by-level plan is exactly equivalent
    s"""WITH q AS (
       |  SELECT doc_id, $qualityExprSql AS quality,
       |    CAST(n_tok AS BIGINT) AS n_tokens
       |  FROM (${qualityRawSql("doc_id")}) raw),
       |c AS (
       |  SELECT doc_id, quality, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM q)
       |SELECT doc_id, quality, n_tokens FROM c
       |WHERE cum <= 8000 ORDER BY doc_id""".stripMargin
  }

  /** Temperature-based mixing rates over the (skewed) language strata —
    * T = 2 upweights rare languages toward (not to) uniform, the standard
    * multilingual rebalancing rule. The binding stratum samples at 1.0. */
  query("q110_temperature_mix") { (s, dir) =>
    operators.Curate.temperatureRates(t(s, dir, "documents"), "lang",
        temperature = 2.0)
      .orderBy(col("stratum"))
  } {
    // the cross-stratum sums are windowed ORDER BY stratum (frame
    // unbounded-unbounded) on BOTH sides so the double accumulation order
    // is pinned engine-independently
    """WITH c AS (
      |  SELECT lang::VARCHAR AS stratum, count(*) AS n_docs
      |  FROM documents GROUP BY 1),
      |w AS (
      |  SELECT stratum, n_docs,
      |    pow(n_docs::DOUBLE / sum(n_docs) OVER (ORDER BY stratum
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
      |      0.5) AS raw
      |  FROM c),
      |n AS (
      |  SELECT stratum, n_docs, raw / sum(raw) OVER (ORDER BY stratum
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS weight
      |  FROM w),
      |r AS (
      |  SELECT stratum, n_docs, weight,
      |    round(least(1.0, weight * min(n_docs / weight) OVER (
      |      ORDER BY stratum ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      UNBOUNDED FOLLOWING) / n_docs), 6) AS rate
      |  FROM n)
      |SELECT stratum, n_docs, round(weight, 6) AS weight, rate,
      |  CAST(floor(rate * n_docs) AS BIGINT) AS sample_n
      |FROM r ORDER BY stratum""".stripMargin
  }

  /** Deterministic contrastive negative sampling: every 50th document
    * anchors 3 pseudo-random negatives via md5-prefix bucket draws —
    * reproducible on any cluster, no RNG state, oracle recomputes the
    * identical draws from the definition. */
  query("q114_negative_sampling") { (s, dir) =>
    val docs = t(s, dir, "documents")
    operators.Curate.sampleNegatives(docs, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(50)) === 0), k = 3)
      .orderBy(col("anchor_id"), col("neg_rank"))
  } {
    """WITH cands AS (
      |  SELECT doc_id AS cand_id,
      |    substr(md5(doc_id::VARCHAR), 1, 1) AS bucket
      |  FROM documents),
      |draws AS (
      |  SELECT doc_id AS anchor_id, r AS neg_rank,
      |    substr(md5(doc_id::VARCHAR || '#' || r::VARCHAR), 1, 1) AS bucket
      |  FROM documents, (SELECT unnest([1, 2, 3]) AS r)
      |  WHERE doc_id % 50 = 0),
      |j AS (
      |  SELECT anchor_id, neg_rank, cand_id,
      |    md5(anchor_id::VARCHAR || '#' || neg_rank::VARCHAR || '#' ||
      |        cand_id::VARCHAR) AS h
      |  FROM draws JOIN cands USING (bucket)
      |  WHERE cand_id <> anchor_id)
      |SELECT anchor_id, neg_rank, cand_id AS neg_id FROM (
      |  SELECT j.*, row_number() OVER (
      |    PARTITION BY anchor_id, neg_rank ORDER BY h, cand_id) AS rn
      |  FROM j)
      |WHERE rn = 1 ORDER BY anchor_id, neg_rank""".stripMargin
  }

  /** Offset-robust decontamination: per training doc, the fraction of
    * stride-1 ≥4-token window POSITIONS whose content appears verbatim
    * in the eval corpus, at ANY offset (a position-match rate, not token
    * coverage — see [[Dedup.substringContamination]]) — the
    * exact-substring companion to q89's distinct-n-gram overlap report.
    * Eval slice = doc_id % 50 == 7. */
  query("q122_substring_contamination") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val isEval = pmod(col("doc_id"), lit(50)) === 7
    Dedup.substringContamination(docs.filter(!isEval), docs.filter(isEval),
        "text", "doc_id", minTokens = 4)
      .orderBy(col("doc_id"))
  } {
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(coalesce(text, '')), '\s+')
      |    END AS w
      |  FROM documents),
      |tw AS (
      |  SELECT doc_id, len(w) - 3 AS n_windows,
      |    unnest(range(0, len(w) - 3)) AS pos, w
      |  FROM d WHERE len(w) >= 4 AND doc_id % 50 != 7),
      |ts AS (
      |  SELECT doc_id, n_windows,
      |    array_to_string(w[pos + 1 : pos + 4], ' ') AS s
      |  FROM tw),
      |es AS (
      |  SELECT DISTINCT array_to_string(w[pos + 1 : pos + 4], ' ') AS s
      |  FROM (SELECT unnest(range(0, len(w) - 3)) AS pos, w
      |        FROM d WHERE len(w) >= 4 AND doc_id % 50 = 7)),
      |c AS (
      |  SELECT doc_id, max(n_windows) AS n_windows, count(*) AS n_contam
      |  FROM ts WHERE s IN (SELECT s FROM es) GROUP BY doc_id)
      |SELECT doc_id, n_windows, n_contam,
      |  round(n_contam::DOUBLE / n_windows, 4) AS contam_frac
      |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Deterministic 80/10/10 train/val/test split assignment — the
    * reproducible sharding every training run needs; same doc → same
    * split on any cluster, any run. One scan, zero shuffles (beyond the
    * presentation sort); the train split is bit-identical to the 0.8
    * deterministic sample (CurateSpec-gated). */
  query("q123_split_assign") { (s, dir) =>
    operators.Curate.assignSplits(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy(col("doc_id"))
  } {
    """SELECT doc_id, lang,
      |  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 8) < 'cccccccc'
      |       THEN 'train'
      |       WHEN substr(md5(doc_id::VARCHAR), 1, 8) < 'e6666666'
      |       THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** ANN-grade hard-negative mining, exact retrieval form (q114's
    * quality companion): per anchor, the 3 most-similar vectors below
    * the tau = 0.45 near-duplicate threshold — informative negatives
    * that are provably not positives. The oracle recomputes the full
    * definition (cosine, tau cut, rank) from scratch; the at-scale
    * retrieval swap (ivfPqRerank shortlist feeding the same
    * `hardNegatives` tail) keeps these exact semantics per shortlist. */
  query("q134_hard_negatives") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val corpus = e.select(col("vec_id").as("corpus_id"),
      col("embedding").as("cv"))
    val anchors = e.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = corpus
      .join(broadcast(anchors), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        round(VectorFunctions.cosine(col("qv"), col("cv")), 4).as("cos_r"))
    operators.Curate.hardNegatives(scored, "query_id", "corpus_id",
        "cos_r", k = 3, tau = 0.45)
      .orderBy(col("query_id"), col("neg_rank"))
  } {
    // q134 recomputes the hard-negative definition from scratch: all
    // pairs, tau cut on the ROUNDED cosine (both engines rank and
    // filter the same 4-decimal value — the q34 discipline), top-3.
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id % 100 = 0)
       |SELECT query_id, corpus_id, cos_r, neg_rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |    round(${cosSql("q.v", "c.v")}, 4) AS cos_r,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${cosSql("q.v", "c.v")}, 4) DESC, c.vec_id)
       |      AS neg_rank
       |  FROM q, e c
       |  WHERE c.vec_id <> q.vec_id
       |    AND round(${cosSql("q.v", "c.v")}, 4) < 0.45) x
       |WHERE neg_rank <= 3 ORDER BY query_id, neg_rank""".stripMargin
  }

  /** Source×source distinct-trigram overlap matrix (q89's corpus-audit
    * companion): which sources mirror each other — the signal that
    * prioritizes cross-source dedup sweeps. The oracle recomputes the
    * full matrix (distinct gram sets, pairwise intersection, Jaccard)
    * from the definition, zero-overlap pairs included. */
  query("q135_source_overlap") { (s, dir) =>
    operators.TextProfile.sourceOverlap(
        parallelize(t(s, dir, "documents")), "text", "source", n = 3)
      .orderBy(col("src_a"), col("src_b"))
  } {
    // q132 generalizes the q104 oracle to several queries at once — the
    // per-term df here is corpus-wide (the serving frame's precomputed
    // form), identical to q104's per-query restriction because both
    // count every doc containing the term.
    // q135 recomputes the source-overlap matrix from the definition;
    // the gram expression mirrors TextFunctions.shingles at n = 3
    // (inclusive DuckDB slices: w[i:i+2] is 3 tokens; whole-text
    // fallback for short docs, the q89/q96 oracle pattern).
    s"""WITH d AS (SELECT source, $toksSql AS w FROM documents),
       |g AS (
       |  SELECT DISTINCT source AS src,
       |    unnest(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
       |      ELSE list_distinct([array_to_string(w[i:i+2], ' ')
       |                          for i in range(1, len(w) - 1)]) END) AS g
       |  FROM d),
       |c AS (SELECT src, count(*) AS n_grams FROM g GROUP BY src),
       |s AS (
       |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared
       |  FROM g a JOIN g b ON a.g = b.g AND a.src < b.src
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT ca.src AS src_a, cb.src AS src_b,
       |    ca.n_grams AS grams_a, cb.n_grams AS grams_b
       |  FROM c ca JOIN c cb ON ca.src < cb.src)
       |SELECT p.src_a, p.src_b,
       |  CAST(p.grams_a AS BIGINT) AS grams_a,
       |  CAST(p.grams_b AS BIGINT) AS grams_b,
       |  CAST(coalesce(s.shared, 0) AS BIGINT) AS shared,
       |  round(coalesce(s.shared, 0)::DOUBLE /
       |    (p.grams_a + p.grams_b - coalesce(s.shared, 0)), 4) AS jaccard
       |FROM p LEFT JOIN s USING (src_a, src_b)
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** DSIR importance weights (Xie et al. 2023): every doc scored by the
    * hashed-bigram log-likelihood ratio of target (en) vs raw features —
    * the data-selection pass that tilts a raw pool toward a target domain.
    * The oracle recomputes the full two-pass definition (bucket histograms,
    * smoothed log-ratios, per-doc feature sums) from scratch. */
  query("q136_dsir_select") { (s, dir) =>
    operators.Curate.dsirWeights(parallelize(t(s, dir, "documents")),
        "text", "doc_id", col("lang") === "en", nBuckets = 1009, alpha = 0.5)
      .withColumn("weight", round(col("weight"), 4))
      .orderBy(col("doc_id"))
  } {
    // q136 recomputes DSIR from the definition: unigram+bigram features
    // (q109's list_concat order), the portable positional code-point hash
    // into 1009 buckets, add-0.5-smoothed target/raw bucket histograms,
    // per-doc log-ratio sums in feature order (list_sum is left-to-right,
    // matching the fused expression's accumulation — the q109 discipline).
    s"""WITH ${dsirCtesOver("documents")}
       |SELECT fb.doc_id, fb.is_target, len(fb.bks)::BIGINT AS n_feats,
       |  CASE WHEN len(fb.bks) = 0 THEN NULL
       |       ELSE round(list_sum(list_transform(fb.bks, b -> r.lrs[b + 1])), 4)
       |  END AS weight
       |FROM fb CROSS JOIN r ORDER BY fb.doc_id""".stripMargin
  }

  /** Deterministic per-epoch training order (epoch 1): the reproducible
    * pre-training shuffle. The ROW ORDER is the contract — the oracle
    * recomputes the md5 epoch key and sorts by it, and the driver's
    * order-sensitive hash must agree row for row. */
  query("q140_training_order") { (s, dir) =>
    operators.Curate.trainingOrder(
        parallelize(t(s, dir, "documents")), "doc_id", epoch = 1)
      .select(col("doc_id"),
        operators.Curate.epochOrderKey(col("doc_id"), 1).as("okey"))
  } {
    // q140's contract is the ROW ORDER itself (the reproducible per-epoch
    // shuffle); both engines sort by the same md5('<epoch>:<id>') key.
    """SELECT doc_id, md5('1:' || CAST(doc_id AS VARCHAR)) AS okey
      |FROM documents
      |ORDER BY okey, doc_id""".stripMargin
  }

  /** Content-keyed (leakage-safe) split assignment: exact duplicates
    * share a split by construction — q123's id-keyed form leaves the
    * copy-contamination path open; this closes it. The oracle recomputes
    * the md5-interval CASE over the normalized text. */
  query("q141_leakage_safe_splits") { (s, dir) =>
    operators.Curate.leakageSafeSplits(t(s, dir, "documents"),
        "text", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  } {
    // q141 is q123's content-keyed twin: the md5-interval CASE over the
    // NORMALIZED TEXT, so exact duplicates share a split by construction.
    s"""SELECT doc_id,
       |  CASE WHEN substr(md5($normSql), 1, 8) < 'cccccccc' THEN 'train'
       |       WHEN substr(md5($normSql), 1, 8) < 'e6666666' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q136's SELECTION step — the actual DSIR output: the top-k raw-pool
    * documents by importance weight (rounded, doc_id tiebreak — the q134
    * rank-the-rounded-value discipline). Plans as TakeOrderedAndProject
    * (PlanSpec-gated): the corpus is never globally sorted for a top-k. */
  query("q142_dsir_topk") { (s, dir) =>
    operators.Curate.dsirWeights(parallelize(t(s, dir, "documents")),
        "text", "doc_id", col("lang") === "en", nBuckets = 1009, alpha = 0.5)
      .filter(!col("is_target") && col("weight").isNotNull)
      .select(col("doc_id"), round(col("weight"), 4).as("weight"))
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(50)
  } {
    // q142 is q136's SELECTION step: rank the RAW pool by the ROUNDED
    // weight (both engines cut the same 4-decimal value — the q134
    // discipline), doc_id tiebreak, keep the top 50.
    s"""WITH ${dsirCtesOver("documents")}
       |SELECT doc_id, weight FROM (
       |  SELECT fb.doc_id,
       |    round(list_sum(list_transform(fb.bks, b -> r.lrs[b + 1])), 4)
       |      AS weight
       |  FROM fb CROSS JOIN r
       |  WHERE NOT fb.is_target AND len(fb.bks) > 0) x
       |ORDER BY weight DESC, doc_id LIMIT 50""".stripMargin
  }

  /** Split-internal decontamination ([[operators.Curate.decontaminateSplits]]
    * — q141 hardened against PARTIAL overlap): content-keyed splits close
    * the exact-duplicate leak by construction, but a train doc sharing a
    * ≥4-token passage with a val/test doc still leaks; those train docs
    * are relabeled `quarantined` (rows never dropped). FULL DuckDB oracle:
    * base split CASE (q141) + stride-window contamination between the
    * split partitions (q122) + the relabel, recomputed from scratch. */
  query("q152_decontaminated_splits") { (s, dir) =>
    operators.Curate.decontaminateSplits(parallelize(t(s, dir, "documents")),
        "text", "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        minTokens = 4)
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  } {
    // q152 recomputes the hardened split assignment: q141's content-keyed
    // CASE, then q122's stride-window contamination between the resulting
    // split partitions, then the quarantine relabel.
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    CASE WHEN substr(md5($normSql), 1, 8) < 'cccccccc' THEN 'train'
       |         WHEN substr(md5($normSql), 1, 8) < 'e6666666' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, split,
       |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split_regex(trim(coalesce(text, '')), '\\s+')
       |    END AS w
       |  FROM base),
       |tw AS (
       |  SELECT doc_id, unnest(range(0, len(w) - 3)) AS pos, w
       |  FROM d WHERE len(w) >= 4 AND split = 'train'),
       |es AS (
       |  SELECT DISTINCT array_to_string(w[pos + 1 : pos + 4], ' ') AS s2
       |  FROM (SELECT unnest(range(0, len(w) - 3)) AS pos, w
       |        FROM d WHERE len(w) >= 4 AND split != 'train')),
       |cid AS (SELECT DISTINCT doc_id FROM tw
       |        WHERE array_to_string(w[pos + 1 : pos + 4], ' ')
       |              IN (SELECT s2 FROM es))
       |SELECT b.doc_id,
       |  CASE WHEN b.split = 'train' AND b.doc_id IN (SELECT doc_id FROM cid)
       |       THEN 'quarantined' ELSE b.split END AS split
       |FROM base b ORDER BY b.doc_id""".stripMargin
  }

  /** Data-constrained repeat planner ([[operators.Curate.repeatPlan]],
    * Muennighoff et al. 2023): per-language epochs/repeat decomposition
    * for a 200k-token budget against the corpus's available tokens, with
    * the diminishing-returns cap flagged at 8 epochs. Pure arithmetic
    * over a |langs|-row aggregate — FULL DuckDB oracle. The weighted
    * 'xx' stratum has NO corpus documents: its budget share must surface
    * as an `unsatisfiable` row (full-outer edge contract), never vanish. */
  query("q153_repeat_plan") { (s, dir) =>
    operators.Curate.repeatPlan(
        parallelize(t(s, dir, "documents"))
          .select(col("lang"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok")),
        "lang", "n_tok", budgetTokens = 200000L,
        weights = Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.15,
          "fr" -> 0.1, "zh" -> 0.04, "xx" -> 0.01),
        maxEpochs = 8.0)
      .orderBy(col("stratum"))
  } {
    // q153 recomputes the repeat plan's arithmetic from the token counts:
    // same double-precision floor/divide on both engines, same full-outer
    // edge contract (the corpus-less 'xx' stratum surfaces unsatisfiable).
    s"""WITH t AS (
       |  SELECT lang AS stratum,
       |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       |         ELSE len($toksSql) END AS n_tok
       |  FROM documents),
       |a AS (SELECT stratum, sum(n_tok)::BIGINT AS available_tokens
       |      FROM t GROUP BY stratum),
       |wt AS (SELECT * FROM (VALUES ('de', 0.2), ('en', 0.5),
       |         ('es', 0.15), ('fr', 0.1), ('xx', 0.01), ('zh', 0.04))
       |         AS v(stratum, w)),
       |j AS (SELECT coalesce(a.stratum, wt.stratum) AS stratum,
       |        coalesce(a.available_tokens, 0) AS available_tokens,
       |        CAST(coalesce(wt.w, 0.0) AS DOUBLE) AS weight
       |      FROM a FULL OUTER JOIN wt ON a.stratum = wt.stratum),
       |r AS (SELECT stratum, available_tokens, weight,
       |        CAST(floor(200000 * weight) AS BIGINT) AS target_tokens,
       |        CASE WHEN available_tokens > 0
       |             THEN floor(200000 * weight) / available_tokens
       |             WHEN floor(200000 * weight) > 0 THEN NULL
       |             ELSE 0.0 END AS ratio
       |      FROM j)
       |SELECT stratum, available_tokens, weight, target_tokens,
       |  round(ratio, 4) AS epochs,
       |  CAST(floor(ratio) AS BIGINT) AS full_repeats,
       |  round(ratio - floor(ratio), 4) AS partial_fraction,
       |  ratio > 8.0 AS capped,
       |  (target_tokens > 0 AND available_tokens = 0) AS unsatisfiable
       |FROM r ORDER BY stratum""".stripMargin
  }

  /** Near-dup-safe split assignment ([[operators.Curate.clusterSafeSplits]]
    * — the proactive close of the leakage path q152 quarantines after
    * the fact): every near-dup CLUSTER co-splits, keyed on its
    * representative's content. Pairs from the exact-Jaccard tier here so
    * the FULL DuckDB oracle can recompute everything: q50's pair CTEs,
    * q86's recursive-CTE transitive closure, the representative's md5
    * key, q141's interval CASE. */
  query("q154_cluster_safe_splits") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    val pairs = Dedup.jaccardSelfJoin(docs, "text", "doc_id",
      shingleK = 3, threshold = 0.6)
    operators.Curate.clusterSafeSplits(docs, "text", "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  } {
    // q154 recomputes the near-dup-safe assignment end to end: exact
    // pair CTEs (q50), recursive-CTE transitive closure (q86), the
    // min-id representative per doc (self for singletons), and the
    // content-keyed CASE over the REPRESENTATIVE's normalized text.
    s"""WITH RECURSIVE tok AS (SELECT doc_id, $toksSql AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) END AS s
       |  FROM tok),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |        len(list_distinct(list_concat(a.s, b.s))) >= 0.6),
       |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
       |edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
       |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
       |rep AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
       |r2 AS (SELECT d.doc_id, coalesce(rep.rep, d.doc_id) AS rep
       |       FROM documents d LEFT JOIN rep ON d.doc_id = rep.id),
       |k AS (SELECT r2.doc_id, substr(md5($normSql), 1, 8) AS key
       |      FROM r2 JOIN documents ON r2.rep = documents.doc_id)
       |SELECT doc_id,
       |  CASE WHEN key < 'cccccccc' THEN 'train'
       |       WHEN key < 'e6666666' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM k ORDER BY doc_id""".stripMargin
  }

  /** Epoch materialization ([[operators.Curate.materializeRepeats]] over
    * q153's plan): the repeated training set itself — every doc
    * `full_repeats` times plus the deterministic partial-epoch sample,
    * with a 1-based repeat index. FULL DuckDB oracle: the plan's
    * arithmetic, the per-stratum hex threshold (thresholdHex's
    * floor(frac·2^32) form), and the range explode, all recomputed. */
  query("q155_epoch_materialize") { (s, dir) =>
    val docs = operators.OpCache.track(parallelize(t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      .persist())
    val plan = operators.Curate.repeatPlan(docs, "lang", "n_tok",
      budgetTokens = 200000L,
      weights = Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.15,
        "fr" -> 0.1, "zh" -> 0.05),
      maxEpochs = 8.0)
    operators.Curate.materializeRepeats(docs, plan, "lang", "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tok"), col("repeat_idx"))
      .orderBy(col("doc_id"), col("repeat_idx"))
  } {
    // q155 recomputes the epoch materialization: the plan arithmetic
    // (q153), the per-stratum floor(frac*2^32)-as-hex threshold
    // (thresholdHex's exact form), and the 1..reps range explode.
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       |         ELSE len($toksSql) END AS BIGINT) AS n_tok
       |  FROM documents),
       |a AS (SELECT lang, sum(n_tok)::BIGINT AS avail FROM t GROUP BY lang),
       |p AS (SELECT lang,
       |        CAST(floor(floor(200000 * CASE lang WHEN 'de' THEN 0.2
       |          WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
       |          WHEN 'zh' THEN 0.05 ELSE 0.0 END) / avail) AS BIGINT)
       |          AS full_repeats,
       |        round(floor(200000 * CASE lang WHEN 'de' THEN 0.2
       |          WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
       |          WHEN 'zh' THEN 0.05 ELSE 0.0 END) / avail -
       |          floor(floor(200000 * CASE lang WHEN 'de' THEN 0.2
       |            WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.15
       |            WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.05 ELSE 0.0 END)
       |            / avail), 4) AS partial_fraction
       |      FROM a),
       |r AS (
       |  SELECT t.doc_id, t.lang, t.n_tok,
       |    p.full_repeats + CASE WHEN
       |      substr(md5(t.doc_id::VARCHAR), 1, 8) <
       |      CASE WHEN p.partial_fraction >= 1.0 THEN 'g'
       |        ELSE lower(lpad(to_hex(CAST(floor(p.partial_fraction
       |          * 4294967296) AS BIGINT)), 8, '0')) END
       |    THEN 1 ELSE 0 END AS reps
       |  FROM t JOIN p USING (lang))
       |SELECT doc_id, lang, n_tok,
       |  CAST(unnest(range(1, reps + 1)) AS BIGINT) AS repeat_idx
       |FROM r WHERE reps > 0
       |ORDER BY doc_id, repeat_idx""".stripMargin
  }

  /** The composed TRAINING-SET FLAGSHIP — corpus in, token batches out,
    * the contract the whole engine exists for (q143 stops at the split;
    * this runs the full chain): quality gate + exact dedup (q143's
    * curation stage) → near-dup-safe splits (q154) → data-constrained
    * repeat plan over the TRAIN split (q153) → epoch materialization
    * (q155) → per-epoch deterministic order (q140's key, column-epoch
    * form) → sequence packing per (epoch, shard) (q97's layout). Each
    * output (repeat_idx, shard, bin) is a training batch of ≤2048 tokens
    * in reproducible epoch order. FULL DuckDB oracle: one CTE chain
    * recomputing every stage. */
  query("q156_training_batches") { (s, dir) =>
    // quality gate = composite score AND the Gopher repetition keep rule
    // (disjoint failure modes; both pure map stages) — q161's store-served
    // twin MUST apply the identical gate or the parity verdicts there
    // compare different corpora
    val curated = operators.OpCache.track(
      Dedup.exact(
        parallelize(t(s, dir, "documents"))
          .filter(TextFunctions.qualityScore(col("text")) >= 0.6 &&
            TextFunctions.gopherRepetitionKeep(col("text"))),
        "text", "doc_id").persist())
    val pairs = Dedup.jaccardSelfJoin(curated, "text", "doc_id",
      shingleK = 3, threshold = 0.6)
    // persisted: the repeat planner aggregates the train split and the
    // epoch materializer re-reads it — without this the cluster-safe
    // split chain (CC resolution included) runs once per reference
    val train = operators.OpCache.track(
      operators.Curate.clusterSafeSplits(curated, "text",
          "doc_id", pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .filter(col("split") === "train")
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        .persist())
    val plan = operators.Curate.repeatPlan(train, "lang", "n_tok",
      budgetTokens = 150000L,
      weights = Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.15,
        "fr" -> 0.1, "zh" -> 0.05),
      maxEpochs = 8.0)
    val epochs = operators.Curate
      .materializeRepeats(train, plan, "lang", "doc_id")
      .withColumn("okey",
        operators.Curate.epochOrderKey(col("doc_id"), col("repeat_idx")))
    operators.Curate.packSequences(epochs, "doc_id", "n_tok",
        budget = 2048L, shards = 8,
        epochCol = Some("repeat_idx"), orderCol = Some("okey"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("repeat_idx"),
        col("okey"), col("shard"), col("bin"), col("bin_offset"))
      .orderBy(col("doc_id"), col("repeat_idx"))
  } {
    // q156 recomputes the COMPOSED flagship end to end in one CTE chain:
    // quality gate incl. the A1 repetition keep (q143/q162's CTEs) +
    // exact dedup, shingle pairs + recursive-CTE
    // closure + rep-keyed split CASE (q154), the train-split repeat plan
    // (q153), the clamped hex-threshold materialization (q155), the
    // per-epoch md5 order key (q140), and the (epoch, shard)-partitioned
    // running-sum packing (q97).
    s"""WITH RECURSIVE raw AS (${qualityRawSql("doc_id, lang, text")}),
       |rdoc AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
       |${repetitionCtesSql("r", "rdoc")},
       |qf AS (SELECT doc_id, lang, text FROM raw
       |       WHERE $qualityExprSql >= 0.6
       |         AND doc_id IN (SELECT doc_id FROM rfr WHERE keep)),
       |d AS (SELECT doc_id, lang, text FROM qf
       |      WHERE doc_id IN (SELECT min(doc_id) FROM qf
       |                       GROUP BY md5($normSql))),
       |tok AS (SELECT doc_id, $toksSql AS w FROM d),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) END AS s
       |  FROM tok),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |        len(list_distinct(list_concat(a.s, b.s))) >= 0.6),
       |nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
       |edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
       |          UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
       |rep AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
       |r2 AS (SELECT d.doc_id, coalesce(rep.rep, d.doc_id) AS rep
       |       FROM d LEFT JOIN rep ON d.doc_id = rep.id),
       |k AS (SELECT r2.doc_id, substr(md5($normSql), 1, 8) AS key
       |      FROM r2 JOIN d dd ON r2.rep = dd.doc_id),
       |tr AS (SELECT d.doc_id, d.lang,
       |         CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       |              ELSE len($toksSql) END AS BIGINT) AS n_tok
       |       FROM d JOIN k USING (doc_id)
       |       WHERE k.key < 'cccccccc'),
       |a AS (SELECT lang, sum(n_tok)::BIGINT AS avail FROM tr GROUP BY lang),
       |p AS (SELECT lang,
       |        CAST(floor(floor(150000 * CASE lang WHEN 'de' THEN 0.2
       |          WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
       |          WHEN 'zh' THEN 0.05 ELSE 0.0 END) / avail) AS BIGINT)
       |          AS full_repeats,
       |        round(floor(150000 * CASE lang WHEN 'de' THEN 0.2
       |          WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1
       |          WHEN 'zh' THEN 0.05 ELSE 0.0 END) / avail -
       |          floor(floor(150000 * CASE lang WHEN 'de' THEN 0.2
       |            WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.15
       |            WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.05 ELSE 0.0 END)
       |            / avail), 4) AS partial_fraction
       |      FROM a),
       |m AS (
       |  SELECT tr.doc_id, tr.lang, tr.n_tok,
       |    p.full_repeats + CASE WHEN
       |      substr(md5(tr.doc_id::VARCHAR), 1, 8) <
       |      CASE WHEN p.partial_fraction >= 1.0 THEN 'g'
       |        ELSE lower(lpad(to_hex(CAST(floor(p.partial_fraction
       |          * 4294967296) AS BIGINT)), 8, '0')) END
       |    THEN 1 ELSE 0 END AS reps
       |  FROM tr JOIN p USING (lang)),
       |x AS (SELECT doc_id, lang, n_tok,
       |        CAST(unnest(range(1, reps + 1)) AS BIGINT) AS repeat_idx
       |      FROM m WHERE reps > 0),
       |o AS (SELECT doc_id, lang, n_tok, repeat_idx,
       |        md5(CAST(repeat_idx AS VARCHAR) || ':' ||
       |            CAST(doc_id AS VARCHAR)) AS okey,
       |        CAST(doc_id % 8 AS BIGINT) AS shard
       |      FROM x),
       |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY repeat_idx, shard
       |        ORDER BY okey, doc_id ROWS UNBOUNDED PRECEDING) - n_tok
       |        AS strt
       |      FROM o)
       |SELECT doc_id, lang, n_tok, repeat_idx, okey, shard,
       |  CAST(floor(strt / 2048.0) AS BIGINT) AS bin,
       |  CAST(strt % 2048 AS BIGINT) AS bin_offset
       |FROM c ORDER BY doc_id, repeat_idx""".stripMargin
  }

  /** Semantic-decontamination accuracy gate
    * ([[operators.Dedup.semanticDecontaminate]] — the embedding-space
    * sibling of the n-gram decontamination gates q89/q122; q108's
    * in-plan discipline applied to the bipartite leg): the IVF-bucketed
    * operator is verified against the exact broadcast corpus×eval
    * cosine-threshold graph at the same tau. Recall < 1 is the
    * SemDeDup approximation (a leak whose corpus cell is outside the
    * eval row's probe set is never compared); spurious drops must be
    * STRUCTURALLY zero (every bipartite pair carries an exact in-cell
    * cosine, so the approximate drop set is a subgraph of the exact
    * one); survivors + dropped must conserve the corpus. Bounds
    * measured before pinning: 42 exact leaks at both SFs, recall
    * 0.929/0.952 at sf0.001/sf0.01 with probes = 2 (every planted
    * verbatim copy caught — identical vector ⇒ identical hard cell;
    * the 2–3 misses are natural tau-threshold pairs straddling cells,
    * the SemDeDup trade) — pinned at ≥ 0.8, the q108 convention. */
  query("q169_semantic_decontaminate") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val isEval = pmod(col("vec_id"), lit(7)) === 3
    val tau = 0.45
    val corpus = e.filter(!isEval)
    // eval = a held-out slice (the NATURAL near-leak tail — pairs at
    // tau that may straddle cells, the documented recall trade) PLUS
    // re-keyed exact copies of ~1/11 of the corpus (the verbatim
    // benchmark-in-corpus leak — identical vector ⇒ identical hard
    // cell ⇒ always caught, so the fixture's exact-leak set is large
    // enough that the recall gate measures the operator, not a
    // two-pair coin flip)
    val evalDf = e.filter(isEval).select(col("vec_id"), col("embedding"))
      .unionByName(corpus.filter(pmod(col("vec_id"), lit(11)) === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val keptIds = operators.OpCache.track(
      Dedup.semanticDecontaminate(corpus, evalDf, "embedding", "vec_id",
          k = 8, tau = tau)
        .select(col("vec_id")).persist())
    val dropped = operators.OpCache.track(corpus.select(col("vec_id"))
      .join(keptIds, Seq("vec_id"), "left_anti").persist())
    val exactDropped = operators.OpCache.track(
      corpus.join(broadcast(evalDf.select(col("embedding").as("__ev"))))
        .filter(VectorFunctions.cosine(col("embedding"), col("__ev")) >= tau)
        .select(col("vec_id")).distinct().persist())
    val nExact = exactDropped.count()
    val nDropped = dropped.count()
    val hit = exactDropped.join(dropped, Seq("vec_id"), "left_semi").count()
    val spurious =
      dropped.join(exactDropped, Seq("vec_id"), "left_anti").count()
    val conserved = keptIds.count() + nDropped == corpus.count()
    Gate.verdict(s)(
      ("semdecon_recall_of_exact", 0.8,
        nExact > 0 && hit >= 0.8 * nExact),
      ("semdecon_spurious_drops", 0.0, spurious == 0L),
      ("semdecon_nonempty", 1.0, nExact > 0),
      ("semdecon_conservation", 0.0, conserved))
  } {
    // q169 pins the semantic-decontamination contract (q108's verdict
    // pattern): recall vs the exact bipartite graph, structurally-zero
    // spurious drops, corpus conservation, non-degenerate fixture.
    """SELECT * FROM (VALUES
      |  ('semdecon_conservation', CAST(0.0 AS DOUBLE), TRUE),
      |  ('semdecon_nonempty', CAST(1.0 AS DOUBLE), TRUE),
      |  ('semdecon_recall_of_exact', CAST(0.8 AS DOUBLE), TRUE),
      |  ('semdecon_spurious_drops', CAST(0.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** UniMax epoch-capped uniform budget allocation
    * ([[operators.Curate.unimaxRates]] — Chung et al. 2023): a 48k-token
    * budget over the language strata at a 2-epoch cap. On this corpus
    * (~27k tokens, en ≈ 2.6× any other lang) the fixture exercises BOTH
    * regimes: the four small languages hit their caps and English absorbs
    * the uniform remainder. FULL DuckDB oracle — the capacity sort, the
    * exact-BIGINT prefix-sum capping test, and both divisions recomputed
    * in SQL windows. */
  query("q170_unimax") { (s, dir) =>
    operators.Curate.unimaxRates(
        parallelize(t(s, dir, "documents"))
          .select(col("lang"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok")),
        "lang", "n_tok", budgetTokens = 48000L, maxEpochs = 2.0)
      .orderBy(col("stratum"))
  } {
    // q170 recomputes UniMax end to end: token counts, the ascending
    // capacity sort, the exact-BIGINT prefix-sum capping test (integer
    // compare — bit-identical by construction), and the two final
    // divisions. Budget 48000, cap 2.0 epochs, mirrored literally.
    s"""WITH t AS (
       |  SELECT lang AS stratum,
       |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       |         ELSE len($toksSql) END AS n_tok
       |  FROM documents),
       |a AS (SELECT stratum, sum(n_tok)::BIGINT AS available_tokens,
       |        CAST(floor(sum(n_tok) * 2.0) AS BIGINT) AS cap_tokens
       |      FROM t GROUP BY stratum),
       |${unimaxCtesSql(48000L)}
       |SELECT stratum, available_tokens, cap_tokens,
       |  round(alloc, 4) AS alloc_tokens,
       |  round(CASE WHEN available_tokens > 0
       |        THEN alloc / available_tokens ELSE 0.0 END, 4) AS epochs,
       |  capped,
       |  CAST(CASE WHEN k = n_tot THEN 48000 - sum_capped ELSE 0 END
       |    AS BIGINT) AS leftover_tokens
       |FROM al ORDER BY stratum""".stripMargin
  }

  /** Prototype pruning ([[operators.Curate.prototypePrune]] — SSL
    * prototypes, Sorscher et al. 2022; D4's second stage, Tirumala et al.
    * 2023): drop the 25% of each label cluster closest to its centroid,
    * keep the diverse periphery. FULL DuckDB oracle: per-label rounded
    * dimension-wise means, the same cosine, the same (cos desc, id)
    * rank — kept rows hash-compared including rank and cluster size. */
  query("q171_prototype_prune") { (s, dir) =>
    operators.Curate.prototypePrune(t(s, dir, "embeddings"),
        "embedding", "label", "vec_id", dropFrac = 0.25)
      .orderBy(col("label"), col("proto_rank"))
  } {
    // q171 recomputes prototype pruning: per-label dimension-wise means
    // rounded at 1e-6 (the engine-parity pin — both engines then rank
    // from IDENTICAL centroid inputs), the q38-proven cosine, the same
    // (cos DESC, vec_id) rank, the same ceil(frac*n) cut.
    s"""WITH e AS (SELECT vec_id, label, $vecSql AS v FROM embeddings),
       |${protoPruneSql("e", 0.25)}""".stripMargin
  }

  /** D4 composed (Tirumala et al. 2023: dedup, then diversify): exact
    * embedding near-dup pairs (q38's tier — tau at the fixture's measured
    * semantic-dup band) → min-id representative per connected cluster →
    * prototype pruning over the SURVIVORS (centroids reflect the deduped
    * corpus, the paper's ordering). The exact pair tier is what makes the
    * oracle FULL (the q154 discipline — recursive-CTE closure, same
    * centroid/rank arithmetic); production swaps in the cell-bucketed
    * store pairs (q125/q129) for the pair stage. */
  query("q172_d4_pipeline") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val pairs = Dedup.embeddingNearDup(e, "embedding", "vec_id",
      threshold = 0.45, nBits = 0)
    val survivors = Dedup.keepRepresentatives(e, pairs, "vec_id")
    operators.Curate.prototypePrune(survivors, "embedding", "label",
        "vec_id", dropFrac = 0.2)
      .orderBy(col("label"), col("proto_rank"))
  } {
    // q172 recomputes the D4 composition end to end: the exact cosine
    // pair graph (q38's proven-parity tier), recursive-CTE transitive
    // closure with min-id representatives (q154's discipline), then the
    // q171 centroid/rank arithmetic over the SURVIVORS.
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, label, $vecSql AS v FROM embeddings),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS ua, b.vec_id AS ub
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "b.v")} >= 0.45),
       |nodes AS (SELECT ua AS id FROM pairs UNION SELECT ub FROM pairs),
       |edges AS MATERIALIZED (
       |  SELECT ua AS u, ub AS w FROM pairs
       |  UNION SELECT ub AS u, ua AS w FROM pairs),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e2.w FROM reach JOIN edges e2 ON reach.r = e2.u),
       |rep AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
       |surv AS (SELECT e.vec_id, e.label, e.v
       |         FROM e LEFT JOIN rep ON e.vec_id = rep.id
       |         WHERE rep.id IS NULL OR rep.rep = e.vec_id),
       |${protoPruneSql("surv", 0.2)}""".stripMargin
  }

  /** UniMax materialized (q170's allocator driving q155's epoch
    * machinery — the allocator-to-dataset loop closed): the q170
    * allocation becomes a repeat plan (full repeats = floor of the
    * ROUNDED epochs — the same 4-decimal value both engines print — and
    * the deterministic hex-threshold partial sample takes the fraction),
    * then [[operators.Curate.materializeRepeats]] emits the actual
    * repeated training rows. On this fixture every capped language rides
    * exactly twice and English lands 1.46 epochs (every doc once, a
    * deterministic ~46% once more). FULL DuckDB oracle: q170's
    * integer-exact waterfilling CTEs + q155's md5-threshold repeat CASE. */
  query("q174_unimax_materialize") { (s, dir) =>
    val docs = operators.OpCache.track(parallelize(t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      .persist())
    val rates = operators.Curate.unimaxRates(docs, "lang", "n_tok",
      budgetTokens = 48000L, maxEpochs = 2.0)
    val plan = rates.select(col("stratum"),
      floor(col("epochs")).cast("long").as("full_repeats"),
      round(col("epochs") - floor(col("epochs")), 4).as("partial_fraction"))
    operators.Curate.materializeRepeats(docs, plan, "lang", "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tok"), col("repeat_idx"))
      .orderBy(col("doc_id"), col("repeat_idx"))
  } {
    // q174 recomputes the composition: q170's waterfilling CTEs (the
    // integer-exact capping test and both divisions), epochs→plan
    // arithmetic on the ROUNDED epochs, then q155's md5 hex-threshold
    // repeat CASE and the range unnest.
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       |         ELSE len($toksSql) END AS BIGINT) AS n_tok
       |  FROM documents),
       |a AS (SELECT lang AS stratum, sum(n_tok)::BIGINT AS available_tokens,
       |        CAST(floor(sum(n_tok) * 2.0) AS BIGINT) AS cap_tokens
       |      FROM t GROUP BY 1),
       |${unimaxCtesSql(48000L)},
       |p AS (SELECT stratum AS lang,
       |        round(alloc / available_tokens, 4) AS epochs
       |      FROM al),
       |p2 AS (SELECT lang,
       |        CAST(floor(epochs) AS BIGINT) AS full_repeats,
       |        round(epochs - floor(epochs), 4) AS partial_fraction
       |       FROM p),
       |r AS (SELECT t.doc_id, t.lang, t.n_tok,
       |        p2.full_repeats + CASE WHEN
       |          substr(md5(t.doc_id::VARCHAR), 1, 8) <
       |          CASE WHEN p2.partial_fraction >= 1.0 THEN 'g'
       |            ELSE lower(lpad(to_hex(CAST(floor(p2.partial_fraction
       |              * 4294967296) AS BIGINT)), 8, '0')) END
       |        THEN 1 ELSE 0 END AS reps
       |      FROM t JOIN p2 USING (lang))
       |SELECT doc_id, lang, n_tok,
       |  CAST(unnest(range(1, reps + 1)) AS BIGINT) AS repeat_idx
       |FROM r WHERE reps > 0
       |ORDER BY doc_id, repeat_idx""".stripMargin
  }

  /** Margin-based bitext mining ([[operators.Similarity.marginMine]] —
    * Artetxe & Schwenk 2019; the CCMatrix rule): the corpus splits into
    * a "source language" (labels 0–4) and a "target language" (labels
    * 5–9) half, and every 13th source vector is planted into the target
    * side as a re-keyed exact copy — the ideal multilingual-encoder
    * translation. Mutual argmax-margin pairs at tau recover exactly the
    * planted translations (margin ≈ 1.6–2 vs the natural hubs' ≈ 1.1 —
    * the hub-discounting the raw cosine cannot do). The exact all-pairs
    * scored tier is what makes the oracle FULL; production feeds an
    * [[operators.Similarity.lshTopK]] shortlist (documented on the
    * operator). */
  query("q176_margin_mine") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val src = e.filter(col("label") < 5)
      .select(col("vec_id").as("src_id"), col("embedding").as("sv"))
    val tgt = e.filter(col("label") >= 5)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("tv"))
      .unionByName(e.filter(col("label") < 5 &&
          pmod(col("vec_id"), lit(13)) === 0)
        .select((col("vec_id") + 1000000L).as("tgt_id"),
          col("embedding").as("tv")))
    // exact all-pairs tier (oracle gate; the broadcast side is the
    // fixture-sized target half)
    val scored = src.join(broadcast(tgt))
      .select(col("src_id"), col("tgt_id"),
        VectorFunctions.cosine(col("sv"), col("tv")).as("cos"))
    operators.Similarity.marginMine(scored, "src_id", "tgt_id", "cos",
        k = 4, tau = 1.2, mutual = true)
      .select(col("src_id"), col("tgt_id"),
        round(col("cos"), 4).as("cos_r"),
        round(col("margin"), 4).as("margin_r"))
      .orderBy(col("src_id"))
  } {
    // q176 recomputes margin mining end to end: the planted-copy target
    // construction, the all-pairs cosine, both endpoints' top-4 average
    // (tie-broken on the partner id), the margin ratio, and the mutual
    // argmax-at-tau cut.
    s"""WITH src AS (
       |  SELECT vec_id AS src_id, $vecSql AS sv
       |  FROM embeddings WHERE label < 5),
       |tgt AS (
       |  SELECT vec_id AS tgt_id, $vecSql AS tv
       |  FROM embeddings WHERE label >= 5
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS tgt_id, $vecSql AS tv
       |  FROM embeddings WHERE label < 5 AND vec_id % 13 = 0),
       |scored AS (
       |  SELECT src_id, tgt_id, ${cosSql("sv", "tv")} AS cos
       |  FROM src CROSS JOIN tgt),
       |fa AS (SELECT src_id, avg(cos) AS asrc FROM (
       |    SELECT src_id, cos, row_number() OVER (PARTITION BY src_id
       |      ORDER BY cos DESC, tgt_id) AS r FROM scored) x
       |  WHERE r <= 4 GROUP BY src_id),
       |fb AS (SELECT tgt_id, avg(cos) AS atgt FROM (
       |    SELECT tgt_id, cos, row_number() OVER (PARTITION BY tgt_id
       |      ORDER BY cos DESC, src_id) AS r FROM scored) x
       |  WHERE r <= 4 GROUP BY tgt_id),
       |m AS (SELECT s.src_id, s.tgt_id, s.cos,
       |        s.cos / ((fa.asrc + fb.atgt) / 2) AS margin
       |      FROM scored s JOIN fa USING (src_id) JOIN fb USING (tgt_id)),
       |r AS (SELECT *,
       |        row_number() OVER (PARTITION BY src_id
       |          ORDER BY margin DESC, tgt_id) AS fr,
       |        row_number() OVER (PARTITION BY tgt_id
       |          ORDER BY margin DESC, src_id) AS br
       |      FROM m)
       |SELECT src_id, tgt_id, round(cos, 4) AS cos_r,
       |  round(margin, 4) AS margin_r
       |FROM r WHERE fr = 1 AND br = 1 AND margin >= 1.2
       |ORDER BY src_id""".stripMargin
  }

  /** Weighted sampling without replacement ([[operators.Curate
    * .weightedSample]] — Efraimidis & Spirakis 2006; the weighted tier of
    * q90's deterministic sampling): top-120 documents by the ln(u)/w key
    * with w = n_chars, so longer documents are proportionally likelier
    * without ever being guaranteed — the draw a token-weighted corpus
    * subsample needs. u is exact dyadic md5 arithmetic; the key rounds
    * at 1e-9 with an id tie-break (the cross-engine ln pin). FULL DuckDB
    * oracle — the identical hex-prefix u, ln-key, rank, and cut. */
  query("q178_weighted_sample") { (s, dir) =>
    operators.Curate.weightedSample(
        parallelize(t(s, dir, "documents")), "doc_id", "n_chars", k = 120)
      .select(col("doc_id"), col("n_chars"), col("es_key"),
        col("sample_rank"))
      .orderBy(col("sample_rank"))
  } {
    // q178 recomputes the Efraimidis-Spirakis draw exactly: the same
    // 12-hex-digit md5 prefix as an exact dyadic u, ln(u)/w rounded at
    // 1e-9, the (key DESC, id) rank, and the top-120 cut. 2^48 =
    // 281474976710656.
    """WITH sc AS (
      |  SELECT doc_id, n_chars,
      |    round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
      |                ::UBIGINT + 0.5) / 281474976710656.0)
      |          / n_chars, 9) AS es_key
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
      |SELECT doc_id, n_chars, es_key,
      |  row_number() OVER (ORDER BY es_key DESC, doc_id) AS sample_rank
      |FROM sc ORDER BY es_key DESC, doc_id LIMIT 120""".stripMargin
  }

  /** k-center greedy coreset ([[operators.Curate.kCenterGreedy]] — Sener
    * & Savarese 2018 / Gonzalez 1985; the coverage-based pruning tier
    * next to q171's density-based prototype pruning): the 8 embedding
    * rows that best span the corpus, each round picking the point
    * farthest (1−cos, rounded at 1e-6, id tie-break) from the picks so
    * far; `sep_dist` traces the k-center objective and is
    * non-increasing by construction. FULL DuckDB oracle — 8 UNROLLED
    * CTE layers (the q177 discipline for iterative trainers) replaying
    * the same seed, running-min distances, and argmax. */
  query("q179_kcenter_coreset") { (s, dir) =>
    operators.Curate.kCenterGreedy(t(s, dir, "embeddings"),
        "embedding", "vec_id", k = 8)
      .orderBy(col("center_rank"))
  } {
    // q179 recomputes k-center greedy with 8 unrolled layers (the q177
    // discipline): min-id seed, per-layer round-6 distance to the new
    // center folded into the running min, (md DESC, id) argmax.
    kCenterSql(8)
  }

  /** T5 span corruption ([[operators.Tokenize.spanCorrupt]] — Raffel et
    * al. 2020's denoising-objective data prep, in the deterministic
    * md5-offset form: one 3-token span per 20-token window = the paper's
    * 15% corruption rate, reproducible on any cluster). The rebuilt
    * input/target texts are md5-pinned (the q167 rebuilt-text
    * discipline). FULL DuckDB oracle — the same window arithmetic,
    * hex-derived offsets, sentinel numbering, and final-sentinel close,
    * replayed over list comprehensions. */
  query("q183_span_corrupt") { (s, dir) =>
    operators.Tokenize.spanCorrupt(parallelize(t(s, dir, "documents")),
        "text", "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("n_input_tokens"),
        md5(col("input_text")).as("input_fp"),
        md5(col("target_text")).as("target_fp"))
      .orderBy(col("doc_id"))
  } {
    // q183 replays the span-corruption arithmetic over list
    // comprehensions: same windows, md5-hex offsets, sentinel numbering,
    // final-sentinel close, md5-pinned rebuilt texts.
    def winSize(w: String) = s"least(20, n - ($w) * 20)"
    def spanStart(w: String) =
      s"(($w) * 20 + ('0x' || substr(md5(doc_id || '_' || ($w)), 1, 6))" +
        s"::BIGINT % (${winSize(w)} - 2))"
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(coalesce(text, '')) = ''
       |         THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS tk
       |  FROM documents),
       |base AS (SELECT doc_id, tk, len(tk) AS n FROM tok),
       |sp AS (SELECT doc_id, tk, n,
       |  [w for w in range(0, (n + 19) // 20)
       |   if ${winSize("w")} >= 3] AS mws FROM base),
       |inp AS (SELECT doc_id, tk, n, mws,
       |  list_filter([
       |    CASE WHEN ${winSize("i//20")} < 3 THEN tk[i+1]
       |         WHEN i = ${spanStart("i//20")}
       |           THEN '<extra_id_' || (i//20) || '>'
       |         WHEN i > ${spanStart("i//20")}
       |           AND i < ${spanStart("i//20")} + 3 THEN NULL
       |         ELSE tk[i+1] END
       |    for i in range(0, n)], x -> x IS NOT NULL) AS itoks
       |  FROM sp),
       |t AS (SELECT doc_id, n, len(mws) AS nspans, itoks,
       |  flatten([['<extra_id_' || w || '>'] ||
       |           tk[${spanStart("w")}+1 : ${spanStart("w")}+3]
       |           for w in mws]) ||
       |    ['<extra_id_' || len(mws) || '>'] AS ttoks
       |  FROM inp)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(nspans AS BIGINT) AS n_spans,
       |  CAST(len(itoks) AS BIGINT) AS n_input_tokens,
       |  md5(coalesce(array_to_string(itoks, ' '), '')) AS input_fp,
       |  md5(array_to_string(ttoks, ' ')) AS target_fp
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Dolma document-level PII policy ([[TextFunctions.piiPolicy]] —
    * detect, count, DECIDE: pages over the span threshold drop instead
    * of masking, the Dolma toolkit's contact-dump rule; survivors get
    * q92's redaction chain). Decorated fixture, both directions (the
    * q92 pattern): every doc plants one email + one IP + one phone
    * (3 ≤ 5 → kept and masked), every 7th doc additionally plants a
    * six-address contact dump (9 > 5 → dropped, red_fp NULL). FULL
    * DuckDB oracle — the same planting, stage-wise counts, threshold,
    * and conditional md5 of the redacted rebuild. */
  query("q190_pii_policy") { (s, dir) =>
    val base = concat(coalesce(col("text"), lit("")),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 10."),
      pmod(col("doc_id"), lit(256)).cast("string"),
      lit(".0.1 tel +1415555"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    val dump = concat_ws(" ", (1 to 6).map(k =>
      concat(lit(s"u$k."), col("doc_id").cast("string"),
        lit("@dump.example"))): _*)
    val planted = when(pmod(col("doc_id"), lit(7)) === 0,
      concat(base, lit(" "), dump)).otherwise(base)
    parallelize(t(s, dir, "documents"))
      .withColumn("__o", TextFunctions.piiPolicy(planted, maxSpans = 5))
      .select(col("doc_id"),
        col("__o.n_pii").as("n_pii"),
        col("__o.keep").as("keep"),
        md5(col("__o.text_redacted")).as("red_fp"))
      .orderBy(col("doc_id"))
  } {
    // q190 replays the Dolma document-level policy: the q92 planting
    // plus a six-address dump on every 7th doc, stage-wise counts, the
    // <=5 threshold, and md5 of the redacted text only for kept docs
    // (dropped docs yield NULL — both engines' md5(NULL)).
    val em = TextFunctions.emailPattern
    val ip = TextFunctions.ipv4Pattern
    val ph = TextFunctions.phonePattern
    s"""WITH p AS (SELECT doc_id,
       |  coalesce(text,'') || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |  '@example.com or 10.' || CAST(doc_id % 256 AS VARCHAR) ||
       |  '.0.1 tel +1415555' ||
       |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |  CASE WHEN doc_id % 7 = 0 THEN ' ' || array_to_string(
       |    [('u' || k || '.' || CAST(doc_id AS VARCHAR) || '@dump.example')
       |     for k in range(1, 7)], ' ') ELSE '' END AS t
       |  FROM documents),
       |s1 AS (SELECT doc_id, t,
       |  regexp_replace(t, '$em', '<EMAIL>', 'g') AS t1 FROM p),
       |s2 AS (SELECT doc_id, t, t1,
       |  regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM s1),
       |c AS (SELECT doc_id, t2,
       |  CAST(len(regexp_extract_all(t, '$em')) +
       |       len(regexp_extract_all(t1, '$ip')) +
       |       len(regexp_extract_all(t2, '$ph')) AS BIGINT) AS n_pii
       |  FROM s2)
       |SELECT doc_id, n_pii, n_pii <= 5 AS keep,
       |  CASE WHEN n_pii <= 5
       |    THEN md5(regexp_replace(t2, '$ph', '<PHONE>', 'g')) END AS red_fp
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** The round-12 flagship composition — the ingest-to-training-set
    * pipeline assembled from this round's operators: quality gate →
    * in-corpus exact dedup → DSIR model trained ON THE SURVIVORS →
    * target-likeness selection of the raw pool (rounded-weight cut, the
    * q134 discipline) → leakage-safe content-keyed splits. Every stage
    * is individually oracle-green (q31/q28/q136/q141); this gate proves
    * the COMPOSITION — the oracle rebuilds the whole chain from first
    * principles, with the DSIR CTEs re-pointed at the deduped survivor
    * relation (the model must be trained on what survives, not on the
    * raw corpus). */
  query("q143_ingest_pipeline") { (s, dir) =>
    val docs = parallelize(t(s, dir, "documents"))
    // composed quality gate: composite score + Gopher repetition keep
    // (q96/q156/q161 apply the same pair — one production convention)
    val quality = docs.filter(
      TextFunctions.qualityScore(col("text")) >= 0.6 &&
        TextFunctions.gopherRepetitionKeep(col("text")))
    // persisted: dsirWeights is two-pass over its input (feature
    // histograms, then scoring) and the split assignment joins the
    // deduped frame again — without this the quality gate + exact dedup
    // run once per reference (the q96 r18 lesson)
    val deduped = operators.OpCache.track(
      Dedup.exact(quality, "text", "doc_id").persist())
    val weighted = operators.Curate.dsirWeights(deduped, "text", "doc_id",
      col("lang") === "en", nBuckets = 1009, alpha = 0.5)
    val selected = weighted
      .filter(!col("is_target") && col("weight").isNotNull)
      .withColumn("wr", round(col("weight"), 4))
      .filter(col("wr") > 0)
      .select(col("doc_id"), col("wr"))
    operators.Curate.leakageSafeSplits(
        deduped.join(selected, Seq("doc_id")), "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("wr").as("weight"), col("split"))
      .orderBy(col("doc_id"))
  } {
    // q143 rebuilds the whole pipeline: quality gate (q31's CTEs, >= 0.6
    // on the rounded composite, AND the full A1 repetition keep rule —
    // q162's CTEs), min-id dedup (q28's form), the DSIR model CTEs
    // RE-POINTED at the deduped survivors, the rounded-weight raw-pool
    // cut, and the content-keyed split CASE (q141's form).
    s"""WITH raw AS (${qualityRawSql("doc_id, lang, text")}),
       |rdoc AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
       |${repetitionCtesSql("r", "rdoc")},
       |qf AS (SELECT doc_id, lang, text FROM raw
       |       WHERE $qualityExprSql >= 0.6
       |         AND doc_id IN (SELECT doc_id FROM rfr WHERE keep)),
       |d AS (SELECT doc_id, lang, text FROM qf
       |      WHERE doc_id IN (SELECT min(doc_id) FROM qf
       |                       GROUP BY md5($normSql))),
       |${dsirCtesOver("d")},
       |w AS (SELECT fb.doc_id,
       |        round(list_sum(list_transform(fb.bks, b -> r.lrs[b + 1])), 4)
       |          AS wr
       |      FROM fb CROSS JOIN r
       |      WHERE NOT fb.is_target AND len(fb.bks) > 0),
       |sel AS (SELECT w.doc_id, w.wr, d.text FROM w JOIN d USING (doc_id)
       |        WHERE w.wr > 0)
       |SELECT doc_id, wr AS weight,
       |  CASE WHEN substr(md5($normSql), 1, 8) < 'cccccccc' THEN 'train'
       |       WHEN substr(md5($normSql), 1, 8) < 'e6666666' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM sel ORDER BY doc_id""".stripMargin
  }
}
