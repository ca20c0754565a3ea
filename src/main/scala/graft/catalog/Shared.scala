package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** What more than one family uses: the fixture readers (`t`, `events`,
  * `parallelize`), per-process scratch dirs and tables, and the oracle
  * SQL fragments several families' oracles embed. */
object Shared {

  private[catalog] def t(spark: SparkSession, dir: String,
                         name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private[catalog] def events(spark: SparkSession, dir: String): DataFrame =
    sources.Tables.events(spark, dir)

  /** Split a narrow source across the cluster: the fixture tables are
    * single-row-group parquet files (unsplittable scans), so CPU-heavy
    * per-row stages (tokenize, regex, sketch, JSON parse) would otherwise
    * run on ONE core. A cheap round-robin shuffle of the small input
    * unlocks full parallelism — conditional, so a production multi-file
    * input that arrives pre-split is passed through untouched (no shuffle
    * inserted at 100 TB where it would be the bottleneck).
    *
    * The split count is ESTIMATED from the scan's file-listing metadata in
    * the (already-computed) analyzed plan — `ceil(scanBytes /
    * maxPartitionBytes)`, the same packing rule Spark's FilePartition
    * applies — instead of `df.rdd.getNumPartitions`, which would force a
    * full physical plan plus an RDD build per query just to read one
    * number. A frame with no file scan underneath passes through: for
    * scale, no-shuffle is the conservative default. */
  private[catalog] def parallelize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val scanBytes = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.sizeInBytes
    }
    if (scanBytes.isEmpty) df
    else {
      // 1 + (b-1)/maxSplit, not (b+maxSplit-1)/maxSplit: a relation with
      // unknown stats reports sizeInBytes = Long.MaxValue, and the naive
      // ceil would overflow negative — flipping the conservative
      // no-shuffle default into repartitioning an arbitrarily large input
      val estSplits = scanBytes.map(b =>
        if (b <= 0L) 1L else 1L + (b - 1L) / maxSplit).sum
      if (estSplits >= target) df else df.repartition(target)
    }
  }

  /** Normalized-text SQL fragment matching TextFunctions.tokens semantics
    * (lowercase, trim, whitespace-collapse, NULL ≡ empty — the one
    * NULL-text contract, identical on both engines). */
  private[catalog] val normSql =
    """regexp_replace(trim(lower(coalesce(text, ''))), '\s+', ' ', 'g')"""

  private[catalog] val toksSql =
    """string_split_regex(trim(lower(coalesce(text, ''))), '\s+')"""

  /** Per-process round-trip scratch dir: two concurrent catalog runs (e.g.
    * parallel Verify invocations) must not clobber each other's files.
    * Deleted on JVM exit — a long-lived driver invoking the catalog for
    * months must not accumulate fixture-sized CSV/JSON dumps in /tmp. */
  private[graft] lazy val roundTripBase: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_roundtrip_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      rmTree(dir.toFile)
    }, "graft-roundtrip-cleanup"))
    dir.toString
  }

  private[catalog] def roundTripDir(name: String): String =
    s"$roundTripBase/$name"

  /** Recursive delete for the per-process /tmp fixture stores the
    * verdict-gate queries build — one definition (was pasted into every
    * store-building query); no-op on a missing path. */
  private[catalog] def rmTree(f: java.io.File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** Drop a store or table ([[operators.Layout.dropStore]]: its view,
    * every version, staging tables) AND its warehouse directories: a
    * directory left behind by a KILLED run isn't in the catalog, so the
    * drop misses it and saveAsTable would fail on the stale location —
    * clean at the session's ACTUAL warehouse dir (only meaningful for a
    * local-filesystem warehouse). Queries use per-process table names so
    * two concurrent runs in one repo dir can't clobber each other. */
  private[catalog] def dropLocalTable(s: SparkSession, tbl: String): Unit = {
    operators.Layout.dropStore(s, tbl)
    val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
    if (wh.getScheme == null || wh.getScheme == "file") {
      val root = if (wh.getScheme == null) wh.toString else wh.getPath
      val own = ("^" + java.util.regex.Pattern.quote(tbl.toLowerCase) +
        "(__v\\d+|__graft_rw_.*)?$").r.pattern
      Option(new java.io.File(root).listFiles).getOrElse(Array.empty)
        .filter(f => own.matcher(f.getName).matches()).foreach(rmTree)
    }
  }

  /** The A1 quality keep conjunction as oracle SQL, interpolated from
    * the SAME [[TextFunctions.GopherQualityBounds]] instance the Spark
    * rule reads — a bound adjusted in one place moves both engines
    * together (default instance = the published constants table). */
  private[catalog] def gopherQualityKeepSql(
      b: TextFunctions.GopherQualityBounds =
        TextFunctions.GopherQualityBounds()): String =
    s"""(n_words >= ${b.minWords} AND n_words <= ${b.maxWords}
       |   AND mean_word_len >= ${b.minMeanWordLen}
       |   AND mean_word_len <= ${b.maxMeanWordLen}
       |   AND hash_word_ratio <= ${b.maxHashWordRatio}
       |   AND ellipsis_word_ratio <= ${b.maxEllipsisWordRatio}
       |   AND bullet_line_frac <= ${b.maxBulletLineFrac}
       |   AND ellipsis_line_frac <= ${b.maxEllipsisLineFrac}
       |   AND alpha_word_frac >= ${b.minAlphaWordFrac}
       |   AND stop_hits >= ${b.minStopHits})""".stripMargin

  /** Corpus-policy bounds for the SYNTHETIC fixture corpus, measured
    * from the raw-document distribution (verify dump, sf0.01): docs are
    * 10–100-word soup with `stop_hits ≤ 1` (the 31-word vocabulary
    * contains only "the" from the paper's 8 stop words), so the
    * published 50-word floor and 2-stop-hit requirement would drop
    * ~half the corpus by construction. `minWords = 20` (~11% fail) and
    * `minStopHits = 1` (~25% fail) keep the gate DISCRIMINATING at
    * every other published bound — the escape hatch a real multilingual
    * corpus needs, exercised in production composition (q96) and
    * oracle-gated standalone (q166). */
  private[catalog] val fixtureQualityBounds =
    TextFunctions.GopherQualityBounds(minWords = 20, minStopHits = 1)

  /** The A1 quality-stats CTE block as oracle SQL — `<p>tok` + `<p>st`
    * over a source relation `src(doc_id, text)`, recomputing
    * [[TextFunctions.gopherQualityStats]] from first principles (same
    * trim/lower/split conventions as `toksSql`, replace-based symbol
    * counting; the prefix keeps names clash-free inside larger CTE
    * chains — the `repetitionCtesSql` convention). Shared by the
    * q165/q166 gates and the q96 flagship oracle so every consumer pins
    * the same definitions. */
  private[catalog] def gopherQualityStatsCtesSql(p: String,
                                                 src: String): String =
    s"""${p}tok AS (
       |  SELECT doc_id, text,
       |    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split_regex(trim(lower(text)), '\\s+') END AS w,
       |    list_filter(string_split(text, chr(10)), l -> l <> '') AS lines
       |  FROM $src),
       |${p}st AS (
       |  SELECT doc_id, len(w) AS n_words,
       |    round(CASE WHEN len(w) = 0 THEN 0.0
       |      ELSE list_sum(list_transform(w, t -> length(t)))::DOUBLE
       |           / len(w) END, 4) AS mean_word_len,
       |    round(CASE WHEN len(w) = 0 THEN 0.0
       |      ELSE (length(text) - length(replace(text, '#', '')))::DOUBLE
       |           / len(w) END, 4) AS hash_word_ratio,
       |    round(CASE WHEN len(w) = 0 THEN 0.0
       |      ELSE ((length(text) - length(replace(text, '...', ''))) / 3
       |            + (length(text) - length(replace(text, '…', ''))))::DOUBLE
       |           / len(w) END, 4) AS ellipsis_word_ratio,
       |    round(CASE WHEN len(lines) = 0 THEN 0.0
       |      ELSE len(list_filter(lines, l -> list_contains(
       |             [${TextFunctions.gopherBulletGlyphs
                    .map(g => s"'$g'").mkString(", ")}],
       |             substr(ltrim(l), 1, 1))))
       |           ::DOUBLE / len(lines) END, 4) AS bullet_line_frac,
       |    round(CASE WHEN len(lines) = 0 THEN 0.0
       |      ELSE len(list_filter(lines, l -> rtrim(l) LIKE '%...'
       |             OR rtrim(l) LIKE '%…'))::DOUBLE / len(lines) END, 4)
       |      AS ellipsis_line_frac,
       |    round(CASE WHEN len(w) = 0 THEN 0.0
       |      ELSE len(list_filter(w, t -> regexp_matches(t, '\\p{L}')))
       |           ::DOUBLE / len(w) END, 4) AS alpha_word_frac,
       |    len(list_filter([${TextFunctions.gopherStopWords
           .map(s0 => s"'$s0'").mkString(",")}],
       |        sw -> list_contains(w, sw))) AS stop_hits
       |  FROM ${p}tok)""".stripMargin

  /** SQL list literal of a stopword list. */
  private[catalog] def swList(lang: String): String =
    TextFunctions.stopwordList(lang).map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB subquery computing per-document quality components (the oracle
    * twin of TextFunctions' ratio columns); `cols` prepends id/group cols. */
  private[catalog] def qualityRawSql(cols: String): String = {
    val en = swList("en")
    s"""SELECT $cols,
       |  CASE WHEN trim(coalesce(text,'')) = '' THEN 0
       |       ELSE len($toksSql) END AS n_tok,
       |  CASE WHEN length(coalesce(text,'')) = 0 THEN 0.0
       |       ELSE (length(coalesce(text,'')) - length(regexp_replace(coalesce(text,''), '[[:punct:]]', '', 'g')))::DOUBLE / length(coalesce(text,'')) END AS punct_ratio,
       |  CASE WHEN length(coalesce(text,'')) = 0 THEN 0.0
       |       ELSE length(regexp_replace(coalesce(text,''), '[^\\p{L}]', '', 'g'))::DOUBLE / length(coalesce(text,'')) END AS alpha_ratio,
       |  CASE WHEN trim(coalesce(text,'')) = '' THEN 0.0
       |       ELSE len(list_filter($toksSql, t -> list_contains($en, t)))::DOUBLE / len($toksSql) END AS stopword_ratio,
       |  CASE WHEN trim(coalesce(text,'')) = '' THEN 0.0
       |       ELSE list_aggregate(list_transform($toksSql, t -> length(t)), 'sum')::DOUBLE / len($toksSql) END AS mean_word_len
       | FROM documents""".stripMargin
  }

  /** The composite quality formula over [[qualityRawSql]]'s columns — the
    * oracle twin of TextFunctions.qualityScore's combination step. */
  private[catalog] val qualityExprSql: String =
    """round((
      |   (CASE WHEN n_tok >= 5 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END) +
      |   (CASE WHEN mean_word_len >= 2.5 AND mean_word_len <= 12.0 THEN 1.0 ELSE 0.0 END) +
      |   (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.0 END) +
      |   (CASE WHEN punct_ratio <= 0.3 THEN 1.0 ELSE 0.0 END) +
      |   (CASE WHEN alpha_ratio >= 0.5 THEN 1.0 ELSE 0.0 END)) / 5.0, 2)""".stripMargin

  /** CTE list (no leading WITH) recomputing the COMPLETE Gopher A1
    * repetition family over `src` — a relation exposing (doc_id, t) —
    * by the OPPOSITE algorithm to TextFunctions.repetitionStats'
    * sorted run-length folds: explode + group-by counts per
    * (doc, line/para/gram). Ties on the top-k-gram count break toward
    * the longer gram on both sides; dup-after-first = sum((c-1)·len)
    * over repeated values; dup-k-grams count EVERY occurrence (c·len).
    * Lines are non-empty `\n` fragments, paragraphs non-blank `\n{2,}`
    * fragments — both matching the operator exactly. `p` prefixes every
    * CTE name so callers (q162, q96, q143, q156) can embed the chain
    * without collisions. Ends with `${p}fr`: (doc_id, <fractions>, keep). */
  private[catalog] def repetitionCtesSql(p: String, src: String): String = {
    val topCtes = TextFunctions.topGramKs.map { k =>
      s"""${p}g$k AS (
         |  SELECT doc_id, array_to_string(w[i:i+${k - 1}], ' ') AS g
         |  FROM ${p}base, UNNEST(range(1, len(w) - ${k - 2})) AS r(i)
         |  WHERE len(w) >= $k),
         |${p}g${k}c AS (SELECT doc_id, g, count(*) AS c, length(g) AS len
         |  FROM ${p}g$k GROUP BY doc_id, g),
         |${p}g${k}m AS (SELECT doc_id, max(c) AS mc FROM ${p}g${k}c
         |  GROUP BY doc_id),
         |${p}g${k}s AS (
         |  SELECT c.doc_id, any_value(m.mc) AS mc, max(c.len) AS ml
         |  FROM ${p}g${k}c c JOIN ${p}g${k}m m
         |    ON c.doc_id = m.doc_id AND c.c = m.mc
         |  GROUP BY c.doc_id)""".stripMargin
    }
    val dupCtes = TextFunctions.dupGramKs.map { k =>
      s"""${p}g$k AS (
         |  SELECT doc_id, array_to_string(w[i:i+${k - 1}], ' ') AS g
         |  FROM ${p}base, UNNEST(range(1, len(w) - ${k - 2})) AS r(i)
         |  WHERE len(w) >= $k),
         |${p}g${k}s AS (
         |  SELECT doc_id, CAST(coalesce(sum(c * len)
         |      FILTER (WHERE c >= 2), 0) AS BIGINT) AS dup
         |  FROM (SELECT doc_id, g, count(*) AS c, length(g) AS len
         |        FROM ${p}g$k GROUP BY doc_id, g)
         |  GROUP BY doc_id)""".stripMargin
    }
    val topSel = TextFunctions.topGramKs.map { k =>
      s"""round(CASE WHEN b.chars > 0 THEN
         |      coalesce(${p}g${k}s.mc * ${p}g${k}s.ml, 0)
         |        / CAST(b.chars AS DOUBLE)
         |      ELSE 0 END, 4) AS top_${k}gram_char_frac""".stripMargin
    }
    val dupSel = TextFunctions.dupGramKs.map { k =>
      s"""round(least(1.0, CASE WHEN b.chars > 0 THEN
         |      coalesce(${p}g${k}s.dup, 0) / CAST(b.chars AS DOUBLE)
         |      ELSE 0 END), 4) AS dup_${k}gram_char_frac""".stripMargin
    }
    val gramJoins =
      (TextFunctions.topGramKs ++ TextFunctions.dupGramKs).map { k =>
        s"  LEFT JOIN ${p}g${k}s ON b.doc_id = ${p}g${k}s.doc_id"
      }.mkString("\n")
    s"""${p}base AS (
       |  SELECT doc_id, t, length(t) AS chars,
       |    list_filter(string_split(t, chr(10)), l -> l <> '') AS lines,
       |    list_filter(string_split_regex(t, '\\n{2,}'),
       |      q -> trim(q) <> '') AS paras,
       |    CASE WHEN trim(t) = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split_regex(trim(lower(t)), '\\s+') END AS w
       |  FROM $src),
       |${p}lx AS (
       |  SELECT doc_id, l, count(*) AS c, length(l) AS len
       |  FROM ${p}base, UNNEST(lines) AS u(l)
       |  GROUP BY doc_id, l, length(l)),
       |${p}lstat AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS nd,
       |    CAST(coalesce(sum(CASE WHEN c >= 2 THEN (c - 1) * len
       |      ELSE 0 END), 0) AS BIGINT) AS dup_after
       |  FROM ${p}lx GROUP BY doc_id),
       |${p}px AS (
       |  SELECT doc_id, q AS l, count(*) AS c, length(q) AS len
       |  FROM ${p}base, UNNEST(paras) AS u(q)
       |  GROUP BY doc_id, q, length(q)),
       |${p}pstat AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS nd,
       |    CAST(coalesce(sum(CASE WHEN c >= 2 THEN (c - 1) * len
       |      ELSE 0 END), 0) AS BIGINT) AS dup_after
       |  FROM ${p}px GROUP BY doc_id),
       |${topCtes.mkString(",\n")},
       |${dupCtes.mkString(",\n")},
       |${p}fr0 AS (
       |  SELECT b.doc_id,
       |    CAST(coalesce(ls.n, 0) AS INT) AS n_lines,
       |    round(CASE WHEN coalesce(ls.n, 0) > 0 THEN
       |      (ls.n - ls.nd) / CAST(ls.n AS DOUBLE) ELSE 0 END, 4)
       |      AS dup_line_frac,
       |    round(CASE WHEN b.chars > 0 THEN
       |      coalesce(ls.dup_after, 0) / CAST(b.chars AS DOUBLE)
       |      ELSE 0 END, 4) AS dup_line_char_frac,
       |    CAST(coalesce(ps.n, 0) AS INT) AS n_paras,
       |    round(CASE WHEN coalesce(ps.n, 0) > 0 THEN
       |      (ps.n - ps.nd) / CAST(ps.n AS DOUBLE) ELSE 0 END, 4)
       |      AS dup_para_frac,
       |    round(CASE WHEN b.chars > 0 THEN
       |      coalesce(ps.dup_after, 0) / CAST(b.chars AS DOUBLE)
       |      ELSE 0 END, 4) AS dup_para_char_frac,
       |    ${(topSel ++ dupSel).mkString(",\n    ")}
       |  FROM ${p}base b
       |  LEFT JOIN ${p}lstat ls ON b.doc_id = ls.doc_id
       |  LEFT JOIN ${p}pstat ps ON b.doc_id = ps.doc_id
       |$gramJoins),
       |${p}fr AS (
       |  SELECT *, $repetitionKeepCondSql AS keep FROM ${p}fr0)""".stripMargin
  }

  /** The A1 keep rule over the fraction aliases `repetitionCtesSql`
    * computes — generated from the SAME threshold table the Spark-side
    * gopherRepetitionKeep reads. */
  private[catalog] def repetitionKeepCondSql: String =
    TextFunctions.gopherRepetitionThresholds
      .map { case (f, t) => s"$f <= $t" }
      .mkString("(", " AND ", ")")

  /** DOUBLE-cast embedding fragment for exact-parity vector oracles. */
  private[catalog] val vecSql =
    "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  private[catalog] def cosSql(a: String, b: String): String =
    s"list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))"
}
