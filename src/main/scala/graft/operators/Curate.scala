package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus curation operators: deterministic sampling, stratified data mixing,
 * and per-group quota selection — the stages that turn a deduplicated corpus
 * into a training mix. The reference has no sampling primitive (any such
 * logic would be user Python inside a step handler, e.g. `random.random() <
 * rate`); these are the reproducible, cluster-safe Spark forms.
 *
 * Scale design notes:
 *  - All *rate* sampling is a pure per-row filter on a content hash — no
 *    shuffle, no RNG state, no driver coordination. The same row set is
 *    selected on every run, on any cluster size, in any partition order
 *    (unlike `df.sample`, whose output depends on partition layout — useless
 *    for an oracle check or a reproducible 100 TB run).
 *  - Per-group quota sampling is one window shuffle on the group key.
 *  - Mixing-rate computation aggregates to one row per stratum first; the
 *    single-partition window that follows touches only |strata| rows.
 */
object Curate {

  /** Deterministic uniform sample key in [0, 2^32) hex: the first 8 hex
    * chars of md5 of the id rendered as a string. Stringly-typed on purpose:
    * a lexicographic compare on lowercase hex is engine-portable (DuckDB,
    * Spark, Presto all agree), where bigint hash functions differ. */
  def sampleKey(id: Column): Column =
    substring(md5(id.cast("string")), 1, 8)

  /** First `digits` md5 hex digits of `key` as a BIGINT — the exact
    * dyadic integer every md5-derived NUMERIC draw builds on (the
    * [[sampleKey]] posture, numeric form): both engines rebuild the
    * identical integer (`conv(hex,16,10)` ↔ `('0x'||hex)::UBIGINT`), so
    * uniforms ((v+0.5)/2^4d) and modular offsets (v % m) are
    * bit-identical anywhere. ONE definition for [[weightedSample]]'s
    * ln-key u and [[graft.operators.Tokenize.spanCorrupt]]'s window
    * offsets — the parity-critical arithmetic must not fork per call
    * site. `digits` ≤ 15 so the value fits a long exactly. */
  private[graft] def md5PrefixLong(key: Column, digits: Int): Column = {
    require(digits >= 1 && digits <= 15, s"digits must be in [1,15]: $digits")
    conv(substring(md5(key), 1, digits), 16, 10).cast("bigint")
  }

  /** Threshold for a sampling rate: 8 hex chars floor(rate * 2^32) for
    * rate < 1, and `"g"` — which sorts lexicographically above every hex
    * key — for rate >= 1. The strict-`<` filter therefore keeps *all* rows
    * at rate 1.0, including the ~1-in-2^32 docs whose md5 prefix is exactly
    * `ffffffff` (real rows at 100 TB: the binding stratum [[mixingRates]]
    * emits always has rate 1.0, and capping at `ffffffff` would silently
    * drop them). */
  private[graft] def thresholdHex(rate: Double): String = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    if (rate >= 1.0) "g"
    else f"${(rate * 4294967296.0).toLong}%08x"
  }

  /**
   * Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
   * IPL 97(5) — the one-pass weighted reservoir): each row draws the key
   * ln(u)/w from a deterministic uniform u and its weight w, and the k
   * LARGEST keys are the sample. For k=1 the inclusion probability is
   * exactly w_i/Σw; for general k it is the sequential
   * draw-without-replacement law — the distribution a quality- or
   * token-weighted corpus subsample wants, where [[deterministicSample]]
   * is the unweighted tier.
   *
   * Determinism without RNG state: u = (first 12 md5 hex digits of
   * id||salt + 0.5) / 2^48 — exact dyadic arithmetic, so u is
   * bit-identical on any engine ([[sampleKey]]'s posture, numeric
   * because the key needs ln); vary `salt` to redraw. The key is ROUNDED
   * at 1e-9 with an id tie-break, pinning the cross-engine order where
   * ln's last ulp could differ. Rows with NULL or non-positive weight
   * have no defined draw and are dropped (the E-S domain is w > 0) —
   * coalesce a nullable weight before sampling on it.
   *
   * Scale shape: one scan computing the key, then a top-k — Spark plans
   * TakeOrderedAndProject, shipping k rows per partition to one reducer,
   * never a global sort. The rank window after the cut touches k rows.
   * Returns the selected rows with `es_key` and `sample_rank` (1 = the
   * largest key) appended.
   */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = col(weightCol).cast("double")
    val u = (md5PrefixLong(concat(col(idCol).cast("string"), lit(salt)), 12)
      .cast("double") + 0.5) / lit(281474976710656.0) // 2^48
    df.filter(w.isNotNull && w > 0.0)
      .withColumn("es_key", round(log(u) / w, 9))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)
      .withColumn("sample_rank", row_number().over(
        Window.orderBy(col("es_key").desc, col(idCol))).cast("long"))
  }

  /** Keep each row iff its id hashes below `rate` — a deterministic,
    * partition-order-independent Bernoulli(rate) sample. Pure filter:
    * no shuffle, reproducible across runs and cluster sizes.
    *
    * NULL-id contract (here and in [[stratifiedSample]]): a NULL id has no
    * hash key, so null-id rows are DROPPED at rate < 1 (the rate-1.0 fast
    * path passes the frame through untouched). Sampling keys are expected
    * non-null — coalesce a nullable id before sampling on it. */
  def deterministicSample(df: DataFrame, idCol: String, rate: Double): DataFrame =
    if (rate >= 1.0) df
    else df.filter(sampleKey(col(idCol)) < lit(thresholdHex(rate)))

  /**
   * Deterministic train/validation/test split assignment: each row gets
   * the split whose cumulative [0, 1) md5 interval contains its
   * [[sampleKey]] — the reproducible, partition-order-free sharding
   * every training run needs (same row → same split on any cluster, any
   * run, any input order). Because splits are nested prefixes of one
   * hash line, growing a split re-buckets ONLY rows near the moved
   * boundary, and the first split is bit-identical to
   * [[deterministicSample]] at the same rate (CurateSpec-gated).
   * Weights must sum to 1 (±1e-9). Pure per-row expression — one scan,
   * zero shuffles at any corpus size; NULL ids follow the
   * [[deterministicSample]] contract (no hash key → last split's ELSE
   * branch would catch them, so we null the label instead: callers
   * coalesce a nullable id before splitting on it).
   */
  def assignSplits(df: DataFrame, idCol: String,
                   splits: Seq[(String, Double)]): DataFrame =
    df.withColumn("split",
      when(col(idCol).isNull, lit(null).cast("string"))
        .otherwise(splitLabel(sampleKey(col(idCol)), splits)))

  /** The shared interval CASE over a [0, 2^32) hex key — [[assignSplits]]
    * and [[leakageSafeSplits]] differ only in what they hash, so their
    * boundary semantics cannot drift. */
  private def splitLabel(key: Column,
                         splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty, "assignSplits needs at least one split")
    require(splits.map(_._1).distinct.size == splits.size,
      s"split names must be distinct, got ${splits.map(_._1)}")
    require(splits.forall(_._2 >= 0), s"split weights must be >= 0")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    splits.init.zip(cum.init)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), c), els) =>
          when(key < lit(thresholdHex(c)), lit(name)).otherwise(els)
      }
  }

  /**
   * Leakage-safe split assignment: the split key is the CONTENT
   * fingerprint, not the row id — every exact duplicate of a document
   * lands in the SAME split, so an undeduplicated (or re-crawled) corpus
   * cannot leak training text into validation/test through its copies,
   * the standard contamination path an id-keyed split leaves open.
   * Same interval semantics as [[assignSplits]] (shared [[splitLabel]]),
   * same zero-shuffle pure-expression shape — the md5 is computed over
   * normalized text instead of the id. NULL/blank text is valid content
   * (all blanks are mutual duplicates and share one split). For NEAR-dup
   * safety, key on a cluster representative instead: join
   * [[Dedup.resolveClusters]]'s (id → rep) map and call [[assignSplits]]
   * on the rep column.
   */
  def leakageSafeSplits(df: DataFrame, textCol: String,
                        splits: Seq[(String, Double)]): DataFrame =
    df.withColumn("split", splitLabel(
      substring(graft.functions.TextFunctions.fingerprint(col(textCol)), 1, 8),
      splits))

  /**
   * [[leakageSafeSplits]] hardened against PARTIAL overlap — the leakage
   * class content-keyed splits cannot close: exact duplicates co-split by
   * construction, but a train document QUOTING a held-out document (a
   * shared passage ≥ `minTokens` tokens at any offset) still leaks
   * evaluation text into training. This runs the content-keyed
   * assignment, then checks every train-split document against the
   * held-out splits with [[Dedup.substringContamination]]'s stride
   * windows and relabels contaminated train docs `quarantined` — rows
   * are never dropped, so corpus accounting holds and the quarantine is
   * auditable. The FIRST entry of `splits` is the training split; all
   * others are held out.
   *
   * Scale shape: the assignment is pure expressions (zero shuffles); the
   * contamination check is one equi semi-join on 128-bit window hash
   * lanes (document text never shuffles — q122's shape) plus an id-keyed
   * relabel join. Output: (input columns, split).
   */
  def decontaminateSplits(df: DataFrame, textCol: String, idCol: String,
                          splits: Seq[(String, Double)],
                          minTokens: Int): DataFrame = {
    require(splits.size >= 2,
      "decontaminateSplits needs a train split and at least one held-out split")
    val trainName = splits.head._1
    val assigned = OpCache.track(
      leakageSafeSplits(df, textCol, splits).persist())
    val contamIds = graft.operators.Dedup.substringContamination(
        assigned.filter(col("split") === trainName),
        assigned.filter(col("split") =!= trainName),
        textCol, idCol, minTokens)
      .select(col(idCol), lit(1).as("__graft_contam"))
    assigned.join(contamIds, Seq(idCol), "left")
      .withColumn("split",
        when(col("__graft_contam").isNotNull && col("split") === trainName,
          lit("quarantined")).otherwise(col("split")))
      .drop("__graft_contam")
  }

  /**
   * NEAR-dup-safe split assignment — the operator
   * [[leakageSafeSplits]]'s scaladoc points at: every document's split
   * is keyed on its near-dup CLUSTER REPRESENTATIVE's normalized
   * content, so a whole near-duplicate cluster lands in ONE split.
   * Content keying alone co-splits exact copies but not near-copies (a
   * re-crawl with a changed timestamp still leaks), and
   * [[decontaminateSplits]] can only QUARANTINE the overlap after the
   * fact — this closes the path proactively, keeping the documents
   * trainable. `pairs` is the tier-agnostic (id_a, id_b) near-dup frame
   * (exact [[graft.operators.Dedup.jaccardSelfJoin]] for the
   * oracle-gated q154; [[graft.operators.Dedup.minhashLshPairsFromStore]]
   * served off the ingest store in production). Un-paired docs are
   * their own representative, so this degrades to [[leakageSafeSplits]]
   * exactly on a near-dup-free corpus (CurateSpec-gated).
   *
   * Scale shape: the cluster resolve is [[graft.operators.Dedup.resolveClusters]]'
   * star-contraction over bare id pairs, and every frame that joins the
   * corpus is CLUSTER-BOUNDED, not corpus-sized: the per-id split key is
   * assembled on a |clustered-docs| label frame (a semi-join pulls the
   * representatives' fingerprints, keys are 8-hex strings), and
   * un-clustered documents — the overwhelming majority — take their own
   * fingerprint AT THE SCAN with no join at all. The label frame is
   * always BROADCAST (it is resolveClusters-materialized, so its stats
   * are opaque to the planner and AQE can only convert the join AFTER
   * both exchanges ran — an explicit hint is what actually keeps corpus
   * text out of the wire; PlanSpec-gated). The first shape (a
   * corpus-sized fingerprint frame joined on the cluster id) forced a
   * full-corpus text shuffle that NO setting could remove — measured
   * 370 MiB at 500k docs, SURVEY §6.
   */
  def clusterSafeSplits(df: DataFrame, textCol: String, idCol: String,
                        pairs: DataFrame,
                        splits: Seq[(String, Double)]): DataFrame = {
    val ownKey = substring(
      graft.functions.TextFunctions.fingerprint(col(textCol)), 1, 8)
    val reps = graft.operators.Dedup.resolveClusters(pairs)
      .select(col("id").as(idCol), col("cluster_id"))
    // fingerprints of the REPRESENTATIVES only (|clusters| rows); the
    // rep-id frame shares labels' opaque-stats problem — hint it too
    val repIds = reps.select(col("cluster_id").as(idCol)).distinct()
    val repKey = df
      .join(broadcast(repIds), Seq(idCol), "left_semi")
      .select(col(idCol).as("__graft_rep_id"),
        ownKey.as("__graft_rep_key"))
    // (id, key) for CLUSTERED docs only (|clustered-docs| rows).
    // A representative ABSENT from df (pairs served off an LSH store
    // that still holds retracted docs) has no fingerprint row;
    // splitLabel's CASE would silently fall through to the LAST split.
    // Fall back to a deterministic hash of the cluster id — the whole
    // cluster still lands in ONE split (the operator's invariant),
    // merely keyed by id instead of content for that cluster.
    val labels = reps
      .join(repKey, col("cluster_id") === col("__graft_rep_id"), "left")
      .select(col(idCol), coalesce(col("__graft_rep_key"),
        sampleKey(col("cluster_id"))).as("__graft_key"))
    df.join(broadcast(labels), Seq(idCol), "left")
      .withColumn("split",
        splitLabel(coalesce(col("__graft_key"), ownKey), splits))
      .drop("__graft_key")
  }

  /**
   * Data-constrained repeat planner (Muennighoff et al. 2023, "Scaling
   * Data-Constrained Language Models" — public): when the training-token
   * budget EXCEEDS the corpus, the mixing question flips from "how much
   * do I sample down" ([[mixingRates]]) to "how many epochs of each
   * source do I run". Given per-stratum available tokens, target mixture
   * `weights`, and a total `budgetTokens`, emits one row per stratum:
   * target tokens, fractional epochs, the integer/partial repeat
   * decomposition the materializer consumes, and a `capped` flag when
   * epochs exceed `maxEpochs` (the paper's diminishing-returns regime —
   * past ~4 epochs repeated data is worth less than fresh, past ~16
   * close to nothing; the planner FLAGS rather than silently reallocates,
   * because reallocation is a policy decision).
   *
   * Pure arithmetic over a |strata|-row aggregate — exactly recomputable
   * (q153 full oracle). Strata missing from `weights` plan zero tokens.
   *
   * Edge contract (q153-gated): the weights FULL-OUTER-join the corpus's
   * strata, so a weighted stratum that is ABSENT from the corpus (or
   * whose tokens sum to zero) surfaces as a row with
   * `unsatisfiable = true` and null epochs — its budget share must be
   * re-allocated by the caller, never silently vanish. Such rows are a
   * no-op for [[materializeRepeats]] (nothing to repeat).
   */
  def repeatPlan(df: DataFrame, stratumCol: String, tokenCol: String,
                 budgetTokens: Long, weights: Map[String, Double],
                 maxEpochs: Double = 16.0): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    val spark = df.sparkSession
    import spark.implicits._
    val avail = df.groupBy(col(stratumCol).cast("string").as("stratum"))
      .agg(sum(col(tokenCol)).cast("long").as("available_tokens"))
    val w = weights.toSeq.sortBy(_._1).toDF("stratum", "weight")
    // null iff the share is unsatisfiable (target > 0 over 0 tokens);
    // 0.0 when the stratum wants nothing (weight-0 corpus stratum)
    val ratio = when(col("available_tokens") > 0L,
        col("target_tokens").cast("double") / col("available_tokens"))
      .otherwise(when(col("target_tokens") > 0L, lit(null))
        .otherwise(lit(0.0)))
    avail.join(w, Seq("stratum"), "full_outer")
      .withColumn("weight", coalesce(col("weight"), lit(0.0)))
      .withColumn("available_tokens",
        coalesce(col("available_tokens"), lit(0L)))
      .withColumn("target_tokens",
        floor(lit(budgetTokens.toDouble) * col("weight")).cast("long"))
      .withColumn("epochs", round(ratio, 4))
      .withColumn("full_repeats", floor(ratio).cast("long"))
      .withColumn("partial_fraction",
        round(ratio - floor(ratio), 4))
      .withColumn("capped", ratio > maxEpochs)
      .withColumn("unsatisfiable",
        col("target_tokens") > 0L && col("available_tokens") === 0L)
  }

  /**
   * Materialize a [[repeatPlan]]: every document appears `full_repeats`
   * times plus once more iff it falls in its stratum's deterministic
   * `partial_fraction` sample ([[sampleKey]] threshold — same doc set on
   * any cluster, any run; the partial epoch is a genuine uniform subset,
   * not a truncation). Output: input columns + `repeat_idx` (1-based).
   * The plan is |strata|-sized and broadcasts; the explode is the
   * unavoidable output-sized fan-out (you asked for budget > corpus),
   * and the token accounting of the result is CurateSpec-gated:
   * per-stratum materialized tokens land within one document of
   * `full_repeats`-exact plus a fraction-proportional partial.
   */
  def materializeRepeats(df: DataFrame, plan: DataFrame,
                         stratumCol: String, idCol: String): DataFrame = {
    val p = broadcast(plan.select(
      col("stratum"), col("full_repeats"), col("partial_fraction")))
    // per-row COLUMN form of [[thresholdHex]] (partial_fraction is a
    // column here, so the driver-side literal doesn't apply): same
    // floor(frac·2^32)-as-8-hex-chars semantics, same lexicographic
    // compare — engine-portable, so q155's oracle mirrors it exactly.
    // frac >= 1.0 (reachable via repeatPlan's 4-decimal rounding when
    // the true fraction is >= 0.99995) maps to "g" per thresholdHex's
    // rate>=1 convention — hex(2^32) is 9 chars and lpad would TRUNCATE
    // it to '10000000', sampling ~6% instead of all.
    val fracHex = lpad(lower(hex(floor(col("partial_fraction") *
      4294967296.0).cast("long"))), 8, "0")
    val inPartial = sampleKey(col(idCol)) <
      when(col("partial_fraction") >= 1.0, lit("g")).otherwise(fracHex)
    df.join(p, df(stratumCol).cast("string") === p("stratum"))
      .withColumn("__graft_reps",
        col("full_repeats") + when(inPartial, 1L).otherwise(0L))
      .filter(col("__graft_reps") > 0)
      .withColumn("repeat_idx",
        explode(sequence(lit(1L), col("__graft_reps"))))
      .drop("stratum", "full_repeats", "partial_fraction", "__graft_reps")
  }

  /** CASE WHEN key = k THEN v ... ELSE default END, branches in sorted key
    * order (deterministic expression tree regardless of Map iteration). */
  private def caseOver(key: Column, mapping: Map[String, Column],
                       default: Column): Column =
    mapping.toSeq.sortBy(_._1).foldRight(default) { (kv, acc) =>
      when(key === lit(kv._1), kv._2).otherwise(acc)
    }

  /**
   * Stratified deterministic sample: each stratum keeps its own rate
   * (`rates`), everything else keeps `defaultRate`. One CASE expression on
   * top of [[deterministicSample]]'s hash filter — still a pure filter, so
   * mixing a 100 TB corpus by language/source costs one scan and no shuffle.
   */
  def stratifiedSample(df: DataFrame, stratumCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0,
                       idCol: String = "doc_id"): DataFrame = {
    val threshold = caseOver(col(stratumCol),
      rates.map { case (k, r) => k -> lit(thresholdHex(r)) },
      lit(thresholdHex(defaultRate)))
    df.filter(sampleKey(col(idCol)) < threshold)
  }

  /**
   * Exactly-k-per-group deterministic sample: ranks each group's rows by the
   * uniform [[sampleKey]] (id tiebreak) and keeps the first `k` — the
   * distributed, reproducible form of per-stratum reservoir sampling. One
   * window shuffle on the group key; adds `sample_rank` (1-based).
   */
  def samplePerGroup(df: DataFrame, groupCol: String, idCol: String,
                     k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(sampleKey(col(idCol)), col(idCol))
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /**
   * Keep the top `frac` fraction of each group by `orderCol` (descending,
   * `idCol` tiebreak) — the per-language quality-percentile filter a curation
   * pipeline runs after scoring. Quota is `ceil(frac * group_size)`, so every
   * non-empty group keeps at least one row and ties never admit extras
   * (row_number, not rank). One window shuffle; both window functions share
   * the partition key, so Catalyst plans a single exchange + sort.
   */
  def topFractionPerGroup(df: DataFrame, groupCol: String, orderCol: String,
                          frac: Double, idCol: String): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0,1], got $frac")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol).desc, col(idCol))
    val cnt = Window.partitionBy(col(groupCol))
    df.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cnt))
      // float slack errs smaller so an exact-integer product never rounds up
      .filter(col("__rk") <= ceil(col("__n") * frac - 1e-9))
      .drop("__rk", "__n")
  }

  /**
   * Materialize an exact data mix: [[mixingRates]] plans per-stratum keep
   * counts (`sample_n`), and this ranks each stratum's rows by the uniform
   * [[sampleKey]] and keeps exactly its quota — so realized per-stratum
   * counts equal the plan to the row, where the rate-threshold filter of
   * [[stratifiedSample]] realizes Binomial(n, rate) scatter around it.
   * Costs one extra scan (the count pass) plus one window shuffle on the
   * stratum key; the |strata|-row quota frame broadcasts onto the ranked
   * rows, so nothing re-shuffles for the join. Adds `sample_rank`,
   * REPLACING any input column of that name (the documented output column,
   * same convention as [[samplePerGroup]]); all other input columns —
   * including ones named `stratum`/`sample_n` — pass through untouched.
   */
  def materializeMix(df: DataFrame, stratumCol: String,
                     targets: Map[String, Double],
                     idCol: String = "doc_id"): DataFrame = {
    // internal names are __mix_-prefixed so an input that already has a
    // "stratum"/"sample_n" column neither collides nor gets dropped
    val quotas = mixingRates(df, stratumCol, targets)
      .select(col("stratum").as("__mix_stratum"), col("sample_n").as("__mix_n"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(sampleKey(col(idCol)), col(idCol))
    df.withColumn("sample_rank", row_number().over(w))
      .join(broadcast(quotas), col(stratumCol) === col("__mix_stratum"))
      .filter(col("sample_rank") <= col("__mix_n"))
      .drop("__mix_stratum", "__mix_n")
  }

  /**
   * Sequence packing by CONCATENATION OFFSET: lay each shard's documents
   * out contiguously in id order and cut a bin boundary every `budget`
   * tokens — a document belongs to the bin its first token lands in (the
   * concatenate-then-cut layout packed pre-training datasets use; a doc
   * crossing a boundary spills into the next bin's budget rather than
   * splitting). Shards are `id mod shards` buckets, so each shard's
   * running sum is an independent window partition: the sort parallelizes
   * across shards and NO global single-partition window exists at any
   * corpus size. Adds `shard`, `bin`, `bin_offset` (the doc's start
   * offset inside its bin).
   *
   * Composed-pipeline form (q156): `epochCol` adds the epoch to the
   * window PARTITION (each epoch of a [[materializeRepeats]] output
   * packs independently — the same doc lands in different bins across
   * epochs), and `orderCol` lays documents out in that order (e.g.
   * [[epochOrderKey]]'s per-epoch shuffle) instead of raw id order, id
   * tiebreak. Defaults preserve the original shape exactly (q97).
   */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    budget: Long, shards: Int,
                    epochCol: Option[String] = None,
                    orderCol: Option[String] = None): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(shards > 0, s"shards must be positive, got $shards")
    val parts = epochCol.map(col).toSeq :+ col("shard")
    val order = orderCol.map(c => Seq(col(c), col(idCol)))
      .getOrElse(Seq(col(idCol)))
    val w = Window.partitionBy(parts: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // start offset = running sum EXCLUDING the current doc; double division
    // is exact here (token sums ≪ 2^53) and floor/mod agree across engines
    val start = sum(col(tokenCol)).over(w) - col(tokenCol)
    df.withColumn("shard", pmod(col(idCol), lit(shards)).cast("long"))
      .withColumn("bin", floor(start / budget).cast("long"))
      .withColumn("bin_offset", (start % budget).cast("long"))
  }

  /**
   * Exact top-quality selection under a global token budget — keep the
   * highest-`qualityCol` documents whose cumulative `tokenCol` fits
   * `budget`, ties broken by id — WITHOUT a global single-partition sort.
   * Semantically identical to `ORDER BY (quality DESC, id)` running-sum
   * `<= budget`, but the plan decomposes by quality LEVEL (a scored corpus
   * has few distinct levels):
   *
   *  1. one aggregation computes per-level token totals;
   *  2. a window over that |levels|-row frame finds each level's starting
   *     offset in the global order (trivially small);
   *  3. levels that fit wholly keep every document with NO per-doc
   *     ordering work at all — the 100 TB fast path;
   *  4. only the single boundary level runs a per-doc running sum, and
   *     that window is partitioned (one level), never global.
   */
  def selectByTokenBudget(df: DataFrame, qualityCol: String,
                          tokenCol: String, idCol: String,
                          budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val perLevel = df.groupBy(col(qualityCol).as("__tb_q"))
      .agg(sum(col(tokenCol)).as("__tb_sum"))
    // nulls sort LAST (lowest quality), explicitly — and the level join
    // below is null-safe, so null-quality docs rank at the end instead of
    // silently vanishing through a null === null mismatch
    val wLvl = Window.orderBy(col("__tb_q").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val levels = perLevel
      .withColumn("__tb_cum", sum(col("__tb_sum")).over(wLvl))
      .withColumn("__tb_start", col("__tb_cum") - col("__tb_sum"))
      // a level starting at/after the budget contributes nothing
      .filter(col("__tb_start") < budget)
      .select(col("__tb_q"), col("__tb_start"), col("__tb_cum"))
    val joined = df.join(broadcast(levels), col(qualityCol) <=> col("__tb_q"))
    // fast path: wholly-fitting levels never touch a per-doc window
    val whole = joined.filter(col("__tb_cum") <= budget)
      .drop("__tb_q", "__tb_start", "__tb_cum")
    val wDoc = Window.partitionBy(col(qualityCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined.filter(col("__tb_cum") > budget)
      .withColumn("__tb_doc_cum", sum(col(tokenCol)).over(wDoc))
      .filter(col("__tb_start") + col("__tb_doc_cum") <= budget)
      .drop("__tb_q", "__tb_start", "__tb_cum", "__tb_doc_cum")
    whole.unionByName(boundary)
  }

  /**
   * Data-mixing rate computation: given target mix weights per stratum
   * (summing to ~1), find the largest total corpus `T` achievable without
   * over-sampling any stratum — `T = min over strata of (count_s / w_s)` —
   * and the per-stratum keep rate `w_s * T / count_s` (the binding stratum
   * gets rate 1.0). Strata absent from `targets` get weight and rate 0.
   *
   * Output: (stratum, n_docs, weight, rate, sample_n), one row per stratum
   * present in `df`. Feed the rates into [[stratifiedSample]] to materialize
   * the mix. The global min runs on the aggregated per-stratum frame
   * (|strata| rows), so the empty-frame window is not a scale concern.
   */
  /**
   * Temperature-based mixing rates (the standard multilingual/multi-domain
   * rebalancing rule — Arivazhagan et al. 2019 §4.2, also GPT-3's dataset
   * weighting): target share of stratum i ∝ p_i^(1/T) where p_i is its
   * observed corpus share. T = 1 keeps the natural distribution, T → ∞
   * approaches uniform; 1 < T < ∞ upweights rare strata without flattening
   * completely. The weights then bind exactly like [[mixingRates]]: the
   * stratum with the least headroom (min n_i/w_i) is sampled at rate 1.0
   * and every other stratum downsamples to honor the target proportions.
   *
   * Output: (stratum, n_docs, weight, rate, sample_n); feed `rate` to
   * [[stratifiedSample]] or [[materializeMix]].
   *
   * Scale shape: one count aggregate to |strata| rows; the windows that
   * normalize weights and find the binding stratum touch only those rows
   * (single-partition by design — |strata| is policy-sized, not
   * data-sized).
   */
  def temperatureRates(df: DataFrame, stratumCol: String,
                       temperature: Double): DataFrame = {
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val counts = df.groupBy(col(stratumCol).cast("string").as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
    val all = Window.partitionBy()
    // deterministic accumulation order for the two cross-stratum sums:
    // a windowed sum over an UNORDERED tiny frame could sum in any
    // partition-arrival order and diverge from the oracle's in the last
    // ULP — ordering by stratum pins both engines to the same fold
    val ordered = all.orderBy(col("stratum"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val share = col("n_docs").cast("double") / sum(col("n_docs")).over(ordered)
    val weighted = counts
      .withColumn("raw", pow(share, lit(1.0 / temperature)))
      .withColumn("weight", col("raw") / sum(col("raw")).over(ordered))
    val capacity = col("n_docs") / col("weight") // weight > 0: n_docs >= 1
    weighted
      .withColumn("rate", round(
        least(lit(1.0), col("weight") * min(capacity).over(ordered) /
          col("n_docs")), 6))
      .withColumn("sample_n", floor(col("rate") * col("n_docs")).cast("long"))
      .select(col("stratum"), col("n_docs"), round(col("weight"), 6).as("weight"),
        col("rate"), col("sample_n"))
  }

  /**
   * Deterministic negative sampling for contrastive training pairs: every
   * anchor draws `k` pseudo-random negatives from the corpus with no RNG
   * state and no driver coordination — the same negatives on every run,
   * any cluster size (the reproducibility contract all Curate sampling
   * keeps). Candidates hash into 16^`hexChars` md5-prefix buckets; draw r
   * of anchor a probes bucket md5(a#r) and takes the candidate minimizing
   * md5(a#r#cand) inside it — per-draw hash ranking, so different anchors
   * sharing a bucket still draw different negatives.
   *
   * Output: (anchor_id, neg_rank, neg_id), neg_rank in 1..k. A draw whose
   * bucket contains no candidate other than the anchor yields no row
   * (possible only in toy corpora; at any real size every bucket is
   * populated).
   *
   * Scale shape: anchors×k explode, then an equi-join on the bucket key —
   * each draw touches corpus/16^hexChars candidates, so `hexChars` is the
   * work knob (2 hex chars = 1/256 of the corpus per draw); the per-draw
   * argmin is a `min_by` aggregate, so candidates collapse MAP-SIDE
   * (partial aggregation) before the (anchor, draw) exchange — only one
   * row per (anchor, draw, input partition) shuffles, not the whole
   * bucket slice (PlanSpec-gated). No window, no cross join, no global
   * sort, no dense-index build.
   */
  def sampleNegatives(df: DataFrame, idCol: String, anchors: DataFrame,
                      k: Int, hexChars: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(hexChars >= 1 && hexChars <= 8, s"hexChars in [1,8], got $hexChars")
    val cands = df.select(col(idCol).as("cand_id"),
      substring(md5(col(idCol).cast("string")), 1, hexChars).as("bucket"))
    val draws = anchors.select(col(idCol).as("anchor_id"))
      .select(col("anchor_id"),
        explode(sequence(lit(1), lit(k))).as("neg_rank"))
      .withColumn("bucket", substring(md5(concat(
        col("anchor_id").cast("string"), lit("#"),
        col("neg_rank").cast("string"))), 1, hexChars))
    draws.join(cands, Seq("bucket"))
      .filter(col("cand_id") =!= col("anchor_id"))
      .withColumn("h", md5(concat(
        col("anchor_id").cast("string"), lit("#"),
        col("neg_rank").cast("string"), lit("#"),
        col("cand_id").cast("string"))))
      // min_by over the (h, cand_id) struct ≡ rank-1 of ORDER BY h, cand_id,
      // but combines map-side where a row_number window would first shuffle
      // every bucket candidate to one task per (anchor, draw)
      .groupBy(col("anchor_id"), col("neg_rank"))
      .agg(min_by(col("cand_id"),
        struct(col("h"), col("cand_id"))).as("neg_id"))
  }

  /**
   * Hard-negative mining for contrastive training — the quality upgrade
   * over [[sampleNegatives]]'s uniform pseudo-random draws: per anchor,
   * the `k` MOST-similar candidates that are still below the duplicate
   * threshold `tau` — similar enough to be informative gradients,
   * distinct enough to be true negatives (the standard dense-retrieval
   * mining recipe; anything at/above tau is presumed a near-duplicate
   * positive and excluded).
   *
   * Takes an already-scored (anchorCol, candCol, cosCol) frame so the
   * retrieval stage is pluggable: exact brute-force cosine at audit
   * scale (the q134 oracle form), or at 100 TB any ANN tier —
   * [[Similarity.ivfTopK]] / [[Quantize.ivfPqRerank]] with a shortlist
   * comfortably above k, since the tau filter eats the top of each
   * list. The window partitions by anchor over candidate-sized input
   * (anchor sets are policy-sized; candidates per anchor are bounded by
   * the retriever), never over the corpus.
   */
  def hardNegatives(scored: DataFrame, anchorCol: String, candCol: String,
                    cosCol: String, k: Int, tau: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    scored.filter(col(cosCol) < tau)
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col(anchorCol))
          .orderBy(col(cosCol).desc, col(candCol))))
      .filter(col("neg_rank") <= k)
  }

  def mixingRates(df: DataFrame, stratumCol: String,
                  targets: Map[String, Double]): DataFrame = {
    import df.sparkSession.implicits._
    // requested strata union observed ones: a target stratum ABSENT from
    // the corpus must surface as an (n_docs = 0, rate = 0) row that
    // collapses T to 0 — the formula's honest answer (no corpus satisfies
    // a mix demanding a stratum with zero rows) — instead of silently
    // dropping the stratum and skewing the realized mix toward whatever
    // is present. Shaped as broadcast anti-join + union (a full-outer
    // join cannot broadcast and would drag a sort-merge join into every
    // materializeMix plan).
    val observed = df.groupBy(col(stratumCol).cast("string").as("stratum"))
      .agg(count(lit(1)).as("n_docs"))
    val missing = targets.keys.toSeq.sorted.toDF("stratum")
      .join(broadcast(observed.select(col("stratum"))), Seq("stratum"),
        "left_anti")
      .withColumn("n_docs", lit(0L))
    val counts = observed.unionByName(missing)
      .withColumn("weight", caseOver(col("stratum"),
        targets.map { case (k, w) => k -> lit(w) }, lit(0.0)))
    val capacity = when(col("weight") > 0, col("n_docs") / col("weight"))
    val total = min(capacity).over(Window.partitionBy())
    counts
      .withColumn("rate", round(
        // n_docs > 0 guard: a requested-but-absent stratum would divide
        // by zero under ANSI; its rate is 0 by definition (and T is 0)
        when(col("weight") > 0 && col("n_docs") > 0,
          least(lit(1.0), col("weight") * total / col("n_docs")))
          .otherwise(lit(0.0)), 6))
      .withColumn("sample_n", floor(col("rate") * col("n_docs")).cast("long"))
      .select(col("stratum"), col("n_docs"), col("weight"), col("rate"),
        col("sample_n"))
  }

  /**
   * UniMax budget allocation (Chung et al. 2023, ICLR, arXiv:2304.09151
   * — "UniMax: Fairer and More Effective Language Sampling for Large-Scale
   * Multilingual Pretraining"): split a total token budget across the
   * corpus's strata as UNIFORMLY as possible subject to a per-stratum
   * repeat cap — no stratum trains more than `maxEpochs` epochs. The third
   * member of the mixing family: [[temperatureRates]] tilts by corpus
   * share, [[repeatPlan]] takes the mix as GIVEN weights, UniMax derives
   * the mix itself from the cap.
   *
   * The paper's algorithm is sequential waterfilling (ascending-capacity
   * order; each stratum takes `min(cap, remaining/strata_left)`). The
   * capped set is a PREFIX of the capacity-sorted order — if stratum i is
   * uncapped (`cap_i·m_i ≥ R_i` with `m_i` strata left and `R_i` budget
   * left), then for i+1: `cap_{i+1}·m_{i+1} ≥ cap_i·(m_i−1) =
   * cap_i·m_i − cap_i ≥ R_i − cap_i ≥ R_{i+1}`, so it is uncapped too —
   * which gives the whole allocation a closed form over two window passes
   * on the |strata|-row aggregate; no driver loop, no recursion:
   * with strata sorted by (cap, stratum) and exact BIGINT prefix sums,
   * `capped_i ⇔ cap_i·(N−i+1) < B − Σ_{j<i} cap_j`, and every uncapped
   * stratum shares `(B − Σ_capped cap) / (N − #capped)` uniformly. The
   * capped-set decision is INTEGER arithmetic end to end — bit-identical
   * in any engine (the q170 oracle recomputes it in DuckDB); only the
   * final two divisions are doubles, rounded at 4.
   *
   * Output, one row per stratum: (stratum, available_tokens, cap_tokens,
   * alloc_tokens, epochs, capped, leftover_tokens). `leftover_tokens` is
   * nonzero only when the whole corpus at `maxEpochs` cannot absorb the
   * budget (every stratum capped) — the unallocatable remainder the
   * caller must shrink B or raise the cap to spend; it never silently
   * vanishes (the [[repeatPlan]] `unsatisfiable` discipline).
   *
   * Scale shape: one partial-aggregated groupBy to |strata| rows, then
   * single-partition windows over that catalog-sized frame — the
   * [[temperatureRates]] contract. Epoch-capped sampling at 100 TB costs
   * one scan for the token counts and arithmetic on a handful of rows.
   */
  def unimaxRates(df: DataFrame, stratumCol: String, tokenCol: String,
                  budgetTokens: Long, maxEpochs: Double): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    require(maxEpochs > 0, s"maxEpochs must be positive: $maxEpochs")
    val avail = df.groupBy(col(stratumCol).cast("string").as("stratum"))
      .agg(sum(col(tokenCol)).cast("long").as("available_tokens"))
      // floor to BIGINT so the waterfilling prefix sums stay integer-exact
      .withColumn("cap_tokens",
        floor(col("available_tokens") * lit(maxEpochs)).cast("long"))
    // ascending capacity, stratum tie-break: the order the prefix argument
    // above is proved in — and deterministic in both engines
    val byCap = Window.orderBy(col("cap_tokens"), col("stratum"))
    val all = byCap.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val staged = avail
      .withColumn("__idx", row_number().over(byCap))
      .withColumn("__prefix", coalesce(sum(col("cap_tokens")).over(
        byCap.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("capped",
        col("cap_tokens") * (col("__n") - col("__idx") + 1) <
          lit(budgetTokens) - col("__prefix"))
    val k = sum(col("capped").cast("long")).over(all)
    val sumCapped = coalesce(sum(when(col("capped"), col("cap_tokens")))
      .over(all), lit(0L))
    val alloc = when(col("capped"), col("cap_tokens").cast("double"))
      .otherwise((lit(budgetTokens) - sumCapped).cast("double") /
        (col("__n") - k)) // reachable only when __n > k: no div-by-zero
    staged
      .withColumn("alloc_tokens", round(alloc, 4))
      .withColumn("epochs", round(
        when(col("available_tokens") > 0L, alloc / col("available_tokens"))
          .otherwise(lit(0.0)), 4))
      .withColumn("leftover_tokens",
        when(k === col("__n"), lit(budgetTokens) - sumCapped)
          .otherwise(lit(0L)))
      .select(col("stratum"), col("available_tokens"), col("cap_tokens"),
        col("alloc_tokens"), col("epochs"), col("capped"),
        col("leftover_tokens"))
  }

  /**
   * Prototype pruning (SSL-prototypes, Sorscher et al. 2022 "Beyond neural
   * scaling laws", arXiv:2206.14486; the second stage of D4, Tirumala
   * et al. 2023, arXiv:2308.12284): within each embedding cluster, drop
   * the `dropFrac` most PROTOTYPICAL examples — the ones closest (by
   * cosine) to their cluster centroid. When data is abundant, the easy,
   * redundant core of each cluster teaches a model least; keeping the
   * harder periphery buys diversity per token. Complements SemDeDup
   * ([[Dedup.semDedup]] drops pairwise near-duplicates; this drops
   * cluster-level redundancy even among non-duplicates — run both for D4).
   *
   * Centroid = dimension-wise mean of the cluster's vectors, ROUNDED at
   * 1e-6 before the cosine: the rounding pins both engines to identical
   * centroid inputs (a windowed float sum is order-sensitive in the last
   * ULP; q75 proved avg-at-fixed-rounding engine-stable on this fixture),
   * so ranks can only disagree where two DISTINCT vectors tie in cosine
   * to 15 significant digits — and exact-duplicate vectors tie exactly in
   * both engines and break on the id. Output: kept rows only —
   * (idCol, clusterCol, cos_centroid rounded at 4, proto_rank, cluster_n);
   * rank 1 = most prototypical SURVIVOR (ranks 1..⌈dropFrac·n⌉ dropped).
   *
   * Scale shape: the centroid pass explodes dims but partial-aggregates
   * map-side to |clusters|·dim rows before its one shuffle; centroids
   * broadcast back; the rank is one window shuffle partitioned on the
   * cluster key (per-cluster sort — for mega-clusters swap the exact rank
   * for an approx-quantile cosine threshold; the fixture's label clusters
   * are the honest exact tier). No cross join, no driver collect.
   */
  def prototypePrune(df: DataFrame, vecCol: String, clusterCol: String,
                     idCol: String, dropFrac: Double): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac < 1.0,
      s"dropFrac must be in [0, 1), got $dropFrac")
    val vecD = transform(col(vecCol), _.cast("double"))
    val centroids = df
      .select(col(clusterCol).as("__cl"),
        posexplode(vecD).as(Seq("__dim", "__v")))
      .groupBy(col("__cl"), col("__dim"))
      .agg(round(avg(col("__v")), 6).as("__m"))
      .groupBy(col("__cl"))
      // struct sorts by its first field, so the array reassembles in
      // dimension order regardless of arrival order
      .agg(array_sort(collect_list(struct(col("__dim"), col("__m"))))
        .as("__dm"))
      .select(col("__cl"), transform(col("__dm"), _.getField("__m"))
        .as("__centroid"))
    val byCluster = Window.partitionBy(col(clusterCol))
    df.join(broadcast(centroids), col(clusterCol) === col("__cl"))
      .withColumn("__cos",
        graft.functions.VectorFunctions.cosine(vecD, col("__centroid")))
      // trim BEFORE the rank window: the cosine is already computed, so
      // the cluster-key exchange shuffles three scalars per row, not the
      // vector + centroid (measured 236 → ~8 MiB on the 500k probe)
      .select(col(idCol), col(clusterCol), col("__cos"))
      .withColumn("proto_rank", row_number().over(
        byCluster.orderBy(col("__cos").desc, col(idCol))).cast("long"))
      .withColumn("cluster_n", count(lit(1)).over(byCluster))
      .filter(col("proto_rank") > ceil(lit(dropFrac) * col("cluster_n"))
        .cast("long"))
      .select(col(idCol), col(clusterCol),
        round(col("__cos"), 4).as("cos_centroid"),
        col("proto_rank"), col("cluster_n"))
  }

  /**
   * k-center greedy coreset selection (Sener & Savarese 2018,
   * arXiv:1708.00489, via Gonzalez 1985's farthest-point 2-approximation)
   * — the COVERAGE-based data-pruning tier next to [[prototypePrune]]'s
   * density one: where prototype pruning drops each cluster's redundant
   * core, k-center picks the k rows that together minimize how far any
   * corpus point is from its nearest pick — the "spanning subset" used
   * for active-learning batches, eval-set construction, and tiny-budget
   * coresets. Greedy: seed with the MIN-id row (deterministic — the
   * published random seed costs reproducibility and changes nothing
   * about the 2-approximation), then k−1 times pick the row FARTHEST
   * from the selected set (cosine distance 1−cos, each pairwise distance
   * ROUNDED at 1e-6 before the min/argmax — the [[prototypePrune]]
   * engine-parity pin — with an id tie-break).
   *
   * Scale shape: ONE Tungsten-cached scan of (id, vec) serves every
   * round — round i recomputes the running min-distance as a chained
   * `least` of the (few) centers picked since the last fold, all literal
   * arrays inside one whole-stage-codegen projection, then takes a top-1
   * (TakeOrdered, never a global sort; zero shuffle at any size). Every
   * 16 centers the accumulated min folds into a persisted column so
   * neither the expression tree nor the per-round recompute grows with
   * k. (The first cut re-materialized the frame per round through an
   * RDD round-trip — the known Tungsten-deserialization tax — and
   * measured 44 s for k=8 at 50k rows; this form is the same algorithm
   * priced at scan speed, SURVEY §6.) k rounds = k scans —
   * the algorithm is inherently sequential (each pick depends on all
   * prior picks); at 100 TB pick batches of b per round (the standard
   * batched-greedy relaxation) to amortize scans.
   *
   * Returns the selected rows in pick order: (`center_rank` 1-based,
   * idCol, `sep_dist` = the row's min distance to all EARLIER centers at
   * selection time — the k-center objective trace, NULL for the seed;
   * monotonically non-increasing by construction). Returns FEWER than k
   * rows when coverage completes first (the max min-distance hits 0 —
   * k exceeds the distinct-vector count): the list is duplicate-free by
   * contract, never padded with re-picked centers.
   */
  def kCenterGreedy(df: DataFrame, vecCol: String, idCol: String,
                    k: Int): DataFrame = {
    require(k >= 1 && k <= 1024, s"k must be in [1, 1024], got $k")
    val spark = df.sparkSession
    val foldEvery = 16
    def distTo(center: Seq[Double]): Column =
      round(lit(1.0) - graft.functions.VectorFunctions.cosine(col("__v"),
        array(center.map(lit): _*)), 6)

    var cur = OpCache.track(df.select(col(idCol).as("__id"),
      transform(col(vecCol), _.cast("double")).as("__v")).persist())
    val seed = cur.orderBy(col("__id")).limit(1).collect()
    require(seed.nonEmpty, "kCenterGreedy on an empty frame")
    val picks =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Option[Double])]
    picks += ((1, seed(0).get(0), None))
    // centers picked since the last fold; the effective min-distance is
    // the folded __md column (absent before the first fold) least'ed
    // with one literal-center distance per pending pick
    var pending = List(seed(0).getSeq[Double](1))
    var hasFolded = false
    def effMd: Column = {
      val ds = pending.reverse.map(distTo)
      val all = if (hasFolded) col("__md") :: ds else ds
      all.reduceLeft(least(_, _))
    }
    var rank = 2
    var covered = false
    while (rank <= k && !covered) {
      val far = cur.select(col("__id"), col("__v"), effMd.as("__emd"))
        .orderBy(col("__emd").desc, col("__id")).limit(1).collect()(0)
      // the MAX min-distance hitting 0 means every row coincides with a
      // center (k exceeds the distinct-vector count): coverage is
      // complete, and continuing would re-pick the min-id seed forever —
      // stop and return the shorter, duplicate-free list instead
      if (far.getDouble(2) <= 0.0) {
        covered = true
      } else {
        picks += ((rank, far.get(0), Some(far.getDouble(2))))
        pending ::= far.getSeq[Double](1)
        if (pending.size >= foldEvery && rank < k) {
          val folded = OpCache.track(cur
            .select(col("__id"), col("__v"), effMd.as("__md")).persist())
          folded.count()
          cur.unpersist(blocking = false)
          cur = folded
          pending = Nil
          hasFolded = true
        }
        rank += 1
      }
    }
    cur.unpersist(blocking = false)

    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("center_rank", IntegerType, nullable = false),
      df.schema(idCol).copy(name = idCol),
      StructField("sep_dist", DoubleType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        picks.toSeq.map { case (r, id, d) => Row(r, id, d.orNull) }, 1),
      schema)
  }

  /**
   * Per-group score bucketing — the CCNet head/middle/tail split (Wenzek
   * et al. 2020, arXiv:1911.00359 — CCNet buckets each language's
   * documents by LM-perplexity TERCILES: low perplexity = "head" = the
   * cleanest third): rows rank within `groupCol` by ascending `scoreCol`
   * (id tie-break) and land in `labels(i)` for ntile i+1. NULL scores are
   * excluded from the window — the two oracle engines DISAGREE on NULL
   * sort order (Spark asc = NULLS FIRST, DuckDB = NULLS LAST), so a null
   * inside the ntile would silently shift every bucket boundary — and
   * surface as `nullLabel` rows instead (unscorable ≠ worst).
   *
   * Generic on purpose: any per-group score (perplexity, classifier
   * margin, quality composite) buckets the same way; labels.size picks
   * the quantile count. Scale shape: one window shuffle on the group key
   * — the EXACT tier (per-group sort, what the q173 oracle replays).
   * `approxAccuracy > 0` switches to the mega-group escape (q124's
   * machinery): per-group `percentile_approx` boundary cuts at the same
   * quantiles, broadcast-joined back and applied as one scan — no
   * per-group sort anywhere, so a billion-doc language group costs a
   * partial-aggregated sketch plus a map pass. The trade is CCNet's own:
   * bucket SIZES become approximate (boundary-tied rows land in the
   * lower bucket; the sketch's rank error is bounded by `accuracy`),
   * while every row still buckets by the same score ordering —
   * CurateSpec gates exact≡approx on divisible distinct-score groups
   * and bounds the boundary drift elsewhere.
   */
  def scoreBuckets(df: DataFrame, groupCol: String, scoreCol: String,
                   idCol: String, labels: Seq[String],
                   nullLabel: String = "none",
                   approxAccuracy: Int = 0): DataFrame = {
    require(labels.nonEmpty, "labels must be non-empty")
    val scored = df.filter(col(scoreCol).isNotNull)
    val bucketed =
      if (approxAccuracy <= 0) {
        val w = Window.partitionBy(col(groupCol))
          .orderBy(col(scoreCol), col(idCol))
        scored.withColumn("__t", ntile(labels.size).over(w))
      } else {
        val k = labels.size
        val qs = (1 until k).map(i => i.toDouble / k)
        val bounds = scored.groupBy(col(groupCol))
          .agg(expr(s"percentile_approx($scoreCol, array(${
            qs.mkString("D,")}D), $approxAccuracy)").as("__qb"))
        // bucket = 1 + #boundaries strictly below the score: a row AT a
        // boundary lands in the LOWER bucket, mirroring ntile's "early
        // rows fill early tiles" on the sorted order
        scored.join(broadcast(bounds), Seq(groupCol))
          .withColumn("__t", lit(1) + aggregate(col("__qb"), lit(0),
            (acc, b) => acc + when(col(scoreCol) > b, 1).otherwise(0)))
          .drop("__qb")
      }
    val labelExpr = labels.zipWithIndex.foldRight(lit(nullLabel)) {
      case ((lab, i), acc) =>
        when(col("__t") === (i + 1), lit(lab)).otherwise(acc)
    }
    bucketed.withColumn("bucket", labelExpr).drop("__t")
      .unionByName(df.filter(col(scoreCol).isNull)
        .withColumn("bucket", lit(nullLabel)))
  }

  /**
   * DSIR importance weights (Data Selection via Importance Resampling,
   * Xie et al. 2023, arXiv:2302.03169): score every document by how much
   * more likely its hashed n-gram features are under the TARGET
   * distribution than under the RAW distribution —
   * `weight(d) = Σ_f log(p_target(bucket(f)) / p_raw(bucket(f)))` over d's
   * unigram+bigram features, with add-`alpha` smoothed per-bucket
   * probabilities estimated from the corpus itself (`isTarget` splits it;
   * NULL predicate values count as raw on both engines). Selecting the
   * top-weight raw documents tilts a web-scale pool toward the target
   * domain. Output: one row per input doc — (idCol, is_target, n_feats,
   * weight); blank docs have no features → NULL weight.
   *
   * Scale shape (DSIR is two-pass by construction): pass 1 explodes bare
   * INT buckets and aggregates partial+final to `nBuckets` keys — the only
   * shuffle, `nBuckets` rows wide; the log-ratio table (catalog-sized,
   * default 1009 doubles) collapses to ONE broadcast row. Pass 2 rescans
   * the corpus and computes each weight in one fused codegen'd traversal
   * of the token array (native [[graft.functions.expressions.NgramBucketWeightSum]]
   * — no per-feature array, no HOF lambda, zero shuffle). The bucket-count
   * frame is persisted: it is read twice (totals + ratios) and both reads
   * are `nBuckets` rows.
   */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
                  isTarget: Column, nBuckets: Int = 1009,
                  alpha: Double = 0.5): DataFrame = {
    import graft.functions.expressions.GraftExpressions.ngramBucketWeightSum
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    docs
      .crossJoin(broadcast(
        dsirLogRatios(docs, textCol, isTarget, nBuckets, alpha)))
      .select(col(idCol), coalesce(isTarget, lit(false)).as("is_target"),
        greatest(size(toks) * 2 - 1, lit(0)).cast("long").as("n_feats"),
        ngramBucketWeightSum(toks, col("__graft_dsir_lr")).as("weight"))
  }

  /**
   * The DSIR model itself: the per-bucket log(p_target/p_raw) table as a
   * ONE-ROW frame (`__graft_dsir_lr`: array<double> of length `nBuckets`,
   * dense — absent buckets carry their smoothed mass). [[dsirWeights]]
   * broadcasts it for the batch score pass; for serving (a stream job, a
   * different cluster) collect the single row once and ship the array as
   * the model artifact — [[dsirScore]] turns it back into a pure per-row
   * scoring column (the two paths share the fused expression, so they
   * cannot drift; StreamingSpec gates batch/stream parity).
   */
  def dsirLogRatios(docs: DataFrame, textCol: String, isTarget: Column,
                    nBuckets: Int = 1009, alpha: Double = 0.5): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(alpha > 0, s"alpha must be positive (smoothing), got $alpha")
    import graft.functions.expressions.GraftExpressions.ngramBuckets
    val spark = docs.sparkSession
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val isT = coalesce(isTarget, lit(false))
    val counts = OpCache.track(docs
      .select(isT.as("__t"), explode(ngramBuckets(toks, nBuckets)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("__t"), 0L).otherwise(1L)).as("cr"))
      .persist())
    val totals = counts.agg(
      sum(col("ct")).cast("double").as("nt"),
      sum(col("cr")).cast("double").as("nr"))
    // dense 0..B-1 spine so absent buckets still carry their smoothed mass
    val spine = spark.range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
    spine
      .join(counts, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + alpha) / (col("nt") + alpha * nBuckets))
          - log((coalesce(col("cr"), lit(0L)) + alpha) / (col("nr") + alpha * nBuckets)))
          .as("lr"))
      .agg(transform(array_sort(collect_list(struct(col("bucket"), col("lr")))),
        x => x.getField("lr")).as("__graft_dsir_lr"))
  }

  /** Score a text column with a collected DSIR model (the serving form:
    * the log-ratio array is a shipped artifact, the score a pure per-row
    * codegen'd expression — no join, streaming-safe). NULL for docs with
    * no features, [[dsirWeights]]'s contract. */
  def dsirScore(text: Column, logRatios: Seq[Double]): Column =
    graft.functions.expressions.GraftExpressions.ngramBucketWeightSum(
      graft.functions.TextFunctions.tokens(text),
      typedLit(logRatios))

  /** The per-epoch order key: md5 of `"<epoch>:<id>"` — changing the
    * epoch re-deals the whole order, same epoch always deals the same
    * one. */
  def epochOrderKey(id: Column, epoch: Int): Column =
    md5(concat(lit(s"$epoch:"), id.cast("string")))

  /** Column-epoch form of [[epochOrderKey]], for materialized multi-epoch
    * frames where the epoch ([[materializeRepeats]]' `repeat_idx`) is a
    * column. Identical key bytes for equal (epoch, id). */
  def epochOrderKey(id: Column, epoch: Column): Column =
    md5(concat(epoch.cast("string"), lit(":"), id.cast("string")))

  /**
   * Deterministic per-epoch global training order: sort the corpus by
   * [[epochOrderKey]] — the materialization step before sequence packing
   * that training pipelines call "shuffling". Epoch `e` and epoch `e+1`
   * produce different (but each fully reproducible) orders with no RNG
   * state, no seed file, no partition-layout dependence — the same
   * property [[deterministicSample]] gives sampling. Ids are expected
   * non-null (the [[deterministicSample]] contract).
   *
   * Scale shape: ONE range exchange + sort — exactly the cost the
   * pre-training shuffle must pay once per epoch at any corpus size (no
   * window, no global row numbering, no driver involvement); writing the
   * result keeps the order in the written files.
   */
  def trainingOrder(df: DataFrame, idCol: String, epoch: Int = 0): DataFrame =
    df.orderBy(epochOrderKey(col(idCol), epoch), col(idCol))
}
