package graft

import org.apache.spark.sql.SparkSession

/**
 * Per-round benchmark: runs the headline queries against
 * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints ONE JSON line
 * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
 *
 * Methodology: each query is forced end-to-end with a `noop` sink —
 * full computation of every output column, zero driver-side collection
 * (a `count()` would let Catalyst prune the projections being measured).
 * Every query runs once untimed (Janino codegen compile + JIT + parquet
 * footer caches), then the timed repeats are INTERLEAVED round-robin:
 * the whole headline list runs `RUNS` times, rather than each query
 * back-to-back — a transient load spike on a shared driver machine then
 * lands on many queries' single runs instead of a majority of ONE
 * query's runs (which in round 7 faked a 7× regression on unchanged
 * code, median 2.99 s vs a re-run's 0.66 s). The headline number is the
 * per-query MIN — the load-immune floor (round 11's medians inflated
 * 1.28× from suite-level noise across queries whose code hadn't
 * changed; the mins stayed at parity, exactly the property a
 * round-over-round record needs — a co-scheduled probe or a dirty heap
 * flag can inflate a median but cannot fake a lower floor). The
 * `spread` tail in bench_full.json still records min/median/max per
 * query for the noise audit. Steady-state throughput is the metric
 * that scales to cluster runs, where per-query compile cost (hundreds
 * of ms, fixed) amortizes over minutes of execution and what matters
 * is the per-row cost of the pipeline.
 */
object Bench {
  /** Headline set: scan+agg, star join, window, event-time bucketing,
    * text analysis, MinHash near-dup, brute + LSH ANN top-k, n-gram
    * Jaccard dedup, cluster resolution, sessionization, custom-Aggregator
    * UDAF, plus the full curation tier (dedup pipeline, repetition
    * profiling, decontamination, sampling, PII redaction, quality filter,
    * mix planning/materialization, q87-q95) — the operators whose cost
    * profile dominates a real corpus pipeline. The approximate tier is
    * fully covered: q37 times the LSH ANN *plus* its recall gate (a
    * brute-force pass; q34 remains the clean brute-force signal), q33
    * times simhash blocking *plus* its in-plan exact-Jaccard gate, q38
    * the hyperplane-LSH embedding near-dup, and q60 IVF ANN *including*
    * Lloyd centroid training. */
  private[graft] val headline = Seq(
    "q01_agg", "q02_filter_project", "q05_star_join", "q06_window_rank",
    "q16_json", "q23_events_window", "q26_flow_factory", "q29_token_stats",
    "q31_quality_score", "q32_minhash_neardup", "q33_simhash_pairs",
    "q34_cosine_topk", "q37_ann_lsh", "q38_near_dup_embedding",
    "q60_ivf_ann", "q28_dedup_exact", "q50_ngram_jaccard",
    "q86_cluster_resolve", "q51_sessionize", "q63_custom_udaf",
    "q87_dedup_pipeline", "q88_repetition_scores", "q89_decontaminate",
    "q90_stratified_sample", "q91_group_sample", "q92_pii_redact",
    "q93_quality_filter", "q94_mixing_rates", "q95_materialize_mix",
    "q96_curation_pipeline", "q97_pack_sequences", "q98_token_budget",
    "q99_multimodal_decode", "q100_span_dedup", "q101_incremental_dedup",
    "q102_incremental_neardup", "q103_perplexity", "q104_bm25",
    "q107_rrf_fusion", "q108_semdedup", "q109_hash_classifier",
    "q112_pq_ann", "q113_ivfpq_ann", "q114_negative_sampling",
    "q116_distinct_ngrams", "q117_funnel", "q118_ivfpq_code_store",
    "q119_bm25_index", "q120_funnel_conversion", "q121_substring_spans",
    "q122_substring_contamination", "q123_split_assign",
    "q124_approx_percentile", "q125_semdedup_store",
    "q126_fingerprint_store", "q127_lsh_store", "q128_funnel_approx",
    "q129_semdedup_batch_store", "q130_strip_pipeline",
    "q131_simhash_incremental", "q132_bm25_serve", "q133_ivfpq_rerank",
    "q134_hard_negatives", "q135_source_overlap", "q136_dsir_select",
    "q137_fp_store_ingest", "q138_store_compact", "q139_corpus_report",
    "q140_training_order", "q141_leakage_safe_splits", "q142_dsir_topk",
    "q143_ingest_pipeline", "q144_tokenizer_fertility", "q145_heavy_ngrams",
    "q146_lsh_store_ingest", "q147_semdedup_store_ingest",
    "q148_index_retract", "q149_codestore_retract",
    "q150_strip_boilerplate", "q151_datacard_ext",
    "q152_decontaminated_splits", "q153_repeat_plan",
    "q154_cluster_safe_splits", "q155_epoch_materialize",
    "q156_training_batches", "q157_codestore_versioned",
    "q158_codestore_ingest", "q159_multimodal_resize",
    "q160_codestore_retrain", "q161_training_batches_stored",
    "q162_repetition_rules", "q163_codestore_bloom",
    "q164_codestore_drift", "q165_gopher_quality",
    "q166_gopher_quality_bounds", "q167_c4_filters", "q168_line_dedup",
    "q169_semantic_decontaminate", "q170_unimax", "q171_prototype_prune",
    "q172_d4_pipeline", "q173_ccnet_buckets", "q174_unimax_materialize",
    "q175_compression_signal", "q176_margin_mine", "q177_bpe_merges",
    "q178_weighted_sample", "q179_kcenter_coreset", "q180_kn_perplexity",
    "q181_graph_centrality", "q182_bpe_fit", "q183_span_corrupt",
    "q184_blocklist_filter", "q185_cdc_chunks", "q186_strip_blocks",
    "q187_store_centrality", "q188_store_margin_mine", "q189_bpe_local",
    "q190_pii_policy", "q191_unigram_fit")

  private val RUNS = 5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional comma-separated restriction for controlled A/B sweeps
    // (round-over-round adjudication must hold the SUITE fixed: adding
    // store-writing gates to the interleave inflates neighbors' times
    // through GC/page-cache churn — measured r11 AND r12); the driver
    // never sets this, so the official record stays the full list
    val headline = sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some(qs) =>
        val want = qs.split(",").map(_.trim).filter(_.nonEmpty).toSet
        // a typo'd entry would otherwise silently shrink an A/B sweep's
        // suite — fail loudly, the sweep's numbers would be garbage
        val unknown = want -- Bench.headline.toSet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_QUERIES names no headline query: " +
            unknown.toSeq.sorted.mkString(", "))
        Bench.headline.filter(want)
      case None => Bench.headline
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the release runs after the clock stops (outside the timed region)
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.runReleased(spark, sfDir, name) { df =>
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }

    // warmup pass over the whole list first, then RUNS interleaved rounds:
    // round-robin across queries, never a query back-to-back (see scaladoc)
    val times = scala.collection.mutable.LinkedHashMap(
      headline.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]): _*)
    val failed = scala.collection.mutable.Set.empty[String]
    headline.foreach { name =>
      try runOnce(name)
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
      }
    }
    for (_ <- 1 to RUNS; name <- headline if !failed(name)) {
      try times(name) += runOnce(name)
      catch {
        case e: Throwable => // flaky mid-round: drop the query, keep the round
          System.err.println(s"[bench] $name failed mid-round: ${e.getMessage}")
          failed += name
      }
    }
    val results = headline.map { name =>
      val ts = times(name).sorted.toSeq
      name -> (if (failed(name) || ts.isEmpty) Seq(-1.0) else ts)
    }
    def median(ts: Seq[Double]): Double = ts(ts.size / 2)
    // headline = per-query MIN (ts are sorted; see scaladoc on why the
    // floor, not the median, is the cross-round record)
    val qs = results.map { case (k, ts) => "\"" + k + f"\":${ts.head}%.3f" }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, ts) =>
      "\"" + k + f"""\":{"min":${ts.head}%.3f,"median":${median(ts)}%.3f,"max":${ts.last}%.3f}"""
    }.mkString("{", ",", "}")
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2.head).filter(_ >= 0).sum
    // Two outputs for two consumers. The driver captures only the LAST
    // ~2000 chars of stdout and JSON-parses what it finds there, so the
    // stdout line must be (a) last and (b) short: per-query MINs + explicit
    // `failed` list, no spread (round 9's single fat line overflowed the
    // window and parsed as null). The full record INCLUDING per-query
    // min/median/max spread goes to bench_full.json for the plan audit.
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","headline":"min","queries":$qs,"sf":"$sfDir","runs":$RUNS,"failed":$failedJson}"""
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","headline":"min","queries":$qs,"sf":"$sfDir","runs":$RUNS,"failed":$failedJson,"spread":$spread}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
      "/root/repo/bench_full.json")
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), full + "\n")
      // ADDITION (r19, verdict item 6): the stdout line is unchanged, but
      // its exact bytes ALSO land in a sidecar file — the r17 round lost
      // its whole PERF comparison because the driver's stdout-tail capture
      // truncated the one JSON line mid-queries; a file copy of the same
      // line survives any capture window
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile + ".compact"), compact + "\n")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    spark.stop() // stop BEFORE the result line: Spark shutdown chatter on
    println(compact) // stdout would land after it and re-pollute the tail
  }
}
