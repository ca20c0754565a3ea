package graft

import org.apache.spark.sql.execution.ExplainMode

/**
 * Plan-quality gates: these assert the physical plans the operators are
 * DESIGNED to produce at scale — filter/column pushdown into the parquet
 * scan, broadcast joins for dims, whole-stage codegen coverage. A
 * regression here means a query silently degrades at 100 TB even though
 * its results stay correct.
 */
class PlanSpec extends SparkSpec {

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sfDir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q02: filters are pushed down to the parquet scan") {
    val plan = planOf("q02_filter_project")
    assert(plan.contains("PushedFilters:"), "scan should report pushed filters")
    assert(plan.contains("GreaterThan(l_quantity,45.0)")
      || plan.contains("GreaterThan(l_quantity"), s"quantity filter not pushed:\n$plan")
  }

  test("q02: scan reads only the referenced columns (pruning)") {
    val plan = planOf("q02_filter_project")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_returnflag"),
      s"unreferenced columns read from parquet: $readSchema")
  }

  test("q05 star join: all dimension joins are broadcast, fact never shuffled for join") {
    val plan = planOf("q05_star_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "star-schema dims must broadcast, not sort-merge")
  }

  test("q01 agg: partial aggregation before the exchange (map-side combine)") {
    val df = SparkEntry.queries("q01_agg")(spark, sfDir)
    // simple mode prints the tree once (formatted repeats nodes in the
    // details section, double-counting)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    val hashAggs = "HashAggregate".r.findAllIn(plan).size
    assert(hashAggs >= 2, s"partial+final hash agg expected:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"q01 should shuffle once for the agg (+1 for sort):\n$plan")
  }

  test("q34 cosine top-k: query side broadcast, native expression in plan") {
    val plan = planOf("q34_cosine_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query set must broadcast:\n$plan")
    assert(plan.contains("cosine_similarity"),
      s"native cosine expression missing from plan:\n$plan")
  }

  test("q60 IVF: centroid table and probe set broadcast, corpus never collected") {
    val plan = planOf("q60_ivf_ann")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"centroids/probes must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "IVF probe join must not degenerate to a cartesian product over the corpus")
  }

  test("q37 LSH ANN: native hyperplane key in plan, no interpreted HOF bucketing") {
    val plan = planOf("q37_ann_lsh")
    assert(plan.contains("hyperplane_lsh_key"),
      s"native hyperplane LSH expression missing from plan:\n$plan")
    // the HOF formulation would show up as aggregate/zip_with lambda nodes
    assert(!plan.contains("zip_with"),
      s"interpreted HOF bucketing leaked back into the ANN path:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "bucketed ANN must not degenerate to a cartesian product")
  }

  test("q63 typed Aggregator runs as partial+final hash agg (map-side combine)") {
    val df = SparkEntry.queries("q63_custom_udaf")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    val aggs = ("HashAggregate".r.findAllIn(plan).size
      + "ObjectHashAggregate".r.findAllIn(plan).size
      + "SortAggregate".r.findAllIn(plan).size)
    assert(aggs >= 2, s"partial+final aggregation expected for Aggregator:\n$plan")
  }

  test("q52 winnowing scan reads only doc_id and text") {
    val plan = planOf("q52_winnow_fingerprint")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unreferenced document columns read from parquet: $readSchema")
  }

  test("q71 bucketed join plans with no exchange before the join") {
    val df = SparkEntry.queries("q71_bucketed_join")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
    // exchanges above the join (groupBy hash, orderBy range) are expected;
    // the join's own subtree — everything printed below it — must read
    // co-located buckets with no shuffle
    val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinSubtree.contains("Exchange"),
      s"bucketed join must not shuffle its inputs:\n$plan")
    assert(joinSubtree.contains("Bucketed: true"),
      s"scan did not use the bucketed layout:\n$plan")
  }

  test("connected-components rounds are window+distinct plans over bare id pairs") {
    // one large-star + small-star round (r18 shape): each star's
    // neighborhood min attaches via ONE window exchange instead of the
    // former groupBy+join-back pair, with no row collect and no
    // cartesian — the driver only ever sees scalar convergence
    // aggregates. Pin the shape: exactly the two min-windows plus the
    // trailing distinct's exchange pair — a join or extra exchange
    // reappearing here is the regression this gate exists for.
    import spark.implicits._
    val edges = Seq((20L, 10L), (30L, 20L), (40L, 30L)).toDF("u", "v")
    val round = graft.operators.Dedup.smallStar(
      graft.operators.Dedup.largeStar(edges))
    val plan = round.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.contains("Window"), s"star round should window its mins:\n$plan")
    assert(!plan.contains("Join"),
      s"star round must not join the mins back (one-exchange window shape):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("CollectLimit"),
      s"star round must not collect or go quadratic:\n$plan")
    // exchange budget: 2 window shuffles (large star on sym, small star on
    // its output) + 2 distinct exchanges (the stars' trailing distincts;
    // resolveClusters' fused loop body elides the intermediate one)
    val nEx = "Exchange".r.findAllIn(plan).size
    assert(nEx <= 4, s"star round grew exchanges ($nEx > 4):\n$plan")
  }

  test("q87 dedup pipeline: survivor filter is an anti-join, never cartesian") {
    val df = SparkEntry.queries("q87_dedup_pipeline")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.contains("LeftAnti"),
      s"keepRepresentatives must anti-join the loser list:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"dedup pipeline must stay blocked/joined, not quadratic:\n$plan")
  }

  /** The survivor filter's anti-joins as planned (AQE's initial plan,
    * before any stage runs). */
  private def plannedAntiJoins(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      case j: SortMergeJoinExec if j.joinType == LeftAnti => j
    }
  }

  private lazy val clusterFixture = {
    import spark.implicits._
    (Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z")).toDF("doc_id", "text"),
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")) // 1-2-3 one cluster
  }

  private def survivors(kept: org.apache.spark.sql.DataFrame): Seq[Long] =
    kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("keepRepresentatives broadcasts a small loser set: documents never shuffle") {
    // the loser ids are at most the CC loop's final edge count, so a set
    // under autoBroadcastJoinThreshold ships to every task and the
    // document rows stay where they are — a sort-merge anti-join here
    // shuffles the whole corpus (text included) to drop a few ids
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val (df, pairs) = clusterFixture
    val kept = graft.operators.Dedup.keepRepresentatives(df, pairs, "doc_id")
    val plan = kept.queryExecution.explainString(ExplainMode.fromString("simple"))
    val joins = plannedAntiJoins(kept)
    assert(joins.size == 1 && joins.head.isInstanceOf[BroadcastHashJoinExec],
      s"the loser filter must plan a broadcast hash anti-join:\n$plan")
    val docSide = joins.head.asInstanceOf[BroadcastHashJoinExec].left
    assert(docSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"the document side must not be shuffled:\n$plan")
    assert(survivors(kept) == Seq(1L, 4L))
    graft.operators.OpCache.release()
  }

  test("keepRepresentatives falls back to a shuffle anti-join when broadcast is off") {
    // the broadcast is sized against the session threshold, never forced:
    // with broadcasting disabled the same survivors come out of the
    // sort-merge anti-join
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val (df, pairs) = clusterFixture
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val kept = graft.operators.Dedup.keepRepresentatives(df, pairs, "doc_id")
      val joins = plannedAntiJoins(kept)
      assert(joins.size == 1 && joins.head.isInstanceOf[SortMergeJoinExec],
        "with broadcast disabled the loser filter must be a sort-merge " +
          s"anti-join:\n${kept.queryExecution.explainString(ExplainMode.fromString("simple"))}")
      assert(survivors(kept) == Seq(1L, 4L))
    } finally {
      old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      graft.operators.OpCache.release()
    }
  }

  test("q90 stratified sample plans as a pure scan+filter (zero shuffles)") {
    // the 100 TB claim on rate sampling: a deterministic hash filter needs
    // no exchange at any corpus size — one appearing here means the
    // operator silently turned a scan into a shuffle
    val df = SparkEntry.queries("q90_stratified_sample")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    // the only permitted exchange is the final presentation ORDER BY
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"rate sampling must not shuffle (beyond the output sort):\n$plan")
    assert(!plan.contains("Window"), s"no window needed for rate sampling:\n$plan")
  }

  test("q95 materializeMix: quota frame broadcasts, no sort-merge join") {
    // quotas are |strata| rows — if the join ever plans as SortMergeJoin
    // the full corpus re-shuffles on the stratum key just to pick up a
    // 5-row table
    val plan = planOf("q95_materialize_mix")
    assert(plan.contains("BroadcastHashJoin"),
      s"quota join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not re-shuffle for the quota join:\n$plan")
  }

  test("q89 decontamination: eval-gram semi-join, never cartesian") {
    val df = SparkEntry.queries("q89_decontaminate")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.contains("LeftSemi"),
      s"decontamination must semi-join the contaminated-id set:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"gram matching must stay an equi-join:\n$plan")
  }

  test("q96 curation pipeline: joined stages, no cartesian, broadcast quotas") {
    val df = SparkEntry.queries("q96_curation_pipeline")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.contains("LeftAnti"),
      s"contaminated ids must anti-join out:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"dedup winners / eval grams must semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no stage of the pipeline may go quadratic:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the quota frame must broadcast:\n$plan")
  }

  test("IVF cells written as partitions prune the probe-time scan") {
    // the 100 TB claim on ivfTopK: assign once, write partitioned by cell,
    // and a probe reads ONLY its cells' files (partition pruning at the
    // parquet scan) — gate that the written layout actually prunes
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroids = graft.operators.Similarity.trainCentroids(
      emb, "embedding", "vec_id", k = 4)
    val assigned = graft.operators.Similarity.ivfAssign(
      emb, centroids, "embedding", "vec_id")
    val dir = tempDir("ivf_cells").toString
    assigned.write.partitionBy("cell").mode("overwrite").parquet(dir)
    graft.operators.OpCache.release()
    // trained cell ids are the surviving seed ids — pick a real one
    // partition-dir values are re-inferred (int, not the written long)
    val aCell = spark.read.parquet(dir).select(col("cell")).head().get(0).toString
    val probed = spark.read.parquet(dir).filter(col("cell") === aCell)
    val plan = probed.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val scanLine = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(scanLine.contains("cell"),
      s"cell predicate must become a partition filter:\n$plan")
    // pruning proof at EXECUTION time: every file actually read lives in
    // the probed cell's directory (inputFiles would report pre-pruning)
    val files = probed.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains(s"cell=$aCell")),
      s"probe read files outside cell=$aCell: ${files.mkString(", ")}")
  }

  test("IVF-PQ code store: a probe reads only its probed cells' partitions") {
    // the 100 TB claim on writeCodeStore: serving through prunedCodeStore
    // turns the probe list into the scan's root paths — the probed cells'
    // directories from the manifest — so the scan reads only those.
    // (DPP was tried first and silently degraded to
    // dynamicpruningexpression(true) on this shape — hence the static
    // design; this gate is execution-level so any such regression is
    // caught, not just planned around.)
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.trainCentroids(
      emb, "embedding", "vec_id", k = 8)
    val cb = graft.operators.Quantize.trainCodebook(
      emb, "embedding", "vec_id", dim = 64, m = 4, ksub = 8)
    val dir = tempDir("pq_store").toString
    graft.operators.Quantize.writeCodeStore(
      emb, cents, cb, "embedding", "vec_id", 4, 16, dir)
    // ONE query, nProbe=2 of 8 cells: the probed subset is provably
    // strict, so an unpruned execution cannot pass by accident
    val queries = emb.filter(col("vec_id") === 0)
    val topk = graft.operators.Quantize.ivfPqTopKFromStore(
      spark, dir, queries, cents, cb,
      "embedding", "vec_id", 4, 16, k = 5, nProbe = 2)
    // EXECUTION-level proof: the store scan's numFiles metric reflects
    // files selected after pruning — 2 probed cells of 8 ⇒ 2 files
    assert(topk.collect().nonEmpty, "store-path top-k returned no rows")
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case s: FileSourceScanExec => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    val storeScans = walk(topk.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.mkString(",").contains("pq_store"))
    val totalFiles =
      graft.operators.Quantize.readCodeStore(spark, dir).inputFiles.length
    val readFiles = storeScans.flatMap(_.metrics.get("numFiles").map(_.value)).sum
    assert(storeScans.nonEmpty, "store scan not found in executed plan")
    // ≤2: a probed centroid can own zero corpus rows (no directory);
    // < total: the unprobed cells must never be touched
    assert(readFiles <= 2 && readFiles < totalFiles,
      s"probe must read only its ≤2 probed cells' files: " +
        s"read $readFiles of $totalFiles")
    // and the scan's roots are the probed cells' leaf directories only
    val scannedRoots = storeScans
      .flatMap(_.relation.location.rootPaths.map(_.getName)).distinct
    assert(scannedRoots.nonEmpty && scannedRoots.size <= 2 &&
      scannedRoots.forall(_.startsWith("pcell=")),
      s"scan roots must be ≤2 probed cell dirs, got $scannedRoots")
    graft.operators.OpCache.release()
  }

  test("VERSIONED code store: a probe scans only its probed cells' directories") {
    // the versioned form prunes at the MANIFEST (prunedCodeStore selects
    // the probed cells' directories as the scan's root paths), so the
    // bounded-I/O guarantee must show up as the executed scan's numFiles —
    // there is no PartitionFilters line to grep, the unprobed cells never
    // enter the plan at all
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.trainCentroids(
      emb, "embedding", "vec_id", k = 8)
    val cb = graft.operators.Quantize.trainCodebook(
      emb, "embedding", "vec_id", dim = 64, m = 4, ksub = 8)
    val dir = tempDir("pq_vstore").toString
    graft.operators.Quantize.writeCodeStore(
      emb, cents, cb, "embedding", "vec_id", 4, 16, dir)
    // retraction first: pruning must hold on a multi-generation store
    graft.operators.Quantize.removeFromCodeStore(spark, dir,
      emb.filter(pmod(col("vec_id"), lit(3)) === 0).select(col("vec_id")),
      "vec_id")
    val queries = emb.filter(col("vec_id") === 1)
    val topk = graft.operators.Quantize.ivfPqTopKFromStore(
      spark, dir, queries, cents, cb,
      "embedding", "vec_id", 4, 16, k = 5, nProbe = 2)
    assert(topk.collect().nonEmpty, "versioned store top-k returned no rows")
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case s: FileSourceScanExec => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    val storeScans = walk(topk.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.mkString(",").contains("pq_vstore"))
    assert(storeScans.nonEmpty, "store scan not found in executed plan")
    val totalFiles =
      graft.operators.Quantize.readCodeStore(spark, dir).inputFiles.length
    val readFiles = storeScans.flatMap(_.metrics.get("numFiles").map(_.value)).sum
    // one file per cell per generation leaf ⇒ ≤2 files for 2 probed cells
    assert(readFiles <= 2 && readFiles < totalFiles,
      s"versioned probe must scan only its ≤2 probed cells' files: " +
        s"read $readFiles of $totalFiles")
    // and those files must live in probed-cell directories only
    val scannedRoots = storeScans
      .flatMap(_.relation.location.rootPaths.map(_.getName)).distinct
    assert(scannedRoots.forall(_.startsWith("pcell=")),
      s"versioned scan roots must be cell leaf dirs, got $scannedRoots")
    assert(scannedRoots.size <= 2,
      s"more than 2 probed cell dirs entered the scan: $scannedRoots")
    // the pruning contract must survive a RETRAIN (full fresh generation
    // + fresh models behind one swap), served through the manifest's own
    // PQ state — the self-describing production form
    graft.operators.Quantize.retrainCodeStore(spark, dir, emb,
      "embedding", "vec_id", dim = 64, m = 4, ksub = 8, cells = 8)
    val topk2 = graft.operators.Quantize.ivfPqTopKStored(
      spark, dir, queries, "embedding", "vec_id", k = 5, nProbe = 2)
    assert(topk2.collect().nonEmpty, "retrained store top-k returned no rows")
    // the manifest-recorded MODELS live inside the store path too
    // (models-*/centroids|codebook — the stored-PQ form reads them, KB
    // frames, deliberately); the pruning gate is about the CELL scans
    val storeScans2 = walk(topk2.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.mkString(",").contains("pcell="))
      .filter(_.relation.location.rootPaths.mkString(",").contains("pq_vstore"))
    assert(storeScans2.nonEmpty, "retrained store scan not found")
    val totalFiles2 =
      graft.operators.Quantize.readCodeStore(spark, dir).inputFiles.length
    val readFiles2 =
      storeScans2.flatMap(_.metrics.get("numFiles").map(_.value)).sum
    assert(readFiles2 <= 2 && readFiles2 < totalFiles2,
      s"retrained probe must scan only its ≤2 probed cells' files: " +
        s"read $readFiles2 of $totalFiles2")
    assert(storeScans2
      .flatMap(_.relation.location.rootPaths.map(_.getName)).distinct
      .forall(_.startsWith("pcell=")), "retrained scan roots not cell leaves")
    graft.operators.OpCache.release()
  }

  test("BM25 index path: no tokenization in the plan, term filter prunes buckets") {
    // the standing-search-service claim: query-time work must be a
    // bucket-pruned index scan + query-sized joins — if tokenize/explode
    // reappears, the index isn't being used; if every bucket is read,
    // the term filter lost its pruning
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_bm25_idx_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_stats")
    graft.operators.Rank.writeIndex(docs, "text", "doc_id", tbl, buckets = 8)
    val (index, stats) = graft.operators.Rank.readIndex(spark, tbl)
    val scored = graft.operators.Rank.bm25FromIndex(index, stats, "doc_id",
      Seq("spark", "data"))
    val plan = scored.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("split(") && !plan.contains("explode"),
      s"index path must not re-tokenize the corpus:\n$plan")
    val bucketLine = plan.linesIterator
      .filter(_.contains("SelectedBucketsCount")).mkString("\n")
    assert(bucketLine.contains("SelectedBucketsCount"),
      s"term filter should prune index buckets:\n$plan")
    val counts = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(bucketLine).get
    assert(counts.group(1).toInt < counts.group(2).toInt,
      s"term filter read every bucket: $bucketLine")
  }

  test("SemDeDup cell-bucketed store: nothing ever shuffles on cell") {
    // the §6-measured super-linear term in semDedupPairs is the
    // within-cell self-join's exchange; the bucketed store must delete
    // it — the plan may hash on id_a/id_b for the vector attach, but a
    // hashpartitioning(cell...) exchange means co-location failed
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.trainCentroids(
      emb, "embedding", "vec_id", k = 4)
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_sem_store_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.operators.Dedup.writeAssignedCorpus(
      emb, cents, "embedding", "vec_id", probes = 2, tbl, buckets = 4)
    val pairs = graft.operators.Dedup.semDedupPairsFromStore(
      spark, tbl, "embedding", "vec_id", tau = 0.45)
    val plan = pairs.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("SortMergeJoin"),
      s"store self-join should take the at-scale sort-merge shape:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"scans did not use the bucketed layout:\n$plan")
    plan.split("\n\n")
      .filter(_.contains("Exchange"))
      .foreach(b => assert(!b.contains("hashpartitioning(cell"),
        s"cell must never shuffle off a bucketed store:\n$b"))
    graft.operators.OpCache.release()
  }

  // Shared structural helper for the ingest-store gates: every scan of a
  // store table must reach its enclosing join with NO shuffle exchange in
  // between — bucket co-location, not a runtime shuffle, is what feeds
  // the join on the store side. Walks the EXECUTED (post-AQE) plan.
  private def assertStoreSidesExchangeFree(
      df: org.apache.spark.sql.DataFrame, storeMarker: String): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    def paths(p: SparkPlan, path: List[SparkPlan])
        : Seq[(FileSourceScanExec, List[SparkPlan])] = p match {
      case a: AdaptiveSparkPlanExec => paths(a.executedPlan, path)
      case q: QueryStageExec => paths(q.plan, path)
      case r: ReusedExchangeExec => paths(r.child, r :: path)
      case s: FileSourceScanExec => Seq((s, path))
      case other =>
        (other.children ++ other.subqueries).flatMap(c => paths(c, other :: path))
    }
    val storePaths = paths(df.queryExecution.executedPlan, Nil).filter {
      case (scan, _) =>
        scan.relation.location.rootPaths.mkString(",").contains(storeMarker)
    }
    assert(storePaths.nonEmpty, s"no store scan ($storeMarker) in executed plan")
    storePaths.foreach { case (scan, path) =>
      // path head = nearest ancestor; the segment below the first join is
      // the store side of that join
      val belowJoin = path.takeWhile(n => !n.isInstanceOf[SortMergeJoinExec]
        && !n.isInstanceOf[ShuffledHashJoinExec])
      val shuffles = belowJoin.filter(n => n.isInstanceOf[ShuffleExchangeLike]
        || n.isInstanceOf[ReusedExchangeExec])
      assert(shuffles.isEmpty,
        s"store scan ${scan.relation.location.rootPaths.mkString(",")} feeds " +
          s"its join through a shuffle: ${shuffles.map(_.nodeName).mkString(", ")}")
    }
  }

  test("fingerprint ingest store: anti-join store side is bucketed and exchange-free") {
    // the q126 at-scale claim: the batch anti-join shuffles ONLY the batch
    // side into the store's bucketing; the fp store reads co-located
    // buckets straight into the sort-merge anti join
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_fp_store_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.operators.Dedup.writeFingerprintStore(
      docs.filter(!isBatch), "text", tbl, buckets = 4)
    val out = graft.operators.Dedup.dedupAgainstStore(
      spark, docs.filter(isBatch), "text", tbl)
    assert(out.collect().nonEmpty, "store-path dedup returned no rows")
    val plan = out.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"),
      s"store anti-join should take the at-scale sort-merge shape:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"store scan did not use the bucketed layout:\n$plan")
    assertStoreSidesExchangeFree(out, tbl)
    graft.operators.OpCache.release()
  }

  test("fingerprint store stays exchange-free after ingest appends") {
    // the q137 at-scale claim: a bucketBy APPEND adds one file per touched
    // bucket but keeps the table's hash partitioning, so the anti-join's
    // store side needs no exchange after any number of ingests (Spark
    // re-sorts within the partition for the multi-file buckets)
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val m = pmod(col("doc_id"), lit(3))
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_fp_append_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.operators.Dedup.writeFingerprintStore(
      docs.filter(m === 2), "text", tbl, buckets = 4)
    graft.operators.Dedup.ingestBatch(
      spark, docs.filter(m === 0), "text", "doc_id", tbl)
    val out = graft.operators.Dedup.dedupAgainstStore(
      spark, docs.filter(m === 1), "text", tbl)
    assert(out.collect().nonEmpty, "post-append store-path dedup empty")
    val plan = out.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"),
      s"appended store lost its bucketed layout:\n$plan")
    assertStoreSidesExchangeFree(out, tbl)
    graft.operators.OpCache.release()
  }

  test("compacted store: one file per bucket at the executed scan, exchange-free") {
    // the q138 at-scale claim: appends fragment buckets into ever more
    // files; compaction must collapse the store to numBuckets files
    // (execution-gated via the scan's numFiles metric, the q118
    // discipline) while keeping the anti-join's store side exchange-free.
    // (It can NOT remove the SMJ's store-side sort: since Spark 3.0 a
    // bucketed scan reports no outputOrdering unless the legacy
    // bucketedTableScan.outputOrdering conf trades away scan parallelism
    // — see Layout.compactBucketed's doc.)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val m = pmod(col("doc_id"), lit(3))
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_fp_compact_$pid"
    graft.operators.Layout.dropStore(spark, tbl)
    graft.operators.Dedup.writeFingerprintStore(
      docs.filter(m === 2), "text", tbl, buckets = 4)
    graft.operators.Dedup.ingestBatch(
      spark, docs.filter(m === 0), "text", "doc_id", tbl)
    val fragmented = spark.table(tbl).select(input_file_name())
      .distinct().count()
    assert(fragmented > 4, s"append should fragment buckets: $fragmented files")
    graft.operators.Layout.compactBucketed(spark, tbl)
    val out = graft.operators.Dedup.dedupAgainstStore(
      spark, docs.filter(m === 1), "text", tbl)
    assert(out.collect().nonEmpty, "post-compaction store-path dedup empty")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case s: FileSourceScanExec => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val store = scans(out.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.mkString(",").contains(tbl))
    assert(store.nonEmpty, "no store scan in executed plan")
    store.foreach { s =>
      val numFiles = s.metrics("numFiles").value
      assert(numFiles == 4,
        s"compacted store should scan one file per bucket, read $numFiles")
    }
    assertStoreSidesExchangeFree(out, tbl)
    graft.operators.OpCache.release()
  }

  test("LSH ingest store: candidate and attach store sides are bucketed and exchange-free") {
    // the q127 at-scale claim: the batch's exploded bands shuffle INTO the
    // band store's (band, bucket) bucketing and the candidate pairs INTO
    // the signature store's id bucketing; neither store side ever
    // re-shuffles (and corpus text is never re-read — the plan has no
    // corpus-side shingle/minhash stage at all)
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 2000)
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_lsh_store_$pid"
    Seq(s"${tbl}_bands", s"${tbl}_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.Dedup.writeLshStore(docs.filter(!isBatch), "text",
      "doc_id", tbl, shingleK = 3, numHashes = 64, bands = 16, buckets = 4)
    val out = graft.operators.Dedup.minhashLshAgainstStore(
      spark, docs.filter(isBatch), "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
    out.collect() // finalize the adaptive plan (pair set may be empty at tiny SF)
    val plan = out.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("SortMergeJoin"),
      s"store joins should take the at-scale sort-merge shape:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"store scans did not use the bucketed layout:\n$plan")
    assertStoreSidesExchangeFree(out, s"${tbl}_bands")
    assertStoreSidesExchangeFree(out, s"${tbl}_sigs")
    graft.operators.OpCache.release()
  }

  test("LSH pairs-from-store: band-store SELF-join is exchange-free on both sides") {
    // the minhashLshPairsFromStore scaladoc claim, now execution-gated
    // like every other store serving path: the (band, bucket)-bucketed
    // band store feeds BOTH sides of its self-join from co-located
    // buckets — no exchange hashes on the band key — and the signature
    // store feeds the verification joins from its id bucketing. A Spark
    // upgrade that re-introduces the shuffle this operator exists to
    // avoid fails here, not in production.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 2000)
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_lsh_pairs_$pid"
    Seq(s"${tbl}_bands", s"${tbl}_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.Dedup.writeLshStore(docs, "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, buckets = 4)
    val out = graft.operators.Dedup.minhashLshPairsFromStore(
      spark, tbl, numHashes = 64, threshold = 0.5)
    out.collect() // finalize the adaptive plan (pair set may be empty)
    val plan = out.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("SortMergeJoin"),
      s"store self-join should take the at-scale sort-merge shape:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"store scans did not use the bucketed layout:\n$plan")
    assertStoreSidesExchangeFree(out, s"${tbl}_bands")
    assertStoreSidesExchangeFree(out, s"${tbl}_sigs")
    graft.operators.OpCache.release()
  }

  test("bipartite SemDeDup store: batch shuffles into the store's cell buckets, store side exchange-free") {
    // the q129 at-scale claim: the incoming batch's slim (id, cell) pairs
    // shuffle INTO the assigned-corpus store's bucketing; the store reads
    // co-located buckets straight into its joins
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val isBatch = pmod(col("vec_id"), lit(10)) === 0
    val corpus = emb.filter(!isBatch)
    val cents = graft.operators.Similarity.trainCentroids(
      corpus, "embedding", "vec_id", k = 4)
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_sem_bip_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.operators.Dedup.writeAssignedCorpus(
      corpus, cents, "embedding", "vec_id", probes = 2, tbl, buckets = 4)
    val pairs = graft.operators.Dedup.semDedupBatchAgainstStore(
      spark, emb.filter(isBatch), tbl, cents, "embedding", "vec_id",
      probes = 2, tau = 0.45)
    pairs.collect() // finalize the adaptive plan
    val plan = pairs.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("SortMergeJoin"),
      s"store joins should take the at-scale sort-merge shape:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"store scans did not use the bucketed layout:\n$plan")
    assertStoreSidesExchangeFree(pairs, tbl)
    graft.operators.OpCache.release()
  }

  test("LSH store stays exchange-free after ingestBatchLsh appends") {
    // the q146 at-scale claim: the appendBucketed writes to _bands and
    // _sigs keep both stores' bucketing, so the per-batch candidate and
    // attach joins stay exchange-free after any number of ingests
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 2000)
    val m = pmod(col("doc_id"), lit(3))
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_lsh_append_$pid"
    Seq(s"${tbl}_bands", s"${tbl}_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.Dedup.writeLshStore(docs.filter(m === 2), "text",
      "doc_id", tbl, shingleK = 3, numHashes = 64, bands = 16, buckets = 4)
    graft.operators.Dedup.ingestBatchLsh(spark, docs.filter(m === 0),
      "text", "doc_id", tbl, shingleK = 3, numHashes = 64, bands = 16,
      threshold = 0.5)
    val out = graft.operators.Dedup.minhashLshAgainstStore(
      spark, docs.filter(m === 1), "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
    out.collect() // finalize the adaptive plan
    val plan = out.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"),
      s"appended LSH store lost its bucketed layout:\n$plan")
    assertStoreSidesExchangeFree(out, s"${tbl}_bands")
    assertStoreSidesExchangeFree(out, s"${tbl}_sigs")
    graft.operators.OpCache.release()
  }

  test("assigned-corpus store stays exchange-free after ingestBatchSemDedup appends") {
    // the q147 at-scale claim: the (cell, id, vec) append keeps the cell
    // bucketing, so batch-vs-store SemDeDup's store side reads co-located
    // buckets straight into the join after any number of ingests
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val m = pmod(col("vec_id"), lit(3))
    val corpus = emb.filter(m === 2)
    val cents = graft.operators.Similarity.trainCentroids(
      corpus, "embedding", "vec_id", k = 4)
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_sem_append_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.operators.Dedup.writeAssignedCorpus(
      corpus, cents, "embedding", "vec_id", probes = 2, tbl, buckets = 4)
    graft.operators.Dedup.ingestBatchSemDedup(spark, emb.filter(m === 0),
      tbl, cents, "embedding", "vec_id", probes = 2, tau = 0.45)
    val pairs = graft.operators.Dedup.semDedupBatchAgainstStore(
      spark, emb.filter(m === 1), tbl, cents, "embedding", "vec_id",
      probes = 2, tau = 0.45)
    pairs.collect() // finalize the adaptive plan
    val plan = pairs.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"),
      s"appended assigned store lost its bucketed layout:\n$plan")
    assertStoreSidesExchangeFree(pairs, tbl)
    graft.operators.OpCache.release()
  }

  test("BM25 index keeps its bucket pruning after removeFromIndex") {
    // the takedown must not cost the serving plan anything: the rewrite
    // preserves the term bucket spec, so a query's term filter still
    // prunes to its buckets (SelectedBucketsCount) and the plan still
    // never tokenizes
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"planspec_bm25_rm_$pid"
    Seq(tbl, s"${tbl}_stats")
      .foreach(graft.operators.Layout.dropStore(spark, _))
    graft.operators.Rank.writeIndex(docs, "text", "doc_id", tbl, buckets = 8)
    graft.operators.Rank.removeFromIndex(spark, tbl,
      docs.filter(pmod(col("doc_id"), lit(11)) === 0).select(col("doc_id")),
      "doc_id")
    val (index, stats) = graft.operators.Rank.readIndex(spark, tbl)
    val scored = graft.operators.Rank.bm25FromIndex(index, stats, "doc_id",
      Seq("spark", "data"))
    val plan = scored.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("split(") && !plan.contains("explode"),
      s"post-retraction index path must not re-tokenize:\n$plan")
    val bucketLine = plan.linesIterator
      .filter(_.contains("SelectedBucketsCount")).mkString("\n")
    val counts = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(bucketLine)
    assert(counts.exists(c => c.group(1).toInt < c.group(2).toInt),
      s"term filter lost its bucket pruning after retraction:\n$plan")
    graft.operators.OpCache.release()
  }

  test("funnel cascade over a user-bucketed event store plans exchange-free") {
    // Funnel.funnel's scale claim: every step is keyed on the user, so a
    // user-bucketed event store co-locates the whole cascade — the first
    // aggregate reads the buckets, each later stage's join and aggregate
    // reuses hash(__u), which satisfies every ClusteredDistribution whose
    // keys include the user. Broadcast is forced off so co-location (not
    // a fixture-scale broadcast estimate) is what the plan proves.
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ev = graft.sources.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
      val tbl = s"planspec_funnel_ev_$pid"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      graft.operators.Layout.writeBucketed(ev, tbl, Seq("user_id"), 4)
      val f = graft.operators.Funnel.funnel(spark.table(tbl),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      val plan = f.queryExecution
        .explainString(ExplainMode.fromString("simple"))
      assert(!plan.contains("Exchange"),
        s"user-bucketed funnel cascade must not shuffle at any stage:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scans did not use the bucketed layout:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q97 packing: the per-doc window is partitioned (no global sort)") {
    val df = SparkEntry.queries("q97_pack_sequences")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    // exactly one Window over the corpus, and its spec carries the shard
    // partition key — an empty partition spec would single-partition the
    // planet at 100 TB
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("shard")),
      s"per-doc window must partition by shard:\n$plan")
  }

  test("q98 token budget: levels broadcast; corpus window only on the boundary level") {
    val df = SparkEntry.queries("q98_token_budget")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.contains("BroadcastHashJoin"),
      s"the |levels|-row frame must broadcast onto the corpus:\n$plan")
    // the corpus-side per-doc window must carry the quality partition key;
    // the only permissible empty-spec window is the one over the
    // aggregated |levels|-row frame (its child is an Aggregate, not the
    // corpus scan) — identified here by its window expression alias
    val corpusWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("__tb_doc_cum")).toSeq
    assert(corpusWindows.nonEmpty &&
      corpusWindows.forall(_.contains("windowspecdefinition(quality")),
      s"per-doc running sum must be partitioned by quality level:\n$plan")
  }

  test("q38 embedding near-dup: the bucket self-join moves no vectors") {
    // the slim-shuffle invariant (minhashLsh's measured shape): both
    // sides of the bucket-equality join carry only (id, bucket) — a
    // 768-dim embedding riding the join would ship ~3 KB/row twice
    val df = SparkEntry.queries("q38_near_dup_embedding")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("bucket"))
      .getOrElse(fail(s"no bucket join in plan:\n$plan"))
    assert(!joinLine.contains("v#") && !joinLine.contains("embedding"),
      s"embedding column must not ride the bucket join:\n$joinLine")
  }

  test("q108 semdedup: the within-cell candidate join moves no vectors") {
    // same slim-shuffle invariant as q38: both sides of the cell-equality
    // self-join carry bare (id, cell) — the embeddings attach per
    // surviving candidate pair afterwards, never ride the candidate join.
    // Inspect semDedupPairs' own plan (q108's final frame is downstream of
    // resolveClusters' eager materialization, which truncates the lineage
    // to a bare RDD scan and hides the candidate join).
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = graft.operators.Dedup.semDedupPairs(
      e, "embedding", "vec_id", k = 8, tau = 0.45)
    val plan = pairs.queryExecution
      .explainString(ExplainMode.fromString("simple"))
    val cellJoin = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("cell#") &&
        !l.contains("LeftAnti"))
      .getOrElse(fail(s"no cell-keyed candidate join in plan:\n$plan"))
    assert(!cellJoin.contains("embedding") && !cellJoin.contains("v#"),
      s"embedding must not ride the candidate join:\n$cellJoin")
    assert(!plan.contains("CartesianProduct"),
      "semdedup must never go cartesian")
    graft.operators.OpCache.release()
  }

  test("q111 vocab coverage: top-k is TakeOrdered, never a full-vocab window") {
    // the global window runs AFTER the limit(30): a row_number over the
    // whole vocabulary would drag every distinct token into one partition
    val df = SparkEntry.queries("q111_vocab_coverage")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-30 must plan as TakeOrderedAndProject:\n$plan")
    // window input must be bounded by the take: the Window node appears
    // ABOVE the TakeOrdered in the tree (earlier line = closer to root)
    val lines = plan.linesIterator.toSeq
    val wIdx = lines.indexWhere(_.contains("Window"))
    val tIdx = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(wIdx >= 0 && tIdx > wIdx,
      s"window must consume the TakeOrdered output, not the full vocab:\n$plan")
  }

  test("q112 PQ: codebook and LUT joins broadcast, nothing goes cartesian") {
    val df = SparkEntry.queries("q112_pq_ann")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!plan.contains("CartesianProduct"), "PQ must never go cartesian")
    // every codebook/LUT attach is a KB-sized broadcast — a sort-merge
    // join on (sub, code) would shuffle the exploded corpus needlessly
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook joins must broadcast:\n${plan.take(3000)}")
    graft.operators.OpCache.release()
  }

  test("q100 span dedup: the corpus-wide span count shuffles no text") {
    // the corpus-wide occurrence count must aggregate bare
    // (key128, id, sidx) triples — the span strings (and the full span
    // ARRAY, which is the whole document) staying in their scan
    // partitions is the operator's entire 100 TB story
    val df = SparkEntry.queries("q100_span_dedup")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val keyExchanges = plan.split("\n\n").filter(b =>
      b.contains("Exchange") && b.contains("hashpartitioning(k1"))
    assert(keyExchanges.nonEmpty, s"no span-key exchange found:\n$plan")
    keyExchanges.foreach(b =>
      assert(!b.contains("span#") && !b.contains("__graft_span_arr") &&
        !b.contains("text#"),
        s"span text must not enter the key shuffle:\n$b"))
    assert(!plan.contains("CartesianProduct"), "span dedup must never go cartesian")
  }

  test("q121 substring spans: window strings die in their scan, merge window is per-doc") {
    // stride-1 windows are corpus-TOKEN-many, so only the bare
    // (k1, k2, id, pos) quads may shuffle; the interval merge must be a
    // doc-partitioned window, never a global sort
    val df = SparkEntry.queries("q121_substring_spans")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val keyExchanges = plan.split("\n\n").filter(b =>
      b.contains("Exchange") && b.contains("hashpartitioning(k1"))
    assert(keyExchanges.nonEmpty, s"no window-key exchange found:\n$plan")
    keyExchanges.foreach(b =>
      assert(!b.contains("__sh") && !b.contains("text#"),
        s"window text must not enter the key shuffle:\n$b"))
    // simple mode prints the window spec inline: every Window must be
    // partitioned by the doc id, never an empty (global) partition spec
    val simple = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    val windows = simple.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("__id")),
      s"interval-merge windows must partition by doc:\n${windows.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q101 incremental dedup: bloom pre-filter routes around the anti-join") {
    // the operator's 100 TB story: rows the corpus Bloom rejects are
    // definitely-new and bypass the anti-join entirely (union of two
    // paths); the join itself is LeftAnti on the 128-bit fingerprint and
    // nothing ever goes cartesian
    val df = SparkEntry.queries("q101_incremental_dedup")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("bloom_might_contain_long"),
      s"bloom pre-filter missing from plan:\n${plan.take(3000)}")
    assert(plan.contains("LeftAnti"), s"anti-join missing:\n${plan.take(3000)}")
    assert(plan.contains("Union"), s"two-path union missing:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      "incremental dedup must never go cartesian")
  }

  test("q102 incremental near-dup: banded bipartite join ships no signatures") {
    // both banded sides carry bare (id, band, bucket) triples — the
    // 64-long signature attaches per candidate pair, never rides the
    // candidate join (same slim shape as q32, gated for the bipartite form)
    val df = SparkEntry.queries("q102_incremental_neardup")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("band") && l.contains("bucket"))
      .getOrElse(fail(s"no band-bucket join in plan:\n$plan"))
    assert(!joinLine.contains("sig#") && !joinLine.contains("text#"),
      s"signature/text must not ride the candidate join:\n$joinLine")
    assert(!plan.contains("CartesianProduct"))
    graft.operators.OpCache.release()
  }

  test("q103/q104 text scoring: document text never enters a shuffle") {
    // perplexity shuffles (id, gram) pairs and vocab-bounded count tables;
    // bm25 shuffles only query-term (id, term, dl, tf) rows — in both, the
    // text column must die in its scan stage or the operator is quadratic
    // in shipped bytes at corpus scale
    for (q <- Seq("q103_perplexity", "q104_bm25")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // RoundRobin = the fixture wrapper's parallelize() spreading the one
      // unsplittable test file — input spread, not an operator shuffle (on
      // splittable storage it's metadata-only); every KEYED exchange must
      // be text-free
      plan.split("\n\n")
        .filter(b => b.contains("Exchange") &&
          !b.contains("RoundRobinPartitioning"))
        .foreach(b =>
          assert(!b.contains("text#") && !b.contains("__toks"),
            s"$q ships text through a shuffle:\n$b"))
      assert(!plan.contains("CartesianProduct"), s"$q went cartesian")
    }
  }

  test("q142 DSIR top-k is TakeOrdered, never a global sort") {
    val df = SparkEntry.queries("q142_dsir_topk")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k selection should TakeOrdered:\n$plan")
    assert(!plan.contains("Window"), s"q142 must not window:\n$plan")
  }

  test("q140 training order: one range exchange + sort, never a window") {
    // the scale claim: the per-epoch shuffle is a range-partitioned sort
    // (what a 100 TB epoch materialization must pay), NOT a global
    // row-numbering window that would serialize on one partition
    val df = SparkEntry.queries("q140_training_order")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"global order should range-partition:\n$plan")
    assert(!plan.contains("Window"), s"q140 must not window:\n$plan")
  }

  test("q156 training batches: packing windows are (epoch, shard)-" +
    "partitioned, never global; text never shuffles past the split") {
    // the composed flagship's scale claims: (a) the ONLY windows in the
    // plan are the sequence-packing running sums, partitioned by
    // (repeat_idx, shard) — no single-partition window at any stage;
    // (b) after the split assignment, everything downstream moves slim
    // (doc_id, lang, n_tok, keys) rows — document text must not enter a
    // keyed exchange beyond the curation/split stages that need it
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("q156_training_batches")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case q: QueryStageExec => windows(q.plan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => (other.children ++ other.subqueries).flatMap(windows)
    }
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty, "packing window missing from the executed plan")
    ws.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"q156 contains a GLOBAL (single-partition) window: $w")
      val parts = w.partitionSpec.map(_.toString).mkString(",")
      assert(parts.contains("repeat_idx") && parts.contains("shard"),
        s"packing window not (epoch, shard)-partitioned: $parts")
    }
    graft.operators.OpCache.release()
  }

  test("clusterSafeSplits: document text never enters a keyed exchange") {
    // the round-14 reshape's claim: every frame joined onto the corpus is
    // CLUSTER-bounded (representative fingerprints via semi-join; the
    // label frame), so under production settings (broadcast on — this
    // session's default) the corpus text reaches the output through
    // scans only, never a hash/range exchange
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = graft.operators.Curate.clusterSafeSplits(docs, "text",
      "doc_id", pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    out.collect()
    val plan = out.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    plan.split("\n\n")
      .filter(b => b.contains("Exchange") &&
        !b.contains("RoundRobinPartitioning"))
      .foreach(b => assert(!b.contains("text#"),
        s"clusterSafeSplits ships text through a keyed exchange:\n$b"))
    graft.operators.OpCache.release()
  }

  test("q139 corpus report: map-side metrics, text never enters the exchange") {
    val df = SparkEntry.queries("q139_corpus_report")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // per-row metrics (token count, quality, fingerprint) are computed in
    // the scan stage; the distinct-agg Expand then shuffles only
    // (source, fp/lang, small numerics)
    plan.split("\n\n")
      .filter(b => b.contains("Exchange") &&
        !b.contains("RoundRobinPartitioning"))
      .foreach(b => assert(!b.contains("text#"),
        s"q139 ships text through a shuffle:\n$b"))
    val simple = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert("HashAggregate".r.findAllIn(simple).size >= 2,
      s"partial+final agg expected:\n$simple")
  }

  test("q136 DSIR: text dies in its scans; score pass is fused + broadcast") {
    val df = SparkEntry.queries("q136_dsir_select")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the histogram pass shuffles bare INT buckets, the score pass gets the
    // log-ratio table as a broadcast 1-row frame — document text must never
    // enter a keyed exchange on either pass
    plan.split("\n\n")
      .filter(b => b.contains("Exchange") &&
        !b.contains("RoundRobinPartitioning"))
      .foreach(b => assert(!b.contains("text#"),
        s"q136 ships text through a shuffle:\n$b"))
    // per-doc weights come from the fused native expression (one codegen'd
    // token-array traversal), not an exploded per-feature join
    assert(plan.contains("ngram_bucket_weight_sum"),
      s"fused scoring expression missing:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row ratio table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), "q136 went cartesian")
  }

  test("q114 negative sampling: per-draw argmin is a partial-agg min_by, no window") {
    // each (anchor, draw) sees corpus/16^hexChars bucket candidates; a
    // row_number window would shuffle ALL of them to one task before
    // rank-1 selection — min_by must combine map-side so only one row per
    // (anchor, draw, partition) reaches the exchange
    val df = SparkEntry.queries("q114_negative_sampling")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(plan.contains("partial_min_by"),
      s"per-draw argmin must partially aggregate before the exchange:\n$plan")
    assert(!plan.contains("Window"),
      s"no window should survive in the sampling plan:\n$plan")
  }

  test("q103 perplexity: scoring join is keyed on hash lanes, not gram strings") {
    // the doc-side frame is corpus-token-sized; its shuffle key must be
    // the two 8-byte xxhash64 lanes, never the raw bigram string
    val df = SparkEntry.queries("q103_perplexity")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    plan.split("\n\n")
      .filter(b => b.contains("Exchange") && !b.contains("RoundRobinPartitioning"))
      .foreach(b => assert(!b.contains("hashpartitioning(g#")
        && !b.contains("hashpartitioning(w#"),
        s"shuffle keyed on a gram/word string:\n$b"))
    assert(plan.contains("xxhash64"),
      s"hash-lane keys missing from the perplexity plan:\n$plan")
  }

  test("q171 prototype prune: centroids broadcast back, rank window " +
    "exchanges scalars — the vector never rides the window shuffle") {
    // the 100 TB claims: (a) the |clusters|-row centroid frame must
    // broadcast (a SortMergeJoin here re-shuffles the full corpus on the
    // cluster key just to attach ~64 doubles); (b) the rank window's
    // exchange carries (id, cluster, cos) only — the probe measured 15×
    // shuffle inflation when the embedding rode into the window
    val plan = planOf("q171_prototype_prune")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not re-shuffle to attach centroids:\n$plan")
    // the Window nodes' input attributes (formatted-explain detail
    // blocks) must not include the vector column
    val winInputs =
      """\(\d+\) Window\s*\nInput \[[^\]]*\]""".r.findAllIn(plan).toList
    assert(winInputs.nonEmpty && winInputs.forall(!_.contains("embedding")),
      s"rank window must not carry the embedding:\n${winInputs.mkString("\n")}")
  }

  test("q170 unimax: one aggregation exchange, windows run on the " +
    "catalog-sized stratum frame") {
    // waterfilling is arithmetic over |strata| rows: the only data-sized
    // exchange is the token-count partial+final agg; a second data-sized
    // shuffle means the corpus leaked past the aggregate
    val df = SparkEntry.queries("q170_unimax")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"token counts must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no join belongs in the allocator plan:\n$plan")
  }

  test("IVF assignment is a zero-exchange map stage and PQ encode never " +
    "plans a SortAggregate (the corpus×k sort-spill trap)") {
    // centroids/codebooks are plan-time artifacts (NearestCells), so
    // assignment must compile to a per-row expression: the old
    // broadcast-join + max_by form planned a SortAggregate that sorted
    // the corpus×k joined stream (struct buffers are not hash-aggregable)
    // and spilled ENOSPC at the 500k probe decade
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity
      .trainCentroids(e, "embedding", "vec_id", 8)
    val p1 = graft.operators.Similarity
      .ivfAssign(e, cents, "embedding", "vec_id")
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p1.contains("SortAggregate"), s"assignment sorts:\n$p1")
    assert(!p1.contains("Exchange"), s"assignment must not shuffle:\n$p1")
    val p2 = graft.operators.Similarity
      .ivfAssignMulti(e, cents, "embedding", "vec_id", probes = 2)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p2.contains("SortAggregate") && !p2.contains("Exchange"),
      s"multi-probe assignment must stay a map stage:\n$p2")
    val cb = graft.operators.Quantize
      .trainCodebook(e, "embedding", "vec_id", dim = 64, m = 16, ksub = 8)
    val p3 = graft.operators.Quantize
      .encode(e, cb, "embedding", "vec_id", m = 16, subDim = 4)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p3.contains("SortAggregate"),
      s"encode sorts the subvector stream:\n$p3")
    graft.operators.OpCache.release()
  }

  test("whole-stage codegen covers the hot scan->filter->project pipeline") {
    // codegen explain mode reports the fused subtrees even under AQE
    val df = SparkEntry.queries("q02_filter_project")(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(plan.contains("WholeStageCodegen"), s"no codegen span:\n${plan.take(2000)}")
  }
}
