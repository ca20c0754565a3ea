package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.cosine

/**
 * Product quantization for embedding columns (Jégou, Douze & Schmid 2011,
 * "Product Quantization for Nearest Neighbor Search" — public): each
 * d-dim vector is cut into `m` contiguous subvectors, each subvector is
 * vector-quantized against its own `ksub`-codeword codebook, and the
 * vector is stored as `m` small integer codes — at d=64 floats (256 B)
 * and the shipped m=16/ksub=16 configuration that is 16 codes of 4 bits
 * (8 B, 32×): a 100 TB embedding store compresses to ~3 TB of codes
 * plus a KB-sized codebook, and ANN
 * search runs on codes without touching raw vectors (asymmetric distance
 * computation, [[pqScores]]). North-star operator: the reference has no
 * vector type at all (`stepist/app.py:20`).
 *
 * Geometry note: assignment and scoring use COSINE against codewords
 * (max similarity), consistent with every other operator in the
 * similarity tier ([[Similarity]], [[Dedup.embeddingNearDup]]); the
 * paper's L2 formulation is equivalent on the unit-ish fixture norms and
 * the choice is pinned by q112's recall/reconstruction verdicts.
 *
 * Scale shape: ONE corpus pass regardless of `m` — vectors explode to
 * (id, sub, subvec) rows, the codebook (m·ksub rows) broadcasts, and the
 * per-(id, sub) argmax collapses map-side exactly like
 * [[Similarity.ivfAssign]]; codes regroup to one row per id. Training
 * reuses the Lloyd loop per subspace over a caller-sized sample (the
 * paper trains on a sample too — pass the full frame only when it is
 * small).
 */
object Quantize {

  /**
   * Symmetric per-vector int8 scalar quantization — the standard 4×
   * embedding-store compression (scale = |x|max/127, code = round(x/scale)
   * toward +∞ via floor(·+0.5) so both engines round identically; a zero
   * vector quantizes to all-zero codes). Exact integer arithmetic both
   * sides, so unlike PQ this tier is ORACLE-checked, not verdict-gated.
   */
  def int8Scale(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_max(transform(vec, x => abs(x))).cast("double") / 127.0

  def int8Codes(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = int8Scale(vec)
    when(s === 0.0, transform(vec, _ => lit(0)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") / s + 0.5).cast("int")))
  }

  /** Dequantize: codes × scale (double lanes, for exact oracle parity). */
  def int8Reconstruct(codes: org.apache.spark.sql.Column,
                      scale: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    transform(codes, c => c.cast("double") * scale)

  /** (id, sub, subvec) exploded view — sub is 0-based, slices contiguous. */
  private def subvectors(df: DataFrame, vecCol: String, idCol: String,
                         m: Int, subDim: Int): DataFrame =
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          s => slice(col(vecCol), s * subDim + 1, lit(subDim))))
      .as(Seq("sub", "subvec")))

  /**
   * Per-subspace Lloyd-trained codebooks: (sub, code, codeword) with
   * `code` in [0, ksub), dense per subspace (Lloyd cells can drop out —
   * standard behavior without re-seeding).
   *
   * ALL `m` subspaces train in ONE joint Lloyd loop over the exploded
   * (id, sub, subvec) frame keyed by (sub, code): each iteration is a
   * single broadcast-join + map-side-argmax pass and one (sub, code)
   * re-estimation aggregate, regardless of m — the per-subspace
   * formulation (m independent loops) costs m× the corpus passes per
   * iteration and m·iters× the fixed job overhead, which dominated the
   * bench at small scale and would dominate scheduler load at large.
   * Seeding is the per-subspace analog of [[Similarity.trainCentroids]]:
   * the ksub hash-ordered subvectors of each subspace (deterministic,
   * decorrelated from id order). Each round materializes a KB-sized
   * codebook with lineage truncation ([[OpCache]] — release after use).
   */
  def trainCodebook(train: DataFrame, vecCol: String, idCol: String,
                    dim: Int, m: Int, ksub: Int, iters: Int = 2): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val vmean = udaf(graft.functions.Aggregators.VectorMean,
      ExpressionEncoder[Seq[Float]]())
    val subDim = dim / m
    val sv = subvectors(train, vecCol, idCol, m, subDim)
    val seedW = Window.partitionBy(col("sub"))
      .orderBy(xxhash64(col(idCol)), col(idCol))
    // each round's codebook is m·ksub rows by policy — a DRIVER-LOCAL
    // relation (the trainCentroids r19 note): one collect per round, and
    // [[collectCodebookSets]]'s collect plus every broadcast of the
    // codebook then runs zero further Spark jobs (LocalTableScan)
    val cap = math.max(m * ksub, 1024)
    var cb = OpCache.materializeLocal(sv
      .withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= ksub)
      .select(col("sub"), (col("rn") - 1).cast("int").as("code"),
        col("subvec").as("codeword")), cap)
    for (_ <- 0 until iters) {
      // per-row compiled argmax against the collected per-subspace
      // codebooks (NearestCellsIndexed) — the join + max_by form planned
      // as a SortAggregate over the (id, sub)×ksub joined stream (struct
      // buffers are not hash-aggregable; see Similarity.ivfAssign)
      val cbSets = collectCodebookSets(cb, m)
      val assigned = sv.select(col("sub"), col("subvec"),
        element_at(graft.functions.expressions.GraftExpressions
            .nearestCellsIndexed(col("subvec"), col("sub"), cbSets, 1), 1)
          .cast("int").as("code"))
      cb = OpCache.materializeLocal(assigned
        .groupBy(col("sub"), col("code"))
        .agg(vmean(col("subvec")).as("cw"))
        .select(col("sub"), col("code"),
          transform(col("cw"), x => x.cast("float")).as("codeword")), cap)
    }
    // dense re-code per subspace after possible cell dropout — localized
    // too (a window over a LocalRelation does not fold back to one, and
    // every consumer collect/broadcast of the codebook would re-run it
    // as a job otherwise)
    OpCache.materializeLocal(
      cb.withColumn("code", (row_number().over(
        Window.partitionBy(col("sub")).orderBy(col("code"))) - 1).cast("int")),
      cap)
  }

  /**
   * Encode: (idCol, codes array<int>) — codes(s) is the argmax-cosine
   * codeword of subspace s. One corpus pass: explode → per-row compiled
   * argmax against the collected per-subspace codebooks
   * ([[graft.functions.expressions.NearestCellsIndexed]] — the join +
   * max_by form sorted the (id, sub)×ksub stream through a
   * SortAggregate; struct orderings are not hash-aggregable) → regroup.
   * Tiebreak unchanged: equal cosine takes the smaller code.
   */
  def encode(df: DataFrame, codebook: DataFrame, vecCol: String,
             idCol: String, m: Int, subDim: Int): DataFrame = {
    val cbSets = collectCodebookSets(codebook, m)
    subvectors(df, vecCol, idCol, m, subDim)
      .select(col(idCol), col("sub"),
        element_at(graft.functions.expressions.GraftExpressions
            .nearestCellsIndexed(col("subvec"), col("sub"), cbSets, 1), 1)
          .cast("int").as("code"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code")).as("codes"))
  }

  /** Collected per-subspace codebooks as [[graft.functions.expressions.CentroidSet]]s
    * indexed by `sub` (m·ksub rows — policy-sized, the centroid-artifact
    * class). A subspace with no codewords is a caller bug and fails here. */
  private def collectCodebookSets(codebook: DataFrame, m: Int)
      : Array[graft.functions.expressions.CentroidSet] = {
    val rows = codebook
      .select(col("sub"), col("code").cast("long").as("code"),
        transform(col("codeword"), _.cast("double")).as("cw"))
      .collect()
      .groupBy(_.getInt(0))
    (0 until m).toArray.map { s =>
      val cw = rows.getOrElse(s,
        throw new IllegalArgumentException(s"codebook has no subspace $s"))
      new graft.functions.expressions.CentroidSet(
        cw.map(_.getLong(1)), cw.map(_.getSeq[Double](2).toArray))
    }
  }

  /** Decode: rebuild the approximate vector by concatenating codewords in
    * subspace order. Output (idCol, vecCol) with the reconstruction. */
  def decode(codes: DataFrame, codebook: DataFrame, vecCol: String,
             idCol: String): DataFrame =
    codes.select(col(idCol), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(codebook), Seq("sub", "code"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("codeword")))),
        x => x.getField("codeword"))).as(vecCol))

  /**
   * Asymmetric distance computation (ADC) scores: each query scores every
   * CODE by summing its per-subspace query×codeword similarities — raw
   * corpus vectors are never read at query time. The per-query lookup
   * table (m·ksub partial similarities) is an in-plan broadcast join;
   * scores group by (query, id) with map-side combine. Returns
   * (query_id, corpus_id, score) — rank/top-k is the caller's.
   */
  def pqScores(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
               vecCol: String, idCol: String, m: Int,
               subDim: Int): DataFrame = {
    val lut = queryLut(codebook, queries, vecCol, idCol, m, subDim)
    codes.select(col(idCol).as("corpus_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(sum(col("part")).as("score"))
  }

  /** Per-query ADC lookup table: (query_id, sub, code, part) — m·ksub
    * partial similarities per query, the KB-sized frame every ADC scan
    * broadcasts. */
  private def queryLut(codebook: DataFrame, queries: DataFrame,
                       vecCol: String, idCol: String, m: Int,
                       subDim: Int): DataFrame =
    subvectors(queries, vecCol, idCol, m, subDim)
      .withColumnRenamed(idCol, "query_id")
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        cosine(col("subvec"), col("codeword")).as("part"))

  /**
   * IVF-PQ top-k — the composed at-scale ANN shape (coarse quantizer
   * prunes, product codes score): corpus vectors are assigned to IVF
   * cells ([[Similarity.ivfAssign]]) and PQ-encoded ONCE; each query
   * probes its `nProbe` nearest cells and ADC-scores only the codes
   * inside them. This is the ad-hoc form (encode in-plan); at 100 TB use
   * [[writeCodeStore]] + [[ivfPqTopKFromStore]], whose
   * [[prunedCodeStore]] scan selects only the probed cells' directories
   * (path equivalence gated by q118). Do NOT serve via [[readCodeStore]]
   * + [[ivfPqTopKFromCodes]] directly — that reads EVERY cell (see
   * [[prunedCodeStore]]'s static-pruning contract).
   * Recall compounds the two approximations (cell pruning × code
   * quantization) — gated by q113's verdict against exact brute force.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                codebook: DataFrame, vecCol: String, idCol: String,
                m: Int, subDim: Int, k: Int, nProbe: Int = 2,
                includeSelf: Boolean = false): DataFrame =
    ivfPqTopKFromCodes(assembleCodes(corpus, centroids, codebook, vecCol,
        idCol, m, subDim),
      queries, centroids, codebook, vecCol, idCol, m, subDim, k, nProbe,
      includeSelf)

  /** The (idCol, codes, cell) frame both the ad-hoc path and the store
    * writer share: one IVF assignment pass + one PQ encode pass. */
  private def assembleCodes(corpus: DataFrame, centroids: DataFrame,
                            codebook: DataFrame, vecCol: String,
                            idCol: String, m: Int, subDim: Int): DataFrame = {
    val assigned = Similarity.ivfAssign(corpus, centroids, vecCol, idCol)
      .select(col(idCol), col("cell"))
    encode(corpus, codebook, vecCol, idCol, m, subDim)
      .join(assigned, Seq(idCol))
  }

  /**
   * Materialize the IVF-PQ code store PARTITIONED BY CELL — the at-scale
   * deployment shape the ad-hoc [[ivfPqTopK]] recomputes per query
   * batch: raw vectors are assigned and encoded ONCE at ingest; the
   * (id, codes, cell) rows are written with one parquet directory per
   * cell so every probe-time scan is pruned to the nProbe probed cells —
   * (corpus/cells)·nProbe·m bytes of codes, never the raw vectors, never
   * the unprobed cells. Serve with [[ivfPqTopKFromStore]]
   * ([[prunedCodeStore]] selects the probed cells' directories from the
   * manifest — see its scaladoc for why static pruning beats relying on
   * DPP here); pruning is execution-gated in PlanSpec and the scanned
   * bytes are measured in SURVEY §6. Reference analog: stepist's staged
   * materialized boundaries between steps
   * (`stepist/flow/workers/adapters/simple_queue.py:90-92`) — encode
   * once, serve many.
   *
   * The store is versioned from this first write: generation 1, the
   * `@models` artifact (centroids + codebook), the `@pq` geometry and
   * manifest v1. Every later lifecycle op (ingest, retract, retrain)
   * commits manifest v+1 by one atomic rename. There is no flat form and
   * no migration into this one.
   *
   * `versioned` is kept only because existing callers (perfbench's
   * traced code-store run) pass `versioned = true`; it must be true, and
   * `false` is refused.
   */
  def writeCodeStore(corpus: DataFrame, centroids: DataFrame,
                     codebook: DataFrame, vecCol: String, idCol: String,
                     m: Int, subDim: Int, path: String,
                     versioned: Boolean = true): Unit = {
    require(versioned, "writeCodeStore: every code store is versioned " +
      "(manifest + generations); versioned = false is not a store form")
    val spark = corpus.sparkSession
    require(codeStoreVersion(spark, path).isEmpty,
      s"writeCodeStore: $path already holds a code store " +
        "(retract/rebuild through its lifecycle ops instead)")
    // a write onto foreign content would strand it: the manifest serves
    // only the new generation, so the old files silently vanish from
    // reads yet are never GC'd (gcStore only collects gen-/models-/
    // manifest names). Refuse FOREIGN content — but graft's own
    // uncommitted artifact names (a crashed or empty-corpus FIRST
    // attempt leaves gen-/models- orphans and no manifest) must not wedge
    // the retry forever; they are exactly what the age GC collects once a
    // commit exists
    val fs = storeFs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val foreign = if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName).filterNot {
        case GenRe(_) | ModelsRe(_) | TmpManifestRe(_) => true
        case n => n.startsWith("_") // _SUCCESS-class markers
      }
    require(foreign.isEmpty,
      s"writeCodeStore: $path is not empty (${foreign.take(3).mkString(",")})" +
        " — write a code store into an empty or new directory")
    val codes =
      assembleCodes(corpus, centroids, codebook, vecCol, idCol, m, subDim)
    // generation first, models second: the empty-corpus refusal below
    // then leaves at most one orphan dir for the retry's age GC
    val entries = writeGeneration(spark, codes, path, 1L)
    require(entries.nonEmpty, "writeCodeStore: empty corpus")
    val models = writeModels(spark, path, 1L, centroids, codebook)
    commitManifest(spark, path, 1L, entries,
      Map("models" -> models, "pq" -> s"$m\t$subDim"))
  }

  /** Read a [[writeCodeStore]] store back: resolves the current manifest
    * and reads exactly the cell directories it lists — `cell` is a data
    * column, no partition inference. */
  def readCodeStore(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    val v = currentVersion(spark, path, "readCodeStore")
    spark.read.parquet(readManifest(spark, path, v)
      .map(e => s"${path.stripSuffix("/")}/${e._2}"): _*)
  }

  // ---- code store (manifest + immutable generations) ----------------

  // \d{6,}: the writer left-PADS to 6 digits but grows past them — a
  // {6}-anchored match would stop discovering manifests at v1,000,000
  // (a year of 30 s streaming micro-batches) and wedge the store
  private val ManifestRe = "_graft_manifest-v(\\d{6,})".r

  private def storeFs(spark: org.apache.spark.sql.SparkSession,
                      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All committed manifest versions at `path`, ascending. */
  private def existingManifests(spark: org.apache.spark.sql.SparkSession,
                                path: String): Seq[Long] = {
    val fs = storeFs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case ManifestRe(n) => n.toLong
    }.sorted
  }

  /** Highest committed manifest version at `path`; None = no code store
    * there. */
  def codeStoreVersion(spark: org.apache.spark.sql.SparkSession,
                       path: String): Option[Long] =
    existingManifests(spark, path).lastOption

  /** [[codeStoreVersion]] for an op that needs a store: the one "not a
    * code store" refusal every lifecycle and read op shares. */
  private def currentVersion(spark: org.apache.spark.sql.SparkSession,
                             path: String, op: String): Long =
    codeStoreVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$op: $path is not a code store (no manifest) — write it with " +
          "writeCodeStore"))

  private def manifestFile(path: String, v: Long) =
    new org.apache.hadoop.fs.Path(path, f"_graft_manifest-v$v%06d")

  /** Manifest = `@key<TAB>value` METADATA lines (sorted first: every
    * manifest carries `@models` → the model-artifact directory codes were
    * produced with, and `@pq` → the geometry, [[storedPq]]) followed by
    * sorted `cellValue<TAB>relativeCellDir` lines. */
  private def readManifestLines(spark: org.apache.spark.sql.SparkSession,
                                path: String, v: Long): Seq[(String, String)] = {
    val fs = storeFs(spark, path)
    val in = fs.open(manifestFile(path, v))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        .filter(_.nonEmpty)
        .map { l => val a = l.split("\t", 2); (a(0), a(1)) }
    } finally in.close()
  }

  /** The (cellValue, relativeCellDir) entries of manifest `v`. */
  private[graft] def readManifest(spark: org.apache.spark.sql.SparkSession,
                           path: String, v: Long): Seq[(String, String)] =
    readManifestLines(spark, path, v).filterNot(_._1.startsWith("@"))

  /** The `@key` metadata of manifest `v`, keys without the `@`. */
  private[graft] def readManifestMeta(spark: org.apache.spark.sql.SparkSession,
                                      path: String, v: Long)
      : Map[String, String] =
    readManifestLines(spark, path, v).collect {
      case (k, value) if k.startsWith("@") => (k.stripPrefix("@"), value)
    }.toMap

  /** Commit a manifest ATOMICALLY: write a NONCE-named `.tmp` (two racing
    * writers can never truncate each other's staging bytes), then one
    * no-overwrite rename — a concurrent reader resolves either version
    * v-1 or v, never a partial file. Refuses if the generation moved
    * underneath (a concurrent writer committed since this writer
    * resolved `expectPrev`) — checked BEFORE the rename, and enforced AT
    * the rename via `FileContext` without the OVERWRITE option, which
    * fails on an existing destination on every Hadoop filesystem
    * (plain `FileSystem.rename` silently replaces on POSIX local FS):
    * last-swap-wins would silently drop the other writer's cells. */
  private def commitManifest(spark: org.apache.spark.sql.SparkSession,
                             path: String, v: Long,
                             entries: Seq[(String, String)],
                             meta: Map[String, String] = Map.empty): Unit = {
    val fs = storeFs(spark, path)
    val cur = codeStoreVersion(spark, path)
    require(cur.forall(_ == v - 1),
      s"codeStore commit: generation moved (expected v${v - 1}, found " +
        s"${cur.fold("none")(c => s"v$c")}) — concurrent writer detected; " +
        "retry against the current manifest")
    val tmp = new org.apache.hadoop.fs.Path(path,
      f"_graft_manifest-v$v%06d.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(
      (meta.toSeq.sortBy(_._1).map { case (k, x) => s"@$k\t$x" } ++
        entries.sortBy(_._1).map { case (c, d) => s"$c\t$d" })
        .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new org.apache.hadoop.fs.Path(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    try fc.rename(tmp, manifestFile(path, v)) // no OVERWRITE: exclusive
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        throw new IllegalArgumentException(
          s"codeStore commit: manifest v$v already exists — concurrent " +
            "writer detected; retry against the current manifest", e)
      case e: java.io.FileNotFoundException =>
        // a racing commit's GC collected this writer's staging file (its
        // target version had fallen to the age/floor gate) — the commit
        // was doomed either way; refuse with the same message instead of
        // surfacing a raw FS error (uniform refusal path)
        throw new IllegalArgumentException(
          s"codeStore commit: manifest v$v staging file vanished — " +
            "concurrent writer detected; retry against the current manifest",
          e)
    }
  }

  /** Write one immutable GENERATION under `path/gen-%06d-<nonce>`: one
    * directory and one file per cell, `cell` kept as a DATA column (the
    * partition helper column is `pcell`, cosmetic) so readers address
    * leaf directories directly. The nonce makes the directory unique per
    * ATTEMPT — two writers racing toward the same target version can
    * never clobber each other's data files; the loser's orphan directory
    * is GC'd at the next successful commit. Returns (cellValue,
    * relativeDir) entries for the cells that actually produced rows. */
  private def writeGeneration(spark: org.apache.spark.sql.SparkSession,
                              codes: DataFrame, path: String,
                              gen: Long): Seq[(String, String)] = {
    val genDir =
      f"gen-$gen%06d-${java.util.UUID.randomUUID().toString.take(8)}"
    codes.repartition(col("cell")) // one file per cell (store note above)
      .withColumn("pcell", col("cell"))
      .write.mode("overwrite").partitionBy("pcell")
      .parquet(s"${path.stripSuffix("/")}/$genDir")
    val fs = storeFs(spark, path)
    fs.listStatus(new org.apache.hadoop.fs.Path(path, genDir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("pcell="))
      .map(d => (d.stripPrefix("pcell="), s"$genDir/$d"))
  }

  /** Persist the store's MODEL artifacts (IVF centroids + PQ codebook)
    * under `path/models-%06d-<nonce>/{centroids,codebook}` — the models
    * are part of the store's state (codes are meaningless without the
    * models that produced them), referenced from the manifest (`@models`)
    * so readers always pair the two, and GC'd exactly like generations
    * (nonce-unique per attempt, collected once no surviving manifest
    * references them and the version gate passes). Returns the relative
    * directory for the manifest's `@models` line. The two writes are
    * independent and run as overlapping jobs. */
  private def writeModels(spark: org.apache.spark.sql.SparkSession,
                          path: String, gen: Long, centroids: DataFrame,
                          codebook: DataFrame): String = {
    val dir =
      f"models-$gen%06d-${java.util.UUID.randomUUID().toString.take(8)}"
    val base = path.stripSuffix("/")
    Par.par2(
      centroids.write.mode("overwrite").parquet(s"$base/$dir/centroids"),
      codebook.write.mode("overwrite").parquet(s"$base/$dir/codebook"))
    dir
  }

  /** Persist the store's held-id Bloom filter (Bloom 1970) under
    * `path/bloom-%06d-<nonce>` — a manifest artifact exactly like
    * `@models` (nonce-unique per attempt, referenced via `@bloom`, GC'd
    * once unreferenced). Serialized with the sketch's own
    * `writeTo`/`readFrom` wire format. */
  private def writeBloomArtifact(spark: org.apache.spark.sql.SparkSession,
                                 path: String, gen: Long,
                                 bloom: org.apache.spark.util.sketch.BloomFilter)
      : String = {
    val name =
      f"bloom-$gen%06d-${java.util.UUID.randomUUID().toString.take(8)}"
    val out = storeFs(spark, path)
      .create(new org.apache.hadoop.fs.Path(path, name), true)
    try bloom.writeTo(out) finally out.close()
    name
  }

  private def readBloomArtifact(spark: org.apache.spark.sql.SparkSession,
                                path: String, rel: String)
      : org.apache.spark.util.sketch.BloomFilter = {
    val in = storeFs(spark, path)
      .open(new org.apache.hadoop.fs.Path(path, rel))
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** Build a Bloom over `df`'s id column in the store's 64-bit hash lane
    * (`xxhash64(id)` — id type stays arbitrary, the filter holds longs;
    * the same lane the membership check probes). Geometry (items, fpp)
    * must match the store's recorded `@bloomgeom` for `mergeInPlace`
    * compatibility — same (n, p) derives the same bit size and hash
    * count. */
  private def buildIdBloom(df: DataFrame, idCol: String, items: Long,
                           fpp: Double)
      : org.apache.spark.util.sketch.BloomFilter =
    df.stat.bloomFilter(
      org.apache.spark.sql.functions.xxhash64(col(idCol)), items, fpp)

  /** Row cap for a driver-resolved model frame (centroids / codebooks) —
    * far above any policy-sized model (thousands of rows), far below
    * anything data-sized. */
  private val ModelFrameCap = 65536

  /**
   * Record a HELD-ID Bloom filter in the manifest (`@bloom` artifact +
   * `@bloomgeom` = `expectedItems\tfpp\tidCol`) — the `corpusBloom`
   * discipline from the fingerprint tier applied to the code store's
   * `fullIdCheck` ingest path: with the sidecar, an arbitrary-binding
   * idempotence check screens the batch against the Bloom FIRST
   * (codegen'd [[graft.functions.expressions.BloomMightContainLong]]
   * over `xxhash64(id)`) and reads the store's cell files ONLY when a
   * batch id is Bloom-POSITIVE — a genuinely-new batch pays O(batch)
   * compute and ZERO store reads, where the legacy scan read every
   * cell's id column per batch (O(store ids), the one `fullIdCheck`
   * cost that grew with the store).
   *
   * Correctness does not depend on the filter: a Bloom has no false
   * negatives over what was PUT in it (every committing ingest merges
   * its new ids in before the manifest rename — same atomic commit), so
   * a held id can never be waved through; false positives only route
   * rows to the exact anti-join. Retraction deliberately leaves the
   * Bloom stale-CONSERVATIVE (a removed id stays positive): the exact
   * check then finds it absent and the re-ingest proceeds — correct,
   * just unscreened (QuantizeSpec-gated as the deterministic
   * "false-positive" case).
   *
   * SIZING is a per-BATCH contract, not per-row: ONE false positive in
   * a batch triggers the exact fallback for that whole batch (the store
   * id read is all-or-nothing), so the zero-read probability for a
   * B-id batch is (1−fpp)^B — at the classic 0.01 a 1k-id batch would
   * read the store almost every time. The default is therefore
   * `fpp = 1e-5` (P(zero-read) ≈ 99% at B = 1k, ~2.4× the bits of a
   * 0.01 filter — still ~3 MiB per million ids), and a store that
   * outgrows `expectedItems` degrades fpp, never correctness. The
   * degradation is GRACEFUL either way: a screened batch that does trip
   * a positive pays exactly the legacy scan, never more. Re-run this op
   * (or [[retrainCodeStore]], which rebuilds the filter over the new
   * corpus) to reseed at a larger capacity.
   *
   * One O(store ids) build pass, committed as manifest v+1 with the
   * cell entries unchanged — concurrent writers are refused by the
   * standard generation CAS.
   */
  def enableCodeStoreIdBloom(spark: org.apache.spark.sql.SparkSession,
                             path: String, idCol: String,
                             expectedItems: Long,
                             fpp: Double = 1e-5): Unit = {
    val v = currentVersion(spark, path, "enableCodeStoreIdBloom")
    val bloom =
      buildIdBloom(readCodeStore(spark, path), idCol, expectedItems, fpp)
    val rel = writeBloomArtifact(spark, path, v + 1, bloom)
    // a fresh filter has no retraction staleness — reset the ledger
    commitManifest(spark, path, v + 1, readManifest(spark, path, v),
      readManifestMeta(spark, path, v) - "bloomstale" ++ Map(
        "bloom" -> rel, "bloomgeom" -> s"$expectedItems\t$fpp\t$idCol"))
    gcStore(spark, path, Seq(v, v + 1))
  }

  /** The held-id Bloom the CURRENT manifest references (None = sidecar
    * never enabled). Probes in the `xxhash64(id)` lane — see
    * [[enableCodeStoreIdBloom]]. */
  def storedIdBloom(spark: org.apache.spark.sql.SparkSession, path: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    codeStoreVersion(spark, path).flatMap { v =>
      readManifestMeta(spark, path, v).get("bloom")
        .map(readBloomArtifact(spark, path, _))
    }

  /**
   * Ingest-append for the code store — the growth half of its
   * lifecycle ([[Dedup.ingestBatchSemDedup]]'s discipline applied to the
   * ANN-serving artifact): encode and assign the batch with the STORED
   * models (pass the frames [[storedPq]] resolves — re-training would
   * shift every cell boundary and invalidate old codes), SKIP ids the
   * store already holds (idempotence: a crash-replayed batch appends
   * nothing, so a streaming wrapper inherits exactly-once effect), then
   * rewrite ONLY the touched cells into a new generation (old cell rows ∪
   * new codes — each touched cell comes back as ONE file, so ingest is
   * self-compacting; probe-time file counts never grow with ingest
   * cadence) and commit by one atomic manifest rename. Untouched cells
   * are re-listed, never read. Afterwards the store equals a one-shot
   * [[writeCodeStore]] over the union (QuantizeSpec-gated) and manifest
   * pruning is intact. Returns the newly-ingested (idCol, codes, cell)
   * rows. Concurrent-writer and reader guarantees are
   * [[removeFromCodeStore]]'s (same commit path).
   *
   * BOUNDED IDEMPOTENCE CHECK — the per-batch read does not scale with
   * the store: the already-held anti-join reads only the cells the batch
   * ASSIGNS to, because with the stored models the same (id, vector)
   * always lands in the same cell — an already-held id can only collide
   * inside its own assigned cell. Total per-ingest I/O is therefore
   * O(assigned cells), execution-gated in QuantizeSpec (every
   * NON-assigned cell's files are corrupted before an ingest, which must
   * still succeed) and priced in SURVEY §6. The one case
   * this contract excludes: re-ingesting an id with a DIFFERENT vector
   * may assign to a different cell, escape the check, and store the id
   * twice — id→vector bindings must be stable across ingests (a changed
   * document is a retract + re-ingest, [[removeFromCodeStore]] first,
   * the same discipline the raw-vector store needs anyway for
   * [[ivfPqRerank]]'s drift contract). Callers that cannot guarantee it
   * pass `fullIdCheck = true` for the exact arbitrary-binding check —
   * with the [[enableCodeStoreIdBloom]] sidecar recorded, that check is
   * Bloom-SCREENED (O(batch) compute; store files are read only for
   * Bloom-positive ids, so a genuinely-new batch reads NOTHING); without
   * the sidecar, the legacy whole-store id scan (O(store ids) per batch).
   *
   * In-batch duplicate ids are collapsed (`dropDuplicates(idCol)`) before
   * the anti-join — duplicates WITHIN one batch would otherwise all
   * survive a store-only check and serve the same corpus_id twice,
   * permanently (a later replay sees the id held and no-ops).
   */
  def ingestBatchCodeStore(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, centroids: DataFrame,
      codebook: DataFrame, vecCol: String, idCol: String,
      m: Int, subDim: Int, fullIdCheck: Boolean = false): DataFrame =
    ingestCodeStore(spark, path, batch, centroids, codebook, vecCol, idCol,
      m, subDim, fullIdCheck, expectModels = None)

  private def ingestCodeStore(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, centroids: DataFrame,
      codebook: DataFrame, vecCol: String, idCol: String,
      m: Int, subDim: Int, fullIdCheck: Boolean,
      expectModels: Option[String]): DataFrame = {
    val v = currentVersion(spark, path, "ingestBatchCodeStore")
    val base = path.stripSuffix("/")
    val meta = readManifestMeta(spark, path, v)
    // a geometry-changing retrain commits @pq with the new split; a
    // caller still holding the OLD models would otherwise merge
    // m-element code rows into a store whose manifest claims a different
    // m — mixed-geometry rows that ADC then scores as garbage. Model
    // CONTENT at the same geometry cannot be checked from frames — the
    // Stored form closes that by pinning the @models identity instead.
    meta.get("pq").foreach { pq =>
      require(pq == s"$m\t$subDim",
        s"ingestBatchCodeStore: $path records PQ geometry " +
          s"${pq.replace("\t", "/")} but the batch was encoded at " +
          s"$m/$subDim — the stored models moved (retrain committed?); " +
          "re-resolve via ingestBatchCodeStoreStored or storedPq")
    }
    expectModels.foreach { d =>
      require(meta.get("models").contains(d),
        s"ingestBatchCodeStore: $path's models moved (expected $d, found " +
          s"${meta.getOrElse("models", "none")}) — a retrain committed " +
          "since the models were resolved; retry against the current store")
    }
    val entries = readManifest(spark, path, v)
    // encode/assign FIRST (batch-bounded compute, no store I/O) — the
    // assignment is what bounds the idempotence read to the batch's cells
    val batchCodes = OpCache.materialize(assembleCodes(
      batch.dropDuplicates(Seq(idCol)), centroids, codebook, vecCol, idCol,
      m, subDim))
    val assigned = batchCodes.select(col("cell").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet // batch-bounded driver list
    if (assigned.isEmpty) return batchCodes // empty batch
    // held-id Bloom sidecar ([[enableCodeStoreIdBloom]]): loaded once
    // per ingest when the manifest records one — screens the fullIdCheck
    // path below and is re-merged before the commit
    require(meta.contains("bloom") == meta.contains("bloomgeom"),
      s"ingestBatchCodeStore: $path's manifest records one of " +
        "@bloom/@bloomgeom without the other — a filter without its " +
        "geometry cannot be maintained (and would go stale, breaking " +
        "the no-false-negatives invariant); re-run enableCodeStoreIdBloom")
    val bloomGeom = meta.get("bloomgeom").map { g =>
      val a = g.split("\t", 3)
      require(a(2) == idCol,
        s"ingestBatchCodeStore: $path's id Bloom is over column " +
          s"'${a(2)}' but the batch keys on '$idCol' — the sidecar " +
          "would screen the wrong lane; re-enable it on the new column")
      (a(0).toLong, a(1).toDouble)
    }
    val storeBloom = meta.get("bloom").map(readBloomArtifact(spark, path, _))
    val newCodes = (fullIdCheck, storeBloom) match {
      case (true, Some(bloom)) =>
        // arbitrary-binding check, Bloom-screened: negatives are
        // DEFINITELY new (no false negatives — every committed ingest
        // merged its ids in under the same manifest rename); only
        // positives pay the exact whole-store anti-join, and a batch
        // with zero positives reads NO store files at all
        val maybeHeld = graft.functions.expressions.GraftExpressions
          .bloomMightContainLong(bloom,
            org.apache.spark.sql.functions.xxhash64(col(idCol)))
        val positives = batchCodes.filter(maybeHeld)
        val resolved =
          if (positives.isEmpty) batchCodes.filter(!maybeHeld)
          else batchCodes.filter(!maybeHeld).unionByName(positives.join(
            spark.read.schema(batchCodes.schema)
              .parquet(entries.map(e => s"$base/${e._2}"): _*)
              .select(col(idCol)),
            Seq(idCol), "left_anti"))
        OpCache.materialize(resolved)
      case _ =>
        val checkDirs = (if (fullIdCheck) entries
          else entries.filter(e => assigned(e._1))).map(e => s"$base/${e._2}")
        // skip already-held ids (idempotence; reads only checkDirs' files)
        if (checkDirs.isEmpty) batchCodes
        else OpCache.materialize(batchCodes.join(
          spark.read.schema(batchCodes.schema).parquet(checkDirs: _*)
            .select(col(idCol)),
          Seq(idCol), "left_anti"))
    }
    val touched = newCodes.select(col("cell").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet // batch-bounded driver list
    if (touched.isEmpty) return newCodes // replay: nothing new, no commit
    val touchedOld = entries.filter(e => touched(e._1))
    val oldRows = if (touchedOld.isEmpty) newCodes.filter(lit(false))
      else spark.read.schema(batchCodes.schema)
        .parquet(touchedOld.map(e => s"$base/${e._2}"): _*)
    val merged = oldRows.unionByName(
      newCodes.select(oldRows.columns.toIndexedSeq.map(col): _*))
    val freshEntries = writeGeneration(spark, merged, path, v + 1)
    // Bloom maintenance: the new ids merge into the sidecar BEFORE the
    // manifest rename, so the filter committed with generation v+1
    // covers every id v+1 holds — the no-false-negatives invariant the
    // screened check above relies on. Same (items, fpp) geometry as the
    // recorded filter, so mergeInPlace is structurally compatible.
    val outMeta = (storeBloom, bloomGeom) match {
      case (Some(bloom), Some((items, fpp))) =>
        bloom.mergeInPlace(buildIdBloom(newCodes, idCol, items, fpp))
        meta + ("bloom" -> writeBloomArtifact(spark, path, v + 1, bloom))
      case _ => meta
    }
    commitManifest(spark, path, v + 1,
      entries.filterNot(e => touched(e._1)) ++ freshEntries,
      outMeta) // models pointer + geometry (+ id Bloom) survive ingest
    gcStore(spark, path, Seq(v, v + 1))
    newCodes
  }

  private val TmpManifestRe = "_graft_manifest-v(\\d{6,})\\.tmp-.*".r
  // anchored like ManifestRe: a foreign directory that merely starts with
  // "gen-"/"models-" (or has a non-digit version) must be SKIPPED, not
  // throw from a toLong on an empty digit prefix — gcStore runs after
  // every commit, so one stray name would wedge every later lifecycle op
  private val GenRe = "gen-(\\d{6,})-.*".r
  private val ModelsRe = "models-(\\d{6,})-.*".r
  private val BloomArtifactRe = "bloom-(\\d{6,})-.*".r

  /** Orphans whose target version is PAST the floor but at or below the
    * CURRENT manifest cannot belong to an in-flight writer (those always
    * target current+1) — but for a moment they are indistinguishable from
    * a still-racing DOOMED writer's staging artifacts, so they are only
    * collected once untouched for this long. 24 h: far past any write
    * job's lifetime, short enough that a quiet store doesn't hoard crash
    * debris for months (see [[gcCodeStore]]). */
  private[graft] val DefaultOrphanHorizonMs: Long = 24L * 3600 * 1000

  /** One-level-deep idleness, shared by the commit-time and quiet-store
    * sweeps (one definition — the two sweeps must never disagree about
    * whether the same orphan is collectible): a writer creating files
    * inside pcell= children bumps the child dir's mtime even when the
    * top dir's is stale. */
  private def idleSince(fs: org.apache.hadoop.fs.FileSystem, cutoff: Long)
                       (st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.getModificationTime < cutoff && (!st.isDirectory ||
      fs.listStatus(st.getPath).forall(_.getModificationTime < cutoff))

  /** Drop manifests STRICTLY OLDER than the grace floor
    * (`keepVersions.min`) and any generation/models artifact no surviving
    * manifest references (a cell directory superseded two commits ago
    * serves no reader that resolved v or v-1). Version gates keep this
    * safe against CONCURRENT writers, whose artifacts are never this
    * GC's to delete:
    *  - a manifest at or above the floor is never dropped, even if it
    *    landed after the caller's snapshot;
    *  - an UNREFERENCED generation/models dir (or crashed `.tmp-`
    *    staging file) is dropped when the version its NAME targets is ≤
    *    the floor (strictly < for `.tmp-`: a doomed racer targeting
    *    exactly the floor must be REFUSED by its own commit, not trip a
    *    raw FileNotFoundException mid-rename) — an in-flight writer's
    *    artifacts always target a version past the current one, so they
    *    are structurally spared; a crash orphan is collected once the
    *    floor passes its target (one or two commits later,
    *    QuantizeSpec-gated);
    *  - AGE FALLBACK for quiet stores: an unreferenced artifact whose
    *    target is past the floor but ≤ the CURRENT version — a floor
    *    that never advances would otherwise keep it forever — is
    *    collected once untouched for `horizonMs`. An orphan targeting
    *    current+1 is indistinguishable from an in-flight writer by
    *    version alone and is NEVER age-collected; the next successful
    *    commit moves `current` onto it, after which age (or the floor)
    *    picks it up. */
  private def gcStore(spark: org.apache.spark.sql.SparkSession,
                      path: String, keepVersions: Seq[Long],
                      horizonMs: Long = DefaultOrphanHorizonMs): Unit = {
    val fs = storeFs(spark, path)
    val floor = keepVersions.min
    val manifests = existingManifests(spark, path)
    val current = manifests.last // gcStore only runs on committed stores
    val surviving = manifests.filter(_ >= floor)
    val refd = surviving
      .flatMap(v => readManifest(spark, path, v)).map(_._2).toSet
    val refdModels = surviving
      .flatMap(v => readManifestMeta(spark, path, v).get("models")).toSet
    val refdBlooms = surviving
      .flatMap(v => readManifestMeta(spark, path, v).get("bloom")).toSet
    val cutoff = System.currentTimeMillis() - horizonMs
    val idle = idleSince(fs, cutoff) _
    def doomed(n: Long, st: org.apache.hadoop.fs.FileStatus): Boolean =
      n <= floor || (n <= current && idle(st))
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq.foreach { st =>
      st.getPath.getName match {
        case ManifestRe(n) if n.toLong < floor => fs.delete(st.getPath, false)
        case TmpManifestRe(n) if n.toLong < floor ||
            (n.toLong <= current && idle(st)) =>
          fs.delete(st.getPath, false) // crashed commit's staging file
        case g @ GenRe(n) if doomed(n.toLong, st) =>
          val leaves = fs.listStatus(st.getPath).toSeq
            .filter(_.getPath.getName.startsWith("pcell="))
          leaves.filterNot(l => refd(s"$g/${l.getPath.getName}"))
            .foreach(l => fs.delete(l.getPath, true))
          if (fs.listStatus(st.getPath).toSeq
            .forall(!_.getPath.getName.startsWith("pcell=")))
            fs.delete(st.getPath, true) // only _SUCCESS markers left
        case ms @ ModelsRe(n) if !refdModels(ms) && doomed(n.toLong, st) =>
          fs.delete(st.getPath, true)
        case bl @ BloomArtifactRe(n) if !refdBlooms(bl) &&
            doomed(n.toLong, st) =>
          fs.delete(st.getPath, false) // sidecar is one file, not a dir
        case _ => ()
      }
    }
  }

  /**
   * Maintenance sweep for QUIET stores: commit-time GC only runs when a
   * commit happens, so a crashed writer's orphan on a low-write store
   * would otherwise survive until a floor that may never advance. Applies
   * the same version gates as commit-time GC (current + one grace
   * manifest kept) plus the age fallback: an unreferenced artifact whose
   * target version is ≤ the current manifest and that has been untouched
   * for `orphanHorizonMs` is collected. No-op on a path with no store.
   * Safe to run concurrently with readers and writers — everything a
   * surviving manifest references, and every artifact an in-flight
   * writer could own (target > current, or younger than the horizon),
   * is structurally spared (QuantizeSpec-gated).
   *
   * CURRENT+1 orphans (a writer that crashed after staging its
   * generation but before its manifest rename) are indistinguishable
   * from an in-flight writer by version alone, so no sweep may delete
   * them directly — a merely-STALLED writer's later commit would then
   * reference deleted files and corrupt the store. Once such an orphan
   * has been idle past the horizon, this sweep instead ADVANCES past it:
   * it commits a NO-OP manifest at current+1 (identical entries and
   * meta) through the same exclusive-rename CAS every writer uses. If a
   * live writer wins the race, our commit is refused and nothing
   * happens (its commit advanced `current` anyway); if we win, a stalled
   * writer's eventual commit is REFUSED by the generation check — the
   * standard loud retry path, never corruption — and the orphan, now
   * targeting the CURRENT version, falls to the ordinary age gate
   * (QuantizeSpec-gated both ways). This closes the one residual from
   * r15: a fully quiescent store no longer hoards a crash orphan
   * forever.
   */
  def gcCodeStore(spark: org.apache.spark.sql.SparkSession, path: String,
                  orphanHorizonMs: Long = DefaultOrphanHorizonMs): Unit = {
    val ms = existingManifests(spark, path)
    // floor = current-1 even when only ONE manifest exists: a v1 store's
    // floor must not reach v1, or a still-racing doomed initial writer's
    // generation would fall to the VERSION gate with no age protection
    if (ms.isEmpty) return
    gcStore(spark, path, Seq(ms.last - 1, ms.last), orphanHorizonMs)
    val cur = ms.last
    val fs = storeFs(spark, path)
    val cutoff = System.currentTimeMillis() - orphanHorizonMs
    val idle = idleSince(fs, cutoff) _
    val refd =
      readManifest(spark, path, cur).map(_._2.split("/", 2)(0)).toSet ++
        readManifestMeta(spark, path, cur).get("models") ++
        readManifestMeta(spark, path, cur).get("bloom")
    val hasIdleNextOrphan =
      fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq.exists { st =>
        val n = st.getPath.getName match {
          case GenRe(n) => Some(n.toLong)
          case ModelsRe(n) => Some(n.toLong)
          case BloomArtifactRe(n) => Some(n.toLong)
          case _ => None
        }
        n.contains(cur + 1) && !refd(st.getPath.getName) && idle(st)
      }
    if (hasIdleNextOrphan) {
      val advanced = try {
        commitManifest(spark, path, cur + 1,
          readManifest(spark, path, cur), readManifestMeta(spark, path, cur))
        true
      } catch {
        // a live writer won the CAS — its commit advanced current past
        // the orphan's target, which the next sweep's age gate collects
        case _: IllegalArgumentException => false
      }
      // outside the catch: only the CAS loss is swallowed — a genuine
      // failure in the post-advance sweep must surface, not leave the
      // orphan silently uncollected
      if (advanced) gcStore(spark, path, Seq(cur, cur + 1), orphanHorizonMs)
    }
  }

  /**
   * Retraction for the IVF-PQ code store — the takedown half of
   * [[writeCodeStore]]'s lifecycle ([[Rank.removeFromIndex]]'s sibling:
   * a removed document's CODES are derived data and must go, not be
   * tombstoned). The store is cell-PARTITIONED, which
   * [[Layout.rewriteBucketed]] refuses — this is the per-partition
   * rewrite that refusal message points at: only the partitions
   * CONTAINING removed ids are rewritten, everything else is untouched.
   *
   * Survivors of the affected cells land in a new immutable generation
   * and the swap is ONE atomic manifest rename — concurrent readers
   * always see a complete cell set (reader-loop-gated in QuantizeSpec);
   * concurrent WRITERS are detected by the generation check and refused,
   * never silently overwritten ([[removeVersioned]]).
   *
   * Afterwards [[ivfPqTopKFromStore]] returns nothing for removed ids
   * and is identical to a store rebuilt from the remaining corpus
   * (QuantizeSpec-gated), and [[prunedCodeStore]]'s manifest pruning is
   * untouched (the layout is still one directory per cell).
   * Cost is O(affected cells), not O(store) — SURVEY §6 prices both
   * the clustered takedown (cells-proportional) and the fully scattered
   * worst case (approaches rebuild).
   */
  def removeFromCodeStore(spark: org.apache.spark.sql.SparkSession,
                          path: String, removedIds: DataFrame,
                          idCol: String): Unit =
    removeVersioned(spark, path, removedIds, idCol,
      currentVersion(spark, path, "removeFromCodeStore"))

  /**
   * Retraction against a resolved manifest `v`: survivors of the affected cells land in
   * a NEW immutable generation, every untouched cell keeps its old
   * directory, and the swap is ONE manifest rename — atomic for
   * concurrent readers (the [[Layout.rewriteBucketed]] view-repoint
   * argument; QuantizeSpec reader-loop gated). Still O(affected cells): untouched
   * cells are never read or rewritten, only re-listed in the manifest.
   * Fully-emptied cells simply leave the manifest (no in-place directory
   * delete). A concurrent-writer
   * commit between resolve and swap is REFUSED by the generation check
   * in [[commitManifest]] rather than silently overwritten.
   */
  private[graft] def removeVersioned(spark: org.apache.spark.sql.SparkSession,
                              path: String, removedIds: DataFrame,
                              idCol: String, v: Long): Unit = {
    // early refusal on a stale snapshot (cheap; the commit-time check in
    // commitManifest still covers the resolve→commit window, and unique
    // generation names make even that window clobber-free)
    val cur = codeStoreVersion(spark, path)
    require(cur.contains(v),
      s"removeFromCodeStore: generation moved (expected v$v, found " +
        s"${cur.fold("none")(c => s"v$c")}) — concurrent writer detected; " +
        "retry against the current manifest")
    val base = path.stripSuffix("/")
    val entries = readManifest(spark, path, v)
    val store = spark.read.parquet(entries.map(e => s"$base/${e._2}"): _*)
    val gone = removedIds.toDF(idCol).distinct()
    // removal-batch-bounded driver list (prunedCodeStore discipline);
    // the per-cell counts ride the same pass — their sum is the exact
    // number of store rows this retraction removes, which feeds the
    // Bloom staleness ledger below at zero extra I/O
    val affectedCounts = store.join(gone, Seq(idCol), "left_semi")
      .groupBy(col("cell").cast("string").as("cell")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val affected = affectedCounts.map(_._1).toSet
    val removedRows = affectedCounts.map(_._2).sum
    if (affected.isEmpty) return
    val affDirs = entries.filter(e => affected(e._1))
      .map(e => s"$base/${e._2}")
    val survivors = spark.read.schema(store.schema)
      .parquet(affDirs: _*).join(gone, Seq(idCol), "left_anti")
    val fresh = writeGeneration(spark, survivors, path, v + 1)
    val merged = entries.filterNot(e => affected(e._1)) ++ fresh
    // refuse BEFORE the swap: an empty manifest would serve nothing and
    // readCodeStore could no longer infer a schema
    if (merged.isEmpty) {
      // the (empty) generation just written is an orphan; gcStore's
      // version gate collects it once the floor passes its target —
      // never immediately, because an identically-named in-flight
      // concurrent writer's generation is indistinguishable from ours
      gcStore(spark, path, existingManifests(spark, path))
      throw new IllegalArgumentException(
        "removeFromCodeStore: retraction would empty the store " +
          "(drop the store directory instead)")
    }
    // Bloom hygiene: retraction leaves the held-id sidecar
    // stale-CONSERVATIVE (removed ids stay positive — correct, just
    // unscreened), but HEAVY retraction accumulates stale positives
    // until the filter's effective screening power is gone. The
    // `bloomstale` meta key ledgers rows removed since the filter was
    // last (re)built; once it crosses [[BloomRebuildStaleFraction]] of
    // the recorded capacity, the filter is rebuilt over the surviving
    // store under the SAME commit — one O(store ids) pass, amortized
    // over ≥ staleFraction×capacity retractions, after which retracted
    // ids screen as definitely-new again (QuantizeSpec-gated both
    // sides of the threshold).
    val meta0 = readManifestMeta(spark, path, v)
    val outMeta = meta0.get("bloomgeom") match {
      case Some(g) if meta0.contains("bloom") =>
        val a = g.split("\t", 3)
        val stale =
          meta0.get("bloomstale").map(_.toLong).getOrElse(0L) + removedRows
        if (stale > (BloomRebuildStaleFraction * a(0).toLong).toLong) {
          val content = spark.read.schema(store.schema)
            .parquet(merged.map(e => s"$base/${e._2}"): _*)
          val fresh = buildIdBloom(content, idCol, a(0).toLong, a(1).toDouble)
          meta0 ++ Map(
            "bloom" -> writeBloomArtifact(spark, path, v + 1, fresh),
            "bloomstale" -> "0")
        } else meta0 + ("bloomstale" -> stale.toString)
      case _ => meta0 // models pointer survives retraction either way
    }
    commitManifest(spark, path, v + 1, merged, outMeta)
    gcStore(spark, path, Seq(v, v + 1))
  }

  /** Retracted-rows fraction of the sidecar's recorded capacity past
    * which [[removeVersioned]] rebuilds the held-id Bloom instead of
    * letting stale positives keep accumulating. 10%: at the 1e-5
    * default fpp a filter is sized ~24 bits/id, so 10% extra
    * insertions barely move its true fpp — the rebuild triggers well
    * before screening degrades, yet no oftener than once per
    * 0.1×capacity removals. */
  private[graft] val BloomRebuildStaleFraction = 0.1

  /**
   * MODEL-GENERATION migration for the code store — the leg
   * that completes the ANN lifecycle: centroids and codebook are
   * training-time artifacts, frozen at store creation ([[writeCodeStore]]
   * records them in the manifest; [[ingestBatchCodeStore]] deliberately
   * never retrains — per-batch retraining would shift every cell boundary
   * and invalidate old codes), so a DRIFTING corpus degrades recall with
   * no recourse short of a rebuild. This is that rebuild, inside the
   * store's own atomicity envelope: train FRESH models on `corpus`,
   * re-encode ALL of `corpus` into a complete new generation, persist the
   * new models next to it, and commit both behind the same single
   * manifest rename — a concurrent reader resolves either (old codes, old
   * models) or (new codes, new models), never a mixed pair
   * (QuantizeSpec reader-loop gated); a concurrent writer is refused by
   * the generation check exactly like [[removeFromCodeStore]].
   *
   * `corpus` defines the new store content: pass the raw-vector store's
   * current rows (the code store holds only codes — re-encoding needs the
   * vectors; at 100 TB that is one full corpus pass, the same unit as the
   * initial build, amortized over a retrain cadence, vs the per-batch
   * O(assigned cells) of ingest). Afterwards [[storedPq]] returns the
   * NEW models and the store equals a one-shot
   * `writeCodeStore(corpus, newModels, …)` (q160-gated); recall
   * before/after on a drifted corpus is measured in SURVEY §6.
   */
  def retrainCodeStore(spark: org.apache.spark.sql.SparkSession,
                       path: String, corpus: DataFrame, vecCol: String,
                       idCol: String, dim: Int, m: Int, ksub: Int,
                       cells: Int, iters: Int = 2): Unit = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val v = currentVersion(spark, path, "retrainCodeStore")
    // both trainers already return driver-local relations (r19) — a
    // materialize wrap would push them back through the RDD round-trip —
    // and they are independent Lloyd loops over the same corpus, so they
    // overlap (guide §2.6 via Par)
    val (cents, cb) = Par.par2(
      Similarity.trainCentroids(corpus, vecCol, idCol, cells, iters),
      trainCodebook(corpus, vecCol, idCol, dim, m, ksub, iters))
    val models = writeModels(spark, path, v + 1, cents, cb)
    val codes = assembleCodes(corpus, cents, cb, vecCol, idCol, m, dim / m)
    val entries = writeGeneration(spark, codes, path, v + 1)
    require(entries.nonEmpty, "retrainCodeStore: empty corpus")
    // the id Bloom sidecar, if enabled, is rebuilt over the NEW corpus
    // (retrain redefines the store's content, so a fresh filter also
    // sheds retraction staleness) and committed under the SAME manifest
    // rename as the codes and models. Capacity SCALES with the corpus:
    // a store that outgrew its recorded expectedItems would otherwise
    // re-record a filter whose effective fpp is silently degraded at
    // every retrain — the rebuild reseeds at max(recorded, 2× corpus),
    // and every later ingest reads the new geometry from @bloomgeom, so
    // merge compatibility is preserved by construction
    val bloomMeta = readManifestMeta(spark, path, v).get("bloomgeom")
      .map { g =>
        val a = g.split("\t", 3)
        // size AND build from the generation just written (its id set
        // == the corpus id set): the count is parquet footer metadata
        // and the build reads the compressed codes' id column — where
        // touching `corpus` again would be a full extra pass over a
        // possibly uncached 100 TB caller frame
        val base = path.stripSuffix("/")
        val written = spark.read
          .parquet(entries.map(e => s"$base/${e._2}"): _*)
        val items = math.max(a(0).toLong, 2L * written.count())
        val rebuilt = buildIdBloom(written, idCol, items, a(1).toDouble)
        Map("bloom" -> writeBloomArtifact(spark, path, v + 1, rebuilt),
          "bloomgeom" -> s"$items\t${a(1)}\t$idCol")
      }.getOrElse(Map.empty[String, String])
    // one atomic swap commits codes AND models together; on refusal the
    // orphan generation/models dirs fall to gcStore's version/age gates
    commitManifest(spark, path, v + 1, entries,
      Map("models" -> models, "pq" -> s"$m\t${dim / m}") ++ bloomMeta)
    gcStore(spark, path, Seq(v, v + 1))
  }

  /**
   * Drift DIAGNOSTIC for the retrain cadence — answers "should
   * [[retrainCodeStore]] run?" from one batch-bounded pass, no store
   * read: quantize the batch twice, once with the STORE's frozen
   * coarse quantizer (the stored centroids) and once with a fresh
   * batch-trained yardstick quantizer, and compare the quantization
   * error (1 − best cosine). On an in-distribution batch the frozen
   * models quantize about as well as the yardstick (`err_ratio` ≈ 1);
   * on a drifted batch the frozen centroids sit far from the new
   * region while the yardstick follows it, so the ratio grows with
   * exactly the degradation that costs recall and pruning power
   * (SURVEY §6 ties the ratio to the measured cliff: the
   * concentrated-drift fixture whose stale recall@10 was 0.004 vs
   * 0.328 retrained reads err_ratio ≫ 1 while the same-distribution
   * control reads ≈ 1). `fill_skew` is the second
   * face: max assigned-cell share × cells (uniform ≈ small, a drifted
   * domain funneling into the few nearest stale cells → large), the
   * direct driver of the swollen-cell scan tax.
   *
   * Returns ONE row: (n, cells, stored_mean_cos, fresh_mean_cos,
   * err_ratio, fill_skew). Thresholding is the operator's call (it
   * depends on the corpus's natural spread); q164 pins the contract —
   * in-distribution control ≈ 1 and bounded skew, drifted batch ≫ both.
   * Cost: two broadcast-assign passes over the batch plus a yardstick
   * k-means on the batch alone — O(batch), never O(store).
   */
  def codeStoreDriftStats(spark: org.apache.spark.sql.SparkSession,
                          path: String, batch: DataFrame, vecCol: String,
                          idCol: String, freshCells: Int = 0,
                          iters: Int = 2): DataFrame = {
    val (cents, _, _, _) = storedPq(spark, path)
    codeStoreDriftStats(batch, cents, vecCol, idCol, freshCells, iters)
  }

  /** [[codeStoreDriftStats]] against an EXPLICIT frozen-centroid frame —
    * the form the streaming ingest observer uses (the wrapper already
    * holds the centroids it encodes with; re-resolving them from the
    * manifest per micro-batch would add a store round-trip per tick for
    * the same frame). Same contract, same output row. */
  def codeStoreDriftStats(batch: DataFrame, cents: DataFrame,
                          vecCol: String, idCol: String,
                          freshCells: Int, iters: Int): DataFrame = {
    val storedCells = cents.count().toInt
    val k = if (freshCells > 0) freshCells else math.min(storedCells, 64)
    // (id, best cell, best cosine) against a centroid frame — the
    // ivfAssign argmax shape, plus the similarity itself
    def assignCos(centroids: DataFrame): DataFrame =
      batch.select(col(idCol), col(vecCol))
        .join(broadcast(centroids
          .select(col("centroid_id"), col(vecCol).as("__centv"))))
        .withColumn("__cos", cosine(col(vecCol), col("__centv")))
        .groupBy(col(idCol))
        .agg(max_by(col("centroid_id"),
            struct(col("__cos"), (-col("centroid_id")).as("nid"))).as("cell"),
          max(col("__cos")).as("cos"))
    val stored = OpCache.materialize(assignCos(cents))
    val fresh = assignCos(
      Similarity.trainCentroids(batch, vecCol, idCol, k, iters))
    val skew = stored.groupBy(col("cell")).count()
      .agg((max(col("count")) * lit(storedCells) / sum(col("count")))
        .cast("double").as("fill_skew"))
    stored.agg(count(lit(1)).as("n"),
        avg(col("cos")).as("stored_mean_cos"))
      .crossJoin(broadcast(fresh.agg(avg(col("cos")).as("fresh_mean_cos"))))
      .crossJoin(broadcast(skew)) // 1-row frames: no cartesian blowup
      .select(col("n"), lit(storedCells).as("cells"),
        col("stored_mean_cos"), col("fresh_mean_cos"),
        ((lit(1.0) - col("stored_mean_cos")) /
          greatest(lit(1.0) - col("fresh_mean_cos"), lit(1e-9)))
          .as("err_ratio"),
        col("fill_skew"))
  }

  /**
   * The full self-describing PQ state the CURRENT manifest carries:
   * (centroids, codebook, m, subDim) — everything serving and ingest
   * need, resolved from the store itself so callers cannot pair codes
   * with the wrong models or the wrong subspace geometry (the footgun
   * [[ingestBatchCodeStore]]'s scaladoc warns about, closed at the API).
   * Every manifest records them from v1 on; a path with no code store is
   * refused.
   */
  def storedPq(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, DataFrame, Int, Int) = {
    val (d, (m, subDim)) = storedPqMeta(spark, path, "storedPq")
    val (cents, cb) = modelFrames(spark, path, d)
    (cents, cb, m, subDim)
  }

  /** The current manifest's `@models` directory and `@pq` geometry. */
  private def storedPqMeta(spark: org.apache.spark.sql.SparkSession,
                           path: String, op: String): (String, (Int, Int)) = {
    val meta = readManifestMeta(spark, path, currentVersion(spark, path, op))
    val a = meta("pq").split("\t", 2)
    (meta("models"), (a(0).toInt, a(1).toInt))
  }

  /** The (centroids, codebook) frames under the model artifact `d`.
    * Model artifacts are KB-sized by policy — resolve them as
    * driver-local relations (one scan job each) so every consumer
    * collect/broadcast (probe cells, ADC LUT, encode argmax) runs zero
    * further jobs; the cap is the loud data-size guard. */
  private def modelFrames(spark: org.apache.spark.sql.SparkSession,
                          path: String, d: String): (DataFrame, DataFrame) = {
    val base = path.stripSuffix("/")
    (OpCache.materializeLocal(
        spark.read.parquet(s"$base/$d/centroids"), ModelFrameCap),
      OpCache.materializeLocal(
        spark.read.parquet(s"$base/$d/codebook"), ModelFrameCap))
  }

  /** [[ingestBatchCodeStore]] with models AND geometry resolved from the
    * manifest ([[storedPq]]) — the safe ingest form: the batch is always
    * encoded with exactly the models the store's codes were produced
    * with, and the resolved @models IDENTITY is re-checked at ingest
    * time, so a retrain committing between resolve and ingest (same
    * geometry, different codewords — undetectable from the frames alone)
    * is refused instead of mixing old-model codes into the new-model
    * store. */
  def ingestBatchCodeStoreStored(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, vecCol: String, idCol: String,
      fullIdCheck: Boolean = false): DataFrame = {
    val (d, (m, subDim)) =
      storedPqMeta(spark, path, "ingestBatchCodeStoreStored")
    val (cents, cb) = modelFrames(spark, path, d)
    ingestCodeStore(spark, path, batch, cents, cb, vecCol, idCol, m, subDim,
      fullIdCheck, expectModels = Some(d))
  }

  /** [[ivfPqTopKFromStore]] with models and geometry resolved from the
    * manifest ([[storedPq]]) — the safe serving form; same pruned scan,
    * identical results to the explicit-models call (QuantizeSpec- and
    * PlanSpec-gated). */
  def ivfPqTopKStored(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, vecCol: String, idCol: String,
      k: Int, nProbe: Int = 2, includeSelf: Boolean = false): DataFrame = {
    val (cents, cb, m, subDim) = storedPq(spark, path)
    ivfPqTopKFromStore(spark, path, queries, cents, cb, vecCol, idCol,
      m, subDim, k, nProbe, includeSelf)
  }

  /** (query_id, cell) probe pairs: each query's nProbe nearest centroids
    * by cosine, deterministic centroid-id tiebreak. */
  private def probeCells(queries: DataFrame, centroids: DataFrame,
                         vecCol: String, idCol: String,
                         nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = centroids.select(col("centroid_id"), col(vecCol).as("centv"))
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(c))
      .select(col("query_id"), col("centroid_id"),
        cosine(col("qv"), col("centv")).as("ccos"))
      .withColumn("prank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("ccos").desc, col("centroid_id").asc)))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("centroid_id").as("cell"))
  }

  /**
   * Statically pruned view of a [[writeCodeStore]] layout for one query
   * batch: the probed cell ids — query METADATA bounded by
   * |queries|·nProbe, not corpus data — are collected to the driver and
   * select the probed cells' directories from the manifest, so the scan
   * reads ONLY those directories; the unprobed cells never enter the
   * plan (execution-gated in PlanSpec via the scan's numFiles, measured
   * in SURVEY §6). Static pruning is deliberate: Spark's dynamic partition
   * pruning inserts its filter only when a cost model approves broadcast
   * reuse and silently degrades to `dynamicpruningexpression(true)`
   * otherwise (observed on this exact shape) — a store whose whole point
   * is bounded probe-time I/O must not gamble its scan on that.
   */
  def prunedCodeStore(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, centroids: DataFrame,
                      vecCol: String, idCol: String,
                      nProbe: Int): DataFrame = {
    val entries = readManifest(spark, path,
        currentVersion(spark, path, "prunedCodeStore"))
      .map(e => (e._1, s"${path.stripSuffix("/")}/${e._2}"))
    // every cell dir holds the same schema: list one for it, so a probe
    // lists only its probed cells' directories
    val schema = spark.read.parquet(entries.head._2).schema
    val cells = probeCells(queries, centroids, vecCol, idCol, nProbe)
      .select(col("cell").cast(schema("cell").dataType)).distinct()
      .collect().map(_.get(0)).toSeq
    val probed = cells.map(String.valueOf).toSet
    val dirs = entries.filter(e => probed(e._1)).map(_._2)
    if (dirs.isEmpty) spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(dirs: _*)
      .filter(col("cell").isInCollection(cells))
  }

  /** ADC candidate scores over an (idCol, codes, cell) frame — the shared
    * probe-side core of [[ivfPqTopK]] and the store path: probe the
    * nProbe nearest cells per query, score ONLY the codes inside them.
    * Returns (query_id, corpus_id, score) before ranking. */
  def ivfPqScores(codes: DataFrame, queries: DataFrame, centroids: DataFrame,
                  codebook: DataFrame, vecCol: String, idCol: String,
                  m: Int, subDim: Int, nProbe: Int,
                  includeSelf: Boolean = false): DataFrame = {
    val probes = probeCells(queries, centroids, vecCol, idCol, nProbe)
    val lut = queryLut(codebook, queries, vecCol, idCol, m, subDim)
    // probes must compare as the store's cell-column type or the cell
    // equi-join silently casts
    val cand = codes.join(
      broadcast(probes.withColumn("cell",
        col("cell").cast(codes.schema("cell").dataType))),
      Seq("cell"))
    val filtered = if (includeSelf) cand
      else cand.filter(col(idCol) =!= col("query_id"))
    filtered
      .select(col("query_id"), col(idCol).as("corpus_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(sum(col("part")).as("score"))
  }

  /** Top-k over an assembled or store-read (idCol, codes, cell) frame —
    * [[ivfPqTopK]] ≡ assembleCodes + this; the store path is
    * [[prunedCodeStore]] + this (see [[ivfPqTopKFromStore]]; equivalence
    * oracle-gated by q118). */
  def ivfPqTopKFromCodes(codes: DataFrame, queries: DataFrame,
                         centroids: DataFrame, codebook: DataFrame,
                         vecCol: String, idCol: String, m: Int, subDim: Int,
                         k: Int, nProbe: Int = 2,
                         includeSelf: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("corpus_id").asc)
    // a (query, doc) pair can arrive via several probed cells only if
    // assignment were soft; hard ivfAssign gives exactly one cell, so
    // no dropDuplicates is needed before ranking
    ivfPqScores(codes, queries, centroids, codebook, vecCol, idCol, m,
        subDim, nProbe, includeSelf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The at-scale serving path: statically pruned store scan + ADC top-k.
    * Identical results to the ad-hoc [[ivfPqTopK]] at the same models
    * (q118 oracle gate); reads only the probed cells' directories. */
  def ivfPqTopKFromStore(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame,
                         centroids: DataFrame, codebook: DataFrame,
                         vecCol: String, idCol: String, m: Int, subDim: Int,
                         k: Int, nProbe: Int = 2,
                         includeSelf: Boolean = false): DataFrame =
    ivfPqTopKFromCodes(
      prunedCodeStore(spark, path, queries, centroids, vecCol, idCol, nProbe),
      queries, centroids, codebook, vecCol, idCol, m, subDim, k, nProbe,
      includeSelf)

  /**
   * Two-stage ANN serving — the standard production retrieval shape
   * (Jégou et al. 2011 §V.D: ADC shortlist, then exact re-rank): stage 1
   * runs the IVF-PQ ADC scan and keeps a `shortlist`-sized candidate set
   * per query; stage 2 re-scores ONLY those candidates with exact cosine
   * on raw vectors and returns the top `k` of the exact order. The
   * raw-vector read is candidate-bounded — |queries| · shortlist rows
   * join back to the corpus by id (at 100 TB, against an id-bucketed
   * raw-vector store so the attach is exchange-free on the corpus side)
   * — while the corpus-wide scan stays code-sized, which is the whole
   * point of PQ; exactness is restored precisely where it matters, at
   * the top of each query's list.
   *
   * Guarantee the q133 gate pins: recall@k of the re-ranked list is ≥
   * the plain ADC list's at the same (models, nProbe) — the plain top-k
   * is a subset of the same shortlist, and exact re-scoring orders every
   * true neighbor inside the shortlist ahead of every non-neighbor.
   */
  def ivfPqRerank(corpus: DataFrame, queries: DataFrame,
                  centroids: DataFrame, codebook: DataFrame,
                  vecCol: String, idCol: String, m: Int, subDim: Int,
                  k: Int, shortlist: Int, nProbe: Int = 2,
                  includeSelf: Boolean = false): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    rerankScores(
      ivfPqScores(
        assembleCodes(corpus, centroids, codebook, vecCol, idCol, m, subDim),
        queries, centroids, codebook, vecCol, idCol, m, subDim, nProbe,
        includeSelf),
      corpus, queries, vecCol, idCol, k, shortlist)
  }

  /** [[ivfPqRerank]] off a [[writeCodeStore]] layout: statically pruned
    * ADC shortlist ([[prunedCodeStore]]) + exact re-rank. `corpus` is
    * the raw-vector side of the stage-2 attach only (candidate-sized
    * read). */
  def ivfPqRerankFromStore(spark: org.apache.spark.sql.SparkSession,
                           path: String, corpus: DataFrame,
                           queries: DataFrame, centroids: DataFrame,
                           codebook: DataFrame, vecCol: String,
                           idCol: String, m: Int, subDim: Int, k: Int,
                           shortlist: Int, nProbe: Int = 2,
                           includeSelf: Boolean = false): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    rerankScores(
      ivfPqScores(
        prunedCodeStore(spark, path, queries, centroids, vecCol, idCol,
          nProbe),
        queries, centroids, codebook, vecCol, idCol, m, subDim, nProbe,
        includeSelf),
      corpus, queries, vecCol, idCol, k, shortlist)
  }

  /** Stage-2 core shared by the ad-hoc and store-backed re-rank forms:
    * shortlist by ADC score (deterministic id tiebreak), attach raw
    * vectors per candidate (query side broadcast — query-sized), exact
    * cosine, top `k` of the exact order. Output: (query_id, corpus_id,
    * cos, rank).
    *
    * Contract: every shortlisted corpus_id MUST have a raw vector in
    * `corpus` — a missing one means the code store and the raw-vector
    * store have drifted (a doc retracted from one but not the other),
    * and an inner join here would silently drop it from the top-k as if
    * it never ranked. The left join + `assert_true` surfaces the drift
    * as a loud failure instead (QuantizeSpec-gated). */
  private def rerankScores(adcScores: DataFrame, corpus: DataFrame,
                           queries: DataFrame, vecCol: String,
                           idCol: String, k: Int,
                           shortlist: Int): DataFrame = {
    val ws = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("corpus_id").asc)
    val short = adcScores.withColumn("__sr", row_number().over(ws))
      .filter(col("__sr") <= shortlist)
      .select(col("query_id"), col("corpus_id"))
    val cv = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val wk = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("corpus_id").asc)
    short.join(cv, Seq("corpus_id"), "left")
      .filter(assert_true(col("__cv").isNotNull,
        concat(lit("ivfPqRerank: shortlisted corpus_id "), col("corpus_id"),
          lit(" has no raw vector — code store and corpus have drifted " +
            "(retract from both, or rebuild the code store)"))).isNull)
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("__qv"), col("__cv")).as("cos"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
  }
}
