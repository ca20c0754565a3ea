package graft

import org.apache.spark.sql.functions._
import graft.operators.{OpCache, Quantize}

/** Product quantization mechanics against a hand-built codebook (exact,
  * no training), plus a trained-codebook structural check on the fixture. */
class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  // two subspaces of dim 2, each with the two axis codewords
  private def cb = Seq(
    (0, 0, Seq(1f, 0f)), (0, 1, Seq(0f, 1f)),
    (1, 0, Seq(1f, 0f)), (1, 1, Seq(0f, 1f)))
    .toDF("sub", "code", "codeword")

  private def vecs = Seq(
    (1L, Seq(0.9f, 0.1f, 0.2f, 0.8f)), // nearest codewords: (0, 1)
    (2L, Seq(0.1f, 0.9f, 0.7f, 0.3f))) // nearest codewords: (1, 0)
    .toDF("vec_id", "embedding")

  test("encode picks the per-subspace argmax codeword, decode concatenates") {
    val codes = Quantize.encode(vecs, cb, "embedding", "vec_id",
        m = 2, subDim = 2)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes == Map(1L -> Seq(0, 1), 2L -> Seq(1, 0)), codes.toString)
    val rec = Quantize.decode(
        Quantize.encode(vecs, cb, "embedding", "vec_id", m = 2, subDim = 2),
        cb, "embedding", "vec_id")
      .as[(Long, Seq[Float])].collect().toMap
    assert(rec == Map(1L -> Seq(1f, 0f, 0f, 1f), 2L -> Seq(0f, 1f, 1f, 0f)),
      rec.toString)
  }

  test("ADC scores rank each query's own code combination first") {
    val codes = Quantize.encode(vecs, cb, "embedding", "vec_id",
      m = 2, subDim = 2)
    val scores = Quantize.pqScores(codes, cb, vecs, "embedding", "vec_id",
        m = 2, subDim = 2)
      .as[(Long, Long, Double)].collect()
    assert(scores.length == 4) // 2 queries × 2 corpus codes
    val best = scores.groupBy(_._1).view
      .mapValues(_.maxBy(_._3)._2).toMap
    assert(best == Map(1L -> 1L, 2L -> 2L),
      s"self not top-1 by ADC: $best (scores ${scores.toSeq})")
    // ADC score vs its own reconstruction is the sum of per-sub cosines —
    // bounded by m; sanity that parts actually summed (2 subspaces)
    assert(scores.forall { case (_, _, s) => s > 0 && s <= 2.0 + 1e-9 })
  }

  test("trained codebook: dense per-subspace codes, reconstruction sane") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cbT = Quantize.trainCodebook(e, "embedding", "vec_id",
      dim = 64, m = 4, ksub = 8)
    val bySub = cbT.select($"sub", $"code").as[(Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(bySub.keySet == Set(0, 1, 2, 3), s"missing subspace: ${bySub.keySet}")
    bySub.foreach { case (s, codes) =>
      assert(codes == codes.indices.toSeq, // dense 0..n-1, Lloyd may drop cells
        s"subspace $s codes not dense: $codes")
      assert(codes.size <= 8, s"subspace $s has ${codes.size} > ksub codes")
    }
    val recon = Quantize.decode(
        Quantize.encode(e, cbT, "embedding", "vec_id", m = 4, subDim = 16),
        cbT, "recv", "vec_id")
      .join(e, Seq("vec_id"))
      .agg(avg(graft.functions.VectorFunctions.cosine($"recv", $"embedding")))
      .as[Double].head()
    OpCache.release()
    assert(recon > 0.3, f"mean reconstruction cosine $recon%.3f too low")
  }

  test("int8 quantization: codes bounded, max magnitude hits 127, zero-vector safe") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)), // scale 1/127 ⇒ codes (64, -127, 32)
      (2L, Seq(0.0f, 0.0f, 0.0f)))   // zero vector ⇒ all-zero codes
      .toDF("vec_id", "embedding")
    val out = df.select($"vec_id",
        Quantize.int8Codes($"embedding").as("codes"),
        Quantize.int8Scale($"embedding").as("scale"))
      .as[(Long, Seq[Int], Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // floor(0.5·127 + 0.5) = floor(64.0) = 64; floor(-127 + 0.5) = -127
    assert(out(1L)._1 == Seq(64, -127, 32), out(1L).toString)
    assert(out(1L)._2 == 1.0 / 127.0)
    assert(out(2L)._1 == Seq(0, 0, 0) && out(2L)._2 == 0.0)
    // every fixture code stays in the int8 range and reconstruction is tight
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val stats = e.select(
        array_max(Quantize.int8Codes($"embedding")).as("mx"),
        array_min(Quantize.int8Codes($"embedding")).as("mn"),
        graft.functions.VectorFunctions.cosine(
          Quantize.int8Reconstruct(Quantize.int8Codes($"embedding"),
            Quantize.int8Scale($"embedding")),
          transform($"embedding", x => x.cast("double"))).as("c"))
      .agg(max($"mx"), min($"mn"), min($"c"))
      .as[(Int, Int, Double)].head()
    assert(stats._1 <= 127 && stats._2 >= -127, stats.toString)
    assert(stats._3 > 0.99,
      f"worst int8 reconstruction cosine ${stats._3}%.4f below 0.99")
  }

  test("ivfPqRerank shortlist feeds hardNegatives (the at-scale mining composition)") {
    // the composition q134's scaladoc names for 100 TB: the re-ranked ANN
    // shortlist (exact cosines, pluggable-retriever contract) piped into
    // the tau-cut top-k tail — column contract and semantics line up
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.trainCentroids(
      e, "embedding", "vec_id", k = 8)
    val cb = Quantize.trainCodebook(e, "embedding", "vec_id",
      dim = 64, m = 4, ksub = 8)
    val anchors = e.filter($"vec_id" % 100 === 0)
    val rerank = Quantize.ivfPqRerank(e, anchors, cents, cb,
      "embedding", "vec_id", m = 4, subDim = 16, k = 20, shortlist = 40,
      nProbe = 3)
    val hn = graft.operators.Curate.hardNegatives(rerank,
        "query_id", "corpus_id", "cos", k = 2, tau = 0.45)
      .select($"query_id", $"corpus_id", $"cos", $"neg_rank")
      .as[(Long, Long, Double, Int)].collect()
    graft.operators.OpCache.release()
    assert(hn.nonEmpty, "no hard negatives mined from the rerank shortlist")
    assert(hn.forall(_._3 < 0.45), s"a near-dup leaked past tau: ${hn.toSeq}")
    assert(hn.groupBy(_._1).values.forall(_.length <= 2),
      "more than k negatives for an anchor")
    assert(hn.forall(r => r._1 != r._2), "anchor mined itself")
  }

  test("removeFromCodeStore: retracted ids vanish, equals a rebuilt store") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.trainCentroids(
      e, "embedding", "vec_id", k = 8)
    val cbT = Quantize.trainCodebook(e, "embedding", "vec_id",
      dim = 64, m = 4, ksub = 8)
    val dir = tempDir("pq_rm").toString
    val dir2 = tempDir("pq_rb").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16, dir)
    val removed = e.filter($"vec_id" % 5 === 0).select($"vec_id")
    Quantize.removeFromCodeStore(spark, dir, removed, "vec_id")
    // oracle: a store rebuilt from scratch over the remaining corpus
    Quantize.writeCodeStore(e.join(removed, Seq("vec_id"), "left_anti"),
      cents, cbT, "embedding", "vec_id", 4, 16, dir2)
    val got = Quantize.readCodeStore(spark, dir)
      .select($"vec_id", $"codes", $"cell".cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    val want = Quantize.readCodeStore(spark, dir2)
      .select($"vec_id", $"codes", $"cell".cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(got == want, s"missing=${want -- got}, extra=${got -- want}")
    // serving never returns a retracted id, and pruning still works
    // (the layout is still one directory per cell)
    val removedIds = removed.as[Long].collect().toSet
    val queries = e.filter($"vec_id" === 0) // vec_id 0 itself is retracted
    val topk = Quantize.ivfPqTopKFromStore(spark, dir, queries, cents, cbT,
        "embedding", "vec_id", 4, 16, k = 10, nProbe = 3)
      .select($"corpus_id").as[Long].collect().toSet
    assert(topk.nonEmpty && topk.intersect(removedIds).isEmpty,
      s"a retracted id is still served: ${topk.intersect(removedIds)}")
    // a removal that empties a whole cell drops that cell from the store
    val post = Quantize.readCodeStore(spark, dir)
    val (oneCell, nPost) = (
      post.select($"cell".cast("long")).as[Long].head(), post.count())
    val inCell = post.filter($"cell" === oneCell).select($"vec_id")
    val nInCell = inCell.count()
    Quantize.removeFromCodeStore(spark, dir, inCell, "vec_id")
    val after = Quantize.readCodeStore(spark, dir)
    assert(after.filter($"cell" === oneCell).count() == 0,
      "emptied cell still serves rows")
    assert(after.count() == nPost - nInCell, "other cells were touched")
    // emptying the WHOLE store is refused loudly (unreadable layout)
    val ex = intercept[IllegalArgumentException] {
      Quantize.removeFromCodeStore(spark, dir,
        Quantize.readCodeStore(spark, dir).select($"vec_id"), "vec_id")
    }
    assert(ex.getMessage.contains("empty the store"), ex.getMessage)
    graft.operators.OpCache.release()
  }

  test("ivfPqRerankFromStore fails loudly when a shortlisted id has no raw vector") {
    // code store vs corpus drift (a doc retracted from the raw-vector
    // store but not the code store) must SURFACE, not silently shrink
    // the top-k — the rerankScores left-join + assert_true contract
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.trainCentroids(
      e, "embedding", "vec_id", k = 8)
    val cbT = Quantize.trainCodebook(e, "embedding", "vec_id",
      dim = 64, m = 4, ksub = 8)
    val dir = tempDir("pq_drift").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16, dir)
    val queries = e.filter($"vec_id" === 0)
    def rerank(raw: org.apache.spark.sql.DataFrame) =
      Quantize.ivfPqRerankFromStore(spark, dir, raw, queries, cents, cbT,
        "embedding", "vec_id", m = 4, subDim = 16, k = 5, shortlist = 20,
        nProbe = 3)
    // consistent stores: the clean path must not trip the contract
    assert(rerank(e).count() > 0)
    // drifted raw side: half the coded ids have no raw vector anymore
    val ex = intercept[Throwable] { rerank(e.filter($"vec_id" % 2 === 1)).count() }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("drifted"),
      s"expected the drift contract failure, got: $msgs")
    graft.operators.OpCache.release()
  }

  // shared fixture for the versioned-store tests: corpus + trained models
  private def storeModels() = {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.trainCentroids(
      e, "embedding", "vec_id", k = 8)
    val cbT = Quantize.trainCodebook(e, "embedding", "vec_id",
      dim = 64, m = 4, ksub = 8)
    (e, cents, cbT)
  }

  test("versioned code store: retract equals rebuild; manifest swap is " +
    "atomic for a concurrent reader loop") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_ver").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
      dir)
    assert(Quantize.codeStoreVersion(spark, dir).contains(1L))
    def ids(p: String): Set[Long] =
      Quantize.readCodeStore(spark, p).select($"vec_id")
        .as[Long].collect().toSet
    val all = ids(dir)
    // every state a reader may legitimately observe: each committed
    // generation's id set (recorded BEFORE the commit that creates it,
    // so pre- and post-swap are both always present)
    val valid = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Set[Long], java.lang.Boolean])
    valid.add(all)
    @volatile var stop = false
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val reader = new Thread(() => {
      try while (!stop) {
        val got = ids(dir)
        assert(valid.contains(got),
          s"reader observed a MIXED-GENERATION id set of size ${got.size}," +
            s" not any committed snapshot (sizes " +
            s"${scala.jdk.CollectionConverters.SetHasAsScala(valid).asScala.map(_.size)})")
        reads.incrementAndGet()
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    reader.start()
    var remaining = all
    try (0 until 3).foreach { i =>
      val batch = remaining.toSeq.sorted.filter(_ % 7 == i).take(40)
      remaining = remaining -- batch
      valid.add(remaining)
      Quantize.removeFromCodeStore(spark, dir,
        batch.toDF("vec_id"), "vec_id")
    } finally { stop = true; reader.join(60000) }
    assert(failure.get() == null,
      s"concurrent reader failed during retraction: ${failure.get()}")
    assert(reads.get() > 0, "reader loop never completed a read")
    assert(Quantize.codeStoreVersion(spark, dir).contains(4L))
    // grace policy: only the current and previous manifests remain
    val manifests = new java.io.File(dir).list()
      .filter(_.startsWith("_graft_manifest")).sorted.toSeq
    assert(manifests ==
      Seq("_graft_manifest-v000003", "_graft_manifest-v000004"),
      s"expected exactly v3 (grace) and v4 (current), got $manifests")
    // equals a store rebuilt from the remaining corpus
    val dir2 = tempDir("pq_ver_rb").toString
    Quantize.writeCodeStore(
      e.join(remaining.toSeq.toDF("vec_id"), Seq("vec_id"), "left_semi"),
      cents, cbT, "embedding", "vec_id", 4, 16, dir2)
    val got = Quantize.readCodeStore(spark, dir)
      .select($"vec_id", $"codes", $"cell".cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    val want = Quantize.readCodeStore(spark, dir2)
      .select($"vec_id", $"codes", $"cell".cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(got == want, s"missing=${(want -- got).take(5)}, " +
      s"extra=${(got -- want).take(5)}")
    // serving path works and never returns a retracted id
    val queries = e.filter($"vec_id" === remaining.min)
    val topk = Quantize.ivfPqTopKFromStore(spark, dir, queries, cents, cbT,
        "embedding", "vec_id", 4, 16, k = 10, nProbe = 3)
      .select($"corpus_id").as[Long].collect().toSet
    assert(topk.nonEmpty && topk.subsetOf(remaining),
      s"retracted ids served: ${topk -- remaining}")
    // emptying the WHOLE store is refused loudly, before the swap
    val ex = intercept[IllegalArgumentException] {
      Quantize.removeFromCodeStore(spark, dir,
        Quantize.readCodeStore(spark, dir).select($"vec_id"), "vec_id")
    }
    assert(ex.getMessage.contains("empty the store"), ex.getMessage)
    assert(Quantize.codeStoreVersion(spark, dir).contains(4L),
      "refused retraction must not commit a generation")
    graft.operators.OpCache.release()
  }

  test("versioned code store ingest: sequence equals one-shot, " +
    "idempotent, self-compacting") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_ing").toString
    val dir2 = tempDir("pq_ing_os").toString
    val m3 = pmod($"vec_id", lit(3))
    Quantize.writeCodeStore(e.filter(m3 === 0), cents, cbT,
      "embedding", "vec_id", 4, 16, dir)
    // two ingests walk the generation chain; stored models throughout
    val s1 = Quantize.ingestBatchCodeStore(spark, dir, e.filter(m3 === 1),
      cents, cbT, "embedding", "vec_id", 4, 16)
    assert(s1.count() == e.filter(m3 === 1).count(), "batch 1 not ingested")
    Quantize.ingestBatchCodeStore(spark, dir, e.filter(m3 === 2),
      cents, cbT, "embedding", "vec_id", 4, 16)
    assert(Quantize.codeStoreVersion(spark, dir).contains(3L))
    // sequence ≡ one-shot over the union
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
      dir2)
    def rows(p: String) = Quantize.readCodeStore(spark, p)
      .select($"vec_id", $"codes", $"cell".cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(rows(dir) == rows(dir2),
      s"ingest sequence diverges from one-shot: missing=" +
        s"${(rows(dir2) -- rows(dir)).take(5)}, extra=${(rows(dir) -- rows(dir2)).take(5)}")
    // self-compacting: every cell is still exactly ONE file
    val files = Quantize.readCodeStore(spark, dir).inputFiles
    val cells = rows(dir).map(_._3).size
    assert(files.length == cells,
      s"ingest fragmented the store: ${files.length} files for $cells cells")
    // idempotence: a crash-replayed batch appends nothing, store unchanged
    val before = rows(dir)
    assert(Quantize.ingestBatchCodeStore(spark, dir, e.filter(m3 === 2),
      cents, cbT, "embedding", "vec_id", 4, 16).count() == 0,
      "replayed ingest re-appended rows")
    assert(Quantize.codeStoreVersion(spark, dir).contains(3L),
      "no-op ingest advanced the generation")
    assert(rows(dir) == before, "replayed ingest changed the store")
    // serving sees the ingested vectors (membership, not rank — ADC at
    // m=4/ksub=8 is deliberately coarse, so self-in-top-5 would be an
    // accuracy assertion, which is q112's job)
    val probeId = e.filter(m3 === 1).select($"vec_id")
      .as[Long].collect().min
    val topk = Quantize.ivfPqTopKFromStore(spark, dir,
        e.filter($"vec_id" === probeId), cents, cbT, "embedding", "vec_id",
        4, 16, k = 5, nProbe = 3)
      .select($"corpus_id").as[Long].collect()
    assert(topk.nonEmpty && topk.exists(_ % 3 == 1),
      s"no ingested vector served in a top-k: ${topk.toSeq}")
    // a flat cell-partitioned layout (no manifest) is refused: appends
    // need the manifest's atomic swap
    val flat = tempDir("pq_ing_flat").toString
    e.select($"vec_id", $"vec_id".cast("int").as("cell")).write
      .mode("overwrite").partitionBy("cell").parquet(flat)
    val ex = intercept[IllegalArgumentException] {
      Quantize.ingestBatchCodeStore(spark, flat, e.filter(m3 === 1),
        cents, cbT, "embedding", "vec_id", 4, 16)
    }
    assert(ex.getMessage.contains("not a code store"), ex.getMessage)
    graft.operators.OpCache.release()
  }

  test("versioned code store: a crash-orphaned generation never serves " +
    "and is GC'd by the next commit") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_crash").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
      dir)
    val before = Quantize.readCodeStore(spark, dir)
      .select($"vec_id").as[Long].collect().toSet
    // simulate a writer that crashed AFTER writing its generation but
    // BEFORE committing the manifest: an orphan gen dir with data files
    val orphan = new java.io.File(dir, "gen-000002-deadbeef/pcell=999")
    assert(orphan.mkdirs())
    Seq((999999L, Seq(1, 2, 3), 999L)).toDF("vec_id", "codes", "cell")
      .write.mode("overwrite")
      .parquet(orphan.getAbsolutePath)
    // readers resolve the committed manifest — the orphan never serves
    assert(Quantize.readCodeStore(spark, dir)
      .select($"vec_id").as[Long].collect().toSet == before,
      "orphan generation leaked into a committed read")
    // first commit: the GC floor (v1) has not passed the orphan's target
    // (v2), so it is SPARED — it could equally be an in-flight concurrent
    // writer's generation, which is never this GC's to delete
    Quantize.removeFromCodeStore(spark, dir,
      e.filter($"vec_id" % 9 === 0).select($"vec_id"), "vec_id")
    assert(new java.io.File(dir, "gen-000002-deadbeef").exists(),
      "GC deleted a generation whose target version is past the floor " +
        "(an in-flight writer's data would be destroyed)")
    // second commit: floor = v2 reaches the orphan's target — collected
    Quantize.removeFromCodeStore(spark, dir,
      e.filter($"vec_id" % 11 === 3).select($"vec_id"), "vec_id")
    assert(!new java.io.File(dir, "gen-000002-deadbeef").exists(),
      "crash-orphaned generation survived past the GC floor")
    assert(!Quantize.readCodeStore(spark, dir)
      .select($"vec_id").as[Long].collect().contains(999999L))
    graft.operators.OpCache.release()
  }

  test("FileContext rename refuses an existing destination — the manifest " +
    "commit's exclusivity primitive") {
    // commitManifest's no-clobber guarantee rests on FileContext.rename
    // WITHOUT Options.Rename.OVERWRITE failing when the destination
    // exists (plain FileSystem.rename silently replaces on POSIX local
    // FS) — pin the primitive itself so a Hadoop upgrade that changes it
    // fails here, not as a silently lost manifest
    val dir = tempDir("fc_excl")
    java.nio.file.Files.write(dir.resolve("a"), "aa".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b"), "bb".getBytes("UTF-8"))
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dir.toUri, spark.sparkContext.hadoopConfiguration)
    val ex = intercept[Exception] {
      fc.rename(new org.apache.hadoop.fs.Path(dir.resolve("a").toString),
        new org.apache.hadoop.fs.Path(dir.resolve("b").toString))
    }
    assert(ex.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException],
      s"expected FileAlreadyExistsException, got ${ex.getClass}: $ex")
    // and the loser's bytes were NOT clobbered
    assert(new String(java.nio.file.Files.readAllBytes(dir.resolve("b")),
      "UTF-8") == "bb", "existing destination was overwritten")
  }

  // --- round-15 gates: bounded ingest, age GC, models lifecycle --------

  /** Overwrite every parquet data file under `dir` with garbage: any scan
    * that touches one of these files MUST fail, so an operation that
    * succeeds provably never read them (execution-level pruning proof,
    * stronger than a numFiles metric). */
  private def corruptParquet(dir: java.io.File): Int = {
    val files = Option(dir.listFiles).getOrElse(Array.empty)
    files.map { f =>
      if (f.isDirectory) corruptParquet(f)
      else if (f.getName.endsWith(".parquet")) {
        java.nio.file.Files.write(f.toPath,
          "corrupted-on-purpose".getBytes("UTF-8"))
        1
      } else 0
    }.sum
  }

  test("ingest idempotence check is cell-bounded: every non-assigned " +
    "cell's files corrupted, ingest and replay still succeed") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_bound").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
      dir)
    // a batch of NEW ids carrying vectors copied from ONE cell's corpus
    // rows — same models + same vectors ⇒ assigns to exactly that cell
    val assigned = graft.operators.Similarity.ivfAssign(
      e, cents, "embedding", "vec_id")
    val oneCell = assigned.select($"cell").head().get(0)
    val batch = e.join(
        assigned.filter($"cell" === oneCell).select($"vec_id"),
        Seq("vec_id"), "left_semi")
      .limit(20)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val batchIds = batch.select($"vec_id").as[Long].collect().toSet
    assert(batchIds.size == 20)
    // corrupt EVERY other cell's data files in the committed generation
    val gens = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens.length == 1)
    val corrupted = gens.head.listFiles
      .filter(l => l.getName.startsWith("pcell=") &&
        l.getName != s"pcell=$oneCell")
      .map(corruptParquet).sum
    assert(corrupted >= 2, s"fixture degenerate: only $corrupted non-" +
      "assigned cell files — the pruning proof needs cells to avoid")
    // the bounded check must read ONLY pcell=<oneCell> — success = proof
    val ing = Quantize.ingestBatchCodeStore(spark, dir, batch, cents, cbT,
      "embedding", "vec_id", 4, 16)
    assert(ing.select($"vec_id").as[Long].collect().toSet == batchIds)
    assert(Quantize.codeStoreVersion(spark, dir).contains(2L))
    // the replayed batch's check reads the NEW generation's assigned cell
    assert(Quantize.ingestBatchCodeStore(spark, dir, batch, cents, cbT,
      "embedding", "vec_id", 4, 16).count() == 0,
      "replay re-appended through the bounded check")
    assert(Quantize.codeStoreVersion(spark, dir).contains(2L))
    // the touched cell's rewrite carried old rows + new ids
    val newGen = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("gen-000002"))
    assert(newGen.length == 1)
    val cellRows = spark.read.parquet(
        s"${newGen.head.getAbsolutePath}/pcell=$oneCell")
      .select($"vec_id").as[Long].collect().toSet
    assert(batchIds.subsetOf(cellRows), "ingested ids missing from cell")
    assert((cellRows -- batchIds).nonEmpty, "old cell rows were dropped")
    // negative control: the legacy whole-store check MUST hit the
    // corruption — proves the fixture would catch an unbounded read
    val fresh = batch.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    intercept[Throwable] {
      Quantize.ingestBatchCodeStore(spark, dir, fresh, cents, cbT,
        "embedding", "vec_id", 4, 16, fullIdCheck = true).count()
    }
    graft.operators.OpCache.release()
  }

  test("ingest collapses in-batch duplicate ids; fullIdCheck catches a " +
    "changed-vector re-ingest the bounded contract excludes") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_dup").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
      dir)
    // one NEW id arriving twice in the same batch: exactly one row lands
    val v = e.orderBy($"vec_id").limit(1).select($"embedding")
      .as[Seq[Float]].head()
    val dup = Seq((7777777L, v), (7777777L, v)).toDF("vec_id", "embedding")
    assert(Quantize.ingestBatchCodeStore(spark, dir, dup, cents, cbT,
      "embedding", "vec_id", 4, 16).count() == 1)
    assert(Quantize.readCodeStore(spark, dir)
      .filter($"vec_id" === 7777777L).count() == 1,
      "in-batch duplicate id stored twice")
    // an EXISTING id re-ingested with a different vector that assigns to
    // a DIFFERENT cell: outside the bounded contract (id→vector bindings
    // must be stable); fullIdCheck = true catches it exactly
    val assigned = graft.operators.Similarity.ivfAssign(
      e, cents, "embedding", "vec_id")
    val cells2 = assigned.groupBy($"cell")
      .agg(min($"vec_id").as("vec_id")).limit(2)
      .join(e, Seq("vec_id")).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    assert(cells2.length == 2)
    val moved = Seq((cells2(0)._1, cells2(1)._2)).toDF("vec_id", "embedding")
    assert(Quantize.ingestBatchCodeStore(spark, dir, moved, cents, cbT,
      "embedding", "vec_id", 4, 16, fullIdCheck = true).count() == 0,
      "fullIdCheck missed an id held in a non-assigned cell")
    assert(Quantize.readCodeStore(spark, dir)
      .filter($"vec_id" === cells2(0)._1).count() == 1)
    graft.operators.OpCache.release()
  }

  test("id Bloom sidecar: screened fullIdCheck reads NO store files for " +
    "a bloom-negative batch; stale positives fall through to the exact " +
    "check; every committing ingest maintains the filter") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_bloom").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
      dir)
    Quantize.enableCodeStoreIdBloom(spark, dir, "vec_id", 10000L, 0.01)
    assert(Quantize.codeStoreVersion(spark, dir).contains(2L),
      "sidecar enable should commit a manifest-only generation")
    val b0 = Quantize.storedIdBloom(spark, dir).getOrElse(
      fail("sidecar not recorded in the manifest"))
    // the sidecar probes the xxhash64(id) lane — same hash both sides
    def lane(ids: Seq[Long]): Seq[Long] = ids.toDF("vec_id")
      .select(xxhash64($"vec_id")).as[Long].collect().toSeq
    val heldIds = e.select($"vec_id").as[Long].collect().toSeq
    assert(lane(heldIds).forall(b0.mightContainLong),
      "a held id is Bloom-negative — the no-false-negatives invariant")

    // (a) changed-vector re-ingest (the arbitrary-binding case the
    // cell-bounded contract excludes): bloom-POSITIVE → exact fallback,
    // same verdict as the legacy whole-store scan
    val assigned = graft.operators.Similarity.ivfAssign(
      e, cents, "embedding", "vec_id")
    val cells2 = assigned.groupBy($"cell")
      .agg(min($"vec_id").as("vec_id")).limit(2)
      .join(e, Seq("vec_id")).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    assert(cells2.length == 2)
    val moved = Seq((cells2(0)._1, cells2(1)._2)).toDF("vec_id", "embedding")
    assert(Quantize.ingestBatchCodeStore(spark, dir, moved, cents, cbT,
      "embedding", "vec_id", 4, 16, fullIdCheck = true).count() == 0,
      "screened fullIdCheck missed a held id in a non-assigned cell")

    // (b) retraction leaves the filter stale-CONSERVATIVE — the
    // deterministic false-positive fixture: retract x, re-ingest x; the
    // bloom says maybe-held, the exact check finds it absent, ingest
    // proceeds (a Bloom can only over-route to the join, never drop)
    val x = heldIds.min
    Quantize.removeFromCodeStore(spark, dir, Seq(x).toDF("vec_id"), "vec_id")
    assert(Quantize.storedIdBloom(spark, dir).get
      .mightContainLong(lane(Seq(x)).head),
      "retraction should leave the bloom conservative, not rebuild it")
    val back = e.filter($"vec_id" === x).select($"vec_id", $"embedding")
    assert(Quantize.ingestBatchCodeStore(spark, dir, back, cents, cbT,
      "embedding", "vec_id", 4, 16, fullIdCheck = true).count() == 1,
      "stale-positive id was not re-ingested through the exact fallback")

    // (c) maintenance: a CELL-BOUNDED ingest (fullIdCheck = false) must
    // merge its ids into the sidecar under the same commit — otherwise a
    // later screened check would treat them as definitely-new and store
    // them twice, permanently
    val vsome = e.orderBy($"vec_id").limit(3)
      .select(($"vec_id" + 5000000L).as("vec_id"), $"embedding")
    Quantize.ingestBatchCodeStore(spark, dir, vsome, cents, cbT,
      "embedding", "vec_id", 4, 16)
    assert(Quantize.ingestBatchCodeStore(spark, dir, vsome, cents, cbT,
      "embedding", "vec_id", 4, 16, fullIdCheck = true).count() == 0,
      "cell-bounded ingest did not merge its ids into the sidecar")

    // (d) EXECUTION proof of the screen: corrupt every manifest cell dir
    // except the one the batch assigns to; a deterministically
    // bloom-NEGATIVE batch of new ids must still ingest with
    // fullIdCheck = true — the screened check read NOTHING (the
    // pre-sidecar whole-store scan fails on exactly this fixture, gated
    // in the cell-bounded test's negative control)
    val bNow = Quantize.storedIdBloom(spark, dir).get
    val oneCell = assigned.select($"cell").head().get(0)
    val vecs20 = e.join(
        assigned.filter($"cell" === oneCell).select($"vec_id"),
        Seq("vec_id"), "left_semi")
      .limit(20).select($"embedding").as[Seq[Float]].collect()
    assert(vecs20.length == 20)
    val candidates = (1L to 2000L).map(_ + 9000000L)
    val negatives = candidates.zip(lane(candidates))
      .filterNot { case (_, h) => bNow.mightContainLong(h) }
      .map(_._1).take(20)
    assert(negatives.length == 20, "fixture degenerate: too few negatives")
    val v = Quantize.codeStoreVersion(spark, dir).get
    val entriesNow = Quantize.readManifest(spark, dir, v)
    entriesNow.filterNot(_._1 == oneCell.toString).foreach { case (_, d) =>
      corruptParquet(new java.io.File(s"$dir/$d"))
    }
    assert(entriesNow.count(_._1 != oneCell.toString) >= 2,
      "fixture degenerate: the screen proof needs cells to avoid")
    val batch = negatives.zip(vecs20).toDF("vec_id", "embedding")
    val got = Quantize.ingestBatchCodeStore(spark, dir, batch, cents, cbT,
      "embedding", "vec_id", 4, 16, fullIdCheck = true)
    assert(got.select($"vec_id").as[Long].collect().toSet ==
      negatives.toSet,
      "bloom-negative batch did not ingest through the screened check")
    // superseded sidecar artifacts fall to the same grace GC as models
    val bloomFiles = new java.io.File(dir).list()
      .filter(_.startsWith("bloom-")).toSeq
    assert(bloomFiles.size <= 2,
      s"superseded bloom artifacts not GC'd: $bloomFiles")
    graft.operators.OpCache.release()
  }

  test("heavy retraction rebuilds the id Bloom once stale rows cross the " +
    "fraction of recorded capacity; light retraction only ledgers") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_bstale").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
      dir)
    def meta = Quantize.readManifestMeta(spark, dir,
      Quantize.codeStoreVersion(spark, dir).get)
    def lane(ids: Seq[Long]): Seq[Long] = ids.toDF("vec_id")
      .select(xxhash64($"vec_id")).as[Long].collect().toSeq
    val heldIds = e.select($"vec_id").as[Long].collect().toSeq.sorted
    val sz = heldIds.size
    assert(sz > 100, "fixture degenerate: need > 100 ids")
    // capacity 2×corpus (a SANE sizing — the survivors must fit, or the
    // rebuilt filter saturates and its fpp claim is meaningless);
    // rebuild threshold = capacity/10 = sz/5 retracted rows
    Quantize.enableCodeStoreIdBloom(spark, dir, "vec_id", 2L * sz, 1e-5)
    val threshold = (2L * sz) / 10
    // LIGHT retraction (sz/10 < threshold): ledger accumulates, same
    // artifact — the retracted ids stay stale-CONSERVATIVE positives
    val first = heldIds.take(sz / 10)
    val bloomRelBefore = meta("bloom")
    Quantize.removeFromCodeStore(spark, dir, first.toDF("vec_id"), "vec_id")
    assert(meta("bloomstale") == first.size.toString,
      s"light retraction should ledger ${first.size} stale rows, " +
        s"meta = $meta")
    assert(meta("bloom") == bloomRelBefore,
      "light retraction must not rebuild the sidecar")
    assert(lane(first).forall(
      Quantize.storedIdBloom(spark, dir).get.mightContainLong),
      "below-threshold retraction should leave stale positives in place")
    // HEAVY retraction (running total crosses the threshold): filter
    // rebuilt over survivors under the same commit, ledger reset
    val second = heldIds.slice(sz / 10,
      (threshold + 5).toInt.min(sz / 2))
    assert(first.size + second.size > threshold,
      "fixture degenerate: second batch does not cross the threshold")
    Quantize.removeFromCodeStore(spark, dir, second.toDF("vec_id"), "vec_id")
    assert(meta("bloomstale") == "0",
      s"crossing the threshold should reset the ledger, meta = $meta")
    assert(meta("bloom") != bloomRelBefore,
      "crossing the threshold should record a fresh artifact")
    val rebuilt = Quantize.storedIdBloom(spark, dir).get
    val survivors = heldIds.drop(first.size + second.size)
    assert(lane(survivors).forall(rebuilt.mightContainLong),
      "rebuild dropped a surviving id — no-false-negatives broken")
    // at fpp 1e-5 a retracted id surviving as a positive is ~impossible
    assert(lane(first ++ second).forall(h => !rebuilt.mightContainLong(h)),
      "rebuilt filter still holds retracted ids")
    // the rebuilt sidecar still screens: a retracted id re-ingests as
    // definitely-new with ZERO store reads (the exact fallback is skipped)
    val back = e.filter($"vec_id" === first.head)
      .select($"vec_id", $"embedding")
    assert(Quantize.ingestBatchCodeStore(spark, dir, back, cents, cbT,
      "embedding", "vec_id", 4, 16, fullIdCheck = true).count() == 1,
      "retracted id should re-ingest as bloom-negative after the rebuild")
    graft.operators.OpCache.release()
  }

  test("gcCodeStore age fallback collects idle orphans on a quiet store, " +
    "spares fresh and future-versioned artifacts") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_age").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
      dir)
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    def mkOrphan(name: String, stale: Boolean): java.io.File = {
      val leaf = new java.io.File(dir, s"$name/pcell=999")
      assert(leaf.mkdirs())
      val f = new java.io.File(leaf, "part-junk.parquet")
      java.nio.file.Files.write(f.toPath, "junk".getBytes("UTF-8"))
      if (stale) Seq(leaf.getParentFile, leaf, f)
        .foreach(p => assert(p.setLastModified(old)))
      leaf.getParentFile
    }
    val staleCur = mkOrphan("gen-000001-aaaaaaaa", stale = true)
    val freshCur = mkOrphan("gen-000001-bbbbbbbb", stale = false)
    val staleTmp = new java.io.File(dir, "_graft_manifest-v000001.tmp-dd")
    java.nio.file.Files.write(staleTmp.toPath, "junk".getBytes("UTF-8"))
    assert(staleTmp.setLastModified(old))
    // age the REFERENCED artifacts too: age alone must never collect them
    val planted = Set(staleCur, freshCur).map(_.getName)
    new java.io.File(dir).listFiles.filter(f =>
        !planted(f.getName) &&
          (f.getName.startsWith("models-") || f.getName.startsWith("gen-")))
      .foreach { d =>
        d.setLastModified(old)
        Option(d.listFiles).getOrElse(Array.empty)
          .foreach(c => c.setLastModified(old))
      }
    val before = Quantize.readCodeStore(spark, dir)
      .select($"vec_id").as[Long].collect().toSet
    Quantize.gcCodeStore(spark, dir) // default 24 h horizon
    assert(!staleCur.exists(), "idle orphan at ≤ current survived age GC")
    assert(!staleTmp.exists(), "idle tmp staging file survived age GC")
    assert(freshCur.exists(),
      "a YOUNG orphan was age-collected — a racing doomed writer's " +
        "staging data is not this GC's to delete")
    assert(scala.util.Try(Quantize.storedPq(spark, dir)).isSuccess,
      "the referenced models dir was collected")
    assert(Quantize.readCodeStore(spark, dir)
      .select($"vec_id").as[Long].collect().toSet == before,
      "age GC touched referenced data")
    // an orphan targeting CURRENT+1 is indistinguishable from an
    // in-flight writer by version alone: while FRESH it must be spared
    // AND must not trigger the advance
    val future = mkOrphan("gen-000002-cccccccc", stale = false)
    Quantize.gcCodeStore(spark, dir)
    assert(future.exists(),
      "a fresh current+1 orphan was collected — it may be a live writer")
    assert(Quantize.codeStoreVersion(spark, dir).contains(1L),
      "the advance fired for a FRESH current+1 orphan")
    // once IDLE past the horizon, the sweep ADVANCES past it with a
    // no-op manifest commit (same CAS every writer uses — a stalled
    // writer's later commit is refused loudly, never corrupted), after
    // which the ordinary age gate collects it
    Seq(future, new java.io.File(future, "pcell=999"),
        new java.io.File(future, "pcell=999/part-junk.parquet"))
      .foreach(p => assert(p.setLastModified(old)))
    Quantize.gcCodeStore(spark, dir)
    assert(Quantize.codeStoreVersion(spark, dir).contains(2L),
      "idle current+1 orphan did not trigger the no-op advance")
    assert(!future.exists(),
      "idle current+1 orphan survived the advance + age gate")
    assert(scala.util.Try(Quantize.storedPq(spark, dir)).isSuccess,
      "the no-op advance dropped the models pointer")
    assert(Quantize.readCodeStore(spark, dir)
      .select($"vec_id").as[Long].collect().toSet == before,
      "the no-op advance changed the store's content")
    // idempotent: a second sweep with nothing to do commits nothing
    Quantize.gcCodeStore(spark, dir)
    assert(Quantize.codeStoreVersion(spark, dir).contains(2L),
      "a quiet sweep advanced the generation")
    // a foreign name with a gen- prefix must be SKIPPED, not crash GC
    assert(new java.io.File(dir, "gen-").mkdirs())
    assert(new java.io.File(dir, "gen-notaversion").mkdirs())
    Quantize.gcCodeStore(spark, dir)
    Quantize.removeFromCodeStore(spark, dir,
      e.filter($"vec_id" % 17 === 0).select($"vec_id"), "vec_id")
    assert(new java.io.File(dir, "gen-").exists() &&
      new java.io.File(dir, "gen-notaversion").exists())
    graft.operators.OpCache.release()
  }

  test("writeCodeStore refuses a non-empty path instead of shadowing it") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_foreign").toString
    // foreign content: a cell-partitioned parquet layout written by hand
    e.select($"vec_id", $"vec_id".cast("int").as("cell")).write
      .mode("overwrite").partitionBy("cell").parquet(dir)
    val ex = intercept[IllegalArgumentException] {
      Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
        dir)
    }
    assert(ex.getMessage.contains("is not empty"), ex.getMessage)
    assert(Quantize.codeStoreVersion(spark, dir).isEmpty,
      "refused write left a manifest behind")
    graft.operators.OpCache.release()
  }

  test("writeCodeStore(versioned = false) is refused: there is no flat form") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_noflat").toString
    val ex = intercept[IllegalArgumentException] {
      Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
        dir, versioned = false)
    }
    assert(ex.getMessage.contains("versioned = false"), ex.getMessage)
    assert(Quantize.codeStoreVersion(spark, dir).isEmpty &&
      new java.io.File(dir).list().isEmpty, "refused write wrote files")
  }

  test("retrainCodeStore: new models + full re-encode behind one swap; " +
    "equals one-shot with the stored models; old models GC'd past grace") {
    val (e, cents, cbT) = storeModels()
    val half = e.filter($"vec_id" % 2 === 0)
    val dir = tempDir("pq_retrain").toString
    Quantize.writeCodeStore(half, cents, cbT, "embedding", "vec_id", 4, 16,
      dir)
    def ids(p: String): Set[Long] =
      Quantize.readCodeStore(spark, p).select($"vec_id")
        .as[Long].collect().toSet
    val halfIds = ids(dir)
    val allIds = e.select($"vec_id").as[Long].collect().toSet
    // reader loop across the migration: every read resolves EITHER the
    // old store or the new one, never a mixed generation
    val valid = Set(halfIds, allIds)
    @volatile var stop = false
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val reader = new Thread(() => {
      try while (!stop) {
        val got = ids(dir)
        assert(valid.contains(got),
          s"reader observed a mixed-generation id set of size ${got.size}")
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    reader.start()
    // the corpus DRIFTED (doubled); retrain over the full current corpus
    try Quantize.retrainCodeStore(spark, dir, e, "embedding", "vec_id",
      dim = 64, m = 4, ksub = 8, cells = 8)
    finally { stop = true; reader.join(60000) }
    assert(failure.get() == null,
      s"concurrent reader failed during retrain: ${failure.get()}")
    assert(Quantize.codeStoreVersion(spark, dir).contains(2L))
    // the manifest now pairs the new codes with the NEW models
    val (c2, cb2, _, _) = Quantize.storedPq(spark, dir)
    val dir2 = tempDir("pq_retrain_os").toString
    Quantize.writeCodeStore(e, c2, cb2, "embedding", "vec_id", 4, 16,
      dir2)
    def rows(p: String) = Quantize.readCodeStore(spark, p)
      .select($"vec_id", $"codes", $"cell".cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(rows(dir) == rows(dir2),
      "retrained store diverges from a one-shot build with its own models")
    // serving through the stored models works end-to-end
    val topk = Quantize.ivfPqTopKFromStore(spark, dir,
        e.filter($"vec_id" === 1), c2, cb2, "embedding", "vec_id",
        4, 16, k = 5, nProbe = 3)
    assert(topk.count() > 0)
    // grace: the OLD models dir survives exactly one generation (the v1
    // manifest still references it), then falls to GC on the next commit
    def modelDirs() = new java.io.File(dir).list()
      .filter(_.startsWith("models-")).sorted.toSeq
    assert(modelDirs().size == 2, s"expected old+new models: ${modelDirs()}")
    Quantize.removeFromCodeStore(spark, dir,
      e.filter($"vec_id" % 19 === 1).select($"vec_id"), "vec_id")
    assert(Quantize.codeStoreVersion(spark, dir).contains(3L))
    assert(modelDirs().size == 1 &&
      modelDirs().head.startsWith("models-000002"),
      s"old models not GC'd past grace: ${modelDirs()}")
    assert(scala.util.Try(Quantize.storedPq(spark, dir)).isSuccess,
      "the retracted store lost its models pointer")
    graft.operators.OpCache.release()
  }

  test("storedPq self-describing serving/ingest: manifest-resolved calls " +
    "equal the explicit-model calls; geometry survives a retrain; flat " +
    "stores refuse") {
    val (e, cents, cbT) = storeModels()
    val m3 = pmod($"vec_id", lit(3))
    val dir = tempDir("pq_stored").toString
    val dir2 = tempDir("pq_stored2").toString
    Quantize.writeCodeStore(e.filter(m3 === 0), cents, cbT,
      "embedding", "vec_id", 4, 16, dir)
    val (_, _, m1, sd1) = Quantize.storedPq(spark, dir)
    assert((m1, sd1) == ((4, 16)), s"geometry mangled: $m1/$sd1")
    // manifest-resolved ingest ≡ the explicit-models ingest
    Quantize.ingestBatchCodeStoreStored(spark, dir, e.filter(m3 === 1),
      "embedding", "vec_id")
    Quantize.writeCodeStore(e.filter(m3 === 0), cents, cbT,
      "embedding", "vec_id", 4, 16, dir2)
    Quantize.ingestBatchCodeStore(spark, dir2, e.filter(m3 === 1),
      cents, cbT, "embedding", "vec_id", 4, 16)
    def rows(p: String) = Quantize.readCodeStore(spark, p)
      .select($"vec_id", $"codes", $"cell".cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(rows(dir) == rows(dir2),
      "stored-form ingest diverges from the explicit-models ingest")
    // manifest-resolved serving ≡ the explicit-models serving
    val q = e.filter($"vec_id" === 1)
    def served(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"corpus_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(
      served(Quantize.ivfPqTopKStored(spark, dir, q, "embedding", "vec_id",
        k = 5, nProbe = 3)) ==
      served(Quantize.ivfPqTopKFromStore(spark, dir, q, cents, cbT,
        "embedding", "vec_id", 4, 16, k = 5, nProbe = 3)),
      "stored-form serving diverges from the explicit-models serving")
    // a retrain may change the GEOMETRY too (m=4 → m=8): callers that
    // hardcode m/subDim break; the self-describing form keeps serving
    Quantize.retrainCodeStore(spark, dir, e, "embedding", "vec_id",
      dim = 64, m = 8, ksub = 8, cells = 8)
    val (_, _, m2, sd2) = Quantize.storedPq(spark, dir)
    assert((m2, sd2) == ((8, 8)), s"retrained geometry wrong: $m2/$sd2")
    assert(Quantize.ivfPqTopKStored(spark, dir, q, "embedding", "vec_id",
      k = 5, nProbe = 3).count() > 0)
    // a flat cell-partitioned layout (no manifest) is not a code store:
    // every stored form refuses it loudly
    val flat = tempDir("pq_stored_f").toString
    e.select($"vec_id", $"vec_id".cast("int").as("cell")).write
      .mode("overwrite").partitionBy("cell").parquet(flat)
    def refused(op: => Any) = assert(intercept[IllegalArgumentException](op)
      .getMessage.contains("not a code store"))
    refused(Quantize.storedPq(spark, flat))
    refused(Quantize.ivfPqTopKStored(spark, flat, q, "embedding", "vec_id",
      k = 5))
    refused(Quantize.ingestBatchCodeStoreStored(spark, flat,
      e.filter(m3 === 1), "embedding", "vec_id"))
    graft.operators.OpCache.release()
  }

  test("versioned code store refuses a concurrent writer's lost update") {
    val (e, cents, cbT) = storeModels()
    val dir = tempDir("pq_race").toString
    Quantize.writeCodeStore(e, cents, cbT, "embedding", "vec_id", 4, 16,
      dir)
    // writer A resolves v1, then writer B commits v2 first
    Quantize.removeFromCodeStore(spark, dir,
      e.filter($"vec_id" % 11 === 0).select($"vec_id"), "vec_id")
    assert(Quantize.codeStoreVersion(spark, dir).contains(2L))
    // writer A now swaps against its STALE v1 snapshot — must be refused
    // (last-swap-wins would silently resurrect B's retracted ids)
    val ex = intercept[IllegalArgumentException] {
      Quantize.removeVersioned(spark, dir,
        e.filter($"vec_id" % 13 === 0).select($"vec_id"), "vec_id", 1L)
    }
    assert(ex.getMessage.contains("concurrent writer"), ex.getMessage)
    assert(Quantize.codeStoreVersion(spark, dir).contains(2L),
      "refused commit must not advance the generation")
    graft.operators.OpCache.release()
  }
}
