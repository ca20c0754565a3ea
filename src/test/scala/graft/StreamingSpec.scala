package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{ParquetBoundary, StreamingFlows, StreamingReducer}
import graft.streaming.StreamingReducer.{Arrival, Completed}

class StreamingSpec extends SparkSpec {

  test("intervalJoin names the equi-key requirement up front") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("ts", "k")
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamingFlows.intervalJoin(
        df, "ts", df, "ts", Nil, "10 minutes")
    }
    assert(err.getMessage.contains("equi-key"), err.getMessage)
  }
  import spark.implicits._

  test("streaming reducer emits exactly on count-complete, in branch order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Arrival]
    // no TTL: registered processing-time timeouts would busy-loop the
    // zero-interval test trigger and starve processAllAvailable
    val out = StreamingReducer.reduce(input.toDS(), ttlMs = 0L)
    val q = out.writeStream.format("memory").queryName("red_out")
      .outputMode("append").start()
    try {
      // job a:2 gets branch 1 first, then branch 0 → completes second batch
      input.addData(Arrival("a:2", 1, """{"v":11}"""))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM red_out").count() == 0)

      // duplicate delivery of branch 1 must NOT complete the job
      input.addData(Arrival("a:2", 1, """{"v":99}"""))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM red_out").count() == 0)

      input.addData(Arrival("a:2", 0, """{"v":10}"""), Arrival("b:1", 0, """{"v":7}"""))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM red_out").as[Completed].collect()
        .map(c => c.hubJobId -> c.jobList).toMap
      // branch order pinned; first delivery of branch 1 wins (dedup)
      assert(rows("a:2") == Seq("""{"v":10}""", """{"v":11}"""))
      assert(rows("b:1") == Seq("""{"v":7}"""))
    } finally q.stop()
  }

  test("streaming reducer TTL drops incomplete groups silently") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Arrival]
    val out = StreamingReducer.reduce(input.toDS(), ttlMs = 1L)
    // with a TTL the engine re-triggers continuously (timeouts pending), so
    // poll the sink instead of processAllAvailable
    val q = out.writeStream.format("memory").queryName("red_ttl")
      .outputMode("append").start()
    def pollUntil(cond: => Boolean, ms: Long = 30000): Boolean = {
      val deadline = System.currentTimeMillis() + ms
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      cond
    }
    try {
      input.addData(Arrival("x:2", 0, """{"v":1}""")) // never completes
      input.addData(Arrival("y:1", 0, """{"v":2}"""))
      input.addData(Arrival("z:1", 0, """{"v":3}"""))
      assert(pollUntil(
        spark.sql("SELECT * FROM red_ttl").count() == 2),
        "complete jobs y:1 and z:1 must emit")
      // give the expired x:2 additional batches to (incorrectly) emit
      Thread.sleep(500)
      val ids = spark.sql("SELECT hubJobId FROM red_ttl").as[String].collect().toSet
      assert(ids == Set("y:1", "z:1")) // x:2 expired, never emitted
    } finally q.stop()
  }

  test("reduceQuery paces TTL timeout checks instead of busy re-triggering") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Arrival]
    // an incomplete group leaves a registered timeout; with the default
    // zero-interval trigger the engine would spin empty batches back-to-back
    val q = StreamingReducer.reduceQuery(input.toDS(), ttlMs = 1000L)
      .format("memory").queryName("red_paced").start()
    try {
      input.addData(Arrival("lone:2", 0, """{"v":1}""")) // never completes
      Thread.sleep(3000)
      val batches = Option(q.lastProgress).map(_.batchId).getOrElse(0L)
      // paced at ttl/2 = 500 ms -> at most ~8 batches in 3 s; a busy spin
      // runs hundreds
      assert(batches <= 10, s"expected paced triggers, saw batchId=$batches")
      assert(spark.sql("SELECT * FROM red_paced").isEmpty) // expired silently
    } finally q.stop()
  }

  test("toArrivals serializes hub-tagged frames into the reducer contract") {
    val df = Seq((1, "u1:2", 0), (2, "u1:2", 1)).toDF("x", "__hub_job_id", "__hub_branch")
    val arr = StreamingReducer.toArrivals(df).collect().sortBy(_.branch)
    assert(arr.map(_.hubJobId).toSet == Set("u1:2"))
    assert(arr(0).payload == """{"x":1}""")
    assert(arr(1).payload == """{"x":2}""")
  }

  test("windowed counts with watermark over the events fixture (AvailableNow)") {
    // file-source replay of the events parquet ≙ worker drain
    // (die_when_empty); the file stream source needs a DIRECTORY, so stage
    // the single-file fixture into one
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = tempDir("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val agg = StreamingFlows.windowedCounts(stream, "ts", "1 hour",
      keyCols = Seq("event_type"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append mode emits only watermark-closed windows; the fixture spans
    // many hours so all but the tail are closed
    val n = spark.sql("SELECT * FROM win_out").count()
    assert(n > 0)
    // cross-check a closed window's count against the batch query
    val batch = graft.sources.Tables.normalizeTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
    val streamed = spark.sql("SELECT window, event_type, n FROM win_out")
    val joined = streamed.join(batch,
      streamed("window") === batch("window") &&
        streamed("event_type") === batch("event_type"))
    assert(joined.filter(col("n") =!= col("count")).count() == 0)
  }

  test("session windows group events by inactivity gap") {
    // batch-mode session_window: same semantics engine as streaming
    val rows = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:00:30"),
      (1L, "2024-01-01 01:00:00"), // > gap → second session for user 1
      (2L, "2024-01-01 00:00:10"))
      .toDF("user_id", "tss")
      .withColumn("ts", to_timestamp(col("tss")))
    val sessions = rows
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val byUser = sessions.groupBy("user_id").count().as[(Long, Long)]
      .collect().toMap
    assert(byUser == Map(1L -> 2L, 2L -> 1L))
    assert(sessions.filter(col("n") === 2).count() == 1) // the 2-event session
  }

  test("stream-stream interval join matches clicks to impressions in-window") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val joined = StreamingFlows.intervalJoin(
      imps.toDF().toDF("ad_id", "imp_ts"),
      "imp_ts",
      clicks.toDF().toDF("ad_id", "click_ts"),
      "click_ts",
      Seq("ad_id"), maxDelay = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:05:00")))
      clicks.addData(
        (1L, ts("2024-01-01 00:04:00")),  // in window → match
        (2L, ts("2024-01-01 00:30:00")),  // past maxDelay → no match
        (3L, ts("2024-01-01 00:06:00")))  // no impression → no match
      q.processAllAvailable()
      val rows = spark.sql("SELECT ad_id FROM ssj_out").as[Long].collect().toSeq
      assert(rows == Seq(1L), s"expected only ad 1 to join, got $rows")
    } finally q.stop()
  }

  test("stream-static enrichment join broadcasts the dimension per micro-batch") {
    // the third join shape next to batch joins and the stream-stream
    // interval join: a stream enriched against a static dim — planned as a
    // broadcast join inside each micro-batch, no stream-side state at all
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "EMEA"), (2L, "APAC")).toDF("region_id", "region_name")
    val input = MemoryStream[(Long, Double)]
    val enriched = input.toDF().toDF("region_id", "value")
      .join(broadcast(dim), Seq("region_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("sse_out")
      .outputMode("append").start()
    try {
      input.addData((1L, 10.0), (2L, 20.0), (9L, 30.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT region_id, region_name FROM sse_out")
        .as[(Long, Option[String])].collect().toMap
      assert(got == Map(1L -> Some("EMEA"), 2L -> Some("APAC"), 9L -> None))
      assert(q.lastProgress.stateOperators.isEmpty,
        "stream-static joins must keep no streaming state")
    } finally q.stop()
  }

  test("a query stream scores against the static BM25 index (stream-static serve)") {
    // the serve-many contract in the streaming engine: queries arrive as
    // a stream, the q119 index (+ precomputed per-term df and stats — the
    // serving frame) is the static side, and every emitted score must
    // equal the batch bm25FromIndex answer for the same terms
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "the quick brown fox"),
      (3L, "spark query planning and data pruning"),
      (4L, "data data data everywhere")).toDF("doc_id", "text")
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"streamspec_bm25_$pid"
    Seq(tbl, s"${tbl}_stats").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.Rank.writeIndex(docs, "text", "doc_id", tbl, buckets = 4)
    val (index, stats) = graft.operators.Rank.readIndex(spark, tbl)
    val serving = graft.operators.Rank.indexServingFrame(index, stats)
    val input = MemoryStream[(Long, Seq[String])]
    val scored = graft.operators.Rank.bm25Serve(
      input.toDF().toDF("query_id", "terms"), serving,
      "query_id", "terms", "doc_id")
    val q = scored.writeStream.format("memory").queryName("bm25_serve_out")
      .outputMode("complete").start()
    try {
      input.addData((1L, Seq("spark", "data")), (2L, Seq("fox")))
      q.processAllAvailable()
      // a later batch, with un-normalized terms (case/space) on purpose
      input.addData((3L, Seq("Data ", "QUERY")))
      q.processAllAvailable()
      val got = spark.sql("SELECT query_id, doc_id, score FROM bm25_serve_out")
        .as[(Long, Long, Double)].collect().toSet
      val expected = Seq(
          1L -> Seq("spark", "data"), 2L -> Seq("fox"),
          3L -> Seq("Data ", "QUERY"))
        .flatMap { case (qid, ts) =>
          graft.operators.Rank.bm25FromIndex(index, stats, "doc_id", ts)
            .as[(Long, Double)].collect()
            .map { case (d, s) => (qid, d, s) }
        }.toSet
      assert(got == expected,
        s"stream scores diverge from batch:\n got=$got\n exp=$expected")
    } finally q.stop()
  }

  test("streaming dedup drops repeated content within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val deduped = StreamingFlows.streamingDedup(
      input.toDF().toDF("text", "ts"), "text", "ts", watermark = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("sdd_out")
      .outputMode("append").start()
    try {
      input.addData(
        ("Hello  World", ts("2024-01-01 00:00:00")),
        ("other doc", ts("2024-01-01 00:00:10")))
      q.processAllAvailable()
      // same normalized content (case/whitespace) in a LATER batch → dropped
      input.addData(("hello world", ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      val n = spark.sql("SELECT * FROM sdd_out").count()
      assert(n == 2, s"duplicate should be dropped, got $n rows")
    } finally q.stop()
  }

  test("streaming dedup against a snapshot drops stored content, keeps new") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // the snapshot's fingerprint store (one fp column, as written at ingest)
    val storeFps = Seq("alpha beta", "gamma delta").toDF("text")
      .select(graft.functions.TextFunctions.fingerprint($"text").as("fp"))
    val kept = StreamingFlows.streamingDedupAgainst(
      input.toDF().toDF("id", "text"), storeFps, "text")
    val q = kept.writeStream.format("memory").queryName("sda_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "  ALPHA   beta "), // normalizes to stored content → dropped
        (2L, "brand new doc"),
        (3L, "gamma delta"))     // stored verbatim → dropped
      q.processAllAvailable()
      input.addData((4L, "another new one"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM sda_out").as[Long].collect().sorted
      assert(ids.toSeq == Seq(2L, 4L), s"got ${ids.toSeq}")
    } finally q.stop()
    intercept[IllegalArgumentException](StreamingFlows.streamingDedupAgainst(
      input.toDF().toDF("id", "text"), Seq((1L, "x")).toDF("a", "b"), "text"))
  }

  test("streaming dedup off the ingest STORE sees batch-appended fingerprints") {
    implicit val sqlCtx = spark.sqlContext
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"streamspec_fp_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // snapshot = seed corpus + one ingestBatch append (the q137 loop)
    graft.operators.Dedup.writeFingerprintStore(
      Seq("alpha beta").toDF("text"), "text", tbl, buckets = 2)
    graft.operators.Dedup.ingestBatch(spark,
      Seq((10L, "gamma delta"), (11L, "alpha beta")).toDF("doc_id", "text"),
      "text", "doc_id", tbl)
    val input = MemoryStream[(Long, String)]
    val kept = StreamingFlows.streamingDedupAgainstStore(spark,
      input.toDF().toDF("id", "text"), "text", tbl)
    val q = kept.writeStream.format("memory").queryName("sdas_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, " ALPHA  beta "),  // seed-corpus content → dropped
        (2L, "gamma   DELTA"),  // content appended by ingestBatch → dropped
        (3L, "fresh thing"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM sdas_out").as[Long].collect().sorted
      assert(ids.toSeq == Seq(3L), s"got ${ids.toSeq}")
    } finally q.stop()
    graft.operators.OpCache.release()
  }

  test("streaming ingest: N micro-batches equal the one-shot store; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"streamspec_ingest_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    graft.operators.Dedup.writeFingerprintStore(
      Seq("seed one").toDF("text"), "text", tbl, buckets = 2)
    val ckpt = tempDir("graft_ingest_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val survivorIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val writer = StreamingFlows.streamingIngest(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", tbl, ckpt,
      onBatch = (surv, _) => survivorIds.synchronized {
        survivorIds ++= surv.select($"doc_id").as[Long].collect()
      })
    val q = writer.start()
    val b1 = Seq((1L, "alpha beta"), (2L, "SEED   one"), // dup of the seed
      (3L, "alpha  BETA")) // in-batch dup of 1
    val b2 = Seq((4L, "gamma delta"), (5L, "alpha beta")) // dup of batch 1
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(survivorIds.sorted.toSeq == Seq(1L, 4L),
      s"per-batch survivors wrong: ${survivorIds.sorted.toSeq}")
    // the store equals the one-shot writeFingerprintStore over EVERYTHING
    val gotFps = spark.table(tbl).as[String].collect().toSet
    val all = (Seq((0L, "seed one")) ++ b1 ++ b2).toDF("doc_id", "text")
    val wantFps = all.select(
        graft.functions.TextFunctions.fingerprint($"text"))
      .distinct().as[String].collect().toSet
    assert(gotFps == wantFps,
      s"missing=${wantFps -- gotFps}, extra=${gotFps -- wantFps}")
    // crash-replay semantics: foreachBatch re-runs a batch at-least-once;
    // re-running the LAST micro-batch's ingest step must change nothing
    // (every fingerprint is already in the store) — exactly-once effect
    assert(graft.operators.Dedup.ingestBatch(spark,
      b2.toDF("doc_id", "text"), "text", "doc_id", tbl).count() == 0,
      "replayed micro-batch re-ingested rows")
    assert(spark.table(tbl).as[String].collect().toSet == wantFps,
      "replay changed the store")
    graft.operators.OpCache.release()
  }

  test("streaming LSH ingest: N micro-batches equal the same batches " +
    "ingested sequentially; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tblS = s"streamspec_lshing_s_$pid" // streamed
    val tblQ = s"streamspec_lshing_q_$pid" // sequential twin
    Seq(tblS, tblQ).foreach(t => Seq(s"${t}_bands", s"${t}_sigs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x")))
    val seed = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    Seq(tblS, tblQ).foreach(t => graft.operators.Dedup.writeLshStore(
      seed, "text", "doc_id", t,
      shingleK = 3, numHashes = 64, bands = 16, buckets = 2))
    val b1 = Seq((1L, "one two three four five six seven"),
      (2L, "ALPHA beta gamma delta epsilon zeta eta theta"), // ~seed dup
      (3L, "one two THREE four five six seven")) // in-batch near-dup of 1
    val b2 = Seq((4L, "totally different words appear here now indeed"),
      (5L, "one two three four five six seven extra")) // near-dup of 1
    val ckpt = tempDir("graft_lsh_ingest_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlows.streamingIngestLsh(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", tblS, ckpt,
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    Seq(b1, b2).foreach(b => graft.operators.Dedup.ingestBatchLsh(
      spark, b.toDF("doc_id", "text"), "text", "doc_id", tblQ,
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5))
    def sigRows(t: String) = spark.table(s"${t}_sigs")
      .select($"id", $"sig").as[(Long, Seq[Long])].collect().toSet
    def bandRows(t: String) = spark.table(s"${t}_bands")
      .select($"id", $"band", $"bucket").as[(Long, Int, Long)]
      .collect().toSet
    assert(sigRows(tblS) == sigRows(tblQ),
      s"streamed sigs diverge from sequential: " +
        s"streamIds=${sigRows(tblS).map(_._1)}, seqIds=${sigRows(tblQ).map(_._1)}")
    assert(bandRows(tblS) == bandRows(tblQ), "streamed bands diverge")
    val ids = sigRows(tblS).map(_._1)
    assert(ids(100L) && ids(1L) && ids(4L) && !ids(2L) && !ids(3L) && !ids(5L),
      s"ingest dedup wrong: $ids")
    // crash-replay: re-running the last micro-batch's step appends nothing
    assert(graft.operators.Dedup.ingestBatchLsh(spark,
      b2.toDF("doc_id", "text"), "text", "doc_id", tblS,
      shingleK = 3, numHashes = 64, bands = 16,
      threshold = 0.5).count() == 0, "replayed micro-batch re-ingested")
    assert(sigRows(tblS) == sigRows(tblQ), "replay changed the store")
    graft.operators.OpCache.release()
  }

  test("streaming SemDeDup ingest: stream equals sequential batches; " +
    "replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tblS = s"streamspec_seming_s_$pid"
    val tblQ = s"streamspec_seming_q_$pid"
    Seq(tblS, tblQ).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val seed = Seq((100L, Seq(1f, 0f, 0f, 0f)), (101L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
      .toDF("centroid_id", "embedding")
    Seq(tblS, tblQ).foreach(t => graft.operators.Dedup.writeAssignedCorpus(
      seed, cents, "embedding", "vec_id", probes = 2, t, buckets = 2))
    val b1 = Seq((1L, Seq(0.99f, 0.1f, 0f, 0f)), // semantic dup of 100
      (2L, Seq(0f, 0f, 1f, 0f)),
      (3L, Seq(0f, 0.05f, 0.99f, 0f))) // in-batch dup of 2
    val b2 = Seq((4L, Seq(0f, 0f, 0f, 1f)),
      (5L, Seq(0.1f, 0f, 0.99f, 0f))) // dup of batch-1 survivor 2
    val ckpt = tempDir("graft_sem_ingest_ckpt").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingFlows.streamingIngestSemDedup(
      input.toDF().toDF("vec_id", "embedding"), tblS, cents,
      "embedding", "vec_id", probes = 2, tau = 0.95, ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    Seq(b1, b2).foreach(b => graft.operators.Dedup.ingestBatchSemDedup(
      spark, b.toDF("vec_id", "embedding"), tblQ, cents,
      "embedding", "vec_id", probes = 2, tau = 0.95))
    def rows(t: String) = spark.table(t)
      .select($"cell", $"vec_id", $"embedding")
      .as[(Long, Long, Seq[Float])].collect().toSet
    assert(rows(tblS) == rows(tblQ),
      s"streamed assignments diverge: stream=${rows(tblS).map(_._2)}, " +
        s"seq=${rows(tblQ).map(_._2)}")
    val ids = rows(tblS).map(_._2)
    assert(ids(100L) && ids(101L) && ids(2L) && ids(4L) &&
      !ids(1L) && !ids(3L) && !ids(5L), s"semantic dedup wrong: $ids")
    // crash-replay: the last micro-batch re-ingested is a no-op
    assert(graft.operators.Dedup.ingestBatchSemDedup(spark,
      b2.toDF("vec_id", "embedding"), tblS, cents, "embedding", "vec_id",
      probes = 2, tau = 0.95).count() == 0, "replayed batch re-ingested")
    assert(rows(tblS) == rows(tblQ), "replay changed the store")
    graft.operators.OpCache.release()
  }

  test("streaming code-store ingest: stream equals sequential batches; " +
    "replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dirS = tempDir("cs_ing_s").toString
    val dirQ = tempDir("cs_ing_q").toString
    // 4-dim vectors, m=2 subspaces of 2; hand-built models (stored with
    // the store in production — re-training would shift cell boundaries)
    val cents = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 0f, 1f, 0f)))
      .toDF("centroid_id", "embedding")
    val cb = Seq(
      (0, 0, Seq(1f, 0f)), (0, 1, Seq(0f, 1f)),
      (1, 0, Seq(1f, 0f)), (1, 1, Seq(0f, 1f)))
      .toDF("sub", "code", "codeword")
    val seed = Seq((100L, Seq(0.9f, 0.1f, 0.1f, 0f)))
      .toDF("vec_id", "embedding")
    Seq(dirS, dirQ).foreach(d => graft.operators.Quantize.writeCodeStore(
      seed, cents, cb, "embedding", "vec_id", 2, 2, d, versioned = true))
    val b1 = Seq((1L, Seq(0.8f, 0.2f, 0f, 0f)), (2L, Seq(0f, 0.1f, 0.9f, 0.2f)))
    val b2 = Seq((3L, Seq(0.1f, 0.9f, 0.2f, 0f)),
      (100L, Seq(0.9f, 0.1f, 0.1f, 0f))) // already held — skipped
    val ckpt = tempDir("graft_cs_ingest_ckpt").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingFlows.streamingIngestCodeStore(
      input.toDF().toDF("vec_id", "embedding"), dirS, cents, cb,
      "embedding", "vec_id", m = 2, subDim = 2, ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    Seq(b1, b2).foreach(b => graft.operators.Quantize.ingestBatchCodeStore(
      spark, dirQ, b.toDF("vec_id", "embedding"), cents, cb,
      "embedding", "vec_id", 2, 2))
    def rows(p: String) = graft.operators.Quantize.readCodeStore(spark, p)
      .select($"vec_id", $"codes", $"cell".cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(rows(dirS) == rows(dirQ),
      s"streamed code store diverges: stream=${rows(dirS).map(_._1)}, " +
        s"seq=${rows(dirQ).map(_._1)}")
    assert(rows(dirS).map(_._1) == Set(100L, 1L, 2L, 3L),
      s"wrong ids held: ${rows(dirS).map(_._1)}")
    // crash-replay: the last micro-batch re-ingested is a no-op
    val v = graft.operators.Quantize.codeStoreVersion(spark, dirS)
    assert(graft.operators.Quantize.ingestBatchCodeStore(spark, dirS,
      b2.toDF("vec_id", "embedding"), cents, cb, "embedding", "vec_id",
      2, 2).count() == 0, "replayed batch re-ingested")
    assert(graft.operators.Quantize.codeStoreVersion(spark, dirS) == v,
      "no-op replay advanced the generation")
    graft.operators.OpCache.release()
  }

  test("streaming code-store ingest drift observer: calm ticks stay calm, " +
    "a drifted tick trips the retrain threshold") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit, pmod, sequence, sin, transform}
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.trainCentroids(
      e, "embedding", "vec_id", k = 8)
    val cb = graft.operators.Quantize.trainCodebook(
      e, "embedding", "vec_id", dim = 64, m = 4, ksub = 8)
    val store = tempDir("cs_drift_s").toString
    graft.operators.Quantize.writeCodeStore(e, cents, cb, "embedding",
      "vec_id", 4, 16, store, versioned = true)
    // two CALM ticks (new ids, same distribution — disjoint corpus
    // slices re-keyed) then one DRIFTED tick (the q164 concentrated
    // new-domain shape the stored centroids never saw)
    def rekey(df: org.apache.spark.sql.DataFrame, off: Long) =
      df.select((col("vec_id") + off).as("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
    val calm1 = rekey(e.filter(pmod(col("vec_id"), lit(7)) === 3), 1000000L)
    val calm2 = rekey(e.filter(pmod(col("vec_id"), lit(7)) === 5), 2000000L)
    val drifted = rekey(e.select(col("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (sin(lit(7) * i) + sin(col("vec_id") * i) * lit(0.2))
          .cast("float")).as("embedding")), 3000000L)
    val ratios = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    val ckpt = tempDir("cs_drift_ckpt").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingFlows.streamingIngestCodeStore(
      input.toDF().toDF("vec_id", "embedding"), store, cents, cb,
      "embedding", "vec_id", m = 4, subDim = 16, ckpt,
      onDrift = Some((stats, id) => ratios.synchronized {
        ratios(id) = stats.collect()(0).getAs[Double]("err_ratio")
      })).start()
    try {
      Seq(calm1, calm2, drifted).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(ratios.size == 3, s"expected one drift frame per tick: $ratios")
    val Seq(r1, r2, rd) = ratios.values.toSeq
    // the q164 thresholds: in-distribution ≈ 1 (< 2), drifted ≫ (> 10),
    // wide separation — the per-tick trigger an operator can threshold
    assert(r1 < 2.0 && r2 < 2.0, s"calm ticks not calm: $ratios")
    assert(rd > 10.0, s"drifted tick did not trip the threshold: $ratios")
    assert(rd > 5.0 * math.max(r1, r2), s"separation too narrow: $ratios")
    // the observer rode along without perturbing the ingest itself
    assert(graft.operators.Quantize.readCodeStore(spark, store)
      .select($"vec_id").as[Long].collect().toSet ==
      (e.select($"vec_id").as[Long].collect().toSet ++
        calm1.map(_._1) ++ calm2.map(_._1) ++ drifted.map(_._1)),
      "drift observer perturbed the ingest")
    graft.operators.OpCache.release()
  }

  test("streaming ingest writers leave no cached frames after a drained run") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.streaming.DataStreamWriter
    import graft.operators.{Dedup, OpCache, Quantize}
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def noDatasets = spark.sharedState.cacheManager.isEmpty
    // drains `rows` through `writer` as a two-file parquet stream (one
    // file per tick); `tick` marks how many RDDs a tick held beyond the
    // pre-run set, so the check below cannot pass on a run that never
    // cached anything
    def drained(rows: DataFrame)(
        writer: (DataFrame, String, () => Unit) => DataStreamWriter[Row])
        : Unit = {
      val src = tempDir("drain_src").toString
      rows.repartition(2).write.mode("overwrite").parquet(src)
      val stream = spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val ckpt = tempDir("drain_ckpt").toString
      OpCache.release()
      spark.catalog.clearCache()
      val rdds = persisted()
      val held = new java.util.concurrent.atomic.AtomicInteger(0)
      StreamingFlows.runUntilDrained(writer(stream, ckpt,
        () => held.accumulateAndGet((persisted() -- rdds).size, math.max)))
      assert(held.get > 0, "the drained run cached nothing to release")
      def clean = (persisted() -- rdds).isEmpty && noDatasets
      val deadline = System.currentTimeMillis() + 10000
      while (!clean && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert((persisted() -- rdds).isEmpty,
        s"RDDs left persisted: ${persisted() -- rdds}")
      assert(noDatasets, "cached Datasets left behind")
    }
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "ALPHA beta gamma delta epsilon zeta"),
      (4L, "totally different words appear here now"))
      .toDF("doc_id", "text")
    val fp = s"streamspec_drain_fp_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $fp")
    Dedup.writeFingerprintStore(Seq("seed one").toDF("text"), "text", fp,
      buckets = 2)
    drained(docs)((st, ckpt, tick) => StreamingFlows.streamingIngest(
      st, "text", "doc_id", fp, ckpt, onBatch = (_, _) => tick()))
    val lsh = s"streamspec_drain_lsh_$pid"
    Seq("_bands", "_sigs").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $lsh$x"))
    Dedup.writeLshStore(Seq((100L, "seed words for the band store here"))
      .toDF("doc_id", "text"), "text", "doc_id", lsh,
      shingleK = 3, numHashes = 64, bands = 16, buckets = 2)
    drained(docs)((st, ckpt, tick) => StreamingFlows.streamingIngestLsh(
      st, "text", "doc_id", lsh, ckpt, onBatch = (_, _) => tick()))
    val vecs = Seq((1L, Seq(0.99f, 0.1f, 0f, 0f)), (2L, Seq(0f, 0f, 1f, 0f)),
      (3L, Seq(0f, 0.05f, 0.99f, 0f)), (4L, Seq(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 0f, 1f, 0f)))
      .toDF("centroid_id", "embedding")
    val seed = Seq((100L, Seq(0.9f, 0.1f, 0.1f, 0f))).toDF("vec_id", "embedding")
    val sem = s"streamspec_drain_sem_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $sem")
    Dedup.writeAssignedCorpus(seed, cents, "embedding", "vec_id", probes = 2,
      sem, buckets = 2)
    drained(vecs)((st, ckpt, tick) => StreamingFlows.streamingIngestSemDedup(
      st, sem, cents, "embedding", "vec_id", probes = 2, tau = 0.95, ckpt,
      onBatch = (_, _) => tick()))
    val cb = Seq((0, 0, Seq(1f, 0f)), (0, 1, Seq(0f, 1f)),
      (1, 0, Seq(1f, 0f)), (1, 1, Seq(0f, 1f))).toDF("sub", "code", "codeword")
    val store = tempDir("drain_cs").toString
    Quantize.writeCodeStore(seed, cents, cb, "embedding", "vec_id", 2, 2,
      store, versioned = true)
    drained(vecs)((st, ckpt, tick) => StreamingFlows.streamingIngestCodeStore(
      st, store, cents, cb, "embedding", "vec_id", m = 2, subDim = 2, ckpt,
      onDrift = Some((_, _) => tick())))
  }

  test("streaming near-dup off the LSH store equals the batch store path") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"streamspec_lsh_$pid"
    Seq(s"${tbl}_bands", s"${tbl}_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight")).toDF("doc_id", "text")
    graft.operators.Dedup.writeLshStore(corpus, "text", "doc_id", tbl,
      shingleK = 3, numHashes = 64, bands = 16, buckets = 2)
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta NINE"), // near-dup of 100
      (2L, "completely different content sharing no shingles with anything"))
    // batch reference off the same store, same parameters
    val expected = graft.operators.Dedup.minhashLshAgainstStore(spark,
        rows.toDF("doc_id", "text"), "text", "doc_id", tbl,
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select($"batch_id", $"corpus_id", $"est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.exists(_._1 == 1L), "fixture should plant a near-dup")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingFlows.streamingNearDupAgainstStore(spark,
      input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
      tbl, threshold = 0.5)
    val q = out.writeStream.format("memory").queryName("snd_out")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      input.addData(rows.map { case (id, tx) => (id, tx, t0) }: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT batch_id, corpus_id, est_jaccard FROM snd_out")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected, s"stream $got vs batch $expected")
    } finally q.stop()
    graft.operators.OpCache.release()
  }

  test("streaming SemDeDup off the assigned store equals the batch path") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val pid = java.lang.Long.toHexString(ProcessHandle.current().pid())
    val tbl = s"streamspec_sem_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter($"vec_id" % 5 =!= 0)
    val batch = e.filter($"vec_id" % 5 === 0 && $"vec_id" < 200)
    val cents = graft.operators.Similarity.trainCentroids(
      corpus, "embedding", "vec_id", k = 8)
    graft.operators.Dedup.writeAssignedCorpus(corpus, cents, "embedding",
      "vec_id", probes = 2, tbl, buckets = 2)
    // batch reference at the same centroids / store
    val expected = graft.operators.Dedup.semDedupBatchAgainstStore(spark,
        batch, tbl, cents, "embedding", "vec_id", probes = 2, tau = 0.2)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture should produce semantic matches")
    // the shipped centroid artifact
    val centArt = cents.select($"centroid_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
      .toSeq
    val input = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
    val out = StreamingFlows.streamingSemDedupAgainstStore(spark,
      input.toDF().toDF("vec_id", "embedding", "ts"), "embedding",
      "vec_id", "ts", tbl, centArt, tau = 0.2, probes = 2)
    val q = out.writeStream.format("memory").queryName("ssd_out")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val rows = batch.select($"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, t0))
      input.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT batch_id, corpus_id FROM ssd_out")
        .as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"stream-only: ${got -- expected}; batch-only: ${expected -- got}")
    } finally q.stop()
    graft.operators.OpCache.release()
  }

  test("DSIR model serves a live stream: scores equal the batch pass") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // train the model on a small batch corpus: target speaks vocab A
    val corpus = Seq(
      (1L, "alpha beta gamma", true), (2L, "beta alpha delta", true),
      (10L, "zork quux blarg", false), (11L, "quux zork frotz", false),
      (20L, "alpha beta quux", false))
      .toDF("doc_id", "text", "is_t")
    val ratios = graft.operators.Curate
      .dsirLogRatios(corpus, "text", col("is_t"), nBuckets = 31, alpha = 0.5)
      .collect()(0).getSeq[Double](0)
    val batch = graft.operators.Curate
      .dsirWeights(corpus, "text", "doc_id", col("is_t"), nBuckets = 31,
        alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // the shipped-artifact serving form scores a stream, no join
    val input = MemoryStream[(Long, String)]
    val scored = input.toDF().toDF("id", "text")
      .withColumn("w", graft.operators.Curate.dsirScore(col("text"), ratios))
    val q = scored.writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha beta gamma"), (10L, "zork quux blarg"),
        (20L, "alpha beta quux"))
      q.processAllAvailable()
      val got = spark.sql("SELECT id, w FROM dsir_out")
        .as[(Long, Double)].collect().toMap
      Seq(1L, 10L, 20L).foreach(id =>
        assert(math.abs(got(id) - batch(id)) < 1e-12,
          s"doc $id: stream ${got(id)} vs batch ${batch(id)}"))
    } finally q.stop()
    graft.operators.OpCache.release()
  }

  test("streaming quality gate: the native classifier scores a live stream") {
    // the fastText-style classifier + normalization expressions are
    // stateless codegen'd columns — they must compose with Structured
    // Streaming micro-batches exactly like any built-in, and agree with
    // the batch scores bit-for-bit
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val scored = input.toDF().toDF("id", "text")
      .withColumn("norm", graft.functions.TextFunctions.normalizeText($"text"))
      .withColumn("score",
        round(graft.functions.TextFunctions.hashedQualityScore($"text"), 4))
    val q = scored.writeStream.format("memory").queryName("sqg_out")
      .outputMode("append").start()
    try {
      input.addData((1L, "  Some   GOOD text "), (2L, "zz"))
      q.processAllAvailable()
      input.addData((3L, "  Some   GOOD text ")) // same content, later batch
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, norm, score FROM sqg_out")
        .as[(Long, String, Double)].collect().sortBy(_._1)
      assert(rows.map(_._2).toSeq ==
        Seq("some good text", "zz", "some good text"))
      // streaming scores equal the batch formulation on identical input
      val batch = Seq((1L, "  Some   GOOD text "), (2L, "zz"))
        .toDF("id", "text")
        .select($"id", round(
          graft.functions.TextFunctions.hashedQualityScore($"text"), 4))
        .as[(Long, Double)].collect().toMap
      assert(rows.take(2).forall { case (id, _, s) => s == batch(id) })
      assert(rows(0)._3 == rows(2)._3, "same content scored differently")
    } finally q.stop()
  }

  test("streaming split assignment equals the batch labels per document") {
    // assignSplits is a stateless hash expression: an arriving stream
    // must shard documents into the SAME train/val/test splits the batch
    // pass computes — the property that lets an incremental ingest keep
    // a stable split without reprocessing the corpus
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val labeled = graft.operators.Curate.assignSplits(
      input.toDF().toDF("doc_id"), "doc_id", splits)
    val q = labeled.writeStream.format("memory").queryName("split_out")
      .outputMode("append").start()
    try {
      input.addData(1L to 200L: _*)
      q.processAllAvailable()
      input.addData(201L to 400L: _*) // later batch, same hash line
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, split FROM split_out")
        .as[(Long, String)].collect().toMap
      val batch = graft.operators.Curate.assignSplits(
          spark.range(1, 401).withColumnRenamed("id", "doc_id"),
          "doc_id", splits)
        .as[(Long, String)].collect().toMap
      assert(streamed.size == 400 && streamed == batch)
    } finally q.stop()
  }

  test("streaming span corruption and blocklist decisions equal the " +
      "batch pass per document") {
    // both are stateless per-row expressions (md5-offset masks, token-set
    // intersection): an arriving stream must emit bit-identical
    // input/target pairs and keep flags to the batch formulation — the
    // property that lets denoising data prep and page filtering run at
    // ingest instead of in a nightly sweep
    implicit val sqlCtx = spark.sqlContext
    val bl = Seq("beta")
    val input = MemoryStream[(Long, String)]
    val base = input.toDF().toDF("id", "text")
    val q1 = graft.operators.Tokenize.spanCorrupt(base, "text", "id")
      .writeStream.format("memory").queryName("corrupt_out")
      .outputMode("append").start()
    val q2 = base.select($"id", graft.functions.TextFunctions
        .blocklistKeep($"text", bl).as("keep"))
      .writeStream.format("memory").queryName("blkeep_out")
      .outputMode("append").start()
    try {
      val docs = (1L to 30L).map(i =>
        (i, (0 until (i * 7 % 50).toInt).map(j => s"t${i}x$j").mkString(" ")))
      val withBad = docs :+ (31L, "alpha beta gamma")
      input.addData(withBad.take(15): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      input.addData(withBad.drop(15): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      val streamed = spark.sql(
          "SELECT id, input_text, target_text FROM corrupt_out")
        .as[(Long, String, String)].collect().toSet
      val batchDf = withBad.toDF("id", "text")
      val batch = graft.operators.Tokenize.spanCorrupt(batchDf, "text", "id")
        .select($"id", $"input_text", $"target_text")
        .as[(Long, String, String)].collect().toSet
      assert(streamed == batch)
      val keeps = spark.sql("SELECT id, keep FROM blkeep_out")
        .as[(Long, Boolean)].collect().toMap
      val batchKeeps = batchDf.select($"id", graft.functions.TextFunctions
          .blocklistKeep($"text", bl).as("keep"))
        .as[(Long, Boolean)].collect().toMap
      assert(keeps == batchKeeps)
      assert(!keeps(31L), "the blocklisted doc must be flagged")
    } finally { q1.stop(); q2.stop() }
  }

  test("ParquetBoundary: write side feeds both batch and streaming readers") {
    val dir = tempDir("boundary").toString
    val b = new ParquetBoundary(s"$dir/stage")
    b.write(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    b.write(Seq((3, "c")).toDF("id", "s"))
    assert(b.read(spark).count() == 3)
    val q = b.readStream(spark)
      .writeStream.format("memory").queryName("bnd_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.sql("SELECT * FROM bnd_out").count() == 3)
  }
}
