package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.core._
import graft.streaming.{InMemoryBoundary, ParquetBoundary, StreamingReducer}

/**
 * End-to-end async-worker parity (SURVEY §3.2–3.3): the reference's
 * `as_worker=True` pushes hub-tagged jobs through a Redis queue to worker
 * processes that feed the reducer engine. Here the producer flow writes the
 * hub-tagged branch outputs to a durable stage boundary; a separate
 * streaming "worker" job drains it (AvailableNow ≙ die_when_empty) through
 * the stateful count-complete reducer. The async path must produce exactly
 * the rows of the in-process batch reducer.
 */
object WorkerFlowSpec {
  /** Armed → the poison UDF throws once (local mode shares the JVM, so the
    * "executor" sees this driver-side flag). */
  val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** The gate UDF counts `entered` down and then waits for `released`
    * when it sees id 0 (reset per test). */
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var released = new java.util.concurrent.CountDownLatch(1)
}

class WorkerFlowSpec extends SparkSpec {
  import spark.implicits._

  test("hub -> boundary -> streaming worker reducer == batch reducer") {
    val input = Seq(1, 2, 3, 4, 5).toDF("x")

    // ---- batch path: hub + in-plan reducer ----
    val appB = new App(spark)
    val redB = appB.reducerStep("wf_red", g => g.select(
      (element_at($"job_list", 1).getField("v") *
        element_at($"job_list", 2).getField("v")).as("prod")))
    val b1 = appB.step("wf_b1", df => df.withColumn("v", $"x" + 10), next = Some(redB))
    val b2 = appB.step("wf_b2", df => df.withColumn("v", $"x" * 2), next = Some(redB))
    val batchOut = appB.run(
      appB.step("wf_src", identity, next = Some(Hub(b1, b2))), input)("wf_red")
      .as[Int].collect().sorted

    // ---- async path: same branch stages, but each branch's output goes
    // through a durable boundary instead of an in-plan union ----
    val dir = tempDir("worker_flow").toString
    val boundary = new ParquetBoundary(s"$dir/stage")
    val appS = new App(spark)
    // branch terminal steps write to the boundary (≙ Step.add_job enqueue)
    val s1 = appS.step("wfs_b1", df => {
      boundary.write(df.withColumn("v", $"x" + 10)); df
    })
    val s2 = appS.step("wfs_b2", df => {
      boundary.write(df.withColumn("v", $"x" * 2)); df
    })
    appS.run(appS.step("wfs_src", identity, next = Some(Hub(s1, s2))), input)

    // worker side: stream the boundary, drain everything, reduce
    val arrivals = StreamingReducer.toArrivals(boundary.readStream(spark))
    val completed = StreamingReducer.reduce(arrivals, ttlMs = 0L)
    val q = completed.writeStream.format("memory").queryName("wf_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamOut = spark.sql("SELECT * FROM wf_out")
      .select(explode(array($"jobList")).as("jl"))
      .select(
        (get_json_object($"jl"(0), "$.v").cast("int") *
          get_json_object($"jl"(1), "$.v").cast("int")).as("prod"))
      .as[Int].collect().sorted

    assert(streamOut.toSeq == batchOut.toSeq,
      s"async worker path diverged: ${streamOut.toSeq} vs ${batchOut.toSeq}")
    // expected: (x+10)*(2x) for x=1..5
    assert(batchOut.toSeq == Seq(1, 2, 3, 4, 5).map(x => (x + 10) * 2 * x).sorted)
  }

  test("boundary introspection: jobsCount / isEmpty / flush") {
    val dir = tempDir("wf_introspect").toString
    val b = new ParquetBoundary(s"$dir/q")
    assert(b.isEmpty(spark) && b.jobsCount(spark) == 0L) // before any write
    b.write(Seq(1, 2, 3).toDF("x"))
    b.write(Seq(4, 5).toDF("x"))
    assert(b.jobsCount(spark) == 5L && !b.isEmpty(spark))
    b.flush()
    assert(b.isEmpty(spark) && b.jobsCount(spark) == 0L)
    // queue is reusable after a flush
    b.write(Seq(9).toDF("x"))
    assert(b.jobsCount(spark) == 1L)
  }

  test("producer-side jobs_limit blocks writes until the queue drains") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tempDir("wf_limit").toString
    val b = new ParquetBoundary(s"$dir/q", limit = Some(3L))
    b.write(Seq(1, 2, 3).toDF("x")) // fills to the limit
    val blocked = Future { b.write(Seq(4).toDF("x")) }
    Thread.sleep(500)
    assert(!blocked.isCompleted,
      "write should block while the queue is at jobs_limit")
    b.flush() // consumer drains -> producer proceeds
    Await.result(blocked, 30.seconds)
    assert(b.jobsCount(spark) == 1L) // only the unblocked batch remains
  }

  test("failed worker batch is redelivered: requeue-on-error as checkpoint replay") {
    // ≙ reference requeue-on-error (`libs/simple_queue.py:42-47`): a handler
    // crash puts the job back; the restarted worker reprocesses it. Spark
    // mapping: the checkpointed source offset is not committed on failure,
    // so a restarted query REPLAYS the batch — and the file sink's commit
    // log upgrades the resulting at-least-once redelivery to exactly-once
    // output (no dupes from the failed attempt, no losses).
    import org.apache.spark.sql.streaming.Trigger
    val dir = tempDir("wf_retry").toString
    val b = new ParquetBoundary(s"$dir/q")
    b.write(Seq(1, 2, 3, 4).toDF("x"))
    WorkerFlowSpec.crashArmed.set(true)
    val poison = udf { (x: Int) =>
      if (x == 3 && WorkerFlowSpec.crashArmed.getAndSet(false))
        throw new RuntimeException("transient worker crash")
      x * 10
    }
    def startWorker() = b.readStream(spark).select(poison($"x").as("y"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow()).start()
    val crash = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startWorker().awaitTermination()
    }
    assert(crash.getMessage.contains("transient worker crash") ||
      crash.getCause != null)
    startWorker().awaitTermination() // same checkpoint: batch redelivered
    val out = spark.read.parquet(s"$dir/out").as[Int].collect().sorted
    assert(out.toSeq == Seq(10, 20, 30, 40),
      s"retry must yield exactly-once output, got ${out.toSeq}")
  }

  test("InMemoryBoundary is a drop-in second StageBoundary implementation") {
    val schema = Seq(1).toDF("x").schema
    val b = new InMemoryBoundary(schema)
    assert(b.isEmpty(spark))
    b.write(Seq(1, 2).toDF("x"))
    b.write(Seq(3).toDF("x"))
    assert(b.jobsCount(spark) == 3L)
    assert(b.read(spark).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // streaming view sees the backlog plus post-subscription writes
    val stream = b.readStream(spark)
    val q = stream.writeStream.format("memory").queryName("imb_out")
      .outputMode("append").start()
    try {
      b.write(Seq(4).toDF("x"))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM imb_out").as[Int].collect().sorted
      assert(got.toSeq == Seq(1, 2, 3, 4))
    } finally q.stop()
    b.flush()
    assert(b.isEmpty(spark))
  }

  test("trimCommitted releases exactly the checkpoint-committed files") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tempDir("wf_trimck").toString
    val b = new ParquetBoundary(s"$dir/q")
    b.write(Seq(1, 2, 3).toDF("x"))
    b.write(Seq(4, 5).toDF("x"))
    def drain(): Unit = b.readStream(spark)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // nothing committed yet -> nothing trimmable
    assert(b.trimCommitted(spark, s"$dir/ck") == 0L)
    drain()
    assert(b.jobsCount(spark) == 5L)
    val removed = b.trimCommitted(spark, s"$dir/ck")
    assert(removed >= 2L, s"expected both appends' files gone, removed=$removed")
    assert(b.jobsCount(spark) == 0L,
      "depth must reflect only outstanding (uncommitted) rows after trim")
    // the queue keeps working: new rows enqueue, the restarted consumer
    // (whose checkpoint still lists the trimmed files) survives and emits
    // each row exactly once
    b.write(Seq(6).toDF("x"))
    assert(b.jobsCount(spark) == 1L)
    drain()
    val out = spark.read.parquet(s"$dir/out").as[Int].collect().sorted
    assert(out.toSeq == Seq(1, 2, 3, 4, 5, 6),
      s"exactly-once violated across trim: ${out.toSeq}")
    // batch read() tolerates the trimmed (missing) files too
    assert(b.read(spark).as[Int].collect().sorted.toSeq == Seq(6))
  }

  test("trimCommitted honors source offsets, not query batch ids") {
    // A stateful consumer's watermark-advancing NO-DATA batch consumes a
    // query batchId without advancing the file source, so query batch ids
    // run ahead of source log offsets. Hand-craft that checkpoint shape:
    // source log batch 1 (fileB) belongs to query batch 2, which is NOT
    // yet committed — a trim keyed naively on commits/ max (= 1) would
    // delete fileB and silently lose its rows on replay.
    val dir = tempDir("wf_offsets").toString
    val b = new ParquetBoundary(s"$dir/q")
    def dataFiles = new java.io.File(s"$dir/q").listFiles
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    b.write(Seq(1, 2).toDF("x"))
    val committedFiles = dataFiles
    b.write(Seq(3).toDF("x"))
    val committedNames = committedFiles.map(_.getName).toSet
    val pendingFiles = dataFiles.filterNot(f => committedNames(f.getName))
    assert(committedFiles.nonEmpty && pendingFiles.nonEmpty)
    def entry(f: java.io.File, batch: Long): String =
      s"""{"path":"${f.toURI}","timestamp":${f.lastModified},"batchId":$batch}"""
    def writeLog(rel: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(s"$dir/ck/$rel")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, lines.mkString("\n"))
    }
    val meta = """{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}"""
    // source log: offset 0 = committed files, offset 1 = pending file
    writeLog("sources/0/0", "v1" +: committedFiles.toSeq.map(entry(_, 0L)))
    writeLog("sources/0/1", Seq("v1", entry(pendingFiles.head, 1L)))
    // query batches: 0 = data(offset 0), 1 = NO-DATA (offset stays 0),
    // 2 = data(offset 1); only 0 and 1 are committed
    writeLog("offsets/0", Seq("v1", meta, """{"logOffset":0}"""))
    writeLog("offsets/1", Seq("v1", meta, """{"logOffset":0}"""))
    writeLog("offsets/2", Seq("v1", meta, """{"logOffset":1}"""))
    writeLog("commits/0", Seq("v1", "{}"))
    writeLog("commits/1", Seq("v1", "{}"))
    val before = b.jobsCount(spark)
    val removed = b.trimCommitted(spark, s"$dir/ck")
    assert(removed == committedFiles.length.toLong,
      s"must remove exactly the offset-0 files, removed=$removed")
    assert(pendingFiles.head.exists,
      "file of the uncommitted query batch must survive the trim")
    assert(b.jobsCount(spark) == 1L && before == 3L,
      "depth must keep exactly the pending file's rows")
  }

  test("trimCommitted aborts loudly on an unknown checkpoint log version") {
    // Spark-version guard: trimCommitted parses HDFSMetadataLog files
    // directly ("v1" since Spark 2.1). If an upgrade ever bumps the
    // serialization version, trimming must throw with a clear message —
    // not silently no-trim (space leak) or misparse (data loss).
    val dir = tempDir("wf_ckver").toString
    val b = new ParquetBoundary(s"$dir/q")
    b.write(Seq(1).toDF("x"))
    def writeLog(rel: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(s"$dir/ck/$rel")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, lines.mkString("\n"))
    }
    val meta = """{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}"""
    writeLog("commits/0", Seq("v1", "{}"))
    writeLog("offsets/0", Seq("v2", meta, """{"logOffset":0}"""))
    val e = intercept[IllegalStateException](b.trimCommitted(spark, s"$dir/ck"))
    assert(e.getMessage.contains("v2") && e.getMessage.contains("v1"),
      s"message must name both versions: ${e.getMessage}")
    // a drifted SOURCE log must abort the same way
    writeLog("offsets/0", Seq("v1", meta, """{"logOffset":0}"""))
    writeLog("sources/0/0", Seq("v3", """{"path":"file:/none","batchId":0}"""))
    val e2 = intercept[IllegalStateException](b.trimCommitted(spark, s"$dir/ck"))
    assert(e2.getMessage.contains("v3"))
  }

  test("autoTrim keeps the boundary bounded across many micro-batches") {
    // ≙ BRPOP consume-on-read with no manual trim calls: a long-lived
    // worker's queue directory must hold only not-yet-committed files.
    val dir = tempDir("wf_autotrim").toString
    val b = new ParquetBoundary(s"$dir/q")
    def dataFileCount = {
      val d = new java.io.File(s"$dir/q")
      if (!d.exists) 0
      else d.listFiles.count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    }
    b.write(Seq(0).toDF("x")) // pins the schema for readStream
    val handle = b.autoTrim(spark, s"$dir/ck")
    try {
      val q = b.readStream(spark)
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
        .start()
      try {
        var maxSeen = 0
        for (i <- 1 to 5) {
          b.write(Seq(i).toDF("x"))
          q.processAllAvailable()
          // the trim runs on the async listener bus: wait for it to land
          val deadline = System.nanoTime() + 10000000000L
          while (dataFileCount > 1 && System.nanoTime() < deadline)
            Thread.sleep(20)
          maxSeen = math.max(maxSeen, dataFileCount)
        }
        assert(maxSeen <= 1,
          s"boundary must stay ~one batch of files, peaked at $maxSeen")
        assert(b.jobsCount(spark) == 0L,
          "every committed batch's rows must have been trimmed away")
      } finally q.stop()
      // checkpoint restart across all that trimming stays exactly-once
      b.write(Seq(99).toDF("x"))
      b.readStream(spark).writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val out = spark.read.parquet(s"$dir/out").as[Int].collect().sorted
      assert(out.toSeq == Seq(0, 1, 2, 3, 4, 5, 99),
        s"exactly-once violated under autoTrim: ${out.toSeq}")
    } finally handle.stop()
  }

  test("trimCommitted survives a crash at either side of the commit") {
    // Guards the checkpoint-format reading in trimCommitted
    // (StreamingFlows.scala: commits/ -> offsets/ -> sources/) against
    // Spark-version drift, behaviorally: a worker killed (a) mid-batch
    // BEFORE the commit and (b) AFTER the commit but before any trim ran
    // must, after a trim + checkpoint restart, still emit every row
    // exactly once — i.e. the trim never deletes a file the restarted
    // reader still needs.
    val dir = tempDir("wf_crashtrim").toString
    val b = new ParquetBoundary(s"$dir/q")
    b.write(Seq(1, 2).toDF("x"))
    WorkerFlowSpec.crashArmed.set(true)
    val poison = udf { (x: Int) =>
      if (x == 2 && WorkerFlowSpec.crashArmed.getAndSet(false))
        throw new RuntimeException("crash before the commit")
      x
    }
    def startWorker() = b.readStream(spark).select(poison($"x").as("y"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow()).start()
    // (a) crash PRE-COMMIT: nothing is committed, so a trim issued while
    // the worker is down must delete NOTHING — the replay needs the files
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startWorker().awaitTermination()
    }
    assert(b.trimCommitted(spark, s"$dir/ck") == 0L,
      "a pre-commit crash leaves nothing trimmable")
    assert(b.jobsCount(spark) == 2L,
      "the uncommitted batch's files must survive the trim")
    // (b) restart replays, commits, and the worker "dies" post-commit
    // with the trim never having run; trim now, enqueue more, restart
    startWorker().awaitTermination()
    assert(b.trimCommitted(spark, s"$dir/ck") >= 1L,
      "post-commit the batch's files become trimmable")
    b.write(Seq(3).toDF("x"))
    startWorker().awaitTermination()
    val out = spark.read.parquet(s"$dir/out").as[Int].collect().sorted
    assert(out.toSeq == Seq(1, 2, 3),
      s"exactly-once violated across crash+trim+restart: ${out.toSeq}")
  }

  test("trimCommitted sourceIdx targets the right source of a union consumer") {
    // A worker draining TWO queues in one query has one offsets line and
    // one sources/<idx>/ log per source; trimming boundary B with source
    // A's index would delete the wrong queue's files. Pin the mapping.
    val dir = tempDir("wf_unionidx").toString
    val b0 = new ParquetBoundary(s"$dir/q0")
    val b1 = new ParquetBoundary(s"$dir/q1")
    b0.write(Seq(1, 2).toDF("x"))
    b1.write(Seq(10).toDF("x"))
    def drain(): Unit = b0.readStream(spark).unionByName(b1.readStream(spark))
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    drain()
    // source 1 = second union leg: only b1's files become trimmable there
    assert(b1.trimCommitted(spark, s"$dir/ck", sourceIdx = 1) >= 1L)
    assert(b0.jobsCount(spark) == 2L,
      "source 0's queue must be untouched by a sourceIdx=1 trim")
    assert(b1.jobsCount(spark) == 0L)
    assert(b0.trimCommitted(spark, s"$dir/ck", sourceIdx = 0) >= 1L)
    assert(b0.jobsCount(spark) == 0L)
    // exactly-once across per-source trims and a restart
    b0.write(Seq(3).toDF("x"))
    drain()
    val out = spark.read.parquet(s"$dir/out").as[Int].collect().sorted
    assert(out.toSeq == Seq(1, 2, 3, 10),
      s"exactly-once violated across union trims: ${out.toSeq}")
  }

  test("trim(upToEpochMs) releases files by age") {
    val dir = tempDir("wf_trimage").toString
    val b = new ParquetBoundary(s"$dir/q")
    b.write(Seq(1, 2).toDF("x"))
    val afterFirst = System.currentTimeMillis()
    Thread.sleep(2000) // clear 1s-granularity mtime stamps decisively
    b.write(Seq(3).toDF("x"))
    val removed = b.trim(afterFirst + 1000)
    assert(removed >= 1L)
    assert(b.jobsCount(spark) == 1L,
      "only the younger append should remain after the age trim")
  }

  test("limitTimeoutMs fails a stuck producer instead of wedging it") {
    val dir = tempDir("wf_timeout").toString
    val b = new ParquetBoundary(s"$dir/q", limit = Some(1L),
      limitTimeoutMs = Some(400L))
    b.write(Seq(1).toDF("x")) // fills to the limit
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.TimeoutException] {
      b.write(Seq(2).toDF("x")) // nobody drains -> must time out
    }
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(waitedMs >= 400L, s"timed out too early: ${waitedMs}ms")
    assert(b.jobsCount(spark) == 1L) // the timed-out batch was not written
  }

  test("InMemoryBoundary prunes subscribers whose query terminated") {
    val schema = Seq(1).toDF("x").schema
    val b = new InMemoryBoundary(schema)
    b.write(Seq(1).toDF("x"))
    val q1 = b.readStream(spark).writeStream.format("memory")
      .queryName("imb_pr1").outputMode("append").start()
    val q2 = b.readStream(spark).writeStream.format("memory")
      .queryName("imb_pr2").outputMode("append").start()
    try {
      // a write while both run marks both subscribers as attached
      b.write(Seq(2).toDF("x"))
      q1.processAllAvailable(); q2.processAllAvailable()
      assert(b.subscriberCount == 2)
      q1.stop()
      // stop() blocks until termination, but the manager unregisters the
      // query asynchronously — wait for it to leave the active list
      val deadline = System.nanoTime() + 10000000000L
      while (spark.streams.active.exists(_.id == q1.id) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      b.write(Seq(3).toDF("x")) // prune happens on this write
      assert(b.subscriberCount == 1,
        "dead subscriber must be pruned once its query terminated")
      q2.processAllAvailable()
      val g2 = spark.sql("SELECT * FROM imb_pr2").as[Int].collect().sorted
      assert(g2.toSeq == Seq(1, 2, 3), s"survivor lost data: ${g2.toSeq}")
    } finally { if (q1.isActive) q1.stop(); q2.stop() }
  }

  test("a fully-drained queue reads as empty, not a schema-inference crash") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tempDir("wf_drained").toString
    val b = new ParquetBoundary(s"$dir/q")
    b.write(Seq(1, 2).toDF("x"))
    b.readStream(spark).writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(b.trimCommitted(spark, s"$dir/ck") >= 1L)
    // the dir still exists (trim deletes files, never the dir) but holds
    // zero data files: read() must yield an empty frame with the pinned
    // schema on BOTH a warm instance and a fresh one over the same path
    assert(b.read(spark).isEmpty && b.read(spark).columns.toSeq == Seq("x"))
    val fresh = new ParquetBoundary(s"$dir/q") // schemaJson not pinned
    assert(fresh.read(spark).isEmpty)
    // and a fresh consumer gets the crafted guidance, not an opaque
    // inference AnalysisException
    intercept[IllegalStateException] { fresh.readStream(spark) }
  }

  test("schema-divergent append to a queue is rejected at write time") {
    val dir = tempDir("wf_schema").toString
    val b = new ParquetBoundary(s"$dir/q")
    b.write(Seq(1).toDF("x"))
    val err = intercept[IllegalArgumentException] {
      b.write(Seq("oops").toDF("x")) // same name, different type
    }
    assert(err.getMessage.contains("schema-divergent"), err.getMessage)
    assert(b.jobsCount(spark) == 1L, "the divergent batch must not land")
    b.write(Seq(2).toDF("x")) // conforming appends still work
    assert(b.jobsCount(spark) == 2L)
    // a crash-restarted producer (fresh instance, nothing pinned yet)
    // must validate against what's already ON DISK, not pin its own
    // first write and corrupt the queue anyway
    val fresh = new ParquetBoundary(s"$dir/q")
    intercept[IllegalArgumentException] { fresh.write(Seq("oops").toDF("x")) }
    assert(fresh.jobsCount(spark) == 2L)
    fresh.write(Seq(3).toDF("x")) // conforming write seeds + lands
    assert(fresh.jobsCount(spark) == 3L)
  }

  test("InMemoryBoundary drops a never-started subscription after its TTL") {
    val schema = Seq(1).toDF("x").schema
    val b = new InMemoryBoundary(schema, unattachedTtlMs = 200L)
    b.readStream(spark) // abandoned: no query ever starts
    assert(b.subscriberCount == 1)
    Thread.sleep(400)
    b.write(Seq(1).toDF("x")) // prune runs on write
    assert(b.subscriberCount == 0,
      "an abandoned subscription must not accumulate every future write")
  }

  test("empty-queue reads: missing directory means empty, not a crash") {
    val dir = tempDir("wf_empty").toString
    val b = new ParquetBoundary(s"$dir/q")
    // consumer-before-producer: batch read sees an empty queue
    assert(b.read(spark).isEmpty)
    // streaming needs a schema up front -> clear error, not PATH_NOT_FOUND
    intercept[IllegalStateException] { b.readStream(spark) }
    b.write(Seq(1).toDF("x"))
    b.flush() // directory is gone again, but the schema is pinned now
    assert(b.read(spark).isEmpty && b.read(spark).columns.toSeq == Seq("x"))
    b.readStream(spark) // pinned schema makes the streaming reader legal
  }

  test("InMemoryBoundary prunes a drained-and-terminated subscriber") {
    import org.apache.spark.sql.streaming.Trigger
    val schema = Seq(1).toDF("x").schema
    val b = new InMemoryBoundary(schema)
    b.write(Seq(1).toDF("x"))
    // AvailableNow drain: starts, consumes the backlog, terminates —
    // all BETWEEN writes, so attachment is never observed directly and
    // only the committed offset betrays that a consumer came and went
    b.readStream(spark).writeStream.format("memory")
      .queryName("imb_drain").outputMode("append")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(spark.sql("SELECT * FROM imb_drain").count() == 1L)
    // the termination event arrives on the async listener bus
    val deadline = System.nanoTime() + 10000000000L
    while (b.subscriberCount > 0 && System.nanoTime() < deadline) {
      b.write(Seq(2).toDF("x")) // prune runs on each write
      Thread.sleep(50)
    }
    assert(b.subscriberCount == 0,
      "a consumed-to-completion subscriber must not keep accumulating rows")
  }

  test("reducer drops a malformed hub id instead of crash-looping") {
    import graft.streaming.StreamingReducer.Arrival
    val dir = tempDir("wf_badkey").toString
    val b = new ParquetBoundary(s"$dir/q")
    b.write(Seq(
      Arrival("job:2", 0, """{"v":1}"""),
      Arrival("job:2", 1, """{"v":2}"""),
      Arrival("poison", 0, """{"v":3}"""), // no numeric :<n> suffix
      Arrival("alsobad:x", 0, """{"v":4}""")).toDF())
    val arrivals = b.readStream(spark).as[Arrival]
    val q = StreamingReducer.reduce(arrivals, ttlMs = 0L)
      .writeStream.format("memory").queryName("wf_badkey")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination() // must not throw NumberFormatException
    val out = spark.sql("SELECT * FROM wf_badkey").collect()
    assert(out.length == 1 && out(0).getString(0) == "job:2",
      s"only the well-formed job completes: ${out.mkString(",")}")
  }

  test("InMemoryBoundary.close deregisters its session listener and empties the queue") {
    val schema = Seq(1).toDF("x").schema
    val b = new InMemoryBoundary(schema)
    b.write(Seq(1).toDF("x"))
    val q = b.readStream(spark).writeStream.format("memory")
      .queryName("imb_close").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    b.close()
    assert(b.isEmpty(spark) && b.subscriberCount == 0)
    // re-arm after close: the boundary is reusable like after a flush
    b.write(Seq(7).toDF("x"))
    assert(b.jobsCount(spark) == 1L)
    val q2 = b.readStream(spark).writeStream.format("memory")
      .queryName("imb_close2").outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.sql("SELECT * FROM imb_close2").as[Int].collect().toSeq == Seq(7))
    } finally q2.stop()
    b.close()
  }

  test("InMemoryBoundary feeds every streaming subscriber, not just the last") {
    val schema = Seq(1).toDF("x").schema
    val b = new InMemoryBoundary(schema)
    b.write(Seq(1).toDF("x"))
    val q1 = b.readStream(spark).writeStream.format("memory")
      .queryName("imb_sub1").outputMode("append").start()
    val q2 = b.readStream(spark).writeStream.format("memory")
      .queryName("imb_sub2").outputMode("append").start()
    try {
      b.write(Seq(2).toDF("x")) // after BOTH subscriptions
      q1.processAllAvailable(); q2.processAllAvailable()
      val g1 = spark.sql("SELECT * FROM imb_sub1").as[Int].collect().sorted
      val g2 = spark.sql("SELECT * FROM imb_sub2").as[Int].collect().sorted
      assert(g1.toSeq == Seq(1, 2), s"first subscriber lost data: ${g1.toSeq}")
      assert(g2.toSeq == Seq(1, 2), s"second subscriber lost data: ${g2.toSeq}")
    } finally { q1.stop(); q2.stop() }
  }

  /** Data files (not `_`/`.` names) directly in a queue directory. */
  private def queueFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))

  /** ingest -> Hub(a, b), each branch writing its frame to `write`. */
  private def hubInto(app: App, tag: String, write: DataFrame => Unit,
                      failB: Boolean = false): FlowNode = {
    def branch(name: String, f: DataFrame => DataFrame) =
      app.step(s"${tag}_$name", df => { write(f(df)); df })
    app.step(s"${tag}_src", identity, next = Some(Hub(
      branch("a", _.withColumn("v", $"x" * 2)),
      branch("b", df =>
        if (failB) throw new IllegalStateException("branch b failed")
        else df.withColumn("v", $"x" + 1)))))
  }

  test("a Hub fan-out lands in a ParquetBoundary as one data file") {
    val dir = tempDir("wf_fanout").toString
    val b = new ParquetBoundary(s"$dir/q")
    val app = new App(spark)
    val root = hubInto(app, "fo", b.write)
    // 4 input partitions: two separate branch appends would leave 8 files
    app.run(root, (1 to 20).toDF("x").repartition(4))
    assert(queueFiles(s"$dir/q").size == 1, queueFiles(s"$dir/q"))
    app.run(root, (21 to 40).toDF("x").repartition(4))
    assert(queueFiles(s"$dir/q").size == 2, queueFiles(s"$dir/q"))
    assert(b.jobsCount(spark) == 80L)
    // both branches of every job are there, each exactly once
    val got = b.read(spark).groupBy($"__hub_branch").count()
      .as[(Int, Long)].collect().sorted.toSeq
    assert(got == Seq((0, 40L), (1, 40L)), got)
    app.cleanup()
  }

  test("a fan-out whose branch throws leaves the boundary empty") {
    val dir = tempDir("wf_fanout_fail").toString
    val b = new ParquetBoundary(s"$dir/q")
    val app = new App(spark)
    val err = intercept[IllegalStateException] {
      app.run(hubInto(app, "ff", b.write, failB = true), (1 to 5).toDF("x"))
    }
    assert(err.getMessage.contains("branch b failed"))
    assert(b.jobsCount(spark) == 0L && queueFiles(s"$dir/q").isEmpty,
      "branch a's rows must not land without branch b's")
    // the boundary still takes the next fan-out whole
    val app2 = new App(spark)
    app2.run(hubInto(app2, "ff2", b.write), (1 to 5).toDF("x"))
    assert(b.jobsCount(spark) == 10L)
    app.cleanup(); app2.cleanup()
  }

  test("a ParquetBoundary append is one file unless it is over maxPartitionBytes") {
    val dir = tempDir("wf_split").toString
    val b = new ParquetBoundary(s"$dir/q")
    val frame = (1 to 300).toDF("x").repartition(3)
    b.write(frame)
    assert(queueFiles(s"$dir/q").size == 1)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "16")
    try b.write(frame)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(queueFiles(s"$dir/q").size == 4, queueFiles(s"$dir/q"))
    assert(b.jobsCount(spark) == 600L)
  }

  test("concurrent appends to one ParquetBoundary both land") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    WorkerFlowSpec.entered = new java.util.concurrent.CountDownLatch(1)
    WorkerFlowSpec.released = new java.util.concurrent.CountDownLatch(1)
    val gate = udf { (id: Long) =>
      if (id == 0L) {
        WorkerFlowSpec.entered.countDown()
        WorkerFlowSpec.released.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      id
    }
    val dir = tempDir("wf_concurrent").toString
    val b = new ParquetBoundary(s"$dir/q")
    // one partition: id 0 is its first row, so writer A's task has its
    // output file open when the gate stops it
    val a = Future(b.write(spark.range(0, 3, 1, 1).select(gate($"id").as("x"))))
    try {
      assert(WorkerFlowSpec.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "writer A never reached its gate")
      b.write(spark.range(10, 12).toDF("x")) // writer B commits meanwhile
    } finally WorkerFlowSpec.released.countDown()
    Await.result(a, 60.seconds)
    assert(b.read(spark).as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L, 10L, 11L))
    assert(b.jobsCount(spark) == 5L)
  }

  test("a Hub fan-out reaches an InMemoryBoundary as one addData") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStreamBaseClass, MemoryStreamTable}
    val schema = StructType(Seq(
      StructField("x", IntegerType), StructField("__hub_job_id", StringType),
      StructField("__hub_branch", IntegerType, nullable = false),
      StructField("v", IntegerType)))
    val b = new InMemoryBoundary(schema)
    val stream = b.readStream(spark).queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 =>
        r.table.asInstanceOf[MemoryStreamTable].stream
          .asInstanceOf[MemoryStreamBaseClass[_]]
    }.get
    def offset = Option(stream.latestOffset(stream.initialOffset(),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()))
      .map(_.json()).getOrElse("none")
    assert(offset == "none") // nothing added yet
    val app = new App(spark)
    app.run(hubInto(app, "im", b.write), (1 to 5).toDF("x"))
    assert(offset == "0", s"one addData per fan-out, offset $offset")
    assert(b.jobsCount(spark) == 10L)
    assert(b.read(spark).where($"__hub_branch" === 1).select($"v" - $"x")
      .as[Int].collect().toSet == Set(1))
    app.cleanup()
    b.close()
  }
}
