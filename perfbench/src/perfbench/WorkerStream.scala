package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{App, Hub}
import graft.streaming.{ParquetBoundary, StreamingReducer}
import graft.streaming.StreamingReducer.Completed

import scala.collection.mutable

/**
 * worker_stream: stepist's worker runtime. A producer App flow fans every
 * job out through a Hub to two branch steps, each of which appends its
 * result to a ParquetBoundary; a streaming worker reads the boundary and
 * runs StreamingReducer.reduce, which emits a job once both branches
 * arrived.
 *
 * Phase 1 is an open loop: one generator thread sends a batch of jobs on
 * a fixed schedule, each job stamped with its scheduled send time, while
 * the worker runs; latency is emission minus scheduled send. Phase 2 is
 * stepist's "Processed N jobs in S sec": a fixed backlog is enqueued, then
 * a fresh worker drains it and is timed.
 *
 * Checks: every produced job is emitted exactly once, with both branch
 * payloads correct.
 */
final class WorkerStream extends Workload {
  import WorkerStream._

  private var rng: scala.util.Random = _
  private var nextJob = 0L
  private var boundaries = 0

  def setup(ctx: Ctx): Unit = {
    rng = new scala.util.Random(ctx.seed)
    nextJob = 0L
  }

  /** A short open loop and a small drain, unchecked. */
  def warmUp(ctx: Ctx): Unit = {
    openLoop(ctx, sends = 1, check = false)
    drain(ctx, jobs = 300, check = false)
    ctx.releaseAll()
  }

  def close(ctx: Ctx): Unit = ()

  /** `n` fresh jobs (job_id, sched_ms, x) with seeded payloads. */
  private def jobs(n: Int, schedMs: Long): Seq[(Long, Long, Long)] =
    (0 until n).map { _ =>
      nextJob += 1
      (nextJob, schedMs, rng.nextInt(1000000).toLong)
    }

  private def freshBoundary(ctx: Ctx): (ParquetBoundary, File) = {
    boundaries += 1
    val dir = new File(ctx.dir("queues"), s"q-$boundaries")
    (new ParquetBoundary(dir.getPath), dir)
  }

  /** The producer flow: ingest -> Hub(branch_a, branch_b), each branch
    * appending to the boundary (stepist's Step.add_job enqueue). */
  private final class Producer(ctx: Ctx, boundary: ParquetBoundary) {
    private val app = new App(ctx.spark)
    private def branch(name: String, v: DataFrame => DataFrame) =
      app.step(name, df => {
        ctx.span("boundary.write")(boundary.write(v(df)))
        df
      })
    private val root = app.step("ingest",
      df => df.select(col("job_id"), col("sched_ms"), col("x")),
      next = Some(Hub(
        branch("branch_a", _.withColumn("v", col("x") * 2)),
        branch("branch_b", _.withColumn("v", col("x") + 1)))))

    def send(batch: Seq[(Long, Long, Long)]): Unit = {
      import ctx.spark.implicits._
      ctx.span("flow.run")(app.run(root, batch.toDF("job_id", "sched_ms", "x")))
      app.cleanup()
    }
  }

  /** Emissions seen by a worker: job id -> (emission ms, count). */
  private final class Sink {
    val emitted = mutable.HashMap.empty[Long, (Double, Int)]
    val wrong = mutable.ArrayBuffer.empty[Long]

    def add(rows: Array[Completed], atMs: Double): Unit = synchronized {
      rows.foreach { c =>
        val a = fields(c.jobList.head)
        val b = fields(c.jobList.last)
        val id = a("job_id")
        if (c.jobList.size != 2 || b("job_id") != id ||
            a("v") != a("x") * 2 || b("v") != b("x") + 1) wrong += id
        val prev = emitted.get(id).map(_._2).getOrElse(0)
        emitted(id) = (atMs, prev + 1)
      }
    }

    def size: Int = synchronized(emitted.size)
  }

  private val FieldRe = "\"(\\w+)\":(-?\\d+)".r
  private def fields(json: String): Map[String, Long] =
    FieldRe.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toLong).toMap

  private def worker(ctx: Ctx, boundary: ParquetBoundary, sink: Sink,
                     trigger: Trigger): StreamingQuery = {
    import ctx.spark.implicits._
    boundaries += 1
    val arrivals = StreamingReducer.toArrivals(boundary.readStream(ctx.spark))
    val emit: (Dataset[Completed], Long) => Unit =
      (ds, _) => sink.add(ds.collect(), Clock.ms)
    StreamingReducer.reduce(arrivals, ttlMs = 0L)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        new File(ctx.dir("checkpoints"), s"worker-$boundaries").getPath)
      .trigger(trigger)
      .foreachBatch(emit)
      .start()
  }

  /** Every produced job is one operation: it fails unless it was emitted
    * exactly once with both branch payloads right. */
  private def checkExactlyOnce(ctx: Ctx, sink: Sink, produced: Seq[Long], what: String): Unit = {
    val missing = produced.count(id => !sink.emitted.contains(id))
    val dup = produced.count(id => sink.emitted.get(id).exists(_._2 != 1))
    val wrong = sink.wrong.distinct.size
    val unknown = (sink.emitted.keySet -- produced).size
    ctx.outcomes.bulk(produced.size, missing + dup + wrong + unknown,
      s"worker_stream $what: $missing missing, $dup emitted twice, $unknown unknown, " +
        s"$wrong wrong payloads")
  }

  /** Open loop: `sends` sends of JobsPerSend jobs, one every SendEveryMs. */
  private def openLoop(ctx: Ctx, sends: Int, check: Boolean): OpenLoopOut = {
    val (boundary, dir) = freshBoundary(ctx)
    val producer = new Producer(ctx, boundary)
    val sink = new Sink
    // the first append pins the boundary schema the worker subscribes with
    val priming = jobs(JobsPerSend, Clock.ms.toLong)
    producer.send(priming)
    val q = worker(ctx, boundary, sink, Trigger.ProcessingTime(0L))
    val produced = mutable.ArrayBuffer.from(priming.map(_._1))
    val scheduled = mutable.HashMap.empty[Long, Double]
    var late = 0.0
    val start = Clock.ms + 200
    val stack = ctx.tracer.currentStack
    val gen = new Thread(() => ctx.tracer.withStack(stack) {
      for (i <- 0 until sends) {
        val due = start + i * SendEveryMs
        val wait = due - Clock.ms
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        late = math.max(late, Clock.ms - due)
        val batch = jobs(JobsPerSend, due.toLong)
        batch.foreach { j => scheduled(j._1) = due }
        produced ++= batch.map(_._1)
        producer.send(batch)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val deadline = Clock.ms + CompletionTimeoutMs
    while (sink.size < produced.size && Clock.ms < deadline) Thread.sleep(10)
    q.stop()
    q.awaitTermination()
    if (check) checkExactlyOnce(ctx, sink, produced.toSeq, "open loop")
    val lat = scheduled.toSeq.flatMap { case (id, due) =>
      sink.emitted.get(id).map(e => (e._1 - due) / 1000.0) }
    Files.rmTree(dir)
    OpenLoopOut(lat, late / 1000.0, sink.size.toDouble / produced.size)
  }

  /** Enqueue a backlog of `jobs` jobs, then time a fresh worker draining it. */
  private def drain(ctx: Ctx, jobs: Int, check: Boolean): DrainOut = {
    val (boundary, dir) = freshBoundary(ctx)
    val producer = new Producer(ctx, boundary)
    // the backlog arrives as BacklogSends producer runs
    val sends = (0 until BacklogSends).map(_ => this.jobs(jobs / BacklogSends, Clock.ms.toLong))
    val batch = sends.flatten
    val sendS = sends.map(b => Clock.timed(producer.send(b))._2)
    val backlog = boundary.jobsCount(ctx.spark)
    val files = Files.dataFiles(dir).count(_.getName.endsWith(".parquet"))
    val bytes = Files.dataFiles(dir).map(_.length()).sum
    val sink = new Sink
    val (_, drainS) = Clock.timed {
      val q = worker(ctx, boundary, sink, Trigger.AvailableNow())
      q.awaitTermination()
    }
    if (check) checkExactlyOnce(ctx, sink, batch.map(_._1), "drain")
    Files.rmTree(dir)
    DrainOut(sendS, drainS, bytes.toDouble / batch.size, files, backlog)
  }

  def measure(ctx: Ctx, deadlineMs: Double): Map[String, Double] = {
    val open = ctx.span("open_loop")(openLoop(ctx, OpenLoopSends, check = true))
    val drains = mutable.ArrayBuffer.empty[DrainOut]
    do drains += drain(ctx, Backlog, check = true)
    while (drains.size < MinDrains ||
      Clock.ms + Stats.median(drains.map(d => d.sendS.sum + d.drainS).toSeq) * 1000 < deadlineMs)
    ctx.releaseAll()
    ctx.outcomes.begin()
    ctx.checkLeaks("worker_stream run")
    println(f"[perfbench] worker_stream generator ran up to ${open.lateS}%.4f s late")
    Map(
      "wall_s" -> Stats.median(drains.flatMap(_.sendS).toSeq),
      "rows_per_s" -> Backlog / Stats.median(drains.map(_.drainS).toSeq),
      "latency_p50_s" -> Stats.median(open.latencies),
      "latency_tail_s" -> Stats.tail(open.latencies, TailPct),
      "bytes_per_row" -> Stats.median(drains.map(_.bytesPerJob).toSeq))
  }

  def pass(ctx: Ctx): Map[String, Double] = {
    val open = ctx.span("open_loop")(openLoop(ctx, OpenLoopSends, check = true))
    val d = drain(ctx, Backlog, check = true)
    ctx.releaseAll()
    ctx.outcomes.begin()
    val batches = ctx.tracer.streamBatches
    Map(
      "boundary.files" -> d.files.toDouble,
      "boundary.backlog_rows" -> d.backlogRows.toDouble,
      "stream.batch_s" -> (if (batches.isEmpty) 0.0 else Stats.median(batches.map(_._1))),
      "stream.state_rows" -> (if (batches.isEmpty) 0.0 else batches.map(_._2).max.toDouble),
      "reducer.complete_ratio" -> open.completeRatio,
      "generator.late_s" -> open.lateS,
      "opcache.leaked_frames" -> ctx.checkLeaks("worker_stream pass").toDouble)
  }
}

object WorkerStream {
  private final case class DrainOut(sendS: Seq[Double], drainS: Double, bytesPerJob: Double,
                                    files: Int, backlogRows: Long)

  private final case class OpenLoopOut(latencies: Seq[Double], lateS: Double,
                                       completeRatio: Double)

  val JobsPerSend = 13
  val SendEveryMs = 1700.0
  val OpenLoopSends = 8
  val Backlog = 5000
  val BacklogSends = 4
  val MinDrains = 3
  val CompletionTimeoutMs = 20000L
  val TailPct = 90.0
}
