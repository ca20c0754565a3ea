package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.observe.Signals

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One call into a layer's public function, timed from outside. Times
  * are driver wall-clock milliseconds ([[Clock.ms]]). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Double, end: Double) {
  /** The layer is the module prefix of the span name: `dedup.exact`. */
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = end - start
}

/** One Spark job with the task totals of its stages. */
final class JobRec(val id: Int, val group: Option[String], val start: Long) {
  var end: Long = start
  var taskMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var failedTasks = 0L
}

/**
 * Span tracer for the traced run. Each span sets a Spark job group, so a
 * job started inside it is charged to it; jobs whose group names no live
 * span (streaming micro-batches, or a pool thread holding a stale group)
 * are charged to the innermost span whose interval encloses them, and
 * counted. Spans stay in memory until [[report]].
 *
 * When off, [[span]] just runs its body: the timed runs carry no
 * tracing cost beyond one branch per call.
 */
final class Tracer(val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  private var nextId = 0
  private var sc: SparkContext = _
  private val listeners = new Listeners
  @volatile private var active = false

  /** Spans are recorded only between [[attach]] and [[detach]]. */
  def on: Boolean = active

  /** Watch `spark`: registers the Spark, query-execution, streaming and
    * flow listeners. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(listeners.spark)
    spark.listenerManager.register(listeners.query)
    spark.streams.addListener(listeners.stream)
    Signals.addListener(listeners.flow)
    active = true
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    active = false
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listeners.spark)
    spark.listenerManager.unregister(listeners.query)
    spark.streams.removeListener(listeners.stream)
    Signals.removeListener(listeners.flow)
  }

  /** The calling thread's open spans, to hand to a worker thread. */
  def currentStack: List[(Int, String)] = stack.get

  /** Run `body` on this thread as if inside the spans of `outer`. */
  def withStack[T](outer: List[(Int, String)])(body: => T): T = {
    val saved = stack.get
    stack.set(outer)
    try body finally stack.set(saved)
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val outer = stack.get
      val id = synchronized { nextId += 1; nextId }
      stack.set((id, name) :: outer)
      sc.setJobGroup(s"span-$id", name)
      val t0 = Clock.ms
      try body
      finally {
        val t1 = Clock.ms
        synchronized {
          spans += Span(id, name, outer.headOption.map(_._1).getOrElse(-1),
            runId, t0, t1)
        }
        stack.set(outer)
        outer.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(s"span-$pid", pname)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Register a sample of cached bytes (persisted RDD storage). */
  def sampleCache(): Unit = if (active) {
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    listeners.cachedPeak = math.max(listeners.cachedPeak, bytes)
  }

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq

  /** Streaming progress seen so far: (batch seconds, state rows) per batch. */
  def streamBatches: Seq[(Double, Long)] = listeners.synchronized {
    listeners.batches.toSeq
  }

  def flowSteps: Long = listeners.steps.get()

  /** Write the recorded spans as JSON lines. */
  def writeSpans(f: File): Unit = {
    val out = new java.io.PrintWriter(f, "UTF-8")
    try synchronized(spans.toVector).foreach { s =>
      out.println(Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "run" -> Json.str(s.runId), "start_ms" -> Json.num(s.start),
        "end_ms" -> Json.num(s.end))))
    } finally out.close()
  }

  /**
   * Per-layer figures for the spans recorded so far.
   *
   * Self time of a span is its duration minus the part of it its child
   * spans cover; a layer's self time is the sum over its spans. Spark
   * figures sum the jobs started in [wallStart, wallEnd].
   */
  def report(wallStart: Double, wallEnd: Double): Map[String, Double] = {
    PerfbenchBus.drain(sc)
    val all = synchronized(spans.toVector)
    val byId = all.map(s => s.id -> s).toMap
    val children = all.groupBy(_.parent)
    def union(iv: Seq[(Double, Double)]): Double = {
      var total = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (!curS.isNaN) total += curE - curS
      total
    }
    def selfMs(s: Span): Double = s.durMs - union(children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a })

    val jobs = listeners.synchronized(listeners.jobs.values.toVector)
      .filter(j => j.start >= wallStart - 1 && j.start <= wallEnd + 1)
    // charge each job to a span: its own group when that span encloses
    // the job's start, else the innermost span enclosing the job
    var untagged = 0L
    def enclosing(j: JobRec): Option[Span] =
      all.filter(s => s.start <= j.start + 1 && s.end >= j.end - 1)
        .sortBy(_.durMs).headOption
    val charged: Vector[(JobRec, Option[Span])] = jobs.map { j =>
      val tagged = j.group.filter(_.startsWith("span-"))
        .flatMap(g => g.stripPrefix("span-").toIntOption).flatMap(byId.get)
        .filter(s => s.start <= j.start + 1 && s.end >= j.start - 1)
      tagged match {
        case Some(s) => (j, Some(s))
        case None => untagged += 1; (j, enclosing(j))
      }
    }
    val jobUnion = union(jobs.map(j => (j.start.toDouble, j.end.toDouble)))
    val jobSum = jobs.map(j => (j.end - j.start).toDouble).sum
    val wallMs = wallEnd - wallStart
    val layerSelf = all.groupBy(_.layer).view.mapValues(_.map(selfMs).sum).toMap
    val selfSum = layerSelf.values.sum
    def layerJobs(layer: String) = charged.collect {
      case (j, Some(s)) if s.layer == layer => j
    }
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    val planMs = listeners.synchronized(listeners.planMs)
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.plan_s" -> planMs / 1000.0,
      "spark.idle_s" -> (wallMs - jobUnion) / 1000.0,
      "spark.concurrency" -> (if (jobUnion > 0) jobSum / jobUnion else 0.0),
      "spark.task_s" -> jobs.map(_.taskMs).sum / 1000.0,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
      "spark.input_bytes" -> jobs.map(_.inputBytes).sum.toDouble,
      "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
      "spark.failed_tasks" -> jobs.map(_.failedTasks).sum.toDouble,
      "jvm.heap_peak_mb" -> heapPeak / 1048576.0,
      "flow.steps" -> flowSteps.toDouble,
      "dedup.shuffle_bytes" -> layerJobs("dedup").map(_.shuffleBytes).sum.toDouble,
      "opcache.cached_bytes_peak" -> listeners.cachedPeak.toDouble,
      "trace.untagged_jobs" -> untagged.toDouble,
      "trace.self_sum_ratio" -> (if (wallMs > 0) selfSum / wallMs else 0.0)
    ) ++ layerSelf.map { case (l, ms) => s"$l.self_s" -> ms / 1000.0 } ++
      all.groupBy(_.name).map { case (n, ss) =>
        s"span.$n" -> ss.map(_.durMs).sum / 1000.0 }
  }
}

/** The four listener kinds the traced run registers. */
private final class Listeners {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val batches = mutable.ArrayBuffer.empty[(Double, Long)]
  var planMs = 0L
  @volatile var cachedPeak = 0L
  val steps = new java.util.concurrent.atomic.AtomicLong()

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Listeners.this.synchronized {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        jobs(e.jobId) = new JobRec(e.jobId, group, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Listeners.this.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Listeners.this.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          if (e.reason != Success) j.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.taskMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.inputBytes += m.inputMetrics.bytesRead
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  val query: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      Listeners.this.synchronized(planMs += ms)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  val stream: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) Listeners.this.synchronized {
        batches += ((p.batchDuration / 1000.0,
          p.stateOperators.map(_.numRowsTotal).sum))
      }
    }
  }

  val flow: Signals.FlowListener = new Signals.FlowListener {
    override def afterStep(stepName: String): Unit = { steps.incrementAndGet(); () }
  }
}
