package graft.observe

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/**
 * Lifecycle signals + stats (SURVEY §2.1 #19-20).
 *
 * The reference *declares* blinker signals `before_step` / `after_step` /
 * `flow_finished` but never emits them anywhere
 * (`/root/reference/stepist/flow/signals.py:1-6`), and its stats worker
 * imports a module that does not exist (`stats/worker.py:1`). We implement
 * both for real: step-level callbacks fired by the flow runner, and a
 * `QueryExecutionListener` that aggregates per-action execution metrics —
 * the Spark-native replacement for the Redis-MONITOR push/pop counters
 * (`adapters/simple_queue.py:69-88`).
 */
object Signals {

  /** A step-lifecycle observer (≙ blinker receivers). */
  trait FlowListener {
    def beforeStep(stepName: String): Unit = {}
    def afterStep(stepName: String): Unit = {}
    def flowFinished(terminalSteps: Set[String]): Unit = {}
  }

  private val listeners = new ConcurrentLinkedQueue[FlowListener]()

  def addListener(l: FlowListener): Unit = listeners.add(l)
  def removeListener(l: FlowListener): Unit = listeners.remove(l)

  // a faulty observer must never abort the flow it observes (nor starve
  // the listeners queued behind it) — log and continue
  private def fireAll(f: FlowListener => Unit): Unit =
    listeners.iterator().asScala.foreach { l =>
      try f(l) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] flow listener ${l.getClass.getName} " +
            s"threw: $e (ignored)")
      }
    }

  private[graft] def fireBefore(step: String): Unit = fireAll(_.beforeStep(step))
  private[graft] def fireAfter(step: String): Unit = fireAll(_.afterStep(step))
  private[graft] def fireFinished(steps: Set[String]): Unit =
    fireAll(_.flowFinished(steps))
}

/**
 * Per-session execution stats: rows written, execution wall time, action
 * count, failures — collected off the query-execution event bus, zero cost
 * on the hot path. Attach once per session.
 */
final class ExecutionStats extends QueryExecutionListener {
  val actions = new LongAdder
  val failures = new LongAdder
  val totalExecMs = new LongAdder
  val rowsWritten = new LongAdder
  private val _lastAction = new AtomicLong(0L)

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    actions.increment()
    totalExecMs.add(durationNs / 1000000L)
    _lastAction.set(System.currentTimeMillis())
    // count rows only for WRITE actions: the root node of a count()/
    // collect() also reports numOutputRows (1 and K respectively), which
    // would inflate a counter named rows_written with read-only actions.
    // V1 writers report funcName save/insertInto/saveAsTable; V2 writers
    // (DataFrameWriterV2, SQL INSERT/CTAS on a V2 catalog) report
    // command/append/overwrite/... and execute as AppendDataExec /
    // OverwriteByExpressionExec / ReplaceTableAsSelectExec — none of which
    // carry "Write" in their simple names, so match the exec interfaces
    // too. Non-write commands slipping through (DDL under funcName
    // "command") contribute getOrElse(0), never inflating the counter.
    val isWrite = (funcName match {
      case "save" | "insertInto" | "saveAsTable" | "command" | "append" |
           "overwrite" | "overwritePartitions" | "create" | "replace" |
           "createOrReplace" => true
      case _ => false
    }) ||
      qe.executedPlan.isInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec] ||
      // V2 CTAS execs share a base trait that is private[sql]; their names
      // ((Atomic)Create/ReplaceTableAsSelectExec) are the stable surface
      qe.executedPlan.getClass.getSimpleName.endsWith("TableAsSelectExec") ||
      qe.executedPlan.getClass.getSimpleName.contains("Write")
    if (isWrite)
      rowsWritten.add(qe.executedPlan.metrics.get("numOutputRows")
        .map(_.value).getOrElse(0L))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = failures.increment()

  def snapshot: Map[String, Long] = Map(
    "actions" -> actions.sum(),
    "failures" -> failures.sum(),
    "total_exec_ms" -> totalExecMs.sum(),
    "rows_written" -> rowsWritten.sum(),
    "last_action_ts" -> _lastAction.get())
}

object ExecutionStats {
  /** Attach a fresh stats collector to the session and return it. */
  def attach(spark: SparkSession): ExecutionStats = {
    val s = new ExecutionStats
    spark.listenerManager.register(s)
    s
  }
}

/**
 * Per-step throughput counters fed from flow signals — the Spark-native
 * `monitor_steps` (`adapters/simple_queue.py:69-88`, which samples Redis
 * MONITOR for per-step push/pop rates over a time window). A "job" here is
 * one step execution of a batch (the flow runner fires one after-signal per
 * step per run); counts are cumulative, rates are computed over a sliding
 * window of recent executions. Timestamps older than `maxWindowMs` are
 * evicted, so memory stays bounded on a long-lived driver.
 */
final class StepStats(maxWindowMs: Long = 300000L) extends Signals.FlowListener {
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val stamps = new ConcurrentLinkedQueue[(String, Long)]()

  override def afterStep(step: String): Unit = {
    counts.computeIfAbsent(step, _ => new LongAdder).increment()
    val now = System.currentTimeMillis()
    stamps.add((step, now))
    // evict beyond the rate horizon (head = oldest); the lock makes the
    // peek/poll pair atomic — two concurrent evictors interleaving would
    // otherwise drop a fresh stamp and skew the windowed rate
    stamps.synchronized {
      var h = stamps.peek()
      while (h != null && now - h._2 > maxWindowMs) {
        stamps.poll(); h = stamps.peek()
      }
    }
  }

  /** Cumulative executions of `step` since attach. */
  def count(step: String): Long =
    Option(counts.get(step)).map(_.sum()).getOrElse(0L)

  /** All per-step cumulative counts. */
  def snapshot: Map[String, Long] =
    counts.asScala.map { case (k, v) => k -> v.sum() }.toMap

  /** Executions of `step` in the trailing window / window seconds
    * (≙ `monitor_steps`' pop rate). `windowMs` ≤ `maxWindowMs`. */
  def ratePerSec(step: String, windowMs: Long = 60000L): Double = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    val cutoff = System.currentTimeMillis() - math.min(windowMs, maxWindowMs)
    val n = stamps.iterator().asScala.count {
      case (s, t) => s == step && t >= cutoff
    }
    n * 1000.0 / math.min(windowMs, maxWindowMs)
  }
}

object StepStats {
  /** Register a fresh per-step collector on the flow signal bus.
    * `maxWindowMs` bounds the rate horizon (and stamp memory). */
  def attach(maxWindowMs: Long = 300000L): StepStats = {
    val s = new StepStats(maxWindowMs)
    Signals.addListener(s)
    s
  }
}
