package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/**
 * Core dataflow algebra: a Spark-native re-expression of the reference's
 * pipeline model (stepist `App`/`Step`/`Hub`/`ReducerStep`;
 * `stepist/app.py:17-54`, `stepist/flow/steps/step.py:29-73`,
 * `stepist/flow/steps/hub.py:5-14`, `stepist/flow/steps/reducer_step.py:4-24`).
 *
 * Design stance (SURVEY.md §7): a *step* is a named lazy
 * `DataFrame => DataFrame` transformation; a *flow* is the composition of
 * steps terminated by a step with no successor. Where the reference moves
 * single dict records through Redis queues, we move whole DataFrames through
 * Catalyst plans — stage fusion, column pruning, and shuffle placement are
 * delegated to the optimizer instead of hand-rolled queue plumbing. Nothing
 * here ever collects to the driver; every operator is a plan transformation,
 * so the same flow runs identically on local[32] and a 1000-executor cluster.
 */

/** Raised when a stage is registered twice (≙ `stepist/app.py:102-108`). */
final class DuplicateStepException(name: String)
    extends IllegalArgumentException(s"Step '$name' already registered")

/** Raised at plan-build time when a Hub zip input has the wrong arity
  * (≙ RuntimeError at `stepist/flow/steps/next_step.py:34-36`). */
final class HubArityException(expected: Int, got: Int)
    extends IllegalArgumentException(
      s"Hub zip input must have $expected branches, got $got")

/**
 * Final result of running a flow: the terminal step's DataFrame keyed by its
 * step name, plus any mid-flow steps flagged `saveResult = true`
 * (≙ `FlowResult` attr-dict, `stepist/flow/steps/step.py:25-26,100-104`).
 */
final case class FlowResult(results: Map[String, DataFrame]) {
  def apply(stepName: String): DataFrame = results(stepName)
  def get(stepName: String): Option[DataFrame] = results.get(stepName)
  def names: Set[String] = results.keySet
}

/** A node in the flow DAG. */
sealed trait FlowNode

/**
 * A map stage: named unary operator on a DataFrame
 * (≙ `Step`, `stepist/flow/steps/step.py:29-73`).
 *
 * @param inputCols if non-empty, the stage's declared input schema: the
 *   incoming frame is projected onto exactly these columns before the handler
 *   runs — extra columns are silently dropped, missing columns fail analysis
 *   (≙ keyword-arg projection, `stepist/flow/utils.py:30-45`; empty ≙ a
 *   handler declaring `**kwargs`, which passes everything through).
 * @param saveResult capture this stage's output in the FlowResult even when
 *   it is not terminal (≙ `save_result=True`, `stepist/flow/steps/step.py:100-104`).
 * @param barrier  force a materialization boundary after this stage
 *   (`persist()`): the moral equivalent of `as_worker=True`'s queue hop
 *   (`stepist/flow/steps/step.py:125-133`) when a flow fans out and the
 *   upstream work must not be recomputed per branch. Batch flows otherwise
 *   fuse stages exactly as the reference fuses non-worker steps in one call
 *   stack (`step.py:79-105`) — whole-stage codegen subsumes it.
 */
final case class Step(
    name: String,
    handler: DataFrame => DataFrame,
    next: Option[FlowNode] = None,
    inputCols: Seq[String] = Nil,
    saveResult: Boolean = false,
    barrier: Boolean = false)
    extends FlowNode

/**
 * A 1→N expansion stage (≙ `FactoryStep`, `stepist/flow/steps/factory_step.py:4-31`
 * and the generator-unwrap branch of plain steps, `step.py:90-98`).
 * The handler must return a frame where each input row produced zero or more
 * output rows — typically via `explode`/`flatMap`.
 */
final case class FactoryStep(
    name: String,
    handler: DataFrame => DataFrame,
    next: Option[FlowNode] = None)
    extends FlowNode

/**
 * Fan-out node: sends the (immutable — deep-copy for free, unlike
 * `next_step.py:49`) current frame to every branch
 * (≙ `Hub`, `stepist/flow/steps/hub.py:5-14`). Before branching, the frame
 * is tagged with a `__hub_job_id` meta column `"<hub>-<rowid>:<branchCount>"`
 * (≙ `Hub.update_meta`, `hub.py:12-14` — but deterministic under plan
 * recomputation, unlike a uuid) so a downstream [[ReducerStep]] can
 * count branch completeness. Branch results are merged into one FlowResult
 * (≙ dict-update merge, `next_step.py:51-54`). Nesting a Hub under an
 * unreduced Hub throws — the meta channel is single-valued, as in the
 * reference. Stage-boundary writes made by the branches land as one
 * append per boundary once every branch has returned ([[FanOut]]).
 */
final case class Hub(branches: Seq[FlowNode]) extends FlowNode {
  require(branches.nonEmpty, "Hub needs at least one branch")
}
object Hub { def apply(first: FlowNode, rest: FlowNode*): Hub = Hub(first +: rest) }

/**
 * Fan-in stage (≙ `ReducerStep` + `RedisReducerEngine`,
 * `stepist/flow/steps/reducer_step.py:4-24`,
 * `stepist/flow/workers/reducer_engine.py:21-80`): groups branch outputs by
 * `__hub_job_id`, keeps only complete groups (arrived count == branch count
 * parsed from the id suffix — the ZINCRBY count-complete trigger,
 * `reducer_engine.py:58-60`), and hands the handler a frame of
 * (`__hub_job_id`, `job_list: array<struct>`).
 *
 * Deviation from the reference, documented per SURVEY §7.4: at-least-once
 * duplicate arrivals would over-count in the reference; we dedup arrivals
 * (exactly-once within a batch plan) — strictly stronger semantics.
 */
final case class ReducerStep(
    name: String,
    handler: DataFrame => DataFrame)
    extends FlowNode

object Flow {
  /** Meta columns ride alongside data columns, hidden from user output
    * (≙ `meta_data` channel, `stepist/flow/steps/step.py:9-22`). */
  val HubJobIdCol = "__hub_job_id"
  val BranchCol = "__hub_branch"

  private[core] def isMeta(c: String): Boolean = c.startsWith("__hub_")
}

/**
 * One Hub fan-out as one commit. [[App.run]] opens a scope around a Hub's
 * branch walk and [[App.runZip]] around its branches; a sink that calls
 * [[defer]] inside the scope (the stage boundaries do, from `write`) gets
 * ONE append when the walk returns: the `unionByName` of its deferred
 * frames, in the order they were written. A branch that throws drops
 * every deferred frame, so a fan-out lands whole or not at all. Outside a
 * scope [[defer]] declines and the sink appends at once.
 *
 * The scope is per thread: a branch that hands a write to another thread
 * appends at once. A scope opened inside a scope joins the outer one.
 * Sinks commit in the order of their first deferred frame; a sink whose
 * append fails stops the commit, so the sinks after it get nothing.
 */
object FanOut {
  private final class Scope {
    val deferred = mutable.LinkedHashMap
      .empty[AnyRef, (mutable.ArrayBuffer[DataFrame], DataFrame => Unit)]
  }
  private val current = new ThreadLocal[Scope]

  /** Run `body` as one fan-out, then give each sink its one append. */
  def apply[T](body: => T): T =
    if (current.get != null) body
    else {
      val scope = new Scope
      current.set(scope)
      val out = try body finally current.remove()
      scope.deferred.values.foreach { case (frames, append) =>
        append(frames.reduce(_.unionByName(_, allowMissingColumns = true)))
      }
      out
    }

  /** Inside a fan-out: keep `df` for `sink`'s one append at the end of
    * the scope and return true. Outside: return false (append now). */
  def defer(sink: AnyRef, df: DataFrame)(append: DataFrame => Unit): Boolean =
    Option(current.get).exists { scope =>
      scope.deferred.getOrElseUpdate(sink,
        (mutable.ArrayBuffer.empty[DataFrame], append))._1 += df
      true
    }
}

/**
 * Registry + runner (≙ `App`, `stepist/app.py:17-54`): holds the
 * SparkSession, enforces step-name uniqueness, and executes flows by walking
 * the node DAG and composing lazy plans.
 */
final class App(val spark: SparkSession) {
  import Flow._

  private val registry = mutable.LinkedHashMap.empty[String, FlowNode]
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  // per-hub ordinal, part of the deterministic job id (see the Hub case)
  private val hubSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Release every frame this app persisted (hub tags, barriers). Call after
    * terminal results are consumed — long-lived drivers at scale must not
    * accumulate cached plans across flows. */
  def cleanup(): Unit = {
    persisted.foreach(_.unpersist(blocking = false))
    persisted.clear()
  }

  private def track(df: DataFrame): DataFrame = { persisted += df; df }

  /** Register a step (≙ `register_step` uniqueness check, `app.py:102-108`). */
  def register[N <: FlowNode](node: N): N = {
    val name = node match {
      case s: Step => s.name
      case f: FactoryStep => f.name
      case r: ReducerStep => r.name
      case _: Hub => return node // hubs are anonymous in the reference too
    }
    if (registry.contains(name)) throw new DuplicateStepException(name)
    registry += name -> node
    node
  }

  def step(name: String, handler: DataFrame => DataFrame,
           next: Option[FlowNode] = None, inputCols: Seq[String] = Nil,
           saveResult: Boolean = false, barrier: Boolean = false): Step =
    register(Step(name, handler, next, inputCols, saveResult, barrier))

  def factoryStep(name: String, handler: DataFrame => DataFrame,
                  next: Option[FlowNode] = None): FactoryStep =
    register(FactoryStep(name, handler, next))

  def reducerStep(name: String, handler: DataFrame => DataFrame): ReducerStep =
    register(ReducerStep(name, handler))

  def steps: Map[String, FlowNode] = registry.toMap

  /**
   * Execute a flow from `root` over `input`. Pure plan composition — the
   * caller triggers the action. Equivalent of `step1(**data)` entry
   * (`stepist/flow/steps/step.py:79-105`), with the recursive next-step
   * dispatch of `next_step.py:6-24` as a driver-side DAG walk.
   */
  def run(root: FlowNode, input: DataFrame): FlowResult = {
    val acc = mutable.LinkedHashMap.empty[String, DataFrame]
    val pending = walk(root, input, acc)
    finishReducers(pending, acc)
    // the reference declares flow_finished but never emits it
    // (signals.py:1-6); we fire it for real
    graft.observe.Signals.fireFinished(acc.keySet.toSet)
    FlowResult(acc.toMap)
  }

  /** Execute fan-in: union all branch frames that arrived at the same
    * ReducerStep (allowing per-branch schema differences — missing columns
    * become null, ≙ heterogeneous branch dicts in the reference), then
    * group-complete. */
  private def finishReducers(
      pending: Seq[(ReducerStep, DataFrame)],
      acc: mutable.LinkedHashMap[String, DataFrame]): Unit =
    pending.groupBy(_._1).foreach { case (r, frames) =>
      val unioned = frames.map(_._2)
        .reduce(_.unionByName(_, allowMissingColumns = true))
      // same public-output contract as terminal steps: meta never leaks
      acc += r.name -> userView(runReducer(r, unioned))
    }

  /** Strip meta columns from user-visible output. */
  private def userView(df: DataFrame): DataFrame = {
    val metas = df.columns.filter(isMeta)
    if (metas.isEmpty) df else df.drop(metas.toIndexedSeq: _*)
  }

  /** Walks the DAG; returns frames that arrived at a ReducerStep, to be
    * fan-in-unioned by the caller (a reducer shared by N hub branches must
    * see the union of all branches before grouping). */
  private def walk(node: FlowNode, in: DataFrame,
                   acc: mutable.LinkedHashMap[String, DataFrame]
                  ): Seq[(ReducerStep, DataFrame)] =
    node match {
      case s: Step =>
        // Arg projection: declared input columns only, but meta always rides
        // along (≙ utils.py:30-45 + the meta_data side-channel).
        val metaCols = in.columns.filter(isMeta).toIndexedSeq
        val projected =
          if (s.inputCols.isEmpty) in
          else in.select((s.inputCols ++ metaCols).map(col): _*)
        graft.observe.Signals.fireBefore(s.name)
        val out0 = s.handler(projected)
        graft.observe.Signals.fireAfter(s.name)
        val out = if (s.barrier) track(out0.persist()) else out0
        if (s.saveResult || s.next.isEmpty) acc += s.name -> userView(out)
        s.next.map(walk(_, out, acc)).getOrElse(Nil)

      case f: FactoryStep =>
        // factory steps fire the same lifecycle signals as plain steps —
        // StepStats must not show a registered, executing step as never run
        graft.observe.Signals.fireBefore(f.name)
        val out = f.handler(in)
        graft.observe.Signals.fireAfter(f.name)
        if (f.next.isEmpty) acc += f.name -> userView(out)
        f.next.map(walk(_, out, acc)).getOrElse(Nil)

      case h: Hub =>
        // the hub meta channel is single-valued (exactly like the
        // reference's meta_data['hub_job_id'], hub.py:12-14): a nested hub
        // would silently clobber the outer fan-out's job id / branch index
        // and break any downstream reducer's completeness count — refuse
        // loudly instead
        val metaPresent = in.columns.filter(isMeta)
        if (metaPresent.nonEmpty)
          throw new UnsupportedOperationException(
            "nested Hub fan-out is not supported: the frame already carries " +
              s"hub meta (${metaPresent.mkString(", ")}), which a second Hub " +
              "would overwrite (the reference's hub_job_id meta key is " +
              "single-valued too). Reduce the outer fan-out first.")
        // a FactoryStep between a Hub and a ReducerStep makes (job, branch)
        // non-unique; the reducer's dedup would keep ONE ARBITRARY expanded
        // row — nondeterministic data loss. Fail at plan-build time.
        h.branches.foreach { b =>
          require(!factoryFeedsReducer(b),
            "a FactoryStep inside a Hub branch that feeds a ReducerStep is " +
              "not supported: the reducer keys arrivals by (job, branch), " +
              "so a 1->N expansion would be silently collapsed to one row. " +
              "Aggregate the expansion inside the branch before the reducer.")
        }
        val n = h.branches.size
        // One job id per *record*; branch copies share it (≙ hub.py:12-14).
        // The id is DETERMINISTIC (per-hub ordinal + monotonic row id), not
        // uuid(): if the persisted tag frame is ever recomputed — executor
        // loss, eviction, cleanup() between consuming two saved results —
        // uuid() would regenerate DIFFERENT ids per branch action and the
        // reducer's count-complete filter would silently drop every job.
        // Re-evaluating the same plan reproduces monotonically_increasing_id
        // when the hub input's partitions are stable (scan-rooted upstream).
        // RESIDUAL HOLE: with a SHUFFLE directly upstream, reduce-side row
        // order within a partition is not guaranteed across recomputation
        // (nondeterministic fetch order), so in that narrow window branch
        // copies can disagree on ids and the reducer drops those jobs. A
        // content hash can't fix it (duplicate records must get distinct
        // ids), and an RDD-materialize still recomputes through the same
        // expression on block loss; the complete fix is a reliable-storage
        // checkpoint of the tagged frame, which callers needing fan-out
        // exactly-once across executor loss should insert upstream.
        val hid = hubSeq.incrementAndGet()
        val tagged = track(in
          .withColumn(HubJobIdCol,
            concat(lit(s"$hid-"), monotonically_increasing_id(), lit(s":$n")))
          .persist()) // branches must share one materialization of upstream
        FanOut {
          h.branches.zipWithIndex.flatMap { case (b, i) =>
            walk(b, tagged.withColumn(BranchCol, lit(i)), acc)
          }
        }

      case r: ReducerStep => Seq(r -> in)
    }

  /** True iff a FactoryStep occurs on some path from `node` that later
    * reaches a ReducerStep (the unsupported expand-then-reduce shape). */
  private def factoryFeedsReducer(node: FlowNode): Boolean = node match {
    case f: FactoryStep => f.next.exists(reachesReducer)
    case s: Step => s.next.exists(factoryFeedsReducer)
    case h: Hub => h.branches.exists(factoryFeedsReducer)
    case _: ReducerStep => false
  }

  private def reachesReducer(node: FlowNode): Boolean = node match {
    case _: ReducerStep => true
    case s: Step => s.next.exists(reachesReducer)
    case f: FactoryStep => f.next.exists(reachesReducer)
    case h: Hub => h.branches.exists(reachesReducer)
  }

  /** Count-complete fan-in over the unioned branch frames. */
  private def runReducer(r: ReducerStep, in: DataFrame): DataFrame = {
    require(in.columns.contains(HubJobIdCol),
      s"ReducerStep '${r.name}' requires an upstream Hub ($HubJobIdCol missing)")
    val dataCols = in.columns.filterNot(isMeta).toIndexedSeq
    val branchCount = split(col(HubJobIdCol), ":").getItem(1).cast("int")
    // Dedup duplicate branch arrivals (documented deviation from the
    // reference's at-least-once over-count), then count-complete trigger
    // ≙ reducer_engine.py:58-60. job_list is sorted by branch index for
    // determinism (reference order = arrival order — nondeterministic
    // there; we pin it).
    val grouped = in
      .dropDuplicates(HubJobIdCol, BranchCol)
      .groupBy(col(HubJobIdCol))
      .agg(
        sort_array(collect_list(struct(
          (col(BranchCol) +: dataCols.map(col)): _*))).as("job_list"),
        first(branchCount).as("__hub_n"))
      .filter(size(col("job_list")) === col("__hub_n"))
      .select(col(HubJobIdCol), col("job_list"))
    r.handler(grouped)
  }

  /**
   * Hub *zip* variant (≙ list-input dispatch, `next_step.py:34-39`): the
   * caller supplies one DataFrame per branch; arity is checked at plan-build
   * time (≙ RuntimeError `next_step.py:34-36`).
   */
  def runZip(hub: Hub, inputs: Seq[DataFrame]): FlowResult = {
    if (inputs.size != hub.branches.size)
      throw new HubArityException(hub.branches.size, inputs.size)
    val acc = mutable.LinkedHashMap.empty[String, DataFrame]
    val pending = FanOut {
      hub.branches.zip(inputs).zipWithIndex.flatMap { case ((b, in), i) =>
        walk(b, in.withColumn(BranchCol, lit(i)), acc)
      }
    }
    finishReducers(pending, acc)
    graft.observe.Signals.fireFinished(acc.keySet.toSet)
    FlowResult(acc.toMap)
  }
}
