package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** What a workload sees of the run: the session, its private directories,
  * the tracer, the outcome tally and `records`, a directory that keeps
  * reference outputs per seed across runs of the same code. */
final class Ctx(val spark: SparkSession, val root: File, val seed: Long,
                val tracer: Tracer, val outcomes: Outcomes, val records: File) {
  val cores: Int = spark.sparkContext.defaultParallelism

  def dir(name: String): File = { val d = new File(root, name); d.mkdirs(); d }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** In the traced run only: persist and count a lazy layer output inside
    * the current span, so its execution is charged to that span. The
    * frame is released by [[releaseAll]]. Untraced, the frame is returned
    * as is and stays lazy. */
  def mat(df: DataFrame): DataFrame =
    if (!tracer.on) df
    else { keep(df).count(); tracer.sampleCache(); df }

  private val held = mutable.ArrayBuffer.empty[DataFrame]

  /** Persist a frame the harness itself reads again; released by
    * [[releaseAll]]. */
  def keep(df: DataFrame): DataFrame = { held += df.persist(); df }

  def releaseAll(): Unit = {
    tracer.sampleCache()
    held.foreach(_.unpersist(blocking = true))
    held.clear()
    graft.operators.OpCache.release()
  }

  /** Persisted RDD ids owned by the loaded inputs (not leaks). */
  var inputRdds: Set[Int] = Set.empty

  /** Frames still cached after an operation released everything it owns:
    * persisted RDDs beyond the inputs plus tracked OpCache entries. */
  def leakedFrames(): Int = {
    // unpersist(blocking = false) in the operators: let the removals land
    val deadline = Clock.ms + 2000
    def extra = spark.sparkContext.getPersistentRDDs.keySet.toSet -- inputRdds
    while (extra.nonEmpty && Clock.ms < deadline) Thread.sleep(20)
    extra.size + Main.opCacheEntries()
  }

  /** Check the current operation left nothing behind: no cached frames,
    * no OpCache entries and no `graft_*` scratch directories. */
  def checkLeaks(what: String): Int = {
    val frames = leakedFrames()
    val dirs = Main.graftDirs()
    outcomes.check(frames == 0 && dirs.isEmpty,
      s"$what leaked $frames cached frames and ${dirs.size} graft_* dirs")
    frames
  }
}

/** One benchmark workload. `pass` is the unit the traced run times, once
  * untraced and once traced; the timed run loops over the workload's own
  * operations in `measure`. */
trait Workload {
  /** Generate the seeded inputs and load them. */
  def setup(ctx: Ctx): Unit
  /** Untimed warm-up before the first measured operation. */
  def warmUp(ctx: Ctx): Unit
  /** Timed run: repeat operations until `deadlineMs`; end-to-end metrics. */
  def measure(ctx: Ctx, deadlineMs: Double): Map[String, Double]
  /** One representative pass; with tracing on it returns layer metrics. */
  def pass(ctx: Ctx): Map[String, Double]
  /** Traced run only, right after the traced pass and inside the trace:
    * layers the timed runs leave out. */
  def tracedExtra(ctx: Ctx): Map[String, Double] = Map.empty
  /** Traced run only: the median wall time of an untraced pass as earlier
    * timed runs of the same code recorded it, if they did. */
  def recordedPassS(ctx: Ctx): Option[Double] = None
  /** Release the loaded inputs. */
  def close(ctx: Ctx): Unit
  /** Traced run only, on a fresh local[1] session after the traced pass:
    * the single-threaded baseline, if the workload has one. */
  def baseline: Option[Ctx => Map[String, Double]] = None
}

object Main {
  def newSession(master: String, root: File): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        master.stripPrefix("local[").stripSuffix("]"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(root, "local").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(root, "checkpoints").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Entries in the operators' shared cache registry. */
  def opCacheEntries(): Int = {
    val mod = graft.operators.OpCache
    val f = mod.getClass.getDeclaredFields
      .find(f => classOf[scala.collection.mutable.ArrayBuffer[_]]
        .isAssignableFrom(f.getType))
      .getOrElse(sys.error("OpCache registry field not found"))
    f.setAccessible(true)
    mod.synchronized(f.get(mod).asInstanceOf[scala.collection.mutable.ArrayBuffer[_]].size)
  }

  /** Scratch directories the operators or queries left in the run's
    * temp dir. */
  def graftDirs(): Seq[File] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("graft_"))

  private def workload(name: String): Workload = name match {
    case "curate_docs" => new CurateDocs
    case "worker_stream" => new WorkerStream
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val root = new File(opts("root")).getAbsoluteFile
    val records = new File(opts("records")).getAbsoluteFile
    records.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val outcomes = new Outcomes
    val tracer = new Tracer(traced, s"$name-$seed")
    val w = workload(name)

    // set-up runs from JVM start to the first measured operation: session
    // start, input generation and load, and the untimed warm-up
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = newSession(master, root)
    val ctx = new Ctx(spark, root, seed, tracer, outcomes, records)
    val tSession = Clock.secondsSince(jvmStart)
    w.setup(ctx)
    val tLoaded = Clock.secondsSince(jvmStart)
    w.warmUp(ctx)
    val setupS = Clock.secondsSince(jvmStart)
    System.err.println(f"[perfbench] set-up $setupS%.3f s: session at $tSession%.3f s, " +
      f"inputs loaded at $tLoaded%.3f s, then warm-up")

    val metrics: Map[String, Double] =
      if (!traced)
        w.measure(ctx, Clock.ms + seconds * 1000) + ("setup_s" -> setupS)
      else {
        // the untraced wall the traced pass is compared with: from earlier
        // untraced runs of the same code if the workload records them, else
        // an untraced pass first, which also warms what the warm-up left cold
        val plainS = w.recordedPassS(ctx).getOrElse {
          val (_, s) = Clock.timed(w.pass(ctx))
          System.err.println(f"[perfbench] untraced pass: $s%.3f s")
          s
        }
        tracer.attach(spark)
        tracer.resetHeapPeak()
        val t0 = Clock.ms
        val layer = tracer.span("harness.pass")(w.pass(ctx))
        val tPass = Clock.ms
        val extra = tracer.span("harness.extra")(w.tracedExtra(ctx))
        val t1 = Clock.ms
        System.err.println(f"[perfbench] traced pass: ${(tPass - t0) / 1000}%.3f s, " +
          f"then ${(t1 - tPass) / 1000}%.3f s traced-only work")
        val spans = tracer.report(t0, t1)
        tracer.detach(spark)
        opts.get("spans").foreach(f => tracer.writeSpans(new File(f)))
        def s(k: String) = spans.getOrElse(k, 0.0)
        spans ++ layer ++ extra ++ Map(
          "flow.plan_s" -> s("flow.self_s"),
          "quantize.train_s" -> (s("span.similarity.trainCentroids") +
            s("span.quantize.trainCodebook")),
          "quantize.write_s" -> s("span.quantize.writeCodeStore"),
          "quantize.ingest_s" -> s("span.quantize.ingestBatchCodeStore"),
          "quantize.retract_s" -> s("span.quantize.removeFromCodeStore"),
          "quantize.gc_s" -> s("span.quantize.gcCodeStore"),
          "quantize.serve_s" -> s("span.quantize.ivfPqTopKFromStore"),
          "boundary.write_s" -> s("span.boundary.write"),
          "trace.overhead_s" -> ((tPass - t0) / 1000.0 - plainS))
      }

    def finish(ctx: Ctx, w: Workload, what: String): Unit = {
      w.close(ctx)
      outcomes.begin()
      ctx.inputRdds = Set.empty
      val leftover = ctx.leakedFrames()
      ctx.spark.stop()
      val dirs = graftDirs()
      outcomes.check(leftover == 0 && dirs.isEmpty,
        s"$what: $leftover cached frames and ${dirs.size} graft_* dirs left")
    }
    finish(ctx, w, "run end")
    val baseline = w.baseline.filter(_ => traced).map { run =>
      val s1 = newSession("local[1]", root)
      val ctx1 = new Ctx(s1, root, seed, new Tracer(false, s"$name-$seed-local1"), outcomes,
        records)
      val (m, s) = Clock.timed(run(ctx1))
      System.err.println(f"[perfbench] local[1] baseline: $s%.3f s")
      finish(ctx1, w, "local[1] baseline end")
      m
    }.getOrElse(Map.empty[String, Double])

    // layers a workload does not touch report zero
    val layers = opts.get("layers").toSeq.flatMap(_.split(",")).map(_ -> 0.0).toMap
    val fields = Seq(
      "correct" -> (if (outcomes.nFailed == 0) "true" else "false"),
      "attempted" -> outcomes.nAttempted.toString,
      "failed" -> outcomes.nFailed.toString,
      "metrics" -> Json.obj((layers ++ metrics ++ baseline).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    println("PERFBENCH_RESULT " + Json.obj(fields))
    System.exit(0)
  }
}
