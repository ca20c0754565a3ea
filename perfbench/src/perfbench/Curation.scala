package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.App
import graft.functions.TextFunctions
import graft.operators.{Curate, Dedup, TextProfile}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * The curation flow of curate_docs: one operation runs the seeded corpus,
 * or its first tenth (the slice), through an App flow (quality gate, exact
 * dedup, MinHash-LSH near dedup verified by n-gram Jaccard,
 * decontamination against an eval split, mix materialization) and writes
 * the result as parquet.
 *
 * Checks per operation: no two members of a planted exact-duplicate group
 * survive; over the corpus, planted near-duplicate recall is at least the
 * recorded floor; the output digest equals the run's first digest of the
 * same input, whatever the core count, and the digest recorded for the
 * seed and input by the first run of the same code.
 */
final class Curation {
  import Curation._

  private var docs: DataFrame = _
  private var truth: Truth = _
  /** First digest of this run per input: "corpus" or "slice". */
  private val digests = mutable.HashMap.empty[String, String]
  private var ops = 0
  var dataDir: File = _

  def load(ctx: Ctx, dir: File): Unit = {
    dataDir = dir
    truth = Truth.read(new File(dir, "truth.json"))
    docs = ctx.spark.read.parquet(new File(dir, "documents.parquet").getPath)
      .repartition(ctx.cores).persist()
    docs.count()
  }

  def close(): Unit = {
    if (docs != null) docs.unpersist(blocking = true)
    docs = null
  }

  /** One checked operation: the flow over the whole corpus or the slice. */
  def op(ctx: Ctx, slice: Boolean): OpOut = {
    ctx.outcomes.begin()
    val input = if (slice) docs.filter(col("doc_id") < SliceDocs) else docs
    val (out, s) = Clock.timed(runFlow(ctx, input))
    val (kept, bytesPerRow) = checkOutput(ctx, out, if (slice) "slice" else "corpus")
    val ratio =
      if (out.candidates > 0) out.pairs.count().toDouble / out.candidates else 0.0
    Files.rmTree(out.dir)
    ctx.releaseAll()
    ctx.checkLeaks("curation op")
    OpOut(s, kept, bytesPerRow, ratio)
  }

  private def runFlow(ctx: Ctx, input: DataFrame): FlowOut = {
    ops += 1
    val traced = ctx.tracer.on
    val app = new App(ctx.spark)
    val isEval = pmod(col("doc_id"), lit(100)) === 7
    val eval = input.filter(isEval)
    var pairs: DataFrame = null
    var nearInput: DataFrame = null
    var candidates = -1L

    val mix = app.step("mix", df => ctx.span("curate.materializeMix")(
      ctx.mat(Curate.materializeMix(df, "lang", MixTargets))))
    val decontaminate = app.step("decontaminate", df =>
      ctx.span("textprofile.contaminationReport") {
        val train = df.filter(!isEval)
        val hits = TextProfile.contaminationReport(train, eval, "text", "doc_id", n = 4)
        ctx.mat(train.join(hits.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      }, next = Some(mix), barrier = true) // the mix reads its input twice
    val nearDedup = app.step("near_dedup", df => {
      nearInput = df
      val cands = ctx.span("dedup.minhashLsh")(ctx.mat(
        Dedup.minhashLsh(df, "text", "doc_id", threshold = Threshold)))
      if (traced) candidates = cands.count()
      // the verified pairs are kept for the recall check; keepRepresentatives
      // materializes them while resolving clusters
      pairs = ctx.span("dedup.ngramJaccard") {
        val p = ctx.keep(Dedup.ngramJaccard(df, cands, "text", "doc_id")
          .filter(col("jaccard") >= Threshold))
        if (traced) p.count()
        p
      }
      ctx.span("dedup.keepRepresentatives")(ctx.mat(
        Dedup.keepRepresentatives(df, pairs, "doc_id")))
    }, next = Some(decontaminate))
    // barrier: the near-dedup stage reads its input three times
    val exact = app.step("exact_dedup", df => ctx.span("dedup.exact")(
      ctx.mat(Dedup.exact(df, "text", "doc_id"))), next = Some(nearDedup),
      barrier = true)
    val gate = app.step("quality_gate", df => ctx.span("functions.qualityGate")(
      ctx.mat(df.filter(TextFunctions.gopherRepetitionKeep(col("text")) &&
          TextFunctions.gopherQualityKeep(col("text"), QualityBounds))
        .withColumn("quality", TextFunctions.qualityScore(col("text"))))),
      next = Some(exact))

    val result = ctx.span("flow.run")(app.run(gate, input))
    val dir = new File(ctx.dir("out"), s"curate-$ops")
    ctx.span("io.write")(result("mix")
      .select(col("doc_id"), col("text"), col("lang"), col("quality"), col("sample_rank"))
      .write.parquet(dir.getPath))
    // the persisted barrier frame is released by app.cleanup(); hand the
    // id list over before that happens
    val nearIds = ctx.keep(nearInput.select(col("doc_id")))
    nearIds.count()
    app.cleanup()
    FlowOut(dir, pairs, nearIds, candidates)
  }

  /** Verify one written output; returns its doc ids and bytes per row. */
  private def checkOutput(ctx: Ctx, out: FlowOut, input: String): (Seq[Long], Double) = {
    val rows = ctx.spark.read.parquet(out.dir.getPath)
      .select(col("doc_id"), col("text"), col("lang"), col("quality"), col("sample_rank"))
      .collect().sortBy(_.getLong(0))
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    val d = md.digest().map(b => f"$b%02x").mkString
    val kept = rows.map(_.getLong(0)).toSet
    digests.get(input) match {
      case Some(first) =>
        ctx.outcomes.check(first == d, s"curation $input digest $d != $first")
      case None =>
        digests(input) = d
        val recorded = Records.getOrPut(
          new File(ctx.records, s"curate_docs-${ctx.seed}-$input.digest"), d)
        ctx.outcomes.check(recorded == d,
          s"curation $input digest $d != $recorded recorded for seed ${ctx.seed}")
    }
    val dupSurvivors = truth.exactGroups.count(g => g.count(kept) > 1)
    ctx.outcomes.check(dupSurvivors == 0,
      s"curation: $dupSurvivors planted exact-duplicate groups survived")
    // planted near-dup recall over the pairs that reached the near-dup
    // stage: found when both docs end up in one verified cluster
    val present = out.nearInput.collect().map(_.getLong(0)).toSet
    val eligible = truth.nearPairs.filter { case (a, b) => present(a) && present(b) }
    val uf = new UnionFind
    out.pairs.select(col("id_a"), col("id_b")).collect()
      .foreach(r => uf.union(r.getLong(0), r.getLong(1)))
    val found = eligible.count { case (a, b) => uf.find(a) == uf.find(b) }
    val recall = if (eligible.isEmpty) 1.0 else found.toDouble / eligible.size
    println(f"[perfbench] curation $input near-dup recall $recall%.4f " +
      s"over ${eligible.size} pairs")
    // the slice holds about four planted pairs, too few for a recall floor
    if (input == "corpus") ctx.outcomes.check(eligible.nonEmpty && recall >= MinNearRecall,
      f"curation near-dup recall $recall%.4f < $MinNearRecall " +
        s"(${eligible.size} eligible pairs)")
    ctx.outcomes.check(rows.nonEmpty, "curation wrote no rows")
    (rows.map(_.getLong(0)).toSeq, Files.bytes(out.dir).toDouble / math.max(rows.length, 1))
  }
}

object Curation {
  private final case class FlowOut(dir: File, pairs: DataFrame, nearInput: DataFrame,
                                   candidates: Long)

  final case class OpOut(seconds: Double, kept: Seq[Long], bytesPerRow: Double,
                         verifiedRatio: Double)

  /** Large enough that per-row work is most of an operation: on a 4-core
    * VM an operation takes about 13 s plus 1.6 ms per doc. */
  val NDocs = 10000
  val SliceDocs = NDocs / 10
  val Threshold = 0.6
  /** Planted near-duplicate recall floor. Every pair was found on seeds
    * 1-7 when this benchmark was added (recall 1.0); the floor leaves room
    * for a seed whose short twice-mutated pair falls under the threshold. */
  val MinNearRecall = 0.9
  val QualityBounds = TextFunctions.GopherQualityBounds(minWords = 20, minStopHits = 1)
  val MixTargets = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1)
}

/** Planted duplicates as written by gen_docs.py. */
final case class Truth(nearPairs: Seq[(Long, Long)], exactGroups: Seq[Seq[Long]])

object Truth {
  def read(f: File): Truth = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def longs(n: com.fasterxml.jackson.databind.JsonNode): Seq[Long] =
      (0 until n.size()).map(i => n.get(i).asLong())
    val near = node.get("near_pairs")
    val groups = node.get("exact_groups")
    Truth(
      (0 until near.size()).map { i => val p = longs(near.get(i)); (p(0), p(1)) },
      (0 until groups.size()).map(i => longs(groups.get(i))))
  }
}

final class UnionFind {
  private val parent = mutable.HashMap.empty[Long, Long]
  def find(x: Long): Long = {
    val p = parent.getOrElse(x, x)
    if (p == x) x else { val r = find(p); parent(x) = r; r }
  }
  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
  }
}

/** Reference outputs and untraced timings kept across runs of the same code. */
object Records {
  /** The value recorded in `f`; records `value` first if there is none. */
  def getOrPut(f: File, value: String): String = {
    val p = f.toPath
    if (!f.exists()) {
      val tmp = java.nio.file.Files.createTempFile(p.getParent, f.getName, ".tmp")
      java.nio.file.Files.writeString(tmp, value)
      java.nio.file.Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    java.nio.file.Files.readString(p).trim
  }

  def append(f: File, lines: Seq[String]): Unit =
    java.nio.file.Files.write(f.toPath, lines.map(_ + "\n").mkString.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)

  def lines(f: File): Seq[String] =
    if (!f.exists()) Nil
    else java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq.filter(_.nonEmpty)
}

/** Runs the seeded input generators that sit next to this harness. */
object Gen {
  def run(script: String, args: String*): Unit = {
    val dir = sys.props.getOrElse("perfbench.dir", "perfbench")
    val p = new ProcessBuilder(("python3" +: s"$dir/$script" +: args): _*)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    val rc = p.waitFor()
    require(rc == 0, s"$script ${args.mkString(" ")} exited with $rc")
  }
}
