package perfbench

import java.io.File

import scala.collection.mutable

/**
 * curate_docs: closed loop, one client. The seeded corpus is curated by an
 * App flow ([[Curation]]); one operation is one flow run from input to
 * written output, so wall_s, the latency figures and rows_per_s all
 * describe that run, and bytes_per_row is the written output per row. The
 * warm-up is a checked flow run over a tenth of the corpus.
 *
 * After its traced pass, the traced run indexes the curated documents'
 * embeddings in an IVF-PQ code store that is served and churned
 * ([[VectorIndex]]), for the quantize, similarity and layout layers; the
 * timed runs leave it out to keep a run short. Its local[1] baseline
 * reruns the warm-up's slice, whose digest must match.
 */
final class CurateDocs extends Workload {
  import CurateDocs._

  private val curation = new Curation
  private val index = new VectorIndex
  private var lastKept: Seq[Long] = Nil

  def setup(ctx: Ctx): Unit = {
    val dir = ctx.dir("data/corpus")
    Gen.run("gen_docs.py", dir.getPath, Curation.NDocs.toString, NQueries.toString,
      ctx.seed.toString)
    curation.load(ctx, dir)
    ctx.inputRdds = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  def warmUp(ctx: Ctx): Unit = curation.op(ctx, slice = true)

  def close(ctx: Ctx): Unit = { curation.close(); index.close() }

  private def allIds = 0L until Curation.NDocs.toLong

  def measure(ctx: Ctx, deadlineMs: Double): Map[String, Double] = {
    val ops = mutable.ArrayBuffer.empty[Curation.OpOut]
    do ops += curation.op(ctx, slice = false)
    while (Clock.ms + Stats.median(ops.map(_.seconds).toSeq) * 1000 < deadlineMs)
    val walls = ops.map(_.seconds).toSeq
    Records.append(wallsFile(ctx), walls.map(_.toString))
    Map(
      "wall_s" -> Stats.median(walls),
      "rows_per_s" -> Curation.NDocs * walls.size / walls.sum,
      "latency_p50_s" -> Stats.median(walls),
      "latency_tail_s" -> Stats.tail(walls, TailPct),
      "bytes_per_row" -> Stats.median(ops.map(_.bytesPerRow).toSeq))
  }

  private def wallsFile(ctx: Ctx) = new File(ctx.records, "curate_docs-walls.txt")

  /** A pass is one operation, so the timed runs' operation walls serve;
    * an in-process untraced pass would not fit the traced run's time. */
  override def recordedPassS(ctx: Ctx): Option[Double] =
    Some(Records.lines(wallsFile(ctx)).map(_.toDouble)).filter(_.nonEmpty).map(Stats.median)

  def pass(ctx: Ctx): Map[String, Double] = {
    val op = curation.op(ctx, slice = false)
    lastKept = op.kept
    Map("dedup.verified_ratio" -> op.verifiedRatio)
  }

  /** Index the documents the last pass kept; the rest feed ingestion. */
  override def tracedExtra(ctx: Ctx): Map[String, Double] = {
    if (!index.loaded) {
      index.load(ctx, curation.dataDir)
      ctx.inputRdds = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet
    }
    val store = index.lifecycle(ctx, lastKept, allIds.filterNot(lastKept.toSet), TracedRounds)
    val recall = store.recall()
    val out = Map(
      "similarity.recall_at_10" -> recall,
      "quantize.files_read" -> store.filesRead.toDouble,
      "layout.files_written" -> store.filesWritten.toDouble,
      "layout.bytes_written" -> store.bytesWritten.toDouble,
      "layout.bytes_live" -> store.bytesOnDisk.toDouble)
    store.drop()
    ctx.outcomes.begin()
    out + ("opcache.leaked_frames" -> ctx.checkLeaks("curate_docs index").toDouble)
  }

  /** Single-threaded baseline: the curation flow at local[1] over the
    * warm-up's slice must write the same digest as the warm-up did at
    * local[nproc]. The whole corpus would take about 55 s at local[1],
    * more than the traced run has left. */
  override def baseline: Option[Ctx => Map[String, Double]] = Some { ctx =>
    curation.load(ctx, curation.dataDir)
    ctx.inputRdds = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet
    Map("curate.local1_wall_s" -> curation.op(ctx, slice = true).seconds)
  }
}

object CurateDocs {
  val NQueries = 64
  /** Two churn rounds, so the second round's serve calls run after a
    * retraction and can catch a retracted id being served. */
  val TracedRounds = 2
  val TailPct = 90.0
}
