package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._

/** Guards the `bindOnce` discipline: a higher-order-function lambda that
  * CAPTURES a computed per-row expression re-evaluates it for every
  * array element, because lambda bodies are exempt from subexpression
  * elimination. `shingles` once re-tokenized the whole document at every
  * window position this way (O(tokens²) per row). The check walks the
  * analyzed and the optimized plan of each text kernel applied to plain
  * columns and flags any per-element lambda body holding a maximal
  * lambda-variable-free subtree that is not a literal, a foldable
  * expression, an attribute or a cast of one. A lambda over a
  * one-element `array(c)` (the `bindOnce` shape) runs once per row and
  * is not per-element. */
class LambdaCaptureSpec extends SparkSpec {

  private def freeOfLambdaVars(e: Expression): Boolean =
    !e.exists(_.isInstanceOf[NamedLambdaVariable])

  private def maximalFree(e: Expression): Seq[Expression] =
    if (freeOfLambdaVars(e)) Seq(e) else e.children.flatMap(maximalFree)

  private def trivial(e: Expression): Boolean = e match {
    case _: Literal | _: Attribute => true
    case Cast(_: Attribute, _, _, _) => true
    case _ => e.foldable
  }

  private def boundOnce(hof: HigherOrderFunction): Boolean = hof match {
    case ArrayTransform(CreateArray(Seq(_), _), _) => true
    case _ => false
  }

  /** Captured computed subtrees of every per-element lambda in `e`. */
  private def captures(e: Expression): Seq[Expression] = e.flatMap {
    case hof: HigherOrderFunction if !boundOnce(hof) =>
      hof.functions.flatMap {
        case LambdaFunction(body, _, _) => maximalFree(body).filterNot(trivial)
        case _ => Nil
      }
    case _ => Nil
  }

  private def planCaptures(df: DataFrame): Seq[String] = {
    val qe = df.queryExecution
    Seq(qe.analyzed, qe.optimizedPlan)
      .flatMap(_.flatMap(_.expressions).flatMap(captures))
      .map(_.sql).distinct
  }

  // an RDD-backed frame keeps its columns as plain attributes in the
  // optimized plan (a local relation would be folded away entirely)
  private lazy val docs: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(1L, "the cat sat on the mat", "the cat".getBytes("UTF-8")))),
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("payload", BinaryType))))

  private val text = col("text")

  private val kernels: Seq[(String, DataFrame)] = Seq[(String, Column)](
    "tokens" -> tokens(text),
    "tokenCount" -> tokenCount(text),
    "wordOccurrences" -> wordOccurrences(text, "cat"),
    "langId" -> langId(text),
    "stopwordRatio" -> stopwordRatio(text),
    "meanWordLen" -> meanWordLen(text),
    "qualityScore" -> qualityScore(text),
    "hashedQualityScore" -> hashedQualityScore(text),
    "gopherRepetitionKeep" -> gopherRepetitionKeep(text),
    "gopherQualityStats" -> gopherQualityStats(text),
    "gopherQualityKeep" -> gopherQualityKeep(text),
    "c4Stats" -> c4Stats(text),
    "c4Keep" -> c4Keep(text),
    "blocklistHits" -> blocklistHits(text, Seq("mat")),
    "piiPolicy" -> piiPolicy(text),
    "fingerprint" -> fingerprint(text),
    "shingles(3)" -> shingles(text, 3),
    "shingleHashes(3)" -> shingleHashes(text, 3),
    "shingleHashes(5)" -> shingleHashes(text, 5),
    "shinglesHof(3)" -> shinglesHof(text, 3),
    "shingleHashesHof(3)" -> shingleHashesHof(text, 3),
    "qualityScoreHof" -> qualityScoreHof(text),
    "gopherQualityStatsHof" -> gopherQualityStatsHof(text),
    "Dedup.minhashSignature" ->
      graft.operators.Dedup.minhashSignature(text, 3, 64)
  ).map { case (name, c) => name -> docs.select(c.as("v")) } ++ Seq(
    "Tokenize.spanCorrupt" ->
      graft.operators.Tokenize.spanCorrupt(docs, "text", "doc_id"),
    "Multimodal.sampleFrames" ->
      graft.operators.Multimodal.sampleFrames(docs, "payload", 3),
    "Dedup.ngramJaccard" ->
      graft.operators.Dedup.ngramJaccard(docs,
        docs.select(col("doc_id").as("id_a"), col("doc_id").as("id_b")),
        "text", "doc_id").select(col("jaccard")))

  kernels.foreach { case (name, df) =>
    test(s"no per-element lambda captures a computed expression: $name") {
      val found = planCaptures(df)
      assert(found.isEmpty, s"$name re-evaluates per element: $found")
      df.collect() // the kernel still runs
    }
  }

  test("the capture check flags a captured token array and passes a bound one") {
    val captured = transform(sequence(lit(1), size(tokens(text))),
      i => element_at(tokens(text), i))
    val bound = bindOnce(tokens(text))(toks =>
      transform(sequence(lit(1), size(toks)), i => element_at(toks, i)))
    assert(planCaptures(docs.select(captured)).nonEmpty)
    assert(planCaptures(docs.select(bound)).isEmpty)
  }
}
