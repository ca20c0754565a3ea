package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Both come from the catalog: one [[catalog.QuerySpec]] (Spark body +
  * oracle SQL) per query.
  *
  * Failure contract: a query that throws leaves NO output dir (any stale
  * dump from a previous run into the same outDir is deleted up front, so
  * a regression can never be masked by yesterday's correct parquet), is
  * listed in `_failures.json`, and is reported on stderr. The process
  * still exits 0 — per-query errors are the driver's per-query gate, not
  * a sweep abort. Fatal JVM errors (OOM) propagate and kill the sweep:
  * results computed in a heap-exhausted JVM aren't trustworthy.
  *
  * Completeness contract: `_report.json` always carries exactly one
  * {status: ok|err} entry per swept registered query, and the final
  * stdout line prints registered/swept/dumped/failed counts — an
  * artifact built only from the dump dirs can silently shrink when a
  * query breaks at plan time; the count line cannot.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: restrict the dump to named queries (local dev)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here " +
        "would otherwise dump nothing and exit 0")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def rmTree(f: java.io.File): Unit = if (f.exists()) {
      if (f.isDirectory) f.listFiles.foreach(rmTree)
      f.delete()
    }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.keys
      .filter(name => only.isEmpty || only(name))
      .foreach { name =>
      // stale-dump guard: a query that fails during PLAN CONSTRUCTION
      // (before the overwrite) must not leave last run's parquet behind
      rmTree(new java.io.File(s"$outDir/$name"))
      try SparkEntry.runReleased(spark, sfDir, name)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = String.valueOf(e.getMessage)
      }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failures.nonEmpty) {
      val fj = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_failures.json"), fj)
      System.err.println(s"[verify] ${failures.size} quer" +
        s"${if (failures.size == 1) "y" else "ies"} failed: " +
        failures.keys.mkString(", "))
    }
    // Complete accounting, one row per REGISTERED query (not just the ones
    // that produced output): a downstream artifact built only from the dump
    // dirs silently shrinks when a query breaks at plan time — round 9's
    // CORRECTNESS file read 92/92 "all green" while 8 queries were broken.
    // _report.json always has exactly SparkEntry.queries.size entries, and
    // the one-line stdout summary makes registered != dumped unmissable.
    val swept = SparkEntry.queries.keys
      .filter(name => only.isEmpty || only(name)).toSeq
    val report = swept.map { name =>
      val st = failures.get(name) match {
        case Some(err) => s"""{"status": "err", "error": ${q(err)}}"""
        case None      => """{"status": "ok"}"""
      }
      s"${q(name)}: $st"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_report.json"), report)
    println(s"[verify] registered=${SparkEntry.queries.size} " +
      s"swept=${swept.size} dumped=${swept.size - failures.size} " +
      s"failed=${failures.size}" +
      (if (failures.isEmpty) "" else s" (${failures.keys.mkString(", ")})"))
    spark.stop()
  }
}
