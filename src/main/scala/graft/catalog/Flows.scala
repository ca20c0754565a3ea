package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core._
import graft.functions.TextFunctions

import Shared._

/** Pipeline algebra (SURVEY §2.1): stepist-parity step/factory/hub/
  * reducer flows, event windows, sessionization, streaming windows and
  * funnels. */
object Flows extends Family {

  query("q23_events_window") { (s, dir) =>
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("bucket"), col("event_type"))
  } {
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
      | count(*) AS n, round(sum(value),2) AS total_value
      |FROM events GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin
  }

  /** Chained map stages + StopFlowFlag-as-filter (≙ README arith flow +
    * `stepist/flow/utils.py:8-12`), run through the core Flow engine. */
  query("q25_flow_chain") { (s, dir) =>
    val app = new App(s)
    val step3 = app.step("agg_stage", df => df
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("disc_price")), 2).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")))
    val step2 = app.step("filter_stage",
      df => df.filter(col("disc_price") > 1000), next = Some(step3))
    val step1 = app.step("compute_stage", df => df
      .withColumn("disc_price", col("l_extendedprice") * (lit(1) - col("l_discount"))),
      next = Some(step2),
      inputCols = Seq("l_returnflag", "l_extendedprice", "l_discount"))
    app.run(step1, t(s, dir, "lineitem"))("agg_stage")
  } {
    """SELECT l_returnflag, round(sum(disc_price),2) AS revenue, count(*) AS n
      |FROM (SELECT l_returnflag, l_extendedprice*(1-l_discount) AS disc_price
      |      FROM lineitem) x
      |WHERE disc_price > 1000
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Factory step 1→N expansion (≙ `factory_step.py:19-31`): explode doc
    * tokens, count token frequency downstream. */
  query("q26_flow_factory") { (s, dir) =>
    val app = new App(s)
    val counter = app.step("token_count_stage", df => df
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 50)
      .orderBy(col("token")))
    val factory = app.factoryStep("tokenize_stage", df => df
      .select(explode(TextFunctions.tokens(col("text"))).as("token")),
      next = Some(counter))
    app.run(factory, parallelize(t(s, dir, "documents")))("token_count_stage")
  } {
    """SELECT token, count(*) AS n FROM (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents WHERE trim(text) <> '') tk
      |GROUP BY token HAVING count(*) >= 50 ORDER BY token""".stripMargin
  }

  /** Hub fan-out → Reducer fan-in (≙ README.markdown:159-205 +
    * `reducer_engine.py:21-80`): two branches compute different per-row
    * metrics; the reducer joins them back by hub_job_id and combines. */
  query("q27_flow_hub_reducer") { (s, dir) =>
    val app = new App(s)
    val reducer = app.reducerStep("combine_stage", grouped => grouped
      .select(
        // job_list sorted by branch idx: [0]=double_qty branch, [1]=tenth_price
        element_at(col("job_list"), 1).getField("l_orderkey").as("l_orderkey"),
        element_at(col("job_list"), 1).getField("l_linenumber").as("l_linenumber"),
        // round to 3: the exact value has <=3 decimals (price/10), so both
        // engines' doubles sit within 1 ulp of the representable target —
        // rounding to FEWER decimals can diverge at exact .xx5 boundaries
        // (Spark rounds the shortest decimal repr, DuckDB the binary value)
        round(element_at(col("job_list"), 1).getField("double_qty") +
          element_at(col("job_list"), 2).getField("tenth_price"), 3).as("combined"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("combined")))
    val b1 = app.step("double_qty_stage", df => df
      .withColumn("double_qty", col("l_quantity") * 2), next = Some(reducer))
    val b2 = app.step("tenth_price_stage", df => df
      .withColumn("tenth_price", col("l_extendedprice") / 10), next = Some(reducer))
    val hub = Hub(b1, b2)
    val src = app.step("src_stage", df => df
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice")),
      next = Some(hub))
    app.run(src, t(s, dir, "lineitem"))("combine_stage")
  } {
    """SELECT l_orderkey, l_linenumber,
      | round(l_quantity*2 + l_extendedprice/10, 3) AS combined
      |FROM lineitem WHERE l_orderkey < 100
      |ORDER BY l_orderkey, l_linenumber, combined""".stripMargin
  }

  /** Gap-based sessionization (30 min inactivity): lag + cumulative-sum
    * session ids, then per-session aggregates. Micro-precision epoch math
    * on both engines — no sub-second truncation divergence. */
  query("q51_sessionize") { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(wCum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("sess_start"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("duration_us"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  } {
    """WITH seq AS (
      |  SELECT user_id, event_id, ts, value,
      |    lag(epoch_us(ts), 1) OVER w AS prev_us
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_us IS NULL
      |      OR epoch_us(ts) - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM seq),
      |sess AS (
      |  SELECT user_id, event_id, ts, value,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS sess_start,
      |  CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_us,
      |  round(sum(value), 2) AS total_value
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin
  }

  /** Event-time windowed aggregation through the STRUCTURED STREAMING path:
    * file source → watermark → window agg → AvailableNow drain (≙ the
    * reference worker's `die_when_empty`, `libs/simple_queue.py:24-37`) →
    * memory sink. Must produce exactly the batch oracle's answer. Complete
    * output mode because the fixture is one file = one micro-batch; the
    * memory sink is test-scale only — production flows write parquet/Kafka
    * via the same writeStream. */
  query("q59_streaming_window") { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    // isolated child session (shared SparkContext, own conf/catalog/streams):
    // the nanosAsLong legacy flag and the memory-sink table stay scoped here
    // instead of mutating the caller's session
    val ns = s.newSession()
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = ns.read.parquet(s"$dir/events.parquet")
    // file-stream sources take a DIRECTORY; glob-filter to the events table
    val agg = sources.Tables.normalizeTs(ns.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    val q = agg.writeStream.format("memory").queryName("q59_mem")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    ns.table("q59_mem")
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("bucket"), col("event_type"))
  } {
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
      | count(*) AS n, round(sum(value),2) AS total_value
      |FROM events GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin
  }

  /** Native session-window operator (batch form of the streaming gap
    * sessionizer), checked against a first-principles lag/cumulative-sum
    * oracle: Spark's merge rule (same session iff gap < 30 min, end
    * exclusive) must reproduce the SQL formulation exactly. */
  query("q61_session_window") { (s, dir) =>
    events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        col("sw.start").as("sess_start"), col("sw.end").as("sess_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("sess_start"))
  } {
    """WITH seq AS (
      |  SELECT user_id, ts, value, lag(epoch_us(ts), 1) OVER
      |    (PARTITION BY user_id ORDER BY ts) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_us IS NULL
      |      OR epoch_us(ts) - prev_us >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM seq),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, min(ts) AS sess_start,
      |  max(ts) + INTERVAL '30 minutes' AS sess_end,
      |  count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, sess_start""".stripMargin
  }

  /** Ordered funnel over the events fixture: first view → first click
    * strictly after it → first purchase strictly after that, per user —
    * sequential-first-match product-analytics semantics, one row per
    * user with the stage timestamps and the stage count reached. */
  query("q117_funnel") { (s, dir) =>
    operators.Funnel.funnel(events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy(col("user_id"))
  } {
    """WITH e AS (SELECT user_id AS u, event_type AS t, ts FROM events),
      |s1 AS (
      |  SELECT u, min(CASE WHEN t = 'view' THEN ts END) AS ts1
      |  FROM e GROUP BY u),
      |s2 AS (
      |  SELECT s1.u, s1.ts1,
      |    min(CASE WHEN e.t = 'click' AND e.ts > s1.ts1 THEN e.ts END) AS ts2
      |  FROM s1 LEFT JOIN e ON e.u = s1.u GROUP BY s1.u, s1.ts1),
      |s3 AS (
      |  SELECT s2.u, s2.ts1, s2.ts2,
      |    min(CASE WHEN e.t = 'purchase' AND e.ts > s2.ts2 THEN e.ts END) AS ts3
      |  FROM s2 LEFT JOIN e ON e.u = s2.u GROUP BY s2.u, s2.ts1, s2.ts2)
      |SELECT u AS user_id, ts1, ts2, ts3,
      |  CASE WHEN ts3 IS NOT NULL THEN 3 WHEN ts2 IS NOT NULL THEN 2
      |       WHEN ts1 IS NOT NULL THEN 1 ELSE 0 END AS stages_completed
      |FROM s3 ORDER BY user_id""".stripMargin
  }

  /** Per-stage funnel conversion report (q117's natural companion): users
    * reaching each stage, conversion rate from the previous stage, and
    * the exact median seconds between consecutive stage completions —
    * the product-analytics summary the per-user funnel frame exists
    * for. */
  query("q120_funnel_conversion") { (s, dir) =>
    operators.Funnel.conversion(events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"), approxMedian = false)
      .orderBy(col("stage_idx"))
  } {
    """WITH e AS (SELECT user_id AS u, event_type AS t, ts FROM events),
      |s1 AS (
      |  SELECT u, min(CASE WHEN t = 'view' THEN ts END) AS ts1
      |  FROM e GROUP BY u),
      |s2 AS (
      |  SELECT s1.u, s1.ts1,
      |    min(CASE WHEN e.t = 'click' AND e.ts > s1.ts1 THEN e.ts END) AS ts2
      |  FROM s1 LEFT JOIN e ON e.u = s1.u GROUP BY s1.u, s1.ts1),
      |s3 AS (
      |  SELECT s2.u, s2.ts1, s2.ts2,
      |    min(CASE WHEN e.t = 'purchase' AND e.ts > s2.ts2 THEN e.ts END) AS ts3
      |  FROM s2 LEFT JOIN e ON e.u = s2.u GROUP BY s2.u, s2.ts1, s2.ts2),
      |a AS (
      |  SELECT count(*) AS n_total,
      |    count(ts1) AS n1, count(ts2) AS n2, count(ts3) AS n3,
      |    quantile_cont(epoch(ts2) - epoch(ts1), 0.5) AS med2,
      |    quantile_cont(epoch(ts3) - epoch(ts2), 0.5) AS med3
      |  FROM s3)
      |SELECT 1 AS stage_idx, 'view' AS stage, n1 AS n_users,
      |  round(CASE WHEN n_total > 0 THEN n1::DOUBLE / n_total
      |    ELSE 0 END, 6) AS rate_from_prev,
      |  CAST(NULL AS DOUBLE) AS median_gap_s FROM a
      |UNION ALL
      |SELECT 2, 'click', n2,
      |  round(CASE WHEN n1 > 0 THEN n2::DOUBLE / n1 ELSE 0 END, 6),
      |  round(med2, 3) FROM a
      |UNION ALL
      |SELECT 3, 'purchase', n3,
      |  round(CASE WHEN n2 > 0 THEN n3::DOUBLE / n2 ELSE 0 END, 6),
      |  round(med3, 3) FROM a
      |ORDER BY stage_idx""".stripMargin
  }

  /** Scale-safe funnel median gate (q124 pattern): `Funnel.conversion`'s
    * `approxMedian` mode — the mergeable approx_percentile sketch whose
    * buffer stays O(accuracy) at 10⁹ users, where the exact mode's
    * final-merge buffer is data-sized — must agree with the exact median
    * per stage within the pinned relative error. q120 keeps the exact
    * mode as the cross-engine oracle form. */
  query("q128_funnel_approx") { (s, dir) =>
    val stages = Seq("view", "click", "purchase")
    def conv(approx: Boolean) = operators.Funnel.conversion(events(s, dir),
        "user_id", "event_type", "ts", stages, approxMedian = approx)
      .select(col("stage_idx"), col("median_gap_s"))
    // 2-row frame read by every gate row → eager materialize (q124 note)
    val joined = operators.OpCache.materializeLocal(
      conv(false).withColumnRenamed("median_gap_s", "ext")
        .join(conv(true).withColumnRenamed("median_gap_s", "apx"),
          Seq("stage_idx"))
        .filter(col("stage_idx") > 1))
    // bound 0.03, measured (verify-skill protocol): rel err 0.0 at
    // sf0.001, 0.0075/0.0165 at sf0.01 — the gap is NOT sketch error
    // (accuracy 10000 is exact at fixture counts) but approx returning
    // an actual gap value where exact interpolates between neighbors;
    // that one-inter-value-gap bound SHRINKS as user count grows
    Gate.verdict(s)(joined.collect().toSeq.map { r =>
      val (ext, apx) =
        (r.getAs[java.lang.Double]("ext"), r.getAs[java.lang.Double]("apx"))
      (s"funnel_approx_med_stage${r.getAs[Int]("stage_idx")}", 0.03,
        ext != null && apx != null &&
          math.abs(apx - ext) / math.abs(ext) <= 0.03)
    }: _*)
  } {
    // q128 is an accuracy GATE (q124 pattern): the approx-median funnel
    // mode must match the exact mode within the pinned relative error.
    """SELECT * FROM (VALUES
      |  ('funnel_approx_med_stage2', CAST(0.03 AS DOUBLE), TRUE),
      |  ('funnel_approx_med_stage3', CAST(0.03 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }
}
