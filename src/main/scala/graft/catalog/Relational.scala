package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Shared._

/** Relational core and SQL-analytic operators (SURVEY §2.2): joins
  * (broadcast, semi/anti, outer, as-of, range, salted, bucketed),
  * aggregates, grouping sets, windows, set operations and percentiles. */
object Relational extends Family {

  query("q01_agg") { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  } {
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity),2) AS sum_qty,
      | round(sum(l_extendedprice),2) AS sum_base_price,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
      | round(avg(l_quantity),4) AS avg_qty,
      | round(avg(l_discount),4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  query("q02_filter_project") { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), round(col("l_extendedprice"), 2).as("price"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture —
      // order by every output column for a fully deterministic row order.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("price"))
  } {
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      | round(l_extendedprice,2) AS price
      |FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, price""".stripMargin
  }

  query("q03_join_agg") { (s, dir) =>
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .filter(col("revenue") > 1000)
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(100)
  } {
    """SELECT o_orderkey, o_orderdate,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |HAVING round(sum(l_extendedprice*(1-l_discount)),2) > 1000
      |ORDER BY revenue DESC, o_orderkey LIMIT 100""".stripMargin
  }

  query("q04_broadcast_join") { (s, dir) =>
    val p = t(s, dir, "part")
    val l = t(s, dir, "lineitem")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("total_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"))
      .orderBy(col("p_brand"))
  } {
    """SELECT p_brand, count(*) AS n_items,
      | round(sum(l_extendedprice),2) AS total_price,
      | round(avg(l_quantity),4) AS avg_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin
  }

  /** The flagship query that [[graft.SparkEntry.entry]] runs. */
  val starJoin: QuerySpec = query("q05_star_join") { (s, dir) =>
    val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  } {
    """SELECT r_name, n_name,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
      | count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin
  }

  query("q06_window_rank") { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"), col("rnk"))
      .orderBy(col("o_custkey"), col("rnk"))
  } {
    """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price, rnk
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders) x
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin
  }

  query("q07_topk") { (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
  } {
    """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS price
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin
  }

  query("q08_distinct") { (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  } {
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  query("q09_setops") { (s, dir) =>
    val custNations = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val suppNations = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    custNations.intersect(suppNations)
      .union(custNations.except(suppNations).withColumn("nationkey",
        col("nationkey") + 1000))
      .distinct()
      .orderBy(col("nationkey"))
  } {
    """SELECT nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  INTERSECT SELECT s_nationkey FROM supplier
      |  UNION
      |  SELECT nationkey + 1000 FROM (
      |    SELECT c_nationkey AS nationkey FROM customer
      |    EXCEPT SELECT s_nationkey FROM supplier) e
      |) u ORDER BY nationkey""".stripMargin
  }

  query("q10_rollup") { (s, dir) =>
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  } {
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      | round(sum(l_quantity),2) AS qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  }

  query("q11_anti_join") { (s, dir) =>
    val c = t(s, dir, "customer")
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  } {
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin
  }

  query("q12_semi_join") { (s, dir) =>
    val c = t(s, dir, "customer")
    val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
    c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_nationkey"))
      .orderBy(col("c_custkey"))
  } {
    """SELECT c_custkey, c_nationkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
      |ORDER BY c_custkey""".stripMargin
  }

  query("q18_having") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"),
        count(lit(1)).as("n"))
      .filter(col("total_qty") > 100)
      .orderBy(col("l_suppkey"))
  } {
    """SELECT l_suppkey, round(sum(l_quantity),2) AS total_qty, count(*) AS n
      |FROM lineitem GROUP BY l_suppkey
      |HAVING round(sum(l_quantity),2) > 100 ORDER BY l_suppkey""".stripMargin
  }

  query("q19_case_when") { (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_totalprice") > 100000, 1).otherwise(0)).as("n_big"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_finished"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  } {
    """SELECT o_orderpriority,
      | CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
      | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
      | count(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  query("q20_window_running") { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  } {
    """SELECT o_custkey, o_orderkey,
      | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total
      |FROM orders WHERE o_custkey < 50
      |ORDER BY o_custkey, o_orderkey""".stripMargin
  }

  query("q21_lag_lead") { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(w)).cast("long").as("days_since_prev"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  } {
    """SELECT o_custkey, o_orderkey,
      | date_diff('day', lag(o_orderdate,1) OVER w, o_orderdate) AS days_since_prev,
      | lead(o_orderkey,1) OVER w AS next_orderkey
      |FROM orders WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin
  }

  query("q22_ntile") { (s, dir) =>
    val w = Window.orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_custkey"), ntile(4).over(w).as("quartile"))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"))
      .orderBy(col("quartile"))
  } {
    """SELECT quartile, count(*) AS n, min(c_custkey) AS min_key FROM (
      |  SELECT c_custkey, ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey)
      |    AS quartile FROM customer) x
      |GROUP BY quartile ORDER BY quartile""".stripMargin
  }

  query("q24_grouping_sets") { (s, dir) =>
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  } {
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin
  }

  /** As-of (temporal) join: each event picks the latest order of the same
    * user with o_orderdate <= ts. Right side deduped to one row per
    * (key, time) so the as-of winner is well-defined on both engines. */
  query("q39_asof_join") { (s, dir) =>
    val ev = events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    val quotes = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val joined = operators.AsOf.join(ev, quotes, Seq("user_id"),
      "ts", "o_orderdate", Seq("o_orderkey"))
    joined.select(col("event_id"), col("user_id"),
        col("asof_o_orderkey").as("last_orderkey"))
      .orderBy(col("event_id"))
  } {
    """WITH quotes AS (
      |  SELECT o_custkey AS user_id, o_orderdate,
      |         max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, e.user_id, q.o_orderkey AS last_orderkey
      |FROM events e ASOF LEFT JOIN quotes q
      |  ON e.user_id = q.user_id AND e.ts >= q.o_orderdate
      |ORDER BY e.event_id""".stripMargin
  }

  /** Non-equi range join: orders bucketed into literal price bands. */
  query("q40_range_join") { (s, dir) =>
    import s.implicits._
    val bands = Seq(
      ("p0_50k", 0.0, 50000.0), ("p50_150k", 50000.0, 150000.0),
      ("p150_300k", 150000.0, 300000.0), ("p300k_up", 300000.0, 1e18))
      .toDF("band", "lo", "hi")
    t(s, dir, "orders")
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("band"))
  } {
    """WITH bands(band, lo, hi) AS (VALUES
      |  ('p0_50k', 0.0, 50000.0), ('p50_150k', 50000.0, 150000.0),
      |  ('p150_300k', 150000.0, 300000.0), ('p300k_up', 300000.0, 1e18))
      |SELECT band, count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band ORDER BY band""".stripMargin
  }

  /** Explicit GROUPING SETS through the SQL surface. */
  query("q41_grouping_sets") { (s, dir) =>
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS n, round(sum(l_extendedprice), 2) AS total
        |FROM lineitem_v
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  } {
    """SELECT l_returnflag, l_linestatus,
      | count(*) AS n, round(sum(l_extendedprice), 2) AS total
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin
  }

  /** Multiset set ops: INTERSECT ALL / EXCEPT ALL preserve duplicity. */
  query("q42_setops_all") { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val a = li.filter(col("l_quantity") < 25).select(col("l_returnflag"))
    val b = li.filter(col("l_discount") > 0.03).select(col("l_returnflag"))
    a.intersectAll(b).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_intersect"))
      .join(a.exceptAll(b).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_except")), Seq("l_returnflag"), "full_outer")
      .orderBy(col("l_returnflag"))
  } {
    """WITH a AS (SELECT l_returnflag FROM lineitem WHERE l_quantity < 25),
      |b AS (SELECT l_returnflag FROM lineitem WHERE l_discount > 0.03),
      |i AS (SELECT l_returnflag, count(*) AS n_intersect
      |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) x
      |      GROUP BY l_returnflag),
      |e AS (SELECT l_returnflag, count(*) AS n_except
      |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) y
      |      GROUP BY l_returnflag)
      |SELECT coalesce(i.l_returnflag, e.l_returnflag) AS l_returnflag,
      |       n_intersect, n_except
      |FROM i FULL OUTER JOIN e ON i.l_returnflag = e.l_returnflag
      |ORDER BY l_returnflag""".stripMargin
  }

  /** Exact interpolated percentiles per group. */
  query("q43_percentiles") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      // round to 4: quartile interpolation of 2-decimal prices yields exact
      // values with <=4 decimals; Spark's (1-f)*lo+f*hi and DuckDB's
      // lo+f*(hi-lo) differ by 1 ulp, and rounding to the exact precision
      // absorbs it (coarser rounding diverges at .xx5 boundaries)
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"))
      .orderBy(col("l_returnflag"))
  } {
    """SELECT l_returnflag,
      | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** HLL++ approximate distinct, gated: sketch estimates are
    * implementation-specific (the oracle can't recompute them), so each
    * group emits its EXACT distinct count (oracle-computable) plus an
    * `hll_ok` flag asserting the HLL estimate lands within the configured
    * 5% rsd. Estimate drift flips the flag and fails the hash compare. */
  query("q44_approx_distinct") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .select(col("l_returnflag"), col("n_parts"),
        coalesce(abs(col("approx") - col("n_parts")) <=
          col("n_parts") * lit(0.05), lit(false)).as("hll_ok"))
      .orderBy(col("l_returnflag"))
  } {
    // q44 gate: exact distinct count is oracle-computable; hll_ok asserts
    // the HLL++ estimate (not oracle-computable) stays within 5%.
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      | TRUE AS hll_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Pivot (long→wide conditional aggregation) with pinned pivot values. */
  query("q45_pivot") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 2))
      .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
      .orderBy(col("l_returnflag"))
  } {
    """SELECT l_returnflag,
      | round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
      | round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Correlated scalar subquery: orders above their customer's average. */
  query("q48_subquery") { (s, dir) =>
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        |FROM orders_v o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) * 1.2
        |                      FROM orders_v o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  } {
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      |FROM orders o
      |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) * 1.2
      |                      FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin
  }

  /** Statistical aggregates: correlation, sample stddev/variance/covariance. */
  query("q53_stats_agg") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(stddev_samp(col("l_discount")), 6).as("sd_disc"),
        round(covar_samp(col("l_quantity"), col("l_tax")), 6).as("cov_qty_tax"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"))
      .orderBy(col("l_returnflag"))
  } {
    """SELECT l_returnflag,
      | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      | round(stddev_samp(l_discount), 6) AS sd_disc,
      | round(covar_samp(l_quantity, l_tax), 6) AS cov_qty_tax,
      | round(var_samp(l_quantity), 4) AS var_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Sliding ROWS-frame window aggregates: 3-row moving avg/max/count. */
  query("q56_window_frames") { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    t(s, dir, "orders")
      .filter(col("o_custkey") < 40)
      .select(col("o_custkey"), col("o_orderkey"),
        round(avg(col("o_totalprice")).over(w), 4).as("moving_avg"),
        round(max(col("o_totalprice")).over(w), 2).as("moving_max"),
        count(lit(1)).over(w).as("n_in_frame"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  } {
    """SELECT o_custkey, o_orderkey,
      | round(avg(o_totalprice) OVER w, 4) AS moving_avg,
      | round(max(o_totalprice) OVER w, 2) AS moving_max,
      | count(*) OVER w AS n_in_frame
      |FROM orders WHERE o_custkey < 40
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin
  }

  /** Relative-rank window functions: percent_rank + cume_dist per nation
    * (deterministic: the order key (c_acctbal, c_custkey) is unique). */
  query("q57_percent_rank") { (s, dir) =>
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .filter(col("c_custkey") <= 300)
      .orderBy(col("c_custkey"))
  } {
    """SELECT c_custkey, c_nationkey, pr, cd FROM (
      |  SELECT c_custkey, c_nationkey,
      |    round(percent_rank() OVER w, 6) AS pr,
      |    round(cume_dist() OVER w, 6) AS cd
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)) x
      |WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin
  }

  /** Skew-salted equi-join (hot keys fan out over saltFactor reducers);
    * result must be row-identical to the plain inner join the oracle runs. */
  query("q62_salted_join") { (s, dir) =>
    val ev = events(s, dir).select(col("user_id"), col("value"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    operators.Skew.saltedJoin(ev, cust, Seq("user_id"), saltFactor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("c_mktsegment"))
  } {
    """SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  }

  /** Custom typed Aggregator UDAF (constant-size top-3 buffer, partial+final
    * hash agg — the scalable form of the reference's reducer-handler fold,
    * `reducer_engine.py:78`). */
  query("q63_custom_udaf") { (s, dir) =>
    import org.apache.spark.sql.Encoders
    val top3 = udaf(graft.functions.Aggregators.Top3Double, Encoders.scalaDouble)
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(top3(col("l_extendedprice")).as("t"))
      .select(col("l_returnflag"),
        round(col("t._1"), 2).as("top1"),
        round(col("t._2"), 2).as("top2"),
        round(col("t._3"), 2).as("top3"))
      .orderBy(col("l_returnflag"))
  } {
    """SELECT l_returnflag,
      | round(list_sort(list(l_extendedprice), 'DESC')[1], 2) AS top1,
      | round(list_sort(list(l_extendedprice), 'DESC')[2], 2) AS top2,
      | round(list_sort(list(l_extendedprice), 'DESC')[3], 2) AS top3
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** LEFT OUTER join with surviving nulls (unmatched customers keep null
    * aggregate columns — exercised, not coalesced away). */
  query("q64_left_outer") { (s, dir) =>
    val c = t(s, dir, "customer").filter(col("c_custkey") <= 200)
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big"), round(max(col("o_totalprice")), 2).as("max_price"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("n_big"), col("max_price"))
      .orderBy(col("c_custkey"))
  } {
    """SELECT c_custkey, n_big, max_price
      |FROM customer LEFT JOIN (
      |  SELECT o_custkey, count(*) AS n_big,
      |    round(max(o_totalprice), 2) AS max_price
      |  FROM orders WHERE o_totalprice > 250000 GROUP BY o_custkey) o
      |ON c_custkey = o_custkey
      |WHERE c_custkey <= 200 ORDER BY c_custkey""".stripMargin
  }

  /** FULL OUTER join on overlapping key ranges — nulls possible both sides. */
  query("q65_full_outer") { (s, dir) =>
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_custkey") < 60)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_a"))
    val b = o.filter(col("o_custkey").between(30, 90))
      .groupBy(col("o_custkey").as("k"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_b"))
    a.join(b, Seq("k"), "full_outer").orderBy(col("k"))
  } {
    """WITH a AS (SELECT o_custkey AS k, count(*) AS n_a
      |           FROM orders WHERE o_custkey < 60 GROUP BY o_custkey),
      |b AS (SELECT o_custkey AS k, round(sum(o_totalprice), 2) AS total_b
      |      FROM orders WHERE o_custkey BETWEEN 30 AND 90 GROUP BY o_custkey)
      |SELECT coalesce(a.k, b.k) AS k, n_a, total_b
      |FROM a FULL OUTER JOIN b ON a.k = b.k ORDER BY k""".stripMargin
  }

  /** CROSS join (explicit cartesian of two small dims). */
  query("q66_cross_join") { (s, dir) =>
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select(col("r_name"), col("n_name"),
        concat_ws("/", col("r_name"), col("n_name")).as("pair"))
      .orderBy(col("r_name"), col("n_name"))
  } {
    """SELECT r_name, n_name, concat_ws('/', r_name, n_name) AS pair
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin
  }

  /** Window VALUE functions: first/last/nth over the full-partition frame. */
  query("q68_window_value_fns") { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .filter(col("o_custkey") < 30)
      .select(col("o_custkey"), col("o_orderkey"),
        round(first(col("o_totalprice")).over(w), 2).as("first_price"),
        round(last(col("o_totalprice")).over(w), 2).as("last_price"),
        round(nth_value(col("o_totalprice"), 2).over(w), 2).as("second_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  } {
    """SELECT o_custkey, o_orderkey,
      | round(first_value(o_totalprice) OVER w, 2) AS first_price,
      | round(last_value(o_totalprice) OVER w, 2) AS last_price,
      | round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
      |FROM orders WHERE o_custkey < 30
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin
  }

  /** Bucketed-layout join: both sides pre-shuffled ONCE at write time into
    * co-located hash buckets, so the join itself plans with no exchange
    * (asserted in PlanSpec) — the 100 TB answer to a join that would
    * otherwise shuffle the fact table every run. The result must equal the
    * oracle's plain join over the original parquet. */
  query("q71_bucketed_join") { (s, dir) =>
    // per-process table names: two concurrent Verify runs in one repo dir
    // (same catalog/warehouse) must not overwrite each other's buckets
    // mid-join; the pid suffix never surfaces in the query result
    val (liTbl, oTbl) =
      (Gate.scratchStore(s, "q71_li"), Gate.scratchStore(s, "q71_o"))
    operators.Layout.writeBucketed(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"),
        col("l_discount")),
      liTbl, Seq("l_orderkey"), 8)
    operators.Layout.writeBucketed(
      t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_orderpriority")),
      oTbl, Seq("l_orderkey"), 8)
    // force sort-merge (the shape that matters at 100 TB, where neither
    // side broadcasts) — bucketing then removes both join exchanges
    operators.Layout.readTable(s, liTbl).hint("merge")
      .join(operators.Layout.readTable(s, oTbl), Seq("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  } {
    """SELECT o_orderpriority, count(*) AS n,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  /** Unpivot (wide→long): per-order price/tax-ish measures melted into
    * (measure, value) rows. */
  query("q78_unpivot") { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 50)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        round(col("l_extendedprice"), 2).as("price"),
        round(col("l_discount"), 2).as("discount"),
        round(col("l_tax"), 2).as("tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
        Array(col("price"), col("discount"), col("tax")),
        "measure", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("measure"), col("value"))
  } {
    """SELECT l_orderkey, l_linenumber, l_partkey, measure, value FROM (
      |  SELECT l_orderkey, l_linenumber, l_partkey, 'price' AS measure,
      |    round(l_extendedprice, 2) AS value FROM lineitem WHERE l_orderkey < 50
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_partkey, 'discount',
      |    round(l_discount, 2) FROM lineitem WHERE l_orderkey < 50
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_partkey, 'tax',
      |    round(l_tax, 2) FROM lineitem WHERE l_orderkey < 50) u
      |ORDER BY l_orderkey, l_linenumber, l_partkey, measure, value""".stripMargin
  }

  /** FILTER-clause aggregates + conditional distinct counting. */
  query("q79_filtered_agg") { (s, dir) =>
    t(s, dir, "orders").createOrReplaceTempView("orders_q79")
    s.sql(
      """SELECT o_orderstatus,
        | count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
        | round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)
        |   AS urgent_total,
        | count(DISTINCT CASE WHEN o_totalprice > 150000 THEN o_custkey END)
        |   AS n_big_custs
        |FROM orders_q79
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  } {
    """SELECT o_orderstatus,
      | count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
      | round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)
      |   AS urgent_total,
      | count(DISTINCT CASE WHEN o_totalprice > 150000 THEN o_custkey END)
      |   AS n_big_custs
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  }

  /** argmax/argmin aggregates: the order row per extreme value, without a
    * self-join or window (tie-broken by max/min orderkey for determinism). */
  query("q80_max_by") { (s, dir) =>
    t(s, dir, "orders").createOrReplaceTempView("orders_q80")
    // ordering key = exact integer composite (2-decimal price in cents,
    // orderkey tiebreak) so both engines pick the same row on price ties
    s.sql(
      """SELECT o_orderpriority,
        | max_by(o_orderkey,
        |   CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
        |   AS priciest_order,
        | min_by(o_orderkey,
        |   CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
        |   AS cheapest_order,
        | round(max(o_totalprice), 2) AS max_price
        |FROM orders_q80
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  } {
    """SELECT o_orderpriority,
      | arg_max(o_orderkey,
      |   CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
      |   AS priciest_order,
      | arg_min(o_orderkey,
      |   CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
      |   AS cheapest_order,
      | round(max(o_totalprice), 2) AS max_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  /** Deterministic string aggregation: sorted distinct values joined into
    * one list column per group. */
  query("q81_string_agg") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"),
        concat_ws("|", sort_array(collect_set(
          year(col("l_shipdate")).cast("string")))).as("ship_years"))
      .orderBy(col("l_returnflag"))
  } {
    """SELECT l_returnflag,
      | array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
      | array_to_string(list_sort(list(DISTINCT CAST(year(l_shipdate) AS VARCHAR))), '|')
      |   AS ship_years
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Bitwise and boolean aggregates per group. */
  query("q82_bit_bool_agg") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        bit_or(col("l_suppkey")).as("suppkey_or"),
        bit_and(col("l_suppkey")).as("suppkey_and"),
        bit_xor(col("l_orderkey")).as("orderkey_xor"),
        every(col("l_quantity") > 0).as("all_positive"),
        some(col("l_discount") > 0.09).as("any_high_disc"))
      .orderBy(col("l_returnflag"))
  } {
    """SELECT l_returnflag,
      | bit_or(l_suppkey) AS suppkey_or,
      | bit_and(l_suppkey) AS suppkey_and,
      | bit_xor(l_orderkey) AS orderkey_xor,
      | bool_and(l_quantity > 0) AS all_positive,
      | bool_or(l_discount > 0.09) AS any_high_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Histogram binning: fixed-width price buckets via floor division —
    * exact integer arithmetic on both engines, no width_bucket needed. */
  query("q83_histogram") { (s, dir) =>
    t(s, dir, "orders")
      .withColumn("bucket",
        floor(col("o_totalprice") / 50000).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("bucket"))
  } {
    """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
      | count(*) AS n,
      | round(min(o_totalprice), 2) AS lo,
      | round(max(o_totalprice), 2) AS hi
      |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Discrete percentiles: the quantile is an actual data element (no
    * interpolation), so cross-engine float drift cannot exist. */
  query("q85_percentile_disc") { (s, dir) =>
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q85")
    s.sql(
      """SELECT l_returnflag,
        | round(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 2)
        |   AS p25,
        | round(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 2)
        |   AS p50,
        | round(percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 2)
        |   AS p90
        |FROM lineitem_q85
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  } {
    """SELECT l_returnflag,
      | round(quantile_disc(l_extendedprice, 0.25), 2) AS p25,
      | round(quantile_disc(l_extendedprice, 0.5), 2) AS p50,
      | round(quantile_disc(l_extendedprice, 0.9), 2) AS p90
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Approximate-percentile sketch gate (q44's HLL companion, completing
    * the sketch family): percentile_approx's bounded-error quantile
    * summary — the mergeable per-partition sketch a 100 TB profile job
    * uses where exact percentiles would shuffle every value — verified
    * in-plan against the exact percentile at p50/p95. The oracle pins
    * the verdict rows; the accuracy knob's error bound is the gate. */
  query("q124_approx_percentile") { (s, dir) =>
    val li = t(s, dir, "lineitem")
    // materialize the 1-row aggregate: both gate rows select from it, and
    // without this the sketch AND the exact percentile recompute per row
    val one = operators.OpCache.materializeLocal(li.agg(
      expr("percentile_approx(l_extendedprice, array(0.5D, 0.95D), 10000)")
        .as("apx"),
      expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ext")))
    def relErrOk(i: Int) = coalesce(
      abs(element_at(col("apx"), i) - element_at(col("ext"), i)) /
        abs(element_at(col("ext"), i)) <= 0.01,
      lit(false))
    Gate.verdict(one)(
      ("approx_p50_rel_err", 0.01, relErrOk(1)),
      ("approx_p95_rel_err", 0.01, relErrOk(2)))
  } {
    // q124 is an accuracy GATE (q44 HLL pattern): Spark verifies the
    // percentile_approx sketch against the exact percentile in-plan and
    // emits (metric, bound, ok); the oracle pins the verdict rows.
    """SELECT * FROM (VALUES
      |  ('approx_p50_rel_err', CAST(0.01 AS DOUBLE), TRUE),
      |  ('approx_p95_rel_err', CAST(0.01 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }
}
