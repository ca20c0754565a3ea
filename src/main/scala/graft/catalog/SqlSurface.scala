package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

import Shared._

/** Scalar SQL surface (SURVEY §2.2): string, date, math, regex, JSON,
  * array, map and struct functions, plus CSV/JSON/ORC round-trips. */
object SqlSurface extends Family {

  query("q13_string_fns") { (s, dir) =>
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("prefix"),
        regexp_replace(col("p_name"), "a", "@").as("subst"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy(col("p_partkey"))
  } {
    """SELECT p_partkey, upper(p_name) AS uname, length(p_name) AS name_len,
      | substring(p_name, 1, 5) AS prefix,
      | regexp_replace(p_name, 'a', '@', 'g') AS subst,
      | concat_ws('|', p_brand, p_type) AS brand_type
      |FROM part ORDER BY p_partkey""".stripMargin
  }

  query("q14_date_fns") { (s, dir) =>
    t(s, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("yr"), col("mo"))
  } {
    """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      | count(*) AS n_orders, round(sum(o_totalprice),2) AS total
      |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin
  }

  query("q15_math_fns") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(sqrt(col("l_extendedprice"))), 2).as("sum_sqrt_price"),
        round(sum(pow(col("l_discount"), 2)), 4).as("sum_disc_sq"),
        round(sum(abs(col("l_quantity") - 25)), 2).as("sum_absdev"),
        sum(ceil(col("l_tax") * 100)).cast("long").as("sum_ceil_tax"),
        sum(floor(col("l_quantity"))).cast("long").as("sum_floor_qty"))
      .orderBy(col("l_returnflag"))
  } {
    """SELECT l_returnflag,
      | round(sum(sqrt(l_extendedprice)),2) AS sum_sqrt_price,
      | round(sum(pow(l_discount,2)),4) AS sum_disc_sq,
      | round(sum(abs(l_quantity-25)),2) AS sum_absdev,
      | CAST(sum(ceil(l_tax*100)) AS BIGINT) AS sum_ceil_tax,
      | CAST(sum(floor(l_quantity)) AS BIGINT) AS sum_floor_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  query("q16_json") { (s, dir) =>
    parallelize(events(s, dir))
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))
  } {
    """SELECT event_type, count(*) AS n,
      | CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      | round(avg(CAST(json_extract_string(props,'$.k') AS BIGINT)),4) AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  query("q17_explode") { (s, dir) =>
    t(s, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("word"))
  } {
    """SELECT word, count(*) AS n FROM (
      |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part) w
      |GROUP BY word ORDER BY word""".stripMargin
  }

  /** Fuzzy string matching: edit distance against a probe word. */
  query("q46_levenshtein") { (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"),
        levenshtein(substring(col("p_name"), 1, 8), lit("red widg"))
          .cast("long").as("dist"))
      .filter(col("dist") <= 4)
      .orderBy(col("p_partkey"))
  } {
    """SELECT p_partkey,
      | CAST(levenshtein(substring(p_name, 1, 8), 'red widg') AS BIGINT) AS dist
      |FROM part WHERE levenshtein(substring(p_name, 1, 8), 'red widg') <= 4
      |ORDER BY p_partkey""".stripMargin
  }

  /** Array intrinsics over the token array (distinct, sort, slice,
    * contains, join). */
  query("q47_array_fns") { (s, dir) =>
    val toks = TextFunctions.tokens(col("text"))
    parallelize(t(s, dir, "documents"))
      .select(col("doc_id"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        concat_ws(",", slice(sort_array(array_distinct(toks)), 1, 3)).as("top3"),
        array_contains(toks, "the").as("has_the"))
      .orderBy(col("doc_id"))
  } {
    s"""SELECT doc_id,
       | CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_distinct,
       | array_to_string(list_sort(list_distinct($toksSql))[1:3], ',') AS top3,
       | list_contains($toksSql, 'the') AS has_the
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Pattern predicates: LIKE / IN / prefix. */
  query("q49_like_in") { (s, dir) =>
    t(s, dir, "part")
      .filter(col("p_name").like("%widget%") ||
        (col("p_name").startsWith("red") &&
          col("p_type").isin("ECONOMY", "PROMO")))
      .select(col("p_partkey"), col("p_name"), col("p_type"))
      .orderBy(col("p_partkey"))
  } {
    """SELECT p_partkey, p_name, p_type FROM part
      |WHERE p_name LIKE '%widget%'
      |   OR (p_name LIKE 'red%' AND p_type IN ('ECONOMY', 'PROMO'))
      |ORDER BY p_partkey""".stripMargin
  }

  /** CSV sink + source round-trip: write orders as headered CSV, read back
    * with an explicit schema, aggregate — the result must equal the oracle's
    * direct-parquet aggregate (lossless round-trip of longs/doubles). */
  query("q54_csv_roundtrip") { (s, dir) =>
    val tmp = roundTripDir("graft_q54_csv")
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    s.read
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .option("header", "true").csv(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))
  } {
    """SELECT o_orderstatus, count(*) AS n,
      | round(sum(o_totalprice), 2) AS total,
      | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  }

  /** JSON-lines sink + source round-trip over part. */
  query("q55_json_roundtrip") { (s, dir) =>
    val tmp = roundTripDir("graft_q55_json")
    t(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_retailprice"))
      .write.mode("overwrite").json(tmp)
    s.read
      .schema("p_partkey BIGINT, p_brand STRING, p_type STRING, p_retailprice DOUBLE")
      .json(tmp)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("p_retailprice")), 4).as("avg_price"))
      .orderBy(col("p_brand"))
  } {
    """SELECT p_brand, count(*) AS n,
      | round(avg(p_retailprice), 4) AS avg_price
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin
  }

  /** Map-typed columns: JSON props → map<string,long>, key intrinsics. */
  query("q58_map_fns") { (s, dir) =>
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    parallelize(events(s, dir))
      .withColumn("m", from_json(col("props"), MapType(StringType, LongType)))
      .select(col("event_id"),
        concat_ws(",", sort_array(map_keys(col("m")))).as("keys"),
        element_at(col("m"), "k").as("k_val"),
        size(col("m")).cast("long").as("n_keys"))
      .orderBy(col("event_id"))
  } {
    """SELECT event_id,
      | array_to_string(list_sort(json_keys(props)), ',') AS keys,
      | CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
      | CAST(len(json_keys(props)) AS BIGINT) AS n_keys
      |FROM events ORDER BY event_id""".stripMargin
  }

  /** unionByName with missing columns (schema-widening union — ≙ the
    * reference's heterogeneous branch dicts) + null intrinsics. */
  query("q67_union_null_fns") { (s, dir) =>
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_custkey") < 10)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("amount"))
    val b = o.filter(col("o_custkey") >= 140)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"))
    a.unionByName(b, allowMissingColumns = true)
      .select(col("o_orderkey"),
        coalesce(col("amount"), lit(-1.0)).as("amount_f"),
        coalesce(col("status"), lit("none")).as("status_f"),
        col("amount").isNull.as("amount_missing"))
      .orderBy(col("o_orderkey"))
  } {
    """WITH u AS (
      |  SELECT o_orderkey, round(o_totalprice, 2) AS amount,
      |         CAST(NULL AS VARCHAR) AS status
      |  FROM orders WHERE o_custkey < 10
      |  UNION ALL
      |  SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderstatus
      |  FROM orders WHERE o_custkey >= 140)
      |SELECT o_orderkey, coalesce(amount, -1.0) AS amount_f,
      |  coalesce(status, 'none') AS status_f,
      |  amount IS NULL AS amount_missing
      |FROM u ORDER BY o_orderkey""".stripMargin
  }

  /** Date/time arithmetic: month add (end-clamped), day add, last_day,
    * month truncation, quarter, day-of-week (normalized to Sunday=0). */
  query("q69_date_arith") { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"),
        add_months(col("o_orderdate"), 3).as("plus3m"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus30d"),
        last_day(col("o_orderdate")).as("month_end"),
        trunc(col("o_orderdate").cast("date"), "month").as("month_start"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"))
      .orderBy(col("o_orderkey"))
  } {
    """SELECT o_orderkey,
      | CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
      | CAST(CAST(o_orderdate AS DATE) + 30 AS DATE) AS plus30d,
      | last_day(CAST(o_orderdate AS DATE)) AS month_end,
      | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      | CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      | CAST(dayofweek(o_orderdate) AS BIGINT) AS dow
      |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin
  }

  /** String surface 2: padding, translate, repeat, reverse, split-part. */
  query("q70_string_fns2") { (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        rpad(col("p_brand"), 12, "-").as("rp"),
        translate(col("p_type"), "AEO", "aeo").as("tr"),
        repeat(substring(col("p_name"), 1, 3), 2).as("rep"),
        reverse(col("p_brand")).as("rev"),
        element_at(split(col("p_name"), " "), 1).as("first_word"))
      .orderBy(col("p_partkey"))
  } {
    """SELECT p_partkey,
      | lpad(p_brand, 12, '*') AS lp,
      | rpad(p_brand, 12, '-') AS rp,
      | translate(p_type, 'AEO', 'aeo') AS tr,
      | repeat(substring(p_name, 1, 3), 2) AS rep,
      | reverse(p_brand) AS rev,
      | split_part(p_name, ' ', 1) AS first_word
      |FROM part ORDER BY p_partkey""".stripMargin
  }

  /** Regex surface: capture-group extraction, rlike predicate, match
    * counting over the part names. */
  query("q73_regex") { (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)\\s+(\\w+)", 1).as("w1"),
        regexp_extract(col("p_name"), "^(\\w+)\\s+(\\w+)", 2).as("w2"),
        col("p_name").rlike("(gear|widget)").as("is_mech"),
        regexp_count(col("p_name"), lit("[aeiou]")).cast("long").as("n_vowels"))
      .orderBy(col("p_partkey"))
  } {
    """SELECT p_partkey,
      | regexp_extract(p_name, '^(\w+)\s+(\w+)', 1) AS w1,
      | regexp_extract(p_name, '^(\w+)\s+(\w+)', 2) AS w2,
      | regexp_matches(p_name, '(gear|widget)') AS is_mech,
      | CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels
      |FROM part ORDER BY p_partkey""".stripMargin
  }

  /** explode_outer null-row semantics: documents with no tokens survive
    * the 1→N expansion as a single null-token row (explode would drop
    * them — the outer variant is what a lossless pipeline audit needs). */
  query("q76_explode_outer") { (s, dir) =>
    t(s, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        explode_outer(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("token").isNull.cast("long")).as("n_null"))
      .orderBy(col("doc_id"))
  } {
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(lower(coalesce(text, ''))) = ''
       |      THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents WHERE doc_id < 100)
       |SELECT doc_id,
       |  CAST(CASE WHEN len(w) = 0 THEN 1 ELSE len(w) END AS BIGINT) AS n_rows,
       |  CAST(CASE WHEN len(w) = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_null
       |FROM tok ORDER BY doc_id""".stripMargin
  }

  /** Higher-order array functions as the user surface: transform, filter,
    * exists, aggregate over the token array. */
  query("q77_array_hof") { (s, dir) =>
    val toks = TextFunctions.tokens(col("text"))
    parallelize(t(s, dir, "documents"))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(filter(col("toks"), t => length(t) >= 5)).cast("long").as("n_long"),
        exists(col("toks"), t => t.rlike("^[0-9]+$")).as("has_number"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("total_chars"),
        concat_ws(",", slice(transform(col("toks"), t => upper(t)), 1, 2)).as("up2"))
      .orderBy(col("doc_id"))
  } {
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN trim(lower(coalesce(text, ''))) = ''
       |      THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(list_filter(w, t -> length(t) >= 5)) AS BIGINT) AS n_long,
       |  len(list_filter(w, t -> regexp_matches(t, '^[0-9]+$$'))) > 0 AS has_number,
       |  CAST(coalesce(list_aggregate(list_transform(w, t -> length(t)), 'sum'), 0)
       |    AS BIGINT) AS total_chars,
       |  array_to_string(list_transform(w, t -> upper(t))[1:2], ',') AS up2
       |FROM tok ORDER BY doc_id""".stripMargin
  }

  /** Nested struct building + field access + struct equality grouping. */
  query("q84_struct_fns") { (s, dir) =>
    t(s, dir, "customer")
      .withColumn("who", struct(
        col("c_nationkey").as("nation"),
        struct(col("c_mktsegment").as("segment"),
          (col("c_acctbal") > 0).as("solvent")).as("profile")))
      .groupBy(col("who.nation").as("nation"),
        col("who.profile.segment").as("segment"),
        col("who.profile.solvent").as("solvent"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("nation"), col("segment"), col("solvent"))
  } {
    """SELECT c_nationkey AS nation, c_mktsegment AS segment,
      | c_acctbal > 0 AS solvent, count(*) AS n
      |FROM customer GROUP BY nation, segment, solvent
      |ORDER BY nation, segment, solvent""".stripMargin
  }

  /** ORC sink + source round-trip over supplier (completes the columnar
    * connector pair next to parquet; CSV/JSON cover the text formats in
    * q54/q55). Written with an explicit read schema and aggregated — the
    * result must equal the oracle's direct-parquet aggregate, proving the
    * round-trip lossless for longs/doubles/strings. */
  query("q105_orc_roundtrip") { (s, dir) =>
    val tmp = roundTripDir("graft_q105_orc")
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      .write.mode("overwrite").orc(tmp)
    s.read
      .schema("s_suppkey BIGINT, s_nationkey INT, s_acctbal DOUBLE")
      .orc(tmp)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s_acctbal")), 2).as("total_bal"),
        min(col("s_suppkey")).as("min_key"),
        max(col("s_suppkey")).as("max_key"))
      .orderBy(col("s_nationkey"))
  } {
    // The ORC write/read halves happen Spark-side; the oracle checks the
    // round-tripped aggregate against the direct parquet aggregate.
    """SELECT s_nationkey, count(*) AS n,
      | round(sum(s_acctbal), 2) AS total_bal,
      | min(s_suppkey) AS min_key, max(s_suppkey) AS max_key
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin
  }
}
