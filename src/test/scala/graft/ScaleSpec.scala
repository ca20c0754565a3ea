package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import graft.operators.{Layout, Skew}

/** Scale-path operators: salted joins and bucketed layouts. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns exactly the rows of the plain inner join") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    val plain = li.join(o, Seq("l_orderkey"), "inner")
    val salted = Skew.saltedJoin(li, o, Seq("l_orderkey"), saltFactor = 4)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    assert(!salted.columns.contains("__salt"))
  }

  test("bucketed tables join without any exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select($"l_orderkey", $"l_quantity")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .select($"o_orderkey", $"o_totalprice")
      Layout.writeBucketed(li, "li_bkt", Seq("l_orderkey"), 8)
      Layout.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "o_bkt", Seq("l_orderkey"), 8)
      val joined = Layout.readTable(spark, "li_bkt")
        .join(Layout.readTable(spark, "o_bkt"), Seq("l_orderkey"))
      val plan = joined.queryExecution
        .explainString(ExplainMode.fromString("simple"))
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
