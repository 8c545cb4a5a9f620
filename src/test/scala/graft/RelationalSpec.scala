package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

class RelationalSpec extends SparkSpec {

  test("countAll matches direct parquet count") {
    val n = Relational.countAll(spark, sf).head().getLong(0)
    val direct = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(n == direct && n > 0)
  }

  test("countAll answers from parquet footers, not a row scan") {
    val plan = Relational.countAll(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan.take(800))
    assert(plan.contains("ReadSchema: struct<count(*):bigint>"))
    // the conf clone must not leak: the session's own reads keep the
    // default (v1) parquet path, where q02's filter pushdown lives
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown")
      == "false")
    // and a FILTERED count on the pushdown-enabled path would not push
    // the aggregate — predicate evaluation needs row values (why q02
    // keeps its pushed-filter scan instead)
    val filteredPlan = Relational.filteredCount(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!filteredPlan.contains("PushedAggregation: [COUNT(*)]"))
  }

  test("groupAgg returns one row per return flag, ordered") {
    val rows = Relational.groupAgg(spark, sf).collect()
    val flags = rows.map(_.getString(0)).toSeq
    assert(flags == flags.sorted && flags.distinct == flags)
    assert(rows.map(_.getLong(1)).sum ==
      Relational.countAll(spark, sf).head().getLong(0))
  }

  test("filtered count + complement partitions the table") {
    val total = Relational.countAll(spark, sf).head().getLong(0)
    val eq3 = Relational.filteredCount(spark, sf).head().getLong(0)
    val ne3 = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_linenumber") =!= 3).count()
    assert(eq3 + ne3 == total)
  }

  test("topK is sorted descending by price with deterministic ties") {
    val prices = Relational.topK(spark, sf).collect().map(_.getDouble(2))
    assert(prices.length == 10)
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("semi + anti join partition customers") {
    val semi = Relational.semiJoin(spark, sf).head().getLong(0)
    val anti = Relational.antiJoin(spark, sf).head().getLong(0)
    val total = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(semi + anti == total)
  }

  test("windowTopN keeps at most 3 orders per customer") {
    val df = Relational.windowTopN(spark, sf)
    val maxPer = df.groupBy("o_custkey").count()
      .agg(max("count")).head().getLong(0)
    assert(maxPer <= 3)
  }

  test("broadcast join plan for joinAgg has no shuffle on the fact side") {
    val plan = Relational.joinAgg(spark, sf).queryExecution
      .executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("selectPercentilesMulti casts mixed value types to a common one") {
    import spark.implicits._
    val df = Seq(("a", 1, 1.5), ("a", 2, 2.5), ("a", 3, 10.0),
      ("a", 4, 0.5), ("b", 10, 3.0), ("b", 20, 1.0)).toDF("g", "i", "d")
    val got = Relational.selectPercentilesMulti(df, "g", Seq(
        "i" -> Seq((0.5, "i_med")),
        "d" -> Seq((0.5, "d_med"), (0.9, "d_p90"))))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getAs[Double]("i_med"),
        r.getAs[Double]("d_med"), r.getAs[Double]("d_p90"))).toSeq
    // Spark's exact interpolating percentile is the oracle
    val want = df.groupBy("g").agg(
        expr("percentile(i, 0.5)"), expr("percentile(d, 0.5)"),
        expr("percentile(d, 0.9)"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) < 1e-9 &&
        math.abs(a._3 - b._3) < 1e-9 && math.abs(a._4 - b._4) < 1e-9,
        s"$a vs $b")
    }
    // group a: int median 2.5, double median 2.0, p90 2.5 + 0.7 * 7.5
    assert(got.head._1 == "a" && got.head._2 == 2.5 &&
      got.head._3 == 2.0 && math.abs(got.head._4 - 7.75) < 1e-9)
  }
}
