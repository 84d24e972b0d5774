package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Tables

/** Error-bound assertions for the two sketch aggregates — the right
  * verification shape for approximate structures whose internals are
  * engine-specific (their contract twins check only the in-query
  * within-bound flag; this is where their accuracy is actually pinned). */
class SketchSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("approx_count_distinct stays within 3x the default 5% rsd") {
    val rows = Tables.load(spark, SparkFixture.sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey")).as("approx"),
        countDistinct(col("l_orderkey")).as("exact"))
      .select("approx", "exact").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
      assert(math.abs(a - e) / e <= 0.15,
        s"approx_count_distinct off by ${math.abs(a - e) / e}: $a vs $e")
    }
  }

  test("approx_percentile(0.5, acc=1000) lands between the exact p45 and p55") {
    val rows = Tables.load(spark, SparkFixture.sfDir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("approx"),
        expr("percentile(o_totalprice, 0.45)").as("lo"),
        expr("percentile(o_totalprice, 0.55)").as("hi"))
      .select("approx", "lo", "hi").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, lo, hi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(a >= lo && a <= hi, s"approx p50 $a outside exact [$lo, $hi]")
    }
  }

  test("spacesaving: exact when distinct <= k (est exact, err 0)") {
    import spark.implicits._
    val items = Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val df = items.toDF("tok").repartition(4) // force partial merges
    val sk = graft.functions.SpaceSavingOps.sketch(df, "tok", k = 16)
      .collect()(0).getMap[String, org.apache.spark.sql.Row](0)
    val got = sk.map { case (i, r) => i -> (r.getLong(0), r.getLong(1)) }
    assert(got == Map("a" -> (7L, 0L), "b" -> (3L, 0L), "c" -> (1L, 0L)))
  }

  test("spacesaving: est-err bound holds under saturation and any partitioning") {
    import spark.implicits._
    // zipf-ish stream with 40 distinct items, k=8 counters — saturated
    val items = (1 to 40).flatMap(i => Seq.fill(41 - i)(s"w$i"))
    val exact = items.groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
    for (parts <- Seq(1, 3, 13)) {
      val df = items.toDF("tok").repartition(parts)
      val sk = graft.functions.SpaceSavingOps.sketch(df, "tok", k = 8)
        .collect()(0).getMap[String, org.apache.spark.sql.Row](0)
      assert(sk.size <= 8)
      sk.foreach { case (i, r) =>
        val (est, err) = (r.getLong(0), r.getLong(1))
        val t = exact(i)
        assert(est >= t, s"$i: est $est < true $t (parts=$parts)")
        assert(est - err <= t, s"$i: est-err ${est - err} > true $t (parts=$parts)")
      }
    }
  }

  test("spacesaving: items heavier than n/k are guaranteed tracked") {
    import spark.implicits._
    val heavy = Seq.fill(60)("big1") ++ Seq.fill(50)("big2")
    val tail = (1 to 30).flatMap(i => Seq.fill(2)(s"t$i"))
    val df = (heavy ++ tail).toDF("tok").repartition(5)
    val sk = graft.functions.SpaceSavingOps.sketch(df, "tok", k = 8)
      .collect()(0).getMap[String, org.apache.spark.sql.Row](0)
    // n=170, k=8 -> n/k ~= 21; both heavy items far exceed it
    assert(sk.contains("big1") && sk.contains("big2"))
  }
}
