package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sinks

/** Scale-mechanics proofs: partition pruning and bucketed co-located
  * joins, asserted against the actual physical plans.
  */
class PartitioningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("partitioned write + filter => partition pruning, no full scan") {
    // q_partitioned_scan writes documents partitionBy(source) and reads
    // them back under a source filter
    val read = SparkEntry.queries("q_partitioned_scan")(spark, TestSpark.Sf)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(source"),
      s"expected partition filter in:\n$plan")
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
    assert(read.agg(sum($"n")).as[Long].head() ==
      docs.filter($"source" === "src0").count())
  }

  test("q_bucket_join plan: SMJ over bucketed scans, no Exchange below the join") {
    val df = SparkEntry.queries("q_bucket_join")(spark, TestSpark.Sf)
    val plan = df.queryExecution.executedPlan.toString
    val below = plan.split("SortMergeJoin", 2)
    assert(below.length == 2, s"expected a sort-merge join:\n$plan")
    assert(!below(1).contains("Exchange"),
      s"bucketed join inputs should not shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"))
    assert(df.count() > 0)
  }

  test("bucketed tables join with zero Exchange operators") {
    val orders = Tables.table(spark, TestSpark.Sf, "orders")
    val customer = Tables.table(spark, TestSpark.Sf, "customer")
    Sinks.writeBucketed(orders.withColumnRenamed("o_custkey", "custkey"),
      "orders_b", 8, Seq("custkey"))
    Sinks.writeBucketed(customer.withColumnRenamed("c_custkey", "custkey"),
      "customer_b", 8, Seq("custkey"))
    // disable auto-broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_b").join(spark.table("customer_b"), "custkey")
        .groupBy("c_mktsegment").agg(sum("o_totalprice").as("t"))
      val plan = j.queryExecution.executedPlan.toString
      // the final groupBy on c_mktsegment legitimately shuffles; the join
      // itself must read both bucketed sides with no Exchange beneath it
      val belowJoin = plan.split("SortMergeJoin", 2)
      assert(belowJoin.length == 2, s"expected a sort-merge join:\n$plan")
      assert(!belowJoin(1).contains("Exchange"),
        s"bucketed join inputs should not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"))
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }
}
