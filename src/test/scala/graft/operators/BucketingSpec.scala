package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class BucketingSpec extends SparkSpec {

  private def ensure(): (String, String) = {
    val dir = "/root/testdata/sf0.001"
    val tag = "spec001"
    val o = Bucketing.ensureBucketed(spark, "graft_buckspec", s"orders_$tag",
      Tables.orders(spark, dir), Seq("o_orderkey"), 4,
      s"${Tables.TmpRoot}/buckspec/$tag/orders_b")
    val l = Bucketing.ensureBucketed(spark, "graft_buckspec", s"lineitem_$tag",
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_quantity")),
      Seq("l_orderkey"), 4,
      s"${Tables.TmpRoot}/buckspec/$tag/lineitem_b")
    (o, l)
  }

  test("bucketed equi-join runs with no exchange and no sort on either side") {
    val (o, l) = ensure()
    val j = spark.table(o).hint("merge")
      .join(spark.table(l), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // the ONLY exchange allowed is the aggregate's (on o_orderpriority);
    // the join itself must consume the bucketed output partitioning
    val joinPart = plan.split("SortMergeJoin")(1)
    assert(!joinPart.contains("Exchange"),
      s"bucketed join must not shuffle its inputs:\n$plan")
    // sortBy at write time also kills the SMJ's per-side sort
    assert(!joinPart.contains("Sort "),
      s"bucket-sorted inputs must not re-sort:\n$plan")
  }

  test("bucketed join result equals the plain join") {
    val (o, l) = ensure()
    val dir = "/root/testdata/sf0.001"
    val bucketed = spark.table(o).hint("merge")
      .join(spark.table(l), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .collect().map(_.toSeq).toSet
    val plain = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .collect().map(_.toSeq).toSet
    assert(bucketed == plain)
  }

  test("ensureBucketed is idempotent within a session") {
    val (o, _) = ensure()
    val n1 = spark.table(o).count()
    val (o2, _) = ensure()
    assert(o == o2 && spark.table(o2).count() == n1)
  }
}
