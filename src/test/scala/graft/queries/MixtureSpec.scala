package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextAnalysis.tokens
import graft.sources.Tables

/** Properties of the dataset-mixture builder (x3_mixture) that the
  * row-hash oracle can't express: per-tier budget maximality and
  * layout invariance. */
class MixtureSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def selection = TextQueries.all("x3_mixture")(spark, dir)

  private def budgets: Map[Int, Long] =
    Map(0 -> 40L, 1 -> 30L, 2 -> 20L, 3 -> 10L).map { case (t, w) => t -> w * 200L }

  test("every tier stays within budget AND selection is exactly the in-budget prefix") {
    val s = spark; import s.implicits._
    val used = selection.groupBy($"tier").agg(sum($"tokens").as("used"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // per-doc view, in the exact selection order the query uses
    val t = Tables.documents(spark, dir).select(
      (expr("cast(substring(source, 4) as int)") % 4).as("tier"),
      col("source"), col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tok"),
      md5(col("text")).as("h")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // recompute the take-while locally: within each tier, walk the
    // (h, doc_id) order and include every doc whose running total
    // stays within budget. The selection must equal this set EXACTLY
    // per (tier, source) — an off-by-one in the query's cum<=budget
    // filter (e.g. cum<budget, or exclusive window frame) fails this,
    // unlike the old first-excluded check, which was arithmetically
    // implied by the budget check (ADVICE r2).
    val expected = t.groupBy(_._1).toSeq.flatMap { case (tier, rows) =>
      val budget = budgets(tier)
      var cum = 0L
      rows.sortBy(r => (r._5, r._3)).toSeq.flatMap { r =>
        cum += r._4
        if (cum <= budget) Some((tier, r._2, r._4)) else None
      }
    }.groupBy(r => (r._1, r._2))
      .map { case (k, rs) => k -> ((rs.size.toLong, rs.map(_._3).sum)) }
    val got = selection.collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == expected, s"selection != in-budget prefix: got $got expected $expected")
    for ((tier, budget) <- budgets)
      assert(used.getOrElse(tier, 0L) <= budget,
        s"tier $tier used ${used(tier)} > budget $budget")
  }

  test("selection is invariant to input partitioning") {
    val base = selection.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // same query over an adversarially repartitioned (and re-sorted) input
    val shuffled = Tables.documents(spark, dir).repartition(7, col("doc_id"))
      .sortWithinPartitions(col("n_chars"))
    val t = shuffled.select(
      (expr("cast(substring(source, 4) as int)") % 4).as("tier"),
      col("source"), col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tok"),
      md5(col("text")).as("h"))
    val w = Window.partitionBy(col("tier")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val again = t.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("budget_tok",
        (when(col("tier") === 0, 40L).when(col("tier") === 1, 30L)
          .when(col("tier") === 2, 20L).otherwise(10L)) * 200L)
      .filter(col("cum") <= col("budget_tok"))
      .groupBy(col("tier"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(again == base && base.nonEmpty)
  }
}
