package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join (SURVEY §2 J4): for every probe row, the latest build
  * row with the same key whose timestamp is <= the probe's.
  *
  * Implementation is the union+window trick, not a join: both sides
  * are tagged and unioned, then one pass of `last(_, ignoreNulls)`
  * over a (key, time)-ordered window carries the most recent build
  * value forward onto each probe row. One shuffle on the key, one
  * sort — same cost envelope as a sort-merge join but with no
  * unbounded range-condition blowup, which is what makes it safe at
  * 100 TB (a naive t1 <= t2 join degenerates quadratically inside
  * hot keys).
  */
object AsOfJoin {

  /** @param probe rows wanting a value as of their time
    * @param build rows providing values over time
    * @param key equality column (same name both sides)
    * @param tsCol event-time column (same name both sides)
    * @param valueCols build columns to carry onto probe rows */
  def asOf(probe: DataFrame, build: DataFrame, key: String, tsCol: String,
      valueCols: Seq[String]): DataFrame = {
    val probeCols = probe.columns
    val pTagged = probe
      .withColumn("_is_probe", lit(1))
      .withColumns(valueCols.map(c => s"_b_$c" -> lit(null).cast(build.schema(c).dataType)).toMap)
    val bTagged = build
      .select((Seq(col(key), col(tsCol), lit(0).as("_is_probe")) ++
        valueCols.map(c => col(c).as(s"_b_$c")) ++
        probeCols.filterNot(Set(key, tsCol)).map(c => lit(null).cast(probe.schema(c).dataType).as(c))): _*)
    // order: build rows first at equal timestamps, so a probe at time t
    // sees a build row stamped exactly t (inclusive as-of). Build rows
    // tying on (ts) are further ordered by their value columns so the
    // carried value is deterministic (last in value order), not
    // partition-layout-dependent.
    val w = Window.partitionBy(col(key))
      .orderBy((Seq(col(tsCol).asc, col("_is_probe").asc) ++
        valueCols.map(c => col(s"_b_$c").asc_nulls_first)): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = valueCols.map(c =>
      last(col(s"_b_$c"), ignoreNulls = true).over(w).as(s"asof_$c"))
    pTagged.unionByName(bTagged)
      .select((probeCols.map(col) :+ col("_is_probe")) ++ carried: _*)
      .filter(col("_is_probe") === 1)
      .drop("_is_probe")
  }

  /** Nearest as-of join with tolerance (the pandas
    * `merge_asof(direction='nearest', tolerance=...)` shape): for every
    * probe row, the build row with the same key minimizing
    * |build ts − probe ts|, admitted only within `tolUs` microseconds;
    * an exact distance tie prefers the backward (build ts ≤ probe ts)
    * side. Build rows are first LWW-deduped to one per (key, ts)
    * (max `valueCols` order), so the matched row is a pure function of
    * the data — no partition-order nondeterminism and no distance tie
    * WITHIN a direction.
    *
    * Plan: the union+window trick run in BOTH directions — ONE shuffle
    * on the key, then a backward carry (`last` over preceding, build
    * rows sorted before probes at equal ts so a same-instant build
    * matches at distance 0) and a forward carry (`first` over
    * following, probes sorted before builds at equal ts) as two window
    * passes over the same partitioning. No range-condition join, so no
    * quadratic hot-key blowup at 100 TB — the tolerance is applied to
    * the two carried candidates, not used as a join predicate.
    *
    * Output: probe columns + `asof_dir` ('backward'/'forward', null =
    * no build row within tolerance), `asof_<c>` for each value column,
    * and `asof_delta_us` (probe ts − build ts; ≥0 backward, <0
    * forward). */
  def asOfNearest(probe: DataFrame, build: DataFrame, key: String, tsCol: String,
      valueCols: Seq[String], tolUs: Long): DataFrame = {
    require(valueCols.nonEmpty, "asOfNearest needs ≥1 value column (LWW order)")
    val probeCols = probe.columns
    val wd = Window.partitionBy(col(key), col(tsCol))
      .orderBy(valueCols.map(c => col(c).desc): _*)
    val b1 = build.withColumn("_rn", row_number().over(wd))
      .filter(col("_rn") === 1)
    val bTagged = b1.select((Seq(col(key), col(tsCol), lit(0).as("_is_probe"),
      struct((col(tsCol).as("bts") +: valueCols.map(col)): _*).as("_b")) ++
      probeCols.filterNot(Set(key, tsCol))
        .map(c => lit(null).cast(probe.schema(c).dataType).as(c))): _*)
    val pTagged = probe.withColumn("_is_probe", lit(1))
      .withColumn("_b", lit(null).cast(bTagged.schema("_b").dataType))
    val back = Window.partitionBy(col(key))
      .orderBy(col(tsCol).asc, col("_is_probe").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val fwd = Window.partitionBy(col(key))
      .orderBy(col(tsCol).asc, col("_is_probe").desc)
      .rowsBetween(0, Window.unboundedFollowing)
    val u = pTagged.unionByName(bTagged)
      .withColumn("_pb", last(col("_b"), ignoreNulls = true).over(back))
      .withColumn("_fb", first(col("_b"), ignoreNulls = true).over(fwd))
      .filter(col("_is_probe") === 1)
    val db = unix_micros(col(tsCol)) - unix_micros(col("_pb").getField("bts"))
    val df = unix_micros(col("_fb").getField("bts")) - unix_micros(col(tsCol))
    val backOk = col("_pb").isNotNull && db <= tolUs
    val fwdOk = col("_fb").isNotNull && df <= tolUs
    val chooseBack = backOk && (!fwdOk || db <= df)
    val chosen = when(chooseBack, col("_pb")).when(fwdOk, col("_fb"))
    u.select(probeCols.map(col) ++ Seq(
      when(chooseBack, lit("backward")).when(fwdOk, lit("forward")).as("asof_dir"),
      (unix_micros(col(tsCol)) - unix_micros(chosen.getField("bts"))).as("asof_delta_us")) ++
      valueCols.map(c => chosen.getField(c).as(s"asof_$c")): _*)
  }
}
