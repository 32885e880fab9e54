package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles computed by SORT, not by buffering
  * (SURVEY §2 A4; VERDICT r1 "what's wrong" #3).
  *
  * Spark's built-in `percentile` is a TypedImperativeAggregate that
  * holds EVERY value of a group in executor memory — unbounded state,
  * the thing that OOMs first when a group grows 100×. Both operators
  * here get the same exact answer from rank arithmetic instead:
  *
  *  - [[exact]] — window sort per group. Sorts spill to disk and the
  *    aggregate keeps two doubles per percentile, but `partitionBy(g)`
  *    still places a WHOLE group in one task: fine for many medium
  *    groups, degenerate for few/huge groups (and a global percentile
  *    is ONE group — a single-partition sort of the entire table).
  *    Kept as the reference implementation; pinned bit-identical to
  *    the built-in by PercentilesSpec.
  *
  *  - [[exactDistributed]] — range-partition rank selection, the shape
  *    that survives ANY group geometry. `repartitionByRange(g, v)`
  *    spreads every group over many value-contiguous chunks; per-chunk
  *    counts (≤ groups×chunks rows — the only state that leaves the
  *    scan) turn local ranks into global ranks; the ≤ 2·|ps| rows per
  *    group sitting at the floor/ceil target ranks are filtered out
  *    and interpolated. No task ever holds more than one chunk
  *    (~n/P rows), even when the "group" is the whole table. Pinned
  *    bit-identical to [[exact]] and the built-in by PercentilesSpec.
  *
  * Interpolation replicates Spark's `Percentile.getPercentile`
  * exactly (0-based position = (n-1)·p; result =
  * (higher−pos)·v_lo + (pos−lower)·v_hi, collapsed to v_lo when the
  * position is integral), so results are bit-identical to the
  * built-in — and to DuckDB's quantile_cont (pinned by the
  * a4_percentiles oracle).
  */
object Percentiles {

  /** One row per group: `groupCols ++ ps` (columns named by `names`).
    * `valCol` must be numeric; nulls are excluded like the built-in. */
  def exact(df: DataFrame, groupCols: Seq[String], valCol: String,
      ps: Seq[Double], names: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.length == names.length)
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col("v"))
    val wn = Window.partitionBy(g: _*)
    val ranked = df
      .filter(col(valCol).isNotNull)
      .select(g :+ col(valCol).cast("double").as("v"): _*)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
    // 0-based position of percentile p in a group of size n
    def pos(p: Double): Column = (col("n") - 1).cast("double") * lit(p)
    val aggCols = ps.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        max(when(col("rn") - 1 === floor(pos(p)), col("v"))).as(s"_lo$i"),
        max(when(col("rn") - 1 === ceil(pos(p)), col("v"))).as(s"_hi$i"))
    } :+ max(col("n")).as("_n")
    val agged = ranked.groupBy(g: _*).agg(aggCols.head, aggCols.tail: _*)
    restoreAndInterpolate(df, agged, groupCols, ps, names)
  }

  /** Same contract and bit-identical results as [[exact]], including
    * `groupCols = Nil` for a global percentile over the whole table.
    * Plan shape: one range shuffle + one hash shuffle of the (group,
    * value) projection, a ≤ groups×chunks counts aggregate, and a
    * final aggregate over ≤ 2·|ps| rows per group. The only
    * unpartitioned window runs over the COUNTS table, never the data.
    */
  def exactDistributed(df: DataFrame, groupCols: Seq[String], valCol: String,
      ps: Seq[Double], names: Seq[String],
      restoreNullGroups: Boolean = true): DataFrame = {
    require(ps.nonEmpty && ps.length == names.length)
    val g = groupCols.map(col)
    def pos(p: Double): Column = (col("n") - 1).cast("double") * lit(p)
    val ranked = globalRanks(df, groupCols, valCol)
      .withColumn("rd", col("r").cast("double"))
    val needed = ps.map(p => col("rd") === floor(pos(p)) || col("rd") === ceil(pos(p)))
      .reduce(_ || _)
    val aggCols = ps.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        max(when(col("rd") === floor(pos(p)), col("v"))).as(s"_lo$i"),
        max(when(col("rd") === ceil(pos(p)), col("v"))).as(s"_hi$i"))
    } :+ max(col("n")).as("_n")
    val agged = ranked.filter(needed).groupBy(g: _*).agg(aggCols.head, aggCols.tail: _*)
    restoreAndInterpolate(df, agged, groupCols, ps, names, restoreNullGroups)
  }

  /** Bucketing CUTPOINTS on the cheap: |names| interior approximate
    * percentile boundaries of `valCol`, floored to longs, as ONE 1-row
    * frame (VERDICT r9 next #2). For prefix-sum consumers
    * ([[graft.operators.Partitioning.prefixSum]]) the boundaries only
    * need to be MONOTONE in the value: cum(r) = offset(bucket) + local
    * cumsum is an exact identity for ANY bucket assignment that
    * coarsens the order, so the final answer is IDENTICAL whatever the
    * cut values — exactness of the cuts buys nothing. What the cuts
    * are *for* is balance (each bucket ≈ equal weight so no window
    * task is hot), and the approx sketch delivers that for one
    * partial+final aggregate over the collapsed frame — no range
    * shuffle, no per-chunk counts index, no rank filter (the
    * [[exactDistributed]] apparatus this replaces cost 3 extra
    * stages per consumer). Accuracy 1000 bounds the rank error at
    * n/1000 — boundary skew ≤ ~3% of a 1/32 bucket, irrelevant to
    * balance and (per the identity above) invisible to the answer. */
  def cheapCuts(df: DataFrame, valCol: String, names: Seq[String]): DataFrame = {
    require(names.nonEmpty)
    val k = names.length
    val qs = (1 to k).map(i => i.toDouble / (k + 1))
    df.agg(percentile_approx(col(valCol).cast("double"),
        array(qs.map(lit): _*), lit(1000)).as("_q"))
      .select(names.zipWithIndex.map { case (nm, i) =>
        floor(col("_q").getItem(i)).cast("long").as(nm) }: _*)
  }

  /** Equi-depth (equal-frequency) histogram: `b` buckets per group
    * with (count, lo, hi) each — the binning that survives skew where
    * the fixed-width a4_histogram saturates one bin. Bucket of a row
    * is `(rank·b) div n` over the SAME distributed rank apparatus the
    * exact percentiles use (one range shuffle, no per-group sort
    * buffer, no unpartitioned window). Ties may straddle a boundary;
    * bucket sizes are rank-determined and the boundary VALUE is the
    * same on both sides, so (count, lo, hi) per bucket is a pure
    * function of the multiset — tie-rank-invariant, hence
    * engine-exact. */
  def equiDepth(df: DataFrame, groupCols: Seq[String], valCol: String,
      b: Int): DataFrame = {
    val g = groupCols.map(col)
    globalRanks(df, groupCols, valCol)
      .withColumn("bucket", expr(s"(r * $b) div n"))
      .groupBy(g :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** Exact LOWER median — the element at 0-based rank (n−1) div 2 of
    * the in-group ascending order. Never an interpolation, so integer
    * inputs come back as EXACT integers of the original type (the
    * Theil–Sen consumer's contract; `keepType` ranks the native value
    * instead of the double projection, so magnitudes past 2^53 stay
    * exact). Same one-range-shuffle rank apparatus as the exact
    * percentiles — no single-partition sort at any size. */
  def lowerMedian(df: DataFrame, groupCols: Seq[String], valCol: String,
      name: String): DataFrame = {
    val g = groupCols.map(col)
    globalRanks(df, groupCols, valCol, keepType = true)
      .filter(col("r") === expr("(n - 1) div 2"))
      .groupBy(g: _*).agg(max(col("v")).as(name))
  }

  /** The shared rank apparatus: one row per non-null value of `valCol`
    * with its 0-based in-group global rank `r` (long) and group size
    * `n`. One range shuffle of the (group, value) projection + a
    * ≤ groups×chunks counts aggregate — no task ever holds more than
    * one value-contiguous chunk. */
  private def globalRanks(df: DataFrame, groupCols: Seq[String], valCol: String,
      keepType: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val g = groupCols.map(col)
    // explicit partition count: AQE must not re-coalesce the exchange
    // differently between the counts branch and the rank branch (same
    // boundaries ⇒ chunk ids agree; in practice the exchange is built
    // once and reused)
    val chunks = spark.sessionState.conf.numShufflePartitions
    val vcol = if (keepType) col(valCol) else col(valCol).cast("double")
    val vals = df.filter(col(valCol).isNotNull)
      .select(g :+ vcol.as("v"): _*)
    val ranged = vals.repartitionByRange(chunks, g :+ col("v"): _*)
      .withColumn("pid", spark_partition_id())
    // per-(group, chunk) row counts — the whole "index" is ≤ G·P rows
    val counts = ranged.groupBy(g :+ col("pid"): _*).agg(count(lit(1)).as("cnt"))
    val wOff = Window.partitionBy(g: _*).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(g: _*)))
    // chunks are value-contiguous and pid-ordered, so global rank in
    // the group = chunk offset + rank within the chunk. Ties may split
    // across a chunk boundary, but tied rows carry the same v, so any
    // rank permutation among them picks the same value.
    val wLoc = Window.partitionBy(g :+ col("pid"): _*).orderBy(col("v"))
    ranged.withColumn("lr", row_number().over(wLoc))
      .join(broadcast(offsets), groupCols :+ "pid")
      .withColumn("r", col("off") + col("lr") - 1)
  }

  /** Median AND MAD cutpoints from ONE ranked pass (VERDICT r3 #5:
    * the two-round form paid two full range shuffles and three source
    * scans). The fuse rests on an order-statistics identity: with the
    * group's values v_0 ≤ … ≤ v_{n−1} and median m, the p-th smallest
    * absolute deviation |v − m| (0-based) is
    *
    *   d_p = min over windows of p+1 consecutive ranks [i, i+p] of
    *         max(m − v_i, v_{i+p} − m)
    *
    * — the p+1 rows with smallest deviation form a rank-contiguous
    * window around m, its widest edge IS d_p, and every other window
    * contains a row outside that set, so its minimax is ≥ d_p. That
    * turns the deviation median into a RANK-OFFSET EQUI-JOIN on the
    * already-ranked values (join key: group, r+p vs r — p is the
    * group's median offset) followed by a per-group min: no second
    * range shuffle, no deviation re-sort, no source re-scan. The
    * offset join shuffles (group, rank, v) pairs once and partial
    * aggregation collapses the windows map-side.
    *
    * m − v_i and v_{i+p} − m are IEEE-identical to abs(v − m) on each
    * side of the median (negation is exact), and the interpolation is
    * restoreAndInterpolate's tree verbatim — so the cutpoints are
    * bit-identical to the two-round exactDistributed form
    * (PercentilesSpec pins it, incl. adversarial geometries).
    * Output: groupCols :+ names._1 (median) :+ names._2 (MAD). */
  def medianMad(df: DataFrame, groupCols: Seq[String], valCol: String,
      names: (String, String) = ("m", "mad")): DataFrame = {
    val g = groupCols.map(col)
    // both selections and the final window join re-read the ranks:
    // persist the one ranked pass instead of recomputing its shuffle
    val ranked = globalRanks(df, groupCols, valCol)
      .select(g :+ col("v") :+ col("r") :+ col("n"): _*)
      .persist()
    def position = (col("n") - 1).cast("double") * lit(0.5)
    val med = ranked
      .filter(col("r").cast("double") === floor(position) ||
        col("r").cast("double") === ceil(position))
      .groupBy(g: _*)
      .agg(
        max(when(col("r").cast("double") === floor(position), col("v"))).as("_lo0"),
        max(when(col("r").cast("double") === ceil(position), col("v"))).as("_hi0"),
        max(col("n")).as("_n"))
    val medDf = interpOne(med, names._1).select(g :+ col(names._1): _*)
    // window minimax: candidate left edges explode to the (≤2) median
    // offsets of the deviation rank; the partner row at rank r+p
    // arrives via the equi-join on (group, rp)
    val pLo = floor(position).cast("long")
    val pHi = ceil(position).cast("long")
    val lefts = ranked.join(broadcast(medDf), groupCols)
      .withColumn("p", explode(array_distinct(array(pLo, pHi))))
      .filter(col("r") + col("p") < col("n"))
      .select(g :+ col(names._1) :+ col("n") :+ col("p") :+
        col("v").as("vlo") :+ (col("r") + col("p")).as("rp"): _*)
    val rights = ranked.select(g :+ col("r").as("rp") :+ col("v").as("vhi"): _*)
    val mad = lefts.join(rights, groupCols :+ "rp")
      .withColumn("d", greatest(col(names._1) - col("vlo"), col("vhi") - col(names._1)))
      .groupBy(g: _*)
      .agg(
        min(when(col("p") === pLo, col("d"))).as("_lo0"),
        min(when(col("p") === pHi, col("d"))).as("_hi0"),
        max(col("n")).as("_n"),
        max(col(names._1)).as(names._1))
    interpOne(mad, names._2)
      .select(g :+ col(names._1) :+ col(names._2): _*)
  }

  /** restoreAndInterpolate's p=0.5 interpolation tree over one
    * `_lo0`/`_hi0`/`_n` triple, appended as `name`. */
  private def interpOne(agged: DataFrame, name: String): DataFrame = {
    val position = (col("_n") - 1).cast("double") * lit(0.5)
    val lower = floor(position)
    val higher = ceil(position)
    agged.withColumn(name,
      when(lower === higher, col("_lo0"))
        .otherwise((higher - position) * col("_lo0") +
          (position - lower) * col("_hi0")))
  }

  /** Shared tail: Spark's Percentile.getPercentile interpolation over
    * the `_lo$i`/`_hi$i`/`_n` columns, plus restoring groups whose
    * values are ALL null — the built-in still emits them (with NULL
    * percentiles), but they have no ranked rows. A global aggregate
    * (no group columns) already emits its single row unconditionally.
    *
    * `restoreNullGroups = false` skips the restore: it costs a second
    * scan of `df` (distinct group keys + a left join) that exists ONLY
    * to re-emit all-null-value groups. A caller whose measure is
    * non-null by construction (prices, absolute deviations) drops that
    * scan; the contract change is exactly "groups with zero non-null
    * values are absent" (pinned by PercentilesSpec).
    */
  private def restoreAndInterpolate(df: DataFrame, agged: DataFrame,
      groupCols: Seq[String], ps: Seq[Double], names: Seq[String],
      restoreNullGroups: Boolean = true): DataFrame = {
    val g = groupCols.map(col)
    val outs = ps.zip(names).zipWithIndex.map { case ((p, name), i) =>
      val position = (col("_n") - 1).cast("double") * lit(p)
      val lower = floor(position)
      val higher = ceil(position)
      when(lower === higher, col(s"_lo$i"))
        .otherwise((higher - position) * col(s"_lo$i") +
          (position - lower) * col(s"_hi$i"))
        .as(name)
    }
    if (groupCols.isEmpty) agged.select(outs: _*)
    else if (!restoreNullGroups) agged.select(g ++ outs: _*)
    else df.select(g: _*).distinct()
      .join(agged, groupCols, "left")
      .select(g ++ outs: _*)
  }
}
