package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Table-lifecycle operators: CDC changelog apply, SCD type-2 history,
  * calendar gap-fill, and column profiling (SURVEY §2 S4/A-family
  * extensions).
  *
  * These are the maintenance queries a 100 TB warehouse runs daily:
  * apply a change feed to a snapshot, version a dimension, densify a
  * time series, profile a table. Each derives its inputs
  * deterministically from the sf tables so the DuckDB oracle replays
  * the identical computation.
  *
  * Scale notes:
  *  - CDC apply is one shuffle on the merge key (window to pick the
  *    last change per key) + one key-partitioned full outer join —
  *    the same plan MERGE INTO compiles to; no driver-side state.
  *  - SCD2 is two windows over (custkey, orderdate) — a single
  *    shuffle by custkey reused by both (Catalyst collapses equal
  *    partitionings).
  *  - Gap-fill broadcasts the calendar dim (bounded: days × users of
  *    interest), so the fact side never reshuffles.
  *  - Profiling is a single Expand-based scan (one pass over the
  *    fact table for all count-distincts), not one scan per column.
  */
object LifecycleQueries {
  type Q = (SparkSession, String) => DataFrame

  val all: Map[String, Q] = Map(
    // ---- S4c: CDC changelog apply (I/U/D, last-writer-wins) ---------
    // Snapshot = pre-1996 orders. Change feed = three deterministic
    // batches (seq 1: update even keys; seq 2: delete keys % 6 == 0;
    // seq 3: upsert-insert keys % 5 == 0 from late orders). The apply
    // ranks changes per key by seq (latest wins), then resolves
    // against the snapshot with a full outer join: D drops the row,
    // U replaces-or-inserts, absent keeps the snapshot row.
    "s4_cdc_apply" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
      val snapshot = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val upd = o.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", lit(1L).as("seq"), lit("U").as("op"),
          lit("P1").as("c_status"), ($"o_totalprice" + 10.0).as("c_price"))
      val del = o.filter($"o_orderkey" % 6 === 0)
        .select($"o_orderkey", lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("c_status"), lit(null).cast("double").as("c_price"))
      val ins = o.filter($"o_orderkey" % 5 === 0 &&
          $"o_orderdate" >= lit("1997-06-01").cast("timestamp"))
        .select($"o_orderkey", lit(3L).as("seq"), lit("U").as("op"),
          lit("P2").as("c_status"), ($"o_totalprice" * 2.0).as("c_price"))
      val changes = upd.unionAll(del).unionAll(ins)
      val latest = changes
        .withColumn("rn", row_number().over(
          Window.partitionBy($"o_orderkey").orderBy($"seq".desc)))
        .filter($"rn" === 1).drop("rn", "seq")
      snapshot.as("t")
        .join(latest.as("c"), Seq("o_orderkey"), "full_outer")
        .filter(coalesce($"op", lit("K")) =!= "D")
        .select($"o_orderkey",
          when($"op" === "U", $"c_status").otherwise($"o_orderstatus").as("o_orderstatus"),
          when($"op" === "U", $"c_price").otherwise($"o_totalprice").as("o_totalprice"),
          coalesce($"op", lit("K")).as("applied_op"))
        .orderBy($"o_orderkey")
    }),

    // ---- S4d: SCD type-2 dimension history --------------------------
    // Each order is a priority-change event for its customer. Collapse
    // same-day events (max orderkey wins), drop no-op changes
    // (priority equal to the previous row), then number versions and
    // close each interval with the next version's start date.
    "s4_scd2_history" -> ((s, dir) => {
      import s.implicits._
      val byDay = Window.partitionBy($"o_custkey", $"o_orderdate").orderBy($"o_orderkey".desc)
      val byTime = Window.partitionBy($"o_custkey").orderBy($"o_orderdate")
      val events = Tables.orders(s, dir)
        .select($"o_custkey", $"o_orderdate", $"o_orderpriority", $"o_orderkey")
        .withColumn("rn", row_number().over(byDay)).filter($"rn" === 1).drop("rn")
      val changed = events
        .withColumn("prev", lag($"o_orderpriority", 1).over(byTime))
        .filter($"prev".isNull || $"prev" =!= $"o_orderpriority")
      changed
        .withColumn("version", row_number().over(byTime).cast("long"))
        .withColumn("valid_from", $"o_orderdate")
        .withColumn("valid_to", lead($"o_orderdate", 1).over(byTime))
        .select($"o_custkey", $"version", $"o_orderpriority", $"valid_from",
          $"valid_to", $"valid_to".isNull.as("is_current"))
        .orderBy($"o_custkey", $"version")
    }),

    // ---- W6: calendar gap-fill + forward fill -----------------------
    // Densify per-user daily event series over the global date span:
    // calendar dim (1-row agg → sequence → explode) cross-joined with
    // the user dim — both broadcast — left join the daily aggregate,
    // zero-fill counts, forward-fill the last seen daily max.
    "w6_gap_fill" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).filter($"user_id" < 25)
        .select($"user_id", date_trunc("day", $"ts").as("day"), $"value")
      val daily = ev.groupBy($"user_id", $"day")
        .agg(count(lit(1)).as("n_events"), max($"value").as("day_max"))
      val calendar = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
        .select(explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
      val users = ev.select($"user_id").distinct()
      val ffill = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      broadcast(users).crossJoin(broadcast(calendar))
        .join(daily, Seq("user_id", "day"), "left")
        .select($"user_id", $"day",
          coalesce($"n_events", lit(0L)).as("n_events"),
          last($"day_max", ignoreNulls = true).over(ffill).as("value_ff"))
        .orderBy($"user_id", $"day")
    }),

    // ---- W6: linear interpolation over the dense grid ---------------
    // The missing-day estimate between two observations — time-series
    // resampling's second half (gap-fill zero/forward-fill being the
    // first). Same grid + two IGNORE-NULLS windows (last-before,
    // first-after) per user; the interpolation is one IEEE expression
    // over values both engines already agree on bit-for-bit, so the
    // raw doubles hash-match. Two window passes over one user-keyed
    // shuffle — the 100 TB plan is unchanged from gap-fill.
    "w6_interpolate" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).filter($"user_id" < 25)
        .select($"user_id", date_trunc("day", $"ts").as("day"), $"value")
      val daily = ev.groupBy($"user_id", $"day")
        .agg(max($"value").as("obs"))
      val calendar = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
        .select(explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
      val users = ev.select($"user_id").distinct()
      val back = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val grid = broadcast(users).crossJoin(broadcast(calendar))
        .join(daily, Seq("user_id", "day"), "left")
        .select($"user_id", $"day", $"obs",
          last($"obs", ignoreNulls = true).over(back).as("prev"),
          last(when($"obs".isNotNull, $"day"), ignoreNulls = true).over(back).as("prev_day"),
          first($"obs", ignoreNulls = true).over(fwd).as("next"),
          first(when($"obs".isNotNull, $"day"), ignoreNulls = true).over(fwd).as("next_day"))
      grid.select($"user_id", $"day",
          when($"obs".isNotNull, $"obs")
            .when($"prev".isNull, $"next")
            .when($"next".isNull, $"prev")
            .otherwise($"prev" + ($"next" - $"prev") *
              (datediff($"day", $"prev_day").cast("double") /
                datediff($"next_day", $"prev_day").cast("double")))
            .as("value_interp"),
          $"obs".isNotNull.as("observed"))
        .orderBy($"user_id", $"day")
    }),

    // ---- A9b: robust outliers (median/MAD, not mean/sigma) ----------
    // The z-score gate (a9) breaks down when outliers inflate sigma
    // itself; median absolute deviation is outlier-resistant. Both
    // cutpoints come from Percentiles.medianMad's single ranked pass
    // (VERDICT r3 #5 — the old two-round form paid a second range
    // shuffle and re-scanned the source for the deviation sort; the
    // fused window-minimax MAD doesn't), then one broadcast back for
    // the 3·1.4826·MAD flag. Every float op is the same IEEE tree on
    // identical inputs in both engines, so the flag counts hash-match.
    "a9_robust_outliers" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir).select($"l_returnflag", $"l_extendedprice")
      val stats = graft.operators.Percentiles.medianMad(
        li, Seq("l_returnflag"), "l_extendedprice")
      li.join(broadcast(stats), Seq("l_returnflag"))
        .withColumn("ad", abs($"l_extendedprice" - $"m"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when($"ad" > lit(3.0) * lit(1.4826) * $"mad", 1L).otherwise(0L)).as("n_outliers"))
        .orderBy($"l_returnflag")
    }),

    // ---- A9b': robust outliers with KLL cutpoints — the scale swap
    // the exact query's doc promises (VERDICT r2 #5). Same two-round
    // median/MAD shape, but each cutpoint comes from a mergeable KLL
    // sketch: one partial+final hash aggregate per round (the shuffle
    // carries kilobyte sketches, not rank-selection row traffic), so
    // the two stats rounds cost two tiny exchanges at ANY group
    // geometry. The flags themselves are still exact — only the
    // cutpoints are approximate (KLL rank error <1% at this k), and a
    // median that is off by a hair moves the 3·1.4826·MAD fence by a
    // hair: RobustOutliersApproxSpec bounds the per-group flag-count
    // delta vs the exact query. No DuckDB oracle by design (sketch
    // internals differ across engines); rows-gated.
    "a9_robust_outliers_approx" -> ((s, dir) => {
      import s.implicits._
      graft.functions.Functions.register(s)
      val li = Tables.lineitem(s, dir).select($"l_returnflag", $"l_extendedprice")
      def kllMedian(df: org.apache.spark.sql.DataFrame, c: String, out: String) =
        df.groupBy($"l_returnflag")
          .agg(element_at(call_function("kll_quantiles", col(c), lit(0.5)), 1).as(out))
      val med = kllMedian(li, "l_extendedprice", "m")
      val dev = li.join(broadcast(med), Seq("l_returnflag"))
        .withColumn("ad", abs($"l_extendedprice" - $"m"))
      val mad = kllMedian(dev, "ad", "mad")
      dev.join(broadcast(mad), Seq("l_returnflag"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when($"ad" > lit(3.0) * lit(1.4826) * $"mad", 1L).otherwise(0L)).as("n_outliers"))
        .orderBy($"l_returnflag")
    }),

    // ---- A11: declarative expectations report (data-quality) --------
    // dbt-tests / Great-Expectations analog: every row rule folds into
    // ONE aggregate over the scan (a new rule costs an expression, not
    // a job); uniqueness adds the one irreducible keyed count. Exact
    // integer report, oracle-gated.
    "a11_expectations" -> ((s, dir) => {
      import graft.operators.Expectations._
      report(Tables.orders(s, dir),
        Seq(notNull("o_custkey"),
          inRange("o_totalprice", 0.0, 1000000.0),
          inSet("o_orderstatus", Seq("O", "F", "P"))),
        uniqueKeys = Seq("o_orderkey"))
    }),

    // ---- A11b: referential-integrity audit (FK orphan check) --------
    // The two-table expectation `report` can't express: child rows
    // whose non-null foreign key misses the parent. Three FK edges of
    // the star schema in one report — two clean by construction, one
    // (events.user_id → nation) violated on purpose so the gate pins
    // a real nonzero orphan count, not just zeros. Each check is one
    // key-projected anti-join (dim broadcasts; at 100 TB the child
    // never materializes past its key column).
    "a11_fk_orphans" -> ((s, dir) => {
      import graft.operators.Expectations.foreignKeyReport
      foreignKeyReport(Tables.orders(s, dir), Seq("o_custkey"),
          Tables.customer(s, dir), Seq("c_custkey"), "orders.o_custkey->customer.c_custkey")
        .union(foreignKeyReport(Tables.lineitem(s, dir), Seq("l_partkey"),
          Tables.part(s, dir), Seq("p_partkey"), "lineitem.l_partkey->part.p_partkey"))
        .union(foreignKeyReport(Tables.events(s, dir), Seq("user_id"),
          Tables.nation(s, dir), Seq("n_nationkey"), "events.user_id->nation.n_nationkey"))
        .orderBy("rule")
    }),

    // ---- A11d: header↔detail reconciliation audit --------------------
    // The classic two-grain consistency check FK orphans don't catch:
    // does each order header's total equal the sum its lines imply
    // (extprice·(1−disc)·(1+tax))? Both sides quantize to integer
    // cents BEFORE aggregation (per-line ROUND of an IEEE-identical
    // double product — the engines agree on positives), so diffs are
    // exact longs; orders with no lines reconcile against 0 via the
    // left join. One line-side aggregate + one key join; report by
    // status. On this synthetic corpus headers genuinely disagree with
    // lines, so the gate pins real nonzero counts.
    "a11_reconcile" -> ((s, dir) => {
      import s.implicits._
      val lines = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o_orderkey"),
          round($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax") * 100)
            .cast("long").as("lc"))
        .groupBy($"o_orderkey").agg(sum($"lc").as("line_c"))
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus",
          round($"o_totalprice" * 100).cast("long").as("hdr_c"))
        .join(lines, Seq("o_orderkey"), "left")
        .select($"o_orderstatus", ($"hdr_c" - coalesce($"line_c", lit(0L))).as("diff"))
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(when($"diff" =!= 0L, 1L).otherwise(0L)).as("n_mismatch"),
          sum(abs($"diff")).as("sum_abs_diff"),
          max(abs($"diff")).as("max_abs_diff"))
        .orderBy($"o_orderstatus")
    }),

    // ---- A11c: Benford leading-digit audit --------------------------
    // The forensic data-quality check: the first-significant-digit
    // distribution of a naturally-occurring monetary column (fabricated
    // or truncated feeds bend it). Values route through integer cents
    // and the digit comes off the BIGINT's decimal string — never a
    // float's engine-specific formatting; shares are integer ppm
    // (n·10⁶ div total, the a14 discipline). One partial+final
    // aggregate over the scan + a 9-row broadcast of the total —
    // scan-bound at any scale. (Expected Benford ppm is log10(1+1/d),
    // a reporting-layer constant — deliberately not emitted: libm
    // log10 is not bit-stable cross-engine.)
    "a11_benford" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.orders(s, dir)
        .select(round($"o_totalprice" * 100).cast("long").as("vc"))
        .filter($"vc" > 0)
        .select(substring($"vc".cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      d.crossJoin(broadcast(d.agg(sum($"n").as("total"))))
        .select($"digit", $"n", expr("n * 1000000 div total").as("share_ppm"))
        .orderBy($"digit")
    }),

    // ---- S14b: keyed semantic diff between two table states ---------
    // The checksum's sibling: WHAT changed between a backfill
    // candidate and the live table. Old/new states are deterministic
    // slices of orders (drop-every-7th vs drop-every-5th, prices
    // doubled on every 3rd key), so all four statuses are populated;
    // TableDiff's one full-outer key join classifies every key, and
    // the report aggregates statuses with key ranges. Oracle: the
    // literal FULL OUTER JOIN. */
    "s14_table_diff" -> ((s, dir) => {
      import graft.operators.TableDiff
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val oldState = o.filter(col("o_orderkey") % 7 =!= 0)
      val newState = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, col("cents") * 2).otherwise(col("cents")).as("cents"))
      TableDiff.diff(oldState, newState, Seq("o_orderkey"))
        .groupBy(col("diff_status"))
        .agg(count(lit(1)).as("n_keys"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy("diff_status")
    }),

    // ---- A9: z-score outlier detection (data-quality gate) ----------
    // Per-group mean/variance from EXACT integer moments: prices are
    // quantized to cents (BIGINT), so Σx and Σx² are exact (Σx² rides
    // DECIMAL(38,0) — per-row c² fits a long, the sum doesn't), and
    // every engine derives bit-identical doubles from them. The flag
    // |x-μ| > 3σ is then deterministic cross-engine — no
    // order-dependent float accumulation anywhere. Plan: one partial+
    // final aggregate for moments (tiny), broadcast back, one more
    // aggregate for flag counts — the fact table shuffles once.
    "a9_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("c"))
      val stats = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c")).as("s1"),
          sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("s2"))
        .select(col("l_returnflag"), col("n_rows"),
          (col("s1").cast("double") / col("n_rows")).as("mean_c"),
          (((col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") / col("n_rows"))) /
            (col("n_rows") - 1)).as("var_c"))
      li.join(broadcast(stats), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n_rows")).as("n_rows"),
          sum(when(abs(col("c") - col("mean_c")) > lit(3.0) * sqrt(col("var_c")), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- A6: table profiling (one scan, Expand-based) ---------------
    // null count / exact distinct / min / max for the numeric lineitem
    // columns, unpivoted to one row per column. All four
    // count-distincts ride a single Expand over one scan — the
    // one-pass ANALYZE TABLE shape, not a scan per column.
    "a6_data_profile" -> ((s, dir) => {
      import s.implicits._
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"cnt_$c"), countDistinct(col(c)).as(s"nd_$c"),
          min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
      }
      val wide = Tables.lineitem(s, dir)
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
      val rows = cols.map(c => struct(
        lit(c).as("column_name"),
        (col("n_rows") - col(s"cnt_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct"),
        col(s"min_$c").as("min_val"),
        col(s"max_$c").as("max_val")))
      wide.select(inline(array(rows: _*)))
        .orderBy($"column_name")
    }),

    // ---- A6b: functional-dependency discovery -----------------------
    // Schema-inference profiling (Papenbrock VLDB'15 family): does
    // A -> B hold? Each declared candidate groups by the LHS and
    // counts distinct RHS values — the FD holds iff every LHS group
    // sees exactly one RHS value; violations are COUNTED, not just
    // flagged, so the readout doubles as a repair-worklist size.
    // Each leg is one partial+final hash aggregate over a TWO-column
    // projection (column pruning reaches the scan), then a 1-row
    // rollup; the candidate list is declared and bounded, so at
    // 100 TB this is k independent column-pruned scans — no
    // cross-candidate shuffle, no O(cols²) blowup inside one job.
    "a6_fd_discovery" -> ((s, dir) => {
      def leg(df: DataFrame, table: String, lhs: String, rhs: String): DataFrame =
        df.select(col(lhs).as("l"), col(rhs).as("r"))
          .groupBy(col("l")).agg(countDistinct(col("r")).as("nd"))
          .agg(count(lit(1)).as("n_lhs"),
            sum(when(col("nd") > 1L, 1L).otherwise(0L)).as("n_violating_lhs"),
            max(col("nd")).as("max_rhs_per_lhs"))
          .select(lit(s"$table: $lhs -> $rhs").as("fd"), col("n_lhs"),
            col("n_violating_lhs"), col("max_rhs_per_lhs"),
            when(col("n_violating_lhs") === 0L, 1).otherwise(0).as("holds"))
      Seq(
        leg(Tables.nation(s, dir), "nation", "n_nationkey", "n_regionkey"),
        leg(Tables.customer(s, dir), "customer", "c_name", "c_nationkey"),
        leg(Tables.customer(s, dir), "customer", "c_nationkey", "c_mktsegment"),
        leg(Tables.part(s, dir), "part", "p_brand", "p_type"),
        leg(Tables.orders(s, dir), "orders", "o_orderpriority", "o_orderstatus"),
        leg(Tables.lineitem(s, dir), "lineitem", "l_returnflag", "l_linestatus"))
        .reduce(_.unionByName(_))
        .orderBy(col("fd"))
    }),

    // ---- A6c: inclusion-dependency discovery (FK candidates) --------
    // The sibling of FD discovery: which column's value set is
    // CONTAINED in which other's? BINDER/SPIDER-style (Papenbrock
    // VLDB'15): instead of a scan per candidate PAIR (O(k²) scans),
    // every candidate column contributes its DISTINCT values to ONE
    // tall (colname, v) relation — per-column distincts partial-
    // aggregate map-side — and a single self-join partitioned on v
    // counts every pairwise overlap at once. IND(c → p) holds iff
    // overlap(c, p) = |distinct(c)|; near-INDs survive in the readout
    // as overlap counts, so the report doubles as an FK-repair
    // worklist. At 100 TB: one shuffle on the value column total, the
    // pair blowup per value is bounded by k² (k = 13 declared key
    // columns), and the k-row distinct-count table broadcasts.
    "a6_ind_discovery" -> ((s, dir) => {
      val cand: Seq[(String, DataFrame, String)] = Seq(
        ("region.r_regionkey", Tables.region(s, dir), "r_regionkey"),
        ("nation.n_nationkey", Tables.nation(s, dir), "n_nationkey"),
        ("nation.n_regionkey", Tables.nation(s, dir), "n_regionkey"),
        ("customer.c_custkey", Tables.customer(s, dir), "c_custkey"),
        ("customer.c_nationkey", Tables.customer(s, dir), "c_nationkey"),
        ("supplier.s_suppkey", Tables.supplier(s, dir), "s_suppkey"),
        ("supplier.s_nationkey", Tables.supplier(s, dir), "s_nationkey"),
        ("part.p_partkey", Tables.part(s, dir), "p_partkey"),
        ("orders.o_orderkey", Tables.orders(s, dir), "o_orderkey"),
        ("orders.o_custkey", Tables.orders(s, dir), "o_custkey"),
        ("lineitem.l_orderkey", Tables.lineitem(s, dir), "l_orderkey"),
        ("lineitem.l_partkey", Tables.lineitem(s, dir), "l_partkey"),
        ("lineitem.l_suppkey", Tables.lineitem(s, dir), "l_suppkey"))
      // the tall relation feeds THREE consumers (both self-join sides
      // + the n_child aggregate): checkpoint so the 13 per-column
      // DISTINCT scans run once, not three times (ADVICE r9)
      val r = cand.map { case (name, df, c) =>
        df.select(col(c).cast("long").as("v")).where(col("v").isNotNull)
          .distinct().select(lit(name).as("colname"), col("v"))
      }.reduce(_.unionByName(_)).localCheckpoint()
      val nd = r.groupBy(col("colname").as("child")).agg(count(lit(1)).as("n_child"))
      val ov = r.as("c").join(r.as("p"),
          col("c.v") === col("p.v") && col("c.colname") =!= col("p.colname"))
        .groupBy(col("c.colname").as("child"), col("p.colname").as("parent"))
        .agg(count(lit(1)).as("n_overlap"))
      ov.join(broadcast(nd), "child")
        .select(col("child"), col("parent"), col("n_child"), col("n_overlap"),
          when(col("n_overlap") === col("n_child"), 1).otherwise(0).as("holds"))
        .orderBy(col("child"), col("parent"))
    }),

    // ---- S13: time travel, oracle-gated end to end through disk -----
    // Three keyed MERGE batches land in a version-retaining store,
    // then readVersionsBack(1) reads the state AS OF the second commit
    // — and must hash-match DuckDB recomputing the merge of batches
    // 1..2 only. That puts the whole retention chain on the gate: the
    // manifest records history, an old version's files survive the
    // newer commits untouched, and the historical read resolves the
    // right version dir (batch 3's 'U3' rows must be invisible).
    // The reference semantics at stake: the upsert history its
    // nupdates counter encodes (scrapper.py:198).
    "s13_version_read" -> ((s, dir) => {
      import s.implicits._
      val root = new org.apache.hadoop.fs.Path(TimeTravelStorePath)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(TimeTravelStorePath, retain = 2)
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      Seq(b1, b2, b3).foreach(b =>
        store.upsert(s, "orders", b, Seq("o_orderkey"), numFiles = Some(1)))
      store.readVersionsBack(s, "orders", 1)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- S13c: SQL time travel through the V2 catalog ---------------
    // The same 3-batch history read back in PLAIN SQL:
    // `VERSION AS OF 1` = one commit back (the store's native
    // steps-back notion — version dirs carry no absolute numbering),
    // served by GraftCatalog.loadTable(ident, version) over the
    // retained chain; a DV-carrying historical version serves its
    // surviving rows through DvParquetTable (per-version DV state).
    // Shares s13_version_read's oracle text: the SQL path must see
    // exactly the programmatic time-travel snapshot.
    "s13_sql_version" -> ((s, dir) => {
      import s.implicits._
      val path = s"${Tables.TmpRoot}/timetravel-sql"
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(path, retain = 2)
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      Seq(b1, b2, b3).foreach(b =>
        store.upsert(s, "orders", b, Seq("o_orderkey"), numFiles = Some(1)))
      s.conf.set("spark.sql.catalog.graft_tt",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_tt.root", path)
      s.sql("""SELECT o_orderkey, o_orderstatus, o_totalprice, nupdates
              |FROM graft_tt.orders VERSION AS OF 1
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- S13d: RESTORE — version rollback as a new commit -----------
    // The undo button (VERDICT r9 missing #1): after the same 3-batch
    // history, `RESTORE TABLE t TO VERSION AS OF 1` re-commits the
    // b1+b2 state as the NEW current — metadata only (the manifest
    // re-lists the old version dir at its head; no data copy at any
    // table size), history GROWS (the bad b3 commit stays readable one
    // step back). The gate reads the CURRENT table after the SQL verb
    // and shares s13_version_read's oracle text: restored state must
    // equal the historical read-back, end to end through disk.
    "s13_restore" -> ((s, dir) => {
      import s.implicits._
      val path = RestoreStorePath
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(path, retain = 2)
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      Seq(b1, b2, b3).foreach(b =>
        store.upsert(s, "orders", b, Seq("o_orderkey"), numFiles = Some(1)))
      s.conf.set("spark.sql.catalog.graft_rst",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rst.root", path)
      s.sql("RESTORE TABLE graft_rst.orders TO VERSION AS OF 1")
      // post-restore invariants the oracle can't see: both lineages in
      // history (depth grew to 4, head dir == the dir 2 back), loudly
      // refused MOR delete on the aliased dir
      assert(store.versionDepth(s, "orders") == 4,
        "restore must GROW history, never truncate it")
      store.read(s, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- S13e: PARTITIONED RESTORE — the layout the 100 TB design
    // actually uses (VERDICT r10 missing #2). The same 3-batch history
    // lands through upsertPartitioned (hive partitions, batch-atomic
    // `_pmanifest` commits, retain=2 keeps two history GENERATIONS in
    // the manifest); `RESTORE TABLE … TO VERSION AS OF 1` re-lists
    // generation 1's full state — partition map, DV lines, schema —
    // as the new head under the SAME one atomic pmanifest rename every
    // partitioned commit uses. Metadata only: no partition dir moves
    // (generation-referenced dirs are retention-protected), untouched
    // partitions stay byte-identical, history GROWS (the undone b3
    // commit is readable one step back). Shares s13_version_read's
    // oracle text: the restored CURRENT must equal the b1+b2 merge.
    "s13_restore_part" -> ((s, dir) => {
      import s.implicits._
      val path = RestorePartStorePath
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(path, retain = 2)
      val o = Tables.orders(s, dir)
      def withPc(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("pc", (col("o_orderkey") % 8).cast("int"))
      val b1 = withPc(o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice"))
      val b2 = withPc(o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice")))
      val b3 = withPc(o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice")))
      Seq(b1, b2, b3).foreach(b =>
        store.upsertPartitioned(s, "orders", b, Seq("o_orderkey"), "pc"))
      s.conf.set("spark.sql.catalog.graft_rstp",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rstp.root", path)
      s.sql("RESTORE TABLE graft_rstp.orders TO VERSION AS OF 1")
      assert(store.versionDepth(s, "orders") == 4,
        "partitioned restore must GROW history, never truncate it")
      store.read(s, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- S13f: TIMESTAMP AS OF — time travel the way users ask
    // (VERDICT r10 missing #3). Same 3-batch history; the query reads
    // the instant of the second commit back through PLAIN SQL — the
    // catalog resolves the (microsecond) instant against the
    // manifest-stamped commit times (a timestamp between commits reads
    // the EARLIER version; before the first retained commit errors
    // loudly — MergeIntoGraftSpec pins the boundaries) and delegates
    // to the VERSION AS OF path. Shares s13_version_read's oracle
    // text: the wall-clock read must equal the ordinal one.
    "s13_sql_timestamp" -> ((s, dir) => {
      import s.implicits._
      val path = s"${Tables.TmpRoot}/timetravel-ts"
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(path, retain = 2)
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      Seq(b1, b2, b3).foreach(b =>
        store.upsert(s, "orders", b, Seq("o_orderkey"), numFiles = Some(1)))
      s.conf.set("spark.sql.catalog.graft_tts",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_tts.root", path)
      // the b2 commit's own manifest-stamped instant (ISO-8601 UTC —
      // session TZ is UTC, so the literal round-trips exactly)
      val ts = java.time.Instant.ofEpochMilli(
        store.commitTimestamps(s, "orders")(1).get).toString
      s.sql(s"""SELECT o_orderkey, o_orderstatus, o_totalprice, nupdates
              |FROM graft_tts.orders TIMESTAMP AS OF '$ts'
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- S13i: CDC-OUT replica sync (the change feed CONSUMED) ------
    // s13_changefeed emits the diff; this closes the loop: a
    // downstream replica bootstraps as a snapshot on the first
    // upstream commit and then folds ONE change-feed diff per
    // subsequent commit (`TableStore.syncReplica` — kept = replica ∖
    // touched keys, I/U post-images union in, D keys stay dropped; one
    // atomic replica commit each, content-idempotent). The history
    // here exercises all three ops: b1 bootstrap, b2/b3 I+U diffs,
    // then a DELETE commit whose feed carries D rows — the replica
    // must drop exactly those keys. The gate reads the REPLICA and the
    // oracle recomputes the full merge-then-delete pipeline: a skipped
    // diff, a double-applied diff, or a mishandled D breaks the hash.
    "s13_cdc_sync" -> ((s, dir) => {
      import s.implicits._
      val path = s"${Tables.TmpRoot}/cdc-sync"
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(s"$path/src", retain = 2)
      val replica = new graft.operators.TableStore(s"$path/dst")
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      def syncStep(): Unit =
        store.syncReplica(s, "orders", Seq("o_orderkey"), replica, "orders")
      Seq(b1, b2, b3).foreach { b =>
        store.upsert(s, "orders", b, Seq("o_orderkey"), numFiles = Some(1))
        syncStep()
      }
      store.deleteWhere(s, "orders", $"o_orderstatus" === "U2")
      syncStep()
      syncStep() // replayed sync against an unadvanced upstream: no-op
      replica.read(s, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- S13j: the SAME replication loop at its 100 TB shape --------
    // Both ends partitioned by p_year (stable per key — a year is a
    // function of the order): each sync reads/rewrites ONLY the
    // partitions the diff's keys live in, one batch-atomic replica
    // commit each (`syncReplicaPartitioned`); untouched partitions are
    // never read and their version dirs never move (asserted below —
    // the load-bearing scale claim). SAME history, SAME oracle text as
    // s13_cdc_sync: one contract, two routings.
    "s13_cdc_sync_part" -> ((s, dir) => {
      import s.implicits._
      val path = s"${Tables.TmpRoot}/cdc-sync-part"
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(s"$path/src", retain = 2)
      val replica = new graft.operators.TableStore(s"$path/dst")
      val o = Tables.orders(s, dir)
        .withColumn("p_year", year($"o_orderdate").cast("int"))
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"p_year")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"), $"p_year")
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"), $"p_year")
      def syncStep(): Unit = store.syncReplicaPartitioned(
        s, "orders", Seq("o_orderkey"), replica, "orders", "p_year")
      Seq(b1, b2, b3).foreach { b =>
        store.upsertPartitioned(s, "orders", b, Seq("o_orderkey"), "p_year",
          numFiles = Some(1))
        syncStep()
      }
      // the delete's diff touches only the U2 keys' partitions
      // (orderdate ∈ [1995-06, 1996-06) → p_year 1995/1996): every
      // other partition's version dir must survive the delete sync AND
      // the replayed sync byte-untouched — the load-bearing scale claim
      def cold() = replica.partitionedLeafPaths(s, "orders").get
        .filterNot(p => p.contains("p_year=1995") || p.contains("p_year=1996"))
      val coldBefore = cold()
      store.deleteWherePartitioned(s, "orders",
        $"o_orderstatus" === "U2", "p_year")
      syncStep()
      syncStep() // replayed sync against an unadvanced upstream: no-op
      assert(coldBefore.nonEmpty && cold() == coldBefore,
        s"untouched replica partitions must keep their exact version dirs: " +
          s"$coldBefore vs ${cold()}")
      replica.read(s, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- S13l: physical history purge (erasure's completion) --------
    // A MOR delete leaves the deleted rows' BYTES in the head version's
    // files (anti-join at read, not a rewrite), and retention keeps
    // serving them through VERSION/TIMESTAMP AS OF and RESTORE —
    // "erased" data that is still readable four ways. purgeHistory
    // folds the pending DV into a physical rewrite and truncates the
    // chain to the head alone. The gate replays the s13_cdc_sync
    // pipeline (3 upserts + delete U2) with the delete routed MOR, then
    // purges: the oracle pins the surviving state, the in-body asserts
    // pin that history is GONE (depth 1, time travel refuses) and that
    // the erased rows are physically absent from every file under the
    // table dir (raw recursive scan, no DV applied).
    "s13_purge_history" -> ((s, dir) => {
      import s.implicits._
      val path = s"${Tables.TmpRoot}/purge-history"
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(path, retain = 2)
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      Seq(b1, b2, b3).foreach(b =>
        store.upsert(s, "orders", b, Seq("o_orderkey"), numFiles = Some(1)))
      store.deleteWhereMor(s, "orders", $"o_orderstatus" === "U2", Seq("o_orderkey"))
      store.purgeHistory(s, "orders")
      assert(store.history(s, "orders").size == 1, "history must truncate to the head")
      val travels =
        try { store.readVersionsBack(s, "orders", 1).count(); true }
        catch { case e: IllegalArgumentException =>
          assert(e.getMessage.contains("not retained")); false }
      assert(!travels, "time travel must refuse after the purge")
      // physical absence: every parquet byte under the table dir, read
      // raw (recursive, NO deletion-vector applied), holds zero erased
      // rows — and no DV sidecar remains to need applying
      val raw = s.read.option("recursiveFileLookup", "true").parquet(path + "/orders")
      assert(raw.filter($"o_orderstatus" === "U2").count() == 0L,
        "purged history must not physically retain erased rows")
      store.read(s, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- S13n: snapshot tag (zero-copy pin beyond retention) --------
    // The store is built with retain = 0: ordinal time travel reaches
    // NOTHING (asserted in-body), every displaced version is collected
    // on the next commit — except the one the tag pins. The gate tags
    // after b2, commits b3, vacuums, and reads THROUGH THE TAG: the
    // exact b1+b2 merge, the same text the VERSION AS OF gates replay.
    // Only the tag reference keeps this state alive — a cleanup path
    // that forgets the pin (commit truncation, vacuum) kills the read
    // outright, and a stale pin that leaked b3 breaks the hash.
    "s13_snapshot_tag" -> ((s, dir) => {
      import s.implicits._
      val path = s"${Tables.TmpRoot}/snapshot-tag"
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(path) // retain = 0
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      store.upsert(s, "orders", b1, Seq("o_orderkey"), numFiles = Some(1))
      store.upsert(s, "orders", b2, Seq("o_orderkey"), numFiles = Some(1))
      store.tagSnapshot(s, "audit", Seq("orders"))
      store.upsert(s, "orders", b3, Seq("o_orderkey"), numFiles = Some(1))
      store.vacuum(s)
      val travels =
        try { store.readVersionsBack(s, "orders", 1).count(); true }
        catch { case _: IllegalArgumentException => false }
      assert(!travels, "retain=0: only the tag may keep the b2 state alive")
      store.readTag(s, "audit", "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- S13p: the SAME tag, read through SQL -----------------------
    // Iceberg-style: a non-integer `VERSION AS OF` is a snapshot TAG
    // name. Same retain=0 + vacuum fixture as s13_snapshot_tag on its
    // own store; the SQL read must land on the identical pinned state
    // — one text, programmatic and SQL APIs.
    "s13_sql_tag" -> ((s, dir) => {
      import s.implicits._
      val path = s"${Tables.TmpRoot}/snapshot-tag-sql"
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(path)
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      store.upsert(s, "orders", b1, Seq("o_orderkey"), numFiles = Some(1))
      store.upsert(s, "orders", b2, Seq("o_orderkey"), numFiles = Some(1))
      store.tagSnapshot(s, "audit", Seq("orders"))
      store.upsert(s, "orders", b3, Seq("o_orderkey"), numFiles = Some(1))
      store.vacuum(s)
      s.conf.set("spark.sql.catalog.graft_tagr",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_tagr.root", path)
      s.sql("""SELECT o_orderkey, o_orderstatus, o_totalprice, nupdates
              |FROM graft_tagr.orders VERSION AS OF 'audit'
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- S13b: change data feed (time travel's consumer dual) -------
    // The keyed diff between the previous commit and the current one:
    // one row per changed key, op ∈ I/U (no deletes here — upsert
    // never removes keys), post-image columns. A downstream sync
    // reads this instead of re-diffing two snapshots; the diff itself
    // is ONE full-outer merge join with a null-safe struct compare.
    // Same 3-batch build as s13_version_read on its own store path;
    // the oracle recomputes both states from raw parquet and diffs.
    "s13_changefeed" -> ((s, dir) => {
      import s.implicits._
      val root = new org.apache.hadoop.fs.Path(ChangefeedStorePath)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(ChangefeedStorePath, retain = 2)
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      Seq(b1, b2, b3).foreach(b =>
        store.upsert(s, "orders", b, Seq("o_orderkey"), numFiles = Some(1)))
      store.changesBetween(s, "orders", Seq("o_orderkey"), stepsBack = 1)
        .select($"op", $"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- S13m: the change feed addressed by WALL CLOCK ---------------
    // "Everything that changed since my last poll at <instant>" — the
    // shape a CDC consumer actually asks. The instant resolves through
    // the manifest-stamped commit times (the TIMESTAMP AS OF machinery)
    // and delegates to the same one-full-outer-merge diff; polling at
    // the b2 commit's own stamp must yield exactly the ordinal
    // changesBetween(1) feed — SAME oracle text as s13_changefeed.
    "s13_changes_since" -> ((s, dir) => {
      import s.implicits._
      val path = s"${Tables.TmpRoot}/changes-since"
      val root = new org.apache.hadoop.fs.Path(path)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
      val store = new graft.operators.TableStore(path, retain = 2)
      val o = Tables.orders(s, dir)
      val b1 = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val b2 = o.filter($"o_orderdate" >= lit("1995-06-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", lit("U2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val b3 = o.filter($"o_orderdate" >= lit("1996-06-01").cast("timestamp"))
        .select($"o_orderkey", lit("U3").as("o_orderstatus"),
          ($"o_totalprice" * 3.0).as("o_totalprice"))
      Seq(b1, b2, b3).foreach(b =>
        store.upsert(s, "orders", b, Seq("o_orderkey"), numFiles = Some(1)))
      // "last polled when the b2 commit landed" — its own stamp
      val ts = store.commitTimestamps(s, "orders")(1).get
      store.changesSince(s, "orders", Seq("o_orderkey"), ts)
        .select($"op", $"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    })
  )

  private val TimeTravelStorePath = s"${Tables.TmpRoot}/timetravel-oracle"

  /** One text, two read APIs: the programmatic `readVersionsBack` gate
    * and the SQL `VERSION AS OF` gate replay the same b1+b2 state. */
  private val VersionBackOracleSql =
    """WITH b1 AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'),
      |b2 AS (
      |  SELECT o_orderkey, 'U2' AS o_orderstatus, o_totalprice * 2.0 AS o_totalprice
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-06-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01')
      |SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
      |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
      |  CAST(CASE WHEN u.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL THEN 2
      |            ELSE 1 END AS BIGINT) AS nupdates
      |FROM b1 t FULL OUTER JOIN b2 u ON t.o_orderkey = u.o_orderkey
      |ORDER BY o_orderkey""".stripMargin
  private val ChangefeedStorePath = s"${Tables.TmpRoot}/changefeed-oracle"
  private val RestoreStorePath = s"${Tables.TmpRoot}/restore-sql"
  private val RestorePartStorePath = s"${Tables.TmpRoot}/restore-part"

  /** One text, two feed addressings: the ordinal changesBetween(1)
    * gate and the wall-clock changesSince gate replay the identical
    * b2→b3 diff (every b3 key changes — its status literal can't equal
    * any prior status — so the feed is exactly b3 ∩ state12 → U,
    * b3 ∖ state12 → I, post-images, nupdates bumped). */
  private val ChangefeedOracleSql =
    """WITH b1 AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'),
      |b2 AS (
      |  SELECT o_orderkey, 'U2' AS o_orderstatus, o_totalprice * 2.0 AS o_totalprice
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-06-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01'),
      |b3 AS (
      |  SELECT o_orderkey, 'U3' AS o_orderstatus, o_totalprice * 3.0 AS o_totalprice
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-06-01'),
      |s12 AS (
      |  SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
      |    CAST(CASE WHEN u.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL THEN 2
      |              ELSE 1 END AS BIGINT) AS nupdates
      |  FROM b1 t FULL OUTER JOIN b2 u ON t.o_orderkey = u.o_orderkey)
      |SELECT CASE WHEN s12.o_orderkey IS NOT NULL THEN 'U' ELSE 'I' END AS op,
      |  b3.o_orderkey, b3.o_orderstatus, b3.o_totalprice,
      |  CAST(COALESCE(s12.nupdates, 0) + 1 AS BIGINT) AS nupdates
      |FROM b3 LEFT JOIN s12 USING (o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** One text, two replication routings: the whole-table sync and the
    * touched-partitions-only sync replay the identical
    * bootstrap + two upsert diffs + one delete diff pipeline. */
  private val CdcSyncOracleSql =
    """WITH b1 AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'),
      |b2 AS (
      |  SELECT o_orderkey, 'U2' AS o_orderstatus, o_totalprice * 2.0 AS o_totalprice
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-06-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01'),
      |b3 AS (
      |  SELECT o_orderkey, 'U3' AS o_orderstatus, o_totalprice * 3.0 AS o_totalprice
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-06-01'),
      |s12 AS (
      |  SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
      |    CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      |    CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
      |    CAST(CASE WHEN u.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL THEN 2
      |              ELSE 1 END AS BIGINT) AS nupdates
      |  FROM b1 t FULL OUTER JOIN b2 u ON t.o_orderkey = u.o_orderkey),
      |s123 AS (
      |  SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
      |    CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      |    CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
      |    CAST(COALESCE(t.nupdates, 0) +
      |         CASE WHEN u.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS nupdates
      |  FROM s12 t FULL OUTER JOIN b3 u ON t.o_orderkey = u.o_orderkey)
      |SELECT o_orderkey, o_orderstatus, o_totalprice, nupdates
      |FROM s123 WHERE o_orderstatus <> 'U2'
      |ORDER BY o_orderkey""".stripMargin

  val oracle: Map[String, String] = Map(
    // the version-1-back read must equal the merge of batches 1..2
    // (batch 3 invisible); nupdates counts how many batches touched a
    // key among the first two
    "s13_version_read" -> VersionBackOracleSql,
    // the SQL VERSION AS OF path must see exactly the programmatic
    // time-travel snapshot — one text, two read APIs
    "s13_sql_version" -> VersionBackOracleSql,
    // RESTORE TO VERSION AS OF 1 then read CURRENT == the historical
    // read-back — one text, three APIs on the same contract
    "s13_restore" -> VersionBackOracleSql,
    // the PARTITIONED restore must land on the identical b1+b2 state —
    // same text again (pc is layout, not content: the gate omits it)
    "s13_restore_part" -> VersionBackOracleSql,
    // the wall-clock read must equal the ordinal one — same text
    "s13_sql_timestamp" -> VersionBackOracleSql,
    // the TAGGED read (under retain=0 + vacuum) must land on the same
    // b1+b2 state — one text, now five read APIs on the contract
    "s13_snapshot_tag" -> VersionBackOracleSql,
    // the SQL tag read must land on the identical pinned state
    "s13_sql_tag" -> VersionBackOracleSql,

    // the REPLICA after bootstrap + three diff folds (two upserts, one
    // delete) must equal the full merge-then-delete recomputation —
    // per-key nupdates included, so a skipped or double-applied diff
    // and a mishandled D row each break the hash
    "s13_cdc_sync" -> CdcSyncOracleSql,
    // the PARTITIONED routing must land on the identical replica —
    // same text (p_year is layout, not content: the gate omits it)
    "s13_cdc_sync_part" -> CdcSyncOracleSql,
    // purge changes METADATA + physical layout only: the surviving
    // state is the same merge-then-delete recomputation — same text;
    // the history-is-gone and bytes-are-gone pins are in-body asserts
    "s13_purge_history" -> CdcSyncOracleSql,

    // every b3 key changes (its status literal can't equal any prior
    // status), so the feed is exactly: b3 ∩ state12 → U, b3 \ state12
    // → I, with post-image values and nupdates bumped
    "s13_changefeed" -> ChangefeedOracleSql,
    // polling at the b2 commit's wall clock must yield EXACTLY the
    // ordinal changesBetween(1) feed — same text, two addressings
    "s13_changes_since" -> ChangefeedOracleSql,

    "a9_robust_outliers" ->
      """WITH med AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
        |            FROM lineitem GROUP BY 1),
        |dev AS (SELECT l.l_returnflag, abs(l.l_extendedprice - med.m) AS ad
        |        FROM lineitem l JOIN med USING (l_returnflag)),
        |mad AS (SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT d.l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN d.ad > 3.0 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "a11_expectations" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
        |SELECT 'in_range:o_totalprice' AS rule, n_rows,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE (o_totalprice IS NOT NULL AND o_totalprice >= 0 AND o_totalprice <= 1000000) IS NOT TRUE) AS n_violations
        |FROM n
        |UNION ALL
        |SELECT 'in_set:o_orderstatus', n_rows,
        |  (SELECT COUNT(*) FROM orders WHERE (o_orderstatus IN ('O','F','P')) IS NOT TRUE)
        |FROM n
        |UNION ALL
        |SELECT 'not_null:o_custkey', n_rows,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
        |FROM n
        |UNION ALL
        |SELECT 'unique:o_orderkey', n_rows,
        |  (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
        |FROM n
        |ORDER BY rule""".stripMargin,

    "a11_reconcile" ->
      """WITH lines AS (SELECT l_orderkey AS o_orderkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS line_c
        |  FROM lineitem GROUP BY 1),
        |d AS (SELECT o.o_orderstatus,
        |    CAST(ROUND(o.o_totalprice * 100) AS BIGINT) - COALESCE(lines.line_c, 0) AS diff
        |  FROM orders o LEFT JOIN lines USING (o_orderkey))
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CASE WHEN diff != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |  CAST(SUM(abs(diff)) AS BIGINT) AS sum_abs_diff,
        |  CAST(MAX(abs(diff)) AS BIGINT) AS max_abs_diff
        |FROM d GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,

    "a11_fk_orphans" ->
      """SELECT 'fk:events.user_id->nation.n_nationkey' AS rule,
        |  (SELECT COUNT(*) FROM events) AS n_rows,
        |  (SELECT COUNT(*) FROM events e LEFT JOIN nation n ON e.user_id = n.n_nationkey
        |   WHERE e.user_id IS NOT NULL AND n.n_nationkey IS NULL) AS n_violations
        |UNION ALL
        |SELECT 'fk:lineitem.l_partkey->part.p_partkey',
        |  (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |   WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL)
        |UNION ALL
        |SELECT 'fk:orders.o_custkey->customer.c_custkey',
        |  (SELECT COUNT(*) FROM orders),
        |  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |   WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
        |ORDER BY rule""".stripMargin,

    "a11_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > 0),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT SUM(n) AS total FROM g)
        |SELECT digit, n, CAST((n * 1000000) // total AS BIGINT) AS share_ppm
        |FROM g CROSS JOIN t ORDER BY digit""".stripMargin,

    "s14_table_diff" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |old AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
        |new AS (SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 3 = 0 THEN cents * 2 ELSE cents END AS cents
        |       FROM base WHERE o_orderkey % 5 <> 0),
        |d AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
        |        CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |             WHEN n.o_orderkey IS NULL THEN 'removed'
        |             WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |               OR o.cents IS DISTINCT FROM n.cents THEN 'changed'
        |             ELSE 'unchanged' END AS diff_status
        |      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
        |SELECT diff_status, COUNT(*) AS n_keys, MIN(k) AS min_key, MAX(k) AS max_key
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "s4_cdc_apply" ->
      """WITH snapshot AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1996-01-01'),
        |changes AS (
        |  SELECT o_orderkey, 1 AS seq, 'U' AS op, 'P1' AS c_status,
        |         o_totalprice + 10.0 AS c_price FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'D', NULL, NULL FROM orders WHERE o_orderkey % 6 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'U', 'P2', o_totalprice * 2.0 FROM orders
        |  WHERE o_orderkey % 5 = 0 AND o_orderdate >= TIMESTAMP '1997-06-01'),
        |latest AS (
        |  SELECT * FROM (SELECT o_orderkey, op, c_status, c_price,
        |    row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |  FROM changes) WHERE rn = 1)
        |SELECT COALESCE(t.o_orderkey, c.o_orderkey) AS o_orderkey,
        |  CASE WHEN c.op = 'U' THEN c.c_status ELSE t.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN c.op = 'U' THEN c.c_price ELSE t.o_totalprice END AS o_totalprice,
        |  COALESCE(c.op, 'K') AS applied_op
        |FROM snapshot t FULL OUTER JOIN latest c ON t.o_orderkey = c.o_orderkey
        |WHERE COALESCE(c.op, 'K') != 'D'
        |ORDER BY o_orderkey""".stripMargin,

    "s4_scd2_history" ->
      """WITH dedup AS (
        |  SELECT * FROM (SELECT o_custkey, o_orderdate, o_orderpriority,
        |    row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |                       ORDER BY o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1),
        |changed AS (
        |  SELECT * FROM (SELECT o_custkey, o_orderdate, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS prev
        |  FROM dedup) WHERE prev IS NULL OR prev != o_orderpriority)
        |SELECT o_custkey,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  o_orderpriority, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w AS valid_to,
        |  lead(o_orderdate) OVER w IS NULL AS is_current
        |FROM changed
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
        |ORDER BY o_custkey, version""".stripMargin,

    "w6_interpolate" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day, value
        |  FROM events WHERE user_id < 25),
        |daily AS (SELECT user_id, day, MAX(value) AS obs FROM ev GROUP BY 1, 2),
        |cal AS (SELECT unnest(generate_series(
        |          (SELECT MIN(day) FROM ev), (SELECT MAX(day) FROM ev), INTERVAL 1 DAY)) AS day),
        |grid AS (
        |  SELECT u.user_id, c.day, d.obs,
        |    last_value(d.obs IGNORE NULLS) OVER (PARTITION BY u.user_id ORDER BY c.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
        |    last_value(CASE WHEN d.obs IS NOT NULL THEN c.day END IGNORE NULLS)
        |      OVER (PARTITION BY u.user_id ORDER BY c.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
        |    first_value(d.obs IGNORE NULLS) OVER (PARTITION BY u.user_id ORDER BY c.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next,
        |    first_value(CASE WHEN d.obs IS NOT NULL THEN c.day END IGNORE NULLS)
        |      OVER (PARTITION BY u.user_id ORDER BY c.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
        |  FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN cal c
        |  LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = c.day)
        |SELECT user_id, day,
        |  CASE WHEN obs IS NOT NULL THEN obs
        |       WHEN prev IS NULL THEN next
        |       WHEN next IS NULL THEN prev
        |       ELSE prev + (next - prev) *
        |            (CAST(date_diff('day', prev_day, day) AS DOUBLE) /
        |             CAST(date_diff('day', prev_day, next_day) AS DOUBLE))
        |  END AS value_interp,
        |  obs IS NOT NULL AS observed
        |FROM grid ORDER BY user_id, day""".stripMargin,

    "w6_gap_fill" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day, value
        |  FROM events WHERE user_id < 25),
        |daily AS (
        |  SELECT user_id, day, COUNT(*) AS n_events, MAX(value) AS day_max
        |  FROM ev GROUP BY 1, 2),
        |cal AS (
        |  SELECT CAST(unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS TIMESTAMP) AS day
        |  FROM ev),
        |grid AS (SELECT u.user_id, c.day FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN cal c)
        |SELECT g.user_id, g.day,
        |  COALESCE(d.n_events, 0) AS n_events,
        |  last_value(d.day_max IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY g.user_id, g.day""".stripMargin,

    "a9_outliers" ->
      """WITH li AS (
        |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |stats AS (
        |  SELECT l_returnflag, COUNT(*) AS n_rows,
        |    CAST(SUM(c) AS DOUBLE) AS s1d,
        |    CAST(SUM(c * c) AS DOUBLE) AS s2d
        |  FROM li GROUP BY 1),
        |m AS (
        |  SELECT l_returnflag, n_rows, s1d / n_rows AS mean_c,
        |    (s2d - s1d * s1d / n_rows) / (n_rows - 1) AS var_c
        |  FROM stats)
        |SELECT li.l_returnflag AS l_returnflag, MAX(m.n_rows) AS n_rows,
        |  CAST(SUM(CASE WHEN abs(li.c - m.mean_c) > 3.0 * sqrt(m.var_c)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM li JOIN m USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "a6_data_profile" ->
      """SELECT 'l_quantity' AS column_name, COUNT(*) - COUNT(l_quantity) AS n_nulls,
        |  COUNT(DISTINCT l_quantity) AS n_distinct, MIN(l_quantity) AS min_val, MAX(l_quantity) AS max_val
        |FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', COUNT(*) - COUNT(l_extendedprice),
        |  COUNT(DISTINCT l_extendedprice), MIN(l_extendedprice), MAX(l_extendedprice) FROM lineitem
        |UNION ALL SELECT 'l_discount', COUNT(*) - COUNT(l_discount),
        |  COUNT(DISTINCT l_discount), MIN(l_discount), MAX(l_discount) FROM lineitem
        |UNION ALL SELECT 'l_tax', COUNT(*) - COUNT(l_tax),
        |  COUNT(DISTINCT l_tax), MIN(l_tax), MAX(l_tax) FROM lineitem
        |ORDER BY column_name""".stripMargin,

    "a6_fd_discovery" ->
      """WITH
        |l1 AS (SELECT n_nationkey AS l, COUNT(DISTINCT n_regionkey) AS nd FROM nation GROUP BY 1),
        |l2 AS (SELECT c_name AS l, COUNT(DISTINCT c_nationkey) AS nd FROM customer GROUP BY 1),
        |l3 AS (SELECT c_nationkey AS l, COUNT(DISTINCT c_mktsegment) AS nd FROM customer GROUP BY 1),
        |l4 AS (SELECT p_brand AS l, COUNT(DISTINCT p_type) AS nd FROM part GROUP BY 1),
        |l5 AS (SELECT o_orderpriority AS l, COUNT(DISTINCT o_orderstatus) AS nd FROM orders GROUP BY 1),
        |l6 AS (SELECT l_returnflag AS l, COUNT(DISTINCT l_linestatus) AS nd FROM lineitem GROUP BY 1),
        |u AS (
        |  SELECT 'nation: n_nationkey -> n_regionkey' AS fd, COUNT(*) AS n_lhs,
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs,
        |    CAST(MAX(nd) AS BIGINT) AS max_rhs_per_lhs FROM l1
        |  UNION ALL SELECT 'customer: c_name -> c_nationkey', COUNT(*),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT), CAST(MAX(nd) AS BIGINT) FROM l2
        |  UNION ALL SELECT 'customer: c_nationkey -> c_mktsegment', COUNT(*),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT), CAST(MAX(nd) AS BIGINT) FROM l3
        |  UNION ALL SELECT 'part: p_brand -> p_type', COUNT(*),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT), CAST(MAX(nd) AS BIGINT) FROM l4
        |  UNION ALL SELECT 'orders: o_orderpriority -> o_orderstatus', COUNT(*),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT), CAST(MAX(nd) AS BIGINT) FROM l5
        |  UNION ALL SELECT 'lineitem: l_returnflag -> l_linestatus', COUNT(*),
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT), CAST(MAX(nd) AS BIGINT) FROM l6)
        |SELECT fd, n_lhs, n_violating_lhs, max_rhs_per_lhs,
        |  CAST(CASE WHEN n_violating_lhs = 0 THEN 1 ELSE 0 END AS INT) AS holds
        |FROM u ORDER BY fd""".stripMargin,

    "a6_ind_discovery" ->
      """WITH r AS (
        |  SELECT 'region.r_regionkey' AS colname, CAST(r_regionkey AS BIGINT) AS v FROM region WHERE r_regionkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'nation.n_nationkey', CAST(n_nationkey AS BIGINT) FROM nation WHERE n_nationkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'nation.n_regionkey', CAST(n_regionkey AS BIGINT) FROM nation WHERE n_regionkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'customer.c_custkey', CAST(c_custkey AS BIGINT) FROM customer WHERE c_custkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'customer.c_nationkey', CAST(c_nationkey AS BIGINT) FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'supplier.s_suppkey', CAST(s_suppkey AS BIGINT) FROM supplier WHERE s_suppkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'supplier.s_nationkey', CAST(s_nationkey AS BIGINT) FROM supplier WHERE s_nationkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'part.p_partkey', CAST(p_partkey AS BIGINT) FROM part WHERE p_partkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'orders.o_orderkey', CAST(o_orderkey AS BIGINT) FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'orders.o_custkey', CAST(o_custkey AS BIGINT) FROM orders WHERE o_custkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS BIGINT) FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'lineitem.l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 2
        |  UNION ALL SELECT 'lineitem.l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 2),
        |nd AS (SELECT colname AS child, COUNT(*) AS n_child FROM r GROUP BY 1),
        |ov AS (SELECT c.colname AS child, p.colname AS parent, COUNT(*) AS n_overlap
        |       FROM r c JOIN r p ON c.v = p.v AND c.colname <> p.colname GROUP BY 1, 2)
        |SELECT ov.child, ov.parent, nd.n_child, ov.n_overlap,
        |  CAST(CASE WHEN ov.n_overlap = nd.n_child THEN 1 ELSE 0 END AS INT) AS holds
        |FROM ov JOIN nd ON nd.child = ov.child
        |ORDER BY ov.child, ov.parent""".stripMargin
  )
}
