package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Pins the composed two-level IVM (`s4_ivm_join_agg`): folding
  * γ(ΔM_bn) per batch — ΔM read back partition-pruned via
  * IncrementalJoin.readBatch — reproduces the one-shot join+group-by,
  * and a REPLAYED batch pair (both levels re-invoked) is a no-op:
  * the join level overwrites its own bn partition with identical
  * content and the agg level's batchId guard skips the double fold. */
class IvmJoinAggSpec extends SparkSpec {

  test("composed join+agg IVM equals one-shot, and batch replay cannot double-count") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val path = s"${Tables.TmpRoot}/ivmjoinagg-spec"
    val root = new org.apache.hadoop.fs.Path(path)
    root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    val store = new TableStore(path)

    val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("cents"),
      year($"o_orderdate").as("yy"))
    val c = Tables.customer(s, dir).select($"c_custkey".as("o_custkey"), $"c_nationkey")
    val oBat = Seq(o.filter($"yy" <= 1994), o.filter($"yy" === 1995 || $"yy" === 1996),
      o.filter($"yy" >= 1997)).map(_.drop("yy"))
    val cBat = (0 to 2).map(i => c.filter($"o_custkey" % 3 === i))

    def foldBatch(i: Int): Unit = {
      IncrementalJoin.applyBatch(s, store, "ocj", oBat(i), cBat(i), Seq("o_custkey"), i.toLong)
      val dM = IncrementalJoin.readBatch(s, store, "ocj", i.toLong)
      IncrementalAgg.applyBatchM(s, store, "nation_rev", dM, Seq("c_nationkey"),
        Seq(IncrementalAgg.Measure("n_orders", count(lit(1))),
          IncrementalAgg.Measure("cents", sum($"cents"))),
        batchId = Some(i.toLong))
    }
    foldBatch(0); foldBatch(1)
    foldBatch(1) // replay: at-least-once driver re-delivers the whole batch
    foldBatch(2)

    val got = store.read(s, "nation_rev")
      .select($"c_nationkey", $"n_orders".cast("long"), $"cents".cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val want = o.drop("yy").join(c, "o_custkey")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cc"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "maintained view diverged from the one-shot join+group-by")
  }
}
