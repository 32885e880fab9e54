package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Pins the delta-join IVM contract (`IncrementalJoin`): after any
  * batch-pair arrival order the maintained join equals the one-shot
  * join, a replayed batch is a no-op, a partially-committed crashed
  * attempt (one side landed, the rest did not) replays to the same
  * state instead of double-counting the dA JOIN dB term, the
  * disjoint-non-key-column contract is enforced loudly, and an empty
  * delta on either side is fine. */
class IncrementalJoinSpec extends SparkSpec {

  private def freshStore(): TableStore = new TableStore(java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), "ivmjoin-").toString)

  private def frames() = {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("yy"))
    val c = Tables.customer(s, dir).select(col("c_custkey").as("o_custkey"),
      col("c_name"), col("c_acctbal"))
    val oBat = Seq(o.filter(col("yy") <= 1994), o.filter(col("yy") === 1995 || col("yy") === 1996),
      o.filter(col("yy") >= 1997)).map(_.drop("yy"))
    val cBat = (0 to 2).map(i => c.filter(col("o_custkey") % 3 === i))
    (o.drop("yy"), c, oBat, cBat)
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("o_orderkey"), col("o_custkey"), col("c_name"),
      round(col("o_totalprice") * 100).cast("long").as("p"),
      round(col("c_acctbal") * 100).cast("long").as("a"))
      .orderBy(col("o_orderkey")).collect().toSeq

  test("maintained join == one-shot join; cross-batch matches covered; replay is a no-op") {
    val s = spark
    val (o, c, oBat, cBat) = frames()
    val store = freshStore()
    (0 until 3).foreach(i =>
      IncrementalJoin.applyBatch(s, store, "oc", oBat(i), cBat(i), Seq("o_custkey"), i.toLong))
    val direct = canon(o.join(c, "o_custkey"))
    assert(direct.nonEmpty)
    assert(canon(IncrementalJoin.read(s, store, "oc")) == direct)
    // replayed middle batch: identical partition overwrite, state unchanged
    IncrementalJoin.applyBatch(s, store, "oc", oBat(1), cBat(1), Seq("o_custkey"), 1L)
    assert(canon(IncrementalJoin.read(s, store, "oc")) == direct)
  }

  test("partially-committed crash replays to the same state (no dA×dB double count)") {
    val s = spark
    val (o, c, oBat, cBat) = frames()
    val store = freshStore()
    IncrementalJoin.applyBatch(s, store, "oc", oBat(0), cBat(0), Seq("o_custkey"), 0L)
    // simulate a crash of batch 1 where the LEFT side landed but out
    // and right did not — the worst case for the bn<batch discipline:
    // a naive "read everything stored" replay would then count
    // dA(1) JOIN dB(1) twice (once via the stored left side)
    store.replacePartitions(s, "oc_left", oBat(1).withColumn("_ij_bn", lit(1L)), "_ij_bn")
    IncrementalJoin.applyBatch(s, store, "oc", oBat(1), cBat(1), Seq("o_custkey"), 1L)
    IncrementalJoin.applyBatch(s, store, "oc", oBat(2), cBat(2), Seq("o_custkey"), 2L)
    assert(canon(IncrementalJoin.read(s, store, "oc")) == canon(o.join(c, "o_custkey")))
  }

  test("compaction folds history into one partition per table, preserves reads, and later batches still land") {
    val s = spark
    val (o, c, oBat, cBat) = frames()
    val store = freshStore()
    (0 until 2).foreach(i =>
      IncrementalJoin.applyBatch(s, store, "oc", oBat(i), cBat(i), Seq("o_custkey"), i.toLong))
    val beforeCompact = canon(IncrementalJoin.read(s, store, "oc"))
    IncrementalJoin.compact(s, store, "oc", 1L)
    assert(canon(IncrementalJoin.read(s, store, "oc")) == beforeCompact)
    // exactly one partition value survives per table
    for (t <- Seq("oc_left", "oc_right", "oc_out"))
      assert(store.read(s, t).select(col("_ij_bn").cast("long")).distinct().collect()
        .map(_.getLong(0)).toSeq == Seq(1L))
    // idempotent
    IncrementalJoin.compact(s, store, "oc", 1L)
    assert(canon(IncrementalJoin.read(s, store, "oc")) == beforeCompact)
    // the next batch folds against the compacted history correctly
    IncrementalJoin.applyBatch(s, store, "oc", oBat(2), cBat(2), Seq("o_custkey"), 2L)
    assert(canon(IncrementalJoin.read(s, store, "oc")) == canon(o.join(c, "o_custkey")))
  }

  test("empty deltas are fine; overlapping non-key columns are rejected") {
    val s = spark
    val (_, _, oBat, cBat) = frames()
    val store = freshStore()
    IncrementalJoin.applyBatch(s, store, "oc", oBat(0), cBat(0), Seq("o_custkey"), 0L)
    val n = IncrementalJoin.applyBatch(s, store, "oc",
      oBat(1).limit(0), cBat(1), Seq("o_custkey"), 1L)
    // batch 1 customers matching batch 0 orders still land
    val expect = oBat(0).join(cBat(1), "o_custkey").count()
    assert(n == expect)
    val e = intercept[IllegalArgumentException] {
      IncrementalJoin.applyBatch(s, store, "oc",
        oBat(2), cBat(2).withColumn("o_totalprice", lit(0.0)), Seq("o_custkey"), 2L)
    }
    assert(e.getMessage.contains("disjoint"))
  }
}
