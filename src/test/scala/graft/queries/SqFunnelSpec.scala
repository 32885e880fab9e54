package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Functions
import graft.sources.Tables

/** Pins the `x2_sq_topk` funnel contract: the int8-code integer
  * shortlist CONTAINS the exact cosine top-10 at every testdata sf
  * (the property that lets the funnel share the brute-force oracle —
  * the x2_ann_topk / x2_ivf_topk discipline), the code table is
  * int8-ranged and build-once, and a warm probe reuses the committed
  * version. */
class SqFunnelSpec extends SparkSpec {

  private def exactTop10(dir: String): Seq[Long] = {
    val s = spark
    Functions.register(s)
    val emb = Tables.embeddings(s, dir)
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))))
      .select(col("vec_id"), round(Functions.cosine(col("embedding"), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
  }

  private def shortlist50(dir: String): Set[Long] = {
    val s = spark
    val codes = VectorQueries.storedSqCodes(s, dir, Tables.embeddings(s, dir))
    val q = codes.filter(col("vec_id") === 0)
      .select(col("code").as("qcode"), col("csq").as("qsq"))
    codes.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .withColumn("intdot", expr(
        "aggregate(zip_with(code, qcode, (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)"))
      .withColumn("approx", col("intdot") / sqrt((col("csq") * col("qsq")).cast("double")))
      .orderBy(col("approx").desc, col("vec_id")).limit(50)
      .collect().map(_.getLong(0)).toSet
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"int8 shortlist contains the exact top-10 at $sf") {
      val dir = s"/root/testdata/$sf"
      val top = exactTop10(dir)
      val cand = shortlist50(dir)
      assert(top.forall(cand.contains),
        s"missing from shortlist: ${top.filterNot(cand.contains)}")
    }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"BATCH funnel: per-query int8 shortlist contains each exact top-5 at $sf") {
      val s = spark
      graft.functions.Functions.register(s)
      val dir = s"/root/testdata/$sf"
      val emb = Tables.embeddings(s, dir)
      // exact per-query top-5 (the batch oracle's ranking)
      val qe = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"), col("embedding").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q")).orderBy(col("sim6").desc, col("vec_id"))
      val top5 = emb.crossJoin(broadcast(qe)).filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          round(Functions.cosine(col("embedding"), col("qv")) * 1000000d)
            .cast("long").as("sim6"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // per-query 50-candidate shortlist from the stored codes
      val codes = VectorQueries.storedSqCodes(s, dir, emb)
      val qc = codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"), col("code").as("qcode"), col("csq").as("qsq"))
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q")).orderBy(col("approx").desc, col("vec_id"))
      val short = codes.crossJoin(broadcast(qc)).filter(col("vec_id") =!= col("q"))
        .withColumn("intdot", expr(
          "aggregate(zip_with(code, qcode, (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)"))
        .withColumn("approx", col("intdot") / sqrt((col("csq") * col("qsq")).cast("double")))
        .withColumn("srk", row_number().over(ws)).filter(col("srk") <= 50)
        .select(col("q"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val missing = top5.filterNot(short.contains)
      assert(missing.isEmpty, s"missing from per-query shortlists: ${missing.toSeq}")
    }

  test("codes are int8-ranged with exact csq; build-once warm reuse") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(s, dir)
    val codes = VectorQueries.storedSqCodes(s, dir, emb)
    // every code within [-127, 127]; csq equals the recomputed Σ code²
    val bad = codes.withColumn("mx", expr(
        "array_max(transform(code, x -> abs(x)))"))
      .withColumn("rsq", expr(
        "aggregate(code, cast(0 as bigint), (acc, x) -> acc + x * x)"))
      .filter(col("mx") > 127 || col("rsq") =!= col("csq"))
    assert(bad.count() == 0)
    assert(codes.count() == emb.count())
    // warm call resolves the SAME committed version (no rebuild)
    val store = VectorQueries.sqStore(s, dir)
    val v1 = store.resolve(s, "sq_codes")
    VectorQueries.storedSqCodes(s, dir, emb)
    assert(store.resolve(s, "sq_codes") == v1)
  }

  test("funnel output equals the brute-force top-10 (the oracle contract)") {
    val s = spark
    val dir = "/root/testdata/sf0.01"
    val got = VectorQueries.all("x2_sq_topk")(s, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactTop10(dir))
  }
}
