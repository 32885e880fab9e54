package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Functions
import graft.sources.Tables

/** Pins the `x2_mips_indexed` funnel contract (the SqFunnelSpec
  * discipline): the augmented-IVF candidate shortlist CONTAINS the
  * exact inner-product top-10 at every testdata sf — the property
  * that lets the indexed query share x2_mips_topk's brute-force
  * oracle — plus the reduction's geometric invariants (every
  * augmented vector has norm M, augmented dot == raw inner product)
  * and build-once warm reuse of the persisted index. */
class MipsIndexedSpec extends SparkSpec {

  private def exactTop10(dir: String): Seq[Long] = {
    val s = spark
    Functions.register(s)
    val emb = Tables.embeddings(s, dir)
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))))
      .select(col("vec_id"),
        round(Functions.dotd(col("embedding"), col("qv")) * 1000000d)
          .cast("long").as("dot6"))
      .orderBy(col("dot6").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"augmented-IVF shortlist contains the exact MIPS top-10 at $sf") {
      val s = spark
      Functions.register(s)
      val dir = s"/root/testdata/$sf"
      val emb = Tables.embeddings(s, dir)
      val store = graft.queries.VectorQueries.mipsStore(s, dir)
      if (!store.exists(s, "mips_centroids") || !store.exists(s, "mips_postings"))
        Ivf.buildIndex(Mips.augment(emb, "vec_id", "embedding"), "vec_id", "aug", store, "mips")
      val qRaw = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      val cand = Ivf.probeTopK(s, store, "mips",
          Mips.augmentQuery(qRaw, "qv"), 0L, 50, 12)
        .collect().map(_.getLong(0)).toSet
      val top = exactTop10(dir)
      assert(top.forall(cand.contains),
        s"missing from shortlist: ${top.filterNot(cand.contains)}")
    }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"BATCH probe: per-query shortlist contains each exact MIPS top-5 at $sf") {
      val s = spark
      Functions.register(s)
      val dir = s"/root/testdata/$sf"
      val emb = Tables.embeddings(s, dir)
      val store = graft.queries.VectorQueries.mipsStore(s, dir)
      if (!store.exists(s, "mips_centroids") || !store.exists(s, "mips_postings"))
        Ivf.buildIndex(Mips.augment(emb, "vec_id", "embedding"), "vec_id", "aug", store, "mips")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"),
          concat(col("embedding").cast("array<double>"), array(lit(0d))).as("qv"))
      val short = Ivf.probeTopKBatch(s, store, "mips", queries, 50, 14)
        .select(col("q"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // exact per-query inner-product top-5
      val qe = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q"), col("embedding").as("qraw"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q")).orderBy(col("dot6").desc, col("vec_id"))
      val top5 = emb.crossJoin(broadcast(qe)).filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          round(Functions.dotd(col("embedding"), col("qraw")) * 1000000d)
            .cast("long").as("dot6"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("q"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val missing = top5.filterNot(short.contains)
      assert(missing.isEmpty, s"missing from batch shortlists: ${missing.toSeq}")
    }

  test("reduction invariants: constant augmented norm M; augmented dot == raw inner product") {
    val s = spark
    Functions.register(s)
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(s, dir)
    val m2 = Mips.maxSqNorm(emb, "embedding")
    val aug = Mips.augment(emb, "vec_id", "embedding")
    // ‖x'‖² == M² within float tolerance, for EVERY vector
    val badNorm = aug
      .select(Functions.dotd(col("aug"), col("aug")).as("n2"))
      .filter(abs(col("n2") - lit(m2)) > 1e-9 * m2)
    assert(badNorm.count() == 0)
    // x'·q' == x·q exactly (query pad is a literal 0)
    val q = emb.filter(col("vec_id") === 7L).select(col("embedding").as("qv"))
    val qa = Mips.augmentQuery(q, "qv", "qaug")
    val badDot = aug.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .crossJoin(broadcast(q)).crossJoin(broadcast(qa))
      .select((Functions.dotd(col("aug"), col("qaug")) -
        Functions.dotd(col("embedding").cast("array<double>"), col("qv").cast("array<double>"))).as("d"))
      .filter(abs(col("d")) > 1e-12)
    assert(badDot.count() == 0)
  }

  test("indexed answer equals brute force; warm call reuses the committed index") {
    val s = spark
    Functions.register(s)
    val dir = "/root/testdata/sf0.01"
    val store = graft.queries.VectorQueries.mipsStore(s, dir)
    val got = Mips.indexedTopK(s, Tables.embeddings(s, dir), "vec_id", "embedding",
        store, "mips", 0L, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactTop10(dir))
    // warm call resolves the SAME committed versions (no rebuild)
    val v1 = (store.resolve(s, "mips_centroids"), store.resolve(s, "mips_postings"))
    Mips.indexedTopK(s, Tables.embeddings(s, dir), "vec_id", "embedding",
      store, "mips", 0L, 10).collect()
    assert((store.resolve(s, "mips_centroids"), store.resolve(s, "mips_postings")) == v1)
  }
}
