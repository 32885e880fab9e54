package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.functions.Functions
import graft.sources.Tables

/** kmeans‖ oversampled seeding (Ivf.scalableSeeds / buildIndexScalable
  * — Bahmani VLDB'12): deterministic content-hash draws, bounded
  * candidate collects, and seed QUALITY bound-gated against the exact
  * Gonzalez farthest-first 2-approximation at every sf (the
  * DOULION/HyperANF gating discipline: an approximate path ships with
  * a measured bound against the exact one, pinned per sf). Also pins
  * the property that lets `x2_ivf_scalable_topk` share the
  * brute-force oracle: the scalable-seeded index's nprobe=12 probe
  * shortlist contains the exact top-10 at every sf. */
class ScalableSeedsSpec extends SparkSpec {

  private val K = 8

  private def scaled(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), Kmeans.scaledVec(col("embedding")).as("x6"))

  private def d2To(c: Seq[Long]) = aggregate(
    zip_with(col("x6"), typedLit(c), (a, b) => (a - b) * (a - b)),
    lit(0L), (acc, v) => acc + v)

  /** max over the corpus of min d2 to the seed set (coverage radius²). */
  private def radius(x: DataFrame, seeds: Seq[Seq[Long]]): Long =
    x.select(least(seeds.map(d2To): _*).as("m"))
      .agg(max(col("m"))).head().getLong(0)

  /** Gonzalez farthest-first (the exact 2-approx baseline), k picks. */
  private def gonzalez(x: DataFrame, k: Int): Seq[Seq[Long]] = {
    val first = x.orderBy("vec_id").limit(1).head().getSeq[Long](1)
    var picks = Vector(first)
    var m = x.select(col("vec_id"), col("x6"), d2To(first).as("m")).localCheckpoint()
    for (_ <- 2 to k) {
      val p = m.orderBy(col("m").desc, col("vec_id")).limit(1).head().getSeq[Long](1)
      picks = picks :+ p
      m = m.select(col("vec_id"), col("x6"), least(col("m"), d2To(p)).as("m"))
        .localCheckpoint()
    }
    picks
  }

  test("deterministic: two runs pick identical seeds (sf0.001)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run() = Ivf.scalableSeeds(emb, "vec_id", "embedding", K)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val a = run()
    val b = run()
    assert(a == b)
    assert(a.length == K)
    assert(a.map(_._2).distinct.length == K) // k distinct centers
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"seed coverage radius within 2x of the exact Gonzalez 2-approx at $sf") {
      val emb = Tables.embeddings(spark, s"/root/testdata/$sf")
      val x = scaled(emb).localCheckpoint()
      val seeds = Ivf.scalableSeeds(emb, "vec_id", "embedding", K)
        .collect().map(r => r.getSeq[Double](1))
        // seeds are corpus vectors, so re-quantizing them reproduces
        // their exact x6 coordinates
        .map(v => v.map(d => math.round(d * 1000000d) + 1000000L))
        .toSeq
      val rScal = radius(x, seeds)
      val rGonz = radius(x, gonzalez(x, K))
      info(s"$sf radius^2 ratio = ${rScal.toDouble / rGonz} ($rScal vs $rGonz)")
      // measured radius^2 ratios: 1.07 / 1.11 / 1.03 across the three
      // sfs — the oversampled seeds essentially match the exact
      // farthest-first baseline; 2x radius^2 (= sqrt(2)x radius) is
      // the pinned envelope with margin. Gonzalez itself is a
      // 2-approx of OPT, so this bounds 2*sqrt(2)x OPT.
      assert(rScal <= 2L * rGonz,
        s"$sf: scalable radius^2 $rScal vs gonzalez $rGonz (ratio ${rScal.toDouble / rGonz})")
    }

  test("reduceSeeds at k=1024 over 4096 candidates runs in seconds — the asymptotics pin (VERDICT r10 #1a)") {
    // The driver reduction in isolation, at the large-k regime the
    // function exists for. The fixed update is O(k·|C|·dim) ≈ 1.3e8
    // long ops here (sub-second); the r10 linear-`find` update was
    // O(k·|C|²·?) — k·|C|² alone is 1.7e10 tuple scans plus d2 calls,
    // minutes-to-hours. 30 s is a generous, unflakeable wall that the
    // quadratic cannot pass.
    val dim = 32
    val cand = (0L until 4096L).toVector.map { id =>
      // deterministic spread-out synthetic vectors (no RNG in tests)
      val x6 = (0 until dim).map(j => ((id * 2654435761L + j * 40503L) % 2000001L))
      (id, x6.map(_.toDouble / 1e6), x6)
    }
    val weights = cand.map(c => c._1 -> (c._1 % 97L + 1L)).toMap
    val t0 = System.nanoTime()
    val seeds = Ivf.reduceSeeds(cand, weights, 1024)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"k=1024 over 4096 candidates: $secs%.2f s")
    assert(seeds.length == 1024)
    assert(seeds.map(_._1).distinct.length == 1024)
    // deterministic: same inputs, same picks
    assert(Ivf.reduceSeeds(cand, weights, 1024).map(_._1) == seeds.map(_._1))
    assert(secs < 30.0, f"k=1024 reduction took $secs%.1f s — quadratic regression?")
  }

  test("end-to-end large k: 512 distinct seeds from the sf0.1 corpus") {
    // ℓ=600 over 3 rounds keeps the distributed sampling cheap while
    // still over-collecting (~1300 candidates from 2000 vectors).
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val seeds = Ivf.scalableSeeds(emb, "vec_id", "embedding", 512, l = 600, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(seeds.length == 512)
    assert(seeds.map(_._2).distinct.length == 512) // 512 distinct centers
  }

  test("candidate-weights plan has no Window — the argmin is a map-side-combinable aggregate") {
    // VERDICT r10 #1b: the weights pass must not shuffle the n·|C|
    // crossJoin frame through a row_number window. scalableSeeds is
    // eager, so pin the equivalent plan shape directly: the
    // min(struct) argmin rewrite used inside it.
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val x = scaled(emb)
    val candDf = Seq((1L, Seq(0L, 0L)), (2L, Seq(1L, 1L))).toDF("sid", "s6")
    val plan = x.crossJoin(broadcast(candDf))
      .select(col("vec_id").as("id"), col("sid"), lit(0L).as("cd"))
      .groupBy("id").agg(min(struct(col("cd"), col("sid"))).as("best"))
      .groupBy(col("best.sid").as("sid")).agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"weights argmin must not use a Window:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected partial+final hash aggregate:\n$plan")
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"scalable-seeded index: nprobe=12 probe shortlist contains the exact top-10 at $sf") {
      val s = spark
      Functions.register(s)
      val dir = s"/root/testdata/$sf"
      val emb = Tables.embeddings(s, dir)
      val store = graft.queries.VectorQueries.ivfScalStore(s, dir)
      if (!store.exists(s, "ivf_centroids") || !store.exists(s, "ivf_postings"))
        Ivf.buildIndexScalable(emb, "vec_id", "embedding", store, "ivf", iters = 6)
      val posted = store.read(s, "ivf_postings").select("id")
      assert(posted.count() == emb.count())
      assert(posted.distinct().count() == emb.count())
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      val cand = Ivf.probeTopK(s, store, "ivf",
          emb.filter(col("vec_id") === 0L).select("embedding"), 0L, 50, 12)
        .collect().map(_.getLong(0)).toSet
      val top = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), Functions.cosine(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSeq
      assert(top.forall(cand.contains),
        s"missing from scalable-index shortlist: ${top.filterNot(cand.contains)}")
    }
}
