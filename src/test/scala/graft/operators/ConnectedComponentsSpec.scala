package graft.operators

import graft.SparkSpec

/** Pins `Dedup.clusterLabelsStar` (alternating large-star/small-star
  * contraction, the O(log² n)-round scale path) exactly equal to
  * `Dedup.clusterLabels` (min-label propagation, the O(diameter)
  * reference) on the graph shapes that stress each: long chains
  * (diameter = n, worst case for propagation), cliques and stars
  * (already depth-1), binary trees, and seeded random graphs with
  * many components and isolated docs. */
class ConnectedComponentsSpec extends SparkSpec {

  private def labels(docs: Seq[Long], pairs: Seq[(Long, Long)],
      star: Boolean, driverMaxEdges: Long = Dedup.DriverMaxEdges): Map[Long, Long] = {
    val s = spark; import s.implicits._
    val d = docs.toDF("doc_id")
    val p = pairs.toDF("idA", "idB")
    val df = if (star) Dedup.clusterLabelsStar(d, "doc_id", p,
               driverMaxEdges = driverMaxEdges)
             else Dedup.clusterLabels(d, "doc_id", p, maxIter = 200)
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def check(docs: Seq[Long], pairs: Seq[(Long, Long)]): Unit = {
    val ref = labels(docs, pairs, star = false)
    // the small-edge-set driver union-find path (default gate) AND the
    // distributed star-contraction path (gate forced shut) must both
    // equal the min-label reference — the r13 size gate may never
    // change a label, only the plan
    val got = labels(docs, pairs, star = true)
    val gotDist = labels(docs, pairs, star = true, driverMaxEdges = -1L)
    assert(got == ref, s"driver union-find != min-label on ${pairs.take(20)}…")
    assert(gotDist == ref, s"star contraction != min-label on ${pairs.take(20)}…")
    // every doc labeled exactly once
    assert(got.keySet == docs.toSet)
  }

  test("long chain: diameter-n graph collapses to the min id") {
    val n = 60L
    val docs = (1L to n)
    val pairs = (1L until n).map(i => (i, i + 1))
    val got = labels(docs, pairs, star = true)
    assert(got.values.toSet == Set(1L))
    check(docs, pairs)
  }

  test("chain given in adversarial (descending, shuffled) edge order") {
    val n = 40L
    val docs = (1L to n)
    val pairs = new scala.util.Random(7)
      .shuffle((1L until n).map(i => (i + 1, i)).toList)
    check(docs, pairs)
  }

  test("clique + star + singleton mix") {
    val docs = 1L to 20L
    val clique = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val star = (7L to 12L).map(i => (6L, i))
    check(docs, clique ++ star)
  }

  test("binary tree rooted at the max id (labels flow to min leaf)") {
    val docs = 1L to 31L
    // node i's children 2i, 2i+1 — relabel so the min sits at a leaf
    val pairs = (1L to 15L).flatMap(i => Seq((32L - i, 32L - 2 * i), (32L - i, 32L - (2 * i + 1))))
    check(docs, pairs)
  }

  test("seeded random graphs: many components, self-dup-free") {
    val rnd = new java.util.Random(42)
    for (_ <- 0 until 5) {
      val n = 50 + rnd.nextInt(100)
      val docs = (1L to n.toLong)
      val m = n / 2 + rnd.nextInt(n)
      val pairs = (0 until m).map { _ =>
        val a = 1L + rnd.nextInt(n); val b = 1L + rnd.nextInt(n)
        (a, b)
      }.filter(p => p._1 != p._2)
      check(docs, pairs)
    }
  }

  test("empty pair set: every doc is its own cluster") {
    val got = labels(Seq(1L, 2L, 3L), Seq.empty, star = true)
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("real near-dup graph: star == min-label on the sf0.001 pair store") {
    val s = spark
    val docs = graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
    val pairs = Dedup.prefixFilteredNgram(docs, "doc_id", "text", n = 3)
      .select(org.apache.spark.sql.functions.col("idA"),
        org.apache.spark.sql.functions.col("idB"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(Dedup.clusterLabelsStar(docs, "doc_id", pairs)) ==
      m(Dedup.clusterLabels(docs, "doc_id", pairs)))
  }
}
