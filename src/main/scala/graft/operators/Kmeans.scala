package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-integer distributed k-means (Lloyd's) over an embedding
  * column — the clustering primitive behind semantic dedup (SemDeDup,
  * Abbas et al. 2023: cluster with k-means, then near-dup only WITHIN
  * a cluster) and corpus diversity audits.
  *
  * Cross-engine exactness discipline (same as `x2_centroid_classify`):
  * the whole geometry runs in integers. Values quantize to 1e-6 and
  * SHIFT non-negative (squared distances are shift-invariant, and
  * non-negativity makes DuckDB's floor-`//` agree with Spark/Scala
  * truncating division), centroid updates are round-half-up rational
  * means `(2S + n) div 2n`, and squared distances are exact longs
  * (diff² ≤ ~4e12 × 64 dims ≈ 2.6e14 per pair; the per-cluster SUM
  * is bounded by corpus size × that — overflow needs ~3.5e4 rows/
  * cluster × 1e15 wait, n·2.6e14 < 9.2e18 up to n ≈ 3.5e4 rows — see
  * `inertia` note on `assign` for the 100 TB guidance). Argmin ties
  * break on the smallest centroid id (array order).
  *
  * Scale shape (the Lloyd plan a 1000-executor cluster wants):
  *  - assignment is MAP-SIDE ONLY: centroids travel to executors as a
  *    literal k×d long array inside one codegen'd projection — no
  *    join, no shuffle, vectors never leave their input partition;
  *  - the update step explodes dims AFTER assignment and runs one
  *    partial+final hash aggregate on (cid, idx) — the only exchange
  *    per iteration carries ≤ partitions × k × d pre-combined rows;
  *  - driver state is k·d longs (`iterate` collects the k×d sums).
  *    The literal-centroid path is right for k·d up to ~10⁵ entries;
  *    beyond that (SemDeDup at web scale uses k ~ 10⁴–10⁵, d ~ 10³)
  *    swap `assign` for the broadcast-join form (explode k candidates
  *    per row, argmin via min_by — the `x2_centroid_classify` plan):
  *    same semantics, one broadcast instead of a literal.
  *
  * Reference: the reference engine has no clustering; this is part of
  * the training-data-pipeline surface (builder brief) the library
  * adds beyond /root/reference/scrapper.py's ETL.
  */
object Kmeans {

  /** Per-dim scaled long: round(x·1e6) + 1e6 — exact, non-negative. */
  def scaledVec(vecCol: Column): Column =
    transform(vecCol, x =>
      round(x.cast("double") * lit(1000000d)).cast("long") + lit(1000000L))

  /** Exact squared distance between a scaled-vector column and one
    * literal centroid. */
  private def d2Lit(x6: Column, c: Seq[Long]): Column =
    aggregate(
      zip_with(x6, typedLit(c), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)

  /** Assignment projection: (id, cid, d2) with centroids inlined as
    * literals — zero shuffle, zero join; `cid` is the 0-based argmin
    * index (ties → smallest cid via first-match array_position). */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Long]]): DataFrame = {
    val x6 = scaledVec(col(vecCol))
    val dists = array(cents.toIndexedSeq.map(c => d2Lit(x6, c.toIndexedSeq)): _*)
    emb.select(col(idCol).cast("long").as("id"), dists.as("dists"))
      .select(col("id"),
        (array_position(col("dists"), array_min(col("dists"))) - 1L).as("cid"),
        array_min(col("dists")).as("d2"))
  }

  /** `iters` Lloyd rounds from deterministic seeds (the vectors with
    * the k smallest ids). Returns the final centroids as scaled
    * longs, cid order = seed id order. An emptied cluster keeps its
    * previous centroid (both engines must agree on SOME rule; this
    * one needs no extra state). */
  def fit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Array[Array[Long]] = {
    val x = emb.select(col(idCol).cast("long").as("id"),
      scaledVec(col(vecCol)).as("x6"))
    var cents: Array[Array[Long]] = x
      .orderBy("id").limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    require(cents.length == k, s"corpus has < $k vectors")
    for (_ <- 1 to iters) {
      // argmin inline on the SAME projection that carries x6: the
      // whole update step is one map-side pass + the (cid, idx)
      // aggregate — no join, no second scan of the corpus
      val dists = array(cents.toIndexedSeq.map(c =>
        aggregate(zip_with(col("x6"), typedLit(c.toIndexedSeq),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v)): _*)
      // two-step select on purpose: "dists" is referenced twice, so
      // CollapseProject keeps the child projection and the k×d
      // distance array is evaluated ONCE per row, not per reference
      val withCid = x.select(col("x6"), dists.as("dists"))
        .select(col("x6"),
          (array_position(col("dists"), array_min(col("dists"))) - 1L).as("cid"))
      val sums = withCid
        .select(col("cid"), posexplode(col("x6")).as(Seq("idx", "v")))
        .groupBy("cid", "idx")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val cid = r.getLong(0).toInt
        val idx = r.getInt(1)
        val s = r.getLong(2); val n = r.getLong(3)
        // round-half-up rational mean; all operands non-negative so
        // truncating / == floor == DuckDB //
        next(cid)(idx) = (2L * s + n) / (2L * n)
      }
      cents = next
    }
    cents
  }

  /** fit + one more assignment pass with the final centroids — the
    * standard "labels of the fitted model" contract. */
  def fitAssign(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): (Array[Array[Long]], DataFrame) = {
    val cents = fit(emb, idCol, vecCol, k, iters)
    (cents, assign(emb, idCol, vecCol, cents))
  }
}
