package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.functions.Functions
import graft.sources.Tables

/** The recall properties that let `x1_erasure_cascade` share ONE
  * brute-force surviving-corpus oracle across all four vector probe
  * paths (the SqFunnelSpec/IvfRemoveSpec gating discipline, post-
  * erasure): after the cascade removes doc_id ≡ 3 (mod 17) from every
  * artifact, each funnel's shortlist/candidate set must still contain
  * the exact top-10 over the SURVIVORS. Pinned at sf0.001 and sf0.01
  * (the correctness-gate scales — seconds to build); sf0.1 was
  * measured green by the same oracle when the query shipped. */
class ErasureCascadeSpec extends SparkSpec {

  private def cascadeStore(sf: String): (graft.operators.TableStore, DataFrame) = {
    val s = spark
    val dir = s"/root/testdata/$sf"
    // the query itself builds (or warms) the store and runs the cascade
    DedupQueries.all("x1_erasure_cascade")(s, dir).count()
    (DedupQueries.cascadeStore(s, dir), Tables.embeddings(s, dir))
  }

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"post-erasure funnel shortlists contain the survivors' exact top-10 at $sf") {
      val s = spark
      Functions.register(s)
      val (store, emb) = cascadeStore(sf)
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      val truth = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 17 =!= 3)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(Functions.cosine(col("embedding"), col("qv")) * 1000000d)
            .cast("long").as("sim6"))
        .orderBy(col("sim6").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSeq

      // IVF probed candidates (the postings the probe can still see)
      val ivf = graft.operators.Ivf.probeTopK(s, store, "ivf",
          emb.filter(col("vec_id") === 0L).select("embedding"), 0L, 50)
        .collect().map(_.getLong(0)).toSet
      assert(truth.forall(ivf.contains),
        s"ivf misses ${truth.filterNot(ivf.contains)}")

      // ANN bucket collisions post bucket-row erasure
      val ann = graft.operators.Ann.probeTopK(emb, "vec_id", "embedding",
          store, "ann", queryId = 0L, k = 50)
        .collect().map(_.getLong(0)).toSet
      assert(truth.forall(ann.contains),
        s"ann misses ${truth.filterNot(ann.contains)}")

      // SQ integer shortlist over the surviving code table
      val codes = store.read(s, "sq_codes")
      val q = codes.filter(col("vec_id") === 0)
        .select(col("code").as("qcode"), col("csq").as("qsq"))
      val sq = codes.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("intdot", expr(
          "aggregate(zip_with(code, qcode, (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)"))
        .withColumn("approx", col("intdot") / sqrt((col("csq") * col("qsq")).cast("double")))
        .orderBy(col("approx").desc, col("vec_id")).limit(50)
        .collect().map(_.getLong(0)).toSet
      assert(truth.forall(sq.contains), s"sq misses ${truth.filterNot(sq.contains)}")

      // BQ asymmetric-sign shortlist over the surviving code table
      val q6 = emb.filter(col("vec_id") === 0L)
        .select(expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))").as("q6"))
      val bq = store.read(s, "bq_codes").filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q6))
        .withColumn("iscore", expr(
          "aggregate(zip_with(q6, sequence(0, 63), (x, i) -> " +
            "IF(getbit(code, i) = 1, x, -x)), cast(0 as bigint), (acc, e) -> acc + e)"))
        .orderBy(col("iscore").desc, col("vec_id")).limit(256)
        .collect().map(_.getLong(0)).toSet
      assert(truth.forall(bq.contains), s"bq misses ${truth.filterNot(bq.contains)}")

      // every shortlist is erased-free by construction of the artifacts
      val erased = (ivf ++ ann ++ sq ++ bq).filter(_ % 17 == 3)
      assert(erased.isEmpty, s"erased ids still servable: $erased")
    }
}
