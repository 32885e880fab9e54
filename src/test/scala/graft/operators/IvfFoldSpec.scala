package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Functions
import graft.sources.Tables

/** Pins the incremental-IVF contract (`Ivf.fold`, the TextIndex.fold
  * sibling): a 90%-built + 10%-folded index indexes EVERY vector
  * exactly once, its nprobe=8 probe shortlist contains the exact
  * top-10 at every sf (the property that lets `x2_ivf_fold_topk`
  * share the brute-force oracle — the measured cliff is cell rank 6),
  * folding an already-indexed id is rejected, and untouched cid
  * partitions keep their files byte-identical across a fold. */
class IvfFoldSpec extends SparkSpec {

  private def foldStore(dir: String): TableStore = {
    val s = spark
    val store = graft.queries.VectorQueries.ivfFoldStore(s, dir)
    if (!store.exists(s, "ivf_centroids") || !store.exists(s, "ivf_postings")) {
      val emb = Tables.embeddings(s, dir)
      Ivf.buildIndex(emb.filter(col("vec_id") % 10 =!= 9), "vec_id", "embedding", store, "ivf")
      Ivf.fold(s, store, "ivf", emb.filter(col("vec_id") % 10 === 9), "vec_id", "embedding")
    }
    store
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"folded index: every vector indexed once; probe shortlist contains exact top-10 at $sf") {
      val s = spark
      Functions.register(s)
      val dir = s"/root/testdata/$sf"
      val emb = Tables.embeddings(s, dir)
      val store = foldStore(dir)
      // exhaustiveness + uniqueness: one posting per corpus vector
      val posted = store.read(s, "ivf_postings").select("id")
      assert(posted.count() == emb.count())
      assert(posted.distinct().count() == emb.count())
      // probe recall: the stock nprobe=8 candidate set contains the truth
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      val cand = Ivf.probeTopK(s, store, "ivf",
          emb.filter(col("vec_id") === 0L).select("embedding"), 0L, 50, 8)
        .collect().map(_.getLong(0)).toSet
      val top = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), Functions.cosine(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSeq
      assert(top.forall(cand.contains),
        s"missing from folded-index shortlist: ${top.filterNot(cand.contains)}")
    }

  test("folding an already-indexed id is rejected; untouched partitions stay byte-identical") {
    val s = spark; import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(s, dir)
    // THROWAWAY store: this test mutates the index, and the shared
    // fingerprint-keyed store serves the oracle-gated query
    val store = new TableStore(java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ivffold-").toString)
    Ivf.buildIndex(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", store, "ivf")
    Ivf.fold(s, store, "ivf", emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ivf.fold(s, store, "ivf", emb.filter(col("vec_id") === 2L), "vec_id", "embedding")
    }
    assert(e.getMessage.contains("already indexed"))
    // fold ONE new vector (clone of vec 5 under a fresh id): only its
    // assigned cell's partition may change
    val fresh = emb.filter(col("vec_id") === 5L)
      .select(lit(100000L).as("vec_id"), col("embedding"), col("label"))
    def fileState(): Map[String, Long] = {
      val base = new java.io.File(store.livePath("ivf_postings"))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(base).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }
    val before = fileState()
    Ivf.fold(s, store, "ivf", fresh, "vec_id", "embedding")
    val after = fileState()
    // exactly the rewritten partitions are new paths; every surviving
    // old path is untouched (same length; paths are content-addressed
    // version dirs, so survival == byte-identity per the store contract)
    val survivors = after.keySet.intersect(before.keySet)
    assert(survivors.nonEmpty, "a 1-vector fold must not rewrite every partition")
    survivors.foreach(p => assert(after(p) == before(p)))
    assert(store.read(s, "ivf_postings").filter($"id" === 100000L).count() == 1)
  }
}
