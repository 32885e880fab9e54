package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Functions
import graft.sources.Tables

/** Pins the IVF erasure contract (`Ivf.remove`): after removing the
  * erased ids not one of them remains servable, every survivor stays
  * indexed exactly once, the nprobe=8 probe shortlist contains the
  * exact surviving top-10 at every sf (measured post-delete cell-rank
  * cliff ≤ 6 — the property that lets `x2_ivf_delete_topk` run on the
  * brute-force surviving-corpus oracle), remove is idempotent (the
  * crash-between-build-and-remove self-heal path), a fully-emptied
  * cell is dropped from the manifest atomically, and untouched cells'
  * files stay byte-identical across a remove. */
class IvfRemoveSpec extends SparkSpec {

  private def delStore(dir: String): TableStore = {
    val s = spark
    val store = graft.queries.VectorQueries.ivfDeleteStore(s, dir)
    if (!store.exists(s, "ivf_centroids") || !store.exists(s, "ivf_postings"))
      Ivf.buildIndex(Tables.embeddings(s, dir), "vec_id", "embedding", store, "ivf")
    Ivf.remove(s, store, "ivf",
      Tables.embeddings(s, dir).filter(col("vec_id") % 17 === 3).select("vec_id"), "vec_id")
    store
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"erased ids unservable, survivors indexed once, shortlist contains surviving top-10 at $sf") {
      val s = spark
      Functions.register(s)
      val dir = s"/root/testdata/$sf"
      val emb = Tables.embeddings(s, dir)
      val store = delStore(dir)
      val posted = store.read(s, "ivf_postings").select("id")
      assert(posted.filter(col("id") % 17 === 3).count() == 0L)
      val nSurvivors = emb.filter(col("vec_id") % 17 =!= 3).count()
      assert(posted.count() == nSurvivors)
      assert(posted.distinct().count() == nSurvivors)
      // second remove of the same set: idempotent no-op
      assert(Ivf.remove(s, store, "ivf",
        emb.filter(col("vec_id") % 17 === 3).select("vec_id"), "vec_id") == 0L)
      // probe recall over the surviving corpus at stock nprobe=8
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
      val cand = Ivf.probeTopK(s, store, "ivf",
          emb.filter(col("vec_id") === 0L).select("embedding"), 0L, 50, 8)
        .collect().map(_.getLong(0)).toSet
      val top = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 17 =!= 3)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), Functions.cosine(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSeq
      assert(top.forall(cand.contains),
        s"missing from post-delete shortlist: ${top.filterNot(cand.contains)}")
    }

  test("emptying a cell drops its partition atomically; untouched cells byte-identical; unindexed id is a no-op") {
    val s = spark; import s.implicits._
    Functions.register(s)
    val emb = Tables.embeddings(s, "/root/testdata/sf0.001")
    // THROWAWAY store: this test empties a whole cell
    val store = new TableStore(java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ivfdel-").toString)
    Ivf.buildIndex(emb, "vec_id", "embedding", store, "ivf")
    // the smallest cell's full posting list becomes the erase set
    val victim = store.read(s, "ivf_postings").groupBy("cid").count()
      .orderBy(col("count"), col("cid")).limit(1)
      .collect().head.getInt(0)
    val victimIds = store.read(s, "ivf_postings")
      .filter(col("cid") === victim).select(col("id").as("vec_id"))
    def fileState(): Map[String, Long] = {
      val base = new java.io.File(store.livePath("ivf_postings"))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(base).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }
    val before = fileState()
    val nVictim = victimIds.count()
    assert(Ivf.remove(s, store, "ivf", victimIds, "vec_id") == nVictim)
    val after = fileState()
    // the emptied cell serves zero rows, through BOTH read paths
    assert(store.read(s, "ivf_postings").filter(col("cid") === victim).count() == 0L)
    assert(store.prunedRead(s, "ivf_postings", "cid", Seq(victim)).count() == 0L)
    // every other cell's files never moved (paths are content-addressed
    // version dirs, so survival == byte-identity per the store contract)
    val survivors = after.keySet.intersect(before.keySet)
    assert(survivors == after.keySet, "a cell-emptying remove must not rewrite other cells")
    survivors.foreach(p => assert(after(p) == before(p)))
    // removing a never-indexed id: no-op, returns 0
    assert(Ivf.remove(s, store, "ivf", Seq(999999L).toDF("vec_id"), "vec_id") == 0L)
  }
}
