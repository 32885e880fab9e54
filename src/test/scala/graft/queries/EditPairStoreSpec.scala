package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Pins the persisted edit-distance pair store contract (the
  * tfidfPairs discipline): the stored verified pairs reproduce the
  * direct blocked-join computation exactly, a warm call reuses the
  * committed version (no recompute), and the stored distances honor
  * the cap. */
class EditPairStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def direct(d: String) = {
    val s = spark
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_name"),
        length(col("p_name")).as("len"))
    val probe = p.toDF("k_a", "p_brand", "name_a", "len_a")
      .withColumn("lb", explode(sequence(col("len_a") - 2, col("len_a") + 2)))
    val build = p.toDF("k_b", "p_brand", "name_b", "len_b")
      .withColumn("lb", col("len_b"))
    probe.join(build, Seq("p_brand", "lb"))
      .filter(col("k_a") < col("k_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
      .filter(col("dist") >= 0)
      .select(col("p_brand"), col("k_a"), col("k_b"), col("dist"))
  }

  test("stored pairs == direct blocked computation; distances capped at 2") {
    val s = spark
    val stored = DedupQueries.editPairs(s, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val want = direct(dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(stored == want,
      s"stored minus direct: ${(stored -- want).take(3)}; direct minus stored: ${(want -- stored).take(3)}")
    assert(stored.nonEmpty && stored.forall { case (_, _, _, d) => d >= 0 && d <= 2 })
  }

  test("warm call resolves the same committed version (no rebuild)") {
    val s = spark
    DedupQueries.editPairs(s, dir).count()
    val store = DedupQueries.editPairStore(s, dir)
    val v1 = store.resolve(s, "pairs2")
    DedupQueries.editPairs(s, dir).count()
    assert(store.resolve(s, "pairs2") == v1)
  }
}
