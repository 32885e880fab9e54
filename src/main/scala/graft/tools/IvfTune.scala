package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Functions
import graft.operators.{Ivf, TableStore}
import graft.sources.Tables

/** Throwaway tuning harness: recall of the persisted-index probe path
  * vs brute force, per sf and nprobe. */
object IvfTune {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Functions.register(spark)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val emb = Tables.embeddings(spark, dir)
      val brute = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))))
        .select(col("vec_id"), Functions.cosine(col("embedding"), col("qv")).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val store = new TableStore(s"${Tables.TmpRoot}/ivf-tune/$sf")
      if (!store.exists(spark, "ivf_centroids"))
        Ivf.buildIndex(emb, "vec_id", "embedding", store, "ivf")
      for (np <- Seq(8, 10, 12, 14, 16)) {
        val got = Ivf.probeTopK(spark, store, "ivf",
            emb.filter(col("vec_id") === 0L).select("embedding"), 0L, 10, nprobe = np)
          .collect().map(_.getLong(0)).toSet
        println(s"TUNE $sf nprobe=$np recall=${(got & brute).size}/10")
      }
    }
    spark.stop()
  }
}
