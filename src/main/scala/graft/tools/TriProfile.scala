package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc plan/stage profiler for the a17 triangle path (r11 drift
  * audit). Not part of the driver contract. */
object TriProfile {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[tri] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val store = new graft.operators.TableStore(
      s"${graft.sources.Tables.TmpRoot}/copurchase-pairs/v2/${graft.sources.Tables.fileKey(spark, dir, "lineitem.parquet")}")
    val pairs = store.read(spark, "pairs").select("part_a", "part_b")
    time("pairs count")(println(pairs.count()))
    val deg = pairs.select(col("part_a").as("n")).union(pairs.select(col("part_b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val rankLt = col("da") < col("db") ||
      (col("da") === col("db") && col("part_a") < col("part_b"))
    val oriented = time("orient+checkpoint")(pairs
      .join(deg.toDF("part_a", "da"), Seq("part_a"))
      .join(deg.toDF("part_b", "db"), Seq("part_b"))
      .select(
        when(rankLt, col("part_a")).otherwise(col("part_b")).as("src"),
        when(rankLt, struct(col("part_b").as("x"), col("db").as("xd")))
          .otherwise(struct(col("part_a").as("x"), col("da").as("xd"))).as("ds"))
      .select(col("src"), col("ds").getField("x").as("dst"), col("ds").getField("xd").as("dd"))
      .localCheckpoint(true))
    val wedges = oriented.toDF("apex", "b", "bd")
      .join(oriented.toDF("apex", "c", "cd"), Seq("apex"))
      .filter(col("bd") < col("cd") || (col("bd") === col("cd") && col("b") < col("c")))
      .select(col("apex"), col("b"), col("c"))
    time("wedge count only")(println(wedges.count()))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    val tri = wedges.join(broadcast(closing), Seq("b", "c"), "left_semi")
    tri.explain("formatted")
    time("triangles (broadcast closing)")(println(tri.count()))
    val tri2 = wedges.join(closing, Seq("b", "c"), "left_semi")
    time("triangles (unhinted closing)")(println(tri2.count()))
    spark.stop()
  }
}
