package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, Smoke, Profile and the specs
  * all build their session here, so the oracle and the specs run the
  * confs the bench times. Adaptive execution keeps Spark 4.1's defaults
  * (on, with partition coalescing and skew-join splitting). */
object GraftSession {
  /** Core count for Bench, Verify and Profile: `SPARK_GRAFT_CPUS`, 32 if unset. */
  val envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions) // native fns + SQL MERGE parser
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Streaming checkpoints live in per-run dirs that each gate wipes
      // before use, so Spark's checkpoint file checksums guard nothing
      // that outlives the run; with them off the 36 streamed gates went
      // 180.8 s -> 155.7 s (r13, sf0.1). The raw file:// AbstractFileSystem
      // likewise drops Hadoop's .crc sidecar from every checkpoint and
      // state-store file (t3_stream_join_outer 10.3 -> 8.1 s). The key is
      // scheme-scoped: hdfs:// or s3a:// checkpoints are untouched, and
      // data-path writes (TableStore, outputs) keep their CRC sidecars.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")

  def get(cores: Int = envCores): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
