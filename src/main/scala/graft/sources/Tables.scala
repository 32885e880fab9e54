package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated star-schema parquet tables
  * (see /root/repo/TESTDATA.md and FIXTURES.md §B).
  *
  * Plain `spark.read.parquet` — vectorized columnar scan with Catalyst
  * predicate pushdown and column pruning for free. At 100 TB the same
  * call reads a partitioned directory tree; nothing here assumes a
  * single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Root of every build-once artifact store and streamed-gate run dir
    * the library keeps on disk. The one store-root literal in the main
    * tree; the benchmark build (perfbench/build.sbt) rewrites it so each
    * benchmark run starts from an empty root. */
  val TmpRoot = "/root/repo/target/tmp"

  /** Cache key for persisted per-corpus artifacts (pair stores, text/
    * vector indexes): sf dir name + a fingerprint (length ⊕ mtime) of
    * the backing file. ONE shared convention — if the fingerprint
    * scheme ever changes, every artifact consumer moves together
    * instead of some silently serving stale oracle-gated data. */
  def fileKey(spark: SparkSession, dir: String, file: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$file")
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    s"${new java.io.File(dir).getName}-${java.lang.Long.toHexString(st.getLen * 31 + st.getModificationTime)}"
  }

  /** Schema memo keyed by (path, length ⊕ mtime fingerprint): every
    * `spark.read.parquet` without an explicit schema re-reads a footer
    * on the DRIVER to infer the schema — a few ms each, but the bench
    * constructs ~750 table frames per run (374 queries × 2 passes, the
    * SQL twins register all ten views each) and at 100 TB footer
    * sampling over thousands of files is real driver latency (guide
    * §5: the driver should do almost no data work — schema pinning is
    * what a catalog/table format buys). Pure METADATA: the fingerprint
    * in the key invalidates on any file change, and every query still
    * computes from the parquet bytes. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]

  private def readWithMemo(spark: SparkSession, dir: String, file: String): DataFrame = {
    val path = s"$dir/$file"
    val sch = schemaMemo.computeIfAbsent(s"$path@${fileKey(spark, dir, file)}",
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else readWithMemo(spark, dir, s"$name.parquet")

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) (Spark 4
    * rejects it by default — read as long via the legacy conf and
    * truncate ns → µs) and, in later testdata generations, as
    * TIMESTAMP(MICROS) without timezone (Spark reads TIMESTAMP_NTZ,
    * which event-time streaming and unix_micros reject). Normalize
    * BOTH to plain TIMESTAMP: sessions run UTC, so the NTZ cast
    * re-tags the same wall-clock microseconds as an instant —
    * matching DuckDB, which reads the column as a naive timestamp
    * either way. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // memoized like load(): the raw schema is inferred once per file
    // fingerprint (AFTER the nanosAsLong conf, which the inference
    // needs), then pinned explicitly on every later read
    val raw = readWithMemo(spark, dir, "events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Fan a tiny scan out to the session's parallelism. The test corpus
    * ships as SINGLE-ROW-GROUP parquet files, so a bare scan is one
    * task — and every CPU-heavy narrow pipeline downstream (tokenize/
    * n-gram/hash over documents, per-row vector math over embeddings,
    * media encode/decode) serializes on one core of the 32 while the
    * first exchange is still stages away (guide §2.5: one unsplittable
    * input file ⇒ repartition right after the read). The gate fires
    * ONLY when the scan yields fewer partitions than
    * defaultParallelism — exactly the case where the input is small
    * and the round-robin shuffle is by construction negligible; at
    * 100 TB the scan arrives as thousands of splits and this is the
    * identity, so no corpus-scale payload ever shuffles here. Filters
    * and column pruning push through Repartition, so PushedFilters/
    * ReadSchema on the scan are unchanged (plans/r13). Applied to the
    * two tables whose consumers are per-row CPU-bound (documents,
    * embeddings), NOT to the relational tables, where an extra
    * pre-aggregation exchange would cost more than it buys. */
  private def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Round-robin, NOT hash-on-id (measured, r14): a paired A/B of
    // repartition(p) vs repartition(p, id) over 12 consumers had hash
    // slower on 10 of 12 (x3_curriculum 3.31 → 4.36, x3_ngram_diversity
    // 1.88 → 2.58) — hash dealing is multinomial, so the straggler
    // partition of a CPU-bound stage carries ~15% extra rows, which
    // costs more than round-robin's sort-before-repartition pays at
    // these row sizes. Keyless repartition keeps exactly-equal counts.
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = fanOut(load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame = fanOut(load(s, d, "embeddings"))

  /** The un-fanned scans, for consumers measured LIGHTER than the
    * fan-out exchange (VERDICT r13 wrong #1): a query that immediately
    * slices to a handful of rows (x3_hash_embed's 40-doc slice) or
    * whose whole pipeline is one cheap aggregate pays the round-robin
    * exchange without ever using the parallelism. Call sites choose;
    * the default loaders stay fanned for the CPU-bound majority. */
  def documentsPlain(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddingsPlain(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` queries work. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
