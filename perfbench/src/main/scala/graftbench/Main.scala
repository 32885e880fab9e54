package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkEntry}
import graft.etl.AirQualityEtl
import graft.operators.{SkipStats, StoreStats, TableStore}
import graft.sources.Tables

/** One timed operation: a catalog/store query, an hourly batch, a
  * read-back or a backfill. `status` is ok, rejected (the ETL validation
  * gate refused the page) or failed. */
final case class Op(name: String, kind: String, pass: Int, traced: Boolean,
    startMs: Double, s: Double, constructS: Double, status: String, err: String)

/** The benchmark's JVM side. It reads a plan (a properties file written
  * by run.py), runs one workload in one Spark session with one client,
  * and writes raw samples, layer counters, spans and the outputs for the
  * correctness check into the plan's output directory. Statistics and
  * the check itself are computed by run.py. */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try plan.load(in) finally in.close()
    new Harness(plan).run()
  }
}

final class Harness(plan: java.util.Properties) {
  private def p(k: String): String = Option(plan.getProperty(k))
    .getOrElse(throw new IllegalArgumentException(s"plan has no $k"))
  private val workload = p("workload")
  private val traceOn = p("trace") == "1"
  private val cores = p("cores").toInt
  private val setupRounds = p("setup_rounds").toInt
  private val timedPasses = p("timed_passes").toInt
  private val data = p("data")
  private val out = Paths.get(p("out"))
  private val roots = Paths.get(sys.props("graftbench.tmp"))
  private val queries = p("queries").split(",").filter(_.nonEmpty).toSeq

  /** Verify's session: the configuration the correctness run covers. */
  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val spark = session()
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
  private val tracer = if (traceOn) Some(new Tracer(spark)) else None
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val passTimes = mutable.ArrayBuffer.empty[(Double, Boolean)]
  private val setupTimes = mutable.ArrayBuffer.empty[Double]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val skip = mutable.Map("listed" -> 0L, "scanned" -> 0L)
  private val storeFiles = mutable.Map("files" -> 0L, "bytes" -> 0L, "commits" -> 0L)

  private def nowS: Double = System.nanoTime() / 1e9

  /** A span when the tracer records (traced passes only), else just `body`. */
  private def span[A](name: String, trace: String = "")(body: => A): A =
    tracer.fold(body)(_.span(name, trace)(body))

  private def wipe(dir: Path): Unit = {
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally paths.close()
    }
    Files.createDirectories(dir)
  }

  /** Runs one operation; `body` returns its construct time in seconds. */
  private def op(name: String, kind: String, pass: Int, traced: Boolean)(body: => Double): Op = {
    // the tally is process-wide and some queries reset it themselves, so
    // a traced operation starts it from zero and adds what it recorded
    if (traced) SkipStats.reset()
    val startMs = System.currentTimeMillis().toDouble
    val t0 = nowS
    val (construct, status, err) =
      try {
        (span(kind, s"$pass:$name")(body), "ok", "")
      } catch {
        case e: IllegalArgumentException if kind == "batch" && e.getMessage != null &&
            e.getMessage.contains("unparseable") => (0.0, "rejected", e.getMessage)
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          (0.0, "failed", String.valueOf(e.getMessage).take(300))
      }
    val o = Op(name, kind, pass, traced, startMs, nowS - t0, construct, status, err)
    if (traced) {
      // file-level tallies only: ":parts" counts partitions, ":leafloads"
      // sidecar loads, and ":runtime" re-prunes files already counted
      val files = SkipStats.snapshot().filter { case (label, _) =>
        !Seq(":parts", ":leafloads", ":runtime").exists(label.endsWith) }.values
      skip("listed") += files.map(_._1).sum
      skip("scanned") += files.map(_._2).sum
    }
    ops += o
    o
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ---- query workloads (catalog_read, store_stream) ------------------
  private def queryPass(pass: Int, traced: Boolean): Unit =
    queries.foreach { q =>
      val fn = SparkEntry.queries(q)
      def body: Double = {
        val t0 = nowS
        val df = span("plans.construct")(fn(spark, data))
        val c = nowS - t0
        span("execute")(noop(df))
        c
      }
      op(q, "query", pass, traced)(body)
    }

  private def dumpQueries(): Unit = {
    val check = out.resolve("check")
    val errors = mutable.LinkedHashMap.empty[String, String]
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(check.resolve(q).toString)
      catch { case e: Throwable => errors(q) = String.valueOf(e.getMessage).take(300) }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.createDirectories(check)
    Files.writeString(check.resolve("oracle_sql.json"), Json.write(oracle))
    extra("check_errors") = errors
  }

  // ---- etl_hourly ----------------------------------------------------
  private lazy val pages: Seq[(String, String)] = {
    val dir = Paths.get(p("pages"))
    val files = Files.list(dir)
    try files.iterator().asScala.filter(_.toString.endsWith(".html")).toSeq
      .sortBy(_.getFileName.toString)
      .map(f => f.getFileName.toString.stripSuffix(".html") -> Files.readString(f))
    finally files.close()
  }

  private def readback(store: TableStore): Unit = {
    val cdmx = store.read(spark, "cdmx")
    noop(cdmx.join(broadcast(cdmx.agg(max(col("report_ts")).as("mts"))), col("report_ts") === col("mts"))
      .select(col("clave_str"), col("alcaldia_str"), col("calidad_del_aire_str"), col("parametro_str")))
  }

  /** (files, bytes) under `dir`. */
  private def dirUsage(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val w = Files.walk(dir)
      try {
        val fs = w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally w.close()
    }

  private def etlPass(pass: Int, traced: Boolean, root: Path): Unit = {
    val store = new TableStore(root.resolve("hourly").toString)
    def run(name: String, kind: String)(body: => Unit): Op = op(name, kind, pass, traced) { body; 0.0 }
    pages.foreach { case (name, html) =>
      val before = if (traced) dirUsage(root.resolve("hourly")) else (0L, 0L)
      val b = run(name, "batch")(AirQualityEtl.runBatch(spark, store, html))
      if (traced && b.status == "ok") {
        val after = dirUsage(root.resolve("hourly"))
        storeFiles("files") += after._1 - before._1
        storeFiles("bytes") += after._2 - before._2
        storeFiles("commits") += 3
      }
      if (b.status == "ok") run(name, "readback")(readback(store))
    }
    val archive = new TableStore(root.resolve("archive").toString)
    run("backfill", "backfill") {
      import spark.implicits._
      archive.replace(spark, "readings",
        AirQualityEtl.archiveReadings(spark, pages.map(_._2).toDS().repartition(cores)))
    }
  }

  private def dumpEtl(root: Path): Unit = {
    val check = out.resolve("check")
    val store = new TableStore(root.resolve("hourly").toString)
    Seq("cdmx", "edomex", "gral_stats").foreach { t =>
      store.read(spark, t).coalesce(1).write.mode("overwrite").parquet(check.resolve(t).toString)
    }
    new TableStore(root.resolve("archive").toString).read(spark, "readings")
      .coalesce(1).write.mode("overwrite").parquet(check.resolve("readings").toString)
    extra("store_bytes") = dirUsage(root.resolve("hourly"))._2
  }

  // ---- per-layer probes (traced runs only, outside the timed passes) --
  private def medianTime(n: Int)(body: => Unit): Double =
    (1 to n).map { _ => val t0 = nowS; body; nowS - t0 }.sorted.apply(n / 2)

  private def kernelProbes(): Map[String, Double] = {
    val reps = p("kernel_reps").toInt
    val r = spark.range(reps).toDF("rep")
    val docs = Tables.documents(spark, data).select("text").crossJoin(r).select("text").persist()
    val emb = Tables.embeddings(spark, data).select("embedding").crossJoin(r).select("embedding").persist()
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    // wall time of projecting the kernel over the cached rows into noop
    def nsPerRow(df: DataFrame, e: org.apache.spark.sql.Column, n: Double) =
      medianTime(3)(noop(df.select(e.as("k")))) / n * 1e9
    val text = col("text")
    val out = Map(
      "functions.normalize_text_ns_per_row" -> nsPerRow(docs, expr("normalize_text(text)"), nDocs),
      "functions.minhash_ns_per_row" -> nsPerRow(docs, expr("minhash_sig(text)"), nDocs),
      "functions.simhash_ns_per_row" -> nsPerRow(docs, expr("simhash64(text)"), nDocs),
      "functions.tokens_ns_per_row" -> nsPerRow(docs, graft.functions.TextAnalysis.tokens(text), nDocs),
      "functions.word_ngrams_ns_per_row" -> nsPerRow(docs, expr("word_ngrams(text)"), nDocs),
      "functions.vec_dot_ns_per_row" -> nsPerRow(emb, expr("vec_dot(embedding, embedding)"), nEmb))
    docs.unpersist(); emb.unpersist()
    out
  }

  /** Median time of one `batchFromHtml` call over the accepted pages. */
  private def parseProbe(): Double = {
    val times = (1 to 3).flatMap(_ => pages.flatMap { case (_, html) =>
      val t0 = nowS
      scala.util.Try(AirQualityEtl.batchFromHtml(spark, html)).toOption.map(_ => nowS - t0)
    }).sorted
    times(times.size / 2)
  }

  private def backfillParseProbe(): Double = {
    import spark.implicits._
    val ds = pages.map(_._2).toDS().repartition(cores)
    medianTime(3)(noop(AirQualityEtl.archiveReadings(spark, ds)))
  }

  // ---- layer counters over the traced operations ----------------------
  private def layerCounters(t: Tracer): Map[String, Double] = {
    t.drain()
    val traced = ops.filter(_.traced).toVector
    // per-operation counts cover the workload's unit operation (a query
    // or an hourly batch); totals cover every operation of the traced pass
    val main = traced.filter(o => o.kind == "query" || o.kind == "batch")
    def within(os: Seq[Op])(ms: Long): Boolean =
      os.exists(o => o.startMs <= ms && ms <= o.startMs + o.s * 1000 + 1)
    val inOps = within(traced) _
    val inMain = within(main) _
    val tasks = t.tasks.asScala.filter(e => inOps(e.finishMs)).toSeq
    val mainTasks = tasks.filter(e => inMain(e.finishMs))
    val jobs = t.jobs.asScala.filter(e => inMain(e.startMs)).toSeq
    val stages = t.stages.asScala.count(e => inMain(e.endMs))
    val plansEv = t.plans.asScala.filter(e => inOps(e.atMs)).toSeq
    val trig = t.triggers.asScala.filter(e => inOps(e.startMs)).toSeq
    val nOps = main.size.max(1).toDouble
    def phase(k: String) = plansEv.map(_.phases.getOrElse(k, 0L)).sum.toDouble
    def dur(k: String) = trig.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    val trigMs = trig.map(_.durations.getOrElse("triggerExecution", 0L).toDouble).sorted
    Map(
      "spark.jobs" -> jobs.size / nOps,
      "spark.stages" -> stages / nOps,
      "spark.tasks" -> mainTasks.size / nOps,
      "spark.executor_run_s" -> tasks.map(_.runMs).sum / 1000.0,
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.task_deser_s" -> tasks.map(_.deserMs).sum / 1000.0,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "spark.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1000.0,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "sources.input_bytes" -> mainTasks.map(_.inBytes).sum / nOps,
      "sources.input_rows" -> mainTasks.map(_.inRows).sum / nOps,
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "streaming.triggers" -> trig.size.toDouble,
      "streaming.trigger_p50_ms" -> (if (trigMs.isEmpty) 0.0 else trigMs(trigMs.size / 2)),
      "streaming.latestOffset_s" -> dur("latestOffset"),
      "streaming.getBatch_s" -> dur("getBatch"),
      "streaming.queryPlanning_s" -> dur("queryPlanning"),
      "streaming.addBatch_s" -> dur("addBatch"),
      "streaming.walCommit_s" -> dur("walCommit"),
      "streaming.commitOffsets_s" -> dur("commitOffsets"),
      "streaming.state_rows" -> trig.map(_.stateRows).sum.toDouble,
      "streaming.state_commit_ms" -> trig.map(_.stateCommitMs).sum.toDouble,
      "streaming.input_rows" -> trig.map(_.inputRows).sum.toDouble,
      "operators.store.files_listed" -> skip("listed").toDouble,
      "operators.store.files_scanned" -> skip("scanned").toDouble,
      "operators.store.files_written_per_commit" ->
        storeFiles("files").toDouble / storeFiles("commits").max(1L),
      "operators.store.bytes_written" -> storeFiles("bytes").toDouble)
  }

  // ---- the run ---------------------------------------------------------
  def run(): Unit = {
    val isEtl = workload == "etl_hourly"
    // set-up rounds are passes -1, -2, ...; timed passes count from 0
    def pass(n: Int, traced: Boolean): Unit =
      if (isEtl) etlPass(n, traced, roots.resolve(if (n >= 0) s"etl-pass-$n" else "etl-warm"))
      else queryPass(n, traced)

    // set-up: every round starts from empty store roots and runs the
    // warm-up pass, which builds every build-once store
    (1 to setupRounds).foreach { r =>
      val t0 = nowS
      wipe(roots)
      pass(-r, traced = false)
      setupTimes += nowS - t0
    }

    // the query workload's outputs for the correctness check, written
    // outside set-up and the timed passes; running every query once more
    // here also steadies the first timed pass, which otherwise still
    // warms up. The ETL check reads the stores the last timed pass wrote.
    if (!isEtl) dumpQueries()

    // fixed work: `timedPasses` untraced passes, then (traced runs) one
    // traced pass
    StoreStats.reset()
    val gc0 = Jvm.gcMs()
    Jvm.resetPeak()
    val nPasses = timedPasses + (if (traceOn) 1 else 0)
    var gcTraced = 0L
    (0 until nPasses).foreach { n =>
      val traced = n == timedPasses
      tracer.foreach(_.active = traced)
      val g0 = Jvm.gcMs()
      val t0 = nowS
      pass(n, traced)
      passTimes += ((nowS - t0, traced))
      if (traced) {
        gcTraced = Jvm.gcMs() - g0
        // deliver this pass's listener events before recording stops
        tracer.foreach(_.drain())
      }
    }
    tracer.foreach(_.active = false)
    val (hits, misses) = StoreStats.snapshot()
    // a miss on a table that exists after the timed passes was rebuilt
    // there; a miss on one that never appears is an optional-table probe
    val rebuilt = misses.keys.filter(k => Files.exists(Paths.get(k))).toSeq.sorted
    val peakHeap = Jvm.peakHeapMb()
    val gcAll = Jvm.gcMs() - gc0

    val layers = mutable.LinkedHashMap.empty[String, Double]
    tracer.foreach { t =>
      layers ++= layerCounters(t)
      layers("jvm.gc_s") = gcTraced / 1000.0
      layers("jvm.peak_heap_mb") = peakHeap
      t.attachSparkSpans()
      layers("trace.spans") = t.allSpans.size.toDouble
      t.selfTimes().foreach { case (name, (_, total, selfMs)) =>
        extra(s"span_total_ms.$name") = total
        extra(s"span_self_ms.$name") = selfMs
      }
      t.writeSpans(out.resolve("spans.jsonl"))
      layers ++= kernelProbes()
      if (isEtl) {
        layers("etl.parse_s") = parseProbe()
        layers("sources.backfill_parse_s") = backfillParseProbe()
      }
    }

    if (isEtl) dumpEtl(roots.resolve(s"etl-pass-${nPasses - 1}"))

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "cores" -> cores,
      "spark_version" -> spark.version,
      "heap_max_mb" -> Jvm.maxHeapMb(),
      "session_s" -> sessionS,
      "setup_rounds_s" -> setupTimes,
      "passes" -> passTimes.map { case (s, t) => Map("s" -> s, "traced" -> t) },
      "ops" -> ops.map(o => Map("name" -> o.name, "kind" -> o.kind, "pass" -> o.pass,
        "traced" -> o.traced, "s" -> o.s, "construct_s" -> o.constructS,
        "status" -> o.status, "err" -> o.err)),
      "store_hits" -> hits,
      "store_misses" -> misses,
      "store_misses_rebuilt" -> rebuilt,
      "gc_s" -> gcAll / 1000.0,
      "peak_heap_mb" -> peakHeap,
      "layers" -> layers)
    result ++= extra
    Files.writeString(out.resolve("result.json"), Json.write(result))
    spark.stop()
  }
}
