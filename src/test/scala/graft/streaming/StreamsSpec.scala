package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TableStore
import graft.streaming.Streams.KeyedEvent

/** Drives the streaming operators over MemoryStream: per-batch upsert
  * transactionality (T1), watermarked windows (T2/T3), stateful dedup
  * and counters (T4). */
class StreamsSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2025-05-05 ${10 + min / 60}%02d:${min % 60}%02d:00")

  test("T1: foreachBatch upsert — two micro-batches, conflict bumps nupdates") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val store = new TableStore(
      Files.createTempDirectory(Paths.get("target"), "stream-store-").toString)
    val mem = MemoryStream[(Long, String, Double)]
    val q = Streams.upsertSink(
        mem.toDF.toDF("report_ts", "clave", "value"),
        store, "readings", Seq("report_ts", "clave"))
      .start()
    try {
      mem.addData((1L, "a", 1.0), (1L, "b", 2.0))
      q.processAllAvailable()
      mem.addData((1L, "a", 9.0), (2L, "a", 3.0)) // conflict on (1,a), new (2,a)
      q.processAllAvailable()
    } finally q.stop()
    val rows = store.read(s, "readings")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getAs[Long]("nupdates"))).toMap
    assert(rows((1L, "a")) == (9.0, 2L)) // updated value, counter bumped
    assert(rows((1L, "b")) == (2.0, 1L))
    assert(rows((2L, "a")) == (3.0, 1L))
  }

  test("T1 partitioned: micro-batches rewrite only their touched date partitions") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val store = new TableStore(
      Files.createTempDirectory(Paths.get("target"), "stream-pstore-").toString)
    val mem = MemoryStream[(Long, String, Double)]
    val q = Streams.upsertSinkPartitioned(
        mem.toDF.toDF("report_ts", "clave", "value")
          .withColumn("p_date", (col("report_ts") / 100).cast("int")),
        store, "readings", Seq("report_ts", "clave"), "p_date")
      .start()
    def fileOf(part: Int): Set[String] = {
      val dir = new org.apache.hadoop.fs.Path(store.livePath("readings"), s"p_date=$part")
      val f = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!f.exists(dir)) Set.empty
      else f.listStatus(dir).map(st => st.getPath.getName + ":" + st.getModificationTime).toSet
    }
    try {
      mem.addData((2025050509L, "a", 1.0), (2025050609L, "b", 2.0)) // two days
      q.processAllAvailable()
      val day05 = fileOf(20250505)
      mem.addData((2025050610L, "b", 3.0)) // touches day 06 only
      q.processAllAvailable()
      assert(fileOf(20250505) == day05, "untouched partition rewritten")
      assert(fileOf(20250506).nonEmpty)
    } finally q.stop()
    val rows = store.read(s, "readings").collect()
      .map(r => r.getAs[Long]("report_ts") -> r.getAs[Long]("nupdates")).toMap
    assert(rows == Map(2025050509L -> 1L, 2025050609L -> 1L, 2025050610L -> 1L))
  }

  test("T2/T3: watermarked tumbling window emits finalized counts; late row within watermark still lands") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = Streams.tumblingStats(mem.toDF.toDF("ts", "event_type", "value"),
        watermark = "30 minutes")
      .writeStream.outputMode("update").format("memory").queryName("tumbling").start()
    try {
      mem.addData((ts(5), "click", 1.0), (ts(20), "click", 2.0), (ts(70), "view", 5.0))
      q.processAllAvailable()
      mem.addData((ts(25), "click", 10.0)) // late but inside watermark
      q.processAllAvailable()
    } finally q.stop()
    val rows = s.sql("select w_start, event_type, n, sum_value from tumbling")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // latest update for the 10:00 click window includes the late row
    assert(rows((Timestamp.valueOf("2025-05-05 10:00:00"), "click")) == (3L, 13.0))
    assert(rows((Timestamp.valueOf("2025-05-05 11:00:00"), "view")) == (1L, 5.0))
  }

  test("T4: dropDuplicatesWithinWatermark suppresses re-deliveries") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = Streams.dedupWithinWatermark(
        mem.toDF.toDF("event_id", "ts"), Seq("event_id"), watermark = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      mem.addData((1L, ts(0)), (2L, ts(1)))
      q.processAllAvailable()
      mem.addData((1L, ts(2)), (3L, ts(3))) // 1 is a duplicate re-delivery
      q.processAllAvailable()
    } finally q.stop()
    val ids = s.sql("select event_id from dedup").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("T3/J4: stream-stream interval join attributes clicks within the window") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val q = Streams.intervalJoin(
        imps.toDF.toDF("ad_id", "ts"),
        clicks.toDF.toDF("ad_id", "r_ts"),
        key = "ad_id", maxDelay = "30 minutes")
      .select("ad_id", "ts", "r_ts")
      .writeStream.outputMode("append").format("memory").queryName("attrib").start()
    try {
      imps.addData((1L, ts(0)), (2L, ts(0)))
      clicks.addData((1L, ts(10)))   // within 30 min → attributed
      clicks.addData((2L, ts(45)))   // outside the interval → dropped
      q.processAllAvailable()
      // advance both watermarks far enough to close all buffered state
      imps.addData((9L, ts(300))); clicks.addData((8L, ts(300)))
      q.processAllAvailable()
    } finally q.stop()
    val got = s.sql("select ad_id from attrib").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), s"only the in-window click attributes, got $got")
  }

  test("T3/J4: LEFT OUTER interval join emits definitive null-extended misses after expiry") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val q = Streams.intervalJoinLeftOuter(
        imps.toDF.toDF("ad_id", "ts"),
        clicks.toDF.toDF("ad_id", "r_ts"),
        key = "ad_id", maxDelay = "30 minutes")
      .select("ad_id", "ts", "r_ts")
      .writeStream.outputMode("append").format("memory").queryName("attrib_outer").start()
    try {
      imps.addData((1L, ts(0)), (2L, ts(0)), (3L, ts(0)))
      clicks.addData((1L, ts(10)))   // match
      clicks.addData((2L, ts(45)))   // outside interval: ad 2 is a miss
      q.processAllAvailable()
      // before expiry, the misses must NOT have emitted (a click could
      // still arrive); only the match is out
      val early = s.sql("select ad_id, r_ts from attrib_outer").collect()
      assert(early.map(_.getLong(0)).toSeq == Seq(1L), early.mkString(","))
      // watermark jump closes every open interval → misses emit null-extended
      imps.addData((9L, ts(600))); clicks.addData((8L, ts(600)))
      q.processAllAvailable()
      imps.addData((9L, ts(610))); clicks.addData((8L, ts(610)))
      q.processAllAvailable()
    } finally q.stop()
    val got = s.sql("select ad_id, r_ts from attrib_outer").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) "miss" else "hit")).toSet
    assert(got.contains(1L -> "hit") && got.contains(2L -> "miss") && got.contains(3L -> "miss"),
      s"got $got")
    assert(!got.contains(1L -> "miss"), "a matched impression must not also emit as a miss")
  }

  test("T1/A1: incrementalAggSink maintains a live per-key rollup across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val store = new TableStore(
      Files.createTempDirectory(Paths.get("target"), "stream-iagg-").toString)
    val measures = Seq(
      graft.operators.IncrementalAgg.Measure("n", count(lit(1))),
      graft.operators.IncrementalAgg.Measure("total",
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(org.apache.spark.sql.types.DecimalType(38, 6))))
    val mem = MemoryStream[(String, Double)]
    val q = Streams.incrementalAggSink(
        mem.toDF.toDF("k", "v"), store, "rollup", Seq("k"), measures)
      .start()
    try {
      mem.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
      q.processAllAvailable()
      mem.addData(("a", 0.5), ("c", 7.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = store.read(s, "rollup").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"),
        BigDecimal(r.getAs[java.math.BigDecimal]("total")).toDouble)).toMap
    assert(rows == Map("a" -> (3L, 3.5), "b" -> (1L, 5.0), "c" -> (1L, 7.0)), rows)
  }

  test("T1/A12: incrementalAggSink with an HLL sketch measure — streaming distinct counts") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val store = new TableStore(
      Files.createTempDirectory(Paths.get("target"), "stream-sketch-").toString)
    val m = Seq(graft.operators.IncrementalAgg.Measure(
      "sk", org.apache.spark.sql.functions.hll_sketch_agg(col("v")),
      (t, u) => org.apache.spark.sql.functions.hll_union(t, u)))
    val mem = MemoryStream[(String, Long)]
    val q = Streams.incrementalAggSink(mem.toDF.toDF("k", "v"), store, "d", Seq("k"), m).start()
    try {
      mem.addData(("a", 1L), ("a", 2L), ("a", 2L))
      q.processAllAvailable()
      mem.addData(("a", 2L), ("a", 3L)) // 2 is a cross-batch repeat: must not double-count
      q.processAllAvailable()
    } finally q.stop()
    val est = store.read(s, "d")
      .select(org.apache.spark.sql.functions.hll_sketch_estimate(col("sk")))
      .head.getLong(0)
    assert(est == 3L, s"distinct {1,2,3} across batches, got $est")
  }

  test("T1: file-source + AvailableNow + checkpoint — restart ingests only new files, exactly once") {
    val s = spark; import s.implicits._
    val base = Files.createTempDirectory(Paths.get("target").toAbsolutePath, "ingest-")
    val (in, ckpt, storeDir) = (s"$base/in", s"$base/ckpt", s"$base/store")
    Files.createDirectories(Paths.get(in))
    val store = new TableStore(storeDir)
    def runOnce(): Unit = {
      val stream = s.readStream.schema("k LONG, v STRING").parquet(in)
      val q = Streams.upsertSink(stream, store, "t", Seq("k"))
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // the file source lists files directly under the path — land each
    // batch as a single flat .parquet file (write to a scratch dir,
    // move the part file in), the way an ingest job drops files
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = s"$base/scratch-$name"
      df.coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$in/$name.parquet"))
    }
    land(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "f1")
    runOnce()
    val afterFirst = store.read(s, "t").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("nupdates")).toMap
    assert(afterFirst == Map(1L -> 1L, 2L -> 1L), s"got $afterFirst")
    // second run with one NEW file: old files must not re-ingest
    // (nupdates would bump to 2 if they did), new key lands, existing
    // key conflicts exactly once more
    land(Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), "f2")
    runOnce()
    val afterSecond = store.read(s, "t").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("nupdates")).toMap
    assert(afterSecond == Map(1L -> 1L, 2L -> 2L, 3L -> 1L), s"got $afterSecond")
  }

  test("T1/J3: stream-static enrichment join attaches dimension values per batch") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq((1L, "mx"), (2L, "us")).toDF("station_id", "country")
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = Streams.enrich(
        mem.toDF.toDF("station_id", "ts", "value"), dim, "station_id")
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    try {
      mem.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0), (7L, ts(2), 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = s.sql("select station_id, country from enriched")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // matched keys enrich; unknown keys survive with a null dim (left join)
    assert(got == Map(1L -> Some("mx"), 2L -> Some("us"), 7L -> None))
  }

  test("T4: closedSessions — event-time timeout closes sessions, in-batch gaps split eagerly") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[KeyedEvent]
    val q = Streams.closedSessions(mem.toDS(), gap = "30 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("closed_sessions").outputMode("append")
      .start()
    def closed: Seq[(String, Int, Long)] =
      s.table("closed_sessions").collect().toSeq
        .map(r => (r.getString(0), r.getInt(3),
          (r.getTimestamp(2).getTime - r.getTimestamp(1).getTime) / 60000)).sorted
    try {
      // u1: two events 5 min apart (one open session); u4: events 60 min
      // apart in the SAME batch — splits eagerly, first session closes now
      mem.addData(KeyedEvent("u1", ts(0)), KeyedEvent("u1", ts(5)),
        KeyedEvent("u4", ts(0)), KeyedEvent("u4", ts(60)))
      q.processAllAvailable()
      assert(closed == Seq(("u4", 1, 0L)), s"only u4's first session closes in-batch: $closed")
      // watermark jump: event at +4h pushes watermark past every open
      // session's end+gap; timeouts fire on the following trigger
      mem.addData(KeyedEvent("w", ts(240)))
      q.processAllAvailable()
      mem.addData(KeyedEvent("w", ts(245)))
      q.processAllAvailable()
      val got = closed
      assert(got.contains(("u1", 2, 5L)), s"u1 session of 2 events over 5 min must close: $got")
      assert(got.count(t => t._1 == "u4" && t._2 == 1 && t._3 == 0L) == 2,
        s"u4 has two singleton sessions, split + timeout: $got")
    } finally q.stop()
  }

  test("T4: closedSessions boundary — an event EXACTLY gap after the last opens a new session") {
    // session windows are [start, last+gap): batch session_window (and
    // the t4 oracle's >= split) start a new session at exactly last+gap
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[KeyedEvent]
    val q = Streams.closedSessions(mem.toDS(), gap = "30 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("closed_boundary").outputMode("append")
      .start()
    try {
      mem.addData(KeyedEvent("b", ts(0)), KeyedEvent("b", ts(30)))
      q.processAllAvailable()
      val got = s.table("closed_boundary").collect().toSeq
        .map(r => (r.getString(0), r.getInt(3)))
      assert(got == Seq(("b", 1)),
        s"ts(30) sits AT last+gap: the first session must close eagerly with 1 event: $got")
    } finally q.stop()
  }

  test("T1/P3: expectations gate inside foreachBatch — bad batch aborts, store keeps last good state") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val store = new TableStore(
      Files.createTempDirectory(Paths.get("target"), "stream-gate-").toString)
    val mem = MemoryStream[(Long, Double)]
    import graft.operators.Expectations
    def start() = mem.toDF.toDF("k", "price").writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        store.upsert(batch.sparkSession, "t",
          Expectations.gate(batch, Seq(Expectations.inRange("price", 0.0, 100.0))),
          Seq("k"), batchId = Some(id))
      }
      .start()
    val q1 = start()
    try {
      mem.addData((1L, 10.0))
      q1.processAllAvailable()
      mem.addData((2L, -5.0)) // violates the gate → batch must abort
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        mem.toDF; q1.processAllAvailable()
        throw q1.exception.getOrElse(fail("gate violation must fail the query"))
      }
    } finally q1.stop()
    // abort-don't-corrupt: only the good batch's state is visible
    val rows = store.read(s, "t").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(1L -> 10.0), s"bad batch must not land: $rows")
  }

  test("T4/A1: mapGroupsWithState running key counts across batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[KeyedEvent]
    val q = Streams.runningKeyCounts(mem.toDS())
      .writeStream.outputMode("update").format("memory").queryName("counts").start()
    try {
      mem.addData(KeyedEvent("a", ts(0)), KeyedEvent("a", ts(1)), KeyedEvent("b", ts(2)))
      q.processAllAvailable()
      mem.addData(KeyedEvent("a", ts(3)))
      q.processAllAvailable()
    } finally q.stop()
    val last = s.sql("select key, max(n) from counts group by key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last == Map("a" -> 3L, "b" -> 1L))
  }

  test("T18/A25: holtStates folds split days across batches; watermark timeout folds the last day and EVICTS") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import Streams.HoltEvent
    // reference series for key "u": days 1,2,3 with counts 3,1,4.
    // fold 1 (init):  l=3000, b=0,     nd=1
    // fold 2: l'=t2(1000+3000+0)=2000, b=t2(2000−3000+0)=−500, nd=2
    // fold 3: l'=t2(4000+2000−500)=2750, b=t2(2750−2000−500)=125, nd=3
    def e(day: Long, hour: Int) = HoltEvent("u", day * 86400000000L,
      new java.sql.Timestamp(day * 86400000L + hour * 3600000L))
    val mem = MemoryStream[HoltEvent]
    val q = Streams.holtStates(mem.toDS()).toDF()
      .writeStream.outputMode("update").format("memory").queryName("holt").start()
    try {
      // day 1 SPLIT across two batches, then day 2 + part of day 3
      mem.addData(e(1, 1), e(1, 2))
      q.processAllAvailable()
      mem.addData(e(1, 3), e(2, 1), e(3, 1), e(3, 2))
      q.processAllAvailable()
      mem.addData(e(3, 3), e(3, 4))
      q.processAllAvailable()
      // open day 3 must not fold early: latest fold is day 2's
      val mid = s.sql("select max(nd) from holt").head.getLong(0)
      assert(mid == 2L, s"open day must not fold early: nd=$mid")
      val midRow = s.sql("select level_m, trend_m from holt where nd = 2 limit 1").head
      assert((midRow.getLong(0), midRow.getLong(1)) == (2000L, -500L))
      // ONE watermark-advancing row on a DIFFERENT key folds day 3
      // via the event-time timeout and evicts "u"
      mem.addData(HoltEvent("w", 30L * 86400000000L,
        new java.sql.Timestamp(30L * 86400000L)))
      q.processAllAvailable()
      val fin = s.sql("select level_m, trend_m from holt where nd = 3 limit 1").head
      assert((fin.getLong(0), fin.getLong(1)) == (2750L, 125L),
        s"final fold wrong: $fin")
      val stateRows = q.recentProgress.flatMap(_.stateOperators)
        .lastOption.map(_.numRowsTotal).getOrElse(-1L)
      assert(stateRows == 1L, s"quiescent key must be evicted: state rows=$stateRows")
    } finally q.stop()
  }

  test("T7/A9: cusumStates folds split days across batches; watermark timeout folds the last day and EVICTS") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import Streams.CusumEvent
    // reference series for key "u": days 1,2,3 with counts 3,1,4;
    // nd=3, total=8 → deviations x·3−8: day1 +1, day2 −5, day3 +4.
    // CUSUM: S1=max(0,1)=1, S2=max(0,1−5)=0, S3=max(0,0+4)=4 → mx=4.
    def e(day: Long, hour: Int) = CusumEvent("u", day * 86400000000L, 8L, 3L,
      new java.sql.Timestamp(day * 86400000L + hour * 3600000L))
    val mem = MemoryStream[CusumEvent]
    val q = Streams.cusumStates(mem.toDS()).toDF()
      .writeStream.outputMode("update").format("memory").queryName("cus").start()
    try {
      // day 1 SPLIT across two batches (2 events, then 1 more), then
      // day 2 arrives mid-batch with part of day 3
      mem.addData(e(1, 1), e(1, 2))
      q.processAllAvailable()
      mem.addData(e(1, 3), e(2, 1), e(3, 1), e(3, 2))
      q.processAllAvailable()
      mem.addData(e(3, 3), e(3, 4))
      q.processAllAvailable()
      // the watermark (day 3, 04:00) has not passed day 3's end — the
      // open day must not fold early, anywhere in the emitted history
      val openMx = s.sql("select max(mx) from cus").head.getLong(0)
      assert(openMx == 1L, s"open day must not fold early: mx=$openMx")
      // ONE watermark-advancing row on a DIFFERENT key pushes the
      // watermark past day 3's end: "u"'s day folds via its
      // EVENT-TIME TIMEOUT (no per-key sentinel), and its state evicts
      mem.addData(CusumEvent("w", 30L * 86400000000L, 0L, 0L,
        new java.sql.Timestamp(30L * 86400000L)))
      q.processAllAvailable()
      val finMx = s.sql("select max(mx) from cus").head.getLong(0)
      assert(finMx == 4L, s"watermark timeout must fold day 3: mx=$finMx")
      // eviction: only the advancer key's state remains live
      val stateRows = q.recentProgress.flatMap(_.stateOperators)
        .lastOption.map(_.numRowsTotal).getOrElse(-1L)
      assert(stateRows == 1L, s"quiescent key must be evicted: state rows=$stateRows")
      // a key seen AFTER eviction starts a FRESH series: 3 events on
      // day 31 then one on day 32 fold to s=1 — carried state would
      // have emitted mx=4 again (a second mx=4 row); fresh emits
      // (s=1, mx=1)
      mem.addData(e(31, 1), e(31, 2), e(31, 3))
      q.processAllAvailable()
      mem.addData(e(32, 1))
      q.processAllAvailable()
      val n4 = s.sql("select count(*) from cus where mx = 4").head.getLong(0)
      assert(n4 == 1L, s"folded history must not leak into the re-seen key: $n4 rows with mx=4")
      val nFresh = s.sql("select count(*) from cus where s = 1 and mx = 1").head.getLong(0)
      assert(nFresh >= 1L, "re-seen key must fold its fresh day to (1, 1)")
    } finally q.stop()
  }

  test("T11/X5: funnelStates — stages straddle batches, no re-anchor, in-batch order by (ts, eid)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import Streams.FunnelEvent
    val mem = MemoryStream[FunnelEvent]
    val q = Streams.funnelStates(mem.toDS()).toDF()
      .writeStream.outputMode("update").format("memory").queryName("fun").start()
    def last(): Map[String, (Long, Long, Long)] = {
      // the freshest snapshot per key == the row of the latest batch;
      // stages only ever advance, so max(struct) per field is it
      s.sql("select key, max(tv), max(tc), max(tp) from fun group by key")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    try {
      // u1: view in batch 1, click arrives two batches later, purchase
      // in batch 3 — the cross-batch transition is the whole point.
      // u2: click BEFORE any view (must not count), then view.
      // u3: arrives out of order within one batch — sorted by (ts,
      // eid) the view(10) precedes the click(20) despite add order.
      mem.addData(FunnelEvent("u1", 100L, 1L, "view"),
        FunnelEvent("u2", 100L, 2L, "click"),
        FunnelEvent("u3", 20L, 4L, "click"), FunnelEvent("u3", 10L, 3L, "view"))
      q.processAllAvailable()
      mem.addData(FunnelEvent("u2", 200L, 5L, "view"))
      q.processAllAvailable()
      mem.addData(FunnelEvent("u1", 300L, 6L, "click"),
        FunnelEvent("u1", 400L, 7L, "purchase"))
      q.processAllAvailable()
      assert(last() == Map(
        "u1" -> ((100L, 300L, 400L)),
        "u2" -> ((200L, -1L, -1L)),   // the pre-view click never counts
        "u3" -> ((10L, 20L, -1L))))
      // completed funnel is immutable: a later view/click/purchase
      // must not re-anchor or advance anything
      mem.addData(FunnelEvent("u1", 500L, 8L, "view"),
        FunnelEvent("u1", 600L, 9L, "purchase"))
      q.processAllAvailable()
      assert(last()("u1") == ((100L, 300L, 400L)))
    } finally q.stop()
  }

  test("T13: scd2Sink — same-day dedup, cross-batch close/open, same-attr no-op") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val store = new TableStore(
      Files.createTempDirectory(Paths.get("target"), "scd2-").toString)
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = Streams.scd2Sink(mem.toDF.toDF("k", "d", "attr", "ord"),
      store, "dim", "k", "d", "attr", "ord").start()
    def dim() = store.read(s, "dim")
      .select("k", "version", "attr", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getString(3), Option(r.getString(4)), r.getBoolean(5)))).toMap
    try {
      // same-day duplicate: ord=2 wins → k1 opens at B, never A
      mem.addData((1L, "2024-01-01", "A", 1L), (1L, "2024-01-01", "B", 2L),
        (2L, "2024-01-01", "X", 3L))
      q.processAllAvailable()
      assert(dim() == Map(
        (1L, 1L) -> (("B", "2024-01-01", None, true)),
        (2L, 1L) -> (("X", "2024-01-01", None, true))))
      // k1 re-sees its CURRENT attr → no version; k2 changes → v1
      // closes at the new valid_from, v2 opens current
      mem.addData((1L, "2024-01-02", "B", 4L), (2L, "2024-01-02", "Y", 5L))
      q.processAllAvailable()
      assert(dim() == Map(
        (1L, 1L) -> (("B", "2024-01-01", None, true)),
        (2L, 1L) -> (("X", "2024-01-01", Some("2024-01-02"), false)),
        (2L, 2L) -> (("Y", "2024-01-02", None, true))))
      // within-batch chain: two changes in one batch close each other
      mem.addData((1L, "2024-01-03", "C", 6L), (1L, "2024-01-04", "D", 7L))
      q.processAllAvailable()
      assert(dim()((1L, 1L)) == (("B", "2024-01-01", Some("2024-01-03"), false)))
      assert(dim()((1L, 2L)) == (("C", "2024-01-03", Some("2024-01-04"), false)))
      assert(dim()((1L, 3L)) == (("D", "2024-01-04", None, true)))
    } finally q.stop()
  }

  test("T12: bottomKMerge — order-insensitive, idempotent, equals one-shot bottom-k") {
    val s = spark; import s.implicits._
    def frame(ids: Seq[Long]) = ids.toDF("event_id")
      .select(col("event_id"), lit("e").as("event_type"),
        md5(col("event_id").cast("string")).as("h"))
    val all = (1L to 40L)
    val oneShot = frame(all).orderBy(col("h"), col("event_id")).limit(8)
      .collect().map(_.getLong(0)).toSeq
    def runBatches(batches: Seq[Seq[Long]]): Seq[Long] = {
      val store = new TableStore(
        Files.createTempDirectory(Paths.get("target"), "bottomk-").toString)
      batches.foreach(b => Streams.bottomKMerge(store, "sample", frame(b), 8))
      store.read(s, "sample").orderBy(col("h"), col("event_id"))
        .collect().map(_.getLong(0)).toSeq
    }
    val split = Seq(all.slice(0, 15), all.slice(15, 30), all.slice(30, 40))
    assert(runBatches(split) == oneShot)                 // == one-shot batch
    assert(runBatches(split.reverse) == oneShot)         // batch order irrelevant
    assert(runBatches(split ++ Seq(split(1))) == oneShot) // replayed batch is a no-op
  }
}
