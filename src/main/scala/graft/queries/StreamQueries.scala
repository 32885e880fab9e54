package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.Tables
import graft.streaming.Streams

/** Batch forms of the streaming window operators (SURVEY §2 T2/T3),
  * oracle-checked over `events`. The exact same Streams.* functions
  * accept a readStream frame — StreamsSpec drives that side over
  * MemoryStream; here DuckDB pins the window semantics. */
object StreamQueries {
  type Q = (SparkSession, String) => DataFrame

  private def fmt(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Stage `df` as `nFiles` event-time-range files with STRICTLY
    * INCREASING mtimes in ts order (idempotent per path). The file
    * source replays oldest-mtime-first, so without the stamp the
    * replay order — and which rows count as "late" — would be
    * arbitrary, and the watermark could retroactively drop whole
    * files (see t2_stream_windows).
    *
    * Each of `tails` follows as one trailing file with the next
    * mtimes, one micro-batch each. Why two sentinel tails for the
    * outer-join gates: a watermark moves at the END of the batch that
    * saw the advancing event and takes effect in the NEXT batch — the
    * first sentinel batch advances it, the second is the data batch
    * that runs under it and flushes the outer join's remaining miss
    * rows (StreamsSpec pins the same two-step on MemoryStream). */
  private def stageOrdered(s: SparkSession, df: DataFrame, tsCol: String,
      path: String, nFiles: Int, tails: Seq[DataFrame] = Nil): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) return
    // write + stamp into a TEMP dir, then one atomic rename: the
    // exists-check above is the idempotence gate, so the final path
    // must only ever appear FULLY staged — a crash between the
    // parquet write and the mtime stamps would otherwise be accepted
    // forever with arbitrary replay order (the t2/t3 watermark gates
    // depend on the stamps). A crashed temp dir is re-staged wholesale
    // on the next run, never half-trusted.
    val tmp = new Path(p.getParent, s".stage-${p.getName}")
    fs.delete(tmp, true)
    df.repartitionByRange(nFiles, col(tsCol)).write.mode("overwrite").parquet(tmp.toString)
    fs.listStatus(tmp)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName) // part-0000k IS the k-th ts range
      .zipWithIndex
      .foreach { case (st, i) => fs.setTimes(st.getPath, 1000000L + i * 1000L, -1) }
    tails.zipWithIndex.foreach { case (t, i) =>
      val td = new Path(p.getParent, s".tail-${p.getName}-$i")
      fs.delete(td, true)
      t.coalesce(1).write.mode("overwrite").parquet(td.toString)
      val src = fs.listStatus(td).filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      val dst = new Path(tmp, f"part-zz-tail-$i%05d.parquet")
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"tail staging failed for $path tail $i")
      fs.setTimes(dst, 1000000L + (nFiles + i) * 1000L, -1)
      fs.delete(td, true)
    }
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"stageOrdered: publish rename failed for $path")
  }

  /** A streamed gate's dirs under `TmpRoot/<key>/<input fingerprint>`:
    * `stage` keeps the staged feed across runs, `run` holds one run's
    * sink stores and checkpoint. */
  private[queries] final case class Gate(base: String) {
    def stage: String = s"$base/stage"
    def run: String = s"$base/run"
  }

  private[queries] object Gate {
    /** A gate's dirs, `TmpRoot/<key>/<fingerprint of dir/file>`,
      * without touching them. */
    def at(s: SparkSession, dir: String, key: String, file: String): Gate =
      Gate(s"${Tables.TmpRoot}/$key/${Tables.fileKey(s, dir, file)}")
  }

  /** Resolve a gate's dirs and wipe its `run` dir, so every run is a
    * full replay into fresh sinks from a fresh checkpoint. */
  private[queries] def gate(s: SparkSession, dir: String, key: String, file: String): Gate = {
    val g = Gate.at(s, dir, key, file)
    val run = new Path(g.run)
    run.getFileSystem(s.sparkContext.hadoopConfiguration).delete(run, true)
    g
  }

  /** The staged files under `path` as a stream, one file per
    * micro-batch in mtime order. */
  private[queries] def files(s: SparkSession, schema: StructType, path: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)

  /** Run `writer` as an AvailableNow query checkpointed at `run/ckpt`
    * and wait until it has drained its input, rethrowing its failure.
    * `stateParts` sizes shuffle/state parallelism to the (small) state
    * instead of the session's (see the t2_stream_windows note); Spark
    * fixes it when the query starts, so it is set around `start()`
    * only and the session conf is restored after. Never wipes: a
    * second drain of one gate resumes its checkpoint. */
  private[queries] def drain(s: SparkSession, g: Gate, stateParts: Option[Int])(
      writer: => DataStreamWriter[Row]): Unit = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val q =
      try {
        stateParts.foreach(n => s.conf.set("spark.sql.shuffle.partitions", n.toString))
        writer.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"${g.run}/ckpt").start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
  }

  val all: Map[String, Q] = Map(
    "t3_tumbling_stats" -> ((s, dir) => {
      Streams.tumblingStats(Tables.events(s, dir))
        .select(fmt(col("w_start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("w_start", "event_type")
    }),

    "t3_sliding_stats" -> ((s, dir) => {
      Streams.slidingStats(Tables.events(s, dir))
        .select(fmt(col("w_start")).as("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type")
    }),

    "t3_session_stats" -> ((s, dir) => {
      Streams.sessionStats(Tables.events(s, dir))
        .select(fmt(col("s_start")).as("s_start"), fmt(col("s_end")).as("s_end"),
          col("user_id"), col("n"))
        .orderBy("user_id", "s_start")
    }),

    // ---- T1/T4 END-TO-END STREAMED ingest, oracle-gated -------------
    // The real streaming path, not the batch form: the events corpus
    // is staged as 4 range-split files, readStream ingests them as 4
    // AvailableNow micro-batches (maxFilesPerTrigger=1), and each
    // batch folds per-user deltas into a TableStore through the
    // exactly-once incrementalAggSink (batch-id replay guard inside
    // the store commit). The FINAL STORED STATE then hashes against a
    // one-shot DuckDB GROUP BY over the same events — so watermark-
    // free ingestion, the micro-batch fold, the store commit, and the
    // replay guard are all on the oracle gate, whatever the batch
    // slicing (additive integer measures make the fold order-free).
    // Value sums ride as exact micro-units (round(value*1e6) longs):
    // additive across batches, bit-equal cross-engine.
    "t1_stream_ingest" -> ((s, dir) => {
      val events = Tables.events(s, dir).select("event_id", "user_id", "value")
      val g = gate(s, dir, "stream-ingest", "events.parquet")
      stageOrdered(s, events, "event_id", g.stage, 4)
      // fresh sink + checkpoint per run: the point is the full replay
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, events.schema, g.stage)
      // micro-batch fold over ~15k keys: 8-way shuffle matches the
      // state size (see t2_stream_windows note)
      drain(s, g, Some(8)) {
        Streams.incrementalAggSink(stream, store, "user_stats", Seq("user_id"),
            Seq(graft.operators.IncrementalAgg.Measure("n", count(lit(1))),
              graft.operators.IncrementalAgg.Measure("v6",
                sum(round(col("value") * 1000000L).cast("long")))))
      }
      store.read(s, "user_stats")
        .select(col("user_id"), col("n"), col("v6"))
        .orderBy("user_id")
    }),

    // ---- T1/J3 STREAMED stream-static enrichment, oracle-gated ------
    // The dimension-attach loop every ingest pipeline runs: events
    // replay as 4 micro-batches, each batch joins the STATIC customer
    // dim through Streams.enrich (broadcast per batch — the stream
    // side never shuffles for the join and carries no join state,
    // unlike a stream-stream join there is nothing to watermark), and
    // the enriched rows fold into the store keyed by
    // (segment, event_type). Final state hashes against a one-shot
    // batch join + GROUP BY — so per-batch dim planning, the
    // broadcast join, and the additive fold are all on the gate.
    // user_id ⊂ c_custkey on this data, so the left enrich equals the
    // oracle's inner join row for row.
    "t1_stream_enrich" -> ((s, dir) => {
      val events = Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value")
      val g = gate(s, dir, "stream-enrich/v1", "events.parquet")
      stageOrdered(s, events, "event_id", g.stage, 4)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val stream = files(s, events.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.incrementalAggSink(
            Streams.enrich(stream, dim, "user_id"),
            store, "seg_stats", Seq("c_mktsegment", "event_type"),
            Seq(graft.operators.IncrementalAgg.Measure("n", count(lit(1))),
              graft.operators.IncrementalAgg.Measure("v6",
                sum(round(col("value") * 1000000L).cast("long")))))
      }
      store.read(s, "seg_stats")
        .select(col("c_mktsegment"), col("event_type"), col("n"), col("v6"))
        .orderBy("c_mktsegment", "event_type")
    }),

    // ---- T2/T3 STREAMED watermarked windows, oracle-gated -----------
    // The event-time path end to end: ts-range-ordered files replay as
    // 4 micro-batches through the WATERMARKED tumbling aggregate in
    // update mode; each batch's changed windows MERGE into the store
    // keyed by (w_start, event_type) — exactly the live-dashboard
    // maintenance loop. Ordered replay means event time only advances,
    // so the watermark evicts each window's state after its updates
    // stop, and the FINAL stored table must equal the one-shot batch
    // aggregate (same oracle as t3_tumbling_stats): eviction timing,
    // update-mode re-emission, and the keyed MERGE are all on the
    // hash gate. The nupdates counter varies with batch slicing by
    // design and stays out of the projection.
    "t2_stream_windows" -> ((s, dir) => {
      val events = Tables.events(s, dir).select("event_id", "ts", "event_type", "value")
      // v2 = mtime-stamped staging (v1 files replayed in arbitrary order)
      val g = gate(s, dir, "stream-windows/v2", "events.parquet")
      stageOrdered(s, events, "ts", g.stage, 4)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, events.schema, g.stage)
      // streaming state partitioning is fixed at query start from the
      // session's shuffle partitions; 32 here means 32 state-store
      // commits (snapshot+delta+crc files) per micro-batch for a few
      // thousand window keys. Size state parallelism to the STATE, not
      // the batch: 8 partitions cuts the per-batch state-commit fan-out
      // 4× (the dominant cost of this replay) — exactly the knob a
      // real deployment sets per stateful query.
      drain(s, g, Some(8)) {
        Streams.tumblingStats(stream)
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, id: Long) =>
            store.upsert(b.sparkSession, "win", b, Seq("w_start", "event_type"),
              numFiles = Some(1), batchId = Some(id))
          }
      }
      store.read(s, "win")
        .select(fmt(col("w_start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("w_start", "event_type")
    }),

    // ---- T3/J4 STREAM-STREAM interval join, oracle-gated ------------
    // The attribution join run as an actual two-stream job: clicks and
    // errors replay as separate watermarked file streams (both sides
    // ts-range-ordered, mtime-stamped), the interval join buffers and
    // expires BOTH sides' state off the watermark, and every matched
    // (click, error-within-30-minutes) pair MERGEs into the store as it
    // emits. The final pair set must hash-match the one-shot batch
    // interval join — so cross-batch buffering (a click in file k
    // matching an error in file k+1), state expiry, and append-mode
    // exactly-once emission are all on the gate. The join's inclusive
    // lower bound is tightened to the oracle's strict `>` by a
    // post-join filter (exact, engine-neutral).
    "t3_stream_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("r_ts"))
      val g = gate(s, dir, "stream-join/v1", "events.parquet")
      stageOrdered(s, clicks, "ts", s"${g.base}/clicks", 3)
      stageOrdered(s, errors, "r_ts", s"${g.base}/errors", 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val lstream = files(s, clicks.schema, s"${g.base}/clicks")
      val rstream = files(s, errors.schema, s"${g.base}/errors")
      drain(s, g, Some(8)) {
        Streams.intervalJoin(lstream, rstream, "user_id",
            leftTs = "ts", rightTs = "r_ts",
            watermark = "2 hours", maxDelay = "30 minutes")
          .filter(col("r_ts") > col("ts"))
          .select(col("click_id"), col("err_id"))
          .writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, id: Long) =>
            store.upsert(b.sparkSession, "matches", b, Seq("click_id", "err_id"),
              numFiles = Some(1), batchId = Some(id))
          }
      }
      store.read(s, "matches")
        .select(col("click_id"), col("err_id"))
        .orderBy("click_id", "err_id")
    }),

    // ---- T3/J4 STREAMED LEFT-OUTER interval join, oracle-gated ------
    // The attribution join's outer form run end to end: a click with
    // no error within 30 minutes must STILL emit — but only once the
    // WATERMARK proves no match can arrive (premature misses would
    // double-count against a late match; StreamsSpec pins the
    // buffering, this gate pins the full replay). Clicks newer than
    // watermark - delay at end-of-stream would never resolve, so each
    // staged side carries two far-future SENTINEL rows under an
    // impossible user, each in its OWN trailing file/micro-batch: the
    // first pushes BOTH streams' watermarks past every real event
    // (the join watermark is the min of the two), and the second is
    // the data batch that runs UNDER that watermark and flushes the
    // remaining miss rows (a watermark takes effect the batch after
    // it moves — with one sentinel the 6 newest clicks' misses never
    // emitted). The final stored set must equal the one-shot batch
    // LEFT JOIN — matched pairs, miss rows, and
    // no-hit-and-miss-double-emission all on the hash gate. Misses
    // store as err_id = -1 (upsert keys cannot be null).
    "t3_stream_join_outer" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("r_ts"))
      val maxTs = e.agg(max(col("ts"))).head.getTimestamp(0)
      def far(h: Int) = new java.sql.Timestamp(maxTs.getTime + h * 3600 * 1000L)
      def cSent(h: Int) = Seq((-1L - h, -999L, far(h))).toDF("click_id", "user_id", "ts")
      def eSent(h: Int) = Seq((-11L - h, -999L, far(h))).toDF("err_id", "user_id", "r_ts")
      val g = gate(s, dir, "stream-join-outer/v2", "events.parquet")
      stageOrdered(s, clicks, "ts", s"${g.base}/clicks", 3, Seq(cSent(3), cSent(4)))
      stageOrdered(s, errors, "r_ts", s"${g.base}/errors", 3, Seq(eSent(3), eSent(4)))
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val lstream = files(s, clicks.schema, s"${g.base}/clicks")
      val rstream = files(s, errors.schema, s"${g.base}/errors")
      drain(s, g, Some(8)) {
        Streams.intervalJoinLeftOuter(lstream, rstream, "user_id",
            leftTs = "ts", rightTs = "r_ts",
            watermark = "2 hours", maxDelay = "30 minutes")
          .select(col("click_id"), col("err_id"))
          .writeStream.outputMode("append")
          // the sentinel filter MUST live inside foreachBatch: on the
          // streaming frame Catalyst pushes `click_id >= 0` below the
          // EventTimeWatermark node (it doesn't reference the time
          // column), the sentinel clicks die at the source, the left
          // watermark never advances past the real data, and every
          // click in the last 2.5 h of the corpus silently loses its
          // miss row — measured, not hypothetical.
          .foreachBatch { (b: DataFrame, id: Long) =>
            val out = b.filter(col("click_id") >= 0)
              .select(col("click_id"), coalesce(col("err_id"), lit(-1L)).as("err_id"))
            store.upsert(b.sparkSession, "matches", out, Seq("click_id", "err_id"),
              numFiles = Some(1), batchId = Some(id))
          }
      }
      store.read(s, "matches")
        .select(col("click_id"), col("err_id"))
        .orderBy("click_id", "err_id")
    }),

    // ---- T3/J4 STREAMED FULL-OUTER interval join, oracle-gated ------
    // Bidirectional attribution end to end: the
    // left-outer gate's watermark-proven-miss discipline applied to
    // BOTH sides — a click with no error within 30 min emits
    // (click_id, -1), an error no click claims emits (-1, err_id),
    // each exactly once and only after the watermark proves no match
    // can still arrive. The two-sentinel tail trick is already
    // symmetric (both staged sides carry them), so the same staging
    // serves: sentinel #1 pushes both watermarks past every real
    // event, sentinel #2's batch runs under that watermark and
    // flushes the remaining miss rows on BOTH sides. Sentinel rows
    // (user -999, negative ids) pair only with each other and are
    // dropped in foreachBatch — the filter keeps a row iff NEITHER
    // side shows a sentinel id (null sides pass: that's the miss
    // being reported). Final stored set must equal the one-shot
    // batch FULL JOIN.
    "t3_stream_join_full" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("r_ts"))
      val maxTs = e.agg(max(col("ts"))).head.getTimestamp(0)
      def far(h: Int) = new java.sql.Timestamp(maxTs.getTime + h * 3600 * 1000L)
      def cSent(h: Int) = Seq((-1L - h, -999L, far(h))).toDF("click_id", "user_id", "ts")
      def eSent(h: Int) = Seq((-11L - h, -999L, far(h))).toDF("err_id", "user_id", "r_ts")
      val g = gate(s, dir, "stream-join-full/v1", "events.parquet")
      stageOrdered(s, clicks, "ts", s"${g.base}/clicks", 3, Seq(cSent(3), cSent(4)))
      stageOrdered(s, errors, "r_ts", s"${g.base}/errors", 3, Seq(eSent(3), eSent(4)))
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val lstream = files(s, clicks.schema, s"${g.base}/clicks")
      val rstream = files(s, errors.schema, s"${g.base}/errors")
      drain(s, g, Some(8)) {
        Streams.intervalJoinFullOuter(lstream, rstream, "user_id",
            leftTs = "ts", rightTs = "r_ts",
            watermark = "2 hours", maxDelay = "30 minutes")
          .select(col("click_id"), col("err_id"))
          .writeStream.outputMode("append")
          // sentinel filter inside foreachBatch (the left-outer gate's
          // lesson: pushed below the watermark node it kills the
          // watermark advance); null sides PASS — they are the misses
          .foreachBatch { (b: DataFrame, id: Long) =>
            val out = b
              .filter((col("click_id").isNull || col("click_id") >= 0) &&
                (col("err_id").isNull || col("err_id") >= 0))
              .select(coalesce(col("click_id"), lit(-1L)).as("click_id"),
                coalesce(col("err_id"), lit(-1L)).as("err_id"))
            store.upsert(b.sparkSession, "matches", out, Seq("click_id", "err_id"),
              numFiles = Some(1), batchId = Some(id))
          }
      }
      store.read(s, "matches")
        .select(col("click_id"), col("err_id"))
        .orderBy("click_id", "err_id")
    }),

    // ---- T4 STREAMED arbitrary-state sessionization, oracle-gated ---
    // The flatMapGroupsWithState path end to end (the last streaming
    // operator that was spec-only): events
    // replay as ts-ordered micro-batches through closedSessions
    // (event-time timeout state machine), every CLOSED session MERGEs
    // into the store as it emits, and the final stored set must
    // hash-match the one-shot batch sessionization oracle — so
    // in-batch eager splits, cross-batch session extension, timeout
    // eviction, and append-mode exactly-once emission are all on the
    // gate. Sessions still open at end-of-stream only close when the
    // watermark passes their end+gap, so the staged corpus carries ONE
    // far-future SENTINEL event under a key no user has: it replays
    // last, pushes the global watermark past every real session, and
    // the trailing no-data micro-batch (on by default) fires the
    // timeouts. The sentinel's own session never closes (nothing
    // advances the watermark past IT), so it cannot reach the store —
    // the filter below is belt and braces.
    "t4_stream_sessions" -> ((s, dir) => {
      import s.implicits._
      val sentinel = "~wm~"
      val ev = Tables.events(s, dir)
      val uidType = ev.schema("user_id").dataType
      val keyed = ev.select(col("user_id").cast("string").as("key"), col("ts"))
      val maxTs = keyed.agg(max(col("ts"))).head.getTimestamp(0)
      val flush = Seq((sentinel, new java.sql.Timestamp(
        maxTs.getTime + (2 * 3600 + 1800) * 1000L))).toDF("key", "ts")
      val g = gate(s, dir, "stream-sessions/v1", "events.parquet")
      stageOrdered(s, keyed.unionAll(flush), "ts", g.stage, 5)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, keyed.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.closedSessions(stream.as[Streams.KeyedEvent],
            gap = "30 minutes", watermark = "1 hour")
          .toDF()
          .writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, id: Long) =>
            store.upsert(b.sparkSession, "sessions", b, Seq("key", "start"),
              numFiles = Some(1), batchId = Some(id))
          }
      }
      store.read(s, "sessions")
        .filter(col("key") =!= sentinel)
        .select(fmt(col("start")).as("s_start"),
          fmt(col("end") + expr("INTERVAL 30 minutes")).as("s_end"),
          col("key").cast(uidType).as("user_id"),
          col("n_events").cast("long").as("n"))
        .orderBy("user_id", "s_start")
    }),

    // ---- T4 STREAMED stateful dedup, oracle-gated -------------------
    // The dropDuplicatesWithinWatermark path end to end (the last T4
    // leg that was spec-only): the feed is the events corpus with
    // at-least-once redelivery INJECTED — every third event re-arrives
    // 5 minutes later under the same event_id — replayed as 4
    // ts-ordered micro-batches through the watermark-scoped dedup,
    // then folded per event_type into the store via the exactly-once
    // incremental-agg sink. The final state hashes against a plain
    // GROUP BY over the ORIGINAL events: it matches iff every injected
    // duplicate was dropped (a single survivor inflates n), whatever
    // file slicing the duplicates straddle. Determinism: a duplicate
    // trails its original by 5 minutes, the watermark delay is 2
    // hours, and replay is ts-ordered — so the original's dedup state
    // is still resident when the duplicate arrives, in this batch or
    // a later one. Value sums ride as micro-unit longs (t1's exact
    // cross-engine convention).
    "t4_stream_dedup" -> ((s, dir) => {
      val events = Tables.events(s, dir).select("event_id", "ts", "event_type", "value")
      val dups = events.filter(col("event_id") % 3 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 5 minutes"))
      val feed = events.unionAll(dups)
      val g = gate(s, dir, "stream-dedup/v1", "events.parquet")
      stageOrdered(s, feed, "ts", g.stage, 4)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, feed.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.incrementalAggSink(
            Streams.dedupWithinWatermark(stream, Seq("event_id")),
            store, "type_stats", Seq("event_type"),
            Seq(graft.operators.IncrementalAgg.Measure("n", count(lit(1))),
              graft.operators.IncrementalAgg.Measure("v6",
                sum(round(col("value") * 1000000L).cast("long")))))
      }
      store.read(s, "type_stats")
        .select(col("event_type"), col("n"), col("v6"))
        .orderBy("event_type")
    }),

    // ---- S11/T1 STREAMED CDC changelog apply, oracle-gated ----------
    // s4_cdc_apply run as an actual stream: the snapshot seeds the
    // store, the three change batches stage as seq-ordered files and
    // replay one per micro-batch through Streams.cdcSink (Cdc.apply +
    // batch-id replay guard per commit), and the FINAL stored
    // dimension must hash-match the one-shot latest-wins apply — so
    // within-batch last-op-wins, U-insert on absent keys, D-deletes of
    // both snapshot and earlier-batch rows, and cross-batch sequencing
    // are all on the gate. (Per-key seq order across files is
    // guaranteed by the range staging; that in-order delivery is the
    // CDC transport contract that makes sequential == one-shot.)
    "t5_stream_cdc" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
      val snapshot = o.filter($"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val upd = o.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", lit(1L).as("seq"), lit("U").as("op"),
          lit("P1").as("c_status"), ($"o_totalprice" + 10.0).as("c_price"))
      val del = o.filter($"o_orderkey" % 6 === 0)
        .select($"o_orderkey", lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("c_status"), lit(null).cast("double").as("c_price"))
      val ins = o.filter($"o_orderkey" % 5 === 0 &&
          $"o_orderdate" >= lit("1997-06-01").cast("timestamp"))
        .select($"o_orderkey", lit(3L).as("seq"), lit("U").as("op"),
          lit("P2").as("c_status"), ($"o_totalprice" * 2.0).as("c_price"))
      val changes = upd.unionAll(del).unionAll(ins)
      val g = gate(s, dir, "stream-cdc/v1", "orders.parquet")
      stageOrdered(s, changes, "seq", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      store.replace(s, "orders_dim", snapshot)
      val stream = files(s, changes.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.cdcSink(stream, store, "orders_dim", "o_orderkey", "seq", "op",
            Map("o_orderstatus" -> col("c_status"), "o_totalprice" -> col("c_price")))
      }
      store.read(s, "orders_dim")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // ---- T6: STREAMED incremental index maintenance -----------------
    // Index-building as an ingestion side effect: documents replay as
    // 3 micro-batches and each batch folds into the inverted index as
    // a published SEGMENT (TextIndex.fold — O(batch), base postings
    // never rewritten, one atomic segs-table commit per batch; a
    // crashed fold is invisible and the checkpoint replays it). The
    // base index is built EMPTY, so the entire corpus arrives through
    // the streamed fold path; the final BM25 probe shares the
    // one-shot-build oracle text — lost/duplicated segments, stale
    // df, or a half-published fold all shift scores and break the
    // hash.
    "t6_stream_index" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val g = gate(s, dir, "stream-index/v3", "documents.parquet")
      stageOrdered(s, docs, "doc_id", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      graft.operators.TextIndex.build(docs.limit(0), "doc_id", "text", store, "kw")
      val stream = files(s, docs.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty)
              graft.operators.TextIndex.fold(batch, "doc_id", "text", store, "kw")
          }
      }
      graft.operators.TextIndex.bm25Search(s, store, "kw",
        Seq("vector", "stream", "merge"), k = 20)
    }),

    // ---- T7: STREAMED CUSUM drift monitor ---------------------------
    // The sequential statistic a9_cusum computes in one batch pass,
    // maintained live across micro-batches: events replay in ts
    // order, each batch stream-static joins the per-user reference
    // (total, nd — the "configured target" a monitoring service
    // ships), and mapGroupsWithState folds completed days into
    // S = max(0, S + cnt·nd − total). Day-straddling batches are safe
    // (an open day accumulates in state until a later day arrives);
    // each key's open day FOLDS and EVICTS via event-time timeout
    // once the watermark passes the day boundary (state bounded by
    // ACTIVE keys), so the flush needs only ONE
    // watermark-advancing row at end of stream, not a sentinel per
    // key. The upsert sink keyed on user keeps the last emitted
    // state — and the gate SHARES a9_cusum's recursive-CTE oracle, so
    // the streamed fold must reproduce the batch statistic exactly.
    "t7_stream_cusum" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val keyed = ev.select($"user_id".cast("string").as("key"),
        unix_micros(date_trunc("day", $"ts")).as("dayUs"), $"ts")
      val ref = ev.groupBy($"user_id".cast("string").as("key"))
        .agg(count(lit(1)).as("total"),
          countDistinct(date_trunc("day", $"ts")).as("nd"))
      val maxTs = keyed.agg(max($"ts")).head.getTimestamp(0)
      // one watermark tick a day past every real event: advancing the
      // watermark fires EVERY key's day-end timeout — the advancer's
      // own key never matches ref, so the output join drops it
      val flush = Seq(("__wm__", Long.MaxValue / 2,
        new java.sql.Timestamp(maxTs.getTime + 86400000L))).toDF("key", "dayUs", "ts")
      val g = gate(s, dir, "stream-cusum/v2", "events.parquet")
      stageOrdered(s, keyed.unionAll(flush), "ts", g.stage, 4)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, keyed.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.cusumStates(
            Streams.enrich(stream, ref, "key")
              .select($"key", $"dayUs", coalesce($"total", lit(0L)).as("total"),
                coalesce($"nd", lit(0L)).as("nd"), $"ts")
              .as[Streams.CusumEvent])
          .toDF()
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, id: Long) =>
            store.upsert(b.sparkSession, "cusum", b, Seq("key"),
              numFiles = Some(1), batchId = Some(id))
          }
      }
      store.read(s, "cusum").join(ref, Seq("key"))
        .select($"key".cast(ev.schema("user_id").dataType).as("user_id"),
          $"nd", $"total", $"mx".as("max_cusum"),
          when($"mx" >= $"total" * 2, 1L).otherwise(0L).as("alarmed"))
        .orderBy($"user_id")
    }),

    // ---- T18: STREAMED Holt double smoothing ------------------------
    // a25_holt maintained live: daily activity folds into per-user
    // (level, trend) state as days COMPLETE (mapGroupsWithState with
    // the t7_stream_cusum day-fold/event-time-eviction contract), so
    // a forecasting service reads tomorrow's prediction off the
    // stored state without ever rescanning history. Day-straddling
    // batches accumulate in the open day; ONE watermark-advancing row
    // at end of stream folds every key's last day via timeouts. The
    // gate SHARES a25_holt's recursive-CTE oracle — the streamed
    // integer recurrence must reproduce the batch trajectory exactly.
    "t18_stream_holt" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val keyed = ev.select($"user_id".cast("string").as("key"),
        unix_micros(date_trunc("day", $"ts")).as("dayUs"), $"ts")
      val maxTs = keyed.agg(max($"ts")).head.getTimestamp(0)
      val flush = Seq(("__wm__", Long.MaxValue / 2,
        new java.sql.Timestamp(maxTs.getTime + 86400000L))).toDF("key", "dayUs", "ts")
      val g = gate(s, dir, "stream-holt/v1", "events.parquet")
      stageOrdered(s, keyed.unionAll(flush), "ts", g.stage, 4)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, keyed.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.holtStates(stream.as[Streams.HoltEvent]).toDF()
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, id: Long) =>
            store.upsert(b.sparkSession, "holt", b, Seq("key"),
              numFiles = Some(1), batchId = Some(id))
          }
      }
      store.read(s, "holt").filter($"key" =!= "__wm__")
        .select($"key".cast(ev.schema("user_id").dataType).as("user_id"),
          $"nd", $"level_m", $"trend_m",
          ($"level_m" + $"trend_m" * 7L).as("fc7_m"))
        .orderBy($"user_id")
    }),

    // ---- T8: STREAMED IVF index maintenance -------------------------
    // Ivf.fold driven from micro-batches — the vector sibling of
    // t6_stream_index, and the live half of the x2_ivf_fold_topk
    // story: the index is BUILT once over the 90% bulk, then the
    // held-out 10% arrives as 3 file-source micro-batches, each
    // folded against the STORED centroids inside foreachBatch (only
    // the touched cid partitions rewrite, one atomic manifest commit
    // per fold — a crash between batches leaves the last published
    // manifest live, and a replayed batch trips fold's overlap
    // rejection loudly instead of double-indexing). The gate probes
    // the final index at stock nprobe=8 and SHARES the brute-force
    // top-10 oracle: a lost batch, double fold, or mis-assigned cell
    // breaks the hash.
    "t8_stream_ivf" -> ((s, dir) => {
      graft.functions.Functions.register(s)
      val emb = Tables.embeddings(s, dir)
      val g = gate(s, dir, "stream-ivf/v1", "embeddings.parquet")
      stageOrdered(s, emb.filter(col("vec_id") % 10 === 9), "vec_id", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      graft.operators.Ivf.buildIndex(
        emb.filter(col("vec_id") % 10 =!= 9), "vec_id", "embedding", store, "ivf")
      val stream = files(s, emb.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty)
              graft.operators.Ivf.fold(batch.sparkSession, store, "ivf",
                batch, "vec_id", "embedding")
          }
      }
      graft.operators.Ivf.probeTopK(s, store, "ivf",
          emb.filter(col("vec_id") === 0L).select("embedding"), queryId = 0L, k = 10)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // ---- T9: STREAMED incremental-join maintenance ------------------
    // The live half of the delta-join IVM story (s4_incremental_join):
    // a CDC-pair FEED — each staged file carries one batch pair's
    // rows for BOTH relations, side-tagged in one union schema (how a
    // multi-table changefeed actually arrives) — replays as
    // micro-batches, and foreachBatch splits each pair and folds it
    // via IncrementalJoin.applyBatch. The bn comes from the DATA, not
    // the stream's batch id (robust to retries coalescing files), and
    // a replayed batch is a same-partition overwrite — idempotent by
    // the bn<batch read discipline. Shares the one-shot join oracle:
    // a lost pair, reordered fold, or double-counted dA JOIN dB term
    // breaks the hash.
    // ---- T19: STREAMED two-level IVM (aggregate over join) ----------
    // s4_ivm_join_agg maintained LIVE — the full reporting pipeline
    // under streaming arrival: each micro-batch's (orders, customers)
    // delta pair folds the maintained JOIN (delta-join rule, t9's
    // discipline), then the batch's ΔM — read back partition-pruned
    // from the join store's own bn commit — folds the maintained
    // revenue-per-nation AGGREGATE under its batchId replay guard.
    // Per batch: O(Δ ⋈ stored) + O(γ(ΔM)); neither level ever
    // rescans history, and a replayed batch is a no-op at BOTH
    // levels. SHARES s4_ivm_join_agg's one-shot oracle text.
    "t19_stream_join_agg" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        year($"o_orderdate").as("yy"))
      val c = Tables.customer(s, dir).select($"c_custkey".as("o_custkey"), $"c_nationkey")
      val oBat = Seq(o.filter($"yy" <= 1994), o.filter($"yy" === 1995 || $"yy" === 1996),
        o.filter($"yy" >= 1997)).map(_.drop("yy"))
      val cBat = (0 to 2).map(i => c.filter($"o_custkey" % 3 === i))
      val feed = (0 to 2).map { i =>
        oBat(i).select(lit(i.toLong).as("bn"), lit("o").as("side"),
            $"o_orderkey", $"o_custkey", $"cents",
            lit(null).cast("int").as("c_nationkey"))
          .unionByName(cBat(i).select(lit(i.toLong).as("bn"), lit("c").as("side"),
            lit(null).cast("long").as("o_orderkey"), $"o_custkey",
            lit(null).cast("long").as("cents"), $"c_nationkey"))
      }.reduce(_ unionByName _)
      val g = gate(s, dir, "stream-joinagg/v1", "orders.parquet")
      stageOrdered(s, feed, "bn", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, feed.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val sb = batch.sparkSession
            import sb.implicits._
            val bns = batch.select($"bn").distinct()
              .collect().map(_.getLong(0)).sorted
            bns.foreach { b =>
              val sub = batch.filter($"bn" === b)
              graft.operators.IncrementalJoin.applyBatch(sb, store, "ocj",
                sub.filter($"side" === "o").select($"o_orderkey", $"o_custkey", $"cents"),
                sub.filter($"side" === "c").select($"o_custkey", $"c_nationkey"),
                Seq("o_custkey"), b)
              val dM = graft.operators.IncrementalJoin.readBatch(sb, store, "ocj", b)
              graft.operators.IncrementalAgg.applyBatchM(sb, store, "nation_rev", dM,
                Seq("c_nationkey"),
                Seq(graft.operators.IncrementalAgg.Measure("n_orders", count(lit(1))),
                  graft.operators.IncrementalAgg.Measure("cents", sum($"cents"))),
                batchId = Some(b))
            }
          }
      }
      store.read(s, "nation_rev")
        .select($"c_nationkey", $"n_orders".cast("long").as("n_orders"),
          $"cents".cast("long").as("cents"))
        .orderBy($"c_nationkey")
    }),

    "t9_stream_ivm" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        $"o_totalprice", year($"o_orderdate").as("yy"))
      val c = Tables.customer(s, dir).select($"c_custkey".as("o_custkey"),
        $"c_name", $"c_acctbal")
      val oBat = Seq(o.filter($"yy" <= 1994), o.filter($"yy" === 1995 || $"yy" === 1996),
        o.filter($"yy" >= 1997)).map(_.drop("yy"))
      val cBat = (0 to 2).map(i => c.filter($"o_custkey" % 3 === i))
      val feed = (0 to 2).map { i =>
        oBat(i).select(lit(i.toLong).as("bn"), lit("o").as("side"),
            $"o_orderkey", $"o_custkey", $"o_totalprice",
            lit(null).cast("string").as("c_name"), lit(null).cast("double").as("c_acctbal"))
          .unionByName(cBat(i).select(lit(i.toLong).as("bn"), lit("c").as("side"),
            lit(null).cast("long").as("o_orderkey"), $"o_custkey",
            lit(null).cast("double").as("o_totalprice"), $"c_name", $"c_acctbal"))
      }.reduce(_ unionByName _)
      val g = gate(s, dir, "stream-ivm/v1", "orders.parquet")
      stageOrdered(s, feed, "bn", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, feed.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val sb = batch.sparkSession
            import sb.implicits._
            val bns = batch.select($"bn").distinct()
              .collect().map(_.getLong(0)).sorted
            bns.foreach { b =>
              val sub = batch.filter($"bn" === b)
              graft.operators.IncrementalJoin.applyBatch(sb, store, "oc",
                sub.filter($"side" === "o")
                  .select($"o_orderkey", $"o_custkey", $"o_totalprice"),
                sub.filter($"side" === "c")
                  .select($"o_custkey", $"c_name", $"c_acctbal"),
                Seq("o_custkey"), b)
            }
          }
      }
      graft.operators.IncrementalJoin.read(s, store, "oc")
        .select($"o_orderkey", $"o_custkey", $"c_name",
          round($"o_totalprice" * 100).cast("long").as("price_c"),
          round($"c_acctbal" * 100).cast("long").as("acctbal_c"))
        .orderBy($"o_orderkey")
    }),

    // ---- T15: STREAMED retraction IVM -------------------------------
    // The live half of s4_ivm_retract: a CDC feed (base load, then
    // deletes, then updates+inserts — three staged files replayed as
    // micro-batches) arrives already lowered to signed delta rows,
    // and foreachBatch folds each data-carried bn via the SAME
    // IncrementalAgg fold with bn as the replay guard — a retried
    // micro-batch (or a retry that coalesces files) is a no-op per
    // already-applied bn, so the maintained rollup is exactly-once.
    // Shares the batch gate's post-CDC recompute oracle: a lost
    // retraction, double-applied delta, or reordered fold breaks the
    // hash. Zero-tombstone contract as in the batch gate.
    "t15_stream_retract" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      val load = o.select(lit(0L).as("bn"), $"o_custkey",
        lit(1L).as("w"), $"cents".as("sc"))
      val del = o.filter($"o_orderkey" % 97 === 0)
        .select(lit(1L).as("bn"), $"o_custkey", lit(-1L).as("w"), (-$"cents").as("sc"))
      val upd = o.filter($"o_orderkey" % 89 === 0 && $"o_orderkey" % 97 =!= 0)
      val updOld = upd.select(lit(2L).as("bn"), $"o_custkey",
        lit(-1L).as("w"), (-$"cents").as("sc"))
      val updNew = upd.select(lit(2L).as("bn"), $"o_custkey",
        lit(1L).as("w"), ($"cents" + 12345L).as("sc"))
      val ins = o.filter($"o_orderkey" % 83 === 0)
        .select(lit(2L).as("bn"), $"o_custkey", lit(1L).as("w"), $"cents".as("sc"))
      val feed = load.unionByName(del).unionByName(updOld)
        .unionByName(updNew).unionByName(ins)
      val g = gate(s, dir, "stream-retract/v1", "orders.parquet")
      stageOrdered(s, feed, "bn", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, feed.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val sb = batch.sparkSession
            import sb.implicits._
            val bns = batch.select($"bn").distinct()
              .collect().map(_.getLong(0)).sorted
            bns.foreach { b =>
              graft.operators.IncrementalAgg.applyBatchM(sb, store, "cust_rev",
                batch.filter($"bn" === b).select($"o_custkey", $"w", $"sc"),
                Seq("o_custkey"),
                Seq(graft.operators.IncrementalAgg.Measure("n_orders", sum($"w")),
                  graft.operators.IncrementalAgg.Measure("cents", sum($"sc"))),
                batchId = Some(b))
            }
          }
      }
      store.read(s, "cust_rev")
        .filter($"n_orders" > 0)
        .select($"o_custkey", $"n_orders".cast("long").as("n_orders"),
          $"cents".cast("long").as("cents"))
        .orderBy($"o_custkey")
    }),

    // ---- T10: STREAMED near-dup gate (MinHash-LSH state) ------------
    // t4_stream_dedup's NEAR-dup sibling — the steady-state corpus
    // ingest shape: documents arrive in doc_id order as micro-batches,
    // each batch's LSH band keys probe the persisted bucket index for
    // candidates against EVERYTHING that arrived before (plus
    // within-batch pairs), candidates are exact-verified at Jaccard ≥
    // 0.6 with the verify explode scoped to TOUCHED docs only
    // (O(matched), not O(corpus)), and a doc is flagged dup iff it
    // pairs with ANY earlier doc — the drop-if-any-earlier contract,
    // which is order-deterministic and equals the one-shot rule
    // "dropped = larger member of any verified pair". ALL docs' band
    // keys fold into the index (dropped ones too — later arrivals
    // must still collide with them), via per-batch partition commits
    // (replay = same-partition overwrite, idempotent). Band keys
    // depend only on text, so incremental candidates == one-shot
    // candidates. Banding is the PORTABLE 16×4 scheme — one md5 per
    // gram, per-seed values derived by modular arithmetic
    // (Dedup.portableBandBuckets) — so the oracle replays the exact
    // band keys and is LSH-bounded too: O(candidates) in both
    // engines at every sf, instead of a quadratic oracle-side truth
    // join (the x1_lsh_recall_eval technique).
    "t10_stream_neardup" -> ((s, dir) => {
      graft.functions.Functions.register(s)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
      // v3 = one-md5-per-gram modular portable keys (v2 per-seed md5,
      // v1 xxhash64 band hashes)
      val g = gate(s, dir, "stream-neardup/v3", "documents.parquet")
      stageOrdered(s, docs, "doc_id", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, docs.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            val sb = batch.sparkSession
            // materialize the batch's band keys ONCE: the md5-per-gram
            // MinHash HOF is the dominant per-batch cost, and without
            // truncation its lineage re-executes for every consumer
            // (stored-side probe, in-batch self-join BOTH sides, the
            // bucket-store write) — measured 4× the gram hashing
            val bb = graft.operators.Dedup.portableBandBuckets(batch, "doc_id", "text",
              n = 3, k = 64, bands = 16).localCheckpoint(true)
            val candOld =
              if (store.exists(sb, "nd_buckets")) {
                val o = store.read(sb, "nd_buckets").drop("_nd_bn").alias("o")
                bb.alias("nw").join(o,
                  col("o.band") === col("nw.band") && col("o.h") === col("nw.h") &&
                    col("o.id") < col("nw.id"))
                  .select(col("o.id").as("idA"), col("nw.id").as("idB"))
              } else bb.limit(0).select(col("id").as("idA"), col("id").as("idB"))
            val candIn = bb.alias("a").join(bb.alias("b"),
                col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
                  col("a.id") < col("b.id"))
              .select(col("a.id").as("idA"), col("b.id").as("idB"))
            val cands = candOld.unionByName(candIn).distinct()
            val prevDocs =
              if (store.exists(sb, "nd_docs")) store.read(sb, "nd_docs").drop("_nd_bn")
              else batch.limit(0)
            // verify explode scoped to docs that appear in a candidate
            val ids = cands.select(col("idA").as("doc_id"))
              .unionByName(cands.select(col("idB").as("doc_id"))).distinct()
            val touched = prevDocs.unionByName(batch).join(ids, Seq("doc_id"), "left_semi")
            val dropped = graft.operators.Dedup.verifyPairs(cands, touched, "doc_id", "text", n = 3)
              .filter(col("n_common") * 5 >= col("n_union") * 3)
              .select(col("idB").as("doc_id")).distinct()
            val flags = batch.select("doc_id", "lang")
              .join(dropped.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
              .select(col("doc_id"), col("lang"), coalesce(col("dup"), lit(0L)).as("dup"))
            // coalesce(1): one file per batch partition (the t16
            // small-files rationale — each commit is batch-sized)
            store.replacePartitions(sb, "nd_flags",
              flags.withColumn("_nd_bn", lit(bid)).coalesce(1), "_nd_bn")
            store.replacePartitions(sb, "nd_docs",
              batch.withColumn("_nd_bn", lit(bid)).coalesce(1), "_nd_bn")
            store.replacePartitions(sb, "nd_buckets",
              bb.withColumn("_nd_bn", lit(bid)).coalesce(1), "_nd_bn")
            ()
          }
      }
      store.read(s, "nd_flags")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dup") === 0L, 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("lang"))
    }),

    // ---- T16: STREAMED incremental entity resolution ---------------
    // x1_survivorship maintained LIVE — the MDM steady state: record
    // batches arrive source-by-source (clean system, then each dirty
    // variant), every batch's band keys probe the PERSISTED band
    // index for cross-batch link candidates (t10's bucket discipline
    // — the stored side is never re-bucketed, and the index rows
    // carry the comparison attributes so the link path never scans
    // the record store; at 100 TB the index would additionally be
    // hive-partitioned by a block-key prefix so the probe
    // partition-prunes instead of the equi-join's full index
    // shuffle), verified links merge entities by relabeling ONLY the
    // TOUCHED components: members of clusters an endpoint belongs
    // to, plus the batch, re-run star contraction with their edges +
    // the new links — relabel work is O(batch + touched), never
    // O(all entities). Labels land by keyed partition-scoped upsert
    // (rid-band partitions, batch-id replay guard commits labels
    // LAST so a crash replay recomputes from consistent state);
    // min-label is a component property, so incremental relabeling
    // of touched components equals the one-shot labeling — the gate
    // SHARES x1_survivorship's oracle text verbatim: the
    // incrementally-maintained golden records must be
    // indistinguishable from the one-shot build.
    "t16_stream_entities" -> ((s, dir) => {
      graft.functions.Functions.register(s)
      val recs = DedupQueries.survivorshipRecords(s, dir)
      val g = gate(s, dir, "stream-entities/v1", "part.parquet")
      // rid ranges are disjoint per source variant, so 3 rid-ranged
      // files = one micro-batch per source system
      stageOrdered(s, recs, "rid", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, recs.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            val sb = batch.sparkSession
            graft.functions.Functions.register(sb)
            val newRecs = batch.localCheckpoint()
            // band keys CARRY the comparison attributes (name, type):
            // candidate generation AND verification run off the band
            // index + the batch alone — the record store is never
            // scanned in the link path. Build side ±1 size bands
            // (goes into the index), probe side exact size — every
            // |Δsize|≤1 pair collides exactly once across batches.
            val newBuild = newRecs
              .withColumn("sb", explode(sequence(col("size") - 1, col("size") + 1)))
              .select(col("p_brand"), col("c1"), col("sb"),
                col("rid"), col("name"), col("rtype"))
            val probe = newRecs.select(col("p_brand"), col("c1"),
              col("size").as("sb"), col("rid").as("prid"),
              col("name").as("pname"), col("rtype").as("ptype"))
            val storedBands =
              if (store.exists(sb, "er_bands")) store.read(sb, "er_bands").drop("_er_bn")
              else newBuild.limit(0)
            val newEdges = storedBands.unionByName(newBuild)
              .join(probe, Seq("p_brand", "c1", "sb"))
              .filter(col("rid") =!= col("prid") && col("rtype") === col("ptype") &&
                call_function("jaro_winkler", col("name"), col("pname")) >= 0.9)
              .select(least(col("rid"), col("prid")).as("idA"),
                greatest(col("rid"), col("prid")).as("idB"))
              .distinct()
              .localCheckpoint()
            val oldLabels =
              if (store.exists(sb, "er_labels"))
                store.read(sb, "er_labels").select(col("rid"), col("cluster"))
              else newRecs.limit(0).select(col("rid"), col("rid").as("cluster"))
            // touched components: clusters owning any link endpoint
            val endIds = newEdges.select(col("idA").as("rid"))
              .unionByName(newEdges.select(col("idB").as("rid"))).distinct()
            val touched = oldLabels.join(endIds, Seq("rid"), "left_semi")
              .select(col("cluster")).distinct()
            val subOld = oldLabels.join(touched, Seq("cluster"), "left_semi")
              .select(col("rid"))
            val subNodes = subOld.unionByName(newRecs.select(col("rid"))).distinct()
            // stored edges are intra-component, so membership of one
            // endpoint in a touched component implies the whole edge
            val subEdges =
              if (store.exists(sb, "er_edges"))
                store.read(sb, "er_edges").drop("_er_bn")
                  .join(subOld.withColumnRenamed("rid", "idA"), Seq("idA"), "left_semi")
              else newEdges.limit(0)
            val relabeled = graft.operators.Dedup.clusterLabelsStar(
                subNodes, "rid", subEdges.unionByName(newEdges))
              .withColumnRenamed("id", "rid")
              .withColumn("b16", pmod(col("rid"), lit(16L)).cast("int"))
            // coalesce(1): each commit lands ONE batch partition of a
            // few thousand rows — without it every commit wrote a file
            // (+ .crc sidecar) per shuffle task, and stack samples
            // showed t16's task time parked in ParquetOutputWriter
            // creation, not data (small files, write side)
            store.replacePartitions(sb, "er_recs",
              newRecs.withColumn("_er_bn", lit(bid)).coalesce(1), "_er_bn")
            store.replacePartitions(sb, "er_bands",
              newBuild.withColumn("_er_bn", lit(bid)).coalesce(1), "_er_bn")
            store.replacePartitions(sb, "er_edges",
              newEdges.withColumn("_er_bn", lit(bid)).coalesce(1), "_er_bn")
            // labels LAST, replay-guarded: a crash before this commit
            // replays the batch against unchanged labels
            store.upsertPartitioned(sb, "er_labels", relabeled,
              Seq("rid"), "b16", numFiles = Some(1), batchId = Some(bid))
            ()
          }
      }
      DedupQueries.goldenRecords(
        store.read(s, "er_recs").drop("_er_bn"),
        store.read(s, "er_labels").select(col("rid"), col("cluster")))
    }),

    // ---- T17: STREAMED multimodal ingest (decode → resize) ----------
    // The media half of the ingest story (every other streamed gate is
    // relational/text/vector): document batches arrive as 3 id-ranged
    // micro-batches, each batch's image payloads DECODE and RESIZE on
    // the executors (Multimodal.resizeImages — payloads never
    // shuffle; the thumbnail store receives only (id, dims, pixel
    // sum) + the re-encoded thumb bytes), and results land by
    // per-batch partition commits (replay = same-partition overwrite,
    // idempotent). Decode is pure per-row work, so the streamed fold
    // must equal the one-shot batch run — the gate SHARES x4_resize's
    // oracle text.
    "t17_stream_media" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val g = gate(s, dir, "stream-media/v1", "documents.parquet")
      stageOrdered(s, docs, "doc_id", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, docs.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            val sb = batch.sparkSession
            val thumbs = graft.multimodal.Multimodal.resizeImages(
                graft.multimodal.Multimodal.decodableMediaFromDocuments(batch),
                tw = 16, th = 12)
              .toDF
              .filter(length(col("thumb")) > 0)
              .select(col("mediaId").as("media_id"),
                col("tw").cast("long").as("tw"), col("th").cast("long").as("th"),
                col("pixSum").as("pix_sum"))
            // NO coalesce here (unlike t16/t10): the thumbs frame is a
            // NARROW decode pipeline — coalesce(1) would pull the whole
            // per-batch image decode onto one task
            store.replacePartitions(sb, "thumbs",
              thumbs.withColumn("_md_bn", lit(bid)), "_md_bn")
            ()
          }
      }
      store.read(s, "thumbs").drop("_md_bn").orderBy("media_id")
    }),

    // ---- T20: STREAMED audio ingest, oracle-gated -------------------
    // t17_stream_media's audio sibling (x4_audio_features maintained
    // LIVE): document micro-batches synthesize + DECODE their WAV
    // payloads on the executors (payloads never shuffle; the store
    // receives only the integer triage stats), each batch landing by
    // an idempotent per-batch partition commit. The final store must
    // hash-match the one-shot batch oracle — same text as
    // x4_audio_features, so a dropped batch, a double-applied replay,
    // or a per-batch decode divergence breaks the gate.
    "t20_stream_audio" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val g = gate(s, dir, "stream-audio/v1", "documents.parquet")
      stageOrdered(s, docs, "doc_id", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, docs.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            val sb = batch.sparkSession
            val feats = graft.multimodal.Multimodal.audioFeatures(
                graft.multimodal.Multimodal.decodableMediaFromDocuments(batch))
              .toDF
              .select(col("mediaId").as("media_id"),
                col("sampleRate").cast("long").as("sample_rate"),
                col("nSamples").as("n_samples"), col("peak"),
                col("sumSq").as("sum_sq"),
                col("zeroCrossings").as("zero_crossings"),
                expr("CAST(FLOOR(SQRT(sumSq / CAST(nSamples AS DOUBLE)) * 1000) AS BIGINT)")
                  .as("rms_milli"))
            // NO coalesce (t17 note: narrow decode pipeline)
            store.replacePartitions(sb, "audio",
              feats.withColumn("_au_bn", lit(bid)), "_au_bn")
            ()
          }
      }
      store.read(s, "audio").drop("_au_bn").orderBy("media_id")
    }),

    // ---- T21: STREAMED GDPR erasure, oracle-gated -------------------
    // The right-to-be-forgotten stream: deletion requests arrive as
    // micro-batches (the production shape — a privacy queue, not a
    // nightly batch) and each folds into the text index's tombstone
    // set via TextIndex.remove (one atomic commit per batch;
    // content-idempotent, so at-least-once replay is safe without a
    // batch-id guard). The final BM25 probe must hash-match DuckDB
    // scoring an index that never saw ANY erased doc — shares
    // x3_search_erasure's survivor oracle text: streamed erasure ==
    // one-shot erasure == never-indexed, the full equivalence chain.
    "t21_stream_erasure" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val g = gate(s, dir, "stream-erase/v1", "documents.parquet")
      // the index under erasure is PER-RUN state (tombstones grow):
      // rebuild it fresh each run so the gate is deterministic
      val store = new graft.operators.TableStore(s"${g.run}/store")
      graft.operators.TextIndex.build(docs, "doc_id", "text", store, "kw")
      val erase = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
      stageOrdered(s, erase, "doc_id", g.stage, 3)
      val stream = files(s, erase.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            graft.operators.TextIndex.remove(
              b.sparkSession, store, "kw", b, "doc_id")
            ()
          }
      }
      graft.operators.TextIndex.bm25Search(s, store, "kw",
        Seq("vector", "stream", "merge"), k = 20)
    }),

    // ---- T22: STREAMED CDC-OUT replica pipeline, oracle-gated -------
    // The replication loop LIVE (s13_cdc_sync is the one-shot form):
    // each micro-batch MERGEs into the upstream table (exactly-once
    // via batch id) and Streams.replicatedUpsertSink then folds the
    // resulting change-feed diff into a downstream REPLICA
    // (TableStore.syncReplica — snapshot bootstrap on the first
    // commit, one content-idempotent diff per commit after). The
    // stream carries real UPDATES: every order arrives once, then
    // every key ≡ 0 (mod 3) arrives again re-statused with doubled
    // price in later batches (seq-ordered staging keeps per-key
    // delivery ordered — the CDC transport contract). The gate reads
    // the REPLICA, never the upstream: a skipped diff, a
    // double-applied diff, or a bootstrap/diff boundary bug breaks
    // the hash, nupdates included.
    "t22_stream_cdc_out" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val updates = o.filter($"o_orderkey" % 3 === 0)
        .select($"o_orderkey", lit("S2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"))
      val g = gate(s, dir, "stream-cdcout/v2", "orders.parquet")
      // inserts as 3 seq-ordered files, the update wave as ONE tail
      // file — so no micro-batch carries two versions of a key and the
      // nupdates counter stays on the gate (range-sampled boundaries
      // would mix ~10 boundary keys' copies into one batch)
      stageOrdered(s, o, "o_orderkey", g.stage, 3, Seq(updates))
      val src = new graft.operators.TableStore(s"${g.run}/src", retain = 2)
      val replica = new graft.operators.TableStore(s"${g.run}/dst")
      val stream = files(s, o.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.replicatedUpsertSink(stream, src, "orders",
            Seq("o_orderkey"), replica, "orders")
      }
      replica.read(s, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- T25: the SAME streamed replication loop, BOTH ends
    // PARTITIONED — the production shape at 100 TB: the per-batch
    // upstream merge reads/rewrites only the partitions the batch's
    // keys touch and the replica fold only the partitions the diff
    // touches (Streams.replicatedUpsertSinkPartitioned →
    // upsertPartitioned + syncReplicaPartitioned). p_year is a
    // function of the key's order date, so keys never move partitions
    // (the shared partitioned-merge contract). SAME update waves,
    // SAME oracle text as t22: one replication contract, two
    // routings, live.
    "t25_stream_cdc_out_part" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          year($"o_orderdate").cast("int").as("p_year"))
      val updates = o.filter($"o_orderkey" % 3 === 0)
        .select($"o_orderkey", lit("S2").as("o_orderstatus"),
          ($"o_totalprice" * 2.0).as("o_totalprice"), $"p_year")
      val g = gate(s, dir, "stream-cdcout-part/v1", "orders.parquet")
      stageOrdered(s, o, "o_orderkey", g.stage, 3, Seq(updates))
      val src = new graft.operators.TableStore(s"${g.run}/src", retain = 2)
      val replica = new graft.operators.TableStore(s"${g.run}/dst")
      val stream = files(s, o.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.replicatedUpsertSinkPartitioned(stream, src, "orders",
            Seq("o_orderkey"), "p_year", replica, "orders")
      }
      replica.read(s, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"nupdates")
        .orderBy($"o_orderkey")
    }),

    // ---- T24: STREAMED CASCADING erasure — the privacy queue over
    // EVERY artifact (t21 erased the text index alone; this drives
    // Erasure.eraseDocuments per micro-batch across the full cascade
    // store: text index, IVF, LSH buckets, SQ/PQ/BQ codes, pair
    // store, ER bands, fingerprint registry). Requests replay as 3
    // batches; each walk is idempotent and atomic per artifact, so
    // at-least-once replay needs no batch-id plumbing, and the store
    // is SHARED with x1_erasure_cascade (whichever runs first erases;
    // the other re-walks to zero — ErasureSpec pins the zero re-run).
    // The gate is the identical probe battery and oracle text as the
    // one-shot cascade: batched erasure == one-shot erasure ==
    // never-indexed, across every serving path at once.
    "t24_stream_cascade" -> ((s, dir) => {
      val store = DedupQueries.cascadeArtifactStore(s, dir)
      val erase = Tables.documents(s, dir)
        .filter(col("doc_id") % 17 === 3).select(col("doc_id"))
      val g = gate(s, dir, "stream-cascade/v1", "documents.parquet")
      stageOrdered(s, erase, "doc_id", g.stage, 3)
      val stream = files(s, erase.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            graft.operators.Erasure.eraseDocuments(b.sparkSession, store, b, "doc_id")
            ()
          }
      }
      DedupQueries.cascadeProbes(s, dir, store)
    }),

    // ---- T26: STREAMED LEDGERED erasure — the privacy queue with ----
    // EVIDENCE. t24 drives the cascade directly (idempotency alone
    // makes replay safe); this routes every request micro-batch
    // through the LEDGER: enqueue (batch-id replay-guarded, so a
    // re-delivered request batch lands once) then processPending
    // (erase-then-mark: a crash between the two re-walks on the next
    // trigger — the queue DRAINS, requests cannot be lost between
    // batches the way a direct-drive foreachBatch crash could lose
    // an in-flight one). The gate reads the AUDIT LOG (doc_id +
    // status only — batch-slicing-independent) and pins in-body that
    // every processed id is gone from the artifacts.
    "t26_stream_ledger" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val g = gate(s, dir, "stream-ledger/v1", "documents.parquet")
      // the ledger is per-run state under the gate's own run dir
      val store = new graft.operators.TableStore(s"${g.run}/store")
      store.replace(s, "corpus_fp",
        docs.select(col("doc_id"), md5(col("text")).as("fp")))
      store.replace(s, "pairs", docs.select(col("doc_id").as("idA"))
        .join(docs.select(col("doc_id").as("idB")), $"idA" + 1 === $"idB"))
      val erase = docs.filter($"doc_id" % 11 === 4).select($"doc_id")
      stageOrdered(s, erase, "doc_id", g.stage, 3)
      val stream = files(s, erase.schema, g.stage)
      drain(s, g, Some(4)) {
        stream.writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.operators.Erasure.enqueue(b.sparkSession, store, b, "doc_id",
              batchId = Some(id))
            graft.operators.Erasure.processPending(b.sparkSession, store)
            ()
          }
      }
      val log = graft.operators.Erasure.auditLog(s, store)
      assert(store.read(s, "corpus_fp")
        .join(erase, Seq("doc_id"), "left_semi").count() == 0L,
        "every processed request must be erased from the artifacts")
      log.select($"doc_id", $"status").orderBy($"doc_id")
    }),

    // ---- T23: STREAMED append-only ingest, oracle-gated -------------
    // s4_append_feed LIVE — the production shape of the keyless fact
    // feed: orders replay as 4 micro-batches, each committing ONE new
    // `_ab` batch partition (Streams.appendSink → TableStore.append,
    // exactly-once via the manifest-carried batch id). The gate is
    // batch-slicing-independent by design (range-sampled file
    // boundaries vary): the appended table minus its `_ab` watermark
    // must equal the source verbatim — a lost batch, a duplicated
    // replay, or a row routed into two partitions breaks the hash; the
    // in-body assert pins that the rows really arrived as 4 distinct
    // batch partitions, not one big append.
    "t23_stream_append" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val g = gate(s, dir, "stream-append/v1", "orders.parquet")
      stageOrdered(s, o, "o_orderkey", g.stage, 4)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, o.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.appendSink(stream, store, "feed")
      }
      val feed = store.read(s, "feed")
      assert(feed.select("_ab").distinct().count() == 4L,
        "stream must land as 4 distinct batch partitions")
      feed.select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // ---- T27: STREAMING SOURCE over the store — the append TAIL -----
    // The other half of t23: a downstream job
    // TAILS an append-only graft table through `readStream.format(
    // graft.streaming.StoreTailProvider)` — offsets are the `_ab`
    // batch ordinals straight off the manifest, each micro-batch a
    // partition-pruned scan of only the new batches. The tail feeds a
    // complete-mode streaming aggregate checkpointed across TWO runs:
    // run 1 consumes appends 0-1, two more appends land, run 2 resumes
    // from the SAME checkpoint and folds ONLY them — re-consuming a
    // committed batch would double-count into the restored state and
    // break the hash, so the oracle equality IS the exactly-once
    // proof, batch-slicing-independent by construction.
    "t27_stream_tail" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val g = gate(s, dir, "stream-tail/v1", "orders.parquet")
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val down = new graft.operators.TableStore(s"${g.run}/down")
      def appendSlice(i: Int): Unit =
        store.append(s, "feed", o.filter($"o_orderkey" % 4 === i),
          batchId = Some(i.toLong))
      def runTail(): Unit = {
        val tail = s.readStream.format("graft.streaming.StoreTailProvider")
          .option("root", store.root).option("table", "feed").load()
        val agg = tail.groupBy($"o_orderstatus")
          .agg(graft.functions.Functions.dsum($"o_totalprice").as("total_price"),
            count(lit(1)).as("n"))
        drain(s, g, Some(8)) {
          agg.writeStream.outputMode("complete")
            .foreachBatch { (b: DataFrame, id: Long) =>
              if (!down.alreadyApplied(b.sparkSession, "agg", Some(id)))
                down.replace(b.sparkSession, "agg", b.coalesce(1), Some(id.toString))
            }
        }
      }
      appendSlice(0); appendSlice(1)
      runTail()
      val partial = down.read(s, "agg").agg(sum($"n")).head().getLong(0)
      assert(partial == o.filter($"o_orderkey" % 4 <= 1).count(),
        "run 1 must aggregate exactly the first two appended batches")
      appendSlice(2); appendSlice(3)
      runTail() // resumes the checkpoint: folds ONLY batches 2-3
      down.read(s, "agg").orderBy($"o_orderstatus")
    }),

    // ---- T28: STREAMING SOURCE over the store — the keyed FEED ------
    // The change-feed tail (`graft.streaming.StoreFeedProvider`):
    // offsets are committed VERSION IDS on the commit chain, batch 1
    // is the bootstrap snapshot as I rows, each later batch the
    // reference-diff-pruned keyed I/U/D feed between the two chain
    // positions — consumed here into a downstream replica fold
    // (kept ∖ touched ∪ I/U, D stays dropped, batch-id replay-guarded).
    // Runs poll across a multi-commit gap (an update commit AND a
    // delete commit land between polls → one spanning feed batch), so
    // the oracle equality pins offset resolution, diff exactness and
    // exactly-once application at once.
    "t28_stream_feed" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val g = gate(s, dir, "stream-feed/v1", "orders.parquet")
      val up = new graft.operators.TableStore(s"${g.run}/up", retain = 3)
      val down = new graft.operators.TableStore(s"${g.run}/down")
      up.replace(s, "dim", o)
      def runFeed(): Unit = {
        val feed = s.readStream.format("graft.streaming.StoreFeedProvider")
          .option("root", up.root).option("table", "dim")
          .option("keys", "o_orderkey").load()
        drain(s, g, Some(8)) {
          feed.writeStream
            .foreachBatch { (b: DataFrame, id: Long) =>
              val sp = b.sparkSession
              if (!down.alreadyApplied(sp, "replica", Some(id))) {
                val kept =
                  if (!down.exists(sp, "replica")) b.filter(lit(false)).drop("op")
                  else down.read(sp, "replica")
                    .join(b.select($"o_orderkey"), Seq("o_orderkey"), "left_anti")
                down.replace(sp, "replica",
                  kept.unionByName(b.filter($"op" =!= "D").drop("op")).coalesce(1),
                  Some(id.toString))
              }
            }
        }
      }
      runFeed() // bootstrap: the full snapshot as I rows
      assert(down.read(s, "replica").count() == o.count())
      // TWO commits land between polls: an update and a delete — the
      // next feed batch spans both through one pruned diff
      up.updateWhere(s, "dim", $"o_orderkey" % 3 === 0,
        Map("o_orderstatus" -> lit("S2"), "o_totalprice" -> $"o_totalprice" * 2.0))
      up.deleteWhere(s, "dim", $"o_orderkey" % 5 === 4)
      runFeed()
      down.read(s, "replica").orderBy($"o_orderkey")
    }),

    // ---- T29: streamed keyed feed ACROSS A WIDEN, oracle-gated ------
    // The schema-evolution seam in the LIVE replication loop (t28 is
    // the schema-stable form): the upstream dim widens mid-checkpoint
    // (the ALTER ADD COLUMNS shape), then an update backfills the new
    // column for a band of keys and a delete lands — one resumed poll
    // spans all three commits through the widen-aware diff (old side
    // null-pads, so rows the widen alone touched emit NO spurious U),
    // the restart re-derives the source schema from the head, and the
    // replica folds the 4-column feed over its 3-column bootstrap
    // (unionByName null-pads the cold rows — exactly their post-widen
    // value). The final replica must hash-match the last-state
    // recomputation in DuckDB: a spurious U, a lost backfill, or a
    // misaligned pad breaks it.
    "t29_stream_feed_widen" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val g = gate(s, dir, "stream-feedw/v1", "orders.parquet")
      val up = new graft.operators.TableStore(s"${g.run}/up", retain = 4)
      val down = new graft.operators.TableStore(s"${g.run}/down")
      up.replace(s, "dim", o)
      def runFeed(): Unit = {
        val feed = s.readStream.format("graft.streaming.StoreFeedProvider")
          .option("root", up.root).option("table", "dim")
          .option("keys", "o_orderkey").load()
        drain(s, g, Some(8)) {
          feed.writeStream
            .foreachBatch { (b: DataFrame, id: Long) =>
              val sp = b.sparkSession
              if (!down.alreadyApplied(sp, "replica", Some(id))) {
                val kept =
                  if (!down.exists(sp, "replica")) b.filter(lit(false)).drop("op")
                  else down.read(sp, "replica")
                    .join(b.select($"o_orderkey"), Seq("o_orderkey"), "left_anti")
                down.replace(sp, "replica",
                  kept.unionByName(b.filter($"op" =!= "D").drop("op"),
                    allowMissingColumns = true).coalesce(1),
                  Some(id.toString))
              }
            }
        }
      }
      runFeed() // bootstrap: 3-column snapshot as I rows
      // the widen, a backfilling update, and a delete — three commits
      // in one poll gap
      up.replace(s, "dim",
        up.read(s, "dim").withColumn("o_flag", lit(null).cast("string")))
      up.updateWhere(s, "dim", $"o_orderkey" % 7 === 1,
        Map("o_orderstatus" -> lit("W"), "o_flag" -> lit("X")))
      up.deleteWhere(s, "dim", $"o_orderkey" % 11 === 3)
      runFeed()
      val out = down.read(s, "replica")
      assert(out.columns.sorted.toSeq ==
        Seq("o_flag", "o_orderkey", "o_orderstatus", "o_totalprice"),
        s"the replica must carry the widened schema: ${out.columns.mkString(",")}")
      out.select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"o_flag")
        .orderBy($"o_orderkey")
    }),

    // ---- T11: STREAMED ordered funnel, oracle-gated -----------------
    // x5_funnel's per-user stage machine maintained LIVE
    // (Streams.funnelStates): the events corpus replays as 4
    // ts-ordered micro-batches, each batch advances every touched
    // user's (view, click, purchase) triple in (ts, event_id) order,
    // and the running snapshot upserts into the store keyed on user —
    // so stage transitions that STRADDLE batch boundaries (a view in
    // batch 1 whose click lands in batch 3) are exactly what the gate
    // exercises. The final store must hash-match the one-shot batch
    // staged-window oracle (shared text): a lost transition, a
    // re-anchored view, or an out-of-order stage advance breaks it.
    "t11_stream_funnel" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val uidType = ev.schema("user_id").dataType
      val keyed = ev.select($"user_id".cast("string").as("key"),
        unix_micros($"ts").as("tsUs"), $"event_id".cast("long").as("eid"),
        $"event_type".as("etype"), $"ts")
      val g = gate(s, dir, "stream-funnel/v1", "events.parquet")
      stageOrdered(s, keyed, "ts", g.stage, 4)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, keyed.schema, g.stage)
      drain(s, g, Some(8)) {
        Streams.funnelStates(
            stream.select($"key", $"tsUs", $"eid", $"etype").as[Streams.FunnelEvent])
          .toDF()
          .writeStream.outputMode("update")
          .foreachBatch { (b: DataFrame, id: Long) =>
            store.upsert(b.sparkSession, "funnel", b, Seq("key"),
              numFiles = Some(1), batchId = Some(id))
          }
      }
      store.read(s, "funnel")
        .select($"key".cast(uidType).as("user_id"),
          when($"tp" >= 0, "purchase").when($"tc" >= 0, "click")
            .when($"tv" >= 0, "view").otherwise("none").as("reached"),
          when($"tv" >= 0, timestamp_micros($"tv")).as("ts_view"),
          when($"tc" >= 0, timestamp_micros($"tc")).as("ts_click"),
          when($"tp" >= 0, timestamp_micros($"tp")).as("ts_purchase"))
        .orderBy($"user_id")
    }),

    // ---- T14: STREAMED PSI drift monitor ----------------------------
    // a9_psi run the way production actually runs it: the REFERENCE
    // side is a frozen batch artifact (decile cutpoints + ref bucket
    // counts, built once and persisted), and the CURRENT side streams
    // — each micro-batch bins against the stored cuts and folds
    // per-bin counts through IncrementalAgg (additive, batch-id
    // replay-guarded ⇒ exactly-once), so monitor state is 10 rows
    // forever and a batch costs O(batch). After the replay the
    // assembled report must equal the one-shot a9_psi — same oracle
    // text. Only the add-one-smoothed (p₂−p₁)·ln ratio at the very
    // edge is float math, rounded 1e-6 (the batch query's own
    // discipline).
    "t14_stream_psi" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select($"ts", unix_micros($"ts").as("us"),
        round($"value" * 1000000).cast("long").as("v6"))
      val g = gate(s, dir, "stream-psi/v1", "events.parquet")
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
      stageOrdered(s, tagged.filter($"us" >= $"mid").select($"ts", $"v6"), "ts", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      // frozen reference artifact: cutpoints from the ref half + its
      // bucket counts — built once, persisted, never recomputed
      val ref = tagged.filter($"us" < $"mid")
      val cuts = graft.operators.Percentiles.exactDistributed(
        ref.withColumn("vd", $"v6".cast("double")), Nil, "vd",
        (1 to 9).map(_ / 10.0), (1 to 9).map(k => s"c$k"))
      val cutsF = cuts.select((1 to 9).map(k =>
        floor(col(s"c$k")).cast("long").as(s"c$k")): _*)
      store.replace(s, "cuts", cutsF)
      val bin =
        (1 to 9).map(k => when(col("v6") >= col(s"c$k"), 1L).otherwise(0L)).reduce(_ + _) + lit(1L)
      store.replace(s, "ref_counts",
        ref.crossJoin(broadcast(cutsF)).withColumn("bin", bin)
          .groupBy($"bin").agg(count(lit(1)).as("n_ref")))
      val stream = files(s, tagged.select($"ts", $"v6").schema, g.stage)
      drain(s, g, None) {
        stream.writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            val sb = b.sparkSession
            val cf = store.read(sb, "cuts")
            val binned = b.crossJoin(org.apache.spark.sql.functions.broadcast(cf))
              .withColumn("bin", bin)
            graft.operators.IncrementalAgg.applyBatchM(sb, store, "cur_counts",
              binned, Seq("bin"),
              Seq(graft.operators.IncrementalAgg.Measure("n_cur", count(lit(1)))),
              batchId = Some(id))
          }
      }
      val full = s.range(1, 11).select($"id".as("bin"))
        .join(store.read(s, "ref_counts"), Seq("bin"), "left")
        .join(store.read(s, "cur_counts").select($"bin", $"n_cur"), Seq("bin"), "left")
        .select($"bin", coalesce($"n_ref", lit(0L)).as("n_ref"),
          coalesce($"n_cur", lit(0L)).as("n_cur"))
      full.crossJoin(broadcast(full.agg(sum($"n_ref").as("tr"), sum($"n_cur").as("tc"))))
        .select($"bin", $"n_ref", $"n_cur",
          expr("((n_ref + 1) * 1000000) div (tr + 10)").as("ref_ppm"),
          expr("((n_cur + 1) * 1000000) div (tc + 10)").as("cur_ppm"),
          expr("""round(((n_cur + 1) / cast(tc + 10 as double) - (n_ref + 1) / cast(tr + 10 as double))
            * ln(((n_cur + 1) / cast(tc + 10 as double)) / ((n_ref + 1) / cast(tr + 10 as double))), 6)""")
            .as("psi_contrib"))
        .orderBy($"bin")
    }),

    // ---- T13: STREAMED SCD2 dimension maintenance -------------------
    // The batch s4_scd2_history derivation, maintained LIVE: order
    // events stream in o_orderdate-ordered micro-batches and each
    // batch MERGEs into the dimension store — closing the changed
    // keys' current versions and opening new ones in one keyed upsert
    // (Streams.scd2Sink). stageOrdered's range split guarantees the
    // sink's two preconditions (batches date-ordered, no date
    // straddles a batch), so the folded history must equal the
    // one-shot derivation — the gate SHARES s4_scd2_history's oracle
    // text, the t7/t11 discipline. Replays are no-ops via the upsert
    // batch id.
    "t13_stream_scd2" -> ((s, dir) => {
      import s.implicits._
      val feed = Tables.orders(s, dir)
        .select($"o_custkey", $"o_orderdate", $"o_orderpriority", $"o_orderkey")
      val g = gate(s, dir, "stream-scd2/v1", "orders.parquet")
      stageOrdered(s, feed, "o_orderdate", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, feed.schema, g.stage)
      drain(s, g, None) {
        Streams.scd2Sink(stream, store, "dim",
            key = "o_custkey", ts = "o_orderdate", attr = "o_orderpriority",
            ord = "o_orderkey")
      }
      store.read(s, "dim")
        .select($"o_custkey", $"version", $"o_orderpriority",
          $"valid_from", $"valid_to", $"is_current")
        .orderBy($"o_custkey", $"version")
    }),

    // ---- T12: STREAMED bottom-k sample (deterministic reservoir) ----
    // The streaming form of uniform sampling that actually distributes:
    // keep the k events with the SMALLEST md5(event_id) — the bottom-k
    // sketch (Cohen & Kaplan). Unlike a classic reservoir it needs no
    // randomness and no arrival-order state: the merge is an
    // associative, commutative, idempotent min-k of hashes, so any
    // shard/batch/replay order lands on the SAME sample, per-batch
    // work is a partial bottom-k on every partition
    // (TakeOrderedAndProject) merged against k stored rows, and state
    // is O(k) forever. That idempotence is the exactly-once story: a
    // replayed micro-batch re-merges the same candidates into the
    // same set. The gate is EXACT (not rows-only): the final sample
    // must equal the one-shot batch bottom-k, which DuckDB replays as
    // ORDER BY md5 LIMIT k — hash-portable because md5 hex of the
    // decimal id string is engine-independent.
    "t12_stream_bottomk" -> ((s, dir) => {
      import s.implicits._
      val k = 64
      val ev = Tables.events(s, dir)
        .select($"event_id", $"user_id", $"event_type", $"ts",
          md5($"event_id".cast("string")).as("h"))
      val g = gate(s, dir, "stream-bottomk/v1", "events.parquet")
      stageOrdered(s, ev, "ts", g.stage, 3)
      val store = new graft.operators.TableStore(s"${g.run}/store")
      val stream = files(s, ev.schema, g.stage)
      drain(s, g, None) {
        stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            Streams.bottomKMerge(store, "sample",
              batch.select(col("event_id"), col("user_id"), col("event_type"), col("h")), k)
          }
      }
      store.read(s, "sample")
        .select($"event_id", $"user_id", $"event_type", $"h")
        .orderBy($"h", $"event_id")
    })
  )

  val oracle: Map[String, String] = Map(
    // the streamed MERGE folds must reproduce the one-shot SCD2
    // derivation — same text as s4_scd2_history
    "t13_stream_scd2" -> LifecycleQueries.oracle("s4_scd2_history"),

    // frozen-reference + incrementally-folded current counts must
    // assemble into the one-shot PSI report — same text as a9_psi
    "t14_stream_psi" -> AnalyticsQueries.oracle("a9_psi"),

    // the streamed bottom-k merge must land on the one-shot batch
    // bottom-k — the sketch's merge is order-insensitive by design
    "t12_stream_bottomk" ->
      """SELECT event_id, user_id, event_type, md5(CAST(event_id AS VARCHAR)) AS h
        |FROM events
        |ORDER BY h, event_id LIMIT 64""".stripMargin,
    // the streamed segment folds must answer exactly like a one-shot
    // full index build — same text as x3_bm25_search
    "t6_stream_index" -> TextQueries.Bm25OracleSql,
    // the streamed state machine must reproduce the batch CUSUM
    "t7_stream_cusum" -> AnalyticsQueries.CusumOracleSql,
    "t18_stream_holt" -> AnalyticsQueries.HoltOracleSql,
    "t19_stream_join_agg" -> CoreQueries.IvmJoinAggOracleSql,
    // the streamed stage machine must reproduce the batch staged
    // windows — same text as x5_funnel
    "t11_stream_funnel" -> AnalyticsQueries.FunnelOracleSql,
    // the streamed folds must serve the exact full-corpus ranking —
    // same text as x2_topk_cosine
    "t8_stream_ivf" -> VectorQueries.TopkOracleSql,
    // the streamed IVM folds must serve the identical one-shot join —
    // same text as s4_incremental_join
    "t9_stream_ivm" -> CoreQueries.IncrJoinOracleSql,

    "t15_stream_retract" -> CoreQueries.IvmRetractOracleSql,
    // the streamed near-dup flags must reproduce the one-shot rule:
    // dropped = larger member of any verified ≥0.6-Jaccard pair DRAWN
    // FROM THE LSH CANDIDATE SET. The oracle replays the portable md5
    // 16×4 band keys exactly (same seeds, same hex, same
    // lexicographic min, same seed-ordered concat — the
    // x1_lsh_recall_eval technique), so BOTH engines do O(candidates)
    // verify work: the gate stays runnable at every sf instead of the
    // old quadratic oracle-side truth join.
    // the incrementally-maintained entity labels must serve the
    // identical one-shot golden records — same text as
    // x1_survivorship
    "t16_stream_entities" -> DedupQueries.SurvivorshipOracleSql,
    // the streamed decode→resize fold must equal the one-shot batch
    // run — same text as x4_resize
    "t17_stream_media" -> MultimodalQueries.ResizeOracleSql,
    // the streamed audio-decode fold must be batch-identical — one
    // text, two read APIs (x4_audio_features is the one-shot form)
    "t20_stream_audio" -> MultimodalQueries.AudioFeaturesOracleSql,
    // streamed erasure == one-shot erasure == never-indexed: the
    // tombstoned index's BM25 over the survivors (x3_search_erasure's
    // text)
    "t21_stream_erasure" -> TextQueries.bm25OracleSql("WHERE doc_id % 7 <> 3"),

    // batched erasure == one-shot erasure == never-indexed: the
    // streamed cascade shares the one-shot gate's full probe battery
    // and oracle text across every serving path at once
    "t24_stream_cascade" -> DedupQueries.ErasureCascadeOracleSql,

    // the appended table minus its _ab watermark must equal the source
    // verbatim — lost/duplicated batches break the hash
    "t23_stream_append" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // the checkpoint-resumed streamed TAIL folded into an aggregate
    // must equal the one-shot recomputation: a re-consumed batch would
    // double-count into the restored state, a skipped one undercount
    "t27_stream_tail" ->
      s"""SELECT o_orderstatus, ${graft.functions.Functions.dsumSql("o_totalprice")} AS total_price,
         |  COUNT(*) AS n
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the change-feed tail applied to a replica == the last state
    // recomputed: updates carry post-images, deleted keys are gone,
    // the multi-commit gap resolves through the version-id offsets
    "t28_stream_feed" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'S2' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2.0 ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 5 <> 4 ORDER BY o_orderkey""".stripMargin,

    // the widened replica == the last-state recomputation: the widen
    // pads NULL everywhere, the update backfills one band, the delete
    // removes its band — any spurious U / lost backfill / misaligned
    // pad hash-mismatches
    "t29_stream_feed_widen" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 1 THEN 'W' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice,
        |  CASE WHEN o_orderkey % 7 = 1 THEN 'X' END AS o_flag
        |FROM orders WHERE o_orderkey % 11 <> 3 ORDER BY o_orderkey""".stripMargin,

    // the REPLICA (bootstrapped then diff-folded per micro-batch) must
    // equal the last-writer-wins recomputation: re-arrived keys carry
    // the update's values and nupdates 2, untouched keys 1
    "t22_stream_cdc_out" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'S2' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2.0 ELSE o_totalprice END AS o_totalprice,
        |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS nupdates
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // the drained ledger: every streamed request ends 'erased' —
    // slicing-independent (the gate omits the request batch ordinal)
    "t26_stream_ledger" ->
      """SELECT doc_id, 'erased' AS status FROM documents
        |WHERE doc_id % 11 = 4 ORDER BY doc_id""".stripMargin,

    // the partitioned routing must land on the identical replica —
    // same text (p_year is layout, not content: the gate omits it)
    "t25_stream_cdc_out_part" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'S2' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2.0 ELSE o_totalprice END AS o_totalprice,
        |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS nupdates
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "t10_stream_neardup" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id,
        |        CASE WHEN len(w) >= 3
        |             THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])
        |             ELSE [array_to_string(w, ' ')] END AS grams
        |      FROM d),
        |gr AS (SELECT doc_id,
        |         CAST('0x' || substr(md5(unnest(grams)), 1, 15) AS BIGINT) % 2147483647 AS x
        |       FROM g),
        |sig AS (SELECT doc_id, s,
        |    MIN((((2654435761 * (s + 1)) % 2147483647) * x
        |         + (40503 * (s + 7)) % 2147483647) % 2147483647) AS h
        |  FROM gr CROSS JOIN (SELECT unnest(range(0, 64)) AS s) GROUP BY 1, 2),
        |band AS (SELECT doc_id, s // 4 AS band,
        |    string_agg(lpad(CAST(h AS VARCHAR), 10, '0'), '' ORDER BY s) AS key
        |  FROM sig GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
        |    AND a.doc_id < b.doc_id),
        |ver AS (SELECT c.doc_a, c.doc_b
        |  FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b
        |  WHERE len(list_intersect(a.grams, b.grams)) * 5
        |        >= len(list_distinct(a.grams || b.grams)) * 3),
        |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM ver)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM dropped) THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "t3_tumbling_stats" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS w_start,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // every event belongs to exactly width/slide = 4 sliding windows
    "t3_sliding_stats" ->
      """SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) - k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S') AS w_start,
        |event_type, COUNT(*) AS n
        |FROM events, range(0, 4) r(k)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // session semantics: a new session starts when the gap from the
    // previous event of the same user is >= 30 minutes (Spark's
    // session end = last_ts + gap, end-exclusive); end = last + gap
    "t3_session_stats" ->
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x
        |)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        |       strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS s_end,
        |       user_id, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    // the streamed two-source interval join's pair set must equal the
    // one-shot batch interval join
    "t3_stream_join" ->
      """SELECT c.event_id AS click_id, e.event_id AS err_id
        |FROM events c JOIN events e
        |  ON e.user_id = c.user_id
        | AND c.event_type = 'click' AND e.event_type = 'error'
        | AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL '30 minutes'
        |ORDER BY click_id, err_id""".stripMargin,

    // the streamed LEFT-OUTER interval join's final set must equal the
    // one-shot batch left join: matched pairs + one -1 row per
    // never-matched click, nothing double-emitted
    "t3_stream_join_outer" ->
      """SELECT c.event_id AS click_id, COALESCE(e.event_id, -1) AS err_id
        |FROM events c LEFT JOIN events e
        |  ON e.user_id = c.user_id AND e.event_type = 'error'
        | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL '30 minutes'
        |WHERE c.event_type = 'click'
        |ORDER BY click_id, err_id""".stripMargin,

    // the streamed FULL-OUTER interval join's final set must equal the
    // one-shot batch full join: matched pairs + one null-extended row
    // per never-matched row on EACH side, nothing double-emitted
    "t3_stream_join_full" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts
        |  FROM events WHERE event_type = 'click'),
        |e AS (SELECT event_id AS err_id, user_id, ts AS r_ts
        |  FROM events WHERE event_type = 'error')
        |SELECT COALESCE(c.click_id, -1) AS click_id,
        |       COALESCE(e.err_id, -1) AS err_id
        |FROM c FULL JOIN e
        |  ON e.user_id = c.user_id
        | AND e.r_ts >= c.ts AND e.r_ts <= c.ts + INTERVAL '30 minutes'
        |ORDER BY click_id, err_id""".stripMargin,

    // the streamed windowed aggregate's FINAL STATE must equal the
    // one-shot batch window aggregate (same oracle as t3_tumbling)
    "t2_stream_windows" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS w_start,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the streamed state-machine sessionization's CLOSED-session set
    // must equal the one-shot batch sessionization (same oracle shape
    // as t3_session_stats)
    "t4_stream_sessions" ->
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x
        |)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        |       strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS s_end,
        |       user_id, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    // the streamed ingest's FINAL STATE must equal a one-shot GROUP BY
    // over the same events, whatever the micro-batch slicing
    "t1_stream_ingest" ->
      """SELECT user_id, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS v6
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the streamed enrichment's FINAL STATE must equal a one-shot
    // batch dim join + GROUP BY, whatever the micro-batch slicing
    "t1_stream_enrich" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS v6
        |FROM events JOIN customer ON c_custkey = user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the deduped streamed state must equal a GROUP BY over the
    // ORIGINAL events — every injected redelivery dropped, none extra
    "t4_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS v6
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // one-shot latest-wins apply of the full changelog (the batch
    // s4_cdc_apply oracle without its applied_op diagnostic column)
    "t5_stream_cdc" ->
      """WITH snapshot AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1996-01-01'),
        |changes AS (
        |  SELECT o_orderkey, 1 AS seq, 'U' AS op, 'P1' AS c_status,
        |         o_totalprice + 10.0 AS c_price FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'D', NULL, NULL FROM orders WHERE o_orderkey % 6 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'U', 'P2', o_totalprice * 2.0 FROM orders
        |  WHERE o_orderkey % 5 = 0 AND o_orderdate >= TIMESTAMP '1997-06-01'),
        |latest AS (
        |  SELECT * FROM (SELECT o_orderkey, op, c_status, c_price,
        |    row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |  FROM changes) WHERE rn = 1)
        |SELECT COALESCE(t.o_orderkey, c.o_orderkey) AS o_orderkey,
        |  CASE WHEN c.op = 'U' THEN c.c_status ELSE t.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN c.op = 'U' THEN c.c_price ELSE t.o_totalprice END AS o_totalprice
        |FROM snapshot t FULL OUTER JOIN latest c ON t.o_orderkey = c.o_orderkey
        |WHERE COALESCE(c.op, 'K') != 'D'
        |ORDER BY o_orderkey""".stripMargin
  )
}
