package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Pins the partition-scoped upsert contract (VERDICT r1 fix #1): the
  * merge reads only touched partitions (PartitionFilters in the scan),
  * rewrites only touched partition directories, and leaves every other
  * partition's files byte-identical on disk. */
class TableStorePartitionSpec extends SparkSpec {

  private def freshStore(): TableStore = {
    val dir = Files.createTempDirectory(Paths.get("target"), "pstore-")
    new TableStore(dir.toString)
  }

  private def batch(day: Int, rows: Seq[(String, String)]) = {
    val s = spark; import s.implicits._
    rows.toDF("k", "v").withColumn("p_date", org.apache.spark.sql.functions.lit(day))
  }

  /** (relative path, length, modification time, content checksum) of
    * every data file under the table — the byte-identity fingerprint. */
  private def fileState(store: TableStore, name: String): Map[String, (Long, Long, Int)] = {
    val root = new Path(store.livePath(name))
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = f.listFiles(root, true)
    val out = scala.collection.mutable.Map[String, (Long, Long, Int)]()
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && !st.getPath.getName.startsWith("_")) {
        val bytes = {
          val in = f.open(st.getPath)
          try {
            val b = new Array[Byte](st.getLen.toInt); in.readFully(0, b); b
          } finally in.close()
        }
        out(st.getPath.toString.stripPrefix(root.toString)) =
          (st.getLen, st.getModificationTime, java.util.Arrays.hashCode(bytes))
      }
    }
    out.toMap
  }

  test("upsert merges within a partition: insert=1, re-upsert bumps nupdates") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t", batch(20250505, Seq("a" -> "x", "b" -> "y")),
      Seq("k"), "p_date", numFiles = Some(1))
    val first = store.read(spark, "t").collect()
    assert(first.length == 2 && first.forall(_.getAs[Long]("nupdates") == 1L))
    store.upsertPartitioned(spark, "t", batch(20250505, Seq("a" -> "x2")),
      Seq("k"), "p_date", numFiles = Some(1))
    val got = store.read(spark, "t").collect()
      .map(r => r.getAs[String]("k") -> (r.getAs[String]("v"), r.getAs[Long]("nupdates"))).toMap
    assert(got("a") == ("x2", 2L)) // matched: value replaced, counter bumped
    assert(got("b") == ("y", 1L))  // untouched key in same partition kept
  }

  test("a batch rewrites ONLY its partitions; others stay byte-identical") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t", batch(20250505, Seq("a" -> "x", "b" -> "y")),
      Seq("k"), "p_date", numFiles = Some(1))
    store.upsertPartitioned(spark, "t", batch(20250506, Seq("c" -> "z")),
      Seq("k"), "p_date", numFiles = Some(1))
    val before = fileState(store, "t")
    assert(before.keys.exists(_.contains("p_date=20250505")))
    assert(before.keys.exists(_.contains("p_date=20250506")))

    // touch only day 06
    store.upsertPartitioned(spark, "t", batch(20250506, Seq("c" -> "z2", "d" -> "w")),
      Seq("k"), "p_date", numFiles = Some(1))
    val after = fileState(store, "t")

    val before05 = before.filter(_._1.contains("p_date=20250505"))
    val after05 = after.filter(_._1.contains("p_date=20250505"))
    assert(after05 == before05, "untouched partition changed on disk")
    assert(after.filter(_._1.contains("p_date=20250506")) !=
      before.filter(_._1.contains("p_date=20250506")))
    // and the merge really happened
    val got = store.read(spark, "t").collect()
      .map(r => r.getAs[String]("k") -> (r.getAs[String]("v"), r.getAs[Long]("nupdates"))).toMap
    assert(got == Map("a" -> ("x", 1L), "b" -> ("y", 1L),
      "c" -> ("z2", 2L), "d" -> ("w", 1L)))
  }

  test("the merge's target scan is partition-pruned (PartitionFilters in the plan)") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t", batch(20250505, Seq("a" -> "x")), Seq("k"), "p_date")
    store.upsertPartitioned(spark, "t", batch(20250506, Seq("b" -> "y")), Seq("k"), "p_date")
    val p = store.prunedRead(spark, "t", "p_date", Seq(20250506))
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("p_date"), p.take(800))
    // pruning is real: only the matching partition's rows are read
    assert(store.prunedRead(spark, "t", "p_date", Seq(20250506)).count() == 1)
  }

  test("new partitions from a batch are created without touching existing ones") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t", batch(20250505, Seq("a" -> "x")), Seq("k"), "p_date")
    val before = fileState(store, "t")
    store.upsertPartitioned(spark, "t", batch(20250507, Seq("n" -> "new")), Seq("k"), "p_date")
    val after = fileState(store, "t")
    assert(after.filter(_._1.contains("p_date=20250505")) ==
      before.filter(_._1.contains("p_date=20250505")))
    assert(after.keys.exists(_.contains("p_date=20250507")))
    assert(store.read(spark, "t").count() == 2)
  }

  test("a multi-partition batch commits through ONE manifest: both partitions map to one version") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t",
      batch(1, Seq("a" -> "x")).union(batch(2, Seq("b" -> "y"))), Seq("k"), "p_date")
    val f = new Path(store.livePath("t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new Path(store.livePath("t"), "_pmanifest")
    assert(f.exists(mp), "partitioned commit must publish a _pmanifest")
    val in = f.open(mp)
    val lines = try new String(in.readAllBytes(), "UTF-8").linesIterator.toSeq finally in.close()
    val vers = lines.filterNot(_.startsWith("#")) // skip meta/schema headers
      .map(_.split('\t')).map(a => a(0) -> a(1)).toMap
    assert(vers.keySet == Set("p_date=1", "p_date=2"))
    assert(vers.values.toSet.size == 1, s"one batch = one version tag: $vers")
  }

  test("crash between staging and commit: reader sees the WHOLLY old batch; vacuum cleans") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t",
      batch(1, Seq("a" -> "x")).union(batch(2, Seq("b" -> "y"))), Seq("k"), "p_date",
      numFiles = Some(1))
    val before = store.read(spark, "t").collect().map(_.toString).sorted.toSeq
    val beforeFiles = fileState(store, "t")
    // simulate a writer that STAGED a new version for both partitions
    // and died before the single manifest rename: orphan v-dirs exist
    // under every partition dir, the manifest still names the old ones
    val f = new Path(store.livePath("t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq("p_date=1", "p_date=2")) {
      val staged = new Path(store.livePath("t"), s"$p/v-crashed1")
      f.mkdirs(staged)
      // plant REAL parquet data in the orphan so a reader that wrongly
      // listed directories (instead of the manifest) would see it
      batch(99, Seq("z" -> "boom")).drop("p_date")
        .write.mode("overwrite").parquet(new Path(staged, "inner").toString)
      f.listStatus(new Path(staged, "inner")).filter(_.isFile)
        .foreach(s => f.rename(s.getPath, new Path(staged, s.getPath.getName)))
      f.delete(new Path(staged, "inner"), true)
    }
    assert(store.read(spark, "t").collect().map(_.toString).sorted.toSeq == before,
      "reader must resolve the manifest, not directory listings")
    store.vacuum(spark)
    assert(fileState(store, "t") == beforeFiles, "vacuum must remove only the orphans")
    val leftover = f.listStatus(new Path(store.livePath("t"), "p_date=1"))
      .map(_.getPath.getName).toSet
    assert(!leftover.contains("v-crashed1"), "vacuum must collect staged-but-uncommitted versions")
  }

  test("retained generations: time travel serves each state, survives vacuum, crash orphans still cleaned") {
    val dir = Files.createTempDirectory(Paths.get("target"), "pstore-hist-")
    val store = new TableStore(dir.toString, retain = 2)
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "v1")), Seq("k"), "p_date")
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "v2")), Seq("k"), "p_date")
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "v3")), Seq("k"), "p_date")
    def at(back: Int) = store.readVersionsBack(spark, "t", back)
      .select("v").head().getString(0)
    assert((at(0), at(1), at(2)) == ("v3", "v2", "v1"))
    // plant a crash orphan: a staged version dir no state references
    val f = new Path(store.livePath("t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new Path(store.livePath("t"), "p_date=1/v-crashed9")
    f.mkdirs(orphan)
    val gens = fileState(store, "t")
    store.vacuum(spark)
    // the orphan is gone; every generation-referenced file untouched
    assert(!f.exists(orphan))
    assert(fileState(store, "t") == gens.filterNot(_._1.contains("v-crashed9")))
    assert((at(0), at(1), at(2)) == ("v3", "v2", "v1"))
    // a fourth commit truncates the window: v1's dir falls away
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "v4")), Seq("k"), "p_date")
    assert((at(0), at(1), at(2)) == ("v4", "v3", "v2"))
    intercept[IllegalArgumentException] { at(3) }
    assert(store.versionDepth(spark, "t") == 3)
  }

  test("independent tables of one store commit concurrently: rows, counters, history intact; no staging left") {
    val dir = Files.createTempDirectory(Paths.get("target"), "pstore-conc-")
    val store = new TableStore(dir.toString, retain = 5)
    val tables = Seq("t0", "t1", "t2")
    val rounds = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    try {
      val writers = tables.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = (1 to rounds).foreach { r =>
            store.upsertPartitioned(spark, t, batch(1, Seq("a" -> s"$t-$r", s"k$r" -> t)),
              Seq("k"), "p_date", numFiles = Some(1))
          }
        })
      }
      writers.foreach(_.get())
    } finally pool.shutdown()
    for (t <- tables) {
      val got = store.read(spark, t).collect()
        .map(r => r.getAs[String]("k") -> (r.getAs[String]("v"), r.getAs[Long]("nupdates"))).toMap
      assert(got == ((1 to rounds).map(r => s"k$r" -> (t, 1L)).toMap + ("a" -> (s"$t-$rounds", rounds.toLong))))
      assert(store.versionDepth(spark, t) == rounds, t)
    }
    val staging = {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter(_.getFileName.toString.startsWith(".tmp-")).toList
      finally w.close()
    }
    assert(staging.isEmpty, staging)
  }

  test("widenPartitioned: one-time sweep adds a column atomically; implicit widening still rejected") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "x")), Seq("k"), "p_date",
      numFiles = Some(1))
    store.upsertPartitioned(spark, "t", batch(2, Seq("b" -> "y")), Seq("k"), "p_date",
      numFiles = Some(1))
    store.widenPartitioned(spark, "t",
      Map("score" -> org.apache.spark.sql.functions.lit(0L)), "p_date")
    // widened column readable across every (old) partition
    val got = store.read(spark, "t").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("score")).toMap
    assert(got == Map("a" -> 0L, "b" -> 0L))
    // the sweep is ONE commit: both partitions carry the same version tag
    val f = new Path(store.livePath("t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(new Path(store.livePath("t"), "_pmanifest"))
    val vers = (try new String(in.readAllBytes(), "UTF-8").linesIterator.toSeq finally in.close())
      .filterNot(_.startsWith("#")) // skip meta/schema headers
      .map(_.split('\t')).map(a => a(1)).toSet
    assert(vers.size == 1)
    // a post-widen single-partition upsert carries the column and
    // leaves the other partition byte-identical
    val before1 = fileState(store, "t").filter(_._1.contains("p_date=1"))
    val s = spark; import s.implicits._
    store.upsertPartitioned(spark, "t",
      Seq(("c", "z", 2, 7L)).toDF("k", "v", "p_date", "score"), Seq("k"), "p_date",
      numFiles = Some(1))
    assert(fileState(store, "t").filter(_._1.contains("p_date=1")) == before1)
    assert(store.read(spark, "t").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("score")).toMap
      == Map("a" -> 0L, "b" -> 0L, "c" -> 7L))
    // clashing name rejected
    intercept[IllegalArgumentException] {
      store.widenPartitioned(spark, "t",
        Map("v" -> org.apache.spark.sql.functions.lit("")), "p_date")
    }
  }

  test("partitioned batch-id replay guard: a re-delivered batch is a no-op") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "x")), Seq("k"), "p_date",
      numFiles = Some(1), batchId = Some(0L))
    val files = fileState(store, "t")
    // at-least-once driver re-delivers batch 0: must not re-bump
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "x")), Seq("k"), "p_date",
      numFiles = Some(1), batchId = Some(0L))
    assert(fileState(store, "t") == files, "replayed batch must be a no-op on disk")
    assert(store.read(spark, "t").collect().head.getAs[Long]("nupdates") == 1L)
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "x")), Seq("k"), "p_date",
      numFiles = Some(1), batchId = Some(1L))
    assert(store.read(spark, "t").collect().head.getAs[Long]("nupdates") == 2L)
  }

  test("legacy flat hive layout is adopted on first v2 write, data intact") {
    val store = freshStore()
    val s = spark; import s.implicits._
    // fabricate the OLD layout: files directly under partCol=value dirs
    Seq(("a", "x", 1, 1L), ("b", "y", 2, 1L)).toDF("k", "v", "p_date", "nupdates")
      .write.partitionBy("p_date").parquet(store.livePath("t"))
    assert(store.read(spark, "t").count() == 2) // legacy read path works
    store.upsertPartitioned(spark, "t", batch(2, Seq("b" -> "y2")),
      Seq("k"), "p_date", numFiles = Some(1))
    val got = store.read(spark, "t").collect()
      .map(r => r.getAs[String]("k") -> (r.getAs[String]("v"), r.getAs[Long]("nupdates"))).toMap
    assert(got == Map("a" -> ("x", 1L), "b" -> ("y2", 2L)))
    // adopted partition now lives under a version dir and the manifest
    val f = new Path(store.livePath("t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new Path(store.livePath("t"), "p_date=1/v-adopted")))
    assert(f.exists(new Path(store.livePath("t"), "_pmanifest")))
  }

  test("optimizeZOrderPartitioned: content-identical, one commit; subset mode leaves others byte-identical") {
    val store = freshStore()
    val s = spark; import s.implicits._
    // shuffled int keys so clustering actually reorders rows
    val rows = Seq((9, 1, 1), (2, 8, 1), (7, 3, 1), (4, 6, 1), (1, 9, 2), (8, 2, 2))
      .toDF("a", "b", "p")
    store.replacePartitions(spark, "t", rows.repartition(3), "p")
    val contentBefore = store.read(spark, "t").collect().map(_.toString).sorted.toSeq
    store.optimizeZOrderPartitioned(spark, "t", "p", "a", "b")
    assert(store.read(spark, "t").collect().map(_.toString).sorted.toSeq == contentBefore,
      "re-clustering must not change content")
    // atomic: both partitions publish under ONE version tag
    val f = new Path(store.livePath("t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(new Path(store.livePath("t"), "_pmanifest"))
    val vers = (try new String(in.readAllBytes(), "UTF-8").linesIterator.toSeq finally in.close())
      .filterNot(_.startsWith("#")).map(_.split('\t')(1)).toSet
    assert(vers.size == 1, s"one maintenance pass = one commit: $vers")
    // subset mode: only p=1 is rewritten
    val before2 = fileState(store, "t").filter(_._1.contains("p=2"))
    store.optimizeZOrderPartitioned(spark, "t", "p", "a", "b", partitions = Some(Seq(1)))
    assert(fileState(store, "t").filter(_._1.contains("p=2")) == before2,
      "partition outside the maintenance subset must stay byte-identical")
    assert(store.read(spark, "t").collect().map(_.toString).sorted.toSeq == contentBefore)
  }

  test("compactPartitions folds only fragmented partitions; compact ones stay byte-identical") {
    val store = freshStore()
    // day 5 fragmented (plan-driven parallelism: 4 files), day 6 compact (1 file)
    store.upsertPartitioned(spark, "t",
      batch(5, Seq("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4")).repartition(4),
      Seq("k"), "p_date")
    store.upsertPartitioned(spark, "t", batch(6, Seq("x" -> "9")), Seq("k"), "p_date",
      numFiles = Some(1))
    def filesIn(part: String) = fileState(store, "t").keys.count(_.contains(part))
    assert(filesIn("p_date=5") > 1, "day 5 must start fragmented")
    assert(filesIn("p_date=6") == 1)
    val contentBefore = store.read(spark, "t").collect().map(_.toString).sorted.toSeq
    val day6Before = fileState(store, "t").filter(_._1.contains("p_date=6"))
    store.compactPartitions(spark, "t", "p_date", maxFiles = 1)
    assert(filesIn("p_date=5") == 1, "fragmented partition folds to one file")
    assert(fileState(store, "t").filter(_._1.contains("p_date=6")) == day6Before,
      "already-compact partition must not be touched")
    assert(store.read(spark, "t").collect().map(_.toString).sorted.toSeq == contentBefore)
    // idempotent: nothing fragmented left → second run is a no-op
    val s1 = fileState(store, "t")
    store.compactPartitions(spark, "t", "p_date", maxFiles = 1)
    assert(fileState(store, "t") == s1)
  }

  test("compactAppend folds batches <= floor into one partition; above-floor batches byte-identical") {
    val store = freshStore()
    val s = spark; import s.implicits._
    def rows(vs: (Long, String)*) = vs.toDF("k", "v")
    store.append(spark, "feed", rows(1L -> "a", 2L -> "b"), batchId = Some(0L))
    store.append(spark, "feed", rows(3L -> "c"), batchId = Some(1L))
    store.append(spark, "feed", rows(4L -> "d"), batchId = Some(2L))
    store.append(spark, "feed", rows(5L -> "e"), batchId = Some(3L))
    val contentBefore = store.read(spark, "feed").drop("_ab")
      .collect().map(_.toString).sorted.toSeq
    val aboveBefore = fileState(store, "feed")
      .filter(p => p._1.contains("_ab=2") || p._1.contains("_ab=3"))
    store.compactAppend(spark, "feed", floor = 1, numFiles = Some(1))
    // content minus batch identity is untouched
    assert(store.read(spark, "feed").drop("_ab")
      .collect().map(_.toString).sorted.toSeq == contentBefore)
    // batches 0 and 1 collapsed onto _ab=1; 2 and 3 never moved
    val abs = store.read(spark, "feed").select("_ab").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(abs == Seq(1, 2, 3))
    assert(fileState(store, "feed")
      .filter(p => p._1.contains("_ab=2") || p._1.contains("_ab=3")) == aboveBefore,
      "batches above the floor must keep their exact files")
    // consumers at the floor are unaffected; laggards replay, never lose
    assert(store.read(spark, "feed").filter($"_ab" > 1).count() == 2L)
    assert(store.read(spark, "feed").filter($"_ab" > 0).count() == 5L)
    // re-run at the same floor: natural no-op (one partition at the floor)
    val s1 = fileState(store, "feed")
    store.compactAppend(spark, "feed", floor = 1)
    assert(fileState(store, "feed") == s1)
    // the ordinal survives: the next append lands after the old max
    store.append(spark, "feed", rows(6L -> "f"), batchId = Some(4L))
    assert(store.read(spark, "feed").filter($"k" === 6L)
      .head().getAs[Int]("_ab") == 4)
    // replay guard carried through the fold: an already-applied batch no-ops
    store.append(spark, "feed", rows(9L -> "dup"), batchId = Some(2L))
    assert(store.read(spark, "feed").count() == 6L)
    // floor beyond the max folds everything into one partition
    store.compactAppend(spark, "feed", floor = 99, numFiles = Some(1))
    assert(store.read(spark, "feed").select("_ab").distinct().count() == 1L)
    assert(store.read(spark, "feed").drop("_ab").collect().map(_.toString).sorted
      .toSeq == (contentBefore :+ "[6,f]").sorted)
    // a keyed table refuses the verb
    store.upsert(spark, "kv", rows(1L -> "x"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      store.compactAppend(spark, "kv", floor = 0)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("dropBatches expires old append batches wholesale; survivors byte-identical") {
    val store = freshStore()
    val s = spark; import s.implicits._
    def rows(vs: (Long, String)*) = vs.toDF("k", "v")
    store.append(spark, "feed", rows(1L -> "a"), batchId = Some(0L))
    store.append(spark, "feed", rows(2L -> "b"), batchId = Some(1L))
    store.append(spark, "feed", rows(3L -> "c"), batchId = Some(2L))
    store.append(spark, "feed", rows(4L -> "d"), batchId = Some(3L))
    val surviveBefore = fileState(store, "feed")
      .filter(p => p._1.contains("_ab=2") || p._1.contains("_ab=3"))
    store.dropBatches(spark, "feed", upTo = 1)
    assert(store.read(spark, "feed").select("k").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(3L, 4L))
    assert(fileState(store, "feed")
      .filter(p => p._1.contains("_ab=2") || p._1.contains("_ab=3")) == surviveBefore,
      "surviving batches' files must never move")
    assert(!fileState(store, "feed").keys.exists(_.contains("_ab=0")),
      "expired batch dirs must be deleted")
    // idempotent; replay guard survives; the ordinal keeps counting up
    val s1 = fileState(store, "feed")
    store.dropBatches(spark, "feed", upTo = 1)
    assert(fileState(store, "feed") == s1)
    store.append(spark, "feed", rows(9L -> "dup"), batchId = Some(3L)) // replay: no-op
    assert(store.read(spark, "feed").count() == 2L)
    store.append(spark, "feed", rows(5L -> "e"), batchId = Some(4L))
    assert(store.read(spark, "feed").filter($"k" === 5L).head().getAs[Int]("_ab") == 4)
    // expiring EVERYTHING leaves a readable zero-row table
    store.dropBatches(spark, "feed", upTo = 99)
    assert(store.read(spark, "feed").count() == 0L)
    // the batch ordinal is MONOTONE across a drop-everything: the next
    // append continues at 5 (the #abnext watermark), never reuses 0 —
    // an incremental consumer whose watermark is 4 still sees the row
    // (ADVICE r11 #1: ordinal reuse silently hid all later rows)
    store.append(spark, "feed", rows(6L -> "f"), batchId = Some(5L))
    assert(store.read(spark, "feed").head().getAs[Int]("_ab") == 5)
    assert(store.read(spark, "feed").filter($"_ab" > 4).count() == 1L,
      "a consumer watermark past the expired batches must see new appends")
    // maintenance verbs stay usable on the emptied-then-refilled table
    store.compactAppend(spark, "feed", floor = 99)
    store.dropBatches(spark, "feed", upTo = 5)
    store.append(spark, "feed", rows(7L -> "g"), batchId = Some(6L))
    assert(store.read(spark, "feed").head().getAs[Int]("_ab") == 6)
    // keyed tables refuse the verb
    store.upsert(spark, "kv", rows(1L -> "x"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      store.dropBatches(spark, "kv", upTo = 0)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("append maintenance model: random append/compactAppend/dropBatches sequences match a reference model") {
    val store = freshStore()
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    var nextKey = 0L
    // reference model: rows as (key, batch); the batch set mirrors
    // dirs; hwm mirrors the persisted #abnext watermark — the next
    // ordinal NEVER regresses, even after dropBatches expired all dirs
    var model = Vector.empty[(Long, Int)]
    var batches = Set.empty[Int]
    var hwm = 0
    def nextAb = hwm
    for (step <- 1 to 24) {
      rnd.nextInt(4) match {
        case 0 | 1 => // append 1-3 rows
          val n = 1 + rnd.nextInt(3)
          val ks = (0 until n).map { _ => nextKey += 1; nextKey }
          val ab = nextAb
          store.append(spark, "feed", ks.map(k => (k, s"v$k")).toDF("k", "v"))
          model ++= ks.map(_ -> ab); batches += ab; hwm = ab + 1
        case 2 if batches.nonEmpty => // compact at a random existing floor
          val floor = batches.toSeq(rnd.nextInt(batches.size))
          store.compactAppend(spark, "feed", floor, numFiles = Some(1))
          val below = batches.filter(_ <= floor)
          if (below.size > 1) {
            val tgt = below.max
            model = model.map { case (k, ab) =>
              if (ab <= floor) (k, tgt) else (k, ab) }
            batches = batches -- below + tgt
          }
        case 3 if batches.nonEmpty => // expire a random prefix
          val upTo = batches.toSeq(rnd.nextInt(batches.size))
          store.dropBatches(spark, "feed", upTo)
          model = model.filterNot(_._2 <= upTo)
          batches = batches.filterNot(_ <= upTo)
        case _ => ()
      }
      if (store.exists(spark, "feed")) {
        val got = store.read(spark, "feed").select("k", "_ab").collect()
          .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
        assert(got == model.sortBy(identity), s"step $step diverged: $got vs $model")
      } else assert(model.isEmpty)
    }
  }

  test("partitioned CAS commit: a stale base identity is refused loudly, the winner's commit intact") {
    // VERDICT r11 missing #3: two writers' read-modify-write on the
    // partition map must not silently last-win — the loser is refused
    val store = freshStore()
    val s = spark; import s.implicits._
    def b(vs: (Long, String, Int)*) = vs.toDF("k", "v", "p")
    store.replacePartitions(spark, "t", b((1L, "a", 5), (2L, "b", 6)), "p")
    // writer A captures the base identity, then writer B commits first
    val baseA = store.commitIdentity(spark, "t")
    store.replacePartitions(spark, "t", b((2L, "b2", 6)), "p")
    val e = intercept[java.util.ConcurrentModificationException] {
      store.replacePartitions(spark, "t", b((1L, "a2", 5)), "p",
        expectedIdentity = Some(baseA))
    }
    assert(e.getMessage.contains("concurrent writer"))
    // B's commit is intact, A's staged version dirs are discarded
    assert(store.read(spark, "t").filter($"k" === 2L).head().getAs[String]("v") == "b2")
    assert(store.read(spark, "t").filter($"k" === 1L).head().getAs[String]("v") == "a")
    store.vacuum(spark)
    assert(store.read(spark, "t").count() == 2L)
    // a fresh capture commits fine
    store.replacePartitions(spark, "t", b((1L, "a3", 5)), "p",
      expectedIdentity = Some(store.commitIdentity(spark, "t")))
    assert(store.read(spark, "t").filter($"k" === 1L).head().getAs[String]("v") == "a3")
  }

  test("syncReplicaPartitioned touches only the diff's partitions; D drops; replay content-idempotent") {
    // the upstream needs retention: the sync consumes changesBetween(1)
    val store = new TableStore(
      Files.createTempDirectory(Paths.get("target"), "pstore-").toString, retain = 2)
    val dst = freshStore()
    val s = spark; import s.implicits._
    def b(vs: (String, String, Int)*) = vs.toDF("k", "v", "p_date")
    // bootstrap: full snapshot, partitioned
    store.upsertPartitioned(spark, "t",
      b(("a", "1", 5), ("b", "2", 5), ("c", "3", 6), ("d", "4", 7)),
      Seq("k"), "p_date", numFiles = Some(1))
    store.syncReplicaPartitioned(spark, "t", Seq("k"), dst, "r", "p_date")
    assert(dst.read(spark, "r").count() == 4L)
    // an update touching ONLY day 5: days 6 and 7 must not move
    val coldBefore = fileState(dst, "r")
      .filter(p => p._1.contains("p_date=6") || p._1.contains("p_date=7"))
    store.upsertPartitioned(spark, "t", b(("a", "1b", 5)), Seq("k"), "p_date",
      numFiles = Some(1))
    store.syncReplicaPartitioned(spark, "t", Seq("k"), dst, "r", "p_date")
    assert(dst.read(spark, "r").filter($"k" === "a").head().getAs[String]("v") == "1b")
    assert(fileState(dst, "r")
      .filter(p => p._1.contains("p_date=6") || p._1.contains("p_date=7")) == coldBefore,
      "partitions outside the diff must keep their exact files")
    // replayed sync against an unadvanced upstream: content-idempotent
    store.syncReplicaPartitioned(spark, "t", Seq("k"), dst, "r", "p_date")
    val replayed = dst.read(spark, "r").collect().map(r => (r.getAs[String]("k"),
      r.getAs[String]("v"), r.getAs[Int]("p_date"), r.getAs[Long]("nupdates")))
      .sorted.toSeq
    assert(replayed ==
      Seq(("a", "1b", 5, 2L), ("b", "2", 5, 1L), ("c", "3", 6, 1L), ("d", "4", 7, 1L)))
    // a delete that EMPTIES day 6 must drop the replica partition dir
    store.deleteWherePartitioned(spark, "t", $"k" === "c", "p_date")
    store.syncReplicaPartitioned(spark, "t", Seq("k"), dst, "r", "p_date")
    assert(dst.read(spark, "r").filter($"k" === "c").count() == 0L)
    assert(!fileState(dst, "r").keys.exists(_.contains("p_date=6")),
      "an emptied partition must drop out of the replica in the same commit")
    assert(fileState(dst, "r")
      .filter(p => p._1.contains("p_date=7")) == coldBefore
      .filter(p => p._1.contains("p_date=7")))
  }

  test("purgeHistory (partitioned): folds MOR DVs, drops generations; bytes gone, cold partitions untouched") {
    val dir = Files.createTempDirectory(Paths.get("target"), "pstore-")
    val store = new TableStore(dir.toString, retain = 2)
    val s = spark; import s.implicits._
    store.upsertPartitioned(spark, "t",
      batch(5, Seq("a" -> "1", "b" -> "2")), Seq("k"), "p_date", numFiles = Some(1))
    store.upsertPartitioned(spark, "t",
      batch(6, Seq("c" -> "3")), Seq("k"), "p_date", numFiles = Some(1))
    store.upsertPartitioned(spark, "t",
      batch(5, Seq("a" -> "1b")), Seq("k"), "p_date", numFiles = Some(1))
    // MOR delete: "a" is tombstoned, its bytes still in day 5's files
    store.deleteWhereMorPartitioned(spark, "t", $"k" === "a", Seq("k"), "p_date")
    assert(store.history(spark, "t").size == 3)
    val rawBefore = spark.read.option("recursiveFileLookup", "true")
      .parquet(store.livePath("t"))
    assert(rawBefore.filter($"k" === "a").count() >= 1L,
      "fixture: erased bytes must be physically present pre-purge")
    val coldBefore = fileState(store, "t").filter(_._1.contains("p_date=6"))
    store.purgeHistory(spark, "t")
    // history truncated to the head; time travel refuses
    assert(store.history(spark, "t").size == 1)
    intercept[IllegalArgumentException] {
      store.readVersionsBack(spark, "t", 1).count()
    }
    // erased rows physically gone from EVERY byte under the table dir
    val raw = spark.read.option("recursiveFileLookup", "true")
      .parquet(store.livePath("t"))
    assert(raw.filter($"k" === "a").count() == 0L)
    // the DV fold touched only day 5; day 6 never moved
    assert(fileState(store, "t").filter(_._1.contains("p_date=6")) == coldBefore)
    // current state intact
    assert(store.read(spark, "t").select("k").collect().map(_.getString(0)).sorted
      .toSeq == Seq("b", "c"))
    // re-run: no-op (no DV, no generations)
    val s1 = fileState(store, "t")
    store.purgeHistory(spark, "t")
    assert(fileState(store, "t") == s1)
    // a RESTORE alias collapses: MOR deletes resume right after purge
    store.upsertPartitioned(spark, "t", batch(7, Seq("d" -> "4")), Seq("k"), "p_date",
      numFiles = Some(1))
    store.restore(spark, "t", 1)
    store.purgeHistory(spark, "t")
    store.deleteWhereMorPartitioned(spark, "t", $"k" === "b", Seq("k"), "p_date")
    assert(store.read(spark, "t").select("k").collect().map(_.getString(0)).sorted
      .toSeq == Seq("c"))
  }

  test("crash mid-adoption: vacuum RESTORES the .mig partition instead of deleting it") {
    val store = freshStore()
    val s = spark; import s.implicits._
    Seq(("a", "x", 1, 1L), ("b", "y", 2, 1L)).toDF("k", "v", "p_date", "nupdates")
      .write.partitionBy("p_date").parquet(store.livePath("t"))
    val f = new Path(store.livePath("t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // inject the adoption crash: first rename done (pd → .mig-pd),
    // empty target dir recreated, second rename never ran — the ONLY
    // copy of partition p_date=1 now lives at .mig-p_date=1
    val pd = new Path(store.livePath("t"), "p_date=1")
    val mig = new Path(store.livePath("t"), ".mig-p_date=1")
    assert(f.rename(pd, mig)); f.mkdirs(pd)
    store.vacuum(spark)
    // data recovered to the legacy layout, not destroyed
    assert(!f.exists(mig))
    assert(store.read(spark, "t").count() == 2)
    // and the next v2 write re-runs adoption end to end
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "x2")),
      Seq("k"), "p_date", numFiles = Some(1))
    val got = store.read(spark, "t").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("v")).toMap
    assert(got == Map("a" -> "x2", "b" -> "y"))
  }

  test("vacuum keeps a .mig dir when the target partition holds data (never provably-unsafe delete)") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "x")),
      Seq("k"), "p_date", numFiles = Some(1))
    val f = new Path(store.livePath("t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a stale .mig leftover next to a LIVE committed partition: vacuum
    // must not delete it (can't prove redundancy) and must not clobber
    // the committed partition by "restoring" over it
    val mig = new Path(store.livePath("t"), ".mig-p_date=1")
    f.mkdirs(mig)
    val out = f.create(new Path(mig, "orphan.parquet"), true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    val before = store.read(spark, "t").collect().toSeq
    store.vacuum(spark)
    assert(f.exists(mig), ".mig with a live target partition must be kept for inspection")
    assert(store.read(spark, "t").collect().toSeq == before)
  }

  test("a delete that empties EVERY partition leaves a readable zero-row table") {
    val store = freshStore()
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "x", "b" -> "y")),
      Seq("k"), "p_date", numFiles = Some(1))
    store.deleteWherePartitioned(spark, "t",
      org.apache.spark.sql.functions.lit(true), "p_date")
    assert(store.exists(spark, "t"))
    val emptied = store.read(spark, "t")
    assert(emptied.count() == 0)
    // schema survives via the manifest header — columns stay queryable
    assert(emptied.columns.toSet ==
      Set("k", "v", "p_date", "nupdates"))
    // and the table comes back to life on the next upsert
    store.upsertPartitioned(spark, "t", batch(2, Seq("c" -> "z")),
      Seq("k"), "p_date", numFiles = Some(1))
    assert(store.read(spark, "t").count() == 1)
  }

  test("a NULL partition value is refused loudly at WRITE time; the table is untouched") {
    // the documented non-null partCol contract, enforced where the
    // violation happens (ADVICE r12 #2's write-time leg): a null value
    // lands in the hive default-partition sentinel dir, which no
    // partition filter prunes and later keyed merges silently skip —
    // the commit must refuse before anything becomes visible.
    val store = freshStore()
    val s = spark; import s.implicits._
    store.upsertPartitioned(spark, "t", batch(1, Seq("a" -> "x")),
      Seq("k"), "p_date", numFiles = Some(1))
    val before = fileState(store, "t")
    val bad = Seq(("b", "y", Some(2)), ("c", "z", None))
      .toDF("k", "v", "opt")
      .withColumn("p_date", $"opt".cast("int")).drop("opt")
    val e = intercept[IllegalArgumentException] {
      store.replacePartitions(spark, "t", bad.withColumn("nupdates",
        org.apache.spark.sql.functions.lit(1L)), "p_date")
    }
    assert(e.getMessage.contains("NULL"))
    assert(fileState(store, "t") == before, "a refused commit must not mutate the table")
    assert(store.read(spark, "t").count() == 1)
    // upsertPartitioned funnels through the same staging check
    intercept[IllegalArgumentException] {
      store.upsertPartitioned(spark, "t", bad, Seq("k"), "p_date")
    }
    assert(store.read(spark, "t").count() == 1)
  }
}
