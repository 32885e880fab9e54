package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Pins the merge-on-read delete contract the oracle can't see:
  * data files stay byte-identical across deletes (the whole point),
  * deletes compose through one cumulative DV, compaction folds the DV
  * into an equivalent rewrite, SQL null-predicate semantics hold, MOR
  * deletes never rewrite history, and vacuum collects staged-but-
  * uncommitted DV debris without touching the committed one. */
class TableStoreMorSpec extends SparkSpec {
  private val root = s"${Tables.TmpRoot}/mor-spec"

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshStore(retain: Int = 0): TableStore = {
    fs.delete(new Path(root), true)
    new TableStore(root, retain)
  }

  private def seed(store: TableStore): Unit = {
    val s = spark; import s.implicits._
    store.replace(s, "t",
      (1 to 100).map(i => (i.toLong, i % 7, s"row$i")).toDF("k", "grp", "payload"))
  }

  /** (name, length, mtime) of every DATA file under the current version. */
  private def dataFiles(store: TableStore): Set[(String, Long, Long)] = {
    val ver = store.currentVersionId(spark, "t").get
    fs.listStatus(new Path(s"$root/t/$ver")).filter(_.isFile)
      .filterNot(f => f.getPath.getName.startsWith(".") || f.getPath.getName.startsWith("_"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
  }

  test("MOR delete removes rows without touching data files; deletes compose") {
    val s = spark; import s.implicits._
    val store = freshStore()
    seed(store)
    val before = dataFiles(store)
    store.deleteWhereMor(s, "t", $"grp" === 3, Seq("k"))
    assert(dataFiles(store) == before, "first MOR delete rewrote data files")
    assert(store.read(s, "t").filter($"grp" === 3).count() == 0)
    store.deleteWhereMor(s, "t", $"k" <= 10, Seq("k"))
    assert(dataFiles(store) == before, "second MOR delete rewrote data files")
    val kept = store.read(s, "t").select("k").as[Long].collect().toSet
    val expect = (1 to 100).map(_.toLong).filterNot(i => i % 7 == 3 || i <= 10).toSet
    assert(kept == expect)
    // cumulative DV: exactly one committed dv dir
    val ver = store.currentVersionId(s, "t").get
    val dvs = fs.listStatus(new Path(s"$root/t/$ver/.dv")).map(_.getPath.getName)
    assert(dvs.length == 1, dvs.mkString(","))
  }

  test("NULL predicate rows survive (SQL DELETE semantics)") {
    val s = spark; import s.implicits._
    val store = freshStore()
    store.replace(s, "t",
      Seq((1L, Some(1)), (2L, None), (3L, Some(3))).toDF("k", "v"))
    store.deleteWhereMor(s, "t", $"v" > 1, Seq("k"))
    assert(store.read(s, "t").select("k").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("compactDeletes folds the DV: same content, pointer gone, anti-join dropped") {
    val s = spark; import s.implicits._
    val store = freshStore()
    seed(store)
    store.deleteWhereMor(s, "t", $"grp" === 0, Seq("k"))
    val viaDv = store.read(s, "t").orderBy("k").collect().toSeq
    store.compactDeletes(s, "t")
    val ver = store.currentVersionId(s, "t").get
    assert(!fs.exists(new Path(s"$root/t/$ver/._dvptr")), "compaction left a DV pointer")
    assert(store.read(s, "t").orderBy("k").collect().toSeq == viaDv)
    assert(!store.read(s, "t").queryExecution.executedPlan.toString.contains("Anti"))
  }

  test("upsert after MOR delete starts from the deleted view") {
    val s = spark; import s.implicits._
    val store = freshStore()
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    store.upsert(s, "t", base, Seq("k"))
    store.deleteWhereMor(s, "t", $"k" === 2, Seq("k"))
    store.upsert(s, "t", Seq((3L, "c2"), (4L, "d")).toDF("k", "v"), Seq("k"))
    val got = store.read(s, "t").select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 3L -> "c2", 4L -> "d"), got)
  }

  test("time travel: a MOR delete on the current version never edits history") {
    val s = spark; import s.implicits._
    val store = freshStore(retain = 1)
    seed(store)
    store.replace(s, "t", store.read(s, "t").withColumn("payload", upper(col("payload"))))
    store.deleteWhereMor(s, "t", $"k" <= 50, Seq("k"))
    assert(store.read(s, "t").count() == 50)
    assert(store.readVersionsBack(s, "t", 1).count() == 100,
      "history changed under a MOR delete")
  }

  private def seedPartitioned(store: TableStore): Unit = {
    val s = spark; import s.implicits._
    store.replacePartitions(s, "t",
      (1 to 100).map(i => (i.toLong, i % 5, s"row$i")).toDF("k", "p", "payload")
        .repartition(col("p")), "p")
  }

  /** (partition-dir, file, length, mtime) of every DATA file across
    * all committed partition versions. */
  private def pDataFiles(): Set[(String, String, Long, Long)] = {
    fs.listStatus(new Path(s"$root/t")).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("p="))
      .flatMap { pd =>
        fs.listStatus(pd.getPath).filter(_.isDirectory).flatMap { vd =>
          fs.listStatus(vd.getPath).filter(_.isFile)
            .filterNot(f => f.getPath.getName.startsWith(".") || f.getPath.getName.startsWith("_"))
            .map(f => (pd.getPath.getName, f.getPath.getName, f.getLen, f.getModificationTime))
        }
      }.toSet
  }

  test("partitioned MOR: no partition rewritten, deletes compose, atomically committed") {
    val s = spark; import s.implicits._
    val store = freshStore()
    seedPartitioned(store)
    val before = pDataFiles()
    store.deleteWhereMorPartitioned(s, "t", $"p" === 2 && $"k" <= 50, Seq("k"), "p")
    assert(pDataFiles() == before, "first partitioned MOR delete moved data files")
    store.deleteWhereMorPartitioned(s, "t", $"k" === 99, Seq("k"), "p")
    assert(pDataFiles() == before, "second partitioned MOR delete moved data files")
    val kept = store.read(s, "t").select("k").as[Long].collect().toSet
    val expect = (1 to 100).map(_.toLong)
      .filterNot(i => (i % 5 == 2 && i <= 50) || i == 99).toSet
    assert(kept == expect)
    // pruned reads apply the DV too
    assert(store.prunedRead(s, "t", "p", Seq(2)).filter($"k" <= 50).count() == 0)
  }

  test("partitioned MOR + compaction: only DV'd partitions rewrite, DV rows clear") {
    val s = spark; import s.implicits._
    val store = freshStore()
    seedPartitioned(store)
    store.deleteWhereMorPartitioned(s, "t", $"p" === 1 && $"k" < 30, Seq("k"), "p")
    val untouched = pDataFiles().filterNot(_._1 == "p=1")
    val viaDv = store.read(s, "t").orderBy("k").collect().toSeq
    store.compactDeletesPartitioned(s, "t", "p")
    assert(pDataFiles().filterNot(_._1 == "p=1") == untouched,
      "compaction rewrote partitions without deletes")
    assert(store.read(s, "t").orderBy("k").collect().toSeq == viaDv)
    assert(!store.read(s, "t").queryExecution.executedPlan.toString.contains("Anti"))
  }

  test("partitioned MOR survives an unrelated upsert batch (DV rows carried)") {
    val s = spark; import s.implicits._
    val store = freshStore()
    // seed through the upsert path so the counter column exists from
    // batch 1 (mixing replacePartitions seeding with upserts would
    // fork the schema across partitions)
    store.upsertPartitioned(s, "t",
      (1 to 100).map(i => (i.toLong, i % 5, s"row$i")).toDF("k", "p", "payload"),
      Seq("k"), "p")
    store.deleteWhereMorPartitioned(s, "t", $"k" === 7, Seq("k"), "p") // partition p=2
    // upsert touching a DIFFERENT partition must not lose p=2's DV
    store.upsertPartitioned(s, "t",
      Seq((101L, 1, "new")).toDF("k", "p", "payload"), Seq("k"), "p")
    val kept = store.read(s, "t").select("k").as[Long].collect().toSet
    assert(!kept.contains(7L), "an unrelated upsert resurrected a MOR-deleted key")
    assert(kept.contains(101L))
    // and an upsert INTO the DV'd partition folds the delete in
    store.upsertPartitioned(s, "t",
      Seq((102L, 2, "new2")).toDF("k", "p", "payload"), Seq("k"), "p")
    val kept2 = store.read(s, "t").select("k").as[Long].collect().toSet
    assert(!kept2.contains(7L) && kept2.contains(102L))
  }

  test("zone/bloom pruned reads apply the pending DV (no resurrection via pruned paths)") {
    val s = spark; import s.implicits._
    val store = freshStore()
    val df = (1 to 1000).map(i => (i.toLong, i.toLong % 50, s"row$i")).toDF("k", "v", "payload")
    store.replaceZoneMapped(s, "t", df, Seq("v"), targetFiles = 8, bloomCols = Seq("k"))
    store.deleteWhereMor(s, "t", $"k" <= 100, Seq("k"))
    val zp = store.readZonePruned(s, "t", "v", Some(0L), Some(10L))
    assert(zp.filter($"k" <= 100).count() == 0, "zone-pruned read resurrected MOR-deleted rows")
    assert(zp.filter($"v".between(0, 10)).count() ==
      (101 to 1000).count(i => i % 50 <= 10).toLong)
    val bp = store.readBloomPruned(s, "t", "k", 50L)
    assert(bp.filter($"k" === 50L).count() == 0, "bloom-pruned read resurrected a MOR-deleted key")
    val bp2 = store.readBloomPruned(s, "t", "k", 500L)
    assert(bp2.filter($"k" === 500L).count() == 1)
  }

  test("partitioned MOR + compaction round-trips hive-escaped partition values") {
    val s = spark; import s.implicits._
    val store = freshStore()
    // ':' is hive-escaped to %3A in the partition dir name — the exact
    // class of value where a string-cast dir-name match silently misses
    store.replacePartitions(s, "t",
      (1 to 40).map(i => (i.toLong, s"h=${i % 4}:00", s"row$i")).toDF("k", "p", "payload")
        .repartition(col("p")), "p")
    store.deleteWhereMorPartitioned(s, "t", $"p" === "h=1:00" && $"k" <= 20, Seq("k"), "p")
    val expect = (1 to 40).map(_.toLong).filterNot(i => i % 4 == 1 && i <= 20).toSet
    assert(store.read(s, "t").select("k").as[Long].collect().toSet == expect)
    store.compactDeletesPartitioned(s, "t", "p")
    assert(store.read(s, "t").select("k").as[Long].collect().toSet == expect,
      "compaction lost surviving rows of an escaped-value partition")
    assert(!store.read(s, "t").queryExecution.executedPlan.toString.contains("Anti"))
  }

  test("time travel × MOR: version reads under a pending DV see surviving rows only") {
    val s = spark; import s.implicits._
    val store = freshStore(retain = 1)
    seed(store)
    store.deleteWhereMor(s, "t", $"k" <= 50, Seq("k"))
    // stepsBack=0 is the current version WITH its pending DV — the
    // committed VIEW, not the raw files
    assert(store.readVersionsBack(s, "t", 0).count() == 50)
    // a later commit displaces the DV'd version into retention; its DV
    // travels with it, so history shows the as-of-commit view
    store.replace(s, "t", store.read(s, "t").filter($"k" <= 75))
    assert(store.read(s, "t").count() == 25)
    assert(store.readVersionsBack(s, "t", 1).count() == 50,
      "retained version lost (or re-grew) its deletion vector")
    // vacuum keeps the RETAINED version's committed DV (time travel
    // still needs it) while collecting nothing it shouldn't
    store.vacuum(s)
    assert(store.readVersionsBack(s, "t", 1).count() == 50,
      "vacuum collected a retained version's committed DV")
  }

  test("time travel × compaction: pre-compaction history keeps the DV-applied view") {
    val s = spark; import s.implicits._
    val store = freshStore(retain = 1)
    seed(store)
    store.deleteWhereMor(s, "t", $"grp" === 3, Seq("k"))
    val viaDv = store.read(s, "t").orderBy("k").collect().toSeq
    store.compactDeletes(s, "t")
    // current: physically compacted; 1 back: raw files + retained DV —
    // both must be the same VIEW
    assert(store.read(s, "t").orderBy("k").collect().toSeq == viaDv)
    assert(store.readVersionsBack(s, "t", 1).orderBy("k").collect().toSeq == viaDv)
    // changefeed across the compaction commit: pure rewrite, no
    // row-level changes — the DV'd history diffs as empty
    assert(store.changesBetween(s, "t", Seq("k"), 1).count() == 0,
      "compaction must be change-free in the feed (history view includes its DV)")
    store.vacuum(s)
    assert(store.readVersionsBack(s, "t", 1).orderBy("k").collect().toSeq == viaDv)
  }

  test("retain=0 compaction: displaced version AND its DV are physically gone") {
    val s = spark
    val store = freshStore()
    seed(store)
    store.deleteWhereMor(s, "t", col("grp") === 0, Seq("k"))
    val oldVer = store.currentVersionId(s, "t").get
    store.compactDeletes(s, "t")
    store.vacuum(s)
    assert(!fs.exists(new Path(s"$root/t/$oldVer")),
      "retain=0 left the displaced DV'd version on disk")
    assert(store.read(s, "t").filter(col("grp") === 0).count() == 0)
  }

  test("partitioned compaction × vacuum: displaced DV'd partition versions collected") {
    val s = spark; import s.implicits._
    val store = freshStore()
    seedPartitioned(store)
    store.deleteWhereMorPartitioned(s, "t", $"p" === 1 && $"k" < 30, Seq("k"), "p")
    val dvdVersions = fs.listStatus(new Path(s"$root/t/p=1")).map(_.getPath.getName)
      .filter(_.startsWith("v-")).toSet
    val expect = store.read(s, "t").select("k").as[Long].collect().toSet
    store.compactDeletesPartitioned(s, "t", "p")
    store.vacuum(s)
    // the pre-compaction p=1 version (which carried the DV) is no
    // longer manifest-referenced — vacuum must collect it, dir and DV
    val left = fs.listStatus(new Path(s"$root/t/p=1")).map(_.getPath.getName)
      .filter(_.startsWith("v-")).toSet
    assert(left.intersect(dvdVersions).isEmpty,
      s"vacuum kept displaced DV'd partition versions: ${left.intersect(dvdVersions)}")
    assert(store.read(s, "t").select("k").as[Long].collect().toSet == expect)
  }

  test("vacuum: uncommitted DV debris collected, committed DV kept") {
    val s = spark; import s.implicits._
    val store = freshStore()
    seed(store)
    store.deleteWhereMor(s, "t", $"k" === 1, Seq("k"))
    val ver = store.currentVersionId(s, "t").get
    // fake crash leftovers: a staged DV dir nothing references + a ptr tmp
    fs.mkdirs(new Path(s"$root/t/$ver/.dv/dv-deadbeef"))
    val out = fs.create(new Path(s"$root/t/$ver/._dvptr-deadbeef"), true)
    out.write("junk".getBytes("UTF-8")); out.close()
    store.vacuum(s)
    val left = fs.listStatus(new Path(s"$root/t/$ver/.dv")).map(_.getPath.getName).toSet
    assert(left.size == 1 && !left.contains("dv-deadbeef"), left.mkString(","))
    assert(!fs.exists(new Path(s"$root/t/$ver/._dvptr-deadbeef")))
    assert(store.read(s, "t").count() == 99, "vacuum broke the committed DV")
  }
}
