package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class ZoneMapSpec extends SparkSpec {

  private def freshStore() = new TableStore(
    s"${Tables.TmpRoot}/zmspec-${java.util.UUID.randomUUID().toString.take(8)}")

  test("zone map prunes files on a narrow range and the pruned read is a safe superset") {
    val store = freshStore()
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    store.replaceZoneMapped(spark, "li", li, Seq("l_shipdate"), targetFiles = 8)
    val lo = Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = Timestamp.valueOf("1996-03-31 23:59:59")
    val Some((files, total)) =
      store.zonePrunedFiles(spark, "li", "l_shipdate", Some(lo), Some(hi))
    // ~6 years of uniform dates in 8 range-clustered files: a 3-month
    // window must live in a small fraction of them
    assert(total == 8 && files.nonEmpty && files.length < total,
      s"expected real pruning, got ${files.length}/$total files")
    val pruned = store.readZonePruned(spark, "li", "l_shipdate", Some(lo), Some(hi))
      .filter(col("l_shipdate").between(lit(lo), lit(hi)))
      .select("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSet
    val full = store.read(spark, "li")
      .filter(col("l_shipdate").between(lit(lo), lit(hi)))
      .select("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSet
    assert(pruned == full, "file skipping must not change the answer")
  }

  test("disjoint range prunes to zero files and returns empty with the right schema") {
    val store = freshStore()
    store.replaceZoneMapped(spark, "li", Tables.lineitem(spark, "/root/testdata/sf0.001"),
      Seq("l_shipdate"), targetFiles = 4)
    val lo = Timestamp.valueOf("2050-01-01 00:00:00")
    val Some((files, _)) =
      store.zonePrunedFiles(spark, "li", "l_shipdate", Some(lo), None)
    assert(files.isEmpty)
    val out = store.readZonePruned(spark, "li", "l_shipdate", Some(lo), None)
    assert(out.count() == 0L)
    assert(out.columns.contains("l_shipdate"))
  }

  test("null stats rows: all-null files prune away, mixed files survive, answers match") {
    val s = spark; import s.implicits._
    val store = freshStore()
    // three value zones + a null block; range predicates can never
    // match NULL, so the null block is prunable BY DESIGN
    val df = ((1 to 100).map(i => (i.toLong, Some(i.toLong))) ++
      (101 to 130).map(i => (i.toLong, None: Option[Long])))
      .toDF("id", "v")
    store.replaceZoneMapped(spark, "t", df, Seq("v"), targetFiles = 4)
    val Some((files, total)) = store.zonePrunedFiles(spark, "t", "v", Some(10L), Some(20L))
    assert(files.length < total)
    val got = store.readZonePruned(spark, "t", "v", Some(10L), Some(20L))
      .filter(col("v").between(10L, 20L)).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(got == (10 to 20).map(_.toLong).toSet)
  }

  test("readZonePruned falls back to a full read when the table has no zone map") {
    val store = freshStore()
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001").limit(50)
    store.replace(spark, "plain", li)
    val n = store.readZonePruned(spark, "plain", "l_shipdate",
      Some(Timestamp.valueOf("1990-01-01 00:00:00")), None).count()
    assert(n == store.read(spark, "plain").count())
  }

  test("the zone map is atomic with its version: a second commit replaces both") {
    val s = spark; import s.implicits._
    val store = freshStore()
    val v1 = (1 to 50).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    store.replaceZoneMapped(spark, "t", v1, Seq("v"), targetFiles = 2)
    // second commit shifts the value domain entirely
    val v2 = (1 to 50).map(i => (i.toLong, i + 1000L)).toDF("id", "v")
    store.replaceZoneMapped(spark, "t", v2, Seq("v"), targetFiles = 2)
    // old-domain probe must see the NEW map: nothing matches
    val Some((oldDomain, _)) = store.zonePrunedFiles(spark, "t", "v", Some(1L), Some(50L))
    assert(oldDomain.isEmpty, "stale zone map served after recommit")
    val Some((newDomain, _)) = store.zonePrunedFiles(spark, "t", "v", Some(1001L), Some(1050L))
    assert(newDomain.nonEmpty)
  }

  test("bloom sidecar: point lookup on an unclustered column prunes files, no false negatives") {
    val s = spark; import s.implicits._
    val store = freshStore()
    // clustered by g (contiguous), id scattered mod-N across the range:
    // zone ranges on id are useless, the bloom is the only prune
    val df = (0L until 4000L).map(i => (i / 1000L, (i * 2654435761L) % 100000L))
      .toDF("g", "id")
    store.replaceZoneMapped(spark, "t", df, Seq("g"), targetFiles = 8,
      bloomCols = Seq("id"))
    val probe = ((1234L * 2654435761L) % 100000L)
    val Some((files, total)) = store.bloomPrunedFiles(spark, "t", "id", probe)
    assert(files.nonEmpty && files.length < total,
      s"expected bloom pruning, got ${files.length}/$total")
    val got = store.readBloomPruned(spark, "t", "id", probe)
      .filter(col("id") === probe).collect().map(_.getLong(0)).toSeq
    val exp = store.read(spark, "t")
      .filter(col("id") === probe).collect().map(_.getLong(0)).toSeq
    assert(got.sorted == exp.sorted && exp.nonEmpty)
    // absent key: every file may legally bloom-match (fpp), but the
    // filtered result must be empty
    assert(store.readBloomPruned(spark, "t", "id", 99999999L)
      .filter(col("id") === 99999999L).count() == 0L)
  }

  test("bloomPrunedFiles is None when the column has no bloom") {
    val store = freshStore()
    val s = spark; import s.implicits._
    store.replaceZoneMapped(spark, "t", (1L to 10L).toDF("v"), Seq("v"), targetFiles = 2)
    assert(store.bloomPrunedFiles(spark, "t", "v", 3L).isEmpty)
  }
}
