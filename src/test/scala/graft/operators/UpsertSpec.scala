package graft.operators

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Pins the MERGE semantics of /root/reference/scrapper.py:188-224
  * (INSERT .. ON CONFLICT DO UPDATE SET col=excluded.col,
  * nupdates=nupdates+1) as re-expressed by Upsert.merge. */
class UpsertSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def target: DataFrame = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "a", "old-a", 1L),
      (2L, "b", "old-b", 3L)
    ).toDF("ts", "key", "value", "nupdates")
  }

  private def asMap(df: DataFrame): Map[(Long, String), Row] = {
    df.collect().map(r => (r.getLong(0), r.getString(1)) -> r).toMap
  }

  test("matched key: update wins, counter increments; unmatched target kept; new key inserted at 1") {
    val s = spark; import s.implicits._
    val updates = Seq(
      (1L, "a", "new-a"),
      (9L, "z", "new-z")
    ).toDF("ts", "key", "value")
    val out = asMap(Upsert.merge(target, updates, Seq("ts", "key")))
    assert(out((1L, "a")).getString(2) == "new-a" && out((1L, "a")).getLong(3) == 2L)
    assert(out((2L, "b")).getString(2) == "old-b" && out((2L, "b")).getLong(3) == 3L)
    assert(out((9L, "z")).getString(2) == "new-z" && out((9L, "z")).getLong(3) == 1L)
    assert(out.size == 3)
  }

  test("excluded-col semantics: explicit null in the update overwrites") {
    val s = spark; import s.implicits._
    val updates = Seq((1L, "a", null.asInstanceOf[String])).toDF("ts", "key", "value")
    val out = asMap(Upsert.merge(target, updates, Seq("ts", "key")))
    assert(out((1L, "a")).isNullAt(2) && out((1L, "a")).getLong(3) == 2L)
  }

  test("idempotence shape: applying the same batch twice only bumps the counter") {
    val s = spark; import s.implicits._
    val updates = Seq((1L, "a", "new-a"), (9L, "z", "new-z")).toDF("ts", "key", "value")
    val once = Upsert.merge(target, updates, Seq("ts", "key"))
    val twice = Upsert.merge(once, updates, Seq("ts", "key"))
    val o1 = asMap(once); val o2 = asMap(twice)
    assert(o1.keySet == o2.keySet)
    o1.foreach { case (k, r1) =>
      val r2 = o2(k)
      assert(r1.get(2) == r2.get(2), s"value changed for $k")
      val touched = Set((1L, "a"), (9L, "z")).contains(k)
      assert(r2.getLong(3) == r1.getLong(3) + (if (touched) 1 else 0))
    }
  }

  test("schema evolution: update-only columns widen the table, old rows read null") {
    val s = spark; import s.implicits._
    val updates = Seq((2L, "b", "newer-b", "extra")).toDF("ts", "key", "value", "note")
    val out = Upsert.merge(target, updates, Seq("ts", "key"))
    assert(out.columns.toSeq == Seq("ts", "key", "value", "nupdates", "note"))
    val m = asMap(out)
    assert(m((2L, "b")).getString(2) == "newer-b" && m((2L, "b")).getString(4) == "extra")
    // pre-existing rows see the new column as null — and only the
    // matched row carries the update's value
    assert(m((1L, "a")).isNullAt(4))
  }

  test("composite key: partial key match is not a match") {
    val s = spark; import s.implicits._
    val updates = Seq((1L, "b", "x")).toDF("ts", "key", "value") // ts matches row 1, key doesn't
    val out = asMap(Upsert.merge(target, updates, Seq("ts", "key")))
    assert(out.size == 3 && out((1L, "b")).getLong(3) == 1L)
    assert(out((1L, "a")).getString(2) == "old-a" && out((1L, "a")).getLong(3) == 1L)
  }
}
