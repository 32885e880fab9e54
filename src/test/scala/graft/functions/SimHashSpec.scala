package graft.functions

import graft.SparkSpec
import graft.operators.Dedup
import graft.sources.Tables

class SimHashSpec extends SparkSpec {

  test("SimHashExpr equals the relational explode+aggregate form on testdata") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val expr = Dedup.simhash(docs, "doc_id", "text").orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val rel = Dedup.simhashRelational(docs, "doc_id", "text").orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(expr == rel)
  }

  test("edge cases match the relational form: short, empty, multi-byte unicode") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, ""),                          // empty → one empty shingle
      (2L, "ab"),                        // shorter than charN → whole text
      (3L, "abcde"),                     // exactly one window
      (4L, "ábçdéf ghí"),                // multi-byte chars: windows are CHAR-based
      (5L, "日本語のテキストです"),        // 3-byte CJK
      (6L, "aaaaaaaa")                   // repeated windows (multiplicity)
    ).toDF("id", "text")
    val expr = Dedup.simhash(df, "id", "text").orderBy("id")
      .collect().map(_.getLong(1)).toSeq
    val rel = Dedup.simhashRelational(df, "id", "text").orderBy("id")
      .collect().map(_.getLong(1)).toSeq
    assert(expr == rel)
  }

  test("simhash64 resolves in SQL and keeps bit 63 clear") {
    Functions.register(spark)
    val got = spark.sql("SELECT simhash64('the quick brown fox jumps')").collect().head.getLong(0)
    assert(got >= 0L) // bit 63 never set → non-negative
    // deterministic across calls
    val again = spark.sql("SELECT simhash64('the quick brown fox jumps')").collect().head.getLong(0)
    assert(got == again)
  }
}
