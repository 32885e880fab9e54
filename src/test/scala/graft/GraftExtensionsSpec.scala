package graft

/** The test session is built withExtensions(new GraftExtensions), so
  * these prove the injection path works with NO per-query
  * Functions.register call. */
class GraftExtensionsSpec extends SparkSpec {

  test("normalize_text resolves in SQL via extensions") {
    val got = spark.sql("SELECT normalize_text('Álvaro Obregón') AS n")
      .collect().head.getString(0)
    assert(got == "alvaro_obregon")
  }

  test("vec_dot resolves in SQL via extensions") {
    val got = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(got == 11.0)
  }

  test("vec_dot edge semantics: length mismatch and null element give null") {
    val s = spark
    val rows = s.sql(
      """SELECT vec_dot(array(1.0D), array(1.0D, 2.0D)) AS a,
        |       vec_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS b,
        |       vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS c""".stripMargin)
      .collect().head
    assert(rows.isNullAt(0) && rows.isNullAt(1) && rows.isNullAt(2))
  }
}
