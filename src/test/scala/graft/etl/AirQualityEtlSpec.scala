package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.operators.TableStore
import graft.sources.Html

/** End-to-end pipeline test over the static fixture (SURVEY §5):
  * scrape → normalize → upsert → goldens, no network. */
class AirQualityEtlSpec extends SparkSpec {

  private lazy val html: String = {
    val in = getClass.getResourceAsStream("/fixtures/report_sample.html")
    require(in != null, "fixture missing")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def freshStore(): TableStore = {
    val dir = Files.createTempDirectory(Paths.get("target"), "etl-store-")
    new TableStore(dir.toString)
  }

  test("metadata parse: date tokens, keys, temperature, scores") {
    val meta = AirQualityEtl.parseMeta(Html.parse(html)).get
    assert(meta.hour == 9 && meta.weekDay == "lunes" && meta.monthDay == 5)
    assert(meta.monthName == "mayo" && meta.monthNum == 5 && meta.year == 2025)
    assert(meta.reportTsLegacy == 202505509L) // unpadded day — reference wart, kept for parity
    assert(meta.reportTs == 2025050509L)      // fixed, monotonic form
    assert(meta.tempCelsius.contains(23))
    assert(meta.uvReco.contains("usa_protector_solar_y_lentes_con_filtro_uv"))
    assert(meta.scoreToday.contains("buena") && meta.scoreTomorrow.contains("regular"))
  }

  test("validation gate: missing date div aborts the batch") {
    intercept[IllegalArgumentException] {
      AirQualityEtl.batchFromHtml(spark, "<html><body>vacio</body></html>")
    }
  }

  test("cdmx table: malformed row skipped, normalization, img-src level, null level") {
    val b = AirQualityEtl.batchFromHtml(spark, html)
    val rows = b.cdmx.orderBy("clave_str").collect()
    assert(rows.length == 4) // 5 data rows, 1 malformed (3 cells) skipped
    val byClave = rows.map(r => r.getString(3) -> r).toMap
    assert(byClave("ajm").getString(4) == "alvaro_obregon")
    assert(byClave("ajm").getString(5) == "buena")
    assert(byClave("ajm").getString(6) == "o3")
    assert(byClave("coy").getString(4) == "coyoacan" && byClave("coy").getString(5) == "regular")
    assert(byClave("tla").isNullAt(5)) // cell with no <img> → null level
    assert(byClave("gam").getString(4) == "gustavo_a._madero" && byClave("gam").getString(5) == "muy_mala")
    // constant date columns broadcast onto every row
    assert(rows.forall(r => r.getLong(0) == 2025050509L && r.getString(7) == "lunes"))
  }

  test("edomex table parses with municipio naming") {
    val b = AirQualityEtl.batchFromHtml(spark, html)
    val rows = b.edomex.orderBy("clave_str").collect()
    assert(rows.map(_.getString(3)).toSeq == Seq("eca", "nez"))
    assert(rows.map(_.getString(4)).toSeq == Seq("ecatepec_de_morelos", "nezahualcoyotl"))
  }

  test("upsert: first batch inserts at nupdates=1; re-run bumps to 2 with identical values") {
    val store = freshStore()
    AirQualityEtl.runBatch(spark, store, html)
    val first = store.read(spark, "cdmx").collect()
    assert(first.length == 4 && first.forall(_.getAs[Long]("nupdates") == 1L))
    val g1 = store.read(spark, "gral_stats").collect()
    assert(g1.length == 1 && g1.head.getAs[Int]("temp_celsius_int") == 23)

    AirQualityEtl.runBatch(spark, store, html) // same hour re-scraped
    val second = store.read(spark, "cdmx").collect()
    assert(second.length == 4 && second.forall(_.getAs[Long]("nupdates") == 2L))
    def strip(rs: Array[Row]) = rs.map(r => r.toSeq.updated(r.fieldIndex("nupdates"), 0L)).toSet
    assert(strip(first) == strip(second))
    assert(store.read(spark, "gral_stats").collect().head.getAs[Long]("nupdates") == 2L)
  }

  private def commitThreadsAlive(): Boolean =
    Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == AirQualityEtl.CommitThreadName && t.isAlive)

  test("runBatch: a failed table commit rethrows its own exception; the other tables commit whole") {
    val store = freshStore()
    // gral_stats pre-created in whole-table mode: its partitioned
    // commit hits replacePartitions' mode guard
    val b = AirQualityEtl.batchFromHtml(spark, html)
    store.replace(spark, "gral_stats", b.gralStats
      .withColumn("p_date", (col("report_ts") / 100).cast("int"))
      .withColumn("nupdates", lit(1L)))
    val e = intercept[IllegalArgumentException] {
      AirQualityEtl.runBatch(spark, store, html)
    }
    assert(e.getMessage.contains("whole-table versioned mode"), e.getMessage)
    assert(store.read(spark, "cdmx").count() == 4)
    assert(store.read(spark, "edomex").count() == 2)
    val deadline = System.nanoTime() + 10000000000L
    while (commitThreadsAlive() && System.nanoTime() < deadline) Thread.sleep(10)
    assert(!commitThreadsAlive(), "a commit pool thread outlived runBatch")
  }

  test("runBatch: every commit job carries the caller's job tag, on insert and on update") {
    val store = freshStore()
    val sc = spark.sparkContext
    val jobTags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobTags.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.tags"))).getOrElse(""))
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.addJobTag("etl-hour")
    try {
      AirQualityEtl.runBatch(spark, store, html) // insert
      AirQualityEtl.runBatch(spark, store, html) // update path
      ListenerBus.drain(sc)
    } finally {
      sc.removeJobTag("etl-hour")
      sc.removeSparkListener(listener)
    }
    val tags = jobTags.asScala.toSeq
    assert(tags.nonEmpty)
    assert(tags.forall(_.split(',').contains("etl-hour")), tags)
    for (t <- Seq("cdmx", "edomex", "gral_stats"))
      assert(store.read(spark, t).collect().forall(_.getAs[Long]("nupdates") == 2L), t)
  }

  test("archive fan-out: executor-side parse of many pages equals the single-page path; bad pages drop per-page") {
    val s = spark; import s.implicits._
    val pages = Seq(
      html,
      html.replace("09:00 h", "10:00 h"),
      "<html><body>vacio</body></html>", // unparseable: dropped, not fatal
      html.replace("09:00 h", "11:00 h"))
    val got = AirQualityEtl.archiveReadings(spark, pages.toDS.repartition(3))
    val rows = got.collect()
    assert(rows.length == 12) // 3 valid pages x 4 readings
    assert(got.select("hour_num").distinct().collect().map(_.getInt(0)).toSet == Set(9, 10, 11))
    // page 1's readings are column-for-column identical to the single-page plan
    val single = AirQualityEtl.batchFromHtml(spark, html).cdmx
      .orderBy("clave_str").collect().map(_.toSeq).toSeq
    val archived = got.filter($"hour_num" === 9)
      .orderBy("clave_str").collect().map(_.toSeq).toSeq
    assert(archived == single)
  }

  test("upsert: a later hour inserts new keys alongside the old ones") {
    val store = freshStore()
    AirQualityEtl.runBatch(spark, store, html)
    val later = html.replace("09:00 h", "10:00 h")
    AirQualityEtl.runBatch(spark, store, later)
    val cdmx = store.read(spark, "cdmx").collect()
    assert(cdmx.length == 8)
    assert(cdmx.forall(_.getAs[Long]("nupdates") == 1L))
    assert(cdmx.map(_.getAs[Long]("report_ts")).toSet == Set(2025050509L, 2025050510L))
  }
}
