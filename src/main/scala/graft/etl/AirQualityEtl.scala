package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NormalizeText
import graft.sources.Html

/** The air-quality report ETL (SURVEY §7 Phase 1) — the reference's
  * whole pipeline (/root/reference/scrapper.py:130-186) re-expressed as
  * a Spark plan.
  *
  * Shape: page metadata is parsed on the driver (one small record per
  * page — /root/reference/scrapper.py:29-75), while station rows go
  * through a Dataset so the malformed-row filter, normalization,
  * img-src extraction, constant date columns, renames and casts are
  * all Catalyst expressions. With one page per batch the Dataset is
  * tiny; pointed at millions of archived pages (an `htmlPages`
  * DataFrame), the identical plan fans out — parsing happens inside
  * `flatMap` on executors, nothing is driver-bound.
  */
object AirQualityEtl {

  /** Report-level metadata — /root/reference/scrapper.py:29-75. */
  final case class ReportMeta(
      hour: Int, weekDay: String, monthDay: Int, monthName: String,
      monthNum: Int, year: Int,
      reportTs: Long, reportTsLegacy: Long,
      tempCelsius: Option[Int], uvReco: Option[String],
      scoreToday: Option[String], scoreTomorrow: Option[String])

  /** One raw station-table row: cell texts + optional img srcs. */
  final case class RawRow(texts: Seq[String], imgs: Seq[String])

  private def norm(s: String): String =
    Option(NormalizeText.normalize(UTF8String.fromString(s))).map(_.toString).orNull

  /** Parse the date line "09:00 h, lunes 5 de mayo de 2025" and the
    * scalar divs. Returns None when the date is unparseable — the
    * validation gate that aborts the batch
    * (/root/reference/scrapper.py:139-144, SURVEY §2 P3). */
  def parseMeta(doc: graft.sources.HtmlNode, cfg: EtlConfig = EtlConfig.default): Option[ReportMeta] = {
    val ids = cfg.divIds
    for {
      dateDiv <- doc.byId(ids("date_text"))
      toks = dateDiv.text.replace("h,", " ").trim.split("\\s+").filter(_.nonEmpty).toSeq
      if toks.length >= 7
      hour <- toks.head.take(2).toIntOption
      day <- toks(2).toIntOption
      monthName = norm(toks(4))
      monthNum <- cfg.months.get(monthName)
      year <- toks(6).toIntOption
    } yield {
      // Legacy key reproduces the reference's unpadded concatenation
      // (/root/reference/scrapper.py:51 — day straight from the token);
      // reportTs is the fixed, monotonic form.
      val legacy = (f"$year%04d$monthNum%02d" + day.toString + f"$hour%02d").toLong
      val fixed = year.toLong * 1000000L + monthNum * 10000L + day * 100L + hour
      val temp = doc.byId(ids("temperature")).flatMap { d =>
        // drop the trailing unit ("°C") then take the leading int —
        // the engine-hardened version of scrapper.py:62's `temp[:-2]`.
        "^-?\\d+".r.findFirstIn(d.text.dropRight(2).trim).flatMap(_.toIntOption)
      }
      val forecast = doc.byId(ids("air_forecast")).map(_.elems).getOrElse(Vector.empty)
      ReportMeta(
        hour = hour, weekDay = norm(toks(1)), monthDay = day,
        monthName = monthName, monthNum = monthNum, year = year,
        reportTs = fixed, reportTsLegacy = legacy,
        tempCelsius = temp,
        uvReco = doc.byId(ids("uv_recommendation")).map(d => norm(d.text)),
        scoreToday = forecast.lift(1).map(d => norm(d.text)),
        scoreTomorrow = forecast.lift(3).map(d => norm(d.text)))
    }
  }

  /** Data rows (header skipped) of the table under the given div, as
    * serializable raw rows — runs driver-side here, executor-side when
    * called from flatMap. */
  def rawRows(html: String, divId: String, dataFromRow: Int): Seq[RawRow] =
    Html.tableRows(Html.parse(html), divId).drop(dataFromRow).map { cells =>
      RawRow(cells.map(_.text), cells.map(_.imgSrc.getOrElse("")))
    }

  /** Station-table scan + transform (SURVEY §2 S2/S3/P1-P12):
    * malformed-row filter, normalize, img basename → air-quality level,
    * constant date columns, Hungarian renames, casts. */
  def readingsDf(
      spark: SparkSession,
      html: String,
      meta: ReportMeta,
      nameCol: String, // "alcaldia_str" | "municipio_str"
      divId: String,
      cfg: EtlConfig = EtlConfig.default): DataFrame = {
    import spark.implicits._
    val raw: Dataset[RawRow] = spark.createDataset(rawRows(html, divId, cfg.dataFromRow))
    graft.functions.Functions.register(spark)
    raw
      // P2: the reference skips rows with < 4 cells (scrapper.py:94-95)
      .filter(size($"texts") >= 4)
      .select(
        expr("normalize_text(texts[0])").as("clave_str"),
        expr("normalize_text(texts[1])").as(nameCol),
        // S3: level encoded in the icon path — basename minus ".svg"
        // (scrapper.py:100-102); empty src (no img) → null.
        when(element_at($"imgs", 3) =!= "",
          regexp_extract(element_at($"imgs", 3), "([^/]+)\\.svg$", 1)).as("calidad_del_aire_str"),
        expr("normalize_text(texts[3])").as("parametro_str"))
      .withColumns(dateColumns(meta))
      .select(
        col("report_ts"), col("report_time"), col("report_ts_legacy"),
        col("clave_str"), col(nameCol), col("calidad_del_aire_str"),
        col("parametro_str"), col("week_day_str"), col("month_day_num"),
        col("month_name_str"), col("month_num"), col("year_num"), col("hour_num"))
  }

  /** The seven shared date columns the reference broadcasts onto every
    * row (scrapper.py:154-165, SURVEY §2 P5/J1) plus the engine's
    * proper timestamp + both key forms. All literals — Catalyst
    * constant-folds them into the projection. */
  def dateColumns(meta: ReportMeta): Map[String, org.apache.spark.sql.Column] = Map(
    "report_ts" -> lit(meta.reportTs),
    "report_ts_legacy" -> lit(meta.reportTsLegacy),
    "report_time" -> make_timestamp(
      lit(meta.year), lit(meta.monthNum), lit(meta.monthDay),
      lit(meta.hour), lit(0), lit(0)),
    "week_day_str" -> lit(meta.weekDay),
    "month_day_num" -> lit(meta.monthDay),
    "month_name_str" -> lit(meta.monthName),
    "month_num" -> lit(meta.monthNum),
    "year_num" -> lit(meta.year),
    "hour_num" -> lit(meta.hour))

  /** The 1-row gral_stats record (scrapper.py:112-127). */
  def gralStatsDf(spark: SparkSession, meta: ReportMeta): DataFrame = {
    import spark.implicits._
    Seq((meta.tempCelsius, meta.uvReco, meta.scoreToday, meta.scoreTomorrow))
      .toDF("temp_celsius_int", "reco_uiv_str", "score_air_str", "score_air_next_day_str")
      .withColumns(dateColumns(meta))
      .select(
        col("report_ts"), col("report_time"), col("report_ts_legacy"),
        col("temp_celsius_int"), col("reco_uiv_str"), col("score_air_str"),
        col("score_air_next_day_str"), col("week_day_str"), col("month_day_num"),
        col("month_name_str"), col("month_num"), col("year_num"), col("hour_num"))
  }

  /** One parsed batch: the three conformed DataFrames. */
  final case class Batch(cdmx: DataFrame, edomex: DataFrame, gralStats: DataFrame, meta: ReportMeta)

  /** Full extract+transform of one report page. Throws if the
    * validation gate fails (bad/missing date — scrapper.py:139-144). */
  def batchFromHtml(spark: SparkSession, html: String, cfg: EtlConfig = EtlConfig.default): Batch = {
    val doc = Html.parse(html)
    val meta = parseMeta(doc, cfg).getOrElse(
      throw new IllegalArgumentException("report date unparseable — aborting batch"))
    Batch(
      cdmx = readingsDf(spark, html, meta, "alcaldia_str", cfg.divIds("cdmx_table"), cfg),
      edomex = readingsDf(spark, html, meta, "municipio_str", cfg.divIds("edomex_table"), cfg),
      gralStats = gralStatsDf(spark, meta),
      meta = meta)
  }

  /** One parsed archive reading before columnar conformance: meta
    * fields are DATA (they vary per page), unlike the single-page path
    * where they are constant-folded literals. */
  final case class ArchiveRow(
      reportTs: Long, reportTsLegacy: Long,
      year: Int, monthNum: Int, monthDay: Int, hour: Int,
      weekDay: String, monthName: String,
      texts: Seq[String], imgs: Seq[String])

  /** Archive fan-out (the claim in the header, made real): parse MANY
    * report pages EXECUTOR-SIDE. Input: one HTML string per row;
    * output: conformed cdmx readings for every parseable page. The
    * HTML parse + table extraction run inside `flatMap` — per-page
    * CPU scales with the cluster, nothing is driver-bound — and pages
    * failing the validation gate (unparseable date) are dropped
    * per-page instead of aborting the batch, the right semantics for
    * a backfill over millions of pages of varying vintage. Downstream
    * normalization/extraction reuses the exact expressions of the
    * single-page path, reading meta from columns instead of literals. */
  def archiveReadings(spark: SparkSession, pages: Dataset[String],
      cfg: EtlConfig = EtlConfig.default): DataFrame = {
    import spark.implicits._
    graft.functions.Functions.register(spark)
    val divId = cfg.divIds("cdmx_table")
    val fromRow = cfg.dataFromRow
    val raw: Dataset[ArchiveRow] = pages.flatMap { html =>
      val doc = Html.parse(html)
      parseMeta(doc, cfg) match {
        case None => Iterator.empty // per-page validation gate
        case Some(m) =>
          rawRows(html, divId, fromRow).iterator.map(r =>
            ArchiveRow(m.reportTs, m.reportTsLegacy, m.year, m.monthNum,
              m.monthDay, m.hour, m.weekDay, m.monthName, r.texts, r.imgs))
      }
    }
    raw
      .filter(size($"texts") >= 4) // P2: malformed-row filter
      .select(
        $"reportTs".as("report_ts"),
        make_timestamp($"year", $"monthNum", $"monthDay", $"hour", lit(0), lit(0))
          .as("report_time"),
        $"reportTsLegacy".as("report_ts_legacy"),
        expr("normalize_text(texts[0])").as("clave_str"),
        expr("normalize_text(texts[1])").as("alcaldia_str"),
        when(element_at($"imgs", 3) =!= "",
          regexp_extract(element_at($"imgs", 3), "([^/]+)\\.svg$", 1)).as("calidad_del_aire_str"),
        expr("normalize_text(texts[3])").as("parametro_str"),
        $"weekDay".as("week_day_str"),
        $"monthDay".as("month_day_num"),
        $"monthName".as("month_name_str"),
        $"monthNum".as("month_num"),
        $"year".as("year_num"),
        $"hour".as("hour_num"))
  }

  private[etl] val CommitThreadName = "graft-etl-commit"

  /** Load + upsert one batch into the store (scrapper.py:329-331):
    * three keyed MERGEs, each restricted to the report-date partitions
    * the batch touches (an hourly batch touches exactly one) — the
    * reference's per-table transaction at partition granularity.
    * `p_date` = yyyymmdd prefix of `report_ts`, so it is functionally
    * determined by every table's key.
    *
    * The three tables commit concurrently, one pool thread each, and
    * each commit is its own atomic `_pmanifest` rename — the same as
    * the reference's three separate transactions (no cross-table
    * atomicity either way). Commit jobs run under the caller's active
    * session and local properties (job tags, scheduler pool). Returns
    * once all three have finished; if any failed, rethrows the first
    * failure's own exception with the others attached as suppressed. */
  def runBatch(spark: SparkSession, store: graft.operators.TableStore, html: String,
      cfg: EtlConfig = EtlConfig.default): Batch = {
    val b = batchFromHtml(spark, html, cfg)
    def withDate(df: DataFrame): DataFrame =
      df.withColumn("p_date", (col("report_ts") / 100).cast("int"))
    val tables = Seq("cdmx" -> b.cdmx, "edomex" -> b.edomex, "gral_stats" -> b.gralStats)
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size,
      (r: Runnable) => new Thread(r, CommitThreadName))
    try {
      val commits = tables.map { case (name, df) =>
        org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(session, pool) {
          // hourly report tables are micro-batch-sized — one output file each
          store.upsertPartitioned(spark, name, withDate(df),
            cfg.tableKeys(name), "p_date", numFiles = Some(1))
        }
      }
      val failures = commits.flatMap { c =>
        try { c.join(); None }
        catch { case e: java.util.concurrent.CompletionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
    b
  }
}
