package graft.dq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.RawEvents

/** Volume anomaly detection — the reference roadmap's monitoring item
  * (ref: docs/design.md:166-168) made real: a day whose row count
  * deviates from its trailing 7-day baseline by more than a threshold
  * fraction is flagged. An anomaly is a WARNING (alerting signal), not a
  * gate failure — volume swings can be legitimate (launches, outages
  * upstream of us), so the pipeline records and surfaces them without
  * blocking the batch, unlike the hard [[DqCheck]] rules.
  */
object Anomaly {

  /** Flag |n − baseline| > threshold·baseline. 0.5 = "half or 1.5× the
    * trailing week" — wide enough to ignore weekday seasonality. */
  val DefaultThreshold = 0.5

  /** A type's batch share may be at most this factor above or below its
    * trailing-week share before [[typeDriftWarning]] flags it. */
  val DefaultDriftFactor = 2

  /** Per-day volumes with trailing-7-day baseline and anomaly flag:
    * (event_date, n, baseline, is_anomaly). The window is global but its
    * cardinality is one row per DATE — bounded by the calendar, not the
    * data, so the single-task window holds at any corpus size (same
    * argument as ref_rolling_baseline). Days with no baseline yet (first
    * day of history) are never anomalous. */
  def dailyVolume(events: DataFrame,
      threshold: Double = DefaultThreshold): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("event_date")).rowsBetween(-7, -1)
    daily
      .withColumn("baseline", avg(col("n")).over(w))
      .withColumn("is_anomaly",
        col("baseline").isNotNull &&
          (col("n") > col("baseline") * (1 + threshold) ||
            col("n") < col("baseline") * (1 - threshold)))
  }

  /** Per-event-type distribution drift — the OTHER anomaly check the
    * reference roadmap names (ref: docs/design.md:166-168, "per-event-
    * type distribution checks"): a (day, type) whose share of the day's
    * events is less than half or more than double the type's share of
    * the trailing 7 calendar days is flagged.
    *
    * Exactness across engines: shares are never divided — the
    * comparison cross-multiplies counts (n·base_total vs factor·base_n·
    * total) in DECIMAL, so there is no float rounding for the oracle to
    * disagree with (products of daily counts overflow DOUBLE's 2⁵³
    * integer range at 100 TB volumes; DECIMAL(38,0) does not). The
    * trailing window is RANGE over the day ordinal (calendar days, not
    * row offsets), so a type that skips a day still gets the right
    * 7-day baseline. Window cardinality is one row per (date, type) —
    * bounded by calendar × type vocabulary, the dailyVolume argument.
    * Days/types with no history are never flagged. */
  def typeDrift(events: DataFrame, factor: Int = 2): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("ord",
        datediff(col("event_date"), lit("1970-01-01").cast("date")))
    val totals = daily.groupBy(col("event_date"), col("ord"))
      .agg(sum(col("n")).as("total"))
    val wBaseTot = Window.orderBy(col("ord")).rangeBetween(-7, -1)
    val totalsWithBase = totals
      .withColumn("base_total", sum(col("total")).over(wBaseTot))
    val wBase = Window.partitionBy(col("event_type"))
      .orderBy(col("ord")).rangeBetween(-7, -1)
    val dec = "decimal(18,0)"
    daily
      .withColumn("base_n", sum(col("n")).over(wBase))
      .join(totalsWithBase.select(col("event_date"), col("total"),
        col("base_total")), Seq("event_date"))
      .withColumn("is_drift",
        col("base_n").isNotNull && col("base_total").isNotNull &&
          (col("n").cast(dec) * col("base_total") >
            (col("base_n") * factor).cast(dec) * col("total") ||
           (col("n") * factor).cast(dec) * col("base_total") <
            col("base_n").cast(dec) * col("total")))
      .select(col("event_date"), col("event_type"), col("n"),
        col("total"), col("base_n"), col("base_total"), col("is_drift"))
  }

  /** Intra-day coverage gaps — the third monitoring shape after volume
    * and share drift: a feed that stops mid-day keeps its daily count
    * plausible long after delivery broke. Per day: event count, distinct
    * hours with data (and the 24-complement), and the longest quiet
    * interval between CONSECUTIVE events in seconds (day-boundary edges
    * are not counted as gaps — a feed that starts at 09:00 every day is
    * seasonality, not an outage; the hours_missing column catches
    * chronically dark hours instead).
    *
    * Cross-engine exactness: timestamps are second-truncated before the
    * epoch subtraction (ns parquet vs µs Spark can't diverge), ordering
    * tiebreaks on event_id, and the hour() of a truncated ts never
    * crosses an hour. Scale: one shuffle on event_date for the lag
    * window — partition-parallel by calendar day (unlike the bounded
    * global windows above, this one grows with history, so it
    * partitions); the aggregate output is one row per day. */
  def coverageGaps(events: DataFrame, alertGapSeconds: Long = 3600)
      : DataFrame = {
    val w = Window.partitionBy(col("event_date"))
      .orderBy(col("ts_s"), col("event_id"))
    events
      .select(to_date(col("ts")).as("event_date"),
        unix_timestamp(date_trunc("second", col("ts"))).as("ts_s"),
        hour(col("ts")).as("h"), col("event_id"))
      .withColumn("gap", col("ts_s") - lag(col("ts_s"), 1).over(w))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("h")).as("hours_observed"),
        (lit(24) - count_distinct(col("h"))).cast("long")
          .as("hours_missing"),
        max(col("gap")).as("max_gap_s"))
      .withColumn("is_gap_alert", col("max_gap_s") > alertGapSeconds)
  }

  /** The trailing curated week as the two pipeline checks need it: one
    * row count per listed day (a listed day with no rows counts as a
    * 0-row day) and each event type's count over the whole week (a null
    * type keys `null`). */
  private final case class Week(dayRows: Seq[Long],
      typeCounts: Map[String, Long])

  /** Read the 7 days before `ingestionDate` in ONE Spark query. The day
    * dirs are listed on the driver; the query reads only `event_type`
    * under an explicit schema (no footer schema-inference job) and
    * groups by (day, type), so its job count does not grow with the
    * number of days.
    *
    * Best-effort: a trailing partition being REWRITTEN by a concurrent
    * backfill date is transiently unreadable (purged dir / mid-flip). A
    * failed read yields no history — what a run sees before any
    * trailing day lands. Warnings never gate, so absence is the safe
    * degradation, not an error to propagate. */
  private def trailingWeek(spark: SparkSession, curatedBase: String,
      ingestionDate: String): Week = {
    val date = java.time.LocalDate.parse(ingestionDate)
    val days = (1 to 7).map(b => date.minusDays(b.toLong).toString)
      .filter(d => graft.io.CuratedWriter.upstreamExists(spark,
        RawEvents.partitionPath(curatedBase, d)))
    val none = Week(Nil, Map.empty)
    if (days.isEmpty) return none
    scala.util.Try {
      val rows = spark.read.schema("event_type STRING")
        .option("basePath", curatedBase)
        .parquet(days.map(RawEvents.partitionPath(curatedBase, _)): _*)
        .groupBy(col("ingestion_date").cast("string"), col("event_type"))
        .count().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      def sums(key: ((String, String, Long)) => String) =
        rows.groupBy(key).map { case (k, xs) => k -> xs.map(_._3).sum }
      val perDay = sums(_._1)
      Week(days.map(perDay.getOrElse(_, 0L)), sums(_._2))
    }.getOrElse(none)
  }

  /** Both pipeline checks over ONE read of the trailing week: the
    * [[volumeWarning]] (if any) followed by the [[typeDriftWarning]]s. */
  def trailingWeekWarnings(spark: SparkSession, curatedBase: String,
      ingestionDate: String, batchRows: Long,
      batchTypeCounts: Map[String, Long]): Seq[String] = {
    val week = trailingWeek(spark, curatedBase, ingestionDate)
    volumeWarning(week, batchRows, DefaultThreshold).toSeq ++
      typeDriftWarning(week, batchTypeCounts, DefaultDriftFactor)
  }

  /** Pipeline-shaped drift check: ONE batch's per-type counts against
    * the trailing curated week's. History reads touch one
    * dictionary-encoded column (`event_type`) per partition — a
    * column-pruned aggregate, cheap at any partition size. The per-type
    * maps live on the driver: the type VOCABULARY is bounded (a handful
    * of event types), unlike row counts — this is a scalar-sized
    * summary, not a row-set collect. Cross-multiplied compare in BigInt
    * (no overflow, no shares divided — same exactness story as
    * [[typeDrift]]). Types absent from the baseline or the batch are
    * skipped: appearance/disappearance is a schema-ish event the domain
    * counter D-checks own, drift is about SHARE shifts. A null type
    * (keyed `null` in `batchTypeCounts`) has no baseline either: its
    * rows count toward the batch total only — the null-type gate rule
    * owns them. */
  def typeDriftWarning(spark: SparkSession, curatedBase: String,
      ingestionDate: String, batchTypeCounts: Map[String, Long],
      factor: Int = DefaultDriftFactor): Seq[String] =
    typeDriftWarning(trailingWeek(spark, curatedBase, ingestionDate),
      batchTypeCounts, factor)

  private def typeDriftWarning(week: Week,
      batchTypeCounts: Map[String, Long], factor: Int): Seq[String] = {
    if (week.typeCounts.isEmpty) return Nil
    val baseN = week.typeCounts
    val baseTotal = BigInt(baseN.values.sum)
    val total = BigInt(batchTypeCounts.values.sum)
    batchTypeCounts.toSeq.filter(_._1 != null).sortBy(_._1).flatMap {
      case (t, n) =>
        baseN.get(t).flatMap { bn =>
          val high = BigInt(n) * baseTotal > factor * BigInt(bn) * total
          val low = factor * BigInt(n) * baseTotal < BigInt(bn) * total
          if (high || low)
            Some(s"type-share drift: '$t' is $n of $total rows vs " +
              s"trailing-week $bn of $baseTotal (>${factor}x share shift)")
          else None
        }
    }
  }

  /** Pipeline-shaped variant: compare ONE batch's row count (already in
    * hand from the DQ counter pass — no extra scan of the batch) against
    * the trailing week of CURATED partitions, read in the same single
    * query as the drift check's history. Missing history days (gaps,
    * start of history) simply don't contribute; no baseline at all ⇒ no
    * warning. */
  def volumeWarning(spark: SparkSession, curatedBase: String,
      ingestionDate: String, batchRows: Long,
      threshold: Double = DefaultThreshold): Option[String] =
    volumeWarning(trailingWeek(spark, curatedBase, ingestionDate),
      batchRows, threshold)

  private def volumeWarning(week: Week, batchRows: Long,
      threshold: Double): Option[String] = {
    val history = week.dayRows
    if (history.isEmpty) None
    else {
      val baseline = history.sum.toDouble / history.size
      val deviates = batchRows > baseline * (1 + threshold) ||
        batchRows < baseline * (1 - threshold)
      if (deviates)
        Some(f"row-count anomaly: $batchRows rows vs trailing-" +
          f"${history.size}%d-day baseline $baseline%.1f " +
          f"(threshold ±${(threshold * 100).toInt}%%)")
      else None
    }
  }
}
