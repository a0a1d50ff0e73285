package graft.dq

import org.apache.spark.sql.functions.{col, to_timestamp}

import graft.SparkSpec
import graft.schema.RawEvent

/** Per-counter semantics tests, including the traps SURVEY §5.2.1 calls
  * out: negated-isin null behavior, empty-input sum, dup-rate definition
  * "extra rows beyond first occurrence". */
class DqSpec extends SparkSpec {

  private def df(rows: RawEvent*) = {
    val s = spark
    import s.implicits._
    s.createDataset(rows).toDF()
  }

  private def ev(id: String, user: Option[String] = Some("1"),
      tpe: String = "login") =
    RawEvent(id, user, tpe, "2025-01-01T00:00:00Z", None)

  test("clean batch: all counters zero except totals") {
    val c = DqCounters.compute(df(ev("a"), ev("b"), ev("c")))
    assert(c == DqCounters(3, 0, 0, 0, 0, 0))
    assert(c.nullUserRate == 0.0 && c.dupRate == 0.0)
  }

  test("null counters count exactly the null rows") {
    val c = DqCounters.compute(df(
      ev("a", user = None),
      RawEvent(null, Some("1"), null, "2025-01-01T00:00:00Z", None),
      ev("c")))
    assert(c.nullEventId == 1 && c.nullEventType == 1 && c.nullUserId == 1)
  }

  test("negated isin: NULL event_type is NOT counted invalid (3VL)") {
    // ref semantics: ~isin(...) over NULL → NULL → excluded from count
    // (raw_to_curated_events_v3_dq.py:78; SURVEY §2.4 F3)
    val c = DqCounters.compute(df(
      RawEvent("a", Some("1"), null, "t", None),     // null → not invalid
      ev("b", tpe = "bogus"),                        // invalid
      ev("c", tpe = "purchase")))                    // valid
    assert(c.invalidEventType == 1)
    assert(c.nullEventType == 1)
  }

  test("dup extras = rows beyond first occurrence per event_id") {
    // ids: a×3, b×1, c×2 → extras = 2 + 0 + 1 = 3
    val c = DqCounters.compute(df(
      ev("a"), ev("a"), ev("a"), ev("b"), ev("c"), ev("c")))
    assert(c.dupExtraRows == 3)
    assert(c.dupRate == 3.0 / 6)
  }

  test("dup extras: null event_ids form ONE group, like groupBy") {
    // nulls: 2 rows → 1 extra; 'a': 2 rows → 1 extra
    val c = DqCounters.compute(df(
      RawEvent(null, Some("1"), "login", "t", None),
      RawEvent(null, Some("1"), "login", "t", None),
      ev("a"), ev("a"), ev("b")))
    assert(c.dupExtraRows == 2)
  }

  test("empty input: all counters zero, rates guarded (no div-by-zero)") {
    val c = DqCounters.compute(df())
    assert(c == DqCounters(0, 0, 0, 0, 0, 0))
    assert(c.nullUserRate == 0.0 && c.dupRate == 0.0)
  }

  test("gate: clean batch passes; each D1–D6 violation fails with its message") {
    def gate(c: DqCounters) = DqCheck.all.flatMap(_.evaluate(c))
    assert(gate(DqCounters(100, 0, 0, 2, 0, 1)).isEmpty) // 2% nulls, 1% dups → PASS
    assert(gate(DqCounters(0, 0, 0, 0, 0, 0)) ==
      Seq("No rows found (total_rows == 0)"))
    assert(gate(DqCounters(100, 1, 0, 0, 0, 0)) == Seq("event_id has nulls: 1"))
    assert(gate(DqCounters(100, 0, 2, 0, 0, 0)) == Seq("event_type has nulls: 2"))
    assert(gate(DqCounters(100, 0, 0, 0, 3, 0)) ==
      Seq("event_type has invalid values: 3"))
    assert(gate(DqCounters(100, 0, 0, 4, 0, 0)) ==
      Seq("user_id null rate too high: 0.0400 > 0.03"))
    assert(gate(DqCounters(100, 0, 0, 0, 0, 3)) ==
      Seq("duplicate event_id rate too high: 0.0300 > 0.02"))
  }

  test("report JSON has the exact reference field set, failures only on FAIL") {
    val pass = DqReport("2025-01-01", "raw/", "curated/",
      DqCounters(100, 0, 0, 2, 0, 1), Nil)
    val json = pass.toJson
    for (f <- Seq("ingestion_date", "raw_path", "curated_partition_path",
        "total_rows", "null_event_id", "null_event_type", "null_user_id",
        "null_user_rate", "invalid_event_type",
        "duplicate_event_id_extra_rows", "duplicate_event_id_rate",
        "thresholds", "max_null_user_id_rate", "max_duplicate_event_id_rate",
        "status"))
      assert(json.contains("\"" + f + "\""), s"missing field $f")
    assert(!json.contains("failures"))
    assert(json.contains("\"status\": \"PASS\""))

    val fail = pass.copy(failures = Seq("event_id has nulls: 1"))
    assert(fail.toJson.contains("\"failures\": [\"event_id has nulls: 1\"]"))
    assert(fail.toJson.contains("\"status\": \"FAIL\""))
  }

  test("warnings ride the report without gating; absent when empty") {
    val base = DqReport("2025-01-01", "raw/", "curated/",
      DqCounters(100, 0, 0, 0, 0, 0), Nil)
    assert(!base.toJson.contains("warnings"))
    val warned = base.copy(warnings = Seq("row-count anomaly: 10 vs 100.0"))
    assert(warned.status == "PASS", "a warning must NOT flip the gate")
    assert(warned.toJson.contains(
      "\"warnings\": [\"row-count anomaly: 10 vs 100.0\"]"))
  }

  test("dailyVolume flags only days deviating ±threshold from the trailing week") {
    val s = spark
    import s.implicits._
    // 8 steady days then a 3× spike then a steady day (spike inside the
    // next day's baseline window pulls the average up, but not past 50%)
    val days = (1 to 8).map(d => (f"2025-01-$d%02d", 100)) ++
      Seq(("2025-01-09", 300), ("2025-01-10", 100))
    val events = days.flatMap { case (d, n) =>
      (1 to n).map(i => (s"$d 12:00:00", i.toLong))
    }.toDF("ts_s", "user_id")
      .select(to_timestamp(col("ts_s")).as("ts"), col("user_id"))
    val out = Anomaly.dailyVolume(events).collect()
      .map(r => r.getDate(0).toString -> r.getBoolean(3)).toMap
    assert(out("2025-01-01") == false, "no baseline yet → never anomalous")
    assert((2 to 8).forall(d => !out(f"2025-01-0$d")), "steady days pass")
    assert(out("2025-01-09"), "3× spike must flag")
    assert(!out("2025-01-10"), "return to normal passes (baseline 125)")
  }

  test("splitQuarantine: first matching reason wins; dedup survivor is " +
      "deterministic") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // (event_id, user_id, event_type, event_ts)
      ("e1", null, "purchase", "2025-01-01 10:00:00"), // null user AND dup
      ("e1", "u1", "purchase", "2025-01-01 09:00:00"), // earlier → survivor
      ("e2", "u2", "login", "2025-01-01 11:00:00"),
      ("e2", "u2", "login", "2025-01-01 11:00:00") // identical copy → dup
    ).toDF("event_id", "user_id", "event_type", "event_ts")
      .withColumn("event_ts", to_timestamp(col("event_ts")))
    val (valid, quarantined) = Dq.splitQuarantine(df)
    val reasons = quarantined
      .select(col("event_id"), col("quarantine_reason")).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    // the null-user row reports null_user_id (priority), NOT dup;
    // one identical e2 copy quarantines as dup
    assert(reasons == Seq(("e1", "null_user_id"), ("e2", "dup_event_id")))
    val survivors = valid.select("event_id", "event_ts")
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).toString).toMap
    assert(survivors("e1") == "2025-01-01 09:00:00.0",
      "keep-first by event_ts is the survivor")
    assert(valid.count() == 2)
  }

  test("splitQuarantine: clean later copy survives when the first-sorted " +
      "copy is quarantined for another reason") {
    val s = spark
    import s.implicits._
    // e3's EARLIEST copy has a null user (quarantined null_user_id);
    // the later clean copy must NOT be flagged dup_event_id — dedup
    // rank counts only rows passing the null/domain rules, so exactly
    // one valid e3 row reaches curated.
    val df = Seq(
      ("e3", null, "purchase", "2025-01-01 08:00:00"), // first by ts, dirty
      ("e3", "u9", "purchase", "2025-01-01 09:00:00"), // clean → survivor
      ("e3", "u9", "purchase", "2025-01-01 10:00:00") // clean dup → flagged
    ).toDF("event_id", "user_id", "event_type", "event_ts")
      .withColumn("event_ts", to_timestamp(col("event_ts")))
    val (valid, quarantined) = Dq.splitQuarantine(df)
    val reasons = quarantined
      .select(col("event_ts").cast("string"), col("quarantine_reason"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(reasons == Seq(
      ("2025-01-01 08:00:00", "null_user_id"),
      ("2025-01-01 10:00:00", "dup_event_id")))
    val survivors = valid.select(col("event_ts").cast("string"))
      .collect().map(_.getString(0)).toSeq
    assert(survivors == Seq("2025-01-01 09:00:00"),
      "the earliest CLEAN copy survives")
  }

  test("coverageGaps: mid-day outage flags, dense day and daily start edge don't") {
    val s = spark
    import s.implicits._
    // day 1: events every hour 00..23 (dense). day 2: hourly 00..09,
    // silence 10..15 (6 dark hours), hourly again 16..23 — max gap 7 h
    // (09:10 → 16:10). day 3: first event at 09:00 (boundary edge — NOT
    // a gap) then hourly to 23:00.
    val rows =
      (0 to 23).map(h => (f"2025-02-01 $h%02d:10:00", h.toLong)) ++
        ((0 to 9) ++ (16 to 23)).map(h => (f"2025-02-02 $h%02d:10:00", 100L + h)) ++
        (9 to 23).map(h => (f"2025-02-03 $h%02d:10:00", 200L + h))
    val events = rows.toDF("ts_s", "event_id")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_id"))
    val out = Anomaly.coverageGaps(events).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(out("2025-02-01") == ((24L, 0L, 3600L, false)),
      "dense day: hourly cadence, no alert")
    assert(out("2025-02-02") == ((18L, 6L, 7L * 3600, true)),
      "mid-day outage: 6 dark hours, 7 h max gap, alert fires")
    assert(out("2025-02-03") == ((15L, 9L, 3600L, false)),
      "late daily start is an edge, not a gap — no alert")
  }

  test("typeDrift flags a type whose share of the day shifts >2x vs trailing week") {
    val s = spark
    import s.implicits._
    // 8 days of steady 10/90 click/view, then a day where click takes
    // 150 of 250 (share 0.6 = 6x its 0.1 baseline → flags high) and
    // view drops to 100/250 (share 0.4 < half its 0.9 baseline → flags
    // low). Note a MAJORITY type can never flag high under factor 2:
    // shares cap at 1, so doubling is only possible from below 0.5 —
    // which is exactly the "rare type exploded" signal the check wants.
    val days = (1 to 8).map(d => (f"2025-01-$d%02d", 10, 90)) ++
      Seq(("2025-01-09", 150, 100))
    val events = days.flatMap { case (d, clicks, views) =>
      (1 to clicks).map(i => (s"$d 12:00:00", "click")) ++
        (1 to views).map(i => (s"$d 12:00:00", "view"))
    }.toDF("ts_s", "event_type")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"))
    val out = Anomaly.typeDrift(events).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getBoolean(6))
      .toMap
    assert(!out(("2025-01-01", "click")), "no baseline → never drifting")
    assert((2 to 8).forall(d => !out((f"2025-01-0$d", "click"))
      && !out((f"2025-01-0$d", "view"))), "steady shares pass")
    assert(out(("2025-01-09", "click")), "click share 0.1 → 0.6 must flag")
    assert(out(("2025-01-09", "view")), "view share 0.9 → 0.4 must flag")
  }

  test("typeDrift ignores pure volume spikes when shares are stable") {
    val s = spark
    import s.implicits._
    // day 9 has 3x the volume but identical 50/50 shares → no drift
    val days = (1 to 8).map(d => (f"2025-01-$d%02d", 100, 100)) ++
      Seq(("2025-01-09", 300, 300))
    val events = days.flatMap { case (d, clicks, views) =>
      (1 to clicks).map(_ => (s"$d 12:00:00", "click")) ++
        (1 to views).map(_ => (s"$d 12:00:00", "view"))
    }.toDF("ts_s", "event_type")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"))
    val out = Anomaly.typeDrift(events).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getBoolean(6))
      .toMap
    assert(!out(("2025-01-09", "click")) && !out(("2025-01-09", "view")),
      "stable shares under a volume spike must NOT flag")
  }

  test("typeDriftWarning: batch share vs trailing curated week") {
    val s = spark
    import s.implicits._
    val base = tmpDir("graft-typedrift")
    // two history days, steady 10/90 click/view
    Seq("2025-01-06", "2025-01-07").foreach { d =>
      val rows = (1 to 10).map(_ => "click") ++ (1 to 90).map(_ => "view")
      rows.toDF("event_type").write
        .parquet(graft.io.RawEvents.partitionPath(base, d))
    }
    // steady batch → no warning
    assert(Anomaly.typeDriftWarning(s, base, "2025-01-08",
      Map("click" -> 10L, "view" -> 90L)).isEmpty)
    // click explodes to a 0.6 share (6x its 0.1 baseline) → warning for
    // click (high) AND view (0.9 → 0.4, below half) — sorted by type
    val w = Anomaly.typeDriftWarning(s, base, "2025-01-08",
      Map("click" -> 150L, "view" -> 100L))
    assert(w.size == 2 && w.head.contains("'click'")
      && w(1).contains("'view'"), s"got $w")
    // a type with no baseline is skipped, not flagged
    assert(Anomaly.typeDriftWarning(s, base, "2025-01-08",
      Map("click" -> 10L, "view" -> 90L, "novel" -> 5L)).isEmpty)
    // no history at all → no warnings
    assert(Anomaly.typeDriftWarning(s, tmpDir("graft-typedrift-empty"),
      "2025-01-08", Map("click" -> 10L)).isEmpty)
    // a null type has no baseline but counts toward the batch total:
    // 120 null rows shrink both shares below half their baseline
    val withNulls = Anomaly.typeDriftWarning(s, base, "2025-01-08",
      Map("click" -> 10L, "view" -> 90L, (null: String) -> 120L))
    assert(withNulls.size == 2 && withNulls.forall(_.contains("of 220 rows")),
      s"got $withNulls")
  }

  test("volumeWarning: metadata-count baseline over curated history") {
    val s = spark
    import s.implicits._
    val base = tmpDir("graft-anomaly")
    def writeDay(d: String, n: Int): Unit =
      (1 to n).map(_.toLong).toDF("user_id").write.mode("overwrite")
        .parquet(graft.io.RawEvents.partitionPath(base, d).stripSuffix("/"))
    for (day <- 1 to 7) writeDay(f"2025-01-0$day", 100)
    // in-line batch: 90 rows vs baseline 100 → fine
    assert(Anomaly.volumeWarning(s, base, "2025-01-08", 90L).isEmpty)
    // 300 rows vs baseline 100 → warn
    val w = Anomaly.volumeWarning(s, base, "2025-01-08", 300L)
    assert(w.exists(_.contains("row-count anomaly")), s"got $w")
    // no history at all → no baseline → silent
    assert(Anomaly.volumeWarning(s, tmpDir("graft-anomaly-empty"),
      "2025-01-08", 300L).isEmpty)
  }
}
