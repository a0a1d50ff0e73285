package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.dq.{Anomaly, DqCheck, DqCounters, DqReport, Tally}
import graft.io.{CuratedWriter, RawEvents}

/** Zone layout for one pipeline deployment (SURVEY §1.1).
  * `auditTable`, when set, is the snapshot-versioned run-history table
  * ([[graft.dq.DqAudit]]): every run's report — including gate
  * FAILURES — appends there right after the per-run JSON report lands
  * and before any gate throw, so the backfill audit trail is
  * queryable, not a directory of JSON files. The append is
  * BEST-EFFORT: an audit-table failure (e.g. an orphaned version
  * reservation) is logged and swallowed — pipeline availability never
  * couples to the audit table's health; the per-run JSON report file
  * remains the hard record either way. */
final case class PipelineConfig(
    rawBase: String,
    curatedBase: String,
    metricsBase: String,
    auditTable: Option[String] = None)

/** Pipeline failed its DQ gate; curated data untouched
  * (fail-safe ordering, ref: docs/design.md:109-114). */
final class DqFailedException(val report: DqReport)
  extends RuntimeException(
    "Data Quality checks failed: " + report.failures.mkString("; "))

/** Raw partition missing — the reference's Lambda sensor as an in-driver
  * pre-check (ref: docs/design.md:129-134, SURVEY §2.10 C4). */
final class MissingUpstreamException(path: String)
  extends RuntimeException(s"expected raw partition missing: $path")

/** The reference's main entry point as a library function: steps 2–8 of
  * SURVEY §3.1 in one JVM — no job polling, no Py4J hop.
  *
  * Every entry point ([[Pipeline.runPartition]],
  * [[Pipeline.runPartitionQuarantine]], [[Pipeline.readmitQuarantine]])
  * follows one order: heal any interrupted flip → stage → observe →
  * report write → audit → gate → flip. Each zone's new content is
  * written ONCE into a hidden staged dir, and the DQ counters and
  * tallies are observed (Spark `Observation`) on the passes that feed
  * those writes, so the gate costs no pass of its own. A failing gate
  * purges the staged dirs and publishes nothing: prior curated data
  * stays intact, the reference's fail-safe contract (ref:
  * raw_to_curated_events_v3_dq.py:68-162, docs/design.md:109-114) — the
  * refused batch has paid its staged write, not touched a live dir.
  */
object Pipeline {

  /** Process one ingestion date (ref job: raw_to_curated_events_v3_dq.py).
    * Throws [[DqFailedException]] on gate failure AFTER persisting the
    * report, like the reference (report write precedes the raise,
    * ref :131-150). */
  def runPartition(spark: SparkSession, conf: PipelineConfig,
      ingestionDate: String): DqReport = {
    // C1 fail-fast arg validation (ref: ..._v3_dq.py:31-37)
    require(validDate(ingestionDate),
      "ingestion_date must be YYYY-MM-DD, e.g. 2025-01-02")
    // heal any interrupted zone flip BEFORE reading or writing the date
    recoverPending(spark, conf, ingestionDate)

    val rawPath = RawEvents.partitionPath(conf.rawBase, ingestionDate)
    val curatedPath = RawEvents.partitionPath(conf.curatedBase, ingestionDate)
    val metricsPath =
      RawEvents.partitionPath(conf.metricsBase, ingestionDate) +
        "data_quality.json"

    if (!CuratedWriter.upstreamExists(spark, rawPath))
      throw new MissingUpstreamException(rawPath)

    // ONE parse of the raw NDJSON: the staged curated write observes the
    // five plain counters and the per-type tally as it goes.
    // current_timestamp() is fixed once per query, so processing_ts is
    // one audit timestamp across the partition. The counters run on the
    // curated frame like the reference (the derived columns don't affect
    // any counter).
    val batch = Observation()
    val flips = stage(spark, ingestionDate, Seq(
      RawEvents.curate(RawEvents.readPartition(spark, conf.rawBase,
        ingestionDate)).observe(batch,
          Tally(col("event_type"), "event_types"),
          DqCounters.plainColumns(): _*) -> conf.curatedBase))
    // dup_extra_rows is distinct, which Observation rejects: one
    // aggregate over the staged partition's event_id column, run beside
    // the anomaly checks' history read (the two reads are independent)
    val dups = concurrently(
      spark.read.schema("event_id STRING").parquet(flips.head._1)
        .agg(DqCounters.dupExtraRows).head().getLong(0))
    val m = batch.get
    val observed = DqCounters.fromMetrics(m, 0L) // all but dup_extra_rows
    // the null type's count is a counter; a map key cannot be null
    val batchTypes = Tally.of(m, "event_types") ++
      (if (observed.nullEventType > 0)
        Map((null: String) -> observed.nullEventType) else Map.empty)
    // volume and type-drift anomaly checks (roadmap docs/design.md:166-168)
    // over ONE read of the trailing curated week; they WARN, never gate
    val warnings = Anomaly.trailingWeekWarnings(spark, conf.curatedBase,
      ingestionDate, observed.totalRows, batchTypes)
    val counters = observed.copy(dupExtraRows = dups())
    val failures = DqCheck.all.flatMap(_.evaluate(counters))
    val report = DqReport(ingestionDate, rawPath, curatedPath, counters,
      failures, warnings)
    reportAndGate(spark, conf, report, metricsPath, flips)
    commit(spark, conf, ingestionDate, flips)
    report
  }

  /** Persist the report, audit it, then gate: on FAIL the staged dirs
    * are purged and [[DqFailedException]] raised, so nothing publishes.
    * The audit lands BEFORE the gate throw — failed attempts are the
    * audit trail's whole point (the report-precedes-raise contract of
    * the JSON write). */
  private def reportAndGate(spark: SparkSession, conf: PipelineConfig,
      report: DqReport, metricsPath: String,
      flips: Seq[(String, String)]): Unit = {
    CuratedWriter.writeSingleFile(spark, metricsPath, report.toJson)
    auditBestEffort(spark, conf, report)
    if (report.status == "FAIL") {
      flips.foreach { case (staged, _) => CuratedWriter.purge(spark, staged) }
      throw new DqFailedException(report)
    }
  }

  /** Start `body` on a new thread and return its result's getter. A new
    * thread inherits this one's Spark local properties (job group,
    * scheduler pool), so its jobs belong to the calling run. */
  private def concurrently[T](body: => T): () => T = {
    val task = new java.util.concurrent.FutureTask[T](() => body)
    val t = new Thread(task, "graft-pipeline-aux")
    t.setDaemon(true)
    t.start()
    () =>
      try task.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
  }

  /** Best-effort audit append (see [[PipelineConfig]]): a broken audit
    * table must not abort a PASSING run's curated write, and on a
    * failing run the DQ gate's own exception — not the audit error —
    * is what the caller must see. The swallowed error is logged. */
  private def auditBestEffort(spark: SparkSession, conf: PipelineConfig,
      report: DqReport,
      runTs: String = java.time.Instant.now().toString): Unit =
    conf.auditTable.foreach { t =>
      try graft.dq.DqAudit.record(spark, t, report, runTs)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[pipeline] audit append to $t failed " +
            s"(best-effort; run status=${report.status}): ${e.getMessage}")
      }
    }

  /** Quarantine variant of [[runPartition]] — row-level diversion
    * instead of the all-or-nothing gate: offending rows land in a
    * `quarantine` zone partition (same purge+write idempotency contract
    * as curated) with their `quarantine_reason`, the clean remainder is
    * written to curated, and the batch fails ONLY when the quarantine
    * rate crosses `maxQuarantineRate` — past that, the feed itself is
    * broken and diversion would just hide it. The report keeps the
    * ORIGINAL batch's counters (the honest diagnosis) with per-reason
    * quarantine counts as warnings; the rate compare is integer
    * cross-multiplication, no float thresholds. */
  def runPartitionQuarantine(spark: SparkSession, conf: PipelineConfig,
      ingestionDate: String, quarantineBase: String,
      maxQuarantineRate: Double = 0.10): DqReport = {
    require(validDate(ingestionDate),
      "ingestion_date must be YYYY-MM-DD, e.g. 2025-01-02")
    // heal any interrupted zone flip BEFORE reading or writing the date
    recoverPending(spark, conf, ingestionDate)
    val rawPath = RawEvents.partitionPath(conf.rawBase, ingestionDate)
    val curatedPath = RawEvents.partitionPath(conf.curatedBase, ingestionDate)
    val metricsPath =
      RawEvents.partitionPath(conf.metricsBase, ingestionDate) +
        "data_quality.json"
    if (!CuratedWriter.upstreamExists(spark, rawPath))
      throw new MissingUpstreamException(rawPath)

    // ONE materialized tagging pass feeds both staged zone writes
    // (otherwise each re-parses the raw NDJSON and re-runs the dedup-rank
    // window; guide §1.2)
    val tagged = graft.dq.Dq.tagQuarantine(RawEvents.curate(
      RawEvents.readPartition(spark, conf.rawBase, ingestionDate)))
      .localCheckpoint()
    // Every counter but total_rows counts only rows the split
    // quarantines: a valid row is clean and the first clean copy of its
    // id, so its `_pos` is 1. So the counters and the reason tally are
    // observed on the quarantined rows alone, before their tag columns
    // drop (dup_extra_rows counts `_pos` > 1: no distinct aggregate),
    // and the valid write observes only its row count.
    val faults = Observation()
    val clean = Observation()
    val (valid, _) = graft.dq.Dq.splitTagged(tagged)
    val quarantined = tagged.where(col("quarantine_reason").isNotNull)
      .observe(faults, graft.dq.Dq.taggedDupExtraRows,
        DqCounters.plainColumns() :+
          Tally(col("quarantine_reason"), "reasons"): _*)
      .drop("_rn", "_pos")
    // both zones move in ONE transaction (staged two-phase flip): no
    // crash leaves admitted rows in curated while quarantine still
    // carries the pre-run set, or vice versa
    val flips = stage(spark, ingestionDate, Seq(quarantined -> quarantineBase,
      valid.observe(clean, count(lit(1)).as("n")) -> conf.curatedBase))
    val m = faults.get
    val q = DqCounters.fromMetrics(m, m("dup_extra_rows").asInstanceOf[Long])
    val counters =
      q.copy(totalRows = q.totalRows + clean.get("n").asInstanceOf[Long])
    val reasons = Tally.of(m, "reasons").toSeq.sortBy(_._1)
    val nQuarantined = reasons.map(_._2).sum
    val warnings = reasons.map { case (reason, n) =>
      s"quarantined $n rows: $reason"
    }
    // rate gate in integers: q / total > rate  ⇔  q * scale > total * (rate*scale)
    val scale = 1000000L
    val failures =
      if (counters.totalRows > 0 &&
          nQuarantined * scale > counters.totalRows *
            (maxQuarantineRate * scale).toLong)
        Seq(f"quarantine rate ${nQuarantined}/${counters.totalRows} " +
          f"exceeds max $maxQuarantineRate%.2f — feed-level failure, " +
          "not row noise")
      else Nil
    val report = DqReport(ingestionDate, rawPath, curatedPath, counters,
      failures, warnings)
    reportAndGate(spark, conf, report, metricsPath, flips)
    commit(spark, conf, ingestionDate, flips)
    report
  }

  /** Re-admission replay of a quarantined partition under the CURRENT
    * gate: rows quarantined under yesterday's rules re-run through
    * [[graft.dq.Dq.splitQuarantine]] with today's `allowed` domain —
    * the operational sequel to [[runPartitionQuarantine]] (a rule was
    * relaxed, a producer fixed, and the diverted rows deserve a second
    * look). Rows whose `quarantine_reason` is outside `reasons`
    * (empty = all) are not re-examined and stay quarantined as-is.
    *
    * Now-clean rows are admitted into curated via the same idempotent
    * purge+rewrite a run uses; still-bad rows stay quarantined with
    * their reasons REFRESHED by the replay. A re-split row whose
    * event_id already lives in curated stays quarantined as
    * `dup_event_id` — within the replay batch splitQuarantine's own
    * ranking dedups, but admission must also never double a key the
    * ORIGINAL run already admitted, and the quarantined copy of a dup
    * is exactly such a key. The replay is audited as its OWN run
    * (report-precedes-write ordering, failures = none — re-admission
    * diagnoses, it never gates) and its JSON report lands beside the
    * original as `data_quality_readmission.json`. Each zone's new
    * content unions rows read from the very directory its flip
    * replaces; both staged writes finish before either flip, so they
    * recompute from lineage with no materialization in between.
    * Returns the replay's report. */
  def readmitQuarantine(spark: SparkSession, conf: PipelineConfig,
      ingestionDate: String, quarantineBase: String,
      reasons: Seq[String] = Nil,
      allowed: Seq[String] = graft.schema.EventSchema.allowedEventTypes)
      : DqReport = {
    require(validDate(ingestionDate),
      "ingestion_date must be YYYY-MM-DD, e.g. 2025-01-02")
    // heal any interrupted zone flip BEFORE reading or writing the date
    recoverPending(spark, conf, ingestionDate)
    val qPath = RawEvents.partitionPath(quarantineBase, ingestionDate)
    val curatedPath = RawEvents.partitionPath(conf.curatedBase, ingestionDate)
    if (!CuratedWriter.upstreamExists(spark, qPath))
      throw new MissingUpstreamException(qPath)
    val q = spark.read.parquet(qPath)
    val inScope =
      if (reasons.isEmpty) lit(true)
      else col("quarantine_reason").isin(reasons: _*)
    val cand = q.where(inScope).drop("quarantine_reason")
    val keep = q.where(!inScope)
    // one materialized tagging pass — valid0 feeds TWO joins (admit,
    // collide) and requar the quarantine rewrite; untagged, each re-ran
    // the dedup-rank window (guide §1.2). The replay's counters are
    // observed on that pass: counters over the tagged frame == counters
    // over cand (same rows; the tag columns don't enter any counter).
    val batch = Observation()
    val tagged = graft.dq.Dq.tagQuarantine(cand, allowed)
      .observe(batch, graft.dq.Dq.taggedDupExtraRows,
        DqCounters.plainColumns(): _*)
      .localCheckpoint()
    val (valid0, requar) = graft.dq.Dq.splitTagged(tagged)
    val curated =
      if (CuratedWriter.upstreamExists(spark, curatedPath))
        spark.read.parquet(curatedPath)
      else valid0.where(lit(false))
    val existingKeys = curated.select("event_id")
    val admitted = Observation()
    val admit = valid0.join(existingKeys, Seq("event_id"), "left_anti")
      .observe(admitted, count(lit(1)).as("n"))
    val collide = valid0.join(existingKeys, Seq("event_id"), "left_semi")
      .withColumn("quarantine_reason", lit("dup_event_id"))
    val kept = Observation()
    val newQuar = keep.unionByName(requar).unionByName(collide)
      .observe(kept, Tally(col("quarantine_reason"), "reasons"))
    val newCurated = curated.unionByName(admit)
    // both zones move in ONE transaction (staged two-phase flip). Within
    // the flip, curated renames first: even a crash INSIDE the ~ms flip
    // window leaves admitted rows present in at least one zone —
    // duplicated at worst, which the next replay's curated-collision
    // anti-join re-tags as dup_event_id — never lost (the old
    // quarantine-first write order purged them before curated had them).
    val flips = stage(spark, ingestionDate,
      Seq(newCurated -> conf.curatedBase, newQuar -> quarantineBase))
    // the replay's own report: counters over the re-examined batch (the
    // honest diagnosis of what quarantine still holds), admitted/kept
    // tallies as warnings, no failures — then audit, then the flip
    val m = batch.get
    val counters =
      DqCounters.fromMetrics(m, m("dup_extra_rows").asInstanceOf[Long])
    val nAdmit = admitted.get("n").asInstanceOf[Long]
    val warnings = s"readmitted $nAdmit rows" +:
      Tally.of(kept.get, "reasons").toSeq.sortBy(_._1)
        .map { case (r, n) => s"kept $n rows: $r" }
    val report = DqReport(ingestionDate, qPath, curatedPath, counters,
      Nil, warnings)
    reportAndGate(spark, conf, report,
      RawEvents.partitionPath(conf.metricsBase, ingestionDate) +
        "data_quality_readmission.json", flips)
    commit(spark, conf, ingestionDate, flips)
    report
  }

  // ---- multi-zone atomic publish ---------------------------------------
  //
  // runPartitionQuarantine and readmitQuarantine each publish TWO zones
  // (curated + quarantine) whose contents must move together — written
  // as two independent Spark jobs, a crash in between left an admitted
  // partition in one zone and stale rows in the other for a full re-run
  // window; runPartition publishes its one zone the same way, so its
  // gate can refuse a write it has already observed. The staged
  // two-phase flip closes the seam to a metadata blink: every zone's
  // new content lands in a HIDDEN staging dir
  // (`<base>/.staged/ingestion_date=<d>` — dot-dirs are invisible to
  // Spark's partition discovery, so readers never see half-written
  // staging), then ONE atomically-published pending record
  // (`_txn_pending`, temp+rename beside the DQ report) becomes the
  // commit point, then the flips replay: purge live, rename staged. A
  // crash before the record leaves the live zones byte-untouched (the
  // txn never happened; orphaned staging is purged by the next
  // attempt); a crash after it is healed by [[recoverPending]] — run
  // automatically at the next pipeline touch of the date — which
  // re-drives only the flips that have not happened yet (a missing
  // staged dir means that flip already completed). The residual
  // exposure is two directory renames (~ms), detectable via the
  // pending record, instead of two multi-second write jobs with no
  // record at all; readers needing full snapshot isolation use
  // [[graft.io.Snapshots]], which exists for exactly that.

  private def txnPendingPath(conf: PipelineConfig, d: String): String =
    RawEvents.partitionPath(conf.metricsBase, d) + "_txn_pending"

  private def stagedPath(base: String, d: String): String =
    s"${base.stripSuffix("/")}/.staged/ingestion_date=$d"

  private def hadoopFs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write every zone's new content into its hidden staged dir (an
    * orphan from an earlier attempt is purged first). `zones` =
    * (content, liveBase) pairs. Returns the (staged, live) flips for
    * [[commit]]. */
  private def stage(spark: SparkSession, d: String,
      zones: Seq[(DataFrame, String)]): Seq[(String, String)] =
    zones.map { case (df, base) =>
      val staged = stagedPath(base, d)
      CuratedWriter.purge(spark, staged)
      df.drop("ingestion_date").write.mode("overwrite").parquet(staged)
      staged -> RawEvents.partitionPath(base, d).stripSuffix("/")
    }

  /** Publish the pending record naming every flip (the atomic commit
    * point), flip, clear the record. */
  private def commit(spark: SparkSession, conf: PipelineConfig,
      d: String, flips: Seq[(String, String)]): Unit = {
    val rec = txnPendingPath(conf, d)
    val f = hadoopFs(spark, rec)
    val tmp = new org.apache.hadoop.fs.Path(
      rec + "." + java.util.UUID.randomUUID + ".tmp")
    f.mkdirs(tmp.getParent)
    val out = f.create(tmp, true)
    try out.write(flips.map { case (s, t) => s"$s\t$t" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, new org.apache.hadoop.fs.Path(rec))) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"pipeline txn: could not publish pending record $rec " +
          "(concurrent run for the same date?)")
    }
    replayPending(spark, conf, d)
  }

  /** Complete any interrupted zone flip for `d`. Returns true when a
    * pending record was found and replayed. Idempotent: a flip whose
    * staged dir is gone already completed; one whose live dir still
    * holds old content is purged and renamed now. Called automatically
    * at the start of every pipeline operation on the date. */
  def recoverPending(spark: SparkSession, conf: PipelineConfig,
      d: String): Boolean = {
    val rec = txnPendingPath(conf, d)
    val f = hadoopFs(spark, rec)
    val p = new org.apache.hadoop.fs.Path(rec)
    if (!f.exists(p)) return false
    replayPending(spark, conf, d)
    true
  }

  private def replayPending(spark: SparkSession, conf: PipelineConfig,
      d: String): Unit = {
    val rec = txnPendingPath(conf, d)
    val f = hadoopFs(spark, rec)
    val p = new org.apache.hadoop.fs.Path(rec)
    val in = f.open(p)
    val content =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var r = in.read(chunk)
        while (r > 0) { buf.write(chunk, 0, r); r = in.read(chunk) }
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
    content.split('\n').filter(_.contains('\t')).foreach { line =>
      val Array(src, dst) = line.split('\t')
      val sp = new org.apache.hadoop.fs.Path(src)
      val dp = new org.apache.hadoop.fs.Path(dst)
      if (f.exists(sp)) { // not yet flipped
        if (f.exists(dp)) f.delete(dp, true)
        f.mkdirs(dp.getParent)
        require(f.rename(sp, dp),
          s"pipeline txn: flip $src -> $dst failed")
      }
    }
    f.delete(p, false)
    ()
  }

  def validDate(d: String): Boolean =
    d.matches("\\d{4}-\\d{2}-\\d{2}") &&
      scala.util.Try(LocalDate.parse(d)).isSuccess

  /** Backfill driver (ref: scripts/run_backfill.py:62-87 +
    * docs/design.md:139-149): strictly sequential, one date per run,
    * stop on first failure. In-JVM, so the reference's 20 s poll loop
    * collapses to a plain fold. */
  def backfill(spark: SparkSession, conf: PipelineConfig,
      start: String, end: String): Seq[DqReport] =
    dateRange(start, end)
      .map(d => runPartition(spark, conf, d)) // throws on first failure

  /** Transient-by-default failure classes for [[backfillWithRetry]]:
    * a missing upstream partition (late-landing feed — the reference's
    * sensor wait, `docs/design.md:129-134`) and a lost snapshot
    * version-slot race (another writer holds the audit/store slot —
    * the same class the reference driver retries as
    * `ConcurrentRunsExceededException`, `scripts/run_backfill.py:73-83`).
    * A DQ gate failure is NOT transient: re-running over the same raw
    * bytes recomputes the same counters. */
  def defaultTransient(e: Throwable): Boolean = e match {
    case _: MissingUpstreamException => true
    case _: graft.io.Snapshots.ConcurrentCommitException => true
    case _ => false
  }

  /** Backfill with bounded retry-with-backoff per date (the reference
    * driver's retry loop, `scripts/run_backfill.py:73-83`, generalized):
    * a TRANSIENT failure (per `isTransient`) retries with exponential
    * backoff until the date's WALL-CLOCK budget runs out — time-bounded,
    * not count-bounded, because each rival of a commit convoy holds its
    * slot for a full Spark job (the round-10 DqAudit lesson). Every
    * failed attempt is appended to the audit table (best-effort) as a
    * FAIL row whose failure text carries attempt number and cause, so
    * the history shows the retry trail, not just the final outcome;
    * [[DqAudit.latestPerDate]] still surfaces the eventual PASS. A
    * non-transient failure, or budget exhaustion, stops the wave (the
    * sequential backfill contract — later dates never start). */
  def backfillWithRetry(spark: SparkSession, conf: PipelineConfig,
      start: String, end: String,
      retryBudgetMs: Long = 120000L,
      isTransient: Throwable => Boolean = defaultTransient,
      initialBackoffMs: Long = 50L): Seq[DqReport] = {
    require(retryBudgetMs >= 0, "retryBudgetMs must be >= 0")
    dateRange(start, end).map { d =>
      val deadline = System.nanoTime() + retryBudgetMs * 1000000L
      var backoff = initialBackoffMs
      var attempt = 1
      var out: Option[DqReport] = None
      while (out.isEmpty) {
        try out = Some(runPartition(spark, conf, d))
        catch {
          case scala.util.control.NonFatal(e)
              if isTransient(e) && System.nanoTime() < deadline =>
            // runPartition audits only runs that got as far as a
            // report; a pre-report transient (missing upstream, slot
            // race) would otherwise leave no trace of the attempt
            auditBestEffort(spark, conf, DqReport(d,
              RawEvents.partitionPath(conf.rawBase, d),
              RawEvents.partitionPath(conf.curatedBase, d),
              graft.dq.DqCounters(0, 0, 0, 0, 0, 0),
              failures = Seq(s"attempt $attempt (transient, will retry): " +
                s"${e.getClass.getSimpleName}: ${e.getMessage}")))
            Thread.sleep(backoff)
            backoff = math.min(backoff * 2, 5000L)
            attempt += 1
        }
      }
      out.get
    }
  }

  /** Opt-in bounded-parallel backfill. Sequential stays the default
    * ([[backfill]] above = the reference's driver); this variant runs
    * dates in WINDOWS of `maxParallel` concurrent partitions — Spark's
    * scheduler interleaves the per-date jobs, and per-date isolation is
    * free because every date owns disjoint raw/curated/metrics paths.
    *
    * Failure contract, precisely: dates in a LATER window than a
    * failure never start (the window barrier is the bounded lookahead);
    * dates in the SAME window may complete — their writes are the same
    * idempotent purge+write a re-run would redo anyway. The exception
    * rethrown is the EARLIEST failing date's (deterministic, not
    * whichever thread lost the race), matching what a sequential run
    * would have raised. Reports come back in date order. */
  def backfill(spark: SparkSession, conf: PipelineConfig,
      start: String, end: String, maxParallel: Int): Seq[DqReport] = {
    require(maxParallel >= 1, "maxParallel must be >= 1")
    if (maxParallel == 1) return backfill(spark, conf, start, end)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxParallel)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      dateRange(start, end).grouped(maxParallel)
        .foldLeft(Vector.empty[DqReport]) { (acc, window) =>
          val fs = window.map(d => scala.concurrent.Future(
            scala.util.Try(runPartition(spark, conf, d))))
          val done = fs.map(f => scala.concurrent.Await
            .result(f, scala.concurrent.duration.Duration.Inf))
          done.foreach { // window order = date order: earliest throw wins
            case scala.util.Failure(e) => throw e
            case _ => ()
          }
          acc ++ done.map(_.get)
        }
    } finally pool.shutdown()
  }

  /** Inclusive date range, validated fail-fast (C1). */
  def dateRange(start: String, end: String): Seq[String] = {
    require(validDate(start) && validDate(end), "dates must be YYYY-MM-DD")
    val s = LocalDate.parse(start)
    val e = LocalDate.parse(end)
    require(!e.isBefore(s), "end date before start date")
    Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e))
      .map(_.toString).toSeq
  }
}
