package graft.pipeline

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.RawEvents

/** The multi-zone atomic publish (staged two-phase flip) under crash
  * interleavings: curated and quarantine must never be observable —
  * after recovery — with one zone advanced and the other stale. Crash
  * states are PLANTED (staged dirs / pending record / pre-flipped
  * zones laid out exactly as an interrupted publish leaves them) and
  * healed through the public [[Pipeline.recoverPending]] entry the
  * pipeline itself calls first on every touch of the date. */
class PipelineTxnSpec extends SparkSpec {

  private val date = "2025-03-05"

  private def writeRaw(base: String, rows: Seq[String]): Unit = {
    val dir = new File(s"$base/ingestion_date=$date")
    dir.mkdirs()
    val f = new File(dir, "events.json")
    java.nio.file.Files.write(f.toPath,
      rows.mkString("\n").getBytes("UTF-8"))
    ()
  }

  private def evt(id: String, typ: String = "login"): String =
    s"""{"event_id":"$id","user_id":"u1","event_type":"$typ",""" +
      s""""event_ts":"2025-03-05T10:00:00Z","amount":1.5}"""

  private def conf(root: String): PipelineConfig = PipelineConfig(
    rawBase = s"$root/raw", curatedBase = s"$root/curated",
    metricsBase = s"$root/metrics")

  private def idsIn(path: String): Set[String] = {
    val s = spark
    import s.implicits._
    if (!new File(path).isDirectory) Set.empty
    else spark.read.parquet(path).select("event_id").as[String]
      .collect().toSet
  }

  private def curatedIds(c: PipelineConfig): Set[String] =
    idsIn(RawEvents.partitionPath(c.curatedBase, date).stripSuffix("/"))
  private def quarIds(root: String): Set[String] =
    idsIn(RawEvents.partitionPath(s"$root/quarantine", date)
      .stripSuffix("/"))

  test("happy path: quarantine run publishes both zones, leaves no " +
      "pending record, staging dirs are invisible to zone readers") {
    val root = tmpDir("txn_happy")
    val c = conf(root)
    writeRaw(c.rawBase, Seq(evt("a1", "login"), evt("a2", "purchase"), evt("bad", "bogus")))
    Pipeline.runPartitionQuarantine(spark, c, date, s"$root/quarantine",
      maxQuarantineRate = 0.9)
    assert(curatedIds(c) == Set("a1", "a2"))
    assert(quarIds(root) == Set("bad"))
    assert(!new File(
      s"${c.metricsBase}/ingestion_date=$date/_txn_pending").exists(),
      "a completed publish leaves no pending record")
    // a base-level read never sees the .staged dir
    assert(spark.read.parquet(c.curatedBase).count() == 2)
  }

  test("crash AFTER the commit point, before any flip: recovery flips " +
      "both zones; neither is observable stale afterwards") {
    val root = tmpDir("txn_postcommit")
    val c = conf(root)
    writeRaw(c.rawBase, Seq(evt("a1"), evt("bad", "bogus")))
    Pipeline.runPartitionQuarantine(spark, c, date, s"$root/quarantine",
      maxQuarantineRate = 0.9)
    val s = spark
    import s.implicits._
    // plant the interrupted NEXT publish: new content staged for both
    // zones, pending record published, live dirs still old
    val stagedCur = s"${c.curatedBase}/.staged/ingestion_date=$date"
    val stagedQur = s"$root/quarantine/.staged/ingestion_date=$date"
    Seq(("b1", "u1")).toDF("event_id", "user_id")
      .write.mode("overwrite").parquet(stagedCur)
    Seq(("bad2", "u1")).toDF("event_id", "user_id")
      .write.mode("overwrite").parquet(stagedQur)
    val liveCur = RawEvents.partitionPath(c.curatedBase, date)
      .stripSuffix("/")
    val liveQur = RawEvents.partitionPath(s"$root/quarantine", date)
      .stripSuffix("/")
    val rec = new File(s"${c.metricsBase}/ingestion_date=$date/_txn_pending")
    java.nio.file.Files.write(rec.toPath,
      s"$stagedCur\t$liveCur\n$stagedQur\t$liveQur".getBytes("UTF-8"))
    // recovery heals both flips
    assert(Pipeline.recoverPending(spark, c, date))
    assert(curatedIds(c) == Set("b1"))
    assert(quarIds(root) == Set("bad2"),
      "after recovery, curated advanced ⇒ quarantine advanced")
    assert(!rec.exists())
    assert(!new File(stagedCur).exists() && !new File(stagedQur).exists())
  }

  test("crash MID-FLIP (curated flipped, quarantine not): recovery " +
      "completes only the missing flip") {
    val root = tmpDir("txn_midflip")
    val c = conf(root)
    writeRaw(c.rawBase, Seq(evt("a1"), evt("bad", "bogus")))
    Pipeline.runPartitionQuarantine(spark, c, date, s"$root/quarantine",
      maxQuarantineRate = 0.9)
    val s = spark
    import s.implicits._
    val stagedQur = s"$root/quarantine/.staged/ingestion_date=$date"
    Seq(("bad2", "u1")).toDF("event_id", "user_id")
      .write.mode("overwrite").parquet(stagedQur)
    val liveCur = RawEvents.partitionPath(c.curatedBase, date)
      .stripSuffix("/")
    val liveQur = RawEvents.partitionPath(s"$root/quarantine", date)
      .stripSuffix("/")
    // curated's flip ALREADY happened (its staged dir is gone, live
    // holds the new content); quarantine's did not
    new File(liveCur).listFiles().foreach(_.delete())
    Seq(("b1", "u1")).toDF("event_id", "user_id")
      .write.mode("overwrite").parquet(liveCur)
    val stagedCurGone = s"${c.curatedBase}/.staged/ingestion_date=$date"
    val rec = new File(s"${c.metricsBase}/ingestion_date=$date/_txn_pending")
    java.nio.file.Files.write(rec.toPath,
      s"$stagedCurGone\t$liveCur\n$stagedQur\t$liveQur".getBytes("UTF-8"))
    assert(Pipeline.recoverPending(spark, c, date))
    assert(curatedIds(c) == Set("b1"),
      "the already-flipped zone is not re-flipped (no staged dir)")
    assert(quarIds(root) == Set("bad2"), "the missing flip completes")
    assert(!rec.exists())
  }

  test("crash BEFORE the commit point: live zones byte-untouched, no " +
      "record to recover, the next run proceeds over orphaned staging") {
    val root = tmpDir("txn_precommit")
    val c = conf(root)
    writeRaw(c.rawBase, Seq(evt("a1"), evt("bad", "bogus")))
    Pipeline.runPartitionQuarantine(spark, c, date, s"$root/quarantine",
      maxQuarantineRate = 0.9)
    val before = (curatedIds(c), quarIds(root))
    val s = spark
    import s.implicits._
    // orphaned staging from a run that died before publishing its record
    Seq(("zz", "u1")).toDF("event_id", "user_id").write.mode("overwrite")
      .parquet(s"${c.curatedBase}/.staged/ingestion_date=$date")
    assert(!Pipeline.recoverPending(spark, c, date),
      "no record ⇒ nothing to recover")
    assert((curatedIds(c), quarIds(root)) == before,
      "an uncommitted txn never changes a live zone")
    // the next real run purges the orphan and publishes normally
    Pipeline.runPartitionQuarantine(spark, c, date, s"$root/quarantine",
      maxQuarantineRate = 0.9)
    assert(curatedIds(c) == Set("a1") && quarIds(root) == Set("bad"))
  }

  private def liveBytes(dir: String): Map[String, Seq[Byte]] =
    new File(dir).listFiles().map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  test("runPartition: a crash AFTER its commit point is healed by the " +
      "next runPartition of the date, even one its gate refuses") {
    val root = tmpDir("txn_run_postcommit")
    val c = conf(root)
    writeRaw(c.rawBase, Seq(evt("a1"), evt("a2")))
    Pipeline.runPartition(spark, c, date)
    val s = spark
    import s.implicits._
    // plant the interrupted NEXT publish: staged content and the pending
    // record naming its flip; live still old
    val staged = s"${c.curatedBase}/.staged/ingestion_date=$date"
    Seq(("b1", "u1")).toDF("event_id", "user_id")
      .write.mode("overwrite").parquet(staged)
    val live = RawEvents.partitionPath(c.curatedBase, date).stripSuffix("/")
    val rec = new File(s"${c.metricsBase}/ingestion_date=$date/_txn_pending")
    java.nio.file.Files.write(rec.toPath, s"$staged\t$live".getBytes("UTF-8"))
    // the next run's batch fails its gate: only the heal may publish
    writeRaw(c.rawBase, Seq(evt("a1"), evt("x1", "bogus")))
    intercept[DqFailedException](Pipeline.runPartition(spark, c, date))
    assert(curatedIds(c) == Set("b1"), "the committed flip completes")
    assert(!rec.exists() && !new File(staged).exists())
  }

  test("runPartition: a crash BEFORE its commit point leaves the live " +
      "curated partition byte-untouched") {
    val root = tmpDir("txn_run_precommit")
    val c = conf(root)
    writeRaw(c.rawBase, Seq(evt("a1"), evt("a2")))
    Pipeline.runPartition(spark, c, date)
    val live = RawEvents.partitionPath(c.curatedBase, date).stripSuffix("/")
    val before = liveBytes(live)
    val s = spark
    import s.implicits._
    // a run that died mid-stage: staged content, no record
    Seq(("zz", "u1")).toDF("event_id", "user_id").write.mode("overwrite")
      .parquet(s"${c.curatedBase}/.staged/ingestion_date=$date")
    assert(!Pipeline.recoverPending(spark, c, date),
      "no record ⇒ nothing to recover")
    assert(liveBytes(live) == before)
    // the next attempt is refused by its gate: still nothing published,
    // and the orphan is gone
    writeRaw(c.rawBase, Seq(evt("a1"), evt("x1", "bogus")))
    intercept[DqFailedException](Pipeline.runPartition(spark, c, date))
    assert(liveBytes(live) == before)
    assert(!new File(s"${c.curatedBase}/.staged/ingestion_date=$date").exists())
  }

  test("runPartition: a stale staged dir from an earlier attempt is " +
      "purged before the new write") {
    val root = tmpDir("txn_run_stale")
    val c = conf(root)
    val s = spark
    import s.implicits._
    val staged = s"${c.curatedBase}/.staged/ingestion_date=$date"
    Seq(("zz", "u1")).toDF("event_id", "user_id").write.mode("overwrite")
      .parquet(staged)
    val staleFiles = new File(staged).list().filter(_.startsWith("part-")).toSet
    writeRaw(c.rawBase, Seq(evt("a1"), evt("a2")))
    Pipeline.runPartition(spark, c, date)
    assert(curatedIds(c) == Set("a1", "a2"))
    val live = RawEvents.partitionPath(c.curatedBase, date).stripSuffix("/")
    assert((new File(live).list().toSet & staleFiles).isEmpty,
      "no file of the stale attempt reaches the live partition")
    assert(!new File(staged).exists())
  }

  test("readmitQuarantine publishes through the same transaction: a " +
      "planted torn state heals before the replay reads either zone") {
    val root = tmpDir("txn_readmit")
    val c = conf(root)
    // batch with one row quarantined for a then-invalid type
    writeRaw(c.rawBase, Seq(evt("a1"), evt("n1", "newtype")))
    Pipeline.runPartitionQuarantine(spark, c, date, s"$root/quarantine",
      maxQuarantineRate = 0.9)
    assert(quarIds(root) == Set("n1"))
    // rule relaxed: newtype is now allowed — replay admits n1
    val rep = Pipeline.readmitQuarantine(spark, c, date,
      s"$root/quarantine",
      allowed = graft.schema.EventSchema.allowedEventTypes :+ "newtype")
    assert(rep.warnings.exists(_.startsWith("readmitted 1 ")))
    assert(curatedIds(c) == Set("a1", "n1"))
    assert(quarIds(root).isEmpty ||
      !new File(RawEvents.partitionPath(s"$root/quarantine", date)
        .stripSuffix("/")).exists())
    assert(!new File(
      s"${c.metricsBase}/ingestion_date=$date/_txn_pending").exists())
  }
}
