package graft.dq

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.schema.{EventSchema, RawEvent}

/** Property tests over the DQ gate (SURVEY §5.2.2): generated event
  * batches with parameterized fault rates must drive the gate exactly —
  * clean data passes, each injected fault class fires its own check, the
  * counters equal the injected fault counts, and the report round-trips.
  * (Raw ScalaCheck Gen with fixed seeds — the scalatest bridge artifact
  * isn't in the offline dependency cache.)
  */
class DqPropertySpec extends SparkSpec {

  /** Deterministic sampling loop standing in for forAll. */
  private def forAll[A](g: Gen[A], trials: Int = 10)(f: A => Unit): Unit =
    (1 to trials).foreach { i =>
      f(g.pureApply(Gen.Parameters.default.withSize(40), Seed(i.toLong)))
    }

  private def mkDf(rows: Seq[RawEvent]) = {
    val s = spark
    import s.implicits._
    s.createDataset(rows).toDF()
  }

  private val cleanEvent: Gen[RawEvent] = for {
    id <- Gen.uuid
    user <- Gen.choose(1, 500)
    tpe <- Gen.oneOf(EventSchema.allowedEventTypes)
    sec <- Gen.choose(0, 86399)
  } yield RawEvent(id.toString, Some(user.toString), tpe,
    java.time.Instant.ofEpochSecond(1735689600L + sec).toString,
    if (tpe == "purchase") Some(42.0) else None)

  test("clean batches always pass the gate, counters all zero") {
    forAll(Gen.nonEmptyListOf(cleanEvent)) { rows =>
      val c = DqCounters.compute(mkDf(rows))
      assert(c.totalRows == rows.size)
      assert(c.nullEventId == 0 && c.nullEventType == 0 &&
        c.nullUserId == 0 && c.invalidEventType == 0 && c.dupExtraRows == 0)
      assert(DqCheck.all.flatMap(_.evaluate(c)).isEmpty)
    }
  }

  test("injected fault counts are recovered exactly by the counters") {
    val faults = for {
      base <- Gen.listOfN(50, cleanEvent)
      nNullUser <- Gen.choose(0, 10)
      nNullId <- Gen.choose(0, 5)
      nInvalid <- Gen.choose(0, 5)
      nDupes <- Gen.choose(0, 5)
    } yield (base, nNullUser, nNullId, nInvalid, nDupes)

    forAll(faults) { case (base, nNullUser, nNullId, nInvalid, nDupes) =>
      val keptTail = base.drop(40) // 10 clean rows, present once each
      val poisoned =
        base.take(nNullUser).map(_.copy(user_id = None)) ++
        base.slice(10, 10 + nNullId).map(_.copy(event_id = null)) ++
        base.slice(20, 20 + nInvalid).map(e =>
          e.copy(event_id = e.event_id + "-inv", event_type = "bogus")) ++
        keptTail ++
        keptTail.take(nDupes) // re-insert rows already present = dups
      val c = DqCounters.compute(mkDf(poisoned))
      assert(c.nullUserId == nNullUser)
      assert(c.nullEventId == (if (nNullId > 0) nNullId else 0))
      assert(c.invalidEventType == nInvalid)
      // dup extras: nDupes re-inserted ids + one extra if any null ids
      // collapse (nulls form one group) — nulls here are distinct rows of
      // null id: group of size nNullId contributes nNullId-1
      val nullExtras = if (nNullId > 1) nNullId - 1 else 0
      assert(c.dupExtraRows == nDupes + nullExtras,
        s"dupExtra=${c.dupExtraRows} expected ${nDupes + nullExtras}")
    }
  }

  test("gate fires iff a threshold is crossed (rates just under pass)") {
    // 100 clean rows, k null-user rows: rate k/(100+k); threshold 3%
    for (k <- Seq(0, 1, 2, 3, 4, 10)) {
      val base = Gen.listOfN(100, cleanEvent)
        .pureApply(Gen.Parameters.default, Seed(99L))
      val rows = base ++ base.take(k).map(e =>
        e.copy(event_id = e.event_id + s"-nu$k", user_id = None))
      val c = DqCounters.compute(mkDf(rows))
      val failures = DqCheck.all.flatMap(_.evaluate(c))
      val rate = k.toDouble / (100 + k)
      if (rate > 0.03) assert(failures.exists(_.contains("null rate")),
        s"k=$k expected failure")
      else assert(!failures.exists(_.contains("null rate")),
        s"k=$k expected pass")
    }
  }

  test("pipeline reports carry exactly the counters DqCounters.compute " +
      "finds in the same raw partition") {
    import graft.pipeline.{DqFailedException, Pipeline, PipelineConfig}
    val batches = for {
      base <- Gen.listOfN(40, cleanEvent)
      nNullId <- Gen.choose(0, 4)
      nNullType <- Gen.choose(0, 4)
      nInvalid <- Gen.choose(0, 3)
      nDupes <- Gen.choose(0, 4)
    } yield base.take(nNullId).map(_.copy(event_id = null)) ++
      base.slice(10, 10 + nNullType).map(_.copy(event_type = null)) ++
      base.slice(20, 20 + nInvalid).map(_.copy(event_type = "bogus")) ++
      base.drop(30) ++ base.drop(30).take(nDupes)
    val traps = Seq(
      // null event_ids form ONE group; a null type is not invalid
      cleanEvent.pureApply(Gen.Parameters.default, Seed(7L)) +:
        Seq.fill(3)(cleanEvent.pureApply(Gen.Parameters.default, Seed(8L))
          .copy(event_id = null, event_type = null)),
      Nil) // an empty batch
    val inputs = (1 to 4).map(i => batches.pureApply(
      Gen.Parameters.default, Seed(i.toLong))) ++ traps
    inputs.zipWithIndex.foreach { case (rows, i) =>
      val root = tmpDir("dq-parity")
      val conf = PipelineConfig(s"$root/raw", s"$root/curated",
        s"$root/metrics")
      val date = f"2025-01-${i + 1}%02d"
      graft.gen.EventsGen.writeNdjson(rows, conf.rawBase, date)
      val expected = DqCounters.compute(graft.io.RawEvents.curate(
        graft.io.RawEvents.readPartition(spark, conf.rawBase, date)))
      def counters(run: => DqReport): DqCounters =
        try run.counters
        catch { case e: DqFailedException => e.report.counters }
      assert(counters(Pipeline.runPartition(spark, conf, date)) == expected,
        s"runPartition, batch $i")
      assert(counters(Pipeline.runPartitionQuarantine(spark, conf, date,
        s"$root/quarantine", maxQuarantineRate = 1.0)) == expected,
        s"runPartitionQuarantine, batch $i")
    }
    // the traps hold what they claim
    val trap = DqCounters.compute(mkDf(traps.head))
    assert(trap.nullEventId == 3 && trap.dupExtraRows == 2 &&
      trap.nullEventType == 3 && trap.invalidEventType == 0)
  }

  test("report JSON round-trips its counters (parse with Spark JSON)") {
    forAll(Gen.nonEmptyListOf(cleanEvent)) { rows =>
      val c = DqCounters.compute(mkDf(rows))
      val report = DqReport("2025-01-01", "raw/", "cur/", c, Nil)
      val s = spark
      import s.implicits._
      val parsed = s.read.json(Seq(report.toJson.replace("\n", " ")).toDS())
        .selectExpr("total_rows", "status").head()
      assert(parsed.getLong(0) == c.totalRows)
      assert(parsed.getString(1) == "PASS")
    }
  }
}
