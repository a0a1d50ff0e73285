package graft.io

import graft.SparkSpec
import graft.io.Snapshots.{FileEntry, StatRange}

/** Pins the bounded-driver manifest planning (verdict r6 #4): pruning
  * runs INSIDE the manifest plan, so over a synthetic 100k-file
  * manifest the driver materializes only the handful of surviving
  * entries — and the plan-side DECIMAL(38,18) comparison matches the
  * old driver-side BigDecimal logic exactly, including beyond-2^53
  * longs where double arithmetic would collapse adjacent values.
  */
class ManifestScaleSpec extends SparkSpec {

  /** Synthetic manifest: file i covers cents [i·100, i·100+99]; every
    * 1000th file has all-null stats (must be conservatively kept);
    * `day` carries a lexicographic string range. No data files exist —
    * these tests exercise PLANNING only. */
  private def mkTable(n: Int, extras: Seq[FileEntry] = Nil,
      name: Int => String = i => s"f$i"): String = {
    val t = tmpDir("manifest-scale")
    import spark.implicits._
    val entries = (0 until n).map { i =>
      val stats =
        if (i % 1000 == 999) Map("cents" -> StatRange("long", null, null))
        else Map(
          "cents" -> StatRange("long",
            (i * 100L).toString, (i * 100L + 99).toString),
          "day" -> StatRange("string",
            f"2026-01-${i % 28 + 1}%02d", f"2026-01-${i % 28 + 1}%02d"))
      // recorded sizes: a pinned scan plans these never-written files
      // without statting them
      FileEntry(s"data/c1/p=x/${name(i)}.parquet", "x", 10L, stats,
        bytes = Some(1000L), mtime = Some(0L))
    } ++ extras
    entries.toDS().coalesce(1).write.parquet(s"$t/_manifests/v1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_CURRENT"), "v1")
    t
  }

  test("100k-file manifest: a selective range materializes only the " +
      "surviving entries on the driver") {
    val n = 100000
    val t = mkTable(n)
    val hit = Snapshots.prunedFiles(spark, t, 1, "cents",
      "500000", "500250")
    // true overlaps: i in [5000, 5002]; plus the n/1000 all-null-stat
    // files that can never be pruned
    assert(hit.size == 3 + n / 1000, s"got ${hit.size}")
    val paths = hit.map(_.path).toSet
    (5000 to 5002).foreach(i =>
      assert(paths.contains(s"data/c1/p=x/f$i.parquet")))
    assert(hit.filter(_.stats("cents").lo != null).size == 3)
  }

  test("plan-side numeric compare is exact beyond 2^53 (decimal, not " +
      "double, semantics)") {
    val big = 9007199254740992L // 2^53: adjacent longs collapse as doubles
    val extras = Seq(
      FileEntry("data/c1/p=x/big0.parquet", "x", 1L,
        Map("cents" -> StatRange("long", big.toString, big.toString))),
      FileEntry("data/c1/p=x/big1.parquet", "x", 1L,
        Map("cents" -> StatRange("long",
          (big + 1).toString, (big + 1).toString))))
    val t = mkTable(0, extras)
    val hit = Snapshots.prunedFiles(spark, t, 1, "cents",
      (big + 1).toString, (big + 1).toString)
    assert(hit.map(_.path) == Seq("data/c1/p=x/big1.parquet"),
      s"2^53+1 must match only the exact file, got ${hit.map(_.path)}")
  }

  test("plan-side pruning equals the driver-side BigDecimal reference " +
      "on every file (numeric and string columns)") {
    val n = 5000
    val t = mkTable(n)
    def refKeep(e: FileEntry, c: String, lo: String, hi: String,
        numeric: Boolean): Boolean =
      e.stats.get(c) match {
        case Some(StatRange(_, flo, fhi)) if flo != null && fhi != null =>
          if (numeric)
            BigDecimal(fhi) >= BigDecimal(lo) &&
              BigDecimal(flo) <= BigDecimal(hi)
          else fhi.compareTo(lo) >= 0 && flo.compareTo(hi) <= 0
        case _ => true
      }
    val all = Snapshots.readManifest(spark, t, 1)
    for ((lo, hi) <- Seq(("0", "99"), ("123456", "130000"),
        ("499999", "499999"), ("99999999", "999999999"))) {
      val got = Snapshots.prunedFiles(spark, t, 1, "cents", lo, hi)
        .map(_.path).toSet
      val want = all.filter(refKeep(_, "cents", lo, hi, numeric = true))
        .map(_.path).toSet
      assert(got == want, s"cents [$lo,$hi]")
    }
    val gotDay = Snapshots.prunedFiles(spark, t, 1, "day",
      "2026-01-03", "2026-01-04").map(_.path).toSet
    val wantDay = all
      .filter(refKeep(_, "day", "2026-01-03", "2026-01-04",
        numeric = false)).map(_.path).toSet
    assert(gotDay == wantDay && gotDay.nonEmpty)
  }

  /** Bytes of task results `body`'s jobs send to the driver. */
  private def driverResultBytes(body: => Unit): Long = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val total = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => total.addAndGet(m.resultSize))
    }
    spark.sparkContext.addSparkListener(l)
    try { jobsStartedBy(body); total.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("100k-file manifest: a filter over a pinned read lists only the " +
      "surviving entries on the driver, when the scan is planned") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val n = 100000
    // incompressible file names push the segment past the 2 MB
    // driver-side bound, as a real table's part-file UUIDs do
    val t = mkTable(n, name = i => s"f$i-${java.util.UUID.randomUUID}-" +
      java.util.UUID.randomUUID)
    writeSchema(t)
    assert(!Snapshots.manifestDF(spark, t, 1).queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
        .LocalRelation], "the fixture must exercise the plan-side backend")
    var files = Set.empty[String]
    val bytes = driverResultBytes {
      files = scannedFiles(Snapshots.readAsOf(spark, t, 1)
        .where(col("cents") >= 500000L && col("cents") <= 500250L))
    }
    assert(files.size == 3 + n / 1000, s"got ${files.size}")
    (5000 to 5002).foreach(i =>
      assert(files.exists(_.contains(s"data/c1/p=x/f$i-"))))
    // the whole manifest is megabytes of entries; the pruned ones a few KB
    assert(bytes < 256 * 1024, s"$bytes bytes of results reached the driver")
  }

  private def writeSchema(t: String): Unit = {
    import org.apache.spark.sql.types._
    Snapshots.writeSchema(spark, t, 1, StructType(Seq(
      StructField("cents", LongType), StructField("day", StringType))))
  }

  // ---- metadata log: delta manifests + checkpoints --------------------

  private def manifestVersionDir(t: String, v: Int) =
    java.nio.file.Paths.get(t, "_manifests", s"v$v")

  private def segmentRows(t: String, v: Int): Long =
    spark.read.parquet(s"$t/_manifests/v$v").count()

  test("delta chain over a 100k-file checkpoint: per-commit metadata is " +
      "O(commit); tombstones drop a partition without rewriting it") {
    val n = 100000
    val t = mkTable(n) // v1 = 100k-file checkpoint, partition "x"
    import spark.implicits._
    // v2: delta appending 3 files of partition "y" — its manifest
    // segment holds exactly those 3 entries, not 100k + 3
    val adds = (0 until 3).map { i =>
      FileEntry(s"data/c2/p=y/g$i.parquet", "y", 5L,
        Map("cents" -> StatRange("long",
          (i * 10L).toString, (i * 10L + 9).toString)))
    }
    Snapshots.writeDelta(spark, t, 2, adds, Nil)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_CURRENT"), "v2")
    assert(segmentRows(t, 2) == 3,
      "a delta segment must hold only the commit's own entries")
    assert(Snapshots.readManifest(spark, t, 2).size == n + 3)
    // v3: pure tombstone (no adds) replacing partition "x" — resolution
    // drops all 100k carried files by metadata alone
    Snapshots.writeDelta(spark, t, 3, Nil, Seq("x"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_CURRENT"), "v3")
    val m3 = Snapshots.readManifest(spark, t, 3)
    assert(m3.map(_.path).toSet == adds.map(_.path).toSet,
      s"tombstone must drop partition x, got ${m3.size} entries")
    // pinned versions still resolve their own file sets
    assert(Snapshots.readManifest(spark, t, 2).size == n + 3)
    assert(Snapshots.readManifest(spark, t, 1).size == n)
    // pruning over the chained manifest stays driver-bounded
    val hit = Snapshots.prunedFiles(spark, t, 2, "cents", "500000",
      "500250")
    assert(hit.size == 3 + n / 1000, s"got ${hit.size}")
  }

  test("real multi-commit history: checkpoints appear every 8th version, " +
      "every version resolves exactly, vacuum re-checkpoints the floor") {
    val s = spark
    import s.implicits._
    val t = tmpDir("mlog")
    def frame(p: String, vs: Seq[Int]) =
      vs.map(v => (p, v)).toDF("p", "v")
    // v1 full, then a mix of appends and overwrites through v12
    Snapshots.commitFull(frame("a", Seq(1, 2)), t, "p",
      statsCols = Seq("v"))
    val expect = scala.collection.mutable.Map[Int, Map[String, Set[Int]]]()
    var state = Map("a" -> Set(1, 2))
    expect(1) = state
    (2 to 12).foreach { v =>
      if (v % 3 == 0) {
        // overwrite partition "a" with a fresh value set
        Snapshots.commitOverwritePartition(frame("a", Seq(v, v + 100)),
          t, "p", "a", statsCols = Seq("v"))
        state = state.updated("a", Set(v, v + 100))
      } else {
        Snapshots.commitAppend(frame(s"p$v", Seq(v)), t, "p",
          statsCols = Seq("v"))
        state = state.updated(s"p$v", Set(v))
      }
      expect(v) = state
    }
    // chain shape: v1 checkpoint, v2..v8 deltas, v9 checkpoint (first
    // commit where the chain would reach length 8), v10.. deltas
    assert(Snapshots.readDeltaMeta(spark, t, 1).isEmpty)
    (2 to 8).foreach(v =>
      assert(Snapshots.readDeltaMeta(spark, t, v).isDefined, s"v$v"))
    assert(Snapshots.readDeltaMeta(spark, t, 9).isEmpty,
      "v9 must be a checkpoint")
    (10 to 12).foreach(v =>
      assert(Snapshots.readDeltaMeta(spark, t, v).isDefined, s"v$v"))
    // every version resolves to exactly the accumulated reference state
    def asMap(v: Int): Map[String, Set[Int]] =
      Snapshots.readAsOf(spark, t, v).collect()
        .groupBy(_.getString(0))
        .map { case (p, rs) => p -> rs.map(_.getInt(1)).toSet }
    (1 to 12).foreach(v => assert(asMap(v) == expect(v), s"version $v"))
    // stats-range reads work through the chain (manifest stats carry)
    val hot = Snapshots.readRange(spark, t, "v", "100", "300")
      .select("v").as[Int].collect().toSet
    assert(hot == expect(12).values.flatten.filter(x =>
      x >= 100 && x <= 300).toSet)
    // vacuum to a mid-chain floor: v10 is a delta whose chain passes
    // through v9/v1 — vacuum must first materialize v10 as a
    // self-contained checkpoint, then drop older metadata
    // snapshot the floor's pre-compaction manifest file names: the
    // re-checkpoint must be PURELY ADDITIVE (immutable-metadata rule) —
    // an in-flight reader planned against the old layout keeps every
    // file it listed
    val floorDir = manifestVersionDir(t, 10)
    val before = java.nio.file.Files.list(floorDir).toArray
      .map(_.toString).toSet
    Snapshots.vacuum(spark, t, 10)
    assert(Snapshots.readDeltaMeta(spark, t, 10).isEmpty,
      "the retention floor must become a checkpoint")
    // GRACE PERIOD: below-floor manifest dirs survive the vacuum that
    // floored them (an in-flight lazy plan resolved just before the
    // re-checkpoint still references their parquet) — but fresh
    // resolutions are refused immediately via the published floor
    assert(java.nio.file.Files.exists(manifestVersionDir(t, 9)),
      "below-floor dirs must linger one cycle for in-flight plans")
    assert(Snapshots.retentionFloor(spark, t) == 10)
    val gErr = intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, t, 9)
    }
    assert(gErr.getMessage.contains("vacuumed"),
      s"graced version must refuse fresh reads: ${gErr.getMessage}")
    val after = java.nio.file.Files.list(floorDir).toArray
      .map(_.toString).toSet
    assert(before.subsetOf(after),
      s"floor compaction deleted/renamed: ${before -- after}")
    assert((after -- before).exists(_.contains("_ckpt")),
      "the re-checkpoint must be published as new _ckpt artifacts")
    (10 to 12).foreach(v => assert(asMap(v) == expect(v),
      s"version $v after vacuum"))
    // the NEXT vacuum cycle reclaims the graced dirs
    Snapshots.vacuum(spark, t, 10)
    assert(!java.nio.file.Files.exists(manifestVersionDir(t, 9)),
      "graced dirs must be reclaimed by the following vacuum")
    (10 to 12).foreach(v => assert(asMap(v) == expect(v),
      s"version $v after the grace reclaim"))
    intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, t, 9)
    }
  }

  test("years-of-commits history (200 versions x 100k files): current " +
      "resolution touches ONLY the nearest checkpoint + its tail") {
    val s = spark
    import s.implicits._
    val t = tmpDir("mlog-long")
    val nBase = 100000
    val versions = 200
    val addsPer = 50
    def entry(i: Int): FileEntry =
      FileEntry(s"data/c1/p=x/f$i.parquet", "x", 10L,
        Map("cents" -> StatRange("long",
          (i * 100L).toString, (i * 100L + 99).toString)))
    // v1: a 100k-file checkpoint; then 199 append commits of 50 files,
    // with a fresh checkpoint at the cadence commitManifest uses
    // ((v - 1) % 8 == 0) — the shape years of streaming appends leave
    var cum = (0 until nBase).map(entry)
    cum.toDS().coalesce(1).write.parquet(s"$t/_manifests/v1")
    var nextId = nBase
    (2 to versions).foreach { v =>
      val adds = (nextId until nextId + addsPer).map(entry)
      nextId += addsPer
      cum = cum ++ adds
      if ((v - 1) % 8 == 0)
        cum.toDS().coalesce(1).write.parquet(s"$t/_manifests/v$v")
      else Snapshots.writeDelta(spark, t, v, adds, removes = Nil)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_CURRENT"), s"v$versions")

    val total = nBase + (versions - 1) * addsPer
    assert(Snapshots.readManifest(spark, t, versions).size == total)
    assert(Snapshots.readManifest(spark, t, 1).size == nBase)
    assert(Snapshots.readManifest(spark, t, 100).size ==
      nBase + 99 * addsPer)

    // THE O(checkpoint + tail) proof, behavioral rather than timed:
    // destroy every manifest dir below the final checkpoint (v193 for
    // 200 at cadence 8). If resolving the current version read ANY of
    // the destroyed metadata — a full-log walk, an O(all commits)
    // rebuild — it would now fail; it keeps answering exactly because
    // chainOf stops at the nearest checkpoint and reads only the tail.
    val lastCkpt = ((versions - 1) / 8) * 8 + 1
    assert((lastCkpt - 1) % 8 == 0 && lastCkpt > versions - 8)
    (1 until lastCkpt).foreach { v =>
      val d = manifestVersionDir(t, v)
      if (java.nio.file.Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    assert(Snapshots.readManifest(spark, t, versions).size == total,
      "current resolution must not depend on below-checkpoint metadata")
    // stats pruning composes through the long log the same way
    val hit = Snapshots.prunedFiles(spark, t, versions, "cents",
      "500000", "500099")
    assert(hit.size == 1 && hit.head.path.endsWith("f5000.parquet"),
      s"got ${hit.take(3)}")
    // and destroyed history fails loudly, not wrongly
    intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, t, 2)
    }
  }

  test("vacuum reclaim is a distributed anti-join over a 200k-entry " +
      "live manifest: only true orphans deleted, live files untouched") {
    val t = mkTable(200000)
    // plant real files: two LIVE (their rel paths are manifest entries)
    // and two ORPHANS (no manifest references them)
    val dir = new java.io.File(t, "data/c1/p=x")
    assert(dir.mkdirs())
    Seq("f0.parquet", "f1.parquet", "orphanA.parquet", "orphanB.parquet")
      .foreach { n =>
        java.nio.file.Files.write(new java.io.File(dir, n).toPath,
          "x".getBytes)
      }
    // the live set is resolved as a PLAN (union of retained manifests'
    // path columns anti-joined against the distributed listing) — the
    // 200k paths never materialize as a driver Set; this exercises that
    // path at scale and pins the reclaim decision
    val deleted = Snapshots.vacuum(spark, t, 1)
    assert(deleted == 2, s"exactly the orphans, got $deleted")
    assert(new java.io.File(dir, "f0.parquet").exists())
    assert(new java.io.File(dir, "f1.parquet").exists())
    assert(!new java.io.File(dir, "orphanA.parquet").exists())
    assert(!new java.io.File(dir, "orphanB.parquet").exists())
  }

  /** A REAL two-partition table whose manifest is then extended (one
    * internal delta commit) with `n` synthetic entries pointing at
    * files that DO NOT EXIST, with `id`/`day` stats disjoint from the
    * real data. Any probe that fails to key-range prune dies on the
    * missing paths — existence of the fake files is the proof the
    * planner never opened them. */
  private def cowTable(n: Int): String = {
    val t = tmpDir("cow-prune")
    val s = spark
    import s.implicits._
    val df = Seq(("d1-1", "d1", 1L), ("d1-2", "d1", 2L),
      ("d2-1", "d2", 101L), ("d2-2", "d2", 102L))
      .toDF("id", "day", "cents")
    Snapshots.commitFull(df, t, "day", statsCols = Seq("id"))
    val synthetic = (0 until n).map { i =>
      FileEntry(s"data/c1/gp=z${i % 100}/f$i.parquet", s"z${i % 100}",
        10L, Map(
          "id" -> StatRange("string", f"zz-$i%07d", f"zz-$i%07d"),
          "day" -> StatRange("string", "z0", "z99")),
        spec = Some("day"))
    }
    Snapshots.reserve(spark, t, 2)
    Snapshots.writeDelta(spark, t, 2, synthetic, Nil, None)
    Snapshots.schemaOf(spark, t, 1)
      .foreach(Snapshots.writeSchema(spark, t, 2, _))
    Snapshots.partSpecOf(spark, t, 1)
      .foreach(Snapshots.writePartSpec(spark, t, 2, _))
    Snapshots.publish(spark, t, 2)
    t
  }

  test("deleteRows' affected-partition probe is key-range pruned: " +
      "200k manifest entries whose id stats exclude the delete keys " +
      "are never opened (their files don't exist)") {
    val s = spark
    import s.implicits._
    val t = cowTable(200000)
    val touched = Snapshots.deleteRows(spark, t, "day", "id",
      Seq("d1-2").toDF("id"), statsCols = Seq("id"))
    assert(touched == 1, "only d1 holds the key")
    val d1 = Snapshots.readPartition(spark, t, "day", "d1")
      .select("id").as[String].collect().toSet
    assert(d1 == Set("d1-1"), "key deleted, sibling intact")
    assert(Snapshots.readPartition(spark, t, "day", "d2")
      .select("id").as[String].collect().toSet == Set("d2-1", "d2-2"),
      "untouched partition carried by reference")
  }

  test("compactDeletes' probe and rewrite are pruned the same way: a " +
      "MoR delete folds over a 200k-entry manifest without opening " +
      "the synthetic files") {
    val s = spark
    import s.implicits._
    val t = cowTable(200000)
    Snapshots.deleteRowsMoR(spark, t, "id", Seq("d2-1").toDF("id"))
    assert(Snapshots.compactDeletes(spark, t, "day") == 1,
      "exactly d2 folds")
    val cur = Snapshots.currentVersion(spark, t)
    assert(!Snapshots.readManifest(spark, t, cur)
      .exists(_.kind.exists(_.startsWith("delete:"))),
      "fold dropped the delete file")
    assert(Snapshots.readPartition(spark, t, "day", "d2")
      .select("id").as[String].collect().toSet == Set("d2-2"))
  }
}
