package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SnapshotsSpec extends SparkSpec {

  private def rows(part: String, ids: Range, v: Long): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (s"$part-$i", part, v + i)).toDF("id", "day", "cents")
  }

  private def snapshotMap(df: DataFrame): Map[String, Long] =
    df.groupBy(col("day")).agg(sum(col("cents")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("reader pinned to version N is identical during and after a " +
      "version N+1 partition rewrite") {
    val t = tmpDir("snap_pin")
    val v1 = Snapshots.commitFull(
      rows("d1", 1 to 10, 0).unionByName(rows("d2", 1 to 10, 100)),
      t, "day")
    assert(v1 == 1)

    // two readers resolve BEFORE the rewrite: one pinned explicitly,
    // one via the default read (which pins the latest manifest at call)
    val pinned = Snapshots.readAsOf(spark, t, 1)
    val defaultRead = Snapshots.read(spark, t)
    val before = snapshotMap(pinned)

    // rewrite d2 wholesale in version 2 (different values AND row count)
    val v2 = Snapshots.commitOverwritePartition(
      rows("d2", 1 to 3, 9000), t, "day", "d2")
    assert(v2 == 2)

    // both pre-rewrite readers still answer with version 1, bit for bit
    assert(snapshotMap(pinned) == before,
      "pinned reader must not observe the rewrite")
    assert(snapshotMap(defaultRead) == before,
      "a default read resolved before the commit stays on its version")
    assert(Snapshots.readAsOf(spark, t, 1).count() == 20)

    // a FRESH default read sees version 2: d1 carried by reference,
    // d2 replaced
    val after = snapshotMap(Snapshots.read(spark, t))
    assert(after("d1") == before("d1"), "untouched partition carried")
    assert(after("d2") == (9001L + 9002L + 9003L))
    assert(Snapshots.read(spark, t).count() == 13)
  }

  test("commit is atomic: no manifest version ever names a mix of old " +
      "and new files for the rewritten partition") {
    val t = tmpDir("snap_atomic")
    Snapshots.commitFull(
      rows("d1", 1 to 5, 0).unionByName(rows("d2", 1 to 5, 10)), t, "day")
    Snapshots.commitOverwritePartition(rows("d2", 1 to 5, 500), t,
      "day", "d2")
    val m1 = Snapshots.readManifest(spark, t, 1)
    val m2 = Snapshots.readManifest(spark, t, 2)
    val d2v1 = m1.filter(_.partition == "d2").map(_.path).toSet
    val d2v2 = m2.filter(_.partition == "d2").map(_.path).toSet
    assert(d2v1.nonEmpty && d2v2.nonEmpty && d2v1.intersect(d2v2).isEmpty,
      "rewritten partition's file sets must be disjoint across versions")
    assert(m1.filter(_.partition == "d1").map(_.path).toSet ==
      m2.filter(_.partition == "d1").map(_.path).toSet,
      "untouched partition rides by reference")
    assert(m2.forall(_.path.startsWith("data/c")))
  }

  test("manifest stats prune files at planning time (no footer reads)") {
    val s = spark
    import s.implicits._
    val t = tmpDir("snap_prune")
    // 4 partitions with DISJOINT cents ranges → disjoint per-file stats
    val df = (1 to 4).map { p =>
      (1 to 50).map(i => (s"p$p-$i", s"p$p", p * 1000L + i))
        .toDF("id", "day", "cents")
    }.reduce(_ unionByName _)
    Snapshots.commitFull(df, t, "day", statsCols = Seq("cents"))

    val all = Snapshots.readManifest(spark, t, 1)
    val hit = Snapshots.prunedFiles(spark, t, 1, "cents", "2001", "2050")
    assert(hit.map(_.partition).toSet == Set("p2"),
      s"stats must isolate p2's files; got ${hit.map(_.partition).toSet}")
    assert(hit.size < all.size, "planning must skip files")

    val read = Snapshots.readRange(spark, t, "cents", "2001", "2050")
    assert(scannedFiles(read).size == hit.size,
      "the scan must open only the pruned file set")
    assert(read.count() == 50)
    assert(snapshotMap(read) == Map("p2" -> (1 to 50).map(2000L + _).sum))

    // residual filter still exact WITHIN a kept file
    val sub = Snapshots.readRange(spark, t, "cents", "2001", "2010")
    assert(sub.count() == 10)

    // conjunctive pruning: a second range knocks out what the first kept
    val none = Snapshots.read(spark, t).where(
      col("cents") >= 2001L && col("cents") <= 2050L &&
        col("id") >= "p9" && col("id") <= "p9z")
    assert(none.count() == 0)
    assert(scannedFiles(none) == scannedFiles(read),
      "the conjunction prunes by its stats-covered range")

    // SQL surface over the pinned snapshot
    Snapshots.registerView(spark, t, "snap_prune_t")
    assert(spark.sql(
      "SELECT COUNT(*) FROM snap_prune_t WHERE cents BETWEEN 2001 AND 2050")
      .head().getLong(0) == 50L)
    spark.catalog.dropTempView("snap_prune_t")
  }

  test("vacuum drops old versions' files but never the retained ones") {
    val t = tmpDir("snap_vacuum")
    Snapshots.commitFull(
      rows("d1", 1 to 5, 0).unionByName(rows("d2", 1 to 5, 10)), t, "day")
    Snapshots.commitOverwritePartition(rows("d2", 1 to 5, 100), t,
      "day", "d2")
    Snapshots.commitOverwritePartition(rows("d2", 1 to 5, 200), t,
      "day", "d2")
    val keepCount = Snapshots.read(spark, t).count()
    val deleted = Snapshots.vacuum(spark, t, retainFrom = 3)
    assert(deleted > 0, "v1/v2's d2 files must be reclaimed")
    assert(Snapshots.read(spark, t).count() == keepCount,
      "current version untouched by vacuum")
    val err = intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, t, 1)
    }
    assert(err.getMessage.contains("vacuumed"))
    // d1 was never rewritten: its v1 files are referenced by v3 and
    // must survive the vacuum
    assert(Snapshots.read(spark, t).where(col("day") === "d1").count() == 5)
  }

  test("a tag pins retention: vacuum clamps to the lowest tagged " +
      "version; deleting the tag releases it") {
    val t = tmpDir("snap_tag")
    Snapshots.commitFull(
      rows("d1", 1 to 5, 0).unionByName(rows("d2", 1 to 5, 10)), t, "day")
    Snapshots.commitOverwritePartition(rows("d2", 1 to 5, 100), t,
      "day", "d2")
    Snapshots.commitOverwritePartition(rows("d2", 1 to 5, 200), t,
      "day", "d2")
    Snapshots.tag(spark, t, "train-base", 1)
    val pinned = snapshotMap(Snapshots.readRef(spark, t, "train-base"))
    // the tag is a retention promise: retainFrom=3 clamps to the tag
    Snapshots.vacuum(spark, t, retainFrom = 3)
    assert(Snapshots.retentionFloor(spark, t) == 1,
      "vacuum must not reclaim below a tagged version")
    assert(snapshotMap(Snapshots.readRef(spark, t, "train-base")) == pinned,
      "the tagged snapshot must survive the vacuum bit-for-bit")
    assert(snapshotMap(Snapshots.readAsOf(spark, t, 1)) == pinned)
    // immutability: retargeting needs replace=true
    val ex = intercept[IllegalArgumentException] {
      Snapshots.tag(spark, t, "train-base", 2)
    }
    assert(ex.getMessage.contains("replace=true"))
    Snapshots.tag(spark, t, "train-base", 1) // idempotent re-publish
    Snapshots.tag(spark, t, "train-base", 2, replace = true)
    assert(Snapshots.versionOfRef(spark, t, "train-base") == 2)
    assert(Snapshots.listRefs(spark, t) == Seq("train-base" -> 2))
    // the retarget releases v1: the next vacuum reclaims it
    assert(Snapshots.vacuum(spark, t, retainFrom = 3) >= 0)
    assert(Snapshots.retentionFloor(spark, t) == 2)
    intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, t, 1)
    }
    // a vacuumed version cannot be tagged (retention promises are made
    // while the version is still retained)
    val ex2 = intercept[IllegalArgumentException] {
      Snapshots.tag(spark, t, "too-late", 1)
    }
    assert(ex2.getMessage.contains("retention floor"))
    // deleting the tag releases v2 for the next cycle
    assert(Snapshots.deleteTag(spark, t, "train-base"))
    assert(!Snapshots.deleteTag(spark, t, "train-base"))
    Snapshots.vacuum(spark, t, retainFrom = 3)
    assert(Snapshots.retentionFloor(spark, t) == 3)
    // invalid ref names are refused before touching the filesystem
    intercept[IllegalArgumentException] {
      Snapshots.tag(spark, t, "bad/name", 3)
    }
  }

  test("a reserved version slot rejects a racing commit; breaking the " +
      "orphaned reservation unblocks") {
    val t = tmpDir("snap_occ")
    Snapshots.commitFull(rows("d1", 1 to 5, 0), t, "day")
    // another writer atomically takes the v2 slot and stalls
    Snapshots.reserve(spark, t, 2)
    intercept[Snapshots.ConcurrentCommitException] {
      Snapshots.commitOverwritePartition(rows("d1", 1 to 5, 100), t,
        "day", "d1")
    }
    assert(Snapshots.currentVersion(spark, t) == 1,
      "the losing writer must not have published anything")
    // the stalled writer is declared dead → operator breaks the lock
    assert(Snapshots.breakReservation(spark, t, 2))
    val v2 = Snapshots.commitOverwritePartition(rows("d1", 1 to 5, 100),
      t, "day", "d1")
    assert(v2 == 2)
    assert(snapshotMap(Snapshots.read(spark, t)) ==
      Map("d1" -> (101L to 105L).sum))
  }

  test("commit file count is size-derived, not core-derived: a " +
      "many-task input coalesces to ~one file per partition value") {
    val t = tmpDir("snap_sized")
    // 27 upstream tasks × 4 partition values would write up to 108
    // files without the commit-path rebalance; the AQE-sized exchange
    // coalesces this tiny commit to one file per value. Rows and
    // per-partition sums must be identical either way.
    val df = spark.range(0, 4000, 1, 27)
      .select(concat(lit("r"), col("id")).as("id"),
        pmod(col("id"), lit(4)).cast("string").as("day"),
        col("id").as("cents"))
    val v1 = Snapshots.commitFull(df, t, "day", statsCols = Seq("cents"))
    assert(v1 == 1)
    val entries = Snapshots.readManifest(spark, t, 1)
    assert(entries.size <= 4,
      s"size-derived commit should write ~1 file/value, got ${entries.size}")
    val got = Snapshots.read(spark, t)
    assert(got.count() == 4000)
    assert(snapshotMap(got) ==
      (0 until 4).map(g => g.toString ->
        (0 until 4000).filter(_ % 4 == g).map(_.toLong).sum).toMap)
    // append from a many-task input keeps the same size-derived shape
    val v2 = Snapshots.commitAppend(
      spark.range(4000, 4400, 1, 27)
        .select(concat(lit("r"), col("id")).as("id"),
          pmod(col("id"), lit(4)).cast("string").as("day"),
          col("id").as("cents")),
      t, "day", statsCols = Seq("cents"))
    assert(v2 == 2)
    val freshFiles = Snapshots.readManifest(spark, t, 2).size -
      entries.size
    assert(freshFiles <= 4,
      s"append should add ~1 file/value, added $freshFiles")
    assert(Snapshots.read(spark, t).count() == 4400)
  }

  test("commitCompact shrinks the current file set without touching " +
      "pinned history") {
    val s = spark
    import s.implicits._
    val t = tmpDir("snap_compact")
    // 8 range partitions → 8 files for the single 'day' partition
    // (preserveLayout keeps them — the default size-derived rebalance
    // would coalesce this tiny commit to 1 file and defeat the fixture)
    val df = (1 to 80).map(i => (s"d1-$i", "d1", i.toLong))
      .toDF("id", "day", "cents").repartitionByRange(8, col("cents"))
    Snapshots.commitFull(df, t, "day", statsCols = Seq("cents"),
      preserveLayout = true)
    val before = Snapshots.readManifest(spark, t, 1)
    assert(before.size > 1, "fixture must start multi-file")

    val v2 = Snapshots.commitCompact(spark, t, "day", "d1",
      targetFiles = 1, statsCols = Seq("cents"))
    assert(v2 == 2)
    val cur = Snapshots.read(spark, t)
    assert(cur.inputFiles.length == 1, "current read plans over 1 file")
    assert(cur.count() == 80)
    assert(snapshotMap(cur) == Map("d1" -> (1L to 80L).sum))
    // pinned history still answers from the uncompacted files
    val pinned = Snapshots.readAsOf(spark, t, 1)
    assert(pinned.inputFiles.length == before.size)
    assert(snapshotMap(pinned) == Map("d1" -> (1L to 80L).sum))
    // manifest stats survived the rewrite (whole range in one file)
    val st = Snapshots.readManifest(spark, t, 2).head.stats("cents")
    assert(st.lo == "1" && st.hi == "80")
  }

  test("timestamp time travel resolves to the version live at that " +
      "instant") {
    val t = tmpDir("snap_time")
    Snapshots.commitFull(rows("d1", 1 to 5, 0), t, "day")
    Thread.sleep(150)
    val betweenCommits = System.currentTimeMillis()
    Thread.sleep(150)
    Snapshots.commitOverwritePartition(rows("d1", 1 to 5, 1000), t,
      "day", "d1")
    assert(Snapshots.versionAsOfTime(spark, t, betweenCommits) == 1)
    assert(snapshotMap(
      Snapshots.readAsOfTime(spark, t, betweenCommits)) ==
      Map("d1" -> (1L to 5L).sum))
    assert(Snapshots.versionAsOfTime(spark, t,
      System.currentTimeMillis()) == 2)
    val err = intercept[IllegalArgumentException] {
      Snapshots.versionAsOfTime(spark, t, 1000L) // 1970: before v1
    }
    assert(err.getMessage.contains("no version"))
  }

  test("readChanges scans only the files added between two versions") {
    val s = spark
    import s.implicits._
    val t = tmpDir("snap_changes")
    Snapshots.commitFull(
      rows("d1", 1 to 5, 0).unionByName(rows("d2", 1 to 5, 10)), t, "day")
    // v2: append a new batch to d1
    Snapshots.commitAppend(
      Seq(("x1", "d1", 500L), ("x2", "d1", 501L))
        .toDF("id", "day", "cents"), t, "day")
    val delta = Snapshots.readChanges(spark, t, 1, 2)
    val v1Files = Snapshots.readManifest(spark, t, 1).map(_.path).toSet
    assert(delta.inputFiles.forall(f => !v1Files.exists(f.endsWith)),
      "delta scan must touch no version-1 file")
    assert(delta.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("x1", "x2"), "exactly the appended rows")
    // v3: overwrite d2 → the refreshed partition surfaces wholesale
    Snapshots.commitOverwritePartition(rows("d2", 1 to 2, 9000), t,
      "day", "d2")
    val d2delta = Snapshots.readChanges(spark, t, 2, 3)
    assert(snapshotMap(d2delta) == Map("d2" -> (9001L + 9002L)))
    // no-change window → empty frame, right schema
    assert(Snapshots.readChanges(spark, t, 3, 3).count() == 0)
  }

  test("row-level diff and table history report exactly what a rewrite " +
      "changed") {
    val t = tmpDir("snap_diff")
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 10)), t, "day")
    // v2 rewrites d2: drops id 3, changes id 2's cents, keeps id 1
    val s = spark
    import s.implicits._
    val v2d2 = Seq(("d2-1", "d2", 11L), ("d2-2", "d2", 999L))
      .toDF("id", "day", "cents")
    Snapshots.commitOverwritePartition(v2d2, t, "day", "d2")

    val (added, removed) = Snapshots.diff(spark, t, 1, 2,
      Seq("id", "day", "cents"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cents").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ids(added) == Set(("d2-2", 999L)),
      "only the changed row is 'added'")
    assert(ids(removed) == Set(("d2-2", 12L), ("d2-3", 13L)),
      "the old copy of the changed row and the dropped row are 'removed'")

    val h = Snapshots.history(spark, t).collect()
      .map(r => r.getInt(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(h(1)._1 == 6L && h(1)._2 == "d1,d2")
    assert(h(2)._1 == 5L && h(2)._2 == "d2",
      "v2 touched only the rewritten partition")
  }

  test("crash window self-heals: tmp pointer without current completes") {
    val t = tmpDir("snap_crash")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    // simulate the crash between delete(cur) and rename(tmp, cur)
    val dir = new java.io.File(t)
    val cur = new java.io.File(dir, "_CURRENT")
    val tmp = new java.io.File(dir, "_CURRENT.tmp")
    java.nio.file.Files.copy(cur.toPath, tmp.toPath)
    assert(cur.delete())
    assert(Snapshots.currentVersion(spark, t) == 1, "pointer recovered")
    assert(Snapshots.read(spark, t).count() == 3)
  }

  test("a live writer's half-written tmp is NOT promoted by the heal " +
      "(round-11 concurrent-audit race)") {
    val t = tmpDir("snap_live_tmp")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    val dir = new java.io.File(t)
    // legacy-writer mid-publish: pointer deleted, tmp still EMPTY
    assert(new java.io.File(dir, "_CURRENT").delete())
    val tmp = new java.io.File(dir, "_CURRENT.tmp")
    java.nio.file.Files.writeString(tmp.toPath, "")
    // the old heal renamed this into place and every reader crashed on
    // NumberFormatException(""); now the unparseable tmp stays put
    assert(Snapshots.currentVersion(spark, t) == 0)
    assert(tmp.isFile, "half-written tmp left for its writer")
    // the writer finishes: completes the tmp and the table recovers
    java.nio.file.Files.writeString(tmp.toPath, "v1")
    assert(Snapshots.currentVersion(spark, t) == 1)
    assert(Snapshots.read(spark, t).count() == 3)
  }

  test("publish is an atomic replace: no pointer gap across versions, " +
      "no lingering tmp") {
    val t = tmpDir("snap_atomic_pub")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    Snapshots.commitAppend(rows("d1", 4 to 5, 10), t, "day")
    assert(Snapshots.currentVersion(spark, t) == 2)
    val leftovers = new java.io.File(t).listFiles()
      .filter(_.getName.matches("_CURRENT\\..*tmp"))
    assert(leftovers.isEmpty,
      s"unique tmps must be consumed by the rename: ${leftovers.toSeq}")
  }

  test("commitOverwritePartitions replaces several partitions in ONE " +
      "version, tombstones an emptied one, and never disturbs a " +
      "pinned reader") {
    val t = tmpDir("snap_multi_ow")
    Snapshots.commitFull(
      rows("d1", 1 to 5, 0).unionByName(rows("d2", 1 to 5, 100))
        .unionByName(rows("d3", 1 to 5, 200)), t, "day")
    val pinned = Snapshots.read(spark, t)
    val before = snapshotMap(pinned)
    // one commit: d1 rewritten smaller, d2 emptied (pure tombstone),
    // d3 untouched (not named — carried by reference)
    val v = Snapshots.commitOverwritePartitions(
      rows("d1", 1 to 2, 1000), t, "day", Seq("d1", "d2"))
    assert(v == 2, "all three partitions' changes land as ONE version")
    val after = snapshotMap(Snapshots.read(spark, t))
    assert(after.keySet == Set("d1", "d3"),
      s"d2 must disappear via its tombstone: $after")
    assert(after("d1") == (1001L + 1002L) && after("d3") == before("d3"))
    assert(snapshotMap(pinned) == before,
      "the pinned pre-commit reader must keep answering with v1")
  }

  test("an overwrite that would publish an EMPTY version is refused " +
      "(all partitions tombstoned, no adds) and the table stays intact") {
    val s = spark
    import s.implicits._
    val t = tmpDir("snap_empty_guard")
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)),
      t, "day")
    val before = snapshotMap(Snapshots.read(spark, t))
    // deleteRows with keys matching EVERY row: the copy-on-write
    // rewrite would tombstone both partitions and add nothing — a
    // published empty version could never resolve a scan, so the
    // commit must refuse (requireCommittable's invariant, restated)
    val allKeys = Snapshots.read(spark, t).select("id")
    val ex = intercept[IllegalArgumentException] {
      Snapshots.deleteRows(spark, t, "day", "id", allKeys)
    }
    assert(ex.getMessage.contains("EMPTY version"))
    // nothing published, reservation released: still v1, still
    // readable, same content, and a partial delete lands normally
    assert(Snapshots.currentVersion(spark, t) == 1)
    assert(snapshotMap(Snapshots.read(spark, t)) == before)
    val some = Seq("d1-1", "d1-2").toDF("id")
    assert(Snapshots.deleteRows(spark, t, "day", "id", some) == 1)
    assert(Snapshots.read(spark, t).count() == 4)
  }

  test("retentionFloor recovers a _vacuum_floor.tmp stranded between " +
      "delete and rename (floors never regress)") {
    val t = tmpDir("snap_floor_crash")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    Snapshots.commitOverwritePartition(rows("d1", 1 to 3, 100), t,
      "day", "d1")
    Snapshots.commitOverwritePartition(rows("d1", 1 to 3, 200), t,
      "day", "d1")
    Snapshots.vacuum(spark, t, 3)
    assert(Snapshots.retentionFloor(spark, t) == 3)
    // simulate the publishFloor crash window: floor file deleted, tmp
    // (with the same content) still present
    val dir = new java.io.File(t)
    val floor = new java.io.File(dir, "_vacuum_floor")
    val tmp = new java.io.File(dir, "_vacuum_floor.tmp")
    java.nio.file.Files.copy(floor.toPath, tmp.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(floor.delete())
    assert(Snapshots.retentionFloor(spark, t) == 3,
      "floor must self-heal from the tmp, not regress to 1")
    // a regressed floor would let this vacuumed version resolve again
    val ex = intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, t, 1)
    }
    assert(ex.getMessage.contains("vacuumed"))
  }

  test("vacuum sweeps orphan _ckpt debris stranded by a crashed " +
      "re-checkpoint before publishing a fresh one") {
    val t = tmpDir("snap_ckpt_debris")
    Snapshots.commitFull(rows("d1", 1 to 5, 0), t, "day")
    Snapshots.commitOverwritePartition(rows("d1", 1 to 5, 100), t,
      "day", "d1")
    Snapshots.commitOverwritePartition(rows("d1", 1 to 5, 200), t,
      "day", "d1")
    val want = snapshotMap(Snapshots.read(spark, t))
    // simulate a prior vacuum that crashed between the _ckpt parquet
    // write and the pointer rename: an unpublished _ckpt_<id> subdir
    // plus a _ckpt_ptr.tmp* file stranded inside the (delta) v3 dir
    val v3 = new java.io.File(t, "_manifests/v3")
    val orphanDir = new java.io.File(v3, "_ckpt_deadbeef")
    assert(orphanDir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(orphanDir, "junk.parquet").toPath,
      "not parquet".getBytes)
    java.nio.file.Files.write(
      new java.io.File(v3, "_ckpt_ptr.tmpdeadbeef").toPath,
      "deadbeef".getBytes)
    Snapshots.vacuum(spark, t, 3)
    assert(!orphanDir.exists(), "orphan _ckpt dir must be swept")
    assert(!new java.io.File(v3, "_ckpt_ptr.tmpdeadbeef").exists(),
      "stale tmp pointer must be swept")
    assert(new java.io.File(v3, "_ckpt_ptr").exists(),
      "a fresh re-checkpoint pointer must be published")
    assert(Snapshots.readDeltaMeta(spark, t, 3).isEmpty,
      "the floor resolves as a checkpoint")
    assert(snapshotMap(Snapshots.read(spark, t)) == want,
      "the re-checkpointed floor answers identically")
  }

  test("partition-spec evolution: colliding values across eras — a " +
      "new-era overwrite never reaches legacy files; era reads prune") {
    val s = spark
    import s.implicits._
    val t = tmpDir("snap_spec_evolve")
    // era 1: partitioned by day (values d1, d2)
    val v1 = Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)),
      t, "day")
    // era 2: the table re-partitions by a NEW column whose values
    // COLLIDE with era-1 day values — the adversarial layout for
    // tombstone scoping
    val era2 = Seq(("e2-1", "d1", 1000L), ("e2-2", "x", 2000L))
      .toDF("id", "bucket", "cents")
    val v2 = Snapshots.commitAppend(era2, t, "bucket")
    assert(Snapshots.partSpecOf(spark, t, v1).contains("day"))
    assert(Snapshots.partSpecOf(spark, t, v2).contains("bucket"))
    assert(Snapshots.read(spark, t).count() == 8)
    // overwrite new-era partition 'd1': era-1's day=d1 files carry the
    // SAME partition value under the old spec and must survive
    val v3 = Snapshots.commitOverwritePartition(
      Seq(("e2-1b", "d1", 5000L)).toDF("id", "bucket", "cents"),
      t, "bucket", "d1")
    val cur = Snapshots.read(spark, t)
    assert(cur.count() == 8, "6 era-1 rows + replaced d1 + x")
    assert(cur.where(col("day") === "d1").count() == 3,
      "a colliding new-era tombstone must not reach legacy-era files")
    assert(cur.where(col("id") === "e2-1").count() == 0)
    assert(cur.where(col("id") === "e2-1b").count() == 1)
    // the manifest records each file's era
    val m = Snapshots.readManifest(spark, t, v3)
    assert(m.filter(_.spec.contains("day")).map(_.partition).toSet ==
      Set("d1", "d2"), "era-1 files intact under their own spec")
    assert(m.filter(_.spec.contains("bucket")).map(_.partition).toSet ==
      Set("d1", "x"), "d1 rewrite + x under the new spec")
    // era-aware read: among era-2 files only bucket=d1's file scans;
    // era-1 files serve conservatively (no 'bucket' stats recorded)
    // and contribute nothing — their rows null-fill the column
    val pr = Snapshots.readPartition(spark, t, "bucket", "d1")
    assert(pr.count() == 1)
    assert(pr.select("id").as[String].head() == "e2-1b")
    val scanned = scannedFiles(pr).toSeq
    val xPath = m.find(p => p.spec.contains("bucket") && p.partition == "x")
      .get.path
    assert(!scanned.exists(_.endsWith(xPath.split('/').last)),
      "the evolved era's non-matching partition file must be pruned")
    assert(m.filter(_.spec.contains("day")).forall(e =>
      scanned.exists(_.endsWith(e.path.split('/').last))),
      "legacy files serve (conservative scan, residual filter)")
    // time travel across the evolution: v1 is pure era 1
    assert(Snapshots.readAsOf(spark, t, v1).columns.toSeq ==
      Seq("id", "day", "cents"))
    assert(Snapshots.readAsOf(spark, t, v1).count() == 6)
  }

  test("partition-spec evolution survives a CHECKPOINT: the carried-set " +
      "filter is era-scoped too, across enough commits to materialize") {
    val s = spark
    import s.implicits._
    val t = tmpDir("snap_spec_ckpt")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    def era2(id: String, b: String, c: Long) =
      Seq((id, b, c)).toDF("id", "bucket", "cents")
    Snapshots.commitAppend(era2("e2-0", "d1", 0L), t, "bucket")
    // 9 more same-value overwrites in the NEW era: version 10 crosses
    // CheckpointEvery=8, so the tombstone for 'd1' is applied by the
    // CHECKPOINT branch's carried-set filter, not delta resolution —
    // if that filter ignored the spec, era-1's day=d1 files would be
    // dropped from the materialized checkpoint FOREVER
    (1 to 9).foreach { i =>
      Snapshots.commitOverwritePartition(
        era2(s"e2-$i", "d1", i.toLong), t, "bucket", "d1")
    }
    val cur = Snapshots.read(spark, t)
    assert(cur.where(col("day") === "d1").count() == 3,
      "era-1 rows must survive the checkpointed colliding tombstone")
    assert(cur.where(col("bucket") === "d1").count() == 1)
    assert(cur.where(col("id") === "e2-9").count() == 1)
    assert(cur.count() == 4)
    // and the checkpointed manifest still carries each file's era
    val m = Snapshots.readManifest(spark, t,
      Snapshots.currentVersion(spark, t))
    assert(m.filter(_.spec.contains("day")).map(_.partition).toSet ==
      Set("d1"))
    assert(m.filter(_.spec.contains("bucket")).map(_.partition).toSet ==
      Set("d1"))
  }

  test("tag publish survives a concurrent reader heal racing its " +
      "rename (idempotent accept, the publishFloor discipline)") {
    val t = tmpDir("snap_tag_race")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    Snapshots.commitOverwritePartition(rows("d1", 1 to 3, 100), t,
      "day", "d1")
    // Interleaving under test: tag() writes `name.tmp`, deletes the ref,
    // and between its delete and rename a reader's versionOfRefOpt heal
    // renames OUR tmp into place — tag's own rename then fails on a
    // vanished source while the ref is in fact correctly published.
    // Plant the healer-input state each round and race a healer thread
    // against the publisher; the old code threw "failed to publish"
    // whenever the healer won the window.
    val refs = new java.io.File(t, "_refs")
    refs.mkdirs()
    val p = new java.io.File(refs, "m")
    val tmp = new java.io.File(refs, "m.tmp")
    val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]
    for (_ <- 1 to 120) {
      // tmp pins v1 (≠ the tag target): tag's own pre-publish read then
      // heals it, sees a DIFFERENT version, and proceeds into the
      // write-tmp → delete → rename window the healer races
      p.delete()
      java.nio.file.Files.write(tmp.toPath, "v1".getBytes)
      val healer = new Thread(() =>
        try Snapshots.versionOfRef(spark, t, "m")
        catch { case _: Throwable => () })
      val publisher = new Thread(() =>
        try Snapshots.tag(spark, t, "m", 2, replace = true)
        catch { case e: Throwable => failures.compareAndSet(null, e) })
      healer.start(); publisher.start()
      healer.join(); publisher.join()
      assert(failures.get() == null,
        s"tag must accept a healer-completed publish: ${failures.get()}")
      assert(Snapshots.versionOfRef(spark, t, "m") == 2)
    }
  }

  test("publish sweeps aged _CURRENT.<uuid>.tmp debris but never a " +
      "live writer's fresh tmp") {
    val t = tmpDir("snap_tmp_sweep")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    val dir = new java.io.File(t)
    // a publisher that died between create(tmp) and the rename, long ago
    val stale = new java.io.File(dir,
      "_CURRENT.00000000-dead-beef-0000-000000000000.tmp")
    java.nio.file.Files.write(stale.toPath, "v1".getBytes)
    stale.setLastModified(System.currentTimeMillis() - 60 * 60 * 1000L)
    // a LIVE writer's in-flight tmp (fresh mtime) — must survive
    val live = new java.io.File(dir,
      "_CURRENT.11111111-1111-1111-1111-111111111111.tmp")
    java.nio.file.Files.write(live.toPath, "".getBytes)
    // the legacy shared-name tmp is the heal's input, never swept here
    val legacy = new java.io.File(dir, "_CURRENT.tmp")
    java.nio.file.Files.write(legacy.toPath, "v1".getBytes)
    legacy.setLastModified(System.currentTimeMillis() - 60 * 60 * 1000L)
    Snapshots.commitOverwritePartition(rows("d1", 1 to 3, 100), t,
      "day", "d1")
    assert(!stale.exists(), "aged uuid tmp must be reclaimed by publish")
    assert(live.exists(), "a fresh in-flight tmp must not be touched")
    assert(legacy.exists(),
      "the legacy shared-name tmp belongs to the heal, not the sweep")
    assert(Snapshots.currentVersion(spark, t) == 2)
  }

  test("deleteRows is era-aware under partition-spec evolution: legacy-" +
      "era keys are deleted, colliding-value legacy files not duplicated") {
    val s = spark
    import s.implicits._
    val t = tmpDir("snap_del_era")
    // era 1 (day): d1 holds key victim-1; d1's VALUE collides with an
    // era-2 bucket value — the adversarial layout
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)), t, "day")
    // era 2 (bucket): bucket=d1 collides with era-1 day=d1
    Snapshots.commitAppend(
      Seq(("e2-1", "z9", "d1", 1000L), ("e2-2", "z9", "x", 2000L))
        .toDF("id", "day", "bucket", "cents"), t, "bucket")
    // delete one key living in a LEGACY-era file (day=d1 holds d1-2)
    // and one in the new era (bucket=x holds e2-2), in one call
    val keys = Seq("d1-2", "e2-2").toDF("id")
    val touched = Snapshots.deleteRows(spark, t, "bucket", "id", keys)
    assert(touched == 2, "one partition per era rewritten")
    val cur = Snapshots.read(spark, t)
    assert(cur.where(col("id") === "d1-2").count() == 0,
      "legacy-era key must actually be deleted, not silently skipped")
    assert(cur.where(col("id") === "e2-2").count() == 0)
    assert(cur.where(col("day") === "d1").count() == 2,
      "exactly one row removed from day=d1 — no duplication from a " +
        "colliding-value pin")
    assert(cur.where(col("id") === "e2-1").count() == 1)
    assert(cur.count() == 2 + 3 + 1, "d1(2) + d2(3) + e2-1")
    // eras preserved: the rewritten legacy partition stays era 'day'
    val m = Snapshots.readManifest(spark, t,
      Snapshots.currentVersion(spark, t))
    assert(m.filter(_.partition == "d1").forall(_.spec.contains("day")) ||
      m.filter(e => e.spec.contains("day")).map(_.partition).toSet
        .contains("d1"),
      "a delete never migrates rows across eras")
    assert(m.filter(_.spec.contains("day")).map(_.partition).toSet ==
      Set("d1", "d2"))
    assert(m.filter(_.spec.contains("bucket")).map(_.partition).toSet ==
      Set("d1"), "bucket=x emptied to a pure tombstone, bucket=d1 intact")
  }

  test("mergeRows refuses a change batch touching legacy-era keys " +
      "(fail-fast, no silent duplicate) and still merges current-era ones") {
    val s = spark
    import s.implicits._
    val t = tmpDir("snap_merge_era")
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)), t, "day")
    Snapshots.commitAppend(
      Seq(("e2-1", "z9", "b1", 1000L)).toDF("id", "day", "bucket", "cents"),
      t, "bucket")
    // updating a key that lives in an era-1 file must refuse
    val bad = Seq(("d1-2", "z8", "b1", 7L, "U"))
      .toDF("id", "day", "bucket", "cents", "op")
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeRows(spark, t, "bucket", "id", bad)
    }
    assert(e.getMessage.contains("another partition-spec era"))
    // current-era merge still works, and never pins the colliding-value
    // legacy files (day=d1 vs a change landing in bucket partitions)
    val good = Seq(("e2-1", "z9", "b1", 9999L, "U"),
      ("e2-9", "z9", "d1", 1L, "I"))
      .toDF("id", "day", "bucket", "cents", "op")
    val v = Snapshots.mergeRows(spark, t, "bucket", "id", good)
    assert(v > 0)
    val cur = Snapshots.read(spark, t)
    assert(cur.where(col("id") === "e2-1").select("cents")
      .as[Long].head() == 9999L)
    assert(cur.where(col("id") === "e2-9").count() == 1)
    assert(cur.where(col("day") === "d1").count() == 3,
      "a change row LANDING in bucket=d1 must not rewrite or duplicate " +
        "the colliding-value era-1 day=d1 files")
    assert(cur.count() == 8)
  }

  test("tag first publish has no lost-ref window: a racing reader heal " +
      "never unpublishes a fresh tag (writer-unique tmp + atomicReplace)") {
    val t = tmpDir("snap_tag_first")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    Snapshots.commitOverwritePartition(rows("d1", 1 to 3, 100), t,
      "day", "d1")
    val refs = new java.io.File(t, "_refs")
    refs.mkdirs()
    val p = new java.io.File(refs, "first")
    val tmp = new java.io.File(refs, "first.tmp")
    for (i <- 1 to 60) {
      // FIRST-publish shape each round: no ref on disk, a stale legacy
      // shared-name tmp for the healer to promote mid-publish
      p.delete()
      java.nio.file.Files.write(tmp.toPath, "v1".getBytes)
      val healer = new Thread(() => {
        var n = 0
        while (n < 200 && !Thread.interrupted()) {
          Snapshots.listRefs(spark, t) // runs versionOfRefOpt's heal
          n += 1
        }
      })
      healer.start()
      try Snapshots.tag(spark, t, "first", 2, replace = true)
      finally { healer.interrupt(); healer.join() }
      assert(Snapshots.versionOfRef(spark, t, "first") == 2,
        s"round $i: tag must be published and stay published")
    }
  }

  test("commitOverwritePartitions EMPTY guard is era-scoped: a " +
      "colliding-value other-era file counts as a survivor") {
    val s = spark
    import s.implicits._
    val t = tmpDir("snap_empty_guard_era")
    Snapshots.commitFull(rows("d1", 1 to 2, 0), t, "day")
    Snapshots.commitAppend(
      Seq(("e2", "z", "d1", 5L)).toDF("id", "day", "bucket", "cents"),
      t, "bucket")
    // tombstone bucket=d1 with no replacement rows: era-1's day=d1
    // files survive (other era, colliding value) — the commit must be
    // ACCEPTED, not refused as empty
    val empty = Snapshots.read(spark, t).where(lit(false))
      .select("id", "day", "bucket", "cents")
    val v = Snapshots.commitOverwritePartitions(empty, t, "bucket",
      Seq("d1"))
    assert(v == 3)
    val cur = Snapshots.read(spark, t)
    assert(cur.count() == 2, "era-1 rows survive; e2 tombstoned")
    assert(cur.where(col("day") === "d1").count() == 2)
  }
  test("a pinned scan plans what spark.read.parquet over the same files " +
      "would — schema, rows, input_file_name, splits and size — from " +
      "sizes the manifest recorded at commit") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    val t = tmpDir("snap_index")
    // `cents` is non-nullable in the recorded schema
    Snapshots.commitFull((1 to 3000).map(i => (s"k$i", s"d${i % 3}",
      i.toLong)).toDF("id", "day", "cents"), t, "day")
    Snapshots.deleteRowsMoR(spark, t, "id", Seq("k7").toDF("id"))
    val entries = Snapshots.readManifest(spark, t, 2)
    entries.foreach { e =>
      val file = new java.io.File(s"$t/${e.path}")
      assert(e.bytes.contains(file.length) &&
        e.mtime.contains(file.lastModified), e.path)
    }
    val data = entries.filter(_.kind.isEmpty)
    val sch = Snapshots.schemaOf(spark, t, 1).get
    assert(!sch("cents").nullable)
    def splits(df: DataFrame): Seq[Seq[(String, Long, Long)]] =
      df.queryExecution.executedPlan.collectFirst {
        case x: FileSourceScanExec => x.inputRDD.partitions.toSeq.map(
          _.asInstanceOf[FilePartition].files.toSeq
            .map(f => (f.filePath.toString, f.start, f.length)))
      }.get
    def tagged(df: DataFrame): Set[(String, String, String, Long)] =
      df.select(input_file_name(), col("id"), col("day"), col("cents"))
        .as[(String, String, String, Long)].collect().toSet
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
    try {
      val mine = Snapshots.readAsOf(spark, t, 1)
      val ref = spark.read.schema(sch)
        .parquet(data.map(e => s"$t/${e.path}"): _*)
      assert(mine.schema == ref.schema)
      assert(splits(mine) == splits(ref))
      assert(splits(mine).size > data.size, "files split at 4k")
      assert(mine.queryExecution.optimizedPlan.stats.sizeInBytes ==
        ref.queryExecution.optimizedPlan.stats.sizeInBytes)
      assert(tagged(mine) == tagged(ref))
      assert(mine.inputFiles.toSet == ref.inputFiles.toSet)
      // the MoR read tags rows by input_file_name: the deleted key is gone
      assert(Snapshots.readAsOf(spark, t, 2).collect().toSet ==
        ref.where(col("id") =!= "k7").collect().toSet)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }
}
