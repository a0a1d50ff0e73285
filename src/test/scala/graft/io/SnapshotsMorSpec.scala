package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read deletes ([[Snapshots.deleteRowsMoR]] /
  * [[Snapshots.compactDeletes]]): the metadata-only delete path and
  * its seq-scoped read semantics. */
class SnapshotsMorSpec extends SparkSpec {

  private def rows(part: String, ids: Range, v: Long): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (s"$part-$i", part, v + i)).toDF("id", "day", "cents")
  }

  private def keyDf(ks: String*): DataFrame = {
    val s = spark
    import s.implicits._
    ks.toDF("id")
  }

  private def ids(df: DataFrame): Set[String] = {
    val s = spark
    import s.implicits._
    df.select("id").as[String].collect().toSet
  }

  test("a 1-key MoR delete commits O(tombstone): one added key file, " +
      "zero data files rewritten; reads exclude the key, time travel " +
      "below the delete still sees it") {
    val t = tmpDir("mor_basic")
    val v1 = Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)), t, "day")
    val v2 = Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    assert(v2 == 2)
    // structural O(tombstone): every v1 data file carried by reference,
    // exactly one new file, and it is the delete key set
    val m1 = Snapshots.readManifest(spark, t, v1).map(_.path).toSet
    val m2 = Snapshots.readManifest(spark, t, v2)
    assert(m2.map(_.path).toSet.intersect(m1) == m1,
      "a MoR delete rewrites NO data files")
    val added = m2.filterNot(e => m1.contains(e.path))
    assert(added.size == 1 && added.head.kind.contains("delete:id") &&
      added.head.seq.contains(2) && added.head.rows == 1L)
    // read semantics
    assert(ids(Snapshots.read(spark, t)) ==
      Set("d1-1", "d1-3", "d2-1", "d2-2", "d2-3"))
    assert(ids(Snapshots.readAsOf(spark, t, v1)).contains("d1-2"),
      "time travel below the delete is undisturbed")
    // empty key set is a no-op, not a version
    assert(Snapshots.deleteRowsMoR(spark, t, "id",
      keyDf().where(lit(false))) == 0)
    assert(Snapshots.currentVersion(spark, t) == 2)
  }

  test("seq scoping: re-inserting a deleted key AFTER the delete is " +
      "visible (the delete reaches only older files)") {
    val s = spark
    import s.implicits._
    val t = tmpDir("mor_seq")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    assert(!ids(Snapshots.read(spark, t)).contains("d1-2"))
    // the key returns in a NEWER commit — its file's seq (3) exceeds
    // the delete's (2), so the delete must not suppress it
    Snapshots.commitAppend(
      Seq(("d1-2", "d1", 999L)).toDF("id", "day", "cents"), t, "day")
    val cur = Snapshots.read(spark, t)
    assert(ids(cur).contains("d1-2"))
    assert(cur.where(col("id") === "d1-2").select("cents")
      .as[Long].head() == 999L, "the RE-INSERTED row, not the old one")
    assert(cur.count() == 3)
  }

  test("CoW and MoR deletes produce identical reads; pruned reads " +
      "(readRange/readPartition) apply the deletes too") {
    val t1 = tmpDir("mor_vs_cow_a")
    val t2 = tmpDir("mor_vs_cow_b")
    val data = rows("d1", 1 to 4, 0).unionByName(rows("d2", 1 to 4, 100))
    Snapshots.commitFull(data, t1, "day", statsCols = Seq("cents"))
    Snapshots.commitFull(data, t2, "day", statsCols = Seq("cents"))
    Snapshots.deleteRows(spark, t1, "day", "id", keyDf("d1-2", "d2-3"),
      statsCols = Seq("cents"))
    Snapshots.deleteRowsMoR(spark, t2, "id", keyDf("d1-2", "d2-3"))
    val a = Snapshots.read(spark, t1)
    val b = Snapshots.read(spark, t2)
    assert(ids(a) == ids(b), "CoW and MoR reads must be identical")
    assert(ids(Snapshots.readRange(spark, t2, "cents", "0", "150")) ==
      ids(Snapshots.readRange(spark, t1, "cents", "0", "150")),
      "stats-pruned reads apply MoR deletes")
    assert(ids(Snapshots.readPartition(spark, t2, "day", "d1")) ==
      Set("d1-1", "d1-3", "d1-4"),
      "partition reads apply MoR deletes")
  }

  test("compactDeletes folds: answers unchanged, delete files dropped " +
      "from the manifest, suppressed rows physically gone, untouched " +
      "partitions carried by reference") {
    val t = tmpDir("mor_fold")
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)), t, "day")
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-3"))
    val before = ids(Snapshots.read(spark, t))
    val folded = Snapshots.compactDeletes(spark, t, "day")
    assert(folded == 1, "only d1 holds suppressed rows")
    assert(ids(Snapshots.read(spark, t)) == before)
    val cur = Snapshots.currentVersion(spark, t)
    val m = Snapshots.readManifest(spark, t, cur)
    assert(!m.exists(_.kind.exists(_.startsWith("delete:"))),
      "fold drops every delete file from the manifest")
    // untouched partition carried by reference; rewritten one fresh
    val m1 = Snapshots.readManifest(spark, t, 1)
    assert(m.filter(_.partition == "d2").map(_.path).toSet ==
      m1.filter(_.partition == "d2").map(_.path).toSet)
    assert(m.filter(_.partition == "d1").map(_.path)
      .forall(p => !m1.exists(_.path == p)))
    // the rewritten files no longer depend on any delete file: a raw
    // scan of the manifest's data files shows the keys gone
    assert(!ids(Snapshots.readAsOf(spark, t, cur)).exists(
      Set("d1-2", "d1-3")), "suppressed rows physically removed")
    // idempotent: nothing left to fold
    assert(Snapshots.compactDeletes(spark, t, "day") == 0)
  }

  test("no resurrection: copy-on-write rewrites (commitCompact, " +
      "deleteRows, mergeRows) read the MoR-filtered view") {
    val s = spark
    import s.implicits._
    val t = tmpDir("mor_resurrect")
    Snapshots.commitFull(
      rows("d1", 1 to 4, 0).unionByName(rows("d2", 1 to 4, 100)), t, "day")
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    // compacting d1 writes files with a NEWER seq than the delete —
    // without the MoR-filtered scan, d1-2 would ride back in
    Snapshots.commitCompact(spark, t, "day", "d1")
    assert(!ids(Snapshots.read(spark, t)).contains("d1-2"),
      "commitCompact must not resurrect a MoR-deleted row")
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d2-2"))
    // CoW-deleting ANOTHER key in the same partition rewrites d2
    Snapshots.deleteRows(spark, t, "day", "id", keyDf("d2-4"))
    assert(ids(Snapshots.read(spark, t)).intersect(
      Set("d1-2", "d2-2", "d2-4")).isEmpty,
      "deleteRows must not resurrect a MoR-deleted row")
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d2-1"))
    // merging an update into d2 rewrites it again
    Snapshots.mergeRows(spark, t, "day", "id",
      Seq(("d2-3", "d2", 7777L, "U")).toDF("id", "day", "cents", "op"))
    val cur = Snapshots.read(spark, t)
    assert(!ids(cur).contains("d2-1"),
      "mergeRows must not resurrect a MoR-deleted row")
    assert(cur.where(col("id") === "d2-3").select("cents")
      .as[Long].head() == 7777L)
    assert(ids(cur) == Set("d1-1", "d1-3", "d1-4", "d2-3"))
  }

  test("SQL catalog SERVES a version with active MoR deletes (V1 " +
      "bridge ≡ library morScan) and stays on the vectorized path " +
      "after the fold; readChanges never surfaces a delete file") {
    val root = tmpDir("mor_sql")
    val t = s"$root/tab"
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    val vDel = Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    // incremental consumers: the delete commit adds only metadata
    assert(Snapshots.readChanges(spark, t, 1, vDel).count() == 0,
      "a MoR delete commit adds no rows to the append stream")
    spark.conf.set("spark.sql.catalog.morsql",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.morsql.root", root)
    assert(ids(spark.sql("SELECT * FROM morsql.tab")) ==
      ids(Snapshots.read(spark, t)),
      "SQL must serve the MoR-filtered view, not raw files")
    assert(ids(spark.sql("SELECT * FROM morsql.tab")) ==
      Set("d1-1", "d1-3"))
    assert(spark.sql("SELECT count(*) AS n FROM morsql.tab")
      .head().getLong(0) == 2,
      "zero-column pruning (COUNT(*)) works through the V1 bridge")
    Snapshots.compactDeletes(spark, t, "day")
    assert(spark.sql("SELECT count(*) AS n FROM morsql.tab")
      .head().getLong(0) == 2, "folding keeps the same answer")
  }

  test("compactDeletes folds the UNION of partitions across delete " +
      "KEY COLUMNS — a delete only one key column's files suppress " +
      "must not resurrect when the delete files drop") {
    val s = spark
    import s.implicits._
    val t = tmpDir("mor_twokey")
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)), t, "day")
    // two DIFFERENT key columns, each suppressing a row in a
    // DIFFERENT partition: the affected set is their union; an
    // intersection (chained semi-joins) would be empty, skip the
    // rewrite, then drop both delete files — resurrecting both rows
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    Snapshots.deleteRowsMoR(spark, t, "cents",
      Seq(102L).toDF("cents")) // d2-2's cents
    val before = ids(Snapshots.read(spark, t))
    assert(before == Set("d1-1", "d1-3", "d2-1", "d2-3"))
    assert(Snapshots.compactDeletes(spark, t, "day") == 2,
      "both partitions hold suppressed rows → both fold")
    assert(ids(Snapshots.read(spark, t)) == before,
      "the fold changes no answer")
    val cur = Snapshots.currentVersion(spark, t)
    assert(!Snapshots.readManifest(spark, t, cur)
      .exists(_.kind.exists(_.startsWith("delete:"))))
    assert(ids(Snapshots.readAsOf(spark, t, cur)) == before,
      "suppressed rows physically gone from BOTH partitions")
  }

  test("compactDeletes refuses a partition-spec-evolved table (the " +
      "CoW rewrite would commit legacy-era files under the wrong " +
      "spec); deleteRows per era stays the documented fold path") {
    val s = spark
    import s.implicits._
    val t = tmpDir("mor_specguard")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    Snapshots.commitAppend(
      Seq(("e2-1", "d1", "b1", 1000L)).toDF("id", "day", "bucket", "cents"),
      t, "bucket")
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    val e = intercept[IllegalArgumentException] {
      Snapshots.compactDeletes(spark, t, "bucket")
    }
    assert(e.getMessage.contains("era"),
      s"refusal must name the spec-era cause, got: ${e.getMessage}")
    assert(ids(Snapshots.read(spark, t)) ==
      Set("d1-1", "d1-3", "e2-1"), "refused fold changes nothing")
  }

  test("a table ROOTED under a path containing 'data/c' anchors " +
      "manifest-relative paths correctly: MoR seq scoping holds and " +
      "vacuum never deletes live files") {
    val s = spark
    import s.implicits._
    // the adversarial root: literal 'data/c' INSIDE the table path —
    // a first-occurrence substring anchor would mis-relativize every
    // file, break the seq join (over-applying deletes), and make
    // vacuum's liveness anti-join miss every live file
    val t = tmpDir("mor_adv") + "/data/corpus/t"
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    Snapshots.commitAppend(
      Seq(("d1-2", "d1", 999L)).toDF("id", "day", "cents"), t, "day")
    val cur = Snapshots.read(spark, t)
    assert(ids(cur) == Set("d1-1", "d1-2", "d1-3"),
      "the re-inserted key's file seq must beat the delete's")
    assert(cur.where(col("id") === "d1-2").select("cents")
      .as[Long].head() == 999L)
    // vacuum with full retention must reclaim superseded files only —
    // never the live set (mis-relativized paths would all look dead)
    Snapshots.commitOverwritePartition(rows("d1", 1 to 2, 50), t,
      "day", "d1")
    Snapshots.vacuum(spark, t, Snapshots.currentVersion(spark, t))
    assert(ids(Snapshots.read(spark, t)) == Set("d1-1", "d1-2"),
      "live files survive vacuum under the adversarial root")
  }

  test("vacuum reclaims folded delete files once their manifests age " +
      "out; live delete files survive") {
    val t = tmpDir("mor_vacuum")
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    val delFile = new java.io.File(t, "data/c2/_del")
    assert(delFile.isDirectory)
    // live delete file: vacuum up to current must keep it
    Snapshots.vacuum(spark, t, 2)
    assert(delFile.isDirectory && delFile.listFiles()
      .exists(_.getName.endsWith(".parquet")),
      "an ACTIVE delete file is live state, never reclaimed")
    Snapshots.compactDeletes(spark, t, "day")
    Snapshots.vacuum(spark, t, Snapshots.currentVersion(spark, t))
    assert(!delFile.listFiles().exists(_.getName.endsWith(".parquet")),
      "after the fold drops its manifest entry, vacuum reclaims the " +
        "delete file")
    assert(ids(Snapshots.read(spark, t)) == Set("d1-1", "d1-3"))
  }

  test("planning a pinned read starts no Spark job, with or without an " +
      "active delete file (delete keys are read under their known " +
      "schema, never footer-inferred)") {
    val s = spark
    import s.implicits._
    val t = tmpDir("mor_plan_jobs")
    // 40 partitions, one file each: above Spark's 32-path threshold for
    // a parallel listing job, which no read, merge probe or fold may start
    val days = (1 to 40).map(d => s"d$d")
    Snapshots.commitFull(days.zipWithIndex.map { case (d, i) =>
        rows(d, 1 to 3, 100L * i) }.reduce(_.unionByName(_)), t, "day",
      statsCols = Seq("cents"))
    assert(Snapshots.readManifest(spark, t, 1).size > 32)
    // each read is built AND physically planned: its scans' file
    // listings (where the file index prunes the manifest) run too
    def planJobs(): Map[String, Int] = {
      val v = Snapshots.currentVersion(spark, t)
      Seq[(String, () => DataFrame)](
        "readPartition" -> (() =>
          Snapshots.readPartition(spark, t, "day", "d1")),
        "readIn" -> (() =>
          Snapshots.readIn(spark, t, "cents", Seq("1", "101"))),
        "readRange" -> (() =>
          Snapshots.readRange(spark, t, "cents", "0", "50")),
        "readAsOf" -> (() => Snapshots.readAsOf(spark, t, v)),
        "readAsOf.where" -> (() =>
          Snapshots.readAsOf(spark, t, v).where(col("day") === "d2"))
      ).map { case (name, df) =>
        var files = Set.empty[String]
        val jobs = jobsStartedBy { files = scannedFiles(df()) }
        assert(files.nonEmpty, name)
        name -> jobs
      }.toMap
    }
    // a listing (or footer-inference) job runs outside any SQL execution
    def listingJobs(body: => Unit): Int =
      jobPropertiesOf(body)
        .count(_.getProperty("spark.sql.execution.id") == null)
    // one update per partition: the merge probes and rewrites all 40
    def touchAll(round: Int): Unit =
      Snapshots.mergeRows(spark, t, "day", "id",
        days.map(d => (s"$d-1", d, 1000L * round, "U"))
          .toDF("id", "day", "cents", "op"))
    assert(planJobs().values.forall(_ == 0),
      s"plain table: ${planJobs()}")
    assert(listingJobs(touchAll(1)) == 0, "mergeRows, no delete file")
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d1-2"))
    val withDeletes = planJobs()
    assert(withDeletes.values.forall(_ == 0),
      s"active delete file: $withDeletes")
    assert(listingJobs(touchAll(2)) == 0, "mergeRows, active delete file")
    assert(listingJobs(Snapshots.compactDeletes(spark, t, "day")) == 0,
      "compactDeletes")
    // the typed delete-key read still answered, and the fold kept it
    assert(ids(Snapshots.readPartition(spark, t, "day", "d1")) ==
      Set("d1-1", "d1-3"))
    assert(Snapshots.read(spark, t).where(col("id").endsWith("-1"))
      .select("cents").as[Long].collect().toSet == Set(2000L))
  }

  test("a filter over readAsOf prunes its file index: readAsOf(v)" +
      ".where(day = d3) scans exactly readPartition's files, with and " +
      "without an active delete file") {
    val t = tmpDir("mor_asof_prune")
    Snapshots.commitFull((1 to 5).map(d => rows(s"d$d", 1 to 3, 10L * d))
      .reduce(_.unionByName(_)), t, "day")
    def dataFiles(df: DataFrame): Set[String] =
      scannedFiles(df).filterNot(_.contains("/_del/"))
    def check(want: Set[String]): Unit = {
      val v = Snapshots.currentVersion(spark, t)
      val asOf = Snapshots.readAsOf(spark, t, v).where(col("day") === "d3")
      val part = Snapshots.readPartition(spark, t, "day", "d3")
      val d3 = Snapshots.readManifest(spark, t, v)
        .filter(e => e.kind.isEmpty && e.partition == "d3").map(_.path)
      assert(d3.nonEmpty)
      assert(dataFiles(asOf) == dataFiles(part))
      assert(dataFiles(asOf).size == d3.size &&
        d3.forall(p => dataFiles(asOf).exists(_.endsWith(p))),
        s"only d3's files: ${dataFiles(asOf)}")
      assert(ids(asOf) == want && ids(part) == want)
    }
    check(Set("d3-1", "d3-2", "d3-3"))
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d3-2"))
    check(Set("d3-1", "d3-3"))
  }

  test("compactDeletes bounds its probe by the delete files' recorded " +
      "key ranges: no aggregate over the delete keys, the same " +
      "partitions folded") {
    val t = tmpDir("mor_fold_ranges")
    Snapshots.commitFull((1 to 6).map(d => rows(s"d$d", 1 to 3, 10L * d))
      .reduce(_.unionByName(_)), t, "day", statsCols = Seq("id"))
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d2-1", "d2-3"))
    Snapshots.deleteRowsMoR(spark, t, "id", keyDf("d5-2"))
    // each delete file records its key's footer min/max
    val dels = Snapshots.readManifest(spark, t, 3)
      .filter(_.kind.contains("delete:id"))
    assert(dels.map(e => (e.stats("id").lo, e.stats("id").hi)).toSet ==
      Set(("d2-1", "d2-3"), ("d5-2", "d5-2")))
    var folded = 0
    val jobs = jobsStartedBy {
      folded = Snapshots.compactDeletes(spark, t, "day", Seq("id"))
    }
    assert(folded == 2, "d2 and d5 hold suppressed rows")
    // at most 10 jobs; a min/max aggregate over the delete keys to
    // bound the probe would add 2 of its own (12)
    assert(jobs <= 10, s"compactDeletes started $jobs jobs")
    assert(ids(Snapshots.read(spark, t)) ==
      (1 to 6).flatMap(d => (1 to 3).map(i => s"d$d-$i")).toSet --
        Set("d2-1", "d2-3", "d5-2"))
    assert(Snapshots.readManifest(spark, t, Snapshots.currentVersion(
      spark, t)).forall(_.kind.isEmpty), "the fold drops the delete files")
  }

  test("the empty-version guard counts DATA files only: a fold or a " +
      "copy-on-write delete that would leave only delete files is " +
      "refused, its slot released, and reads stay at the old version") {
    // every row MoR-deleted, then folded: the rewrite empties the table
    val t1 = tmpDir("mor_empty_fold")
    Snapshots.commitFull(rows("d1", 1 to 2, 0), t1, "day")
    Snapshots.deleteRowsMoR(spark, t1, "id", keyDf("d1-1", "d1-2"))
    intercept[IllegalArgumentException] {
      Snapshots.compactDeletes(spark, t1, "day")
    }
    assert(Snapshots.currentVersion(spark, t1) == 2)
    assert(ids(Snapshots.read(spark, t1)).isEmpty)
    assert(ids(Snapshots.readPartition(spark, t1, "day", "d1")).isEmpty)
    assert(Snapshots.commitAppend(rows("d2", 1 to 1, 0), t1, "day") == 3,
      "the refused commit released its reservation")
    // copy-on-write delete of every live key while a delete file is
    // active: only the delete file would survive
    val t2 = tmpDir("mor_empty_cow")
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 2, 100)), t2, "day")
    Snapshots.deleteRowsMoR(spark, t2, "id", keyDf("d1-3"))
    intercept[IllegalArgumentException] {
      Snapshots.deleteRows(spark, t2, "day", "id",
        keyDf("d1-1", "d1-2", "d2-1", "d2-2"))
    }
    assert(Snapshots.currentVersion(spark, t2) == 2)
    assert(ids(Snapshots.read(spark, t2)) ==
      Set("d1-1", "d1-2", "d2-1", "d2-2"))
    assert(Snapshots.deleteRowsMoR(spark, t2, "id", keyDf("d2-2")) == 3,
      "the refused commit released its reservation")
  }
}
