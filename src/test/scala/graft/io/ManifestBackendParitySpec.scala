package graft.io

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.io.Snapshots.FileEntry

/** The two manifest backends compose one metadata log under the same
  * tombstone rules twice: [[Snapshots.driverManifest]] filters parquet-mr
  * reads on the driver, [[Snapshots.planManifest]] runs a lazy union +
  * broadcast anti-join. A resolution picks one by the manifest's byte
  * size alone, so no other spec decides which runs; this one calls both
  * at every version of a table whose history exercises every rule. */
class ManifestBackendParitySpec extends SparkSpec {

  private def frame(day: String, typ: String, ids: Range): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (s"$day-$typ-$i", day, typ, i.toLong))
      .toDF("id", "day", "typ", "cents")
  }

  private def driverSide(t: String, v: Int): Seq[FileEntry] =
    Snapshots.driverManifest(spark, t, Snapshots.chainOf(spark, t, v),
      Long.MaxValue).get.sortBy(_.path)

  private def planSide(t: String, v: Int): Seq[FileEntry] = {
    val s = spark
    import s.implicits._
    Snapshots.planManifest(spark, t, Snapshots.chainOf(spark, t, v))
      .as[FileEntry].collect().toSeq.sortBy(_.path)
  }

  test("driver-side and plan-side compositions return identical entries " +
      "at every version: checkpoint + deltas, same- and cross-era " +
      "tombstones, a MoR delete, a vacuum re-checkpoint") {
    val s = spark
    import s.implicits._
    val t = tmpDir("manifest_parity")
    val stats = Seq("cents")
    // v1 checkpoint, day-era
    Snapshots.commitFull(frame("d1", "x", 1 to 2)
      .unionByName(frame("d2", "x", 1 to 2))
      .unionByName(frame("d3", "y", 1 to 2)), t, "day", stats)
    // v2 append; v3 same-era tombstone of d1; v4 MoR delete
    Snapshots.commitAppend(frame("d4", "x", 1 to 2), t, "day", stats)
    Snapshots.commitOverwritePartition(frame("d1", "x", 5 to 6), t, "day",
      "d1", stats)
    Snapshots.deleteRowsMoR(spark, t, "id", Seq("d2-x-1").toDF("id"))
    // v5 spec change to `typ`, whose value "d2" collides with a day-era
    // partition; v6 tombstones typ=d2, which must spare day-era d2
    Snapshots.commitAppend(frame("d9", "d2", 1 to 2), t, "typ", stats)
    Snapshots.commitOverwritePartition(frame("d9", "d2", 7 to 8), t, "typ",
      "d2", stats)
    // v7..v11: v9 is the next checkpoint, v10 and v11 deltas on it
    (7 to 11).foreach(i =>
      Snapshots.commitAppend(frame(s"e$i", "z", 1 to 1), t, "typ", stats))
    assert(Snapshots.readDeltaMeta(spark, t, 9).isEmpty, "v9 checkpoint")
    assert(Snapshots.readDeltaMeta(spark, t, 10).isDefined, "v10 delta")
    (1 to 11).foreach(v =>
      assert(driverSide(t, v) == planSide(t, v), s"v$v"))
    // the history really exercises each rule
    val v6 = driverSide(t, 6)
    assert(v6.exists(e => e.partition == "d2" && e.spec.contains("day")),
      "a cross-era tombstone spares the other era's colliding value")
    assert(!v6.exists(e => e.spec.contains("typ") && e.seq.contains(5)),
      "a same-era tombstone removes older files of its partition")
    assert(!driverSide(t, 3).exists(e => e.partition == "d1" &&
      e.seq.contains(1)), "v3 tombstoned v1's d1")
    assert(v6.exists(_.kind.contains("delete:id")))
    // vacuum re-checkpoints the delta floor in place
    Snapshots.vacuum(spark, t, 10)
    assert(Snapshots.readDeltaMeta(spark, t, 10).isEmpty,
      "v10 re-checkpointed")
    (10 to 11).foreach(v =>
      assert(driverSide(t, v) == planSide(t, v), s"v$v after vacuum"))
  }
  /** Every published version (and `extra` ones) resolved on the driver
    * twice — the second from a warm segment cache — equals the
    * plan-side composition. */
  private def assertParity(t: String, extra: Int*): Unit =
    ((1 to Snapshots.currentVersion(spark, t)) ++ extra).foreach { v =>
      val plan = planSide(t, v)
      assert(driverSide(t, v) == plan, s"v$v")
      assert(driverSide(t, v) == plan, s"v$v, warm cache")
    }

  test("warm-cache driver resolutions equal the plan-side composition " +
      "at every version: through checkpoints, a vacuum re-checkpoint, " +
      "and a crashed commit driven again after breakReservation") {
    val t = tmpDir("manifest_cache_parity")
    val stats = Seq("cents")
    Snapshots.commitFull(frame("d1", "x", 1 to 2)
      .unionByName(frame("d2", "x", 1 to 2)), t, "day", stats)
    (2 to 4).foreach { i =>
      Snapshots.commitAppend(frame(s"a$i", "x", 1 to 2), t, "day", stats)
      assertParity(t)
    }
    // a crashed commit: its slot reserved and its delta written, then
    // the writer died before the pointer publish. A resolution of the
    // unpublished dir warms the cache with the content the re-driven
    // commit is about to replace
    val crashed = Snapshots.currentVersion(spark, t) + 1
    Snapshots.reserve(spark, t, crashed)
    Snapshots.writeDelta(spark, t, crashed,
      Seq(FileEntry(s"data/c$crashed/day=ghost/f.parquet", "ghost", 1L,
        Map.empty, Some("day"), seq = Some(crashed))), Nil, Some("day"))
    assert(driverSide(t, crashed).exists(_.partition == "ghost"))
    assert(Snapshots.breakReservation(spark, t, crashed))
    assert(Snapshots.commitOverwritePartition(frame("d1", "x", 7 to 8), t,
      "day", "d1", stats) == crashed)
    assert(!driverSide(t, crashed).exists(_.partition == "ghost"))
    assertParity(t)
    // past the next checkpoint, then vacuum re-checkpoints the delta floor
    (6 to 11).foreach(i =>
      Snapshots.commitAppend(frame(s"b$i", "x", 1 to 1), t, "day", stats))
    assertParity(t)
    assert(Snapshots.readDeltaMeta(spark, t, 10).isDefined, "v10 delta")
    Snapshots.vacuum(spark, t, 10)
    assert(Snapshots.readDeltaMeta(spark, t, 10).isEmpty,
      "v10 re-checkpointed")
    (10 to 11).foreach { v =>
      val plan = planSide(t, v)
      assert(driverSide(t, v) == plan && driverSide(t, v) == plan, s"v$v")
    }
    assert(Snapshots.readManifest(spark, t, 11).map(_.path).sorted ==
      planSide(t, 11).map(_.path))
  }

  test("a vacuumed version is refused with the retention error after " +
      "its segments were cached") {
    val t = tmpDir("manifest_cache_vacuum")
    Snapshots.commitFull(frame("d1", "x", 1 to 2), t, "day")
    (2 to 4).foreach(i =>
      Snapshots.commitAppend(frame(s"d$i", "x", 1 to 2), t, "day"))
    val counts = (1 to 4).map(v => Snapshots.readAsOf(spark, t, v).count())
    Snapshots.vacuum(spark, t, 3)
    // the second vacuum deletes the graced dirs below the first floor
    Snapshots.vacuum(spark, t, 3)
    Seq(1, 2).foreach { v =>
      val e = intercept[IllegalArgumentException] {
        Snapshots.readAsOf(spark, t, v)
      }
      assert(e.getMessage.contains("vacuumed"), s"v$v: ${e.getMessage}")
    }
    assert((3 to 4).map(v => Snapshots.readAsOf(spark, t, v).count()) ==
      counts.drop(2))
  }

  test("a manifest written without bytes/mtime (the format before they " +
      "were recorded) reads back the same rows, beside sized entries") {
    import org.apache.hadoop.fs.Path
    val t = tmpDir("manifest_unsized")
    Snapshots.commitFull(frame("d1", "x", 1 to 3)
      .unionByName(frame("d2", "x", 1 to 3)), t, "day")
    Snapshots.commitAppend(frame("d3", "x", 1 to 3), t, "day")
    def rowSet(v: Int): Set[String] =
      Snapshots.readAsOf(spark, t, v).collect().map(_.toString).toSet
    val before = (1 to 2).map(rowSet)
    // rewrite both segments without the two columns
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1 to 2).foreach { v =>
      val dir = new Path(t, s"_manifests/v$v")
      val old = f.globStatus(new Path(dir, "*.parquet")).map(_.getPath)
      val tmp = new Path(t, s"_unsized_v$v")
      val legacy = spark.read.parquet(old.map(_.toString): _*)
        .drop("bytes", "mtime")
      spark.createDataFrame(legacy.collect().toSeq.asJava, legacy.schema)
        .coalesce(1).write.parquet(tmp.toString)
      assert(!spark.read.parquet(tmp.toString).columns.contains("bytes"))
      old.foreach(f.delete(_, false))
      f.globStatus(new Path(tmp, "*.parquet")).foreach(st =>
        assert(f.rename(st.getPath, new Path(dir, st.getPath.getName))))
    }
    assert((1 to 2).forall(v =>
      Snapshots.readManifest(spark, t, v).forall(_.bytes.isEmpty)))
    assert((1 to 2).map(rowSet) == before)
    Snapshots.commitAppend(frame("d4", "x", 1 to 3), t, "day")
    val mixed = Snapshots.readManifest(spark, t, 3)
    assert(mixed.exists(_.bytes.isEmpty) && mixed.exists(_.bytes.isDefined))
    assert(rowSet(3) == before(1) ++
      frame("d4", "x", 1 to 3).collect().map(_.toString))
    assert(driverSide(t, 3) == planSide(t, 3))
  }
}
