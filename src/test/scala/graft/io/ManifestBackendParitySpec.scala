package graft.io

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
}
