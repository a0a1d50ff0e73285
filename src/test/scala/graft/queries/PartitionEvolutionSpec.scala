package graft.queries

import graft.SparkSpec

/** The pruning claim the partition-evolution oracle cannot state: the
  * type-filtered serve must skip the era-2 files of every OTHER event
  * type at planning time, while still reading all era-1 (date-
  * partitioned) files — per-file stats pruning working across two
  * heterogeneous layouts in one table.
  */
class PartitionEvolutionSpec extends SparkSpec {

  test("type-filtered read prunes evolved-era files, scans legacy era") {
    val dir = "/root/testdata/sf0.001"
    val served = SnapshotQueries.partitionEvolutionServe(spark, dir)
    assert(served.count() > 0)

    val table = s"${sys.props("java.io.tmpdir")}/graft_snapshot_q/" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_evolve"
    def dataFiles(p: java.io.File): Seq[String] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(dataFiles)
      else if (p.getName.endsWith(".parquet")
        && !p.getPath.contains("_manifests")) Seq(p.getPath)
      else Nil
    val committed = dataFiles(new java.io.File(table))
    val scanned = scannedFiles(served).toSeq.filter(_.contains(table))
    // era 2 wrote one dir per event type; all but 'purchase' must be
    // pruned, so the scan is strictly smaller than the committed set
    assert(scanned.nonEmpty && scanned.length < committed.size,
      s"expected pruned scan: read ${scanned.length} of ${committed.size}")
    // commit layout shadows the caller's partition column as gp=<value>;
    // eras are distinguished by their version dirs (c1 = date layout,
    // c2 = type layout)
    val era2 = scanned.filter(_.contains("/c2/"))
    assert(era2.nonEmpty && era2.forall(_.contains("gp=purchase")),
      s"era-2 scan should touch only the purchase dir: ${era2.toSeq}")
    assert(scanned.exists(_.contains("/c1/")),
      "era-1 date-partitioned files must still be served")
  }
}
