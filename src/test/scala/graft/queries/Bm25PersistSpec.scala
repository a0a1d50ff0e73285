package graft.queries

import graft.SparkSpec

/** The persisted-BM25 claim its oracle cannot state: the serve leg must
  * read only the query terms' posting files off the manifest, not the
  * whole postings table.
  */
class Bm25PersistSpec extends SparkSpec {

  test("serve reads a strict subset of the committed posting files") {
    val q = TextQueries.all.find(_.name == "text_bm25_persist").get
    val d = "/root/testdata/sf0.001"
    val df = q.run(spark, d) // build commits eagerly; serve paths pinned
    assert(df.collect().nonEmpty)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val postings = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_bm25_index/$tag/postings")
    def dataFiles(p: java.io.File): Seq[String] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(dataFiles)
      else if (p.getName.endsWith(".parquet")
        && !p.getPath.contains("_manifests")) Seq(p.getPath)
      else Nil
    val committed = dataFiles(postings)
    val scanned = scannedFiles(df).toSeq
      .filter(_.contains("graft_bm25_index"))
      .filterNot(_.contains("_manifests"))
    assert(committed.size >= 4,
      s"degenerate postings layout: ${committed.size} files")
    assert(scanned.nonEmpty && scanned.length < committed.size,
      s"expected pruned serve: read ${scanned.length} of ${committed.size}")
  }
}
