package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The persisted-IVF claims the oracle equality cannot state: the serve
  * scan must read ONLY probed-cell files (manifest pruning), and the
  * stored-index answer must equal the inline pipeline's bit-for-bit.
  */
class IvfPersistSpec extends SparkSpec {

  /** 8 well-separated clusters of 10 vectors on basis dims 0..7; the 10
    * query vectors (vec_id < 10) all sit in cluster 0's corner, so their
    * nprobe=4 probes cover at most 4 of the 8 cells. */
  private lazy val dir: String = {
    val d = tmpDir("ivf-persist")
    val dim = 64
    val rows = for (cluster <- 0 until 8; i <- 0 until 10) yield {
      val id = cluster * 10 + i
      val v = new Array[Float](dim)
      v(cluster) = 1f
      v(16 + (id % 8)) = 0.05f * ((id % 3) + 1) // deterministic jitter
      Row(id.toLong, v.toSeq, cluster)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("serve scan reads only probed-cell files; answer matches inline") {
    val table = tmpDir("ivf-table") + "/index"
    val served = SimilarityQueries.knnIvfPersisted(spark, dir, table)
    val servedRows = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(servedRows.nonEmpty)

    val inline = SimilarityQueries
      .knnIvf(graft.Tables.embeddings(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(servedRows.toSeq == inline.toSeq,
      "stored-index serve must equal the inline pipeline")

    // pruning: the final plan's input files under the index table must
    // be a strict subset of the committed data files
    def dataFiles(p: java.io.File): Seq[String] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(dataFiles)
      else if (p.getName.endsWith(".parquet")
        && !p.getPath.contains("_manifests")) Seq(p.getPath)
      else Nil
    val committed = dataFiles(new java.io.File(table))
    val scanned = scannedFiles(served).toSeq.filter(_.contains(table))
      .filterNot(_.contains("_manifests"))
    assert(committed.size >= 5, s"degenerate index: ${committed.size} files")
    assert(scanned.nonEmpty && scanned.length < committed.size,
      s"expected pruned scan: read ${scanned.length} of ${committed.size}")
  }

  test("appended generation is served without retrain") {
    val table = tmpDir("ivf-append-table") + "/index"
    val rows = SimilarityQueries.knnIvfAppended(spark, dir, table)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // cluster 0 holds ids 0..9; the odd ones arrive in the APPENDED
    // generation, and as same-cluster twins they must rank in the
    // served top-3 — proving serve reads the manifest union, not just
    // the base commit
    assert(rows.exists { case (_, neighbor) => neighbor % 2 == 1 },
      s"no appended (odd) vector served: ${rows.toSeq}")
    assert(graft.io.Snapshots.currentVersion(spark, table) == 2)
  }
}
