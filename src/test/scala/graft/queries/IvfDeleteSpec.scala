package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.io.Snapshots

/** Vector deletes in the persisted IVF store: the merge-on-read
  * tombstone serve and the copy-on-write compacted serve must answer
  * identically, deleted vectors must never serve from either, and
  * compaction must converge — the compacted store physically holds no
  * deleted row and a re-run compaction is a no-op.
  */
class IvfDeleteSpec extends SparkSpec {

  /** The IvfPersistSpec corpus: 8 well-separated clusters of 10, query
    * ids < 10 in cluster 0. The emb_ivf_delete batch
    * (vec_id % 7 = 3 AND vec_id >= 10) erases 10 ids spread over the
    * non-query clusters. */
  private lazy val dir: String = {
    val d = tmpDir("ivf-delete")
    val dim = 64
    val rows = for (cluster <- 0 until 8; i <- 0 until 10) yield {
      val id = cluster * 10 + i
      val v = new Array[Float](dim)
      v(cluster) = 1f
      v(16 + (id % 8)) = 0.05f * ((id % 3) + 1)
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

  private def deleted(id: Long): Boolean = id % 7 == 3 && id >= 10

  test("tombstone serve equals compacted serve; deleted ids never " +
      "appear in either") {
    val t1 = tmpDir("ivf-del-mor") + "/index"
    val t2 = tmpDir("ivf-del-cow") + "/index"
    val mor = SimilarityQueries.knnIvfDeleted(spark, dir, t1)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val cow = SimilarityQueries.knnIvfDeleted(spark, dir, t2,
      compact = true)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(mor.nonEmpty)
    assert(mor.toSeq == cow.toSeq,
      "merge-on-read and compacted serves must answer identically")
    assert(!mor.exists { case (_, n, _, _) => deleted(n) },
      s"a deleted vector served: ${mor.filter(r => deleted(r._2)).toSeq}")
  }

  test("compaction physically removes deleted rows and converges " +
      "(re-run is a no-op)") {
    val t = tmpDir("ivf-del-conv") + "/index"
    SimilarityQueries.knnIvfDeleted(spark, dir, t, compact = true)
      .collect()
    // no deleted row survives in ANY file of the current version
    val remaining = Snapshots.read(spark, t)
      .where(expr("vec_id % 7 = 3 AND vec_id >= 10")).count()
    assert(remaining == 0,
      s"compacted store still holds $remaining deleted rows")
    // the rewrites landed as per-cell commits on top of v1
    assert(Snapshots.currentVersion(spark, t) >= 2)
    // convergence: the tombstone set no longer matches anything, so a
    // second compaction rewrites zero partitions
    val tombIds = Snapshots.read(spark, s"${t}_tomb")
    assert(Snapshots.deleteRows(spark, t, "cid", "vec_id", tombIds) == 0,
      "re-running compaction must be a no-op")
  }

  test("compacted store keeps manifest stats: a single-cell readRange " +
      "still prunes to that cell's files") {
    val t = tmpDir("ivf-del-stats") + "/index"
    SimilarityQueries.knnIvfDeleted(spark, dir, t, compact = true)
      .collect()
    val cur = Snapshots.currentVersion(spark, t)
    val entries = Snapshots.readManifest(spark, t, cur)
    // deleteRows must forward statsCols — a rewrite that dropped the
    // 'cell' min/max would fail open in pruneColOpt and silently turn
    // every post-compaction targeted read into a full scan
    assert(entries.forall(_.stats.contains("cell")),
      "a rewritten file lost its 'cell' manifest stats")
    val total = entries.size
    val pruned = Snapshots.read(spark, t)
      .select(col("cell")).distinct().collect().map(_.getInt(0)).map { c =>
        Snapshots.prunedFiles(spark, t, cur, "cell", c.toString,
          c.toString).size
      }
    assert(pruned.forall(_ < total),
      s"single-cell prune did not skip any of the $total files: $pruned")
    assert(pruned.sum == total,
      "per-cell pruned file sets must partition the manifest exactly " +
        s"(got ${pruned.sum} of $total)")
  }
}
