package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Curated-zone parquet sinks (SURVEY §2.2 K1–K4).
  *
  * The reference's idempotency contract: purge exactly one partition
  * directory, then write only that partition — a re-run of the same date
  * replaces its data and touches nothing else
  * (ref: raw_to_curated_events_v2_idempotent.py:59-70,
  * raw_to_curated_events_v3_dq.py:155-162; rationale docs/design.md:77-96).
  *
  * Both strategies are partition-scoped, so at 100 TB a daily run
  * rewrites one day's worth of files, never the table:
  *  - the pipeline's staged flip (`graft.pipeline.Pipeline`): write the
  *    partition into a hidden staged dir, then [[purge]] the live dir
  *    and rename the staged one into place (works without any catalog);
  *  - [[dynamicOverwrite]]: Spark's dynamic partitionOverwriteMode —
  *    Catalyst replaces only the partitions present in the incoming data
  *    (the idiomatic form; atomic per-partition via the commit protocol).
  */
object CuratedWriter {

  /** K3-idiomatic: dynamic partition overwrite — only partitions present
    * in `df` are replaced; concurrent dates never interfere. */
  def dynamicOverwrite(df: DataFrame, curatedBase: String): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try df.write.mode("overwrite").partitionBy("ingestion_date")
      .parquet(curatedBase)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** purge_s3_path equivalent: recursive delete, no-op if absent
    * (ref: raw_to_curated_events_v3_dq.py:155). */
  def purge(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** K4 done right: the DQ report as ONE file with the exact name the
    * reference wanted but settled for a part-file folder instead
    * (ref: raw_to_curated_events_v3_dq.py:134-144 "rename ... avoided
    * here"). Driver-side Hadoop FS write — the payload is a single small
    * JSON document, so no distributed write is warranted. */
  def writeSingleFile(spark: SparkSession, path: String,
      content: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  /** C4 missing-upstream sensor (infra-only in the reference,
    * docs/design.md:129-134): fail distinctly when the expected raw
    * partition is absent. */
  def upstreamExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
