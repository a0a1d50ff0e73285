package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its SparkSession, so every tool
  * plans and runs under the same contract:
  *  - master `local[n]` and `spark.sql.shuffle.partitions = n`, where n
  *    is [[cpus]];
  *  - UTC session time zone (oracle parity: the DuckDB side is UTC);
  *  - Spark UI off, log level WARN.
  *
  * `extra` pairs are applied last, so a main keeps a setting that is
  * really its own (a fixed partition count, a scan split size, a
  * `spark.master` from its deployment) by passing it here. Sessions
  * are shared per JVM: `getOrCreate` hands back an existing one.
  */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS` when set, else the cores this
    * JVM can see. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(app: String, extra: (String, String)*): SparkSession = {
    val base = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val spark = (base ++ extra)
      .foldLeft(SparkSession.builder().appName(app)) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
