package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; specs
  * run in the forked test JVM, see build.sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs `body` starts on this thread. Its jobs carry a fresh
    * job group; a marker job in a second group follows, and the
    * listener bus delivers in order, so once the marker is seen every
    * job of `body` has been counted. */
  def jobsStartedBy(body: => Unit): Int = jobPropertiesOf(body).size

  /** The local properties of each job [[jobsStartedBy]] counts, in
    * start order. A job Spark starts outside any SQL execution (a
    * parallel file listing, a schema-inference footer read) carries no
    * `spark.sql.execution.id`. */
  def jobPropertiesOf(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      java.util.Properties]()
    val marker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).foreach { p =>
          Option(p.getProperty("spark.jobGroup.id")).foreach { g =>
            if (g == group) jobs.add(p)
            else if (g == s"$group-marker") marker.countDown()
          }
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job not seen")
      jobs.toArray(Array.empty[java.util.Properties]).toSeq
    } finally sc.removeSparkListener(l)
  }

  /** Files the scans of `df`'s executed plan select, as URL-encoded
    * paths (the format of `DataFrame.inputFiles`): V1 file scans
    * (`FileSourceScanExec`) and DSv2 file scans (`BatchScanExec`) alike,
    * read off their input partitions, so each scan's filters have
    * reached its file index. `inputFiles` reads the optimized logical
    * plan instead, before any filter has pruned a pinned snapshot
    * read. */
  def scannedFiles(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.inputRDD.partitions.toSeq
      case b: BatchScanExec => b.inputPartitions
    }.flatten.flatMap {
      case p: FilePartition => p.files.toSeq.map(_.filePath.toString)
      case _ => Nil
    }.toSet
  }

  /** Run `body` with whole-stage codegen off and interpreted expression
    * eval forced, restoring the PRIOR conf values afterwards (the session
    * is a JVM-wide singleton — hardcoding "restore" values would leak a
    * stricter mode into unrelated suites). */
  def withInterpretedEval[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "NO_CODEGEN")
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
