package graft.pipeline

/** CLI entry point — the reference's Glue-job-argument + backfill-driver
  * control plane as one in-JVM command (SURVEY §2.10 C1/C2, §3.3).
  *
  * Usage:
  *   runMain graft.pipeline.Main <rawBase> <curatedBase> <metricsBase> <date>
  *   runMain graft.pipeline.Main <rawBase> <curatedBase> <metricsBase> <start> <end>
  *
  * Prints each partition's DQ report (the reference prints the report
  * then raises on FAIL — raw_to_curated_events_v3_dq.py:146-150); exits
  * non-zero on the first failing date, leaving prior dates committed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 4 || args.length > 5) {
      System.err.println(
        "usage: graft.pipeline.Main <rawBase> <curatedBase> <metricsBase> <date> [<endDate>]")
      sys.exit(2)
    }
    val Array(rawBase, curatedBase, metricsBase) = args.take(3)
    val (start, end) = (args(3), if (args.length == 5) args(4) else args(3))
    val conf = PipelineConfig(rawBase, curatedBase, metricsBase)

    val spark = graft.Session.local("graft-pipeline",
      sys.env.get("SPARK_MASTER").map("spark.master" -> _).toSeq: _*)

    try {
      // print per date as it commits (an operator must see which earlier
      // dates landed even when a later one fails), like the reference job
      Pipeline.dateRange(start, end).foreach { date =>
        val r = Pipeline.runPartition(spark, conf, date)
        println(s"DQ REPORT ${r.ingestionDate}:\n${r.toJson}")
        println(s"SUCCESS ingestion_date=${r.ingestionDate}")
      }
    } catch {
      case e: DqFailedException =>
        println(s"DQ REPORT ${e.report.ingestionDate}:\n${e.report.toJson}")
        System.err.println(e.getMessage)
        spark.stop()
        sys.exit(1)
      case e @ (_: MissingUpstreamException | _: IllegalArgumentException) =>
        System.err.println(e.getMessage)
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}

/** Fixture generator CLI — regenerates the reference's sample raw zone
  * (3 days × 1000 events + late batch; generate_events.py:85-94,
  * add_late_events.py) into a local raw base. */
object GenerateSampleData {
  def main(args: Array[String]): Unit = {
    val rawBase = args.headOption.getOrElse("target/sample_raw")
    for (d <- Seq("2025-01-01", "2025-01-02", "2025-01-03")) {
      val events = graft.gen.EventsGen.generateDay(d)
      val f = graft.gen.EventsGen.writeNdjson(events, rawBase, d)
      println(s"Wrote ${events.length} events to $f")
    }
  }
}
