package graft

import org.apache.spark.sql.SparkSession

import graft.queries.Q

/** Benchmark main (driver contract): runs the full query inventory on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Protocol per BASELINE.md: warm JVM (one untimed warm-up), median of 3
  * timed runs per query, AQE on, UTC. Each run materializes the full
  * result via a noop-format write — a bare `count()` would let Catalyst
  * prune projections and under-measure the query.
  *
  * Variance hardening (round-3 protocol tweak): when the 3 samples
  * spread by more than 2× (max > 2·min — GC pause / scheduling noise,
  * observed on q_session_window in the round-2 driver bench), the query
  * is re-measured with 2 extra samples and the median of 5 is reported,
  * so an apparent regression survives only if it is reproducible.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local("graft-bench")

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, org.apache.spark.sql.DataFrame) = {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, df)
    }
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = runOnce(fn)._1

    // Per-query plan fingerprint (join strategies + shuffle count),
    // taken from the warm-up run's POST-EXECUTION plan so AQE's final
    // choices — not the tentative initial plan — are what's recorded.
    // Lets the next regeneration attribute bench drift automatically:
    // same fingerprint → machine noise; changed fingerprint → replan.
    def fingerprint(df: org.apache.spark.sql.DataFrame): String = {
      val p = df.queryExecution.executedPlan.toString
      def n(tok: String) = p.linesIterator.count(_.contains(tok))
      val xchg = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("Broadcast"))
      s"bhj=${n("BroadcastHashJoin")},smj=${n("SortMergeJoin")}," +
        s"shj=${n("ShuffledHashJoin")},bnl=${n("BroadcastNestedLoopJoin")}," +
        s"xchg=$xchg,agg=${n("HashAggregate")},scan=${n("FileScan")}"
    }

    // optional args: restrict to named queries (debug/iteration aid)
    val selected =
      if (args.isEmpty) SparkEntry.inventory
      else SparkEntry.inventory.filter(q => args.contains(q.name))

    // JVM warm-up lap, untimed: the closing runs' first ~dozen small
    // ref_* entries used to measure a uniform ~+0.6 s of cold-JVM
    // JIT/codegen/GC warmup that then needed manual attribution every
    // round (BASELINE.md r8d). Two flagship passes compile the scan /
    // join / aggregate / shuffle hot paths before the first timed
    // sample, so in-run numbers match isolated-run numbers from query
    // one.
    // Restricted tiers (ScaleUp --tables=...) legitimately lack the
    // flagship's tables — fall back to warming with the first selected
    // query instead of failing the whole run (each query still gets
    // its own untimed warm pass below either way).
    // Only NonFatal is swallowed here: an OOM/linkage error during
    // warm-up is a real failure that must crash the run, not surface
    // confusingly inside the first timed sample.
    try SparkEntry.inventory.find(_.name == "q5_local_supplier_volume")
      .foreach(q => (1 to 2).foreach(_ => runOnce(q.run)))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] flagship warmup failed (${e.getMessage}); " +
          "warming with first selected query")
        selected.headOption.foreach(q =>
          try runOnce(q.run) catch {
            case scala.util.control.NonFatal(e2) =>
              System.err.println(s"[bench] fallback warmup failed too: ${e2.getMessage}")
          })
    }

    // Machine-load guard (the r12 lesson: same binary measured 293.0 s
    // vs 375.8 s purely from a load-average 16-25 neighbor window — one
    // noisy closing run recorded as official would have breached the
    // 2× gate). The 1-min loadavg is sampled BEFORE each query into the
    // artifact, so attribution is in-band, not post-hoc; a run whose
    // samples exceed SPARK_GRAFT_LOAD_LIMIT (default: 1.5× the worker
    // thread count) is stamped `"noisy":true` in the summary, and
    // closing-run mode (SPARK_GRAFT_BENCH_ABORT_ON_LOAD=1) refuses to
    // start timing at all when the pre-run load is already over the
    // limit (exit 3 — re-run when the machine is quiet).
    def loadavg(): Double =
      try java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadLimit = sys.env.get("SPARK_GRAFT_LOAD_LIMIT")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(Session.cpus * 1.5)
    if (sys.env.get("SPARK_GRAFT_BENCH_ABORT_ON_LOAD").contains("1")) {
      val l0 = loadavg()
      if (l0 > loadLimit) {
        System.err.println(f"[bench] pre-run loadavg $l0%.1f exceeds " +
          f"limit $loadLimit%.1f — refusing to record a closing run " +
          "on a loaded machine (unset SPARK_GRAFT_BENCH_ABORT_ON_LOAD " +
          "to force)")
        spark.stop()
        sys.exit(3)
      }
    }

    val results = selected.map { q =>
      val load = loadavg()
      val (t, fp) =
        try {
          val (_, warmDf) = runOnce(q.run) // warm-up: plan + code + page cache
          val fp = fingerprint(warmDf)
          val s3 = Seq.fill(3)(timeOnce(q.run)).sorted
          val med =
            if (s3.last <= 2 * s3.head) s3(1) // stable → median of 3
            else { // noisy → widen to median of 5
              val s5 = (s3 ++ Seq.fill(2)(timeOnce(q.run))).sorted
              s5(2)
            }
          (med, fp)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            (-1.0, "err")
        }
      (q, t, fp, load)
    }

    // JSON string escaping: env-supplied paths (outFile, sfDir) and
    // query names interpolate into the summary whose parse-the-last-
    // line contract the driver depends on — a quote or backslash in
    // either would emit malformed JSON exactly where it hurts most
    def jstr(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    def byQuery(v: ((Q, Double, String, Double)) => Any): String =
      results.map(r => "\"" + jstr(r._1.name) + "\":" + v(r))
        .mkString("{", ",", "}")
    val qs = byQuery { case (_, t, _, _) => t }
    val plans = byQuery { case (_, _, fp, _) => "\"" + jstr(fp) + "\"" }
    val classesByQuery = byQuery { case (q, _, _, _) => "\"" + q.cls + "\"" }
    val loads = byQuery { case (_, _, _, l) => math.round(l * 100) / 100.0 }
    val total = results.collect { case (_, v, _, _) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"plans":$plans,"classes_by_query":$classesByQuery,"loadavg":$loads,"sf":"${jstr(sfDir)}"}"""

    // COMPACT summary line: the full line above is ~100 KB for the full
    // inventory and the round driver keeps only a truncated stdout TAIL
    // — r11's BENCH artifact parsed to null because no complete JSON
    // line survived the cut. The summary (count, total, per-class
    // totals, worst-5, pointer to the full artifact) is printed BEFORE
    // the full line for human scanning and AGAIN as the very last line
    // so the tail always ends with one complete parseable JSON object.
    val ok = results.filter(_._2 >= 0)
    val classes = Q.Classes
      .map { c =>
        val in = ok.filter(_._1.cls == c)
        val sec = math.round(in.map(_._2).sum * 100) / 100.0
        s""""$c":{"n":${in.size},"sec":$sec}"""
      }.mkString("{", ",", "}")
    val worst5 = ok.sortBy(-_._2).take(5)
      .map { case (q, v, _, _) =>
        s""""${jstr(q.name)}":${math.round(v * 100) / 100.0}""" }
      .mkString("{", ",", "}")
    val sfName0 = new java.io.File(sfDir).getName match {
      case "" | "." | ".." => "default"
      case n => n.replaceAll("[^A-Za-z0-9._-]", "_")
    }
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"/tmp/graft_bench_$sfName0.json")
    val loadSamples = results.map(_._4).filter(_ >= 0)
    val loadStats =
      if (loadSamples.isEmpty) """{"max":-1,"mean":-1,"over":0}"""
      else {
        val mx = math.round(loadSamples.max * 100) / 100.0
        val mean =
          math.round(loadSamples.sum / loadSamples.size * 100) / 100.0
        s"""{"max":$mx,"mean":$mean,"over":${
          loadSamples.count(_ > loadLimit)}}"""
      }
    val noisy = loadSamples.exists(_ > loadLimit)
    val summary =
      s"""{"metric":"summary","n":${ok.size},"errors":${results.size - ok.size},""" +
        s""""total":${math.round(total * 100) / 100.0},"unit":"sec",""" +
        s""""classes":$classes,"worst5":$worst5,""" +
        s""""load":$loadStats,"noisy":$noisy,""" +
        s""""full":"${jstr(outFile)}","sf":"${jstr(sfDir)}"}"""
    println(summary)
    println(line)
    println(summary)
    // The driver keeps only a truncated stdout tail in its artifact; also
    // persist the full line so per-query timings stay machine-readable
    // (BENCH_r05.json lost all but the last ~60 entries to truncation).
    // Absolute default: a cwd-relative path would scatter artifacts per
    // launch directory and let a stale earlier run shadow the latest.
    // The sf tier is baked into the name so runs at different tiers
    // (sf0.01 iteration vs the driver's sf0.1 pass) never clobber each
    // other's full per-query timing line.
    // The summary also lands in its own side file (full artifact path
    // with a _summary suffix) — BASELINE.md §"Machine-readable bench
    // record" declares these two files + the tail summary line the
    // OFFICIAL machine-readable record: the driver's `parsed` field
    // cannot be populated from this side (it archives a 2000-char
    // sbt-[info]-wrapped stdout tail that no complete per-query JSON
    // line can fit inside).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        outFile.stripSuffix(".json") + "_summary.json"),
      summary + "\n")
    catch { case e: Throwable =>
      System.err.println(
        s"[bench] could not write the summary side file: ${e.getMessage}")
    }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    // a run with failed queries is a failed run, not a fast one: the
    // total above only sums the queries that succeeded
    if (results.size > ok.size) sys.exit(1)
  }
}
