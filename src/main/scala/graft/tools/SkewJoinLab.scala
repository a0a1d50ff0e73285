package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Skew-JOIN tier lab (verdict r10 task #7).
  *
  * The round-10 ×100 skew tier proved WINDOW partitions absorb a 10%
  * hot key at local[32]; the riskier shape at 100 TB is a shuffled
  * JOIN on the hot key — AQE's skew machinery splits join partitions,
  * not stateful window partitions, so this is where the mitigation
  * actually has something to do. This lab runs the join-on-user_id
  * query family over a uniform ×N tier and a `--skew` ×N tier
  * ([[graft.gen.ScaleUp]] plants user 13 with ~10% of all events) and
  * records, per query and tier:
  *
  *   - median-of-3 warm wall time,
  *   - the post-AQE plan fingerprint (join strategies + shuffles),
  *   - how many join legs AQE actually skew-split (`skew=true` markers
  *     in the final plan — the same marker SkewTierSpec pins).
  *
  * Two skew passes are taken: one at Spark's DEFAULT skew thresholds
  * (256 MB compressed / 5× median — the honest "does it even engage at
  * this tier size" answer), and one at representative thresholds
  * (SkewTierSpec's compressed-bytes lesson: local tiers shuffle ~tens
  * of MB where a 100 TB cluster shuffles ~tens of GB, so thresholds
  * scale down by the same ratio to observe the behavior the defaults
  * produce at production partition sizes). Both fingerprints land in
  * BASELINE.md — the table is the deliverable, this main is the
  * reproducible harness behind it.
  *
  * Usage: runMain graft.tools.SkewJoinLab <uniformDir> <skewDir>
  *          [--queries=a,b,c]
  */
object SkewJoinLab {

  /** Shuffled-join-on-user_id family over events (events-only tiers). */
  private val DefaultQueries = Seq(
    "q_attribution_first_touch", "q_decay_attribution",
    "q_position_attribution", "q_new_vs_returning", "q_bot_screen",
    "q_cohort_retention", "q_semi_additive_balance",
    "ref_join_size_estimate", "ref_users_intersect")

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.length >= 2, "usage: SkewJoinLab <uniformDir> <skewDir>")
    val Array(uniform, skew) = pos.take(2)
    val names = args.collectFirst { case a if a.startsWith("--queries=") =>
      a.stripPrefix("--queries=").split(',').map(_.trim).toSeq
    }.getOrElse(DefaultQueries)

    // AQE's skew split is BY MAP RANGE (SkewTierSpec lesson #2): a
    // single-file local tier scans as ONE map task and a one-mapper
    // reduce partition can never split. A 100 TB table has thousands
    // of input files/mappers; 8 MB scan partitions are that proxy.
    val spark = graft.Session.local("graft-skewjoin-lab",
      "spark.sql.files.maxPartitionBytes" -> "8m")

    // The inventory's join family pre-shrinks its join sides (distinct /
    // per-user aggregates) before any shuffle — by design no join
    // partition is hot even when the DATA is. This synthetic entry is
    // the shape that stays raw: enrich full-payload events with a
    // per-user stats frame (1:1 output, linear) — the probe side's hot
    // partition carries the whole payload, exactly what AQE's skew
    // split exists for. Broadcast is disabled to force the shuffled
    // join a 100 TB dim table would force anyway.
    // the enrichment dim lands in a SCRATCH dir, not the tier dir:
    // writing user_stats.parquet beside events.parquet mutates shared
    // benchmark inputs, and any tool enumerating <tier>/*.parquet as
    // tables would pick up the synthetic frame
    def statsPath(dir: String): String =
      s"/tmp/graft-skewlab-stats/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}" +
        "/user_stats.parquet"
    val rawEnrich = graft.queries.Q("raw_enrich_join",
      (sess: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        // production enrichment carries the document/row payload through
        // the join; the tier's props averages 9 bytes, so a ~280 B
        // synthetic payload stands in for the real row width (without
        // it the hot partition sits at the threshold boundary and the
        // split engagement is luck, not signal). The stats side joins
        // from a MATERIALIZED table: OptimizeSkewedJoin only matches
        // SMJ legs that are bare shuffle stages — an aggregate between
        // the shuffle and the sort (stats derived in-query) makes the
        // leg unsplittable because a split would break the aggregate's
        // required distribution. Deriving dims in-query therefore
        // FORFEITS skew splitting — a real 100 TB lesson this lab run
        // surfaced; the materialized form is also what production does.
        val ev = sess.read.parquet(s"$dir/events.parquet")
          .withColumn("payload", concat_ws("|", (0 until 30).map(_ =>
            coalesce(col("props"), lit("x"))): _*))
        val stats = sess.read.parquet(statsPath(dir))
        ev.hint("merge").join(stats, Seq("user_id"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("n_user")).as("s"),
            max(length(col("payload"))).as("p"))
      }, None)
    // materialize the enrichment dim once per tier (untimed setup)
    Seq(uniform, skew).foreach { dir =>
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$dir/events.parquet")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_user"))
        .write.mode("overwrite").parquet(statsPath(dir))
    }

    val queries = SparkEntry.inventory.filter(q => names.contains(q.name)) :+
      rawEnrich

    def fingerprint(p: String): String = {
      def n(tok: String) = p.linesIterator.count(_.contains(tok))
      val xchg = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("Broadcast"))
      s"bhj=${n("BroadcastHashJoin")},smj=${n("SortMergeJoin")}," +
        s"shj=${n("ShuffledHashJoin")},xchg=$xchg," +
        s"skewed=${n("skew=true")}"
    }

    final case class Cell(sec: Double, fp: String)
    def run(dir: String, tag: String, conf: Map[String, String])
        : Map[String, Cell] = {
      val prior = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try queries.map { q =>
        def once(): Double = {
          val t0 = System.nanoTime()
          q.run(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // warm lap doubles as the plan capture. The noop WRITE executes
        // a separate command QueryExecution, so the frame's own
        // executedPlan would print the INITIAL adaptive plan
        // (isFinalPlan=false) — AQE's skew/demotion choices invisible.
        // collect() executes the frame's own execution; every lab query
        // ends in a small aggregate, so the driver-side result is tiny.
        val warm = q.run(spark, dir)
        warm.collect()
        val plan = warm.queryExecution.executedPlan.toString
        val med = Seq.fill(3)(once()).sorted.apply(1)
        // ~100 executions over a 10M-row tier accumulate tens of GB of
        // shuffle files in one long-lived context (the ContextCleaner
        // only reclaims them when the ShuffleDependency is GC'd — the
        // first lab run filled the disk this way). The frames are out
        // of scope here; a GC nudge lets the cleaner reclaim between
        // queries.
        System.gc()
        Thread.sleep(1500)
        val cell = Cell(med, fingerprint(plan))
        println(f"[skewlab] $tag ${q.name} ${cell.sec}%.2f s  ${cell.fp}")
        q.name -> cell
      }.toMap
      finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // representative thresholds: same compressed-bytes scaling argument
    // as SkewTierSpec — a local tier's hot join partition carries a few
    // tens of MB where production carries GB, so the 256 MB default is
    // scaled to 8 MB to observe production-regime behavior; the force
    // flag buys the split even when the join output feeds a same-key
    // aggregate (the attribution family's shape).
    val repConf = Map(
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k")

    val uni = run(uniform, "uniform", Map.empty)
    val skewDef = run(skew, "skew-default", Map.empty)
    val skewRep = run(skew, "skew-rep", repConf)

    println("| query | uniform (s) | skew (s) | ratio | skew rep-thresh (s) | fp skew-default | fp skew-rep |")
    println("|---|---|---|---|---|---|---|")
    queries.foreach { q =>
      val (u, sd, sr) = (uni(q.name), skewDef(q.name), skewRep(q.name))
      val ratio = if (u.sec > 0) sd.sec / u.sec else -1
      println(f"| ${q.name} | ${u.sec}%.2f | ${sd.sec}%.2f | ${ratio}%.2f " +
        f"| ${sr.sec}%.2f | ${sd.fp} | ${sr.fp} |")
    }
    val js = queries.map { q =>
      val (u, sd, sr) = (uni(q.name), skewDef(q.name), skewRep(q.name))
      s""""${q.name}":{"uniform":${u.sec},"skew":${sd.sec},""" +
        s""""skew_rep":${sr.sec},"fp_uniform":"${u.fp}",""" +
        s""""fp_skew":"${sd.fp}","fp_skew_rep":"${sr.fp}"}"""
    }.mkString("{", ",", "}")
    println(s"""{"lab":"skewjoin","uniform":"$uniform","skew":"$skew","queries":$js}""")
    spark.stop()
  }
}
