package graft.tools

import graft.{Session, SparkEntry}

/** Plan-audit tool: prints the formatted physical plan of selected
  * queries and greps it for the properties that matter at 100 TB —
  * parquet filter pushdown, pruned read schemas, broadcast joins for
  * dims, whole-stage codegen coverage. Run after every operator change;
  * the first plan that passes the oracle is not necessarily the plan you
  * want to ship.
  *
  * usage: runMain graft.tools.ExplainAudit [sfDir] [queryName ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSet else Set(
      "q1_pricing_summary", "q3_shipping_priority",
      "q5_local_supplier_volume", "ref_dq_counters",
      "dedup_minhash_lsh", "emb_knn_brute")
    // the session Bench plans under, so dumped plans match Bench's
    // (strategy choices can differ when defaultParallelism feeds size
    // estimates)
    val spark = Session.local("graft-explain")

    SparkEntry.inventory.filter(q => names(q.name)).foreach { q =>
      val df = q.run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n========== ${q.name} ==========")
      println(plan)
      val scans = plan.linesIterator.filter(l =>
        l.contains("PushedFilters") || l.contains("PartitionFilters")).toSeq
      val broadcasts = plan.linesIterator
        .filter(_.contains("BroadcastHashJoin")).size
      val sortMerge = plan.linesIterator
        .filter(_.contains("SortMergeJoin")).size
      val exchanges = plan.linesIterator
        .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
      println(s"---- audit: broadcastJoins=$broadcasts " +
        s"sortMergeJoins=$sortMerge shuffleExchanges=$exchanges")
      scans.foreach(s => println(s"---- $s"))
    }
    spark.stop()
  }
}
