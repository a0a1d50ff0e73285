package graft.tools

/** One-line-per-query plan hygiene scan over the ENTIRE inventory:
  * flags nested-loop / cartesian joins (allowed only where a tiny
  * broadcast spine is intentional) so a regression can't hide in a
  * query nobody explains by hand, and prints one `WIN1 <query>` line
  * for each query whose plan holds a `WindowExec` with no partition
  * spec — a global window Spark runs on ONE task whatever the data
  * size. The WIN1 lines are flags only; nothing is expected or
  * refused yet. */
object PlanScan
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // Queries where a nested-loop join against a TINY broadcast side is
    // the intended plan (the broadcast is O(1)–O(10) rows, so the "loop"
    // is a constant factor, not a scale hazard):
    val expected = Map(
      "q22_global_sales" -> "1-row scalar subquery joined on >",
      "q11_important_parts" -> "1-row grand-total broadcast vs per-part agg",
      "q_resample_hourly" -> "1-row bounds row exploded into the spine",
      "emb_knn_brute" -> "10-row query set vs corpus IS the brute baseline",
      "emb_knn_ivf" -> "10-row query set x k centroids probe",
      "emb_knn_pq" -> "10-row query set carrying ADC tables vs code table",
      "text_bm25_topk" -> "1-row corpus stats broadcast into the scoring scan",
      "q_value_equidepth" -> "1-row decile-boundary array broadcast into the bucket scan",
      "q_chisq_type_weekday" -> "1-row N total broadcast into the 35-cell frame",
      "ref_changepoint_cusum" -> "1-row (total, days) broadcast into the daily spine",
      "ref_kmv_set_algebra" -> "three 1-row sketch estimates cross-joined into one row",
      "text_vocab_drift" -> "1-row corpus token total broadcast into per-source terms",
      "emb_recall_at_k" -> "1-row n_queries total broadcast into three 1-row hit counts",
      "q_hll_mergeable_total" -> "1-row exact-total yardstick cross-joined into the 1-row sketch union",
      "pipe_dsir_resample" -> "1-row (nr, nt) corpus totals broadcast into the 256-bucket ratio table",
      "pipe_hard_negatives" -> "10-row anchor set vs corpus is the brute candidate baseline (ANN index at scale)",
      "ref_key_skew" -> "1-row key-stats frame cross-joined into the 1-row top5 sum",
      "q_bottomk_mergeable_percentiles" -> "1-row direct-leg stats cross-joined into the 1-row merged-leg stats",
      "q_tdigest_mergeable_quantiles" -> "1-row served-quantile frame broadcast into the rank-counting scan",
      "retr_hybrid_rrf" -> "5-row anchor sets vs corpus scans are the brute ranker baselines (index scans at scale)",
      "text_bm25_persist" -> "1-row corpus-stats table broadcast into the pruned posting scan",
      "ref_benford_digits" -> "1-row value-count total broadcast into the 9-digit frame",
      "text_collocations" -> "two 1-row corpus totals (tokens, bigrams) broadcast into the scored-pair frame",
      "text_tfidf_keywords" -> "1-row doc-count total broadcast into the tf-df join",
      "emb_mrl_recall" -> "10-row query set vs corpus; all three dim budgets ranked from the one pair scan",
      "q_basket_rules" -> "1-row order-count total broadcast into the rule metrics",
      "retr_prf_expand" -> "1-row corpus stats broadcast into both scoring rounds",
      "q_ab_cuped" -> "1-row theta/xbar frame broadcast into the 2-arm readout",
      "text_negative_sampling" -> "1-row vocabulary weight total broadcast into the share table",
      "emb_centroid_drift" -> "1-row cell-count totals broadcast into the k-row histogram",
      "pipe_doc_topics" -> "1-row corpus token total broadcast into the cluster-term lift table",
      "emb_knn_refine" -> "10-row query set carrying ADC tables vs code table, then a 200-row refine join",
      "ref_join_size_estimate" -> "1-row estimate cross-joined with the 1-row exact yardstick",
      "pipe_interleave_shards" -> "1-row source-count frame broadcast into the closed-form positions",
      "pipe_dedup_eval" -> "three 1-row pair-count frames cross-joined into the audit row",
      "q_pareto_users" -> "1-row totals frame broadcast into the distinct-activity grid",
      "q_revenue_concentration" -> "1-row totals/k frame broadcast into the distinct-spend grid",
      "q_dow_hour_profile" -> "1-row week total broadcast into the 168-cell grid",
      "ref_theil_sen_trend" -> "calendar-bounded daily spine self-paired (O(days^2) by definition) + 1-row day count",
      "q_survival_hazard" -> "1-row horizon broadcast + weeks x (conv,obs)-cell range join, both calendar-bounded",
      "q_ab_power_duration" -> "1-row activity totals cross-joined into the 1-row conversion totals",
      "pipe_budget_fill" -> "1-row token budget broadcast into the O(sources) priority ranking",
      "text_template_prefixes" -> "1-row corpus total broadcast into the O(templates) result",
      "text_bm25_append" -> "1-row rolled corpus-stats table broadcast into the pruned posting scan",
      "text_lm_kneser_ney" -> "1-row bigram-type total broadcast into the scoring join",
      "retr_mrr" -> "1-row corpus stats broadcast into the scoring scan, twice (the scored relation feeds both the argmax and the rank count)",
      "q_semi_additive_balance" -> "bounded calendar day spine broadcast across the entity list (fanout = days)",
      "q_pettitt_changepoint" -> "calendar-bounded daily spine self-joined twice (Pettitt U is a sum over i<=t<j pairs by definition; <= ~8M tuples at a full year)",
      "q_largest_remainder_apportion" -> "1-row revenue total and 1-row leftover broadcast into the 25-row nation frame",
      "q_rank_correlation" -> "calendar-bounded daily spine self-paired for Kendall S (days^2 by definition) + 1-row Spearman x Kendall cross-join",
      "text_langid_kappa" -> "1-row (N, diag) frame cross-joined with the 1-row marginal-product frame",
      "retr_map" -> "1-row corpus stats broadcast into the scoring scan (the MRR shape)",
      "q_spatial_grid_join" -> "1-row pair-count frame broadcast into the 20-row closest-pair head; the pair join itself is a (gx,gy) equi-join",
      "q_bootstrap_ci" -> "30-row rep frame x calendar-bounded day spine (the B*days draw relation) + 1-row n/mean/CI frames; the draw->value join is an equi-join",
      "pipe_dedup_cascade" -> "1-row stage-0 char total broadcast into the 4-row funnel; every dedup stage is a hash groupBy + semi-join, no pairwise compare",
      "retr_ndcg" -> "1-row corpus stats broadcast into the scoring scan, twice (DCG and IDCG both rank the same scored relation — the retr_map shape)",
      "emb_pair_hist" -> "100-row md5-KMV sample self-paired (4950 pairs, corpus-size-independent calibration sample)",
      "text_burstiness" -> "1-row corpus doc count broadcast into the bounded top-20-df head",
      "emb_knn_reciprocity" -> "1-row edge total cross-joined with the 1-row mutual total; the kNN edges themselves ride the LSH-bucket equi-join",
      "ref_tv_drift" -> "bounded days x event-type-enum spine (calendar x enum cross); the data-scale stage is the (day, type) count upstream",
      "q_modularity_lpa" -> "1-row total-edge-count frame broadcast into the per-community terms; community stats are label equi-joins",
      "q_graph_serve_modularity" -> "same 1-row edge-total broadcast as q_modularity_lpa (shared modularityOf body), served off the committed edge store",
      "emb_ivf_nprobe_curve" -> "10-row query set vs corpus is the brute ground-truth leg (the emb_knn_brute shape); every IVF leg is a bucket equi-join")
    val spark = graft.Session.local("graft-planscan")
    graft.SparkEntry.inventory.foreach { q =>
      try {
        val executed = q.run(spark, sfDir).queryExecution.executedPlan
        val plan = executed.toString
        val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
        val cart = plan.linesIterator.count(_.contains("CartesianProduct"))
        if (bnlj + cart > 0) {
          if (expected.contains(q.name))
            println(s"OK   ${q.name}: ${expected(q.name)}")
          else
            println(s"FLAG ${q.name}: bnlj=$bnlj cartesian=$cart")
        }
        val win1 = collectWithSubqueries(executed) {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        if (win1.nonEmpty) println(s"WIN1 ${q.name}: ${win1.size}")
      } catch {
        case e: Throwable => println(s"ERR ${q.name}: ${e.getMessage.take(80)}")
      }
    }
    println("scan done")
    spark.stop()
  }
}
