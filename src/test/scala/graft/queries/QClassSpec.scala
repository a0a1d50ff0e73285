package graft.queries

import org.scalatest.funsuite.AnyFunSuite

class QClassSpec extends AnyFunSuite {

  test("classOf: by name, first match wins") {
    val cases = Seq(
      "ref_dq_counters" -> "parity",
      "ref_graph_persist" -> "parity", // ref_ before index-build
      "text_bm25_persist" -> "index-build",
      "q_graph_persist_pagerank" -> "index-build", // before iterative
      "q_snapshot_merge" -> "index-build",
      "q_snapshot_merge_lookup" -> "analytic", // anchored alternatives
      "q_pagerank_copurchase" -> "iterative",
      "emb_ivf_nprobe_curve" -> "iterative",
      "q1_pricing_summary" -> "analytic")
    cases.foreach { case (name, cls) =>
      assert(Q.classOf(name) === cls, name)
      assert(Q.noOracle(name)(null).cls === cls, name)
    }
    assert(Q.Classes.toSet === cases.map(_._2).toSet)
  }
}
