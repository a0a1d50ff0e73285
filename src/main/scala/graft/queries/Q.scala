package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: a Spark DataFrame builder parameterized by the
  * scale-factor directory, plus (when SQL-expressible) the equivalent ANSI
  * SQL a DuckDB oracle runs over the same parquet tables.
  *
  * Oracle-parity rules (SURVEY §5.2.4, §7.4 risk register):
  *  - column names identical on both sides (driver sorts columns by name);
  *  - every query ends in a total ORDER BY (driver hash is row-ordered);
  *  - Spark ASC sorts NULLS FIRST → oracle SQL says NULLS FIRST explicitly
  *    (DuckDB defaults to NULLS LAST);
  *  - no raw SUM over doubles (order-dependent fp addition): cast operands
  *    to DECIMAL, sum exactly, cast the result back to DOUBLE;
  *  - DuckDB SUM(integer) returns HUGEINT: use COUNT(CASE ...) or wrap in
  *    CAST(... AS BIGINT) so both sides are int64;
  *  - events.ts is ns-precision parquet (Spark truncates to µs): project
  *    dates/strings derived from it, never the raw timestamp.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {

  /** Bench cost class; see [[Q.classOf]]. */
  def cls: String = Q.classOf(name)
}

object Q {
  /** Bench cost classes, in report order. The inventory mixes classes
    * with order-of-magnitude different intrinsic costs (a ref_* parity
    * projection vs a 5-iteration pagerank vs a query that commits an
    * index mid-flight), so a single s/query moves whenever the mix
    * changes; per-class totals separate the two.
    *  - parity: ref_*, the reference-pipeline parity family;
    *  - index-build: commits or serves a persisted artifact inside the
    *    timed query (snapshot tables, BM25/IVF/graph stores);
    *  - iterative: fixed-round loops (pagerank, k-core, BFS, LPA,
    *    components, tokenizer/quality trainers, recall curves that
    *    build several indexes);
    *  - analytic: everything else.
    */
  val Classes: Seq[String] = Seq("parity", "analytic", "index-build", "iterative")

  private val IndexBuild = ("(_persist|_append|_delete|_compact)$" +
    "|^q_graph_(persist|append|serve_)" +
    "|^q_(time_travel|snapshot_prune|partition_evolution)$" +
    "|^q_snapshot_(merge|merge_evolved|schema_evolution|tag|" +
    "partition_evolution|sql|sql_dml|delete_mor)$" +
    "|^(text_unigram_serve|emb_knn_graph)$" +
    "|^q_dq_(quarantine|audit_history|readmission)$" +
    "|^q_raw_compaction$|^dedup_incremental$").r
  private val Iterative = ("pagerank|kcore|components|graph_bfs" +
    "|label_propagation|modularity|bpe_|unigram|quality_train" +
    "|recall_at_k|nprobe").r

  /** The class of a query name; first match wins, by name only, so the
    * split is stable across rounds and needs no plan introspection. */
  def classOf(name: String): String =
    if (name.startsWith("ref_")) "parity"
    else if (IndexBuild.findFirstIn(name).isDefined) "index-build"
    else if (Iterative.findFirstIn(name).isDefined) "iterative"
    else "analytic"

  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))

  /** Non-SQL-expressible op → driver records a weaker rows-only check. */
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, None)
}
