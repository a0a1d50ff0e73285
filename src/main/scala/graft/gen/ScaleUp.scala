package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic testdata scale-up: writes key-offset copies of a source
  * scale-factor directory, preserving referential integrity (each copy's
  * orders point at the same copy's customers, etc.) and all value
  * distributions. Joins and aggregates therefore scale exactly by the
  * copy count — the point of the tier: catch plans whose cost bends
  * super-linearly when shuffles stop fitting where they used to.
  *
  * Copies are produced by a crossJoin with a broadcast `range(n)` index
  * frame — ONE scan of the source regardless of n — so dim factors in
  * the hundreds don't build an n-way union plan. Every synthetic key
  * sits far below `Stride`, so offset key spaces never collide.
  *
  * Two knobs beyond the base `factor`:
  *
  *  - `dimFactor` (4th arg, default 1): extra multiplier applied to the
  *    SCALABLE dims (customer/supplier/part) on top of `factor`. The
  *    fact tables keep referencing the first `factor` copies — extra dim
  *    rows are simply unmatched, the classic "big dimension, selective
  *    fact" lake shape — which is exactly what the big-dim bench tier
  *    needs: dims large enough that the stats-driven star joins demote
  *    from broadcast to shuffled strategies under AQE. The tiny fixed
  *    enums (region, nation) are still copied once: scaling a 25-row dim
  *    would change join RESULTS, not just plan shapes.
  *
  *  - fresh text (the DEFAULT for `documents` since round 13):
  *    rewrites `documents.text` per copy by suffixing every whitespace
  *    token with the copy index (copy 0 stays pristine). Token sets of
  *    different copies become disjoint, so a doc is never a near-dup of
  *    its own copy in another replica, while WITHIN a copy every token
  *    set is renamed injectively — Jaccard similarity, set overlaps,
  *    and therefore the MinHash/PPJoin near-dup pair structure of the
  *    original corpus are preserved verbatim per copy. Total near-dup
  *    pairs scale ×n (density constant) instead of the ×n² blow-up
  *    verbatim copies produce (n key-offset copies of one dup group →
  *    C(n·g,2) true pairs) — the honest way to scale-bench
  *    `dedup_minhash_lsh` / `dedup_ppjoin` / `dedup_simhash`. The old
  *    behavior was the round-12 sweep's top-of-table artifact: three of
  *    its five slowest rows (dedup_containment, dedup_ngram_jaccard,
  *    pipe_dedup_eval) were quadratic BY TIER SEMANTICS, not by engine.
  *    `--verbatim-text` restores the key-offset-only copies (the
  *    labeled-appendix tier); `--fresh-text` is accepted and redundant.
  *
  * `events.ts` round-trips as-is for the current TIMESTAMP_MICROS
  * fixtures (NTZ in → NTZ out); for a legacy TIMESTAMP(NANOS) source the
  * nanosAsLong conf below reads it as long and writes INT64 —
  * [[graft.Tables.events]] branches on the resolved type and handles
  * both.
  *
  *  - `--skew`: plants ONE hot user in `events` — every 10th event
  *    (by event_id, uniform across copies) is reassigned to user 13,
  *    so a single key owns ~10% of the tier regardless of factor. The
  *    key-offset copies otherwise keep user activity uniform, which
  *    never exercises the skew machinery (AQE skew-join splits,
  *    [[graft.operators.Salting]]); this is the adversarial tier the
  *    window/groupBy family runs on (SkewTierSpec pins the handling).
  *
  *  - `--files=N`: write each table as N files instead of whatever the
  *    crossJoin plan's partitioning yields (typically ONE file — and
  *    one parquet ROW GROUP, which makes every downstream scan a
  *    single map task no matter what maxPartitionBytes says: parquet
  *    splits at row-group granularity). One-mapper shuffles can never
  *    be skew-split BY DESIGN (AQE's PartialReducerPartitionSpec spans
  *    map ranges), so tiers that exercise AQE's skew machinery must be
  *    multi-file like any real table at scale (SkewJoinLab's round-11
  *    finding — the round-10 single-file tiers silently pinned every
  *    scan AND every skew decision to one mapper).
  *
  * Usage: `runMain graft.gen.ScaleUp <srcDir> <dstDir> [factor]
  *         [dimFactor] [--fresh-text] [--skew] [--tables=a,b,c]
  *         [--files=N]`
  * (`--tables=` restricts generation — spot tiers that bench a single
  * table's queries need not copy the whole directory)
  */
object ScaleUp {

  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("graft-scaleup",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    run(spark, args)
    spark.stop()
  }

  /** The generation body, session-agnostic (SkewTierSpec drives it on
    * the shared test session — main owns start/stop). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val freshText = !args.contains("--verbatim-text")
    val nFiles: Int = args
      .collectFirst { case a if a.startsWith("--files=") =>
        a.stripPrefix("--files=").toInt }
      .getOrElse(0)
    val onlyTables: Set[String] = args
      .collectFirst { case a if a.startsWith("--tables=") =>
        a.stripPrefix("--tables=").split(',').map(_.trim).toSet }
      .getOrElse(Set.empty)
    def wanted(t: String) = onlyTables.isEmpty || onlyTables.contains(t)
    val pos = args.filterNot(_.startsWith("--"))
    val Array(src, dst) = pos.take(2)
    val factor = if (pos.length > 2) pos(2).toInt else 10
    val dimFactor = if (pos.length > 3) pos(3).toInt else 1

    def copies(t: String, keyCols: Seq[String], n: Int,
        perturb: DataFrame => DataFrame = identity): Unit = if (wanted(t)) {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val idx = spark.range(n.toLong).select(col("id").as("_copy_idx"))
      val out = keyCols
        .foldLeft(base.crossJoin(broadcast(idx)))((d, k) =>
          d.withColumn(k, col(k) + col("_copy_idx") * Stride))
      val fin = perturb(out).drop("_copy_idx")
      (if (nFiles > 0) fin.repartition(nFiles) else fin)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t x$n")
    }
    def once(t: String): Unit = if (wanted(t)) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t x1 (fixed dim)")
    }

    // copy 0 pristine; other copies' tokens suffixed with the copy index
    // (injective per copy → within-copy similarity structure unchanged,
    // cross-copy token sets disjoint → no synthetic cross-copy near-dups)
    val freshen: DataFrame => DataFrame = df =>
      df.withColumn("text",
        when(col("_copy_idx") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), col("_copy_idx")))))

    val dimN = factor * dimFactor
    once("region"); once("nation")
    copies("customer", Seq("c_custkey"), dimN)
    copies("supplier", Seq("s_suppkey"), dimN)
    copies("part", Seq("p_partkey"), dimN)
    copies("orders", Seq("o_orderkey", "o_custkey"), factor)
    copies("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), factor)
    // hot-key planting AFTER the key offset: event_id offsets are
    // multiples of Stride (divisible by 10), so "every 10th event" stays
    // uniform across copies and the hot user ends up with ~10% of the
    // WHOLE tier — one genuinely skewed shuffle key, not one per copy
    val plantHotUser: DataFrame => DataFrame = df =>
      df.withColumn("user_id",
        when(pmod(col("event_id"), lit(10)) === 0, lit(13L))
          .otherwise(col("user_id")))
    copies("events", Seq("event_id", "user_id"), factor,
      if (args.contains("--skew")) plantHotUser else identity)
    copies("documents", Seq("doc_id"), factor,
      if (freshText) freshen else identity)
    // fresh EMBEDDINGS (default, like fresh text; --verbatim-embeddings
    // opts out): copy 0 pristine, copy k's vectors cyclically shifted
    // by k mod dim. A dimension permutation is ORTHOGONAL, so every
    // within-copy cosine/L2/dot is preserved EXACTLY — the corpus's
    // planted near-dup pairs, kNN structure, and cluster geometry
    // replicate per copy (pairs scale ×n) — while a shifted vector is
    // no longer a near-dup of its unshifted siblings, killing the
    // verbatim artifact that made every vector gain n−1 exact
    // duplicates (C(n,2) cross-copy pairs, the same blow-up fresh
    // text fixed for documents). The RESIDUAL super-linearity the
    // fresh tier exposed — fixed 8-bit LSH buckets saturating as the
    // corpus grows (occupancy ∝ n ⇒ in-bucket pairs ∝ n²) — is the
    // engine's to fix, and is: dedup_embedding_cosine now sizes its
    // bucket width from the corpus count
    // ([[graft.functions.VectorOps.lshWidthFor]]).
    val freshVecs: DataFrame => DataFrame = df => {
      val dim = size(col("embedding"))
      val k = pmod(col("_copy_idx"), dim.cast("long")).cast("int")
      df.withColumn("embedding",
        when(col("_copy_idx") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), k + 1, dim - k),
            slice(col("embedding"), lit(1), k))))
    }
    copies("embeddings", Seq("vec_id"), factor,
      if (args.contains("--verbatim-embeddings")) identity else freshVecs)
  }
}
