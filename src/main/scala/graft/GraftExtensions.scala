package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{HeavyHitters, MinHashSig, SimHash, SortedJaccard, SortedShingles, TDigestAgg, TDigestQuantile, VectorDot, VectorL2Sq}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so `spark.sql("SELECT simhash(...)...")`
  * works, not just the Column API, and injects the
  * [[graft.plans.RangeJoinRewrite]] optimizer rule (dormant until its
  * bucket-width conf is set).
  *
  * Wire up with:
  * {{{
  *   // config-driven (spark-submit --conf works the same way)
  *   graft.Session.local(app, "spark.sql.extensions" -> "graft.GraftExtensions")
  *   // or in-process, on a session builder:
  *   builder.withExtensions(new GraftExtensions)
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // planner-level range-join decomposition (opt-in via
    // spark.graft.rangeJoin.bucketWidth; see the rule's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)

    // physical per-group top-k (two-phase bounded heaps; dormant unless
    // a TopKPerGroupNode appears in the plan — see graft.operators.TopK)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)

    ext.injectFunction((
      new FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens) => SimHash(tokens)
        case _ => throw new IllegalArgumentException(
          "simhash(array<string>)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(arr, Literal(k: Int, _)) => MinHashSig(arr, k)
        case _ => throw new IllegalArgumentException(
          "minhash_sig(array<string>, k literal int)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("sorted_jaccard"),
      new ExpressionInfo(classOf[SortedJaccard].getName, "sorted_jaccard"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => SortedJaccard(a, b)
        case _ => throw new IllegalArgumentException(
          "sorted_jaccard(array<string>, array<string>)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("sorted_shingles"),
      new ExpressionInfo(classOf[SortedShingles].getName, "sorted_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(arr, Literal(n: Int, _)) => SortedShingles(arr, n)
        case _ => throw new IllegalArgumentException(
          "sorted_shingles(array<string>, n literal int)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => VectorDot(a, b)
        case _ => throw new IllegalArgumentException(
          "vector_dot(array<float>, array<float>)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHitters].getName, "heavy_hitters"),
      (args: Seq[Expression]) => args match {
        case Seq(item, Literal(k: Int, _)) => HeavyHitters(item, k)
        case _ => throw new IllegalArgumentException(
          "heavy_hitters(string, capacity literal int)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("tdigest"),
      new ExpressionInfo(classOf[TDigestAgg].getName, "tdigest"),
      (args: Seq[Expression]) => args match {
        case Seq(v) => TDigestAgg(v, 200, mergeInput = false)
        case Seq(v, Literal(c: Int, _)) => TDigestAgg(v, c, mergeInput = false)
        case _ => throw new IllegalArgumentException(
          "tdigest(double[, compression literal int])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("tdigest_merge"),
      new ExpressionInfo(classOf[TDigestAgg].getName, "tdigest_merge"),
      (args: Seq[Expression]) => args match {
        case Seq(v) => TDigestAgg(v, 200, mergeInput = true)
        case Seq(v, Literal(c: Int, _)) => TDigestAgg(v, c, mergeInput = true)
        case _ => throw new IllegalArgumentException(
          "tdigest_merge(binary[, compression literal int])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("tdigest_quantile"),
      new ExpressionInfo(classOf[TDigestQuantile].getName, "tdigest_quantile"),
      (args: Seq[Expression]) => args match {
        case Seq(sk, Literal(q: Double, _)) => TDigestQuantile(sk, q)
        case _ => throw new IllegalArgumentException(
          "tdigest_quantile(binary, q literal double)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("vector_l2sq"),
      new ExpressionInfo(classOf[VectorL2Sq].getName, "vector_l2sq"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => VectorL2Sq(a, b)
        case _ => throw new IllegalArgumentException(
          "vector_l2sq(array<float>, array<double>)")
      }))
  }
}
