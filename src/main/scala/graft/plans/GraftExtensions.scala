package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.BinaryType
import graft.functions._
import graft.functions.SketchOp.{Build, Distinct, Merge}

/** Engine extensions: the SQL functions of [[GraftExtensions.functions]],
  * the as-of join strategy and the dot-product rewrite. Two ways in, both
  * reading that one table:
  *
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  *    (the proper deployment hook), or
  *  - [[GraftExtensions.registerRuntime]] on an existing session (used by
  *    graft.Catalog, because the driver harness owns the session builder).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => RewriteDotProduct)
  }
}

object GraftExtensions {

  /** Every SQL function of the engine: its name, its usage text (`_FUNC_`
    * reads as the name, as in Spark's own) and its builder, which is handed
    * the name and the arguments.
    */
  val functions: Seq[(String, String, (String, Seq[Expression]) => Expression)] = Seq(
    // Codegen'd scalar expressions (this package).
    ("graft_dot",
      "_FUNC_(x, y) - dot product of two float/double arrays with double accumulation in array order.",
      (_, c) => DotProduct(c(0), c(1))),
    ("graft_dot_long",
      "_FUNC_(x, y) - exact int64 dot product of two bigint/int arrays; " +
        "NULL on length mismatch or null elements; overflow throws.",
      (_, c) => DotProductLong(c(0), c(1))),
    ("graft_sqdist_long",
      "_FUNC_(x, y) - exact int64 squared L2 distance of two bigint/int arrays; " +
        "NULL on length mismatch or null elements; overflow throws.",
      (_, c) => SqDistLong(c(0), c(1))),
    ("graft_jaro_winkler",
      "_FUNC_(a, b) - Jaro-Winkler similarity in [0,1]; " +
        "prefix boost (cap 4, p=0.1) applied only when jaro > 0.7.",
      (_, c) => JaroWinkler(c(0), c(1))),
    ("graft_dtw",
      "_FUNC_(a, b, w) - banded (Sakoe-Chiba |i-j| <= w) dynamic-time-warping distance of two " +
        "bigint arrays; exact int64; -1 when empty or the band cannot connect the endpoints.",
      (_, c) => Dtw(c(0), c(1), c(2))),
    ("graft_lz76",
      "_FUNC_(s) - Lempel-Ziv 1976 production complexity (phrase count of the " +
        "exhaustive-history parsing); exact integer, 0 for empty.",
      (_, c) => Lz76(c(0))),
    ("graft_hex32",
      "_FUNC_(h) - first-8-hex-chars value of a (md5) hash string; " +
        "value-identical to the portable 8-term instr/substring chain.",
      (_, c) => Hex32(c(0))),
    ("graft_lcs",
      "_FUNC_(a, b) - longest-common-subsequence length of two strings " +
        "(Wagner-Fischer DP); exact integer, 0 when either side is empty.",
      (_, c) => Lcs(c(0), c(1))),
    ("graft_rolling_hash",
      "_FUNC_(s, k) - all k-gram Rabin-Karp rolling hashes of s " +
        "(base 1000003, mod 2^32) as array<bigint>, computed in one O(n) pass.",
      (f, c) => RollingHash(c(0), intArg(c, 1, f))),
    ("graft_deletion_hashes",
      "_FUNC_(s, k) - FastSS deletion-neighborhood signatures for edit-distance <= k " +
        "candidate generation (k in {1,2}): one 64-bit hash per variant of s with at most " +
        "k characters deleted, as array<bigint>.",
      (f, c) => DeletionHashes(c(0), intArg(c, 1, f))),
    ("graft_bloom_might_contain",
      "_FUNC_(key, filter) - codegen'd membership probe of key against a serialized " +
        "Bloom filter (stat.bloomFilter layout).",
      (f, c) => c(1) match {
        case Literal(b: Array[Byte], BinaryType) => BloomMightContain(c(0), b)
        case other => throw new IllegalArgumentException(
          s"$f: argument 2 must be a binary literal, got $other")
      }),

    // Aggregates without siblings (graft.functions).
    ("graft_heavy_hitters",
      "_FUNC_(col, k) - Misra-Gries frequent-items sketch with k counters; " +
        "returns array<struct<item,est>> sorted by estimate desc.",
      (f, c) => HeavyHitters(c(0), intArg(c, 1, f)).toAggregateExpression()),
    ("graft_topk",
      "_FUNC_(col, k) - k largest values as a descending array<double>; " +
        "O(k) heap state per group, map-side combinable.",
      (f, c) => TopK(c(0), intArg(c, 1, f)).toAggregateExpression()),
    ("graft_vec_sum",
      "_FUNC_(arr) - element-wise sum of equal-length double/float arrays as array<double>; " +
        "O(d) state per group, map-side combinable.",
      (_, c) => VecSumAgg(c(0)).toAggregateExpression()),

    // The KMV sketch-column algebra (KmvDistinct.scala, KmvSetOps.scala).
    ("graft_kmv_distinct",
      "_FUNC_(col, k) - KMV distinct-count sketch estimate with k minimum values.",
      (f, c) => sketch(c, KmvAgg(Distinct, intArg(c, 1, f)))),
    ("graft_kmv_sketch",
      "_FUNC_(col, k) - KMV sketch of the column's distinct values as binary.",
      (f, c) => sketch(c, KmvAgg(Build, intArg(c, 1, f)))),
    ("graft_kmv_merge",
      "_FUNC_(sketch, k) - union of already-built KMV sketches as binary.",
      (f, c) => sketch(c, KmvAgg(Merge, intArg(c, 1, f)))),
    ("graft_kmv_estimate",
      "_FUNC_(sketch) - distinct-count estimate of a KMV sketch.",
      (_, c) => KmvEstimate(c(0))),
    ("graft_kmv_union",
      "_FUNC_(a, b) - estimated |A ∪ B| from two KMV sketches.",
      (_, c) => KmvUnionEstimate(c(0), c(1))),
    ("graft_kmv_intersect",
      "_FUNC_(a, b) - estimated |A ∩ B| from two KMV sketches.",
      (_, c) => KmvIntersectEstimate(c(0), c(1))),
    ("graft_kmv_jaccard",
      "_FUNC_(a, b) - estimated Jaccard similarity from two KMV sketches.",
      (_, c) => KmvJaccardEstimate(c(0), c(1))),

    // The HyperLogLog algebra (Hll.scala): constant-size (2^p bytes)
    // distinct counting.
    ("graft_hll_distinct",
      "_FUNC_(col, p) - HyperLogLog distinct-count estimate with 2^p registers.",
      (f, c) => sketch(c, HllAgg(Distinct, intArg(c, 1, f)))),
    ("graft_hll_sketch",
      "_FUNC_(col, p) - HyperLogLog register file of the column's distinct values as binary.",
      (f, c) => sketch(c, HllAgg(Build, intArg(c, 1, f)))),
    ("graft_hll_merge",
      "_FUNC_(sketch, p) - register-wise-max rollup of already-built HLL sketches as binary.",
      (f, c) => sketch(c, HllAgg(Merge, intArg(c, 1, f)))),
    ("graft_hll_estimate",
      "_FUNC_(sketch) - distinct-count estimate of an HLL sketch.",
      (_, c) => HllEstimate(c(0))),
    ("graft_hll_union",
      "_FUNC_(a, b) - estimated |A ∪ B| from two equal-precision HLL sketches.",
      (_, c) => HllUnionEstimate(c(0), c(1))),

    // The Count-Min algebra (CountMin.scala).
    ("graft_cms_sketch",
      "_FUNC_(col, depth, width) - Count-Min frequency sketch of a string column as binary.",
      (f, c) => sketch(c, CmsAgg(Build, intArg(c, 1, f), intArg(c, 2, f)))),
    ("graft_cms_merge",
      "_FUNC_(sketch) - elementwise rollup of already-built CMS sketches as binary; " +
        "NULL when no sketch arrives.",
      (_, c) => sketch(c, CmsAgg(Merge))),
    ("graft_cms_query",
      "_FUNC_(sketch, item) - one-sided frequency estimate (never undercounts).",
      (_, c) => CmsQueryExpr(c(0), c(1))),
    ("graft_cms_n",
      "_FUNC_(sketch) - exact total count folded into a CMS sketch.",
      (_, c) => CmsCountExpr(c(0))),

    // The KLL quantile algebra (KllQuantile.scala).
    ("graft_kll_sketch",
      "_FUNC_(col, k) - KLL quantile sketch of a numeric column as binary.",
      (f, c) => sketch(c, KllAgg(Build, intArg(c, 1, f)))),
    ("graft_kll_merge",
      "_FUNC_(sketch, k) - merge of already-built KLL sketches as binary.",
      (f, c) => sketch(c, KllAgg(Merge, intArg(c, 1, f)))),
    ("graft_kll_quantile",
      "_FUNC_(sketch, q) - quantile probe of a KLL sketch; NULL when empty.",
      (_, c) => KllQuantileExpr(c(0), c(1))),
    ("graft_kll_rank",
      "_FUNC_(sketch, x) - estimated fraction of mass <= x; NULL when empty.",
      (_, c) => KllRankExpr(c(0), c(1))),
    ("graft_kll_n",
      "_FUNC_(sketch) - exact total count folded into a KLL sketch.",
      (_, c) => KllCountExpr(c(0))))

  /** Argument `pos` of `fn`, which must be an integer literal. */
  private def intArg(children: Seq[Expression], pos: Int, fn: String): Int =
    children(pos) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an integer literal, got $other")
    }

  private def sketch[S](children: Seq[Expression], s: Sketch[S]): Expression =
    SketchAggregate(children.head, s).toAggregateExpression()

  /** The table as function-registry entries. */
  private lazy val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    functions.map { case (name, usage, build) =>
      val builder = (children: Seq[Expression]) => build(name, children)
      (FunctionIdentifier(name), new ExpressionInfo(builder.getClass.getName, null, name, usage, ""), builder)
    }

  /** Idempotent runtime registration on an already-built session. */
  def registerRuntime(spark: SparkSession): Unit = {
    registrations.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteDotProduct)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteDotProduct
    }
  }
}
