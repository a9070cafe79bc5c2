package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** KMV sketch COLUMNS (SURVEY.md §2.4 sketch family, the multiset-algebra
  * layer of `graft_kmv_distinct`, per Beyer et al. SIGMOD 2007):
  *
  *  - `graft_kmv_sketch(col, k)`   → binary  (aggregate [[KmvAgg]]: build a sketch)
  *  - `graft_kmv_merge(sketch, k)` → binary  (aggregate [[KmvAgg]]: union sketches)
  *  - `graft_kmv_estimate(sketch)` → bigint  (scalar: distinct estimate)
  *  - `graft_kmv_union(a, b)`      → bigint  (scalar: |A ∪ B| estimate)
  *  - `graft_kmv_intersect(a, b)`  → bigint  (scalar: |A ∩ B| estimate)
  *  - `graft_kmv_jaccard(a, b)`    → double  (scalar: J(A,B) estimate)
  *
  * Why this shape matters at 100 TB: the expensive pass over raw data
  * happens ONCE (per partition / day / source), producing k·8-byte binary
  * state that persists in ordinary tables; every later rollup or
  * cross-group set question re-aggregates the sketches associatively —
  * cost proportional to group count, not data size. Deterministic
  * throughout (pure function of the input set), so retries and merge
  * order cannot move a gated result.
  *
  * The scalar ops are CodegenFallback by design: they run once per GROUP
  * on k-bounded state, not per input row — codegen would buy nothing
  * (contrast with the per-row `graft_dot`/`graft_bloom_might_contain`,
  * which are full codegen expressions).
  */
case class KmvEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    KmvSketch.fromBytes(input.asInstanceOf[Array[Byte]]).estimate
  override protected def withNewChildInternal(newChild: Expression): KmvEstimate =
    copy(child = newChild)
  override def prettyName: String = "graft_kmv_estimate"
}

case class KmvUnionEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    KmvSketch.unionEstimate(
      KmvSketch.fromBytes(a.asInstanceOf[Array[Byte]]),
      KmvSketch.fromBytes(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvUnionEstimate =
    copy(left = l, right = r)
  override def prettyName: String = "graft_kmv_union"
}

case class KmvIntersectEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    KmvSketch.intersectionEstimate(
      KmvSketch.fromBytes(a.asInstanceOf[Array[Byte]]),
      KmvSketch.fromBytes(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvIntersectEstimate =
    copy(left = l, right = r)
  override def prettyName: String = "graft_kmv_intersect"
}

case class KmvJaccardEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    KmvSketch.jaccardEstimate(
      KmvSketch.fromBytes(a.asInstanceOf[Array[Byte]]),
      KmvSketch.fromBytes(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvJaccardEstimate =
    copy(left = l, right = r)
  override def prettyName: String = "graft_kmv_jaccard"
}
