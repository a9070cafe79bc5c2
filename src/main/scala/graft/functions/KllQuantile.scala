package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** KLL quantile sketch (Karnin, Lang & Liberty, "Optimal Quantile
  * Approximation in Streams", FOCS 2016) — the quantile member of the
  * sketch-column family beside [[KmvSketch]] (distinct counts),
  * [[HeavyHitters]] (frequencies), and [[TopK]] (extremes).
  *
  * State is a hierarchy of compactors: items at level i carry weight 2^i.
  * When the sketch overflows its capacity budget, the lowest over-full
  * level is sorted and every other element is promoted one level up (the
  * other half is discarded) — total weight is conserved EXACTLY, so the
  * sketch always knows the true n. Level capacities decay geometrically
  * (ratio 2/3) below the top, giving O(k·log(n/k)) space and a uniform
  * ~O(1/k) rank-error guarantee.
  *
  * Determinism: the textbook sketch flips a random coin for each
  * compaction offset; this implementation alternates the offset per level
  * (the "deterministic KLL" variant — same bound shape, no RNG), so a
  * sketch is a pure function of its input SEQUENCE and retries of the
  * same partition produce byte-identical state. Cross-partition merge
  * order can still legitimately move estimates WITHIN the error bound —
  * quantile sketches, unlike KMV's set-state, are order-sensitive — which
  * is why the specs pin error bounds, not cross-plan byte equality.
  *
  * Why this shape matters at 100 TB: identical to the KMV argument — the
  * expensive pass over raw data happens once per partition/day/source,
  * the sketch persists as a small binary column, and every later rollup
  * (`graft_kll_merge`) or quantile probe (`graft_kll_quantile`) works on
  * k-bounded state at cost proportional to GROUP count, not data size.
  * Exact distributed quantiles need a full sort per question (Q54's
  * rank-and-pick discipline); the sketch answers any later quantile
  * question from the stored state with no re-scan at all.
  */
final class KllState(val k: Int) extends Serializable {
  require(k >= 8, s"k must be >= 8, got $k")

  /** levels(i) holds items of weight 2^i, unsorted between compactions. */
  var levels: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer.empty[Double])
  /** Exact total weight (number of updates folded in). */
  var n: Long = 0L
  /** Per-level alternating compaction offset — the determinism seam. */
  var parity: ArrayBuffer[Boolean] = ArrayBuffer(false)

  private def numLevels: Int = levels.length

  /** Capacity of `level` in a hierarchy of `h` levels: k at the top,
    * decaying by 2/3 per level below it, floored so low levels still
    * amortize their compaction sorts.
    */
  private def cap(level: Int, h: Int): Int =
    math.max(8, math.ceil(k * math.pow(2.0 / 3.0, (h - 1 - level).toDouble)).toInt)

  private def totalCap: Int = {
    val h = numLevels
    var s = 0; var i = 0
    while (i < h) { s += cap(i, h); i += 1 }
    s
  }

  private def totalItems: Int = {
    var s = 0; var i = 0
    while (i < numLevels) { s += levels(i).length; i += 1 }
    s
  }

  def update(x: Double): Unit = {
    if (java.lang.Double.isNaN(x)) return // NaN has no rank; ignore like null
    levels(0) += x
    n += 1L
    compressIfNeeded()
  }

  /** Promote every other element of the lowest over-full level. The even
    * prefix of the sorted level compacts exactly (t pairs of weight w →
    * t survivors of weight 2w — weight conserved); an odd leftover stays
    * at its level, largest-last so the retained item is deterministic.
    */
  private def compressIfNeeded(): Unit = {
    while (totalItems > totalCap) {
      val h = numLevels
      var lvl = -1
      var i = 0
      while (lvl < 0 && i < h) {
        if (levels(i).length >= cap(i, h)) lvl = i
        i += 1
      }
      if (lvl < 0) return // nothing individually over-full; accept the slack
      val buf = levels(lvl)
      val sorted = buf.toArray
      java.util.Arrays.sort(sorted)
      val pairs = sorted.length / 2
      val offset = if (parity(lvl)) 1 else 0
      parity(lvl) = !parity(lvl)
      if (lvl + 1 >= numLevels) {
        levels += ArrayBuffer.empty[Double]
        parity += false
      }
      val up = levels(lvl + 1)
      var p = 0
      while (p < pairs) { up += sorted(2 * p + offset); p += 1 }
      buf.clear()
      if (sorted.length % 2 == 1) buf += sorted(sorted.length - 1)
    }
  }

  /** Level-aligned merge (weights agree by construction), then compress. */
  def merge(other: KllState): KllState = {
    var i = 0
    while (i < other.levels.length) {
      if (i >= numLevels) { levels += ArrayBuffer.empty[Double]; parity += false }
      levels(i) ++= other.levels(i)
      i += 1
    }
    n += other.n
    compressIfNeeded()
    this
  }

  /** All (value, weight) pairs, sorted by value. */
  private def weighted: Array[(Double, Long)] = {
    val out = ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < numLevels) {
      val w = 1L << i
      levels(i).foreach(v => out += ((v, w)))
      i += 1
    }
    out.toArray.sortBy(_._1)
  }

  /** Smallest stored value whose cumulative weight reaches ceil(q·n) —
    * the lower-quantile convention, matching Q54's rank-and-pick.
    */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile $q out of [0,1]")
    val items = weighted
    if (items.isEmpty) return Double.NaN
    val target = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    var i = 0
    while (i < items.length) {
      cum += items(i)._2
      if (cum >= target) return items(i)._1
      i += 1
    }
    items(items.length - 1)._1
  }

  /** Estimated fraction of mass ≤ x. */
  def rank(x: Double): Double = {
    if (n == 0L) return Double.NaN
    var below = 0L
    var i = 0
    while (i < numLevels) {
      val w = 1L << i
      levels(i).foreach(v => if (v <= x) below += w)
      i += 1
    }
    below.toDouble / n.toDouble
  }
}

object KllState {

  def toBytes(s: KllState): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(s.k)
    out.writeLong(s.n)
    out.writeInt(s.levels.length)
    var i = 0
    while (i < s.levels.length) {
      out.writeBoolean(s.parity(i))
      out.writeInt(s.levels(i).length)
      s.levels(i).foreach(out.writeDouble)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): KllState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new KllState(in.readInt())
    s.n = in.readLong()
    val h = in.readInt()
    s.levels = ArrayBuffer.empty
    s.parity = ArrayBuffer.empty
    var i = 0
    while (i < h) {
      s.parity += in.readBoolean()
      val m = in.readInt()
      val buf = ArrayBuffer.empty[Double]
      var j = 0
      while (j < m) { buf += in.readDouble(); j += 1 }
      s.levels += buf
      i += 1
    }
    s
  }

  /** Merge reconciling mismatched k: the result lives at min(k_a, k_b) —
    * the only resolution both operands support (the [[KmvSketch]]
    * `mergeClamped` rule; without it a small-k sketch merged into a
    * large-k buffer would report tighter error than its state carries).
    */
  def mergeClamped(buffer: KllState, other: KllState): KllState =
    if (other.k >= buffer.k) buffer.merge(other)
    else {
      val m = new KllState(other.k)
      m.merge(buffer).merge(other)
    }
}

/** The KLL aggregates: `graft_kll_sketch(col, k)`, the sketch of a
  * numeric column (nulls and NaNs skipped), and `graft_kll_merge(sketch,
  * k)`, the rollup of built sketches. Every merge clamps k to the smallest
  * seen ([[KllState.mergeClamped]]).
  */
final case class KllAgg(op: SketchOp, k: Int) extends Sketch[KllState] {
  protected def family: String = "kll"
  def empty(): KllState = new KllState(k)
  def add(s: KllState, value: Any): KllState = {
    s.update(value match {
      case d: Double => d
      case f: Float => f.toDouble
      case l: Long => l.toDouble
      case i: Int => i.toDouble
      case h: Short => h.toDouble
      case b: Byte => b.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(s"$name: non-numeric input $other")
    })
    s
  }
  def merge(s: KllState, other: KllState): KllState = KllState.mergeClamped(s, other)
  def toBytes(s: KllState): Array[Byte] = KllState.toBytes(s)
  def fromBytes(bytes: Array[Byte]): KllState = KllState.fromBytes(bytes)
}

/** `graft_kll_quantile(sketch, q)` — quantile probe of a stored sketch.
  * CodegenFallback by the KMV rule: runs once per GROUP on k-bounded
  * state, not per input row. NULL on an empty sketch.
  */
case class KllQuantileExpr(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  // NULL on an empty sketch even when the inputs are non-nullable
  override def nullable: Boolean = true
  override def nullSafeEval(sk: Any, q: Any): Any = {
    val s = KllState.fromBytes(sk.asInstanceOf[Array[Byte]])
    if (s.n == 0L) null else s.quantile(q.asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllQuantileExpr =
    copy(left = l, right = r)
  override def prettyName: String = "graft_kll_quantile"
}

/** `graft_kll_rank(sketch, x)` — estimated fraction of mass ≤ x; NULL on
  * an empty sketch.
  */
case class KllRankExpr(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  // NULL on an empty sketch even when the inputs are non-nullable
  override def nullable: Boolean = true
  override def nullSafeEval(sk: Any, x: Any): Any = {
    val s = KllState.fromBytes(sk.asInstanceOf[Array[Byte]])
    if (s.n == 0L) null else s.rank(x.asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllRankExpr =
    copy(left = l, right = r)
  override def prettyName: String = "graft_kll_rank"
}

/** `graft_kll_n(sketch)` — the EXACT total weight folded into the sketch
  * (KLL conserves n through every compaction and merge).
  */
case class KllCountExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(sk: Any): Any =
    KllState.fromBytes(sk.asInstanceOf[Array[Byte]]).n
  override protected def withNewChildInternal(newChild: Expression): KllCountExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_kll_n"
}
