package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) — the
  * point-frequency member of the sketch-column family beside
  * [[KmvSketch]] (distinct counts), [[KllState]] (quantiles),
  * [[MgSketch]] (top items), and [[TopK]] (extremes). Where Misra–Gries
  * keeps only the k heaviest keys, CMS answers a frequency query for ANY
  * key after the fact — the "how often did THIS url/token/user appear"
  * question over state that never stored the key itself.
  *
  * State: a depth × width matrix of int64 counters. Update hashes the
  * item once per row with an odd-multiplier mix of a 64-bit base hash
  * and increments one counter per row; the estimate is the row-wise
  * minimum. Guarantees after any updates/merges totalling n items:
  *   true ≤ est ≤ true + (e/width)·n  with probability 1 − e^(−depth).
  * One-sided error — CMS never undercounts — which the property spec
  * pins exactly. Merge is elementwise counter addition (dimensions must
  * match), so estimates are INDEPENDENT of partitioning and merge order:
  * unlike KLL, a CMS plan re-shuffle can never move an answer.
  *
  * 100 TB role: per-partition state is a fixed depth·width block of
  * longs regardless of key cardinality — a billion-key frequency table
  * that would need a corpus-wide shuffle collapses to O(groups) sketch
  * bytes, rolled up later with `graft_cms_merge` (same shape as the KMV
  * telemetry argument). Hash mixing is a pure function of the item
  * bytes, so sketches built on different executors/JVMs agree
  * byte-for-byte.
  */
final class CmsState(val depth: Int, val width: Int) extends Serializable {
  require(depth >= 1 && depth <= 16, s"depth in [1,16], got $depth")
  require(width >= 8, s"width >= 8, got $width")

  val counts: Array[Long] = new Array[Long](depth * width)
  var n: Long = 0L

  /** 64-bit avalanche of the item's UTF-8 bytes (FNV-1a core + final
    * mix) — deterministic across JVMs, no RNG anywhere. */
  private def baseHash(item: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = item.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    // fmix64 (MurmurHash3 finalizer) to break FNV's weak low bits
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  private def slot(base: Long, row: Int): Int = {
    // per-row odd-multiplier remix; floorMod keeps the index positive
    val h = (base + 0x9e3779b97f4a7c15L * (row + 1)) * 0xbf58476d1ce4e5b9L
    java.lang.Math.floorMod(h ^ (h >>> 31), width.toLong).toInt
  }

  def add(item: String, by: Long = 1L): Unit = {
    val base = baseHash(item)
    var r = 0
    while (r < depth) { counts(r * width + slot(base, r)) += by; r += 1 }
    n += by
  }

  def estimate(item: String): Long = {
    val base = baseHash(item)
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = counts(r * width + slot(base, r))
      if (c < min) min = c
      r += 1
    }
    if (min == Long.MaxValue) 0L else min
  }

  def merge(other: CmsState): CmsState = {
    require(other.depth == depth && other.width == width,
      s"CMS dimension mismatch: ${depth}x$width vs ${other.depth}x${other.width}")
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
    n += other.n
    this
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(depth); out.writeInt(width); out.writeLong(n)
    var i = 0
    while (i < counts.length) { out.writeLong(counts(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }
}

object CmsState {
  def deserialize(bytes: Array[Byte]): CmsState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new CmsState(in.readInt(), in.readInt())
    s.n = in.readLong()
    var i = 0
    while (i < s.counts.length) { s.counts(i) = in.readLong(); i += 1 }
    s
  }
}

/** The Count-Min aggregates: `graft_cms_sketch(col, depth, width)`, the
  * sketch of a string column, and `graft_cms_merge(sketch)`, the
  * elementwise rollup of built sketches. A merge takes its dimensions from
  * the first non-null sketch, and they must agree (a mismatch is a hard
  * error — silently mixing geometries would corrupt counts); it returns
  * NULL when no sketch arrived, so its state is `None` until one does.
  */
final case class CmsAgg(op: SketchOp, depth: Int = 0, width: Int = 0)
    extends Sketch[Option[CmsState]] {
  protected def family: String = "cms"
  override def nullable: Boolean = op == SketchOp.Merge
  def empty(): Option[CmsState] =
    if (op == SketchOp.Merge) None else Some(new CmsState(depth, width))
  def add(s: Option[CmsState], value: Any): Option[CmsState] = { s.get.add(value.toString); s }
  def merge(s: Option[CmsState], other: Option[CmsState]): Option[CmsState] = (s, other) match {
    case (Some(a), Some(b)) => Some(a.merge(b))
    case (a, None)          => a
    case (None, b)          => b
  }
  def toBytes(s: Option[CmsState]): Array[Byte] = s.fold(Array.emptyByteArray)(_.serialize())
  def fromBytes(bytes: Array[Byte]): Option[CmsState] =
    if (bytes.isEmpty) None else Some(CmsState.deserialize(bytes))
  override def result(s: Option[CmsState]): Any = s.map(_.serialize()).orNull
}

/** `graft_cms_query(sketch, item)` — frequency estimate for one item;
  * NULL when the sketch is NULL. */
case class CmsQueryExpr(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullSafeEval(sketch: Any, item: Any): Any =
    CmsState.deserialize(sketch.asInstanceOf[Array[Byte]])
      .estimate(item.asInstanceOf[UTF8String].toString)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsQueryExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_cms_query"
}

/** `graft_cms_n(sketch)` — exact total update count folded into a CMS. */
case class CmsCountExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullSafeEval(sketch: Any): Any =
    CmsState.deserialize(sketch.asInstanceOf[Array[Byte]]).n
  override protected def withNewChildInternal(
      newChild: Expression): CmsCountExpr = copy(child = newChild)
  override def prettyName: String = "graft_cms_n"
}
