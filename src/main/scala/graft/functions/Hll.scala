package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** HyperLogLog sketch state (Flajolet, Fusy, Gandouet & Meunier, AofA
  * 2007; 64-bit-hash variant per Heule, Nunkesser & Hall, EDBT 2013):
  * m = 2^p one-byte registers, each holding the maximum "rank" (position
  * of the first 1-bit in the suffix) seen for hashes routed to it by
  * their top p bits.
  *
  * The CONSTANT-size member of the sketch family: KMV costs k·8 bytes
  * for ~1/√k error; HLL costs 2^p bytes for ~1.04/√(2^p) error — p=12 is
  * 4 KB for ~1.6%, the production default in BigQuery/Redis/Druid. Like
  * every sketch here it is deterministic: registers are a pure function
  * of the input SET (register-wise max is commutative, associative,
  * idempotent), so partitioning, merge order and retries cannot move a
  * result, and `sketch(A ∪ B)` is BYTE-IDENTICAL to
  * `merge(sketch(A), sketch(B))` — pinned in HllSpec.
  *
  * Estimator: raw harmonic mean α_m·m²/Σ2^(−M_j); below 2.5·m with empty
  * registers it switches to linear counting m·ln(m/V) (the small-range
  * regime where the raw estimator biases high). With 64-bit hashes the
  * 2^32 large-range correction of the 2007 paper is unnecessary (Heule
  * et al. §4): collisions appear at the 2^64 birthday bound, far past
  * any 100 TB cardinality.
  *
  * Merging requires equal p: folding a precision-p register file down to
  * p' < p is lossy (the reassigned index bits are part of the discarded
  * rank suffix), so unlike KMV's k-clamp a silent downgrade would
  * corrupt the estimate — mismatched p fails loudly instead.
  */
final class HllSketch(val p: Int) extends Serializable {
  require(p >= 4 && p <= 18, s"hll precision must be in [4,18], got $p")
  val m: Int = 1 << p
  val regs: Array[Byte] = new Array[Byte](m)

  def add(h: Long): Unit = {
    val idx = (h >>> (64 - p)).toInt
    val rest = h << p
    // rank = leading zeros of the suffix + 1, capped by suffix width
    val rank = if (rest == 0L) (64 - p + 1)
      else java.lang.Long.numberOfLeadingZeros(rest) + 1
    if (rank > regs(idx)) regs(idx) = rank.toByte
  }

  def merge(other: HllSketch): HllSketch = {
    require(other.p == p,
      s"cannot merge HLL sketches of different precision ($p vs ${other.p})")
    var i = 0
    while (i < m) {
      if (other.regs(i) > regs(i)) regs(i) = other.regs(i)
      i += 1
    }
    this
  }

  private def alpha: Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  def estimate: Long = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = regs(i) & 0xff
      sum += java.lang.Math.scalb(1.0, -r) // 2^-r exactly
      if (r == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m * m / sum
    val e =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(e)
  }
}

object HllSketch {

  def toBytes(buffer: HllSketch): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.p)
    out.write(buffer.regs)
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): HllSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val sketch = new HllSketch(in.readInt())
    in.readFully(sketch.regs)
    sketch
  }

  def unionEstimate(a: HllSketch, b: HllSketch): Long = {
    val u = new HllSketch(a.p)
    u.merge(a).merge(b).estimate
  }
}

/** The HLL aggregates: `graft_hll_distinct(col, p)`, the distinct-count
  * estimate with 2^p-byte state (the C05-class aggregate with an explicitly
  * owned sketch: Spark's approx_count_distinct is also HLL++, but its state
  * is not a first-class column); `graft_hll_sketch(col, p)`, the register
  * file as a binary column, the scan-once half of the sketch-column
  * pattern; `graft_hll_merge(sketch, p)`, the register-wise-max rollup of
  * built sketches, whose p must match every input sketch. Approximate by
  * design, so property-checked in HllSpec rather than DuckDB-hash-declared.
  */
final case class HllAgg(op: SketchOp, p: Int) extends Sketch[HllSketch] {
  protected def family: String = "hll"
  def empty(): HllSketch = new HllSketch(p)
  def add(s: HllSketch, value: Any): HllSketch = { s.add(KmvHash.hash(value)); s }
  def merge(s: HllSketch, other: HllSketch): HllSketch = s.merge(other)
  override def estimate(s: HllSketch): Long = s.estimate
  def toBytes(s: HllSketch): Array[Byte] = HllSketch.toBytes(s)
  def fromBytes(bytes: Array[Byte]): HllSketch = HllSketch.fromBytes(bytes)
}

/** `graft_hll_estimate(sketch)` — distinct-count readout of a built
  * sketch. CodegenFallback: runs once per group on 2^p-bounded state.
  */
case class HllEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    HllSketch.fromBytes(input.asInstanceOf[Array[Byte]]).estimate
  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
  override def prettyName: String = "graft_hll_estimate"
}

/** `graft_hll_union(a, b)` — estimated |A ∪ B| from two sketches of
  * equal precision (register-wise max, then estimate).
  */
case class HllUnionEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    HllSketch.unionEstimate(
      HllSketch.fromBytes(a.asInstanceOf[Array[Byte]]),
      HllSketch.fromBytes(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HllUnionEstimate =
    copy(left = l, right = r)
  override def prettyName: String = "graft_hll_union"
}
