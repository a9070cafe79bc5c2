package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values) sketch state: the k smallest 63-bit hashes seen.
  * Distinct-count estimate: exact while fewer than k distinct hashes;
  * otherwise (k−1) / x₍ₖ₎ where x₍ₖ₎ is the k-th smallest hash normalized
  * into (0,1) — the classic KMV estimator.
  *
  * Deterministic (unlike sampling sketches): the state is a pure function
  * of the input SET, so merge order, partitioning, and retries cannot
  * change the result.
  */
final class KmvSketch(val k: Int) extends Serializable {
  // Sorted set of the k smallest hashes (size bounded by k).
  val mins: java.util.TreeSet[java.lang.Long] = new java.util.TreeSet[java.lang.Long]()

  def add(h: Long): Unit = {
    val v = h & Long.MaxValue // 63-bit non-negative
    if (mins.size < k) { mins.add(v); () }
    else if (v < mins.last()) {
      if (mins.add(v)) mins.remove(mins.last())
    }
  }

  def merge(other: KmvSketch): KmvSketch = {
    val it = other.mins.iterator()
    while (it.hasNext) add(it.next())
    this
  }

  def estimate: Long =
    if (mins.size < k) mins.size.toLong
    else {
      val kth = mins.last().toDouble / Long.MaxValue.toDouble
      math.round((k - 1) / kth)
    }
}

/** Sketch algebra (Beyer et al., "On Synopses for Distinct-Value
  * Estimation Under Multiset Operations", SIGMOD 2007): KMV sketches are
  * closed under union (merge the min-sets), and set intersections are
  * estimated from the agreement fraction ρ = |L ∩ L_A ∩ L_B| / k over the
  * combined k smallest hashes L. This is what makes sketch COLUMNS the
  * 100 TB pattern: per-partition/per-day sketches persist as binary,
  * re-aggregate associatively without touching raw data, and answer
  * union/intersection/Jaccard questions across any grouping after the
  * fact. All estimators are deterministic: state is a pure function of
  * the input set.
  */
object KmvSketch {

  def toBytes(buffer: KmvSketch): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.k)
    out.writeInt(buffer.mins.size)
    val it = buffer.mins.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): KmvSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val sketch = new KmvSketch(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) { sketch.mins.add(in.readLong()); i += 1 }
    sketch
  }

  /** Combined sketch at the common (smaller) k — the resolution both
    * operands support.
    */
  private def combined(a: KmvSketch, b: KmvSketch): KmvSketch = {
    val m = new KmvSketch(math.min(a.k, b.k))
    m.merge(a).merge(b)
  }

  /** Merge `other` into `buffer`, reconciling mismatched k: the result
    * lives at min(buffer.k, other.k) — the only resolution both operands
    * support (same rule as [[combined]]). Without the clamp, merging a
    * smaller-k (already truncated) sketch into a larger-k buffer leaves
    * the min-set under-full, so `estimate` takes its size<k "exact"
    * branch and grossly underestimates.
    */
  def mergeClamped(buffer: KmvSketch, other: KmvSketch): KmvSketch =
    if (other.k >= buffer.k) buffer.merge(other)
    else {
      val m = new KmvSketch(other.k)
      m.merge(buffer).merge(other)
    }

  def unionEstimate(a: KmvSketch, b: KmvSketch): Long = combined(a, b).estimate

  /** ρ·D̂(A∪B); exact while the union has fewer than k distinct hashes. */
  def intersectionEstimate(a: KmvSketch, b: KmvSketch): Long = {
    val m = combined(a, b)
    var inBoth = 0
    val it = m.mins.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (a.mins.contains(h) && b.mins.contains(h)) inBoth += 1
    }
    if (m.mins.size < m.k) inBoth.toLong
    else math.round(inBoth.toDouble / m.k * m.estimate)
  }

  /** Agreement fraction ρ — the KMV Jaccard-similarity estimator. */
  def jaccardEstimate(a: KmvSketch, b: KmvSketch): Double = {
    val m = combined(a, b)
    if (m.mins.isEmpty) return 0.0
    var inBoth = 0
    val it = m.mins.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (a.mins.contains(h) && b.mins.contains(h)) inBoth += 1
    }
    inBoth.toDouble / math.min(m.k, m.mins.size)
  }
}

/** Genuine 64-bit hash (xxHash64, the same hasher Spark's xxhash64()
  * expression uses). A 32-bit hash widened to Long collides at the 32-bit
  * birthday bound (~1% underestimate near 10^8 distinct, saturating at
  * 2^32) — useless for 100 TB distinct counts.
  */
private[functions] object KmvHash {
  private val Seed = 42L
  def hash(v: Any): Long = v match {
    case l: Long       => XXH64.hashLong(l, Seed)
    case i: Int        => XXH64.hashLong(i.toLong, Seed)
    case s: UTF8String =>
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), Seed)
    case d: Double     => XXH64.hashLong(java.lang.Double.doubleToLongBits(d), Seed)
    case other         =>
      val b = UTF8String.fromString(other.toString)
      XXH64.hashUnsafeBytes(b.getBaseObject, b.getBaseOffset, b.numBytes(), Seed)
  }
}

/** The KMV aggregates (C06 class): `graft_kmv_distinct(col, k)`, the
  * distinct-count estimate; `graft_kmv_sketch(col, k)`, the sketch of the
  * column's distinct values; `graft_kmv_merge(sketch, k)`, the union of
  * built sketches. Every merge clamps k to the smallest seen (see
  * [[KmvSketch.mergeClamped]]): a k=128 input sketch merged under
  * graft_kmv_merge(sk, 256) must yield a k=128 result, not a 256-slot
  * buffer that never fills and estimates "exactly". Property-checked
  * against exact COUNT(DISTINCT) in KmvDistinctSpec; approximate by design,
  * so not DuckDB-hash-declared (same status as C05's HLL).
  */
final case class KmvAgg(op: SketchOp, k: Int) extends Sketch[KmvSketch] {
  protected def family: String = "kmv"
  def empty(): KmvSketch = new KmvSketch(k)
  def add(s: KmvSketch, value: Any): KmvSketch = { s.add(KmvHash.hash(value)); s }
  def merge(s: KmvSketch, other: KmvSketch): KmvSketch = KmvSketch.mergeClamped(s, other)
  override def estimate(s: KmvSketch): Long = s.estimate
  def toBytes(s: KmvSketch): Array[Byte] = KmvSketch.toBytes(s)
  def fromBytes(bytes: Array[Byte]): KmvSketch = KmvSketch.fromBytes(bytes)
}
