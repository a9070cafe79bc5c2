package graft

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck property tests (SURVEY.md §5.3) over driver-side algebra —
  * the pieces whose correctness is a math property, not a fixture: the
  * UDAF merge monoid, slab balancing bounds, and Jaccard set identities.
  */
object GeneratedPropertiesSpec extends Properties("graft") {

  private val m = graft.functions.LogProduct

  property("LogProduct merge: associative, commutative, zero-identity") =
    Prop.forAll(Gen.chooseNum(-50.0, 50.0), Gen.chooseNum(-50.0, 50.0),
      Gen.chooseNum(-50.0, 50.0)) { (a, b, c) =>
      math.abs(m.merge(m.merge(a, b), c) - m.merge(a, m.merge(b, c))) < 1e-9 &&
      m.merge(a, b) == m.merge(b, a) &&
      m.merge(a, m.zero) == a
    }

  property("LogProduct reduce+finish == product") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0.5, 2.0))) { xs =>
      val viaAgg = m.finish(xs.foldLeft(m.zero)(m.reduce))
      math.abs(viaAgg - xs.product) / xs.product < 1e-9
    }

  property("SlabAssignment.lpt: in-range assignment, LPT load bound") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 1000L), Gen.chooseNum(1L, 100L))),
      Gen.chooseNum(1, 16)) { (raw, slabs) =>
      val weights = raw.toMap.toSeq // dedupe slice ids
      val p = graft.tensor.SlabAssignment.lpt(weights, new Array[Long](slabs))
      val loads = new Array[Long](slabs)
      val inRange = weights.forall { case (i, w) =>
        val s = p.slabOf(i)
        if (s >= 0 && s < slabs) { loads(s) += w; true } else false
      }
      val ideal = weights.map(_._2).sum.toDouble / slabs
      val largest = weights.map(_._2).max
      // Always-valid greedy bound: when the eventual max slab received its
      // last slice it was the least loaded, hence at or below the mean, so
      // max ≤ ideal + largest. (4/3·OPT is the LPT guarantee, but OPT is
      // not computable here and max(largest, ideal) underestimates it —
      // e.g. five equal slices on four slabs.)
      inRange && loads.max <= ideal.ceil.toLong + largest
    }

  property("Jaccard on bitmask sets: identity, symmetry, bounds, formula") =
    Prop.forAll(Gen.chooseNum(1L, (1L << 31) - 1), Gen.chooseNum(1L, (1L << 31) - 1)) {
      (a, b) =>
        def j(x: Long, y: Long): Double = {
          val inter = java.lang.Long.bitCount(x & y).toDouble
          inter / java.lang.Long.bitCount(x | y).toDouble
        }
        val inter = java.lang.Long.bitCount(a & b).toDouble
        val alt = inter /
          (java.lang.Long.bitCount(a) + java.lang.Long.bitCount(b) - inter)
        j(a, a) == 1.0 && j(a, b) == j(b, a) &&
          j(a, b) >= 0.0 && j(a, b) <= 1.0 &&
          math.abs(j(a, b) - alt) < 1e-12
    }

  private val wordStream: Gen[List[String]] = for {
    n <- Gen.chooseNum(1, 2000)
    zipf <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.oneOf("hot1", "hot2"),
      4 -> Gen.oneOf("warm1", "warm2", "warm3"),
      3 -> Gen.chooseNum(0, 200).map(i => s"cold$i")))
  } yield zipf

  property("Misra-Gries: freq > n/(k+1) retained; est in [true - n/(k+1), true]") =
    Prop.forAll(wordStream, Gen.chooseNum(2, 32)) { (words, k) =>
      val sk = new graft.functions.MgSketch(k)
      words.foreach(sk.add)
      val n = words.size
      val bound = n.toDouble / (k + 1)
      val exact = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      sk.counts.size <= k &&
        exact.forall { case (w, c) =>
          val est = sk.counts.getOrElse(w, 0L)
          est <= c && est >= c - bound && (c <= bound || est > 0)
        }
    }

  property("Misra-Gries merge keeps the guarantee for any stream split") =
    Prop.forAll(wordStream, Gen.chooseNum(2, 32), Gen.chooseNum(0.0, 1.0)) {
      (words, k, frac) =>
        val cut = (words.size * frac).toInt
        val (l, r) = words.splitAt(cut)
        val a = new graft.functions.MgSketch(k); l.foreach(a.add)
        val b = new graft.functions.MgSketch(k); r.foreach(b.add)
        val m = a.merge(b)
        val n = words.size
        // Mergeable-summaries theorem (Agarwal et al., PODS'12): the
        // subtract-(k+1)th-largest merge keeps TOTAL error ≤ n/(k+1) — it
        // does not add across the split.
        val bound = n.toDouble / (k + 1)
        val exact = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
        m.counts.size <= k &&
          exact.forall { case (w, c) =>
            val est = m.counts.getOrElse(w, 0L)
            est <= c && est >= c - bound
          }
    }

  private def hllOf(p: Int, xs: Seq[Long]): graft.functions.HllSketch = {
    val s = new graft.functions.HllSketch(p)
    xs.foreach(s.add)
    s
  }

  property("HLL registers are a pure function of the input SET (order/dup/split invariant)") =
    Prop.forAll(Gen.listOf(Gen.long), Gen.chooseNum(4, 12), Gen.chooseNum(0.0, 1.0)) {
      (xs, p, frac) =>
        val dup = xs ++ xs.take(xs.size / 2) // duplicates cannot move registers
        val cut = (xs.size * frac).toInt
        val (l, r) = xs.splitAt(cut)
        val whole = hllOf(p, scala.util.Random.shuffle(dup))
        val merged = hllOf(p, l).merge(hllOf(p, r))
        java.util.Arrays.equals(whole.regs, merged.regs)
    }

  property("HLL merge: commutative and idempotent at the register level") =
    Prop.forAll(Gen.listOf(Gen.long), Gen.listOf(Gen.long), Gen.chooseNum(4, 12)) {
      (xs, ys, p) =>
        val ab = hllOf(p, xs).merge(hllOf(p, ys))
        val ba = hllOf(p, ys).merge(hllOf(p, xs))
        val again = {
          val c = graft.functions.HllSketch.fromBytes(
            graft.functions.HllSketch.toBytes(ab))
          c.merge(ab) // self-merge must not move any register
        }
        java.util.Arrays.equals(ab.regs, ba.regs) &&
          java.util.Arrays.equals(again.regs, ab.regs)
    }

  property("HLL small-range (linear counting): near-exact when n << m") =
    Prop.forAll(Gen.chooseNum(0, 100), Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val xs = Seq.fill(n)(rnd.nextLong()).distinct
      val est = hllOf(12, xs).estimate
      // LC bias is register collisions: ~n^2/2m expected occupied loss
      math.abs(est - xs.size) <= 3 + xs.size.toLong * xs.size / (1 << 12)
    }

  property("HLL estimate within 6 standard errors at p=10") =
    Prop.forAll(Gen.chooseNum(500, 20000), Gen.long) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val xs = (0 until n).map(_ => rnd.nextLong()).distinct
      val est = hllOf(10, xs).estimate
      val se = 1.04 / math.sqrt(1 << 10) // ~3.25%
      math.abs(est - xs.size).toDouble / xs.size <= 6 * se
    }
}
