package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD

/** A seeded 3-way tensor of exact rank `rank` whose mode-1 slice sizes are
  * heavy-tailed: Zipf with exponent 1 over the rows. Component r has signed
  * factor entries; its mode-2 and mode-3 factors are nonzero only on the
  * first side_r = side/(r+1) indices. Mode-1 rows come in `rank` blocks,
  * block m holding rowsPerBlock·(2m+1) rows; a row of block m mixes
  * components m..rank-1, so its slice is dense on side_m × side_m cells.
  * Blocks 0..m hold the first rowsPerBlock·(m+1)² rows, so the t-th largest
  * slice has about rowsPerBlock·side²/t nonzeros: a few slices each hold a
  * large share of a slab, and many hold little. The tensor is a sum of
  * `rank` rank-one terms, so a rank-`rank` CP model can fit it exactly. The
  * seed sets every factor entry and scatters the rows over mode 1 by a
  * seeded permutation.
  */
final case class SkewTensor(rank: Int, rowsPerBlock: Int, side: Int, seed: Long) {
  val sides: Array[Int] = Array.tabulate(rank)(m => math.max(2, math.round(side.toDouble / (m + 1)).toInt))
  val blockRows: Array[Int] = Array.tabulate(rank)(m => rowsPerBlock * (2 * m + 1))
  val rows: Int = blockRows.sum
  def nnz: Long = (0 until rank).map(m => blockRows(m).toLong * sides(m) * sides(m)).sum

  private def blockOf(row: Int): Int = {
    var m = 0; var end = blockRows(0)
    while (row >= end) { m += 1; end += blockRows(m) }
    m
  }

  /** Mode-1 index of each generated row. */
  val perm: Array[Int] = {
    val p = (0 until rows).toArray
    val rng = new scala.util.Random(seed)
    for (n <- rows - 1 to 1 by -1) {
      val q = rng.nextInt(n + 1); val t = p(n); p(n) = p(q); p(q) = t
    }
    p
  }

  /** Nonzeros of each mode-1 slice, by mode-1 index. */
  def sliceNnz: Array[Long] = {
    val out = new Array[Long](rows)
    for (row <- 0 until rows) { val s = sides(blockOf(row)); out(perm(row)) = s.toLong * s }
    out
  }

  def rdd(sc: SparkContext, partitions: Int): RDD[(Long, Long, Long, Double)] = {
    val (rk, sds, sd, pm) = (rank, sides, seed, perm)
    // Mode-2 and mode-3 factors, j-major: component r is 0 beyond side_r.
    def factor(mode: Int): Array[Double] = Array.tabulate(side * rank) { n =>
      val (j, r) = (n / rank, n % rank)
      if (j < sds(r)) SkewTensor.entry(sd, mode, j, r) else 0.0
    }
    val (b, c) = (factor(1), factor(2))
    val blocks = Array.tabulate(rows)(blockOf)
    // Generated in mode-1 order, so each partition gets a random mix of
    // large and small slices.
    sc.parallelize((0 until rows).sortBy(pm(_)), partitions).flatMap { row =>
      val m = blocks(row)
      val s = sds(m)
      val a = Array.tabulate(rk)(r => if (r >= m) SkewTensor.entry(sd, 0, row, r) else 0.0)
      val i = pm(row).toLong
      Iterator.range(0, s * s).map { cell =>
        val j = cell / s; val k = cell % s
        var v = 0.0; var r = m
        while (r < rk) { v += a(r) * b(j * rk + r) * c(k * rk + r); r += 1 }
        (i, j.toLong, k.toLong, v)
      }
    }
  }
}

object SkewTensor {
  /** Factor entry ±[0.5, 1.5): a pure function of (seed, mode, index, component). */
  def entry(seed: Long, mode: Int, idx: Int, comp: Int): Double = {
    var z = seed * 0x9E3779B97F4A7C15L + mode * 0xBF58476D1CE4E5B9L + idx * 64L + comp
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    val u = 0.5 + (z >>> 11).toDouble / (1L << 53).toDouble
    if ((z & 1L) == 1L) -u else u
  }
}
