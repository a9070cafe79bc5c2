package graft.tensor

import scala.util.Random

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.DataFrame

import graft.tensor.CPALS.CPModel

/** Nonnegative CP decomposition via HALS — Hierarchical Alternating Least
  * Squares (Cichocki & Phan, IEICE Trans. Fundamentals E92-A(3) 2009;
  * Kolda & Bader §5 for the CP framing — reference checkout is empty,
  * SURVEY §0.1, so semantics follow the published algorithm).
  *
  * HALS replaces ALS's unconstrained R×R solve with an exact coordinate
  * update per rank-1 component under a nonnegativity projection:
  *
  *   a_p ← max(0, a_p + (M(:,p) − A·G(:,p)) / G(p,p)),  G = BᵀB ∘ CᵀC
  *
  * Each column update is the EXACT minimizer of the objective over that
  * column (Cichocki & Phan Thm. 1), so the fit is monotone like ALS.
  *
  * Distribution: the inputs of a HALS sweep are exactly the ALS MTTKRP +
  * Gramians, so HALS is one [[CPALS.UpdateRule]] of the one CP loop,
  * [[CPALS.fitPacked]], and shares its layout, its one job per fit and
  * its two exchanges per iteration:
  *  - mode 1 (the scale mode): the sweep is ROW-LOCAL (column p of row i
  *    touches only row i's other columns, M's row i, and the R×R G the
  *    slab's task was sent), so the fused pass sweeps each row of A in
  *    its slab's task as soon as the row's MTTKRP is summed, never
  *    visiting the driver; the per-slab cost is the same fiber pass plus
  *    an O(rows·R²) sweep.
  *  - modes 2/3: the per-slab MTTKRP partials summed on the driver in
  *    slab order, then a driver-side sweep over the small J×R / K×R
  *    factors.
  *
  * Zeros are absorbing and stable: a column that collapses to zero in one
  * factor zeroes its MTTKRP column and its Gram row/column elsewhere, so
  * the guarded division keeps it at zero instead of exploding.
  */
object NnHals {

  /** Decompose a COO DataFrame with columns (i,j,k,v) into nonnegative
    * factors. Input values should be nonnegative for the model to make
    * sense (counts, durations, amounts); the algorithm itself only
    * requires them to be finite.
    */
  def fit(
      coo: DataFrame,
      rank: Int,
      seed: Long = 42L,
      tol: Double = 1e-4,
      maxIter: Int = 50,
      numSlabs: Int = 0): CPModel =
    CPALS.fitCoo(coo, rank, seed, tol, maxIter, numSlabs, HalsRule)

  /** HALS as a CP update rule: S is the Gram Hadamard H itself (G
    * below), and the new rows are one HALS sweep of the old ones, in
    * place: for each row and each column p, the exact nonnegative
    * coordinate minimizer max(0, (m_p − Σ_{q≠p} a_q·G(q,p)) / G(p,p)).
    * Later columns see the updated earlier ones (Gauss–Seidel), which is
    * what makes the sweep exact per column. Seeded nonnegative init of
    * all three factors: |N(0,1)| draws are strictly positive, scale-free,
    * and (unlike an all-ones-ish init) not collinear in expectation.
    */
  private[graft] case object HalsRule extends CPALS.UpdateRule {
    def draw(rng: Random): Double = math.abs(rng.nextGaussian())
    def initA(n: Int, rng: Random): Array[Double] = Array.fill(n)(draw(rng))
    def solveMatrix(h: DenseMatrix[Double]): DenseMatrix[Double] = h
    def update(
        a: Array[Double], aOff: Int, m: Array[Double], g: Array[Double], gOff: Int,
        n: Int, r: Int): Unit = {
      var row = 0
      while (row < n) {
        val base = aOff + row * r
        var p = 0
        while (p < r) {
          // s = (A·G)(row, p) including the a_p·G(p,p) term, added back below.
          var s = 0.0
          var q = 0
          while (q < r) { s += a(base + q) * g(gOff + q * r + p); q += 1 }
          val gpp = g(gOff + p * r + p)
          val num = m(row * r + p) - s + a(base + p) * gpp
          val v = num / math.max(gpp, 1e-12)
          a(base + p) = if (v > 0.0) v else 0.0
          p += 1
        }
        row += 1
      }
    }
  }
}
