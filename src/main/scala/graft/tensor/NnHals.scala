package graft.tensor

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.tensor.CPALS.{CPModel, PackedTensor, Slab}

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
  * Distribution: identical to [[CPALS]] — and deliberately so, because the
  * inputs of a HALS sweep are exactly the ALS MTTKRP + Gramians:
  *  - mode 1 (the scale mode): the sweep is ROW-LOCAL (column p of row i
  *    touches only row i's other columns, M's row i, and the broadcast
  *    R×R G), so factor A updates in place beside its slab, never visiting
  *    the driver; per-slab cost is the same MTTKRP pass plus an O(rows·R²)
  *    sweep.
  *  - modes 2/3: the per-slab MTTKRP partials (with AᵀA folded into the
  *    mode-2 pass) summed on the driver in slab order
  *    ([[CPALS.mttkrpJK]]), then a driver-side sweep over the small
  *    J×R / K×R factors.
  *  - per iteration: 2 single-stage jobs + the same broadcast set as ALS;
  *    nothing driver-side grows with I or nnz.
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
      numSlabs: Int = 0): CPModel = {
    val spark = coo.sparkSession
    import org.apache.spark.sql.functions.col
    val rows: RDD[(Long, Long, Long, Double)] = coo
      .select(col("i").cast("long"), col("j").cast("long"), col("k").cast("long"),
        col("v").cast("double"))
      .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val slabs = numSlabs match {
      case n if n > 0 => n
      case _          => math.max(2, spark.sparkContext.defaultParallelism)
    }
    fitRdd(rows, rank, seed, tol, maxIter, slabs)
  }

  def fitRdd(
      rows: RDD[(Long, Long, Long, Double)],
      rank: Int,
      seed: Long,
      tol: Double,
      maxIter: Int,
      numSlabs: Int): CPModel = {
    val packed = CPALS.pack(rows, rank, numSlabs)
    try fitPacked(packed, rank, seed, tol, maxIter)
    finally packed.unpersist()
  }

  /** Multi-start on one shared packed tensor (same remedy as
    * [[CPALS.fitBest]]: HALS is monotone but only locally convergent).
    */
  def fitBest(
      rows: RDD[(Long, Long, Long, Double)],
      rank: Int,
      seed: Long,
      tol: Double,
      maxIter: Int,
      numSlabs: Int,
      numStarts: Int): CPModel = {
    val packed = CPALS.pack(rows, rank, numSlabs)
    try (0 until numStarts)
      .map(s => fitPacked(packed, rank, seed + s, tol, maxIter))
      .maxBy(_.finalFit)
    finally packed.unpersist()
  }

  /** One HALS sweep over `nRows` factor rows, in place: for each row and
    * each column p, the exact nonnegative coordinate minimizer
    * max(0, (m_p − Σ_{q≠p} a_q·G(q,p)) / G(p,p)). Later columns see the
    * updated earlier ones (Gauss–Seidel), which is what makes the sweep
    * exact per column. `g` is the R×R Gram Hadamard, row-major flat.
    */
  private[tensor] def halsSweep(
      a: Array[Double], m: Array[Double], g: Array[Double],
      nRows: Int, r: Int): Unit = {
    var row = 0
    while (row < nRows) {
      val base = row * r
      var p = 0
      while (p < r) {
        // s = (A·G)(row, p) including the a_p·G(p,p) term, added back below.
        var s = 0.0
        var q = 0
        while (q < r) { s += a(base + q) * g(q * r + p); q += 1 }
        val gpp = g(p * r + p)
        val num = m(base + p) - s + a(base + p) * gpp
        val v = num / math.max(gpp, 1e-12)
        a(base + p) = if (v > 0.0) v else 0.0
        p += 1
      }
      row += 1
    }
  }

  /** One seeded HALS run over an already-packed slab tensor. */
  private[graft] def fitPacked(
      packed: PackedTensor,
      rank: Int,
      seed: Long,
      tol: Double,
      maxIter: Int): CPModel = {
    val PackedTensor(slabRdd, ni, nj, nk, normX2) = packed
    val sc = slabRdd.sparkContext
    val r = rank

    // Seeded nonnegative init of all three factors. |N(0,1)| draws:
    // strictly positive, scale-free, and (unlike an all-ones-ish init)
    // not collinear in expectation. A is initialized IN ITS SLABS with a
    // per-partition seed — deterministic because the pack partitioning is.
    val rng = new scala.util.Random(seed)
    val bMat = Array.fill(nj * r)(math.abs(rng.nextGaussian()))
    val cMat = Array.fill(nk * r)(math.abs(rng.nextGaussian()))
    var aRdd: RDD[Array[Double]] = slabRdd.mapPartitionsWithIndex { (idx, it) =>
      val slab = it.next()
      val prng = new scala.util.Random(seed ^ (0x9E3779B97F4A7C15L * (idx + 1)))
      Iterator.single(Array.fill(slab.localIs.length * r)(math.abs(prng.nextGaussian())))
    }.persist(StorageLevel.MEMORY_AND_DISK)

    var fitsSoFar = Vector.empty[Double]
    var prevFit = Double.NegativeInfinity
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // --- sweep A: slab-local MTTKRP + in-place row sweep, NO collect.
      val gB = CPALS.gram(bMat, nj, r); val gC = CPALS.gram(cMat, nk, r)
      val gA = CPALS.hadamard(gB, gC, r)
      val gaFlat = sc.broadcast(Array.tabulate(r * r)(n => gA(n / r, n % r)))
      val bcB = sc.broadcast(bMat); val bcC = sc.broadcast(cMat)
      val newARdd = slabRdd.zipPartitions(aRdd) { (slabIt, aIt) =>
        val slab = slabIt.next(); val aOld = aIt.next()
        val m = CPALS.slabMttkrpA(slab, bcB.value, bcC.value, r)
        val a = aOld.clone()
        halsSweep(a, m, gaFlat.value, slab.localIs.length, r)
        Iterator.single(a)
      }.persist(StorageLevel.MEMORY_AND_DISK)
      val prevARdd = aRdd
      aRdd = newARdd

      // --- sweep B from MTTKRP over (A, C); AᵀA folded into the same pass
      // (this is also the first action over newARdd, materializing it).
      val (mB, gAOpt) = CPALS.mttkrpJK(slabRdd, aRdd, r, 1, cMat, nj, withGramA = true)
      val gramA = gAOpt.get
      if (prevARdd != null) prevARdd.unpersist(blocking = false)
      // unpersist, NOT destroy — see the matching note in CPALS.fitPacked.
      bcB.unpersist(); bcC.unpersist(); gaFlat.unpersist()
      val gBm = CPALS.hadamard(gramA, gC, r)
      val gBFlat = Array.tabulate(r * r)(n => gBm(n / r, n % r))
      halsSweep(bMat, mB, gBFlat, nj, r)

      // --- sweep C from MTTKRP over (A, B).
      val (mC, _) = CPALS.mttkrpJK(slabRdd, aRdd, r, 2, bMat, nk, withGramA = false)
      val gCm = CPALS.hadamard(gramA, CPALS.gram(bMat, nj, r), r)
      val gCFlat = Array.tabulate(r * r)(n => gCm(n / r, n % r))
      halsSweep(cMat, mC, gCFlat, nk, r)

      // --- fit via the CP identities (mC was computed against the current
      // A and B, so vec(mC)·vec(C) = ⟨X, X̂⟩ — no reconstruction).
      val cross = { var s = 0.0; var n = 0; while (n < mC.length) { s += mC(n) * cMat(n); n += 1 }; s }
      val gAll = CPALS.hadamard(
        CPALS.hadamard(gramA, CPALS.gram(bMat, nj, r), r), CPALS.gram(cMat, nk, r), r)
      val model2 = {
        var s = 0.0; var p = 0
        while (p < r) { var q = 0; while (q < r) { s += gAll(p, q); q += 1 }; p += 1 }
        s
      }
      val resid2 = math.max(0.0, normX2 - 2.0 * cross + model2)
      val fit = 1.0 - math.sqrt(resid2) / math.sqrt(normX2)
      fitsSoFar = fitsSoFar :+ fit
      if (fit - prevFit < tol && iter > 0) converged = true
      prevFit = fit
      iter += 1
    }

    val aMat = CPALS.collectA(slabRdd, aRdd, ni, r)
    aRdd.unpersist(blocking = false)
    val lambda = CPALS.normalizeColumns(Seq((aMat, ni), (bMat, nj), (cMat, nk)), r)
    CPModel(lambda, aMat, bMat, cMat, (ni, nj, nk), r, fitsSoFar)
  }
}
