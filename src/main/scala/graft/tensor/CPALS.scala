package graft.tensor

import breeze.linalg.{pinv, DenseMatrix}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** CP-ALS rank-R tensor decomposition, slab-distributed (SURVEY.md §2.11
  * C12/C14; Kolda & Bader, SIAM Review 51(3) 2009; Aggour et al., IEEE Big
  * Data 2018 slice/slab scheme — reference checkout is empty, SURVEY §0.1,
  * so semantics follow the published algorithm).
  *
  * Distribution layout (the PARAslice design, re-expressed Spark-first):
  *  - The COO tensor is partitioned along mode 1 into load-balanced slabs
  *    ([[SlabPartitioner]]); each Spark partition holds one slab as
  *    primitive arrays (no per-nonzero objects in the inner loop).
  *  - Mode 1 is the scale mode: factor A (I×R) NEVER visits the driver
  *    during the loop. Each slab owns its i-rows exclusively, so the
  *    A-update is embarrassingly parallel: per-slab local MTTKRP rows ×
  *    the broadcast R×R solve matrix, persisted in place as one primitive
  *    array per slab. AᵀA (R×R per slab) rides in the mode-2 MTTKRP's
  *    partial, and A is collected exactly once, after convergence, to
  *    build the returned model (at true scale the caller would keep it as
  *    a relation; the loop itself never needs it centralized).
  *  - B (J×R), C (K×R) are driver-resident and broadcast each
  *    half-iteration (modes 2/3 are the small modes in the slab design);
  *    each slab's J×R / K×R MTTKRP partial is sent to the driver, which
  *    sums them in slab order; the R×R Gram solves (Hadamard of
  *    Gramians, pseudo-inverted via breeze) happen on the driver too. Per
  *    iteration: 5 broadcasts (B, C, the R×R solve matrix, and one factor
  *    per mttkrpJK call) + 2 single-stage jobs, one per MTTKRP, with no
  *    shuffle at any slab count (the A-update is a narrow map
  *    materialized by the first of them). The small-mode assumption is
  *    ENFORCED: `maxDriverFactorElems` bounds J·R and K·R, and packing
  *    fails loudly (with the remedy in the message) instead of OOMing the
  *    driver when a vocabulary-sized mode lands on 2/3.
  *  - The slice→slab histogram is collected exactly only while I fits the
  *    driver (`maxDriverSlices`); above that the partitioner switches to
  *    [[SlabPartitioner.balancedSketched]] — top-k heavy slices + hashed
  *    tail, O(k + numSlabs) driver state regardless of I.
  *
  * Scale notes: per iteration the driver receives every slab's partial:
  * numSlabs × (J·R + R²) doubles for mode 2 and numSlabs × K·R for mode 3
  * (a tree reduction above 5 slabs would send about √numSlabs of each,
  * at the price of a shuffle). Every caller uses one slab per core, so
  * numSlabs is the core count. The driver adds each partial into one
  * running sum and drops it, holding at most the partials that arrive
  * ahead of a slower lower-numbered slab. The tensor is read from the
  * persisted slab RDD and A from its per-slab sibling. Nothing
  * driver-side grows with I or nnz.
  *
  * Fit (C14) uses the standard CP identities — ‖X̂‖² = 1ᵀ(AᵀA∘BᵀB∘CᵀC)1 and
  * ⟨X,X̂⟩ = vec(MTTKRP_C)·vec(C) — so the residual norm never materializes
  * the reconstruction.
  */
object CPALS {

  /** One slab: column-layout primitive arrays of its nonzeros, plus the
    * local mode-1 row index (localIs: local row → global i; iLoc: nonzero →
    * local row) that lets factor-A rows live beside the slab.
    */
  private[graft] final case class Slab(
      localIs: Array[Int],
      iLoc: Array[Int],
      js: Array[Int],
      ks: Array[Int],
      vs: Array[Double])

  final case class CPModel(
      lambda: Array[Double],
      a: Array[Double], // I×R row-major
      b: Array[Double], // J×R row-major
      c: Array[Double], // K×R row-major
      dims: (Int, Int, Int),
      rank: Int,
      fits: Vector[Double]) {
    def finalFit: Double = fits.lastOption.getOrElse(0.0)
    def iterations: Int = fits.length
  }

  /** Decompose a COO DataFrame with columns (i,j,k,v) — e.g. Q43's output. */
  def fit(
      coo: DataFrame,
      rank: Int,
      seed: Long = 42L,
      tol: Double = 1e-4,
      maxIter: Int = 50,
      numSlabs: Int = 0,
      ridge: Double = 0.0): CPModel = {
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
    fitRdd(rows, rank, seed, tol, maxIter, slabs, ridge = ridge)
  }

  /** The packed, persisted slab tensor — everything a seeded fit needs,
    * built ONCE per source RDD so multi-start reuses the partition+pack
    * cost. Call [[PackedTensor.unpersist]] when done.
    */
  private[graft] final case class PackedTensor(
      slabRdd: RDD[Slab],
      ni: Int, nj: Int, nk: Int,
      normX2: Double) {
    def unpersist(): Unit = slabRdd.unpersist(blocking = false)
  }

  /** Default driver budget for the mode-2/3 factors: 1<<26 doubles
    * (512 MB each for B and C at the limit) — far above any small-mode
    * tensor, far below a vocabulary-sized mode landing driver-side.
    */
  private[graft] val DefaultMaxDriverFactorElems: Long = 1L << 26

  /** Partition, pack, and persist the COO rows into slabs; compute dims +
    * ‖X‖² in the same pipeline. Fails loudly (with the remedy) when the
    * small-mode assumption J·R, K·R ≤ `maxDriverFactorElems` is violated —
    * the guard that turns a driver OOM into an actionable error.
    */
  private[graft] def pack(
      rows: RDD[(Long, Long, Long, Double)],
      rank: Int,
      numSlabs: Int,
      maxDriverSlices: Int = 1 << 20,
      maxDriverFactorElems: Long = DefaultMaxDriverFactorElems): PackedTensor = {
    // Dims + Frobenius norm in one pass (map-side combined).
    val (maxI, maxJ, maxK, normX2) = rows
      .map { case (i, j, k, v) => (i, j, k, v * v) }
      .treeAggregate((0L, 0L, 0L, 0.0))(
        (acc, x) => (acc._1 max x._1, acc._2 max x._2, acc._3 max x._3, acc._4 + x._4),
        (a, b) => (a._1 max b._1, a._2 max b._2, a._3 max b._3, a._4 + b._4))
    val (ni, nj, nk) = ((maxI + 1).toInt, (maxJ + 1).toInt, (maxK + 1).toInt)

    // Small-mode guard: B (J×R) and C (K×R) are driver-resident by design
    // (mode 1 is the scale mode). A huge J or K silently breaks that
    // assumption — fail with the fix, not an OOM mid-iteration.
    def checkMode(name: String, dim: Int): Unit =
      require(dim.toLong * rank <= maxDriverFactorElems,
        s"CP-ALS mode-$name factor ($dim rows × rank $rank = " +
          s"${dim.toLong * rank} elements) exceeds the driver budget of " +
          s"$maxDriverFactorElems. Mode 1 is the distributed scale mode: " +
          "rotate the largest mode into it (fitLargestModeFirst), use " +
          "RelationalALS.fit when TWO modes are huge, reduce the rank, or " +
          "raise maxDriverFactorElems if the driver truly has room.")
    checkMode("2 (B)", nj)
    checkMode("3 (C)", nk)

    // Slice histogram stays distributed; only a bounded summary reaches
    // the driver once I outgrows `maxDriverSlices`.
    val sliceWeights = rows.map { case (i, _, _, _) => (i, 1L) }.reduceByKey(_ + _)
    val partitioner =
      if (ni <= maxDriverSlices)
        SlabPartitioner.balanced(sliceWeights.collect().toSeq, numSlabs)
      else
        SlabPartitioner.balancedSketched(sliceWeights, numSlabs, maxDriverSlices)

    // C13: slab-partitioned, primitive-array packed, persisted once. The
    // local i-index is built at pack time so every later pass is a flat
    // array walk.
    val slabRdd: RDD[Slab] = rows
      .map { case (i, j, k, v) => (i, (j, k, v)) }
      .partitionBy(partitioner)
      .mapPartitions { it =>
        val is = Array.newBuilder[Int]; val js = Array.newBuilder[Int]
        val ks = Array.newBuilder[Int]; val vs = Array.newBuilder[Double]
        it.foreach { case (i, (j, k, v)) =>
          is += i.toInt; js += j.toInt; ks += k.toInt; vs += v
        }
        val gIs = is.result()
        val localIs = gIs.distinct.sorted
        val idx = new java.util.HashMap[Int, Int](localIs.length * 2)
        var li = 0
        while (li < localIs.length) { idx.put(localIs(li), li); li += 1 }
        val iLoc = new Array[Int](gIs.length)
        var n = 0
        while (n < gIs.length) { iLoc(n) = idx.get(gIs(n)); n += 1 }
        Iterator.single(Slab(localIs, iLoc, js.result(), ks.result(), vs.result()))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    slabRdd.count() // materialize before iterating
    PackedTensor(slabRdd, ni, nj, nk, normX2)
  }

  /** Multi-start ALS: run `numStarts` seeded fits, keep the best final fit.
    * ALS is monotone but only locally convergent — "swamp" stationary
    * points are well documented (Kolda & Bader §3.4); restarting from a
    * few seeds is the standard remedy. The tensor is partitioned, packed,
    * and persisted EXACTLY ONCE here; every start iterates over the same
    * cached slab RDD, so extra starts cost iterations only.
    */
  def fitBest(
      rows: RDD[(Long, Long, Long, Double)],
      rank: Int,
      seed: Long,
      tol: Double,
      maxIter: Int,
      numSlabs: Int,
      numStarts: Int): CPModel = {
    val packed = pack(rows, rank, numSlabs)
    try (0 until numStarts)
      .map(s => fitPacked(packed, rank, seed + s, tol, maxIter))
      .maxBy(_.finalFit)
    finally packed.unpersist()
  }

  def fitRdd(
      rows: RDD[(Long, Long, Long, Double)],
      rank: Int,
      seed: Long,
      tol: Double,
      maxIter: Int,
      numSlabs: Int,
      maxDriverSlices: Int = 1 << 20,
      ridge: Double = 0.0): CPModel = {
    val packed = pack(rows, rank, numSlabs, maxDriverSlices)
    try fitPacked(packed, rank, seed, tol, maxIter, ridge)
    finally packed.unpersist()
  }

  /** Fit with the LARGEST mode rotated into mode 1 — the constructive
    * answer to the small-mode guard: CP decomposition is symmetric under
    * mode permutation (X(i,j,k) = Σ λ·aᵢ·bⱼ·cₖ, so permuting coordinates
    * just permutes factor roles), and mode 1 is the slab-distributed one
    * whose factor never sits on the driver. A tensor with a huge J or K
    * (vocabulary-sized mode) fits by rotating that mode into position 1;
    * the returned model's factors are swapped back so a/b/c and dims
    * correspond to the CALLER's original mode order.
    */
  def fitLargestModeFirst(
      rows: RDD[(Long, Long, Long, Double)],
      rank: Int,
      seed: Long = 42L,
      tol: Double = 1e-4,
      maxIter: Int = 50,
      numSlabs: Int = 8): CPModel = {
    val (mi, mj, mk) = rows
      .map { case (i, j, k, _) => (i, j, k) }
      .treeAggregate((0L, 0L, 0L))(
        (a, x) => (a._1 max x._1, a._2 max x._2, a._3 max x._3),
        (a, b) => (a._1 max b._1, a._2 max b._2, a._3 max b._3))
    val big = Seq(mi, mj, mk).zipWithIndex.maxBy(_._1)._2
    val permuted = big match {
      case 0 => rows
      case 1 => rows.map { case (i, j, k, v) => (j, i, k, v) }
      case 2 => rows.map { case (i, j, k, v) => (k, j, i, v) }
    }
    val m = fitRdd(permuted, rank, seed, tol, maxIter, numSlabs)
    big match {
      case 0 => m
      case 1 => m.copy(a = m.b, b = m.a,
        dims = (m.dims._2, m.dims._1, m.dims._3))
      case _ => m.copy(a = m.c, c = m.a,
        dims = (m.dims._3, m.dims._2, m.dims._1))
    }
  }

  // ---- Shared dense/slab kernels (used by the ALS loop here and by the
  // ---- nonnegative HALS loop in [[NnHals]]) ----

  private[tensor] def gram(m: Array[Double], n: Int, r: Int): DenseMatrix[Double] = {
    val g = DenseMatrix.zeros[Double](r, r)
    var row = 0
    while (row < n) {
      var p = 0
      while (p < r) {
        val vp = m(row * r + p)
        var q = 0
        while (q < r) { g(p, q) += vp * m(row * r + q); q += 1 }
        p += 1
      }
      row += 1
    }
    g
  }

  private[tensor] def hadamard(
      x: DenseMatrix[Double], y: DenseMatrix[Double], r: Int): DenseMatrix[Double] = {
    val z = DenseMatrix.zeros[Double](r, r)
    var p = 0
    while (p < r) { var q = 0; while (q < r) { z(p, q) = x(p, q) * y(p, q); q += 1 }; p += 1 }
    z
  }

  private[tensor] def matmulInto(
      m: Array[Double], n: Int, g: DenseMatrix[Double], r: Int): Array[Double] = {
    val out = new Array[Double](n * r)
    var row = 0
    while (row < n) {
      var q = 0
      while (q < r) {
        var s = 0.0
        var p = 0
        while (p < r) { s += m(row * r + p) * g(p, q); p += 1 }
        out(row * r + q) = s
        q += 1
      }
      row += 1
    }
    out
  }

  /** Per-slab mode-1 MTTKRP: dense rows (nLocal×R) of Σ v·b_j∘c_k over the
    * slab's nonzeros, against the two broadcast factors. Row-local to the
    * slab (mode-1 ownership) — no shuffle, no reduce.
    */
  private[tensor] def slabMttkrpA(
      slab: Slab, b: Array[Double], c: Array[Double], r: Int): Array[Double] = {
    val m = new Array[Double](slab.localIs.length * r)
    var n = 0
    val len = slab.vs.length
    while (n < len) {
      val row = slab.iLoc(n) * r
      val j = slab.js(n); val k = slab.ks(n); val v = slab.vs(n)
      var p = 0
      while (p < r) { m(row + p) += v * b(j * r + p) * c(k * r + p); p += 1 }
      n += 1
    }
    m
  }

  /** MTTKRP against mode 2 (outRows over j) or 3 (outRows over k):
    * per-slab dense partial from the slab-local A rows and ONE broadcast
    * factor, summed on the driver by [[sumSlabPartials]]. Never ships A.
    *
    * `withGramA` additionally folds the slab's AᵀA contribution into the
    * same pass (R×R appended to the summed buffer) — the mode-2 call
    * uses it so gram(A) costs no extra job: 2 jobs per iteration
    * total, one fewer than the collect-based design this replaced.
    */
  private[tensor] def mttkrpJK(
      slabRdd: RDD[Slab], aRdd: RDD[Array[Double]], r: Int,
      mode: Int, other: Array[Double], outRows: Int,
      withGramA: Boolean): (Array[Double], Option[DenseMatrix[Double]]) = {
    val sc = slabRdd.sparkContext
    val bcO = sc.broadcast(other)
    val gramLen = if (withGramA) r * r else 0
    val partials = slabRdd.zipPartitions(aRdd) { (slabIt, aIt) =>
      val slab = slabIt.next(); val aLoc = aIt.next()
      val o = bcO.value
      val acc = new Array[Double](outRows * r + gramLen)
      var n = 0
      val len = slab.vs.length
      while (n < len) {
        val aRow = slab.iLoc(n) * r
        val j = slab.js(n); val k = slab.ks(n); val v = slab.vs(n)
        val outRow = if (mode == 1) j else k
        val oRow = (if (mode == 1) k else j) * r
        var p = 0
        while (p < r) {
          acc(outRow * r + p) += v * aLoc(aRow + p) * o(oRow + p)
          p += 1
        }
        n += 1
      }
      if (withGramA) {
        val base = outRows * r
        val nRows = aLoc.length / r
        var row = 0
        while (row < nRows) {
          var p = 0
          while (p < r) {
            val vp = aLoc(row * r + p)
            var q = 0
            while (q < r) { acc(base + p * r + q) += vp * aLoc(row * r + q); q += 1 }
            p += 1
          }
          row += 1
        }
      }
      Iterator.single(acc)
    }
    val res = sumSlabPartials(partials, outRows * r + gramLen)
    bcO.destroy()
    if (!withGramA) (res, None)
    else {
      val m = java.util.Arrays.copyOfRange(res, 0, outRows * r)
      val g = DenseMatrix.zeros[Double](r, r)
      val base = outRows * r
      var p = 0
      while (p < r) { var q = 0; while (q < r) { g(p, q) = res(base + p * r + q); q += 1 }; p += 1 }
      (m, Some(g))
    }
  }

  /** The element-wise sum of the one `len`-long partial each slab emits,
    * in ONE single-stage job. The driver adds partial s as soon as slabs
    * 0..s have all arrived, so the sum order is the slab order whatever
    * order the tasks finish in, and a seeded fit over one packed tensor
    * is bit-reproducible. The job's function is the named [[SlabPartial]],
    * not a lambda; see there for why.
    */
  private def sumSlabPartials(partials: RDD[Array[Double]], len: Int): Array[Double] = {
    val numSlabs = partials.getNumPartitions
    val sum = new Array[Double](len)
    val arrived = new Array[Array[Double]](numSlabs)
    var next = 0
    partials.sparkContext.runJob(partials, SlabPartial, (slab: Int, partial: Array[Double]) => {
      arrived(slab) = partial
      while (next < numSlabs && arrived(next) != null) {
        val x = arrived(next)
        var n = 0; while (n < len) { sum(n) += x(n); n += 1 }
        arrived(next) = null
        next += 1
      }
    })
    sum
  }

  /** A slab's one partial, as the result of its task. A named object, not
    * a lambda: Spark's ClosureCleaner re-reads and parses the class file
    * that declares each lambda it is given, on every job, and passes over
    * an object that is not a closure without reading any. For the same
    * reason the job takes the `(TaskContext, Iterator)` function that
    * `runJob` runs as it is, not the `Iterator` one it wraps in a lambda.
    */
  private object SlabPartial
      extends ((TaskContext, Iterator[Array[Double]]) => Array[Double]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Array[Double]]): Array[Double] = it.next()
  }

  /** ONE collect, after convergence, to centralize the slab-resident A for
    * the returned dense model (the loops themselves never do). A caller at
    * true scale would keep (i, row) as a relation — mode-1 ownership means
    * this map is shuffle-free either way.
    */
  private[tensor] def collectA(
      slabRdd: RDD[Slab], aRdd: RDD[Array[Double]], ni: Int, r: Int): Array[Double] = {
    val aMat = new Array[Double](ni * r)
    slabRdd.zipPartitions(aRdd) { (slabIt, aIt) =>
      val slab = slabIt.next(); val aLoc = aIt.next()
      slab.localIs.iterator.zipWithIndex.map { case (gi, li) =>
        (gi, java.util.Arrays.copyOfRange(aLoc, li * r, li * r + r))
      }
    }.collect().foreach { case (i, row) => System.arraycopy(row, 0, aMat, i * r, r) }
    aMat
  }

  /** Column-normalize each factor in place, accumulating norms into the
    * returned lambda (shared by the ALS and HALS model assembly).
    */
  private[tensor] def normalizeColumns(
      factors: Seq[(Array[Double], Int)], r: Int): Array[Double] = {
    val lambda = Array.fill(r)(1.0)
    factors.foreach { case (m, n) =>
      var p = 0
      while (p < r) {
        var s = 0.0; var row = 0
        while (row < n) { val x = m(row * r + p); s += x * x; row += 1 }
        val nrm = math.sqrt(s)
        if (nrm > 0) {
          lambda(p) *= nrm
          row = 0
          while (row < n) { m(row * r + p) /= nrm; row += 1 }
        }
        p += 1
      }
    }
    lambda
  }

  /** One seeded ALS run over an already-packed slab tensor. */
  /** `ridge` > 0 solves every mode update against (Hadamard-Gram + λI)
    * — Tikhonov-regularized ALS (the standard "swamp" damper: Navasca,
    * De Lathauwer & Kindermann, EUSIPCO 2008). λ bounds the factor
    * Grams' condition number so near-collinear intermediate factors
    * cannot stall progress; λ = 0 is EXACTLY the plain update (pinned
    * bit-identical in TensorSpec). The reported fit remains the DATA
    * fit, not the penalized objective.
    */
  private[graft] def fitPacked(
      packed: PackedTensor,
      rank: Int,
      seed: Long,
      tol: Double,
      maxIter: Int,
      ridge: Double = 0.0): CPModel = {
    val PackedTensor(slabRdd, ni, nj, nk, normX2) = packed
    val sc = slabRdd.sparkContext
    val r = rank

    // Seeded deterministic init of B, C (A is produced by the first update).
    val rng = new scala.util.Random(seed)
    // Centered Gaussian init: an all-positive init is near-collinear in
    // expectation, which conditions the Gram Hadamard products badly and
    // can trap ALS far from the optimum.
    var bMat = Array.fill(nj * r)(rng.nextGaussian())
    var cMat = Array.fill(nk * r)(rng.nextGaussian())

    def gram(m: Array[Double], n: Int): DenseMatrix[Double] = CPALS.gram(m, n, r)
    def hadamard(x: DenseMatrix[Double], y: DenseMatrix[Double]): DenseMatrix[Double] =
      CPALS.hadamard(x, y, r)
    def matmulInto(m: Array[Double], n: Int, g: DenseMatrix[Double]): Array[Double] =
      CPALS.matmulInto(m, n, g, r)
    // λ = 0 must stay bit-identical to the unregularized path, so the
    // eye-add is gated rather than always adding a zero matrix.
    def solveGram(h: DenseMatrix[Double]): DenseMatrix[Double] =
      if (ridge > 0.0) pinv(h + DenseMatrix.eye[Double](r) * ridge) else pinv(h)

    // A lives beside its slab: one primitive array per partition, aligned
    // with slabRdd by zipPartitions (both sides have exactly one element
    // per partition by construction).
    var aRdd: RDD[Array[Double]] = null

    def mttkrpJK(
        mode: Int, other: Array[Double], outRows: Int,
        withGramA: Boolean): (Array[Double], Option[DenseMatrix[Double]]) =
      CPALS.mttkrpJK(slabRdd, aRdd, r, mode, other, outRows, withGramA)

    var fitsSoFar = Vector.empty[Double]
    var prevFit = Double.NegativeInfinity
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // --- update A: slab-local (mode-1 ownership), no reduce, NO collect.
      val gB = gram(bMat, nj); val gC = gram(cMat, nk)
      val gA = solveGram(hadamard(gB, gC))
      val bcB = sc.broadcast(bMat); val bcC = sc.broadcast(cMat)
      val gaFlat = sc.broadcast(Array.tabulate(r * r)(n => gA(n / r, n % r)))
      val newARdd = slabRdd.map { slab =>
        val b = bcB.value; val c = bcC.value; val g = gaFlat.value
        val nLocal = slab.localIs.length
        val m = slabMttkrpA(slab, b, c, r)
        // rows ← rows × gA (R×R): finished A rows, staying in the slab.
        val out = new Array[Double](nLocal * r)
        var lrow = 0
        while (lrow < nLocal) {
          var q = 0
          while (q < r) {
            var s = 0.0; var p = 0
            while (p < r) { s += m(lrow * r + p) * g(p * r + q); p += 1 }
            out(lrow * r + q) = s; q += 1
          }
          lrow += 1
        }
        out
      }.persist(StorageLevel.MEMORY_AND_DISK)
      val prevARdd = aRdd
      aRdd = newARdd

      // --- update B from MTTKRP over (A, C); the same pass folds in AᵀA
      // and materializes newARdd (first action over it).
      val (mB, gAOpt) = mttkrpJK(1, cMat, nj, withGramA = true)
      val gAramA = gAOpt.get
      if (prevARdd != null) prevARdd.unpersist(blocking = false)
      // unpersist, NOT destroy: newARdd's (cached) lineage still captures
      // these broadcasts, and task serialization validates them even when
      // the cache makes recompute unreachable. unpersist drops the
      // executor copies now; the ContextCleaner reaps the rest once the
      // iteration's aRdd is replaced.
      bcB.unpersist(); bcC.unpersist(); gaFlat.unpersist()
      bMat = matmulInto(mB, nj, solveGram(hadamard(gAramA, gC)))

      // --- update C from MTTKRP over (A, B).
      val (mC, _) = mttkrpJK(2, bMat, nk, withGramA = false)
      cMat = matmulInto(mC, nk, solveGram(hadamard(gAramA, gram(bMat, nj))))

      // --- fit via CP identities (no reconstruction).
      val cross = { var s = 0.0; var n = 0; while (n < mC.length) { s += mC(n) * cMat(n); n += 1 }; s }
      val gAll = hadamard(hadamard(gAramA, gram(bMat, nj)), gram(cMat, nk))
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

    // ONE collect, after convergence, to build the returned dense model
    // (the loop itself never centralized A).
    val aMat =
      if (aRdd != null) {
        val m = collectA(slabRdd, aRdd, ni, r)
        aRdd.unpersist(blocking = false)
        m
      } else new Array[Double](ni * r)

    // Column-normalize into lambda.
    val lambda = normalizeColumns(Seq((aMat, ni), (bMat, nj), (cMat, nk)), r)
    // slabRdd stays persisted: its lifecycle belongs to the pack() caller
    // (fitBest shares it across starts; fitRdd unpersists after one).
    CPModel(lambda, aMat, bMat, cMat, (ni, nj, nk), r, fitsSoFar)
  }
}
