package graft.tensor

import scala.util.Random

import breeze.linalg.{pinv, DenseMatrix}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
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
  *  - B (J×R), C (K×R) are driver-resident (modes 2/3 are the small
  *    modes in the slab design); each slab's J×R / K×R MTTKRP partial is
  *    sent to the driver, which sums them in slab order; the R×R Gram
  *    solves (Hadamard of Gramians, pseudo-inverted via breeze) happen on
  *    the driver too. Per iteration: 2 broadcasts (B, C and the R×R solve
  *    matrix as one array, read by the A-update and the mode-2 MTTKRP;
  *    then the updated B for the mode-3 MTTKRP) + 2 single-stage jobs,
  *    one per MTTKRP, with no shuffle at any slab count (the A-update is
  *    a narrow map materialized by the first of them). Every function a
  *    task runs is a named object, not a lambda (see [[OnePerSlab]]).
  *    The small-mode assumption is ENFORCED: `maxDriverFactorElems`
  *    bounds J·R and K·R, and packing fails loudly (with the remedy in
  *    the message) instead of OOMing the driver when a vocabulary-sized
  *    mode lands on 2/3.
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
  * One loop, [[fitPacked]], serves both CP fits: an [[UpdateRule]]
  * supplies only the init and the per-row factor update — the ALS pinv
  * solve here ([[AlsRule]]) or the nonnegative HALS sweep
  * ([[NnHals.HalsRule]]).
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

  /** Decompose a COO DataFrame with columns (i,j,k,v) — e.g. Q43's output.
    * `ridge` > 0 damps every solve ([[AlsRule]]). */
  def fit(
      coo: DataFrame,
      rank: Int,
      seed: Long = 42L,
      tol: Double = 1e-4,
      maxIter: Int = 50,
      numSlabs: Int = 0,
      ridge: Double = 0.0): CPModel =
    fitCoo(coo, rank, seed, tol, maxIter, numSlabs, AlsRule(ridge))

  /** Pack `coo`, run one seeded [[fitPacked]] with `rule`, unpersist. */
  private[tensor] def fitCoo(
      coo: DataFrame, rank: Int, seed: Long, tol: Double, maxIter: Int,
      numSlabs: Int, rule: UpdateRule): CPModel = {
    import org.apache.spark.sql.functions.col
    val rows: RDD[(Long, Long, Long, Double)] = coo
      .select(col("i").cast("long"), col("j").cast("long"), col("k").cast("long"),
        col("v").cast("double"))
      .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val slabs =
      if (numSlabs > 0) numSlabs
      else math.max(2, coo.sparkSession.sparkContext.defaultParallelism)
    val packed = pack(rows, rank, slabs)
    try fitPacked(packed, rank, seed, tol, maxIter, rule)
    finally packed.unpersist()
  }

  /** The packed, persisted slab tensor — everything a seeded fit needs,
    * built ONCE per source RDD so several seeded fits (multi-start) reuse
    * the partition+pack cost. Call [[PackedTensor.unpersist]] when done.
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
          "pass the largest mode as column i, reduce the rank, or raise " +
          "maxDriverFactorElems if the driver truly has room.")
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

  // ---- The update rules ----

  /** What tells one CP fit from another: the seeded init and the update
    * of a factor's rows. For the factor being updated the loop hands the
    * rule its MTTKRP rows M (n×R) and the R×R matrix S = [[solveMatrix]]
    * of H, the Hadamard of the other two factors' Grams. The same
    * [[update]] runs slab-local for A (inside a task) and on the driver
    * for B and C.
    */
  private[graft] trait UpdateRule extends Serializable {
    /** One seeded init draw for an entry of B or C. */
    def draw(rng: Random): Double
    /** A slab's `n` initial A entries, from its own seeded `rng`. */
    def initA(n: Int, rng: Random): Array[Double]
    def solveMatrix(h: DenseMatrix[Double]): DenseMatrix[Double]
    /** The new n×R rows from the old ones, M (`m`, read up to n×R) and S
      * (row-major in `s` from `sOff`). */
    def update(
        old: Array[Double], m: Array[Double], s: Array[Double], sOff: Int,
        n: Int, r: Int): Array[Double]
  }

  /** ALS: rows ← M·S with S = pinv(H). `ridge` λ > 0 solves against
    * pinv(H + λI) instead — Tikhonov-regularized ALS, the standard
    * "swamp" damper (Navasca, De Lathauwer & Kindermann, EUSIPCO 2008):
    * λ bounds the factor Grams' condition number so near-collinear
    * intermediate factors cannot stall progress. λ = 0 is EXACTLY the
    * plain update (pinned bit-identical in TensorSpec): the eye-add is
    * gated rather than adding a zero matrix. The reported fit remains the
    * DATA fit, not the penalized objective.
    *
    * Centered Gaussian init: an all-positive init is near-collinear in
    * expectation, which conditions the Gram Hadamard products badly and
    * can trap ALS far from the optimum. The update never reads the old
    * rows, so A starts as zeros and is made by the first update.
    */
  private[graft] final case class AlsRule(ridge: Double = 0.0) extends UpdateRule {
    def draw(rng: Random): Double = rng.nextGaussian()
    def initA(n: Int, rng: Random): Array[Double] = new Array[Double](n)
    def solveMatrix(h: DenseMatrix[Double]): DenseMatrix[Double] =
      if (ridge > 0.0) pinv(h + DenseMatrix.eye[Double](h.rows) * ridge) else pinv(h)
    def update(
        old: Array[Double], m: Array[Double], s: Array[Double], sOff: Int,
        n: Int, r: Int): Array[Double] = {
      val out = new Array[Double](n * r)
      var row = 0
      while (row < n) {
        var q = 0
        while (q < r) {
          var sum = 0.0; var p = 0
          while (p < r) { sum += m(row * r + p) * s(sOff + p * r + q); p += 1 }
          out(row * r + q) = sum
          q += 1
        }
        row += 1
      }
      out
    }
  }

  // ---- The loop ----

  /** One seeded CP run over an already-packed slab tensor: ALS unless
    * another `rule` is given. The run stops once an iteration raises the
    * fit by less than `tol`, or after `maxIter` iterations.
    */
  private[graft] def fitPacked(
      packed: PackedTensor,
      rank: Int,
      seed: Long,
      tol: Double,
      maxIter: Int,
      rule: UpdateRule = AlsRule()): CPModel = {
    val PackedTensor(slabRdd, ni, nj, nk, normX2) = packed
    val sc = slabRdd.sparkContext
    val r = rank
    def flat(m: DenseMatrix[Double]): Array[Double] = Array.tabulate(r * r)(n => m(n / r, n % r))
    def update(old: Array[Double], m: Array[Double], n: Int, h: DenseMatrix[Double]) =
      rule.update(old, m, flat(rule.solveMatrix(h)), 0, n, r)

    // Seeded init: B, C on the driver; A beside its slab, one primitive
    // array per partition aligned with slabRdd by zipPartitions, drawn
    // with a per-slab seed — deterministic because the pack partitioning is.
    val rng = new Random(seed)
    var bMat = Array.fill(nj * r)(rule.draw(rng))
    var cMat = Array.fill(nk * r)(rule.draw(rng))
    var aRdd: RDD[Array[Double]] = slabRdd.mapPartitionsWithIndex(new InitA(rule, seed, r))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var fits = Vector.empty[Double]
    var converged = false
    while (fits.length < maxIter && !converged) {
      // --- update A: slab-local (mode-1 ownership), no reduce, NO collect.
      // One broadcast carries B, C and the A-solve matrix.
      val gC = gram(cMat, nk, r)
      val bcs = sc.broadcast(Array.concat(bMat, cMat,
        flat(rule.solveMatrix(hadamard(gram(bMat, nj, r), gC, r)))))
      val prevARdd = aRdd
      aRdd = slabRdd.zipPartitions(prevARdd)(new UpdateA(rule, bcs, nj * r, (nj + nk) * r, r))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // --- update B from MTTKRP over (A, C), C read from the same
      // broadcast. The pass also folds in AᵀA (appended after the J×R rows,
      // which is all the update reads) and materializes the new A.
      val mB = mttkrpJK(slabRdd, aRdd, r, bcs, nj * r, overJ = true, nj)
      val gramA = DenseMatrix.tabulate(r, r)((p, q) => mB(nj * r + p * r + q))
      prevARdd.unpersist(blocking = false)
      // unpersist, NOT destroy: the new A's (cached) lineage still captures
      // this broadcast, and task serialization validates it even when the
      // cache makes recompute unreachable. unpersist drops the executor
      // copies now; the ContextCleaner reaps the rest once the iteration's
      // aRdd is replaced.
      bcs.unpersist()
      bMat = update(bMat, mB, nj, hadamard(gramA, gC, r))

      // --- update C from MTTKRP over (A, B); no cached RDD captures bcB.
      val bcB = sc.broadcast(bMat)
      val mC = mttkrpJK(slabRdd, aRdd, r, bcB, 0, overJ = false, nk)
      bcB.destroy()
      val gB = gram(bMat, nj, r)
      cMat = update(cMat, mC, nk, hadamard(gramA, gB, r))

      // --- fit via the CP identities (mC was computed against the current
      // A and B, so vec(mC)·vec(C) = ⟨X, X̂⟩ — no reconstruction).
      val cross = { var s = 0.0; var n = 0; while (n < mC.length) { s += mC(n) * cMat(n); n += 1 }; s }
      val gAll = hadamard(hadamard(gramA, gB, r), gram(cMat, nk, r), r)
      val model2 = {
        var s = 0.0; var p = 0
        while (p < r) { var q = 0; while (q < r) { s += gAll(p, q); q += 1 }; p += 1 }
        s
      }
      val resid2 = math.max(0.0, normX2 - 2.0 * cross + model2)
      val fit = 1.0 - math.sqrt(resid2) / math.sqrt(normX2)
      converged = fits.nonEmpty && fit - fits.last < tol
      fits :+= fit
    }

    // ONE collect, after convergence, to build the returned dense model
    // (the loop itself never centralized A). A caller at true scale would
    // keep (i, row) as a relation.
    val aMat = new Array[Double](ni * r)
    sc.runJob(slabRdd.zipPartitions(aRdd)(SlabRows), new OnePerSlab[(Array[Int], Array[Double])],
      (_: Int, rows: (Array[Int], Array[Double])) => {
        val (localIs, aLoc) = rows
        var li = 0
        while (li < localIs.length) { System.arraycopy(aLoc, li * r, aMat, localIs(li) * r, r); li += 1 }
      })
    aRdd.unpersist(blocking = false)
    // slabRdd stays persisted: its lifecycle belongs to the pack() caller.
    val lambda = normalizeColumns(Seq((aMat, ni), (bMat, nj), (cMat, nk)), r)
    CPModel(lambda, aMat, bMat, cMat, (ni, nj, nk), r, fits)
  }

  // ---- What the tasks run: named objects, not lambdas (see OnePerSlab) ----

  /** A slab's initial A rows, seeded per slab. */
  private final class InitA(rule: UpdateRule, seed: Long, r: Int)
      extends ((Int, Iterator[Slab]) => Iterator[Array[Double]]) with Serializable {
    def apply(idx: Int, slabs: Iterator[Slab]): Iterator[Array[Double]] = {
      val rng = new Random(seed ^ (0x9E3779B97F4A7C15L * (idx + 1)))
      Iterator.single(rule.initA(slabs.next().localIs.length * r, rng))
    }
  }

  /** A slab's A-update: its mode-1 MTTKRP rows (Σ v·b_j∘c_k over the
    * slab's nonzeros) against B and C, then the rule's update with the
    * A-solve matrix. All three come from the iteration's one broadcast
    * `bcs`: B at 0, C at `cOff`, the R×R matrix at `sOff`. Row-local to
    * the slab (mode-1 ownership) — no shuffle, no reduce.
    */
  private final class UpdateA(
      rule: UpdateRule, bcs: Broadcast[Array[Double]], cOff: Int, sOff: Int, r: Int)
      extends ((Iterator[Slab], Iterator[Array[Double]]) => Iterator[Array[Double]])
      with Serializable {
    def apply(slabs: Iterator[Slab], as: Iterator[Array[Double]]): Iterator[Array[Double]] = {
      val slab = slabs.next(); val f = bcs.value
      val m = new Array[Double](slab.localIs.length * r)
      var n = 0
      val len = slab.vs.length
      while (n < len) {
        val row = slab.iLoc(n) * r
        val j = slab.js(n) * r; val k = cOff + slab.ks(n) * r; val v = slab.vs(n)
        var p = 0
        while (p < r) { m(row + p) += v * f(j + p) * f(k + p); p += 1 }
        n += 1
      }
      Iterator.single(rule.update(as.next(), m, f, sOff, slab.localIs.length, r))
    }
  }

  /** A slab's MTTKRP partial against mode 2 (`overJ`: rows over j, against
    * C) or mode 3 (rows over k, against B): dense `outRows`×R rows from
    * the slab-local A rows and the factor read from `f` at `off`. Never
    * ships A. `overJ` also appends the slab's AᵀA (R×R), so gram(A) costs
    * no extra job.
    */
  private final class SlabMttkrp(
      f: Broadcast[Array[Double]], off: Int, overJ: Boolean, outRows: Int, r: Int)
      extends ((Iterator[Slab], Iterator[Array[Double]]) => Iterator[Array[Double]])
      with Serializable {
    def apply(slabs: Iterator[Slab], as: Iterator[Array[Double]]): Iterator[Array[Double]] = {
      val slab = slabs.next(); val aLoc = as.next()
      val o = f.value
      val acc = new Array[Double](outRows * r + (if (overJ) r * r else 0))
      var n = 0
      val len = slab.vs.length
      while (n < len) {
        val aRow = slab.iLoc(n) * r
        val j = slab.js(n); val k = slab.ks(n); val v = slab.vs(n)
        val outRow = if (overJ) j else k
        val oRow = off + (if (overJ) k else j) * r
        var p = 0
        while (p < r) {
          acc(outRow * r + p) += v * aLoc(aRow + p) * o(oRow + p)
          p += 1
        }
        n += 1
      }
      if (overJ) {
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
  }

  /** A slab's global row ids beside its A rows, for the one collect. */
  private object SlabRows
      extends ((Iterator[Slab], Iterator[Array[Double]]) => Iterator[(Array[Int], Array[Double])])
      with Serializable {
    def apply(slabs: Iterator[Slab], as: Iterator[Array[Double]]): Iterator[(Array[Int], Array[Double])] =
      Iterator.single((slabs.next().localIs, as.next()))
  }

  /** A slab's one result, as the result of its task. A named class, not a
    * lambda: Spark's ClosureCleaner re-reads and parses the class file
    * that declares each lambda it is given, on every job, and passes over
    * an object that is not a closure without reading any. For the same
    * reason a job takes the `(TaskContext, Iterator)` function that
    * `runJob` runs as it is, not the `Iterator` one it wraps in a lambda,
    * and every function above is a named class too.
    */
  private final class OnePerSlab[T]
      extends ((TaskContext, Iterator[T]) => T) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[T]): T = it.next()
  }

  /** The MTTKRP against mode 2 (`overJ`) or 3, per slab by [[SlabMttkrp]],
    * summed on the driver by [[sumSlabPartials]]. */
  private def mttkrpJK(
      slabRdd: RDD[Slab], aRdd: RDD[Array[Double]], r: Int,
      f: Broadcast[Array[Double]], off: Int, overJ: Boolean, outRows: Int): Array[Double] =
    sumSlabPartials(slabRdd.zipPartitions(aRdd)(new SlabMttkrp(f, off, overJ, outRows, r)),
      outRows * r + (if (overJ) r * r else 0))

  /** The element-wise sum of the one `len`-long partial each partition
    * emits, in ONE single-stage job. The driver adds partial s as soon as
    * partitions 0..s have all arrived, so the sum order is the partition
    * order whatever order the tasks finish in, and a seeded fit over one
    * packed tensor is bit-reproducible.
    */
  private def sumSlabPartials(partials: RDD[Array[Double]], len: Int): Array[Double] = {
    val numSlabs = partials.getNumPartitions
    val sum = new Array[Double](len)
    val arrived = new Array[Array[Double]](numSlabs)
    var next = 0
    partials.sparkContext.runJob(partials, new OnePerSlab[Array[Double]],
      (slab: Int, partial: Array[Double]) => {
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

  // ---- Dense driver-side kernels ----

  private def gram(m: Array[Double], n: Int, r: Int): DenseMatrix[Double] = {
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

  private def hadamard(
      x: DenseMatrix[Double], y: DenseMatrix[Double], r: Int): DenseMatrix[Double] = {
    val z = DenseMatrix.zeros[Double](r, r)
    var p = 0
    while (p < r) { var q = 0; while (q < r) { z(p, q) = x(p, q) * y(p, q); q += 1 }; p += 1 }
    z
  }

  /** Column-normalize each factor in place, accumulating norms into the
    * returned lambda.
    */
  private def normalizeColumns(factors: Seq[(Array[Double], Int)], r: Int): Array[Double] = {
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
}
