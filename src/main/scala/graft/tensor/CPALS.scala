package graft.tensor

import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration.Duration
import scala.util.Random

import breeze.linalg.{pinv, DenseMatrix}
import org.apache.spark.{GraftSlabExchange, HashPartitioner, TaskContext}
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
  *    ([[SlabAssignment]]); Spark partition s holds slab s as
  *    fiber-compressed primitive arrays ([[Slab]]): nonzeros sorted by
  *    (row, j, k) with duplicate coordinates summed, so a pack of the same
  *    rows is the same slab whatever order the shuffle delivered them in,
  *    and a seeded fit is bit-identical across packs.
  *  - A fit is ONE Spark job: one task per slab, launched in barrier mode
  *    so that all of them run at once (nothing calls `barrier()` or
  *    `allGather`), so numSlabs must not exceed the session's task slots.
  *    Each task trades partials and factors with the driver over a small
  *    RPC endpoint ([[GraftSlabExchange]]), twice per iteration: no
  *    broadcast, no persisted state and no job per iteration.
  *  - Mode 1 is the scale mode: factor A (I×R) NEVER visits the driver
  *    during the loop. Each slab owns its i-rows exclusively, so the
  *    A-update is row-local: a row's MTTKRP × the R×R solve matrix, kept
  *    in the slab's task as one primitive array for the whole fit. AᵀA
  *    (R×R per slab) rides in the mode-2 MTTKRP's partial, and A comes back
  *    once, as the job's result, to build the returned model (at true
  *    scale the caller would keep it as a relation; the loop itself never
  *    needs it centralized).
  *  - B (J×R), C (K×R) are driver-resident (modes 2/3 are the small
  *    modes in the slab design); each slab's J×R / K×R MTTKRP partial is
  *    sent to the driver, which sums them in slab order; the R×R Gram
  *    solves (Hadamard of Gramians, pseudo-inverted via breeze) happen on
  *    the driver too. Per iteration: 2 passes over the nonzeros, each
  *    ending in one exchange. Pass 1 reads B, C and the R×R A-solve
  *    matrix and fuses the A update with the mode-2 MTTKRP: per fiber
  *    (i, j) it sums t = Σ_k v·c_k once, which serves both a_i's MTTKRP
  *    row and, after the row's update, mode-2 row j. Pass 2 reads the
  *    updated B, the answer to pass 1's exchange, for the mode-3 MTTKRP,
  *    one w = a_i∘b_j per fiber. Either way one multiply-add per rank per
  *    nonzero. Every function a task runs is a named object, not a lambda
  *    (see [[OnePerSlab]]).
  *    The small-mode assumption is ENFORCED: `maxDriverFactorElems`
  *    bounds J·R and K·R, and packing fails loudly (with the remedy in
  *    the message) instead of OOMing the driver when a vocabulary-sized
  *    mode lands on 2/3.
  *  - The slice histogram is collected whole only while I fits the driver
  *    (`maxDriverSlices`); above that only its top k heavy slices are
  *    LPT-placed and the tail is hashed — O(k + numSlabs) driver state
  *    regardless of I. Either way [[pack]] builds one [[SlabAssignment]],
  *    used once, map-side, by the slab shuffle. That shuffle moves
  *    column blocks — up to 2¹⁶ of one slab's nonzeros as primitive
  *    arrays per record — not one boxed record per nonzero.
  *
  * Scale notes: per iteration the driver receives every slab's partial:
  * numSlabs × (J·R + R²) doubles for mode 2 and numSlabs × K·R for mode 3
  * (a tree reduction above 5 slabs would send about √numSlabs of each,
  * at the price of a shuffle). It answers each slab: numSlabs copies of B
  * after mode 2, and numSlabs copies of B, C and the A-solve matrix after
  * mode 3, where a broadcast would send one copy per executor but cost a
  * job per iteration to read. Every caller uses one slab per task slot, so numSlabs is the core
  * count, and a fit of more slabs than task slots fails before it starts.
  * The driver sums the partials of one exchange once all have arrived,
  * holding numSlabs of them. The tensor is read from the persisted slab
  * RDD and A stays in the slab tasks. Nothing driver-side grows with I or
  * nnz.
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

  /** One slab, fiber-compressed (SPLATT's CSF layout with the mode-1 row
    * on top; Smith & Karypis, IPDPS 2015): its nonzeros sorted by (local
    * row, j, k), duplicate coordinates summed into one. Local row `li` is
    * global row `localIs(li)` and owns fibers [rowPtr(li), rowPtr(li+1));
    * fiber `f` is the (i, fiberJ(f)) fiber and owns nonzeros
    * [fiberPtr(f), fiberPtr(f+1)), each a mode-3 index `ks` and a value
    * `vs`. The layout depends only on the slab's nonzeros, never on the
    * order the shuffle delivered them in.
    */
  private[graft] final case class Slab(
      localIs: Array[Int],
      rowPtr: Array[Int],
      fiberJ: Array[Int],
      fiberPtr: Array[Int],
      ks: Array[Int],
      vs: Array[Double]) {
    def numRows: Int = localIs.length
  }

  private[graft] object Slab {

    /** The slab of COO nonzeros (i, j, k, v), given in any order, as
      * columns. They are sorted by (i, j, k) with a stable LSD counting
      * sort on primitive arrays — k, then j, then i, 11 bits of a key per
      * pass, each pass moving all four columns — in O(nnz + the slab's
      * i, j and k ranges). One walk then cuts rows and fibers and sums
      * equal coordinates. A coordinate given more than once sums its
      * values in ascending order, so the sum does not depend on the input
      * order either. Explicit zeros stay. The given arrays are reused as
      * scratch.
      */
    def of(is: Array[Int], js: Array[Int], ks: Array[Int], vs: Array[Double]): Slab = {
      val n = vs.length
      var cols = Array(is, js, ks); var vals = vs
      var spare = Array.fill(3)(new Array[Int](n)); var spareVals = new Array[Double](n)
      for (key <- Seq(2, 1, 0)) {
        val x = cols(key)
        var lo = Int.MaxValue; var hi = Int.MinValue
        var e = 0
        while (e < n) { lo = math.min(lo, x(e)); hi = math.max(hi, x(e)); e += 1 }
        val bits = if (n == 0) 0 else 32 - Integer.numberOfLeadingZeros(hi - lo)
        var shift = 0
        while (shift < bits) {
          countingPass(cols, vals, spare, spareVals, key, lo, shift)
          val c = cols; cols = spare; spare = c
          val v = vals; vals = spareVals; spareVals = v
          shift += DigitBits
        }
      }
      val Array(si, sj, sk) = cols

      val localIs = new Array[Int](n); val rowPtr = new Array[Int](n + 1)
      val fiberJ = new Array[Int](n); val fiberPtr = new Array[Int](n + 1)
      val outK = new Array[Int](n); val outV = new Array[Double](n)
      var rows = 0; var fibers = 0; var nnz = 0
      var p = 0
      while (p < n) {
        val i = si(p); val j = sj(p); val k = sk(p)
        var q = p + 1
        while (q < n && si(q) == i && sj(q) == j && sk(q) == k) q += 1
        var v = vals(p)
        if (q - p > 1) {
          java.util.Arrays.sort(vals, p, q)
          v = 0.0; var d = p; while (d < q) { v += vals(d); d += 1 }
        }
        val newRow = rows == 0 || localIs(rows - 1) != i
        if (newRow) { localIs(rows) = i; rowPtr(rows) = fibers; rows += 1 }
        if (newRow || fiberJ(fibers - 1) != j) { fiberJ(fibers) = j; fiberPtr(fibers) = nnz; fibers += 1 }
        outK(nnz) = k; outV(nnz) = v; nnz += 1
        p = q
      }
      rowPtr(rows) = fibers; fiberPtr(fibers) = nnz
      import java.util.Arrays.copyOf
      Slab(copyOf(localIs, rows), copyOf(rowPtr, rows + 1), copyOf(fiberJ, fibers),
        copyOf(fiberPtr, fibers + 1), copyOf(outK, nnz), copyOf(outV, nnz))
    }

    private val DigitBits = 11

    /** One stable counting-sort pass of the columns `cols` + `vals` into
      * `outCols` + `outVals`, by the digit at `shift` of column `key`
      * less `lo`. */
    private def countingPass(
        cols: Array[Array[Int]], vals: Array[Double],
        outCols: Array[Array[Int]], outVals: Array[Double],
        key: Int, lo: Int, shift: Int): Unit = {
      val x = cols(key); val mask = (1 << DigitBits) - 1
      val start = new Array[Int](mask + 2)
      var e = 0
      while (e < x.length) { start((((x(e) - lo) >>> shift) & mask) + 1) += 1; e += 1 }
      var d = 0
      while (d <= mask) { start(d + 1) += start(d); d += 1 }
      val Array(i0, j0, k0) = cols; val Array(i1, j1, k1) = outCols
      e = 0
      while (e < x.length) {
        val digit = ((x(e) - lo) >>> shift) & mask
        val to = start(digit); start(digit) += 1
        i1(to) = i0(e); j1(to) = j0(e); k1(to) = k0(e); outVals(to) = vals(e)
        e += 1
      }
    }
  }

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
    val packed = packCoo(coo, rank, numSlabs)
    try fitPacked(packed, rank, seed, tol, maxIter, rule)
    finally packed.unpersist()
  }

  /** [[pack]] of a COO DataFrame with columns (i,j,k,v) into `numSlabs`
    * slabs, or one per task slot of the session when `numSlabs` is 0. */
  private[tensor] def packCoo(coo: DataFrame, width: Int, numSlabs: Int): PackedTensor = {
    import org.apache.spark.sql.functions.col
    val rows: RDD[(Long, Long, Long, Double)] = coo
      .select(col("i").cast("long"), col("j").cast("long"), col("k").cast("long"),
        col("v").cast("double"))
      .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    pack(rows, width,
      if (numSlabs > 0) numSlabs else GraftSlabExchange.slots(coo.sparkSession.sparkContext))
  }

  /** The packed, persisted slab tensor — everything a seeded fit needs,
    * built ONCE per source RDD so several seeded fits (multi-start) reuse
    * the partition+pack cost. Call [[PackedTensor.unpersist]] when done.
    */
  private[graft] final case class PackedTensor(
      slabRdd: RDD[Slab],
      ni: Int, nj: Int, nk: Int,
      normX2: Double,
      /** Nonzeros of the source rows, before duplicate coordinates are summed. */
      nnz: Long) {
    def unpersist(): Unit = slabRdd.unpersist(blocking = false)
  }

  /** Default driver budget for the mode-2/3 factors: 1<<26 doubles
    * (512 MB each for B and C at the limit) — far above any small-mode
    * tensor, far below a vocabulary-sized mode landing driver-side.
    */
  private[graft] val DefaultMaxDriverFactorElems: Long = 1L << 26

  /** Partition, pack, and persist the COO rows into fiber-compressed
    * slabs. Reads `rows` twice: once for the per-slice histogram, and once
    * for the slab shuffle. Three jobs: one over the histogram for the dims
    * and the per-residue loads (Σ nonzeros of the slices with
    * i % numSlabs == s), one that fetches the slices to place — all of
    * them while I ≤ `maxDriverSlices`, else the `maxDriverSlices` heaviest
    * by a distributed bounded heap — and the one that materializes the
    * slabs and sums ‖X‖² over their packed (duplicate-merged) values. Each
    * map task of the histogram counts its nonzeros per slice in primitive
    * arrays ([[sliceHistogram]]) and emits one record per distinct slice.
    * The placed slices are LPT-assigned ([[SlabAssignment]]) onto slabs
    * preloaded with the residue loads less the placed slices' share (zero
    * when every slice is placed). Each map task of the slab shuffle fills
    * per-slab primitive columns and emits them as (slab, [[Block]])
    * records of up to [[BlockSize]] nonzeros ([[slabBlocks]]): about
    * nnz / 2¹⁶ records, plus at most numSlabs per source partition, where
    * one record per nonzero would be nnz. The reduce side joins a slab's
    * blocks and sorts them into its layout ([[Slab.of]]), so the slabs do
    * not depend on the order the blocks arrive in. The shuffle is keyed
    * by slab id under a plain `HashPartitioner`, so partition s is slab s
    * and the assignment lives only in the map-side function, which a task
    * reading the slabs never deserializes. Fails loudly (with the remedy)
    * when the small-mode assumption J·W, K·W ≤ `maxDriverFactorElems` is
    * violated, W being `width`, the widest factor the caller keeps on the
    * driver for modes 2 and 3 (the CP rank; Tucker's larger mode-2/3
    * rank) — the guard that turns a driver OOM into an actionable error,
    * checked before the slab shuffle.
    */
  private[graft] def pack(
      rows: RDD[(Long, Long, Long, Double)],
      width: Int,
      numSlabs: Int,
      maxDriverSlices: Int = 1 << 20,
      maxDriverFactorElems: Long = DefaultMaxDriverFactorElems): PackedTensor = {
    // Per slice: (nonzeros, max j, max k). The slice histogram stays
    // distributed; only a bounded summary reaches the driver once I
    // outgrows `maxDriverSlices`. A map task's records are already one per
    // slice, so they are merged on the reduce side only, into numSlabs
    // partitions.
    val slices = rows
      .mapPartitions(sliceHistogram)
      .combineByKeyWithClassTag[(Long, Long, Long)]((c: (Long, Long, Long)) => c, mergeCounts,
        mergeCounts, new HashPartitioner(numSlabs), mapSideCombine = false)
    // Max i, j, k, then the load of each residue s = i % numSlabs.
    val summary = slices.aggregate(new Array[Long](3 + numSlabs))(
      { case (acc, (i, (w, j, k))) =>
        acc(0) = acc(0) max i; acc(1) = acc(1) max j; acc(2) = acc(2) max k
        acc(3 + (i % numSlabs).toInt) += w
        acc
      },
      { (x, y) =>
        for (n <- 0 until 3) x(n) = x(n) max y(n)
        for (n <- 3 until x.length) x(n) += y(n)
        x
      })
    val (ni, nj, nk) = ((summary(0) + 1).toInt, (summary(1) + 1).toInt, (summary(2) + 1).toInt)

    // Small-mode guard: the mode-2 and mode-3 factors are driver-resident
    // by design (mode 1 is the scale mode). A huge J or K silently breaks
    // that assumption — fail with the fix, not an OOM mid-iteration.
    def checkMode(mode: Int, dim: Int): Unit =
      require(dim.toLong * width <= maxDriverFactorElems,
        s"mode-$mode factor ($dim rows × width $width = " +
          s"${dim.toLong * width} elements) exceeds the driver budget of " +
          s"$maxDriverFactorElems. Mode 1 is the distributed scale mode: " +
          "pass the largest mode as column i, reduce the rank, or raise " +
          "maxDriverFactorElems if the driver truly has room.")
    checkMode(2, nj)
    checkMode(3, nk)

    val sliceWeights = slices.mapValues(_._1)
    val placed =
      if (ni <= maxDriverSlices) sliceWeights.collect()
      else sliceWeights.top(maxDriverSlices)(Ordering.by { case (i, w) => (w, i) })
    val loads = summary.drop(3)
    val nnz = loads.sum
    placed.foreach { case (i, w) => loads((i % numSlabs).toInt) -= w }
    val assignment = SlabAssignment.lpt(placed.toSeq, loads)

    // C13: slab-partitioned, fiber-compressed, persisted once. The
    // shuffle's records are column blocks ([[slabBlocks]]).
    val slabRdd: RDD[Slab] = rows
      .mapPartitions(slabBlocks(assignment, numSlabs))
      .partitionBy(new HashPartitioner(numSlabs))
      .mapPartitions(joinBlocks)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val normX2 = sumSlabPartials(slabRdd, SlabNormX2, 1)(0)
    PackedTensor(slabRdd, ni, nj, nk, normX2, nnz)
  }

  private val mergeCounts = (x: (Long, Long, Long), y: (Long, Long, Long)) =>
    (x._1 + y._1, x._2 max y._2, x._3 max y._3)

  /** A map task's slice histogram: one (i, (nonzeros, max j, max k))
    * record per distinct slice i of its partition, counted in primitive
    * arrays by open addressing on i, so no record is made per nonzero. */
  private def sliceHistogram(
      rows: Iterator[(Long, Long, Long, Double)]): Iterator[(Long, (Long, Long, Long))] = {
    val Free = Long.MinValue
    var ids = Array.fill(1024)(Free)
    var w, mj, mk = new Array[Long](1024)
    var size = 0
    // The slot of slice i in a table of ids.length slots, a power of two.
    def slot(i: Long): Int = {
      val mask = ids.length - 1
      var s = java.lang.Long.hashCode(i * 0x9E3779B97F4A7C15L) & mask
      while (ids(s) != Free && ids(s) != i) s = (s + 1) & mask
      s
    }
    // Doubles the table, keeping it at most half full.
    def grow(): Unit = {
      val (oldIds, oldW, oldJ, oldK) = (ids, w, mj, mk)
      ids = Array.fill(2 * oldIds.length)(Free)
      w = new Array[Long](ids.length); mj = new Array[Long](ids.length); mk = new Array[Long](ids.length)
      for (o <- oldIds.indices if oldIds(o) != Free) {
        val s = slot(oldIds(o))
        ids(s) = oldIds(o); w(s) = oldW(o); mj(s) = oldJ(o); mk(s) = oldK(o)
      }
    }
    rows.foreach { case (i, j, k, _) =>
      if (2 * (size + 1) > ids.length) grow()
      val s = slot(i)
      if (ids(s) == Free) { ids(s) = i; size += 1 }
      w(s) += 1; mj(s) = mj(s) max j; mk(s) = mk(s) max k
    }
    Iterator.range(0, ids.length).filter(ids(_) != Free).map(s => (ids(s), (w(s), mj(s), mk(s))))
  }

  /** Nonzeros bound for one slab, as columns: the record of [[pack]]'s
    * slab shuffle. */
  private final case class Block(is: Array[Int], js: Array[Int], ks: Array[Int], vs: Array[Double])

  /** The most nonzeros a [[Block]] holds: 2¹⁶, 1.25 MB of columns. */
  private[graft] val BlockSize = 1 << 16

  /** A map task's nonzeros as (slab, [[Block]]) records. Each slab's
    * nonzeros fill a buffer of their own, which is emitted as a block as
    * soon as it holds [[BlockSize]]; once the input ends, every slab's
    * partly filled buffer follows. A task holds at most one buffer per
    * slab, whatever the size of its partition, and emits at most
    * ⌈its nonzeros / BlockSize⌉ + numSlabs records.
    */
  private def slabBlocks(assignment: SlabAssignment, numSlabs: Int)(
      rows: Iterator[(Long, Long, Long, Double)]): Iterator[(Int, Block)] = {
    import java.util.Arrays.copyOf
    val is, js, ks = Array.fill(numSlabs)(Array.emptyIntArray)
    val vs = Array.fill(numSlabs)(Array.emptyDoubleArray)
    val fill = new Array[Int](numSlabs)

    // Doubles slab s's buffer, from 1,024 nonzeros up to BlockSize.
    def grow(s: Int): Unit = {
      val cap = math.max(1024, 2 * vs(s).length)
      is(s) = copyOf(is(s), cap); js(s) = copyOf(js(s), cap); ks(s) = copyOf(ks(s), cap)
      vs(s) = copyOf(vs(s), cap)
    }
    // Slab s's buffered nonzeros as a block of their own; the buffer is
    // emptied for reuse.
    def emit(s: Int): (Int, Block) = {
      val n = fill(s); fill(s) = 0
      (s, Block(copyOf(is(s), n), copyOf(js(s), n), copyOf(ks(s), n), copyOf(vs(s), n)))
    }

    rows.flatMap { case (i, j, k, v) =>
      val s = assignment.slabOf(i); val n = fill(s)
      if (n == vs(s).length) grow(s)
      is(s)(n) = i.toInt; js(s)(n) = j.toInt; ks(s)(n) = k.toInt; vs(s)(n) = v
      fill(s) = n + 1
      if (n + 1 == BlockSize) Some(emit(s)) else None
    } ++ Iterator.range(0, numSlabs).filter(fill(_) > 0).map(emit)
  }

  /** One slab's blocks, in whatever order the shuffle delivers them,
    * joined into one set of columns and packed by [[Slab.of]], whose
    * layout does not depend on that order. */
  private def joinBlocks(blocks: Iterator[(Int, Block)]): Iterator[Slab] = {
    val bs = blocks.map(_._2).toArray
    val n = bs.iterator.map(_.vs.length).sum
    val is, js, ks = new Array[Int](n)
    val vs = new Array[Double](n)
    var at = 0
    for (b <- bs) {
      val len = b.vs.length
      System.arraycopy(b.is, 0, is, at, len); System.arraycopy(b.js, 0, js, at, len)
      System.arraycopy(b.ks, 0, ks, at, len); System.arraycopy(b.vs, 0, vs, at, len)
      at += len
    }
    Iterator.single(Slab.of(is, js, ks, vs))
  }

  // ---- The update rules ----

  /** What tells one CP fit from another: the seeded init and the update
    * of a factor's rows. For the factor being updated the loop hands the
    * rule its MTTKRP rows M (n×R) and the R×R matrix S = [[solveMatrix]]
    * of H, the Hadamard of the other two factors' Grams. The same
    * [[update]] runs slab-local for A, one row at a time inside a task,
    * and on the driver for all of B or C.
    */
  private[graft] trait UpdateRule extends Serializable {
    /** One seeded init draw for an entry of B or C. */
    def draw(rng: Random): Double
    /** A slab's `n` initial A entries, from its own seeded `rng`. */
    def initA(n: Int, rng: Random): Array[Double]
    def solveMatrix(h: DenseMatrix[Double]): DenseMatrix[Double]
    /** Overwrites the n×R rows of `a` from `aOff` with their update, from
      * their old values, M (`m`, read up to n×R) and S (row-major in `s`
      * from `sOff`). In place; allocates nothing. */
    def update(
        a: Array[Double], aOff: Int, m: Array[Double], s: Array[Double], sOff: Int,
        n: Int, r: Int): Unit
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
        a: Array[Double], aOff: Int, m: Array[Double], s: Array[Double], sOff: Int,
        n: Int, r: Int): Unit = {
      var row = 0
      while (row < n) {
        var q = 0
        while (q < r) {
          var sum = 0.0; var p = 0
          while (p < r) { sum += m(row * r + p) * s(sOff + p * r + q); p += 1 }
          a(aOff + row * r + q) = sum
          q += 1
        }
        row += 1
      }
    }
  }

  // ---- The loop ----

  /** One seeded CP run over an already-packed slab tensor: ALS unless
    * another `rule` is given. The run stops once an iteration raises the
    * fit by less than `tol`, or after `maxIter` iterations. It is one job
    * of one [[SlabFit]] task per slab. A failure of a task or of this loop
    * fails the run once, with its cause: the exchange fails every pending
    * message, the job is cancelled and the endpoint stopped.
    */
  private[graft] def fitPacked(
      packed: PackedTensor,
      rank: Int,
      seed: Long,
      tol: Double,
      maxIter: Int,
      rule: UpdateRule = AlsRule()): CPModel = {
    val PackedTensor(slabRdd, ni, nj, nk, normX2, _) = packed
    val sc = slabRdd.sparkContext
    val numSlabs = slabRdd.getNumPartitions
    val slots = GraftSlabExchange.slots(sc)
    require(numSlabs <= slots, s"a CP fit runs its $numSlabs slabs as concurrent tasks of one " +
      s"stage, but the session has $slots task slots: pack into at most $slots slabs, or give " +
      "the session more cores")
    val r = rank
    // Seeded init: B, C here; each slab task draws its A rows with a
    // per-slab seed — deterministic because the pack partitioning is.
    val rng = new Random(seed)
    val bMat = Array.fill(nj * r)(rule.draw(rng))
    val cMat = Array.fill(nk * r)(rule.draw(rng))
    def flat(m: DenseMatrix[Double]): Array[Double] = Array.tabulate(r * r)(n => m(n / r, n % r))
    def update(f: Array[Double], m: Array[Double], n: Int, h: DenseMatrix[Double]): Unit =
      rule.update(f, 0, m, flat(rule.solveMatrix(h)), 0, n, r)
    var gC = gram(cMat, nk, r)
    // What a slab task reads for its next iteration: B, C and the R×R
    // A-solve matrix, as a fresh array; or nothing, which stops it.
    def next(stop: Boolean): Array[Double] =
      if (stop) Array.emptyDoubleArray
      else Array.concat(bMat, cMat, flat(rule.solveMatrix(hadamard(gram(bMat, nj, r), gC, r))))

    val aMat = new Array[Double](ni * r)
    val exchange = GraftSlabExchange.open(sc, numSlabs)
    var fits = Vector.empty[Double]
    try {
      // The first iteration's factors ride in the task closure.
      val job = sc.submitJob(
        slabRdd.barrier().mapPartitionsWithIndex(
          new SlabFit(exchange.name, rule, seed, next(maxIter <= 0), nj, nk, r)),
        new OnePerSlab[(Array[Int], Array[Double])], 0 until numSlabs,
        (_: Int, rows: (Array[Int], Array[Double])) => {
          val (localIs, aLoc) = rows
          var li = 0
          while (li < localIs.length) { System.arraycopy(aLoc, li * r, aMat, localIs(li) * r, r); li += 1 }
        }, ())
      job.onComplete(_.failed.foreach(exchange.fail))(ExecutionContext.parasitic)
      try {
        var stop = maxIter <= 0
        while (!stop) {
          // --- Exchange 1: every slab has updated its A rows and sends its
          // mode-2 MTTKRP partial with its AᵀA appended; it gets back B.
          val mB = sumInSlabOrder(exchange.gather(), nj * r + r * r)
          val gramA = DenseMatrix.tabulate(r, r)((p, q) => mB(nj * r + p * r + q))
          update(bMat, mB, nj, hadamard(gramA, gC, r))
          exchange.answer(bMat.clone())

          // --- Exchange 2: the mode-3 MTTKRP partials over (A, B); each
          // slab gets back the next iteration's factors, or stops.
          val mC = sumInSlabOrder(exchange.gather(), nk * r)
          val gB = gram(bMat, nj, r)
          update(cMat, mC, nk, hadamard(gramA, gB, r))

          // --- fit via the CP identities (mC was computed against the
          // current A and B, so vec(mC)·vec(C) = ⟨X, X̂⟩ — no reconstruction).
          val cross = { var s = 0.0; var n = 0; while (n < mC.length) { s += mC(n) * cMat(n); n += 1 }; s }
          gC = gram(cMat, nk, r)
          val gAll = hadamard(hadamard(gramA, gB, r), gC, r)
          val model2 = {
            var s = 0.0; var p = 0
            while (p < r) { var q = 0; while (q < r) { s += gAll(p, q); q += 1 }; p += 1 }
            s
          }
          val resid2 = math.max(0.0, normX2 - 2.0 * cross + model2)
          val fit = 1.0 - math.sqrt(resid2) / math.sqrt(normX2)
          stop = fits.nonEmpty && fit - fits.last < tol || fits.length + 1 >= maxIter
          fits :+= fit
          exchange.answer(next(stop))
        }
        Await.result(job, Duration.Inf)
      } catch {
        case e: Throwable =>
          exchange.fail(e)
          job.cancel()
          Await.ready(job, Duration.Inf)
          throw e
      }
    } finally exchange.close()
    // slabRdd stays persisted: its lifecycle belongs to the pack() caller.
    val lambda = normalizeColumns(Seq((aMat, ni), (bMat, nj), (cMat, nk)), r)
    CPModel(lambda, aMat, bMat, cMat, (ni, nj, nk), r, fits)
  }

  /** The element-wise sum of `parts` in slab order, from zeros. */
  private def sumInSlabOrder(parts: Array[Array[Double]], len: Int): Array[Double] = {
    val sum = new Array[Double](len)
    for (y <- parts) { var n = 0; while (n < len) { sum(n) += y(n); n += 1 } }
    sum
  }

  // ---- What the tasks run: named objects, not lambdas (see OnePerSlab) ----

  /** A slab's task for a whole fit. It draws the slab's A rows, seeded per
    * slab, and keeps them. Per iteration it reads B, C and the A-solve
    * matrix, sends its mode-2 partial ([[updateAModeTwo]]), reads the new
    * B, and sends its mode-3 partial ([[modeThree]]); the answer is the
    * next iteration's factors, or empty once the fit stops. `first` is the
    * first iteration's. Its result is the slab's row ids and A rows.
    */
  private final class SlabFit(
      exchange: String, rule: UpdateRule, seed: Long, first: Array[Double], nj: Int, nk: Int, r: Int)
      extends ((Int, Iterator[Slab]) => Iterator[(Array[Int], Array[Double])]) with Serializable {
    def apply(idx: Int, slabs: Iterator[Slab]): Iterator[(Array[Int], Array[Double])] = {
      val slab = slabs.next()
      val link = new GraftSlabExchange.Link(exchange, idx)
      val rng = new Random(seed ^ (0x9E3779B97F4A7C15L * (idx + 1)))
      val a = rule.initA(slab.numRows * r, rng)
      var f = first
      while (f.nonEmpty) {
        val b = link.trade(updateAModeTwo(slab, a, f, rule, nj, nk, r))
        f = link.trade(modeThree(slab, a, b, nk, r))
      }
      Iterator.single((slab.localIs, a))
    }
  }

  /** A slab's first pass of an iteration: the A update fused with the
    * mode-2 MTTKRP. `f` holds B at 0, C at J·R and the R×R A-solve matrix
    * after C. For each local row i and each of its fibers (i, j),
    * t_ij = Σ_k v·c_k (one multiply-add per rank per nonzero) is kept in a
    * scratch of the row's fibers, and the row's mode-1 MTTKRP is
    * m_i = Σ_j t_ij ∘ b_j. The rule turns m_i into the new a_i, in place in
    * `a`; then each fiber adds a_i ∘ t_ij to mode-2 row j, and the row adds
    * a_i a_iᵀ to the appended AᵀA. Returns that J·R + R² partial. Row-local
    * to the slab (mode-1 ownership) — no shuffle, no reduce.
    */
  private def updateAModeTwo(
      slab: Slab, a: Array[Double], f: Array[Double], rule: UpdateRule, nj: Int, nk: Int, r: Int)
      : Array[Double] = {
    val Slab(_, rowPtr, fiberJ, fiberPtr, ks, vs) = slab
    val cOff = nj * r; val sOff = (nj + nk) * r; val gramOff = nj * r
    val acc = new Array[Double](nj * r + r * r)
    var maxFibers = 0
    var li = 0
    while (li < slab.numRows) { maxFibers = math.max(maxFibers, rowPtr(li + 1) - rowPtr(li)); li += 1 }
    val t = new Array[Double](maxFibers * r)
    val m = new Array[Double](r)
    li = 0
    while (li < slab.numRows) {
      val f0 = rowPtr(li); val f1 = rowPtr(li + 1)
      java.util.Arrays.fill(m, 0.0)
      var fb = f0
      while (fb < f1) {
        val tRow = (fb - f0) * r
        sumFiber(ks, vs, fiberPtr(fb), fiberPtr(fb + 1), f, cOff, t, tRow, r)
        val bRow = fiberJ(fb) * r
        var p = 0
        while (p < r) { m(p) += t(tRow + p) * f(bRow + p); p += 1 }
        fb += 1
      }
      val aRow = li * r
      rule.update(a, aRow, m, f, sOff, 1, r)
      fb = f0
      while (fb < f1) {
        val tRow = (fb - f0) * r; val jRow = fiberJ(fb) * r
        var p = 0
        while (p < r) { acc(jRow + p) += a(aRow + p) * t(tRow + p); p += 1 }
        fb += 1
      }
      var p = 0
      while (p < r) {
        val vp = a(aRow + p)
        var q = 0
        while (q < r) { acc(gramOff + p * r + q) += vp * a(aRow + q); q += 1 }
        p += 1
      }
      li += 1
    }
    acc
  }

  /** A slab's second pass of an iteration: the mode-3 MTTKRP partial
    * (K×R) from the slab's A rows and the updated B. Each fiber (i, j)
    * forms w = a_i ∘ b_j once; each of its nonzeros adds v·w to row k.
    */
  private def modeThree(slab: Slab, a: Array[Double], b: Array[Double], nk: Int, r: Int): Array[Double] = {
    val Slab(_, rowPtr, fiberJ, fiberPtr, ks, vs) = slab
    val acc = new Array[Double](nk * r)
    val w = new Array[Double](r)
    var li = 0
    while (li < slab.numRows) {
      val aRow = li * r
      var fb = rowPtr(li)
      while (fb < rowPtr(li + 1)) {
        val bRow = fiberJ(fb) * r
        var p = 0
        while (p < r) { w(p) = a(aRow + p) * b(bRow + p); p += 1 }
        scatterFiber(ks, vs, fiberPtr(fb), fiberPtr(fb + 1), w, acc, r)
        fb += 1
      }
      li += 1
    }
    acc
  }

  /** t(tOff + p) = Σ v·f(fOff + k·R + p) over the nonzeros [n0, n1) of
    * one fiber, for every rank p. Eight ranks at a time are summed in
    * registers, so a nonzero costs one multiply-add per rank and no
    * store; the last R mod 8 ranks go one at a time. Each rank adds its
    * nonzeros in fiber order whatever the blocking.
    */
  private[tensor] def sumFiber(
      ks: Array[Int], vs: Array[Double], n0: Int, n1: Int,
      f: Array[Double], fOff: Int, t: Array[Double], tOff: Int, r: Int): Unit = {
    var p = 0
    while (p + 8 <= r) {
      var t0 = 0.0; var t1 = 0.0; var t2 = 0.0; var t3 = 0.0
      var t4 = 0.0; var t5 = 0.0; var t6 = 0.0; var t7 = 0.0
      var n = n0
      while (n < n1) {
        val v = vs(n); val c = fOff + ks(n) * r + p
        t0 += v * f(c); t1 += v * f(c + 1); t2 += v * f(c + 2); t3 += v * f(c + 3)
        t4 += v * f(c + 4); t5 += v * f(c + 5); t6 += v * f(c + 6); t7 += v * f(c + 7)
        n += 1
      }
      val o = tOff + p
      t(o) = t0; t(o + 1) = t1; t(o + 2) = t2; t(o + 3) = t3
      t(o + 4) = t4; t(o + 5) = t5; t(o + 6) = t6; t(o + 7) = t7
      p += 8
    }
    while (p < r) {
      var sum = 0.0; var n = n0
      while (n < n1) { sum += vs(n) * f(fOff + ks(n) * r + p); n += 1 }
      t(tOff + p) = sum
      p += 1
    }
  }

  /** acc(k·R + p) += v·w(p) over the nonzeros [n0, n1) of one fiber, for
    * every rank p: eight ranks of w at a time held in registers, then the
    * last R mod 8 one at a time.
    */
  private[tensor] def scatterFiber(
      ks: Array[Int], vs: Array[Double], n0: Int, n1: Int,
      w: Array[Double], acc: Array[Double], r: Int): Unit = {
    var p = 0
    while (p + 8 <= r) {
      val w0 = w(p); val w1 = w(p + 1); val w2 = w(p + 2); val w3 = w(p + 3)
      val w4 = w(p + 4); val w5 = w(p + 5); val w6 = w(p + 6); val w7 = w(p + 7)
      var n = n0
      while (n < n1) {
        val v = vs(n); val k = ks(n) * r + p
        acc(k) += v * w0; acc(k + 1) += v * w1; acc(k + 2) += v * w2; acc(k + 3) += v * w3
        acc(k + 4) += v * w4; acc(k + 5) += v * w5; acc(k + 6) += v * w6; acc(k + 7) += v * w7
        n += 1
      }
      p += 8
    }
    while (p < r) {
      val wp = w(p); var n = n0
      while (n < n1) { acc(ks(n) * r + p) += vs(n) * wp; n += 1 }
      p += 1
    }
  }

  /** A slab's Σ v² over its packed values, as the result of a task. */
  private object SlabNormX2 extends ((TaskContext, Iterator[Slab]) => Array[Double]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Slab]): Array[Double] = {
      val vs = it.next().vs
      var s = 0.0; var n = 0
      while (n < vs.length) { s += vs(n) * vs(n); n += 1 }
      Array(s)
    }
  }

  /** A slab's one result, as the result of its task. A named class, not a
    * lambda: Spark's ClosureCleaner re-reads and parses the class file
    * that declares each lambda it is given, on every job, and passes over
    * an object that is not a closure without reading any. For the same
    * reason every function above that a task runs is a named class too.
    */
  private final class OnePerSlab[T] extends (Iterator[T] => T) with Serializable {
    def apply(it: Iterator[T]): T = it.next()
  }

  /** The element-wise sum of the `len`-long partial that `partial` takes
    * from each partition, in ONE single-stage job, summed in partition
    * order whatever order the tasks finish in ([[sumInSlabOrder]]), so a
    * seeded run over one packed tensor is bit-reproducible.
    */
  private[tensor] def sumSlabPartials[T](
      slabs: RDD[T], partial: (TaskContext, Iterator[T]) => Array[Double], len: Int): Array[Double] = {
    val parts = new Array[Array[Double]](slabs.getNumPartitions)
    slabs.sparkContext.runJob(slabs, partial, (slab: Int, x: Array[Double]) => parts(slab) = x)
    sumInSlabOrder(parts, len)
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
