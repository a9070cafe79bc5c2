package graft.tensor

import breeze.linalg.{eigSym, DenseMatrix => BDM}
import dev.ludovic.netlib.arpack.JavaARPACK
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.netlib.util.{doubleW, intW}

import graft.tensor.CPALS.{PackedTensor, Slab}

/** Tucker decomposition by truncated HOSVD (De Lathauwer, De Moor &
  * Vandewalle, "A Multilinear Singular Value Decomposition", SIMAX 21(4)
  * 2000 — reference checkout is empty, SURVEY.md §0.1, so semantics
  * follow the published algorithm). Completes the tensor family next to
  * [[CPALS]]: CP explains the tensor as a sum of rank-1 terms, Tucker as
  * a small dense core × per-mode orthonormal bases — the form used for
  * subspace compression and mode-interaction analysis.
  *
  * Distribution design: the tensor is [[CPALS.pack]]'s slabs, as for
  * CP-ALS, so duplicate coordinates are summed and ‖X‖² comes with the
  * pack. Each pass is one single-stage job whose per-slab partials the
  * driver sums in slab order ([[CPALS.sumSlabPartials]]): no shuffle, and
  * two decompositions of the same rows are bit-identical.
  *  - Job 1 sums three Grams Σ x·xᵀ over sparse columns x that a slab
  *    holds whole ([[columns]]): mode 3's over the (i, j) fibers, mode 2's
  *    over the (i, k) columns, and mode 1's J·K side X₍₁₎ᵀX₍₁₎, one
  *    column vec(Xᵢ) per row (150 × 150 at Q43, not 1,500 × 1,500).
  *  - The driver solves each by its dimension d: dsyev up to
  *    `exactEigDim`, ARPACK Lanczos ([[lanczosEigvecs]]) up to
  *    `maxGramDim`. Above that job 1 sums the randomized range finder's
  *    sketch Σ x·gᵀ instead (Halko, Martinsson & Tropp, SIAM Rev. 53(2)
  *    2011; g seeded by the column), one more job sums M = Σ (Qᵀx)(Qᵀx)ᵀ
  *    over its range basis Q, and the basis is Q·eig(M): d·(r+8) driver
  *    state instead of d².
  *  - Job 2 forms each row of X₍₁₎V (V, the J·K side's eigenvectors)
  *    beside its slab with the row's core share; the driver collects the
  *    rows once and makes U₁ = X₍₁₎VΣ⁻¹ ([[orthonormalize]]).
  *  - Fit uses the orthonormal-basis identity ‖X−X̂‖² = ‖X‖² − ‖G‖², so
  *    the reconstruction is never materialized.
  */
object Tucker {

  final case class TuckerModel(
      /** factors(n) holds R_n orthonormal basis vectors, each of length I_n. */
      factors: Array[Array[Array[Double]]],
      /** Row-major R₁×R₂×R₃ core. */
      core: Array[Double],
      ranks: (Int, Int, Int),
      dims: (Int, Int, Int),
      normX: Double,
      /** 1 − ‖X−X̂‖/‖X‖ ∈ [0,1]; 1 = exact. */
      fit: Double,
      /** Gram solves in the Lanczos band that dsyev answered instead
        * ([[lanczosEigvecs]]); 0 when every such solve converged. */
      fallbacks: Int)

  /** Truncated HOSVD of a COO DataFrame with columns (i,j,k,v); indices
    * must be dense 0-based (Q43's tensor contract).
    */
  def hosvd(
      coo: DataFrame,
      ranks: (Int, Int, Int),
      maxGramDim: Int = 4096,
      exactEigDim: Int = DefaultExactEigDim): TuckerModel =
    decompose(coo, ranks, maxGramDim, sweeps = 0, exactEigDim = exactEigDim)

  /** HOOI refinement (higher-order orthogonal iteration — the ALS analog
    * for Tucker): start from the HOSVD bases, then per sweep re-extract
    * each mode's basis from the tensor PROJECTED onto the other modes'
    * current bases. Monotonically non-decreasing core energy, so fit
    * never drops below the HOSVD starting point (asserted in TuckerSpec).
    *
    * Per mode per sweep, one slab pass sums the projected unfolding Y_(n),
    * a dense I_n × (Π_{m≠n} R_m) matrix, in slab order; its reduced SVD
    * runs on the driver. The last mode's gives the core, G_(3) = U₃ᵀY_(3).
    */
  def hooi(
      coo: DataFrame,
      ranks: (Int, Int, Int),
      sweeps: Int = 2,
      maxGramDim: Int = 4096): TuckerModel =
    decompose(coo, ranks, maxGramDim, sweeps = sweeps,
      exactEigDim = DefaultExactEigDim)

  /** Largest Gram dimension solved by full dsyev, which stays cheap in
    * pure Java up to here (~0.3 s at d = 512). Grams up to maxGramDim use
    * ARPACK Lanczos ([[lanczosEigvecs]]); past maxGramDim the Gram itself
    * is never built.
    */
  val DefaultExactEigDim = 512

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Restart cap of the production Lanczos solves. */
  private val LanczosMaxIter = 300

  /** Deterministic sign: first nonzero component positive. */
  private def signFix(v: Array[Double]): Array[Double] = {
    val lead = v.find(math.abs(_) > 1e-12).getOrElse(1.0)
    if (lead < 0) v.map(-_) else v
  }

  /** Top-r eigenvectors (eigenvalue-descending, sign-fixed) of the
    * symmetric row-major d×d matrix `g` by full dsyev.
    */
  private[graft] def exactEigvecs(g: Array[Double], d: Int, r: Int): Array[Array[Double]] = {
    // g is symmetric, so its row-major array reads as the same column-major matrix
    val es = eigSym(new BDM(d, d, g)) // ascending eigenvalues
    val order = (0 until d).sortBy(p => -es.eigenvalues(p)).take(r)
    order.map(p => signFix(Array.tabulate(d)(row => es.eigenvectors(row, p)))).toArray
  }

  /** F2J ARPACK keeps Fortran SAVE state in static fields, so every
    * dsaupd/dseupd sequence runs under this lock.
    */
  private val arpackLock = new Object

  /** Top-r eigenvectors of the symmetric PSD row-major d×d Gram `g` by
    * implicitly restarted Lanczos (ARPACK dsaupd/dseupd, pure Java) with
    * `ncv = min(max(2r, r+8), d)` Lanczos vectors, relative tolerance
    * 1e-10 and at most `maxIter` restarts. Same order and sign rule as
    * [[exactEigvecs]]. Deterministic: the start vector comes from a fixed
    * seed, and ARPACK's own restart seed is reset before every solve.
    *
    * Returns the vectors and whether Lanczos produced them. When ARPACK
    * fails or converges fewer than r pairs, a WARN names the mode and the
    * exact dsyev answers instead. When ncv would reach d (r close to d;
    * ARPACK needs nev < ncv <= d), dsyev answers directly.
    */
  private[graft] def lanczosEigvecs(
      g: Array[Double], d: Int, r: Int, maxIter: Int,
      mode: Int): (Array[Array[Double]], Boolean) = {
    val ncv = math.min(math.max(2 * r, r + 8), d)
    if (ncv >= d) (exactEigvecs(g, d, r), false)
    else {
      val rnd = new java.util.Random(0xA11CEL)
      val resid = Array.fill(d)(rnd.nextGaussian())
      val v = new Array[Double](d * ncv)
      val workd = new Array[Double](3 * d)
      val workl = new Array[Double](ncv * (ncv + 8))
      val iparam = new Array[Int](11)
      iparam(0) = 1 // exact shifts
      iparam(2) = maxIter
      iparam(6) = 1 // mode 1: G·x = λ·x
      val ipntr = new Array[Int](11)
      val ido = new intW(0)
      val info = new intW(1) // 1: resid holds the start vector
      val tol = new doubleW(1e-10)
      val arpack = JavaARPACK.getInstance()
      val solved = arpackLock.synchronized {
        org.netlib.arpack.Dgetv0.inits = true
        def step(): Unit = arpack.dsaupd(ido, "I", d, "LM", r, tol, resid, ncv, v, d,
          iparam, ipntr, workd, workl, workl.length, info)
        step()
        while (ido.`val` == 1 || ido.`val` == -1) {
          val (x, y) = (ipntr(0) - 1, ipntr(1) - 1) // workd offsets: y = G·x
          var i = 0
          while (i < d) {
            var acc = 0.0
            var j = 0
            while (j < d) { acc += g(i * d + j) * workd(x + j); j += 1 }
            workd(y + i) = acc
            i += 1
          }
          step()
        }
        val nconv = iparam(4)
        val vals = new Array[Double](r)
        val z = new Array[Double](d * r)
        if (info.`val` == 0 && nconv >= r)
          arpack.dseupd(true, "A", new Array[Boolean](ncv), vals, z, d, 0.0, "I", d, "LM",
            new intW(r), tol.`val`, resid, ncv, v, d, iparam, ipntr, workd, workl,
            workl.length, info)
        if (info.`val` == 0 && nconv >= r) Some((vals, z))
        else {
          log.warn(s"Tucker mode $mode: ARPACK Lanczos did not converge (d=$d, r=$r, " +
            s"nconv=$nconv, info=${info.`val`}, iterations=${iparam(2)} of $maxIter, " +
            s"matvecs=${iparam(8)}); falling back to exact dsyev")
          None
        }
      }
      solved match {
        case Some((vals, z)) =>
          val order = (0 until r).sortBy(p => -vals(p))
          (order.map(p => signFix(java.util.Arrays.copyOfRange(z, p * d, p * d + d))).toArray,
            true)
        case None => (exactEigvecs(g, d, r), false)
      }
    }
  }

  /** One of the three Grams of job 1: `side` 0 is mode 1's J·K side, 1
    * and 2 are modes 2 and 3; d its dimension, r the eigenvectors wanted,
    * `sketch` 0 for an exact Gram, else the range finder's S = r + 8
    * columns (at most d).
    * `len` is a slab partial's length: the Gram (d²), the sketch (d·S) or
    * its projection M (S²). */
  private final case class Side(side: Int, d: Int, r: Int, sketch: Int = 0) {
    def len(projected: Boolean): Long =
      if (projected) sketch * sketch else d.toLong * (if (sketch == 0) d else sketch)
  }

  /** A slab's nonzeros as the sparse columns x of one Gram, G = Σ x·xᵀ.
    * Column c holds entries [ptr(c), ptr(c+1)) of `idx` (its index in the
    * Gram) and `vs`; `ids(c)` seeds its range-finder Gaussian. */
  private final case class Columns(ptr: Array[Int], idx: Array[Int], vs: Array[Double], ids: Array[Long])

  /** Each nonzero's local row and j, from the slab's row and fiber pointers. */
  private def coords(slab: Slab): (Array[Int], Array[Int]) = {
    val liOf, jOf = new Array[Int](slab.vs.length)
    for (li <- 0 until slab.numRows; f <- slab.rowPtr(li) until slab.rowPtr(li + 1);
         e <- slab.fiberPtr(f) until slab.fiberPtr(f + 1)) { liOf(e) = li; jOf(e) = slab.fiberJ(f) }
    (liOf, jOf)
  }

  /** The columns of `side`'s Gram held by `slab`: side 0, one per row i,
    * indexed j·K + k (vec(Xᵢ)); side 1, one per (i, k), indexed j (a
    * stable sort of the (i, j, k)-ordered nonzeros by (i, k)); side 2, one
    * per (i, j) fiber, indexed k — the slab's own fibers. */
  private def columns(slab: Slab, side: Int, nk: Int): Columns = {
    val Slab(localIs, rowPtr, fiberJ, fiberPtr, ks, vs) = slab
    val (liOf, jOf) = coords(slab)
    def id(e: Int, lo: Int): Long = (localIs(liOf(e)).toLong << 32) | lo
    side match {
      case 0 => Columns(Array.tabulate(slab.numRows + 1)(li => fiberPtr(rowPtr(li))),
        Array.tabulate(vs.length)(e => jOf(e) * nk + ks(e)), vs, localIs.map(_.toLong))
      case 1 =>
        val order = Array.range(0, vs.length).sortBy(e => id(e, ks(e)))
        val starts = order.indices.filter(p => p == 0 || id(order(p - 1), ks(order(p - 1))) !=
          id(order(p), ks(order(p)))).toArray
        Columns(starts :+ vs.length, order.map(jOf), order.map(vs), starts.map(p => id(order(p), ks(order(p)))))
      case _ => Columns(fiberPtr, ks, vs, Array.tabulate(fiberJ.length)(f => id(fiberPtr(f), fiberJ(f))))
    }
  }

  /** Job 1's pass over a slab (`bcQ` empty) sums, for each side in order
    * and over its columns x, the Gram x·xᵀ, or x·gᵀ for a sketched side,
    * g the column's S Gaussians (seeded by its id, so the sketch does not
    * depend on the slab count). The range finder's second pass (`bcQ`:
    * each sketched side's range basis Q, d×S row-major, in side order)
    * sums M = Σ (Qᵀx)(Qᵀx)ᵀ instead. */
  private final class SidePartials(sides: Array[Side], nk: Int, bcQ: Option[Broadcast[Array[Double]]])
      extends ((TaskContext, Iterator[Slab]) => Array[Double]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Slab]): Array[Double] = {
      val slab = it.next(); val q = bcQ.map(_.value)
      val out = new Array[Double](sides.map(_.len(q.isDefined)).sum.toInt)
      var (off, qOff) = (0, 0)
      for (side <- sides) {
        val Columns(ptr, idx, vs, ids) = columns(slab, side.side, nk)
        val (d, s) = (side.d, side.sketch)
        val z = new Array[Double](s)
        for (c <- 0 until ptr.length - 1) q match {
          case None if s == 0 =>
            for (a <- ptr(c) until ptr(c + 1)) {
              val (row, va) = (off + idx(a) * d, vs(a))
              var b = ptr(c)
              while (b < ptr(c + 1)) { out(row + idx(b)) += va * vs(b); b += 1 }
            }
          case None =>
            val rnd = new java.util.Random((0x5DEECE66DL + side.side) ^ (ids(c) * 0x9E3779B97F4A7C15L))
            val g = Array.fill(s)(rnd.nextGaussian())
            for (a <- ptr(c) until ptr(c + 1); p <- 0 until s) out(off + idx(a) * s + p) += vs(a) * g(p)
          case Some(qs) =>
            java.util.Arrays.fill(z, 0.0)
            for (a <- ptr(c) until ptr(c + 1); p <- 0 until s) z(p) += vs(a) * qs(qOff + idx(a) * s + p)
            for (a <- 0 until s; b <- 0 until s) out(off + a * s + b) += z(a) * z(b)
        }
        off += side.len(q.isDefined).toInt
        if (q.isDefined) qOff += d * s
      }
      out
    }
  }

  /** Job 2's pass over a slab: its row ids, each row's x_iᵀV (R wide) and
    * the core partial Σᵢ (x_iᵀV) ⊗ (Xᵢ ×₂U₂ᵀ ×₃U₃ᵀ), with V (the J·K
    * side's R eigenvectors), U₂ and U₃ row-major in `bc`. */
  private final class ModeOneRows(bc: Broadcast[Array[Double]], dj: Int, dk: Int, r: Int, r2: Int, r3: Int)
      extends ((TaskContext, Iterator[Slab]) => (Array[Int], Array[Double], Array[Double]))
      with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Slab]): (Array[Int], Array[Double], Array[Double]) = {
      val slab = it.next(); val f = bc.value
      val (liOf, jOf) = coords(slab)
      val (rq, o2, o3) = (r2 * r3, dj * dk * r, dj * dk * r + dj * r2)
      val rows = new Array[Double](slab.numRows * r); val p = new Array[Double](slab.numRows * rq)
      for (e <- slab.vs.indices) {
        val li = liOf(e); val j = jOf(e); val k = slab.ks(e); val v = slab.vs(e)
        for (a <- 0 until r) rows(li * r + a) += v * f((j * dk + k) * r + a)
        for (b <- 0 until r2; c <- 0 until r3) p(li * rq + b * r3 + c) += v * f(o2 + j * r2 + b) * f(o3 + k * r3 + c)
      }
      val core = new Array[Double](r * rq)
      for (li <- 0 until slab.numRows; a <- 0 until r; x <- 0 until rq) core(a * rq + x) += rows(li * r + a) * p(li * rq + x)
      (slab.localIs, rows, core)
    }
  }

  /** HOOI's pass over a slab for `mode`: the slab's part of the projected
    * unfolding Y_(n), row-major d_n × (the other two ranks, in mode
    * order), each nonzero adding v·(U_a(x_a,:) ⊗ U_b(x_b,:)), from U₁, U₂
    * and U₃ row-major in `bc`. */
  private final class Project(
      mode: Int, bc: Broadcast[Array[Double]], dims: Array[Int], ranks: Array[Int])
      extends ((TaskContext, Iterator[Slab]) => Array[Double]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Slab]): Array[Double] = {
      val slab = it.next(); val f = bc.value
      val (liOf, jOf) = coords(slab)
      val offs = Array(0, dims(0) * ranks(0), dims(0) * ranks(0) + dims(1) * ranks(1))
      val Array(ma, mb) = Array(0, 1, 2).filter(_ != mode)
      val (ra, rb) = (ranks(ma), ranks(mb))
      val y = new Array[Double](dims(mode) * ra * rb)
      for (e <- slab.vs.indices) {
        val x = Array(slab.localIs(liOf(e)), jOf(e), slab.ks(e))
        for (a <- 0 until ra; b <- 0 until rb)
          y((x(mode) * ra + a) * rb + b) += slab.vs(e) * f(offs(ma) + x(ma) * ra + a) * f(offs(mb) + x(mb) * rb + b)
      }
      y
    }
  }

  /** r vectors of length d as one d×r row-major array. */
  private def rowMajor(vecs: Array[Array[Double]], d: Int): Array[Double] =
    Array.tabulate(d * vecs.length)(n => vecs(n % vecs.length)(n / vecs.length))

  private def dot(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; for (n <- x.indices) s += x(n) * y(n); s
  }

  /** x += h·y */
  private def axpy(h: Double, y: Array[Double], x: Array[Double]): Unit = for (n <- x.indices) x(n) += h * y(n)

  /** U₁ and the core from B = X₍₁₎V (column a is b(a)) and
    * C = BᵀX₍₁₎(U₃⊗U₂) (core row a is c(a)): each column is orthogonalized
    * against those before it (twice) and normalized, its core row taking
    * the same combination, so it stays u_aᵀX₍₁₎(U₃⊗U₂). B's columns are
    * orthogonal with norms σ_a, so this is U₁ = X₍₁₎VΣ⁻¹. A column left at
    * or below the Gram's resolution √(d·ε)·σ₁, or missing (R₁ > J·K), is
    * the first unit vector whose part orthogonal to the columns before it
    * holds at least half the complement's average share, normalized, with
    * core row 0. A column [[signFix]] flips flips its core row. */
  private def orthonormalize(
      b: Array[Array[Double]], c: Array[Array[Double]], r1: Int, d: Int): (Array[Array[Double]], Array[Double]) = {
    val di = b(0).length
    val tol = math.sqrt(d * math.ulp(1.0)) * b.map(x => math.sqrt(dot(x, x))).max
    val us = new Array[Array[Double]](r1); val gs = new Array[Array[Double]](r1)
    def orth(a: Int, q: Array[Double], g: Option[Array[Double]]): Double = {
      for (_ <- 0 until 2; p <- 0 until a) {
        val h = dot(us(p), q)
        axpy(-h, us(p), q); g.foreach(axpy(-h, gs(p), _))
      }
      math.sqrt(dot(q, q))
    }
    for (a <- 0 until r1) {
      if (a < b.length) {
        val (q, g) = (b(a).clone, c(a).clone)
        val rho = orth(a, q, Some(g))
        if (rho > tol) { us(a) = q.map(_ / rho); gs(a) = g.map(_ / rho) }
      }
      var t = 0
      while (us(a) == null) {
        val q = new Array[Double](di); q(t) = 1.0
        val rho = orth(a, q, None)
        if (rho * rho >= 0.5 * (di - a) / di) { us(a) = q.map(_ / rho); gs(a) = new Array[Double](c(0).length) }
        t += 1
      }
      val fixed = signFix(us(a))
      if (fixed ne us(a)) { us(a) = fixed; gs(a) = gs(a).map(-_) }
    }
    (us, gs.flatten)
  }

  private def decompose(
      coo: DataFrame,
      ranks: (Int, Int, Int),
      maxGramDim: Int,
      sweeps: Int,
      exactEigDim: Int): TuckerModel = {
    val (r1, r2, r3) = ranks
    val packed = CPALS.packCoo(coo, math.max(r2, r3), 0)
    try {
      val PackedTensor(slabs, di, dj, dk, normX2, nnz) = packed
      require(nnz > 0, "Tucker.hosvd/hooi: the COO tensor is empty")
      require(r1 >= 1 && r1 <= di && r2 >= 1 && r2 <= dj && r3 >= 1 && r3 <= dk,
        s"ranks $ranks out of range for dims ($di,$dj,$dk)")
      val sc = slabs.sparkContext
      val jk = (dj.toLong * dk).min(Int.MaxValue).toInt
      val sides = Array(Side(0, jk, math.min(r1, jk)), Side(1, dj, r2), Side(2, dk, r3))
        .map(s => if (s.d <= maxGramDim) s else s.copy(sketch = math.min(s.d, s.r + 8)))
      for (s <- sides) require(s.len(false) <= CPALS.DefaultMaxDriverFactorElems, s"Tucker mode " +
        s"${s.side + 1}: a partial of ${s.len(false)} doubles exceeds the driver budget")

      // --- job 1: the three Grams (or sketches); then their eigenvectors
      val parts = CPALS.sumSlabPartials(slabs, new SidePartials(sides, dk, None),
        sides.map(_.len(false)).sum.toInt)
      val offs = sides.scanLeft(0)(_ + _.len(false).toInt)
      val sketched = sides.filter(_.sketch > 0)
      // Each sketch's range basis Q (d×S, row-major), by thin QR; then one
      // more pass sums every M = Σ (Qᵀx)(Qᵀx)ᵀ.
      val qs = sketched.map { s =>
        val q = breeze.linalg.qr.reduced(BDM.tabulate(s.d, s.sketch)((row, p) =>
          parts(offs(s.side) + row * s.sketch + p))).q
        Array.tabulate(s.d * s.sketch)(n => q(n / s.sketch, n % s.sketch))
      }
      val ms = if (sketched.isEmpty) Array.emptyDoubleArray else {
        val bcQ = sc.broadcast(qs.flatten)
        try CPALS.sumSlabPartials(slabs, new SidePartials(sketched, dk, Some(bcQ)),
          sketched.map(_.len(true)).sum.toInt)
        finally bcQ.destroy()
      }
      val mOffs = sketched.scanLeft(0)(_ + _.len(true).toInt)
      var fallbacks = 0
      val bases = sides.map { s =>
        val g = java.util.Arrays.copyOfRange(parts, offs(s.side), offs(s.side + 1))
        if (s.sketch > 0) { // U = Q · (the top r eigenvectors of M)
          val x = sketched.indexOf(s); val n = s.sketch
          val w = exactEigvecs(java.util.Arrays.copyOfRange(ms, mOffs(x), mOffs(x + 1)), n, s.r)
          Array.tabulate(s.r)(p => signFix(Array.tabulate(s.d)(row =>
            (0 until n).map(c => qs(x)(row * n + c) * w(p)(c)).sum)))
        } else if (s.d <= exactEigDim) exactEigvecs(g, s.d, s.r)
        else {
          val (v, lanczos) = lanczosEigvecs(g, s.d, s.r, LanczosMaxIter, s.side)
          if (!lanczos) fallbacks += 1
          v
        }
      }
      var (u2, u3) = (bases(1), bases(2))

      // --- job 2: X₍₁₎V row by row with its core share, collected once
      val re = bases(0).length
      val bc = sc.broadcast(Array.concat(rowMajor(bases(0), jk), rowMajor(u2, dj), rowMajor(u3, dk)))
      val b = Array.ofDim[Double](re, di)
      val coreParts = new Array[Array[Double]](slabs.getNumPartitions)
      sc.runJob(slabs, new ModeOneRows(bc, dj, dk, re, r2, r3),
        (slab: Int, out: (Array[Int], Array[Double], Array[Double])) => {
          val (localIs, rows, core) = out
          for (li <- localIs.indices; a <- 0 until re) b(a)(localIs(li)) = rows(li * re + a)
          coreParts(slab) = core
        })
      bc.destroy()
      val coreSum = new Array[Double](re * r2 * r3)
      coreParts.foreach(axpy(1.0, _, coreSum)) // in slab order
      var (u1, core) = orthonormalize(b, coreSum.grouped(r2 * r3).toArray, r1, jk)

      // --- HOOI sweeps (sweeps = 0 → plain truncated HOSVD) -------------
      def refineMode(mode: Int, d: Int, r: Int): (Array[Array[Double]], Array[Double]) = {
        val bcu = sc.broadcast(Array.concat(rowMajor(u1, di), rowMajor(u2, dj), rowMajor(u3, dk)))
        val q = Seq(r1, r2, r3).patch(mode, Nil, 1).product
        val y = CPALS.sumSlabPartials(slabs,
          new Project(mode, bcu, Array(di, dj, dk), Array(r1, r2, r3)), d * q)
        bcu.destroy()
        val res = breeze.linalg.svd.reduced(BDM.tabulate(d, q)((row, x) => y(row * q + x))) // descending
        (Array.tabulate(r)(p => signFix(Array.tabulate(d)(row => res.leftVectors(row, p)))), y)
      }
      for (_ <- 0 until sweeps) {
        u1 = refineMode(0, di, r1)._1
        u2 = refineMode(1, dj, r2)._1
        val (next, y3) = refineMode(2, dk, r3)
        u3 = next
        // G_(3) = U₃ᵀY_(3): Y_(3) was projected on the final U₁ and U₂.
        core = Array.tabulate(r1 * r2 * r3)(n => (0 until dk).map(k => u3(n % r3)(k) * y3(k * r1 * r2 + n / r3)).sum)
      }

      val coreSq = core.map(x => x * x).sum
      val residSq = math.max(0.0, normX2 - coreSq) // orthonormal-basis identity
      val fit = 1.0 - math.sqrt(residSq) / math.sqrt(normX2)
      TuckerModel(Array(u1, u2, u3), core, ranks, (di, dj, dk), math.sqrt(normX2), fit, fallbacks)
    } finally packed.unpersist()
  }
}
