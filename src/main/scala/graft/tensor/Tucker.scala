package graft.tensor

import breeze.linalg.{eigSym, DenseMatrix => BDM}
import dev.ludovic.netlib.arpack.JavaARPACK
import org.apache.spark.sql.DataFrame
import org.netlib.util.{doubleW, intW}

/** Tucker decomposition by truncated HOSVD (De Lathauwer, De Moor &
  * Vandewalle, "A Multilinear Singular Value Decomposition", SIMAX 21(4)
  * 2000 — reference checkout is empty, SURVEY.md §0.1, so semantics
  * follow the published algorithm). Completes the tensor family next to
  * [[CPALS]]: CP explains the tensor as a sum of rank-1 terms, Tucker as
  * a small dense core × per-mode orthonormal bases — the form used for
  * subspace compression and mode-interaction analysis.
  *
  * Distribution design (what runs where):
  *  - Per mode n, the Gram matrix G_n = X_(n)·X_(n)ᵀ accumulates
  *    FIBER-WISE: nonzeros sharing the other two indices form a sparse
  *    fiber vector x_f, and G_n = Σ_f x_f·x_fᵀ. One shuffle keyed by the
  *    fiber id, sparse outer products inside each partition (cost
  *    Σ nnz_f² — fibers are sparse), tree-combined I_n² partial arrays.
  *    The tensor itself is never unfolded or densified.
  *  - The leading r eigenvectors of G_n are solved on the driver, by
  *    the mode's dimension d:
  *    - d <= `exactEigDim` (512): full dsyev (breeze eigSym), about
  *      0.3 s in pure Java at d = 512.
  *    - d <= `maxGramDim` (4096): implicitly restarted Lanczos
  *      (pure-Java ARPACK) on the same Gram. Only the rank-r subspace is
  *      computed, in O(d²) per matvec — about a hundred matvecs instead
  *      of dsyev's O(d³), which takes seconds at d = 1500. A solve that
  *      does not converge logs a WARN and falls back to dsyev.
  *    - larger d: the Gram is never built. The randomized range finder
  *      (Halko et al. 2011) makes two fiber passes with deterministic
  *      per-fiber Gaussians, with driver/broadcast state d·(r+8) — the
  *      same order as the returned factor — instead of d².
  *  - The core G = X ×₁U₁ᵀ ×₂U₂ᵀ ×₃U₃ᵀ is ONE pass over the nonzeros
  *    with the (small) factors broadcast: R₁R₂R₃ multiply-adds per
  *    nonzero, tree-aggregated. Nothing larger than the core crosses
  *    the wire.
  *  - Fit uses the orthonormal-basis identity ‖X−X̂‖² = ‖X‖² − ‖G‖², so
  *    the reconstruction is never materialized (same discipline as
  *    CP-ALS' C14 fit identities).
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
      fit: Double)

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
    * Scale shape per mode per sweep: one broadcast pass over the
    * nonzeros accumulating the projected unfolding Y_(n) — a DENSE
    * I_n × (Π_{m≠n} R_m) matrix, tree-aggregated; its reduced SVD runs
    * on the driver. Driver state is I_n·ΠR, bounded by the same
    * maxGramDim guard as the Gram path (ranks are small by Tucker's
    * purpose). The raw tensor is never unfolded.
    */
  def hooi(
      coo: DataFrame,
      ranks: (Int, Int, Int),
      sweeps: Int = 2,
      maxGramDim: Int = 4096): TuckerModel =
    decompose(coo, ranks, maxGramDim, sweeps = sweeps,
      exactEigDim = DefaultExactEigDim)

  /** Largest mode dimension solved by full dsyev, which stays cheap in
    * pure Java up to here (~0.3 s at d = 512). Modes up to maxGramDim use
    * ARPACK Lanczos on the same Gram ([[lanczosEigvecs]]); past
    * maxGramDim the Gram itself is never built.
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

  private def decompose(
      coo: DataFrame,
      ranks: (Int, Int, Int),
      maxGramDim: Int,
      sweeps: Int,
      exactEigDim: Int): TuckerModel = {
    val rdd = coo.selectExpr("CAST(i AS INT)", "CAST(j AS INT)", "CAST(k AS INT)", "CAST(v AS DOUBLE)")
      .rdd.map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // One job sizes the input: (nonzeros, max i, max j, max k).
      val size = rdd.aggregate(Array(0L, -1L, -1L, -1L))(
        { case (acc, (i, j, k, _)) =>
          acc(0) += 1; acc(1) = acc(1) max i; acc(2) = acc(2) max j; acc(3) = acc(3) max k
          acc
        },
        { (x, y) =>
          x(0) += y(0); for (n <- 1 to 3) x(n) = x(n) max y(n)
          x
        })
      val nnz = size(0)
      require(nnz > 0, "Tucker.hosvd/hooi: the COO tensor is empty")
      val (di, dj, dk) = ((size(1) + 1).toInt, (size(2) + 1).toInt, (size(3) + 1).toInt)
      val (r1, r2, r3) = ranks
      require(r1 >= 1 && r1 <= di && r2 >= 1 && r2 <= dj && r3 >= 1 && r3 <= dk,
        s"ranks $ranks out of range for dims ($di,$dj,$dk)")

      // Reduce-side partition count for the fiber passes (r13): each
      // accumulating partition allocates a DENSE d² (exact Gram) or d·S
      // (range-finder) buffer that the treeReduce then ships whole, so
      // partitions ∝ cores is the wrong shape when the tensor is small —
      // at the bench tier 32 partitions × an 18 MB mode-0 buffer put
      // ~0.6 GB of zero-heavy arrays through allocate+reduce for 80k
      // nonzeros. Size the reduce side to the DATA (≥ ~200k nonzeros per
      // partition) and cap at the core count; the per-fiber outer
      // products still parallelize across whatever partitions remain,
      // and at corpus scale the count climbs back to defaultParallelism.
      val gramParts = math.max(2, math.min(
        rdd.sparkContext.defaultParallelism.toLong, nnz / 200000L + 1)).toInt

      // Nonzeros keyed by their mode-`mode` fiber (the other two indices),
      // valued (index along the mode, v).
      def fibers(mode: Int) = rdd.map {
        case (i, j, k, v) => mode match {
          case 0 => ((j.toLong << 32) | (k.toLong & 0xffffffffL), (i, v))
          case 1 => ((i.toLong << 32) | (k.toLong & 0xffffffffL), (j, v))
          case _ => ((i.toLong << 32) | (j.toLong & 0xffffffffL), (k, v))
        }
      }

      // --- per-mode fiber Grams -----------------------------------------
      def gram(mode: Int, d: Int): Array[Double] = {
        val keyed = fibers(mode)
        keyed.groupByKey(gramParts).mapPartitions { fibers =>
          val g = new Array[Double](d * d)
          fibers.foreach { case (_, entries) =>
            val e = entries.toArray
            var a = 0
            while (a < e.length) {
              val (ia, va) = e(a)
              var b = 0
              while (b < e.length) {
                g(ia * d + e(b)._1) += va * e(b)._2
                b += 1
              }
              a += 1
            }
          }
          Iterator.single(g)
        }.treeReduce { (g1, g2) =>
          var x = 0
          while (x < g1.length) { g1(x) += g2(x); x += 1 }
          g1
        }
      }

      // --- randomized range-finder for modes beyond the exact-Gram budget
      // (Halko, Martinsson & Tropp, SIAM Rev. 53(2) 2011, via the fiber
      // form: X_(n) = [x_f]_f with sparse fiber columns):
      //  1. Y = Σ_f x_f·g_fᵀ with g_f a DETERMINISTIC per-fiber Gaussian
      //     (seeded by the fiber id — reproducible under any partitioning,
      //     no Ω ever materialized); Y is d×S, S = r + oversample.
      //  2. thin QR of Y on the driver → range basis Q (d×S).
      //  3. M = QᵀGQ accumulated WITHOUT G: Σ_f (Qᵀx_f)(Qᵀx_f)ᵀ — S×S.
      //  4. U_n = Q · (top-r eigvecs of M).
      // Driver/broadcast state is d·S (the same order as the returned
      // factor itself) instead of the exact path's d² — the large-mode
      // design. The exact fiber-Gram path stays the default below the
      // budget.
      def randomizedBasis(mode: Int, d: Int, r: Int): Array[Array[Double]] = {
        val over = 8
        val s = math.min(d, r + over)
        val seedBase = 0x5DEECE66DL + mode
        def fiberGauss(fiber: Long): Array[Double] = {
          val rnd = new java.util.Random(seedBase ^ (fiber * 0x9E3779B97F4A7C15L))
          Array.fill(s)(rnd.nextGaussian())
        }
        val keyed = fibers(mode)
        val y = keyed.groupByKey(gramParts).mapPartitions { fibers =>
          val buf = new Array[Double](d * s)
          fibers.foreach { case (fid, entries) =>
            val g = fiberGauss(fid)
            entries.foreach { case (row, v) =>
              var c = 0
              while (c < s) { buf(row * s + c) += v * g(c); c += 1 }
            }
          }
          Iterator.single(buf)
        }.treeReduce { (a, b) =>
          var x = 0
          while (x < a.length) { a(x) += b(x); x += 1 }
          a
        }
        val ym = new BDM[Double](d, s)
        var row = 0
        while (row < d) {
          var c = 0
          while (c < s) { ym(row, c) = y(row * s + c); c += 1 }
          row += 1
        }
        val qr = breeze.linalg.qr.reduced(ym)
        val q = Array.tabulate(s)(c => Array.tabulate(d)(rr => qr.q(rr, c))) // s × d rows
        val bq = rdd.sparkContext.broadcast(q)
        val m = keyed.groupByKey(gramParts).mapPartitions { fibers =>
          val qq = bq.value
          val acc = new Array[Double](s * s)
          val z = new Array[Double](s)
          fibers.foreach { case (_, entries) =>
            java.util.Arrays.fill(z, 0.0)
            entries.foreach { case (row, v) =>
              var c = 0
              while (c < s) { z(c) += v * qq(c)(row); c += 1 }
            }
            var a = 0
            while (a < s) {
              var b = 0
              while (b < s) { acc(a * s + b) += z(a) * z(b); b += 1 }
              a += 1
            }
          }
          Iterator.single(acc)
        }.treeReduce { (a, b) =>
          var x = 0
          while (x < a.length) { a(x) += b(x); x += 1 }
          a
        }
        bq.destroy()
        val w = exactEigvecs(m, s, r) // r × s
        // U = Q · W — project back to d-space, then sign-normalize
        Array.tabulate(r) { p =>
          val u = new Array[Double](d)
          var rr = 0
          while (rr < d) {
            var c = 0
            var acc = 0.0
            while (c < s) { acc += q(c)(rr) * w(p)(c); c += 1 }
            u(rr) = acc
            rr += 1
          }
          signFix(u)
        }
      }

      def basis(mode: Int, d: Int, r: Int): Array[Array[Double]] =
        if (d <= exactEigDim) exactEigvecs(gram(mode, d), d, r)
        else if (d <= maxGramDim) lanczosEigvecs(gram(mode, d), d, r, LanczosMaxIter, mode)._1
        else randomizedBasis(mode, d, r)

      // The three HOSVD bases are independent Spark jobs over the same
      // persisted RDD — materialize them CONCURRENTLY (the Q161 shared-
      // relation discipline) instead of paying three sequential
      // shuffle+reduce waits (their Lanczos solves then take turns on the
      // ARPACK lock). HOOI's sweeps below stay sequential by
      // definition (each mode refines against the others' CURRENT bases).
      val bases = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fs = Seq(
          Future(basis(0, di, r1)), Future(basis(1, dj, r2)),
          Future(basis(2, dk, r3)))
        fs.map(f => Await.result(f, Duration.Inf))
      }
      var u1 = bases(0) // r1 × di
      var u2 = bases(1)
      var u3 = bases(2)

      // --- HOOI sweeps (sweeps = 0 → plain truncated HOSVD) -------------
      def refineMode(mode: Int, ua: Array[Array[Double]],
          ub: Array[Array[Double]], d: Int, r: Int): Array[Array[Double]] = {
        val ra = ua.length; val rb = ub.length
        val sctx = rdd.sparkContext
        val ba = sctx.broadcast(ua); val bb = sctx.broadcast(ub)
        val y = rdd.mapPartitions { it =>
          val pa = ba.value; val pb = bb.value
          val buf = new Array[Double](d * ra * rb)
          it.foreach { case (i, j, k, v) =>
            val row = mode match { case 0 => i; case 1 => j; case _ => k }
            val x1 = if (mode == 0) j else i
            val x2 = if (mode == 2) j else k
            var a = 0
            while (a < ra) {
              val va = v * pa(a)(x1)
              var c = 0
              while (c < rb) {
                buf(row * ra * rb + a * rb + c) += va * pb(c)(x2)
                c += 1
              }
              a += 1
            }
          }
          Iterator.single(buf)
        }.treeReduce { (y1, y2) =>
          var x = 0
          while (x < y1.length) { y1(x) += y2(x); x += 1 }
          y1
        }
        ba.destroy(); bb.destroy()
        val m = new BDM[Double](d, ra * rb)
        var row = 0
        while (row < d) {
          var cc = 0
          while (cc < ra * rb) { m(row, cc) = y(row * ra * rb + cc); cc += 1 }
          row += 1
        }
        val res = breeze.linalg.svd.reduced(m) // singular values descending
        Array.tabulate(r)(p => signFix(Array.tabulate(d)(rr => res.leftVectors(rr, p))))
      }
      var s = 0
      while (s < sweeps) {
        u1 = refineMode(0, u2, u3, di, r1)
        u2 = refineMode(1, u1, u3, dj, r2)
        u3 = refineMode(2, u1, u2, dk, r3)
        s += 1
      }

      // --- core + norm in one broadcast pass ----------------------------
      val sc = rdd.sparkContext
      val bu1 = sc.broadcast(u1); val bu2 = sc.broadcast(u2); val bu3 = sc.broadcast(u3)
      val (core, normSq) = rdd.mapPartitions { it =>
        val c1 = bu1.value; val c2 = bu2.value; val c3 = bu3.value
        val core = new Array[Double](r1 * r2 * r3)
        var n2 = 0.0
        it.foreach { case (i, j, k, v) =>
          n2 += v * v
          var a = 0
          while (a < r1) {
            val va = v * c1(a)(i)
            var b = 0
            while (b < r2) {
              val vab = va * c2(b)(j)
              var c = 0
              while (c < r3) {
                core((a * r2 + b) * r3 + c) += vab * c3(c)(k)
                c += 1
              }
              b += 1
            }
            a += 1
          }
        }
        Iterator.single((core, n2))
      }.treeReduce { case ((ca, na), (cb, nb)) =>
        var x = 0
        while (x < ca.length) { ca(x) += cb(x); x += 1 }
        (ca, na + nb)
      }
      bu1.destroy(); bu2.destroy(); bu3.destroy()

      val coreSq = core.map(x => x * x).sum
      val residSq = math.max(0.0, normSq - coreSq) // orthonormal-basis identity
      val fit = 1.0 - math.sqrt(residSq) / math.sqrt(normSq)
      TuckerModel(Array(u1, u2, u3), core, ranks, (di, dj, dk),
        math.sqrt(normSq), fit)
    } finally { rdd.unpersist(); () }
  }
}
