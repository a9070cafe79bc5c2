package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.tensor.Tucker

/** Tucker/HOSVD properties: orthonormal factors, exact reconstruction at
  * full ranks, energy monotonicity in rank, the fit identity checked
  * against an explicit dense reconstruction, and the Lanczos eigensolver
  * on both sides of its exact fallback.
  */
class TuckerSpec extends SparkSpec {

  private def cooDf(entries: Seq[(Int, Int, Int, Double)]) = {
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("j", IntegerType),
      StructField("k", IntegerType), StructField("v", DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(entries.map(e => Row(e._1, e._2, e._3, e._4)), 4),
      schema)
  }

  // fixed-seed sparse 8×6×5 tensor, ~50% fill
  private lazy val entries: Seq[(Int, Int, Int, Double)] = {
    val rnd = new scala.util.Random(23)
    for {
      i <- 0 until 8; j <- 0 until 6; k <- 0 until 5
      if rnd.nextDouble() < 0.5
    } yield (i, j, k, math.rint(rnd.nextDouble() * 100) / 10.0)
  }

  /** ‖Uᵀ·V‖²_F of two r-vector orthonormal bases: r when the spans agree. */
  private def overlap(u: Array[Array[Double]], v: Array[Array[Double]]): Double =
    (for (a <- u; b <- v) yield math.pow(a.zip(b).map { case (x, y) => x * y }.sum, 2)).sum

  /** Fixed-seed sparse tensor with a planted rank-3 signal plus noise. */
  private def plantedSparse(dims: (Int, Int, Int), fill: Double, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val (di, dj, dk) = dims
    val a = Array.fill(3, di)(rnd.nextGaussian())
    val b = Array.fill(3, dj)(rnd.nextGaussian())
    val c = Array.fill(3, dk)(rnd.nextGaussian())
    for {
      i <- 0 until di; j <- 0 until dj; k <- 0 until dk
      if rnd.nextDouble() < fill
    } yield (i, j, k, (0 until 3).map(p => (3 - p) * a(p)(i) * b(p)(j) * c(p)(k)).sum +
      0.1 * rnd.nextGaussian())
  }

  /** Row-major d×d Gram AᵀA of a fixed-seed n×d Gaussian A: PSD, rank n. */
  private def gaussianGram(n: Int, d: Int, seed: Int): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(n, d)(rnd.nextGaussian())
    val g = new Array[Double](d * d)
    for (p <- 0 until d; q <- 0 to p) {
      var s = 0.0
      var m = 0
      while (m < n) { s += a(m)(p) * a(m)(q); m += 1 }
      g(p * d + q) = s
      g(q * d + p) = s
    }
    g
  }

  private def same(u: Array[Array[Double]], v: Array[Array[Double]]): Boolean =
    u.map(_.toSeq).toSeq == v.map(_.toSeq).toSeq

  test("Lanczos eig path matches the exact dsyev fit and subspace at d > 512") {
    // Mode-0 dim 600 > the 512 exact fence, so the default run takes the
    // ARPACK Lanczos path while exactEigDim = 1024 forces full dsyev on
    // the identical Gram.
    val rnd = new scala.util.Random(31)
    val big = for {
      i <- 0 until 600; j <- 0 until 6; k <- 0 until 5
      if rnd.nextDouble() < 0.1
    } yield (i, j, k, math.rint(rnd.nextDouble() * 100) / 10.0)
    val df = cooDf(big)
    val lanczos = Tucker.hosvd(df, (4, 3, 3))
    val exact = Tucker.hosvd(df, (4, 3, 3), exactEigDim = 1024)
    assert(lanczos.fit >= 0.0 && exact.fit >= 0.0)
    assert(math.abs(lanczos.fit - exact.fit) <= 1e-4,
      s"Lanczos fit ${lanczos.fit} vs exact ${exact.fit}")
    assert(math.abs(lanczos.fit - exact.fit) <= 1e-9,
      s"Lanczos fit ${lanczos.fit} vs exact ${exact.fit}")
    val ov = overlap(lanczos.factors(0), exact.factors(0))
    assert(ov >= 4 - 1e-8, s"mode-0 subspace overlap $ov of 4")
  }

  test("Lanczos solver matches eigSym when it converges and falls back loudly when capped") {
    val (d, r) = (600, 4)
    val g = gaussianGram(40, d, seed = 7)
    val exact = Tucker.exactEigvecs(g, d, r)
    val (vecs, ranLanczos) = Tucker.lanczosEigvecs(g, d, r, maxIter = 300, mode = 0)
    assert(ranLanczos, "ARPACK did not converge within 300 restarts")
    for (p <- 0 until r; x <- 0 until d)
      assert(math.abs(vecs(p)(x) - exact(p)(x)) < 1e-8, s"vector $p, component $x")
    // one restart cannot converge: the WARN-logged dsyev fallback answers
    val (capped, cappedLanczos) = Tucker.lanczosEigvecs(g, d, r, maxIter = 1, mode = 0)
    assert(!cappedLanczos, "one restart unexpectedly converged")
    assert(same(capped, exact))
    // r close to d: ncv would reach d, so dsyev answers directly
    val small = gaussianGram(10, 12, seed = 8)
    val (direct, directLanczos) = Tucker.lanczosEigvecs(small, 12, r, maxIter = 300, mode = 0)
    assert(!directLanczos)
    assert(same(direct, Tucker.exactEigvecs(small, 12, r)))
  }

  test("Lanczos factors are deterministic across calls and under concurrent solves") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // direct solves: concurrent calls on two Grams give the sequential answers bit for bit
    val grams = Seq(600 -> gaussianGram(40, 600, seed = 7), 550 -> gaussianGram(30, 550, seed = 9))
    def solve(x: Int) = {
      val (d, g) = grams(x)
      Tucker.lanczosEigvecs(g, d, 4, maxIter = 300, mode = x)
    }
    val sequential = Seq(0, 1).map(solve)
    assert(sequential.forall(_._2), "ARPACK did not converge")
    val concurrent = Seq(0, 1, 0, 1).map(x => Future(solve(x)))
      .map(f => Await.result(f, Duration.Inf))
    concurrent.zipWithIndex.foreach { case ((v, _), x) =>
      assert(same(v, sequential(x % 2)._1), s"concurrent solve $x differs")
    }
    // hosvd: two modes above the 512 exact fence solve concurrently. The
    // Grams come from Spark reduces whose merge order may move their last
    // bits, so factors are compared to 1e-12 rather than bit for bit.
    val df = cooDf(plantedSparse((600, 520, 3), fill = 0.02, seed = 5))
    val first = Tucker.hosvd(df, (3, 3, 2))
    val second = Tucker.hosvd(df, (3, 3, 2))
    for (m <- 0 until 3; (u, v) <- first.factors(m).zip(second.factors(m)))
      assert(u.zip(v).forall { case (p, q) => math.abs(p - q) <= 1e-12 },
        s"mode-$m factors differ between calls")
    val exact = Tucker.hosvd(df, (3, 3, 2), exactEigDim = 1024)
    assert(math.abs(first.fit - exact.fit) <= 1e-9, s"Lanczos ${first.fit} vs exact ${exact.fit}")
  }

  test("factors are orthonormal in every mode") {
    val m = Tucker.hosvd(cooDf(entries), (3, 3, 3))
    m.factors.foreach { basis =>
      for (a <- basis.indices; b <- basis.indices) {
        val dot = basis(a).zip(basis(b)).map { case (x, y) => x * y }.sum
        val want = if (a == b) 1.0 else 0.0
        assert(math.abs(dot - want) < 1e-9, s"U($a)·U($b) = $dot")
      }
    }
  }

  test("full-rank HOSVD reconstructs the tensor exactly") {
    val m = Tucker.hosvd(cooDf(entries), (8, 6, 5))
    assert(m.fit > 1.0 - 1e-9, s"fit ${m.fit}")
    // explicit dense reconstruction equals the input elementwise
    val (r1, r2, r3) = m.ranks
    val dense = Array.fill(8, 6, 5)(0.0)
    entries.foreach { case (i, j, k, v) => dense(i)(j)(k) = v }
    for (i <- 0 until 8; j <- 0 until 6; k <- 0 until 5) {
      var xhat = 0.0
      for (a <- 0 until r1; b <- 0 until r2; c <- 0 until r3)
        xhat += m.core((a * r2 + b) * r3 + c) *
          m.factors(0)(a)(i) * m.factors(1)(b)(j) * m.factors(2)(c)(k)
      assert(math.abs(xhat - dense(i)(j)(k)) < 1e-8, s"($i,$j,$k)")
    }
  }

  test("fit is monotone in rank and the fit identity matches explicit residual") {
    val fits = Seq((1, 1, 1), (2, 2, 2), (4, 4, 4), (8, 6, 5))
      .map(r => Tucker.hosvd(cooDf(entries), r).fit)
    assert(fits.sliding(2).forall { case Seq(a, b) => b >= a - 1e-12 }, fits.toString)

    val m = Tucker.hosvd(cooDf(entries), (3, 2, 2))
    val (r1, r2, r3) = m.ranks
    val dense = Array.fill(8, 6, 5)(0.0)
    entries.foreach { case (i, j, k, v) => dense(i)(j)(k) = v }
    var residSq = 0.0
    for (i <- 0 until 8; j <- 0 until 6; k <- 0 until 5) {
      var xhat = 0.0
      for (a <- 0 until r1; b <- 0 until r2; c <- 0 until r3)
        xhat += m.core((a * r2 + b) * r3 + c) *
          m.factors(0)(a)(i) * m.factors(1)(b)(j) * m.factors(2)(c)(k)
      residSq += math.pow(dense(i)(j)(k) - xhat, 2)
    }
    val fitExplicit = 1.0 - math.sqrt(residSq) / m.normX
    assert(math.abs(m.fit - fitExplicit) < 1e-9,
      s"identity fit ${m.fit} vs explicit $fitExplicit")
  }

  test("HOOI never fits worse than its HOSVD start and keeps orthonormal factors") {
    val ranks = (3, 2, 2)
    val base = Tucker.hosvd(cooDf(entries), ranks)
    val one = Tucker.hooi(cooDf(entries), ranks, sweeps = 1)
    val two = Tucker.hooi(cooDf(entries), ranks, sweeps = 2)
    assert(one.fit >= base.fit - 1e-12, s"sweep1 ${one.fit} < hosvd ${base.fit}")
    assert(two.fit >= one.fit - 1e-12, s"sweep2 ${two.fit} < sweep1 ${one.fit}")
    two.factors.foreach { basis =>
      for (a <- basis.indices; b <- basis.indices) {
        val dot = basis(a).zip(basis(b)).map { case (x, y) => x * y }.sum
        assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9)
      }
    }
  }

  test("randomized large-mode path recovers a planted low-rank tensor like the exact path") {
    val rnd = new scala.util.Random(31)
    val a = Array.fill(2, 12)(rnd.nextGaussian())
    val b = Array.fill(2, 10)(rnd.nextGaussian())
    val c = Array.fill(2, 9)(rnd.nextGaussian())
    val planted = for (i <- 0 until 12; j <- 0 until 10; k <- 0 until 9) yield {
      val v = a(0)(i) * b(0)(j) * c(0)(k) + a(1)(i) * b(1)(j) * c(1)(k)
      (i, j, k, v)
    }
    val df = cooDf(planted)
    val exact = Tucker.hosvd(df, (2, 2, 2))
    // maxGramDim = 2 forces every mode through the randomized range finder
    val rand = Tucker.hosvd(df, (2, 2, 2), maxGramDim = 2)
    // the ‖X‖²−‖G‖² identity cancels catastrophically near fit=1, so
    // ~1e-8 is the numerical floor for BOTH paths here
    assert(exact.fit > 1.0 - 1e-6, s"exact ${exact.fit}")
    assert(rand.fit > 1.0 - 1e-6, s"randomized ${rand.fit}")
    rand.factors.foreach { basis =>
      for (x <- basis.indices; y <- basis.indices) {
        val dot = basis(x).zip(basis(y)).map { case (p, q) => p * q }.sum
        assert(math.abs(dot - (if (x == y) 1.0 else 0.0)) < 1e-8)
      }
    }
    // determinism: same seed structure → identical factors
    val rand2 = Tucker.hosvd(df, (2, 2, 2), maxGramDim = 2)
    assert(rand.core.zip(rand2.core).forall { case (p, q) => math.abs(p - q) < 1e-12 })
  }

  test("runs on the real Q43 event tensor with sane compression") {
    val coo = graft.operators.EventTime.q43(spark, sf("sf0.001"))
      .selectExpr("i", "j", "k", "v")
    val m = Tucker.hosvd(coo, (8, 3, 8))
    assert(m.fit > 0.0 && m.fit <= 1.0 + 1e-12, s"fit ${m.fit}")
    assert(m.core.length == 8 * 3 * 8)
  }
}
