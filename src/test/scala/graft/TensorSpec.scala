package graft

import graft.operators.EventTime
import graft.tensor.{CPALS, SlabPartitioner}

/** C12/C13/C14 property tests (SURVEY.md §5.3): exact recovery of a
  * synthetic rank-R tensor, monotone fit, slab load balance, and the
  * Q43 → CP-ALS end-to-end bridge.
  */
class TensorSpec extends SparkSpec {

  /** Dense synthetic tensor of exact rank R from seeded factors, as COO. */
  private def syntheticCoo(ni: Int, nj: Int, nk: Int, rank: Int, seed: Long) = {
    val rng = new scala.util.Random(seed)
    // Orthonormal factor columns (Gram-Schmidt over Gaussian draws):
    // unconditioned random factors can produce degenerate instances where
    // ALS crawls through a swamp for thousands of iterations (verified:
    // a pure dense reference implementation stalls identically at ~0.876
    // on such an instance) — bounded collinearity makes exact recovery
    // well-posed, which is what this test is about.
    def orthoFactors(n: Int): Array[Array[Double]] = {
      val m = Array.fill(n, rank)(rng.nextGaussian())
      for (p <- 0 until rank) {
        for (q <- 0 until p) {
          val d = (0 until n).map(i => m(i)(p) * m(i)(q)).sum
          for (i <- 0 until n) m(i)(p) -= d * m(i)(q)
        }
        val nrm = math.sqrt((0 until n).map(i => m(i)(p) * m(i)(p)).sum)
        for (i <- 0 until n) m(i)(p) /= nrm
      }
      m
    }
    val a = orthoFactors(ni)
    val b = orthoFactors(nj)
    val c = orthoFactors(nk)
    val rows = for {
      i <- 0 until ni; j <- 0 until nj; k <- 0 until nk
    } yield {
      val v = (0 until rank).map(p => a(i)(p) * b(j)(p) * c(k)(p)).sum
      (i.toLong, j.toLong, k.toLong, v)
    }
    spark.sparkContext.parallelize(rows, 4)
  }

  test("C12: CP-ALS recovers an exactly rank-R tensor to fit >= 0.999") {
    for (rank <- Seq(1, 2, 3)) {
      val coo = syntheticCoo(8, 7, 6, rank, seed = 100 + rank)
      // Multi-start: single-seed ALS can land in a swamp (rank 3 does,
      // from two different inits) — restarts are the standard remedy.
      val model = CPALS.fitBest(coo, rank, seed = 42, tol = 1e-9, maxIter = 120,
        numSlabs = 4, numStarts = 4)
      assert(model.finalFit >= 0.999,
        s"rank=$rank fit=${model.finalFit} after ${model.iterations} iters")
    }
  }

  test("ridge ALS: lambda=0 is bit-identical to plain; small lambda still recovers; large lambda shrinks fit") {
    val coo = syntheticCoo(8, 7, 6, 2, seed = 11)
    val plain = CPALS.fitRdd(coo, 2, seed = 42, tol = 1e-9, maxIter = 40, numSlabs = 4)
    val zero = CPALS.fitRdd(coo, 2, seed = 42, tol = 1e-9, maxIter = 40, numSlabs = 4,
      ridge = 0.0)
    // ridge=0 takes the identical code path; the residual run-to-run
    // jitter (~1e-15) is MTTKRP reduce-order, present in plain-vs-plain
    // reruns too, and at tol=1e-9 it can even move the convergence
    // ITERATION (the fit-delta test fires a step earlier or later on a
    // converged trajectory). Contract: common-prefix trajectory equality
    // and equal final fit — not bit equality, not equal length.
    plain.fits.zip(zero.fits).foreach { case (f1, f2) =>
      assert(math.abs(f1 - f2) < 1e-6, s"ridge=0 moved the trajectory: $f1 vs $f2")
    }
    assert(math.abs(plain.finalFit - zero.finalFit) < 1e-6,
      s"ridge=0 moved the final fit: ${plain.finalFit} vs ${zero.finalFit}")

    // Tikhonov at 1e-6 on an exactly-rank-2 tensor: recovery survives.
    val small = CPALS.fitRdd(coo, 2, seed = 42, tol = 1e-9, maxIter = 120,
      numSlabs = 4, ridge = 1e-6)
    assert(small.finalFit >= 0.999, s"small-ridge fit ${small.finalFit}")

    // Heavy damping costs data fit — the shrinkage direction is the
    // contract (fit reported is the DATA fit, not the penalized one).
    val heavy = CPALS.fitRdd(coo, 2, seed = 42, tol = 1e-9, maxIter = 40,
      numSlabs = 4, ridge = 10.0)
    assert(heavy.finalFit < small.finalFit,
      s"heavy ridge ${heavy.finalFit} should underfit ${small.finalFit}")
  }

  test("C12: fit is monotonically non-decreasing (1e-10 slack)") {
    val coo = syntheticCoo(10, 6, 5, 3, seed = 7)
    val model = CPALS.fitRdd(coo, 2, seed = 42, tol = 0.0, maxIter = 25, numSlabs = 4)
    model.fits.sliding(2).foreach {
      case Vector(f1, f2) => assert(f2 >= f1 - 1e-10, s"fit decreased: $f1 -> $f2")
      case _              =>
    }
  }

  test("C12: deterministic trajectory under fixed seed") {
    // Fixed iteration count (tol=0): the stopping rule near an exact-fit
    // plateau is sensitive to last-ulp reduction-order noise, which the
    // contract does not promise (SURVEY §7.3.4: assert monotone fit, not
    // bitwise reproducibility). The seeded trajectory itself must agree
    // to numerical tolerance.
    val coo = syntheticCoo(6, 5, 4, 2, seed = 3)
    val m1 = CPALS.fitRdd(coo, 2, seed = 9, tol = 0.0, maxIter = 5, numSlabs = 3)
    val m2 = CPALS.fitRdd(coo, 2, seed = 9, tol = 0.0, maxIter = 5, numSlabs = 3)
    assert(m1.fits.length == 5 && m2.fits.length == 5)
    m1.fits.zip(m2.fits).foreach { case (f1, f2) => assert(math.abs(f1 - f2) < 1e-6) }
  }

  test("C13: LPT slab assignment balances heavily skewed slices") {
    // One huge slice + many small ones: max slab load must be within
    // 4/3 of ideal (LPT bound), and far better than naive modulo.
    val weights = (0L until 64L).map(i => (i, if (i == 0) 1000L else 10L))
    val p = SlabPartitioner.balanced(weights, 8)
    val loads = Array.fill(8)(0L)
    weights.foreach { case (i, w) => loads(p.getPartition(i)) += w }
    // Always-valid greedy bound (see GeneratedPropertiesSpec): the
    // eventual max slab was least-loaded — at or below the mean — when it
    // received its final slice, so max ≤ ideal + largest.
    val ideal = weights.map(_._2).sum.toDouble / 8
    val largest = weights.map(_._2).max
    assert(loads.max <= ideal.ceil.toLong + largest,
      s"loads=${loads.mkString(",")} ideal=$ideal")
    // And the remaining slabs must still be balanced among themselves.
    val rest = loads.sorted.dropRight(1)
    assert(rest.max - rest.min <= largest,
      s"unbalanced rest: ${loads.mkString(",")}")
  }

  test("C13: sketched (bounded-driver) slab assignment preserves the LPT bound") {
    // 4096 slices, far more than the sketch budget: 4 heavy outliers +
    // a uniform weight-2 tail. Only 64 heavy slices may reach the driver.
    val weights = (0L until 4096L).map(i => (i, if (i < 4L) 5000L else 2L))
    val rdd = spark.sparkContext.parallelize(weights, 8)
    val p = SlabPartitioner.balancedSketched(rdd, numSlabs = 8, maxHeavy = 64)
    val loads = Array.fill(8)(0L)
    weights.foreach { case (i, w) => loads(p.getPartition(i)) += w }
    // Greedy bound, sketched form: each heavy slice lands on the slab that
    // was lightest INCLUDING the hashed tail's preloads, so
    // max ≤ max(tail preload imbalance, ideal) + largest heavy slice.
    val ideal = weights.map(_._2).sum.toDouble / 8
    val largest = weights.map(_._2).max
    assert(loads.max <= ideal.ceil.toLong + largest,
      s"loads=${loads.mkString(",")} ideal=$ideal")
    // The tail alone is uniform across residues, so non-outlier slabs
    // must be near-identical.
    val rest = loads.sorted.dropRight(1)
    assert(rest.max - rest.min <= largest, s"unbalanced rest: ${loads.mkString(",")}")
    // Bounded-memory path must agree with the exact path on which slabs
    // carry the outliers (both LPT the same heavy set).
    assert((0L until 4L).map(p.getPartition).distinct.size == 4,
      "heavy slices not spread across distinct slabs")
  }

  test("relational MTTKRP equals the direct dense computation") {
    import graft.tensor.RelationalALS
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val (ni, nj, nk, r) = (5, 4, 3, 2)
    val coo = (for { i <- 0 until ni; j <- 0 until nj; k <- 0 until nk
      if rng.nextDouble() < 0.6 } yield
      (i.toLong, j.toLong, k.toLong, rng.nextGaussian())).toList
    val b = Array.fill(nj * r)(rng.nextGaussian())
    val c = Array.fill(nk * r)(rng.nextGaussian())
    // direct: M(i,p) = Σ v·B(j,p)·C(k,p)
    val direct = Array.ofDim[Double](ni, r)
    coo.foreach { case (i, j, k, v) =>
      for (p <- 0 until r)
        direct(i.toInt)(p) += v * b(j.toInt * r + p) * c(k.toInt * r + p)
    }
    val cooDf = coo.toDF("i", "j", "k", "v")
    // factor relations (row, pos, val), as RelationalALS keeps them
    def rel(m: Array[Double], rows: Int, rowCol: String) =
      (0 until rows).flatMap(x => (0 until r).map(p => (x.toLong, p, m(x * r + p))))
        .toDF(rowCol, "pos", "val")
    val got = RelationalALS.mttkrp(cooDf, "i", rel(b, nj, "j"), "j", rel(c, nk, "k"), "k")
      .collect().map(row => ((row.getLong(0), row.getInt(1)), row.getDouble(2))).toMap
    for (i <- 0 until ni; p <- 0 until r; if direct(i)(p) != 0.0 || got.contains((i.toLong, p)))
      assert(math.abs(got.getOrElse((i.toLong, p), 0.0) - direct(i)(p)) < 1e-9,
        s"M($i,$p): ${got.get((i.toLong, p))} vs ${direct(i)(p)}")
  }

  test("small-mode guard: J >> driver budget fails loudly, not with an OOM") {
    // A tensor whose mode-2 extent would put a multi-GB factor on the
    // driver must be rejected at pack time with the remedy in the message.
    val rows = spark.sparkContext.parallelize(
      Seq((0L, 0L, 0L, 1.0), (1L, 5000L, 1L, 2.0)), 2)
    val err = intercept[IllegalArgumentException] {
      CPALS.pack(rows, rank = 4, numSlabs = 2, maxDriverFactorElems = 1000L)
    }
    assert(err.getMessage.contains("mode-2"), err.getMessage)
    assert(err.getMessage.contains("scale mode"), err.getMessage)
  }

  test("fitLargestModeFirst rotates a huge-J tensor into the slab mode and back") {
    // J (=12) is the largest mode: the rotated fit distributes it, and the
    // returned factors must be back in the caller's (i, j, k) orientation —
    // checked by exact recovery against the direct (unrotated) fit.
    val coo = syntheticCoo(5, 12, 4, 2, seed = 21)
    val m = CPALS.fitLargestModeFirst(coo, rank = 2, seed = 42, tol = 1e-9,
      maxIter = 120, numSlabs = 3)
    assert(m.dims == ((5, 12, 4)), s"dims not restored: ${m.dims}")
    assert(m.a.length == 5 * 2 && m.b.length == 12 * 2 && m.c.length == 4 * 2)
    assert(m.finalFit >= 0.99, s"fit=${m.finalFit}")
  }

  test("fitBest packs the slab RDD once and shares it across starts") {
    val coo = syntheticCoo(8, 7, 6, 2, seed = 5)
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    // Count shuffle-inducing pack jobs indirectly: pack() runs exactly one
    // partitionBy + count() materialization. With 3 starts sharing one
    // pack, the persisted-RDD count must be 1 (not 3) while fitting.
    val packed = CPALS.pack(coo, rank = 2, numSlabs = 4)
    val persistedId = packed.slabRdd.id
    val m = (0 until 3)
      .map(s => CPALS.fitPacked(packed, 2, seed = 40 + s, tol = 1e-9, maxIter = 30))
      .maxBy(_.finalFit)
    assert(m.finalFit >= 0.99)
    // The shared slab RDD is still the same persisted object after all
    // starts (nothing re-packed it under a new id).
    assert(packed.slabRdd.id == persistedId)
    assert(sc.getPersistentRDDs.contains(persistedId),
      "shared slab RDD was unpersisted by a start")
    packed.unpersist()
    val _ = before // silence unused warning on older scalac flags
  }

  test("relational ALS (no driver-resident factor) recovers a rank-R tensor") {
    import spark.implicits._
    import graft.tensor.RelationalALS
    // J is the big mode AND nothing may sit on the driver: the scenario
    // the slab engine's guard rejects when two modes are huge. Recovery
    // of an exact low-rank tensor proves the relational algebra correct.
    val coo = syntheticCoo(6, 10, 5, 2, seed = 31)
      .map { case (i, j, k, v) => (i, j, k, v) }.toDF("i", "j", "k", "v")
    val m = RelationalALS.fit(coo, rank = 2, seed = 42, tol = 1e-6, maxIter = 30)
    assert(m.finalFit >= 0.98, s"fit=${m.finalFit} after ${m.iterations} iters")
    // Fit trajectory is monotone within tolerance, as for the slab engine.
    m.fits.sliding(2).foreach {
      case Vector(f1, f2) => assert(f2 >= f1 - 1e-8, s"fit decreased: $f1 -> $f2")
      case _              =>
    }
    // Factors are relations, not driver arrays: right shape, right size.
    assert(m.a.columns.toSet == Set("i", "pos", "val"))
    assert(m.b.count() == 10 * 2 && m.c.count() == 5 * 2)
  }

  test("Q43 COO feeds CP-ALS end-to-end and converges") {
    val coo = EventTime.q43(spark, sf("sf0.001"))
    val model = CPALS.fit(coo, rank = 3, seed = 42, tol = 1e-4, maxIter = 30, numSlabs = 4)
    assert(model.finalFit > 0.0 && model.finalFit <= 1.0 + 1e-12)
    assert(model.iterations >= 2)
    assert(model.lambda.forall(_ > 0.0))
  }

  /** Dense exact-rank-R tensor from PLANTED NONNEGATIVE factors, as COO.
    * Sparse nonnegative entries (half zero, half in (0.5, 1.5)): two
    * all-positive columns correlate at ~0.75 — near-collinear planted
    * factors put exact recovery in a swamp regardless of algorithm (the
    * same reason syntheticCoo orthonormalizes) — while the sparsity
    * pattern decorrelates columns WITHOUT leaving the nonnegative
    * orthant.
    */
  private def nonnegCoo(ni: Int, nj: Int, nk: Int, rank: Int, seed: Long) = {
    val rng = new scala.util.Random(seed)
    def factor(n: Int): Array[Array[Double]] =
      Array.fill(n, rank)(
        if (rng.nextDouble() < 0.5) 0.0 else 0.5 + rng.nextDouble())
    val a = factor(ni); val b = factor(nj); val c = factor(nk)
    val rows = for {
      i <- 0 until ni; j <- 0 until nj; k <- 0 until nk
    } yield {
      val v = (0 until rank).map(p => a(i)(p) * b(j)(p) * c(k)(p)).sum
      (i.toLong, j.toLong, k.toLong, v)
    }
    spark.sparkContext.parallelize(rows, 4)
  }

  test("NN-HALS recovers a planted nonnegative rank-R tensor to fit >= 0.999") {
    import graft.tensor.NnHals
    for (rank <- Seq(1, 2, 3)) {
      val coo = nonnegCoo(12, 10, 8, rank, seed = 500 + rank)
      val model = NnHals.fitBest(coo, rank, seed = 42, tol = 1e-10, maxIter = 300,
        numSlabs = 4, numStarts = 3)
      assert(model.finalFit >= 0.999,
        s"rank=$rank fit=${model.finalFit} after ${model.iterations} iters")
    }
  }

  test("NN-HALS factors are nonnegative and the fit is monotone") {
    import graft.tensor.NnHals
    // Rank 2 on a rank-3 tensor: under-fitting keeps the plateau away from
    // fit=1.0, where the resid² identity loses all its significant digits
    // to cancellation (same reason the ALS monotone test under-fits).
    val coo = nonnegCoo(10, 7, 6, 3, seed = 77)
    val model = NnHals.fitRdd(coo, rank = 2, seed = 11, tol = 0.0, maxIter = 40,
      numSlabs = 4)
    assert(model.a.forall(_ >= 0.0) && model.b.forall(_ >= 0.0) &&
      model.c.forall(_ >= 0.0), "a HALS factor went negative")
    assert(model.lambda.forall(_ >= 0.0))
    // Each HALS column update is the exact constrained minimizer over that
    // column, so the objective — and hence the fit — is monotone.
    model.fits.sliding(2).foreach {
      case Vector(f1, f2) => assert(f2 >= f1 - 1e-10, s"fit decreased: $f1 -> $f2")
      case _              =>
    }
  }

  test("NN-HALS seeded trajectory is deterministic") {
    import graft.tensor.NnHals
    val coo = nonnegCoo(6, 5, 4, 2, seed = 3)
    val m1 = NnHals.fitRdd(coo, 2, seed = 9, tol = 0.0, maxIter = 5, numSlabs = 3)
    val m2 = NnHals.fitRdd(coo, 2, seed = 9, tol = 0.0, maxIter = 5, numSlabs = 3)
    assert(m1.fits.length == 5 && m2.fits.length == 5)
    m1.fits.zip(m2.fits).foreach { case (f1, f2) => assert(math.abs(f1 - f2) < 1e-6) }
  }

  test("NN-HALS on the Q43 events tensor: nonnegative data, nonnegative model") {
    import graft.tensor.NnHals
    val coo = EventTime.q43(spark, sf("sf0.001"))
    val model = NnHals.fit(coo, rank = 3, seed = 42, tol = 1e-4, maxIter = 30, numSlabs = 4)
    assert(model.finalFit > 0.0 && model.finalFit <= 1.0 + 1e-12)
    assert(model.a.forall(_ >= 0.0) && model.b.forall(_ >= 0.0) &&
      model.c.forall(_ >= 0.0))
  }

  test("Q335 relational ALS half-step replays exactly against a local adjugate solve") {
    import org.apache.spark.sql.functions._
    def md5hv(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    def sign(mode: String, idx: Long, p: Int): Long =
      md5hv(s"als:$mode:$idx:$p") % 19L - 9L
    val dir = sf("sf0.001")
    val c = Catalog(spark, dir)
    // cells replayed through Spark's own cents convention (ROUND on double)
    val cells = c.events.select(
        col("user_id").as("i"),
        expr("CASE event_type WHEN 'click' THEN 0L WHEN 'error' THEN 1L " +
          "WHEN 'purchase' THEN 2L WHEN 'signup' THEN 3L WHEN 'view' THEN 4L END")
          .as("j"),
        expr("(ts DIV 1000) DIV 86400000000").as("day"),
        expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val minDay = cells.map(_._3).min
    val agg = cells.groupBy(t => (t._1, t._2, t._3 - minDay))
      .view.mapValues(_.map(_._4).sum).toMap
    val js = agg.keys.map(_._2).toSet
    val ks = agg.keys.map(_._3).toSet
    def gram(idxs: Set[Long], mode: String): Array[Long] = {
      var g00 = 0L; var g01 = 0L; var g11 = 0L
      idxs.foreach { x =>
        val s0 = sign(mode, x, 0); val s1 = sign(mode, x, 1)
        g00 += s0 * s0; g01 += s0 * s1; g11 += s1 * s1
      }
      Array(g00, g01, g11)
    }
    val gb = gram(js, "b"); val gc = gram(ks, "c")
    val h00 = gb(0) * gc(0); val h01 = gb(1) * gc(1); val h11 = gb(2) * gc(2)
    val det = h00 * h11 - h01 * h01
    assert(det != 0L, "fixture determinant must be nonzero")
    val byUser = agg.groupBy(_._1._1)
    val out = graft.operators.TensorGates.q335(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == byUser.keySet)
    byUser.foreach { case (i, cellsI) =>
      var m0 = 0L; var m1 = 0L
      cellsI.foreach { case ((_, j, k), v) =>
        m0 += v * sign("b", j, 0) * sign("c", k, 0)
        m1 += v * sign("b", j, 1) * sign("c", k, 1)
      }
      val r = out(i)
      assert(r.getAs[Long]("n_cells") == cellsI.size.toLong, s"$i: n_cells")
      assert(r.getAs[Long]("m0") == m0, s"$i: m0")
      assert(r.getAs[Long]("m1") == m1, s"$i: m1")
      def r6(x: Double) = BigDecimal(java.lang.Double.toString(x))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val n0 = (BigInt(m0) * h11 - BigInt(m1) * h01).toDouble
      val n1 = (BigInt(m1) * h00 - BigInt(m0) * h01).toDouble
      assert(math.abs(r.getAs[Double]("a0") - r6(n0 / det)) <= 1e-6, s"$i: a0")
      assert(math.abs(r.getAs[Double]("a1") - r6(n1 / det)) <= 1e-6, s"$i: a1")
    }
  }
}
