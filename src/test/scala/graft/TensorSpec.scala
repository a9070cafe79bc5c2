package graft

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD

import graft.operators.EventTime
import graft.tensor.{CPALS, NnHals, SlabAssignment}

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

  /** `fit` over `coo` packed into `numSlabs` slabs, unpersisted after. */
  private def withPacked[T](coo: RDD[(Long, Long, Long, Double)], rank: Int, numSlabs: Int)(
      fit: CPALS.PackedTensor => T): T = {
    val packed = CPALS.pack(coo, rank, numSlabs)
    try fit(packed) finally packed.unpersist()
  }

  /** The best final fit of `numStarts` seeded fits over one packed tensor. */
  private def bestOf(numStarts: Int)(fit: Long => CPALS.CPModel): CPALS.CPModel =
    (0 until numStarts).map(s => fit(s.toLong)).maxBy(_.finalFit)

  private def assertSameBits(what: String, m1: CPALS.CPModel, m2: CPALS.CPModel): Unit = {
    def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(m1.fits) == bits(m2.fits), s"$what fits: ${m1.fits} vs ${m2.fits}")
    assert(bits(m1.a.toSeq) == bits(m2.a.toSeq), s"$what a differs")
    assert(bits(m1.b.toSeq) == bits(m2.b.toSeq), s"$what b differs")
    assert(bits(m1.c.toSeq) == bits(m2.c.toSeq), s"$what c differs")
  }

  test("C12: CP-ALS recovers an exactly rank-R tensor to fit >= 0.999") {
    for (rank <- Seq(1, 2, 3)) {
      val coo = syntheticCoo(8, 7, 6, rank, seed = 100 + rank)
      // Multi-start: single-seed ALS can land in a swamp (rank 3 does,
      // from two different inits) — restarts are the standard remedy.
      val model = withPacked(coo, rank, 4)(p =>
        bestOf(4)(s => CPALS.fitPacked(p, rank, 42 + s, tol = 1e-9, maxIter = 120)))
      assert(model.finalFit >= 0.999,
        s"rank=$rank fit=${model.finalFit} after ${model.iterations} iters")
    }
  }

  test("ridge ALS: lambda=0 is bit-identical to plain; small lambda still recovers; large lambda shrinks fit") {
    val coo = syntheticCoo(8, 7, 6, 2, seed = 11)
    withPacked(coo, 2, 4) { p =>
      val plain = CPALS.fitPacked(p, 2, seed = 42, tol = 1e-9, maxIter = 40)
      val zero = CPALS.fitPacked(p, 2, seed = 42, tol = 1e-9, maxIter = 40,
        CPALS.AlsRule(ridge = 0.0))
      assertSameBits("ridge=0 vs default", plain, zero)

      // Tikhonov at 1e-6 on an exactly-rank-2 tensor: recovery survives.
      val small = CPALS.fitPacked(p, 2, seed = 42, tol = 1e-9, maxIter = 120,
        CPALS.AlsRule(ridge = 1e-6))
      assert(small.finalFit >= 0.999, s"small-ridge fit ${small.finalFit}")

      // Heavy damping costs data fit — the shrinkage direction is the
      // contract (fit reported is the DATA fit, not the penalized one).
      val heavy = CPALS.fitPacked(p, 2, seed = 42, tol = 1e-9, maxIter = 40,
        CPALS.AlsRule(ridge = 10.0))
      assert(heavy.finalFit < small.finalFit,
        s"heavy ridge ${heavy.finalFit} should underfit ${small.finalFit}")
    }
  }

  test("C12: fit is monotonically non-decreasing (1e-10 slack)") {
    val coo = syntheticCoo(10, 6, 5, 3, seed = 7)
    val model = withPacked(coo, 2, 4)(CPALS.fitPacked(_, 2, seed = 42, tol = 0.0, maxIter = 25))
    model.fits.sliding(2).foreach {
      case Vector(f1, f2) => assert(f2 >= f1 - 1e-10, s"fit decreased: $f1 -> $f2")
      case _              =>
    }
  }

  test("C12: deterministic trajectory under fixed seed") {
    // Two independent packs of the same rows: a slab's layout is sorted,
    // so it does not depend on the order the shuffle delivered its
    // nonzeros in, and the slab partials are summed in slab order. The
    // seeded trajectory and model are bit-identical across packs.
    val coo = syntheticCoo(6, 5, 4, 2, seed = 3)
    val m1 = withPacked(coo, 2, 3)(CPALS.fitPacked(_, 2, seed = 9, tol = 0.0, maxIter = 5))
    val m2 = withPacked(coo, 2, 3)(CPALS.fitPacked(_, 2, seed = 9, tol = 0.0, maxIter = 5))
    assert(m1.fits.length == 5 && m2.fits.length == 5)
    assertSameBits("two packs", m1, m2)
  }

  test("C13: LPT slab assignment balances heavily skewed slices") {
    // One huge slice + many small ones: max slab load must be within
    // 4/3 of ideal (LPT bound), and far better than naive modulo.
    val weights = (0L until 64L).map(i => (i, if (i == 0) 1000L else 10L))
    val p = SlabAssignment.lpt(weights, Array.fill(8)(0L))
    val loads = Array.fill(8)(0L)
    weights.foreach { case (i, w) => loads(p.slabOf(i)) += w }
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
    // w nonzeros at distinct coordinates per slice, so a slab's packed
    // nonzero count is its load.
    val rows = spark.sparkContext.parallelize(weights, 8).flatMap { case (i, w) =>
      (0L until w).map(n => (i, n / 100, n % 100, 1.0))
    }
    val packed = CPALS.pack(rows, width = 2, numSlabs = 8, maxDriverSlices = 64)
    val slabs = try packed.slabRdd.map(s => (s.vs.length.toLong, s.localIs)).collect()
      finally packed.unpersist()
    val loads = slabs.map(_._1)
    val slabOf = slabs.zipWithIndex.flatMap { case ((_, is), s) => is.map(_.toLong -> s) }.toMap
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
    assert((0L until 4L).map(slabOf).distinct.size == 4,
      "heavy slices not spread across distinct slabs")
  }

  /** One nonzero per slice 0 until `ni`, in 4 partitions. */
  private def oneNonzeroPerSlice(ni: Int): RDD[(Long, Long, Long, Double)] =
    spark.sparkContext.parallelize(0 until ni, 4).map(i => (i.toLong, 0L, 0L, 1.0))

  test("C13: a fit's tasks do not carry the slice assignment: the slab RDD's size is flat in I") {
    // Every iteration task deserializes the slab RDD and its lineage up
    // to the shuffle; the slice→slab assignment must stay map-side.
    def serializedBytes(ni: Int): Int = {
      val packed = CPALS.pack(oneNonzeroPerSlice(ni), width = 4, numSlabs = 4)
      try SparkEnv.get.closureSerializer.newInstance().serialize(packed.slabRdd).limit()
      finally packed.unpersist()
    }
    val small = serializedBytes(128)
    val large = serializedBytes(1 << 14)
    assert(math.abs(large - small) <= 2048, s"$small B at 128 slices, $large B at 2^14")
  }

  test("C13: a pack runs 3 jobs, with every slice placed and with only the heaviest") {
    for (maxDriverSlices <- Seq(1 << 20, 64)) {
      val leg = Harness.leg(spark, "pack") {
        CPALS.pack(oneNonzeroPerSlice(4096), width = 2, numSlabs = 8,
          maxDriverSlices = maxDriverSlices).unpersist()
      }
      assert(leg.error.isEmpty, leg.error)
      assert(leg.jobs.size == 3, s"maxDriverSlices=$maxDriverSlices: ${leg.jobs}")
    }
  }

  /** 200,000 nonzeros over 5 slices, 150,000 distinct coordinates (every
    * coordinate below 50,000 comes twice, with two values), in `parts`
    * partitions, in reverse order if `reversed`. Each nonzero is a
    * function of its index alone, so every variant holds the same rows. */
  private def blockRows(parts: Int, reversed: Boolean = false): RDD[(Long, Long, Long, Double)] = {
    val idx = 0 until 200000
    spark.sparkContext.parallelize(if (reversed) idx.reverse else idx, parts).map { n =>
      val c = n % 150000
      ((c % 5).toLong, (c / 5 % 100).toLong, (c / 500).toLong, (n * 2654435761L % 1000) / 7.0 - 50.0)
    }
  }

  test("C13: the slab shuffle moves column blocks, not one record per nonzero") {
    // Records written by the slab shuffle's map stage: the one holding the
    // map-side parent of the slab RDD's ShuffledRDD.
    val (parts, numSlabs, nnz) = (3, 4, 200000)
    val written = scala.collection.mutable.Map[Int, (Seq[Int], Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        written.synchronized {
          written(e.stageInfo.stageId) = (e.stageInfo.rddInfos.map(_.id),
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (mapSide, records) =
      try {
        val packed = CPALS.pack(blockRows(parts), width = 2, numSlabs = numSlabs)
        try {
          org.apache.spark.GraftListenerBus.drain(sc)
          val mapSide = packed.slabRdd.dependencies.head.rdd.dependencies.head.rdd.id
          (mapSide, written.synchronized(written.values.collect { case (ids, n) if ids.contains(mapSide) => n }.sum))
        } finally packed.unpersist()
      } finally sc.removeSparkListener(listener)
    val bound = parts * numSlabs + (nnz + CPALS.BlockSize - 1) / CPALS.BlockSize
    assert(records > 0 && records <= bound,
      s"the slab shuffle (map side RDD $mapSide) wrote $records records for $nnz nonzeros; bound $bound")
  }

  test("C13: every slab array is the same however the rows are partitioned and ordered") {
    // 2 slabs of 80,000 and 120,000 rows: as 1 partition each slab is more
    // than one block; as 7 partitions each is a block from every partition.
    def slabs(rows: RDD[(Long, Long, Long, Double)]) = {
      val packed = CPALS.pack(rows, width = 2, numSlabs = 2)
      try (packed.slabRdd.collect().toSeq, packed.normX2) finally packed.unpersist()
    }
    def bits(s: CPALS.Slab): Seq[Seq[Long]] =
      Seq(s.localIs, s.rowPtr, s.fiberJ, s.fiberPtr, s.ks).map(_.toSeq.map(_.toLong)) :+
        s.vs.toSeq.map(java.lang.Double.doubleToRawLongBits)
    val (want, wantNorm) = slabs(blockRows(7))
    assert(want.map(_.vs.length).sum == 150000, "duplicate coordinates are summed")
    // A third of the coordinates come twice, so a slab's rows are 4/3 of
    // its packed nonzeros.
    assert(want.forall(_.vs.length * 4 / 3 > CPALS.BlockSize), want.map(_.vs.length))
    for ((name, rows) <- Seq("1 partition" -> blockRows(1), "1 partition, reversed" -> blockRows(1, reversed = true))) {
      val (got, norm) = slabs(rows)
      assert(got.map(bits) == want.map(bits), name)
      assert(java.lang.Double.doubleToRawLongBits(norm) == java.lang.Double.doubleToRawLongBits(wantNorm), name)
    }
  }

  test("small-mode guard: J >> driver budget fails loudly, not with an OOM") {
    // A tensor whose mode-2 extent would put a multi-GB factor on the
    // driver must be rejected at pack time with the remedy in the message.
    val rows = spark.sparkContext.parallelize(
      Seq((0L, 0L, 0L, 1.0), (1L, 5000L, 1L, 2.0)), 2)
    val err = intercept[IllegalArgumentException] {
      CPALS.pack(rows, width = 4, numSlabs = 2, maxDriverFactorElems = 1000L)
    }
    assert(err.getMessage.contains("mode-2"), err.getMessage)
    assert(err.getMessage.contains("scale mode"), err.getMessage)
  }

  test("one pack serves several seeded fits") {
    val coo = syntheticCoo(8, 7, 6, 2, seed = 5)
    val sc = spark.sparkContext
    // pack() persists one slab RDD; three seeded fits read it and must
    // leave it persisted under the same id.
    val packed = CPALS.pack(coo, width = 2, numSlabs = 4)
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
    for (rank <- Seq(1, 2, 3)) {
      val coo = nonnegCoo(12, 10, 8, rank, seed = 500 + rank)
      val model = withPacked(coo, rank, 4)(p => bestOf(3)(s =>
        CPALS.fitPacked(p, rank, 42 + s, tol = 1e-10, maxIter = 300, NnHals.HalsRule)))
      assert(model.finalFit >= 0.999,
        s"rank=$rank fit=${model.finalFit} after ${model.iterations} iters")
    }
  }

  test("NN-HALS factors are nonnegative and the fit is monotone") {
    // Rank 2 on a rank-3 tensor: under-fitting keeps the plateau away from
    // fit=1.0, where the resid² identity loses all its significant digits
    // to cancellation (same reason the ALS monotone test under-fits).
    val coo = nonnegCoo(10, 7, 6, 3, seed = 77)
    val model = withPacked(coo, 2, 4)(
      CPALS.fitPacked(_, rank = 2, seed = 11, tol = 0.0, maxIter = 40, NnHals.HalsRule))
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
    // The fit reaches 1 within the 5 iterations, where the CP fit identity
    // is only good to about 1e-8 (cancellation in ‖X‖² − 2⟨X,X̂⟩ + ‖X̂‖²):
    // a tolerance of -inf keeps the count at 5 instead of stopping on noise.
    val coo = nonnegCoo(6, 5, 4, 2, seed = 3)
    def fit() = withPacked(coo, 2, 3)(CPALS.fitPacked(
      _, 2, seed = 9, tol = Double.NegativeInfinity, maxIter = 5, NnHals.HalsRule))
    val m1 = fit(); val m2 = fit()
    assert(m1.fits.length == 5 && m2.fits.length == 5)
    assertSameBits("two packs", m1, m2)
  }

  /** The two seeded fits over one packed slab tensor, by name. A tolerance
    * of -inf never stops a fit early, so it runs exactly `maxIter`. */
  private val packedFits: Seq[(String, (CPALS.PackedTensor, Long, Int) => CPALS.CPModel)] = Seq(
    "CP-ALS" -> ((p, seed, iters) =>
      CPALS.fitPacked(p, 2, seed, tol = Double.NegativeInfinity, maxIter = iters)),
    "NN-HALS" -> ((p, seed, iters) =>
      CPALS.fitPacked(p, 2, seed, tol = Double.NegativeInfinity, maxIter = iters, NnHals.HalsRule)))

  test("CP-ALS and NN-HALS: a fit is one job whatever its iteration count") {
    // The slab tasks keep A and trade partials and factors with the
    // driver's exchange, so neither the job count nor the broadcasts grow
    // with the iterations, and nothing is shuffled. A job broadcasts its
    // task binary; every other broadcast would be an explicit one. The
    // probe makes one broadcast of its own, and broadcast ids count up by
    // one per broadcast.
    val packed = CPALS.pack(nonnegCoo(16, 7, 6, 2, seed = 21), width = 2, numSlabs = 8)
    def nextBroadcastId(): Long = { val b = spark.sparkContext.broadcast(()); b.destroy(); b.id }
    try packedFits.foreach { case (name, fit) =>
      def leg(iters: Int) = {
        val l = Harness.leg(spark, s"$name x$iters") {
          val first = nextBroadcastId()
          val m = fit(packed, 5L, iters)
          (m, nextBroadcastId() - first - 1)
        }.orThrow
        val (m, broadcasts) = l.result.toOption.get
        assert(m.iterations == iters)
        assert(broadcasts == l.jobs.size, s"$name x$iters: $broadcasts broadcasts in ${l.jobs}")
        assert(l.shuffleWriteBytes == 0L, s"$name x$iters: ${l.shuffleWriteBytes} shuffle bytes")
        l
      }
      val one = leg(1); val three = leg(3)
      assert(one.jobs.size == 1 && three.jobs.size == 1, s"$name jobs: ${one.jobs} vs ${three.jobs}")
    } finally packed.unpersist()
  }

  test("a fit of more slabs than task slots fails at once, naming both and the remedy") {
    val slots = org.apache.spark.GraftSlabExchange.slots(spark.sparkContext)
    val packed = CPALS.pack(nonnegCoo(16, 7, 6, 2, seed = 23), width = 2, numSlabs = slots + 1)
    try {
      val t0 = System.nanoTime()
      val err = intercept[IllegalArgumentException](CPALS.fitPacked(packed, 2, 5L, 0.0, 3))
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec < 5.0, s"took $sec s")
      for (want <- Seq(s"${slots + 1} slabs", s"$slots task slots", s"at most $slots slabs"))
        assert(err.getMessage.contains(want), err.getMessage)
    } finally packed.unpersist()
  }

  test("CP fit: a failure in a slab task or on the driver fails the fit once and leaves nothing running") {
    val sc = spark.sparkContext
    val packed = CPALS.pack(nonnegCoo(16, 7, 6, 2, seed = 24), width = 2, numSlabs = 8)
    // How many tasks of a fit started, and how each ended. The status
    // tracker's running-task count can lag a task's start, so it could
    // read 0 while tasks still run.
    var started = 0
    val ends = scala.collection.mutable.ArrayBuffer[org.apache.spark.TaskEndReason]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        ends.synchronized { started += 1 }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        ends.synchronized { ends += e.reason; () }
    }
    sc.addSparkListener(listener)
    try {
      val want = CPALS.fitPacked(packed, 2, 5L, Double.NegativeInfinity, 4)
      for ((onDriver, message) <- Seq(false -> "planted failure in slab 1", true -> "planted failure on the driver")) {
        org.apache.spark.GraftListenerBus.drain(sc)
        ends.synchronized { started = 0; ends.clear() }
        val t0 = System.nanoTime()
        val err = intercept[Throwable](
          CPALS.fitPacked(packed, 2, 5L, Double.NegativeInfinity, 4, TensorSpec.FailingRule(onDriver)))
        val sec = (System.nanoTime() - t0) / 1e9
        assert(sec < 30.0, s"onDriver=$onDriver: took $sec s")
        assert(Harness.causeChain(err).contains(message), Harness.causeChain(err))
        // Killed tasks end shortly after their job, and the job's end
        // reaches the status tracker shortly after the fit sees it; none
        // may be left behind.
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        def running = { org.apache.spark.GraftListenerBus.drain(sc); ends.synchronized(started - ends.size) }
        def jobs = sc.statusTracker.getActiveJobIds.toSeq
        while ((running > 0 || jobs.nonEmpty) && System.nanoTime() < deadline) Thread.sleep(20)
        assert(running == 0, s"onDriver=$onDriver: $running tasks still running")
        assert(jobs.isEmpty, s"onDriver=$onDriver: jobs $jobs still active")
        assert(org.apache.spark.GraftSlabExchange.registered(sc).isEmpty,
          s"endpoints left: ${org.apache.spark.GraftSlabExchange.registered(sc)}")
        // A fault on the driver is not a slab's: every task ends killed.
        if (onDriver) {
          val reasons = ends.synchronized(ends.toList)
          val failed = reasons.collect { case f: org.apache.spark.ExceptionFailure => f }
          assert(reasons.nonEmpty && failed.isEmpty,
            s"${failed.size} of ${reasons.size} slab tasks failed: ${failed.map(_.toErrorString).distinct}")
        }
      }
      assertSameBits("after the failures", want, CPALS.fitPacked(packed, 2, 5L, Double.NegativeInfinity, 4))
    } finally { sc.removeSparkListener(listener); packed.unpersist() }
  }

  test("CP-ALS and NN-HALS: a seeded fit over one packed tensor is bit-reproducible") {
    val packed = CPALS.pack(nonnegCoo(16, 7, 6, 2, seed = 22), width = 2, numSlabs = 8)
    try packedFits.foreach { case (name, fit) =>
      assertSameBits(name, fit(packed, 9L, 6), fit(packed, 9L, 6))
    } finally packed.unpersist()
  }

  test("CP-ALS and NN-HALS: duplicate coordinates are summed, not fitted as extra cells") {
    // Every cell split into two rows of half its value is the same tensor,
    // so the packed norm and every fit must match the merged COO's.
    val merged = nonnegCoo(6, 5, 4, 2, seed = 31)
    val split = merged.flatMap { case (i, j, k, v) => Seq((i, j, k, v / 2), (i, j, k, v / 2)) }
    packedFits.foreach { case (name, fit) =>
      val want = withPacked(merged, 2, 3)(fit(_, 9L, 6))
      val (got, packedNnz) = withPacked(split, 2, 3)(p =>
        (fit(p, 9L, 6), p.slabRdd.map(_.vs.length.toLong).sum()))
      assert(got.fits.length == want.fits.length)
      got.fits.zip(want.fits).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1e-12, s"$name fits: ${got.fits} vs ${want.fits}")
      }
      assert(packedNnz == 6 * 5 * 4, s"$name: the slabs hold $packedNnz nonzeros")
    }
  }

  test("CP-ALS and NN-HALS: fiber kernels on empty slabs, one-nonzero rows and a row over every j") {
    // 5 populated rows (2 of them one fiber of one nonzero, one with a
    // fiber at every j, a gap at i = 3 and 5) in up to 8 slabs, so some
    // slabs are empty.
    val (nj, nk) = (6, 5)
    val rng = new scala.util.Random(41)
    val cells =
      (for (j <- 0 until nj; k <- 0 until nk if (j + k) % 2 == 0) yield (0, j, k)) ++
        Seq((1, 3, 2), (2, 0, 4)) ++
        (for (j <- Seq(1, 4); k <- 0 until nk) yield (4, j, k)) ++
        Seq((6, 2, 0), (6, 2, 3), (6, 5, 1))
    val coo = cells.map { case (i, j, k) => (i.toLong, j.toLong, k.toLong, 0.5 + rng.nextDouble()) }
    val rdd = spark.sparkContext.parallelize(coo, 3)
    // ALS never reads the old A rows, so its trajectory does not depend on
    // the slab count. HALS draws A per slab; at rank 1 its sweep does not
    // read the old row either, so it is slab-count free too. Rank 5 runs
    // the kernels' 4-rank blocks and their one-rank tail.
    val rules = Seq("CP-ALS" -> (5, CPALS.AlsRule()), "NN-HALS" -> (1, NnHals.HalsRule))
    rules.foreach { case (name, (rank, rule)) =>
      val fits = Seq(1, 3, 8).map(slabs => withPacked(rdd, rank, slabs)(
        CPALS.fitPacked(_, rank, 5L, Double.NegativeInfinity, 6, rule).fits))
      fits.tail.foreach(f => f.zip(fits.head).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-10, s"$name fits by slab count: $fits")
      })
    }

    // The first ALS iteration against a dense driver-side reference: B
    // then C drawn from Random(seed), A from zeros, explicit residual.
    // Rank 5 runs the single-rank path only; rank 13 is an 8-rank block
    // and five singles.
    val (ni, seed) = (7, 5L)
    val x = Array.ofDim[Double](ni, nj, nk)
    coo.foreach { case (i, j, k, v) => x(i.toInt)(j.toInt)(k.toInt) += v }
    for (r <- Seq(5, 13)) {
      val init = new scala.util.Random(seed)
      val b = Array.fill(nj, r)(init.nextGaussian())
      val c = Array.fill(nk, r)(init.nextGaussian())
      val a = Array.ofDim[Double](ni, r)
      import breeze.linalg.{pinv, DenseMatrix}
      def gram(f: Array[Array[Double]]) =
        DenseMatrix.tabulate(r, r)((p, q) => f.map(row => row(p) * row(q)).sum)
      // f ← M·pinv(G1∘G2), M(row, p) = Σ x · u(·, p) · w(·, p) over the other two modes.
      def solve(f: Array[Array[Double]], g1: DenseMatrix[Double], g2: DenseMatrix[Double])(
          m: (Int, Int) => Double): Unit = {
        val s = pinv(g1 *:* g2)
        for (row <- f.indices; q <- 0 until r)
          f(row)(q) = (0 until r).map(p => m(row, p) * s(p, q)).sum
      }
      def sum3(f: (Int, Int, Int) => Double) =
        (for (i <- 0 until ni; j <- 0 until nj; k <- 0 until nk) yield f(i, j, k)).sum
      solve(a, gram(b), gram(c))((i, p) =>
        (for (j <- 0 until nj; k <- 0 until nk) yield x(i)(j)(k) * b(j)(p) * c(k)(p)).sum)
      solve(b, gram(a), gram(c))((j, p) =>
        (for (i <- 0 until ni; k <- 0 until nk) yield x(i)(j)(k) * a(i)(p) * c(k)(p)).sum)
      solve(c, gram(a), gram(b))((k, p) =>
        (for (i <- 0 until ni; j <- 0 until nj) yield x(i)(j)(k) * a(i)(p) * b(j)(p)).sum)
      val resid2 = sum3 { (i, j, k) =>
        val d = x(i)(j)(k) - (0 until r).map(p => a(i)(p) * b(j)(p) * c(k)(p)).sum
        d * d
      }
      val want = 1.0 - math.sqrt(resid2 / sum3((i, j, k) => x(i)(j)(k) * x(i)(j)(k)))
      for (slabs <- Seq(1, 3, 8)) {
        val got = withPacked(rdd, r, slabs)(CPALS.fitPacked(_, r, seed, 0.0, 1)).fits.head
        assert(math.abs(got - want) <= 1e-9, s"rank $r, $slabs slabs: first fit $got, dense reference $want")
      }
    }
  }

  test("NN-HALS on the Q43 events tensor: nonnegative data, nonnegative model") {
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

object TensorSpec {
  /** ALS, except that its update throws in the second iteration: in slab
    * 1's task, or on the driver. A task's copy of the rule counts the
    * iterations by the factor arrays it is handed (a fresh one each
    * iteration); the driver updates B, then C, once per iteration. */
  private final case class FailingRule(onDriver: Boolean) extends CPALS.UpdateRule {
    private val als = CPALS.AlsRule()
    private var seen: Array[Double] = null
    private var iteration, driverUpdates = 0
    def draw(rng: scala.util.Random): Double = als.draw(rng)
    def initA(n: Int, rng: scala.util.Random): Array[Double] = als.initA(n, rng)
    def solveMatrix(h: breeze.linalg.DenseMatrix[Double]): breeze.linalg.DenseMatrix[Double] = als.solveMatrix(h)
    def update(a: Array[Double], aOff: Int, m: Array[Double], s: Array[Double], sOff: Int,
        n: Int, r: Int): Unit = {
      val task = org.apache.spark.TaskContext.get()
      if (task == null) {
        driverUpdates += 1
        if (onDriver && driverUpdates == 3) throw new IllegalStateException("planted failure on the driver")
      } else {
        if (s ne seen) { seen = s; iteration += 1 }
        if (!onDriver && task.partitionId == 1 && iteration == 2)
          throw new IllegalStateException("planted failure in slab 1")
      }
      als.update(a, aOff, m, s, sOff, n, r)
    }
  }
}
