package graft.tensor

import breeze.linalg.{pinv, DenseMatrix}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fully-relational CP-ALS: every factor lives as a DataFrame
  * (row, pos, val) and every MTTKRP / update is a join + aggregate —
  * the fallback for tensors where TWO OR MORE modes are huge
  * (Kolda & Bader, SIAM Review 51(3) 2009 for the ALS algebra; the
  * relational formulation is the standard "SGD/ALS on a data-parallel
  * engine" shape).
  *
  * Positioning vs [[CPALS]] (the slab engine):
  *  - slab CPALS: mode 1 distributed, modes 2/3 driver-resident and
  *    broadcast — 2 jobs/iteration, the fast path whenever ONE mode
  *    dominates ([[CPALS.fitLargestModeFirst]] rotates it into place).
  *  - this engine: NOTHING factor-shaped ever sits on the driver — only
  *    R×R Gramians and the R×R solve matrices. Iteration cost is ~4
  *    shuffles per mode (two factor joins, the MTTKRP aggregate, the
  *    solve-matrix multiply), so it is strictly slower at small scale;
  *    it is the only path that works when J·R AND K·R both exceed
  *    driver budget (where [[CPALS.pack]] rightly refuses).
  *
  * Determinism: init values are md5-free xxhash64-derived uniforms of
  * (seed, row, pos) — distributed, reproducible, no RNG state; every
  * later step is deterministic linear algebra over exact join results
  * (per-group double summation order varies, but the fit tolerance and
  * the property tests account for that, exactly as the slab engine's
  * contract does).
  *
  * State per iteration: 3 factor DataFrames, persisted + localCheckpoint
  * to truncate the iterative lineage (the CPALS loop discipline).
  */
object RelationalALS {

  final case class RelModel(
      a: DataFrame, // (i, pos, val)
      b: DataFrame, // (j, pos, val)
      c: DataFrame, // (k, pos, val)
      rank: Int,
      fits: Vector[Double]) {
    def finalFit: Double = fits.lastOption.getOrElse(0.0)
    def iterations: Int = fits.length
  }

  /** Deterministic centered-uniform factor init over [0, n) × [0, rank). */
  private def initFactor(
      spark: SparkSession, n: Long, rank: Int, rowCol: String,
      seed: Long): DataFrame =
    spark.range(n).toDF(rowCol)
      .withColumn("pos", explode(sequence(lit(0), lit(rank - 1))))
      .withColumn("val",
        (pmod(xxhash64(lit(seed), col(rowCol), col("pos")), lit(1000003L))
          .cast("double") / 1000003.0) - 0.5)

  /** R×R Gram of a factor relation: one self-join on the row index +
    * an R²-group aggregate — R² doubles to the driver, never a row.
    */
  private def gram(f: DataFrame, rowCol: String, rank: Int): DenseMatrix[Double] = {
    val rows = f.alias("x").join(f.alias("y"), Seq(rowCol))
      .groupBy(col("x.pos").as("p"), col("y.pos").as("q"))
      .agg(sum(col("x.val") * col("y.val")).as("g"))
      .collect()
    val g = DenseMatrix.zeros[Double](rank, rank)
    rows.foreach(r => g(r.getInt(0), r.getInt(1)) = r.getDouble(2))
    g
  }

  private def hadamard(x: DenseMatrix[Double], y: DenseMatrix[Double], r: Int) = {
    val z = DenseMatrix.zeros[Double](r, r)
    var p = 0
    while (p < r) { var q = 0; while (q < r) { z(p, q) = x(p, q) * y(p, q); q += 1 }; p += 1 }
    z
  }

  /** MTTKRP against `targetCol`, contracting the two other factor
    * relations: coo ⋈ f1 (on its mode) ⋈ f2 (on its mode + pos) →
    * Σ v·f1·f2 per (target row, pos). Shuffle joins — neither factor is
    * assumed broadcastable. Catalyst broadcasts them anyway when small.
    */
  private[graft] def mttkrp(
      coo: DataFrame, targetCol: String,
      f1: DataFrame, f1Col: String,
      f2: DataFrame, f2Col: String): DataFrame =
    coo
      .join(f1.withColumnRenamed("val", "v1"), Seq(f1Col))
      .join(f2.withColumnRenamed("val", "v2"), Seq(f2Col, "pos"))
      .groupBy(col(targetCol), col("pos"))
      .agg(sum(col("v") * col("v1") * col("v2")).as("mval"))

  /** newF = M × S (S the R×R pinv of the Gram Hadamard): one broadcast
    * join on pos + an aggregate per (row, q).
    */
  private def solveInto(
      m: DataFrame, rowCol: String, s: DenseMatrix[Double], rank: Int): DataFrame = {
    val spark = m.sparkSession
    import spark.implicits._
    val sRel = (0 until rank).flatMap(p =>
      (0 until rank).map(q => (p, q, s(p, q)))).toDF("pos", "q", "sval")
    m.join(broadcast(sRel), Seq("pos"))
      .groupBy(col(rowCol), col("q"))
      .agg(sum(col("mval") * col("sval")).as("val"))
      .select(col(rowCol), col("q").as("pos"), col("val"))
  }

  /** Decompose a COO DataFrame with columns (i,j,k,v). */
  def fit(
      coo: DataFrame,
      rank: Int,
      seed: Long = 42L,
      tol: Double = 1e-4,
      maxIter: Int = 50): RelModel = {
    val spark = coo.sparkSession
    val t = coo
      .select(col("i").cast("long"), col("j").cast("long"), col("k").cast("long"),
        col("v").cast("double"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dims = t.agg(max("i"), max("j"), max("k"), sum(col("v") * col("v")))
      .collect()(0)
    val (ni, nj, nk) = (dims.getLong(0) + 1, dims.getLong(1) + 1, dims.getLong(2) + 1)
    val normX2 = dims.getDouble(3)

    def ckpt(f: DataFrame): DataFrame = f.localCheckpoint()

    var a: DataFrame = null // produced by the first update
    var b = ckpt(initFactor(spark, nj, rank, "j", seed))
    var c = ckpt(initFactor(spark, nk, rank, "k", seed + 1))

    val fits = Vector.newBuilder[Double]
    var fitsSoFar = Vector.empty[Double]
    var prevFit = Double.NegativeInfinity
    var iter = 0
    var converged = false
    // Gramians carry across iterations: this iteration's gB2/gC2 are the
    // next one's gB/gC — halves the gram jobs per iteration.
    var gB = gram(b, "j", rank)
    var gC = gram(c, "k", rank)
    while (iter < maxIter && !converged) {
      a = ckpt(solveInto(mttkrp(t, "i", b, "j", c, "k"), "i",
        pinv(hadamard(gB, gC, rank)), rank))
      val gA = gram(a, "i", rank)
      b = ckpt(solveInto(mttkrp(t, "j", a, "i", c, "k"), "j",
        pinv(hadamard(gA, gC, rank)), rank))
      val gB2 = gram(b, "j", rank)
      val mC = ckpt(mttkrp(t, "k", a, "i", b, "j"))
      c = ckpt(solveInto(mC, "k", pinv(hadamard(gA, gB2, rank)), rank))

      // Fit via the CP identities: <X, Xhat> = vec(MTTKRP_C) . vec(C),
      // |Xhat|^2 = 1'(Ga o Gb o Gc)1 — no reconstruction materializes.
      val gC2 = gram(c, "k", rank)
      val cross = mC.join(c, Seq("k", "pos"))
        .agg(sum(col("mval") * col("val"))).collect()(0).getDouble(0)
      val gAll = hadamard(hadamard(gA, gB2, rank), gC2, rank)
      var model2 = 0.0
      var p = 0
      while (p < rank) {
        var q = 0; while (q < rank) { model2 += gAll(p, q); q += 1 }; p += 1
      }
      val resid2 = math.max(0.0, normX2 - 2.0 * cross + model2)
      val fit = 1.0 - math.sqrt(resid2) / math.sqrt(normX2)
      fits += fit
      fitsSoFar = fitsSoFar :+ fit
      if (fit - prevFit < tol && iter > 0) converged = true
      prevFit = fit
      gB = gB2
      gC = gC2
      iter += 1
    }
    t.unpersist(blocking = false)
    RelModel(a, b, c, rank, fitsSoFar)
  }
}
