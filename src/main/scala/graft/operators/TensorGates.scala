package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Catalog

/** Hash-gated relational tensor-decomposition steps (SURVEY.md §2.13).
  *
  * C12 pins the CP-ALS engine ([[graft.tensor.CPALS]]) with PROPERTY
  * gates (monotone fit, planted-factor recovery) because a full float ALS
  * cannot be bit-matched across engines. Q335 closes the round-10 verdict
  * gap by putting ONE seeded, fixed-parenthesization ALS half-step under
  * the same DuckDB hash discipline as Q102/Q120 (k-means) and Q119 (BPE):
  * the MTTKRP and the normal-equation solve — the two workhorses of an
  * ALS half-step — run as an all-integer pipeline whose
  * only float is ONE divide of exact integers, so the gate hash pins the
  * distributed algebra itself, not a rounded summary.
  */
object TensorGates {

  /** Deterministic md5-seeded factor entry in [−9, 9] for (mode, idx, p) —
    * the same dialect-common md5 derivation as the MinHash permutations
    * (`NearDup.hexValueExpr`), so BOTH engines evaluate the identical
    * integer. `cast` is STRING for Spark, VARCHAR for DuckDB.
    */
  private def signExpr(mode: String, idx: String, p: Int, cast: String): String = {
    // Spark side (STRING cast) takes the codegen'd fast twin; the oracle
    // (VARCHAR) keeps the portable chain — identical values (Hex32Spec).
    val hv =
      if (cast == "STRING")
        NearDup.hexValueFastExpr(s"md5('als:$mode:' || CAST($idx AS $cast) || ':$p')")
      else
        NearDup.hexValueExpr(s"md5('als:$mode:' || CAST($idx AS $cast) || ':$p')")
    "((" + hv + ") % 19 - 9)"
  }

  /** Q335 — one deterministic rank-2 relational CP-ALS mode-A update on
    * the Q43 events tensor (Kolda & Bader, SIAM Review 51(3) 2009, eq. 3.5:
    * A ← X₍₁₎(C⊙B)(CᵀC ∗ BᵀB)⁺). The declared cross-engine gate for the
    * engine's core decomposition capability:
    *  - tensor cells carry EXACT integer cents (per-event ROUND to cents
    *    BEFORE the sum — never a float corpus sum);
    *  - factors B (event-type mode) and C (day mode) are md5-seeded
    *    integers in [−9, 9], identical in both engines by construction;
    *  - MTTKRP rows m_p(i) = Σ v·b_p(j)·c_p(k), the Gramians BᵀB, CᵀC,
    *    their Hadamard product H and det(H) are ALL exact int64 sums;
    *  - the rank-2 normal-equation solve uses the exact adjugate:
    *    a₀ = (m₀·H₁₁ − m₁·H₀₁)/det with the numerators carried in
    *    DECIMAL(38,0)/HUGEINT (they pass int64 at ~7·10¹⁹), then ONE
    *    divide of exact quantities per output — identical doubles both
    *    engines, rounded 6. det = 0 degrades to NULL factors (loud, the
    *    Q252 discipline).
    *
    * Determinism: everything before the final divide is exact integer
    * arithmetic; the divide's operands convert to double correctly
    * rounded in both engines. det stays inside 2⁵³-exact doubles to a
    * ~10⁴-day spine (H ≤ 405·81·days).
    *
    * Scale notes: ONE corpus scan builds the cell relation (map-side
    * combined); the factor "joins" are row-local expressions of (j, p) /
    * (k, p) — no factor relation is ever materialized or shuffled; the
    * Gramians aggregate the DISTINCT mode indices (5 types, spine days);
    * the solve matrix is a broadcast single row. Per-user output, user
    * dimension shuffles once (the groupBy) — the topology of a
    * relational ALS half-step, with the driver-side pinv replaced by the
    * rank-2 closed-form adjugate.
    */
  def q335(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val e = c.events.select(
      col("user_id").as("i"),
      when(col("event_type") === "click", 0L)
        .when(col("event_type") === "error", 1L)
        .when(col("event_type") === "purchase", 2L)
        .when(col("event_type") === "signup", 3L)
        .when(col("event_type") === "view", 4L).as("j"),
      expr("(ts DIV 1000) DIV 86400000000").as("day"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
    val cells = e.crossJoin(broadcast(e.agg(min(col("day")).as("min_day"))))
      .select(col("i"), col("j"), (col("day") - col("min_day")).as("k"),
        col("cents"))
      .groupBy(col("i"), col("j"), col("k"))
      .agg(sum(col("cents")).cast("long").as("v4"))
      .localCheckpoint()
    def b(p: Int) = expr(signExpr("b", "j", p, "STRING"))
    def cf(p: Int) = expr(signExpr("c", "k", p, "STRING"))
    val m = cells
      .groupBy(col("i"))
      .agg(count(lit(1)).cast("long").as("n_cells"),
        sum(col("v4") * b(0) * cf(0)).cast("long").as("m0"),
        sum(col("v4") * b(1) * cf(1)).cast("long").as("m1"))
    val gb = cells.select(col("j")).distinct()
      .agg(sum(b(0) * b(0)).cast("long").as("gb00"),
        sum(b(0) * b(1)).cast("long").as("gb01"),
        sum(b(1) * b(1)).cast("long").as("gb11"))
    val gc = cells.select(col("k")).distinct()
      .agg(sum(cf(0) * cf(0)).cast("long").as("gc00"),
        sum(cf(0) * cf(1)).cast("long").as("gc01"),
        sum(cf(1) * cf(1)).cast("long").as("gc11"))
    val h = gb.crossJoin(gc)
      .select((col("gb00") * col("gc00")).as("h00"),
        (col("gb01") * col("gc01")).as("h01"),
        (col("gb11") * col("gc11")).as("h11"))
      .withColumn("det",
        col("h00") * col("h11") - col("h01") * col("h01"))
    m.crossJoin(broadcast(h))
      .select(col("i"), col("n_cells"), col("m0"), col("m1"),
        expr("CASE WHEN det <> 0 THEN ROUND(CAST(" +
          "CAST(m0 AS DECIMAL(38,0)) * h11 - CAST(m1 AS DECIMAL(38,0)) * h01" +
          " AS DOUBLE) / CAST(det AS DOUBLE), 6) END").as("a0"),
        expr("CASE WHEN det <> 0 THEN ROUND(CAST(" +
          "CAST(m1 AS DECIMAL(38,0)) * h00 - CAST(m0 AS DECIMAL(38,0)) * h01" +
          " AS DOUBLE) / CAST(det AS DOUBLE), 6) END").as("a1"))
      .orderBy(asc_nulls_first("i"))
  }

  val q335Oracle: String = {
    def b(p: Int) = signExpr("b", "j", p, "VARCHAR")
    def cf(p: Int) = signExpr("c", "k", p, "VARCHAR")
    s"""WITH e AS (
       |  SELECT user_id AS i,
       |    CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
       |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 WHEN 'view' THEN 4
       |    END AS j,
       |    epoch_us(ts) // 86400000000 AS day,
       |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
       |  FROM events),
       |cells AS (
       |  SELECT i, j, day - (SELECT MIN(day) FROM e) AS k,
       |    CAST(SUM(cents) AS BIGINT) AS v4
       |  FROM e GROUP BY i, j, day),
       |m AS (
       |  SELECT i, CAST(COUNT(*) AS BIGINT) AS n_cells,
       |    CAST(SUM(v4 * ${b(0)} * ${cf(0)}) AS BIGINT) AS m0,
       |    CAST(SUM(v4 * ${b(1)} * ${cf(1)}) AS BIGINT) AS m1
       |  FROM cells GROUP BY 1),
       |gb AS (
       |  SELECT CAST(SUM(${b(0)} * ${b(0)}) AS BIGINT) AS gb00,
       |    CAST(SUM(${b(0)} * ${b(1)}) AS BIGINT) AS gb01,
       |    CAST(SUM(${b(1)} * ${b(1)}) AS BIGINT) AS gb11
       |  FROM (SELECT DISTINCT j FROM cells)),
       |gc AS (
       |  SELECT CAST(SUM(${cf(0)} * ${cf(0)}) AS BIGINT) AS gc00,
       |    CAST(SUM(${cf(0)} * ${cf(1)}) AS BIGINT) AS gc01,
       |    CAST(SUM(${cf(1)} * ${cf(1)}) AS BIGINT) AS gc11
       |  FROM (SELECT DISTINCT k FROM cells)),
       |hm AS (
       |  SELECT gb.gb00 * gc.gc00 AS h00, gb.gb01 * gc.gc01 AS h01,
       |    gb.gb11 * gc.gc11 AS h11
       |  FROM gb, gc),
       |dt AS (
       |  SELECT h00, h01, h11, h00 * h11 - h01 * h01 AS det FROM hm)
       |SELECT m.i, m.n_cells, m.m0, m.m1,
       |  CASE WHEN d.det <> 0 THEN ROUND(CAST(
       |    CAST(m.m0 AS HUGEINT) * d.h11 - CAST(m.m1 AS HUGEINT) * d.h01
       |    AS DOUBLE) / CAST(d.det AS DOUBLE), 6) END AS a0,
       |  CASE WHEN d.det <> 0 THEN ROUND(CAST(
       |    CAST(m.m1 AS HUGEINT) * d.h00 - CAST(m.m0 AS HUGEINT) * d.h01
       |    AS DOUBLE) / CAST(d.det AS DOUBLE), 6) END AS a1
       |FROM m, dt d
       |ORDER BY m.i NULLS FIRST""".stripMargin
  }

  /** Quantization grid for the cycle gate's λ-normalized factors: after
    * each mode's closed-form solve, entries are max-normalized to [−1, 1]
    * and snapped to the 2¹⁰ integer grid (the Q322 exact-grid rule), so
    * the NEXT mode's MTTKRP and Gramians are again EXACT integer sums —
    * order-independent, hence bit-equal across engines. 2¹⁰ keeps every
    * downstream product inside DECIMAL(38,0)/HUGEINT with an order of
    * magnitude to spare one decade above the bench tier (fences in the
    * Q345 scaladoc).
    */
  private val Grid = 1024

  /** Q345 — one COMPLETE deterministic rank-2 CP-ALS cycle (A → B → C,
    * max-norm λ-normalization after each mode) on the Q43 events tensor
    * (Kolda & Bader 2009 eq. 3.5 applied mode-by-mode) — the full-loop
    * extension of Q335's mode-A half-step (r11 verdict item 6): the
    * engine's core decomposition algorithm now has a cross-engine hash
    * gate over an entire iteration, not one update.
    *
    * The float wall between chained modes — a distributed float MTTKRP
    * sum is accumulation-order-dependent — is removed by quantization,
    * not by parenthesization (a shuffle has no fixed fold order, so the
    * Q336 textual-replay rule cannot apply): each solved mode is
    * max-normalized and snapped to the exact 2¹⁰ integer grid before
    * the next mode consumes it, so every cross-engine-compared SUM in
    * all three modes is exact integer/decimal arithmetic. Per mode p:
    *   num_p(x) = m_p(x)·H_qq − m_q(x)·H_pq   (exact DECIMAL(38,0))
    *   λnum_p  = MAX_x |num_p(x)|             (exact; order-free)
    *   x̃_p     = ⌊ sd·num_p / λnum_p · 2¹⁰ + ½ ⌋  (sd = sign(det) — the
    *             adjugate divides by det, so its SIGN must ride along;
    *             the one divide is of exact quantities → identical
    *             doubles, then exact ×2¹⁰ and FLOOR)
    *   λ_p     = λnum_p / |det|               (one divide, ROUND 6)
    * det = 0 or λnum = 0 degrades to NULL/zero factors (Q252 loudness).
    *
    * Output: one row per day index k with the cycle's final quantized
    * day factors (exact int64) + that day's cell count, and the six λs
    * as constant columns — every mode's scale and every intermediate
    * factor is transitively pinned (ã feeds m_B and the Gramians, b̃
    * feeds m_C).
    *
    * Declared overflow fences (all DECIMAL(38,0)-checked one decade
    * above the bench tier): with |seeds| ≤ 9, grid 2¹⁰, Σ|cents| ≤ 10¹²
    * and ≤ 10⁶ users, the largest product is cnum ≤ m_C·H_C ≈ 10³⁴ and
    * det_C ≤ 7·10³⁵ — inside 10³⁸ with margin; past those corpus bounds
    * both engines NULL out loudly rather than wrap.
    *
    * Scale notes: same topology as Q335 run three times — ONE corpus
    * scan builds cells; mode updates are groupBys on the tensor's own
    * modes; the factor relations that join back are ≤ |users| rows
    * (AQE-broadcastable) and ≤ 5 rows (broadcast); Gramians aggregate
    * distinct mode indices; every solve matrix is one broadcast row.
    */
  def q345(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val e = c.events.select(
      col("user_id").as("i"),
      when(col("event_type") === "click", 0L)
        .when(col("event_type") === "error", 1L)
        .when(col("event_type") === "purchase", 2L)
        .when(col("event_type") === "signup", 3L)
        .when(col("event_type") === "view", 4L).as("j"),
      expr("(ts DIV 1000) DIV 86400000000").as("day"),
      expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
    val cells = e.crossJoin(broadcast(e.agg(min(col("day")).as("min_day"))))
      .select(col("i"), col("j"), (col("day") - col("min_day")).as("k"),
        col("cents"))
      .groupBy(col("i"), col("j"), col("k"))
      .agg(sum(col("cents")).cast("long").as("v4"))
      .localCheckpoint()
    def b(p: Int) = expr(signExpr("b", "j", p, "STRING"))
    def cf(p: Int) = expr(signExpr("c", "k", p, "STRING"))

    // ---- mode A: Q335's exact algebra, then normalize + quantize ----
    val mA = cells.groupBy(col("i"))
      .agg(sum(col("v4") * b(0) * cf(0)).cast("long").as("m0"),
        sum(col("v4") * b(1) * cf(1)).cast("long").as("m1"))
    val gb = cells.select(col("j")).distinct()
      .agg(sum(b(0) * b(0)).cast("long").as("g00"),
        sum(b(0) * b(1)).cast("long").as("g01"),
        sum(b(1) * b(1)).cast("long").as("g11"))
    val gc = cells.select(col("k")).distinct()
      .agg(sum(cf(0) * cf(0)).cast("long").as("gc00"),
        sum(cf(0) * cf(1)).cast("long").as("gc01"),
        sum(cf(1) * cf(1)).cast("long").as("gc11"))
      .localCheckpoint() // reused by mode B's Hadamard
    // Every 1-row solve/λ relation below is localCheckpoint'd at its
    // REUSE point (r13): each is consumed 2-3 times (the next mode's
    // numerators AND the final λ spine), and un-materialized Spark
    // re-executed the whole upstream subtree per consumer — measured as
    // 48 jobs for this gate, most of them re-runs of the cells joins
    // behind a 1-row broadcast. Materialization boundaries only; every
    // expression and type is byte-identical, so the exact integer /
    // decimal algebra (and its overflow loudness) is unchanged.
    val hA = gb.crossJoin(gc)
      .select((col("g00") * col("gc00")).cast("decimal(38,0)").as("h00"),
        (col("g01") * col("gc01")).cast("decimal(38,0)").as("h01"),
        (col("g11") * col("gc11")).cast("decimal(38,0)").as("h11"))
      .withColumn("det", col("h00") * col("h11") - col("h01") * col("h01"))
      .withColumn("sd", expr("CASE WHEN det < 0 THEN -1 ELSE 1 END"))
      .localCheckpoint() // reused by aNum and the final λ spine
    val aNum = mA.crossJoin(broadcast(hA))
      .select(col("i"),
        (col("sd") * (col("m0").cast("decimal(38,0)") * col("h11") -
          col("m1").cast("decimal(38,0)") * col("h01"))).as("n0"),
        (col("sd") * (col("m1").cast("decimal(38,0)") * col("h00") -
          col("m0").cast("decimal(38,0)") * col("h01"))).as("n1"))
      .localCheckpoint() // reused by lamA and aQ
    val lamA = aNum.agg(max(abs(col("n0"))).as("l0"), max(abs(col("n1"))).as("l1"))
      .localCheckpoint() // reused by aQ and the final λ spine
    def quant(numCol: String, lamCol: String): org.apache.spark.sql.Column =
      expr(s"""CASE WHEN $lamCol = 0 THEN 0L ELSE
              |CAST(FLOOR(CAST($numCol AS DOUBLE) / CAST($lamCol AS DOUBLE)
              |  * CAST($Grid AS DOUBLE) + 0.5D) AS BIGINT) END""".stripMargin)
    val aQ = aNum.crossJoin(broadcast(lamA))
      .select(col("i"), quant("n0", "l0").as("a0"), quant("n1", "l1").as("a1"))
      .localCheckpoint() // consumed by m_B, gramA, and m_C

    // ---- mode B: MTTKRP over (ã, seeded C), Gramians ÃᵀÃ ∗ CᵀC ----
    // Every product below casts ONE operand to decimal BEFORE multiplying
    // (mirroring the oracle's HUGEINT-first casts) so no intermediate ever
    // transits int64 — the engines must overflow (to NULL) together or
    // not at all, never wrap apart.
    val gA = aQ.agg(
      sum(col("a0").cast("decimal(38,0)") * col("a0")).cast("decimal(38,0)").as("ga00"),
      sum(col("a0").cast("decimal(38,0)") * col("a1")).cast("decimal(38,0)").as("ga01"),
      sum(col("a1").cast("decimal(38,0)") * col("a1")).cast("decimal(38,0)").as("ga11"))
      .localCheckpoint() // reused by mode C's Hadamard
    val mB = cells.join(aQ, Seq("i"))
      .groupBy(col("j"))
      .agg(sum(col("v4").cast("decimal(38,0)") * col("a0") * cf(0)).as("m0"),
        sum(col("v4").cast("decimal(38,0)") * col("a1") * cf(1)).as("m1"))
    val hB = gA.crossJoin(gc)
      .select((col("ga00") * col("gc00")).as("h00"),
        (col("ga01") * col("gc01")).as("h01"),
        (col("ga11") * col("gc11")).as("h11"))
      .withColumn("det", col("h00") * col("h11") - col("h01") * col("h01"))
      .withColumn("sd", expr("CASE WHEN det < 0 THEN -1 ELSE 1 END"))
      .localCheckpoint() // reused by bNum and the final λ spine
    val bNum = mB.crossJoin(broadcast(hB))
      .select(col("j"),
        (col("sd") * (col("m0") * col("h11") - col("m1") * col("h01"))).as("n0"),
        (col("sd") * (col("m1") * col("h00") - col("m0") * col("h01"))).as("n1"))
      .localCheckpoint() // reused by lamB and bQ
    val lamB = bNum.agg(max(abs(col("n0"))).as("l0"), max(abs(col("n1"))).as("l1"))
      .localCheckpoint() // reused by bQ and the final λ spine
    val bQ = bNum.crossJoin(broadcast(lamB))
      .select(col("j"), quant("n0", "l0").as("b0"), quant("n1", "l1").as("b1"))
      .localCheckpoint() // reused by gB and mC

    // ---- mode C: MTTKRP over (ã, b̃), Gramians ÃᵀÃ ∗ B̃ᵀB̃ ----
    val gB = bQ.agg(
      sum(col("b0").cast("decimal(38,0)") * col("b0")).cast("decimal(38,0)").as("gb00"),
      sum(col("b0").cast("decimal(38,0)") * col("b1")).cast("decimal(38,0)").as("gb01"),
      sum(col("b1").cast("decimal(38,0)") * col("b1")).cast("decimal(38,0)").as("gb11"))
    val mC = cells.join(aQ, Seq("i")).join(broadcast(bQ), Seq("j"))
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("n_cells"),
        sum(col("v4").cast("decimal(38,0)") * col("a0") * col("b0")).as("m0"),
        sum(col("v4").cast("decimal(38,0)") * col("a1") * col("b1")).as("m1"))
    val hC = gA.crossJoin(gB)
      .select((col("ga00") * col("gb00")).as("h00"),
        (col("ga01") * col("gb01")).as("h01"),
        (col("ga11") * col("gb11")).as("h11"))
      .withColumn("det", col("h00") * col("h11") - col("h01") * col("h01"))
      .withColumn("sd", expr("CASE WHEN det < 0 THEN -1 ELSE 1 END"))
      .localCheckpoint() // reused by cNum and the final λ spine
    val cNum = mC.crossJoin(broadcast(hC))
      .select(col("k"), col("n_cells"),
        (col("sd") * (col("m0") * col("h11") - col("m1") * col("h01"))).as("n0"),
        (col("sd") * (col("m1") * col("h00") - col("m0") * col("h01"))).as("n1"))
      .localCheckpoint() // reused by lamC and the final assembly
    val lamC = cNum.agg(max(abs(col("n0"))).as("lc0"), max(abs(col("n1"))).as("lc1"))

    // ---- assemble: quantized day factors + the six λs (ROUND 6) ----
    val lams = lamA.select(col("l0").as("la0"), col("l1").as("la1"))
      .crossJoin(lamB.select(col("l0").as("lb0"), col("l1").as("lb1")))
      .crossJoin(lamC)
      .crossJoin(hA.select(col("det").as("detA")))
      .crossJoin(hB.select(col("det").as("detB")))
      .crossJoin(hC.select(col("det").as("detC")))
    def lam(numCol: String, detCol: String): org.apache.spark.sql.Column =
      expr(s"""CASE WHEN $detCol <> 0 THEN
              |ROUND(CAST($numCol AS DOUBLE) / CAST(ABS($detCol) AS DOUBLE), 6)
              |END""".stripMargin)
    cNum.crossJoin(broadcast(lams))
      .select(col("k"), col("n_cells"),
        quant("n0", "lc0").as("c0q"), quant("n1", "lc1").as("c1q"),
        lam("la0", "detA").as("lam_a0"), lam("la1", "detA").as("lam_a1"),
        lam("lb0", "detB").as("lam_b0"), lam("lb1", "detB").as("lam_b1"),
        lam("lc0", "detC").as("lam_c0"), lam("lc1", "detC").as("lam_c1"))
      .orderBy(asc_nulls_first("k"))
  }

  val q345Oracle: String = {
    def b(p: Int) = signExpr("b", "j", p, "VARCHAR")
    def cf(p: Int) = signExpr("c", "k", p, "VARCHAR")
    val grid = s"CAST($Grid AS DOUBLE)"
    s"""WITH e AS (
       |  SELECT user_id AS i,
       |    CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
       |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 WHEN 'view' THEN 4
       |    END AS j,
       |    epoch_us(ts) // 86400000000 AS day,
       |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
       |  FROM events),
       |cells AS MATERIALIZED (
       |  SELECT i, j, day - (SELECT MIN(day) FROM e) AS k,
       |    CAST(SUM(cents) AS BIGINT) AS v4
       |  FROM e GROUP BY i, j, day),
       |ma AS (
       |  SELECT i, CAST(SUM(v4 * ${b(0)} * ${cf(0)}) AS BIGINT) AS m0,
       |    CAST(SUM(v4 * ${b(1)} * ${cf(1)}) AS BIGINT) AS m1
       |  FROM cells GROUP BY 1),
       |gb AS (
       |  SELECT CAST(SUM(${b(0)} * ${b(0)}) AS BIGINT) AS g00,
       |    CAST(SUM(${b(0)} * ${b(1)}) AS BIGINT) AS g01,
       |    CAST(SUM(${b(1)} * ${b(1)}) AS BIGINT) AS g11
       |  FROM (SELECT DISTINCT j FROM cells)),
       |gc AS (
       |  SELECT CAST(SUM(${cf(0)} * ${cf(0)}) AS BIGINT) AS gc00,
       |    CAST(SUM(${cf(0)} * ${cf(1)}) AS BIGINT) AS gc01,
       |    CAST(SUM(${cf(1)} * ${cf(1)}) AS BIGINT) AS gc11
       |  FROM (SELECT DISTINCT k FROM cells)),
       |ha AS (
       |  SELECT CAST(g00 * gc00 AS HUGEINT) AS h00,
       |    CAST(g01 * gc01 AS HUGEINT) AS h01,
       |    CAST(g11 * gc11 AS HUGEINT) AS h11,
       |    CAST(g00 * gc00 AS HUGEINT) * CAST(g11 * gc11 AS HUGEINT)
       |      - CAST(g01 * gc01 AS HUGEINT) * CAST(g01 * gc01 AS HUGEINT)
       |      AS det,
       |    CASE WHEN CAST(g00 * gc00 AS HUGEINT) * CAST(g11 * gc11 AS HUGEINT)
       |      - CAST(g01 * gc01 AS HUGEINT) * CAST(g01 * gc01 AS HUGEINT) < 0
       |      THEN -1 ELSE 1 END AS sd
       |  FROM gb, gc),
       |anum AS (
       |  SELECT i,
       |    h.sd * (CAST(m.m0 AS HUGEINT) * h.h11 - CAST(m.m1 AS HUGEINT) * h.h01) AS n0,
       |    h.sd * (CAST(m.m1 AS HUGEINT) * h.h00 - CAST(m.m0 AS HUGEINT) * h.h01) AS n1
       |  FROM ma m, ha h),
       |lama AS (SELECT MAX(ABS(n0)) AS l0, MAX(ABS(n1)) AS l1 FROM anum),
       |aq AS MATERIALIZED (
       |  SELECT i,
       |    CASE WHEN l.l0 = 0 THEN 0 ELSE CAST(FLOOR(CAST(n0 AS DOUBLE)
       |      / CAST(l.l0 AS DOUBLE) * $grid + 0.5) AS BIGINT) END AS a0,
       |    CASE WHEN l.l1 = 0 THEN 0 ELSE CAST(FLOOR(CAST(n1 AS DOUBLE)
       |      / CAST(l.l1 AS DOUBLE) * $grid + 0.5) AS BIGINT) END AS a1
       |  FROM anum, lama l),
       |ga AS (
       |  SELECT CAST(SUM(CAST(a0 AS HUGEINT) * a0) AS HUGEINT) AS ga00,
       |    CAST(SUM(CAST(a0 AS HUGEINT) * a1) AS HUGEINT) AS ga01,
       |    CAST(SUM(CAST(a1 AS HUGEINT) * a1) AS HUGEINT) AS ga11
       |  FROM aq),
       |mb AS (
       |  SELECT c.j,
       |    CAST(SUM(CAST(c.v4 AS HUGEINT) * a.a0 * (${cf(0)})) AS HUGEINT) AS m0,
       |    CAST(SUM(CAST(c.v4 AS HUGEINT) * a.a1 * (${cf(1)})) AS HUGEINT) AS m1
       |  FROM (SELECT i, j, k, v4 FROM cells) c JOIN aq a ON a.i = c.i
       |  GROUP BY 1),
       |hb AS (
       |  SELECT ga00 * gc00 AS h00, ga01 * gc01 AS h01, ga11 * gc11 AS h11,
       |    ga00 * gc00 * (ga11 * gc11) - ga01 * gc01 * (ga01 * gc01) AS det,
       |    CASE WHEN ga00 * gc00 * (ga11 * gc11)
       |      - ga01 * gc01 * (ga01 * gc01) < 0 THEN -1 ELSE 1 END AS sd
       |  FROM ga, gc),
       |bnum AS (
       |  SELECT j, h.sd * (m.m0 * h.h11 - m.m1 * h.h01) AS n0,
       |    h.sd * (m.m1 * h.h00 - m.m0 * h.h01) AS n1
       |  FROM mb m, hb h),
       |lamb AS (SELECT MAX(ABS(n0)) AS l0, MAX(ABS(n1)) AS l1 FROM bnum),
       |bq AS (
       |  SELECT j,
       |    CASE WHEN l.l0 = 0 THEN 0 ELSE CAST(FLOOR(CAST(n0 AS DOUBLE)
       |      / CAST(l.l0 AS DOUBLE) * $grid + 0.5) AS BIGINT) END AS b0,
       |    CASE WHEN l.l1 = 0 THEN 0 ELSE CAST(FLOOR(CAST(n1 AS DOUBLE)
       |      / CAST(l.l1 AS DOUBLE) * $grid + 0.5) AS BIGINT) END AS b1
       |  FROM bnum, lamb l),
       |gbq AS (
       |  SELECT CAST(SUM(CAST(b0 AS HUGEINT) * b0) AS HUGEINT) AS gb00,
       |    CAST(SUM(CAST(b0 AS HUGEINT) * b1) AS HUGEINT) AS gb01,
       |    CAST(SUM(CAST(b1 AS HUGEINT) * b1) AS HUGEINT) AS gb11
       |  FROM bq),
       |mc AS (
       |  SELECT c.k, CAST(COUNT(*) AS BIGINT) AS n_cells,
       |    CAST(SUM(CAST(c.v4 AS HUGEINT) * a.a0 * b.b0) AS HUGEINT) AS m0,
       |    CAST(SUM(CAST(c.v4 AS HUGEINT) * a.a1 * b.b1) AS HUGEINT) AS m1
       |  FROM (SELECT i, j, k, v4 FROM cells) c
       |  JOIN aq a ON a.i = c.i JOIN bq b ON b.j = c.j
       |  GROUP BY 1),
       |hc AS (
       |  SELECT ga00 * gb00 AS h00, ga01 * gb01 AS h01, ga11 * gb11 AS h11,
       |    ga00 * gb00 * (ga11 * gb11) - ga01 * gb01 * (ga01 * gb01) AS det,
       |    CASE WHEN ga00 * gb00 * (ga11 * gb11)
       |      - ga01 * gb01 * (ga01 * gb01) < 0 THEN -1 ELSE 1 END AS sd
       |  FROM ga, gbq),
       |cnum AS (
       |  SELECT k, n_cells,
       |    h.sd * (m.m0 * h.h11 - m.m1 * h.h01) AS n0,
       |    h.sd * (m.m1 * h.h00 - m.m0 * h.h01) AS n1
       |  FROM mc m, hc h),
       |lamc AS (SELECT MAX(ABS(n0)) AS lc0, MAX(ABS(n1)) AS lc1 FROM cnum)
       |SELECT c.k, c.n_cells,
       |  CASE WHEN l.lc0 = 0 THEN 0 ELSE CAST(FLOOR(CAST(c.n0 AS DOUBLE)
       |    / CAST(l.lc0 AS DOUBLE) * $grid + 0.5) AS BIGINT) END AS c0q,
       |  CASE WHEN l.lc1 = 0 THEN 0 ELSE CAST(FLOOR(CAST(c.n1 AS DOUBLE)
       |    / CAST(l.lc1 AS DOUBLE) * $grid + 0.5) AS BIGINT) END AS c1q,
       |  CASE WHEN ha.det <> 0 THEN ROUND(CAST(la.l0 AS DOUBLE)
       |    / CAST(ABS(ha.det) AS DOUBLE), 6) END AS lam_a0,
       |  CASE WHEN ha.det <> 0 THEN ROUND(CAST(la.l1 AS DOUBLE)
       |    / CAST(ABS(ha.det) AS DOUBLE), 6) END AS lam_a1,
       |  CASE WHEN hb.det <> 0 THEN ROUND(CAST(lb.l0 AS DOUBLE)
       |    / CAST(ABS(hb.det) AS DOUBLE), 6) END AS lam_b0,
       |  CASE WHEN hb.det <> 0 THEN ROUND(CAST(lb.l1 AS DOUBLE)
       |    / CAST(ABS(hb.det) AS DOUBLE), 6) END AS lam_b1,
       |  CASE WHEN hc.det <> 0 THEN ROUND(CAST(l.lc0 AS DOUBLE)
       |    / CAST(ABS(hc.det) AS DOUBLE), 6) END AS lam_c0,
       |  CASE WHEN hc.det <> 0 THEN ROUND(CAST(l.lc1 AS DOUBLE)
       |    / CAST(ABS(hc.det) AS DOUBLE), 6) END AS lam_c1
       |FROM cnum c, lamc l, lama la, lamb lb, ha, hb, hc
       |ORDER BY c.k NULLS FIRST""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "Q335" -> (q335 _), "Q345" -> (q345 _))

  def oracles: Map[String, String] = Map(
    "Q335" -> q335Oracle, "Q345" -> q345Oracle)
}
